package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Bridge into the driver's block-manager master, for the stored size of a
  * persisted RDD. The master answers synchronously: a block manager reports
  * each block it stores before the task that stored it ends, so once the
  * job that persisted an RDD returns, every block of it is counted.
  * `SparkContext.getRDDStorageInfo` answers from the app status store
  * instead, which the listener bus fills asynchronously, and may not know
  * the blocks yet.
  */
object GraftStorageBridge {

  /** Memory plus disk bytes of the stored blocks of RDD `rddId`, across
    * every block manager; None when no block of it is stored.
    */
  def rddBytes(sc: SparkContext, rddId: Int): Option[Long] = {
    val sizes = sc.env.blockManager.master.getStorageStatus.toSeq.flatMap(_.rddBlocks.collect {
      case (RDDBlockId(`rddId`, _), st) => st.memSize + st.diskSize
    })
    if (sizes.isEmpty) None else Some(sizes.sum)
  }
}
