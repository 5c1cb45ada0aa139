package graft.crm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.sources.Parquet

/** Thread snapshot cache (S13): the Spark-native form of the reference's
  * `ThreadStorage` (`core/storage.py:14-67`) + the serve-or-refresh policy
  * of `clients/conversation_client.py:246-259`:
  *
  *  - a non-refreshing, non-paginating read is served from the snapshot if
  *    one exists (no recompute — the reference returns the pickled page);
  *  - `refresh = true` forces a recompute;
  *  - a FIRST page (not paginating) replaces the snapshot after recompute;
  *  - a PAGINATING read never serves from nor replaces the snapshot (the
  *    reference only caches page one).
  *
  * The snapshot itself is a parquet directory, so it works on any Hadoop
  * filesystem and is readable by every executor — unlike `df.cache()`,
  * which is per-session and evictable, this is the durable snapshot the
  * reference's pickle file models.
  */
class ThreadCache(spark: SparkSession, cachePath: String) {

  private def fs = {
    val p = new org.apache.hadoop.fs.Path(cachePath)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def snapshotExists: Boolean = { val (f, p) = fs; f.exists(p) }

  /** Serve-or-refresh. Returns (threads, servedFromCache). */
  def recentConversations(d: String, limit: Int = 10, refresh: Boolean = false,
      paginating: Boolean = false): (DataFrame, Boolean) = {
    if (!refresh && !paginating && snapshotExists)
      (Parquet.read(spark, cachePath), true)
    else {
      val fresh = CrmOps.recentConversations(spark, d, limit)
      if (paginating) (fresh, false)
      else {
        // First page replaces the snapshot (storage.py:22-34 save path).
        fresh.write.mode(SaveMode.Overwrite).parquet(cachePath)
        (Parquet.read(spark, cachePath), false)
      }
    }
  }

  def invalidate(): Unit = { val (f, p) = fs; if (f.exists(p)) f.delete(p, true); () }
}
