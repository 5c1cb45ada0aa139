package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block starts. After the block, one marker job
  * runs; listener events arrive in order, so once the marker's start is
  * seen every job the block started has been counted.
  */
object JobCounter {
  private val MarkerKey = "graft.test.jobMarker"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs, _) = withSql(spark)(body)
    (out, jobs)
  }

  /** The block's result, its Spark jobs and its SQL executions (the marker
    * job is an RDD action, no SQL execution).
    */
  def withSql[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val sqls = new AtomicInteger()
    val marker = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) == marker)) seen.countDown()
        else { jobs.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet(); ()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      require(seen.await(60, TimeUnit.SECONDS), "marker job start never reached the listener")
      (out, jobs.get(), sqls.get())
    } finally sc.removeSparkListener(listener)
  }
}
