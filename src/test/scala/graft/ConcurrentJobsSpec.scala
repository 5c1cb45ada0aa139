package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.sources.ConcurrentJobs

class ConcurrentJobsSpec extends SparkSpec {

  test("results come back in task order, whatever order the tasks finish in") {
    // the later a task sits in the list, the sooner it finishes
    val tasks = (0 until 6).map(i => () => { Thread.sleep((6 - i) * 20L); i * 10 })
    assert(ConcurrentJobs.run(tasks, parallelism = 6) == (0 until 6).map(_ * 10))
    assert(ConcurrentJobs.run(tasks) == (0 until 6).map(_ * 10))
    assert(ConcurrentJobs.run(Seq(() => "one")) == Seq("one"))
    assert(ConcurrentJobs.run(Seq.empty[() => Int]).isEmpty)
  }

  test("a throwing task abandons no other: all finish, the first failure in task order rethrows") {
    val finished = new AtomicInteger()
    // task 3 fails first, task 1 fails later: task order decides, not time
    val gate = new CountDownLatch(1)
    val tasks = Seq[() => Int](
      () => { finished.incrementAndGet(); 0 },
      () => { gate.await(10, TimeUnit.SECONDS); throw new IllegalArgumentException("first") },
      () => { Thread.sleep(200); finished.incrementAndGet(); 2 },
      () => { try throw new IllegalStateException("second") finally gate.countDown() },
      () => { Thread.sleep(300); finished.incrementAndGet(); 4 })
    val e = intercept[IllegalArgumentException](ConcurrentJobs.run(tasks, parallelism = 5))
    assert(e.getMessage == "first")
    assert(finished.get == 3, "every non-throwing task must run to completion before the rethrow")
    // the same with fewer threads than tasks: queued tasks still run
    finished.set(0)
    val e2 = intercept[IllegalStateException](ConcurrentJobs.run(Seq[() => Int](
      () => { finished.incrementAndGet(); 0 },
      () => throw new IllegalStateException("only"),
      () => { finished.incrementAndGet(); 2 },
      () => { finished.incrementAndGet(); 3 }), parallelism = 2))
    assert(e2.getMessage == "only" && finished.get == 3)
  }

  test("pool threads see the caller's Spark local properties: job group and span property") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("graft.test.span") != null)
          seen.add((p.getProperty("spark.jobGroup.id"), p.getProperty("graft.test.span")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-cj-group", "concurrent jobs spec")
      sc.setLocalProperty("graft.test.span", "42")
      try {
        val counts = ConcurrentJobs.run((1 to 3).map(n => () => spark.range(n * 10L).count()))
        assert(counts == Seq(10L, 20L, 30L))
        val props = (1 to 3).map(_ => () => (sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("graft.test.span")))
        assert(ConcurrentJobs.run(props).forall(_ == (("graft-cj-group", "42"))))
      } finally {
        sc.setLocalProperty("graft.test.span", null)
        sc.clearJobGroup()
      }
      // a marker job after the group: listener events arrive in order
      val marker = new CountDownLatch(1)
      val markerListener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("graft.test.marker") == "cj"))
            marker.countDown()
      }
      sc.addSparkListener(markerListener)
      sc.setLocalProperty("graft.test.marker", "cj")
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS))
      sc.removeSparkListener(markerListener)
      val jobs = seen.asScala.toSeq
      assert(jobs.nonEmpty && jobs.forall(_ == (("graft-cj-group", "42"))),
        s"jobs started from pool threads lost the caller's properties: $jobs")
    } finally sc.removeSparkListener(listener)
  }
}
