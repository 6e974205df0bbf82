package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

class ParSpec extends SparkSpec {
  test("inParallel returns results in input order") {
    val out = Par.inParallel(spark, "order", (0 until 5).map(i =>
      () => { Thread.sleep(50L * (5 - i)); spark.range(i * 10L).count() }))
    assert(out == Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("a failing thunk cancels the executor jobs of the surviving thunks") {
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    @volatile var survivorOk = true
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "cancel[0]")) {
          jobs.put(e.jobId, "cancel[0]")
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.containsKey(e.jobId)) {
          survivorOk = e.jobResult == JobSucceeded
          ended.countDown()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException] {
        Par.inParallel(spark, "cancel", Seq[() => Long](
          // the survivor: one task that would sleep for two minutes
          () => spark.range(1).repartition(1).mapPartitions { it =>
            Thread.sleep(120000L); it
          }(org.apache.spark.sql.Encoders.LONG).count(),
          () => {
            assert(started.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException("boom")
          }))
      }
      assert(err.getMessage == "boom")
      assert(ended.await(60, TimeUnit.SECONDS), "the survivor's job never ended")
      assert(!survivorOk, "the survivor's job ran to completion")
      assert((System.nanoTime() - t0) / 1e9 < 60.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
