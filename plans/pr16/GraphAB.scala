package org.apache.spark.graftab

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Times gates min-of-`reps` in one JVM and counts the Spark jobs and the
  * host CPU steal of each repetition, one JSON line per gate.
  *
  * Build against a checkout's perfbench classes (`python3 perfbench/build.py`
  * prints the directory) with scalac and the Spark jars on the class path;
  * run with the JVM options of `perfbench/run.py`:
  * `GraphAB <sfDir> <reps> <gate> ...`. It lives in an `org.apache.spark`
  * package to drain the listener bus between repetitions.
  */
object GraphAB {
  private def steal(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toDouble / 100.0
    finally src.close()
  }
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val spark = graft.Sessions.tuned(4)
    val sc = spark.sparkContext
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").toDF().queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    val jobs = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    for (g <- args.drop(2)) {
      val fn = graft.SparkEntry.queries(g)
      val runs = (1 to reps).map { _ =>
        sc.listenerBus.waitUntilEmpty()
        jobs.set(0)
        val s0 = steal()
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val t = (System.nanoTime() - t0) / 1e9
        sc.listenerBus.waitUntilEmpty()
        (t, jobs.get, steal() - s0)
      }
      graft.Sessions.releaseGateState(spark)
      println(s"""GRAPHAB {"gate":"$g","times_s":[${runs.map(_._1).mkString(",")}],""" +
        s""""jobs":[${runs.map(_._2).mkString(",")}],"steal_s":[${runs.map(_._3).mkString(",")}],""" +
        s""""min_s":${runs.map(_._1).min},"heap_mb":${Runtime.getRuntime.maxMemory >> 20}}""")
    }
    spark.stop()
  }
}
