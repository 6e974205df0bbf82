package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

object SpanStats {
  /** Counters of a span that did not run. */
  val zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Spark counters of one span. */
final case class SpanStats(wallS: Double, jobs: Long, tasks: Long,
                           taskS: Double, gcS: Double, shuffleWriteMb: Double,
                           spillMb: Double, resultMb: Double,
                           driverOnlyS: Double, persistedLeft: Long) {
  def metrics(span: String): Seq[(String, Double, String)] = Seq(
    (s"$span.s", wallS, "s"),
    (s"$span.jobs", jobs.toDouble, "count"),
    (s"$span.tasks", tasks.toDouble, "count"),
    (s"$span.task_s", taskS, "s"),
    (s"$span.gc_s", gcS, "s"),
    (s"$span.shuffle_write_mb", shuffleWriteMb, "MB"),
    (s"$span.spill_mb", spillMb, "MB"),
    (s"$span.result_mb", resultMb, "MB"),
    (s"$span.driver_only_s", driverOnlyS, "s"),
    (s"$span.persisted_left", persistedLeft.toDouble, "count"))
}

/** Totals Spark's job, task, GC, shuffle, spill and result counters per
  * job group. Jobs carry the group of the thread that submitted them,
  * and threads started inside a span inherit it, so pooled chains are
  * attributed to the span that started them.
  */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L
    var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var result = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      acc(g).jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.result += m.resultSize
    }
  }

  /** Removes and returns the totals of group `g`. */
  def take(g: String): Acc = synchronized { byGroup.remove(g).getOrElse(new Acc) }
}

/** Runs named spans. With tracing on, each span runs in its own Spark job
  * group and yields its [[SpanStats]]; with tracing off a span is only
  * timed, and no listener is registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = if (enabled) {
    val l = new GroupListener; sc.addSparkListener(l); l
  } else null
  private var seq = 0

  /** Stats of the spans run since the last [[reset]], by span name. */
  val stats = mutable.LinkedHashMap.empty[String, SpanStats]

  def reset(): Unit = stats.clear()

  /** Runs `body` as span `name`; returns its result and wall seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    seq += 1
    val group = s"$name#$seq"
    val persisted0 = sc.getPersistentRDDs.size
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      org.apache.spark.perfbench.Bus.drain(sc)
      val a = listener.take(group)
      stats(name) = SpanStats(wall, a.jobs, a.tasks, a.runMs / 1e3, a.gcMs / 1e3,
        a.shuffleWrite / 1e6, a.spill / 1e6, a.result / 1e6,
        math.max(0.0, (t1ms - t0ms - covered(a.jobIntervals.toSeq, t0ms, t1ms)) / 1e3),
        sc.getPersistentRDDs.size - persisted0)
      (r, wall)
    } finally sc.clearJobGroup()
  }

  /** Milliseconds of [t0, t1] covered by at least one job. */
  private def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var end = t0
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) { total += e - from; end = e }
    }
    total
  }
}
