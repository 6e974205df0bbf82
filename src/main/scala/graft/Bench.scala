package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CodegenCount
object Bench {
  type Gate = (SparkSession, String) => DataFrame

  /** Min-of-repeats seconds per gate that ran clean, and the gates that
    * threw, in name order. A failed gate is never a time. `compiles` is
    * each gate's codegen compiles over all its repeats, failed gates
    * included: the classes its plans generated that Spark's codegen cache
    * did not hold. `stealS` is the host CPU steal over each gate's
    * repeats and `load1` the 1-minute load average at its start, failed
    * gates included, so a reader can tell a disturbed run (NaN where
    * `/proc` cannot be read). */
  final case class Timings(seconds: Map[String, Double], failed: Seq[String],
                           compiles: Map[String, Long],
                           stealS: Map[String, Double],
                           load1: Map[String, Double]) {
    def total: Double = seconds.values.sum
  }

  /** Fixed run order (the gate map is unordered) and `repeats` runs per
    * gate keeping the MINIMUM: the first run pays any residual cold cost
    * (shuffle-file creation, codegen of this gate's plan), and min — not
    * "the second" — also survives a one-off GC/compilation spike landing
    * on a repeat (observed: 8.95s for a 0.65s query, once, mid-sweep).
    * The first run that throws marks the gate failed and ends its timing.
    * State a gate leaves behind is released after it, outside timing.
    */
  def timeGates(spark: SparkSession, sfDir: String, gates: Map[String, Gate],
                repeats: Int): Timings = {
    val outcomes = gates.toSeq.sortBy(_._1).map { case (name, fn) =>
      val load = procField("/proc/loadavg", "", 0)
      val steal0 = stealTicks()
      val compiles0 = CodegenCount.compiles
      val best =
        try Some((1 to math.max(1, repeats)).map { _ =>
          val t0 = System.nanoTime()
          // Execute the REAL plan: .count() lets Catalyst prune every
          // column (an empty aggregate), under-measuring projection-heavy
          // gates; toRdd.count() materializes the full output rows.
          fn(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min)
        catch { case _: Throwable => None }
      val compiled = CodegenCount.compiles - compiles0
      val steal = (stealTicks() - steal0) / 100.0
      Sessions.releaseGateState(spark)
      (name, best, compiled, steal, load)
    }
    Timings(outcomes.collect { case (n, Some(t), _, _, _) => n -> t }.toMap,
      outcomes.collect { case (n, None, _, _, _) => n },
      outcomes.map(o => o._1 -> o._3).toMap,
      outcomes.map(o => o._1 -> o._4).toMap,
      outcomes.map(o => o._1 -> o._5).toMap)
  }

  /** Field `i` of the first line of `path` that starts with `prefix`,
    * split on whitespace; NaN when it cannot be read. */
  private def procField(path: String, prefix: String, i: Int): Double =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(prefix)).get.trim.split("\\s+")(i).toDouble
      finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** The host's CPU steal so far: the `steal` column of /proc/stat's
    * aggregate `cpu` line, in USER_HZ (100 per second) ticks. */
  private def stealTicks(): Double = procField("/proc/stat", "cpu ", 8)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = Sessions.mainCores
    val spark = Sessions.tuned(cores)
    // JIT/codegen + page-cache warmup: touch every base table the headline
    // queries scan (not just lineitem) so no measured query absorbs the
    // first cold read of a table — BENCH_r05's q_nb_quality outlier (22.9s
    // vs 2.8s measured in isolation) was run-order interference, not plan
    // cost.
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").toDF().queryExecution
        .toRdd.count()
      catch { case _: Throwable => () }
    }
    // optional subset filter for local scale probes (absent → all queries)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // r12 (VERDICT ask 4): default raised 2 -> 3 and the protocol is
    // recorded IN the emitted JSON — r11's committed headline was a
    // post-reboot high-variance sample (identical code measured 212.8 vs
    // 253.9 s twenty minutes apart at repeats=2), which had degraded the
    // bench's resolution as a regression detector; min-of-3 keeps one
    // more chance to shed ambient wobble per gate and the protocol field
    // makes runs comparable across rounds.
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS").map(_.toInt).getOrElse(3)
    val protocol = s"min-of-$repeats"
    val timings = timeGates(spark, sfDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) },
      repeats)
    val results = timings.seconds
    val total = timings.total
    // run conditions ride in both records so runs compare across hosts
    val failed = timings.failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    def setting(key: String) = spark.conf.getOption(key).getOrElse("default")
    val conditions =
      s""""cores":$cores,"heap_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
        s""""codegen_cache_entries":"${setting(Sessions.CodegenCacheEntries)}",""" +
        s""""retained_executions":"${setting(Sessions.RetainedExecutions)}","failed":$failed"""
    // The two intentional evaluation harnesses (multi-method sweeps, each
    // the cost of ~15 ordinary gates BY DESIGN) report on their own line
    // so the per-operator trend stays legible when diffing rounds.
    val harnessNames = Set("q_ann_sweep", "q_dedup_sweep")
    val harness = results.view.filterKeys(harnessNames).values.sum
    val operators = total - harness
    // Costliest first: the driver's capture keeps only the LAST ~2000 bytes
    // of stdout (BENCH_r04 recorded a 2000-char tail that beheaded the old
    // ~4KB single line -> "parsed": null). The full-precision record goes to
    // a file; stdout gets ONE compact line sized to survive that window,
    // with the cheap tail rolled into an explicit "omitted" summary rather
    // than silently dropped.
    val sorted = results.toSeq.sortBy { case (k, v) => (-v, k) }
    val full = sorted.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val compiles = timings.compiles.toSeq.sorted.map { case (k, v) => s"\"$k\":$v" }
      .mkString("{", ",", "}")
    def perGate(m: Map[String, Double]): String = m.toSeq.sorted
      .map { case (k, v) => s"\"$k\":${if (v.isNaN) "null" else v.toString}" }
      .mkString("{", ",", "}")
    try
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_full_last.json"),
        s"""{"total_s":$total,"operators_s":$operators,"harness_s":$harness,"n":${sorted.size},"protocol":"$protocol",$conditions,"sf":"$sfDir","queries":$full,"codegen_compiles":$compiles,"steal_s":${perGate(timings.stealS)},"load1":${perGate(timings.load1)}}""")
    catch { case _: Throwable => () } // the stdout line must still go out
    def fmt(v: Double): String =
      if (v >= 100) f"$v%.0f" else if (v >= 10) f"$v%.1f" else f"$v%.2f"
    // bytes for the queries object; the envelope adds ~200 plus the
    // failed list
    val budget = 1600 - failed.length
    val sb = new StringBuilder
    var omittedN = 0
    var omittedS = 0.0
    sorted.foreach { case (k, v) =>
      val entry = s"\"$k\":${fmt(v)}"
      if (sb.length + entry.length + 1 <= budget) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(entry)
      } else { omittedN += 1; omittedS += v }
    }
    val omitted =
      if (omittedN == 0) ""
      else s""","omitted":{"n":$omittedN,"total_s":${fmt(omittedS)}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${sorted.size},"protocol":"$protocol",$conditions,"operators_s":${fmt(operators)},"harness_s":${fmt(harness)},"queries":{$sb}$omitted,"sf":"$sfDir"}""")
    spark.stop()
  }
}
