package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Usage:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--commit <id>] [--source-sha <sha>]
  * perfbench.Main --selfcheck --work <dir>
  * }}}
  * Prints a conditions line and, last, one JSON result line.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, work: Path = Paths.get(".bench_build"),
                        commit: String = "unknown", sourceSha: String = "unknown",
                        selfcheck: Boolean = false)

  val Cores = 4

  /** Untraced end-to-end metrics, in order, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s", "retained_heap_mb" -> "MB")

  /** Spans whose Spark counters are per-layer metrics. */
  val Spans: Seq[String] = Seq("plant.load", "elec.run", "aep.run", "tie.run", "wake.run",
    "yaw.run", "ann.build", "ann.insert", "ann.delete", "ann.search")

  /** Per-layer probes with their units. */
  val Probes: Seq[(String, String)] = Seq(
    "warmup.s", "traced_wall_s", "plant.validate.s", "op.elec_daily.s", "op.tie_filter.s",
    "op.tie_daily.s", "op.tie_impute.s", "op.wake_derate.s", "op.wake_ts_agg.s",
    "op.yaw_vane_bins.s", "aep.aggregate.s", "aep.long_term_series.s", "aep.mc_loop_s"
  ).map(_ -> "s") ++
    Seq("ols", "gam", "tie_power_model", "tree").flatMap(f =>
      Seq(s"fit.$f.s" -> "s", s"fit.$f.count" -> "count")) :+
    ("ann.recall_at_5" -> "ratio")

  def parse(args: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--selfcheck" :: t => go(a.copy(selfcheck = true), t)
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(a.copy(work = Paths.get(v)), t)
      case "--commit" :: v :: t => go(a.copy(commit = v), t)
      case "--source-sha" :: v :: t => go(a.copy(sourceSha = v), t)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
    }
    go(Args(), args.toList)
  }

  def session(work: Path): SparkSession =
    SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toUri.toString)
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (args.selfcheck) SelfCheck.run(spark, args)
      else {
        val (conditions, result) = run(spark, args)
        println(conditions)
        println(result)
      }
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Set-up, then passes until `seconds` have passed. */
  def run(spark: SparkSession, args: Args): (String, String) = {
    val w = Workload.byName(args.workload)
    val data = Gen.ensure(spark, w, args.seed, args.work.resolve("data"))
    val tracer = new Tracer(spark, args.trace)
    val work = args.work.resolve(s"work-${w.name}")
    Files.createDirectories(work)
    val bench = new Bench(spark, w, data, args.seed, work, tracer)

    def mark(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    mark("inputs ready")
    bench.prepare()
    // set-up: a cold load and one warm-up pass over every operation, since
    // the first pass in a JVM runs 1.3-1.5x slower while the JIT compiles
    // Spark's planner and generated code; then five timed loads, whose
    // median is setup_s
    val warmup = bench.iterate(bench.load()._1)
    mark("warmed up")
    val loads = (1 to 5).map(_ => bench.load())
    val loadStats = tracer.stats.get("plant.load")
    val setupS = median(loads.map(_._2))
    mark("set up")

    // measured passes, each on inputs no earlier pass has touched
    val steal0 = hostStealS()
    val passes = mutable.ArrayBuffer.empty[Iteration]
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var inputs = loads.last._1
    do {
      if (passes.nonEmpty) inputs = bench.load()._1
      passes += bench.iterate(inputs)
    } while (System.nanoTime() < deadline)
    mark("measured")
    val stealS = hostStealS() - steal0

    val all = warmup +: passes
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val failures = all.flatMap(_.failures).distinct
    failures.foreach(f => System.err.println(s"FAILED $f"))

    def med(name: String): Double = median(passes.flatMap(_.times.get(name)).toSeq)
    // a span or probe the workload does not run reads 0
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val values = Map("setup_s" -> setupS, "wall_s" -> med("wall_s"),
          "cpu_s" -> med("cpu_s"), "retained_heap_mb" -> retainedHeapMb())
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val last = passes.last
        last.probes("warmup.s") = warmup.times("wall_s")
        last.probes("traced_wall_s") = med("wall_s")
        inputs.foreach(bench.probe(last, _))
        val unknown = passes.flatMap(_.probes.keys).toSet -- Probes.map(_._1)
        require(unknown.isEmpty, s"probes missing from Main.Probes: $unknown")
        val probeMetrics = Probes.map { case (n, u) =>
          val vs = passes.flatMap(_.probes.get(n)).toSeq
          (n, if (vs.isEmpty) 0.0 else median(vs), u)
        }
        val spanMetrics = Spans.flatMap { s =>
          val per = (if (s == "plant.load") loadStats.toSeq else passes.flatMap(_.spans.get(s)))
            .map(_.metrics(s))
          if (per.isEmpty) SpanStats.zero.metrics(s)
          else per.head.indices.map { i =>
            (per.head(i)._1, median(per.map(_(i)._2).toSeq), per.head(i)._3)
          }
        }
        probeMetrics ++ spanMetrics
      }
    val allFinite = metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val correct = failed == 0 && allFinite

    val conditions = Json.obj(Seq(
      "conditions" -> Json.obj(conditionsOf(spark, args, w) ++ Seq(
        "host_steal_s" -> Json.num(stealS),
        "warmup_s" -> Json.num(warmup.times("wall_s")),
        "setup_loads_s" -> Json.arr(loads.map(l => Json.num(l._2))),
        "passes" -> Json.arr(passes.map(i => Json.obj(i.times.toSeq.map {
          case (k, v) => k -> Json.num(v) })).toSeq),
        "failures" -> Json.arr(failures.map(Json.str).toSeq)))))
    Files.write(work.resolve(s"last-${if (args.trace) "traced" else "untraced"}.json"),
      conditions.getBytes("UTF-8"))
    val result = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(if (v.isNaN || v.isInfinite) 0.0 else v),
          "unit" -> Json.str(u)))
      })))
    (conditions, result)
  }

  /** CPU seconds the hypervisor took from this host's CPUs since boot
    * (steal column of /proc/stat), -1 where it is not available. Host
    * contention during the passes shows here.
    */
  def hostStealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().next().trim.split("\\s+") finally src.close()
      cpu(8).toDouble / 100.0
    } catch { case _: Exception => -1.0 }

  /** Live heap after full collections, MB: the least of several readings,
    * since objects awaiting Spark's cleaner can survive one collection.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  def conditionsOf(spark: SparkSession, args: Args, w: Workload): Seq[(String, String)] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.toArray.map(_.toString)
    def flag(p: String) = jvmArgs.find(_.startsWith(p)).map(_.drop(p.length)).getOrElse("default")
    val conf = spark.conf
    Seq(
      "workload" -> Json.str(w.name), "seed" -> Json.num(args.seed),
      "seconds" -> Json.num(args.seconds), "trace" -> Json.bool(args.trace),
      "plant" -> Json.str(w.plant.fold("none")(_.toString)),
      "ann" -> Json.str(w.ann.fold("none")(_.toString)),
      "uq" -> Json.bool(w.uq),
      "master" -> Json.str(spark.sparkContext.master),
      "cores" -> Json.num(Cores),
      "host_cpus" -> Json.num(Runtime.getRuntime.availableProcessors),
      "xmx" -> Json.str(flag("-Xmx")), "xms" -> Json.str(flag("-Xms")),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "aqe" -> Json.str(conf.get("spark.sql.adaptive.enabled")),
      "shuffle_partitions" -> Json.str(conf.get("spark.sql.shuffle.partitions")),
      "commit" -> Json.str(args.commit), "source_sha" -> Json.str(args.sourceSha))
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
