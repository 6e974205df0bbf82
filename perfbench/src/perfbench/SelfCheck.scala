package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark itself:
  *  - a throwing operation and one whose output check fails are reported
  *    failed and left out of the timings;
  *  - two generations with one seed hash equal, another seed differs;
  *  - the listener attributes a known job and task count to the span that
  *    ran them, including jobs submitted from a thread the span started;
  *  - every workload passes every output check on a held-out seed.
  * Exits non-zero on the first failure.
  */
object SelfCheck {
  val HeldOutSeed = 1000003L

  def run(spark: SparkSession, args: Main.Args): Unit = {
    def ok(cond: Boolean, what: String): Unit = {
      if (!cond) { System.err.println(s"SELFCHECK FAILED: $what"); sys.exit(1) }
      println(s"ok   $what")
    }
    val scratch = args.work.resolve("selfcheck")
    Gen.deleteTree(scratch)
    Files.createDirectories(scratch)

    // failed operations are counted and never timed
    val w = Workload.byName("plant_uq")
    val data = Gen.ensure(spark, w, HeldOutSeed, args.work.resolve("data"))
    val bench = new Bench(spark, w, data, HeldOutSeed, scratch, new Tracer(spark, false))
    val it = new Iteration
    bench.op(it, "throwing", "throwing_s")(sys.error("deliberate"))(_ => None)
    bench.op(it, "wrong", "wrong_s")(41)(v => if (v == 42) None else Some(s"got $v"))
    bench.op(it, "right", "right_s")(42)(v => if (v == 42) None else Some(s"got $v"))
    ok(it.attempted == 3 && it.failed == 2, s"failed ops counted (${it.failed} of ${it.attempted})")
    ok(it.times.keySet == Set("right_s"), s"failed ops untimed (timed: ${it.times.keySet})")

    // generation is a pure function of (spec, seed)
    val small = PlantSpec(turbines = 3, days = 2, reanalysisYears = 1, products = 2)
    val ann = AnnSpec(corpus = 100)
    def gen(seed: Long, name: String): String = {
      val dir = scratch.resolve(name)
      Gen.write(spark, Some(small), Some(ann), seed, dir)
      Gen.contentHash(spark, dir)
    }
    val (a, b, c) = (gen(7, "gen-a"), gen(7, "gen-b"), gen(8, "gen-c"))
    ok(a == b, "two generations with one seed hash equal")
    ok(a != c, "generations with different seeds differ")

    // span attribution
    val tracer = new Tracer(spark, true)
    val sc = spark.sparkContext
    sc.parallelize(1 to 10, 2).count() // outside any span
    tracer.span("three-jobs") { (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count()) }
    tracer.span("pooled") {
      val t = new Thread(() => { sc.parallelize(1 to 10, 3).count(); () })
      t.start(); t.join()
    }
    val s3 = tracer.stats("three-jobs")
    val sp = tracer.stats("pooled")
    ok(s3.jobs == 3 && s3.tasks == 6, s"listener attributes 3 jobs / 6 tasks to their span (${s3.jobs} / ${s3.tasks})")
    ok(sp.jobs == 1 && sp.tasks == 3, s"jobs from a thread the span started are attributed (${sp.jobs} / ${sp.tasks})")

    // every workload passes its output checks on a held-out seed
    for (wl <- Workload.all) {
      val d = Gen.ensure(spark, wl, HeldOutSeed, args.work.resolve("data"))
      val b = new Bench(spark, wl, d, HeldOutSeed, scratch, new Tracer(spark, false))
      b.prepare()
      val r = b.iterate(b.load()._1)
      r.failures.foreach(f => System.err.println(s"  $f"))
      ok(r.failed == 0 && r.attempted == wl.opsPerPass,
        s"${wl.name} passes every check at seed $HeldOutSeed (${r.failed} of ${r.attempted} failed)")
    }
    Gen.deleteTree(scratch)
    println("selfcheck passed")
  }
}
