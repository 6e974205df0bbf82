package graft

import java.nio.file.{Files, Paths}

/** Plan-capture tool (r13 optimization round): dumps
  * `.explain("formatted")` for named declared queries to files, so plan
  * claims in OPTIMIZATION_r13.md are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <suffix> [qname ...]
  * Writes <outDir>/<qname>_<suffix>.txt per query, on the session Bench
  * times with (`SPARK_GRAFT_CPUS` cores, default 4). Plan construction
  * only — nothing is executed (actions a gate runs at build time, e.g.
  * count() or a pin, do run; the final frame is not).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = Sessions.tuned(Sessions.mainCores)
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    // r14 (ADVICE): a typo'd name or a failing plan used to leave a
    // stale/missing file while the run exited 0 — plan-diff evidence
    // could silently go stale. Track failures and exit non-zero.
    var failed = List.empty[String]
    names.foreach { name =>
      qs.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            System.err.println(s"[plans] $name -> ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            failed ::= name
            System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
        case None =>
          failed ::= name
          System.err.println(s"[plans] unknown query: $name")
      }
      Sessions.releaseGateState(spark)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
