package graft

import org.apache.spark.sql.functions._

class BenchSpec extends SparkSpec {
  test("a throwing gate is reported failed, never timed, and left out of the total") {
    var okRuns = 0
    var planThrows = 0
    val gates: Map[String, Bench.Gate] = Map(
      "q_ok" -> ((s, _) => { okRuns += 1; s.range(10).toDF() }),
      // throws while the gate builds its plan
      "q_plan_throws" -> ((_, _) => {
        planThrows += 1
        throw new IllegalStateException("boom")
      }),
      // builds fine, throws only once its rows are computed
      "q_job_throws" -> ((s, _) => s.range(10).select(
        when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id")))))
    val t = Bench.timeGates(spark, "unused", gates, repeats = 3)
    assert(t.failed == Seq("q_job_throws", "q_plan_throws"))
    assert(t.seconds.keySet == Set("q_ok"))
    assert(t.total == t.seconds("q_ok"))
    assert(okRuns == 3)
    assert(planThrows == 1)
    // every gate, failed or not, reports the codegen compiles it paid
    assert(t.compiles.keySet == Set("q_ok", "q_job_throws", "q_plan_throws"))
    // and the host steal over its repeats and the load at its start
    assert(t.stealS.keySet == t.compiles.keySet && t.stealS.values.forall(_ >= 0),
      t.stealS.toString)
    assert(t.load1.keySet == t.compiles.keySet, t.load1.toString)
  }
}
