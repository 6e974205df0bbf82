package graft.fitting

import graft.SparkSpec

/** Bradley–Terry MM fitting: closed forms, planted-order recovery,
  * driver==distributed parity, degenerate args.
  */
class BradleyTerrySpec extends SparkSpec {
  import spark.implicits._

  private def fitMap(rows: Seq[(String, String, Long, Long)],
                     iters: Int = 60,
                     driverCap: Long = 2000000L): Map[String, Double] =
    BradleyTerry.fit(rows.toDF("a", "b", "n", "w"), "a", "b", "n", "w",
        iters, driverCap)
      .as[(String, Double)].collect().toMap

  test("two items: strengths hit the closed-form win fractions") {
    // a beats b 3 of 4: MLE p_a/(p_a+p_b) = 3/4 -> (0.75, 0.25)
    val p = fitMap(Seq(("a", "b", 4L, 3L)))
    assert(math.abs(p("a") - 0.75) < 1e-9, p.toString)
    assert(math.abs(p("b") - 0.25) < 1e-9)
  }

  test("orientation invariance: (a,b,n,w) == (b,a,n,n-w)") {
    val p1 = fitMap(Seq(("a", "b", 10L, 7L), ("b", "c", 10L, 7L)))
    val p2 = fitMap(Seq(("b", "a", 10L, 3L), ("c", "b", 10L, 3L)))
    for (k <- p1.keys) assert(math.abs(p1(k) - p2(k)) < 1e-12, k)
    // transitive chain orders a > b > c
    assert(p1("a") > p1("b") && p1("b") > p1("c"))
  }

  test("distributed iteration agrees with the in-memory MM") {
    val rnd = new scala.util.Random(13)
    val rows = for {
      i <- 0 until 12; j <- 0 until 12 if i < j
    } yield {
      val n = 5L + rnd.nextInt(10)
      (s"i$i", s"i$j", n, rnd.nextLong(n + 1))
    }
    // 40 rounds is also the Pins.loop regression pin: with carried-stats
    // localCheckpoints the Catalyst size estimate squares per round and
    // planning hangs in BigInt multiplication past ~20 rounds (measured:
    // 24 rounds > 10 min; with stat-free loop pins, 60 rounds = 26 s)
    val mem = fitMap(rows, iters = 40)
    val dist = fitMap(rows, iters = 40, driverCap = 0L)
    assert(mem.keySet == dist.keySet)
    for (k <- mem.keys)
      assert(math.abs(mem(k) - dist(k)) < 1e-9, s"$k ${mem(k)} ${dist(k)}")
  }

  test("degenerate args: zero-game and self-pair rows drop; strengths sum to 1") {
    val p = fitMap(Seq(("a", "b", 4L, 2L), ("a", "a", 100L, 100L),
      ("b", "c", 0L, 0L), ("a", "c", 6L, 3L), ("b", "c", 6L, 3L)))
    assert(math.abs(p.values.sum - 1.0) < 1e-9)
    // fully balanced wins: all equal
    for (k <- p.keys) assert(math.abs(p(k) - 1.0 / 3) < 1e-9, p.toString)
    intercept[IllegalArgumentException] {
      fitMap(Seq(("a", "b", 1L, 1L)), iters = 0)
    }
    assert(fitMap(Seq.empty).isEmpty)
  }
}
