package graft.fitting

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LogisticSpec extends SparkSpec {
  import spark.implicits._

  // deterministic two-cluster data: class 1 around (2, 2), class 0 around
  // (-2, -2), jitter from a multiplicative integer mix (no RNG)
  private def clusters(n: Int) = (0 until n).map { i =>
    val j1 = ((i * 2654435761L) % 1000) / 1000.0 - 0.5
    val j2 = ((i * 40503L + 7) % 1000) / 1000.0 - 0.5
    val pos = i % 2 == 0
    val c = if (pos) 2.0 else -2.0
    (i.toLong, Array(c + j1, c + j2), pos)
  }

  test("fit separates clusters; loss trace is monotone non-increasing") {
    val df = clusters(400).toDF("id", "x", "y")
    val m = Logistic.fit(df, "x", "y", dims = 2, iters = 12, lambda = 0.01)
    assert(m.count == 400L)
    // both coefficients positive (class 1 sits in the +,+ quadrant)
    assert(m.coefficients.forall(_ > 0), m.coefficients.toSeq.toString)
    val acc = Logistic.score(df, "id", "x", m)
      .join(df, "id")
      .select(avg(when(col("predicted") === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc >= 0.99, s"accuracy $acc")
    // Newton from w=0 on a clean problem: strictly better every step
    // until convergence plateaus (allow 1e-12 wiggle at the floor)
    m.lossTrace.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-12, s"loss rose: ${m.lossTrace.toSeq}")
    }
    assert(m.lossTrace.last < 0.1 * m.lossTrace.head)
  }

  test("fitted weights are a stationary point of the regularized loss") {
    val df = clusters(200).toDF("id", "x", "y").cache()
    val m = Logistic.fit(df, "x", "y", dims = 2, iters = 15, lambda = 0.05)
    def lossAt(w: Array[Double]): Double = {
      val wl = array(w.map(lit(_)): _*)
      val mu = graft.functions.VectorExprs.dot(
        concat(array(lit(1.0)), col("x").cast("array<double>")), wl)
      val p = lit(1.0) / (lit(1.0) + exp(-mu))
      val ll = df.select(sum(-(col("y").cast("double") * log(p) +
        (lit(1.0) - col("y").cast("double")) * log(lit(1.0) - p))))
        .head().getDouble(0)
      (ll + 0.5 * 0.05 * w.drop(1).map(x => x * x).sum) / 200.0
    }
    val base = lossAt(m.weights)
    for (k <- m.weights.indices; s <- Seq(-0.1, 0.1)) {
      val pert = m.weights.clone(); pert(k) += s
      assert(lossAt(pert) >= base - 1e-9,
        s"perturbing w($k) by $s lowered loss")
    }
    df.unpersist()
  }

  test("label-symmetric data fits intercept ~ 0") {
    // pair 2k/2k+1 share a magnitude with mirrored sign+label: the data
    // is exactly label-symmetric, so the intercept's Newton updates cancel
    val df = (0 until 100).map { i =>
      val v = 1.0 + ((i / 2) % 7) * 0.3
      if (i % 2 == 0) (i.toLong, Array(v), true) else (i.toLong, Array(-v), false)
    }.toDF("id", "x", "y")
    val m = Logistic.fit(df, "x", "y", dims = 1, iters = 10, lambda = 0.1)
    assert(math.abs(m.intercept) < 1e-6, s"intercept ${m.intercept}")
    assert(m.coefficients(0) > 0)
  }

  test("a NaN or infinite feature fails the fit with a typed error") {
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val df = (clusters(40) :+ ((99L, Array(bad, 0.0), true))).toDF("id", "x", "y")
      intercept[IllegalArgumentException](Logistic.fit(df, "x", "y", dims = 2, iters = 3))
    }
  }

  test("model parquet round-trip scores identically") {
    val df = clusters(100).toDF("id", "x", "y")
    val m = Logistic.fit(df, "x", "y", dims = 2, iters = 6, lambda = 0.05)
    val path = java.nio.file.Files.createTempDirectory("logreg").toString + "/m"
    Logistic.modelToDf(spark, m).write.parquet(path)
    val m2 = Logistic.modelFromDf(spark.read.parquet(path))
    assert(m2.weights.toSeq == m.weights.toSeq)
    assert(m2.dims == m.dims && m2.count == m.count && m2.lambda == m.lambda)
    val a = Logistic.score(df, "id", "x", m).collect().map(_.toString).sorted
    val b = Logistic.score(df, "id", "x", m2).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("probability is sigmoid of the affine score") {
    val m = Logistic.LogisticModel(2, 1L, Array(0.5, 1.0, -2.0), 0.0,
      Array.empty)
    val df = Seq((1L, Array(1.0, 1.0))).toDF("id", "x")
    val p = df.select(Logistic.probability(col("x"), m)).head().getDouble(0)
    val expect = 1.0 / (1.0 + math.exp(-(0.5 + 1.0 - 2.0)))
    assert(math.abs(p - expect) < 1e-15)
  }
}
