package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Mirrors the reference's filter toolkit unit tests
  * (test/unit/test_filter_toolkit.py) with hand-computed expectations.
  */
class FlagsSpec extends SparkSpec {
  import spark.implicits._

  test("rangeFlag flags values outside inclusive bounds") {
    val df = Seq(-1.0, 0.0, 5.0, 10.0, 11.0).toDF("x")
    val got = df.withColumn("f", Flags.rangeFlag($"x", 0.0, 10.0))
      .orderBy("x").select("f").as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false, false, true))
  }

  test("windowRangeFlag flags value outside range only inside the window") {
    val df = Seq((1.0, 100.0), (5.0, 100.0), (5.0, 5.0), (9.0, 50.0)).toDF("w", "v")
    val got = df.withColumn("f", Flags.windowRangeFlag($"w", 4.0, 10.0, $"v", 0.0, 60.0))
      .select("f").as[Boolean].collect().toSeq
    assert(got == Seq(false, true, false, false))
  }

  test("stdRangeFlag flags > k sigma from mean") {
    // values: nine 10s and one 100 -> mean 19, std ~28.46; only 100 deviates > 1*std
    val df = (Seq.fill(9)(10.0) :+ 100.0).toDF("x")
    val got = Flags.stdRangeFlag(df, "x", threshold = 1.0)
      .filter($"flag").select("x").as[Double].collect().toSeq
    assert(got == Seq(100.0))
  }

  test("unresponsiveFlag flags whole runs of >= threshold identical values") {
    val rows = Seq(
      (1, 1.0), (2, 5.0), (3, 5.0), (4, 5.0), (5, 2.0), (6, 7.0), (7, 7.0))
    val df = rows.toDF("t", "v")
    val got = Flags.unresponsiveFlag(df, "v", "t", threshold = 3,
        partitionCols = Seq.empty)
      .orderBy("t").select("flag").as[Boolean].collect().toSeq
    // run of three 5s flagged entirely; pair of 7s below threshold
    assert(got == Seq(false, true, true, true, false, false, false))
  }

  test("unresponsiveFlag partitions independently per asset") {
    val rows = Seq(
      ("a", 1, 5.0), ("a", 2, 5.0), ("b", 1, 5.0), ("b", 2, 5.0))
    val df = rows.toDF("id", "t", "v")
    val flagged = Flags.unresponsiveFlag(df, "v", "t", threshold = 3,
      partitionCols = Seq("id")).filter($"flag").count()
    assert(flagged == 0) // runs of 2 per asset, threshold 3
  }

  test("binFilter mean/std flags bin outliers, direction=all") {
    // bin [0,10): values 1,1,1,50 -> the 50 deviates
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 50.0), (15.0, 1.0))
      .toDF("b", "v")
    val got = Flags.binFilter(df, "b", "v", binWidth = 10.0, threshold = 1.0)
      .filter($"flag").select("v").as[Double].collect().toSeq
    assert(got == Seq(50.0))
  }

  test("binFilter direction=above only flags high deviations") {
    val df = Seq((1.0, 10.0), (2.0, 10.0), (3.0, 10.0), (4.0, -40.0), (5.0, 60.0))
      .toDF("b", "v")
    val gotAbove = Flags.binFilter(df, "b", "v", binWidth = 10.0, threshold = 1.0,
      direction = "above").filter($"flag").select("v").as[Double].collect().toSeq
    assert(gotAbove == Seq(60.0))
    val gotBelow = Flags.binFilter(df, "b", "v", binWidth = 10.0, threshold = 1.0,
      direction = "below").filter($"flag").select("v").as[Double].collect().toSeq
    assert(gotBelow == Seq(-40.0))
  }

  test("binFilter median/mad centers on the median") {
    // median of (1,1,1,1,100) = 1; MAD = median(|x-1|) = 0 -> only 100 flagged
    // with scalar comparison against mad spread handled via threshold * 0 = 0
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0), (5.0, 100.0))
      .toDF("b", "v")
    val got = Flags.binFilter(df, "b", "v", binWidth = 10.0, threshold = 3.0,
      centerType = "median", deviationType = "mad")
      .filter($"flag").select("v").as[Double].collect().toSeq
    assert(got == Seq(100.0))
  }

  test("median/MAD kernel equals percentile and the two-pass MAD bit for bit") {
    val groups = Seq(
      "one" -> Seq(Some(0.3)),
      "two" -> Seq(Some(0.1), Some(0.7)),
      "odd" -> Seq(Some(0.9), Some(0.1), Some(0.35), Some(2.2), Some(0.2)),
      "even" -> Seq(Some(0.1), Some(0.7), Some(0.2), Some(0.35), Some(1.0 / 3), Some(5.5)),
      "ties" -> Seq(Some(0.2), Some(0.7), Some(0.7), Some(0.7), Some(0.1), Some(0.7)),
      "negative" -> Seq(Some(-3.3), Some(-0.1), Some(2.7), Some(-1.9)),
      "with null" -> Seq(Some(1.5), None, Some(0.4), Some(0.6)),
      "all null" -> Seq(None, None))
    val df = groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }.toDF("g", "x")
    val kernel = df.groupBy("g").agg(Flags.sortedValues($"x").as("a"))
      .select($"g", Flags.medianOfSorted($"a").as("med"),
        Flags.madOfSorted($"a", Flags.medianOfSorted($"a")).as("mad"))
    val med = df.groupBy("g").agg(percentile($"x", lit(0.5)).as("med"))
    val twoPass = df.join(med, "g").groupBy("g")
      .agg(first($"med").as("med"), percentile(abs($"x" - $"med"), lit(0.5)).as("mad"))
    def bits(d: DataFrame) = d.collect().map { r =>
      r.getString(0) -> Seq(1, 2).map(i =>
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    }.toMap
    val got = bits(kernel)
    assert(got.keySet == groups.map(_._1).toSet)
    assert(got == bits(twoPass))
    assert(got("all null") == Seq(None, None))
  }

  test("clusterMahalanobis2d flags far-out points") {
    // two tight Gaussian blobs; the outlier sits 8 sigma from the nearer one
    val rng = new scala.util.Random(7)
    val blob1 = Seq.fill(100)((rng.nextGaussian(), rng.nextGaussian()))
    val blob2 = Seq.fill(100)((20.0 + rng.nextGaussian(), 20.0 + rng.nextGaussian()))
    val outlier = Seq((8.0, -8.0))
    val df = (blob1 ++ blob2 ++ outlier).toDF("x", "y")
    val flagged = Flags.clusterMahalanobis2d(df, "x", "y", nClusters = 2,
      distThreshold = 5.0).filter($"flag")
      .select("x").as[Double].collect().toSeq
    assert(flagged.contains(8.0))
  }
}
