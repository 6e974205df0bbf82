package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

class MiscOperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin.backward attaches latest prior right row per key") {
    val left = Seq((1L, "u1", ts("2020-01-01 10:00:00")),
      (2L, "u1", ts("2020-01-01 12:00:00")),
      (3L, "u2", ts("2020-01-01 10:00:00")))
      .toDF("id", "k", "ts")
    val right = Seq(("u1", ts("2020-01-01 09:00:00"), 1.0),
      ("u1", ts("2020-01-01 11:00:00"), 2.0),
      ("u2", ts("2020-01-01 11:00:00"), 9.0))
      .toDF("k", "ts", "v")
    val got = AsOfJoin.backward(left, right, Seq("k"), "ts", Seq("v"))
      .orderBy("id").select("right_v").collect().map(r => Option(r.get(0))).toSeq
    assert(got == Seq(Some(1.0), Some(2.0), None))
  }

  test("AsOfJoin.backward tie at equal ts is inclusive") {
    val left = Seq((1L, "u", ts("2020-01-01 10:00:00"))).toDF("id", "k", "ts")
    val right = Seq(("u", ts("2020-01-01 10:00:00"), 7.0)).toDF("k", "ts", "v")
    val got = AsOfJoin.backward(left, right, Seq("k"), "ts", Seq("v"))
      .select("right_v").head().getDouble(0)
    assert(got == 7.0)
  }

  test("Sessionize splits on gaps greater than the threshold") {
    val df = Seq(
      ("u", ts("2020-01-01 10:00:00")), ("u", ts("2020-01-01 10:10:00")),
      ("u", ts("2020-01-01 12:00:00")), ("v", ts("2020-01-01 10:00:00")))
      .toDF("k", "ts")
    val got = Sessionize.withSessionId(df, Seq("k"), "ts", gapSeconds = 1800)
      .orderBy("k", "ts").select("session_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L, 2L, 1L))
  }

  test("imputeData fills nulls with the linear prediction from the reference") {
    // target = 2*ref + 1 exactly on observed pairs
    val target = Seq((1.0, Some(3.0)), (2.0, Some(5.0)), (3.0, None), (4.0, Some(9.0)))
      .toDF("k", "y")
    val ref = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 4.0)).toDF("k", "x")
    val got = Imputing.imputeData(target, ref, "k", "y", "x")
      .orderBy("k").select("imputed").as[Double].collect().toSeq
    assert(got.zip(Seq(3.0, 5.0, 7.0, 9.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("assetCorrelation computes pairwise Pearson on aligned series") {
    val rows = (1 to 50).flatMap { t =>
      Seq((t, "a", t.toDouble), (t, "b", 2.0 * t + 1), (t, "c", -1.0 * t))
    }
    val df = rows.toDF("t", "id", "v")
    val corrs = Imputing.assetCorrelation(df, "t", "id", "v")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(math.abs(corrs(("a", "b")) - 1.0) < 1e-9)
    assert(math.abs(corrs(("a", "c")) + 1.0) < 1e-9)
  }

  test("imputeAllByCorrelation fills a gap from the best neighbor") {
    val rows = (1 to 40).flatMap { t =>
      val aVal: Option[Double] = if (t == 20) None else Some(t.toDouble)
      Seq(("a", t, aVal), ("b", t, Some(3.0 * t + 2)))
    }
    val df = rows.toDF("id", "t", "v")
    val got = Imputing.imputeAllByCorrelation(df, "t", "id", "v", minR2 = 0.5, topM = 2)
    val filled = got.filter($"id" === "a" && $"t" === 20)
      .select("v_imputed").head().getDouble(0)
    assert(math.abs(filled - 20.0) < 1e-6)
  }

  test("imputeSeries: the rank-2 neighbor fills a gap the best neighbor also misses") {
    // a = t; b = 2t + 1 exactly (r = 1), missing at t = 10 like a; c is 3t
    // with +-0.3 noise (r < 1), and 60 at t = 10, where a's fit on c
    // predicts ~20 (its fit sees only the times a has a value)
    val a = (1 to 20).map(t => if (t == 10) None else Some(t.toDouble))
    val b = (1 to 20).map(t => if (t == 10) None else Some(2.0 * t + 1))
    val c = (1 to 20).map(t => Some(if (t == 10) 60.0 else 3.0 * t + (if (t % 2 == 0) 0.3 else -0.3)))
    val series = IndexedSeq(a, b, c).map(_.toArray)
    val filled = Imputing.imputeSeries(series, minR2 = 0.7, topM = 2)
    assert(math.abs(filled(0)(9).get - 20.0) < 0.5, s"a(10) = ${filled(0)(9)}")
    assert(filled(1)(9).isDefined, "b(10) is filled from a's neighbor c")
    // only the best neighbor kept: b has no value at t = 10, the gap stays
    assert(Imputing.imputeSeries(series, minR2 = 0.7, topM = 1)(0)(9).isEmpty)
  }

  test("imputeSeries: no neighbor above minR2 leaves the gap, and TIE drops that day") {
    val t1 = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0).map(Some(_))
    // r(T1, T2) over their overlap (days 1, 2, 4, 5, 6) is exactly 0
    val t2 = Seq(Some(5.0), Some(1.0), None, Some(1.0), Some(5.0), Some(3.0))
    val filled = Imputing.imputeSeries(IndexedSeq(t1.toArray, t2.toArray), minR2 = 0.7, topM = 3)
    assert(filled(1)(2).isEmpty)
    val daily = t1.zip(t2).zipWithIndex.flatMap { case ((v1, v2), d) =>
      val day = ts(f"2020-01-${d + 1}%02d 00:00:00")
      Seq(v1.map(v => (day, "T1", v)), v2.map(v => (day, "T2", v))).flatten
    }.toDF("day", "asset_id", "energy_corrected")
    val got = new graft.analysis.TurbineLongTermGrossEnergy(graft.plant.PlantData())
      .dailyImputed(daily, Seq("T1", "T2"))
      .select("asset_id", "day").as[(String, Timestamp)].collect().toSet
    assert(got.size == 11)
    assert(!got(("T2", ts("2020-01-03 00:00:00"))))
  }

  test("imputeSeries: a constant series (NaN r) is never a neighbor") {
    val a = Array(Some(1.0), Some(2.0), None, Some(4.0), Some(5.0))
    val flat = Array.fill[Option[Double]](5)(Some(7.0))
    // every finite r passes minR2 = -2; only the NaN r of `flat` does not
    val filled = Imputing.imputeSeries(IndexedSeq(a, flat), minR2 = -2.0, topM = 3)
    assert(filled(0)(2).isEmpty)
    assert(filled(1).forall(_.contains(7.0)))
  }

  test("TextAnalysis token/quality metrics") {
    val df = Seq("The quick brown fox!").toDF("text")
    val row = df.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.punctRatio($"text").as("p"),
      TextAnalysis.languageId($"text").as("lang")).head()
    assert(row.getInt(0) == 4)
    assert(row.getDouble(1) > 0.0 && row.getDouble(1) < 0.1)
    assert(row.getString(2) == "en")
  }

  test("rollingHash is deterministic and order-sensitive") {
    val df = Seq(("a b c", "a b c"), ("a b c", "c b a")).toDF("t1", "t2")
    val rows = df.select(TextAnalysis.rollingHash($"t1").as("h1"),
      TextAnalysis.rollingHash($"t2").as("h2")).collect()
    assert(rows(0).getLong(0) == rows(0).getLong(1))
    assert(rows(1).getLong(0) != rows(1).getLong(1))
  }

  test("Diagnostics.keySkew ranks heavy keys with fractions") {
    val df = (Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++ Seq.fill(10)("cold"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val got = Diagnostics.keySkew(df, Seq("k"), topN = 2)
      .select("k", "n_rows", "frac_of_total", "rank")
      .as[(String, Long, Double, Long)].collect().toSeq.sortBy(_._4)
    assert(got == Seq(("hot", 60L, 0.6, 1L), ("warm", 30L, 0.3, 2L)))
  }

  test("Diagnostics shard profiles: accurate per shard, union-mergeable") {
    // values overlap across shards so a naive sum of per-shard distincts
    // (3000) would be wrong; the true global distinct is 2000
    val df = ((1 to 1000).map(v => ("s1", v)) ++
      (501 to 1500).map(v => ("s2", v)) ++
      (1001 to 2000).map(v => ("s3", v))).toDF("shard_id", "v")
    val prof = Diagnostics.shardProfile(df, "shard_id", Seq("v"))
    val perShard = prof.select("shard", "n_rows", "v_distinct")
      .as[(String, Long, Long)].collect()
      .map { case (s, n, d) => s -> (n, d) }.toMap
    Seq("s1", "s2", "s3").foreach { s =>
      assert(perShard(s)._1 == 1000L)
      assert(math.abs(perShard(s)._2 - 1000L) <= 40, s"$s: ${perShard(s)._2}")
    }
    val global = Diagnostics.mergeProfiles(prof, Seq("v"))
      .select("n_rows", "v_distinct").as[(Long, Long)].head()
    assert(global._1 == 3000L)
    assert(math.abs(global._2 - 2000L) <= 80, s"merged: ${global._2}")
  }

  test("Diagnostics quantile profiles: KLL sketches merge to global quantiles") {
    // three shards with disjoint value ranges: the global median is in
    // shard 2, unreachable from any single shard's quantiles — only a
    // sketch UNION can produce it without rescanning
    val df = ((1 to 1000).map(v => ("s1", v)) ++
      (1001 to 2000).map(v => ("s2", v)) ++
      (2001 to 3000).map(v => ("s3", v))).toDF("shard_id", "v")
    val prof = Diagnostics.quantileProfile(df, "shard_id", Seq("v"))
    val perShard = prof.select("shard", "n_rows", "v_p50")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(perShard("s1")._2 == 1000L)
    // KLL rank error at k=200 is ~1.65%: per-shard medians within 35 ranks
    assert(math.abs(perShard("s1")._3 - 500.0) <= 35, perShard("s1"))
    assert(math.abs(perShard("s2")._3 - 1500.0) <= 35, perShard("s2"))
    val global = Diagnostics.mergeQuantileProfiles(prof, Seq("v"))
      .select("n_rows", "v_p10", "v_p50", "v_p90")
      .as[(Long, Double, Double, Double)].head()
    assert(global._1 == 3000L)
    assert(math.abs(global._2 - 300.0) <= 100, s"p10: ${global._2}")
    assert(math.abs(global._3 - 1500.0) <= 100, s"p50: ${global._3}")
    assert(math.abs(global._4 - 2700.0) <= 100, s"p90: ${global._4}")
  }

  test("kll_sketch/kll_union/kll_quantile work from the SQL surface") {
    org.apache.spark.sql.graft.FunctionRegistration.register(spark)
    (1 to 1000).map(v => ("s" + (v % 4), v.toDouble)).toDF("shard", "x")
      .createOrReplaceTempView("kll_in")
    val got = spark.sql(
      """SELECT kll_quantile(kll_union(sk), 0.5) AS p50 FROM (
        |  SELECT shard, kll_sketch(x) AS sk FROM kll_in GROUP BY shard)""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(got - 500.0) <= 35, s"sql p50: $got")
  }

  test("unicodeNormalize: forms fold as the JDK defines, null passes through") {
    val df = Seq("café", "ﬁne", null.asInstanceOf[String]).toDF("t")
    // NFD decomposes é into e + combining acute; NFKC folds the ﬁ ligature
    val got = df.select(
      TextAnalysis.unicodeNormalize(col("t"), "NFD").as("nfd"),
      TextAnalysis.unicodeNormalize(col("t"), "NFKC").as("nfkc")).collect()
    assert(got(0).getString(0) == "café")
    assert(got(0).getString(1) == "café")
    assert(got(1).getString(1) == "fine")
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
    intercept[IllegalArgumentException] {
      df.select(TextAnalysis.unicodeNormalize(col("t"), "NFX")).collect()
    }
  }

  test("unicode_normalize works from the SQL surface") {
    org.apache.spark.sql.graft.FunctionRegistration.register(spark)
    Seq("ﬁord").toDF("t").createOrReplaceTempView("un_in")
    assert(spark.sql("SELECT unicode_normalize(t, 'NFKC') FROM un_in")
      .head().getString(0) == "fiord")
  }

  test("ccnetNormalize: accents fold, digits zero, punct/control to space") {
    val df = Seq(
      "Café au LAIT, n°4!",        // accents + ° (So) + punct
      "room 101\u0007\tnext",      // digits + BEL control + tab
      "日本語 text",               // CJK passes through
      "").toDF("t")
    val got = df.select(TextAnalysis.ccnetNormalize(col("t")).as("n"))
      .collect().map(_.getString(0))
    assert(got(0) == "cafe au lait n 0")
    assert(got(1) == "room 000 next")
    assert(got(2) == "日本語 text")
    assert(got(3) == "")
    // unlike normalize(), base letters of accented words survive
    assert(spark.range(1).select(
      TextAnalysis.normalize(lit("café")).as("ascii"),
      TextAnalysis.ccnetNormalize(lit("café")).as("ccnet"))
      .head() match { case r => r.getString(0) == "caf" && r.getString(1) == "cafe" })
  }

  test("stopwordRatioFor judges text by its own language's list") {
    val df = Seq(
      ("fr", "le chat est sur la table et le chien"),
      ("en", "le chat est sur la table et le chien"), // same text, en list
      ("xx", "the cat is on the table"),              // unknown -> en fallback
    ).toDF("lang", "text")
    val got = df.select(TextAnalysis.stopwordRatioFor($"text", $"lang"))
      .as[Double].collect()
    assert(got(0) > 0.5, s"fr text under fr list: ${got(0)}") // le,est,la,et,le
    assert(got(1) < 0.2, s"fr text under en list: ${got(1)}")
    assert(got(2) > 0.4, s"en fallback: ${got(2)}")
  }

  test("mojibakeScore flags encoding damage; clean prose scores zero") {
    val df = Seq(
      ("clean ordinary prose with no damage at all", 0),
      ("broken mid\u0007stream\uFFFD\u0000text", 3),
      ("", 0),
      ("tabs\tand\nnewlines\rare fine", 0),
    ).toDF("text", "n_bad")
    val got = df.select(TextAnalysis.mojibakeScore($"text").as("s"), $"n_bad",
        length($"text").as("len"))
      .as[(Double, Int, Int)].collect()
    got.foreach { case (s, nBad, len) =>
      val want = if (len == 0) 0.0 else nBad.toDouble / len
      assert(math.abs(s - want) < 1e-12, s"score $s want $want")
    }
  }

  test("compressionRatio: repetitive text compresses far below prose") {
    val repetitive = "spam spam spam " * 200
    val prose = (1 to 200).map(i => s"w${i * 7919 % 1000}x$i").mkString(" ")
    val df = Seq(repetitive, prose, "").toDF("text")
    val got = df.select(TextAnalysis.compressionRatio($"text")).as[Double].collect()
    assert(got(0) < 0.1, s"repetitive ratio ${got(0)}")
    assert(got(1) > 0.3, s"prose ratio ${got(1)}")
    assert(got(2) == 1.0) // empty: defined as 1.0 (no signal)
  }

  test("saltedEquiJoin equals the plain join for every allowed join type") {
    val big = ((1 to 500).map(i => ("hot", i.toLong)) ++
      (1 to 20).map(i => ("cold", 1000L + i)) ++
      (1 to 5).map(i => ("orphan", 2000L + i))).toDF("k", "id")
    val small = Seq(("hot", 1.0), ("cold", 2.0), ("unused", 9.0)).toDF("k", "w")
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      val plain = big.join(small, Seq("k"), jt)
      val salted = Skew.saltedEquiJoin(big, small, Seq("k"), "id", 8, jt)
      assert(salted.columns.toSeq == plain.columns.toSeq, jt)
      val p = plain.collect().map(_.toSeq).sortBy(_.mkString(","))
      val s = salted.collect().map(_.toSeq).sortBy(_.mkString(","))
      assert(s.toSeq == p.toSeq, s"join type $jt")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(big, small, Seq("k"), "id", 8, "full_outer")
    }
  }

  test("Diagnostics.partitionStats accounts for every row") {
    val df = spark.range(100).repartition(7)
    val stats = Diagnostics.partitionStats(df.toDF())
      .as[(Int, Long)].collect()
    assert(stats.map(_._2).sum == 100L)
    assert(stats.length <= 7)
  }

  test("filterFunnel counts sequential survivors per stage") {
    val df = Seq(
      (1L, 10), (2L, 20), (3L, 30), (4L, 40), (5L, 50), (6L, -1)
    ).toDF("id", "v")
    val out = Diagnostics.filterFunnel(df, Seq(
        "positive" -> (col("v") > 0),       // keeps 5 of 6
        "min20" -> (col("v") >= 20),        // keeps 4 of 5
        "even_tens" -> (col("v") % 20 === 0))) // keeps 2 of 4 (20, 40)
      .orderBy("stage")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0, "positive", 6L, 5L, 1L),
      (1, "min20", 5L, 4L, 1L),
      (2, "even_tens", 4L, 2L, 2L)))
    // a stage predicate evaluating to null counts as dropped
    val withNull = Seq((1L, Some(1)), (2L, None)).toDF("id", "v")
    val n = Diagnostics.filterFunnel(withNull, Seq("nn" -> (col("v") > 0)))
      .collect()(0)
    assert(n.getLong(2) == 2L && n.getLong(3) == 1L)
  }

  test("property: MG summary keeps every item above N/(k+1) at any split") {
    // the Misra-Gries recall guarantee under MERGING (Agarwal et al.
    // 2012) is the backbone of heavyHitters' candidate pass: simulate
    // arbitrary partitionings by repartitioning the same stream different
    // ways and assert the guarantee each time. Seeded => deterministic.
    val rng = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val k = 10 + rng.nextInt(30)
      val rows = (1 to 6).flatMap(i => Seq.fill(300 / i)(s"h$i")) ++
        (1 to 1500).map(i => s"t${rng.nextInt(50000)}_$i")
      val n = rows.length.toLong
      val exact = rows.groupBy(identity).map { case (it, v) => it -> v.size.toLong }
      val mustKeep = exact.filter { case (_, c) => c > n / (k + 1) }.keySet
      val df = rng.shuffle(rows).toDF("item").repartition(1 + rng.nextInt(16))
      import org.apache.spark.sql.graft.{ColumnBridge, MisraGriesAgg}
      val sketch = ColumnBridge.column(
        MisraGriesAgg(ColumnBridge.expression(col("item")), k)
          .toAggregateExpression())
      val got = df.agg(sketch.as("s")).collect()(0)
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      mustKeep.foreach { it =>
        assert(got.contains(it), s"trial $trial k=$k: lost heavy item $it")
        // count is a lower bound, within N/(k+1) of truth
        assert(got(it) <= exact(it) && got(it) >= exact(it) - n / (k + 1),
          s"trial $trial k=$k: count bound violated for $it")
      }
      assert(got.size <= k)
    }
  }

  test("heavyHitters equals the exact groupBy result under a tiny sketch") {
    // Zipf-ish stream: item i appears 2^(12-i) times -> heavy tail plus
    // a long flat tail of singletons to force Misra-Gries evictions
    val rng = new scala.util.Random(42)
    val rows = (1 to 8).flatMap(i => Seq.fill(1 << (12 - i))(s"hot$i")) ++
      (1 to 3000).map(i => s"tail${rng.nextInt(100000)}_$i")
    val df = rng.shuffle(rows).toDF("item")
    val total = rows.length.toLong
    // threshold 2% with the SMALLEST k the guarantee allows (k+1 >= 50)
    val got = Diagnostics.heavyHitters(df, "item", minFracPpm = 20000L,
        sketchK = 49)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      .filter { case (_, c) => c * 1000000L >= total * 20000L }
      .map { case (k, c) => (k, c, total) }.toSet
    assert(got == exact, s"got ${got.size}, exact ${exact.size}")
    assert(exact.nonEmpty && exact.size >= 4) // the test actually tests something
  }

  test("psi: zero on identical snapshots, large under a planted shift") {
    val rng = new scala.util.Random(7L)
    val ref = (1 to 2000).map(_ => rng.nextDouble() * 100).toDF("score")
    val bins = 10
    // identical snapshots: every bin's p_ref == p_cur -> contribution 0
    val same = Diagnostics.psi(ref, ref, "score", bins)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(same.length == bins)
    assert(same.map(_._2).sum == 2000L && same.map(_._3).sum == 2000L)
    assert(same.forall { case (_, nr, nc, c) => nr == nc && math.abs(c) < 1e-12 })
    // equal-frequency property: reference bins hold ~1/bins each
    assert(same.forall { case (_, nr, _, _) => math.abs(nr - 200L) <= 1 })
    // shifted current (everything above the reference max): all mass lands
    // in the top bin, PSI total is large
    val shifted = ref.select((col("score") + 1000).as("score"))
    val drift = Diagnostics.psi(ref, shifted, "score", bins)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(5)))
    val top = drift.find(_._1 == bins - 1).get
    assert(top._2 == 2000L)
    assert(drift.map(_._3).sum > 1.0, s"psi ${drift.map(_._3).sum}")
  }

  test("parquetLayout histograms files and recommends a compaction target") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    (1L to 500L).map(i => (i, s"text $i")).toDF("id", "t")
      .repartition(20).write.mode("overwrite").parquet(dir)
    val got = Diagnostics.parquetLayout(spark, dir, targetBytes = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum == 20, s"expected 20 data files, got $got")
    val totalBytes = got.map(_._3).sum
    assert(totalBytes > 0)
    val target = got.head._4
    assert(target == (totalBytes + 4095) / 4096)
    assert(got.forall(_._4 == target))
  }

  test("cumulativeUniques: per-day and cumulative estimates track exact") {
    import java.sql.Timestamp
    // day 1: users 1..50; day 2: users 26..75 (25 new); day 3: user 1 only
    val ev = ((1 to 50).map(u => (u.toLong, Timestamp.valueOf("2024-03-01 10:00:00"))) ++
      (26 to 75).map(u => (u.toLong, Timestamp.valueOf("2024-03-02 10:00:00"))) ++
      Seq((1L, Timestamp.valueOf("2024-03-03 10:00:00"))))
      .toDF("user_id", "ts")
    val got = Diagnostics.cumulativeUniques(ev, "ts", "user_id", "day")
      .orderBy("bucket_start").collect()
    assert(got.length == 3)
    val daily = got.map(_.getLong(2))
    val cum = got.map(_.getLong(3))
    // small cardinalities sit in the HLL exact regime
    assert(math.abs(daily(0) - 50) <= 1 && math.abs(daily(1) - 50) <= 1)
    assert(daily(2) == 1)
    assert(math.abs(cum(0) - 50) <= 1)
    assert(math.abs(cum(1) - 75) <= 2)
    assert(math.abs(cum(2) - 75) <= 2) // day 3 adds no new user
    assert(got.map(_.getLong(1)).toSeq == Seq(50L, 50L, 1L))
  }

  test("rankingOverlap: hits, zero-pred queries, and one-sided queries") {
    val pred = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("q", "item")
    val truth = Seq((1L, 10L), (1L, 12L), (3L, 30L)).toDF("q", "item")
    val got = Metrics.rankingOverlap(pred, truth, "q", "item")
      .orderBy("query").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 2L, 1L), (2L, 1L, 0L, 0L), (3L, 0L, 1L, 0L)))
    val m = Metrics.rankingOverlap(pred, truth, "q", "item")
      .orderBy("query").collect()
    assert(m(0).getDouble(4) == 0.5 && m(0).getDouble(5) == 0.5)
    assert(m(1).isNullAt(4)) // no truth -> recall null
    assert(m(2).isNullAt(5)) // no pred -> precision null
  }

  test("fellegiSunterScore: hand-computed weights, thresholds, null=disagree") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, true, true),   // both agree
      (1L, 3L, true, false),  // mixed
      (1L, 4L, false, false)  // both disagree
    ).toDF("id_a", "id_b", "f1", "f2")
    // m=0.8, u=0.1: agree log2(8)=3 exactly; disagree log2(0.2/0.9)
    val fields = Seq(graft.operators.Linkage.LinkField("f1", 0.8, 0.1),
      graft.operators.Linkage.LinkField("f2", 0.8, 0.1))
    val d = math.log(0.2 / 0.9) / math.log(2.0)
    val out = graft.operators.Linkage
      .fellegiSunterScore(pairs, fields, upper = 5.0, lower = 0.0)
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(out(2L).getAs[Double]("weight") == 6.0)
    assert(out(2L).getAs[String]("decision") == "match")
    assert(math.abs(out(3L).getAs[Double]("weight") - (3.0 + d)) < 1e-12)
    assert(out(3L).getAs[String]("decision") == "possible") // ~0.83
    assert(math.abs(out(4L).getAs[Double]("weight") - 2 * d) < 1e-12)
    assert(out(4L).getAs[String]("decision") == "non_match")
    // null agreement counts as disagreement, never nulls the weight
    val withNull = Seq((9L, 10L, null.asInstanceOf[java.lang.Boolean],
      java.lang.Boolean.TRUE)).toDF("id_a", "id_b", "f1", "f2")
    val nw = graft.operators.Linkage
      .fellegiSunterScore(withNull, fields, 5.0, 0.0).head()
    assert(math.abs(nw.getAs[Double]("weight") - (d + 3.0)) < 1e-12)
  }

  test("fellegiSunterEm recovers planted m/u/p from unlabeled pairs") {
    import spark.implicits._
    // 1000 matches (agree ~90% per field), 9000 non-matches (~10%),
    // deterministic modular striping with decorrelated multipliers
    val rows = (0 until 10000).map { i =>
      val isMatch = i < 1000
      def agree(j: Int) = {
        val r = (i * (31 + 6 * j) + j * 17) % 10
        if (isMatch) r < 9 else r < 1
      }
      (i.toLong, agree(0), agree(1), agree(2))
    }
    val df = rows.toDF("id", "g0", "g1", "g2")
    val (fields, p) = graft.operators.Linkage
      .fellegiSunterEm(df, Seq("g0", "g1", "g2"), iters = 50)
    // the striping induces mild field correlation, which biases the
    // latent-class fit (EM assumes conditional independence): accept a
    // loose window on the rates and pin the OPERATIVE property below —
    // class separation under the fitted weights
    assert(math.abs(p - 0.1) < 0.05, s"p=$p")
    fields.foreach { f =>
      assert(math.abs(f.m - 0.9) < 0.1, s"$f")
      assert(math.abs(f.u - 0.1) < 0.1, s"$f")
    }
    // scoring with the fitted params separates the planted classes:
    // every true match scores above every true non-match median
    val scored = graft.operators.Linkage.fellegiSunterScore(
      df.withColumnRenamed("g0", "f0").withColumnRenamed("g1", "f1")
        .withColumnRenamed("g2", "f2"),
      fields.map(f => f.copy(agreeCol = f.agreeCol.replace('g', 'f'))),
      upper = 2.0, lower = -2.0)
    val byClass = scored.withColumn("is_match", col("id") < 1000)
      .groupBy("is_match").agg(avg(col("weight")).as("w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byClass(true) > byClass(false) + 3.0, s"$byClass")
  }

  test("resolveEntities: matches chain into one entity, others stay solo") {
    import spark.implicits._
    val recs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val scored = Seq(
      (1L, 2L, 9.0), // match
      (2L, 3L, 7.5), // match -> {1,2,3} one entity
      (3L, 4L, 1.0), // below threshold
      (4L, 5L, -2.0)
    ).toDF("id_a", "id_b", "weight")
    val out = graft.operators.Linkage
      .resolveEntities(recs, "id", scored, threshold = 5.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(4L) == 4L && out(5L) == 5L)
    assert(out(1L) != out(4L))
  }

  test("centroidDrift: identical buckets cos 1, orthogonal cos 0, " +
    "first bucket null") {
    import spark.implicits._
    val rows =
      // bucket 0 and 1: identical centroids along x; bucket 2: along y
      Seq((0L, Array(2.0, 0.0)), (0L, Array(4.0, 0.0)),
        (1L, Array(3.0, 0.0)),
        (2L, Array(0.0, 5.0)), (2L, Array(0.0, 1.0)))
        .toDF("bucket", "v")
    val out = graft.operators.Diagnostics.centroidDrift(rows, "v", "bucket")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).isNullAt(2))
    assert(out(0L).getAs[Long]("n") == 2)
    assert(math.abs(out(1L).getAs[Double]("cos_prev") - 1.0) < 1e-12)
    assert(math.abs(out(2L).getAs[Double]("cos_prev")) < 1e-12)
    // empty input: no rows, no throw
    assert(graft.operators.Diagnostics
      .centroidDrift(rows.limit(0), "v", "bucket").count() == 0)
    // a zero-norm centroid yields null, not NaN
    val z = Seq((0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)))
      .toDF("bucket", "v")
    val zr = graft.operators.Diagnostics.centroidDrift(z, "v", "bucket")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(zr(1L).isNullAt(2))
  }
}
