package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.analysis.TurbineLongTermGrossEnergy
import graft.powercurve.PowerCurve

/** Degenerate-argument net over every public operator family (r7 VERDICT
  * ask #7): all four r6 ADVICE findings were edge-case hazards in PUBLIC
  * API argument ranges (maxHamming=0, sub-grid images, uncapped per-doc
  * pairs, null group keys), so each operator file gets a test that drives
  * its main entry points with the degenerate shapes — empty input, null
  * fields, single rows, boundary parameters — and pins either the sane
  * output or the clean `require` message.
  */
class DegenerateArgsSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def nullDoc: DataFrame =
    Seq[(java.lang.Long, String)]((1L, null), (2L, ""), (3L, "a b c"))
      .toDF("doc_id", "text")

  // ---- Chunking ----------------------------------------------------------
  test("Chunking: empty corpus, null text, boundary params") {
    assert(Chunking.chunkRows(emptyDocs, "text", "doc_id").count() == 0)
    // size=1, overlap=0 is the minimal legal config (char grain: "a b c"
    // -> 5 single-char chunks)
    val one = Chunking.chunkRows(nullDoc, "text", "doc_id", size = 1, overlap = 0)
    assert(one.filter(col("id") === 3L).count() == 5)
    intercept[IllegalArgumentException] {
      Chunking.chunkRows(nullDoc, "text", "doc_id", size = 4, overlap = 4)
    }
    assert(Chunking.cdcChunks(emptyDocs, "text", "doc_id").count() == 0)
    // null/empty text must not throw
    Chunking.chunkRowsBySentences(nullDoc, "text", "doc_id", 5).collect()
  }

  // ---- Cleanse -----------------------------------------------------------
  test("Cleanse: null text and empty blocklists") {
    val out = nullDoc.select(Cleanse.redactPii(col("text")).as("r")).collect()
    assert(out.length == 3)
    assert(Cleanse.c4Filter(emptyDocs, "text").count() == 0)
    val withUrl = nullDoc.withColumn("url", lit("http://a.example.com/x"))
    // empty zone list is refused at call time (a no-op blocklist is more
    // likely a config bug than an intent)
    intercept[IllegalArgumentException] {
      Cleanse.filterByDomainSuffixBlocklist(withUrl, "url", Seq.empty)
    }
    assert(Cleanse.extractUrls(lit(null.asInstanceOf[String])) != null)
  }

  // ---- Conversations -----------------------------------------------------
  test("Conversations: empty array, unparseable, null fields") {
    val df = Seq(
      (1L, "[]"),
      (2L, "not json"),
      (3L, """[{"role": null, "content": "x"}]"""),
      (4L, """[{"role": "assistant", "content": null}]""")
    ).toDF("id", "messages")
    val out = Conversations.chatFlatten(df, "id", "messages")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "" && out(1L).getInt(2) == 0)
    assert(out(2L).isNullAt(1)) // unparseable -> null conversation
    // null fields render as '' and keep offsets consistent with text
    assert(out(3L).getString(1) == ": x\n")
    val r4 = out(4L)
    assert(r4.getString(1) == "assistant: \n")
    assert(r4.getAs[Number]("response_start").longValue() == 11L)
    assert(r4.getAs[Number]("response_chars").longValue() == 0L)
  }

  // ---- Decontaminate -----------------------------------------------------
  test("Decontaminate: empty benchmark flags nothing") {
    val c = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val f = Decontaminate.flagContamination(c, emptyDocs)
    assert(f.filter(col("contaminated")).count() == 0)
    assert(Decontaminate.flagFuzzy(c, emptyDocs)
      .filter(col("contaminated")).count() == 0)
  }

  // ---- Dedup -------------------------------------------------------------
  test("Dedup: empty corpus, single doc, null text") {
    assert(Dedup.exact(emptyDocs, "text", "doc_id").count() == 0)
    val single = Seq((1L, "only one document here")).toDF("doc_id", "text")
    assert(Dedup.minHashCandidates(single, "text", "doc_id").count() == 0)
    assert(Dedup.simHashCandidates(single, "text", "doc_id").count() == 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
    // null text: exact() must not throw and must not pair null with ''
    Dedup.exact(nullDoc, "text", "doc_id").collect()
  }

  // ---- Diagnostics -------------------------------------------------------
  test("Diagnostics: empty frames and boundary params") {
    assert(Diagnostics.keySkew(emptyDocs, Seq("text")).count() == 0)
    intercept[IllegalArgumentException] {
      Diagnostics.keySkew(nullDoc, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Diagnostics.heavyHitters(nullDoc, "text", minFracPpm = 0)
    }
    // psi over an empty current side must not throw
    val scored = Seq(1.0, 2.0, 3.0).toDF("score")
    Diagnostics.psi(scored, scored.filter(lit(false)), "score").collect()
  }

  // ---- EventAnalytics ----------------------------------------------------
  test("EventAnalytics: empty events, empty steps") {
    val ev = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "etype")
    intercept[IllegalArgumentException] {
      EventAnalytics.funnel(ev, "user_id", "ts", "etype", Seq.empty)
    }
    val f = EventAnalytics.funnel(ev, "user_id", "ts", "etype", Seq("a", "b"))
    assert(f.agg(sum("n_users")).head().getLong(0) == 0L)
    assert(EventAnalytics.transitionMatrix(ev, "user_id", "ts", "etype")
      .count() == 0)
  }

  // ---- Flags -------------------------------------------------------------
  test("Flags: degenerate bounds and single-row clusters") {
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    // lower == upper: only exact value passes
    assert(df.filter(!Flags.rangeFlag(col("v"), 2.0, 2.0)).count() == 1)
    // single row: sample variance undefined -> never flagged, no throw
    val one = Seq((1L, 1.0, 2.0)).toDF("id", "x", "y")
    assert(Flags.clusterMahalanobis2d(one, "x", "y", nClusters = 1)
      .filter(col("flag")).count() == 0)
  }

  // ---- Imputing ----------------------------------------------------------
  test("Imputing: empty reference leaves values unimputed, not thrown") {
    val t = Seq((1L, Some(1.0)), (2L, None)).toDF("k", "v")
    val r = Seq.empty[(Long, Double)].toDF("k", "rv")
    val out = Imputing.imputeData(t, r, "k", "v", "rv")
    assert(out.count() == 2)
    assert(out.filter(col("k") === 2L).head().isNullAt(
      out.columns.indexOf("imputed")))
  }

  // ---- LinkGraph ---------------------------------------------------------
  test("LinkGraph: empty and self-loop-only graphs") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(LinkGraph.pageRank(empty, "src", "dst").count() == 0)
    assert(LinkGraph.hits(empty, "src", "dst").count() == 0)
    // a single self-loop: one node holding all mass
    val self = Seq(("a", "a")).toDF("src", "dst")
    val pr = LinkGraph.pageRank(self, "src", "dst").head()
    assert(math.abs(pr.getDouble(1) - 1.0) < 1e-9)
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(self, "src", "dst", iters = 0)
    }
  }

  // ---- Metrics -----------------------------------------------------------
  test("Metrics: all-null labels, empty truth, degenerate clusterings") {
    val dirty = Seq[(java.lang.Boolean, java.lang.Boolean)](
      (null, null), (null, true)).toDF("label", "pred")
    val r = Metrics.binaryClassifierEval(dirty, "label", "pred").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 2L && r.isNullAt(6))
    val pred = Seq((1L, "a", 1)).toDF("q", "item", "rnk")
    val noTruth = Seq.empty[(Long, String, Double)].toDF("q", "item", "rel")
    Metrics.ndcg(pred, noTruth, "q", "item", "rnk", "rel").collect()
    // empty input: zero counts, rand/ari null, no division blowup (and
    // head() itself must work — a null n used to break row materialization)
    val e = Seq.empty[(String, String)].toDF("a", "b")
    val ca = Metrics.clusteringAgreement(e, "a", "b").head()
    assert(ca.getLong(0) == 0L && ca.getLong(1) == 0L)
    assert(ca.isNullAt(ca.length - 2) && ca.isNullAt(ca.length - 1))
  }

  test("Metrics: kappa/calibration on empty and all-null input") {
    val e = Seq.empty[(String, String)].toDF("a", "b")
    val k = Metrics.cohenKappa(e, "a", "b").head()
    assert(k.getAs[Long]("n") == 0L && k.isNullAt(k.fieldIndex("kappa")))
    val allNull = Seq[(java.lang.Double, java.lang.Boolean)](
      (null, null), (null, true)).toDF("p", "y")
    assert(Metrics.calibrationReport(allNull, "p", "y").count() == 0)
    intercept[IllegalArgumentException] {
      Metrics.calibrationReport(allNull, "p", "y", nBins = 1)
    }
  }

  // ---- Privacy -----------------------------------------------------------
  test("Privacy: empty input, k/l bounds, all-suppressed corpus") {
    val e = Seq.empty[(Long, String)].toDF("id", "q")
    assert(Privacy.kAnonymize(e, Seq("q"), k = 2).count() == 0)
    val r = Privacy.kAnonymityReport(e, Seq("q"), k = 2).head()
    assert(r.getAs[Long]("n_rows") == 0 && r.getAs[Long]("n_groups") == 0 &&
      r.isNullAt(r.fieldIndex("min_group_n")))
    assert(Privacy.lDiversityReport(e, Seq("q"), "q", l = 1).count() == 0)
    intercept[IllegalArgumentException] { Privacy.kAnonymize(e, Seq(), 2) }
    intercept[IllegalArgumentException] { Privacy.kAnonymize(e, Seq("q"), 0) }
    // every row a singleton group: k=2 suppresses the whole corpus
    val singletons = Seq((1L, "a"), (2L, "b")).toDF("id", "q")
    assert(Privacy.kAnonymize(singletons, Seq("q"), k = 2).count() == 0)
  }

  // ---- Multimodal metadata ----------------------------------------------
  test("Multimodal: aspect/frame planners on degenerate metadata") {
    import graft.multimodal.Multimodal
    val bad = Seq[(Long, java.lang.Integer, java.lang.Integer)](
      (1L, null, 100), (2L, -5, 100), (3L, 100, 0)).toDF("id", "w", "h")
    val out = Multimodal.aspectBuckets(bad, "w", "h", Seq((64, 64))).collect()
    assert(out.length == 3 && out.forall(_.isNullAt(3)))
    intercept[IllegalArgumentException] {
      Multimodal.aspectBuckets(bad, "w", "h", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Multimodal.aspectBuckets(bad, "w", "h", Seq((0, 64)))
    }
    val clips = Seq[(Long, java.lang.Long, java.lang.Long)](
      (1L, null, 25000L), (2L, 10L, null)).toDF("id", "f", "fm")
    assert(Multimodal.frameSchedule(clips, "f", "fm", n = 4).count() == 0)
    intercept[IllegalArgumentException] {
      Multimodal.frameSchedule(clips, "f", "fm", n = 0)
    }
  }

  // ---- Conversations (fingerprint + pack) --------------------------------
  test("Conversations: fingerprint/pack on empty, null-field, no-turn input") {
    val df = Seq((1L, "[]"), (2L, """[{"role":null,"content":null}]"""))
      .toDF("id", "msgs")
    val fp = Conversations.withConversationFingerprint(df, "msgs")
      .select("id", "conv_fp").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(fp(1L).isDefined && fp(2L).isDefined && fp(1L) != fp(2L))
    val flat = Conversations.chatFlatten(df, "id", "msgs")
    // empty-array conv flattens to "" (0 tokens) -> no pack row; the
    // null-field conv renders ": \n" and still packs without a mask
    val packed = Conversations.lossMaskedPack(flat, seqLen = 8).collect()
    assert(packed.forall(_.getLong(0) == 2L))
    assert(packed.forall(r => r.isNullAt(r.fieldIndex("mask_start"))))
    assert(Conversations.lossMaskedPack(
      Conversations.chatFlatten(df.limit(0), "id", "msgs"), 8).count() == 0)
  }

  // ---- Packing -----------------------------------------------------------
  test("Packing: empty corpus, zero-weight rows, seqLen 1") {
    val w = Seq((1L, 0L), (2L, 3L)).toDF("id", "n")
    val packed = Packing.packSequences(w, "id", "n", seqLen = 1)
    // zero-token docs pack into no sequence; 3 tokens -> 3 unit sequences
    assert(packed.filter(col("id") === 1L).count() == 0)
    assert(packed.filter(col("id") === 2L).count() == 3)
    intercept[IllegalArgumentException] {
      Packing.packSequences(w, "id", "n", seqLen = 0)
    }
    intercept[IllegalArgumentException] {
      Packing.lengthBuckets(w, "n", nBuckets = 1)
    }
  }

  // ---- Pca ---------------------------------------------------------------
  test("Pca: single row refuses cleanly, k bounds checked") {
    val one = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    intercept[IllegalArgumentException] { Pca.fit(one, "v", 2, 1) }
    intercept[IllegalArgumentException] {
      Pca.fit(one.union(one), "v", 2, 3) // k > dims
    }
  }

  // ---- driver-side fits --------------------------------------------------
  test("PowerCurve.fitSpline/spline and TIE's fitPowerModel: an empty sample is refused") {
    intercept[IllegalArgumentException] {
      PowerCurve.fitSpline(Array.empty, Array.empty, nKnots = 20, ridge = 1e-6)
    }
    intercept[IllegalArgumentException] {
      PowerCurve.fitSpline(Array(1.0, 2.0), Array(1.0), nKnots = 20, ridge = 1e-6)
    }
    intercept[IllegalArgumentException] {
      PowerCurve.spline(Seq.empty[(Double, Double)].toDF("ws", "p"), "ws", "p")
    }
    intercept[IllegalArgumentException] {
      TurbineLongTermGrossEnergy.fitPowerModel(Array.empty, Array.empty)
    }
  }

  // ---- QaDatetime --------------------------------------------------------
  test("QaDatetime: empty frame describes to nulls, not a throw") {
    val e = Seq.empty[Tuple1[Double]].toDF("v")
    assert(QaDatetime.describe(e, Seq("v")).count() == 1)
    intercept[IllegalArgumentException] { QaDatetime.describe(e, Seq.empty) }
  }

  // ---- Sampling ----------------------------------------------------------
  test("Sampling: rate 0/1 extremes, zero weights, bad params") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "s")
    val all = Sampling.stratifiedSample(df, "s", "id",
      rates = Map("a" -> 1.0), defaultRate = 0.0)
    assert(all.count() == 50)
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(df.withColumn("w", lit(1L)), "id", "w", 0.0)
    }
    // all-zero weights: nothing to sample, nothing thrown
    assert(Sampling.weightedSample(df.withColumn("w", lit(0L)), "id", "w", 0.5)
      .count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(df, "s", "id", alpha = 0.0)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureRateReport(df.withColumn("w", lit(1L)), "s", "w",
        targets = Map.empty, totalBudget = 10L)
    }
  }

  // ---- Sessionize --------------------------------------------------------
  test("Sessionize: empty and single-event streams") {
    val ev = Seq.empty[(Long, java.sql.Timestamp)].toDF("u", "ts")
    assert(Sessionize.withSessionId(ev, Seq("u"), "ts", 60).count() == 0)
    val one = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("u", "ts")
    val s = Sessionize.withSessionId(one, Seq("u"), "ts", 60)
    assert(s.count() == 1)
  }

  // ---- Similarity --------------------------------------------------------
  test("Similarity: k past corpus size, zero vectors, bad PQ shapes") {
    val e = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.0, 0.0))).toDF("vec_id", "v")
    val q = e.filter(col("vec_id") === 1L)
    // k > corpus: returns what exists (2 non-self rows), zero vector at
    // cosine 0, no NaN
    val bf = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 10)
    assert(bf.count() == 2)
    assert(bf.filter(col("cosine").isNaN).count() == 0)
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(e, "v", dims = 2, m = 3, ksub = 4) // dims % m != 0
    }
  }

  // ---- Skew --------------------------------------------------------------
  test("Skew: saltFactor 1 equals the plain join; bad type refused") {
    val big = Seq((1L, "k1"), (2L, "k2")).toDF("id", "k")
    val dim = Seq(("k1", 10L)).toDF("k", "x")
    val out = Skew.saltedEquiJoin(big, dim, Seq("k"), "id", saltFactor = 1,
      joinType = "left")
    assert(out.count() == 2)
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(big, dim, Seq("k"), "id", joinType = "full_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(big, dim, Seq.empty, "id")
    }
  }

  // ---- StatusOps ---------------------------------------------------------
  test("StatusOps: empty status table keeps every fact row") {
    val facts = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("asset_id", "time")
    val status = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("asset_id", "time", "status_code")
    assert(StatusOps.filterByStatus(facts, status, Seq("FAULT")).count() == 1)
  }

  // ---- TextAnalysis ------------------------------------------------------
  test("TextAnalysis: null/empty text through the scalar surface") {
    val out = nullDoc.select(
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.languageId(col("text")).as("lid"),
      TextAnalysis.punctRatio(col("text")).as("pr"))
    assert(out.count() == 3)
    val empt = out.collect()(1)
    assert(empt.getInt(0) == 0)
    assert(TextAnalysis.vocabulary(emptyDocs, "doc_id", "text", minCount = 1)
      .count() == 0)
  }

  // ---- Timeseries --------------------------------------------------------
  test("Timeseries: empty frames and single points") {
    val e = Seq.empty[(java.sql.Timestamp, Double)].toDF("ts", "v")
    assert(Timeseries.timeGaps(e, "ts", 60).count() == 0)
    // single point (numeric x axis): nothing to interpolate, passes through
    val one = Seq((1L, 1.0)).toDF("x", "v")
    val interp = Timeseries.interpolateLinear(one, "v", "x", "x")
    assert(interp.count() == 1)
  }

  // ---- r7 additions: rerank / secrets / card / split ---------------------
  test("rerankExact: empty candidates; secretCounts: null/empty text") {
    val e = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "v")
    val noCand = Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")
    assert(Similarity.rerankExact(noCand, e, e, "vec_id", "v", k = 3)
      .count() == 0)
    val sc = nullDoc.select(Cleanse.secretCounts(col("text")).as("c"),
      Cleanse.redactSecrets(col("text")).as("r"),
      Cleanse.highEntropySecretTokens(col("text")).as("h")).collect()
    assert(sc.head.isNullAt(0) || sc.head.getStruct(0).isNullAt(0)) // null text
    assert(sc(1).getStruct(0).getInt(0) == 0) // empty text: zero counts
    assert(sc(2).getSeq[String](2).isEmpty)   // plain words: no entropy hits
  }

  test("datasetCard: empty corpus and null text stay defined") {
    val card = Diagnostics.datasetCard(emptyDocs, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(card("n_docs") == Some(0.0))
    assert(card("median_doc_tokens").isEmpty || card("median_doc_tokens") == Some(0.0))
    val withNull = Diagnostics.datasetCard(nullDoc, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(!withNull("n_docs"))
  }

  test("groupSplitAssign: null group and degenerate weights") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, "a"))
      .toDF("id", "grp")
    // null group key: md5(null) is null -> falls to the LAST split rather
    // than throwing; documented fallback
    df.select(Sampling.groupSplitAssign(col("grp"),
      Seq("train" -> 1.0)).as("s")).collect()
    intercept[IllegalArgumentException] {
      Sampling.groupSplitAssign(col("grp"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Sampling.groupSplitAssign(col("grp"), Seq("a" -> 0.0))
    }
  }

  // ---- r7 s3 additions: winnow / rrf / backtest / drift ------------------
  test("winnowFingerprints/winnowPairs: empty, null text, boundary params") {
    assert(Dedup.winnowFingerprints(emptyDocs, "doc_id", "text").count() == 0)
    // null and sub-k texts produce no fingerprints, never throw
    assert(Dedup.winnowFingerprints(nullDoc, "doc_id", "text").count() == 0)
    // window=1 selects every gram hash (density 1): legal boundary
    val w1 = Dedup.winnowFingerprints(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text"), "doc_id", "text",
      k = 5, window = 1)
    assert(w1.count() == 2) // 2 grams, each its own window
    intercept[IllegalArgumentException] {
      Dedup.winnowFingerprints(nullDoc, "doc_id", "text", k = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.winnowPairs(nullDoc, "doc_id", "text", minShared = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.winnowPairs(nullDoc, "doc_id", "text", maxFpDocFreq = 1)
    }
    assert(Dedup.winnowPairs(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("rrfFuse/topKRanking/kOccurrence: empty lists, bad params") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("q", "id", "r")
    assert(Similarity.rrfFuse(Seq(empty), "q", "id", "r").count() == 0)
    intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq.empty, "q", "id", "r")
    }
    intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq(empty), "q", "id", "r", kConst = -1)
    }
    // rank 0 / negative ranks are dropped, not folded into the sum
    val bad = Seq((0L, 1L, 0L), (0L, 2L, 1L)).toDF("q", "id", "r")
    val kept = Similarity.rrfFuse(Seq(bad), "q", "id", "r").collect()
    assert(kept.map(_.getLong(1)).toSeq == Seq(2L))
    intercept[IllegalArgumentException] {
      Similarity.topKRanking(empty, "q", "id", "r", k = 0)
    }
    // kOccurrence on an empty topk table zero-fills the whole corpus
    val corpus = Seq(1L, 2L).toDF("vec_id")
    val occ = Similarity.kOccurrence(
      Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id"), corpus,
      "vec_id")
    assert(occ.collect().map(_.getLong(1)).forall(_ == 0L))
  }

  test("rollingBacktestAssign/centroidDrift: empty, nulls, bad params") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (2L, null.asInstanceOf[java.sql.Timestamp])).toDF("event_id", "ts")
    // null ts rows vanish; nWindows=1 legal
    val out = Sampling.rollingBacktestAssign(ev, "ts", "event_id",
      "2024-01-01 00:00:00", 86400000000L * 7, 86400000000L, 86400000000L, 1)
    assert(out.collect().map(_.getLong(0)).forall(_ == 1L))
    intercept[IllegalArgumentException] {
      Sampling.rollingBacktestAssign(ev, "ts", "event_id", "2024-01-01",
        0L, 1L, 1L, 1)
    }
    intercept[IllegalArgumentException] {
      Sampling.rollingBacktestAssign(ev, "ts", "event_id", "2024-01-01",
        1L, 1L, 1L, 0)
    }
    intercept[IllegalArgumentException] {
      Sampling.rollingBacktestAssign(ev, "ts", "event_id", "2024-01-01",
        1L, 1L, 1L, 1, embargoUs = -1L)
    }
    // centroidDrift: single bucket -> one row, cos_prev null
    val one = Diagnostics.centroidDrift(
      Seq((5L, Array(1.0, 2.0))).toDF("b", "v"), "v", "b").collect()
    assert(one.length == 1 && one.head.isNullAt(2))
  }

  // ---- Linkage -----------------------------------------------------------
  test("Linkage: bad probabilities, empty fields, empty pairs") {
    intercept[IllegalArgumentException] {
      Linkage.LinkField("f", 0.0, 0.1)
    }
    intercept[IllegalArgumentException] {
      Linkage.LinkField("f", 0.9, 1.0)
    }
    val pairs = Seq((1L, true)).toDF("id", "f")
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScore(pairs, Seq.empty, 1.0, 0.0)
    }
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterScore(pairs,
        Seq(Linkage.LinkField("f", 0.9, 0.1)), upper = 0.0, lower = 1.0)
    }
    intercept[IllegalArgumentException] {
      Linkage.fellegiSunterEm(pairs.limit(0), Seq("f"))
    }
    // single pattern, all agree: EM converges without NaN and clamps
    val (fs, p) = Linkage.fellegiSunterEm(pairs, Seq("f"), iters = 5)
    assert(!p.isNaN && fs.forall(f => !f.m.isNaN && !f.u.isNaN))
  }

  // ---- KnnGraph ----------------------------------------------------------
  test("KnnGraph: empty corpus, single row, boundary params") {
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "v")
    assert(KnnGraph.nnDescent(empty, "vec_id", "v", k = 3, iterations = 1)
      .count() == 0)
    // a single row has no possible neighbor: empty graph, no throw
    val one = Seq((7L, Array(1.0, 0.0))).toDF("vec_id", "v")
    val g1 = KnnGraph.nnDescent(one, "vec_id", "v", k = 3, iterations = 2)
    assert(g1.count() == 0)
    // searching an empty graph still answers from the entry points
    val two = Seq((7L, Array(1.0, 0.0)), (8L, Array(0.9, 0.1)))
      .toDF("vec_id", "v")
    val q = two.filter(col("vec_id") === 7L)
    val found = KnnGraph.searchGraph(g1.limit(0), two, q, "vec_id", "v",
      k = 2, beam = 2, hops = 2, entries = 2)
    assert(found.count() == 1 && found.head().getAs[Long]("neighbor_id") == 8L)
    intercept[IllegalArgumentException] {
      KnnGraph.nnDescent(two, "vec_id", "v", k = 0)
    }
    intercept[IllegalArgumentException] {
      KnnGraph.nnDescent(two, "vec_id", "v", k = 3, sampleRate = 0.0)
    }
    intercept[IllegalArgumentException] {
      KnnGraph.searchGraph(g1, two, q, "vec_id", "v", k = 2, beam = 0)
    }
  }

  // ---- AsOfJoin ----------------------------------------------------------
  test("AsOfJoin: empty right side yields null payloads") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("k", "ts")
    val r = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("k", "ts", "x")
    val out = AsOfJoin.backward(l, r, Seq("k"), "ts", Seq("x"))
    assert(out.count() == 1)
    assert(out.head().isNullAt(out.columns.indexOf("right_x")))
  }
}
