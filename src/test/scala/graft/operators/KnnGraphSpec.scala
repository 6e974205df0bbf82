package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ListenerBus, Pins}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.SparkSpec

/** NN-Descent k-NN graph + graph-routed beam search ([[KnnGraph]]):
  * recall vs the exact brute-force graph on planted clusters, the
  * by-construction invariants (degree cap, dense ranks, no self
  * edges, determinism), per-iteration monotonicity, and the
  * adversarial shapes (hub node, n <= k, zero vectors, singleton
  * init buckets).
  */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  /** `nClusters` tight clusters of `perCluster` unit-ish vectors in
    * `dims` dims: member j of cluster c = basis(c) + small seeded
    * jitter, so in-cluster cosine >> cross-cluster cosine.
    */
  private def clustered(nClusters: Int, perCluster: Int,
                        dims: Int): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = for (c <- 0 until nClusters; j <- 0 until perCluster) yield {
      val v = Array.tabulate(dims) { d =>
        (if (d == c) 1.0 else 0.0) + 0.05 * rnd.nextGaussian()
      }
      (c.toLong * perCluster + j, v)
    }
    rows.toDF("vec_id", "v")
  }

  private def recallVsExact(ann: DataFrame, exact: DataFrame): Double = {
    val hits = ann.select(col("id").as("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id")).count()
    hits.toDouble / exact.count()
  }

  test("nnDescent recovers the exact graph on planted clusters") {
    val df = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 5, iterations = 3)
    val exact = Similarity.bruteForceTopK(df, df, "vec_id", "v", k = 5)
    assert(recallVsExact(g, exact) >= 0.95)
  }

  test("recall is non-decreasing per NN-Descent iteration") {
    val df = clustered(nClusters = 8, perCluster = 12, dims = 10)
    val exact = Similarity.bruteForceTopK(df, df, "vec_id", "v", k = 5)
    val recalls = (0 to 2).map { it =>
      recallVsExact(
        KnnGraph.nnDescent(df, "vec_id", "v", k = 5, iterations = it,
          earlyStop = false), exact)
    }
    assert(recalls(0) <= recalls(1) + 1e-12 && recalls(1) <= recalls(2) + 1e-12,
      recalls.toString)
    assert(recalls(2) > recalls(0), recalls.toString)
  }

  test("graph invariants: degree <= k, dense ranks, no self edges, no dup neighbors") {
    val df = clustered(nClusters = 5, perCluster = 9, dims = 6)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 4, iterations = 2)
      .cache()
    assert(g.filter(col("id") === col("neighbor_id")).isEmpty)
    val perNode = g.groupBy("id").agg(
      count(lit(1)).as("deg"),
      countDistinct("neighbor_id").as("ndn"),
      max("rank").as("maxr"),
      countDistinct("rank").as("ndr"))
    assert(perNode.filter(col("deg") > 4).isEmpty)
    assert(perNode.filter(col("ndn") =!= col("deg")).isEmpty)
    assert(perNode.filter(col("maxr") =!= col("deg") ||
      col("ndr") =!= col("deg")).isEmpty)
    // every node has an entry (init singletons get filled by reverse edges)
    assert(perNode.count() === df.count())
    g.unpersist()
  }

  test("deterministic: two runs produce the identical edge set") {
    val df = clustered(nClusters = 4, perCluster = 8, dims = 6)
    def run() = KnnGraph.nnDescent(df, "vec_id", "v", k = 3, iterations = 2)
      .select("id", "neighbor_id", "rank")
    assert(run().exceptAll(run()).isEmpty)
    assert(run().count() > 0)
  }

  test("n <= k+1: every node links to all others") {
    val df = clustered(nClusters = 1, perCluster = 3, dims = 4)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 5, iterations = 2)
    assert(g.count() === 3L * 2) // complete digraph on 3 nodes
  }

  test("zero vectors don't crash and score 0 against everything") {
    val df = Seq(
      (0L, Array(0.0, 0.0, 0.0)),
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0))).toDF("vec_id", "v")
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 2, iterations = 2)
    val zeroEdges = g.filter(col("id") === 0L).collect()
    assert(zeroEdges.forall(_.getAs[Double]("cosine") == 0.0))
  }

  test("hub node: maxReverse caps candidate growth but hub stays reachable") {
    // one vector near-identical to everything (a hub) + 3 clusters
    val base = clustered(nClusters = 3, perCluster = 8, dims = 4)
    val hub = Seq((999L, Array(0.5, 0.5, 0.5, 0.5))).toDF("vec_id", "v")
    val df = base.unionByName(hub)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 3, iterations = 3,
      maxReverse = 2)
    assert(g.filter(col("id") === 999L).count() === 3)
  }

  test("searchGraph matches brute force on planted clusters") {
    // the adversarial shape for graph serving: tight well-separated
    // clusters make the k-NN graph DISCONNECTED, so this passes only
    // because the small-world bridges connect it (see the bridge test)
    val df = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 6, iterations = 3)
    val q = df.filter(col("vec_id") < 6)
    val found = KnnGraph.searchGraph(g, df, q, "vec_id", "v", k = 3,
      beam = 6, hops = 5, entries = 3)
    val exact = Similarity.bruteForceTopK(df, q, "vec_id", "v", k = 3)
    val hits = found.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    assert(hits.toDouble / exact.count() >= 0.8)
    // shape: dense ranks, no self matches
    assert(found.filter(col("query_id") === col("neighbor_id")).isEmpty)
    val shape = found.groupBy("query_id").agg(max("rank").as("m"),
      count(lit(1)).as("c"))
    assert(shape.filter(col("m") =!= col("c") || col("c") > 3).isEmpty)
  }

  test("bridges are what connect a clustered k-NN graph (flaw pinned)") {
    // without bridges, a beam walk cannot leave the entry points'
    // clusters: recall collapses for queries in unreached clusters.
    // This pins WHY bridgeRounds exists — if a future change makes the
    // no-bridge run pass, the planted shape stopped being adversarial
    // and the bridge layer needs a new justification.
    val df = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 6, iterations = 3)
    val q = df.filter(col("vec_id") < 6)
    val exact = Similarity.bruteForceTopK(df, q, "vec_id", "v", k = 3)
    def recall(bridgeRounds: Int): Double = {
      val found = KnnGraph.searchGraph(g, df, q, "vec_id", "v", k = 3,
        beam = 6, hops = 5, entries = 3, bridgeRounds = bridgeRounds)
      found.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id")).count().toDouble / exact.count()
    }
    assert(recall(0) < recall(3), s"${recall(0)} vs ${recall(3)}")
  }

  test("graph-dedup composition: planted copies cluster via graph edges") {
    // the graph as a near-dup candidate generator: nnDescent edges above
    // a cosine threshold feed the existing CC/dedup machinery
    // (Dedup.dedupClusters) — planted exact copies (identical vectors,
    // cosine 1.0 edges) must land in their original's component.
    // Measured on the driver embeddings: 500/500, 1998/2000, 19988/20000
    // recovered at sf0.01/sf0.1/sf1 (k=20, 3 rounds). Approximate by
    // construction — a copy pair is missed only if it is never scored
    // (a scored exact copy is cosine 1.0, always kept) — so k must
    // give the neighborhoods room: k >= cluster size recovers all
    // planted pairs here (k=6 on 16-member merged clusters left 2 of
    // 40 unscored).
    val base = clustered(nClusters = 5, perCluster = 8, dims = 6)
    val dup = base.unionByName(base.select(
      (col("vec_id") + 1000L).as("vec_id"), col("v")))
    val g = KnnGraph.nnDescent(dup, "vec_id", "v", k = 10, iterations = 3)
    val pairs = g.filter(col("cosine") >= 0.999)
      .select(col("id").as("id_a"), col("neighbor_id").as("id_b"))
    val comps = Dedup.dedupClusters(dup.select("vec_id"), "vec_id", pairs)
      .select(col("vec_id"), col("component"))
    val recovered = comps.filter(col("vec_id") < 1000L)
      .join(comps.filter(col("vec_id") >= 1000L)
          .select((col("vec_id") - 1000L).as("vec_id"),
            col("component").as("comp_copy")), Seq("vec_id"))
      .filter(col("component") === col("comp_copy")).count()
    assert(recovered === base.count())
    // canonical member of each duplicate cluster is its min id
    assert(comps.groupBy("component").agg(min("vec_id").as("m"))
      .filter(col("m") =!= col("component")).isEmpty)
  }

  test("insertIncremental: a new batch joins the graph without a rebuild") {
    // build on 5 of 6 clusters, insert the 6th as a disjoint-id batch
    val all = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val corpus = all.filter(col("vec_id") < 50)
    val batch = all.filter(col("vec_id") >= 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 6, iterations = 3)
    val g2 = KnnGraph.insertIncremental(g, corpus, batch, "vec_id", "v",
      k = 6).cache()
    // every node (old and new) has a k-list; invariants hold
    assert(g2.select("id").distinct().count() === 60)
    assert(g2.filter(col("id") === col("neighbor_id")).isEmpty)
    assert(g2.groupBy("id").count().filter(col("count") > 6).isEmpty)
    // inserted cluster members find each other: their top-5 vs exact
    val full = corpus.unionByName(batch)
    val exact = Similarity.bruteForceTopK(full, batch, "vec_id", "v", k = 5)
    val hits = g2.filter(col("id") >= 10000L && col("rank") <= 5)
      .select(col("id").as("query_id"), col("neighbor_id"))
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    assert(hits.toDouble / exact.count() >= 0.9, s"$hits / ${exact.count()}")
    // affected OLD nodes admit strictly-better new arrivals: at least one
    // old node now lists a new id (clusters overlap via the hub-free
    // planted geometry only within the batch's own cluster, so check >= 0
    // structurally and determinism instead)
    val again = KnnGraph.insertIncremental(g, corpus, batch, "vec_id", "v",
      k = 6)
    assert(g2.select("id", "neighbor_id", "rank").exceptAll(
      again.select("id", "neighbor_id", "rank")).isEmpty)
    g2.unpersist()
    // empty batch: edge set unchanged
    val g3 = KnnGraph.insertIncremental(g, corpus, batch.limit(0),
      "vec_id", "v", k = 6)
    assert(g3.select("id", "neighbor_id").exceptAll(
      g.select("id", "neighbor_id")).isEmpty)
    assert(g3.count() === g.count())
  }

  test("init coverage is deterministic: singleton-bucket nodes still get edges") {
    // k=1 + one init round puts nodes into expected-size-2 buckets:
    // ~e^-2 of them land ALONE (deterministic for fixed ids/seed — the
    // precondition below asserts the fixture really is adversarial).
    // Before r12's rescue star such nodes entered the descent with zero
    // edges and stayed invisible forever (r11 ADVICE, medium): reverse
    // edges require someone already pointing at the node.
    val df = clustered(nClusters = 10, perCluster = 10, dims = 6)
    val nBuckets = 100L / 2L // the operator's formula: n / max(2, k+1)
    val buckets = df.select(col("vec_id"),
      pmod(xxhash64(col("vec_id"), lit(42), lit(0)), lit(nBuckets)).as("b"))
    val singles = buckets.groupBy("b").count().filter(col("count") === 1)
    val nIso = buckets.join(singles, Seq("b"), "left_semi").count()
    assert(nIso > 0, "fixture no longer adversarial: no singleton init bucket")
    // iterations = 0 isolates the init stage: coverage must already hold
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 1, iterations = 0,
      initRounds = 1)
    assert(g.select("id").distinct().count() === 100)
  }

  test("non-integral id columns fail loudly in every entry point") {
    val sdf = Seq(("a", Array(1.0, 0.0)), ("b", Array(0.9, 0.1)))
      .toDF("vec_id", "v")
    val ldf = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)))
      .toDF("vec_id", "v")
    val g = KnnGraph.nnDescent(ldf, "vec_id", "v", k = 1, iterations = 1)
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(KnnGraph.nnDescent(sdf, "vec_id", "v", k = 1))
      .contains("integral"))
    assert(msg(KnnGraph.searchGraph(g, sdf, sdf, "vec_id", "v", k = 1))
      .contains("integral"))
    assert(msg(KnnGraph.graphIndex(g, sdf, "vec_id", "v"))
      .contains("integral"))
    assert(msg(KnnGraph.insertIncremental(g, ldf, sdf, "vec_id", "v", k = 1))
      .contains("integral"))
    val idx = KnnGraph.graphIndex(g, ldf, "vec_id", "v")
    assert(msg(KnnGraph.searchGraphIndexed(idx, sdf, "vec_id", "v", k = 1))
      .contains("integral"))
  }

  test("insertIncremental rejects overlapping batch ids") {
    val df = clustered(nClusters = 3, perCluster = 8, dims = 6)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 3, iterations = 1)
    val ex = intercept[IllegalArgumentException] {
      KnnGraph.insertIncremental(g, df, df.limit(2), "vec_id", "v", k = 3)
    }
    assert(ex.getMessage.contains("overlap"))
    // validateIds = false skips the probe (caller-guaranteed disjointness)
    val batch = df.limit(2).select((col("vec_id") + 5000L).as("vec_id"), col("v"))
    assert(KnnGraph.insertIncremental(g, df, batch, "vec_id", "v", k = 3,
      validateIds = false).count() > 0)
  }

  test("graphIndex round trip: indexed search is bit-identical to one-shot") {
    val df = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 6, iterations = 2)
    val q = df.filter(col("vec_id") < 6)
    val oneShot = KnnGraph.searchGraph(g, df, q, "vec_id", "v", k = 3,
      beam = 6, hops = 4, entries = 3)
    val idx = KnnGraph.graphIndex(g, df, "vec_id", "v", entries = 3)
    // index shape: one row per corpus vector; self-describing bridge
    // params ride in-table (r13: the asset carries its own bucket rule)
    assert(idx.count() === df.count())
    assert(idx.filter(col("is_entry")).count() === 3)
    assert(idx.columns.toSet === Set("id", "nv", "knn", "bridges",
      "is_entry", "bridge_mod", "bridge_rounds", "bridge_seed"))
    assert(idx.select("bridge_mod").head.getLong(0) === df.count() / 2)
    val dir = java.nio.file.Files.createTempDirectory("gidx").toFile
    try {
      idx.write.mode("overwrite").parquet(dir.getAbsolutePath)
      val loaded = spark.read.parquet(dir.getAbsolutePath)
      val viaIndex = KnnGraph.searchGraphIndexed(loaded, q, "vec_id", "v",
        k = 3, beam = 6, hops = 4)
      // bit-identical both directions, cosine included (exceptAll is
      // exact-equality set difference)
      assert(viaIndex.count() > 0)
      assert(viaIndex.exceptAll(oneShot).isEmpty)
      assert(oneShot.exceptAll(viaIndex).isEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("insert refinement: refined recall >= beam-placement recall") {
    // the r11 rebuild-parity measurement promoted to a pinned claim:
    // refine rounds can only improve the inserted nodes' k-lists
    // (monotone top-k merges), so recall vs exact must not drop.
    val all = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val corpus = all.filter(col("vec_id") < 50)
    val batch = all.filter(col("vec_id") >= 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 6, iterations = 3)
    val full = corpus.unionByName(batch)
    val exact = Similarity.bruteForceTopK(full, batch, "vec_id", "v", k = 5)
      .cache()
    def recallOf(refine: Int): Double = {
      val g2 = KnnGraph.insertIncremental(g, corpus, batch, "vec_id", "v",
        k = 6, refineRounds = refine)
      g2.filter(col("id") >= 10000L && col("rank") <= 5)
        .select(col("id").as("query_id"), col("neighbor_id"))
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id")).count().toDouble / exact.count()
    }
    val beamOnly = recallOf(0)
    val refined = recallOf(3)
    assert(refined >= beamOnly - 1e-12, s"$refined vs $beamOnly")
    exact.unpersist()
  }

  test("servingBudget grows monotonically with corpus size, floors intact") {
    val pts = Seq(1L, 100L, 500L, 2000L, 20000L, 50000L, 1000000L)
      .map(KnnGraph.servingBudget)
    for (Seq((b1, h1, e1), (b2, h2, e2)) <- pts.sliding(2)) {
      assert(b1 <= b2 && h1 <= h2 && e1 <= e2, s"$pts not monotone")
    }
    for ((b, h, e) <- pts) assert(b >= 8 && h >= 3 && e >= 4)
    // the calibrated operating points (doc examples stay honest)
    assert(KnnGraph.servingBudget(500) === ((8, 4, 4)))
    assert(KnnGraph.servingBudget(50000) === ((20, 10, 10)))
  }

  test("indexGraph recovers the built graph bit-identically from the index") {
    val df = clustered(nClusters = 5, perCluster = 8, dims = 6)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 4, iterations = 2)
    val idx = KnnGraph.graphIndex(g, df, "vec_id", "v")
    val back = KnnGraph.indexGraph(idx)
    assert(back.exceptAll(g).isEmpty && g.exceptAll(back).isEmpty)
    assert(back.count() > 0)
  }

  test("insertIncrementalIndexed ≡ insertIncremental bit-identically on the merged graph") {
    // the r13 headline pin: the index-native insert is a COST
    // reformulation (front re-rank, no corpus renormalize/bridge
    // rebuild), never a semantic one — its merged
    // graph must match the one-shot path edge for edge, cosine for
    // cosine, at every refine depth
    val all = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val corpus = all.filter(col("vec_id") < 50)
    val batch = all.filter(col("vec_id") >= 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val n = corpus.count()
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 6, iterations = 2)
      .localCheckpoint(true)
    val idx = KnnGraph.graphIndex(g, corpus, "vec_id", "v", corpusCount = n)
      .localCheckpoint(true)
    for (refine <- Seq(0, 2)) {
      val direct = KnnGraph.insertIncremental(g, corpus, batch, "vec_id",
        "v", k = 6, refineRounds = refine, corpusCount = n)
      val viaIdx = Pins.scoped(pins => KnnGraph.indexGraph(KnnGraph.insertIndexedDelta(
        pins, idx, batch, "vec_id", "v", k = 6, beam = 8, hops = 3,
        refineRounds = refine, maxReverse = 0, seed = 42,
        validateIds = true)._1))
      assert(viaIdx.exceptAll(direct).isEmpty &&
        direct.exceptAll(viaIdx).isEmpty, s"refine=$refine diverged")
    }
    // empty batch is the identity on the asset
    val same = KnnGraph.insertIncrementalIndexed(idx, batch.limit(0),
      "vec_id", "v", k = 6)
    assert(same.exceptAll(idx).isEmpty && idx.exceptAll(same).isEmpty)
    // overlapping ids fail loudly (same contract as the one-shot path)
    val ex = intercept[IllegalArgumentException] {
      KnnGraph.insertIncrementalIndexed(idx, corpus.limit(2), "vec_id",
        "v", k = 6)
    }
    assert(ex.getMessage.contains("overlap"))
  }

  test("insertIncrementalIndexed: new nodes get bridges and become searchable") {
    // a whole NEW well-separated cluster arrives: without bridge
    // maintenance the inserted cluster is reachable only through
    // admitted reverse edges, which the planted geometry suppresses —
    // bucket-hub attachment is what lets a walk from old entries in
    val all = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val corpus = all.filter(col("vec_id") < 50)
    val batch = all.filter(col("vec_id") >= 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 6, iterations = 3)
    val idx = KnnGraph.graphIndex(g, corpus, "vec_id", "v", entries = 3)
    val idx2 = KnnGraph.insertIncrementalIndexed(idx, batch, "vec_id", "v",
      k = 6, refineRounds = 2).localCheckpoint(true)
    assert(idx2.count() === 60)
    // every new node carries at least one bridge (60 nodes hash into
    // ~25 occupied buckets over 3 rounds; an all-singleton draw would
    // break determinism assumptions elsewhere first)
    val newRows = idx2.filter(col("id") >= 10000L)
    assert(newRows.filter(size(col("bridges")) > 0).count() > 0)
    // batch params persisted unchanged
    assert(idx2.select("bridge_mod").distinct().count() === 1)
    // queries FROM the new cluster resolve to their own cluster mates
    val q = batch.filter(col("vec_id") < 10053L)
    val full = corpus.unionByName(batch)
    val exact = Similarity.bruteForceTopK(full, q, "vec_id", "v", k = 3)
    val found = KnnGraph.searchGraphIndexed(idx2, q, "vec_id", "v", k = 3,
      beam = 6, hops = 5)
    val hits = found.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    assert(hits.toDouble / exact.count() >= 0.7, s"$hits/${exact.count()}")
  }

  test("insertIndexedDelta changed rows are exactly the rows that differ") {
    // the overlay contract GraphInsertState builds on: changed ⊆
    // updated; updated minus changed-ids is bit-identical to the input
    // index (untouched rows pass through); base∖changed ∪ changed ≡
    // updated; and no changed old row equals its input row (the overlay
    // holds only rows that differ, although the refine round re-emits
    // every node)
    val all = clustered(nClusters = 5, perCluster = 8, dims = 6)
    val corpus = all.filter(col("vec_id") < 32)
    val batch = all.filter(col("vec_id") >= 32)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 4, iterations = 2)
    val idx = KnnGraph.graphIndex(g, corpus, "vec_id", "v")
      .localCheckpoint(true)
    // both frames are materialized inside the scope that owns the insert's pins
    val (updated, changed) = Pins.scoped { pins =>
      val (updated0, changed0) = KnnGraph.insertIndexedDelta(pins, idx, batch,
        "vec_id", "v", k = 4, beam = 8, hops = 3, refineRounds = 1,
        maxReverse = 0, seed = 42, validateIds = true)
      (updated0.localCheckpoint(true), changed0.localCheckpoint(true))
    }
    assert(changed.exceptAll(updated).isEmpty) // changed ⊆ updated
    val changedIds = changed.select("id").distinct()
    val untouched = updated.join(changedIds, Seq("id"), "left_anti")
    val untouchedInput = idx.join(changedIds, Seq("id"), "left_anti")
    assert(untouched.exceptAll(untouchedInput).isEmpty &&
      untouchedInput.exceptAll(untouched).isEmpty)
    val composed = idx.join(changedIds, Seq("id"), "left_anti")
      .unionByName(changed)
    assert(composed.exceptAll(updated).isEmpty &&
      updated.exceptAll(composed).isEmpty)
    val changedOld = changed.join(idx.select("id"), Seq("id"), "left_semi")
    assert(changedOld.count() > 0)
    val sameAsInput = changedOld.intersectAll(idx).count()
    assert(sameAsInput === 0, s"$sameAsInput changed old rows equal their input rows")
  }

  test("the index writes run in a bounded number of Spark jobs") {
    // the graph pins follow the one pin rule: a frame read once, or a
    // projection of an input, is not pinned. On this index the build
    // runs 40 jobs (42 before its node table took one aggregate), the
    // insert 64 and the delete 34; with a pin on every projection and
    // on the pooled heal chains the insert and the delete ran 102 and 48,
    // and with a per-round choice between a front-bounded delta round and
    // the full round, and the row counts that choice read, 70 and 40.
    // The insert's count is exact: its front-bounded joins are broadcast
    // from the plan's start, so no stage job depends on the order in
    // which adaptive execution sees concurrent stages finish.
    val all = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val corpus = all.filter(col("vec_id") < 50)
    val batch = all.filter(col("vec_id") >= 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val sc = spark.sparkContext
    var idx: DataFrame = null
    val buildJobs = ListenerBus.countJobs(sc) {
      val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 6, iterations = 2)
      idx = KnnGraph.graphIndex(g, corpus, "vec_id", "v", entries = 3)
        .localCheckpoint(true)
    }
    assert(buildJobs <= 42, s"build: $buildJobs jobs")
    val insertJobs = ListenerBus.countJobs(sc) {
      KnnGraph.insertIncrementalIndexed(idx, batch, "vec_id", "v", k = 6,
        refineRounds = 3, corpusCount = 50).localCheckpoint(true)
    }
    assert(insertJobs <= 64, s"insert: $insertJobs jobs")
    val removeJobs = ListenerBus.countJobs(sc) {
      KnnGraph.removeIds(idx, (0L until 10L).toDF("vec_id"), "vec_id", k = 6,
        healRounds = 1, corpusCount = 50).localCheckpoint(true)
    }
    assert(removeJobs <= 34, s"removeIds: $removeJobs jobs")
  }

  test("an indexed search runs two Spark jobs plus one per hop") {
    // the walk runs on the driver: one collect of the queries, one of
    // the entry rows, then one filtered collect of the nodes each hop
    // reached first: 5 jobs at 3 hops.
    // One query, so every hop reaches nodes no earlier hop fetched.
    val df = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 6, iterations = 2)
    val idx = KnnGraph.graphIndex(g, df, "vec_id", "v", entries = 3)
      .localCheckpoint(true)
    val q = df.filter(col("vec_id") === 0L).localCheckpoint(true)
    val sc = spark.sparkContext
    def jobs(hops: Int): Int = ListenerBus.countJobs(sc) {
      KnnGraph.searchGraphIndexed(idx, q, "vec_id", "v", k = 5, beam = 2,
        hops = hops).collect()
    }
    val perHops = (1 to 3).map(jobs)
    assert(perHops(2) <= 6, s"jobs at hops 1-3: $perHops")
    assert(perHops(1) - perHops(0) === 1 && perHops(2) - perHops(1) === 1,
      s"jobs at hops 1-3: $perHops")
  }

  test("removeIds: deleted ids vanish everywhere; survivors heal and stay searchable") {
    val df = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 6, iterations = 3)
    val idx = KnnGraph.graphIndex(g, df, "vec_id", "v", entries = 3)
      .localCheckpoint(true)
    // delete one whole cluster (50..59) + one scattered member (7)
    val delSet = 7L +: (50L to 59L)
    val after = KnnGraph.removeIds(idx, delSet.toDF("vec_id"), "vec_id",
      k = 6).localCheckpoint(true)
    assert(after.count() === 49)
    assert(after.filter(col("id").isin(delSet: _*)).isEmpty)
    assert(after.select(explode(col("knn")).as("e"))
      .filter(col("e.nbr").isin(delSet: _*)).isEmpty)
    assert(after.select(explode(col("bridges")).as("b"))
      .filter(col("b").isin(delSet: _*)).isEmpty)
    // amputated survivors healed: everyone keeps a k-list (the scattered
    // deletion cut edges into many nodes; heal candidates re-fill)
    assert(after.filter(size(col("knn")) === 0).isEmpty)
    // survivor search ~ fresh-rebuild quality on the planted shape, and
    // deleted ids never surface
    val survivors = df.filter(!col("vec_id").isin(delSet: _*))
    val q = survivors.filter(col("vec_id") < 6)
    val exact = Similarity.bruteForceTopK(survivors, q, "vec_id", "v", k = 3)
      .localCheckpoint(true)
    def recallOf(index: org.apache.spark.sql.DataFrame): Double = {
      val found = KnnGraph.searchGraphIndexed(index, q, "vec_id", "v",
        k = 3, beam = 6, hops = 5)
      assert(found.filter(col("neighbor_id").isin(delSet: _*)).isEmpty)
      found.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id")).count().toDouble / exact.count()
    }
    val healed = recallOf(after)
    val fresh = recallOf(KnnGraph.graphIndex(
      KnnGraph.nnDescent(survivors, "vec_id", "v", k = 6, iterations = 3),
      survivors, "vec_id", "v", entries = 3))
    assert(healed >= fresh - 0.1, s"healed $healed vs fresh $fresh")
    // delete + re-insert round trip: the removed vectors come back
    val back = KnnGraph.insertIncrementalIndexed(after,
      df.filter(col("vec_id").isin(delSet: _*)), "vec_id", "v", k = 6,
      refineRounds = 2)
    assert(back.count() === 60)
    assert(KnnGraph.indexGraph(back).select("id").distinct().count() === 60)
    // absent ids are idempotent tombstone replays
    val again = KnnGraph.removeIds(after, Seq(777777L).toDF("vec_id"),
      "vec_id", k = 6)
    assert(again.exceptAll(after).isEmpty && after.exceptAll(again).isEmpty)
  }

  test("removeIds re-elects entry points by replaying the build rule over survivors") {
    val df = clustered(nClusters = 4, perCluster = 10, dims = 6)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 4, iterations = 2)
    val idx = KnnGraph.graphIndex(g, df, "vec_id", "v", entries = 3)
      .localCheckpoint(true)
    val anEntry = idx.filter(col("is_entry")).select("id").head.getLong(0)
    val after = KnnGraph.removeIds(idx, Seq(anEntry).toDF("vec_id"),
      "vec_id", k = 4).localCheckpoint(true)
    assert(after.filter(col("is_entry")).count() === 3)
    // the surviving entry set IS the build rule replayed over survivors
    val expected = df.filter(col("vec_id") =!= anEntry).select(
        col("vec_id").as("id"))
      .orderBy(xxhash64(col("id"), lit(42)), col("id")).limit(3)
      .collect().map(_.getLong(0)).toSet
    assert(after.filter(col("is_entry")).select("id")
      .collect().map(_.getLong(0)).toSet === expected)
    // deleting a non-entry leaves the entry set untouched
    val nonEntry = idx.filter(!col("is_entry")).select("id").head.getLong(0)
    val after2 = KnnGraph.removeIds(idx, Seq(nonEntry).toDF("vec_id"),
      "vec_id", k = 4)
    assert(after2.filter(col("is_entry")).select("id").collect()
      .map(_.getLong(0)).toSet ===
      idx.filter(col("is_entry")).select("id").collect()
        .map(_.getLong(0)).toSet)
  }

  test("compactIndex re-bakes scaffolding, preserves nv/knn bit-identically") {
    val all = clustered(nClusters = 6, perCluster = 10, dims = 8)
    val corpus = all.filter(col("vec_id") < 40)
    val batch = all.filter(col("vec_id") >= 40)
      .select((col("vec_id") + 10000L).as("vec_id"), col("v"))
    val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 5, iterations = 2)
    val idx = KnnGraph.graphIndex(g, corpus, "vec_id", "v", entries = 3)
    val grown = KnnGraph.insertIncrementalIndexed(idx, batch, "vec_id",
      "v", k = 5, refineRounds = 1).localCheckpoint(true)
    val compact = KnnGraph.compactIndex(grown).localCheckpoint(true)
    assert(compact.count() === grown.count())
    // the expensive parts never move: vectors and k-NN edges bit-equal
    val a = grown.select("id", "nv", "knn")
    val b = compact.select("id", "nv", "knn")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the scaffolding re-bakes: modulus reflects the CURRENT n, entry
    // count is preserved, and search over the compacted asset works
    assert(compact.select("bridge_mod").head.getLong(0) === 60L / 2)
    assert(compact.filter(col("is_entry")).count() === 3)
    val q = all.filter(col("vec_id") < 3)
    val found = KnnGraph.searchGraphIndexed(compact, q, "vec_id", "v",
      k = 3, beam = 6, hops = 5)
    assert(found.select("query_id").distinct().count() === 3)
  }

  test("foreign index tables fail loudly on schema drift") {
    // a hand-built index with string ids (the silent null-cast vanish
    // class, r12 ADVICE): every index consumer must reject it
    val bad = Seq(("a", Array(1.0), Array(("b", 0.5)), Array("b"), true,
        1L, 3, 42))
      .toDF("id", "nv", "knn", "bridges", "is_entry", "bridge_mod",
        "bridge_rounds", "bridge_seed")
    val ldf = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)))
      .toDF("vec_id", "v")
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(KnnGraph.searchGraphIndexed(bad, ldf, "vec_id", "v", k = 1))
      .contains("integral"))
    assert(msg(KnnGraph.insertIncrementalIndexed(bad, ldf, "vec_id", "v",
      k = 1)).contains("integral"))
    assert(msg(KnnGraph.removeIds(bad, ldf, "vec_id", k = 1))
      .contains("integral"))
    assert(msg(KnnGraph.indexGraph(bad)).contains("integral"))
    assert(msg(KnnGraph.compactIndex(bad)).contains("integral"))
    // a long-id table missing the bridge params is just as foreign
    val g = KnnGraph.nnDescent(ldf, "vec_id", "v", k = 1, iterations = 1)
    val noParams = KnnGraph.graphIndex(g, ldf, "vec_id", "v")
      .drop("bridge_mod")
    assert(msg(KnnGraph.searchGraphIndexed(noParams, ldf, "vec_id", "v",
      k = 1)).contains("bridge_mod"))
  }

  /** Search-parity fixture: 24 vectors in 3 jittered axis clusters
    * with two duplicate pairs (4 = 3, 13 = 12), a k=3 graph, and four
    * queries: the zero vector (100), an index member that must drop
    * out as self (3, also an entry point, whose duplicate 4 scores
    * exactly 1.0), a duplicate of node 3 (101, a tie at 1.0) and a
    * free vector (102). Returns (corpus, queries, graph).
    */
  private def parityFixture(): (DataFrame, DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(11)
    val base = (for (c <- 0 until 3; j <- 0 until 8) yield {
      val v = Array.tabulate(4)(d =>
        (if (d == c) 1.0 else 0.0) + 0.2 * rnd.nextGaussian())
      (c.toLong * 8 + j, v)
    }).toMap
    val rows = base.toSeq.sortBy(_._1).map { case (id, v) =>
      (id, if (id == 4L) base(3L) else if (id == 13L) base(12L) else v)
    }
    val corpus = rows.toDF("vec_id", "v")
    val queries = Seq(
      (100L, Array(0.0, 0.0, 0.0, 0.0)),
      (3L, base(3L)),
      (23L, base(23L)),
      (101L, base(3L)),
      (102L, Array(0.3, 0.3, 1.0, 0.1))).toDF("vec_id", "v")
    (corpus, queries, KnnGraph.nnDescent(corpus, "vec_id", "v", k = 3,
      iterations = 2))
  }

  test("graph search returns the exact rows on ties, zero, self, absent and short-visit cases") {
    // the rows the distributed hop loop returned, pinned literally: a
    // change of search formulation must reproduce them bit for bit
    val (corpus, queries, g0) = parityFixture()
    val idx0 = KnnGraph.graphIndex(g0, corpus, "vec_id", "v", entries = 2)
    val entries = idx0.filter(col("is_entry")).select("id").as[Long]
      .collect().sorted.toSeq
    assert(entries === Seq(3L, 23L))
    // both walks reach id 999 from every entry point at hop 1; it is in
    // neither the corpus nor the index, so it is never scored
    val g = g0.unionByName(entries.map(e => (e, 999L, 0.5, 4))
      .toDF("id", "neighbor_id", "cosine", "rank"))
    val idx = idx0.withColumn("bridges", when(col("is_entry"),
      array_union(col("bridges"), array(lit(999L)))).otherwise(col("bridges")))
    def expected(perQuery: Seq[(Long, Seq[(Long, Double)])]): DataFrame =
      perQuery.flatMap { case (q, ns) =>
        ns.zipWithIndex.map { case ((n, c), i) => (q, n, c, i + 1) }
      }.toDF("query_id", "neighbor_id", "cosine", "rank")
    // beam 2, two hops: every query fills k = 6
    val twoHops = expected(Seq(
      3L -> Seq(4L -> 1.0, 1L -> 0.9666511786559496, 2L -> 0.949080212033754,
        0L -> 0.8784614682480154, 7L -> 0.8780853269934226,
        6L -> 0.8088234589512131),
      23L -> Seq(20L -> 0.9957902228694758, 16L -> 0.9802006585069223,
        22L -> 0.9561139964933524, 21L -> 0.8847258470813439,
        17L -> 0.8837554894585355, 9L -> 0.0304878450332472),
      100L -> Seq(0L -> 0.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0,
        5L -> 0.0),
      101L -> Seq(3L -> 1.0, 4L -> 1.0, 1L -> 0.9666511786559496,
        2L -> 0.949080212033754, 0L -> 0.8784614682480154,
        7L -> 0.8780853269934226),
      102L -> Seq(17L -> 0.951927711951548, 21L -> 0.9393173221930746,
        22L -> 0.880408404254487, 20L -> 0.864875471445061,
        16L -> 0.828471041147381, 23L -> 0.8177689173292112)))
    // one hop, k = 30: every query returns all it visited, fewer than k
    val oneHop = expected(Seq(
      3L -> Seq(4L -> 1.0, 1L -> 0.9666511786559496, 0L -> 0.8784614682480154,
        6L -> 0.8088234589512131, 11L -> 0.7002222466579583,
        9L -> 0.5275800851774264, 14L -> 0.4854322605920839,
        21L -> 0.20039040758732438, 17L -> -0.09923781702204604,
        20L -> -0.19928678203137748, 23L -> -0.2673038809549561),
      23L -> Seq(20L -> 0.9957902228694758, 21L -> 0.8847258470813439,
        17L -> 0.8837554894585355, 9L -> 0.0304878450332472,
        0L -> 7.514483674623314E-4, 6L -> -0.02788750945476799,
        1L -> -0.16801084162344207, 3L -> -0.2673038809549561,
        4L -> -0.2673038809549561, 14L -> -0.40028184164915653,
        11L -> -0.5307384839828444),
      100L -> Seq(0L -> 0.0, 1L -> 0.0, 3L -> 0.0, 4L -> 0.0, 6L -> 0.0,
        9L -> 0.0, 11L -> 0.0, 14L -> 0.0, 17L -> 0.0, 20L -> 0.0,
        21L -> 0.0, 23L -> 0.0),
      101L -> Seq(3L -> 1.0, 4L -> 1.0, 1L -> 0.9666511786559496,
        0L -> 0.8784614682480154, 6L -> 0.8088234589512131,
        11L -> 0.7002222466579583, 9L -> 0.5275800851774264,
        14L -> 0.4854322605920839, 21L -> 0.20039040758732438,
        17L -> -0.09923781702204604, 20L -> -0.19928678203137748,
        23L -> -0.2673038809549561),
      102L -> Seq(17L -> 0.951927711951548, 21L -> 0.9393173221930746,
        20L -> 0.864875471445061, 23L -> 0.8177689173292112,
        9L -> 0.5578149369619534, 1L -> 0.3241168530202878,
        0L -> 0.25896604490343594, 6L -> 0.2262371361069981,
        3L -> 0.20200077058010663, 4L -> 0.20200077058010663,
        14L -> 0.09568842746694176, 11L -> 0.03135772268382807)))
    for ((k, hops, want) <- Seq((6, 2, twoHops), (30, 1, oneHop))) {
      val oneShot = KnnGraph.searchGraph(g, corpus, queries, "vec_id", "v",
        k = k, beam = 2, hops = hops, entries = 2)
      val indexed = KnnGraph.searchGraphIndexed(idx, queries, "vec_id", "v",
        k = k, beam = 2, hops = hops)
      for ((name, got) <- Seq("searchGraph" -> oneShot,
          "searchGraphIndexed" -> indexed)) {
        assert(got.schema.map(f => f.name -> f.dataType) === Seq(
          "query_id" -> LongType, "neighbor_id" -> LongType,
          "cosine" -> DoubleType, "rank" -> IntegerType), name)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"$name k=$k hops=$hops")
      }
    }
  }

  test("searchGraph determinism and k > visited degeneracy") {
    val df = clustered(nClusters = 2, perCluster = 4, dims = 4)
    val g = KnnGraph.nnDescent(df, "vec_id", "v", k = 2, iterations = 2)
    val q = df.filter(col("vec_id") === 0L)
    def run() = KnnGraph.searchGraph(g, df, q, "vec_id", "v", k = 50,
      beam = 2, hops = 2, entries = 2)
    val a = run().collect()
    val b = run().collect()
    assert(a.toSeq === b.toSeq)
    // k=50 asks for more than exist: returns at most n-1 rows, all distinct
    assert(a.length <= 7 && a.map(_.getAs[Long]("neighbor_id")).distinct.length === a.length)
  }
}
