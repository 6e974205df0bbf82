package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

import graft.functions.Met
import graft.operators._
import graft.GateHelpers._

/** Gate queries — embedding similarity: ANN indexes, PCA, centroids, mining.
  * Split from SparkEntry (r8); every entry follows the
  * determinism rules in SparkEntry's scaladoc and has a
  * DuckDB oracle twin in OraclesAnn.
  */
private[graft] object GatesAnn {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SemDeDup-style prototypicality: cosine of each embedding to its own
    // label-group centroid
    "q_centroid_score" -> ((s, dir) => {
      Similarity.centroidScore(Tables.embeddings(s, dir), "embedding", "label")
        // + 0.0 canonicalizes IEEE signed zero: at sf10 a handful of
        // orthogonal-to-centroid rows round to -0.0 here but +0.0 in the
        // DuckDB twin (bit-strict compare) — both sides canonicalize
        .select(col("vec_id"), col("label").cast("long").as("label"),
          (round(col("cos_centroid"), 5) + lit(0.0)).as("cos_centroid"))
        .orderBy("vec_id")
    }),


    // ---- similarity search -------------------------------------------------
    "q_vector_norm" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select(col("vec_id"), round(Similarity.norm(col("v")), 6).as("nrm"))
        .orderBy("vec_id")
    }),


    // JL signed random projection 64 -> 8: deterministic sign matrix from
    // the portable multiplicative mix, bit-reproducible in the oracle
    "q_random_project" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(Similarity.randomProject(col("embedding"), 64, 8))
            .as(Seq("k", "x")))
        .select(col("vec_id"), col("k"), round(col("x"), 6).as("x"))
        .orderBy("vec_id", "k")
    }),


    "q_cosine_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") < 20)
      Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 5).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),


    // hard-negative mining: most-similar non-positives by exact cosine
    "q_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val pos = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q"), (col("vec_id") + 1).as("p"))
      Similarity.hardNegatives(e, pos, "vec_id", "v", "q", "p", k = 3)
        .select(col("query_id"), col("neg_id"),
          round(col("cosine"), 5).as("cosine"),
          col("hard_rank").cast("long").as("hard_rank"))
        .orderBy("query_id", "hard_rank")
    }),


    // ranking-metrics operator: recall/precision@5 of the int8-quantized
    // cosine ranking vs the exact ranking — both rankings integer-exact in
    // both engines (cosine over the raw code arrays; per-vector scales
    // cancel), so even the METRIC table hash-matches
    "q_topk_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val truth = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "v", k = 5)
      val qd = e.withColumn("v",
          Similarity.quantizeInt8(col("v")).getField("q").cast("array<double>"))
        .select("vec_id", "v")
      val pred = Similarity.bruteForceTopK(qd, qd.filter(col("vec_id") < 20),
        "vec_id", "v", k = 5)
      Metrics.rankingOverlap(pred, truth, "query_id", "neighbor_id")
        .select(col("query").as("query_id"), col("n_pred"), col("n_truth"),
          col("n_hit"), col("recall"), col("precision"))
        .orderBy("query_id")
    }),


    // LSH-bucketed ANN — rows-only (approximate by construction)
    // Claims gate (r7, formerly rows-only). r7 retune found bits=10 gave
    // near-empty buckets at 5k vectors (chance-level recall) and pinned
    // bits=6; r9 replaces the pin with the adaptive default
    // (adaptiveLshBits: bits = ceil(log2(n/128))), which REPRODUCES 6 at
    // sf0.01's ~5k corpus and scales the operating point with n — the
    // fixed 6 gave 64 buckets at sf10's 5M vectors, candidates growing
    // with per-bucket density squared (42.6 s, 6.8x for 10x data).
    "q_lsh_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") < 20)
      // r13 opt: count the corpus once — the gate's claims and
      // lshTopK's adaptive-bits default each ran their own count job
      val n = e.count()
      val ann = Similarity.lshTopK(e, q, "vec_id", "v", k = 5,
        tables = 4, dims = 64, probeHamming = 1, corpusCount = n)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(n.toDouble), k = 5, "cosine",
        ascending = false)
    }),


    // embedding-cosine near-dup pairs, blocked by label.
    // r11: fixed 25k-vector slice (the q_hubness pattern — whole corpus at
    // sf <= 1 where max vec_id is 19999, bounded above; 25k not 50k because
    // the DuckDB twin redoes the label-blocked quadratic itself, twice —
    // measured 567 s per run at a 50k slice). The gate's pair OUTPUT is
    // quadratic in
    // replica-family size by data construction: 59.7M rows at sf10, which
    // the engine wrote in 177 s but the checker's bit-strict canon chewed
    // ~4 CPU-h on. Bounding the GATE keeps adjudication O(minutes) at
    // every scale; the operator itself is unchanged and ANN-fed in prod.
    "q_embed_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 25000)
        .withColumn("v", col("embedding").cast("array<double>"))
      Similarity.cosineNearDupPairs(e, "vec_id", "v", "label", threshold = 0.25)
        .select(col("block").cast("long").as("block"), col("id_a"), col("id_b"),
          round(col("cosine"), 5).as("cosine"))
        .orderBy("block", "id_a", "id_b")
    }),


    // IVF (KMeans-partitioned) ANN — rows-only (clustering not SQL)
    // Claims gate (r7, formerly rows-only): recall 0.65/0.75 measured at
    // sf0.01/0.1 vs the 10x-chance thresholds 0.1/0.01.
    "q_ivf_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") < 20)
      val ann = Similarity.ivfTopK(e, q, "vec_id", "v", k = 5, nlist = 8,
        nprobe = 3)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(e.count().toDouble), k = 5, "cosine",
        ascending = false)
    }),


    // SemDeDup planted-recall claims (r7, formerly rows-only): an exact
    // vector copy lands in the same kmeans cluster (identical point, same
    // nearest centroid) at cosine 1 >= threshold, so every planted
    // (vec, copy-at-id+1M) pair MUST appear in the within-cluster pairs.
    "q_semdedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      // r14 (VERDICT ask 5): twin fixture in one scan, not a self-union
      val union = withTwin(e, "vec_id", 1000000L)
      val pairs = Similarity.semDedupPairs(union, "vec_id", "v",
          threshold = 0.25, k = 8)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a").as("vec_id"), lit(true).as("__hit"))
      e.select("vec_id").join(pairs, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("__hit"), lit(false)).as("found"))
        .orderBy("vec_id")
    }),


    // Symmetric int8 embedding quantization: per-vector scale, quantized
    // checksum, and RMS reconstruction error (identical algebraic form —
    // dot(v,v) - 2s*dot(v,q) + s^2*dot(q,q) — on both engines).
    "q_quantize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("qs", Similarity.quantizeInt8(col("v")))
        .select(col("vec_id"), col("v"), col("qs.scale").as("scale"),
          col("qs.q").cast("array<double>").as("q"))
      val svv = Similarity.dot(col("v"), col("v"))
      val svq = Similarity.dot(col("v"), col("q"))
      val sqq = Similarity.dot(col("q"), col("q"))
      e.select(col("vec_id"), round(col("scale"), 6).as("scale"),
        aggregate(col("q"), lit(0.0), (a, x) => a + x).cast("long").as("q_sum"),
        round(sqrt(greatest(svv - lit(2.0) * col("scale") * svq
          + col("scale") * col("scale") * sqq, lit(0.0)) / size(col("v"))), 6).as("err"))
        .orderBy("vec_id")
    }),


    // exact second-moment (Gram) stage behind PCA — ONE fixed-size aggregate
    // regardless of row count (GramMatrixAgg). Input quantized to dyadic
    // 1/256 via floor(x*256+0.5)/256 so every product/sum is exact in any
    // accumulation order in BOTH engines (the round-5 integer-bucket
    // convention, extended to vector moments). First 8 dims gated: 36
    // product rows + 8 sum rows + the (-1,-1) count row.
    "q_embed_cov" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", transform(col("embedding"),
          x => floor(x.cast("double") * 256 + lit(0.5)) / 256))
      Pca.momentRows(e, "v", 64)
        .filter(col("i") < 8 && col("j") < 8)
        .orderBy("i", "j")
    }),


    // per-label second moments (grouped-PCA stage): one fixed-size gram
    // buffer per group, same dyadic-quantization contract as q_embed_cov
    "q_embed_cov_by_group" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", transform(col("embedding"),
          x => floor(x.cast("double") * 256 + lit(0.5)) / 256))
      Pca.momentRowsBy(e, "v", 64, "label")
        .filter(col("i") < 4 && col("j") < 4)
        .select(col("group").cast("long").as("label"), col("i"), col("j"),
          col("sxy"))
        .orderBy("label", "i", "j")
    }),


    // PCA whitened projection — rows-only (driver-side Jacobi eigensolve is
    // not SQL-expressible); PcaSpec pins eigensystem/variance/rotation
    // Claims gate (r7, formerly rows-only): rounded scores are
    // eigensolve-ulp unstable, but the CONTRACT is checkable as booleans —
    // the fitted basis is orthonormal (Jacobi property, driver-checked),
    // and whitening makes every component's population variance exactly 1
    // with mean exactly 0 (var of a projection onto a unit eigenvector IS
    // its eigenvalue; whitening divides by sqrt of it) — both within FP
    // tolerance, verified by a distributed moment pass over the output.
    "q_pca_project" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val model = Pca.fit(e, "v", 64, 8)
      val orthoErr = {
        val c = model.components
        (for (i <- c.indices; j <- i until c.length) yield {
          val dot = (0 until 64).map(t => c(i)(t) * c(j)(t)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0))
        }).max
      }
      val proj = Pca.project(e, "v", model, whiten = true)
      val aggs = (0 until 8).flatMap(j => Seq(
        sum(element_at(col("pca"), j + 1)).as(s"s$j"),
        sum(pow(element_at(col("pca"), j + 1), 2)).as(s"q$j")))
      proj.agg(count(lit(1)).as("n"), aggs: _*)
        .select(col("n"), lit(orthoErr < 1e-7).as("ortho_ok"),
          (0 until 8).map(j =>
            abs(col(s"q$j") / col("n")
              - pow(col(s"s$j") / col("n"), 2) - 1.0) < 1e-6)
            .reduce(_ && _).as("var_ok"),
          (0 until 8).map(j => abs(col(s"s$j") / col("n")) < 1e-6)
            .reduce(_ && _).as("mean_ok"))
    }),


    // IVF-PQ ANN: coarse lists prune via an equi join, PQ residual codes
    // score — rows-only (kmeans + codebooks not SQL); PqSpec pins recall
    // Claims gate (r7, formerly rows-only): recall 0.27/0.15 at
    // sf0.01/0.1 vs 10x-chance thresholds 0.1/0.01. ADC distances rank
    // ASCENDING.
    "q_ivfpq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") < 20)
      val ann = Similarity.ivfPqTopK(e, q, "vec_id", "v", k = 5, nlist = 8,
        nprobe = 3, m = 8, ksub = 16)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(e.count().toDouble), k = 5, "dist",
        ascending = true)
    }),


    // OPQ: eigenvalue-balanced rotation before PQ — rows-only (eigensolve
    // + codebooks not SQL); PqSpec pins isometry + MSE win vs plain PQ
    // Claims gate (r7): recall 0.23/0.14 at sf0.01/0.1 vs 10x-chance
    // thresholds 0.1/0.01.
    "q_opq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val model = Similarity.opqTrain(e, "v", dims = 64, m = 8, ksub = 16)
      val q = e.filter(col("vec_id") < 20)
      val ann = Similarity.opqTopK(e, q, "vec_id", "v", model, k = 5)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(e.count().toDouble), k = 5, "dist",
        ascending = true)
    }),


    // product-quantization ADC top-k — rows-only (sampled-Lloyd codebooks
    // not SQL); PqSpec pins the ADC-distance identity and cluster recall
    // Claims gate (r7): recall 0.28/0.15 at sf0.01/0.1 vs 10x-chance
    // thresholds 0.1/0.01.
    "q_pq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val model = Similarity.pqTrain(e, "v", dims = 64, m = 8, ksub = 16)
      val q = e.filter(col("vec_id") < 20)
      val ann = Similarity.pqTopK(e, q, "vec_id", "v", model, k = 5)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(e.count().toDouble), k = 5, "dist",
        ascending = true)
    }),


    // NN-Descent k-NN graph (r11): the graph-based ANN family — the
    // iterative neighbor-of-neighbor refinement builds the whole
    // corpus's k-NN graph (a reusable index asset), not just one query
    // set's answers. Claims gate on the 20-query slice of the graph's
    // rank<=5 prefix vs exact brute force. Operating point k=20/3
    // rounds: on the 64-dim weakly-clustered driver embeddings,
    // NN-Descent's neighbor-of-neighbor signal needs breadth — K=5
    // converges to only 0.29 recall@5 even at 8 rounds, while K=20
    // reaches 0.98/0.88 at sf0.01/sf0.1 in 3. Fixed 50k-vector slice:
    // whole corpus at sf <= 1, bounded above so the O(n·K²) build
    // can't dominate a sweep.
    // r12 (VERDICT ask 5): the 10x-chance bar is replaced by an
    // absolute floor at ~half the measured operating point per scale —
    // recall@5 measured 0.98 / 0.88 / 0.83 / 0.48 at n = 500 / 2k /
    // 20k / 50k — so the known-bad K=5 plateau (0.29) can no longer
    // pass at gate scales.
    "q_knn_graph" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val n = e.count()
      val ann = KnnGraph.nnDescent(e, "vec_id", "v", k = 20, iterations = 3,
          earlyStop = false, corpusCount = n)
        .filter(col("id") < 20 && col("rank") <= 5)
        .select(col("id").as("query_id"), col("neighbor_id"),
          col("cosine"), col("rank"))
      val exact = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "v", k = 5)
      // r13: 50k floor 0.20 -> 0.24, honoring the ~half-of-measured
      // convention (measured 0.48 at the 50k slice) at every scale
      val bar = if (n <= 10000) 0.45 else if (n <= 30000) 0.40 else 0.24
      annClaims(ann, exact, lit(n.toDouble), k = 5, "cosine",
        ascending = false, minRecall = bar)
    }),


    // Graph-routed beam search over the NN-Descent graph (r11): the
    // HNSW/DiskANN serving shape — entry points + expand/score/prune
    // hops; per-query work is entries + hops*beam*k, independent of
    // corpus size. Claims gate vs exact brute force on the cheaper
    // k=16/2-round graph — search re-scores everything visited
    // exactly, so it outperforms the graph's own top-5. Same 50k slice
    // bound. r12 serving-path upgrade: the gate routes through
    // graphIndex + searchGraphIndexed (bit-identical to one-shot
    // searchGraph, spec-pinned), exercising the persistable-index path
    // the deployment shape actually uses.
    // r12 bars (VERDICT ask 5) + the log-scaled serving budget: the
    // fixed (beam=8, hops=3, entries=4) budget starved as the slice
    // grew — measured recall@5 0.94 / 0.59 / 0.40 / 0.17 at n = 500 /
    // 2k / 20k / 50k — because small-world walk length grows with
    // log(n) (the HNSW layer-count analog). servingBudget(n) grows
    // every knob ~log2(n/50) and restores 0.97 / 0.95 / 1.00 / 0.94
    // at the same sub-second per-batch serving cost, so ONE flat bar at
    // ~half measured (0.45) holds at every scale.
    "q_graph_search" -> ((s, dir) => Pins.scoped { pins =>
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") < 20)
      val n = e.count()
      val (beam, hops, entries) = KnnGraph.servingBudget(n)
      val g = KnnGraph.nnDescent(e, "vec_id", "v", k = 16,
        iterations = 2, earlyStop = false, corpusCount = n)
      // pinned: the search collects from the index once per hop
      // (plans/pr11/bench_ab.json, probes.pin_index_q_graph_search)
      val index = pins.pin(KnnGraph.graphIndex(g, e, "vec_id", "v",
        entries = entries, corpusCount = n))
      val ann = KnnGraph.searchGraphIndexed(index, q, "vec_id", "v", k = 5,
        beam = beam, hops = hops)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(n.toDouble), k = 5, "cosine",
        ascending = false, minRecall = 0.45)
    }),


    // Incremental graph insert (r12, VERDICT ask 1): the r11 headline
    // primitive gets its own claims gate — build the k-NN graph on
    // corpus-minus-batch, insert the held-out batch (disjoint ids by
    // construction: the batch IS vec_id < 25, removed from the build),
    // then gate the batch rows' rank<=5 prefix of the MERGED graph vs
    // exact brute force over the full corpus. refineRounds=3 is the
    // measured parity operating point (matches/beats a full rebuild);
    // placement rides the log-scaled servingBudget like q_graph_search;
    // recall@5 measured 0.94 / 0.92 / 1.00 / 1.00 at n = 500 / 2k /
    // 20k / 50k (budgeted insert) — one flat bar at ~half (0.45). This
    // also permanently pins the class of the r11 FP-divergent
    // duplicate-neighbor bug, which was caught only by an ad-hoc
    // rebuild-parity measurement.
    // r13 (VERDICT ask 1): routed through the INDEX-NATIVE path — the
    // gate now builds the graphIndex asset and inserts with
    // insertIncrementalIndexed (front re-rank, then full refine rounds;
    // no corpus renormalize / bridge rebuild), reading the merged graph
    // back off the updated index. Bit-identical to the one-shot path by
    // the KnnGraphSpec parity pin, so the oracle and bars carry over
    // unchanged.
    "q_graph_insert" -> ((s, dir) => Pins.scoped { pins =>
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val batch = e.filter(col("vec_id") < 25)
      val corpus = e.filter(col("vec_id") >= 25)
      val n = e.count()
      val (beam, hops, entries) = KnnGraph.servingBudget(n)
      val g = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 16,
        iterations = 2, earlyStop = false, corpusCount = n - 25)
      // pinned: the placement search collects from the index once per
      // hop, and the insert re-reads it (plans/pr11/bench_ab.json,
      // probes.pin_index_q_graph_insert)
      val idx = pins.pin(KnnGraph.graphIndex(g, corpus, "vec_id", "v",
        entries = entries, corpusCount = n - 25))
      val ann = KnnGraph.indexGraph(KnnGraph.insertIncrementalIndexed(
          idx, batch, "vec_id", "v", k = 16, beam = beam, hops = hops,
          refineRounds = 3,
          validateIds = false)) // disjoint by construction (partition of e)
        .filter(col("id") < 25 && col("rank") <= 5)
        .select(col("id").as("query_id"), col("neighbor_id"),
          col("cosine"), col("rank"))
      val exact = Similarity.bruteForceTopK(e, batch, "vec_id", "v", k = 5)
      annClaims(ann, exact, lit(n.toDouble), k = 5, "cosine",
        ascending = false, minRecall = 0.45)
    }),


    // Graph-index deletion (r13, VERDICT ask 2): the lifecycle's other
    // half — tombstone a planted id range out of the serving index
    // (removeIds: amputate + heal + re-hub + entry re-election), then
    // claim (a) the deleted ids appear NOWHERE (rows, knn arrays,
    // bridge arrays, search results) and (b) survivor serving recall
    // still clears the search gate's absolute floor against exact
    // brute force over the survivors. The deleted range [100, 150)
    // is disjoint from the query slice, so n_queries stays 20 and the
    // oracle twin is closed-form at every scale.
    "q_graph_delete" -> ((s, dir) => Pins.scoped { pins =>
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val n = e.count()
      val (beam, hops, entries) = KnnGraph.servingBudget(n)
      val isDel = col("vec_id") >= 100 && col("vec_id") < 150
      val q = e.filter(col("vec_id") < 20)
      val g = KnnGraph.nnDescent(e, "vec_id", "v", k = 16,
        iterations = 2, earlyStop = false, corpusCount = n)
      // pinned: the delete re-reads the index (plans/pr11/bench_ab.json,
      // probes.pins_q_graph_delete, as for the next pin)
      val idx = pins.pin(KnnGraph.graphIndex(g, e, "vec_id", "v",
        entries = entries, corpusCount = n))
      // pinned: the search collects from it once per hop, and the three
      // deleted-id probes scan it
      val after = pins.pin(KnnGraph.removeIds(idx,
        e.filter(isDel).select("vec_id"), "vec_id", k = 16, healRounds = 1))
      val ann = KnnGraph.searchGraphIndexed(after, q, "vec_id", "v",
        k = 5, beam = beam, hops = hops)
      val exact = Similarity.bruteForceTopK(e.filter(!isDel), q, "vec_id",
        "v", k = 5)
      def delRange(c: org.apache.spark.sql.Column) = c >= 100 && c < 150
      val noDeleted =
        after.filter(delRange(col("id"))).isEmpty &&
        after.select(explode(col("knn")).as("e"))
          .filter(delRange(col("e.nbr"))).isEmpty &&
        after.select(explode(col("bridges")).as("b"))
          .filter(delRange(col("b"))).isEmpty &&
        ann.filter(delRange(col("neighbor_id"))).isEmpty
      annClaims(ann, exact, lit((n - 50).toDouble), k = 5, "cosine",
        ascending = false, minRecall = 0.45)
        .withColumn("no_deleted_ok", lit(noDeleted))
    }),


    // ANN method sweep + exact-rerank harness (r7, VERDICT ask 8a): ALL
    // SIX approximate families over ONE query set, each proposing 20
    // candidates, each reranked by the exact cosine down to 5 — one metric
    // row per method. Claims: every query covered, reranked hits >= the
    // method's own raw top-5 hits (the rerankExact monotonicity
    // guarantee), reranked mean recall@5 at least 10x chance.
    // r13 (VERDICT ask 4): the graph family joins as the sixth channel
    // (nnDescent k=16/2-round build -> graphIndex -> budgeted indexed
    // search), and the sweep adopts the fixed 50k-vector slice the other
    // graph gates use (q_hubness pattern; no-op at sf <= 1): a graph
    // BUILD over the full 5M-vector sf10 corpus belongs in a build gate,
    // not inside the one-table-per-family metric harness, and the slice
    // keeps all six families' truth and claims on the same bounded
    // corpus at every scale.
    "q_ann_sweep" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") < 20)
      val n = e.count()
      val kc = 20
      // Pooled: the graph chain's jobs and the codebook trainings' driver
      // work overlap the other families' jobs (plans/pr11/bench_ab.json,
      // probes.pool_ann_sweep: run in order, the sweep measured 8.4 ->
      // 9.3-11.9 s).
      // Each chain pins its bounded result in its own scope, so its work runs
      // in its pool thread. The truth pin also pays on its own: it feeds two
      // branches of every family, and unpinned its brute-force subtree
      // re-executes in all ~10 branches of the final union (measured
      // 9.98 s -> the sum of the individual method costs). The graph
      // search's result is already on the driver; its index is pinned
      // because the search collects from it once per hop
      // (probes.pin_index_q_ann_sweep).
      def pinned(df: => DataFrame): DataFrame = Pins.scoped(_.pin(df))
      val built = Par.inParallel(s, "q_ann_sweep", Seq[() => (String, DataFrame)](
        () => "exact" -> pinned(Similarity.bruteForceTopK(e, q, "vec_id", "v", k = 5)),
        () => "graph" -> Pins.scoped { pins =>
          val (beam, hops, entries) = KnnGraph.servingBudget(n)
          val g = KnnGraph.nnDescent(e, "vec_id", "v", k = 16,
            iterations = 2, earlyStop = false, corpusCount = n)
          val idx = pins.pin(KnnGraph.graphIndex(g, e, "vec_id", "v",
            entries = entries, corpusCount = n))
          KnnGraph.searchGraphIndexed(idx, q, "vec_id", "v", k = kc,
            beam = beam, hops = hops)
        },
        () => "ivf" -> pinned(Similarity.ivfTopK(e, q, "vec_id", "v", k = kc,
          nlist = 8, nprobe = 3)),
        () => "ivfpq" -> pinned(Similarity.ivfPqTopK(e, q, "vec_id", "v",
          k = kc, nlist = 8, nprobe = 3, m = 8, ksub = 16)),
        () => "lsh" -> pinned(Similarity.lshTopK(e, q, "vec_id", "v", k = kc,
          tables = 4, dims = 64, probeHamming = 1, corpusCount = n)),
        () => "opq" -> {
          val m = Similarity.opqTrain(e, "v", dims = 64, m = 8, ksub = 16)
          pinned(Similarity.opqTopK(e, q, "vec_id", "v", m, k = kc))
        },
        () => "pq" -> {
          val m = Similarity.pqTrain(e, "v", dims = 64, m = 8, ksub = 16)
          pinned(Similarity.pqTopK(e, q, "vec_id", "v", m, k = kc))
        }))
      val exact = built.head._2
      val cands = built.tail
      val truthPairs = exact.select("query_id", "neighbor_id")
      val nQ = q.count()
      val chance = lit(10.0 * 5 / n.toDouble)
      cands.map { case (name, cand) =>
        val raw5 = cand.filter(col("rank") <= 5)
        val rer = Similarity.rerankExact(cand, e, q, "vec_id", "v", k = 5)
        def hits(df: DataFrame, as: String) =
          df.select("query_id", "neighbor_id").distinct()
            .join(truthPairs, Seq("query_id", "neighbor_id"))
            .agg(count(lit(1)).as(as))
        val cov = rer.agg(countDistinct(col("query_id")).as("__cov"))
        hits(raw5, "__raw").crossJoin(hits(rer, "__rer")).crossJoin(cov)
          .select(lit(name).as("method"), lit(nQ).as("n_queries"),
            (col("__cov") === nQ).as("covered_ok"),
            (col("__rer") >= col("__raw")).as("rerank_ge_raw"),
            (col("__rer").cast("double") / (nQ * 5.0) >= chance)
              .as("recall_ok"))
      }.reduce(_ unionByName _)
        .orderBy("method")
    }),

    // Hubness diagnostic over the exact top-10 graph — claims gate (r8):
    // the previous row-level oracle recomputed ALL pairs as a DuckDB list
    // comprehension, O(n^2) on the oracle side, capping verification at
    // sf0.1 (lesson 12). These claims are closed-form at any scale:
    // coverage (one row per corpus vector, anti-hubs included), mass
    // conservation (k-occurrence sums to exactly k*n — every query emits
    // exactly k slots), bounds (0 <= occ <= n-1), and the self-exclusion
    // contract (no query retrieves itself).
    // r9: the gate's own truth is the exact top-10 graph — O(n^2) BY
    // DESIGN (it is the baseline, not the operator). A fixed 50k-vector
    // slice (vec_id < 50000 = the whole corpus at sf0.01/sf0.1, the
    // replica-0 slice under make_sf replication) keeps the claims
    // meaningful while bounding truth cost at EVERY scale — the sf10
    // sweep runs the identical gate, no sf-capping.
    "q_hubness" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
        .select("vec_id", "v")
      // the all-pairs scan is the whole cost: both claim aggregates read
      // it in one action, so it runs once
      val topk = Similarity.bruteForceTopK(e, e, "vec_id", "v", k = 10)
      val occ = Similarity.kOccurrence(topk, e, "vec_id")
      val n = e.count()
      val agg = occ.agg(count(lit(1)), sum("k_occurrence"),
          max("k_occurrence"), min("k_occurrence"))
        .crossJoin(topk.filter(col("query_id") === col("neighbor_id"))
          .agg(count(lit(1))))
        .head()
      val selfRows = agg.getLong(4)
      Seq(
        ("bounds_0_to_n_minus_1", n,
          agg.getLong(3) >= 0L && agg.getLong(2) <= n - 1),
        ("coverage_one_row_per_vector", n, agg.getLong(0) == n),
        ("mass_sums_to_k_times_n", n, agg.getLong(1) == 10L * n),
        ("no_self_retrieval", n, selfRows == 0L))
        .toDF("claim", "n", "ok").orderBy("claim")
    }),


    // Margin-based mutual-NN bitext mining — claims gate (r8, same
    // lesson-12 conversion as q_hubness): corpus B is corpus A under
    // disjoint ids, so every mutual match scores cosine ~1 (its exact
    // copy), and for every id whose vector VALUE is unique in the corpus
    // (replicated sf datasets plant exact copies, making twins ambiguous
    // for non-unique ids) the planted twin id_a+10000 must be recovered
    // with margin > 1. n_unique cross-checks the two engines' grouping
    // of raw float vectors.
    // r9: same fixed 50k-vector slice as q_hubness — the two-direction
    // brute-force truth is quadratic by design; the slice bounds it at
    // every scale (no-op below 50k vectors) and uniqueness/claims are
    // computed over the SAME slice on both engine and oracle sides.
    "q_bitext_mine" -> ((s, dir) => Pins.scoped { pins =>
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50000)
        .withColumn("v", col("embedding").cast("array<double>"))
      val a = e.select(col("vec_id").as("id"), col("v"))
      val b = e.select((col("vec_id") + 10000).as("id"), col("v"))
      // pinned: two bruteForceTopK passes feed three actions. Read in one
      // action instead, the gate measured 2.9-4.1 -> 4.6-4.8 s
      // (plans/pr11/bench_ab.json, per_gate.q_bitext_mine).
      val m = pins.pin(Similarity.mutualTopMatches(a, b, "id", "v", k = 4))
      val n = e.count()
      val uniq = pins.pin(e.groupBy("v").agg(count(lit(1)).as("__c"),
          min("vec_id").as("vec_id"))
        .filter(col("__c") === 1).select("vec_id"))
      val nUniq = uniq.count()
      val planted = m.join(uniq, m("id_a") === uniq("vec_id")).agg(
        count(lit(1)).as("cnt"),
        coalesce(min((col("id_b") === col("id_a") + 10000).cast("int")),
          lit(1)).as("twin"),
        coalesce(min((col("margin") > 1.0).cast("int")), lit(1))
          .as("mrg")).head()
      val allAgg = m.agg(count(lit(1)).as("total"),
        coalesce(min((abs(col("cosine") - 1.0) < lit(1e-9)).cast("int")),
          lit(1)).as("cosone"),
        countDistinct(col("id_a")).as("da")).head()
      Seq(
        ("matches_cosine_one", n, nUniq, allAgg.getInt(1) == 1),
        ("mutual_one_to_one", n, nUniq,
          allAgg.getLong(2) == allAgg.getLong(0) && allAgg.getLong(0) <= n),
        ("planted_unique_all_recovered", n, nUniq,
          planted.getLong(0) == nUniq && planted.getInt(1) == 1),
        ("unique_margin_above_one", n, nUniq, planted.getInt(2) == 1))
        .toDF("claim", "n", "n_unique", "ok").orderBy("claim")
    }),


    // Embedding-centroid drift across ordered buckets — dyadic-quantized
    // vectors make the per-dimension sums exact in any order (the
    // q_embed_cov contract); the cosine chain is fixed-association folds,
    // rounded at 6 on both sides (libm boundary convention).
    "q_centroid_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select((col("vec_id") % 16).as("bucket"),
          transform(col("embedding").cast("array<double>"),
            x => floor(x * 256 + 0.5) / 256).as("v"))
      Diagnostics.centroidDrift(e, "v", "bucket")
        .select(col("bucket"), col("n"),
          round(col("cos_prev"), 6).as("cos_prev"))
        .orderBy("bucket")
    }),


    // Cross-encoder-shape rerank (r10): stage one blocks documents on
    // their first normalized token (a deterministic stand-in for any
    // ANN / BM25 candidate stage), stage two scores each (query,
    // candidate) PAIR with a pluggable scorer — here distinct-token
    // overlap, the deterministic stand-in for a model call
    // (integer-valued, so ties break by neighbor_id via the bounded
    // heap's (key, id) order). Both sides run on a FIXED 50k-doc slice
    // (the q_hubness pattern): first-token blocks grow linearly with
    // the corpus, so an unsliced gate would be quadratic-in-sf pair
    // truth — the production path feeds rerankWith from a
    // selectivity-adaptive candidate stage instead (lshTopK et al.).
    "q_rerank_ce" -> ((s, dir) => Pins.scoped { pins =>
      // pinned: the candidate join and the rerank read it four times, and
      // each read re-normalizes every document's text
      // (plans/pr11/bench_ab.json, probes.pin_base_q_rerank_ce)
      val base = pins.pin(Tables.documents(s, dir)
        .filter(col("doc_id") < 50000)
        .select(col("doc_id"),
          array_distinct(split(TextAnalysis.normalize(col("text")), " "))
            .as("toks"),
          element_at(split(TextAnalysis.normalize(col("text")), " "), 1)
            .as("blk")))
      val queries = base.filter(col("doc_id") % 97 === 0)
      val cands = queries.select(col("doc_id").as("query_id"), col("blk"))
        .join(base.select(col("doc_id").as("neighbor_id"), col("blk")),
          Seq("blk"))
        .select("query_id", "neighbor_id")
      Similarity.rerankWith(cands, base, queries, "doc_id", "toks", k = 3)(
          (q, n) => size(array_intersect(q, n)))
        .select(col("query_id"), col("neighbor_id"),
          col("score").cast("long").as("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

  )
}
