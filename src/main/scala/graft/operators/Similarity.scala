package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

import graft.functions.VectorExprs

/** Vector similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline (one broadcast of the
  * query set; the corpus side streams — no corpus shuffle). The scale paths
  * are (a) random-hyperplane LSH bucketing, which turns the O(n*q) scan into
  * bucket-local joins, and (b) IVF-style coarse quantization via KMeans
  * centroids with nprobe search.
  *
  * All dot products go through the codegen'd [[graft.functions.ArrayDot]]
  * kernel — the interpreted `aggregate(zip_with(...))` formulation measured
  * 5-28x slower on identical shapes (cf. the MinHash/SimHash rewrites).
  * Norms are computed once per ROW and reused across every candidate pair.
  */
object Similarity {

  /** Dot product of two array<double> columns (codegen'd tight loop). */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns. Prefer precomputing
    * per-row norms when scoring many pairs per row (see bruteForceTopK).
    */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0, 0.0).otherwise(d / nn)
  }

  /** Rank scored (query_id, neighbor_id, cosine) candidates to exact top-k
    * per query — cosine desc, neighbor_id asc — via the bounded array-heap
    * [[org.apache.spark.sql.graft.TopKPairsAgg]]: an object-hash aggregate
    * with map-side partial merge, so ranking a query against 10^9 scored
    * candidates costs each task a k-entry primitive-array buffer — never a
    * single-task sort of the full scored corpus (the row_number-window
    * formulation puts candidates-per-query = n rows in ONE task's sort at
    * scale). Double negation is exact (sign flips twice), so emitted
    * cosines are bit-identical to the input. Requires an integral neighbor
    * id (every graft table id is int64); `idType` restores the original
    * column type. Same pattern as [[Sampling.topKPerStratum]].
    */
  private[operators] def rankTopK(scored: DataFrame, k: Int,
                       idType: org.apache.spark.sql.types.DataType,
                       dedup: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, TopKPairsAgg}
    def topk(key: Column, id: Column): Column = ColumnBridge.column(
      TopKPairsAgg(ColumnBridge.expression(key), ColumnBridge.expression(id), k,
          dedup)
        .toAggregateExpression())
    scored
      .select(col("query_id"), (-col("cosine")).as("__negcos"),
        col("neighbor_id").cast("long").as("__nid"))
      .groupBy("query_id")
      .agg(topk(col("__negcos"), col("__nid")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"),
        col("__e._2").cast(idType).as("neighbor_id"),
        (-col("__e._1")).as("cosine"),
        (col("__pos") + 1).as("rank"))
  }

  /** Exact brute-force cosine top-k: for every query row, the k most similar
    * corpus rows (excluding self-matches on id). Queries are broadcast; the
    * corpus streams once and ranking is the bounded [[rankTopK]] aggregate —
    * a map-side k-entry buffer per query, no per-query sort of the scored
    * corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val nn = col("__qn") * col("__cn")
    // FanOut: the per-(corpus row x query) dot products below are the whole
    // cost; a single-file corpus must not pin them to one core
    val scored = FanOut(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        when(nn === 0, 0.0).otherwise(dot(col("__qv"), col("__cv")) / nn))
    rankTopK(scored, k, corpus.schema(idCol).dataType)
  }

  /** Hubness diagnostic over a top-k table: how often each corpus row
    * appears in OTHER rows' top-k (its k-occurrence). High-dimensional
    * embedding spaces concentrate retrieval mass on a few hub points
    * (Radovanović et al. 2010) — a hub that appears in thousands of
    * result lists is the ANN analog of a skewed join key, and the same
    * remedy applies (cap, reweight, or drop). Rows never retrieved get
    * k_occurrence 0 (anti-hubs — unreachable corpus is wasted corpus).
    *
    * One groupBy on neighbor_id + one null-safe left attach — runs on any
    * (query_id, neighbor_id) table from the exact or ANN paths.
    */
  def kOccurrence(topk: DataFrame, corpus: DataFrame,
                  idCol: String): DataFrame =
    corpus.select(col(idCol).as("vec_id"))
      .join(topk.groupBy(col("neighbor_id").as("vec_id"))
        .agg(count(lit(1)).as("__k_occ")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("__k_occ"), lit(0L)).as("k_occurrence"))

  /** Margin-based mutual-nearest-neighbor mining between two embedding
    * corpora — the bitext-alignment primitive (Artetxe & Schwenk 2019):
    * a pair (x in A, y in B) is emitted when y is x's top-1 in B AND x is
    * y's top-1 in A, scored by the margin ratio
    * cos(x,y) / ((avgTopK(x->B) + avgTopK(y->A)) / 2) — mutual matches
    * with margin near 1 are hubs coincidentally close to everything;
    * genuine translations/duplicates score well above their neighborhood
    * average. Returns (id_a, id_b, cosine, margin).
    *
    * The two corpora must use disjoint id spaces (the top-k machinery
    * excludes same-id self matches). Determinism: the k neighbor cosines
    * of one query are emitted by one explode in rank order and partially
    * aggregated in that order, so the averages are fixed-association.
    *
    * Scale: two [[bruteForceTopK]] calls (swap in an ANN path for 10^9
    * rows — the mutual/margin algebra is identical), two query-grain
    * aggregates, equi joins only.
    */
  def mutualTopMatches(a: DataFrame, b: DataFrame, idCol: String,
                       vecCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"bad k $k")
    val fwd = bruteForceTopK(b, a, idCol, vecCol, k)
    val bwd = bruteForceTopK(a, b, idCol, vecCol, k)
    val avgF = fwd.groupBy(col("query_id").as("id_a"))
      .agg((sum(col("cosine")) / count(lit(1))).as("__avg_a"))
    val avgB = bwd.groupBy(col("query_id").as("id_b"))
      .agg((sum(col("cosine")) / count(lit(1))).as("__avg_b"))
    val f1 = fwd.filter(col("rank") === 1)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cosine"))
    val b1 = bwd.filter(col("rank") === 1)
      .select(col("query_id").as("id_b"), col("neighbor_id").as("id_a"))
    f1.join(b1, Seq("id_a", "id_b")) // mutual top-1 both directions
      .join(avgF, Seq("id_a")).join(avgB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cosine"),
        (col("cosine") / ((col("__avg_a") + col("__avg_b")) / 2))
          .as("margin"))
  }

  /** Exact re-score ("rerank") of an ANN candidate list — stage two of the
    * standard retrieval cascade: a cheap approximate stage (LSH / IVF / PQ)
    * proposes k' candidates per query and this stage scores ONLY those
    * pairs with the exact cosine, keeping the best `k`. At 100 TB the cost
    * is |queries| x k' dot products reached through two id-keyed equi
    * joins — the corpus is joined by neighbor_id, never re-scanned per
    * query — and the final cut is the bounded [[rankTopK]] heap aggregate.
    * The scorer is a plug point: swap the cosine for a model call
    * (mapInPandas cross-encoder batch) without touching the plumbing.
    *
    * Monotonicity guarantee (the sweep gate's claim): if the candidate set
    * contains the approximate stage's own top-k, reranked recall@k vs the
    * exact truth is >= the raw stage's recall@k — truth members carry the
    * globally-highest exact scores, so re-sorting any candidate superset
    * by exact score surfaces every truth member the candidates contain.
    */
  def rerankExact(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val nn = col("__qn") * col("__cn")
    val scored = candidates.select(col("query_id"), col("neighbor_id")).distinct()
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        when(nn === 0, 0.0).otherwise(dot(col("__qv"), col("__cv")) / nn))
    rankTopK(scored, k, corpus.schema(idCol).dataType)
  }

  /** Second-stage rerank with a PLUGGABLE pairwise scorer — the
    * cross-encoder shape of [[rerankExact]]'s documented plug point made
    * a first-class operator. Stage one proposes (query_id, neighbor_id)
    * candidate pairs (ANN buckets, lexical blocking, BM25 — anything);
    * this stage attaches one payload column from each side and scores
    * each PAIR with `scorer`, keeping the best `k` per query
    * (score desc, neighbor_id asc) via the bounded heap aggregate — no
    * per-query sort of the candidate list.
    *
    * `scorer(q, n)` is any Column over the two payloads: a lexical
    * overlap (the gate's deterministic stand-in), a learned bilinear
    * form over embedding pairs, or — in PySpark — a batched model call
    * (`mapInPandas` over the joined pair table, emitting the score
    * column this operator ranks). Real cross-encoder inference is a
    * model-runtime concern; the Spark-side contract is exactly this
    * plumbing: queries broadcast, corpus reached through ONE id-keyed
    * equi join (never re-scanned per query), the scorer evaluated once
    * per surviving pair, ranking in a k-bounded buffer. Ties on score
    * break by neighbor_id ascending (TopKPairsAgg orders (key, id)),
    * so integer-valued scorers stay deterministic under any partitioning.
    */
  def rerankWith(candidates: DataFrame, corpus: DataFrame,
                 queries: DataFrame, idCol: String, payloadCol: String,
                 k: Int)(scorer: (Column, Column) => Column): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(payloadCol).as("__qp")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(payloadCol).as("__np"))
    val scored = candidates.select(col("query_id"), col("neighbor_id"))
      .distinct()
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", scorer(col("__qp"), col("__np")).cast("double"))
    rankTopK(scored, k, corpus.schema(idCol).dataType)
      .withColumnRenamed("cosine", "score")
  }

  /** Deterministic +-1 hyperplane weights (bits x dims), derived driver-side
    * from `seed` (java.util.Random's LCG is spec-pinned, so weights are
    * stable across JVMs). Planted as array literals so each projection is
    * one codegen'd ArrayDot per row — no per-row interpreted lambda work.
    */
  private def hyperplaneWeights(dims: Int, bits: Int, seed: Int): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(bits, dims)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Random-hyperplane (sign) LSH bucket id: bucket = packed sign bits of
    * `bits` literal-weight projections. Row-local, fully codegen'd.
    */
  def hyperplaneBucket(vec: Column, dims: Int, bits: Int = 16, seed: Int = 42): Column = {
    val ws = hyperplaneWeights(dims, bits, seed)
    (0 until bits).map { b =>
      when(VectorExprs.dot(vec, typedlit(ws(b).toSeq)) > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  /** All `tables` sign-LSH buckets in ONE expression — array<long>, one
    * entry per table, bit-identical to
    * `array(hyperplaneBucket(vec, dims, bits, seeds(0)), ...)`. The
    * composed form evaluates tables x bits separate dot expressions and
    * CollapseProject inlines any upstream cast/transform of `vec` into
    * every one of them (measured: 52 s of the 126 s sf10 q_lsh_topk was
    * exactly this — 44 re-materializations of cast(embedding) per row);
    * the fused [[org.apache.spark.sql.graft.HyperplaneBuckets]] kernel
    * fetches the vector once and loops (table, bit, dim) tightly.
    */
  def hyperplaneBucketsAll(vec: Column, dims: Int, bits: Int,
                           seeds: Seq[Int]): Column = {
    val w = new Array[Double](seeds.length * bits * dims)
    seeds.zipWithIndex.foreach { case (seed, t) =>
      val ws = hyperplaneWeights(dims, bits, seed)
      var b = 0
      while (b < bits) {
        System.arraycopy(ws(b), 0, w, (t * bits + b) * dims, dims)
        b += 1
      }
    }
    graft.functions.VectorExprs.hyperplaneBuckets(vec, w, seeds.length,
      bits, dims)
  }

  /** The LSH operating point as a FUNCTION OF CORPUS SIZE — hash bits for
    * a target expected bucket occupancy. Sizing rule: sign-LSH buckets
    * partition the corpus ~uniformly for whitened embeddings, so
    * E[bucket] = n / 2^bits and per-query candidate work per table grows
    * LINEARLY with E[bucket]; fixing bits while n grows makes candidate
    * cost (and with multi-probe, runtime) grow linearly-to-quadratically
    * — the band-saturation failure class (SimHash 8-bit bands at r7,
    * q_lsh_topk bits=6 growing 6.8x for 10x data at sf10). Hence
    * bits = ceil(log2(n / targetBucket)), clamped to [4, 24]:
    * 5k vectors -> 6 bits, 50k -> 9, 500k -> 12, 5M -> 16. targetBucket
    * trades recall for cost: with `tables` independent tables and 1-bit
    * multi-probe, ~128 keeps measured recall@5 well above 10x chance at
    * every tested scale while bounding candidates per query per table.
    */
  def adaptiveLshBits(corpusCount: Long, targetBucket: Long = 128): Int = {
    require(targetBucket >= 1, s"bad targetBucket $targetBucket")
    val n = math.max(1L, corpusCount)
    val raw = math.ceil(
      math.log(n.toDouble / targetBucket.toDouble) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** LSH-bucketed approximate top-k: candidates limited to rows sharing the
    * query's bucket in any of `tables` INDEPENDENT hash tables (distinct
    * hyperplane seeds per table — reusing one set of hyperplanes and
    * relabeling buckets would leave every table with the identical partition
    * and no recall gain); exact cosine + rank within candidates.
    *
    * Scale shape: ONLY ids transit the (table, bucket) candidate join; the
    * pair set is deduped before vectors re-attach (queries broadcast, corpus
    * joined once on neighbor_id), so a hot bucket explodes id pairs, not
    * vector payloads. Pass `dims` explicitly (it's the embedding pipeline's
    * own constant) — the default 0 falls back to a one-row probe job.
    *
    * `bits` defaults to 0 = ADAPTIVE: derived from corpus.count() via
    * [[adaptiveLshBits]] (one count job — at any scale it is dwarfed by
    * the bucketing scan it sizes; NOTE the count re-runs the corpus
    * lineage, so if `corpus` is a derived plan either pin it first
    * ([[org.apache.spark.sql.graft.Pins]]) or pass `corpusCount`). Pass an explicit positive `bits` only
    * with a corpus-size rationale; a fixed value is a latent
    * band-saturation bug at 10-100x growth (see the sizing-rule scaladoc).
    *
    * `corpusCount`: pre-counted corpus size for the adaptive sizing
    * (-1 = count here); callers that already know n skip the extra count
    * job. Spec-pinned identical to the adaptive path.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 0, tables: Int = 4,
              dims: Int = 0, probeHamming: Int = 0,
              corpusCount: Long = -1L): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      s"probeHamming supports 0 (exact bucket) or 1 (all single-bit flips), got $probeHamming")
    require(bits >= 0 && bits <= 62, s"bad bits $bits")
    val useBits = if (bits > 0) bits
      else adaptiveLshBits(
        if (corpusCount >= 0) corpusCount else corpus.count())
    val d = if (dims > 0) dims
      else corpus.select(size(col(vecCol))).limit(1).head().getInt(0)
    // fused kernel: all tables' buckets from ONE vector fetch (the
    // composed per-table form re-materialized any upstream cast of the
    // vec column tables x bits times per row — see hyperplaneBucketsAll)
    val seeds = (0 until tables).map(t => 42 + 7919 * t)
    def bucketed(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"),
          hyperplaneBucketsAll(col(vecCol), d, useBits, seeds).as("__buckets"))
        .select(col(s"${side}_id"), posexplode(col("__buckets")).as(Seq("table", "bucket")))
    // multi-probe (QUERY side only — the small side): also probe every
    // bucket one sign-flip away, recovering neighbors that straddle a
    // single hyperplane without paying for more tables; candidate growth
    // is bounded by (bits+1) x the query fan-out, the corpus index is
    // untouched
    def probed(df: DataFrame) = {
      val b = bucketed(df, "query")
      if (probeHamming == 0) b
      else b.select(col("query_id"), col("table"),
        explode(array((col("bucket") +:
          (0 until useBits).map(i => col("bucket").bitwiseXOR(lit(1L << i)))): _*))
          .as("bucket"))
    }
    val candIds = bucketed(FanOut(corpus), "neighbor")
      .join(probed(queries), Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val nn = col("__qn") * col("__cn")
    // bounded ranking: a hot bucket inflates the candidate set, and a
    // per-query row_number window would sort it in one task
    val scored = candIds.join(qv, Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(nn === 0, 0.0).otherwise(dot(col("__qv"), col("__cv")) / nn).as("cosine"))
    rankTopK(scored, k, corpus.schema(idCol).dataType)
  }

  /** Embedding-cosine near-duplicate pairs within blocking groups: all
    * same-block pairs with cosine >= threshold. The block key bounds the
    * quadratic term (cf. MinHash banding for text); for unblocked corpora
    * use [[lshTopK]]/[[ivfTopK]] buckets as the block.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    // norms computed once per ROW (not per pair): cuts the per-pair work to
    // one dot product; identical arithmetic to cosine() since the norm fold
    // is the same either way
    val withNorm = df.select(col(blockCol).as("block"), col(idCol),
      col(vecCol), norm(col(vecCol)).as("__n"))
    val a = withNorm.select(col("block"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = withNorm.select(col("block"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    val nn = col("__na") * col("__nb")
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(nn === 0, 0.0).otherwise(dot(col("__va"), col("__vb")) / nn))
      .filter(col("cosine") >= threshold)
      .select("block", "id_a", "id_b", "cosine")
  }

  /** Nearest-centroid assignment over literal centroids by cosine distance:
    * a row-local codegen'd `least()` over per-centroid struct(dist, idx) —
    * no shuffle, no per-row window (the KMeansLite.assign2d pattern lifted
    * to array vectors).
    */
  def assignNearestCentroid(vec: Column, cents: Array[Array[Double]]): Column = {
    // single centroid: least() requires >= 2 args (r7 degenerate-args find)
    if (cents.length == 1) return lit(0)
    val n = norm(vec)
    least(cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      val nn = n * lit(cn)
      val negCos = -(when(nn === 0, 0.0)
        .otherwise(VectorExprs.dot(vec, typedlit(c.toSeq)) / nn))
      struct(negCos.as("d"), lit(i).as("cid"))
    }: _*).getField("cid")
  }

  /** Semantic deduplication (the SemDeDup pattern: cluster the embedding
    * space, then search for near-duplicates only WITHIN each cluster):
    * a sampled driver-side KMeans fit (two jobs, KMeansLite), an exact
    * row-local cluster assignment, and per-cluster exact cosine pairs at
    * `threshold` via [[cosineNearDupPairs]].
    *
    * Scale shape: the cluster key bounds the quadratic pair term the same
    * way MinHash bands bound text dedup — with k clusters the expected
    * per-cluster block is n/k rows, so pair work drops k-fold while keeping
    * exact cosine semantics inside each semantic neighborhood; raise k as
    * the corpus grows (FAISS-style sqrt(n) sizing). Cross-cluster
    * near-duplicates are out of contract (as in the published method).
    * Returns (cluster, id_a, id_b, cosine).
    */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int = 16): DataFrame = {
    val cents = graft.fitting.KMeansLite.fitVectors(df, vecCol, k, maxIter = 20)
    val assigned = df
      .withColumn("__cluster", assignNearestCentroid(col(vecCol), cents))
    cosineNearDupPairs(assigned, idCol, vecCol, "__cluster", threshold)
      .withColumnRenamed("block", "cluster")
  }

  /** IVF-style index: KMeans coarse centroids; each corpus row assigned to
    * its nearest centroid; queries probe the `nprobe` nearest centroids and
    * scan only those partitions' rows.
    *
    * Scale shape: corpus assignment is a row-local `least()` over nlist
    * literal-centroid dots (codegen'd — no explode, no per-row window, no
    * corpus shuffle); the exploded query×probe table is tiny and broadcast,
    * so the probe join leaves the corpus in place.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    // coarse quantizer: sampled driver-side Lloyd fit (two jobs), exact
    // distributed assignment below — see KMeansLite for why not spark.ml
    val cents = graft.fitting.KMeansLite.fitVectors(corpus, vecCol, nlist,
      maxIter = 20)

    // cosine distance to centroid i as a codegen'd expression over a literal
    def negCos(vec: Column, nrm: Column, i: Int): Column = {
      val c = cents(i)
      val cn = math.sqrt(c.map(x => x * x).sum)
      val nn = nrm * lit(cn)
      -(when(nn === 0, 0.0).otherwise(VectorExprs.dot(vec, typedlit(c.toSeq)) / nn))
    }

    // corpus: nearest centroid via least() over struct(dist, id) — row-local
    val cv = FanOut(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .withColumn("centroid_id",
        least((0 until nlist).map(i =>
          struct(negCos(col("__cv"), col("__cn"), i).as("d"), lit(i).as("cid"))): _*)
          .getField("cid"))

    // queries: top-nprobe centroids; the query table is the small side, so
    // the per-query window is over nlist rows x #queries only
    val qAssign = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"))
      .withColumn("__probes",
        slice(array_sort(array((0 until nlist).map(i =>
          struct(negCos(col("__qv"), col("__qn"), i).as("d"), lit(i).as("cid"))): _*)),
          1, nprobe))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(col("__probes").getField("cid")).as("centroid_id"))

    val nn = col("__qn") * col("__cn")
    // a probed partition holds ~n/nlist corpus rows, so candidates-per-query
    // is O(n * nprobe / nlist): ranking must be the bounded aggregate, not a
    // per-query sort of that set
    val scored = cv.join(broadcast(qAssign), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(nn === 0, 0.0).otherwise(dot(col("__qv"), col("__cv")) / nn).as("cosine"))
      .groupBy("query_id", "neighbor_id").agg(max("cosine").as("cosine"))
    rankTopK(scored, k, corpus.schema(idCol).dataType)
  }

  // ---- int8 quantization (the ANN memory/bandwidth scale path) -------------

  /** Symmetric int8 quantization: struct(scale, q) with v_i ~= q_i * scale,
    * scale = maxAbs/127, q_i = round(v_i * 127 / maxAbs) in [-127, 127].
    * Cuts embedding bytes 4x (float32) for ANN candidate scans; cosine over
    * the int arrays equals cosine over the dequantized vectors exactly (the
    * per-vector scale cancels), so LSH/IVF ranking can run on int8.
    *
    * HOF-nesting rule: maxAbs is an O(dims) scan, so it must NOT appear
    * inside the quantize lambda (it would re-evaluate per element). It is
    * threaded in via zip_with(v, array_repeat(maxAbs, ...)) — zip_with
    * evaluates each array argument once per row.
    */
  def quantizeInt8(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    val q = zip_with(v, array_repeat(maxAbs, size(v)),
      (x, m) => when(m === 0, lit(0)).otherwise(round(x * 127.0 / m))
        .cast("tinyint"))
    struct((maxAbs / 127.0).as("scale"), q.as("q"))
  }

  /** Reconstruct the (approximate) float vector from [[quantizeInt8]]'s
    * struct: q_i * scale, as array<double>.
    */
  def dequantizeInt8(qs: Column): Column = {
    val q = qs.getField("q").cast("array<double>")
    zip_with(q, array_repeat(qs.getField("scale"), size(q)), (x, s) => x * s)
  }

  /** Cosine over two quantized structs — identical to cosine over the
    * dequantized vectors (scales cancel), computed on the int arrays.
    */
  def quantizedCosine(a: Column, b: Column): Column =
    cosine(a.getField("q").cast("array<double>"),
      b.getField("q").cast("array<double>"))

  /** Johnson–Lindenstrauss signed random projection: reduce an embedding
    * to `outDim` dimensions with a deterministic ±1/sqrt(outDim) matrix —
    * the standard ANN/clustering pre-step that cuts downstream pair-scoring
    * cost by inDim/outDim while preserving pairwise distances within
    * (1 ± eps) w.h.p. (Achlioptas 2003 sign matrices).
    *
    * The matrix is never materialized as data: row k is a driver-side
    * literal of signs from the parity of md5("k-j-seed")'s first byte —
    * md5 is the repo's engine-portable hash ([[Sampling.hashBucket]]
    * rationale), so an oracle can recompute the projection exactly, and
    * md5 bytes are iid-ish (a cheaper multiplicative mix was tried first
    * and FAILED JL: bit-16 of x*2654435761 over sequential x is a
    * quasi-periodic Sturmian word, making matrix rows correlated shifts
    * of each other — measured distortion 0.27-2.5x at dOut=32). Each
    * output coordinate is one codegen'd [[VectorExprs.dot]] against the
    * sign-row literal. Row-local: one map stage at any corpus size, no
    * shuffle, no model table.
    *
    * `inDim` is explicit (the lshTopK precedent): literal sign rows are
    * built at plan time, probing the data for dimensionality would cost a
    * job.
    */
  def randomProject(vec: Column, inDim: Int, outDim: Int,
                    seed: Long = 42L): Column = {
    require(inDim > 0 && outDim > 0, s"bad dims $inDim -> $outDim")
    val scale = 1.0 / math.sqrt(outDim)
    val md = java.security.MessageDigest.getInstance("MD5")
    // one ArrayMatVec kernel instead of outDim composed dots — same
    // row-major summation order, so outputs are bit-identical (the
    // q_random_project oracle hash pins this)
    val flat = new Array[Double](outDim * inDim)
    for (k <- 0 until outDim; j <- 0 until inDim) {
      val d = md.digest(s"$k-$j-$seed".getBytes("UTF-8"))
      flat(k * inDim + j) = if ((d(0) & 1) == 1) -scale else scale
    }
    import org.apache.spark.sql.graft.{ArrayMatVec, ColumnBridge}
    ColumnBridge.column(ArrayMatVec(
      ColumnBridge.expression(vec.cast("array<double>")),
      flat, new Array[Double](outDim), outDim, inDim))
  }

  /** Prototypicality scoring: per-group embedding centroid (element-wise
    * mean) and each vector's cosine to its own group's centroid — the
    * SemDeDup-family pruning signal (keep prototypical examples, or drop
    * them to diversify; Abbas et al. 2023 §3 rank within clusters exactly
    * this way). Returns the input plus a `cos_centroid` column.
    *
    * Scale: centroids are computed by exploding to (group, position,
    * value) grain and aggregating — the shuffle carries one row per
    * (partition, group, position) after map-side combine, bounded by
    * |groups| x dims, NOT by corpus size. The centroid table (one array
    * row per group) joins back by group with no forced hint: AQE
    * broadcasts it when |groups| is small and shuffles when a web-scale
    * clustering (10^7 clusters) doesn't fit. No driver collect at any
    * group cardinality.
    *
    * Rows with a NULL group key pass through with a null `cos_centroid`
    * (left join; a null key matches no centroid and belongs to no group's
    * mean) rather than being dropped.
    */
  def centroidScore(df: DataFrame, vecCol: String, byCol: String): DataFrame = {
    val cents = df
      .select(col(byCol).as("__g"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x")))
      .groupBy("__g", "__i")
      .agg(avg(col("__x")).as("__c"))
      .groupBy("__g")
      .agg(array_sort(collect_list(struct(col("__i"), col("__c")))).as("__ps"))
      .select(col("__g"),
        transform(col("__ps"), p => p.getField("__c")).as("__cent"))
    df.join(cents, col(byCol) === col("__g"), "left")
      .withColumn("cos_centroid",
        cosine(col(vecCol).cast("array<double>"), col("__cent")))
      .drop("__g", "__cent")
  }

  // ---- product quantization (the ANN storage+compute compression path) -----

  /** Per-subspace codebooks: codebooks(j)(c) is centroid c of subspace j. */
  case class PqModel(dims: Int, m: Int, ksub: Int,
                     codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = dims / m
  }

  /** Train PQ codebooks (Jegou et al.: split each vector into `m` subvectors,
    * k-means each subspace independently). ONE bounded driver sample serves
    * all m fits — the same two-job sampled-Lloyd posture as
    * [[graft.fitting.KMeansLite]], so training cost is independent of corpus
    * size; the encode/search passes below see every row.
    *
    * The cap and restart budget are deliberately smaller than the coarse-
    * quantizer defaults: the driver fit costs m * restarts * iters * n *
    * ksub * dsub flops, and an uncapped-feeling 200k sample measured ~33 s
    * for the sf1 gate. 32k points = ksub * 2048 per subspace fit (FAISS
    * guidance is ksub * 39..256), restarts = 2: ~1 s, bounded at ANY
    * corpus size, recall unchanged on the spec's clustered data.
    */
  def pqTrain(df: DataFrame, vecCol: String, dims: Int, m: Int = 8,
              ksub: Int = 16, maxIter: Int = 15, seed: Long = 42L,
              sampleCap: Int = 32768): PqModel = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2, 256], got $ksub")
    val dsub = dims / m
    val pts = df.select(col(vecCol).cast("array<double>").as("__v")).na.drop()
    val sample = graft.fitting.KMeansLite.sampleRows(pts, sampleCap, seed)
      .map(_.getSeq[Double](0).toArray)
    // the m subspace fits are independent (seed + j each) — run them on
    // driver threads; determinism is per-fit, order is by index
    val books = new Array[Array[Array[Double]]](m)
    val threads = (0 until m).map { j =>
      val th = new Thread(() => {
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
        books(j) = graft.fitting.KMeansLite.lloyd(sub, ksub, maxIter, seed + j, 1e-6)
      })
      th.start(); th
    }
    threads.foreach(_.join())
    PqModel(dims, m, ksub, books)
  }

  /** Append `codes` = array<int> of m codebook indices (nearest EUCLIDEAN
    * centroid per subspace — PQ quantizes raw coordinates, unlike the
    * cosine-space IVF assignment). ONE codegen'd
    * [[org.apache.spark.sql.graft.PqEncodeExpr]] per row: the composed
    * `least()`-over-ksub-structs form is an m*ksub-node tree that falls out
    * of whole-stage codegen and measured ~100 us/row interpreted.
    */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel,
               outCol: String = "codes"): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, PqEncodeExpr, PqExprs}
    val (cb, cn) = PqExprs.flatten(model.codebooks)
    df.withColumn(outCol, ColumnBridge.column(PqEncodeExpr(
      ColumnBridge.expression(col(vecCol).cast("array<double>")),
      cb, cn, model.m, model.ksub, model.dsub)))
  }

  /** ADC (asymmetric distance) top-k: corpus rows carry only their m-byte
    * codes; each query precomputes ONE m*ksub lookup table of exact
    * squared distances from its subvectors to every codebook centroid, and
    * each candidate then costs m table lookups instead of `dims` multiplies
    * — with m=8 over 64 dims that is 8x less score compute and 32x less
    * candidate memory traffic (8 bytes vs 256), the PQ scale story. The
    * query side is the broadcast-small side (same contract as
    * [[bruteForceTopK]]); the corpus streams, no corpus shuffle. Returns
    * (query_id, neighbor_id, dist, rank) with dist the EXACT squared
    * distance from the query to the candidate's reconstruction.
    */
  /** Build the PQ index: (id, codes) — m ints per row, the 32x-compressed
    * corpus representation a deployment persists ONCE (write this to a
    * table) and scans per query batch. A [[org.apache.spark.sql.graft.Pins]]
    * pin materializes it so the optimizer cannot inline the encode expression into a downstream
    * per-PAIR projection — re-encoding per (candidate x query) multiplies
    * the encode cost by the query count (the CollapseProject hazard, cf.
    * minHashCandidates).
    */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
              model: PqModel): DataFrame =
    Pins.scoped(_.pin(FanOut(pqEncode(corpus, vecCol, model, "codes"))
      .select(col(idCol).as("id"), col("codes"))))

  /** ADC top-k against a prebuilt [[pqIndex]] table — the build-once /
    * query-many deployment shape: each batch pays only its LUTs + the
    * candidate scan, never re-encoding the corpus.
    */
  def pqTopKIndexed(index: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, model: PqModel, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, PqAdcExpr, PqExprs, PqLutExpr}
    val (cb, cn) = PqExprs.flatten(model.codebooks)
    val codes = index.select(col("id").as("neighbor_id"), col("codes").as("__codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      ColumnBridge.column(PqLutExpr(
        ColumnBridge.expression(col(vecCol).cast("array<double>")),
        cb, cn, model.m, model.ksub, model.dsub)).as("__lut")))
    val dist = ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(col("__lut")),
      ColumnBridge.expression(col("__codes")), model.m, model.ksub))
    val scored = codes.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), (-dist).as("cosine"))
    rankTopK(scored, k, index.schema("id").dataType)
      .select(col("query_id"), col("neighbor_id"), (-col("cosine")).as("dist"),
        col("rank"))
  }

  /** One-shot convenience: build the index and query it (see [[pqIndex]] /
    * [[pqTopKIndexed]] for the persisted-index deployment shape).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, model: PqModel, k: Int): DataFrame =
    pqTopKIndexed(pqIndex(corpus, idCol, vecCol, model), queries, idCol,
      vecCol, model, k)

  /** Squared-euclidean argmin assignment over literal centroids:
    * argmin_c ||v - c||^2 = argmin_c (||c||^2 - 2 v.c); the ||v||^2 term is
    * constant under the argmin. Same codegen'd `least()` shape as the
    * cosine [[assignNearestCentroid]] (nlist is small — 16-256 — so the
    * tree stays inside the codegen budget, unlike the m*ksub PQ encode).
    */
  def assignNearestEuclidean(vec: Column, cents: Array[Array[Double]]): Column =
    // single centroid: least() requires >= 2 args (r7 degenerate-args find)
    if (cents.length == 1) lit(0)
    else least(cents.zipWithIndex.map { case (c, i) =>
      val cn = c.map(x => x * x).sum
      struct((lit(cn) - VectorExprs.dot(vec, typedlit(c.toSeq)) * 2.0).as("d"),
        lit(i).as("cid"))
    }: _*).getField("cid")

  /** IVF-PQ (the FAISS IVFPQ composition — the ANN architecture that
    * actually holds at 100 TB): a coarse euclidean quantizer routes every
    * corpus row to one of `nlist` inverted lists, PQ encodes the RESIDUAL
    * v - centroid (residual energy is a cluster diameter, not a corpus
    * diameter, so the same ksub codebook spends its resolution where the
    * data is), and a query probes only its `nprobe` nearest lists.
    *
    * Scale shape vs [[pqTopK]]: the candidate scan becomes an EQUI JOIN on
    * list_id — candidates per query drop from n to ~n*nprobe/nlist, and the
    * plan is a shuffled hash join any cluster executes, never a broadcast
    * nested loop over the whole corpus. The codes table (list_id + m ints
    * per row) is the persisted index; LUTs are per-(query, probed list)
    * because residuals are centered differently per list.
    * Returns (query_id, neighbor_id, dist, rank) — dist is the exact
    * squared distance from the query to centroid + reconstructed residual.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, seed: Long = 42L): DataFrame = Pins.scoped { pins =>
    import org.apache.spark.sql.graft.{ColumnBridge, PqAdcExpr, PqEncodeExpr, PqExprs, PqLutExpr}
    val cents = graft.fitting.KMeansLite.fitVectors(corpus, vecCol, nlist,
      maxIter = 20, seed = seed)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)

    val cv = FanOut(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__list", assignNearestEuclidean(col("__cv"), cents))
      .withColumn("__res", VectorExprs.sub(col("__cv"),
        element_at(centsLit, col("__list") + 1)))

    val dims = cents(0).length
    val model = pqTrain(cv, "__res", dims, m, ksub, seed = seed)
    val (cb, cn) = PqExprs.flatten(model.codebooks)
    // list_id + m ints per row — the persisted IVF-PQ index (a pin
    // barriers encode out of the per-pair projection, cf. pqIndex)
    val codes = pins.pin(cv
      .withColumn("__codes", ColumnBridge.column(PqEncodeExpr(
        ColumnBridge.expression(col("__res")), cb, cn, m, ksub, model.dsub)))
      .select(col("neighbor_id"), col("__list"), col("__codes")))

    // queries: top-nprobe lists by euclidean distance, one residual LUT per
    // probed list (the query table is the small side: nlist structs + a
    // sort over nlist elements per row)
    val qAssign = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__probes",
        slice(array_sort(array(cents.zipWithIndex.map { case (c, i) =>
          val cnq = c.map(x => x * x).sum
          struct((lit(cnq) - VectorExprs.dot(col("__qv"), typedlit(c.toSeq)) * 2.0).as("d"),
            lit(i).as("cid"))
        }: _*)), 1, nprobe))
      .select(col("query_id"), col("__qv"),
        explode(col("__probes").getField("cid")).as("__list"))
      .withColumn("__qres", VectorExprs.sub(col("__qv"),
        element_at(centsLit, col("__list") + 1)))
      .select(col("query_id"), col("__list"),
        ColumnBridge.column(PqLutExpr(ColumnBridge.expression(col("__qres")),
          cb, cn, m, ksub, model.dsub)).as("__lut"))

    val dist = ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(col("__lut")),
      ColumnBridge.expression(col("__codes")), m, ksub))
    // equi join on the probed list — a neighbor lives in exactly ONE list,
    // so (query, neighbor) pairs are already unique
    val scored = codes.join(broadcast(qAssign), Seq("__list"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), (-dist).as("cosine"))
    rankTopK(scored, k, corpus.schema(idCol).dataType)
      .select(col("query_id"), col("neighbor_id"), (-col("cosine")).as("dist"),
        col("rank"))
  }

  /** OPQ (parametric variant, Ge et al. 2014): rotate into the PCA
    * eigenbasis, then PERMUTE principal dimensions so each PQ subspace
    * receives a balanced share of the variance (greedy: next-largest
    * eigenvalue goes to the subspace with the smallest eigenvalue
    * log-product). Naive PCA rotation alone would be the WRONG PQ
    * preprocessing — it concentrates all energy in subspace 0 and starves
    * the rest; the balancing is the point. Rotation + translation are
    * isometries, so ADC distances in the rotated space ARE the original
    * euclidean distances.
    */
  case class OpqModel(mean: Array[Double], rot: Array[Array[Double]], pq: PqModel)

  def opqTrain(df: DataFrame, vecCol: String, dims: Int, m: Int = 8,
               ksub: Int = 16, maxIter: Int = 15, seed: Long = 42L,
               sampleCap: Int = 32768): OpqModel = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val pca = Pca.fit(df, vecCol, dims, dims)
    val dsub = dims / m
    // greedy balance: eigenvalues desc → subspace with smallest log-product
    val order = (0 until dims).sortBy(i => -pca.eigenvalues(i))
    val logProd = Array.fill(m)(0.0)
    val slots = Array.fill(m)(0)
    val assign = Array.fill(m)(List.empty[Int]) // principal dims per subspace
    order.foreach { pcDim =>
      val j = (0 until m).filter(slots(_) < dsub).minBy(logProd)
      assign(j) = assign(j) :+ pcDim
      slots(j) += 1
      logProd(j) += math.log(math.max(pca.eigenvalues(pcDim), 1e-12))
    }
    val rot = assign.flatten.map(pca.components).toArray
    val rotated = rotate(df, vecCol, pca.mean, rot, "__rv")
    OpqModel(pca.mean, rot, pqTrain(rotated, "__rv", dims, m, ksub, maxIter,
      seed, sampleCap))
  }

  private def rotate(df: DataFrame, vecCol: String, mean: Array[Double],
                     rot: Array[Array[Double]], outCol: String): DataFrame = {
    import org.apache.spark.sql.graft.{ArrayMatVec, ColumnBridge}
    val rows = rot.length
    val cols = rot(0).length
    val flat = rot.flatMap(_.toSeq)
    // fold centering into the affine offset: R(v - mean) = Rv - R*mean
    val off = rot.map(r => -r.zip(mean).map { case (a, b) => a * b }.sum)
    df.withColumn(outCol, ColumnBridge.column(ArrayMatVec(
      ColumnBridge.expression(col(vecCol).cast("array<double>")),
      flat, off, rows, cols)))
  }

  /** Append the rotated (centered, eigen-permuted) vector — one codegen'd
    * affine mat-vec kernel per row ([[org.apache.spark.sql.graft.ArrayMatVec]];
    * the composed array-of-dots form was the OPQ gate's dominant cost).
    */
  def opqRotate(df: DataFrame, vecCol: String, model: OpqModel,
                outCol: String = "rotated"): DataFrame =
    rotate(df, vecCol, model.mean, model.rot, outCol)

  /** ADC top-k in the rotated space (= exact original euclidean distances
    * to the rotated reconstructions). Same serving shape as [[pqTopK]].
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, model: OpqModel, k: Int): DataFrame = {
    val rc = opqRotate(corpus, vecCol, model, "__rv")
    val rq = opqRotate(queries, vecCol, model, "__rv")
    pqTopK(rc, rq, idCol, "__rv", model.pq, k)
  }

  /** Hard-negative mining for contrastive training: for each query in
    * `positives` (query, positive) pairs, the k most-SIMILAR corpus items
    * that are not positives (and not the query) — the ANN-powered sibling
    * of [[graft.operators.Sampling.negativeSample]]'s uniform draws
    * (in-batch random negatives saturate; hard negatives carry the
    * gradient). Exact-cosine ranking with `k * oversample` headroom so
    * removing positives still leaves k; swap [[bruteForceTopK]] for
    * [[pqTopK]]/[[ivfPqTopK]] candidates at corpus scales where the exact
    * scan is the bottleneck. Returns (query_id, neg_id, cosine, hard_rank).
    */
  def hardNegatives(corpus: DataFrame, positives: DataFrame, idCol: String,
                    vecCol: String, queryCol: String, posCol: String,
                    k: Int, oversample: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, TopKPairsAgg}
    require(k > 0 && oversample >= 1, s"bad args k=$k oversample=$oversample")
    val queries = positives.select(col(queryCol).as(idCol)).distinct()
      .join(corpus, Seq(idCol))
    val top = bruteForceTopK(corpus, queries, idCol, vecCol, k * oversample)
    val pos = positives.select(col(queryCol).as("query_id"),
      col(posCol).as("neighbor_id"))
    def topk(key: Column, id: Column): Column = ColumnBridge.column(
      TopKPairsAgg(ColumnBridge.expression(key), ColumnBridge.expression(id), k)
        .toAggregateExpression())
    top.join(pos, Seq("query_id", "neighbor_id"), "left_anti")
      .groupBy("query_id")
      .agg(topk((-col("cosine")).cast("double"), col("neighbor_id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("query_id"), col("__e._2").as("neg_id"),
        (-col("__e._1")).as("cosine"), (col("__r") + 1).as("hard_rank"))
  }

  /** Driver-side reconstruction of a code row (test/debug surface). */
  def pqDecode(model: PqModel, codes: Seq[Int]): Array[Double] = {
    require(codes.length == model.m, s"expected ${model.m} codes, got ${codes.length}")
    codes.zipWithIndex.flatMap { case (c, j) => model.codebooks(j)(c) }.toArray
  }

  /** Generic per-query top-k ranking of a scored candidate table —
    * the public face of the bounded-heap rank used by every ANN path
    * here: (query, id, score) in, (query_id, neighbor_id, score, rank)
    * out, rank 1 = highest score, ties broken by smaller id. Map-side
    * k-entry heaps per query, never a sort window over the scored set —
    * the property that makes "rank 10^9 scored candidates per query"
    * safe. Ids must be (castable to) int64, the corpus-wide convention.
    */
  def topKRanking(scored: DataFrame, queryCol: String, idCol: String,
                  scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    import org.apache.spark.sql.graft.{ColumnBridge, TopKPairsAgg}
    def topk(key: Column, id: Column): Column = ColumnBridge.column(
      TopKPairsAgg(ColumnBridge.expression(key), ColumnBridge.expression(id), k)
        .toAggregateExpression())
    val idType = scored.schema(idCol).dataType
    scored
      .select(col(queryCol).as("query_id"),
        (-col(scoreCol).cast("double")).as("__neg"),
        col(idCol).cast("long").as("__nid"))
      .groupBy("query_id")
      .agg(topk(col("__neg"), col("__nid")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e._2").cast(idType).as("neighbor_id"),
        (-col("__e._1")).as("score"), (col("__pos") + 1).as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    * N ranked candidate lists per query — the standard hybrid-retrieval
    * combiner (BM25 + dense ANN, or several ANN indexes): each list
    * contributes 1/(kConst + rank) for each candidate it ranked, and
    * candidates are re-ranked by the summed score. Robust to incomparable
    * score scales because only RANKS cross lists.
    *
    * Determinism contract: the per-list contribution is quantized to an
    * exact long, floor(scale / (kConst + rank)) — for rank + kConst below
    * ~10^6 the double division is provably more than an ulp away from the
    * next integer, so floor is engine-exact (the q_temperature_mix
    * integer-quantization pattern) — and long sums are order-independent,
    * so the fused ranking is reproducible across engines and runs.
    * `rrf` = rrf_micro / scale is the conventional float score derived
    * from that exact sum by one correctly-rounded division.
    *
    * Each input needs (queryCol, idCol, rankCol) with rank >= 1; a
    * candidate listed twice in one list counts once at its best rank.
    * Returns (query_id, neighbor_id, n_lists, rrf_micro, rrf, rank) with
    * rank 1..topK per query by (rrf_micro desc, neighbor_id asc).
    *
    * Scale: one union (map-side), one (list, query, id) best-rank
    * aggregate, one (query, id) sum, then the bounded-heap ranking —
    * no rank window, no driver state; the post-heap attach of n_lists
    * and scores is an equi join of a topK-bounded set.
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, kConst: Int = 60, topK: Int = 10,
              scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kConst >= 0, s"bad kConst $kConst")
    require(scale >= 1000, s"bad scale $scale")
    val idType = rankings.head.schema(idCol).dataType
    val parts = rankings.zipWithIndex.map { case (r, i) =>
      r.select(lit(i).as("__list"), col(queryCol).as("query_id"),
        col(idCol).cast("long").as("__nid"),
        col(rankCol).cast("long").as("__rank"))
    }
    // ranks beyond `scale` contribute floor(scale/(k+r)) = 0 anyway;
    // dropping them up front also removes the k+r int64 overflow path
    // for adversarial rank values
    val best = parts.reduce(_.union(_))
      .filter(col("__rank") >= 1 && col("__rank") < scale)
      .groupBy("__list", "query_id", "__nid")
      .agg(min(col("__rank")).as("__r"))
    val fused = best
      .select(col("query_id"), col("__nid"),
        floor(lit(scale.toDouble) / (lit(kConst) + col("__r")))
          .cast("long").as("__c"))
      .groupBy("query_id", "__nid")
      .agg(sum(col("__c")).as("rrf_micro"), count(lit(1)).as("n_lists"))
    topKRanking(fused.withColumn("__score",
        col("rrf_micro").cast("double")), "query_id", "__nid", "__score", topK)
      .select(col("query_id"), col("neighbor_id").as("__nid"), col("rank"))
      .join(fused, Seq("query_id", "__nid"))
      .select(col("query_id"), col("__nid").cast(idType).as("neighbor_id"),
        col("n_lists"), col("rrf_micro"),
        (col("rrf_micro").cast("double") / scale).as("rrf"),
        col("rank").cast("long").as("rank"))
  }
}
