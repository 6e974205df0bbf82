package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

/** Link-graph centrality over an edge table — the host-graph quality prior
  * a crawl pipeline feeds into document scoring (Common Crawl publishes
  * exactly this: host-level centrality over the link graph; pages from
  * well-ranked hosts get a quality boost).
  *
  * PageRank update: r' = (1-d)/N + d * (Σ_in r/outdeg + dangling/N).
  * Scale shape: one edges⋈ranks shuffle + one dst-grain aggregate per
  * iteration (the classic join-based formulation every Spark/Pregel
  * implementation converges on), the per-iteration ranks table is a
  * [[org.apache.spark.sql.graft.Pins]] loop pin so lineage stays
  * one-iteration deep, and the dangling mass is a single scalar aggregate
  * per iteration. Each operator's pins live in one `Pins.scoped`: what
  * its result does not read is released when it returns. The same
  * altitude rule as connectedComponents applies: a graph whose edge list
  * fits the driver cap runs the identical power iteration in-memory
  * (iterations × fixed job overhead dominates tiny graphs — the
  * q_cc_dedup lesson), while the distributed loop covers graphs that
  * cannot fit.
  */
object LinkGraph {

  /** (s, d) -> both directions via ONE explode pass (r14, VERDICT ask 5:
    * the `directed ∪ reverse(directed)` self-union executed the producing
    * subtree once per branch — 2x the edge-clean scan at any scale). Same
    * row multiset; every consumer here is a `.distinct()`/aggregate or an
    * integer-accumulating driver loop, so results are unchanged. NOT
    * applied to the pagerank/HITS node-set unions: those feed double
    * accumulators whose FP rounding is order-sensitive, and their inputs
    * are already-checkpointed frames (cached scans) — no win, real risk.
    */
  private def bothDirections(directed: DataFrame): DataFrame =
    directed.select(explode(array(
        struct(col("s"), col("d")),
        struct(col("d").as("s"), col("s").as("d")))).as("__e"))
      .select(col("__e.s").as("s"), col("__e.d").as("d"))

  /** PageRank over (src, dst) string edges. Returns (node, rank); ranks sum
    * to 1. Multi-edges count once per occurrence (weight by repetition);
    * self-loops participate like any edge. `driverCap` = max edge rows the
    * in-memory path may collect (0 forces the distributed loop).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85,
               driverCap: Long = 2000000L): DataFrame =
    personalizedPageRank(edges, srcCol, dstCol, seeds = Seq.empty,
      iters, damping, driverCap)

  /** Seeded (personalized) PageRank — the TrustRank pattern: teleport mass
    * returns to the SEED set (trusted hosts: curated domains, .edu/.gov
    * whitelists) instead of uniformly, so rank flows outward from trust
    * through links and spam islands unreachable from seeds get only
    * residual mass. Empty `seeds` = classic uniform PageRank. Seeds absent
    * from the graph still receive teleport mass (they are nodes by
    * declaration).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[String], iters: Int = 10,
                           damping: Double = 0.85,
                           driverCap: Long = 2000000L): DataFrame = Pins.scoped { pins =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    // pinned: the count and the collect, or the node set, the out-degrees
    // and every round's contribution join, re-read the edges
    val ec = pins.pin(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    val seedSet = seeds.distinct

    val nEdges = ec.count()
    if (nEdges <= driverCap) {
      // in-memory power iteration, identical update rule
      val pairs = ec.as[(String, String)].collect()
      val nodes = (pairs.map(_._1) ++ pairs.map(_._2) ++ seedSet).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val n = nodes.length
      val outdeg = new Array[Long](n)
      pairs.foreach { case (s, _) => outdeg(idx(s)) += 1 }
      val t: Array[Double] =
        if (seedSet.isEmpty) Array.fill(n)(1.0 / n)
        else {
          val a = new Array[Double](n)
          seedSet.foreach(s => a(idx(s)) = 1.0 / seedSet.size)
          a
        }
      var rank = t.clone()
      for (_ <- 1 to iters) {
        val in = new Array[Double](n)
        pairs.foreach { case (s, d) => in(idx(d)) += rank(idx(s)) / outdeg(idx(s)) }
        var dangling = 0.0
        var i = 0
        while (i < n) { if (outdeg(i) == 0) dangling += rank(i); i += 1 }
        rank = Array.tabulate(n)(i =>
          (1.0 - damping) * t(i) + damping * (in(i) + dangling * t(i)))
      }
      spark.createDataFrame(nodes.zip(rank).toSeq).toDF("node", "rank")
    } else {
      // pinned: the count and every round's teleport join re-read it
      val nodes = pins.pin((ec.select(col("src").as("node"))
        .union(ec.select(col("dst").as("node")))
        .union(seedSet.toDF("node")))
        .distinct())
      val n = nodes.count()
      // teleport share per node: uniform, or concentrated on the seed list
      // (trusted lists are driver-sized by nature — a curated whitelist)
      def teleport(node: Column): Column =
        if (seedSet.isEmpty) lit(1.0 / n)
        else when(node.isin(seedSet: _*), lit(1.0 / seedSet.size)).otherwise(lit(0.0))
      // pinned: every round's dangling probe and contribution join re-read it
      val outdeg = pins.pin(ec.groupBy("src").agg(count(lit(1)).as("__deg")))
      var ranks = nodes.withColumn("rank", teleport(col("node")))
      for (_ <- 1 to iters) {
        // scalar job: rank mass sitting on dangling nodes this iteration
        val dangling = ranks.join(outdeg, ranks("node") === outdeg("src"), "left_anti")
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
        val contrib = ec.join(outdeg, "src")
          .join(ranks, col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") / col("__deg")).as("__in"))
        // loop state: the next round's probe and join re-read it; a loop
        // pin drops the carried size estimate, which would otherwise
        // compound across rounds (see Pins)
        ranks = pins.loop(
          nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            ((lit(1.0 - damping) + lit(damping) * dangling) * teleport(col("node"))
              + lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank")))
      }
      ranks
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) — the second classic link
    * signal next to PageRank, and the one that separates ROLES: a
    * directory/aggregator page is a hub (links to many authorities), a
    * canonical source is an authority (linked by many hubs). PageRank
    * conflates the two into one score. Mutual-reinforcement iteration
    * with L1 normalization each round (keeps both vectors summing to 1 —
    * the scale-free part of the classic L2 form, chosen because the sums
    * are single scalar aggregates).
    *
    * Returns (node, hub, authority). Same dual-path altitude rule as
    * [[personalizedPageRank]]: small edge lists iterate on the driver
    * (identical arithmetic — spec-pinned parity), large ones run the
    * join-based loop with one-iteration-deep lineage.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 10, driverCap: Long = 2000000L): DataFrame = Pins.scoped { pins =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    // pinned: the count and the collect, or the node set and both joins of
    // every round, re-read the edges
    val ec = pins.pin(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    val nEdges = ec.count()
    if (nEdges <= driverCap) {
      val pairs = ec.as[(String, String)].collect()
      val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val n = nodes.length
      var hub = Array.fill(n)(1.0 / n)
      var auth = Array.fill(n)(1.0 / n)
      for (_ <- 1 to iters) {
        val a = new Array[Double](n)
        pairs.foreach { case (s, d) => a(idx(d)) += hub(idx(s)) }
        val aSum = a.sum
        auth = if (aSum > 0) a.map(_ / aSum) else a
        val h = new Array[Double](n)
        pairs.foreach { case (s, d) => h(idx(s)) += auth(idx(d)) }
        val hSum = h.sum
        hub = if (hSum > 0) h.map(_ / hSum) else h
      }
      spark.createDataFrame(
        nodes.indices.map(i => (nodes(i), hub(i), auth(i))))
        .toDF("node", "hub", "authority")
    } else {
      // pinned: the count and both normalizing joins of every round re-read it
      val nodes = pins.pin(ec.select(col("src").as("node"))
        .union(ec.select(col("dst").as("node")))
        .distinct())
      val n = nodes.count()
      var scores = nodes.withColumn("hub", lit(1.0 / n))
        .withColumn("authority", lit(1.0 / n))
      // Normalization is folded into the lazy plan as 1-row aggregate
      // frames (crossJoin) instead of blocking head() actions, and the
      // iteration materializes with ONE loop pin — 1 job per
      // iteration instead of ~5 (two scalar actions + three eager
      // checkpoints). The authority subtree appears twice in the DAG;
      // Spark's exchange reuse dedups the shuffle, so it costs one
      // computation. Arithmetic is identical to the driver path
      // (normalize-every-round), so the 1e-9 parity spec still pins it.
      for (_ <- 1 to iters) {
        val aRaw = ec.join(scores, col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("hub")).as("__a"))
        val aTot = aRaw.agg(coalesce(sum(col("__a")), lit(0.0)).as("__asum"))
        val withAuth = nodes.join(aRaw, nodes("node") === aRaw("dst"), "left")
          .crossJoin(aTot)
          .select(col("node"),
            (coalesce(col("__a"), lit(0.0)) /
              when(col("__asum") > 0, col("__asum")).otherwise(lit(1.0)))
              .as("authority"))
        val hRaw = ec.join(withAuth, col("dst") === col("node"))
          .groupBy(col("src")).agg(sum(col("authority")).as("__h"))
        val hTot = hRaw.agg(coalesce(sum(col("__h")), lit(0.0)).as("__hsum"))
        scores = nodes.join(hRaw, nodes("node") === hRaw("src"), "left")
          .crossJoin(hTot)
          .select(nodes("node"),
            (coalesce(col("__h"), lit(0.0)) /
              when(col("__hsum") > 0, col("__hsum")).otherwise(lit(1.0)))
              .as("hub"))
          .join(withAuth.withColumnRenamed("node", "__n2"),
            col("node") === col("__n2"))
          .select(col("node"), col("hub"), col("authority"))
        // loop state, re-read by the next round: this plan references
        // `scores` (and the lazy totals) several times, so a carried size
        // estimate would compound each round (see Pins)
        scores = pins.loop(scores)
      }
      scores
    }
  }

  /** k-core: the (unique) maximal subgraph in which every node keeps at
    * least `k` neighbors — the standard dense-community filter for link
    * graphs (spam farms and boilerplate interlinks survive low cores;
    * organic hubs survive high ones). Edges are canonicalized to an
    * UNDIRECTED SIMPLE graph first (dedup + self-loop drop), because
    * core membership is a neighborhood-size property, not a multi-edge
    * count. Returns (node, degree) for core members, degree measured
    * inside the core.
    *
    * Peeling runs in synchronous rounds — every round removes ALL nodes
    * whose survivor-degree is < k at once. The fixpoint is unique no
    * matter the removal order, so the result is deterministic and an
    * independent engine iterating the same rounds reproduces it exactly
    * (the oracle gate chains fixed-round CTEs in DuckDB). Scale shape:
    * each round is two left-semi joins (edges x survivors, shuffled on
    * the node key) + one endpoint-union aggregate; the survivor table is
    * a loop pin so lineage stays one round deep; rounds are
    * bounded by the graph's peeling depth (small for real link graphs —
    * shells empty out layer by layer). Graphs under `driverCap` edges
    * run identical synchronous rounds in memory — the q_cc_dedup
    * altitude rule: per-round job overhead dominates tiny graphs.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 30, driverCap: Long = 2000000L): DataFrame = Pins.scoped { pins =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val spark = edges.sparkSession
    import spark.implicits._
    // pinned: the count and the collect, or both semi-joins of every round,
    // re-read the edges
    val ec = pins.pin(edges
      .select(col(srcCol).cast("string").as("s"), col(dstCol).cast("string").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct())
    val nEdges = ec.count()
    if (nEdges <= driverCap) {
      val pairs = ec.as[(String, String)].collect()
      val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      var alive = Array.fill(nodes.length)(true)
      var changed = true
      var it = 0
      var deg = new Array[Int](nodes.length)
      while (changed && it < maxIters) {
        java.util.Arrays.fill(deg, 0)
        pairs.foreach { case (x, y) =>
          if (alive(idx(x)) && alive(idx(y))) { deg(idx(x)) += 1; deg(idx(y)) += 1 }
        }
        val next = nodes.indices.map(i => alive(i) && deg(i) >= k).toArray
        changed = !java.util.Arrays.equals(next, alive)
        alive = next
        it += 1
      }
      spark.createDataFrame(nodes.indices.collect {
          case i if alive(i) => (nodes(i), deg(i).toLong)
        }).toDF("node", "degree")
    } else {
      // loop state: the count and the first round's semi-joins re-read it
      var surv = pins.loop(ec.select(col("a").as("node"))
        .union(ec.select(col("b").as("node")))
        .distinct())
      var n = surv.count()
      var result: DataFrame = null
      var it = 0
      while (result == null && it < maxIters && n > 0) {
        val kept = ec
          .join(surv.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(surv.select(col("node").as("b")), Seq("b"), "left_semi")
        // loop state: the count and the next round's semi-joins re-read
        // it; `kept` is referenced twice, so a carried size estimate would
        // compound per round (see Pins)
        val deg = pins.loop(
          kept.select(col("a").as("node"))
          .union(kept.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree"))
          .filter(col("degree") >= k))
        val m = deg.count()
        if (m == n) result = deg // fixpoint: survivor set stable
        else { surv = deg.select("node"); n = m }
        it += 1
      }
      if (result != null) result
      else if (n == 0) surv.withColumn("degree", lit(0L)).limit(0)
      else { // maxIters hit pre-fixpoint: report the current shell
        val kept = ec
          .join(surv.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(surv.select(col("node").as("b")), Seq("b"), "left_semi")
        kept.select(col("a").as("node")).union(kept.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree"))
      }
    }
  }

  /** Label propagation communities (Raghavan et al. 2007, synchronous
    * variant): every node simultaneously adopts the most frequent label
    * in its CLOSED neighborhood (neighbors + itself), ties broken by the
    * LARGEST label. This is the community layer [[graft.operators.Dedup
    * .connectedComponents]] deliberately is not: CC merges everything any
    * path connects (one boilerplate bridge chains two template families
    * into one blob — the lesson-13 failure), LPA keeps densely
    * intra-linked groups apart because a handful of bridge votes loses to
    * the clique majority. Including the node's own label and breaking
    * ties deterministically makes the synchronous update a pure function
    * of the previous round (no engine- or order-dependence — an oracle
    * can replay the rounds), and damps the classic 2-cycle oscillation on
    * bipartite structure; `maxIters` bounds the rare residual oscillator,
    * and the loop exits early at a fixpoint (further rounds are no-ops,
    * so a fixed-round replay still matches).
    *
    * Edges are canonicalized to an undirected SIMPLE graph (multi-edge
    * dedup + self-loop drop): membership should reflect distinct
    * neighbors, not crawl-frequency multi-edges. Scale shape: each round
    * is one equi join (symmetrized edges x labels, shuffled on the node
    * key) + two aggregates — (node, label) vote counts, then the
    * frequency argmax as ONE max(struct(cnt, label)) with no window; the
    * label table is a [[org.apache.spark.sql.graft.Pins]] loop pin so
    * neither lineage nor carried size stats compound across rounds.
    * Graphs under `driverCap` edges run the identical rounds in memory
    * (the q_cc_dedup altitude rule); the short-circuit requires integral
    * ids — driver label ordering must agree with Catalyst's for parity,
    * which holds for integers but not for arbitrary collated strings.
    *
    * Returns (node, community), community = the converged label (a node
    * id). Unweighted: a crawl graph's edge multiplicity is hostility
    * (boilerplate), not affinity — weight-aware variants should
    * pre-aggregate edges and pass the weight as repeated rows only if
    * that is genuinely the wanted semantics.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIters: Int = 15,
                       driverCap: Long = 2000000L): DataFrame = Pins.scoped { pins =>
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema(srcCol).dataType
    val directed = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    // both directions, deduped: each undirected neighbor votes exactly once.
    // Pinned: the count and the collect, or every round's vote join,
    // re-read the edges
    val ec = pins.pin(bothDirections(directed).distinct())
    val integralIds = Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType).contains(idType)
    val nDirected = ec.count() // 2x undirected edge count
    if (integralIds && nDirected <= 2 * driverCap) {
      val pairs = ec.select(col("s").cast("long"), col("d").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nodes = pairs.map(_._1).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      var label = nodes.clone()
      var round = 0
      var converged = false
      while (round < maxIters && !converged) {
        // closed-neighborhood vote: most frequent, tie -> largest label
        val votes = Array.fill(nodes.length)(
          scala.collection.mutable.HashMap.empty[Long, Long])
        nodes.indices.foreach { i =>
          votes(i)(label(i)) = votes(i).getOrElse(label(i), 0L) + 1L
        }
        pairs.foreach { case (s, d) =>
          val m = votes(idx(d))
          m(label(idx(s))) = m.getOrElse(label(idx(s)), 0L) + 1L
        }
        val next = Array.tabulate(nodes.length) { i =>
          votes(i).maxBy { case (lbl, cnt) => (cnt, lbl) }._1
        }
        converged = java.util.Arrays.equals(next, label)
        label = next
        round += 1
      }
      spark.createDataFrame(nodes.indices.map(i => (nodes(i), label(i))))
        .toDF("node", "community")
        .select(col("node").cast(idType), col("community").cast(idType))
    } else {
      // loop state: the first round's votes and fixpoint probe re-read it
      var labels = pins.loop(
        ec.select(col("s").as("node")).distinct()
          .withColumn("community", col("node")))
      var round = 0
      var converged = false
      while (round < maxIters && !converged) {
        val votes = ec
          .join(labels.select(col("node").as("s"), col("community")), Seq("s"))
          .select(col("d").as("node"), col("community"))
          .unionByName(labels)
          .groupBy("node", "community").agg(count(lit(1)).as("__cnt"))
        // loop state: the fixpoint probe and the next round re-read it
        val next = pins.loop(votes
          .groupBy("node")
          .agg(max(struct(col("__cnt"), col("community"))).as("__m"))
          .select(col("node"), col("__m.community").as("community")))
        // fixpoint probe: one existence check over two label tables —
        // any changed row means another round
        converged = next.join(labels.withColumnRenamed("community", "__prev"),
            Seq("node"))
          .filter(col("community") =!= col("__prev"))
          .limit(1).isEmpty
        labels = next
        round += 1
      }
      labels
    }
  }

  /** Common-neighbor link prediction over an undirected simple graph:
    * for every node pair sharing at least one neighbor, the shared count,
    * the Resource Allocation index (Zhou et al. 2009: Σ_z 1/deg(z) over
    * common neighbors z — empirically at least as good as Adamic–Adar,
    * and its weight is EXACT integer arithmetic: `ra_scaled` carries
    * Σ_z (2^24 div deg(z)), engine-identical in any accumulation order,
    * where 1/ln(deg) would ride on libm's last ulp — the lesson-10
    * representation family), the Adamic–Adar score as a double
    * convenience column, and whether the pair is already linked. Filter
    * `NOT is_edge` for missing-link candidates (crawl frontier hints,
    * near-dup pairs the banding missed); keep edges for re-scoring
    * existing links by structural support.
    *
    * Scale shape: the wedge work is done ROW-LOCALLY — one groupBy
    * collects each center's sorted neighbor list (centers capped at
    * `maxDegree`: a hub's C(deg, 2) wedge fan-out is quadratic cost for
    * near-zero per-pair weight, so dropping hub centers bounds compute
    * AND matches the signal's intent), then pair emission is a nested
    * transform over the bounded array — no wedge self-join shuffle. One
    * further groupBy aggregates pair scores; total cost Σ_z deg(z)²
    * under the cap.
    *
    * Returns (a, b, common_neighbors, ra_scaled, aa, is_edge), a < b.
    */
  def commonNeighborScores(edges: DataFrame, srcCol: String, dstCol: String,
                           maxDegree: Int = 1000): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val directed = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val sym = bothDirections(directed).distinct()
    val centers = sym.groupBy(col("s").as("__z"))
      .agg(array_sort(collect_set(col("d"))).as("__nbrs"))
      .filter(size(col("__nbrs")).between(2, maxDegree))
      .withColumn("__deg", size(col("__nbrs")).cast("long"))
    val n = size(col("__nbrs"))
    val pairs = flatten(transform(sequence(lit(0), n - 2), i =>
      transform(sequence(i + 1, n - 1), j =>
        struct(element_at(col("__nbrs"), (i + 1).cast("int")).as("a"),
          element_at(col("__nbrs"), (j + 1).cast("int")).as("b")))))
    val wedges = centers
      .select(explode(pairs).as("__p"), col("__deg"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"),
        expr("16777216L div __deg").as("__ra"),
        (lit(1.0) / log(col("__deg").cast("double"))).as("__aa"))
    val scored = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__ra")).as("ra_scaled"), sum(col("__aa")).as("aa"))
    val und = sym.filter(col("s") < col("d"))
      .select(col("s").as("a"), col("d").as("b"), lit(true).as("__e"))
    scored.join(und, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("common_neighbors"),
        col("ra_scaled"), col("aa"),
        coalesce(col("__e"), lit(false)).as("is_edge"))
  }

  /** Minimum hop distance from a trusted seed set — the hop-count cousin
    * of [[pageRank]]-with-seeds (TrustRank): "how many links from a
    * curated whitelist" is a standard crawl-quality feature (SEO farms
    * sit far from every reputable seed; organically linked content sits
    * close), and a cheap per-document feature column for quality
    * classifiers. Undirected (edges symmetrized, multi-edges/self-loops
    * dropped): proximity, not endorsement direction — use
    * `personalizedPageRank` when direction matters.
    *
    * Synchronous min-relaxation: dist'(v) = min(dist(v), min over
    * neighbors dist(u) + 1), run exactly `maxHops` rounds — distance is
    * capped by construction, so the loop needs no convergence probe and
    * an oracle replays the same fixed rounds. Each round is one equi
    * join (edges x current distances) + one min aggregate, loop-pinned.
    * This is relax-ALL, not frontier BFS: at bounded maxHops (the use
    * case — past ~6 hops the signal is "far") the uniform round shape
    * wins on simplicity and replayability; a frontier variant only pays
    * off at large diameters. Nodes unreached within `maxHops` report a
    * null distance (filterable, joinable). Seeds absent from the graph
    * contribute nothing; graphs under `driverCap` run the identical
    * rounds in memory (integral ids, the CC parity rule).
    *
    * Returns (node, distance) for every graph node; distance 0 = seed.
    */
  def seedDistance(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: Seq[Any], maxHops: Int = 6,
                   driverCap: Long = 2000000L): DataFrame = Pins.scoped { pins =>
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    require(seeds.nonEmpty, "seeds must be non-empty")
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema(srcCol).dataType
    val directed = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    // pinned: the count and the collect, or every round's relaxation join,
    // re-read the edges
    val ec = pins.pin(bothDirections(directed).distinct())
    val integralIds = Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType).contains(idType)
    val nDirected = ec.count()
    if (integralIds && nDirected <= 2 * driverCap) {
      val pairs = ec.select(col("s").cast("long"), col("d").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nodes = pairs.map(_._1).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val seedSet = seeds.map(String.valueOf(_).toLong).toSet
      val dist = Array.fill(nodes.length)(Long.MaxValue)
      nodes.indices.foreach(i => if (seedSet(nodes(i))) dist(i) = 0L)
      for (_ <- 1 to maxHops) {
        val next = dist.clone()
        pairs.foreach { case (s, d) =>
          if (dist(idx(s)) != Long.MaxValue)
            next(idx(d)) = math.min(next(idx(d)), dist(idx(s)) + 1)
        }
        System.arraycopy(next, 0, dist, 0, dist.length)
      }
      spark.createDataFrame(nodes.indices.map(i => (nodes(i),
          if (dist(i) == Long.MaxValue) None else Some(dist(i)))))
        .toDF("node", "distance")
        .select(col("node").cast(idType), col("distance"))
    } else {
      // pinned: the seed filter and the final join re-read it
      val nodes = pins.pin(ec.select(col("s").as("node")).distinct())
      val seedLit = typedlit(seeds.map(String.valueOf(_)))
      var dist = nodes.filter(array_contains(seedLit,
          col("node").cast("string")))
        .withColumn("distance", lit(0L))
      for (_ <- 1 to maxHops) {
        // loop state: the next round's join and union re-read it
        dist = pins.loop(
          ec.join(dist.select(col("node").as("s"), col("distance")), Seq("s"))
            .select(col("d").as("node"), (col("distance") + 1L).as("distance"))
            .unionByName(dist)
            .groupBy("node").agg(min(col("distance")).as("distance")))
      }
      nodes.join(dist, Seq("node"), "left")
    }
  }

  /** Deterministic random-walk corpus over an undirected simple graph —
    * the DeepWalk/node2vec(p=q=1) data-generation stage: fixed-length
    * walks from every node become the "sentences" a skip-gram embedding
    * trains on. Every step is a PRF of (origin, walk, step, seed) — an
    * md5 bucket indexing the node's SORTED neighbor list — so the corpus
    * is bit-reproducible across engines and runs (no RNG state, no
    * order-dependence; the DuckDB oracle replays the walks as fixed-round
    * CTEs), and regenerating with the same seed after a corpus refresh
    * yields stable walk ids for incremental training.
    *
    * Scale shape: the adjacency table is built ONCE (one groupBy; each
    * node keeps its `maxDegree` SMALLEST-id neighbors — a deterministic
    * hub cap that bounds the array payload, where an uncapped crawl-hub
    * row would be a multi-MB cell), then each of the `walkLen` steps is
    * one equi join of the (origin, walk, cur) frontier against adjacency,
    * loop-pinned so neither lineage nor carried stats compound. Total
    * cost: walkLen shuffles of a frontier that never exceeds
    * nodes x walksPerNode rows. Walks never dead-end: the symmetrized
    * graph gives every non-isolated node a neighbor; isolated nodes have
    * no walks.
    *
    * Returns (origin, walk, step, node), step 0 = origin.
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  walkLen: Int = 10, walksPerNode: Int = 2,
                  maxDegree: Int = 128, seed: Long = 0L): DataFrame = Pins.scoped { pins =>
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val directed = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val sym = bothDirections(directed).distinct()
    // pinned: the first frontier and every step's join re-read it
    val adj = pins.pin(
      sym.groupBy(col("s").as("__node"))
        .agg(slice(array_sort(collect_set(col("d"))), 1, maxDegree)
          .as("__nbrs")))
    var frontier = adj.select(col("__node").as("origin"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("walk"))
      .withColumn("cur", col("origin"))
    val out = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("origin"), col("walk"), lit(0).as("step"),
        col("cur").as("node")))
    for (s <- 1 to walkLen) {
      // PRF step: md5(origin, walk, step, seed) indexes the sorted
      // neighbor list — same spelling as Sampling.hashBucket, mirrored
      // verbatim in the oracle
      val prf = conv(substring(md5(concat_ws("_",
        col("origin").cast("string"), col("walk").cast("string"),
        lit(s.toString), lit(seed.toString))), 1, 8), 16, 10).cast("long")
      // loop state: the next step and the output union re-read it
      frontier = pins.loop(
        frontier.join(adj, frontier("cur") === adj("__node"))
          .select(col("origin"), col("walk"),
            element_at(col("__nbrs"),
              (pmod(prf, size(col("__nbrs")).cast("long")) + 1L).cast("int"))
              .as("cur")))
      out += frontier.select(col("origin"), col("walk"),
        lit(s).as("step"), col("cur").as("node"))
    }
    out.reduce(_ unionByName _)
  }

  /** Newman modularity of a labeled partition over an undirected simple
    * graph: Q = Σ_c [ e_c/m − (d_c/2m)² ] — intra-community edge share
    * minus the share expected from degrees alone. Positive Q means the
    * partition beats a degree-preserving random rewiring; the standard
    * acceptance metric for [[labelPropagation]] output (and for deciding
    * whether a near-dup component split is real structure or chaining).
    *
    * Returns per-community rows (community, size, intra_edges,
    * degree_sum) plus the exact integer modularity numerator carried on
    * every row: `q_scaled_term = 4·m·e_c − d_c²` with Q =
    * Σ q_scaled_term / (4m²) — all-long arithmetic, so the decomposition
    * is engine-exact in any accumulation order (the DuckDB oracle
    * restates it from its own replayed labels; a double Q would be
    * parallel-sum nondeterministic — the lesson-5 class). Unlabeled
    * nodes (in `labels` but not the graph, or vice versa) follow left
    * semantics: only edges with BOTH endpoints labeled count, and
    * `size` counts label rows. Shape: two equi joins of the edge list
    * against the label table + three community-grain aggregates — no
    * window, no driver loop.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String = "node",
                 communityCol: String = "community"): DataFrame = {
    val directed = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val und = directed
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()
    val lab = labels.select(col(nodeCol).as("__n"),
      col(communityCol).as("__c"))
    val both = und
      .join(lab.withColumnRenamed("__n", "a").withColumnRenamed("__c", "__ca"),
        Seq("a"))
      .join(lab.withColumnRenamed("__n", "b").withColumnRenamed("__c", "__cb"),
        Seq("b"))
    val intra = both.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    // r13 opt: one explode, not a self-union — the union's two branches
    // each re-executed the edge-labels double join feeding `both`;
    // same multiset into the count aggregate
    val deg = both.select(explode(array(col("__ca"), col("__cb")))
        .as("community"))
      .groupBy("community").agg(count(lit(1)).as("degree_sum"))
    val size = lab.groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("size"))
    val m = both.agg(coalesce(count(lit(1)), lit(0L)).as("__m"))
    size
      .join(deg, Seq("community"), "left")
      .join(intra, Seq("community"), "left")
      .crossJoin(m) // 1-row total frame
      .select(col("community"), col("size"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        (lit(4L) * col("__m") * coalesce(col("intra_edges"), lit(0L))
          - coalesce(col("degree_sum"), lit(0L))
            * coalesce(col("degree_sum"), lit(0L))).as("q_scaled_term"),
        col("__m").as("m_edges"))
  }
}
