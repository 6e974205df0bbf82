package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Scale-property regression net over the physical plans of every gate
  * query (SURVEY.md §4/§6): predicates and projections must reach the
  * parquet scans, small sides must broadcast, window operators must be
  * partitioned (an unpartitioned WindowExec serializes the table through
  * one task at any scale), and nothing may plan a true cartesian product.
  * Runs against sf0.001 — plan SHAPE is scale-invariant, so this pins the
  * properties that matter at 100 TB without the 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def execPlanString(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q_filter_project pushes both predicates into the parquet scan") {
    val p = execPlanString("q_filter_project")
    assert(p.contains("PushedFilters:"), p.takeRight(500))
    assert(p.contains("LessThan(l_shipdate") || p.contains("LessThan(l_quantity"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q1_agg scan reads only the referenced columns") {
    val read = execPlanString("q1_agg").linesIterator
      .find(_.contains("ReadSchema")).get
    for (c <- Seq("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount"))
      assert(read.contains(c), read)
    for (c <- Seq("l_comment", "l_shipdate", "l_orderkey"))
      assert(!read.contains(c), read)
  }

  test("q_join_revenue broadcasts the customer dimension") {
    val p = execPlanString("q_join_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("LM/tf-idf plans force no broadcast of corpus-derived model tables") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
    // the ONLY broadcast hints allowed in these plans are the 1-row totals
    // aggregates: a vocabulary/bigram model table is a function of corpus
    // size, and a forced hint makes an impossible broadcast at 100 TB
    // where AQE would have degraded to a shuffle join
    for (q <- Seq("q_unigram_lp", "q_bigram_lp", "q_tfidf_topk",
        "q_inverted_index", "q_bm25", "q_phrase_search")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      plan.foreach {
        case j: Join =>
          for ((hint, side) <- Seq(j.hint.leftHint -> j.left,
              j.hint.rightHint -> j.right)
              if hint.exists(_.strategy.contains(BROADCAST)))
            assert(side.maxRows.contains(1L),
              s"$q: forced broadcast of an unbounded side:\n$side")
        case _ =>
      }
    }
  }

  test("dedup and ANN rankings plan bounded aggregates, not rank windows") {
    // Dedup.exact: groupBy-min, not a window over a hot fingerprint;
    // top-k rankings: the bounded TopKPairs aggregate, not a per-query
    // sort of the full scored candidate set. The ANN operators are
    // audited DIRECTLY (their gates became recall-claims in r7, which
    // deliberately embed the brute-force exact baseline for comparison).
    for (q <- Seq("q_fingerprint_dedup", "q_cosine_topk")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.isEmpty, s"$q plans a WindowExec:\n${windows.mkString("\n")}")
    }
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val q = e.filter(col("vec_id") < 20)
    val pqm = graft.operators.Similarity.pqTrain(e, "v", dims = 64, m = 8,
      ksub = 16)
    val anns = Map(
      "lshTopK" -> graft.operators.Similarity.lshTopK(e, q, "vec_id", "v",
        k = 5, bits = 6, tables = 4, dims = 64, probeHamming = 1),
      "ivfTopK" -> graft.operators.Similarity.ivfTopK(e, q, "vec_id", "v",
        k = 5, nlist = 8, nprobe = 3),
      "pqTopK" -> graft.operators.Similarity.pqTopK(e, q, "vec_id", "v",
        pqm, k = 5))
    for ((name, ann) <- anns) {
      val windows = ann.queryExecution.sparkPlan
        .collect { case w: WindowExec => w }
      assert(windows.isEmpty, s"$name plans a WindowExec:\n${windows.mkString("\n")}")
    }
  }

  test("q_ccnet_buckets buckets via aggregates, not a per-language rank window") {
    // the design claim in TextAnalysis.perplexityBuckets: tercile
    // boundaries come from a percentile aggregate + broadcast compare; an
    // ntile window would serialize each language into ONE sort task
    val plan = SparkEntry.queries("q_ccnet_buckets")(spark, dir)
      .queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, windows.mkString("\n"))
  }

  test("q_filter_funnel scans the corpus exactly once for all stages") {
    // the design claim in Diagnostics.filterFunnel: every stage's survivor
    // count is a conditional sum in ONE map pass — adding stages must not
    // add scans
    val scans = SparkEntry.queries("q_filter_funnel")(spark, dir)
      .queryExecution.sparkPlan
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
  }

  test("q_interval_join plans an equi join, never a nested-loop range join") {
    // the design claim in Timeseries.intervalJoin: bucketization turns
    // ts-BETWEEN-start-AND-end into a shuffled equi join; a naive range
    // join plans BroadcastNestedLoop (broadcast-bound, quadratic work)
    val plan = SparkEntry.queries("q_interval_join")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q_radius_join plans a shuffled equi join on cells, never a cross join") {
    // the design claim in Spatial.radiusJoinPlanar: grid-cell banding +
    // 9-way explode turns the radius join into a plain equi join on
    // (cx, cy); the naive distance join would plan Cartesian/BNLJ
    val plan = SparkEntry.queries("q_radius_join")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("ivfPqTopK scores through an equi join, never a nested loop") {
    // the design claim in Similarity.ivfPqTopK: probed-list routing turns
    // the candidate scan into a hash join on __list — pqTopK's deliberate
    // BNLJ full scan must NOT appear here (it is what nprobe/nlist prunes).
    // Audited at the operator (the r7 claims gate embeds a brute-force
    // exact baseline whose crossJoin is intentional).
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val q = e.filter(col("vec_id") < 20)
    val plan = graft.operators.Similarity.ivfPqTopK(e, q, "vec_id", "v",
        k = 5, nlist = 8, nprobe = 3, m = 8, ksub = 16)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, windows.mkString("\n"))
  }

  test("q_embed_cov is one scan into one fixed-size moment aggregate") {
    // the design claim in Pca/GramMatrixAgg: the distributed cost of a PCA
    // fit is ONE pass over the vectors with ~17 KB of aggregate state —
    // extra scans or windows would break that at 100 TB
    val plan = SparkEntry.queries("q_embed_cov")(spark, dir)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, windows.mkString("\n"))
  }

  test("q_suffix_block filters with zero joins in one scan") {
    // the design claim in Cleanse.filterByDomainSuffixBlocklist: the
    // blocklist is a row-local arrays_overlap literal — a join (worse, a
    // per-row BNLJ over the list) would shuffle or loop a 100 TB corpus
    // for a 10^3-entry dimension
    val plan = SparkEntry.queries("q_suffix_block")(spark, dir)
      .queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.isEmpty, joins.mkString("\n"))
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
  }

  test("q_novelty forces no broadcast of the reference gram set") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
    // the reference corpus is unbounded (a full crawl snapshot in the
    // incremental-novelty use); only AQE may choose to broadcast it
    val plan = SparkEntry.queries("q_novelty")(spark, dir)
      .queryExecution.optimizedPlan
    plan.foreach {
      case j: Join =>
        for ((hint, side) <- Seq(j.hint.leftHint -> j.left,
            j.hint.rightHint -> j.right)
            if hint.exists(_.strategy.contains(BROADCAST)))
          assert(side.maxRows.contains(1L),
            s"forced broadcast of an unbounded side:\n$side")
      case _ =>
    }
  }

  test("row-local chunkers plan no hash shuffle (map stage + output sort only)") {
    // the design claim in Chunking.chunkRowsBySentences/cdcChunks: chunk
    // rebuild happens row-locally via HOF folds — a groupBy(id, chunk)
    // rebuild would hash-shuffle the whole corpus
    for (q <- Seq("q_sentence_chunks", "q_cdc_chunks")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q hash-shuffles:\n${plan.take(1200)}")
    }
  }

  test("q_dataset_card is one corpus scan, no joins") {
    val plan = SparkEntry.queries("q_dataset_card")(spark, dir)
      .queryExecution.optimizedPlan
    var joins = 0; var scans = 0
    plan.foreach {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => joins += 1
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => scans += 1
      case _ =>
    }
    assert(joins == 0, s"dataset card must not join: $joins joins")
    assert(scans == 1, s"dataset card must scan once: $scans scans")
  }

  test("q_secret_scan is row-local (no hash shuffle before the output sort)") {
    val plan = SparkEntry.queries("q_secret_scan")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"secret scan hash-shuffles:\n${plan.take(1200)}")
  }

  test("rerankExact plans equi joins only — no nested loop over the corpus") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, dir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cand = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 7).as("neighbor_id"))
    val p = graft.operators.Similarity
      .rerankExact(cand, e, e.filter(col("vec_id") < 5), "vec_id", "v", 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q_aspect_buckets and q_frame_schedule are row-local map stages") {
    // the design claim in Multimodal.aspectBuckets/frameSchedule: the
    // bucket list is a folded literal array and the schedule an explode —
    // a join against a bucket table or a per-image shuffle would be wrong
    for (q <- Seq("q_aspect_buckets", "q_frame_schedule")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q hash-shuffles:\n${plan.take(1200)}")
      assert(!plan.contains("Join"), s"$q joins:\n${plan.take(1200)}")
    }
  }

  test("privacy group joins stay group-grain: no corpus expand, no window") {
    for (q <- Seq("q_k_anon", "q_k_anon_report", "q_l_diversity")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Expand"),
        s"$q plans a countDistinct expand:\n${plan.take(1200)}")
      assert(!plan.contains("Window"), s"$q windows:\n${plan.take(1200)}")
    }
  }

  test("lossMaskedPack windows are bucket-partitioned, span attach is equi") {
    val plan = SparkEntry.queries("q_sft_pack")(spark, dir)
      .queryExecution.executedPlan
    plan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned window in q_sft_pack:\n$w")
      case _ =>
    }
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s.take(1200))
  }

  test("r7-s3 gates: linkage joins equi+residual, fusion heap-ranked, " +
    "backtest shuffle-free") {
    // q_linkage: the nation-blocked pair join must plan as an equi join
    // (hash/sort-merge on the block key) with the range band as residual,
    // never BroadcastNestedLoop/Cartesian
    val link = SparkEntry.queries("q_linkage")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!link.contains("BroadcastNestedLoopJoin") &&
      !link.contains("CartesianProduct"), link.take(1200))
    // q_rrf_fusion / q_winnow_pairs: ranking via the bounded heap
    // aggregate and groupBy-count pair mining — no WindowExec anywhere
    for (q <- Seq("q_rrf_fusion", "q_winnow_pairs")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.isEmpty, s"$q plans a WindowExec:\n${windows.mkString("\n")}")
    }
    // q_backtest: pure map + explode over one scan — no join, no
    // aggregate-shuffle (the final orderBy is the gate's presentation
    // sort, the only exchange allowed)
    val bt = SparkEntry.queries("q_backtest")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!bt.contains("Join"), bt.take(1200))
  }

  test("skipGramPairs is one sequence-grain aggregate: no self-join, no window") {
    import spark.implicits._
    val seqs = Seq(("s1", 0L, "a"), ("s1", 1L, "b"), ("s1", 2L, "c"))
      .toDF("seq", "pos", "tok")
    val plan = graft.operators.Packing
      .skipGramPairs(seqs, Seq("seq"), "pos", "tok", window = 2)
      .queryExecution.executedPlan.toString
    // pair emission must be row-local: the only join-like/windowed shape
    // allowed is the single collect_list aggregate (2 exchanges = partial
    // + final would show as one Exchange under hash aggregation)
    assert(!plan.contains("Join"), plan.takeRight(800))
    assert(!plan.contains("Window"), plan.takeRight(800))
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 1, plan)
  }

  test("SuffixDedup spans: equi joins only, windows partitioned per doc") {
    // the suffix pipeline is iterative (ranks/ladder/pointer rounds run
    // eagerly through Pins.loop), so audit the FINAL span assembly plan:
    // the only window allowed is the per-document island merge, and
    // nothing may degrade to a cartesian/BNLJ
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, if (i % 10 < 2) s"a b c shared0 shared1 shared2 d$i e$i"
        else s"x$i y$i z$i w$i v$i u$i t$i s$i")
    }.toDF("doc_id", "text")
    val plan = operators.SuffixDedup.maximalRepeatedSpans(
      docs, "doc_id", "text", minTokens = 3, maxLen = 8,
      maxDriverPositions = 0L) // force the distributed pipeline
      .queryExecution.sparkPlan
    plan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned window in SuffixDedup spans:\n$w")
      case _ =>
    }
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s.take(1200))
  }

  test("ORC scans take the same pushdown/pruning contracts as parquet") {
    // format-parity audit (r10 VERDICT ask 7a): the scan-layer scale
    // properties — predicate pushdown (incl. string/date/null-check
    // predicates), column pruning, and partition pruning — must hold
    // identically when a pipeline lands on ORC instead of parquet, or an
    // ORC exchange silently full-scans at 100 TB. IngestSpec pins the
    // basic int-predicate round trip; this audits the full contract
    // side by side.
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag",
        "l_extendedprice")
    // scanOf matches the V1 FileSourceScanExec only — pin both formats to
    // the V1 read path for this test so a session/default flip to DSv2
    // (BatchScanExec) fails loudly here, not spuriously (r11 ADVICE); and
    // clean the temp dirs up in finally (they used to leak per run).
    val v1Key = "spark.sql.sources.useV1SourceList"
    val prevV1 = spark.conf.getOption(v1Key)
    spark.conf.set(v1Key, "parquet,orc")
    val base = java.nio.file.Files.createTempDirectory("orcparity").toString
    try {
    li.write.mode("overwrite").parquet(s"$base/pq")
    graft.sources.Sinks.writeOrc(li, s"$base/orc")
    // read the scan node's full metadata — the plan STRING truncates the
    // PushedFilters list at 100 chars, hiding the later predicates
    def scanOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan in:\n${df.queryExecution.executedPlan}"))
    def audited(df: org.apache.spark.sql.DataFrame) = scanOf(df
      .filter(col("l_shipdate") < "1995-01-01" && col("l_returnflag") === "R" &&
        col("l_quantity").isNotNull && col("l_quantity") > 10)
      .select("l_orderkey", "l_quantity"))
    val scans = Seq("pq" -> audited(spark.read.parquet(s"$base/pq")),
      "orc" -> audited(spark.read.orc(s"$base/orc")))
    for ((fmt, s) <- scans) {
      val pushed = s.metadata("PushedFilters")
      for (f <- Seq("LessThan(l_shipdate", "EqualTo(l_returnflag,R)",
          "IsNotNull(l_quantity)", "GreaterThan(l_quantity"))
        assert(pushed.contains(f), s"$fmt scan lost pushdown of $f: $pushed")
      val read = s.requiredSchema.fieldNames.toSet
      for (c <- Seq("l_orderkey", "l_quantity"))
        assert(read.contains(c), s"$fmt: $read")
      assert(!read.contains("l_extendedprice"),
        s"$fmt scan reads the unreferenced wide column: $read")
    }
    // partition pruning parity: the flag predicate must land in
    // PartitionFilters (pruned at planning), not in data filters
    val byFlag = li.limit(2000)
    for (fmt <- Seq("parquet", "orc")) {
      byFlag.write.mode("overwrite").format(fmt)
        .partitionBy("l_returnflag").save(s"$base/part_$fmt")
      val s = scanOf(spark.read.format(fmt).load(s"$base/part_$fmt")
        .filter(col("l_returnflag") === "R").select("l_orderkey"))
      assert(s.partitionFilters.exists(_.references.exists(
          _.name == "l_returnflag")),
        s"$fmt partitioned scan lost partition pruning: " +
          s"partitionFilters=${s.partitionFilters}")
    }
    } finally {
      prevV1 match {
        case Some(v) => spark.conf.set(v1Key, v)
        case None => spark.conf.unset(v1Key)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(base))
    }
  }

  test("no gate query plans an unpartitioned window or a cartesian product") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries) {
      // sparkPlan (pre-AQE) exposes the full operator tree to collect()
      val plan = fn(spark, dir).queryExecution.sparkPlan
      plan.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          offenders += s"$name: unpartitioned WindowExec"
        case _: CartesianProductExec =>
          offenders += s"$name: CartesianProductExec"
        case _ =>
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
