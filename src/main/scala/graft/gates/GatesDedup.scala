package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

import graft.functions.Met
import graft.operators._
import graft.GateHelpers._

/** Gate queries — exact + near-duplicate detection and clustering.
  * Split from SparkEntry (r8); every entry follows the
  * determinism rules in SparkEntry's scaladoc and has a
  * DuckDB oracle twin in OraclesDedup.
  */
private[graft] object GatesDedup {

  /** q_cc_dedup's banded candidate-pair rule (same source, n_chars within
    * +/-2). The +/-2 tolerance is banded INTO the join key (width-3
    * buckets; side a probes its own bucket and both neighbors, so
    * |delta| <= 2 never crosses more than one boundary): joining on
    * source alone and post-filtering streams the full per-source cross
    * product — quadratic in per-source density (r8 sf10: 12B
    * intermediate rows for 87M pairs).
    */
  private def bandedCharPairs(docs: DataFrame): DataFrame = {
    val probe = docs.select(col("doc_id"), col("source"), col("n_chars"),
      explode(sequence(expr("n_chars div 3") - 1,
        expr("n_chars div 3") + 1)).as("__b"))
    val build = docs.select(col("doc_id").as("__id_b"),
      col("source"), col("n_chars").as("__nc_b"),
      expr("n_chars div 3").as("__b"))
    probe.join(build, Seq("source", "__b"))
      .filter(abs(col("n_chars") - col("__nc_b")) <= 2 &&
        col("doc_id") < col("__id_b"))
      .select(col("doc_id").as("id_a"), col("__id_b").as("id_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Quality-aware canonical selection: duplicate clusters from exact-dup
    // star pairs; the surviving member is the highest-score (raw length)
    // row, ties to the minimum id — groupBy max(struct), no windows.
    "q_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("score", length(col("text")).cast("double"))
      val fp = docs.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("__f"))
      val firsts = fp.groupBy("__f").agg(min(col("doc_id")).as("id_a"))
      // not pinned: connectedComponents pins its symmetrized edge table
      // first and reads the pairs only through that pin
      val pairs = fp.join(firsts, Seq("__f"))
        .filter(col("doc_id") =!= col("id_a"))
        .select(col("id_a"), col("doc_id").as("id_b"))
      Dedup.dedupClustersBy(docs, "doc_id", "score", pairs)
        .select(col("doc_id"), col("component"), col("canonical_id"),
          col("is_duplicate"))
        .orderBy("doc_id")
    }),


    // Dedup impact report: cluster-size histogram with docs/chars removable.
    // The synthetic corpus is exact-dup-free, so boilerplate clusters are
    // planted deterministically (doc_id % 10 < 3 -> one of 25 shared
    // pages), mirrored in the oracle; n_chars stays the ORIGINAL size
    // column — the report's bytes accounting is what's under test.
    "q_dedup_audit" -> ((s, dir) => {
      val planted = when(col("doc_id") % 10 < 3,
        concat(lit("duplicate boilerplate page "), (col("doc_id") % 25).cast("string")))
        .otherwise(col("text"))
      Dedup.auditReport(
          Tables.documents(s, dir).withColumn("text", planted),
          "text", "doc_id", "n_chars")
        .orderBy("cluster_size")
    }),


    // Within-doc repeated-span removal: pages synthesized with a guaranteed
    // repeat (the doc's first 40 tokens re-appended), 5-gram rule — the
    // appended copy is detected and dropped, the original kept.
    // r11: fixed 100k-doc slice (no-op at sf <= 1): the oracle twin
    // explodes every token AND every 5-gram of every doc into rows plus an
    // ordered string_agg rebuild — >45 GB of DuckDB state at sf10's 500k
    // docs. The operator is row-local (per-doc), so a doc slice loses no
    // semantics coverage; the engine path stays full-corpus in Bench.
    "q_repeated_spans" -> ((s, dir) => {
      val page = concat_ws(" ", col("text"),
        array_join(slice(split(col("text"), " "), 1, 40), " "))
      Cleanse.removeRepeatedNgrams(
          Tables.documents(s, dir).filter(col("doc_id") < 100000)
            .select(col("doc_id"), page.as("page")),
          "doc_id", "page", n = 5)
        .select(col("id").as("doc_id"), col("text_dedup"),
          col("n_tokens_kept").cast("long").as("n_tokens_kept"),
          col("n_tokens_dropped").cast("long").as("n_tokens_dropped"))
        .orderBy("doc_id")
    }),


    // SCD2 history: snapshot 1 (all docs) applied to empty history at
    // t=1000, snapshot 2 (ids >= 100, every 7th edited) at t=2000 —
    // removals close, edits close + reopen, unchanged stay open
    "q_scd2" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val empty = docs.select(col("doc_id").as("id"),
          lit("").as("fp"), lit(0L).as("valid_from"),
          lit(null).cast("long").as("valid_to"))
        .filter(lit(false))
      val h1 = Dedup.scd2Apply(empty, docs, "doc_id", "text", asOf = 1000L)
      val snap2 = docs.filter(col("doc_id") >= 100)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
      Dedup.scd2Apply(h1, snap2, "doc_id", "text", asOf = 2000L)
        .select(col("id").as("doc_id"), col("fp"),
          col("valid_from"), col("valid_to"))
        .orderBy("doc_id", "valid_from")
    }),


    // blocked edit-distance near-dup pairs on 4-token titles within source;
    // each doc gets a planted typo twin (last char dropped, id + 10^7) so
    // the gate exercises real matches at every sf
    "q_editdist" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          array_join(slice(split(col("text"), " "), 1, 4), " ").as("title"))
      // r14 (VERDICT ask 5): base + typo twin in one scan — the union
      // executed base's title construction once per branch
      val union = base.select(explode(array(
          struct(col("doc_id"), col("source"), col("title")),
          struct((col("doc_id") + 10000000L).as("doc_id"), col("source"),
            col("title").substr(lit(1), length(col("title")) - 1)
              .as("title")))).as("__t"))
        .select(col("__t.doc_id").as("doc_id"),
          col("__t.source").as("source"), col("__t.title").as("title"))
      Dedup.editDistancePairs(union, "doc_id", "title",
          "source", maxDist = 2, prefixBlock = 1)
        .select(col("block"), col("id_a"), col("id_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("block", "id_a", "id_b")
    }),


    "q_fingerprint_dedup" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "fingerprint", "is_duplicate")
        .orderBy("doc_id")
    }),


    // n-gram Jaccard near-dup pairs within source blocks. The default
    // hot-shingle cap (1000) is active — no shingle reaches it at oracle
    // scale, so the result is unchanged, while a skewed corpus stays
    // sub-quadratic.
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
          "source", n = 3, minJaccard = 0.05)
        .orderBy("block", "id_a", "id_b")
    }),


    // directional n-gram containment (quote/subset detection — the
    // asymmetric signal jaccard misses)
    "q_ngram_containment" -> ((s, dir) => {
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), "text", "doc_id",
          "source", n = 3, minContainment = 0.3)
        .select(col("block"), col("id_a"), col("id_b"),
          round(col("containment_a"), 6).as("containment_a"),
          round(col("containment_b"), 6).as("containment_b"))
        .orderBy("block", "id_a", "id_b")
    }),


    // MinHash-LSH near-dup candidates — rows-only (hash internals not SQL)
    // Planted-recall claims gate (r7, formerly rows-only): hash/seed
    // internals aren't SQL, but banding's CONTRACT is — an exact copy
    // shares every band key and estimates Jaccard 1, so each planted
    // (doc, copy-at-id+10M) pair MUST surface above the 0.3 threshold.
    "q_minhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // r14 (VERDICT ask 5): twin fixture in one scan, not a self-union
      val union = withTwin(docs, "doc_id", 10000000L)
      val pairs = Dedup.minHashCandidates(union, "text", "doc_id",
          shingleSize = 5, numHashes = 64, bands = 16)
        .filter(col("est_jaccard") >= 0.3)
        .filter(col("id_b") === col("id_a") + 10000000L)
        .select(col("id_a").as("doc_id"), lit(true).as("__hit"))
      docs.select("doc_id").join(pairs, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__hit"), lit(false)).as("found"))
        .orderBy("doc_id")
    }),


    // SimHash claims gate (r7, formerly rows-only). Still the
    // exploded-token codegen table form (the row-local expression runs 64
    // interpreted lambdas per row — 17.5s vs ~2s at sf0.1). Claims: an
    // identical text under a different id gets the IDENTICAL signature
    // (pins order-invariance of the bit-count aggregation — copies
    // aggregate their tokens in a different shuffle order), and a
    // one-token append flips at most half the signature for >=30-word
    // docs — the LSH locality property. A bit flips only when its running
    // +-1 margin is within 1, i.e. with probability ~0.8/sqrt(words) per
    // bit (~0.15 at 30 words; binomial tail past 32/64 is < 1e-10), while
    // an avalanche hash flips 32 in EXPECTATION and would fail half the
    // time. A 16-bit bound was too tight: one 5000-doc sf0.1 doc hit it.
    "q_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // r14 (VERDICT ask 5): the 3-branch union scanned documents three
      // times; one explode emits all three fixture rows per doc
      val union = docs.select(explode(array(
          struct(col("doc_id"), col("text")),
          struct((col("doc_id") + 10000000L).as("doc_id"), col("text")),
          struct((col("doc_id") + 20000000L).as("doc_id"),
            concat(col("text"), lit(" zzqq")).as("text")))).as("__t"))
        .select(col("__t.doc_id").as("doc_id"), col("__t.text").as("text"))
      val sigs = Dedup.simHashTable(union, "text", "doc_id")
      val a = sigs.filter(col("id") < 10000000L)
        .select(col("id").as("doc_id"), col("sig").as("__sa"))
      val b = sigs.filter(col("id") >= 10000000L && col("id") < 20000000L)
        .select((col("id") - 10000000L).as("doc_id"), col("sig").as("__sb"))
      val c = sigs.filter(col("id") >= 20000000L)
        .select((col("id") - 20000000L).as("doc_id"), col("sig").as("__sc"))
      val words = when(length(TextAnalysis.normalize(col("text"))) === 0, 0)
        .otherwise(size(split(TextAnalysis.normalize(col("text")), " ")))
      val withWords = docs.select(col("doc_id"), words.as("__nw"))
      a.join(b, "doc_id").join(c, "doc_id").join(withWords, "doc_id")
        .select(col("doc_id"), (col("__sa") === col("__sb")).as("sig_match"),
          when(col("__nw") >= 30,
            bit_count(col("__sa").bitwiseXOR(col("__sc"))) <= 32)
            .otherwise(lit(true)).as("perturb_local"))
        .orderBy("doc_id")
    }),


    // SimHash banded near-dup claims (r7): every planted exact copy is at
    // Hamming 0 and MUST be cluster-recoverable through the banded
    // candidate join. maxHamming=3 (16-bit bands) is the SCALABLE
    // operating point: band selectivity is 64/(k+1) bits, so k=7 leaves
    // 8-bit bands whose 256 buckets saturate the hot-bucket cap near
    // ~500k docs (found=false for 13% of planted copies at sf1, caught by
    // this gate's r7 sf1 sweep); k=3 keeps expected bucket size n/65536 —
    // selective past 10^8 docs.
    // r11: the claim is PARTICIPATION in a Hamming-0 pair for both the
    // doc and its planted copy (identical sig => same component via the
    // pair graph), not the literal (i, i+10M) edge: hot buckets degrade
    // to per-signature STAR pairs (see hammingCandidates), which preserve
    // exactly this cluster-recoverability — the sf10 adjudication caught
    // the old whole-bucket drop losing 32% of planted copies at 1M rows,
    // and this claim still fails on any such recall loss.
    "q_simhash_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // r14 (VERDICT ask 5): twin fixture in one scan, not a self-union
      val union = withTwin(docs, "doc_id", 10000000L)
      val pairs = Dedup.simHashCandidates(union, "text", "doc_id",
          maxHamming = 3)
        .filter(col("hamming") === 0)
      val participants = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("pid"))
        .distinct()
      docs.select("doc_id")
        .join(participants.select(col("pid").as("doc_id"),
          lit(true).as("__self")), Seq("doc_id"), "left")
        .join(participants.select((col("pid") - 10000000L).as("doc_id"),
          lit(true).as("__copy")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("__self"), lit(false)) &&
            coalesce(col("__copy"), lit(false))).as("found"))
        .orderBy("doc_id")
    }),


    // Dedup clustering: connected components over a candidate-pair graph,
    // min-id canonical per cluster. The edge rule here (same source,
    // n_chars within 2) is oracle-expressible SQL standing in for LSH
    // pairs, whose hash internals aren't; the operator under test is the
    // distributed clustering (DuckDB twin: recursive CTE reachability).
    // r11: fixed 100k-doc slice (q_hubness pattern — whole corpus at
    // sf <= 1, bounded above): the DuckDB twin's recursive-CTE closure is
    // O(nodes x component-size) and the full sf10 graph's 340-node-mean
    // near-cliques made adjudication a CPU-marathon. The CC OPERATOR still
    // runs unsliced in q_dedup_sweep/q_minhash_pairs consumers and was
    // sweep-measured at 174M edges (SURVEY §6); only this oracle-twinned
    // gate is bounded.
    "q_cc_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 100000)
      val pairs = bandedCharPairs(docs)
      Dedup.dedupClusters(docs, "doc_id", pairs)
        .select("doc_id", "component", "is_duplicate")
        .orderBy("doc_id")
    }),


    // Benchmark decontamination: 13-gram exact overlap of the corpus
    // (doc_id % 20 != 0) against a held-out "benchmark" slice (% 20 == 0)
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontaminate.flagContamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), n = 13)
        .orderBy("doc_id")
    }),


    // Paragraph-grain exact dedup with document rebuild (paragraphs split on
    // the " customer " token; global first occurrence by (doc_id, idx)).
    "q_para_dedup" -> ((s, dir) => {
      Dedup.paragraphDedup(Tables.documents(s, dir), "doc_id", "text",
          sepRegex = " customer ", joinSep = "\n\n")
        .select(col("id").as("doc_id"), col("text_dedup"),
          col("n_paras_kept").cast("long").as("n_paras_kept"))
        .orderBy("doc_id")
    }),


    // sentence-grain exact dedup (grain below q_para_dedup)
    "q_sentence_dedup" -> ((s, dir) => {
      Dedup.sentenceDedup(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("text_dedup"),
          col("n_paras_kept").cast("long").as("n_sents_kept"))
        .orderBy("doc_id")
    }),


    // Incremental exact dedup: flag a new batch (doc_id % 3 = 1) against a
    // standing corpus (the rest) plus batch-internal first occurrence.
    "q_incr_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactAgainst(docs.filter(col("doc_id") % 3 === 1),
          docs.filter(col("doc_id") % 3 =!= 1), "text", "doc_id")
        .select(col("doc_id"), col("is_duplicate"))
        .orderBy("doc_id")
    }),


    // fuzzy decontamination: MinHash near-match vs the benchmark slice —
    // rows-only (minhash internals); ClusteringDecontamSpec pins behavior
    // Planted-recall claims (r7, formerly rows-only): the corpus gets an
    // exact copy of every benchmark doc at id+10M; MinHash near-match MUST
    // flag each copy contaminated (est_jaccard 1 >= 0.5).
    "q_fuzzy_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        .unionByName(bench.select((col("doc_id") + 10000000L).as("doc_id"),
          col("text")))
      Decontaminate.flagFuzzy(corpus, bench)
        .filter(col("doc_id") >= 10000000L)
        .select(col("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    }),


    // Exact substring-span dedup: repeated 8-token spans keep only their
    // first (doc, pos) occurrence; covered tokens removed, docs rebuilt.
    "q_substr_dedup" -> ((s, dir) => {
      Dedup.substringDedup(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"), col("text_dedup"),
          col("n_tokens_kept"), col("n_tokens_dropped"))
        .orderBy("doc_id")
    }),


    // Bloom-prefiltered incremental dedup: same contract as q_incr_dedup
    // (the sketch only shrinks the corpus-join input; exact confirm join
    // resolves false positives) on the complementary batch split.
    "q_bloom_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bloomExactAgainst(docs.filter(col("doc_id") % 3 === 2),
          docs.filter(col("doc_id") % 3 =!= 2), "text", "doc_id")
        .select(col("doc_id"), col("is_duplicate"))
        .orderBy("doc_id")
    }),


    // Directed distinct-3-gram overlap between sources — the "who copies
    // from whom" matrix; counts exact, containment ppm-quantized.
    "q_source_overlap" -> ((s, dir) => {
      TextAnalysis.sliceOverlapMatrix(Tables.documents(s, dir), "source",
          "text", n = 3)
        .select(col("slice_a"), col("slice_b"), col("n_shared"),
          floor(col("containment_a") * 1e6 + 0.5).as("containment_ppm"))
        .orderBy("slice_a", "slice_b")
    }),


    // Suffix-matching domain blocklist over synthesized URLs: an entry
    // blocks its whole zone (ads.tracker0.net via tracker0.net).
    // Suffix-array exact substring dedup (SuffixDedup, r8 — Lee et al.
    // 2022's ExactSubstr with arbitrary-length longest-match semantics
    // via distributed prefix doubling). Claims gate on a fully synthetic
    // planted corpus derived from doc_id only (replication-proof): docs
    // with doc_id % 10 in {0, 1} form pairs sharing a 12-token run at
    // token offset 5, every other token corpus-unique. Exactly one
    // merged span per pair must come back, on the HIGHER id (first
    // occurrence keeps), at exactly [5, 17).
    "q_suffix_spans" -> ((s, dir) => {
      import s.implicits._
      // % 10 < 4 keeps every planted pair (ids 0/1 mod 10) plus unique
      // background docs, at 40% of the table — the corpus still scales
      // with sf (replication adds ids at every residue) while the gate
      // stays a per-operator line, not a harness (10.5 -> ~4 s at sf0.1)
      val d = Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 10 < 4)
      val pairKey = expr("doc_id div 10").cast("string")
      val inPair = col("doc_id") % 10 < 2
      val run = concat_ws(" ", (0 until 12).map(j =>
        concat(lit("s"), pairKey, lit(s"r$j"))): _*)
      val pre = concat_ws(" ", (0 until 5).map(j =>
        concat(lit("u"), col("doc_id").cast("string"), lit(s"p$j"))): _*)
      val post = concat_ws(" ", (0 until 4).map(j =>
        concat(lit("u"), col("doc_id").cast("string"), lit(s"q$j"))): _*)
      val corpus = d.select(col("doc_id"),
        when(inPair, concat_ws(" ", pre, run, post))
          .otherwise(concat_ws(" ", pre, post)).as("text"))
      // threshold 100k (not the 2M default) so the sf1 sweep's 420k
      // positions exercise the DISTRIBUTED pipeline under the oracle
      // every round (~8 s at that size); sf0.01/sf0.1 stay on the
      // driver path, covering both with no manual sf10 run needed
      val spans = SuffixDedup.maximalRepeatedSpans(corpus, "doc_id",
        "text", minTokens = 6, maxLen = 16,
        maxDriverPositions = 100000L)
      val agg = spans.agg(count(lit(1)).as("cnt"),
        coalesce(min((col("id") % 10 === 1).cast("int")), lit(1)),
        coalesce(min((col("span_start") === 5 && col("n_tok") === 12)
          .cast("int")), lit(1))).head()
      val nPairs = corpus.filter(col("doc_id") % 10 < 2)
        .groupBy(expr("doc_id div 10")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") === 2).count()
      val n = corpus.count()
      Seq(
        ("all_spans_on_cut_side", n, nPairs, agg.getInt(1) == 1),
        ("one_span_per_pair", n, nPairs, agg.getLong(0) == nPairs),
        ("span_geometry_exact", n, nPairs, agg.getInt(2) == 1))
        .toDF("claim", "n", "n_pairs", "ok").orderBy("claim")
    }),

    "q_suffix_block" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 4 === 0,
            concat(lit("ads.tracker"), (col("doc_id") % 3).cast("string"),
              lit(".net")))
          .otherwise(concat(col("source"), lit(".org"))),
          lit("/p/"), col("doc_id").cast("string")))
      Cleanse.filterByDomainSuffixBlocklist(d, "url",
          Seq("tracker0.net", "tracker1.net", "src0.org", "src1.org"))
        .select(col("doc_id"), col("url"))
        .orderBy("doc_id")
    }),


    // Rand / adjusted-Rand agreement between two clusterings of the
    // corpus (source vs length-bucket labels): all pair counts are exact
    // C(n,2) longs; rand/ari ppm-quantized from the same integers.
    "q_cluster_agreement" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("la", col("source"))
        .withColumn("lb", floor(col("n_chars") / 100))
      Metrics.clusteringAgreement(d, "la", "lb")
        .select(col("n"), col("n_pairs"), col("sum_cells"), col("sum_rows"),
          col("sum_cols"),
          floor(col("rand") * 1e6 + 0.5).as("rand_ppm"),
          floor(col("ari") * 1e6 + 0.5).as("ari_ppm"))
    }),


    // Audit evidence for the gated near-dup pairs: shared-shingle counts
    // plus a deterministic (lexicographically first) sample.
    "q_pair_evidence" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
          n = 3, minJaccard = 0.05)
        .select(col("id_a"), col("id_b"))
      Dedup.pairEvidence(docs, "text", "doc_id", pairs,
          shingleSize = 3, sampleK = 3)
        .orderBy("id_a", "id_b")
    }),


    // Near-dup graph degree per document over the gated n-gram Jaccard
    // pair table — the hub diagnostic run before transitive closure.
    "q_neardup_degree" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
        n = 3, minJaccard = 0.05)
      Dedup.pairDegrees(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("degree"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprints (MOSS): window-minimum sampling of the gram
    // hash stream — md5-prefix hashes are engine-portable, the argmin
    // fold and the oracle's max-tie-index agree on rightmost ties.
    "q_winnow" -> ((s, dir) => {
      Dedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
          k = 5, window = 4)
        .select(col("id").as("doc_id"), col("pos"), col("fp"))
        .orderBy("doc_id", "pos")
    }),


    // Winnowing pair mining: shared-fingerprint counts + directional
    // coverage — exact long counts, one exact-ratio division.
    "q_winnow_pairs" -> ((s, dir) => {
      Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 5, window = 4, minShared = 2, maxFpDocFreq = 100)
        .select(col("id_a"), col("id_b"), col("n_shared"), col("n_fp_a"),
          col("n_fp_b"), col("coverage"))
        .orderBy("id_a", "id_b")
    }),


    // Dedup-method agreement sweep (the q_ann_sweep analog for the dedup
    // families): plant an exact twin of every document under a disjoint
    // id, run the three signature-family candidate generators on the
    // union, and claim (a) MinHash and SimHash recover EVERY planted twin
    // (identical text -> identical signature -> guaranteed band
    // collision; sf1-proven band parameters), (b) blocked n-gram Jaccard
    // recovers >= 95% (its hot-shingle cap may orphan a doc whose every
    // shingle is corpus-hot), (c) the two signature methods' connected
    // components agree at Rand >= 0.9 (singleton-dominated clusterings
    // disagree on at most the near-dup fringe). Claim table shape: the
    // oracle restates the expected counts and booleans.
    "q_dedup_sweep" -> ((s, dir) => {
      // FIXED 50k-doc slice (the q_triangles bounding pattern; no-op at
      // sf1 and below): the corpus's replica families make the simhash
      // NEAR-DUP TRUTH quadratic in family size — at 100x bench scale
      // (500k docs, 100-member families) maxHamming=3 yields 214M
      // candidate pairs (measured r10; minhash at the r=8 point yields
      // 4.5M) and the sweep's CC-over-near-cliques exhausted a 48g
      // heap. The engine's banding/skew guards behaved as designed; it
      // is the GATE's truth shape that must stay bounded. Generator
      // scale is exercised per-operator by the q_simhash_neardup /
      // q_minhash_pairs gates.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 50000)
        .select("doc_id", "text", "source")
      val OFF = 10000000L
      // NOT checkpointed (r10): each generator re-derives the doubled
      // corpus from the columnar scan instead. Pinning it looked like
      // the obvious reuse win ("three generators read it") and was —
      // until 100x scale, where ~19 GB of DESERIALIZED text blocks
      // filled the storage pool, starved downstream hash aggregates
      // (AGGREGATE_OUT_OF_MEMORY), and its eviction-to-disk raced the
      // candidate join's shuffle for the same disk. A compressed
      // parquet re-scan with column pruning is strictly cheaper than a
      // row-format cache once the table outgrows memory — re-read
      // beats pin for flat scans.
      // r14 (VERDICT ask 5): twin fixture in one scan — this frame feeds
      // the three candidate generators AND the CC id set, so the
      // self-union cost the parquet read twice per consumer
      val union = withTwin(docs, "doc_id", OFF)
      val nDocs = docs.count()
      def planted(pairs: DataFrame): Long = pairs
        .filter(col("id_b") === col("id_a") + OFF && col("id_a") < OFF)
        .select("id_a").distinct().count()
      // est_jaccard >= 0.5: raw band collisions include the j^4-per-band
      // accidental hits, which chain 80% of a template-heavy corpus into
      // one giant component (measured: one 804-member component at
      // sf0.01 unfiltered; the q_minhash_pairs gate applies the same
      // post-filter before using candidates as pairs)
      // bands = 8 (r = 8, s-curve center (1/8)^(1/8) ~ 0.77), NOT 16:
      // r = 4 centers the curve exactly at j = 0.5, where make_sf's
      // replica families (pairwise j ~ 0.5 BY CONSTRUCTION, ~100 members
      // per family at 100x scale) collide at ~50% per pair — ~10^8
      // candidate rows whose signature re-attachment filled the disk in
      // the r9 sf10 sweep. At r = 8 those pairs collide at ~3% while
      // exact twins (j = 1) still collide in EVERY band, so the coverage
      // claims are untouched and the est_jaccard >= 0.5 filter loses
      // only a slice of the j-in-[0.5, 0.77) band the claims never used.
      // Pooled: run in order, the gate measured 6.7-8.8 -> 9.4-10.3 s
      // (plans/pr11/bench_ab.json, per_gate.q_dedup_sweep). Each generator
      // pins its candidate pairs in its own scope, so its work runs in its
      // pool thread; the planted-recall counts and the CC labels both read
      // them (probes.pins_q_dedup_sweep).
      val stage1 = Par.inParallel(s, "q_dedup_sweep:candidates", Seq[() => Any](
        () => Pins.scoped(_.pin(Dedup.minHashCandidates(union, "text", "doc_id",
            shingleSize = 5, numHashes = 64, bands = 8)
          .filter(col("est_jaccard") >= 0.5))),
        () => Pins.scoped(_.pin(Dedup.simHashCandidates(union, "text", "doc_id",
          maxHamming = 3))),
        () => planted(Dedup.ngramJaccardPairs(union, "text", "doc_id",
          "source", n = 3, minJaccard = 0.5))))
      val mh = stage1(0).asInstanceOf[DataFrame]
      val sh = stage1(1).asInstanceOf[DataFrame]
      val ngFound = stage1(2).asInstanceOf[Long]
      // ids-only into the CC label joins: carrying `text` through them
      // adds GBs of join payload at 100x scale for columns the labels
      // never use (part of the r10 q_dedup_sweep sf10 OOM fix — the
      // other part is the evictable-storage config in Verify/Sessions)
      val ids = union.select("doc_id")
      val stage2 = Par.inParallel(s, "q_dedup_sweep:labels", Seq[() => Any](
        () => planted(mh),
        () => planted(sh),
        () => Dedup.dedupClusters(ids, "doc_id", mh)
          .select(col("doc_id"), col("component").as("la")),
        () => Dedup.dedupClusters(ids, "doc_id", sh)
          .select(col("doc_id"), col("component").as("lb"))))
      val (mhFound, shFound) = (stage2(0).asInstanceOf[Long],
        stage2(1).asInstanceOf[Long])
      val labels = stage2(2).asInstanceOf[DataFrame]
        .join(stage2(3).asInstanceOf[DataFrame], Seq("doc_id"))
      val rand = Metrics.clusteringAgreement(labels, "la", "lb")
        .head().getAs[Double]("rand")
      import s.implicits._
      Seq(
        ("minhash_covered", nDocs, mhFound == nDocs),
        ("minhash_simhash_rand_ge_090", 2 * nDocs, rand >= 0.9),
        ("ngram_covered_95", nDocs, ngFound * 100L >= nDocs * 95L),
        ("simhash_covered", nDocs, shFound == nDocs))
        .toDF("claim", "n", "ok").orderBy("claim")
    }),

  )
}
