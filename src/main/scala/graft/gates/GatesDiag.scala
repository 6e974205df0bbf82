package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Met
import graft.operators._
import graft.GateHelpers._

/** Gate queries — sketches/diagnostics, privacy, eval metrics, multimodal, WARC.
  * Split from SparkEntry (r8); every entry follows the
  * determinism rules in SparkEntry's scaladoc and has a
  * DuckDB oracle twin in OraclesDiag.
  */
private[graft] object GatesDiag {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The crawl-ingestion pipeline end to end: WET files on disk -> Warc
    // reader -> C4 cleaning -> exact dedup. The WET corpus is synthesized
    // DETERMINISTICALLY from `documents` (first 64 words re-lined into
    // 8-word sentences + planted per-line and per-page C4 violations; each
    // page written under TWO uris across 4 plain WET files in a scratch
    // dir), so the DuckDB oracle can recompute the expected kept pages,
    // C4 text hashes, and duplicate flags from the same table without ever
    // touching the files — the file round-trip itself is what's under test.
    // The same crawl fixture through the DataSource V2 front door
    // (spark.read.format("warc")): record metadata + payload hashes are
    // SQL-recomputable from the generating parameters; the projection
    // includes text so the reader's payload path is exercised, while
    // WarcSpec pins the pruned skip path.
    "q_warc_dsv2" -> ((s, dir) => {
      val outDir = wetFixture(s, dir, "wetv2")
      s.read.format("warc").load(s"$outDir/*.warc")
        .select(col("target_uri"), col("content_length"),
          md5(col("text")).as("text_md5"))
        .orderBy("target_uri")
    }),


    "q_wet_pipeline" -> ((s, dir) => {
      val outDir = wetFixture(s, dir, "wet")
      val wet = graft.sources.Warc.read(s, s"$outDir/*.warc")
        .select(col("target_uri"), col("text"))
      val c4 = Cleanse.c4Filter(wet, "text").filter(col("keep"))
      Dedup.exact(c4, "text_c4", "target_uri")
        .select(col("target_uri"), col("n_lines_kept"),
          md5(col("text_c4")).as("c4_md5"), col("is_duplicate"))
        .orderBy("target_uri")
    }),


    // Perceptual image dedup end to end THROUGH real PNG files on disk:
    // binaryFile scan -> javax.imageio decode -> dHash -> banded Hamming
    // join. Construction (see imageFixtures): same-group images differ by
    // a uniform luminance shift that dHash cancels, so the Hamming-0 pairs
    // are exactly the same-group (doc_id % 10) pairs — recomputable in SQL.
    // Corrupt payloads (ids 120-127) must hash null and never pair.
    "q_image_dedup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).filter(col("doc_id") < 120)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val out = mediaFixtureDir("img", dir)
      imageFixtures(ids, 120L until 128L, out)
      val files = s.read.format("binaryFile").load(s"$out/*.png")
        .select(regexp_extract(col("path"), "img(\\d+)\\.png$", 1)
          .cast("long").as("media_id"), col("content"))
      graft.multimodal.Multimodal.dHashNearDupPairs(
          files, "media_id", "content", maxHamming = 0)
        .orderBy("id_a", "id_b")
    }),


    // Perceptual audio dedup end to end THROUGH real WAV files on disk:
    // same-group WAVs differ by a positive gain the envelope hash cancels
    // (see audioFixtures) -> Hamming-0 pairs = same-group (doc_id % 8)
    // pairs. Corrupt payloads (ids 96-103) never pair.
    "q_audio_dedup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).filter(col("doc_id") < 96)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val out = mediaFixtureDir("aud", dir)
      audioFixtures(ids, 96L until 104L, out)
      val files = s.read.format("binaryFile").load(s"$out/*.wav")
        .select(regexp_extract(col("path"), "aud(\\d+)\\.wav$", 1)
          .cast("long").as("media_id"), col("content"))
      graft.multimodal.Multimodal.audioNearDupPairs(
          files, "media_id", "content", maxHamming = 0)
        .orderBy("id_a", "id_b")
    }),


    // Heavy hitters over the token stream: Misra-Gries candidate sketch
    // (bounded, mergeable) -> exact recount of candidates -> >= 0.5%
    // threshold; output identical to a full groupBy HAVING (the oracle).
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(TextAnalysis.normalize(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) > 0)
      Diagnostics.heavyHitters(toks, "token", minFracPpm = 5000L,
          sketchK = 1024)
        .orderBy("item")
    }),


    // Filter-funnel audit: sequential per-stage in/kept/dropped counts for
    // a 4-stage curation chain — all-integer, engine-exact.
    "q_filter_funnel" -> ((s, dir) => {
      Diagnostics.filterFunnel(Tables.documents(s, dir), Seq(
          "nonempty" -> (length(col("text")) > 0),
          "min_len" -> (length(col("text")) >= 200),
          "has_sentence" -> col("text").contains("."),
          "token_floor" -> (TextAnalysis.tokenCount(col("text")) >= 40)))
        .orderBy("stage")
    }),


    // PSI drift between corpus snapshots: reference = even doc_ids, current
    // = odd doc_ids with src0 removed (a planted source-mix shift); score =
    // n_chars (integer column — boundary arithmetic engine-exact)
    "q_psi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select(col("n_chars").cast("double").as("score"))
      val cur = docs.filter(col("doc_id") % 2 === 1 && col("source") =!= "src0")
        .select(col("n_chars").cast("double").as("score"))
      Diagnostics.psi(ref, cur, "score", bins = 10)
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          round(col("psi_contrib"), 6).as("psi_contrib"))
        .orderBy("bin")
    }),


    // per-shard profile with mergeable HLL distinct sketches; the oracle
    // pins exact per-shard counts and that the estimate stays within 5%
    // of DuckDB's exact distinct (sketch internals aren't SQL, the
    // tolerance contract is)
    // daily cumulative unique users via mergeable HLL (triangle join at
    // calendar grain, no running window) — boolean accuracy claim vs the
    // exact first-seen-day curve (lgK=14 => ~0.8% error, 5% bound = 6 sigma)
    "q_cumulative_uniques" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val cu = Diagnostics.cumulativeUniques(e, "ts", "user_id", "day")
      val firstDay = e.groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("fd"))
      val exact = cu.select(col("bucket_start"))
        .join(firstDay, col("fd") <= col("bucket_start"))
        .groupBy("bucket_start").agg(count(lit(1)).as("__exact"))
      cu.join(exact, Seq("bucket_start"))
        .select(unix_timestamp(col("bucket_start")).as("day_epoch"),
          col("n_events"),
          (abs(col("cumulative_unique_est") / col("__exact") - 1) <= 0.05)
            .as("cum_ok"))
        .orderBy("day_epoch")
    }),


    // per-language score calibration via broadcast KLL sketches — the gate
    // emits the ACCURACY CLAIM (|kll_rank - exact cume_dist| <= 0.05, k=400
    // => ~0.8% rank error) as a boolean, oracle asserts all-true (the
    // q_shard_profile pattern for sketch outputs); the exact window form
    // exists only inside the gate as the reference
    "q_score_calibration" -> ((s, dir) => {
      val cal = Diagnostics.scoreCalibration(Tables.documents(s, dir),
        "lang", "n_chars", k = 400)
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      cal.withColumn("__exact", cume_dist().over(w))
        .select(col("doc_id"), col("lang"),
          (abs(col("pct_rank") - col("__exact")) <= 0.05).as("cal_ok"))
        .orderBy("doc_id")
    }),


    "q_shard_profile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prof = Diagnostics.shardProfile(docs, "source", Seq("lang", "doc_id"))
      val exact = docs.groupBy(col("source").as("shard"))
        .agg(countDistinct("doc_id").as("exact_docs"))
      prof.join(exact, Seq("shard"))
        .select(col("shard"), col("n_rows"), col("lang_distinct"),
          (abs(col("doc_id_distinct") - col("exact_docs")) <=
            col("exact_docs") * 0.05).as("docs_est_ok"))
        .orderBy("shard")
    }),


    // One-call dataset card (r7): the headline numbers of a corpus release
    // in one aggregate pass — exact integers (and exact .0/.5 medians), so
    // the card is engine-reproducible bit-for-bit.
    "q_dataset_card" -> ((s, dir) => {
      Diagnostics.datasetCard(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("metric")
    }),


    // Per-source theta key profiles on the bounded key space — exact-mode
    // estimates == per-group distinct counts.
    "q_theta_profile" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("key", Sampling.hashBucket(col("doc_id"), 3000))
      Diagnostics.thetaProfile(d, "source", "key")
        .select(col("group").as("source"),
          col("estimate").cast("long").as("n_distinct"))
        .orderBy("source")
    }),


    // Predicted join size from key histograms (no join of payloads):
    // exact integer arithmetic in both engines.
    "q_join_size" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      Diagnostics.joinSizeEstimate(
          o.select(col("o_custkey").as("k")),
          l.select((col("l_orderkey") % 1000).as("k")), Seq("k"))
        .select(col("est_rows"), col("max_key_rows"), col("n_join_keys"))
    }),


    // Theta-sketch slice overlap on a BOUNDED key space (md5 buckets %
    // 3000 < the lgK=12 exact-mode limit at any sf): estimates are exact
    // distinct counts, so the sketch algebra hash-matches DuckDB's exact
    // set arithmetic. Above the bound the same operator degrades to
    // ~1.6%-error estimates (ThetaSpec covers that mode).
    "q_theta_overlap" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("key", Sampling.hashBucket(col("doc_id"), 3000))
      Diagnostics.overlapProfile(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 3 === 0), "key")
        .select(col("est_a").cast("long").as("n_a"),
          col("est_b").cast("long").as("n_b"),
          col("est_intersect").cast("long").as("n_intersect"),
          col("est_union").cast("long").as("n_union"),
          col("est_a_not_b").cast("long").as("n_a_not_b"),
          col("est_b_not_a").cast("long").as("n_b_not_a"),
          floor(col("jaccard") * 1e6 + 0.5).as("jaccard_ppm"))
    }),


    // nDCG over a deterministic synthetic ranking (rank from integer
    // division, no window): both DCG folds run in fixed sorted order in
    // both engines (aggregate() fold == list_reduce with 0.0 seed), so
    // the transcendental sums are bit-identical; round(6) like the LM
    // gates.
    "q_ndcg" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pred = d.select((col("doc_id") % 20).as("q"), col("doc_id").as("item"),
        (floor(col("doc_id") / 20) + 1).cast("long").as("rnk"))
      val truth = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") % 20).as("q"), col("doc_id").as("item"),
          (col("doc_id") % 7).cast("double").as("rel"))
      Metrics.ndcg(pred, truth, "q", "item", "rnk", "rel")
        .select(col("query"), col("k"), round(col("dcg"), 6).as("dcg"),
          round(col("idcg"), 6).as("idcg"), round(col("ndcg"), 6).as("ndcg"))
        .orderBy("query")
    }),


    // Confusion counts + derived metrics for the code-detection rule
    // against its planted ground truth (doc_id % 3 == 0 got the code
    // suffix): counts exact, ratios ppm.
    "q_classifier_eval" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("t2", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(OracleHelpers.codeSuffix))).otherwise(col("text")))
        .withColumn("pred",
          TextAnalysis.codeSignals(col("t2")).getField("is_code"))
        .withColumn("label", col("doc_id") % 3 === 0)
      Metrics.binaryClassifierEval(d, "label", "pred")
        .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
          floor(col("accuracy") * 1e6 + 0.5).as("accuracy_ppm"),
          floor(col("precision") * 1e6 + 0.5).as("precision_ppm"),
          floor(col("recall") * 1e6 + 0.5).as("recall_ppm"),
          floor(col("f1") * 1e6 + 0.5).as("f1_ppm"))
    }),


    // Cohen's kappa between two synthetic annotators (80% planned
    // agreement, nulls on doc_id % 17): kappa reduces to the integer
    // ratio (n*agree - S)/(n^2 - S), so the doubles are one division of
    // exact longs in both engines.
    "q_cohen_kappa" -> ((s, dir) => {
      val ann = Tables.documents(s, dir).select(col("doc_id"),
        (col("n_chars") % 3).as("ann_a"),
        when(col("doc_id") % 17 === 0, lit(null))
          .otherwise(when(col("doc_id") % 5 === 0, (col("n_chars") + 1) % 3)
            .otherwise(col("n_chars") % 3)).as("ann_b"))
      Metrics.cohenKappa(ann, "ann_a", "ann_b")
    }),


    // Calibration / reliability bins over dyadic probabilities (k/256 —
    // sums exact in any accumulation order) with planted miscalibration;
    // nulls on user_id % 97 exercise the kept-rows filter.
    "q_calibration" -> ((s, dir) => {
      val scored = Tables.events(s, dir).select(
        when(col("user_id") % 97 === 0, lit(null))
          .otherwise((col("event_id") % 256).cast("double") / 256.0).as("p"),
        ((col("event_id") * 7) % 256 < col("event_id") % 256).as("y"))
      Metrics.calibrationReport(scored, "p", "y", nBins = 10)
        .orderBy("bin")
    }),


    // k-anonymity row suppression over (event_type, user-bucket) quasi
    // identifiers: every surviving row carries its group size, groups
    // below k vanish. Pure integer counts.
    "q_k_anon" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_id"),
        col("event_type"), (col("user_id") % 50).as("ub"))
      Privacy.kAnonymize(e, Seq("event_type", "ub"), k = 25)
        .select(col("event_id"), col("event_type"), col("ub"), col("group_n"))
        .orderBy("event_id")
    }),


    // The one-row cost audit behind q_k_anon: what does k=25 suppress?
    "q_k_anon_report" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_id"),
        col("event_type"), (col("user_id") % 50).as("ub"))
      Privacy.kAnonymityReport(e, Seq("event_type", "ub"), k = 25)
    }),


    // Distinct-l-diversity audit: per quasi-identifier group, how many
    // distinct sensitive values (nulls carry no information); diverse =
    // n_sensitive >= l. The distinct count runs as a pre-aggregate, not
    // countDistinct (no expand at corpus grain — plan-audited).
    "q_l_diversity" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        (col("user_id") % 200).as("ub"),
        when(col("event_id") % 13 === 0, lit(null))
          .otherwise(col("event_id") % 7).as("sensitive"))
      Privacy.lDiversityReport(e, Seq("event_type", "ub"), "sensitive", l = 5)
        .orderBy("event_type", "ub")
    }),


    // SDXL-style aspect-ratio bucketing from (width, height) metadata:
    // nearest-ratio bucket decided in EXACT integer arithmetic (the /h
    // and /bh denominators cancel via cross-multiplication), then
    // resize-to-cover + center-crop dims as integer floor divisions —
    // no float ratio anywhere, so no ulp can flip a bucket in either
    // engine. One map stage, zero joins (plan-audited).
    "q_aspect_buckets" -> ((s, dir) => {
      val imgs = Tables.events(s, dir).select(col("event_id"),
        (lit(256) + col("event_id") % 1800).as("w"),
        (lit(256) + (col("event_id") * 7) % 1350).as("h"))
      graft.multimodal.Multimodal.aspectBuckets(imgs, "w", "h",
          SdxlBuckets)
        .select(col("event_id"), col("w"), col("h"), col("bucket_id"),
          col("bucket_w"), col("bucket_h"), col("resize_w"), col("resize_h"),
          col("crop_x"), col("crop_y"))
        .orderBy("event_id")
    }),


    // Uniform frame-sampling schedule from video metadata (frame count +
    // millifps): which frame indices to decode, at what timestamps —
    // all integer floor arithmetic, short clips never repeat a frame.
    // The gate takes every 4th event as a clip: the operator's cost is
    // linear in its EXPLODED output (16 rows/clip), and the sweep should
    // not spend its budget materializing a 15M-row schedule.
    "q_frame_schedule" -> ((s, dir) => {
      val v = Tables.events(s, dir).filter(col("event_id") % 4 === 0)
        .select(col("event_id"),
        (col("event_id") % 500).as("n_frames"),
        element_at(array(lit(23976), lit(25000), lit(29970)),
          (col("event_id") % 3 + 1).cast("int")).as("fps_milli"))
      graft.multimodal.Multimodal.frameSchedule(v, "n_frames", "fps_milli",
          n = 16)
        .select(col("event_id"), col("sample_k"), col("frame_idx"), col("t_ms"))
        .orderBy("event_id", "sample_k")
    }),

    // Fleiss' kappa over a synthesized 3-rater panel (every 29th doc
    // gets a 4th rating and is dropped by the constant-panel rule): all
    // counts exact longs, the three doubles fixed-association divisions.
    "q_fleiss_kappa" -> ((s, dir) => {
      val ratings = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0),
            when(col("doc_id") % 29 === 0, 3).otherwise(2))).as("rater"))
        .select(col("doc_id"),
          ((col("n_chars") + col("rater") * col("doc_id")) % 3).as("label"))
      Metrics.fleissKappa(ratings, "doc_id", "label", nRaters = 3)
    }),


    // Reciprocal rank / MRR inputs: deterministic rankings where every
    // 4th query's truth item never appears in its ranking (null rr).
    "q_mrr" -> ((s, dir) => {
      val pred = Tables.events(s, dir)
        .select((col("user_id") % 50).as("q"),
          (col("event_id") % 10 + 1).as("rank"))
        .distinct()
        .withColumn("item", (col("q") * 7 + col("rank") * 3) % 100)
      val truth = pred.select("q").distinct()
        .withColumn("item",
          when(col("q") % 4 === 0, (col("q") * 7 + 50) % 100)
            .otherwise((col("q") * 7 + 9) % 100))
      Metrics.reciprocalRank(pred, truth, "q", "item", "rank")
        .orderBy("query")
    }),


    // ε-DP noisy release of (lang, source) counts over documents
    // (Privacy.dpNoisyCounts): quantized-Laplace noise from a seeded md5
    // PRF — after the driver precomputes the noise table, runtime
    // arithmetic is md5 + mod + integer add, so the release is
    // engine-exact (the oracle embeds the identical table literal).
    "q_dp_counts" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Privacy.dpNoisyCounts(d, Seq("lang", "source"), epsilon = 0.5,
          seed = 42L)
        .orderBy("lang", "source")
    }),


    // Snapshot-over-snapshot column drift (Diagnostics.profileDrift):
    // the "after" snapshot plants a nulling-out lang extractor, an
    // exploding source cardinality, and a 10% row drop; the report must
    // flag the first two and clear text. Exact counts + single IEEE
    // divisions — engine-exact.
    "q_profile_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val after = d.filter(col("doc_id") % 10 =!= 0)
        .withColumn("lang", when(col("doc_id") % 4 === 0, lit(null))
          .otherwise(col("lang")))
        .withColumn("source", concat(col("source"), lit("_"),
          (col("doc_id") % 50).cast("string")))
      Diagnostics.profileDrift(d, after, Seq("lang", "source", "text"))
        .orderBy("column")
    }),


    // Bradley-Terry preference strengths (fitting.BradleyTerry) over a
    // deterministic planted tournament: 50 items, skill s = item%10+1,
    // game outcomes decided by an exact integer compare of the event's
    // md5 bucket against 10000*sa/(sa+sb). Claims-style gate (float
    // MM iterations are not oracle-replayable): per-skill mean strength
    // must be strictly monotone, strengths normalize, and the top
    // strength lands on a top-skill item.
    "q_bradley_terry" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val g = ev.select(pmod(col("event_id"), lit(50L)).as("a"),
          pmod(expr("event_id div 50"), lit(50L)).as("b"),
          Sampling.hashBucket(col("event_id")).as("u"))
        .filter(col("a") =!= col("b"))
      val sa = pmod(col("a"), lit(10L)) + 1L
      val sb = pmod(col("b"), lit(10L)) + 1L
      val pairs = g.groupBy("a", "b").agg(count(lit(1)).as("n"),
        sum(when(col("u") * (sa + sb) < lit(10000L) * sa, 1L)
          .otherwise(0L)).as("w"))
      val st = graft.fitting.BradleyTerry.fit(pairs, "a", "b", "n", "w",
        iters = 50)
      val withSkill = st.withColumn("skill",
        pmod(col("item").cast("long"), lit(10L)) + 1)
      val bySkill = withSkill.groupBy("skill")
        .agg(avg(col("strength")).as("m")).orderBy("skill")
        .select("m").collect().map(_.getDouble(0))
      val monotone = bySkill.zip(bySkill.tail).forall { case (x, y) => x < y }
      val tot = withSkill.agg(sum(col("strength")).as("s"),
        count(lit(1)).as("n"),
        max(struct(col("strength"), col("skill"))).as("top")).head()
      val nItems = tot.getLong(1)
      import s.implicits._
      Seq(
        ("strength_monotone_in_skill", nItems, monotone),
        ("strengths_normalized", nItems,
          math.abs(tot.getDouble(0) - 1.0) < 1e-9),
        ("top_has_top_skill", nItems,
          tot.getStruct(2).getLong(1) == 10L))
        .toDF("claim", "n", "ok").orderBy("claim")
    }),


    // Deterministic half-sample replicates of a corpus metric
    // (Diagnostics.subsampleReplicates): PRF membership, one scan, 2B
    // aggregate columns. The metric is integer (text length), so sums
    // are exact in any accumulation order and the mean is one IEEE
    // division on both engines; the CI rank-pick math is spec-pinned.
    "q_subsample_ci" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      graft.operators.Diagnostics
        .subsampleReplicates(d, "doc_id", "len",
          replicates = 16, fraction = 0.5, seed = 3L)
        .orderBy("replicate")
    }),


    // Median-of-means robust estimator (Diagnostics.medianOfMeans) over
    // integer text lengths: the 15 PRF bucket sums are exact longs, each
    // mean one IEEE division, and the median an exact ranked pick — the
    // whole output is engine-identical, so the gate is a FULL oracle
    // (the oracle restates buckets, sums, and the ranked middle in SQL).
    "q_median_of_means" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      graft.operators.Diagnostics
        .medianOfMeans(d, "doc_id", "len", buckets = 15, seed = 2L)
    }),


    "q_isotonic" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      val sInt = Sampling.hashBucket(col("doc_id"))
      val u2 = Sampling.hashBucket(concat(col("doc_id").cast("string"),
        lit("_lbl")))
      val scored = d.select((sInt.cast("double") / 10000.0).as("score"),
        (u2 < (sInt * sInt) / 10000L).cast("int").as("label"))
      val model = graft.fitting.Isotonic
        .fitBinned(scored, "score", "label", nBins = 100)
      val fit = model.orderBy("bin_lo").collect()
      val probs = fit.map(_.getDouble(4))
      val monotone = probs.zip(probs.tail).forall { case (a, b) => a <= b }
      val totals = scored.agg(count(lit(1)), sum(col("label"))).head()
      val massOk = fit.map(_.getLong(3)).sum == totals.getLong(1)
      val cal = graft.fitting.Isotonic
        .calibrate(scored, "score", model, nBins = 100)
      val mse = cal.agg(
        sum(pow(col("calibrated") - col("label"), 2)).as("c"),
        sum(pow(col("score") - col("label"), 2)).as("r")).head()
      Seq(
        ("calibrated_mse_not_worse", totals.getLong(0),
          mse.getDouble(0) <= mse.getDouble(1) + 1e-9),
        ("positive_mass_preserved", totals.getLong(0), massOk),
        ("probs_monotone", totals.getLong(0), monotone))
        .toDF("claim", "n", "ok").orderBy("claim")
    }),


    // Parquet footer/row-group statistics audit (r9): executor-side
    // footer reads over lineitem.parquet; the HASH COMPARE is the
    // cross-check — every claim value is footer-DERIVED on the engine
    // side and data-DERIVED on the oracle side (count(*), min/max,
    // null counts), so a footer misparse or stats/data divergence
    // fails the gate. No NULLs in the value columns (a NULL flips
    // pandas int64 -> float64 and fakes a dtype mismatch): numeric
    // claims carry val_str = '', string claims carry val_num = 0.
    "q_rowgroup_stats" -> ((s, dir) => {
      import s.implicits._
      val stats = ParquetAudit.rowGroupStats(s, s"$dir/lineitem.parquet")
      // orderkey claims read the EXACT long stats (r10, ADVICE: the
      // double funnel loses exactness above 2^53 — irrelevant at this
      // sf, but the gate should exercise the path production ids use).
      // One action reads the footers once for all three aggregates.
      val r = stats.filter(col("column") === "l_orderkey").agg(
          sum("group_rows").as("rows"),
          min("min_long").as("okmin"),
          max("max_long").as("okmax"),
          sum(greatest(col("null_count"), lit(0L))).as("nulls"))
        .crossJoin(stats.filter(col("column") === "l_returnflag")
          .agg(min("min_val").as("fmin"), max("max_val").as("fmax")))
        .crossJoin(ParquetAudit.rowGroupSkippability(stats)
          .agg(min((col("n_with_stats") === col("n_groups")).cast("int"))
            .as("cover")))
        .head()
      Seq(
        ("orderkey_max", r.getLong(2), "", true),
        ("orderkey_min", r.getLong(1), "", true),
        ("orderkey_nulls", r.getLong(3), "", true),
        ("returnflag_max", 0L, r.getString(5), true),
        ("returnflag_min", 0L, r.getString(4), true),
        ("rows_sum", r.getLong(0), "", true),
        ("stats_cover_all_groups", 0L, "", r.getInt(6) == 1))
        .toDF("claim", "val_num", "val_str", "ok").orderBy("claim")
    }),

  )
}
