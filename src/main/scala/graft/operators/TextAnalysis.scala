package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  *
  * All pure built-in expression compositions (codegen'd, no UDFs) so they
  * survive 100 TB scans: each is row-local, pushes no shuffle, and keeps
  * whole-stage codegen intact.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Normalize for dedup/fingerprint: lowercase, strip non-alphanumerics to
    * spaces, collapse whitespace, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), "\\s+", " "))

  /** Plain-Scala twin of [[normalize]] for driver/executor-side string code
    * (e.g. the BPE encoder); must stay semantically identical.
    */
  def normalizeString(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").replaceAll("\\s+", " ").trim

  /** 128-bit content fingerprint of the normalized text (hex md5). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Unicode normalization ([[org.apache.spark.sql.graft.UnicodeNormalize]],
    * also `unicode_normalize(text, form)` in SQL): form is NFC/NFD/NFKC/NFKD.
    */
  def unicodeNormalize(text: Column, form: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.UnicodeNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), form))

  /** CCNet-style dedup-hash normalization (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data" —
    * cc_net/text_normalizer.py's hash normalization): lowercase, fold
    * accents (NFD + strip combining marks), map every decimal digit to 0,
    * strip punctuation/symbols/control chars, collapse whitespace. Unlike
    * [[normalize]] (ASCII-only: deletes accented letters wholesale), this
    * keeps the base letters of non-ASCII scripts, so near-identical
    * multilingual pages hash together. Deviation from the paper's code:
    * punctuation becomes a space (not empty) so deleted separators cannot
    * glue neighboring words into a new token.
    *
    * All row-local codegen'd expressions — composes with
    * [[graft.operators.Dedup.exact]] by fingerprinting this column.
    */
  def ccnetNormalize(text: Column): Column = {
    val folded = regexp_replace(
      unicodeNormalize(lower(text), "NFD"), "\\p{M}+", "")
    val digits = regexp_replace(folded, "\\p{Nd}", "0")
    val noPunct = regexp_replace(digits, "[\\p{P}\\p{S}\\p{C}]+", " ")
    trim(regexp_replace(noPunct, "\\s+", " "))
  }

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
          .cast("double") / length(text))

  /** Encoding-damage ("mojibake") score: fraction of characters that are
    * U+FFFD replacement chars or C0 controls other than tab/newline/CR —
    * the residue of double-decoding and byte truncation in web crawls.
    * Pure regexp length arithmetic, codegen'd; filter on a small threshold
    * (clean prose scores 0.0).
    */
  def mojibakeScore(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(
        (length(text) - length(regexp_replace(text,
          "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\uFFFD]", "")))
          .cast("double") / length(text))

  /** Deflate compression ratio (compressed/raw bytes of UTF-8 text):
    * templated and repetitive machine-generated pages compress far below
    * natural prose, making this a standard cheap quality signal. Row-local
    * UDF by necessity (no built-in codec expression) — a documented
    * exception to the no-UDF rule, bounded by `capBytes` per row so a
    * pathological document can't stall a task.
    */
  def compressionRatio(text: Column, capBytes: Int = 1 << 20): Column = {
    val f = udf { (t: String) =>
      if (t == null || t.isEmpty) 1.0
      else {
        val raw0 = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val raw = if (raw0.length > capBytes) raw0.take(capBytes) else raw0
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
        try {
          d.setInput(raw); d.finish()
          val buf = new Array[Byte](raw.length + 64)
          var n = 0
          while (!d.finished() && n < buf.length) n += d.deflate(buf, n, buf.length - n)
          n.toDouble / raw.length
        } finally d.end()
      }
    }
    f(text)
  }

  /** Mean word length over whitespace tokens. */
  def meanWordLength(text: Column): Column = {
    val toks = tokenCount(text)
    when(toks === 0, 0.0)
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / toks)
  }

  /** Fraction of tokens that are English stopwords (small fixed list). */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "at", "by", "be", "this")

  def stopwordRatio(text: Column): Column = {
    val toks = split(normalize(text), " ")
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => t.isInCollection(EnglishStopwords))).cast("double")
        / size(toks))
  }

  /** Composite quality score in [0,1]: rewards moderate length, low
    * punctuation, presence of stopwords (prose-ness), moderate word length.
    * Heuristic in the spirit of C4/Gopher quality rules.
    */
  def qualityScore(text: Column): Column =
    qualityBlend(text, stopwordRatio(text))

  /** The shared quality blend over a caller-chosen stopword ratio — keeps
    * [[qualityScore]] and [[qualityScoreFor]] from silently diverging.
    */
  private def qualityBlend(text: Column, stopRatio: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopRatio * 4.0, lit(1.0))
    val wordLen = meanWordLength(text)
    val wordScore = when(wordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    (lenScore + punctScore + stopScore + wordScore) / 4.0
  }

  /** Language-ID heuristic: score text against per-language marker-token
    * lists; returns the best-scoring language code or "und".
    * (A real system would use a fastText-style model via mapInPandas; this
    * n-gram/stopword heuristic is the deterministic, dependency-free core.)
    */
  val LanguageMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "por"),
  )

  /** Stopword ratio against the marker list of the row's OWN language
    * (unknown codes fall back to the English list) — the language-aware
    * core of quality filtering over a multilingual corpus, where judging
    * French prose by English stopwords systematically under-scores it.
    * Row-local: the per-language lists ship as one literal map.
    */
  def stopwordRatioFor(text: Column, lang: Column): Column = {
    val toks = filter(split(normalize(text), " "), t => length(t) > 0)
    val list = coalesce(typedlit(LanguageMarkers).apply(lang),
      typedlit(LanguageMarkers("en")))
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => array_contains(list, t))).cast("double")
        / size(toks))
  }

  /** [[qualityScore]] with the stopword component conditioned on `lang`. */
  def qualityScoreFor(text: Column, lang: Column): Column =
    qualityBlend(text, stopwordRatioFor(text, lang))

  def languageScores(text: Column): Column = {
    val toks = split(normalize(text), " ")
    val entries = LanguageMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        (size(filter(toks, t => t.isInCollection(markers))).cast("double") /
          greatest(size(toks), lit(1))).as("score"),
        lit(lang).as("lang"))
    }
    array_max(array(entries: _*))
  }

  def languageId(text: Column, minScore: Double = 0.05): Column = {
    val best = languageScores(text)
    when(best.getField("score") >= minScore, best.getField("lang")).otherwise("und")
  }

  /** Corpus vocabulary: one row per distinct normalized token with its
    * term frequency (total occurrences) and document frequency (distinct
    * documents containing it), filtered to `minCount` occurrences.
    *
    * Scale (100 TB): the exploded token table is fact-grain but the groupBy
    * partial-aggregates map-side, so the shuffle carries one row per
    * (partition, token) — bounded by vocabulary size, not corpus size. The
    * countDistinct(doc) plans as a two-phase aggregate over (token, id)
    * pairs; hot tokens ("the") are handled by the partial distinct on the
    * map side.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 minCount: Long = 1L): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("term_freq"), countDistinct(col("id")).as("doc_freq"))
      .filter(col("term_freq") >= minCount)

  /** Per-document top-k terms by tf-idf (idf = ln(N / df), raw tf), with
    * deterministic (score desc, token asc) tie-breaking. The idf table is
    * vocabulary-sized — a function of CORPUS size, so it carries no forced
    * broadcast hint: AQE broadcasts it when it measures small and degrades
    * to a shuffle join when a web-scale vocabulary doesn't fit an executor.
    * The per-doc ranking windows on (id), each document's term list being
    * vocabulary-bounded.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count().toDouble
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val idf = toks.select("id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(n) / col("df")))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("token").asc)
    tf.join(idf, Seq("token"))
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("token"), col("tf"), col("score"), col("rank"))
  }

  // ---- repetition signals (Gopher-style quality rules) ---------------------
  // Rai et al.'s Gopher filters drop documents dominated by repeated lines /
  // paragraphs / n-grams. All four signals below are row-local array
  // expressions: a 100 TB quality pass stays a single map stage.

  /** Distinct-token ratio: |set(tokens)| / |tokens| (1.0 for empty text).
    * Low values mean the document repeats a small vocabulary.
    */
  def distinctTokenRatio(text: Column): Column = {
    val toks = filter(split(normalize(text), " "), t => length(t) > 0)
    when(size(toks) === 0, 1.0)
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks))
  }

  /** Fraction of non-blank lines that are duplicates of an earlier line
    * (Gopher `duplicate_line_fraction`). 0.0 for texts of <= 1 line.
    */
  def dupLineFraction(text: Column): Column =
    dupSegmentFraction(text, "\n")

  private def dupSegmentFraction(text: Column, sepRegex: String): Column = {
    val segs = filter(transform(split(text, sepRegex), s => trim(s)),
      s => length(s) > 0)
    when(size(segs) <= 1, 0.0)
      .otherwise(lit(1.0) - size(array_distinct(segs)).cast("double") / size(segs))
  }

  /** Word n-grams of an already-built token array, as an array column.
    *
    * CAUTION (the repo's HOF-nesting rule): referencing an array-BUILDER
    * expression inside a higher-order-function lambda re-evaluates the
    * builder per element (measured 200s for a 2s query at sf0.1). So grams
    * are built by zip_with(toks, slice(toks, j, ...)) — each array argument
    * of zip_with/slice is evaluated once per ROW, never per element.
    */
  private def ngramsOf(toks: Column, n: Int): Column =
    if (n == 1) toks
    else {
      val joined = (2 to n).foldLeft(toks) { (acc, j) =>
        zip_with(acc, slice(toks, lit(j), greatest(size(toks) - (j - 1), lit(1))),
          (a, b) => concat(a, lit(" "), b))
      }
      // zip_with pads the shorter side with nulls and concat propagates
      // them, so the incomplete tail grams drop here
      filter(joined, g => g.isNotNull)
    }

  /** Fraction of tokens covered by the single most frequent word n-gram
    * (Gopher `top_n_gram_fraction`): maxCount * n / numTokens; 0.0 when the
    * text has fewer than n tokens.
    *
    * Row-local and single-pass: the max multiplicity comes from one fold
    * over the SORTED gram array (longest run of equal neighbors) — O(g log g)
    * per row, with every array expression referenced exactly once. For
    * corpus-level n-gram statistics use [[vocabulary]]-style explode +
    * groupBy instead.
    */
  def topNgramFraction(text: Column, n: Int = 2): Column = {
    require(n >= 1, s"bad n $n")
    val toks = filter(split(normalize(text), " "), t => length(t) > 0)
    val sorted = array_sort(ngramsOf(toks, n))
    val top = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(toks) < n, 0.0)
      .otherwise(top.cast("double") * n / size(toks))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram model with add-one smoothing — the KenLM-style fluency/quality
    * signal real pipelines threshold on (a document of rare or
    * out-of-distribution tokens scores low). Returns (id, n_toks, mean_lp).
    *
    * Scale: the unigram model IS [[vocabulary]] (one map-side-combined
    * aggregate, vocabulary-sized output); scoring joins the exploded token
    * table against it on the token. The model is corpus-derived — unbounded
    * at web scale — so the join carries NO forced broadcast hint: AQE
    * broadcasts when the measured size is small, shuffles otherwise. Only
    * the 1-row totals aggregate keeps a hint. The corpus never shuffles at
    * token grain beyond the per-doc mean aggregate on id.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     minCount: Long = 1L): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minCount)
    // totals: one tiny scalar aggregate, broadcast-cross-joined everywhere
    val totals = broadcast(
      vocab.agg(sum(col("tf")).as("__N"), count(lit(1)).as("__V")))
    val model = vocab.crossJoin(totals)
      .select(col("token"),
        log((col("tf") + 1).cast("double") / (col("__N") + col("__V"))).as("lp"))
    // unknown tokens (below minCount) take the smoothed zero-count mass
    toks.join(model, Seq("token"), "left")
      .crossJoin(totals)
      .groupBy("id")
      .agg(count(lit(1)).as("n_toks"),
        avg(coalesce(col("lp"),
          log(lit(1.0) / (col("__N") + col("__V"))))).as("mean_lp"))
  }

  /** CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    * 2020 §4.3): score every document by its mean unigram log-prob under
    * a model trained on the reference slice `train` (CCNet scores with a
    * Wikipedia-trained KenLM; the add-one-smoothed unigram analog keeps
    * the score deterministic and engine-reproducible), then split each
    * language at the 1/3 and 2/3 quantiles of the per-document score:
    * head = the most fluent third (highest mean_lp = lowest perplexity),
    * then middle, then tail.
    *
    * Returns (id, lang, n_toks, mean_lp, bucket).
    *
    * Scale: the model is a train-slice vocabulary aggregate — no forced
    * broadcast (AQE decides); scoring pre-aggregates to (id, token, cnt)
    * grain as [[naiveBayesScore]]. The split is NOT a rank window (an
    * ntile per language serializes each language into one sort task at
    * corpus scale): boundaries are two numbers per language from one
    * percentile aggregate over the scored frame — |languages| rows,
    * broadcast back, bucket assignment by comparison. Scores are rounded
    * to 6 decimals BEFORE the boundary computation/compare (the
    * cross-engine rounding convention), so both engines bucket identical
    * values.
    */
  def perplexityBuckets(df: DataFrame, train: DataFrame, idCol: String,
                        textCol: String, langCol: String): DataFrame = {
    val vocab = train
      .select(explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val totals = broadcast(
      vocab.agg(sum(col("tf")).as("__N"), count(lit(1)).as("__V")))
    val model = vocab.crossJoin(totals)
      .select(col("token"),
        log((col("tf") + 1).cast("double") / (col("__N") + col("__V"))).as("lp"))
    val scored = df
      .select(col(idCol).as("id"), col(langCol).as("lang"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("id", "token")
      .agg(first(col("lang")).as("lang"), count(lit(1)).as("cnt"))
      .join(model, Seq("token"), "left")
      .crossJoin(totals)
      .groupBy("id")
      .agg(first(col("lang")).as("lang"),
        sum(col("cnt")).as("n_toks"),
        round(sum(col("cnt") * coalesce(col("lp"),
            log(lit(1.0) / (col("__N") + col("__V"))))) / sum(col("cnt")), 6)
          .as("mean_lp"))
    val bounds = scored.groupBy("lang")
      .agg(percentile(col("mean_lp"), lit(2.0 / 3)).as("__b_head"),
        percentile(col("mean_lp"), lit(1.0 / 3)).as("__b_mid"))
    scored.join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("mean_lp") > col("__b_head"), "head")
          .when(col("mean_lp") > col("__b_mid"), "middle")
          .otherwise("tail"))
      .drop("__b_head", "__b_mid")
  }

  /** Per-document mean bigram log-probability with stupid backoff
    * (Brants et al.): lp(w2|w1) = ln(c2(w1 w2)/c1(w1)) when the bigram was
    * seen in `train`, else ln(alpha * (c1(w2)+1)/(N+V)) — the CCNet-style
    * LM fluency score, with the model trained on a separate corpus slice so
    * scoring generalizes. Documents with < 2 tokens emit no row.
    *
    * Scale: both model tables are aggregates over the training slice
    * (map-side combined) whose size grows with the corpus — a web-corpus
    * bigram table is tens of GB — so the scoring joins carry NO forced
    * broadcast hints (AQE picks broadcast only when the measured model is
    * small); the scored corpus shuffles only for the per-document mean.
    */
  def bigramLogProb(df: DataFrame, train: DataFrame, idCol: String,
                    textCol: String, alpha: Double = 0.4): DataFrame = {
    def bigrams(d: DataFrame) =
      Dedup.wordShingleRows(d, idCol, textCol, 2, dedup = false)
        .select(col("id"),
          substring_index(col("shingle"), " ", 1).as("w1"),
          substring_index(col("shingle"), " ", -1).as("w2"))
    def unigrams(d: DataFrame) =
      d.select(explode(split(normalize(col(textCol)), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("c1"))
    val tuni = unigrams(train)
    val totals = broadcast(tuni.agg(sum(col("c1")).as("__N"), count(lit(1)).as("__V")))
    val tbi = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .join(tuni.select(col("token").as("w1"), col("c1").as("c1w1")), Seq("w1"))
      .select(col("w1"), col("w2"),
        log(col("c2").cast("double") / col("c1w1")).as("lp2"))
    bigrams(df)
      .join(tbi, Seq("w1", "w2"), "left")
      .join(tuni.select(col("token").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "left")
      .crossJoin(totals)
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(coalesce(col("lp2"),
          log(lit(alpha) * (coalesce(col("c1w2"), lit(0L)) + 1)
            / (col("__N") + col("__V"))))).as("mean_lp"))
  }

  /** Min-k% probability memorization screen (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models"): score each document by
    * the mean log-probability of its k% LEAST likely tokens under a
    * reference model — a document the model has memorized has no
    * low-probability outlier tokens, so a high min-k% score flags
    * benchmark leakage / verbatim memorization candidates where the
    * full-document mean (which fluent-but-unseen text also maximizes)
    * cannot. The reference model here is the same backoff bigram LM as
    * [[bigramLogProb]] (plug in any per-token log-prob source for a real
    * LM). k = 1/kDenom of the document's bigrams, at least 1.
    *
    * Determinism: per-token log-probs quantize to exact micro-units
    * (floor(lp * 1e6) — the established libm boundary convention), so the
    * per-document sort, the bottom-k selection, and the selected sum are
    * pure int64 arithmetic, engine-exact given the same model counts.
    *
    * Returns (id, n_bigrams, k_count, mink_sum_micro, mink_mean_lp);
    * documents with < 2 tokens emit no row.
    *
    * Scale: model joins as [[bigramLogProb]] (corpus-derived tables, no
    * forced broadcast — AQE decides); the only new state is the per-DOC
    * micro array (bounded by document length, row-local sort) — never a
    * corpus-grain window or sort.
    */
  def minKProbScore(df: DataFrame, train: DataFrame, idCol: String,
                    textCol: String, kDenom: Int = 5,
                    alpha: Double = 0.4): DataFrame = {
    require(kDenom >= 1, s"bad kDenom $kDenom")
    def bigrams(d: DataFrame) =
      Dedup.wordShingleRows(d, idCol, textCol, 2, dedup = false)
        .select(col("id"),
          substring_index(col("shingle"), " ", 1).as("w1"),
          substring_index(col("shingle"), " ", -1).as("w2"))
    def unigrams(d: DataFrame) =
      d.select(explode(split(normalize(col(textCol)), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("c1"))
    val tuni = unigrams(train)
    val totals = broadcast(tuni.agg(sum(col("c1")).as("__N"),
      count(lit(1)).as("__V")))
    val tbi = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .join(tuni.select(col("token").as("w1"), col("c1").as("c1w1")), Seq("w1"))
      .select(col("w1"), col("w2"),
        log(col("c2").cast("double") / col("c1w1")).as("lp2"))
    bigrams(df)
      .join(tbi, Seq("w1", "w2"), "left")
      .join(tuni.select(col("token").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "left")
      .crossJoin(totals)
      .select(col("id"),
        floor(coalesce(col("lp2"),
          log(lit(alpha) * (coalesce(col("c1w2"), lit(0L)) + 1)
            / (col("__N") + col("__V")))) * 1e6).cast("long").as("__micro"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(col("__micro"))).as("__arr"))
      .withColumn("k_count",
        floor((col("n_bigrams") + kDenom - 1) / kDenom).cast("long"))
      .withColumn("mink_sum_micro",
        aggregate(slice(col("__arr"), lit(1), col("k_count").cast("int")),
          lit(0L), (acc, x) => acc + x))
      .select(col("id"), col("n_bigrams"), col("k_count"),
        col("mink_sum_micro"),
        (col("mink_sum_micro").cast("double") / (col("k_count") * 1e6))
          .as("mink_mean_lp"))
  }

  /** Rolling (Rabin-Karp-style) hash of the token stream: h = fold(acc ->
    * acc*B + hash(tok) mod M). base*mod must stay below 2^63 (ANSI mode
    * overflow-checks long multiply): with M = 2^31-1 and B ~ 2^20 the
    * intermediate tops out near 2^52. Row-local `aggregate`, no shuffle.
    */
  def rollingHash(text: Column, base: Long = 1000003L, mod: Long = (1L << 31) - 1): Column = {
    val toks = split(normalize(text), " ")
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * base + pmod(xxhash64(t), lit(mod)), lit(mod)))
  }

  /** Pointwise mutual information of word pairs by document co-occurrence:
    * pmi(a,b) = ln(n_ab * N / (n_a * n_b)) over distinct-per-document
    * tokens, the classic collocation / concept-pair signal (Church & Hanks
    * 1990). Returns (token_a, token_b, n_ab, pmi) for pairs co-occurring in
    * at least `minPairDocs` documents.
    *
    * Scale (100 TB): pair generation is the quadratic hazard — a document
    * with m kept tokens emits m(m-1)/2 pairs, and stop-like tokens
    * ("the" in every doc) would pair with everything. Two bounds keep it
    * sane: tokens in more than `maxDocFrac` of documents are dropped
    * (they carry no PMI signal — pmi ~ 0 by construction), and tokens in
    * fewer than `minPairDocs` documents cannot reach the pair threshold so
    * they are pre-filtered before the self-join. The join itself is an
    * equi-join on the document id (shuffle on id, pairs generated stream-
    * wise inside the join), and the pair aggregate map-side-combines to one
    * row per (partition, pair).
    */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               minPairDocs: Long = 5L, maxDocFrac: Double = 0.5,
               maxDocTokens: Int = 1000): DataFrame = {
    val docTok = df.select(col(idCol).as("id"),
        explode(array_distinct(split(normalize(col(textCol)), " "))).as("token"))
      .filter(length(col("token")) > 0)
    val nDocs = broadcast(df.agg(count(lit(1)).as("__N")))
    // token doc-frequencies, bounded to the useful band before pairing
    val freq = docTok.groupBy("token").agg(count(lit(1)).as("df"))
    val kept = freq.crossJoin(nDocs)
      .filter(col("df") >= minPairDocs && col("df") <= col("__N") * maxDocFrac)
      .select(col("token"), col("df"))
    val keptBand = docTok.join(kept, Seq("token")) // AQE: broadcast when small
    // per-document token cap: the df band bounds which TOKENS pair, but not
    // how many a single document keeps — one m-token document emits m^2
    // pair rows inside ONE id join key (one task). Keep the maxDocTokens
    // LOWEST-df (most informative) tokens per document, tie-broken on the
    // token itself for determinism — the same skew-guard role maxBucketSize
    // plays in the dedup banding paths.
    val keptTok =
      if (maxDocTokens <= 0) keptBand
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("id").orderBy(col("df"), col("token"))
        keptBand.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= maxDocTokens).drop("__rk")
      }
    val pairs = keptTok.select(col("id"), col("token").as("token_a"), col("df").as("df_a"))
      .join(keptTok.select(col("id"), col("token").as("token_b"), col("df").as("df_b")),
        Seq("id"))
      .filter(col("token_a") < col("token_b"))
      .groupBy("token_a", "token_b")
      .agg(count(lit(1)).as("n_ab"), first(col("df_a")).as("df_a"),
        first(col("df_b")).as("df_b"))
      .filter(col("n_ab") >= minPairDocs)
    pairs.crossJoin(nDocs)
      .select(col("token_a"), col("token_b"), col("n_ab"),
        log(col("n_ab").cast("double") * col("__N")
          / (col("df_a") * col("df_b"))).as("pmi"))
  }

  /** Multinomial Naive Bayes text scorer with add-one smoothing — the
    * deterministic analog of the fastText quality classifier real pipelines
    * (CCNet, GPT-3's WebText filter) use to keep "looks like the reference
    * corpus" documents: train per-class token log-likelihoods on a labeled
    * slice, score every document by its log-odds of the positive class.
    *
    * Returns (id, n_toks, log_odds, predicted): log_odds = [ln P(pos) +
    * sum ln P(tok|pos)] - [ln P(neg) + sum ln P(tok|neg)], predicted =
    * log_odds > 0. Tokens unseen in a class take that class's smoothed
    * zero-count mass ln(1/(N_c+V)); V is the union vocabulary.
    *
    * Scale: the model is a vocabulary-sized aggregate over the training
    * slice — web-scale vocabularies are unbounded, so the scoring join
    * carries NO forced broadcast hint (AQE measures); only the 1-row
    * totals are hinted. The scoring side pre-aggregates to (id, token,
    * cnt) BEFORE the model join — a Zipf-hot token ("the") is one join row
    * per document instead of one per occurrence, which divides the join
    * input by the per-doc duplication factor and bounds per-key fan-out by
    * the document count; the log-likelihood sum weights by cnt, which is
    * algebraically identical. Otherwise one join + one per-doc aggregate,
    * the same shape as [[unigramLogProb]].
    */
  def naiveBayesScore(df: DataFrame, train: DataFrame, idCol: String,
                      textCol: String, labelCol: String): DataFrame = {
    def toks(d: DataFrame, keep: Column*) =
      d.select(col(idCol).as("id") +: keep :+
          explode(split(normalize(col(textCol)), " ")).as("token"): _*)
        .filter(length(col("token")) > 0)
    val trainToks = toks(train, col(labelCol).cast("boolean").as("__pos"))
    // per-class token counts, pivoted to one row per token
    val counts = trainToks.groupBy("token")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("c_neg"))
    val totals = broadcast(counts.agg(
      sum(col("c_pos")).as("__Np"), sum(col("c_neg")).as("__Nn"),
      count(lit(1)).as("__V")))
    val priors = broadcast(train
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("__dp"),
        count(lit(1)).as("__dn_tot"))
      .select(log(col("__dp").cast("double") / col("__dn_tot")).as("__lp_prior"),
        log((col("__dn_tot") - col("__dp")).cast("double") / col("__dn_tot"))
          .as("__ln_prior")))
    val model = counts.crossJoin(totals)
      .select(col("token"),
        log((col("c_pos") + 1).cast("double") / (col("__Np") + col("__V"))).as("lp_pos"),
        log((col("c_neg") + 1).cast("double") / (col("__Nn") + col("__V"))).as("lp_neg"))
    toks(df).groupBy("id", "token").agg(count(lit(1)).as("cnt"))
      .join(model, Seq("token"), "left")
      .crossJoin(totals)
      .select(col("id"), col("cnt"),
        coalesce(col("lp_pos"), log(lit(1.0) / (col("__Np") + col("__V")))).as("lp_pos"),
        coalesce(col("lp_neg"), log(lit(1.0) / (col("__Nn") + col("__V")))).as("lp_neg"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n_toks"),
        sum(col("cnt") * (col("lp_pos") - col("lp_neg"))).as("__sum_llr"))
      .crossJoin(priors)
      .select(col("id"), col("n_toks"),
        (col("__sum_llr") + col("__lp_prior") - col("__ln_prior")).as("log_odds"))
      .withColumn("predicted", col("log_odds") > 0)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hashed word-bigram
    * features, per-document importance = mean over feature occurrences of
    * ln(p_target(f) / p_raw(f)) with add-one smoothing, where `target` is
    * the in-domain sample and `df` (the corpus being selected from) is the
    * raw distribution. Returns (id, n_feats, weight); downstream selection
    * keeps the top mass by weight.
    *
    * The feature hash is md5-based ([[graft.operators.Sampling.hashBucket]]
    * rationale: identical in every engine) into `buckets` buckets — the
    * fixed-dimensional feature space is the point of DSIR: both
    * distributions are `buckets`-sized regardless of corpus scale, so the
    * model side of the scoring join is bounded and broadcast-safe at any
    * corpus size (hinted, unlike the vocabulary-sized LM joins).
    */
  def importanceWeights(df: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"bad buckets $buckets")
    def feats(d: DataFrame) = {
      val toks = filter(split(normalize(col(textCol)), " "), t => length(t) > 0)
      val grams = zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      d.select(col(idCol).as("id"), explode(grams).as("gram"))
        .select(col("id"), Sampling.hashBucket(col("gram"), buckets).as("feat"))
    }
    def dist(d: DataFrame, cName: String) =
      feats(d).groupBy("feat").agg(count(lit(1)).as(cName))
    val pt = dist(target, "c_t")
    val pr = dist(df, "c_r")
    // both sides are <= `buckets` rows by construction: broadcast is safe
    val model = broadcast(
      pr.join(pt, Seq("feat"), "left")
        .select(col("feat"), coalesce(col("c_t"), lit(0L)).as("c_t"), col("c_r")))
    val totals = broadcast(model.agg(
      sum(col("c_t")).as("__Nt"), sum(col("c_r")).as("__Nr")))
    val scored = model.crossJoin(totals)
      .select(col("feat"),
        (log((col("c_t") + 1).cast("double") / (col("__Nt") + buckets))
          - log((col("c_r") + 1).cast("double") / (col("__Nr") + buckets)))
          .as("llr"))
    feats(df).join(broadcast(scored), Seq("feat"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), avg(col("llr")).as("weight"))
  }

  /** Jensen–Shannon divergence between the unigram distributions of two
    * corpus slices — the drift/shift monitor for corpus curation (is this
    * crawl snapshot like the last one? did the filter change the
    * distribution?). Returns one row: vocab sizes, token totals, both
    * KL(P||M)/KL(Q||M) halves, and jsd in nats (0 = identical,
    * ln 2 = disjoint). Zero-count tokens contribute 0 to their side's KL
    * term (lim x->0 of x ln x = 0), no smoothing — the standard JSD.
    *
    * Scale: two vocabulary-sized aggregates full-outer-joined on the token
    * (AQE-planned), then a single global sum — no per-document state at
    * all; the whole comparison is one number regardless of corpus size.
    */
  def jsDivergence(dfA: DataFrame, dfB: DataFrame, textCol: String): DataFrame = {
    def uni(d: DataFrame, cName: String) =
      d.select(explode(split(normalize(col(textCol)), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as(cName))
    val joined = uni(dfA, "c_a").join(uni(dfB, "c_b"), Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val totals = broadcast(joined.agg(
      sum(col("c_a")).as("__Na"), sum(col("c_b")).as("__Nb"),
      sum(when(col("c_a") > 0, 1L).otherwise(0L)).as("__Va"),
      sum(when(col("c_b") > 0, 1L).otherwise(0L)).as("__Vb")))
    joined.crossJoin(totals)
      .select(col("__Na"), col("__Nb"), col("__Va"), col("__Vb"),
        (col("c_a").cast("double") / col("__Na")).as("p"),
        (col("c_b").cast("double") / col("__Nb")).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .groupBy("__Na", "__Nb", "__Va", "__Vb")
      .agg(
        sum(when(col("p") > 0, col("p") * log(col("p") / col("m")))
          .otherwise(0.0)).as("kl_pm"),
        sum(when(col("q") > 0, col("q") * log(col("q") / col("m")))
          .otherwise(0.0)).as("kl_qm"))
      .select(col("__Na").as("n_tokens_a"), col("__Nb").as("n_tokens_b"),
        col("__Va").as("n_vocab_a"), col("__Vb").as("n_vocab_b"),
        col("kl_pm"), col("kl_qm"),
        ((col("kl_pm") + col("kl_qm")) / 2).as("jsd"))
  }

  /** Per-group lexical diversity — the corpus-card row for each source/
    * domain/language slice: document and token counts, vocabulary size,
    * Shannon entropy of the unigram distribution, entropy normalized by
    * ln(V) (1.0 = uniform usage), and the Simpson concentration sum(p²)
    * (probability two random tokens coincide — high = repetitive slice).
    *
    * Scale shape: one explode to (group, token) counts, then a group-grain
    * aggregate of p-moments — vocabulary-bounded intermediate, no window,
    * no distinct-expand (V comes from the same count rows).
    */
  def diversityByGroup(df: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("grp"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("grp", "token")
      .agg(count(lit(1)).as("c"))
    val docs = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    // all p-moments in ONE vocabulary-grain aggregate; derivations row-local
    counts.groupBy("grp")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(col("c") * log(col("c"))).as("__clnc"),
        // decimal square: a hot token's long c² wraps past ~3e9 occurrences
        sum(col("c").cast("decimal(19,0)") * col("c")).as("__c2"))
      .withColumn("entropy",
        log(col("n_tokens")) - col("__clnc") / col("n_tokens"))
      .withColumn("norm_entropy",
        when(col("n_vocab") > 1, col("entropy") / log(col("n_vocab")))
          .otherwise(0.0))
      .withColumn("simpson", // double square: long n_tokens² wraps at ~1e13 tokens
        col("__c2").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens")))
      .join(docs, Seq("grp"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("n_vocab"),
        col("entropy"), col("norm_entropy"), col("simpson"))
  }

  /** Zipf head fit: rank the `topR` most frequent tokens (freq desc, token
    * asc — selected with the bounded top-k aggregate, NOT a vocabulary
    * rank window) and fit ln(freq) ~ ln(rank) by closed-form OLS. A
    * healthy natural-language corpus slopes near -1; synthetic or
    * template-generated text flattens. One row: (slope, intercept, r2,
    * n_top).
    */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
              topR: Int = 100): DataFrame = {
    require(topR > 1, s"need at least 2 ranks, got $topR")
    import org.apache.spark.sql.graft.{ColumnBridge, TopKStringsAgg}
    def topk(key: Column, value: Column): Column = ColumnBridge.column(
      TopKStringsAgg(ColumnBridge.expression(key),
        ColumnBridge.expression(value), topR).toAggregateExpression())
    val vocab = df.select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("tf"))
    // sort key (freq desc, token asc) as one fixed-width string
    val key = concat(
      format_string("%019d", lit(1000000000000000000L) - col("tf")),
      lit("|"), col("token"))
    val ranked = vocab
      .select(key.as("__key"), col("tf").cast("string").as("__tf"))
      .groupBy()
      .agg(topk(col("__key"), col("__tf")).as("__tfs"))
      .select(posexplode(col("__tfs")).as(Seq("__pos", "__tf")))
      .select((col("__pos") + 1).cast("double").as("rnk"),
        col("__tf").cast("double").as("tf"))
    ranked.agg(
      graft.fitting.Fitting.slopeExpr(log(col("rnk")), log(col("tf"))).as("slope"),
      graft.fitting.Fitting.interceptExpr(log(col("rnk")), log(col("tf"))).as("intercept"),
      pow(corr(log(col("rnk")), log(col("tf"))), 2).as("r2"),
      count(lit(1)).as("n_top"))
  }

  /** Positional inverted index: token -> sorted postings of (doc id,
    * sorted in-doc positions) — the retrieval / exact-phrase-
    * decontamination artifact. Tokens whose document frequency exceeds
    * `maxDf` are EXCLUDED (a stop token's posting list is "the whole
    * corpus": useless for lookup, and collecting it would concentrate the
    * corpus into one aggregation key — the same skew-guard role
    * maxBucketSize plays in the dedup banding paths; the df cap bounds
    * every posting array).
    *
    * Scale shape: positions aggregate at (token, id) grain (bounded by one
    * document), df at token grain (a count, not a collect), and only
    * df-surviving tokens reach the posting-list collect. Shard the index
    * by token range with [[graft.sources.Sinks.writeSharded]] for
    * O(shards) lookup fan-out.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxDf: Long = 100000L): DataFrame = {
    require(maxDf >= 1, s"bad maxDf $maxDf")
    val perDoc = df.select(col(idCol).as("id"),
        posexplode(split(normalize(col(textCol)), " ")).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
      .groupBy("token", "id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    val dfs = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    perDoc.join(dfs, Seq("token"))
      .groupBy("token")
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(struct(col("id"), col("positions"))))
          .as("postings"))
  }

  /** Exact-phrase search FROM the positional index (no text rescan): the
    * phrase's terms' postings join on (doc, aligned position) — term j's
    * positions shifted by -j meet term 0's — so a match is a chain of
    * equi-joins at (id, pos) grain, skew-safe and shuffle-planned, never a
    * per-document scan loop. Returns (id, n_matches, first_pos) for
    * documents containing the normalized phrase at least once.
    *
    * `maxDf` follows [[invertedIndex]]; a production caller phrase-
    * searches content terms against a standing index (stop terms capped
    * out), while tests/gates pass the corpus size for a capless index.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: String, maxDf: Long = 100000L): DataFrame = {
    val terms = normalizeString(phrase).split(" ").filter(_.nonEmpty)
    require(terms.length >= 2, s"phrase '$phrase' needs >= 2 tokens")
    val posTbl = invertedIndex(df, idCol, textCol, maxDf)
      .filter(col("token").isInCollection(terms.distinct.toSeq))
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.id").as("id"),
        explode(col("p.positions")).as("pos"))
    val start = posTbl.filter(col("token") === terms(0))
      .select(col("id"), col("pos"))
    val matched = terms.zipWithIndex.tail.foldLeft(start) { case (acc, (t, j)) =>
      acc.join(posTbl.filter(col("token") === t)
        .select(col("id"), (col("pos") - j).as("pos")), Seq("id", "pos"))
    }
    matched.groupBy("id")
      .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
  }

  /** Okapi BM25 relevance of every document to ONE query string (the
    * retrieval scorer the inverted index serves; this is the scan-side
    * form for bulk scoring/reranking). idf uses the standard
    * ln(1 + (N - df + 0.5)/(df + 0.5)); tf saturates with k1 and length-
    * normalizes with b against the mean document length.
    *
    * Scale shape: the per-term df/idf model is a vocabulary aggregate
    * FILTERED to the query's terms (a handful of rows, broadcast-trivial);
    * scoring pre-aggregates to (id, token, tf) grain before the model join
    * — the naiveBayesScore lesson: never join at raw-occurrence grain on
    * Zipf-hot keys. Documents sharing no query term score 0 via the final
    * left join back to the corpus.
    */
  def bm25Score(df: DataFrame, idCol: String, textCol: String,
                query: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTokens = normalizeString(query).split(" ").toSeq.distinct
      .filter(_.nonEmpty)
    require(qTokens.nonEmpty, s"query '$query' normalizes to nothing")
    val toks = df.select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val docLen = toks.groupBy("id").agg(count(lit(1)).as("dl"))
    val stats = broadcast(docLen.agg(count(lit(1)).as("__N"),
      avg(col("dl")).as("__avgdl")))
    val qtf = toks.filter(col("token").isInCollection(qTokens))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val model = qtf.select("token", "id").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val scored = qtf.join(model, Seq("token"))
      .join(docLen, Seq("id"))
      .crossJoin(stats)
      .select(col("id"),
        (log(lit(1.0) + (col("__N") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
          .as("term_score"))
      .groupBy("id").agg(sum(col("term_score")).as("bm25"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("bm25"), lit(0.0)).as("bm25"))
  }

  /** Per-document n-gram novelty against a reference corpus: the fraction
    * of a document's distinct word n-grams that do NOT occur anywhere in
    * `reference`. High novelty = genuinely new text; near-zero novelty =
    * the document is assembled from already-seen phrasing (template spam,
    * boilerplate remixes, near-copies below the dedup thresholds) — the
    * complement of the decontamination overlap signal, used to prioritize
    * fresh data and to estimate how much a new crawl snapshot actually
    * adds. Returns (id, n_grams, n_novel, novelty); documents too short to
    * form one n-gram report 0 grams and novelty 1.0 by convention (nothing
    * seen before).
    *
    * Scale: the reference side collapses to its DISTINCT gram set once
    * (vocabulary-like, Zipf-bounded, far smaller than occurrence grain);
    * the membership probe is a left equi-join on the gram with no forced
    * broadcast — AQE broadcasts a small reference snapshot and shuffles a
    * web-scale one. Both sides are distinct-per-document grain, so a
    * Zipf-hot gram is one row per document, never one per occurrence.
    */
  def ngramNovelty(df: DataFrame, reference: DataFrame, idCol: String,
                   textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"bad n $n")
    def grams(d: DataFrame) = {
      val toks = filter(split(normalize(col(textCol)), " "), t => length(t) > 0)
      d.select(col(idCol).as("id"),
          explode_outer(array_distinct(ngramsOf(toks, n))).as("gram"))
    }
    val refSet = grams(reference).select("gram").distinct()
      .withColumn("__seen", lit(1))
    grams(df)
      .join(refSet, Seq("gram"), "left")
      .groupBy("id")
      .agg(count(col("gram")).as("n_grams"),
        sum(when(col("gram").isNotNull && col("__seen").isNull, 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") === 0, 1.0)
          .otherwise(col("n_novel").cast("double") / col("n_grams")))
  }

  /** Code-switching signals: per-SENTENCE language-ID over the marker
    * lists, then document-level mixing statistics — (n_sentences,
    * n_tagged [sentences any marker list claimed], n_switches [adjacent
    * tagged sentences disagreeing], langs [sorted distinct tags, csv]).
    * A bilingual forum thread or a mistranslated page shows n_switches >
    * 0 where the document-level [[languageId]] reports only the majority
    * language — the router for "split or drop" multilingual handling.
    * Ties across marker lists resolve to the FIRST language in the fixed
    * en/fr/de/es order (deterministic, oracle-mirrored). Untagged
    * ("und") sentences — no marker hit — join no switch pair.
    *
    * Row-local nested HOFs in two passes (the scriptCounts lesson at
    * sentence grain): the normalized token array is built ONCE per
    * sentence in its own transform — an expression captured inside a
    * lambda re-evaluates per reference, so deriving tokens inside the
    * four per-language counts would re-run the normalize regex chain 4x
    * per sentence (measured 4.7s -> the staged form below at sf0.1).
    */
  def codeSwitchSignals(text: Column): Column = {
    val langOrder = Seq("en", "fr", "de", "es")
    val sents = filter(split(text, "[.!?]+\\s+|[.!?]+$"),
      s => length(trim(s)) > 0)
    val sentToks = transform(sents,
      s => filter(split(normalize(s), " "), t => length(t) > 0))
    val labels = transform(sentToks, toks => {
      def cnt(lang: String) = size(filter(toks,
        t => t.isInCollection(LanguageMarkers(lang))))
      val best = langOrder.tail.foldLeft((lit(langOrder.head), cnt(langOrder.head))) {
        case ((bn, bc), l) =>
          val c = cnt(l)
          (when(c > bc, lit(l)).otherwise(bn), when(c > bc, c).otherwise(bc))
      }
      when(best._2 <= 0, lit("und")).otherwise(best._1)
    })
    // let-binding via a 1-element transform: the struct below references
    // the label array ~6 times, and a bare expression would re-evaluate
    // the whole normalize/label chain per reference — a lambda VARIABLE
    // is bound once (measured 4.7s -> 0.6s at sf0.1)
    element_at(transform(array(labels), ls => {
      val tagged = filter(ls, l => l =!= "und")
      val n = size(ls)
      val switches = when(n < 2, lit(0)).otherwise(aggregate(
        zip_with(slice(ls, lit(1), n - 1), slice(ls, lit(2), n - 1),
          (a, b) => when(a =!= "und" && b =!= "und" && a =!= b, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x))
      struct(n.as("n_sentences"), size(tagged).as("n_tagged"),
        switches.as("n_switches"),
        concat_ws(",", array_sort(array_distinct(tagged))).as("langs"))
    }), 1)
  }

  /** Good-Turing unseen-mass estimate over the unigram vocabulary: the
    * probability that the NEXT token drawn from the population is a type
    * never seen in this corpus is ~ n1/N (Good 1953; n1 = hapax count,
    * N = total tokens) — the coverage dial for corpus planning ("is this
    * crawl slice exhausted?" high n1/N = no) and the sanity bound for
    * vocabulary-dependent models. Also reports the Chao1 richness lower
    * bound V + n1²/(2·n2) (the species-estimation classic). One
    * vocabulary aggregate + one 1-row rollup — no second corpus pass.
    */
  def unseenMassEstimate(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df
      .select(explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("__c"))
    vocab.agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .withColumn("p_unseen",
        when(col("n_tokens") === 0, lit(null))
          .otherwise(col("n_hapax").cast("double") / col("n_tokens")))
      .withColumn("chao1_vocab",
        when(col("n_dis") === 0, col("n_vocab").cast("double"))
          .otherwise(col("n_vocab") +
            col("n_hapax").cast("double") * col("n_hapax")
              / (lit(2.0) * col("n_dis"))))
  }

  /** Markdown-to-text: strip the structural syntax while keeping the
    * prose — fenced/inline code dropped (it is not prose; route code via
    * [[codeSignals]] instead), link/image text kept and URLs dropped,
    * emphasis/heading/list/blockquote/table markers removed, whitespace
    * collapsed. A pure RE2-safe regexp chain (no lookaround), row-local —
    * the markdown sibling of [[graft.operators.Cleanse.stripHtml]].
    */
  def stripMarkdown(text: Column): Column = {
    val noFence = regexp_replace(text, "(?s)```.*?```|~~~.*?~~~", " ")
    val noInline = regexp_replace(noFence, "`[^`\n]*`", " ")
    // images first (their ! would survive the link rule), then links:
    // keep the bracket text, drop the target
    val noImg = regexp_replace(noInline, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    // heading/list/quote markers at line starts; table/rule lines
    val noMarkers = regexp_replace(noLink,
      "(?m)^\\s*(#{1,6}\\s+|>\\s?|[-*+]\\s+|\\d+\\.\\s+)", "")
    val noRules = regexp_replace(noMarkers, "(?m)^\\s*([-=*_]\\s*){3,}$|\\|", " ")
    val noEmph = regexp_replace(noRules, "[*_]{1,3}([^*_]+)[*_]{1,3}", "$1")
    trim(regexp_replace(noEmph, "\\s+", " "))
  }

  /** Confusable (homoglyph) folding + invisible-character stripping — the
    * spoof-resistance layer for dedup keys and decontamination: a spammer
    * (or an innocently copy-pasted PDF) swaps Latin letters for their
    * Cyrillic/Greek lookalikes or salts text with zero-width characters,
    * and every fingerprint/n-gram key changes while the rendered text
    * looks identical. Fold BEFORE hashing.
    *
    * Two codegen'd pieces both engines share: `translate` over an
    * explicit confusable table (the common Cyrillic/Greek lookalikes of
    * Latin letters — a deterministic core of Unicode TR39, not the full
    * table), and a regexp strip of zero-width/bidi-control code points
    * (ZWSP/ZWNJ/ZWJ/WJ, BOM, bidi embedding controls, soft hyphen).
    */
  def foldHomoglyphs(text: Column): Column =
    translate(stripInvisible(text),
      TextAnalysis.ConfusableFrom, TextAnalysis.ConfusableTo)

  /** Remove zero-width and bidi-control code points (see
    * [[foldHomoglyphs]]); safe on any script — these render as nothing.
    */
  def stripInvisible(text: Column): Column =
    regexp_replace(text,
      "[\\u00AD\\u200B-\\u200F\\u202A-\\u202E\\u2060\\uFEFF]", "")

  /** Cyrillic + Greek lookalikes of Latin letters (paired with
    * [[ConfusableTo]]; same order). */
  val ConfusableFrom: String =
    "аеорсухіј" + // а е о р с у х і ј
      "АВЕКМНОРСТХ" + // АВЕКМНОРСТХ
      "οαΑΒΕΖΗΙΚΜΝΟΡΤΥΧ" // ο α ΑΒΕΖΗΙΚΜΝΟΡΤΥΧ
  val ConfusableTo: String =
    "aeopcyxij" +
      "ABEKMHOPCTX" +
      "oaABEZHIKMNOPTYX"

  /** Proto-entity table: capitalized multi-word spans ("New York",
    * "Mary Jones") extracted per document — the regex-grade named-entity
    * signal that powers entity-overlap dedup of rewrites (two articles
    * about the same event share entities even when their phrasing
    * diverges below the n-gram thresholds) and entity co-occurrence
    * graphs. Pattern: 2+ consecutive Capitalized words, ASCII word
    * boundaries — RE2-compatible, so the oracle reproduces the rows.
    * Returns (id, entity) DISTINCT per document. Row-local extraction +
    * one distinct — map-side combined, no window.
    */
  def entityTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(regexp_extract_all(col(textCol),
          lit("\\b[A-Z][a-z]+(?: [A-Z][a-z]+)+\\b"), lit(0))).as("entity"))
      .distinct()

  /** Entity co-occurrence pairs: (entity_a, entity_b, n_docs) for entities
    * appearing in >= `minPairDocs` documents together — the edge list of
    * the entity graph ([[graft.operators.LinkGraph]] centrality runs on
    * it). Same bounded pairing shape as [[pmiPairs]]: the per-document
    * entity list is naturally small (unlike tokens), and `maxDocEntities`
    * caps the quadratic hazard of entity-dump pages.
    */
  def entityPairs(df: DataFrame, idCol: String, textCol: String,
                  minPairDocs: Long = 2L,
                  maxDocEntities: Int = 100): DataFrame = {
    val ents = entityTable(df, idCol, textCol)
    val capped =
      if (maxDocEntities <= 0) ents
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("id").orderBy("entity")
        ents.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= maxDocEntities).drop("__rk")
      }
    capped.select(col("id"), col("entity").as("entity_a"))
      .join(capped.select(col("id"), col("entity").as("entity_b")), Seq("id"))
      .filter(col("entity_a") < col("entity_b"))
      .groupBy("entity_a", "entity_b")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minPairDocs)
  }

  /** Flesch-style readability signals: sentence/word/syllable counts and
    * the reading-ease score (206.835 - 1.015*(words/sentences) -
    * 84.6*(syllables/words)). Syllables are approximated by vowel-group
    * counting — the standard dictionary-free proxy; scores are comparable
    * WITHIN a corpus, which is what a quality filter needs. All counts
    * from shared regex classes (RE2-safe), row-local — one map stage.
    */
  def readabilitySignals(text: Column): Column = {
    val sentences = size(filter(split(text, "[.!?]+\\s+|[.!?]+$"),
      s => length(trim(s)) > 0))
    val words = size(filter(split(text, "\\s+"), w => length(w) > 0))
    val syllables = size(regexp_extract_all(lower(text),
      lit("[aeiouy]+"), lit(0)))
    val nS = greatest(sentences, lit(1))
    val nW = greatest(words, lit(1))
    val flesch = lit(206.835) -
      lit(1.015) * (words.cast("double") / nS) -
      lit(84.6) * (syllables.cast("double") / nW)
    struct(sentences.as("n_sentences"), words.as("n_words"),
      syllables.as("n_syllables"),
      when(words === 0, lit(null)).otherwise(flesch).as("flesch"))
  }

  /** TextTiling-style topic boundaries (Hearst 1997, the valley rule):
    * lexical overlap between ADJACENT sentences dips where the topic
    * shifts. Emits one row per sentence gap — (id, gap_idx [1-based, gap
    * i sits between sentences i and i+1], overlap [distinct shared
    * lowercase tokens], is_boundary [strict valley: overlap below both
    * neighbors; document edges count as infinitely high]) — the segmenter
    * that tells a RAG chunker WHERE to prefer splitting (feed boundaries
    * to [[graft.operators.Chunking.chunkRowsBySentences]] budgets).
    * Documents with fewer than two sentences emit no gap rows.
    *
    * All row-local HOF arithmetic (sets, adjacent intersections, valley
    * test) — one map stage, no shuffle, same staging discipline as the
    * sentence chunker.
    */
  def topicBoundaries(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val staged = df
      .select(col(idCol).as("id"),
        filter(split(col(textCol), "[.!?]+\\s+|[.!?]+$"),
          s => length(trim(s)) > 0).as("__sents"))
      .select(col("id"),
        transform(col("__sents"), s =>
          array_distinct(filter(split(lower(s), "\\s+"),
            t => length(t) > 0))).as("__sets"))
      .select(col("id"),
        when(size(col("__sets")) < 2,
          array().cast("array<int>"))
          .otherwise(transform(sequence(lit(1), size(col("__sets")) - 1),
            i => size(array_intersect(element_at(col("__sets"), i),
              element_at(col("__sets"), i + 1)))))
          .as("__gaps"))
    val ng = size(col("__gaps"))
    val hi = lit(Int.MaxValue)
    val rows = when(ng <= 0,
      array().cast("array<struct<gap_idx:long,overlap:int,is_boundary:boolean>>"))
      .otherwise(transform(sequence(lit(1), ng), i => struct(
        i.cast("long").as("gap_idx"),
        element_at(col("__gaps"), i).as("overlap"),
        (element_at(col("__gaps"), i) <
          when(i === 1, hi).otherwise(element_at(col("__gaps"), i - 1)) &&
          element_at(col("__gaps"), i) <
            when(i === ng, hi).otherwise(element_at(col("__gaps"), i + 1)))
          .as("is_boundary"))))
    staged.select(col("id"), explode(rows).as("g"))
      .select(col("id"), col("g.gap_idx"), col("g.overlap"),
        col("g.is_boundary"))
  }

  /** Directed n-gram overlap between corpus SLICES (sources, snapshots,
    * shards): for each ordered pair of slices, the count of distinct
    * n-grams they share and what fraction of slice A's gram set that is —
    * the "who copies from whom" matrix. A syndication mirror shows as a
    * row with high containment into its upstream; a snapshot-over-snapshot
    * run quantifies carry-over. The document-grain sibling is
    * [[graft.operators.Dedup.ngramContainmentPairs]].
    *
    * Scale: operates at SLICE grain — the gram table is distinct
    * (slice, gram), so a Zipf-hot gram contributes one row per slice it
    * appears in, and the self-join fan-out per gram is bounded by the
    * slice count squared, never by document count. Intended for bounded
    * slice vocabularies (sources/shards/snapshots: dozens-hundreds); a
    * host-grain run at web scale should bucket hosts first.
    */
  def sliceOverlapMatrix(df: DataFrame, sliceCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    require(n >= 1, s"bad n $n")
    val toks = filter(split(normalize(col(textCol)), " "), t => length(t) > 0)
    val grams = df
      .select(col(sliceCol).as("slice"), explode(ngramsOf(toks, n)).as("gram"))
      .distinct()
    val sizes = grams.groupBy("slice").agg(count(lit(1)).as("n_grams"))
    grams.select(col("slice").as("slice_a"), col("gram"))
      .join(grams.select(col("slice").as("slice_b"), col("gram")), Seq("gram"))
      .filter(col("slice_a") =!= col("slice_b"))
      .groupBy("slice_a", "slice_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("slice", "slice_a"), Seq("slice_a"))
      .select(col("slice_a"), col("slice_b"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("containment_a"))
  }

  /** Unicode-script composition of a document: counts of Latin, Cyrillic,
    * Greek, CJK (Han + kana), Arabic, Hebrew and decimal-digit code points,
    * plus the dominant script label — the first-pass router for a
    * multilingual pipeline (script gates which language-ID / tokenizer /
    * quality model applies) and a mojibake tripwire (a "Latin" page with a
    * high Cyrillic count is usually an encoding accident).
    *
    * Counting is by explicit BMP code-point ranges (not named regex
    * classes) so any engine with range character classes computes the same
    * numbers. One codegen'd code-point scan per row
    * ([[org.apache.spark.sql.graft.ScriptCountsExpr]]) — the equivalent
    * seven regexp_replace passes ([[scriptCountsRegex]], kept for the
    * parity spec) measured ~8x the per-row cost at sf1.
    */
  def scriptCounts(text: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, ScriptCountsExpr}
    ColumnBridge.column(ScriptCountsExpr(ColumnBridge.expression(text)))
  }

  /** Reference formulation of [[scriptCounts]] as seven per-script
    * regexp passes over the same ranges — the engine-portable spelling
    * (it IS the oracle's form) and the parity check for the native
    * expression. */
  def scriptCountsRegex(text: Column): Column = {
    def countRange(ranges: String): Column =
      length(regexp_replace(text, s"[^$ranges]", ""))
    val latin = countRange("a-zA-Z\\u00C0-\\u024F")
    val cyr = countRange("\\u0400-\\u04FF")
    val greek = countRange("\\u0370-\\u03FF")
    val cjk = countRange("\\u3040-\\u30FF\\u4E00-\\u9FFF")
    val arabic = countRange("\\u0600-\\u06FF")
    val hebrew = countRange("\\u0590-\\u05FF")
    val digit = countRange("0-9")
    struct(latin.as("latin"), cyr.as("cyrillic"), greek.as("greek"),
      cjk.as("cjk"), arabic.as("arabic"), hebrew.as("hebrew"),
      digit.as("digit"))
  }

  /** Dominant script from [[scriptCounts]] output: the largest of the six
    * letter-script counts, ties broken by the fixed field order (latin
    * first), "none" when no scripted letter occurs at all. */
  def dominantScript(counts: Column): Column = {
    val fields = Seq("latin", "cyrillic", "greek", "cjk", "arabic", "hebrew")
    val best = fields.tail.foldLeft((lit(fields.head), counts.getField(fields.head))) {
      case ((bn, bc), f) =>
        val c = counts.getField(f)
        (when(c > bc, lit(f)).otherwise(bn), when(c > bc, c).otherwise(bc))
    }
    when(best._2 <= 0, lit("none")).otherwise(best._1)
  }

  /** Code-likeness signals — the "is this prose or source code?" router
    * that decides whether a document flows to the code or the text branch
    * of a training pipeline (and the guard that keeps code out of prose
    * quality statistics). Four row-local signals over the RAW text:
    *
    *  - `symbol_ratio`: fraction of non-space characters from the
    *    code-syntax set (braces, brackets, parens, angle brackets,
    *    semicolon, arithmetic/logic operators, hash, dollar, backtick)
    *  - `indent_fraction`: fraction of non-empty lines starting with >= 2
    *    spaces or a tab (indentation-structured text)
    *  - `ident_fraction`: fraction of whitespace-separated words shaped
    *    like programming identifiers — snake_case, camelCase, or
    *    namespace.qualified — per simple structural patterns
    *  - `is_code`: the blend — symbol-heavy OR (indented AND identifier-
    *    bearing) — tuned loose on purpose; downstream branches re-filter.
    *
    * All plain regexp/length arithmetic on character classes both engines
    * share — codegen'd, one map stage at 100 TB.
    */
  def codeSignals(text: Column): Column = {
    val nonSpace = length(regexp_replace(text, "\\s+", ""))
    val symbols = length(regexp_replace(text, "[^{}\\[\\]()<>;=+*/&|#$`]", ""))
    val symbolRatio = when(nonSpace === 0, 0.0)
      .otherwise(symbols.cast("double") / nonSpace)
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val indented = size(filter(lines, l => l.rlike("^(  |\\t)")))
    val indentFraction = when(nLines <= 0, 0.0)
      .otherwise(indented.cast("double") / nLines)
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val nWords = size(words)
    val idents = size(filter(words, w =>
      w.rlike("^[a-zA-Z_][a-zA-Z0-9]*_[a-zA-Z0-9_]*$") ||
        w.rlike("^[a-z]+[A-Z][a-zA-Z0-9]*$") ||
        w.rlike("^[a-zA-Z_][a-zA-Z0-9_]*\\.[a-zA-Z_][a-zA-Z0-9_.]*$")))
    val identFraction = when(nWords <= 0, 0.0)
      .otherwise(idents.cast("double") / nWords)
    val isCode = symbolRatio > 0.12 ||
      (indentFraction > 0.3 && identFraction > 0.05)
    struct(symbolRatio.as("symbol_ratio"), indentFraction.as("indent_fraction"),
      identFraction.as("ident_fraction"), nLines.as("n_lines"),
      isCode.as("is_code"))
  }

  /** Empirical-Bayes shrunk per-group score means — the per-domain /
    * per-source quality prior a pipeline actually uses for routing and
    * sampling decisions: a raw per-group mean over 3 documents is noise,
    * so each group's mean is shrunk toward the global mean with prior
    * strength `k` pseudo-observations (shrunk = (sum_g + k * m) / (n_g +
    * k), m = global mean) — groups with little evidence sit near the
    * prior, groups with thousands of documents keep their own mean.
    * Returns one row per group: (group, n, mean_raw, mean_shrunk).
    *
    * Scale: one map-side-combined groupBy for the per-group sums and one
    * 1-row global aggregate (broadcast-hinted — it IS one row); no second
    * pass over the data, no window.
    */
  def shrunkGroupMeans(df: DataFrame, groupCol: String, scoreCol: String,
                       k: Double = 20.0): DataFrame = {
    require(k >= 0, s"bad prior strength $k")
    val grp = df.groupBy(col(groupCol).as("group"))
      .agg(count(col(scoreCol)).as("n"),
        sum(col(scoreCol).cast("double")).as("__s"))
    val glob = broadcast(df.agg(
      (sum(col(scoreCol).cast("double")) / count(col(scoreCol))).as("__m")))
    grp.crossJoin(glob)
      .select(col("group"), col("n"),
        (col("__s") / col("n")).as("mean_raw"),
        ((col("__s") + lit(k) * col("__m")) / (col("n") + lit(k)))
          .as("mean_shrunk"))
  }

  /** Phrase-blocklist scan (content-safety filtering): per-document match
    * statistics for a list of banned phrases, matched case-insensitively
    * in ONE Aho–Corasick pass per document
    * ([[graft.functions.PhraseMatch]]). A 10-phrase list could be a regex
    * chain; the point is the 10,000-phrase list a production safety
    * blocklist actually is — automaton cost is O(len) per doc regardless
    * of phrase count, and the broadcast is one automaton, not 10k compiled
    * patterns. Bounded-UDF exception (bloom-probe class): the automaton is
    * opaque JVM state, documented at the operator.
    *
    * Returns (id, n_matches, n_phrases_hit, flagged).
    */
  def phraseBlocklistStats(df: DataFrame, idCol: String, textCol: String,
                           phrases: Seq[String]): DataFrame = {
    val auto = graft.functions.PhraseMatch.build(phrases)
    val bc = df.sparkSession.sparkContext.broadcast(auto)
    val counts = udf((s: String) => bc.value.countMatches(s))
    df.select(col(idCol).as("id"), counts(col(textCol)).as("__c"))
      .select(col("id"),
        aggregate(col("__c"), lit(0L), (a, x) => a + x).as("n_matches"),
        size(filter(col("__c"), x => x > 0)).cast("long")
          .as("n_phrases_hit"))
      .withColumn("flagged", col("n_matches") > 0)
  }
}
