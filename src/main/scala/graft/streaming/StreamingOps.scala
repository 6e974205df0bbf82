package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

/** Structured Streaming twins of the batch operators.
  *
  * The reference is 100% batch (SURVEY.md §2.10); these are the additive
  * streaming entry points for the flag/resample/session operators whose
  * semantics are stateless or window-local, so a SCADA feed (or event
  * stream) can be scored continuously with the SAME column expressions used
  * in batch — one definition, two execution modes.
  */
object StreamingOps {

  /** Row-local flag expressions (range/window-range/met derivations) apply
    * to streams unchanged — they are stateless Column functions. This
    * convenience wires a watermark so downstream stateful ops can follow.
    */
  def withWatermark(stream: DataFrame, tsCol: String, delay: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, delay)

  /** Tumbling-window resample aggregate (streaming analog of the batch
    * date_trunc groupBy): per (window, asset) sums/means with a watermark
    * bounding state.
    */
  def resampleAgg(stream: DataFrame, tsCol: String, valueCol: String,
                  duration: String, keyCols: Seq[String] = Seq.empty,
                  watermark: String = "10 minutes"): DataFrame = {
    val keys = window(col(tsCol), duration) +: keyCols.map(col)
    stream.withWatermark(tsCol, watermark)
      .groupBy(keys: _*)
      .agg(sum(col(valueCol)).as(s"${valueCol}_sum"),
        avg(col(valueCol)).as(s"${valueCol}_avg"),
        count(lit(1)).as("n"))
  }

  /** Gap-based sessionization on a stream: `session_window` keeps per-key
    * state bounded by the watermark (streaming twin of
    * graft.operators.Sessionize).
    */
  def sessionAgg(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                 gap: String = "30 minutes", valueCol: String,
                 watermark: String = "30 minutes"): DataFrame = {
    val keys = session_window(col(tsCol), gap) +: keyCols.map(col)
    stream.withWatermark(tsCol, watermark)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as(s"${valueCol}_sum"))
  }

  /** Streaming exact dedup twin of graft.operators.Dedup.exact: fingerprint
    * each document and keep the first arrival per fingerprint. State is
    * bounded by the watermark (dropDuplicatesWithinWatermark), so an
    * unbounded stream never accumulates unbounded fingerprint state —
    * duplicates separated by more than the watermark delay are passed
    * through, the standard streaming-dedup contract.
    */
  def dedupExact(stream: DataFrame, tsCol: String, textCol: String,
                 watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .withColumn("fingerprint",
        graft.operators.TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming NEAR-dup suppression: drop stream documents whose 64-bit
    * SimHash signature was already seen inside the watermark. An identical
    * signature is the tightest SimHash near-dup band (documents differing
    * by a few tokens still collide; a one-bit-off pair does not — for
    * Hamming-tolerant matching run the batch banded pass over the stream's
    * sink). State = one 8-byte key per distinct signature in the watermark
    * window, aged out by the engine — no stream-stream join, no explosion
    * of band rows.
    */
  def nearDupSuppress(stream: DataFrame, tsCol: String, textCol: String,
                      watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .withColumn("simhash", graft.operators.Dedup.simHash(col(textCol)))
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming twin of graft.operators.StatusOps.withActiveStatus: attach
    * the active status code to a live fact stream.
    *
    * The batch formulation (union + last-over-window as-of join) is
    * stateful-unbounded on a stream, so the streaming shape converts the
    * (small, slowly-changing) status history to VALIDITY INTERVALS in batch
    * — each event holds until the next event for the same asset — and the
    * stream takes a stateless broadcastable join with a range predicate.
    * One interval row per status event; no watermark state, no
    * stream-stream join.
    */
  def withActiveStatus(facts: DataFrame, statusBatch: DataFrame,
                       codeCol: String = "status_code",
                       keyCol: String = "asset_id",
                       tsCol: String = "time"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val intervals = statusBatch
      .select(col(keyCol).as("__k"), col(tsCol).as("__from"), col(codeCol))
      .withColumn("__to", lead(col("__from"), 1)
        .over(Window.partitionBy("__k").orderBy("__from")))
    facts.join(intervals,
        facts(keyCol) === intervals("__k") &&
          facts(tsCol) >= intervals("__from") &&
          (intervals("__to").isNull || facts(tsCol) < intervals("__to")),
        "left")
      .drop("__k", "__from", "__to")
  }

  /** Streaming text-prep twin: deterministic stratified sampling, optional
    * PII redaction, quality + repetition gating, and fixed-window chunking
    * are ALL STATELESS projections/filters, so the batch column expressions
    * run on a live document stream verbatim (sample -> redact -> score ->
    * filter -> chunk, the standard pre-training text pipeline). No
    * watermark, no state — chunk rows stream out per micro-batch.
    */
  def prepTextStream(stream: DataFrame, textCol: String, idCol: String,
                     stratumCol: String, rates: Map[String, Double],
                     defaultRate: Double = 1.0,
                     chunkSize: Int = 512, overlap: Int = 64,
                     redactPii: Boolean = false,
                     minQuality: Double = 0.0,
                     maxTopBigramFraction: Double = 1.0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"bad chunking params size=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    val sampled = graft.operators.Sampling
      .stratifiedSample(stream, stratumCol, idCol, rates, defaultRate)
    val text =
      if (redactPii) graft.operators.Cleanse.redactPii(col(textCol))
      else col(textCol)
    sampled
      .withColumn("__text", text)
      .withColumn("quality",
        graft.operators.TextAnalysis.qualityScore(col("__text")))
      .withColumn("__rep",
        graft.operators.TextAnalysis.topNgramFraction(col("__text"), 2))
      .filter(col("quality") >= minQuality && col("__rep") <= maxTopBigramFraction)
      .select(col(idCol).as("id"), col(stratumCol).as("stratum"),
        col("quality"),
        explode(sequence(lit(1), greatest(length(col("__text")), lit(1)),
          lit(step))).as("chunk_start"),
        col("__text"))
      .select(col("id"), col("stratum"), col("quality"), col("chunk_start"),
        col("__text").substr(col("chunk_start"), lit(chunkSize)).as("chunk"))
  }

  /** Streaming dedup against a STANDING corpus index via its Bloom filter:
    * rows whose fingerprint the sketch rules out are definitely novel and
    * pass; sketch-positives are dropped (or routed to an exact-confirm
    * batch job downstream — at fpp=1% that's 1% of novel traffic). The
    * filter is built offline from the corpus (one tree aggregate) and
    * ships in the UDF closure; the stream side stays a stateless row-local
    * probe — no state store, no watermark, unlike dropDuplicates which
    * can only see within-stream history.
    */
  def bloomNovelOnly(stream: DataFrame, textCol: String,
                     bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    // null-safe: a null-text row fingerprints to null and passes as novel
    // (a crashing UDF would kill the whole streaming query)
    val mightContain = udf((x: String) => x != null && bloom.mightContainString(x))
    stream.filter(!mightContain(
      graft.operators.TextAnalysis.fingerprint(col(textCol))))
  }

  /** Windowed heavy-hitter monitoring on a stream: per tumbling window,
    * the Misra–Gries candidate summary (top domains, hot tokens, abusive
    * IPs) plus the window row count. The MG buffer is fixed-size mergeable
    * state (k counters per window group, ~KB), so per-window state never
    * grows with item cardinality — the property that keeps an unbounded
    * key space safe in a state store; windows close at the watermark.
    * Counts in the summary are lower bounds (see MisraGriesAgg); recount
    * candidates downstream when exact figures matter.
    */
  def topItemsPerWindow(stream: DataFrame, tsCol: String, itemCol: String,
                        duration: String, k: Int = 256,
                        watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, MisraGriesAgg}
    val sketch = ColumnBridge.column(
      MisraGriesAgg(ColumnBridge.expression(col(itemCol).cast("string")), k)
        .toAggregateExpression())
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), duration))
      .agg(sketch.as("top_items"), count(lit(1)).as("n_rows"))
  }

  /** Per-window unique-entity estimates: event count + HLL sketch binary +
    * its estimate per event-time window — the streaming half of
    * [[graft.operators.Diagnostics.cumulativeUniques]]: persisted window
    * sketches union into the batch cumulative curve (hll_union_agg over
    * the sink table), so the live feed extends history without a rescan.
    * State per window is the fixed ~KB sketch regardless of cardinality;
    * an exact streaming countDistinct would hold every id in state.
    */
  def uniquesPerWindow(stream: DataFrame, tsCol: String, idCol: String,
                       duration: String, lgConfigK: Int = 14,
                       watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), duration))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(idCol), lit(lgConfigK)).as("id_sketch"))
      .withColumn("unique_est", hll_sketch_estimate(col("id_sketch")))

  /** Per-user funnel position carried between micro-batches: the next step
    * awaited and the event-time frontier (micros) the next event must pass.
    */
  case class FunnelState(step: Int, frontierMicros: Long)

  /** A step advance emitted by [[funnelStream]]. */
  case class FunnelAdvance(user: Long, step: Int, name: String,
                           ts: java.sql.Timestamp)

  /** Streaming sequenced-funnel state machine — the custom-state frontier
    * of the streaming surface (flatMapGroupsWithState; windowed aggregates
    * can't express "remember WHERE each user is in a sequence"). Each user
    * carries (next step, event-time frontier); an arriving event advances
    * the funnel iff it is the awaited type and strictly after the
    * frontier, emitting one FunnelAdvance row per advance (Append mode).
    * Events inside a micro-batch are processed in event-time order, so
    * in-batch disorder is absorbed; an event arriving in a LATER batch
    * with an earlier timestamp is ignored (its step already advanced past)
    * — the arrival-order caveat every stateful stream shares; the batch
    * twin [[graft.operators.EventAnalytics.funnel]] is the retrospective
    * truth.
    *
    * State is one (int, long) per user — fixed-size regardless of event
    * volume — and lives in the state store partitioned by user: scale =
    * user cardinality, never event rate.
    */
  def funnelStream(stream: DataFrame, userCol: String, tsCol: String,
                   typeCol: String,
                   steps: Seq[String]): org.apache.spark.sql.Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col(userCol).cast("long").as("_1"),
        col(tsCol).cast("timestamp").as("_2"), col(typeCol).as("_3"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, events, state) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
          // event-time order within the batch (ties broken by type for
          // determinism under shuffled arrival)
          events.toSeq.sortBy(e => (e._2.getTime, e._3)).foreach {
            case (_, ts, typ) =>
              val micros = ts.getTime * 1000L
              if (st.step < steps.length && typ == steps(st.step) &&
                  micros > st.frontierMicros) {
                out += FunnelAdvance(user, st.step, steps(st.step), ts)
                st = FunnelState(st.step + 1, micros)
              }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The single open SCD2 row carried per id between micro-batches. */
  case class Scd2Open(fp: String, validFrom: Long)

  /** A history row emitted by [[scd2Stream]]: `valid_to` None = open. */
  case class Scd2Row(id: Long, fp: String, valid_from: Long,
                     valid_to: Option[Long])

  /** Streaming SCD2 twin of [[graft.operators.Dedup.scd2Apply]] (VERDICT r6
    * ask 8c). The batch operator folds FULL snapshots; a stream cannot
    * observe absence, so the streaming contract is a change feed
    * (id, asOf, text) of upserts with null text as an explicit tombstone —
    * the standard CDC-to-SCD2 shape. Per-id state is ONE open
    * (fingerprint, valid_from) pair; every arrival that changes the
    * fingerprint emits the closed row and (for non-tombstones) the newly
    * opened row in Append mode. An emitted open row is superseded by the
    * id's later emissions; [[scd2Materialize]] is the consumer rule that
    * reduces the emitted log to the exact batch history (parity
    * spec-pinned against chained scd2Apply). Requires strictly increasing
    * `asOf` per id (snapshots are totally ordered in batch too).
    *
    * Scale: state is ~50 bytes per live id, sharded by the groupByKey
    * hash; no timeout because an SCD2 dimension is standing state by
    * definition. History growth is by actual change only, same as batch.
    */
  def scd2Stream(changes: DataFrame, idCol: String, textCol: String,
                 asOfCol: String): org.apache.spark.sql.Dataset[Scd2Row] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = changes.sparkSession
    import spark.implicits._
    changes.select(col(idCol).cast("long").as("_1"),
        col(asOfCol).cast("long").as("_2"),
        graft.operators.TextAnalysis.fingerprint(col(textCol)).as("_3"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2Open, Scd2Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (id, rows, state) =>
        var open = state.getOption
        val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
        rows.toSeq.sortBy(_._2).foreach { case (_, asOf, fp) =>
          (open, Option(fp)) match {
            case (Some(o), f) if f.contains(o.fp) => // unchanged
            case (Some(o), f) =>
              out += Scd2Row(id, o.fp, o.validFrom, Some(asOf))
              f.foreach { nf => out += Scd2Row(id, nf, asOf, None) }
              open = f.map(Scd2Open(_, asOf))
            case (None, Some(nf)) =>
              out += Scd2Row(id, nf, asOf, None)
              open = Some(Scd2Open(nf, asOf))
            case (None, None) => // tombstone for an absent id
          }
        }
        open match {
          case Some(o) => state.update(o)
          case None => if (state.exists) state.remove()
        }
        out.iterator
      }
  }

  /** Consumer-side reduction of [[scd2Stream]]'s emitted log to the exact
    * SCD2 history: closed rows are final; an open row stands unless the
    * same (id, fp, valid_from) was later emitted closed. One anti join —
    * no per-id window.
    */
  def scd2Materialize(emitted: DataFrame): DataFrame = {
    val closed = emitted.filter(col("valid_to").isNotNull)
    // renamed projection of the anti side: a filtered self-join of one
    // source otherwise carries conflicting attribute references
    val closedKeys = closed.select(col("id").as("__cid"),
      col("fp").as("__cfp"), col("valid_from").as("__cvf"))
    val open = emitted.filter(col("valid_to").isNull)
      .join(closedKeys, col("id") === col("__cid") &&
        col("fp") === col("__cfp") && col("valid_from") === col("__cvf"),
        "left_anti")
    closed.unionByName(open)
  }

  /** Reference distribution for [[driftPerWindow]]: equal-frequency bin
    * boundaries at the reference's quantiles plus the reference's own
    * Laplace-smoothed per-bin shares ((n + 0.5) / (N + bins/2), the
    * [[graft.operators.Diagnostics.psi]] convention). Computed ONCE as a
    * batch aggregate over the standing corpus; the returned arrays enter
    * the streaming plan as literals, so the stream needs no join against
    * the reference.
    */
  def referenceDistribution(ref: DataFrame, scoreCol: String,
                            bins: Int = 10): (Seq[Double], Seq[Double]) = {
    require(bins >= 2 && bins <= 1000, s"bad bins $bins")
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val row = ref.filter(col(scoreCol).isNotNull)
      .agg(array(qs.map(q => percentile(col(scoreCol), lit(q))): _*).as("bs"))
      .head()
    val bounds = row.getSeq[Double](0)
    val binCol = size(filter(
      array(bounds.map(lit): _*), b => col(scoreCol) > b))
    val counts = ref.filter(col(scoreCol).isNotNull)
      .groupBy(binCol.as("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val shares = (0 until bins)
      .map(i => (counts.getOrElse(i, 0L) + 0.5) / (total + bins * 0.5))
    (bounds, shares)
  }

  /** Per-window distribution-drift monitor: PSI of `scoreCol` in each
    * event-time window against a STATIC reference distribution (from
    * [[referenceDistribution]]) — the "did today's crawl stop looking like
    * the corpus we trained on" alarm. Binning is row-local against literal
    * boundaries and the per-window histogram is ONE windowed aggregate of
    * `bins` conditional sums — fixed ~bins-counter state per window
    * regardless of cardinality, watermark-bounded; the PSI arithmetic is a
    * row-local fold over that single output row (no second shuffle, no
    * cross-row float summation).
    */
  def driftPerWindow(stream: DataFrame, tsCol: String, scoreCol: String,
                     refBounds: Seq[Double], refShares: Seq[Double],
                     duration: String,
                     watermark: String = "10 minutes"): DataFrame = {
    require(refShares.length == refBounds.length + 1,
      s"${refShares.length} shares need ${refShares.length - 1} boundaries")
    require(refShares.forall(_ > 0), "reference shares must be smoothed > 0")
    val bins = refShares.length
    val binCol = size(filter(
      array(refBounds.map(lit): _*), b => col(scoreCol) > b))
    val counts = (0 until bins).map(i =>
      sum(when(binCol === i, 1L).otherwise(0L)).as(s"__n$i"))
    val agged = stream.withWatermark(tsCol, watermark)
      .filter(col(scoreCol).isNotNull)
      .groupBy(window(col(tsCol), duration))
      .agg(counts.head, counts.tail: _*)
    val n = (0 until bins).map(i => col(s"__n$i")).reduce(_ + _)
    val psi = (0 until bins).map { i =>
      val p = (col(s"__n$i") + 0.5) / (n + bins * 0.5)
      val q = lit(refShares(i))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    agged.select(col("window"), n.as("n_rows"), psi.as("psi"))
  }

  /** Streaming BPE tokenization: apply a PRE-TRAINED merge model (learned
    * offline by graft.functions.Bpe.train on the standing corpus) to a live
    * document stream — encoding is a stateless row-local projection, so the
    * batch encoder runs verbatim per micro-batch; the rank map ships once
    * per executor in the UDF closure. Retraining stays an offline batch
    * concern (the same split as MinHash index refresh vs streaming dedup).
    */
  def encodeBpeStream(stream: DataFrame, textCol: String,
                      model: graft.functions.Bpe.BpeModel): DataFrame =
    graft.functions.Bpe.encode(stream, textCol, model)

  /** Streaming score-calibration twin: apply a batch-fit
    * [[graft.operators.Diagnostics.calibrationModel]] (one KLL sketch per
    * group) to a live document stream — a stateless broadcast
    * stream-static join + row-local kll_rank lookup, the same
    * offline-model/online-apply split as BPE and the Bloom index.
    */
  def calibrateStream(stream: DataFrame, model: DataFrame,
                      groupCol: String, scoreCol: String): DataFrame =
    graft.operators.Diagnostics.applyCalibration(stream, model, groupCol, scoreCol)

  /** Streaming PQ-encode twin of graft.operators.Similarity.pqEncode:
    * compress a live embedding stream to m-byte codes against a
    * pretrained codebook — the ingest half of a continuously-refreshed ANN
    * index (codes append to the [[graft.operators.Similarity.pqIndex]]
    * table; retraining the codebook stays an offline batch concern, the
    * same split as BPE/MinHash refresh). Stateless row-local projection:
    * the codegen'd PqEncodeExpr runs verbatim per micro-batch, codebook
    * planted once per plan.
    */
  def pqEncodeStream(stream: DataFrame, vecCol: String,
                     model: graft.operators.Similarity.PqModel,
                     outCol: String = "codes"): DataFrame =
    graft.operators.Similarity.pqEncode(stream, vecCol, model, outCol)

  /** Streaming decontamination twin of graft.operators.Decontaminate: flag
    * (or drop) streamed documents sharing any word n-gram with a STATIC
    * benchmark set. The benchmark's distinct gram hashes are collected once
    * on the driver and broadcast — eval suites are thousands of documents
    * (≈10⁵-10⁶ grams, a few MB of longs), so this is the same
    * dimension-table altitude as a broadcast join, and the streaming side
    * stays a stateless row-local filter: no state store, no shuffle, no
    * watermark. The per-row gram scan uses the `exists` higher-order
    * function over the token array — interpreted, but bounded by document
    * length and far cheaper than a stateful streaming join.
    */
  def decontaminateStream(stream: DataFrame, benchmark: DataFrame,
                          textCol: String, benchIdCol: String = "doc_id",
                          benchTextCol: String = "text", n: Int = 13,
                          drop: Boolean = true): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val benchGrams = Dedup
      .wordShingleRows(benchmark, benchIdCol, benchTextCol, n, dedup = false)
      .select(xxhash64(col("shingle")).as("g")).distinct()
      .collect().map(_.getLong(0)).toSet
    val bc = stream.sparkSession.sparkContext.broadcast(benchGrams)
    // XxHash64Function with seed 42 is EXACTLY the SQL xxhash64 used to
    // build benchGrams above, so set membership matches the batch operator.
    val hitUdf = udf { toks: Seq[String] =>
      val set = bc.value
      (0 to toks.length - n).exists { i =>
        val gram = toks.slice(i, i + n).mkString(" ")
        set.contains(org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(gram),
            org.apache.spark.sql.types.StringType, 42L))
      }
    }
    val flagged = stream.withColumn("__toks",
        split(TextAnalysis.normalize(col(textCol)), " "))
      .withColumn("contaminated",
        when(size(col("__toks")) < n, lit(false))
          .otherwise(hitUdf(col("__toks"))))
      .drop("__toks")
    if (drop) flagged.filter(!col("contaminated")).drop("contaminated")
    else flagged
  }

  /** Stateless ingest routing — the first decision an arriving document
    * meets: zone blocklist on its URL, code-vs-prose, dominant script,
    * and (optionally) a learned quality probability from a trained
    * [[graft.fitting.Logistic.LogisticModel]]. Every signal is a
    * row-local codegen'd column, so the stream plan is ONE map stage with
    * no state store or watermark, and the output matches the batch
    * operators exactly (spec-pinned parity). Route precedence:
    * "blocked" > "code" > dominant script.
    */
  def routeStream(stream: DataFrame, idCol: String, textCol: String,
                  urlCol: String, blockedZones: Seq[String],
                  quality: Option[(graft.fitting.Logistic.LogisticModel, String)] = None)
      : DataFrame = {
    import graft.operators.{Cleanse, TextAnalysis}
    require(blockedZones.nonEmpty, "empty blockedZones")
    val blocked = arrays_overlap(
      Cleanse.hostSuffixes(Cleanse.urlHost(col(urlCol))),
      array(blockedZones.map(z => lit(z.toLowerCase)): _*))
    val base = stream
      .withColumn("__sc", TextAnalysis.scriptCounts(col(textCol)))
      .withColumn("script", TextAnalysis.dominantScript(col("__sc")))
      .withColumn("is_code",
        TextAnalysis.codeSignals(col(textCol)).getField("is_code"))
      .withColumn("blocked", blocked)
      .withColumn("route",
        when(col("blocked"), lit("blocked"))
          .when(col("is_code"), lit("code"))
          .otherwise(col("script")))
      .drop("__sc")
    quality match {
      case Some((m, featuresCol)) => base.withColumn("quality_prob",
        graft.fitting.Logistic.probability(col(featuresCol), m))
      case None => base
    }
  }

  /** Streaming SFT-ingest twin: flatten chat-message JSON, fingerprint
    * the normalized dialogue, and flag canned refusals — the full
    * conversation-intake row in ONE stateless map stage (chatFlatten,
    * withConversationFingerprint, and withRefusalFlag are all row-local
    * by construction, so the batch operators ARE the stream operators;
    * parity is structural, not re-implemented). Cross-batch dedup
    * composes downstream exactly as dedupExact / bloomNovelOnly do for
    * plain text — on conv_fp instead of a text fingerprint.
    */
  def sftIngestStream(stream: DataFrame, idCol: String, messagesCol: String,
                      refusalPatterns: Seq[String]): DataFrame = {
    import graft.operators.Conversations
    // fingerprint BEFORE the flatten and thread it through via carryCols:
    // a re-join on id would be a stateful stream-stream join
    Conversations.withRefusalFlag(
      Conversations.chatFlatten(
        Conversations.withConversationFingerprint(stream, messagesCol),
        idCol, messagesCol, carryCols = Seq("conv_fp")),
      refusalPatterns)
  }

  /** Streaming incremental-insert twin of
    * [[graft.operators.KnnGraph.insertIncrementalIndexed]]: keep the
    * [[graft.operators.KnnGraph.graphIndex]] asset continuously
    * refreshed as micro-batches of new vectors arrive — the serving
    * half of a corpus that grows daily (new documents embed upstream;
    * the index admits them without a rebuild). A whole-index update is
    * not a row-local map, so the streaming integration is the
    * foreachBatch pattern (the standard Structured Streaming shape for
    * maintaining an external index): each micro-batch routes through
    * the index-native insert verbatim, which is what makes
    * batch==stream parity STRUCTURAL — the stream of batches b1..bn
    * lands on exactly the index that n sequential
    * insertIncrementalIndexed calls produce (spec-pinned).
    *
    * State is ONE immutable snapshot — a checkpointed base index plus
    * a checkpointed overlay holding every row changed since the base
    * was materialized (r12: the (graph, corpus) pair state re-
    * materialized the WHOLE corpus per micro-batch, O(n·B) cumulative,
    * and its two volatile writes could be read torn). Per-batch
    * materialization cost is the overlay: the rows that some batch
    * since the last compaction changed. Without refine rounds that is
    * the touched front; a refine round is a full round that may change
    * any row, so the overlay can grow to the whole index. Every
    * `compactEvery` batches the view compacts into a fresh base,
    * keeping the read path's lineage depth constant. The same shape
    * writes through to parquet/Delta in deployment: base file + merged
    * delta, compaction on the same cadence.
    *
    * Each [[addBatch]] runs in one `Pins.scoped` whose result is the new
    * snapshot's frame, so a batch leaves one persisted RDD behind. A
    * superseded snapshot is not released: a reader may still hold an
    * [[index]] frame over it.
    *
    * Batch ids must be disjoint from everything already inserted —
    * the insert's semi-join probe enforces it loudly per batch, and
    * because the probe scans only the index's id column (not the
    * vectors), its steady-state cost is one column scan
    * (`validateIds = false` to skip even that when the producer
    * guarantees disjointness, r12 ADVICE).
    */
  final class GraphInsertState(initialIndex: DataFrame,
                               idCol: String, vecCol: String, k: Int,
                               beam: Int = 8, hops: Int = 3,
                               refineRounds: Int = 1, maxReverse: Int = 0,
                               seed: Int = 42,
                               validateIds: Boolean = true,
                               compactEvery: Int = 8) {
    import graft.operators.KnnGraph
    private final class Snap(val base: DataFrame,
                             val overlay: Option[DataFrame],
                             val batchesSinceCompact: Int)
    @volatile private var snap =
      new Snap(Pins.scoped(_.pin(initialIndex)), None, 0)
    private def compose(s: Snap): DataFrame = s.overlay match {
      case None => s.base
      case Some(ov) =>
        s.base.join(ov.select("id"), Seq("id"), "left_anti").unionByName(ov)
    }
    /** The live graphIndex asset (base ∪ changed-rows overlay). */
    def index: DataFrame = compose(snap)
    /** The live k-NN graph — (id, neighbor_id, cosine, rank). */
    def graph: DataFrame = KnnGraph.indexGraph(index)
    /** Insert one micro-batch; empty batches are the identity. The new
      * snapshot is assigned in a single volatile write AFTER its
      * checkpoint succeeded — a failing batch leaves the previous
      * snapshot fully intact, never torn.
      */
    def addBatch(batch: DataFrame): Unit = synchronized {
      val s = snap
      val nb = s.batchesSinceCompact + 1
      val compact = compactEvery > 0 && nb >= compactEvery
      // the new snapshot's frame; null for an empty batch
      val frame: DataFrame = Pins.scoped { pins =>
        // pinned: the emptiness probe and the insert re-read it
        val b = pins.pin(batch.select(col(idCol), col(vecCol)))
        if (b.isEmpty) null
        else {
          val (_, changed) = KnnGraph.insertIndexedDelta(pins, compose(s), b,
            idCol, vecCol, k = k, beam = beam, hops = hops,
            refineRounds = refineRounds, maxReverse = maxReverse,
            seed = seed, validateIds = validateIds)
          // pin the changed rows BEFORE composing them into the
          // overlay: a LAZY frame on both sides of the anti-join ∪ union
          // below (self-reference) trips Catalyst's union constraint
          // rewrite (NoSuchElementException in UnionBase
          // .rewriteConstraints); a materialized LogicalRDD on both sides
          // is fine — and the rows land in the overlay anyway, so this is
          // the batch's one bounded write, not an extra one
          val changedC = pins.pin(changed)
          val ovNew = s.overlay match {
            case None => changedC
            case Some(ov) =>
              // pinned: the next batch's composed index and every reader
              // re-read the overlay
              pins.pin(ov.join(changedC.select("id"), Seq("id"), "left_anti")
                .unionByName(changedC))
          }
          // pinned: the compacted base is the next snapshot's whole index
          if (compact) pins.pin(compose(new Snap(s.base, Some(ovNew), nb)))
          else ovNew
        }
      }
      if (frame != null)
        snap = if (compact) new Snap(frame, None, 0) else new Snap(s.base, Some(frame), nb)
    }
  }

  /** Wire a vector stream into a [[GraphInsertState]]: each
    * micro-batch goes through `GraphInsertState.addBatch` (one
    * index-native `insertIndexedDelta`) via foreachBatch. Returns the
    * started query; read `state.index` (or `state.graph`, its k-NN
    * edges) between/after batches for the live index.
    */
  def graphInsertStream(stream: DataFrame,
                        state: GraphInsertState): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch((batch: DataFrame, _: Long) => state.addBatch(batch))
      .start()
}
