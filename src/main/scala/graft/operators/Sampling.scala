package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

/** Deterministic sampling operators for training-data pipelines.
  *
  * Sampling at corpus scale must be (a) reproducible run-over-run and
  * engine-over-engine (no rand()), (b) row-local (no shuffle, no state),
  * and (c) stable under repartitioning. Keying the decision on a
  * cryptographic hash of the row's own id gives all three: the keep/drop
  * bit is a pure function of the row, uniformly distributed, and portable
  * (md5 is identical in every engine, unlike engine-specific hash
  * functions).
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from the id column's md5 — the first 8
    * hex chars as an integer. Row-local and codegen'd.
    */
  def hashBucket(id: Column, buckets: Int = 10000): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Keep ~`fraction` of rows, deterministically by id. */
  def deterministicSample(df: DataFrame, idCol: String,
                          fraction: Double): DataFrame =
    df.filter(hashBucket(col(idCol)) < (fraction * 10000).round)

  /** Per-stratum sampling rates (e.g. rebalance sources or languages in a
    * training mix): rows in stratum s survive with probability
    * rates(s) (default `defaultRate`). One row-local filter — no
    * per-stratum jobs, no shuffle.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    val rateCol = coalesce(
      typedLit(rates.map { case (k, v) => k -> (v * 10000).round })
        .apply(col(stratumCol)),
      lit((defaultRate * 10000).round))
    df.filter(hashBucket(col(idCol)) < rateCol)
  }

  /** Deterministic train/validation/test split: assign each row to the
    * first split whose cumulative weight bound exceeds its md5 bucket.
    * Pure function of the id — reproducible across runs, engines, and
    * repartitioning, and adding rows never moves an existing row between
    * splits (the property that keeps eval sets uncontaminated as the
    * corpus grows).
    */
  def splitAssign(id: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0), s"bad weights $weights")
    val tot = weights.map(_._2).sum
    require(tot > 0, "zero total weight")
    val bounds = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / tot }
      .tail.map(b => (b * 10000).round)
    val b = hashBucket(id)
    weights.map(_._1).zip(bounds).reverse
      .foldLeft(lit(weights.last._1)) { case (acc, (name, bound)) =>
        when(b < bound, name).otherwise(acc)
      }
  }

  /** Leakage-safe split: assign by a GROUP key (url host, source domain,
    * near-dup cluster id) instead of the row id, so every document of the
    * group lands in the same split. Splitting near-identical pages of one
    * site across train/test is silent contamination — the decontamination
    * suite can only catch what crosses its n-gram net; group-splitting
    * removes the leak class structurally. Same md5 bucket contract as
    * [[splitAssign]]: reproducible across runs, engines, repartitioning,
    * and corpus growth.
    */
  def groupSplitAssign(group: Column, weights: Seq[(String, Double)]): Column =
    splitAssign(group, weights)

  /** Deterministic per-epoch shuffle key: md5 over (epoch, seed, id).
    * Training wants a DIFFERENT order every epoch but the SAME order every
    * rerun of that epoch — rand() gives neither across retries. Sort is
    * distributed: assign shard = hashBucket(key) and sortWithinPartitions
    * by the key after repartitioning on shard, so a 100 TB epoch order
    * needs no global sort; (shard, key) IS the total order.
    */
  def epochShuffleKey(id: Column, epoch: Int, seed: Long = 0L): Column =
    md5(concat_ws(":", lit(epoch), lit(seed), id.cast("string")))

  /** Deterministic weighted (importance) sampling — the selection step
    * importance weights feed (DSIR resampling, token-budget selection
    * proportional to document length): keep each row with probability
    * min(1, c * w) where c = targetFrac * n / sum(w) calibrates the
    * EXPECTED kept count to targetFrac of the input. The keep bit is the
    * row's md5 bucket vs its own scaled weight — reproducible across
    * runs, engines, and repartitioning (the md5 contract above), unlike
    * rand()-thinning which moves rows between retries.
    *
    * Scale: the calibration constant is ONE tiny aggregate broadcast
    * back; the filter itself is row-local. Null/negative weights drop.
    * For engine-exact reproduction use integer-valued weights (token
    * counts, byte sizes): their sum is exact in any accumulation order.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     targetFrac: Double): DataFrame = {
    require(targetFrac > 0 && targetFrac <= 1, s"bad targetFrac $targetFrac")
    val tot = broadcast(df
      .filter(col(weightCol) > 0)
      .agg(sum(col(weightCol)).as("__sw"), count(lit(1)).as("__n")))
    df.crossJoin(tot)
      .filter(col(weightCol) > 0 && hashBucket(col(idCol)) <
        round(lit(targetFrac) * col("__n") * col(weightCol) / col("__sw") * 10000))
      .drop("__sw", "__n")
  }

  /** Exactly-k-per-stratum deterministic sample: the k rows of each stratum
    * with the smallest md5(id) — a fixed-size "reservoir" that is
    * reproducible across runs, engines, and repartitioning (same md5-key
    * contract as [[deterministicSample]]), unlike rand()-reservoirs.
    *
    * Scale shape: fraction-based sampling can't give exact per-group counts,
    * and the row_number()-over-window route sorts every stratum in one task
    * (a hot stratum = a straggler). The array-heap
    * [[org.apache.spark.sql.graft.TopKStringsAgg]] keeps a k-entry buffer
    * per group per task with map-side combining instead — no per-stratum
    * sort, no window over a skewed partition.
    * Returns (stratum, id, rnk) with rnk in 1..k by hash order.
    */
  def topKPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.graft.{ColumnBridge, TopKStringsAgg}
    def topk(key: Column, value: Column): Column = ColumnBridge.column(
      TopKStringsAgg(ColumnBridge.expression(key),
        ColumnBridge.expression(value), k).toAggregateExpression())
    df.select(col(stratumCol).as("stratum"),
        md5(col(idCol).cast("string")).as("__key"),
        col(idCol).cast("string").as("__id"))
      .groupBy("stratum")
      .agg(topk(col("__key"), col("__id")).as("__ids"))
      .select(col("stratum"), posexplode(col("__ids")).as(Seq("__pos", "id")))
      .select(col("stratum"), col("id"), (col("__pos") + 1).as("rnk"))
  }

  /** Data-mixture resampling: downsample strata so the OUTPUT hits the
    * target proportions (e.g. 50% en / 30% fr / 20% de in a training mix)
    * at the largest achievable size — the limiting stratum (smallest
    * observed/target ratio) keeps 100% of its rows and every other stratum
    * downsamples to match. Strata absent from `targets` are dropped.
    *
    * One tiny aggregate (a row per stratum) collects to the driver to
    * derive the rates; the corpus itself sees a single row-local filter.
    * Realized proportions are approximate: the keep decision is the
    * deterministic md5 bucket, and rates quantize to 1/10000.
    */
  def mixtureToTarget(df: DataFrame, stratumCol: String, idCol: String,
                      targets: Map[String, Double]): DataFrame = {
    val tot = targets.values.sum
    require(tot > 0 && targets.values.forall(_ >= 0), s"bad targets $targets")
    val share = targets.map { case (k, v) => k -> v / tot }
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // largest total output size any stratum can support at its target share
    val caps = share.collect { case (k, t) if t > 0 && counts.contains(k) =>
      counts(k) / t
    }
    require(caps.nonEmpty, "no target stratum present in the data")
    val cap = caps.min
    val rates = share.map { case (k, t) =>
      k -> counts.get(k).map(n => if (n == 0L) 0.0
        else math.min(1.0, cap * t / n)).getOrElse(0.0)
    }
    stratifiedSample(df, stratumCol, idCol, rates, defaultRate = 0.0)
  }

  /** Deterministic negative sampling for contrastive training: for each
    * query in `positives` (query, positive) pairs, draw `k` corpus ids the
    * query is NOT paired with — uniform over a dense id domain [0,
    * corpusSize), reproducible across runs/engines (candidate for slot s
    * is md5(query|s) mod corpusSize — the repo's md5 uniform contract).
    *
    * Scale shape: `oversample * k` candidate rows per query (row-local
    * generation — never a query x corpus cross join), collision dedup via
    * groupBy-min(slot), positives removed by an anti join at (query, cand)
    * grain, and the final k-by-slot-order selection is the bounded
    * [[topKPerStratum]]-style aggregate — no per-query sort window. A
    * query whose draws are exhausted by collisions/positives emits fewer
    * than k rows (raise `oversample`); requires dense ids (standard for
    * training corpora — reindex otherwise).
    */
  def negativeSample(positives: DataFrame, queryCol: String, posCol: String,
                     corpusSize: Long, k: Int, oversample: Int = 3): DataFrame = {
    require(corpusSize > 0 && k > 0 && oversample >= 1,
      s"bad args corpusSize=$corpusSize k=$k oversample=$oversample")
    import org.apache.spark.sql.graft.{ColumnBridge, TopKPairsAgg}
    val draws = positives.select(col(queryCol).as("query")).distinct()
      .withColumn("slot", explode(sequence(lit(0), lit(oversample * k - 1))))
      .withColumn("cand",
        conv(substring(md5(concat(col("query").cast("string"), lit("|"),
          col("slot").cast("string"))), 1, 8), 16, 10)
          .cast("long") % corpusSize)
      .filter(col("cand") =!= col("query"))
      .groupBy("query", "cand").agg(min(col("slot")).as("slot"))
    val pos = positives.select(col(queryCol).as("query"), col(posCol).as("cand"))
    val negs = draws.join(pos, Seq("query", "cand"), "left_anti")
    def topk(key: Column, id: Column): Column = ColumnBridge.column(
      TopKPairsAgg(ColumnBridge.expression(key), ColumnBridge.expression(id), k)
        .toAggregateExpression())
    negs
      .groupBy("query")
      .agg(topk(col("slot").cast("double"), col("cand")).as("__top"))
      .select(col("query"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("query").as(queryCol), col("__e._2").as("neg_id"),
        (col("__r") + 1).as("slot_rank"))
  }

  /** Temperature-flattened mixture resampling (the XLM-R/mBERT alpha-
    * sampling scheme): stratum l is drawn with probability
    * q_l = p_l^alpha / sum_k p_k^alpha (p_l = its corpus share), realized
    * as a target of `targetRows` output rows (default: corpus size) —
    * rate_l = T * q_l / n_l. alpha < 1 UPSAMPLES low-resource strata
    * (rate > 1 emits `copy` 0..c-1 repetitions; the fractional copy is the
    * md5-bucket draw), alpha = 1 is proportional, rates cap at `maxRate`.
    *
    * Engine-reproducible rate table (the oracle contract): per-stratum
    * powers are quantized to integer-valued doubles floor(n^alpha*1000+.5)
    * BEFORE summing (integer-double sums are exact in any accumulation
    * order — the round-5 convention), every subsequent op is a correctly-
    * rounded IEEE op applied in a pinned order, and thresholds are
    * integers out of floor(rate*10000+.5). alpha = 0.5 uses sqrt (exact in
    * every engine; pow is not correctly rounded). Scale shape: ONE
    * stratum-grain aggregate collected (strata = languages/domains —
    * bounded), a broadcast rate join, and a row-local copies explode.
    */
  def temperatureMixture(df: DataFrame, stratumCol: String, idCol: String,
                         alpha: Double = 0.5, targetRows: Option[Long] = None,
                         maxRate: Double = 10.0): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(stratumCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val total = counts.map(_._2).sum
    require(total > 0, "temperatureMixture: empty input")
    val t = targetRows.getOrElse(total).toDouble
    def powQ(n: Long): Double = {
      val p = if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
      math.floor(p * 1000.0 + 0.5)
    }
    val ssum = counts.map { case (_, n) => powQ(n) }.sum
    val capThr = math.floor(maxRate * 10000.0 + 0.5).toLong
    val thr = counts.map { case (k, n) =>
      (k, math.min(
        math.floor(t * powQ(n) / ssum / n * 10000.0 + 0.5).toLong, capThr))
    }
    val thrDf = broadcast(thr.toDF("__s", "__thr"))
    val copies = (col("__thr") / 10000L).cast("long") +
      when(hashBucket(col(idCol)) < col("__thr") % 10000L, 1L).otherwise(0L)
    df.join(thrDf, col(stratumCol).cast("string") === col("__s"))
      .withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1L)))
      .drop("__s", "__thr", "__copies")
  }

  /** Token-budget mixture execution: keep each budgeted domain's rows at
    * rate min(1, budget_d / W_d), where W_d = sum of `weightCol` (token
    * counts) over the domain — uniform row survival at rate r keeps
    * r * W_d tokens in expectation, so each domain's EXPECTED kept token
    * mass hits its budget (the "sample CommonCrawl down to 1 T tokens,
    * keep all of Wikipedia" step of assembling a training mix). Domains
    * without a budget keep everything; zero/negative-weight rows drop.
    *
    * Scale shape: the rate table is ONE groupBy aggregate at domain grain
    * (a handful of rows), joined back — AQE broadcasts it; the survival
    * bit is the md5-bucket contract above, so the corpus itself sees one
    * broadcast-join filter, no second shuffle. Integer weights make W_d
    * engine-exact in any accumulation order.
    * Returns the surviving rows' (id, domain, weight, thr) — thr is the
    * applied per-domain threshold in 1/10000ths for audit.
    */
  /** Deterministic WEIGHTED exactly-k-per-stratum sample — Efraimidis-
    * Spirakis reservoir sampling (each row's sort key e = -ln(u)/w; the k
    * smallest e win, giving inclusion probability proportional to weight)
    * with the md5 contract supplying u, so the draw is reproducible across
    * runs, engines, and repartitioning — unlike rand()-reservoirs. The
    * composite sort key appends the zero-padded id, so even a bucket
    * collision between equal-weight rows cannot make the selection
    * order-ambiguous (the DuckDB oracle replays the same composite string).
    *
    * Same scale shape as [[topKPerStratum]]: the bounded array-heap
    * aggregate with map-side combining — no per-stratum sort window, a hot
    * stratum costs one k-entry buffer per task.
    * Returns (stratum, id, rnk) with rnk in 1..k by the weighted draw.
    */
  def weightedTopKPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                             weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.graft.{ColumnBridge, TopKStringsAgg}
    def topk(key: Column, value: Column): Column = ColumnBridge.column(
      TopKStringsAgg(ColumnBridge.expression(key),
        ColumnBridge.expression(value), k).toAggregateExpression())
    val buckets = 100000000L // 1e8: u granularity 1e-8
    val u = (hashBucket(col(idCol), buckets.toInt).cast("double") + 0.5) / buckets
    val e = -log(u) / col(weightCol).cast("double")
    val key = concat(format_string("%020.10f", e), lit("|"),
      lpad(col(idCol).cast("string"), 18, "0"))
    df.filter(col(weightCol) > 0)
      .select(col(stratumCol).as("stratum"), key.as("__key"),
        col(idCol).cast("string").as("__id"))
      .groupBy("stratum")
      .agg(topk(col("__key"), col("__id")).as("__ids"))
      .select(col("stratum"), posexplode(col("__ids")).as(Seq("__pos", "id")))
      .select(col("stratum"), col("id"), (col("__pos") + 1).as("rnk"))
  }

  def tokenBudgetMixture(df: DataFrame, domainCol: String, idCol: String,
                         weightCol: String,
                         budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0L),
      s"bad budgets $budgets")
    val bud = typedLit(budgets)
    val thr = df.filter(col(weightCol) > 0)
      .groupBy(col(domainCol).as("__d"))
      // sum-then-cast (not per-row cast): see mixtureRateReport
      .agg(sum(col(weightCol)).cast("long").as("__w"))
      .select(col("__d"),
        when(bud(col("__d")).isNull, lit(10000L))
          .otherwise(round(least(lit(1.0),
            bud(col("__d")).cast("double") / col("__w")) * 10000)
            .cast("long")).as("thr"))
    df.select(col(idCol).as("id"), col(domainCol).as("domain"),
        col(weightCol).cast("long").as("weight"))
      .filter(col("weight") > 0)
      .join(thr, col("domain") === col("__d"))
      .filter(hashBucket(col("id")) < col("thr"))
      .select("id", "domain", "weight", "thr")
  }

  /** The mix-planning step BEFORE [[tokenBudgetMixture]]: given target
    * PROPORTIONS (the Pile/Dolma-style recipe: "30% web, 20% code, …")
    * and a total token budget, solve each group's sampling rate and
    * report feasibility. rate_g = min(1, budget * target_g / available_g)
    * — a group with too little data caps at rate 1 and UNDER-delivers its
    * share (expected < budget * target); the realized-share column makes
    * the shortfall visible so the operator stays a single deterministic
    * pass (re-balancing is a policy choice: rerun with adjusted targets,
    * or upsample via [[temperatureMixture]]'s copy mechanism).
    *
    * Returns one row per group in `targets`: (group, available,
    * target_share, rate, expected, realized_share). Groups present in the
    * data but absent from `targets` get rate 0 by omission. One
    * map-side-combined aggregate + literal-table arithmetic.
    */
  def mixtureRateReport(df: DataFrame, groupCol: String, weightCol: String,
                        targets: Map[String, Double],
                        totalBudget: Long): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0), s"bad targets")
    require(totalBudget > 0, s"bad totalBudget $totalBudget")
    val spark = df.sparkSession
    import spark.implicits._
    val tshare = {
      val s = targets.values.sum
      targets.map { case (g, w) => (g, w / s) }
    }
    // Sum in the column's own type and cast the TOTAL (casting per-row
    // would truncate fractional token-estimate weights before summing,
    // systematically underestimating `available`). Integer-weight columns
    // are unaffected: sum-then-cast == cast-then-sum exactly.
    val avail = df.filter(col(weightCol) > 0)
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(sum(col(weightCol)).cast("long").as("available"))
    val tgt = tshare.toSeq.toDF("group", "target_share")
    val joined = tgt.join(avail, Seq("group"), "left")
      .select(col("group"), col("target_share"),
        coalesce(col("available"), lit(0L)).as("available"))
      .withColumn("rate",
        when(col("available") === 0, lit(0.0))
          .otherwise(least(lit(1.0),
            lit(totalBudget.toDouble) * col("target_share")
              / col("available"))))
      .withColumn("expected",
        floor(col("rate") * col("available") + 0.5))
    val tot = broadcast(joined.agg(
      sum(col("expected")).as("__tot")))
    joined.crossJoin(tot)
      .select(col("group"), col("available"), col("target_share"),
        col("rate"), col("expected").as("expected_tokens"),
        when(col("__tot") === 0, lit(null))
          .otherwise(col("expected") / col("__tot")).as("realized_share"))
  }

  /** Systematic (low-variance) weighted resampling WITH replacement:
    * exactly `nSamples` draws proportional to integer `weightCol`, the
    * particle-filter/data-mixing primitive the Bernoulli-style samplers
    * here cannot provide — `mixtureToTarget`/`temperatureMixture` hit
    * target PROPORTIONS in expectation, this hits an exact COUNT: the
    * j-th sample lands at position (j*W + offset)/n on the cumulative
    * weight line (o in [0, W)), so every row receives either
    * floor(n*w_i/W) or one more copy — deterministic, zero variance
    * beyond the shared offset, sum(n_copies) == nSamples exactly.
    * Returns (id, weight, n_copies) for rows drawn at least once.
    *
    * Scale design: the cumulative weight per row is a TWO-PASS prefix
    * sum — range-repartition by id, per-partition totals (one tiny
    * aggregate, #partitions rows) collected once to compute partition
    * offsets, then a window partitioned BY PARTITION (bounded per task;
    * never the banned unpartitioned corpus window). All arithmetic is
    * exact int64: the count formulas divide shifted positive numerators
    * with integer `div`, and the driver rejects W * nSamples overflow
    * up front. Cross-engine the result depends only on (id order,
    * weights, nSamples, offset) — partitioning cancels out — so a plain
    * ORDER-BY-id window restates it in any SQL engine.
    *
    * Vary `offsetNum` per epoch (e.g. a hash of the epoch number modulo
    * W) to redraw the tie-breaking fractional copies while keeping every
    * run reproducible.
    */
  def systematicResample(df: DataFrame, idCol: String, weightCol: String,
                         nSamples: Long, offsetNum: Long = 0L): DataFrame = Pins.scoped { pins =>
    require(nSamples >= 1, s"bad nSamples $nSamples")
    require(offsetNum >= 0, s"bad offset $offsetNum")
    val spark = df.sparkSession
    // pinned: two consumers, and the pin keeps the partition layout
    val w = pins.pin(df.select(col(idCol).as("id"), col(weightCol).cast("long").as("weight"))
      .filter(col("weight") > 0)
      .repartitionByRange(col("id"))
      .withColumn("__pid", spark_partition_id()))
    val partSums = w.groupBy("__pid").agg(sum(col("weight")).as("__ps"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (partSums.isEmpty) w.withColumn("n_copies", lit(0L)).drop("__pid").limit(0)
    else {
      val total = partSums.map(_._2).sum
      // the shifted numerators reach W * (n + 2): guard that product
      require(total <= Long.MaxValue / (nSamples + 2),
        s"W * nSamples overflows int64 (W=$total, n=$nSamples): " +
          "pre-scale the weights down")
      require(offsetNum < total, s"offset $offsetNum must be < W=$total")
      val offsets = partSums.scanLeft((0, 0L)) { case ((_, acc), (pid, s)) =>
        (pid, acc + s)
      }.init.zip(partSums).map { case ((_, off), (pid, _)) => (pid, off) }
      import spark.implicits._
      val offDf = offsets.toSeq.toDF("__pid", "__off")
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("__pid").orderBy("id")
      // positions j in [0, n): row i receives j with
      //   cum_{i-1} * n <= j * W + o < cum_i * n
      // shift both ceil-div numerators by +W so they stay positive and
      // integer `div` (truncation) equals the floor the formula needs
      w.join(broadcast(offDf), Seq("__pid"))
        .withColumn("__cum", col("__off") + sum(col("weight")).over(win))
        .withColumn("__hi",
          expr(s"(__cum * ${nSamples}L - ${offsetNum}L + ${2 * total - 1}L) " +
            s"div ${total}L"))
        .withColumn("__lo",
          expr(s"((__cum - weight) * ${nSamples}L - ${offsetNum}L + " +
            s"${2 * total - 1}L) div ${total}L"))
        .withColumn("n_copies", col("__hi") - col("__lo"))
        .filter(col("n_copies") > 0)
        .select("id", "weight", "n_copies")
    }
  }

  /** Rolling-origin backtest assignment — the time-series analog of the
    * leakage-safe split: window w trains on
    * [origin + w*step, +trainLen) and tests on the NEXT [.., +testLen)
    * slice, so the model is only ever evaluated on data strictly after
    * everything it trained on (walk-forward validation; a plain random
    * split on temporal data leaks the future into training). An optional
    * `embargo` gap between the train and test ranges excludes the
    * boundary region where labels computed from forward-looking windows
    * (returns, churn-within-30d) would straddle the cut (the purged-
    * cross-validation rule, de Prado 2018).
    *
    * All arithmetic is exact int64 microseconds — a row at time t maps to
    * its eligible window range [wLo, wHi] per role in closed form, and
    * only those (window, role) rows are EMITTED: cost is linear in the
    * output (rows x overlapping windows, ~trainLen/step per row), never
    * rows x nWindows. Rows before `originTs` or beyond the last window
    * belong to no fold and disappear. Returns input id + (window_id,
    * role 'train'|'test').
    */
  def rollingBacktestAssign(df: DataFrame, tsCol: String, idCol: String,
                            originTs: String, trainLenUs: Long,
                            testLenUs: Long, stepUs: Long, nWindows: Int,
                            embargoUs: Long = 0L): DataFrame = {
    require(trainLenUs > 0 && testLenUs > 0 && stepUs > 0,
      s"bad window lengths ($trainLenUs, $testLenUs, $stepUs)")
    require(nWindows >= 1, s"bad nWindows $nWindows")
    require(embargoUs >= 0, s"bad embargo $embargoUs")
    require(trainLenUs <= Long.MaxValue - embargoUs,
      s"trainLen + embargo overflows int64 ($trainLenUs + $embargoUs)")
    val t = (unix_micros(col(tsCol)) -
      unix_micros(to_timestamp(lit(originTs)))).as("__t")
    // exact floor division on longs: subtract the POSITIVE remainder
    // (pmod), leaving an exact multiple of d; the double division of
    // that multiple is exact while |n| < 2^53 us — data within ~285
    // years of `originTs`, which the relative `__t` guarantees for any
    // sane origin choice. (Plain long `div` truncates toward zero and
    // would mis-bin the negative pre-window numerators by one.)
    def floorDiv(n: Column, d: Long): Column =
      ((n - pmod(n, lit(d))) / d).cast("long")
    // window w covers role [off, off+len) at offset off from w*stepUs;
    // eligible w: (t - off - len)/step < w <= (t - off)/step, clamped
    def windowsFor(off: Long, len: Long) = {
      val lo = greatest(lit(0L), floorDiv(col("__t") - off - len, stepUs) + 1)
      val hi = least(lit(nWindows - 1L), floorDiv(col("__t") - off, stepUs))
      when(col("__t") >= off && lo <= hi, sequence(lo, hi))
        .otherwise(array().cast("array<bigint>"))
    }
    val testOff = trainLenUs + embargoUs
    df.select(col(idCol), t)
      .filter(col("__t").isNotNull && col("__t") >= 0)
      .select(col(idCol),
        explode(concat(
          transform(windowsFor(0L, trainLenUs),
            w => struct(w.as("window_id"), lit("train").as("role"))),
          transform(windowsFor(testOff, testLenUs),
            w => struct(w.as("window_id"), lit("test").as("role")))))
          .as("__wr"))
      .select(col(idCol), col("__wr.window_id").as("window_id"),
        col("__wr.role").as("role"))
  }
}
