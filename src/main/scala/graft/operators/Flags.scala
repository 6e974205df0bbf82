package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality flagging operators.
  *
  * Spark-first re-expression of the reference's flag toolkit
  * (reference: openoa/utils/filters.py). Each operator RETURNS A BOOLEAN
  * COLUMN (or a DataFrame with an added boolean column) rather than
  * materializing a mask — flags stay inside the Catalyst plan so scans
  * remain prunable and nothing is collected.
  *
  * Scale notes (100 TB): every operator here is either a pure row-local
  * expression (rangeFlag, windowRangeFlag), an aggregate joined back on a
  * low-cardinality key (stdRangeFlag: 1 row; binFilter: #bins rows — both
  * broadcast), or a bounded window per asset (unresponsiveFlag).
  * No collects, no cross-joins at fact grain.
  */
object Flags {

  /** Flag values outside [lower, upper] (inclusive bounds kept, matching the
    * reference's `(x < lower) | (x > upper)`).
    * Reference: filters.py:21-64 (`range_flag`).
    */
  def rangeFlag(x: Column, lower: Double, upper: Double): Column =
    !x.between(lower, upper)

  /** Column-bound variant (e.g. per-asset rated-power bounds). */
  def rangeFlag(x: Column, lower: Column, upper: Column): Column =
    !x.between(lower, upper)

  /** Flag rows where `window` is inside [wStart, wEnd] AND `value` is outside
    * [vLower, vUpper].
    * Reference: filters.py:158-186 (`window_range_flag`).
    */
  def windowRangeFlag(window: Column, wStart: Double, wEnd: Double,
                      value: Column, vLower: Double, vUpper: Double): Column =
    window.between(wStart, wEnd) && !value.between(vLower, vUpper)

  /** Flag rows at or beyond `threshold` sample standard deviations from the
    * global mean of `col` (INCLUSIVE bounds, matching the reference's
    * `le(mean - t*std) | ge(mean + t*std)`). Two-pass: one tiny aggregate
    * (1 row, broadcast back via crossJoin) + row-local comparison.
    * Reference: filters.py:112-154 (`std_range_flag`).
    */
  def stdRangeFlag(df: DataFrame, col: String, threshold: Double = 2.0,
                   flagCol: String = "flag"): DataFrame = {
    val stats = df.agg(
      avg(df(col)).as("__mean"),
      stddev_samp(df(col)).as("__std"))
    val m = org.apache.spark.sql.functions.col("__mean")
    val s = org.apache.spark.sql.functions.col("__std")
    df.crossJoin(broadcast(stats))
      .withColumn(flagCol,
        df(col) <= m - lit(threshold) * s || df(col) >= m + lit(threshold) * s)
      .drop("__mean", "__std")
  }

  /** Flag runs of >= `threshold` CONSECUTIVE IDENTICAL values (the whole run
    * is flagged, including the first `threshold-1` values, matching the
    * reference's backward propagation).
    *
    * Implementation: islands-and-gaps. A new run starts when the value
    * changes; `count(*) over (partition by runId)` gives the run length; flag
    * = runLength >= threshold. This is equivalent to — and simpler/cheaper
    * than — the reference's rolling-sum + shifted-OR formulation.
    * Reference: filters.py:67-109 (`unresponsive_flag`).
    *
    * @param partitionCols per-asset partitioning (e.g. "asset_id") so windows
    *                      parallelize across assets. REQUIRED at call sites
    *                      (no default): pass Seq.empty ONLY for a deliberate
    *                      single-series table — that path runs one ordered
    *                      pass over the whole input.
    */
  def unresponsiveFlag(df: DataFrame, valueCol: String, orderCol: String,
                       threshold: Int = 3, flagCol: String = "flag",
                       partitionCols: Seq[String],
                       tieBreakCols: Seq[String] = Nil): DataFrame = {
    // tieBreakCols: tied order keys make run boundaries window-order
    // dependent (which tied row "changes" the value is arbitrary) — pass
    // a unique id when the order column can repeat within a partition
    val order = col(orderCol) +: tieBreakCols.map(col)
    val w = if (partitionCols.isEmpty)
              Window.partitionBy(Timeseries.singlePartitionKey(col(orderCol))).orderBy(order: _*)
            else Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    val changed = when(
      lag(col(valueCol), 1).over(w).isNull ||
        (lag(col(valueCol), 1).over(w) =!= col(valueCol)), 1).otherwise(0)
    val withRun = df.withColumn("__run",
      sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val runW = if (partitionCols.isEmpty) Window.partitionBy(col("__run"))
               else Window.partitionBy((partitionCols.map(col) :+ col("__run")): _*)
    withRun
      .withColumn(flagCol, count(lit(1)).over(runW) >= threshold)
      .drop("__run")
  }

  /** Bin `binCol` into fixed-width bins and flag rows whose `valueCol`
    * deviates from the bin center by more than `threshold` spreads.
    *
    * Binning matches the reference's digitize-over-edges semantics
    * (filters.py:190-286 `bin_filter`): edges run from binMin (default
    * min(binCol)) in steps of binWidth, the last edge clipped to binMax
    * (default max(binCol)); bins are RIGHT-closed intervals
    * (edge[i-1], edge[i]]; rows with binCol <= binMin or binCol > binMax are
    * never flagged. The right-closed uniform-step bin index is
    * ceil((x - binMin) / binWidth) — the clipped last bin falls out of the
    * same formula because its interval is a subset of a full-width step.
    *
    * centerType: "mean" | "median"; deviationType: "std" | "mad" | "scalar";
    * direction: "all" | "above" | "below". Medians are exact (interpolating
    * `percentile`), matching numpy nanmedian; the MAD is taken about the
    * center.
    *
    * One aggregation pass over the fact table produces a #bins-row table
    * (broadcast) joined back on the bin key — no fact-grain shuffle beyond
    * the agg itself. A median or MAD reads the group's sorted values
    * ([[sortedValues]]); the mean/std path does not collect them.
    */
  def binFilter(df: DataFrame, binCol: String, valueCol: String,
                binWidth: Double, threshold: Double,
                centerType: String = "mean", deviationType: String = "std",
                direction: String = "all", flagCol: String = "flag",
                binMin: Option[Double] = None,
                binMax: Option[Double] = None,
                groupCols: Seq[String] = Seq.empty): DataFrame = {
    require(Seq("mean", "median").contains(centerType), s"bad centerType $centerType")
    require(Seq("std", "mad", "scalar").contains(deviationType), s"bad deviationType $deviationType")
    require(Seq("all", "above", "below").contains(direction), s"bad direction $direction")

    // bounds default to the observed min/max: a 1-row broadcast, not a collect
    val withBounds = (binMin, binMax) match {
      case (Some(lo), Some(hi)) =>
        df.withColumn("__lo", lit(lo)).withColumn("__hi", lit(hi))
      case _ =>
        val b = df.agg(
          binMin.map(lit(_).as("__lo")).getOrElse(min(col(binCol)).cast("double").as("__lo")),
          binMax.map(lit(_).as("__hi")).getOrElse(max(col(binCol)).cast("double").as("__hi")))
        df.crossJoin(broadcast(b))
    }
    val inRange = col(binCol) > col("__lo") && col(binCol) <= col("__hi")
    val binned = withBounds.withColumn("__bin",
      when(inRange, ceil((col(binCol) - col("__lo")) / binWidth)).otherwise(lit(null)))
    // stats per (groupCols..., bin): groupCols generalize the reference's
    // per-asset Python loops into one distributed pass (e.g. the yaw/TIE
    // per-turbine power-curve filters); the stats stay a
    // #groups x #bins-row broadcast
    val keys = groupCols :+ "__bin"
    val v = col(valueCol)
    val needsSorted = centerType == "median" || deviationType == "mad"
    val aggs = Seq(
      if (centerType == "mean") Some(avg(v).as("__center")) else None,
      if (needsSorted) Some(sortedValues(v).as("__sorted")) else None,
      if (deviationType == "std") Some(stddev_samp(v).as("__spread")) else None).flatten
    val grouped = binned.filter(col("__bin").isNotNull)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val centered =
      if (centerType == "median") grouped.withColumn("__center", medianOfSorted(col("__sorted")))
      else grouped
    val stats = deviationType match {
      case "mad"    => centered.withColumn("__spread", madOfSorted(col("__sorted"), col("__center")))
      case "std"    => centered
      case "scalar" => centered.withColumn("__spread", lit(1.0))
    }
    val dev = col(valueCol) - col("__center")
    val spread = col("__spread") * threshold
    val rawFlag = direction match {
      case "all"   => dev > spread || -dev > spread
      case "above" => dev > spread
      case "below" => -dev > spread
    }
    // NaN/null spread (singleton bin) and out-of-range rows are never flagged
    binned.join(
        broadcast(stats.select((keys :+ "__center" :+ "__spread").map(col): _*)),
        keys.toSeq, "left")
      .withColumn(flagCol, coalesce(rawFlag, lit(false)))
      .drop("__bin", "__center", "__spread", "__lo", "__hi")
  }

  /** Aggregate expression: a group's non-null values as doubles, ascending —
    * the input of [[medianOfSorted]] and [[madOfSorted]], so an exact median
    * and its MAD cost one aggregation. Like `percentile`, it holds each
    * group's values in memory. `sort_array`, not `array_sort`: the latter
    * sorts through an interpreted comparator lambda.
    */
  def sortedValues(x: Column): Column = sort_array(collect_list(x.cast("double")))

  /** Exact median of an ascending array, bit-identical to Spark's
    * `percentile` at 0.5: at pos = (n-1)/2 it returns a[lo] when lo == hi or
    * a[lo] == a[hi], else (hi-pos)·a[lo] + (pos-lo)·a[hi], which is
    * 0.5·a[lo] + 0.5·a[hi]. An empty array (an all-null group) gives null.
    */
  def medianOfSorted(a: Column): Column = {
    val n = size(a)
    val lo = element_at(a, shiftright(n + 1, 1))
    val hi = element_at(a, shiftright(n, 1) + 1)
    when(n > 0, when(lo === hi, lo).otherwise(lit(0.5) * lo + lit(0.5) * hi))
  }

  /** Median absolute deviation about `center` of an ascending array, from
    * the same array: the median of its sorted |x - center|.
    */
  def madOfSorted(a: Column, center: Column): Column =
    medianOfSorted(sort_array(transform(a, x => abs(x - center))))

  /** KMeans-cluster two columns and flag points with Mahalanobis distance
    * greater than `distThreshold` within their cluster. Covariances are
    * per-cluster 2x2 aggregates (var/covar) with an analytic inverse — all
    * distributed; only the k cluster stats rows hit the driver via broadcast.
    * Reference: filters.py:290-343 (`cluster_mahalanobis_2d`).
    */
  def clusterMahalanobis2d(df: DataFrame, col1: String, col2: String,
                           nClusters: Int = 13, distThreshold: Double = 3.0,
                           flagCol: String = "flag"): DataFrame = {
    import graft.fitting.KMeansLite
    val cents = KMeansLite.fit2d(df, col1, col2, nClusters)
    val clustered = df.na.drop(Seq(col1, col2))
      .withColumn("__cluster", KMeansLite.assign2d(
        col(col1).cast("double"), col(col2).cast("double"), cents))
    val stats = clustered.groupBy("__cluster").agg(
      avg(col(col1)).as("__m1"), avg(col(col2)).as("__m2"),
      var_samp(col(col1)).as("__v1"), var_samp(col(col2)).as("__v2"),
      covar_samp(col(col1), col(col2)).as("__c12"))
    // 2x2 inverse: [[v2, -c], [-c, v1]] / det
    val det = col("__v1") * col("__v2") - col("__c12") * col("__c12")
    val d1 = col(col1) - col("__m1")
    val d2 = col(col2) - col("__m2")
    val mahaSq = (d1 * d1 * col("__v2") - lit(2.0) * d1 * d2 * col("__c12") + d2 * d2 * col("__v1")) / det
    clustered.join(broadcast(stats), "__cluster")
      // degenerate clusters (singleton/collinear: null variance or zero det)
      // produce a null distance -> not flagged
      .withColumn(flagCol, coalesce(sqrt(mahaSq) > distThreshold, lit(false)))
      .drop("__m1", "__m2", "__v1", "__v2", "__c12")
  }
}
