package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Imputation operators: cross-asset correlation ranking and linear-fit
  * gap filling.
  *
  * Spark-first re-expression of openoa/utils/imputing.py. The correlation
  * "matrix" is kept LONG-FORM (asset_a, asset_b, corr) instead of the
  * reference's pivoted wide matrix — k^2 rows for k assets, always tiny
  * relative to the fact table, and joinable/broadcastable.
  */
object Imputing {

  /** Pairwise Pearson correlation between assets' aligned series.
    * Self-join on the time axis, then one `corr` aggregate per pair — a
    * single shuffle on (asset_a, asset_b) after the time-equi join.
    * Reference: imputing.py:13-31 (`asset_correlation_matrix`).
    */
  def assetCorrelation(df: DataFrame, tsCol: String, assetCol: String,
                       valueCol: String): DataFrame = {
    val a = df.select(col(tsCol).as("__t"), col(assetCol).as("asset_a"),
      col(valueCol).as("__va"))
    val b = df.select(col(tsCol).as("__t"), col(assetCol).as("asset_b"),
      col(valueCol).as("__vb"))
    a.join(b, Seq("__t"))
      .filter(col("asset_a") < col("asset_b"))
      .groupBy("asset_a", "asset_b")
      .agg(corr(col("__va"), col("__vb")).as("corr"),
        count(lit(1)).as("n"))
  }

  /** Impute nulls in `target`'s `valueCol` from a reference series aligned on
    * `alignCol`: fit y = a + b*x on the non-null pairs (closed-form via
    * covar/var aggregates — no collect), then fill target nulls with the
    * prediction. Returns target with an added `imputedCol`.
    * Reference: imputing.py:34-131 (`impute_data`).
    */
  def imputeData(target: DataFrame, ref: DataFrame, alignCol: String,
                 targetValue: String, refValue: String,
                 imputedCol: String = "imputed"): DataFrame = {
    val joined = target.join(
      ref.select(col(alignCol), col(refValue).as("__ref")), Seq(alignCol), "left")
    val fit = joined.filter(col(targetValue).isNotNull && col("__ref").isNotNull)
      .agg((covar_samp(col("__ref"), col(targetValue)) / var_samp(col("__ref"))).as("__b"),
        avg(col(targetValue)).as("__my"), avg(col("__ref")).as("__mx"))
      .select(col("__b"), (col("__my") - col("__b") * col("__mx")).as("__a"))
    joined.crossJoin(broadcast(fit))
      .withColumn(imputedCol,
        coalesce(col(targetValue), col("__a") + col("__b") * col("__ref")))
      .drop("__ref", "__a", "__b")
  }

  /** Correlation imputation across every asset of a long
    * (time, asset, value) frame (imputing.py:134-229
    * `impute_all_assets_by_correlation`): each null value is filled by
    * [[imputeSeries]], which ranks the asset's neighbors and fits each one.
    *
    * Like the reference's per-asset driver loop, it runs on the driver: the
    * frame is collected (#rows, one per (time, asset), are held there),
    * imputed row by row, and returned as a local frame of its rows with
    * `<valueCol>_imputed`. Rows with a null time or asset take no part and
    * keep their value.
    */
  def imputeAllByCorrelation(df: DataFrame, tsCol: String, assetCol: String,
                             valueCol: String, minR2: Double = 0.7,
                             topM: Int = 3): DataFrame = {
    val Seq(ti, ai, vi) = Seq(tsCol, assetCol, valueCol).map(df.schema.fieldIndex)
    val rows = df.collect()
    val keyed = rows.filterNot(r => r.isNullAt(ti) || r.isNullAt(ai))
    val times = keyed.map(_.get(ti)).distinct.zipWithIndex.toMap
    // assets in the order of their string form: the neighbor tie-break
    val assets = keyed.map(_.get(ai)).distinct.sortBy(_.toString).zipWithIndex.toMap
    val series = IndexedSeq.fill(assets.size)(Array.fill[Option[Double]](times.size)(None))
    keyed.filterNot(_.isNullAt(vi)).foreach { r =>
      series(assets(r.get(ai)))(times(r.get(ti))) = Some(r.get(vi).asInstanceOf[Number].doubleValue)
    }
    val filled = imputeSeries(series, minR2, topM)
    val out = rows.map { r =>
      val v =
        if (r.isNullAt(ti) || r.isNullAt(ai)) Option(r.get(vi)).map(_.asInstanceOf[Number].doubleValue)
        else filled(assets(r.get(ai)))(times(r.get(ti)))
      Row.fromSeq(r.toSeq :+ v.map(Double.box).orNull)
    }
    df.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
      df.schema.add(valueCol + "_imputed", DoubleType))
  }

  /** The row-level kernel of [[imputeAllByCorrelation]]. `series(i)` holds
    * asset i's values on a shared time axis, None where missing; assets
    * come in sort order, which breaks ties in the ranking. For each asset:
    *  - its neighbors are the other assets whose Pearson r over the times
    *    both have a value is > `minR2` (the reference thresholds the raw
    *    r, not r², imputing.py:195-199); a constant series or an overlap of
    *    fewer than two times gives r = NaN and is never a neighbor;
    *  - it keeps the top `topM` neighbors by (r desc, neighbor asc);
    *  - each kept neighbor x is fit as y = a + b·x over the same overlap,
    *    b = covar_samp(x, y) / var_samp(x) and a = ȳ − b·x̄;
    *  - a gap is filled by the best-ranked neighbor with a value there, and
    *    stays None if none has one.
    * Returns each series with the gaps it could fill filled.
    */
  def imputeSeries(series: IndexedSeq[Array[Option[Double]]], minR2: Double,
                   topM: Int): IndexedSeq[Array[Option[Double]]] = {
    // (r, a, b) of y = series(i) on x = series(j) over their overlap
    def fit(i: Int, j: Int): (Double, Double, Double) = {
      val both = series(i).indices.filter(t => series(i)(t).isDefined && series(j)(t).isDefined)
      val ys = both.map(series(i)(_).get)
      val xs = both.map(series(j)(_).get)
      val my = ys.sum / both.size
      val mx = xs.sum / both.size
      val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val syy = ys.map(y => (y - my) * (y - my)).sum
      val r = if (both.size < 2) Double.NaN else sxy / math.sqrt(sxx * syy)
      (r, my - sxy / sxx * mx, sxy / sxx)
    }
    series.indices.map { i =>
      val neighbors = series.indices.filter(_ != i)
        .map(j => (j, fit(i, j)))
        .filter(_._2._1 > minR2)
        .sortBy { case (j, (r, _, _)) => (-r, j) }
        .take(topM)
      series(i).indices.map { t =>
        series(i)(t).orElse(neighbors.collectFirst {
          case (j, (_, a, b)) if series(j)(t).isDefined => a + b * series(j)(t).get
        })
      }.toArray
    }
  }
}
