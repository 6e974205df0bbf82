package graft.fitting

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

/** Bradley–Terry paired-comparison strengths — the model behind
  * preference-data audits (DPO/RLHF pair sets, LLM-judge tournaments,
  * "which completion won" telemetry): P(i beats j) = p_i / (p_i + p_j).
  * Fitting uses Hunter (2004)'s MM iteration,
  * p_i' = W_i / Σ_j n_ij / (p_i + p_j), renormalized to Σp = 1 each
  * round — monotone in likelihood, no step size, and every round is
  * expressible as two equi joins + one item-grain aggregate, which is
  * the whole 100-TB story: per-iteration cost is one shuffle of the
  * PAIR table (items × avg-opponents), state is one row per item, and
  * the normalization rides along as a lazy 1-row aggregate frame
  * (crossJoin) instead of a blocking driver action — the HITS pattern.
  * Comparison graphs under `driverCap` pair rows run the identical
  * iteration in memory (per-round job overhead dominates tiny
  * tournaments — the q_cc_dedup altitude rule).
  *
  * Caveat from the model's MLE theory: strengths are identified only on
  * a strongly connected comparison graph (every item must win AND lose
  * somewhere, transitively); an undefeated item's strength grows
  * without bound in the true MLE — fixed `iters` keeps the output
  * finite, but treat such items as censored, or pre-smooth the counts.
  */
object BradleyTerry {

  /** Fit strengths from per-pair aggregates: one row per compared pair
    * (a, b) with `gamesCol` total games and `winsACol` wins for a.
    * Returns (item, strength), strengths summing to 1. Pairs may appear
    * in either or both orientations; rows with zero games are ignored.
    */
  def fit(pairs: DataFrame, aCol: String, bCol: String, gamesCol: String,
          winsACol: String, iters: Int = 30,
          driverCap: Long = 2000000L): DataFrame = Pins.scoped { pins =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = pairs.sparkSession
    import spark.implicits._
    // symmetrize: one row per (item, opponent) with that item's wins
    val base = pairs.select(col(aCol).cast("string").as("i"),
        col(bCol).cast("string").as("j"),
        col(gamesCol).cast("long").as("n"),
        col(winsACol).cast("long").as("w"))
      .filter(col("i").isNotNull && col("j").isNotNull &&
        col("i") =!= col("j") && col("n") > 0)
    // r14 (VERDICT ask 5): both orientations via ONE explode pass — the
    // self-union scanned/filtered the caller's pair table once per
    // branch. Same row multiset into the (i,j) long-sum aggregate.
    // Pinned: the count and the collect, or every round's pair join,
    // re-read it
    val ec = pins.pin(base.select(explode(array(
        struct(col("i"), col("j"), col("n"), col("w")),
        struct(col("j").as("i"), col("i").as("j"), col("n"),
          (col("n") - col("w")).as("w")))).as("__e"))
      .select(col("__e.i").as("i"), col("__e.j").as("j"),
        col("__e.n").as("n"), col("__e.w").as("w"))
      .groupBy("i", "j").agg(sum(col("n")).as("n"), sum(col("w")).as("w")))
    val nPairRows = ec.count()
    if (nPairRows <= driverCap) {
      val rows = ec.as[(String, String, Long, Long)].collect()
      val items = rows.map(_._1).distinct.sorted
      val idx = items.zipWithIndex.toMap
      val nI = items.length
      val wins = new Array[Double](nI)
      rows.foreach { case (i, _, _, w) => wins(idx(i)) += w }
      var p = Array.fill(nI)(1.0 / nI)
      for (_ <- 1 to iters) {
        val denom = new Array[Double](nI)
        rows.foreach { case (i, j, n, _) =>
          denom(idx(i)) += n / (p(idx(i)) + p(idx(j)))
        }
        val next = Array.tabulate(nI)(k =>
          if (denom(k) > 0) wins(k) / denom(k) else 0.0)
        val tot = next.sum
        p = if (tot > 0) next.map(_ / tot) else next
      }
      spark.createDataFrame(items.indices.map(k => (items(k), p(k))))
        .toDF("item", "strength")
    } else {
      // pinned: the count and every round's ratio re-read it
      val itemsW = pins.pin(ec.groupBy(col("i").as("item"))
        .agg(sum(col("w")).cast("double").as("__w")))
      val n = itemsW.count()
      var p = itemsW.select(col("item"), lit(1.0 / n).as("strength"))
      for (_ <- 1 to iters) {
        val joined = ec
          .join(p.select(col("item").as("i"), col("strength").as("__pi")),
            Seq("i"))
          .join(p.select(col("item").as("j"), col("strength").as("__pj")),
            Seq("j"))
        val denom = joined.groupBy(col("i").as("item"))
          .agg(sum(col("n") / (col("__pi") + col("__pj"))).as("__d"))
        val raw = itemsW.join(denom, Seq("item"), "left")
          .select(col("item"), when(col("__d") > 0, col("__w") / col("__d"))
            .otherwise(0.0).as("__r"))
        val tot = raw.agg(coalesce(sum(col("__r")), lit(0.0)).as("__t"))
        // loop state, re-read twice by the next round. A loop pin, not a
        // pin: the lazy total folded back via crossJoin references `raw`
        // twice, so carried origin stats would square the size estimate
        // every round — see Pins for the measured failure.
        p = pins.loop(raw.crossJoin(tot)
          .select(col("item"),
            (col("__r") / when(col("__t") > 0, col("__t")).otherwise(1.0))
              .as("strength")))
      }
      p
    }
  }
}
