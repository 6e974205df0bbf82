package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream: a new session starts when
  * the gap to the previous event (per key) exceeds `gapSeconds`. Session id
  * is the running count of session starts — one window pass per key, no
  * self-joins. (The Structured Streaming twin of this is
  * `session_window(ts, gap)`; see graft.streaming.)
  */
object Sessionize {

  /** Adds a `session_id` column (1-based per key, ordered by ts).
    *
    * `tieBreakCols`: tied timestamps make the window order — and
    * therefore which tied row carries the session-start flag into the
    * running sum — engine- and run-dependent (the lag pass and the sum
    * pass may even order the SAME tie block differently, splitting it
    * across two sessions). Pass a unique column (an event id) whenever
    * timestamps can repeat within a key — the interpolateLinear lesson.
    */
  def withSessionId(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    gapSeconds: Long,
                    tieBreakCols: Seq[String] = Nil): DataFrame = {
    val order = col(tsCol) +: tieBreakCols.map(col)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(w))
    val isStart = when(gap.isNull || gap > gapSeconds, 1).otherwise(0)
    df.withColumn("session_id",
      sum(isStart).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }
}
