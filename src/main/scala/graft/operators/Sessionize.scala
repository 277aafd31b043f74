package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization: group a user's events into sessions; a new session starts
  * when an event arrives STRICTLY more than `gap` after its predecessor
  * (events exactly `gap` apart stay in one session). The batch twin of
  * [[graft.streaming.Streaming.sessionizeStream]], which uses the same
  * boundary convention — note this differs from Spark's `session_window`,
  * whose half-open [t, t+gap) windows close AT the boundary.
  *
  * Batch implementation is gaps-and-islands: one shuffle on the key, a lag to
  * detect gap starts, a running sum to number sessions — no row explosion, no
  * self-join. At 100 TB both window functions share the single (key) exchange
  * and sort, so the cost is one sort-shuffle of the events — the minimum any
  * session definition needs.
  */
object Sessionize {

  /** Per-event session assignment: adds `session_id` (1-based per key, in
    * time order).
    */
  def assign(df: DataFrame, keyCols: Seq[String], timeCol: String, gap: String): DataFrame = {
    val byKey = Window.partitionBy(keyCols.map(col): _*).orderBy(col(timeCol))
    val isNew = when(
      lag(col(timeCol), 1).over(byKey).isNull ||
        col(timeCol) > lag(col(timeCol), 1).over(byKey) + expr(gap), 1L).otherwise(0L)
    df.withColumn("session_id", sum(isNew).over(
      Window.partitionBy(keyCols.map(col): _*).orderBy(col(timeCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session summary: start/end/duration/event count (+ optional value sum). */
  def sessions(
      df: DataFrame, keyCols: Seq[String], timeCol: String, gap: String,
      valueCol: Option[String] = None): DataFrame = {
    val base = assign(df, keyCols, timeCol, gap)
      .groupBy((keyCols :+ "session_id").map(col): _*)
    val aggs = Seq(
      min(col(timeCol)).as("session_start"),
      max(col(timeCol)).as("session_end"),
      count(lit(1)).as("n_events")) ++
      valueCol.map(v => graft.functions.Fns.exactSum(col(v)).as("session_value"))
    base.agg(aggs.head, aggs.tail: _*)
  }
}
