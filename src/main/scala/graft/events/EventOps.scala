package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table operators: sessionization, hourly window counts and top
  * users over the `events` table. All are batch, deterministic and
  * DuckDB-checkable (catalog queries `q_sessions`, `q_window_counts` and
  * `q_top_users`). The reference has no event surface (SURVEY.md §2.7);
  * these are the training-pipeline operators a web-scale engine needs
  * anyway.
  */
object EventOps {

  /** Sessionize: a new session starts when the gap to the user's previous
    * event exceeds `gapMinutes`. Pure window functions — one shuffle on
    * user_id, sort within partition by ts. Returns one row per event with
    * (session_seq) and per-session ordinal. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // event_id as tiebreak: deterministic under equal timestamps
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(byUser))
    val isNew = when(gap.isNull || gap > gapMinutes * 60L, 1L).otherwise(0L)
    events
      .withColumn("session_seq",
        sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session rollup: bounds, event count, value sum. */
  def sessions(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("value_sum"))

  /** Tumbling-window counts per event type (hour buckets). */
  def windowCounts(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("value_sum"))

  /** Top-N users by event volume with rank. `orderBy.limit` compiles to
    * TakeOrderedAndProject (per-partition top-n + merge of n·P rows — no
    * global sort, no single-partition window); the dense rank is then
    * stamped on the n surviving rows. */
  def topUsers(events: DataFrame, n: Int = 10): DataFrame = {
    val agg = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("value_sum"))
    val top = agg.orderBy(col("n_events").desc, col("user_id").asc).limit(n)
    graft.core.Ranking.withGlobalRank(top, "_rn", col("n_events").desc, col("user_id").asc)
      .select(col("user_id"), col("n_events"), col("value_sum"),
        (col("_rn") + lit(1L)).as("rank"))
  }
}
