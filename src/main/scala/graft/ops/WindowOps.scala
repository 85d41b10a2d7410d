package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time window operators.
  *
  * A5 — the flagship: forward sliding event-time count. For each event at
  * time t within a partition, count events (incl. itself) with timestamp in
  * [t, t+window) — left-closed right-open, pinned empirically against the
  * reference's reversed-index pandas rolling sum
  * (bicis/etl/feature_extraction/next_window_target.py:61-111). Only "full
  * windows" are emitted: events with t <= max(partition ts) − window,
  * inclusive, where the cutoff is the partition's own max, not the global
  * one (next_window_target.py:86-96).
  *
  * The reference implements this with groupByKey + per-station pandas — the
  * whole station materialized in one Python worker (skew hazard, no
  * codegen). Here it is a single Catalyst RANGE-frame window over
  * microsecond event time: one hash exchange on the partition key, one
  * sort, one WindowExec — and the full-window mask reuses the same
  * partitioning (an unordered max window), so Catalyst plans ONE shuffle.
  * At 100 TB a hot station is handled by [[forwardWindowCountChunked]] —
  * a window frame cannot be AQE-split, so skew needs the time-chunk
  * decomposition, not a join-style hint.
  */
object WindowOps {

  /** A5: per-key forward [t, t+window) event count with full-window mask.
    * Emits (idCol, n_rents): [[forwardWindowFlagged]] over the events,
    * kept where the window is full.
    */
  def forwardWindowCount(events: DataFrame, partKey: String, tsCol: String,
                         idCol: String, windowMicros: Long): DataFrame =
    forwardWindowFlagged(events, partKey, tsCol, windowMicros)
      .where(col("full_window"))
      .select(col(idCol), col("n_rents"))

  /** A5 over every event: `events` plus its forward [t, t+window) count
    * (`n_rents`) and whether that window is full (`full_window`: t <=
    * max(partition ts) − window, inclusive). A caller that must account
    * for the events outside a full window (the forecast's fails report)
    * keeps them in the same plan. `windowMicros − 1` enforces the open
    * right bound on the microsecond-long range frame.
    */
  def forwardWindowFlagged(events: DataFrame, partKey: String, tsCol: String,
                           windowMicros: Long): DataFrame = {
    val frame = Window.partitionBy(col(partKey)).orderBy(col("__us"))
      .rangeBetween(0L, windowMicros - 1)
    val whole = Window.partitionBy(col(partKey))
    events
      .withColumn("__us", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("n_rents", count(lit(1)).over(frame).cast("long"))
      .withColumn("full_window", col("__us") <= max(col("__us")).over(whole) - windowMicros)
      .drop("__us")
  }

  /** A5 under key skew: the plain operator's window exchange puts a whole
    * key in ONE task (a window frame cannot be AQE-split the way a skewed
    * join can), so a station with 30% of all events serializes 30% of the
    * work. This variant decomposes TIME instead: events are duplicated
    * into their own `window`-sized chunk (owner row) and the previous
    * chunk (context row) — an event's [t, t+w) frame spans at most those
    * two chunks — and the window runs within (key, chunk) partitions.
    * Each real event appears exactly once per partition (chunk-c events
    * as owners, chunk-c+1 events as context), so the frame count equals
    * the plain operator's (WindowOpsSpec proves equality, hot key
    * included). The full-window cutoff comes from a tiny per-key
    * aggregate joined back (Catalyst broadcasts it under the threshold)
    * instead of a whole-partition max window, which would re-serialize
    * the hot key.
    *
    * Cost: 2× shuffle rows. Win: parallelism = keys × active chunks, so
    * a hot key's work spreads over its time range. Use when one key
    * holds ≳ a task's worth of rows; the plain operator is cheaper on
    * balanced keys (SkewProbe records the crossover).
    */
  def forwardWindowCountChunked(events: DataFrame, partKey: String, tsCol: String,
                                idCol: String, windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    val w = windowMicros
    val base = events.select(col(partKey).as("__k"), col(idCol).as("__id"),
      unix_micros(col(tsCol).cast("timestamp")).as("__us"))
    val cutoffs = base.groupBy(col("__k")).agg(max(col("__us")).as("__mx"))
    // exact floor division for any sign: align to the positive remainder,
    // then `div` (which truncates) is exact on the aligned numerator
    val chunk = expr(s"(__us - pmod(__us, ${w}L)) div ${w}L")
    val dup = base.select(col("__k"), col("__id"), col("__us"),
      explode(array(
        struct(chunk.as("__chunk"), lit(true).as("__own")),
        struct((chunk - 1).as("__chunk"), lit(false).as("__own")))).as("__d"))
      .select(col("__k"), col("__id"), col("__us"),
        col("__d.__chunk").as("__chunk"), col("__d.__own").as("__own"))
    val frame = Window.partitionBy(col("__k"), col("__chunk")).orderBy(col("__us"))
      .rangeBetween(0L, w - 1)
    dup
      .withColumn("n_rents", count(lit(1)).over(frame).cast("long"))
      .where(col("__own"))
      .join(cutoffs, "__k")
      .where(col("__us") <= col("__mx") - w)
      .select(col("__id").as(idCol), col("n_rents"))
  }

  /** A10: tumbling event-time window count (the notebook's `resample('H')`).
    * Implemented as groupBy over the window start — a plain hash aggregate,
    * partial-combined map-side.
    */
  def tumblingCount(events: DataFrame, tsCol: String, duration: String): DataFrame =
    events
      .groupBy(window(col(tsCol).cast("timestamp"), duration).getField("start").as("ws"))
      .agg(count(lit(1)).as("n"))
}
