package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.TimeKeys

/** Series aggregations — the reference's "basic features" family
  * (bicis/etl/feature_extraction/basic_features.py:41-66).
  *
  * A2 "hierarchical count→mean": count events per (station, concrete
  * period), then average those counts per (station, period-key). The
  * average is over *active* periods only — periods with zero events are
  * absent from the inner count, so they do NOT drag the mean down. This is
  * a semantic quirk of the reference we must reproduce exactly
  * (SURVEY.md §7.4.2); a dense calendar scaffold would diverge.
  *
  * Scale notes: two hash aggregations with map-side partial aggregation;
  * the first groupBy keys on (station, period) so cardinality is bounded by
  * #stations × #periods, far below row count — the shuffle carries
  * pre-combined partial counts, not events. No window, no driver state.
  */
object SeriesAggs {

  /** A2: avg per-active-period event count, keyed by (station, key). */
  def activePeriodAvg(df: DataFrame, station: Column, group: Column, key: Column,
                      out: String): DataFrame =
    df.groupBy(station.as("user_id"), group.as("__grp"), key.cast("long").as("k"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("user_id"), col("k"))
      .agg(round(avg(col("__cnt")), 6).as(out))

  /** J1: combine a rents series and a returns series on (station, key).
    * Series tables are tiny (stations × ≤31 keys) — always broadcastable;
    * Catalyst picks BroadcastHashJoin under the default threshold.
    */
  def joinSeries(rents: DataFrame, returns: DataFrame): DataFrame =
    rents.join(returns, Seq("user_id", "k"))

  /** A6+A7: station × hour profile, pivoted wide with a dense 0..23 hour
    * domain and zero fill (bicis/lib/feature_builders/hour_feature_builder
    * .py:67-89). Explicit pivot values avoid the extra distinct-values job
    * and force the dense domain.
    */
  def stationHourPivot(hourSeries: DataFrame, valueCol: String): DataFrame = {
    val pivoted = hourSeries
      .groupBy(col("user_id"))
      .pivot("k", (0 to 23).map(_.toLong))
      .agg(first(col(valueCol)))
    val renamed = (0 to 23).foldLeft(pivoted) { (d, h) =>
      d.withColumnRenamed(h.toString, s"h$h")
    }
    renamed.na.fill(0.0, (0 to 23).map(h => s"h$h"))
  }

  /** A2 + A6/A7: the station hour profile of `df`'s events (the W1
    * rings' input), wide (user_id, h0..h23).
    */
  def stationHourProfile(df: DataFrame, station: Column, ts: Column): DataFrame =
    stationHourPivot(activePeriodAvg(df, station, TimeKeys.hourGroup(ts), TimeKeys.hourKey(ts), "v"), "v")
}
