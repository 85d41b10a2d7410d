package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A5 hot-key probe: generates an event table where ONE station carries a
  * configurable share of all rows (the reference's groupByKey skew hazard,
  * SURVEY.md §3.3) and times the plain window implementation against the
  * time-chunked skew variant. The window exchange cannot be AQE-split —
  * a frame needs its whole key in one task — so the plain op serializes
  * the hot key's share of the work in one task; the chunked variant
  * spreads it over (key × time-chunk) partitions at the price of 2×
  * shuffle rows.
  *
  * Usage: tools/run.sh graft.SkewProbe [nEvents] [hotShare]
  *        (default 2000000 0.3 — sf0.1 is 100k events; 2M makes the
  *        serialized task visible above fixed stage overhead)
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000000
    val hotShare = if (args.length > 1) args(1).toDouble else 0.3
    val spark = SparkSession.builder().master(s"local[${SparkEntry.localCpus}]")
      .config("spark.sql.shuffle.partitions", SparkEntry.localCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val hour = 3600L * 1000000L

    // hotShare of events on station 0, the rest uniform over 200 stations;
    // timestamps uniform over 30 days (deterministic hash-based pseudo-
    // randomness — executor-side, no driver materialization)
    val events = spark.range(n).select(
      col("id").as("event_id"),
      when(pmod(hash(col("id"), lit(1)), lit(1000000)) < lit((hotShare * 1000000).toInt), lit(0L))
        .otherwise(pmod(hash(col("id"), lit(2)), lit(200)).cast("long") + 1L).as("user_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(hash(col("id"), lit(3)).cast("long") * 2654435761L, lit(30L * 24 * 3600 * 1000000L)))
        .as("ts"))
      .transform(graft.ops.Ckpt.eager) // time the operators, not the generator

    def time(tag: String)(df: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      // checksum forces full evaluation AND proves both variants agree
      val r = df.agg(count(lit(1)), sum(col("n_rents"))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[skewprobe] $tag%-8s $sec%7.2f s  rows=${r.getLong(0)} sum=${r.getLong(1)}")
      (sec, r.getLong(1))
    }
    // warm-up pass absorbs codegen/JIT before the measured runs
    time("warmup") { ops.WindowOps.forwardWindowCount(events.limit(50000), "user_id", "ts", "event_id", hour) }
    val (plainSec, plainSum) = time("plain") {
      ops.WindowOps.forwardWindowCount(events, "user_id", "ts", "event_id", hour)
    }
    val (chunkSec, chunkSum) = time("chunked") {
      ops.WindowOps.forwardWindowCountChunked(events, "user_id", "ts", "event_id", hour)
    }
    require(plainSum == chunkSum, s"variant disagreement: $plainSum vs $chunkSum")
    println(s"""{"metric":"a5_skew","n":$n,"hot_share":$hotShare,""" +
      s""""plain_sec":$plainSec,"chunked_sec":$chunkSec,"checksum":$plainSum}""")
    spark.stop()
  }
}
