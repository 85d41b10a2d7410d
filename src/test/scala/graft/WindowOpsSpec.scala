package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.WindowOps

/** A5 semantics (SURVEY.md §7.4.1): [t, t+w) left-closed right-open,
  * per-partition full-window cutoff max(ts) - w inclusive.
  */
class WindowOpsSpec extends SparkSpec {
  private val Hour = 3600L * 1000000L

  test("hand-computed series: open right bound and full-window mask") {
    import spark.implicits._
    // station A: events at :00 :30 1:00 1:30 2:00 2:30 — spacing pins the
    // open bound: the [t, t+1h) window sees exactly 2 events, NOT 3.
    val rows = Seq(
      (1L, "A", "2024-01-01 00:00:00"), (2L, "A", "2024-01-01 00:30:00"),
      (3L, "A", "2024-01-01 01:00:00"), (4L, "A", "2024-01-01 01:30:00"),
      (5L, "A", "2024-01-01 02:00:00"), (6L, "A", "2024-01-01 02:30:00"),
      // station B: all inside one window -> emits nothing
      (7L, "B", "2024-01-01 00:00:00"), (8L, "B", "2024-01-01 00:10:00"))
      .toDF("event_id", "station", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = WindowOps.forwardWindowCount(rows, "station", "ts", "event_id", Hour)
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // cutoff: max(A)=2:30, full windows for t <= 1:30 inclusive
    assert(out.toSeq === Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 2L)))
  }

  test("matches O(n^2) brute force on random event sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val events = (1 to 300).map { i =>
      (i.toLong, s"S${rnd.nextInt(5)}", rnd.nextInt(48 * 3600).toLong)
    }
    val df = events.toDF("event_id", "station", "off")
      .withColumn("ts", timestamp_seconds(col("off") + 1700000000L))
    val got = WindowOps.forwardWindowCount(df, "station", "ts", "event_id", Hour)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byStation = events.groupBy(_._2)
    val want = byStation.values.flatMap { es =>
      val maxOff = es.map(_._3).max
      es.filter(e => e._3 <= maxOff - 3600L).map { e =>
        e._1 -> es.count(o => o._3 >= e._3 && o._3 < e._3 + 3600L).toLong
      }
    }.toMap
    assert(got === want)
  }

  test("typed flatMapGroups fallback matches the window implementation") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    // duplicate timestamps included to pin tie semantics
    val df = (1 to 400).map { i =>
      (i.toLong, rnd.nextInt(4).toLong, (rnd.nextInt(600) * 60).toLong)
    }.toDF("event_id", "user_id", "off")
      .withColumn("ts", timestamp_seconds(col("off") + 1700000000L))
    val a = WindowOps.forwardWindowCount(df, "user_id", "ts", "event_id", Hour)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = WindowOpsSpec.forwardWindowCountTyped(spark, df, "user_id", "ts", "event_id", Hour)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("time-chunked skew variant matches the plain window, hot key included") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // one key carries 50% of events (the skew scenario the variant
    // exists for), plus chunk-boundary-aligned timestamps to pin the
    // owner/context split, plus duplicate timestamps for tie semantics
    val df = (1 to 600).map { i =>
      val key = if (i % 2 == 0) 0L else rnd.nextInt(4).toLong + 1L
      val off = if (i % 37 == 0) (i / 37) * 3600L else rnd.nextInt(96 * 3600).toLong
      (i.toLong, key, off)
    }.toDF("event_id", "user_id", "off")
      .withColumn("ts", timestamp_seconds(col("off") + 1700000000L))
    val a = WindowOps.forwardWindowCount(df, "user_id", "ts", "event_id", Hour)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = WindowOps.forwardWindowCountChunked(df, "user_id", "ts", "event_id", Hour)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b === a)
    assert(a.nonEmpty)
  }

  test("tumbling 1h count equals hour truncation") {
    import spark.implicits._
    val df = Seq((0L, "2024-01-01 00:10:00"), (1L, "2024-01-01 00:50:00"),
      (2L, "2024-01-01 01:05:00")).toDF("id", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = WindowOps.tumblingCount(df, "ts", "1 hour")
      .orderBy("ws").collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    assert(out.toSeq === Seq(("2024-01-01 00:00:00.0", 2L), ("2024-01-01 01:00:00.0", 1L)))
  }
}

/** The A5 test oracles: a typed implementation and its pure core. */
object WindowOpsSpec {

  /** Typed escape hatch for A5 (SURVEY.md §7.4): same semantics via
    * groupByKey + flatMapGroups — the fallback if a RANGE-frame boundary
    * mismatch ever surfaced, and the template for per-group imperative
    * logic Spark expressions can't write. NOTE the scale tradeoff this
    * makes explicit: the whole group materializes in one task (the
    * reference's groupByKey hazard), vs the window version's streaming
    * frame evaluation. A differential test oracle: WindowOpsSpec asserts
    * its equality with the window version.
    */
  def forwardWindowCountTyped(spark: org.apache.spark.sql.SparkSession,
                              events: DataFrame, partKey: String, tsCol: String,
                              idCol: String, windowMicros: Long): DataFrame = {
    import spark.implicits._
    events
      // the partition key groups by its STRING form — injective for
      // numerics and identity for strings, so the fallback really does
      // accept every key type the primary operator accepts (a long cast
      // would throw under ANSI on station-name keys, or null-merge them)
      .select(col(partKey).cast("string"), col(idCol).cast("long"),
        unix_micros(col(tsCol).cast("timestamp")))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_: String, it: Iterator[(String, Long, Long)]) =>
        forwardCountsCore(it.map(e => (e._2, e._3)).toArray, windowMicros).iterator
      }
      .toDF(idCol, "n_rents")
  }

  /** Pure single-group A5 core (two-pointer over the ts-sorted events):
    * (id, count of events with ts in [t, t+w)) for every event with
    * t <= max(ts) - w. Factored out so WindowLawsProps can law-check it
    * against the O(n²) definition without a Spark session.
    */
  def forwardCountsCore(events: Array[(Long, Long)], windowMicros: Long): Seq[(Long, Long)] = {
    val es = events.sortBy(_._2)
    if (es.isEmpty) Seq.empty
    else {
      val cutoff = es.last._2 - windowMicros
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var lo = 0 // first idx with ts >= t (ties before the current row count!)
      var hi = 0 // first idx with ts >= t + w
      var idx = 0
      while (idx < es.length && es(idx)._2 <= cutoff) {
        val (id, t) = es(idx)
        while (es(lo)._2 < t) lo += 1
        if (hi < lo) hi = lo
        while (hi < es.length && es(hi)._2 < t + windowMicros) hi += 1
        out += ((id, (hi - lo).toLong))
        idx += 1
      }
      out.toSeq
    }
  }
}
