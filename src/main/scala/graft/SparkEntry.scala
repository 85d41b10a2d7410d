package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The local core count every main runs at: `SPARK_GRAFT_CPUS`, else
    * the host's cores capped at 32 (also the shuffle partition count).
    */
  def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** Flagship: A5 forward-window target over sf0.001 events (>0 rows). */
  def entry(spark: SparkSession): DataFrame =
    graft.ops.WindowOps.forwardWindowCount(
      graft.core.Tables.events(spark, "/root/testdata/sf0.001"),
      "user_id", "ts", "event_id", 3600L * 1000000L)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
