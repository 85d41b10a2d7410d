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

  /** The one session every main runs on: `local[localCpus]` with as many
    * shuffle partitions, a UTC session time zone, no UI, log level WARN
    * and the two r17 settings below (each overridable by its `-Dspark.*`
    * system property). A `def`: loading this object builds no session,
    * so a host that builds its own (the benchmark JVM) keeps it as built.
    */
  def session(): SparkSession = {
    val cpus = localCpus
    def prop(key: String, default: String): String = sys.props.getOrElse(key, default)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Janino class cache sized for this suite (r17-opt, measured):
      // the default 100-entry cache evicts the generated classes of
      // structurally repeated stages (the ANN hop loops, the replay
      // classes' per-batch plans, the memo families' shared subtrees)
      // MID-QUERY across 318 plans, forcing recompiles in the driver
      // gaps between AQE stages. Both A/B orderings on the knn-graph
      // family: 41.0-46.1 s -> 34.5-35.4 s. JVM-level and
      // scale-independent (executors compile the same sources).
      .config("spark.sql.codegen.cache.maxEntries",
        prop("spark.sql.codegen.cache.maxEntries", "4096"))
      // Let AQE plan the fragments that get persisted (r17-opt, guide
      // §2.3): with the default (false), every session-memo build — the
      // graph pair/edge tables, dedup signatures, the pooled ML dataset —
      // runs WITHOUT AQE and caches at the raw shuffle-partition count,
      // and every downstream scan re-pays those partitions. Enabling is
      // scale-adaptive by construction (AQE sizes partitions from bytes,
      // not a constant). Measured on the graph family, both orderings:
      // 90.25 s @ hf 1.47 -> 64.92 s @ hf 1.62 (pagerank 6.5->3.2, hits
      // 6.2->3.3, kcore 3.8->1.9); dedup/ml neutral-to-positive.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        prop("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship: A5 forward-window target over sf0.001 events (>0 rows). */
  def entry(spark: SparkSession): DataFrame =
    graft.ops.WindowOps.forwardWindowCount(
      graft.core.Tables.events(spark, "/root/testdata/sf0.001"),
      "user_id", "ts", "event_id", 3600L * 1000000L)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** The [[queries]] that `Bench` and `Verify` run, by name: all of them,
    * or only those named in the comma-separated `SPARK_GRAFT_ONLY` (a
    * local-iteration filter the driver never sets).
    */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
