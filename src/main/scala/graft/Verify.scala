package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Oracle runs MUST use the DuckDB-reproducible portable hash — pin it
      // so a stray SPARK_GRAFT_HASH=xxhash64 in the env can't flip the
      // dedup queries off the oracle-checkable tier (TextOps.activeHash).
      .config("spark.graft.hash", "portable")
      // same codegen-cache sizing as Bench (r17-opt): the correctness
      // dump runs the identical 318-plan surface and pays the identical
      // mid-suite generated-class evictions at the 100-entry default
      .config("spark.sql.codegen.cache.maxEntries",
        sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "4096"))
      // same cached-plan AQE setting as Bench (r17-opt): the memo builds
      // dominate several families' verify cost too, and the correctness
      // dump must exercise the same plans the bench times
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.props.getOrElse(
          "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (same contract as Bench): comma-separated
    // query names. The driver never sets it, so the gate always runs all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // full trace on demand — a bare message hides WHERE a deep
        // library error (e.g. a ConcurrentHashMap "Recursive update")
        // actually fired (r16-opt debugging aid)
        if (sys.env.contains("SPARK_GRAFT_DEBUG")) e.printStackTrace()
      }
    }
    // JSON string escape (shared Json helper): backslash, quote, and ALL
    // control chars — a tab or CR in builder-authored SQL would otherwise
    // make the driver's json.load fail and silently zero the round.
    def q(s: String): String = graft.core.Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
