package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_status.json: per query, ok or failed, the error class and the
  * seconds taken. A failed query's stack trace always goes to stderr. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session()
    // Oracle runs MUST use the DuckDB-reproducible portable hash — pin it
    // so a stray -Dspark.graft.hash=xxhash64 can't flip the dedup queries
    // off the oracle-checkable tier (TextOps.activeHash).
    spark.conf.set("spark.graft.hash", "portable")
    new java.io.File(outDir).mkdirs()
    // JSON string escape (shared Json helper): backslash, quote, and ALL
    // control chars — a tab or CR in builder-authored SQL would otherwise
    // make the driver's json.load fail and silently zero the round.
    def q(s: String): String = graft.core.Json.quote(s)
    val status = SparkEntry.selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val error =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          e.printStackTrace()
          Some(e.getClass.getName)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      s"""${q(name)}: {"ok": ${error.isEmpty}, "error": ${error.map(q).getOrElse("null")}, "secs": $secs}"""
    }
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), status.mkString("{", ",\n", "}\n"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
