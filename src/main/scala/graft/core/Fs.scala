package graft.core

import org.apache.spark.sql.SparkSession

/** Target-exists + sidecar-write helpers through the Hadoop FileSystem
  * API, so the pipeline's Luigi-style checkpoint semantics hold on
  * hdfs:///s3a:// outDirs, not just local disk (java.io.File silently
  * reports false there, defeating every skip guard).
  */
object Fs {

  private def fs(spark: SparkSession, path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (path, length, mtime) of every file under `path` (or of the file
    * itself), sorted; a missing path fingerprints as (path, -1, -1). The
    * one input fingerprint: session artifacts and pipeline stage keys
    * both use it, so an input rewritten in place (new files, or a new
    * length or mtime) changes it. `listStatus`, not `listFiles`: on the
    * local FileSystem a LocatedFileStatus loads each file's permissions
    * by forking `ls` (measured 3-7 ms per table against 16-100 µs).
    */
  def fingerprint(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, root)
    def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
      }
    try walk(root).sorted
    catch { case _: java.io.FileNotFoundException => Seq((root.toString, -1L, -1L)) }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs(spark, p).exists(p)
  }

  /** Overwrite a small text sidecar (JSON summaries, fingerprints). */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = fs(spark, p).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readString(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = fs(spark, p).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Delete a sidecar/marker (no-op when absent). Non-recursive —
    * meant for fingerprints and flags, never stage data.
    */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs(spark, p).delete(p, false): Unit
  }

  /** Recursive delete of a stage subtree (no-op when absent) — used by
    * forced pipeline runs to clear stale append/batch state.
    */
  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs(spark, p).delete(p, true): Unit
  }

  /** Directory rename (the write-aside + swap step of crash-safe
    * artifact replacement). One metadata op on HDFS/local; fails loud
    * rather than silently leaving both trees.
    */
  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(from)
    val t = new org.apache.hadoop.fs.Path(to)
    require(fs(spark, f).rename(f, t), s"Fs.rename: $from -> $to failed")
  }

  /** Recursive tree copy (artifact cloning: a mutation gate that needs
    * the same base artifact another query already built clones the
    * tree — bytes move once through the FileSystem API, no recompute
    * and no Spark job). Replaces an existing destination.
    */
  def copyRecursive(spark: SparkSession, from: String, to: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(from)
    val t = new org.apache.hadoop.fs.Path(to)
    val sfs = fs(spark, f)
    val tfs = fs(spark, t)
    if (tfs.exists(t)) tfs.delete(t, true)
    require(org.apache.hadoop.fs.FileUtil.copy(
      sfs, f, tfs, t, false, spark.sparkContext.hadoopConfiguration),
      s"Fs.copyRecursive: $from -> $to failed")
  }
}

/** The one JSON string escaper (Verify's oracle dump, the fails report,
  * the bounds sidecar all need it; hand-rolled copies drifted).
  */
object Json {
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def quote(s: String): String = "\"" + escape(s) + "\""

  /** Top-level scalar `name` of a flat JSON object this engine wrote (a
    * stage manifest, a census sidecar), unquoted; None when absent.
    */
  def field(json: String, name: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(name) + "\":\\s*(\"([^\"]*)\"|[^,}\\s]+)").r
      .findFirstMatchIn(json).map(m => Option(m.group(2)).getOrElse(m.group(1)))

  /** A flat object of numbers, in `fields` order. Non-finite values (NaN
    * over an empty input, Infinity from a degenerate fit) are written as
    * null: the bare tokens are not valid JSON.
    */
  def numbers(fields: Seq[(String, Double)]): String =
    fields.map { case (n, v) =>
      s"${quote(n)}: ${if (java.lang.Double.isFinite(v)) v.toString else "null"}"
    }.mkString("{", ", ", "}")

  /** The flat number object `name` inside a JSON object this engine wrote
    * with [[numbers]], null read back as NaN; empty when absent.
    */
  def numbers(json: String, name: String): Map[String, Double] =
    ("\"" + java.util.regex.Pattern.quote(name) + "\":\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(json).toSeq
      .flatMap(m => "\"([^\"]*)\":\\s*([^,\\s]+)".r.findAllMatchIn(m.group(1)))
      .map(f => f.group(1) -> (if (f.group(2) == "null") Double.NaN else f.group(2).toDouble))
      .toMap
}
