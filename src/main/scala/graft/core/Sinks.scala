package graft.core

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink surface (S5 header-CSV, S8 JSON summaries + fails report).
  *
  * The engine's stage boundaries are parquet (columnar, statistics,
  * splittable); CSV/JSON sinks exist for reference-compatible exports.
  */
object Sinks {

  /** S5: header CSV export (split.py:49-72 et al.). */
  def csvWithHeader(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Training-data shard writer — the 100 TB output shape: directory-
    * partitioned by low-cardinality routing columns (source, lang,
    * quality bucket — enables partition PRUNING for downstream mixture
    * readers), with file sizes controlled two ways:
    *
    *  - `maxRecordsPerFile` caps the big end (no 50 GB single file when
    *    one partition value dominates);
    *  - `repartitionByRange(partitionCols ++ sortCols)` before the write
    *    collapses the small end — without a pre-write repartition every
    *    incoming task writes one file PER partition value it touches,
    *    the classic small-files explosion (T tasks × P values files
    *    instead of ~P). Range (not hash-on-partitionCols) partitioning
    *    matters at scale: hashing a partition value routes ALL of its
    *    rows through ONE task — a dominant value (say one language at
    *    50% of the corpus) becomes a single straggler task with an
    *    unbounded sort. Ranging over (partitionCols ++ sortCols) keeps
    *    each value contiguous across only as many tasks as its share
    *    requires, so hot values parallelize and the small-files bound
    *    (~max(P, shuffle partitions) files) still holds.
    *
    * `sortWithinPartitions` orders rows inside each file so parquet
    * min/max column statistics become selective (row-group skip on the
    * sort key).
    */
  def shardedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                     sortCols: Seq[String], maxRecordsPerFile: Long): Unit =
    df.repartitionByRange((partitionCols ++ sortCols).map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** INCREMENTAL shard maintenance (r14 verdict §2): rewrite only the
    * hive partitions whose CONTENT changed since the last write,
    * leaving every untouched partition's files in place — the append
    * path's shard cost becomes ∝ partitions touched by the batch, not
    * corpus size. The change detection is a cheap id-sized diff, never
    * a heavy-column read: both sides project to
    * (partitionCols ++ sortCols ++ keyCol) — the parquet scan of the
    * existing layout column-prunes the text away — and a row outside
    * that projection cannot differ, PROVIDED every other column is
    * determined by `keyCol` (documents are immutable per doc_id; the
    * caller's contract). The diff is ONE count-bearing symmetric pass
    * (side-tagged union + grouped sum), so even multiplicity-only
    * changes in duplicate keyed rows are caught. Partition values
    * compare as strings ("" folded into NULL — hive's on-disk default
    * partition conflates them anyway), and the changed-partition
    * predicates/paths are built per VALUE, null-safely, with Spark's
    * own partition-path escaping — no in-band string encoding of the
    * key (r15 review: null and separator-bearing values silently
    * corrupted the first cut's layout). Changed partitions are
    * replaced via dynamic partition overwrite; partitions the
    * retraction emptied are deleted. A first write (no _SUCCESS), a
    * committed-but-file-less layout (everything retracted earlier),
    * and a rerun after a crash MID-incremental-write (the _SUCCESS
    * marker is retired before the first mutation and restored only at
    * commit) all fall back to the full writer. Returns the number of
    * partitions rewritten (-1 = full write).
    */
  def shardedParquetIncremental(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String], keyCol: String,
      maxRecordsPerFile: Long): Int = {
    val spark = df.sparkSession
    def full(): Int = {
      shardedParquet(df, path, partitionCols, sortCols, maxRecordsPerFile)
      -1
    }
    if (!Fs.exists(spark, s"$path/_SUCCESS")) return full()
    // partition columns compare AS STRINGS on both sides: hive
    // partition-type inference reads a numeric-looking value back as
    // INT (a typed except would throw), and "" normalizes to NULL —
    // both serialize to __HIVE_DEFAULT_PARTITION__ on disk and read
    // back as null, so distinguishing them would mark the partition
    // changed forever
    def pcol(c: String) = nullif(col(c).cast("string"), lit(""))
    val proj = (partitionCols.map(c => pcol(c).as(c)) ++
      (sortCols :+ keyCol).distinct.filterNot(partitionCols.contains).map(col))
    val old =
      try {
        val o = spark.read.parquet(path).select(proj: _*)
        o.queryExecution.analyzed // force resolution inside the try
        o
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          // committed-but-file-less layout (every row retracted by an
          // earlier derive, or an empty first write): nothing to diff
          // against — the full writer handles it, and unwedges the
          // empty→non-empty transition (r15 review)
          return full()
      }
    val neu = df.select(proj: _*)
    // ONE count-bearing symmetric diff: side-tagged union + grouped sum
    // (one shuffle over both id-sized projections — the two set-excepts
    // of the first cut paid two, and were blind to duplicate-row
    // multiplicity changes)
    val diffCols = proj.indices.map(i => col(neu.columns(i)))
    val delta = neu.withColumn("__side", lit(1L))
      .unionByName(old.withColumn("__side", lit(-1L)))
      .groupBy(diffCols: _*).agg(sum(col("__side")).as("__d"))
      .where(col("__d") =!= 0L)
    val changed: Seq[Seq[Option[String]]] = delta
      .select(partitionCols.map(col): _*).distinct().collect()
      .map(r => partitionCols.indices.map(i => Option(r.getString(i))): Seq[Option[String]])
      .toSeq
    if (changed.isEmpty) return 0
    def partPred(vals: Seq[Option[String]]) =
      partitionCols.zip(vals).map { case (c, v) =>
        v.fold(pcol(c).isNull)(x => pcol(c) === x)
      }.reduce(_ && _)
    val slice = df.where(changed.map(partPred).reduce(_ || _))
    // partitions still populated in the NEW data (id-sized census) —
    // the complement within `changed` was emptied by retraction
    val present: Set[Seq[Option[String]]] = neu
      .select(partitionCols.map(col): _*).distinct().collect()
      .map(r => partitionCols.indices.map(i => Option(r.getString(i))): Seq[Option[String]])
      .toSet
    // retire the root commit marker BEFORE any mutation (restored after
    // ALL mutations) — a crash in between leaves the layout looking
    // UNfinished, so the next derive full-rewrites instead of serving a
    // torn layout
    Fs.delete(spark, s"$path/_SUCCESS")
    // a partition whose every row disappeared has nothing in the written
    // data, so dynamic overwrite would leave its stale files behind —
    // drop the emptied directories explicitly. Directory names use
    // Spark's OWN partition-path escaping (null/"" → the hive default
    // partition dir; "a/b" → a%2Fb).
    changed.filterNot(present).foreach { vals =>
      val dir = partitionCols.zip(vals).map { case (c, v) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(c, v.getOrElse(""))
      }.mkString(s"$path/", "/", "")
      Fs.deleteRecursive(spark, dir)
    }
    if (changed.exists(present))
      slice
        .repartitionByRange((partitionCols ++ sortCols).map(col): _*)
        .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    // restore the commit marker EXPLICITLY: whether the committer
    // recreates the root _SUCCESS depends on configuration (the default
    // Hadoop committer with marksuccessfuljobs=true DOES write one at
    // job commit); the explicit write makes this writer's
    // finished-layout marker independent of committer config — and
    // covers the changed-partitions-all-empty path above, where no
    // write job runs at all
    Fs.writeString(spark, s"$path/_SUCCESS", "")
    changed.length
  }

  /** PATCH a sharded layout in place: replace exactly the named
    * `changed` partitions with `slice`'s rows (which must hold the
    * changed partitions' COMPLETE new content and nothing else),
    * deleting partitions the change emptied. The caller owns change
    * detection — this is [[shardedParquetIncremental]]'s mutation half
    * for callers whose diff is cheaper upstream than a full-frame
    * compare (CorpusPipeline's frozen-tokenizer packed tier detects
    * changed (split, source) groups from doc membership BEFORE paying
    * the corpus-sized tokenize, so the expensive recompute itself is
    * ∝ changed partitions — a full-frame diff would have to tokenize
    * everything first). Same crash discipline: the root _SUCCESS
    * retires before the first mutation and is restored only after all
    * of them, so a crash mid-patch leaves an UNfinished-looking layout
    * and the next derive full-rewrites instead of serving a torn one.
    * Partition values are Option[String] (None = null/""), written
    * with Spark's own partition-path escaping.
    */
  def shardedParquetPatch(slice0: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      changed: Seq[Seq[Option[String]]], maxRecordsPerFile: Long): Int = {
    val spark = slice0.sparkSession
    require(Fs.exists(spark, s"$path/_SUCCESS"),
      s"shardedParquetPatch: $path has no committed layout to patch — " +
        "use the full writer for first writes and crash recovery")
    if (changed.isEmpty) return 0
    // the slice is read twice (present-partition census + the write) and
    // is typically the caller's EXPENSIVE recompute of the changed
    // partitions (the frozen packed tier's tokenize∘pack) — materialize
    // once or the cost the patch writer exists to minimize is paid twice
    // (r16 review); slice size is bounded by the changed partitions
    val slice = slice0.transform(graft.ops.Ckpt.eager)
    try {
    def pcol(c: String) = nullif(col(c).cast("string"), lit(""))
    val present: Set[Seq[Option[String]]] = slice
      .select(partitionCols.map(c => pcol(c).as(c)): _*).distinct().collect()
      .map(r => partitionCols.indices.map(i => Option(r.getString(i))): Seq[Option[String]])
      .toSet
    require(present.subsetOf(changed.toSet),
      "shardedParquetPatch: slice carries rows outside the changed partitions")
    Fs.delete(spark, s"$path/_SUCCESS")
    changed.filterNot(present).foreach { vals =>
      val dir = partitionCols.zip(vals).map { case (c, v) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(c, v.getOrElse(""))
      }.mkString(s"$path/", "/", "")
      Fs.deleteRecursive(spark, dir)
    }
    if (present.nonEmpty)
      slice
        .repartitionByRange((partitionCols ++ sortCols).map(col): _*)
        .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    Fs.writeString(spark, s"$path/_SUCCESS", "")
    changed.length
    } finally slice.unpersist()
  }

  /** S8: row-count reconciliation sidecar (build_dataset.py:87-110):
    * input/output counts, error count, and the [[FailsSample]] smallest
    * dropped ids. The counts are two aggregates of their (typically
    * parquet-materialized) frames; a caller that already holds them
    * passes them to the other overload instead.
    */
  def failsReport(input: DataFrame, output: DataFrame, idCol: String,
                  path: String): Unit =
    failsReport(input, output, idCol, path, input.count(), output.count())

  /** The fails report with the input and output row counts given (a
    * pipeline stage's manifest holds them): one aggregate over the
    * anti-join counts the dropped ids and keeps the sample.
    */
  def failsReport(input: DataFrame, output: DataFrame, idCol: String,
                  path: String, nIn: Long, nOut: Long): Unit = {
    val aggs = dropped(col(idCol), input.schema(idCol).dataType)
    val r = input.select(col(idCol)).join(output.select(col(idCol)), Seq(idCol), "left_anti")
      .agg(aggs.head, aggs.tail: _*).head()
    writeFails(input.sparkSession, path, nIn, nOut, r.getLong(0), r.getSeq[Any](1))
  }

  /** Dropped ids a fails report lists. */
  val FailsSample = 100

  /** The fails report's aggregates over the rows where `among` holds:
    * their count (`n_dropped`) and the [[FailsSample]] smallest of their
    * `id`s, ascending (`dropped_ids`). The sample is a bounded aggregate
    * merged across partitions, so unlike a `limit` it does not depend on
    * how the rows are partitioned. Integral ids sort as numbers, string
    * ids as strings; `idType` is the id column's type.
    */
  def dropped(id: Column, idType: DataType, among: Column = lit(true)): Seq[Column] = {
    val sample = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        udaf(new Smallest(FailsSample, ExpressionEncoder[Array[java.lang.Long]](),
          Ordering.by[java.lang.Long, Long](_.longValue)), Encoders.LONG)(when(among, id.cast(LongType)))
      case StringType =>
        udaf(new Smallest(FailsSample, ExpressionEncoder[Array[String]](), Ordering.String),
          Encoders.STRING)(when(among, id))
      case other => throw new IllegalArgumentException(s"fails report: ids of type $other")
    }
    Seq(count(when(among, lit(1))).as("n_dropped"), sample.as("dropped_ids"))
  }

  /** `fails_<x>.json`: the counts, then the sampled ids (numeric ids
    * bare, anything else a quoted JSON string).
    */
  def writeFails(spark: SparkSession, path: String, nIn: Long, nOut: Long, nErr: Long,
                 ids: Seq[Any]): Unit = {
    val sample = ids.map {
      case n: java.lang.Number => n.toString
      case other => Json.quote(String.valueOf(other))
    }.mkString("[", ", ", "]")
    Fs.writeString(spark, path,
      s"""{"input_count": $nIn, "output_count": $nOut, "number_of_errors": $nErr, "error_ids": $sample}""")
  }

  /** The `k` smallest non-null inputs, ascending. A buffer holds at most
    * `k` sorted values, so an input at or above a full buffer's largest
    * costs one comparison.
    */
  private final class Smallest[T >: Null <: AnyRef : ClassTag](k: Int, enc: Encoder[Array[T]],
      order: Ordering[T]) extends Aggregator[T, Array[T], Array[T]] {
    private implicit def ord: Ordering[T] = order
    def zero: Array[T] = Array.empty[T]
    def reduce(b: Array[T], a: T): Array[T] =
      if (a == null || (b.length == k && ord.gteq(a, b(k - 1)))) b
      else {
        val i = b.search(a).insertionPoint
        val r = new Array[T](math.min(b.length + 1, k))
        System.arraycopy(b, 0, r, 0, i)
        r(i) = a
        System.arraycopy(b, i, r, i + 1, r.length - i - 1)
        r
      }
    def merge(a: Array[T], b: Array[T]): Array[T] = (a ++ b).sorted.take(k)
    def finish(b: Array[T]): Array[T] = b
    def bufferEncoder: Encoder[Array[T]] = enc
    def outputEncoder: Encoder[Array[T]] = enc
  }
}
