package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis and dedup building blocks for the training-data pipeline
  * extensions (builder prompt; SURVEY.md §7.5).
  *
  * Everything here is pure Catalyst column expressions — codegen'd, no
  * UDFs, no driver loops. Hashing is PORTABLE: derived from md5 hex so
  * DuckDB oracles compute bit-identical signatures. At production scale
  * you would swap `portableHash64` for `xxhash64` (Spark-native, ~10×
  * faster) — the operators take the hash expression as a parameter shape
  * to keep that swap local.
  *
  * Tokenization contract (shared with every oracle):
  *   words    = regexp_extract_all(lower(text), '[a-z0-9]+')
  *   shingles = distinct 3-word grams, space-joined; < 3 words -> empty
  */
object TextOps {

  /** A shingle/token hash as SQL text: (saltSql, valueSql) -> expr. */
  type HashSql = (String, String) => String

  /** 64-bit portable hash: first 15 hex digits of md5(salt:value) as a
    * long. Mirrors DuckDB `('0x' || substr(md5(salt || ':' || s), 1, 15))::BIGINT`.
    * Emits the native `portable_hash64` Expression (bit-exact with the
    * SQL formula — TextOpsSpec proves it — minus a 32-char hex
    * allocation + base-16 parse per call); callers building plans must
    * [[ensureFunctions]] on the session first.
    */
  def portableHash64Sql(saltSql: String, valueSql: String): String =
    s"portable_hash64(CAST($saltSql AS STRING), CAST($valueSql AS STRING))"

  /** The reference SQL formula (built-ins only), kept for differential
    * testing against the native expression.
    */
  def md5Hash64Sql(saltSql: String, valueSql: String): String =
    s"CAST(conv(substr(md5(CAST(concat(CAST($saltSql AS STRING), ':', $valueSql) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"

  /** Idempotent registration of the native hash for this session. */
  def ensureFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.functions.PortableHash64.register(spark)
    graft.functions.SimHash32.register(spark)
    graft.functions.MinHashSig.register(spark)
  }

  /** Production hash tier: Spark-native xxhash64 (codegen'd, no hex
    * round-trip — far cheaper PER CALL than the md5 path). Measured
    * END-TO-END (BASELINE.md r4): family totals are within host variance
    * of the portable tier at sf0.1, because the shared signature table
    * computes hashes once per corpus and tokenization/sort/joins dominate
    * that stage. The tier matters when hashing dominates (very long
    * documents, signatures recomputed per pass). Not DuckDB-reproducible,
    * so oracle-checked queries keep [[portableHash64Sql]]; the dedup
    * operators are hash-agnostic (TextOpsSpec proves identical pair
    * output under either). A/B via `-Dspark.graft.hash=xxhash64`.
    */
  def xxhash64Sql(saltSql: String, valueSql: String): String =
    s"xxhash64(CAST($saltSql AS STRING), $valueSql)"

  /** Session-selected shingle hash tier: the `spark.graft.hash` conf, the
    * one switch (`-Dspark.graft.hash=xxhash64` A/Bs the production tier
    * in any main without code changes) — "xxhash64" picks the
    * codegen'd production hash, anything else the DuckDB-checkable
    * portable md5. Oracle runs MUST stay on the default: xxhash64 is not
    * DuckDB-reproducible (pair output is identical — hash-agnostic,
    * TextOpsSpec — but hash-valued columns differ).
    */
  def activeHash(spark: org.apache.spark.sql.SparkSession): HashSql =
    spark.conf.get("spark.graft.hash", "portable") match {
      case "xxhash64" => xxhash64Sql
      case _          => portableHash64Sql
    }

  val wordsExpr: Column = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")

  /** Distinct 3-word shingles from a `__w` words column. Built from
    * whole-array slices zipped together (NOT per-element `__w[i]`
    * indexing): if the optimizer inlines the words expression here, it is
    * evaluated 4x per ROW — per-element indexing would re-run the
    * full-text regexp once per element (see `barrier`).
    */
  val shinglesExpr: Column = expr(
    """CASE WHEN size(__w) >= 3 THEN
      |  array_distinct(transform(
      |    arrays_zip(slice(__w, 1, size(__w) - 2),
      |               slice(__w, 2, size(__w) - 2),
      |               slice(__w, 3, size(__w) - 2)),
      |    p -> concat_ws(' ', p.`0`, p.`1`, p.`2`)))
      |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)

  /** Optimizer barrier: a semantic no-op aggregate on a unique key.
    *
    * LOAD-BEARING for every expensive derived column here. Two Catalyst
    * behaviors otherwise explode the cost model: (a) CollapseProject
    * inlines a projected expression into every later reference — a
    * per-element `__w[i]` access then re-runs the full-text
    * regexp_extract_all once per element; (b) InferFiltersFromConstraints
    * synthesizes `isnotnull(expensive_expr)` filters for join keys and
    * pushes them below a plain repartition, re-evaluating signatures per
    * input row (or, in a cartesian pair scan, per PAIR). Neither rule
    * crosses an Aggregate, so `groupBy(unique_key).agg(first(...))`
    * pins each derived column to exactly one evaluation per row. Payload
    * is the derived arrays only; at cluster scale this is one cheap
    * hash-partitioned shuffle of the profile table — the layout the
    * downstream self-joins want anyway.
    */
  def barrier(df: DataFrame, key: String): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    df.groupBy(col(key)).agg(first(col(others.head)).as(others.head),
      others.tail.toIndexedSeq.map(c => first(col(c)).as(c)): _*)
  }

  /** doc_id + non-empty shingle set behind ONE barrier: the slice/zip
    * shingle construction tolerates the words expression being inlined
    * (whole-array ops, constant evals per row), so only the final shingle
    * array needs pinning before self-joins.
    */
  def docShingles(docs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("__w", wordsExpr)
      .select(col("doc_id"), shinglesExpr.as("sh"))
      .where(size(col("sh")) > 0)
    barrier(sh, "doc_id")
  }

  /** The engine's universal-hash MinHash family h_i(x) = (a_i·(x%p)+i)%p
    * with a_i = ABase + i·AStep — ONE definition shared by the batch
    * LSH query, the streaming near-dup candidates, the bench warm-up
    * and the parity spec, so the constants cannot silently fork.
    */
  val MinHashABase = 1000003L
  val MinHashAStep = 7919L
  val MinHashP = 2147483647L // 2^31 − 1: keeps a_i·(x%p) under 2^62

  /** Native one-pass k-minima signature over a sorted shingle-hash
    * array column (see [[graft.functions.MinHashSig]]).
    */
  def minhashSigNative(hashes: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumns.column(graft.functions.MinHashSig(
      org.apache.spark.sql.GraftColumns.expression(hashes),
      k, MinHashABase, MinHashAStep, MinHashP))

  /** Sorted 64-bit hashes of a `sh` shingle-array column — the
    * signature-table projection shared by batch (barriered, memoized)
    * and streaming (map-only) consumers.
    */
  def sortedShingleHashes(hash: HashSql = portableHash64Sql): Column =
    array_sort(expr(s"transform(sh, x -> ${hash("'g'", "x")})"))

  /** (doc_id, band, bh) LSH band keys from a (doc_id, hs) signature
    * frame: minhash sign + band + explode. `pin = true` (batch) puts
    * the signature behind the evaluate-once [[barrier]] before the
    * downstream self-join; streaming callers pass `pin = false` —
    * Structured Streaming forbids an aggregate before arbitrary
    * stateful ops, and the banding there is map-only by design.
    */
  def bandedSignatures(hs: DataFrame, k: Int, bands: Int, r: Int,
                       pin: Boolean = true): DataFrame = {
    val sig0 = hs.select(col("doc_id"), minhashSigNative(col("hs"), k).as("sig"))
    val sig = if (pin) barrier(sig0, "doc_id") else sig0
    sig.select(col("doc_id"), explode(bandKeys(bands, r)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** LSH band keys: b bands of r signature rows each, keyed by an md5 of
    * the band's slice. Emitted as an array of (band, bh) structs.
    */
  def bandKeys(b: Int, r: Int): Column = {
    val slice = (0 until r)
      .map(o => s"CAST(sig[$r * b0 + $o] AS STRING)").mkString(", ',', ")
    expr(
      s"""transform(sequence(0, ${b - 1}), b0 -> struct(b0 AS band,
         |  md5(CAST(concat(CAST(b0 AS STRING), ':', $slice) AS BINARY)) AS bh))""".stripMargin)
  }

  /** 32-bit SimHash over the shingle set (sign of per-bit +/-1 sums). */
  val simhash32: Column = org.apache.spark.sql.GraftColumns.column(
    graft.functions.SimHash32(
      org.apache.spark.sql.GraftColumns.expression(col("__wh"))))

  /** The reference nested-HOF formula (built-ins only), kept for
    * differential testing against the native expression: the inner
    * lambda re-walks the hash array once per bit, interpreted — do not
    * use on a hot path (TextOpsSpec pins native == HOF, including the
    * NULL-element / NULL-array / empty-array corners).
    */
  val simhash32Hof: Column = expr(
    s"""CAST(aggregate(sequence(0, 31), CAST(0 AS BIGINT),
       |  (acc, i) -> acc + IF(
       |    aggregate(__wh, 0, (a2, h) -> a2 + IF(((h >> i) & 1) = 1, 1, -1)) >= 0,
       |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))) AS BIGINT)""".stripMargin)

  /** Jaccard similarity of two distinct-element array columns, rounded
    * to 6 (the cross-engine comparison granularity).
    */
  def jaccard(a: Column, bCol: Column): Column = {
    val inter = size(array_intersect(a, bCol))
    round(inter / (size(a) + size(bCol) - inter), 6)
  }
}
