package graft

import org.apache.spark.sql.functions._
import graft.core.Sinks

class SinksSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("sinks").toString

  test("header CSV roundtrip") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val p = tmp() + "/csv"
    Sinks.csvWithHeader(df, p)
    val back = spark.read.option("header", "true").csv(p)
    assert(back.columns.toSeq === Seq("id", "v"))
    assert(back.count() === 2L)
  }

  test("csv/json roundtrip gate rows survive embedded commas, quotes, newlines and unicode") {
    import spark.implicits._
    val dir = tmp()
    // the adversarial payloads a naive CSV writer mangles
    val docs = Seq(
      (1L, "plain text", "en", "web", 10L),
      (2L, "comma, separated, values", "en", "web", 24L),
      (3L, "say \"hello\" twice", "de", "book", 17L),
      (4L, "line one\nline two", "de", "book", 17L),
      (5L, "unicode: café — emoji 😀", "es", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // roundtrip result must equal the same rollup computed DIRECTLY on
    // the source — any write/read loss shows up in n_rows or text_sig
    graft.ops.TextOps.ensureFunctions(spark)
    def direct(salt: String) = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(expr(graft.ops.TextOps.portableHash64Sql(s"'$salt'", "text")) % 1000003L)
          .as("text_sig"))
      .orderBy(col("lang"), col("source"))
      .collect().map(_.toString).toSeq
    val csvGot = graft.queries.BicisQueries.qCsvRoundtrip.run(spark, dir)
      .collect().map(_.toString).toSeq
    val jsonGot = graft.queries.BicisQueries.qJsonRoundtrip.run(spark, dir)
      .collect().map(_.toString).toSeq
    assert(csvGot === direct("cs"), "CSV roundtrip lost content")
    assert(jsonGot === direct("js"), "JSON roundtrip lost content")
  }

  test("fails report reconciles dropped rows with sample ids") {
    import spark.implicits._
    val input = (1L to 10L).toDF("id")
    val output = input.where(col("id") % 3 =!= 0)
    val p = tmp() + "/fails.json"
    Sinks.failsReport(input, output, "id", p)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(txt.contains(""""input_count": 10"""))
    assert(txt.contains(""""number_of_errors": 3"""))
    assert(txt.contains("3") && txt.contains("6") && txt.contains("9"))
  }

  test("fails report: the count and the 100 smallest dropped ids, whatever the partitioning") {
    import spark.implicits._
    // 250 of 1000 ids dropped, the input in shuffled order
    val ids = new scala.util.Random(3).shuffle((1L to 1000L).toList)
    val want = s"""{"input_count": 1000, "output_count": 750, "number_of_errors": 250, """ +
      s""""error_ids": ${(4L to 400L by 4L).mkString("[", ", ", "]")}}"""
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq(1, 7).foreach { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      val input = ids.toDF("id").repartition(n)
      val output = input.where(col("id") % 4 =!= 0)
      val p = tmp() + "/fails.json"
      Sinks.failsReport(input, output, "id", p)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p)) === want, s"$n partitions")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    // string ids sort as strings and are written as JSON strings
    val p = tmp() + "/fails_str.json"
    val docs = Seq("b\"x", "a", "c", "d").toDF("doc_id")
    Sinks.failsReport(docs, docs.where(col("doc_id") === "a"), "doc_id", p, 4L, 1L)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p)) ===
      """{"input_count": 4, "output_count": 1, "number_of_errors": 3, "error_ids": ["b\"x", "c", "d"]}""")
  }

  test("sharded parquet: hive layout, small-files collapse, maxRecordsPerFile cap, roundtrip") {
    import spark.implicits._
    // 4 partitions of skewed sizes across 8 input tasks — without the
    // pre-write repartition this would emit up to 8 x 4 files
    val df = (1L to 1000L).toDF("id")
      .repartition(8)
      .withColumn("lang", concat(lit("l"), col("id") % 4))
      .withColumn("v", col("id") * 7 % 1000)
    val p = tmp() + "/shards"
    Sinks.shardedParquet(df, p, Seq("lang"), Seq("v"), maxRecordsPerFile = 100L)
    val dirs = new java.io.File(p).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("lang=l0", "lang=l1", "lang=l2", "lang=l3"))
    // 250 rows per lang at cap 100: >= 3 files (cap), and the range
    // partitioning keeps the small end collapsed — a lang spans at most
    // a couple of range tasks, nowhere near the 8-input-task explosion
    val allFiles = dirs.flatMap { d =>
      val files = new java.io.File(s"$p/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length >= 3 && files.length <= 6, s"$d: ${files.length} files")
      files
    }
    // the big-end cap is per FILE, regardless of task layout
    allFiles.foreach { f =>
      val n = spark.read.parquet(f.getPath).count()
      assert(n <= 100L, s"${f.getName}: $n rows > maxRecordsPerFile")
    }
    val back = spark.read.parquet(p)
    assert(back.count() === 1000L)
    assert(back.select(sum(col("id"))).head.getLong(0) === (1L to 1000L).sum)
    // within-file sort makes parquet min/max stats selective: a v-range
    // scan must skip row groups... at this size just pin the row order
    val firstFile = new java.io.File(s"$p/lang=l0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.head
    val vs = spark.read.parquet(firstFile).select("v").collect().map(_.getLong(0))
    assert(vs.toSeq === vs.sorted.toSeq, "rows not sorted within file")
  }

  test("incremental sharded parquet: changed-partition-only rewrites, retraction deletes, crash self-heal, hostile values") {
    import spark.implicits._
    def rows(ps: Seq[(String, Long, Long)]) =
      ps.toDF("src", "pos", "doc_id").withColumn("text", concat(lit("t"), col("doc_id")))
    val p = tmp() + "/inc"
    def files(sub: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$p/src=$sub")
      if (!d.isDirectory) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val base = rows(Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 1L, 3L), ("b", 2L, 4L)))
    // first write: full (-1)
    assert(Sinks.shardedParquetIncremental(base, p, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1)
    val fA = files("a"); val fB = files("b")
    // identical content: no-op (0), nothing touched
    assert(Sinks.shardedParquetIncremental(base, p, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 0)
    assert(files("a") == fA && files("b") == fB)
    // change confined to src=b: only b rewrites
    val changed = rows(Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 1L, 3L), ("b", 3L, 5L)))
    assert(Sinks.shardedParquetIncremental(changed, p, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 1)
    assert(files("a") == fA, "untouched partition was rewritten")
    assert(files("b") != fB, "changed partition kept stale files")
    assert(spark.read.parquet(p).count() === 4L)
    // retraction empties src=b entirely: its dir is deleted, the layout
    // read-back converges, and _SUCCESS is restored (deletions-only path)
    val onlyA = rows(Seq(("a", 1L, 1L), ("a", 2L, 2L)))
    assert(Sinks.shardedParquetIncremental(onlyA, p, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 1)
    assert(files("b").isEmpty, "emptied partition dir not deleted")
    assert(new java.io.File(s"$p/_SUCCESS").exists(), "_SUCCESS not restored")
    assert(spark.read.parquet(p).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
    // crash self-heal: a torn write leaves no _SUCCESS -> full rewrite
    new java.io.File(s"$p/_SUCCESS").delete()
    assert(Sinks.shardedParquetIncremental(onlyA, p, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1)
    // numeric-looking partition values: read-back inference must not
    // break the diff (old writer handled them; so must this one)
    val pn = tmp() + "/incnum"
    val num = Seq(("2023", 1L, 1L), ("2024", 1L, 2L)).toDF("src", "pos", "doc_id")
    assert(Sinks.shardedParquetIncremental(num, pn, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1)
    assert(Sinks.shardedParquetIncremental(num, pn, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 0)
    // hostile partition value ("x/y" escapes to x%2Fy on disk): a full
    // retraction must delete the ESCAPED dir, not a phantom raw path
    val ph = tmp() + "/incesc"
    val esc = Seq(("x/y", 1L, 1L), ("ok", 1L, 2L)).toDF("src", "pos", "doc_id")
    assert(Sinks.shardedParquetIncremental(esc, ph, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1)
    val keepOk = Seq(("ok", 1L, 2L)).toDF("src", "pos", "doc_id")
    assert(Sinks.shardedParquetIncremental(keepOk, ph, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 1)
    assert(!new java.io.File(s"$ph/src=x%2Fy").exists(),
      "escaped retracted partition dir survived")
    assert(spark.read.parquet(ph).count() === 1L)
  }

  test("incremental sharded parquet: null partitions, full-retraction unwedge, duplicate-row multiplicity") {
    import spark.implicits._
    // NULL partition value (reachable through normal ingest — source is
    // nullable): lands on disk as __HIVE_DEFAULT_PARTITION__; changes
    // inside it must be detected, sliced and written (r15 review: the
    // first cut's string-encoded key silently skipped null partitions)
    val pn = tmp() + "/incnull"
    def nrows(ps: Seq[(Option[String], Long, Long)]) =
      ps.toDF("src", "pos", "doc_id")
    val base = nrows(Seq((Some("a"), 1L, 1L), (None, 1L, 2L), (None, 2L, 3L)))
    assert(Sinks.shardedParquetIncremental(base, pn, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1)
    val gotNull = nrows(Seq((Some("a"), 1L, 1L), (None, 1L, 2L), (None, 3L, 4L)))
    assert(Sinks.shardedParquetIncremental(gotNull, pn, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 1, "null-partition change not detected")
    assert(spark.read.parquet(pn).where(col("src").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 4L),
      "null partition serves stale rows")
    // retracting the null partition entirely deletes its DEFAULT dir
    assert(Sinks.shardedParquetIncremental(
      nrows(Seq((Some("a"), 1L, 1L))), pn, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 1)
    assert(!new java.io.File(s"$pn/src=__HIVE_DEFAULT_PARTITION__").exists(),
      "retracted default-partition dir survived")

    // FULL retraction then re-population: the committed-but-file-less
    // layout must fall back to the full writer, not throw forever
    assert(Sinks.shardedParquetIncremental(
      nrows(Seq.empty), pn, Seq("src"), Seq("pos"), "doc_id", 1000) === 1)
    assert(new java.io.File(s"$pn/_SUCCESS").exists())
    assert(Sinks.shardedParquetIncremental(
      nrows(Seq((Some("z"), 1L, 9L))), pn, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1, "empty layout did not fall back to the full writer")
    assert(spark.read.parquet(pn).count() === 1L)

    // duplicate-row MULTIPLICITY change: the count-bearing diff must
    // see it (a set-except cannot)
    val pd = tmp() + "/incdup"
    val dup2 = nrows(Seq((Some("a"), 1L, 1L), (Some("a"), 1L, 1L)))
    assert(Sinks.shardedParquetIncremental(dup2, pd, Seq("src"), Seq("pos"),
      "doc_id", 1000) === -1)
    val dup1 = nrows(Seq((Some("a"), 1L, 1L)))
    assert(Sinks.shardedParquetIncremental(dup1, pd, Seq("src"), Seq("pos"),
      "doc_id", 1000) === 1, "multiplicity-only change invisible to the diff")
    assert(spark.read.parquet(pd).count() === 1L)
  }
}
