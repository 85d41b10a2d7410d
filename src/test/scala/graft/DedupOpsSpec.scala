package graft

import org.apache.spark.sql.functions._

/** Unit tests for the dedup building blocks that the DuckDB oracle gate
  * cannot falsify on its own — where Spark and oracle SQL share an
  * algorithm, a bug lands identically on both sides and hash-parity
  * still passes, so the semantics are pinned here against hand-computed
  * fixtures.
  */
class DedupOpsSpec extends SparkSpec {

  test("alignmentRuns groups islands PER DIAGONAL (the i,j,k-only grouping counter-example)") {
    import spark.implicits._
    // two matches of the SAME pi on different diagonals: each diagonal
    // partition gives rn = 1, so k = pi - 1 = 9 for BOTH — grouping on
    // (i, j, k) alone would fuse them into a phantom run of 2
    val m = Seq((1L, 2L, 10L, 3L), (1L, 2L, 10L, 5L)).toDF("i", "j", "pi", "pj")
    val got = graft.queries.DedupQueries.alignmentRuns(m, winW = 8).collect()
    assert(got.length === 1)
    assert(got(0).getLong(2) === 8L, // run of 1 window -> 1 + 8 - 1 words
      s"phantom cross-diagonal run: ${got(0)}")
  }

  test("alignmentRuns merges consecutive windows on one diagonal and takes the max across pairs") {
    import spark.implicits._
    val m = Seq(
      // pair (1,2): 3 consecutive windows on diagonal 7 -> run 3 -> 10 words
      (1L, 2L, 10L, 3L), (1L, 2L, 11L, 4L), (1L, 2L, 12L, 5L),
      // plus a lone off-diagonal match that must not extend the run
      (1L, 2L, 20L, 1L),
      // pair (1,3): two separate islands on one diagonal -> max run 2 -> 9
      (1L, 3L, 5L, 5L), (1L, 3L, 6L, 6L), (1L, 3L, 9L, 9L)
    ).toDF("i", "j", "pi", "pj")
    val got = graft.queries.DedupQueries.alignmentRuns(m, winW = 8)
      .orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 10L), (1L, 3L, 9L)))
  }

  test("dedup_lines: df-threshold boilerplate + keep-first duplicate removal, hand fixture") {
    import spark.implicits._
    // seg = 3 words, minDf = 3. L = "aaa bbb ccc" is the planted
    // boilerplate line (4 distinct docs); "xxx yyy zzz" repeats in 2
    // docs (below threshold, but its later occurrence is a dup);
    // doc 5 is shorter than one segment (no output row); doc 6 has a
    // 7th word that must be dropped as an incomplete tail segment.
    val docs = Seq(
      (1L, "aaa bbb ccc xxx yyy zzz"),
      (2L, "aaa bbb ccc one two three"),
      (3L, "aaa bbb ccc aaa bbb ccc"),
      (4L, "xxx yyy zzz foo bar baz"),
      (5L, "pp qq"),
      (6L, "aaa bbb ccc ddd eee fff ggg")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("lines").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.DedupQueries.dedupLines.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 0L), // L first occurrence + unique-first xyz
      (2L, 2L, 1L, 1L), // L again: boiler + dup_later
      (3L, 2L, 2L, 2L), // L twice, both later than doc 1's
      (4L, 2L, 0L, 1L), // xyz later occurrence: dup but NOT boiler (df=2)
      (6L, 2L, 1L, 1L)  // L later + unique "ddd eee fff"; tail word dropped
    ))
  }

  test("text_gopher_rules: digit-only tokens flip r_alpha; mixed tokens do not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stops = "the and of to in a is" // 7 stop words, satisfies r_stop
    val base = (1 to 10).map(i => s"word$i alpha beta").mkString(" ") // mixed+alpha tokens
    val docs = Seq(
      // 37 alpha-ish words + 13 digit-only = 50 words, 26% numeric -> r_alpha fails
      (1L, s"$stops $base " + (1 to 13).map(_.toString * 3).mkString(" ")),
      // same shape but numeric tokens carry a letter -> r_alpha passes
      (2L, s"$stops $base " + (1 to 13).map(i => s"x${i}0").mkString(" "))
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("gopher").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.TextQueries.textGopherRules.run(spark, tmp)
      .select(col("doc_id"), col("nw"), col("r_alpha"), col("r_stop"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq === Seq((1L, 50L, 0, 1), (2L, 50L, 1, 1)))
  }

  test("ml_quality_funnel: exact-dup keep-first zeroes k_exact (corpus has no dups to exercise it)") {
    import spark.implicits._
    // 60 words incl. en stopwords -> k_gopher and k_lang pass for all;
    // docs 1 and 3 are byte-identical, so doc 3 fails ONLY k_exact
    val good = "the and of to in " + (1 to 55).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, good), (2L, good + " extra"), (3L, good)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("funnel").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.MlQueries.mlQualityFunnel.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got.toSeq === Seq(
      (1L, 1, 1, 1, 1),
      (2L, 1, 1, 1, 1),
      (3L, 1, 1, 0, 0))) // the later twin: dropped by dedup alone
  }

  test("dedup_cluster_stats: one planted triple -> a single size-3 cluster row") {
    import spark.implicits._
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, body), (2L, body), (3L, body),
      (4L, (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (5L, (1 to 30).map(i => s"beta$i").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cstats").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.DedupQueries.dedupClusterStats.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((3L, 1L, 3L)), s"got $got")
  }

  test("dedup_lsh_recall: identical docs are always surfaced (recall 1), counts reconcile") {
    import spark.implicits._
    // three identical docs -> 3 true pairs with identical MinHash sigs
    // (every band collides -> all 3 in the candidate set, recall 1.0);
    // two unrelated docs contribute no truth. Long docs so the 20%
    // prefix filter has tokens to work with.
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, body), (2L, body), (3L, body),
      (4L, (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (5L, (1 to 30).map(i => s"beta$i").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("lshrec").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.queries.DedupQueries.dedupLshRecall.run(spark, tmp).head()
    assert(r.getAs[Long]("n_true") === 3L)
    assert(r.getAs[Long]("n_hit") === 3L)
    assert(r.getAs[Double]("recall") === 1.0)
    assert(r.getAs[Long]("n_cand") >= 3L)
    assert(r.getAs[Double]("precision") > 0.0 && r.getAs[Double]("precision") <= 1.0)
  }

  test("text_winnowing: the w+k-1 guarantee — docs sharing a long run share a fingerprint") {
    import spark.implicits._
    // w=4, k=3: any shared run of >= 6 words must contribute at least one
    // COMMON selected hash. Docs 1 and 2 share an 8-word run embedded in
    // otherwise disjoint text; doc 3 is fully disjoint.
    val shared = "quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"one two three four $shared five six seven"),
      (3L, "red green blue cyan magenta yellow black white grey pink")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sel = graft.queries.TextQueries.textWinnowing.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = sel.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared 8-word run left no common fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint doc shares a fingerprint — hash space too collided for the fixture")
    // density: winnowing keeps a strict subset, and every doc keeps >= 1
    sel.groupBy(_._1).foreach { case (d, rows) =>
      val nPos = docs.where(col("doc_id") === d).head().getString(1).split(" ").length - 2
      assert(rows.length >= 1 && rows.length < nPos, s"doc $d selected ${rows.length} of $nPos")
      rows.foreach { case (_, pos, _) => assert(pos >= 0 && pos < nPos) }
    }
  }

  test("dedup_edit_distance: typo twins pair within the block; lead-edits escape it; far pairs verify out") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, base),
      (2L, "the quick brewn fox jumps over the lazy dog"),  // 1 edit past char 8 -> pairs with 1
      (3L, "xhe quick brown fox jumps over the lazy dog"),  // lead edit: different block, escapes
      (4L, "the quick aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")      // same block, d >> 4 -> verified out
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("editdist").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.DedupQueries.dedupEditDistance.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 1L)),
      s"expected exactly the typo twin at distance 1, got ${got.toSeq}")
  }

  test("text_code_detect: a planted code snippet fires both signals; prose stays negative") {
    import spark.implicits._
    val code = "def main(args): { int x = compute(1); return x; } " +
      "import sys; class Foo { void run() { y = x[0] <= 3; } }"
    val prose = "the quiet afternoon settled over the valley as the travellers " +
      "walked toward the distant village and spoke of the harvest"
    val docs = Seq((1L, code), (2L, prose)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("codedetect").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.TextQueries.textCodeDetect.run(spark, tmp)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    val (sym, kw, isCode) = got(1L)
    assert(sym > 10 && kw >= 2 && isCode === 1L, s"code doc signals: $sym, $kw, $isCode")
    val (symP, kwP, isCodeP) = got(2L)
    assert(symP === 0L && kwP === 0L && isCodeP === 0L, s"prose doc signals: $symP, $kwP, $isCodeP")
  }
}
