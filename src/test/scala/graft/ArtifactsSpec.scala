package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Artifacts

/** Laws of the session-artifact layer: build-once per key (nested
  * builds of distinct keys legal, concurrent first callers serialized,
  * same-key re-entry loud), a key that changes with the build params
  * and with the files of the inputs, and one eviction path that
  * releases frames and roots. The last two cases pin the two defects of
  * the per-family memos this layer replaced: index roots keyed on
  * `dir.hashCode` (two colliding dirs shared one IVF tree) and
  * results served stale after an input was rewritten in place.
  */
class ArtifactsSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a build runs exactly once per key") {
    var n = 0
    Artifacts.value(spark, "", Nil, "spec.once") { n += 1 }
    Artifacts.value(spark, "", Nil, "spec.once") { n += 1 }
    assert(n == 1)
  }

  test("nested builds of distinct keys are legal, across many key pairs") {
    // 256 nested pairs: with builds running inside computeIfAbsent this
    // dies with "Recursive update" as soon as an outer/inner pair shares
    // a hash bin; per-key lock objects never nest map mutation
    var built = 0
    (0 until 256).foreach { i =>
      Artifacts.value(spark, "", Nil, "spec.outer", i) {
        Artifacts.value(spark, "", Nil, "spec.inner", i) { built += 1 }
      }
    }
    assert(built == 256)
    var again = 0
    (0 until 256).foreach(i => Artifacts.value(spark, "", Nil, "spec.inner", i) { again += 1 })
    assert(again == 0)
  }

  test("concurrent first callers of one key serialize to one build") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 8).map(_ => new Thread(() =>
      Artifacts.value(spark, "", Nil, "spec.concurrent") {
        Thread.sleep(20); n.incrementAndGet()
      }: Unit))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(n.get() == 1)
  }

  test("a build that re-enters its own key fails loudly") {
    val e = intercept[IllegalStateException] {
      Artifacts.value(spark, "", Nil, "spec.reentry") {
        Artifacts.value(spark, "", Nil, "spec.reentry")(0)
      }
    }
    assert(e.getMessage.contains("spec.reentry"))
  }

  test("a param change misses; the same params hit") {
    var n = 0
    Seq(1, 2, 1, "1").foreach(p => Artifacts.value(spark, "", Nil, "spec.params", p) { n += 1 })
    assert(n == 3) // 1, 2 and "1" (a String, not the Int 1) each build once
  }

  test("a rewritten input misses, also when swapped in outside Spark") {
    import spark.implicits._
    val dir = tmpDir("art_rewrite")
    val table = s"$dir/documents.parquet"
    def counts(): (Long, Long) = (
      Artifacts.value(spark, dir, Seq("documents"), "spec.count")(
        graft.core.Tables.documents(spark, dir).count()),
      Artifacts.frame(spark, dir, Seq("documents"), "spec.docs")(
        graft.core.Tables.documents(spark, dir)).count())
    def docs(n: Long) = (1L to n).map(i => (i, s"t$i")).toDF("doc_id", "text")
    docs(1).write.mode("overwrite").parquet(table)
    assert(counts() == ((1L, 1L)))
    assert(counts() == ((1L, 1L)))
    docs(2).write.mode("overwrite").parquet(table)
    assert(counts() == ((2L, 2L)))
    // a file-level swap: no Spark write refreshes the persisted frame, so
    // only the fingerprint (and evicting the superseded frame, whose scan
    // Spark's cache would otherwise match by path) sees the new rows
    val staged = tmpDir("art_rewrite_staged") + "/documents.parquet"
    docs(3).write.parquet(staged)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(table))
    java.nio.file.Files.move(java.nio.file.Paths.get(staged), java.nio.file.Paths.get(table))
    assert(counts() == ((3L, 3L)))
  }

  test("eviction unpersists frames and deletes roots; the next call rebuilds") {
    val dir = tmpDir("art_evict")
    val df = Artifacts.frame(spark, dir, Nil, "spec.frame")(spark.range(10).toDF())
    assert(df.storageLevel != StorageLevel.NONE)
    val root = Artifacts.root(spark, dir, Nil, "spec.root") { r =>
      spark.range(3).write.parquet(r)
    }
    assert(new java.io.File(root).exists())
    Artifacts.evict(spark)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!new java.io.File(root).exists())
    var rebuilt = false
    Artifacts.root(spark, dir, Nil, "spec.root") { r =>
      rebuilt = true; spark.range(3).write.parquet(r)
    }
    assert(rebuilt)
  }

  test("dirs whose paths share a hashCode get their own IVF roots") {
    import spark.implicits._
    val base = tmpDir("art_collide")
    val (a, b) = (s"$base/Aa", s"$base/BB")
    assert(a.hashCode == b.hashCode)
    // same query ids (0..9), disjoint candidate ids: every neighbor a
    // dir returns must come from its own table
    def write(dir: String, candFrom: Long, seed: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      ((0L until 10L) ++ (candFrom until candFrom + 50L))
        .map(id => (id, Array.fill(8)(rnd.nextFloat()), (id % 3).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    write(a, 100L, 1)
    write(b, 500L, 2)
    def nids(dir: String): Set[Long] =
      graft.queries.EmbedQueries.embedIvfIndexRoundtrip.run(spark, dir)
        .select(col("nid")).as[Long].collect().toSet
    val (na, nb) = (nids(a), nids(b))
    assert(na.nonEmpty && na.forall(n => n >= 100L && n < 150L), s"Aa answered from $na")
    assert(nb.nonEmpty && nb.forall(n => n >= 500L && n < 550L), s"BB answered from $nb")
    assert(graft.queries.EmbedQueries.ivfFullRoot(spark, a, 16) !=
      graft.queries.EmbedQueries.ivfFullRoot(spark, b, 16))
  }

  test("dedup_clusters sees a documents table rewritten in place") {
    import spark.implicits._
    val dir = tmpDir("art_dedup_rewrite")
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"other$i").mkString(" ")
    val v1 = Seq((1L, body), (2L, body), (3L, body),
      (4L, (1 to 30).map(i => s"alpha$i").mkString(" ")))
    def clusters(): Set[(Long, Long)] =
      graft.queries.DedupQueries.dedupClusters.run(spark, dir)
        .select(col("node"), col("rep")).as[(Long, Long)].collect().toSet
    v1.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(clusters() == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // plant one near-duplicate pair: 29 shingles each, 28 shared (J ~ 0.93)
    (v1 ++ Seq((6L, s"$other end"), (7L, s"$other fin"))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(clusters() == Set((1L, 1L), (2L, 1L), (3L, 1L), (6L, 6L), (7L, 6L)))
  }
}
