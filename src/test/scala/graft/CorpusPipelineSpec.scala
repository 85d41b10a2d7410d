package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{CorpusConfig, CorpusPipeline}

/** Stage-vs-gate parity for the composed LLM-corpus DAG: every
  * CorpusPipeline stage output must equal the corresponding ORACLE-GATED
  * query run on the same corpus — the pipeline is the gate queries'
  * plans composed, so any drift here is a real semantic fork. Also pins
  * the checkpoint-skip and fingerprint-invalidation behavior the bicis
  * Pipeline established (§2.12).
  */
class CorpusPipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def mkdir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write `docs` as `<dir>/documents.parquet` so the (s, dir)-shaped
    * gate queries can run against it.
    */
  private def asCorpusDir(docs: DataFrame, prefix: String): String = {
    val dir = mkdir(prefix)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def assertSame(stage: DataFrame, gate: DataFrame, what: String): Unit = {
    val s = rows(stage); val g = rows(gate)
    assert(s == g,
      s"$what diverged: stage-only=${(s -- g).take(3)} gate-only=${(g -- s).take(3)}")
  }

  test("every CorpusPipeline stage hash-equals its gate query; skip and fingerprint behave") {
    val docs0 = graft.core.Tables.documents(spark, sfDir)
    // JSONL input: the real ingest format, with two corrupt lines planted
    // to exercise the F4 quarantine path
    val jsonlDir = mkdir("corpus_jsonl")
    val jsonl = s"$jsonlDir/docs.jsonl"
    docs0.toJSON.coalesce(1).write.mode("overwrite").text(s"$jsonlDir/clean")
    val clean = new java.io.File(s"$jsonlDir/clean").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val w = new java.io.PrintWriter(jsonl)
    try {
      w.println("{not json at all")
      scala.io.Source.fromFile(clean).getLines().foreach(w.println)
      w.println("""{"doc_id": null, "text": null}""")
    } finally w.close()

    val outDir = mkdir("corpus_out")
    val res = graft.pipeline.CorpusPipeline.run(spark, jsonl, outDir)

    // ---- ingest: corrupt lines quarantined, clean rows intact ----
    assert(res.nRaw == res.nDocs + 2, s"raw=${res.nRaw} docs=${res.nDocs}")
    val docsStage = spark.read.parquet(s"$outDir/docs")
    assertSame(docsStage, docs0, "docs stage vs source table")

    // ---- funnel ≡ ml_quality_funnel on the same corpus ----
    val srcDir = asCorpusDir(docsStage, "corpus_src")
    assertSame(spark.read.parquet(s"$outDir/funnel"),
      graft.queries.MlQueries.mlQualityFunnel.run(spark, srcDir), "funnel")

    // ---- dedup tiers ≡ their gate queries on the kept corpus ----
    val keptDir = asCorpusDir(spark.read.parquet(s"$outDir/kept"), "corpus_kept")
    assertSame(spark.read.parquet(s"$outDir/pairs"),
      graft.queries.DedupQueries.dedupMinhashLsh.run(spark, keptDir), "pairs")
    assertSame(spark.read.parquet(s"$outDir/clusters"),
      graft.queries.DedupQueries.dedupClusters.run(spark, keptDir), "clusters")
    assertSame(spark.read.parquet(s"$outDir/canonical"),
      graft.queries.DedupQueries.dedupBestSurvivor.run(spark, keptDir), "canonical")
    assertSame(
      graft.queries.DedupQueries.clusterSplitCensus(
        spark.read.parquet(s"$outDir/split")),
      graft.queries.DedupQueries.mlClusterSplit.run(spark, keptDir), "split census")

    // ---- mixture / epoch order ≡ gate queries on the survivors ----
    val survStage = spark.read.parquet(s"$outDir/survivors")
    val survDir = asCorpusDir(survStage, "corpus_surv")
    assertSame(spark.read.parquet(s"$outDir/mixture"),
      graft.queries.MlQueries.mlMixtureEpochs.run(spark, survDir), "mixture")
    assertSame(spark.read.parquet(s"$outDir/epoch_order"),
      graft.queries.MlQueries.mlEpochOrderStable.run(spark, survDir), "epoch order")

    // ---- survivors = kept minus non-canonical members ----
    val kept = spark.read.parquet(s"$outDir/kept")
    val canonical = spark.read.parquet(s"$outDir/canonical")
    val clusters = spark.read.parquet(s"$outDir/clusters")
    val expectedSurv = kept.join(
      clusters.join(canonical.select(col("best_doc")),
          col("node") === col("best_doc"), "left_anti")
        .select(col("node").as("doc_id")),
      Seq("doc_id"), "left_anti")
    assertSame(survStage, expectedSurv, "survivors")
    assert(res.nSurvivors == res.nKept -
      (clusters.count() - canonical.count()), "survivor arithmetic")

    // ---- sharded output: read-back equals the corpus stage, split
    // directories partition-prune ----
    val corpus = spark.read.parquet(s"$outDir/corpus")
    val shards = spark.read.parquet(s"$outDir/shards")
    assertSame(
      shards.select(corpus.columns.map(col).toIndexedSeq: _*), corpus, "shards read-back")
    assert(new java.io.File(s"$outDir/shards").listFiles()
      .exists(_.getName.startsWith("split=")), "split partition dirs missing")

    // ---- dataset card: parses, constraints all pass on the shipped
    // corpus, residual exact-dup rate is zero post-dedup ----
    val card = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outDir/dataset_card.json")))
    assert(card.contains("\"key_uniqueness\": {\"metric\": 1.0, \"pass\": true}"),
      s"key uniqueness not clean in card: $card")
    assert(!card.contains("\"pass\": false"), s"failing constraint in card: $card")
    assert(!card.replaceAll("\"dup_rate\": 0\\.0", "").contains("dup_rate\": "),
      s"non-zero residual exact-dup rate after dedup: $card")

    // ---- checkpoint-skip: a second run serves every stage from parquet
    // (stage dirs untouched) and returns the same result ----
    val stamps = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    val res2 = graft.pipeline.CorpusPipeline.run(spark, jsonl, outDir)
    assert(res2 == res, "re-run result drifted")
    val stamps2 = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(stamps2 == stamps, "a checkpointed stage was rewritten on re-run")

    // ---- fingerprint: a config change against the same outDir must
    // recompute, not serve stale targets ----
    val res3 = graft.pipeline.CorpusPipeline.run(spark, jsonl, outDir,
      CorpusConfig(epochSeed = "ep2"))
    assert(res3.nSurvivors == res.nSurvivors)
    val stamps3 = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(stamps3("epoch_order") != stamps("epoch_order"),
      "config change did not invalidate the experiment")
    // the new seed is a genuinely different permutation
    val o1 = spark.read.parquet(s"$outDir/epoch_order")
    assert(rows(o1) != rows(
      graft.queries.MlQueries.mlEpochOrderStable.run(spark, survDir)),
      "epoch seed change produced the identical order")
  }

  test("optional media/semantic dedup stages == their gate queries; corpus ships the reduced set") {
    val docs0 = graft.core.Tables.documents(spark, sfDir)
    val jsonlDir = mkdir("mm_jsonl")
    docs0.toJSON.coalesce(1).write.mode("overwrite").text(s"$jsonlDir/jsonl")

    // ---- run 1: pHash tier only. The stub codec's md5-derived 16-bit
    // hash is near-uniform, so at 500 docs the hamming ≤ 3 tier is
    // false-positive dominated and collapses most of the corpus — fine
    // for parity (the gate query computes the identical collapse), and
    // exactly why the tiers are spec'd separately. ----
    val out1 = mkdir("mm_out_ph")
    val res1 = CorpusPipeline.run(spark, s"$jsonlDir/jsonl", out1,
      CorpusConfig(phashDedup = true))
    val survDir = asCorpusDir(spark.read.parquet(s"$out1/survivors"), "mm_surv")
    val pp = spark.read.parquet(s"$out1/phash_pairs")
    assertSame(pp,
      graft.queries.EmbedQueries.multimodalPhashDedup.run(spark, survDir), "phash pairs")
    assert(pp.count() > 0, "no phash pairs — parity is vacuous")
    val pdrop = graft.ops.Components.connectedComponents(pp.select(col("i"), col("j")))
      .where(col("node") =!= col("rep")).select(col("node").as("doc_id"))
    val ps = spark.read.parquet(s"$out1/phash_survivors")
    assertSame(ps, spark.read.parquet(s"$out1/survivors")
      .join(pdrop, Seq("doc_id"), "left_anti"), "phash survivors")
    assert(res1.nSurvivors == ps.count(), "result survivor count != phash survivors")
    assert(spark.read.parquet(s"$out1/corpus").count() == res1.nSurvivors,
      "corpus table does not ship the phash-reduced set")
    assert(ps.count() < spark.read.parquet(s"$out1/survivors").count(),
      "phash tier dropped nothing — fixture is vacuous")

    // ---- run 2: semantic tier only (full embedding table in play) ----
    val out2 = mkdir("mm_out_sem")
    val res2 = CorpusPipeline.run(spark, s"$jsonlDir/jsonl", out2,
      CorpusConfig(semanticDedup = true,
        embeddingsPath = s"$sfDir/embeddings.parquet"))
    val surv2 = spark.read.parquet(s"$out2/survivors")
    val embDir = mkdir("mm_emb")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .join(surv2.select(col("doc_id").as("vec_id")), "vec_id")
      .write.mode("overwrite").parquet(s"$embDir/embeddings.parquet")
    val drops = spark.read.parquet(s"$out2/semantic_drops")
    assertSame(drops,
      graft.queries.EmbedQueries.dedupSemantic.run(spark, embDir), "semantic drops")
    assert(drops.count() > 0, "fixture produced no semantic drops — parity is vacuous")
    val s2 = spark.read.parquet(s"$out2/semantic_survivors")
    assert(res2.nSurvivors == s2.count(), "result survivor count != semantic survivors")
    assert(spark.read.parquet(s"$out2/corpus").count() == res2.nSurvivors,
      "corpus table does not ship the semantic-reduced set")
    assert(s2.count() < surv2.count(), "semantic tier dropped nothing — fixture is vacuous")
  }

  test("tokenizer stage == Bpe.fit on the train-split survivors (leakage-aware training set)") {
    val docs0 = graft.core.Tables.documents(spark, sfDir)
    val jsonlDir = mkdir("bpe_jsonl")
    docs0.toJSON.coalesce(1).write.mode("overwrite").text(s"$jsonlDir/jsonl")
    val out = mkdir("bpe_out")
    CorpusPipeline.run(spark, s"$jsonlDir/jsonl", out, CorpusConfig(bpeMerges = 4))

    val trainDocs = spark.read.parquet(s"$out/survivors").join(
      spark.read.parquet(s"$out/split")
        .where(col("split") === "train").select(col("doc_id")), "doc_id")
    import spark.implicits._
    val want = graft.ops.Bpe.fit(trainDocs, 4)
      .map(m => (m.rank.toLong, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
    val got = spark.read.parquet(s"$out/tokenizer")
    assertSame(got, want, "tokenizer stage vs Bpe.fit on train split")
    assert(got.count() == 4 && got.agg(min(col("pair_count"))).head.getLong(0) > 0,
      "tokenizer fixture is vacuous")
    // leakage fence: retraining on ALL survivors must differ from the
    // shipped table at this fixture (else the train-only restriction
    // is untested)
    val all = graft.ops.Bpe.fit(spark.read.parquet(s"$out/survivors"), 4)
      .map(m => (m.rank.toLong, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
    assert(rows(all) != rows(got),
      "train-split and full-corpus merges coincide — fence assertion is vacuous")
  }

  test("packed stage == tokenize∘pack of survivors through the SHIPPED merges; sequences never straddle the split fence") {
    val docs0 = graft.core.Tables.documents(spark, sfDir)
    val jsonlDir = mkdir("pack_jsonl")
    docs0.toJSON.coalesce(1).write.mode("overwrite").text(s"$jsonlDir/jsonl")
    val out = mkdir("pack_out")
    val cfg = CorpusConfig(bpeMerges = 4, packBudget = 64)
    CorpusPipeline.run(spark, s"$jsonlDir/jsonl", out, cfg)

    val got = spark.read.parquet(s"$out/packed")
    assert(got.count() > 0, "packed stage is empty")

    // stage ≡ frame-body parity: replay tokenize∘pack∘group from the
    // shipped tokenizer + survivors + split tables
    val merges = spark.read.parquet(s"$out/tokenizer").orderBy(col("rank"))
      .collect().map(r => graft.ops.Bpe.Merge(
        r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val toks = graft.queries.TextQueries.bpeTokenStream(
        spark.read.parquet(s"$out/survivors"), merges)
      .join(spark.read.parquet(s"$out/split")
        .select(col("doc_id"), col("split")), "doc_id")
    val want = graft.queries.TextQueries
      .packTokenStream(toks, cfg.packBudget, cfg.epochShards,
        salt = "pack", keyCols = Seq("split"))
      .groupBy(col("split"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    assertSame(
      got.select(col("split"), col("shard"), col("seq_id"), col("n_tokens")),
      want, "packed stage vs tokenize∘pack replay")

    // every sequence is exactly packBudget tokens except each
    // (split, shard)'s tail; token_ids agree with n_tokens; doc_spans
    // always open at pos 0 (windows are offset-dense per shard) and
    // hold one span per doc (docs are contiguous runs in the window)
    val bad = got.where(size(col("token_ids")) =!= col("n_tokens") ||
      expr("doc_spans[0].start_pos") =!= lit(0L) ||
      size(col("doc_spans")) =!= size(array_distinct(
        expr("transform(doc_spans, x -> x.doc_id)")))).count()
    assert(bad === 0L, "token_ids/doc_spans inconsistent")
    val nonTail = got.join(
      got.groupBy(col("split"), col("shard")).agg(max(col("seq_id")).as("mx")),
      Seq("split", "shard"))
      .where(col("seq_id") =!= col("mx"))
    assert(nonTail.where(col("n_tokens") =!= cfg.packBudget).count() === 0L,
      "a non-tail sequence is not exactly packBudget tokens")

    // leakage fence: every doc in a sequence belongs to the sequence's split
    val spl = spark.read.parquet(s"$out/split").select(
      col("doc_id"), col("split").as("doc_split"))
    val strad = got.select(col("split"), explode(col("doc_spans")).as("sp"))
      .select(col("split"), col("sp.doc_id").as("doc_id"))
      .join(spl, "doc_id").where(col("split") =!= col("doc_split")).count()
    assert(strad === 0L, "a packed sequence straddles the split fence")

    // roundtrip: total packed tokens == total tokenized survivor tokens
    val totGot = got.agg(sum(col("n_tokens"))).head.getLong(0)
    val totWant = toks.count()
    assert(totGot === totWant, s"token mass lost in packing: $totGot vs $totWant")

    // the dataset card carries the packed token census
    val card = graft.core.Fs.readString(spark, s"$out/dataset_card.json")
    assert(card.contains("\"packed_tokens\""), s"card missing packed census: $card")

    // the sharded layout shipped and is split-partitioned
    assert(new java.io.File(s"$out/packed_shards/_SUCCESS").exists())
    assert(new java.io.File(s"$out/packed_shards").listFiles()
      .exists(_.getName.startsWith("split=")), "packed shards not split-partitioned")

    // APPEND-MODE EQUIVALENCE: run(base) + append(batch) must ship the
    // identical packed artifact a full rerun does — the packed stage
    // lives in the derived tier, so the law must extend to it (the
    // r14 verdict's done-criterion for the stage)
    val ids = docs0.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val cut = ids(ids.length * 4 / 5)
    val baseJ = mkdir("pack_base"); val batchJ = mkdir("pack_batch")
    docs0.where(col("doc_id") < cut).toJSON.coalesce(1)
      .write.mode("overwrite").text(s"$baseJ/jsonl")
    docs0.where(col("doc_id") >= cut).toJSON.coalesce(1)
      .write.mode("overwrite").text(s"$batchJ/jsonl")
    val outI = mkdir("pack_incr")
    CorpusPipeline.run(spark, s"$baseJ/jsonl", outI, cfg)
    CorpusPipeline.append(spark, s"$batchJ/jsonl", outI, cfg)
    assertSame(spark.read.parquet(s"$outI/packed"),
      spark.read.parquet(s"$out/packed"), "append-mode packed")
    assertSame(
      spark.read.parquet(s"$outI/packed_shards")
        .select(got.columns.map(col).toIndexedSeq: _*),
      got, "append-mode packed shards read-back")
  }

  test("freeze mode: tokenizer trains ONCE; packed tier patches only batch-touched partitions; unseen tokens still encode") {
    import spark.implicits._
    val base: Seq[(Long, String, String)] =
      (0L until 18L).map(i => (i, mkText(filler(i.toInt + 500, 60)), s"src${i % 3}"))
    // batch doc 200 is built from characters the BASE corpus never
    // contains (z, q, x only appear here): the frozen id table must
    // still encode it (completeness over alphabet ∪ merge outputs)
    val batch: Seq[(Long, String, String)] = Seq(
      (200L, mkText((0 until 60).map(j => s"zqx$j")), "src0"),
      // filler seed 100: its mod-1000 word-range (100..159) sits in the
      // gap left by the base seeds' ranges (500..86 wrapped) — an
      // accidental range overlap makes two fillers J≈0.87 near-dups and
      // retracts a base doc, which is a DIFFERENT (legitimate) path
      (201L, mkText(filler(100, 60)), "src1"))
    val cfg = CorpusConfig(bpeMerges = 4, packBudget = 32, freezeTokenizer = true)
    val out = mkdir("freeze_out")
    CorpusPipeline.run(spark, writeJsonl(base, "freeze_base"), out, cfg)
    val mergesBefore = rows(spark.read.parquet(s"$out/tokenizer"))
    val idsBefore = rows(spark.read.parquet(s"$out/token_ids"))
    // per-partition file stamps of the packed layout
    def partStamps: Map[String, Map[String, Long]] = {
      val root = new java.io.File(s"$out/packed_shards")
      root.listFiles().filter(_.isDirectory).flatMap { sp =>
        sp.listFiles().filter(_.isDirectory).map { so =>
          s"${sp.getName}/${so.getName}" ->
            so.listFiles().map(f => f.getName -> f.lastModified()).toMap
        }
      }.toMap
    }
    val stBefore = partStamps
    assert(stBefore.nonEmpty, "base derive shipped no packed partitions")
    CorpusPipeline.append(spark, writeJsonl(batch, "freeze_batch"), out, cfg)
    // tokenizer and id table are FROZEN: the append retrained nothing
    assert(rows(spark.read.parquet(s"$out/tokenizer")) == mergesBefore,
      "freeze mode retrained the merge table on append")
    assert(rows(spark.read.parquet(s"$out/token_ids")) == idsBefore,
      "freeze mode re-ranked the token id table on append")
    // equivalence law: the patched layout == a full frozen pack of the
    // merged survivors through the BASE-trained merges + ids
    val merges = spark.read.parquet(s"$out/tokenizer").orderBy(col("rank"))
      .collect().map(r => graft.ops.Bpe.Merge(
        r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val ids = spark.read.parquet(s"$out/token_ids")
    val sv = spark.read.parquet(s"$out/survivors")
    val member = sv.select(col("doc_id"), col("source"))
      .join(spark.read.parquet(s"$out/split")
        .select(col("doc_id"), col("split")), "doc_id")
    val toks = graft.queries.TextQueries.bpeTokenStreamWithIds(sv, merges, ids)
      .join(member, "doc_id")
    // COMPLETENESS of the frozen id table against the non-frozen kernel
    // (r16 review: an incomplete table silently drops tokens and the
    // frozen-vs-frozen equivalence law cancels the drop — ids may
    // differ between the two rankings, but every occurrence must map):
    // same occurrence count, and zero occurrences lost to the id join
    assert(toks.count() ===
      graft.queries.TextQueries.bpeTokenStream(sv, merges).count(),
      "frozen id table dropped token occurrences vs the non-frozen kernel")
    val want = graft.queries.TextQueries
      .packTokenStream(toks, cfg.packBudget, cfg.epochShards,
        salt = "pack", keyCols = Seq("split", "source"))
      .groupBy(col("split"), col("source"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("tid") * (col("pos") + 1L)).as("sig"))
    val got = spark.read.parquet(s"$out/packed_shards")
      .select(col("split"), col("source"), col("shard"), col("seq_id"),
        col("n_tokens"),
        expr("aggregate(zip_with(token_ids, sequence(1L, size(token_ids)), (t, i) -> t * i), 0L, (a, x) -> a + x)")
          .as("sig"))
    assertSame(got, want, "frozen packed layout vs full frozen replay")
    // the unseen-char doc's tokens all encoded (no silent drops)
    val doc200 = spark.read.parquet(s"$out/packed_shards")
      .select(explode(expr("transform(doc_spans, x -> x.doc_id)")).as("doc_id"))
      .where(col("doc_id") === 200L).count()
    assert(doc200 > 0, "the unseen-alphabet batch doc never reached the packed tier")
    val totGot = spark.read.parquet(s"$out/packed_shards")
      .agg(sum(col("n_tokens"))).head.getLong(0)
    assert(totGot === toks.count(), "token mass lost in the frozen pack")
    // PATCH law: partitions untouched by the batch are byte-stable;
    // partitions holding batch docs were rewritten
    val stAfter = partStamps
    val batchParts = spark.read.parquet(s"$out/packed_shards")
      .select(col("split"), col("source"),
        explode(expr("transform(doc_spans, x -> x.doc_id)")).as("doc_id"))
      .where(col("doc_id") >= 200L)
      .select(col("split"), col("source")).distinct().collect()
      .map(r => s"split=${r.getString(0)}/source=${r.getString(1)}").toSet
    assert(batchParts.nonEmpty)
    val untouched = stBefore.keySet -- batchParts
    assert(untouched.nonEmpty, "fixture must leave some partitions untouched")
    untouched.foreach { part =>
      assert(stAfter(part) == stBefore(part),
        s"untouched partition $part was rewritten by the append")
    }
    batchParts.filter(stBefore.contains).foreach { part =>
      assert(stAfter(part) != stBefore(part),
        s"batch-touched partition $part was not rewritten")
    }

    // freeze exempts ONLY the append-driven force — a CONFIG change
    // must still retrain the tokenizer and rewrite the packed layout,
    // or the stale-experiment fingerprint guard is defeated (r16
    // review): rerun the same outDir with different merges
    CorpusPipeline.run(spark, writeJsonl(base, "freeze_base"), out,
      cfg.copy(bpeMerges = 6))
    assert(spark.read.parquet(s"$out/tokenizer").count() === 6L,
      "config change did not retrain the frozen tokenizer")
    assert(rows(spark.read.parquet(s"$out/token_ids")) != idsBefore,
      "config change did not re-rank the frozen id table")
  }

  test("reconcileKnnGraph REBUILDS on the empty->non-empty transition (no edgeless inserts)") {
    import spark.implicits._
    def vecsOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
      .as("v"))
    val root = mkdir("knng_empty") + "/g"
    def rec(ids: Seq[Long]) = CorpusPipeline.reconcileKnnGraph(
      spark, root, vecsOf(ids), k = 4, rounds = 2, beam = 8, hops = 4)
    rec(0L until 100L)
    // survivors drop to zero: delete+compact leaves an edgeless-but-
    // complete artifact (meta present)
    rec(Seq.empty)
    assert(graft.ops.KnnGraph.liveVertices(spark, root).count() === 0L)
    assert(graft.core.Fs.exists(spark, s"$root/meta.json"))
    // a repopulating derive must REBUILD, not insert into the void
    // (r16 review: an append against an empty graph would land every
    // vertex with zero edges, permanently)
    rec(200L until 300L)
    val live = graft.ops.KnnGraph.liveVertices(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live == (200L until 300L).toSet)
    val degs = graft.ops.KnnGraph.liveGraph(spark, root)
      .groupBy(col("src")).count().count()
    assert(degs === 100L, s"rebuilt graph serves $degs of 100 vertices")
  }

  // ---------------- incremental append ----------------

  /** English-shaped doc the funnel keeps: stopword block + word run. */
  private def mkText(words: Seq[String]): String =
    "the and of to in " + words.mkString(" ")

  /** Deterministic filler words (vocab v0..v999, hash-indexed). */
  private def filler(seed: Int, n: Int): Seq[String] =
    (0 until n).map(j => s"v${math.abs((seed * 31 + j) * 2654435761L % 1000)}")

  private def writeJsonl(docs: Seq[(Long, String, String)], prefix: String): String = {
    import spark.implicits._
    val dir = mkdir(prefix)
    docs.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$dir/jsonl")
    s"$dir/jsonl"
  }

  test("ann index stage: the persisted index tracks survivors across an append that retracts a canonical") {
    import spark.implicits._
    val seqWords = (off: Int, n: Int) => (off until off + n).map(i => s"q$i")
    val base: Seq[(Long, String, String)] =
      (0L until 20L).map(i => (i, mkText(filler(i.toInt + 300, 60)), s"src${i % 3}")) ++ Seq(
        (100L, mkText(seqWords(50000, 60)), "src0"),
        (104L, mkText(seqWords(60000, 60)), "src1"))   // retraction victim
    val batch: Seq[(Long, String, String)] = Seq(
      (200L, mkText(filler(1200, 60)), "src0"),
      (211L, mkText(seqWords(60000, 65)), "src0"))     // longer near-dup of 104
    // embeddings fixture: vec_id = doc_id for every fixture id
    val embDir = mkdir("ann_emb")
    (base ++ batch).map(_._1).toDF("vec_id")
      .select(col("vec_id"), expr(
        "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
        .as("embedding"))
      .write.mode("overwrite").parquet(s"$embDir/emb.parquet")
    val cfg = CorpusConfig(annIndex = true, annCells = 4,
      embeddingsPath = s"$embDir/emb.parquet")
    val out = mkdir("ann_out")
    CorpusPipeline.run(spark, writeJsonl(base, "ann_base"), out, cfg)
    def liveIds = graft.ops.IvfIndex.liveAssignments(spark, s"$out/ann_index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def survIds = spark.read.parquet(s"$out/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(liveIds == survIds, "built index must hold exactly the survivors")
    assert(liveIds.contains(104L))
    CorpusPipeline.append(spark, writeJsonl(batch, "ann_batch"), out, cfg)
    assert(liveIds == survIds, "index drifted from survivors after append")
    assert(!liveIds.contains(104L) && liveIds.contains(211L),
      "retracted canonical must leave the index; its retractor must serve")
  }

  test("knn-graph stage: the persisted graph artifact tracks survivors across a retracting append and serves") {
    import spark.implicits._
    val seqWords = (off: Int, n: Int) => (off until off + n).map(i => s"q$i")
    val base: Seq[(Long, String, String)] =
      (0L until 20L).map(i => (i, mkText(filler(i.toInt + 700, 60)), s"src${i % 3}")) ++ Seq(
        (100L, mkText(seqWords(70000, 60)), "src0"),
        (104L, mkText(seqWords(80000, 60)), "src1"))   // retraction victim
    val batch: Seq[(Long, String, String)] = Seq(
      (200L, mkText(filler(1900, 60)), "src0"),
      (211L, mkText(seqWords(80000, 65)), "src0"))     // longer near-dup of 104
    val embDir = mkdir("knng_emb")
    (base ++ batch).map(_._1).toDF("vec_id")
      .select(col("vec_id"), expr(
        "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
        .as("embedding"))
      .write.mode("overwrite").parquet(s"$embDir/emb.parquet")
    val cfg = CorpusConfig(knnGraph = true, knnGraphK = 4,
      embeddingsPath = s"$embDir/emb.parquet")
    val out = mkdir("knng_out")
    CorpusPipeline.run(spark, writeJsonl(base, "knng_base"), out, cfg)
    val root = s"$out/knn_graph"
    def liveIds = graft.ops.KnnGraph.liveVertices(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def survIds = spark.read.parquet(s"$out/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(liveIds == survIds, "built graph must hold exactly the survivors")
    assert(liveIds.contains(104L))
    CorpusPipeline.append(spark, writeJsonl(batch, "knng_batch"), out, cfg)
    assert(liveIds == survIds, "graph drifted from survivors after append")
    assert(!liveIds.contains(104L) && liveIds.contains(211L),
      "retracted canonical must leave the graph; its retractor must serve")
    // the retracting derive consolidated: tombstones drained, edges live
    assert(graft.ops.KnnGraph.tombstones(spark, root).count() === 0L,
      "retracting reconcile must consolidate the graph artifact")
    // the artifact SERVES: search for the retractor's own vector finds
    // it first (it is a live vertex at distance 0), never the retracted
    val q = spark.read.parquet(s"$embDir/emb.parquet")
      .where(col("vec_id") === 211L)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val served = graft.ops.KnnGraph.search(spark, q, root,
      beam = 4, hops = 3, topk = 3).collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(served.nonEmpty && served.head == (211L, 1L),
      s"graph serving is wrong: ${served.toSeq}")
    assert(!served.map(_._1).contains(104L), "retracted id served from the graph")
    // idempotence: a no-op derive mutates no graph file
    def stamps = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = stamps
    CorpusPipeline.reconcileKnnGraph(spark, root,
      spark.read.parquet(s"$embDir/emb.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .join(spark.read.parquet(s"$out/survivors").select(col("doc_id").as("vec_id")), "vec_id"),
      k = 4, rounds = 2, beam = 8, hops = 6)
    assert(stamps == before, "a no-op graph reconcile rewrote artifact files")
    // re-survival through the graph arm: retract 5 out-of-band, then
    // reconcile it back — the tombstone drain must resurrect it once
    graft.ops.KnnGraph.delete(spark, Seq(5L).toDF("vec_id"), root)
    CorpusPipeline.reconcileKnnGraph(spark, root,
      spark.read.parquet(s"$embDir/emb.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .join(spark.read.parquet(s"$out/survivors").select(col("doc_id").as("vec_id")), "vec_id"),
      k = 4, rounds = 2, beam = 8, hops = 6)
    val l = graft.ops.KnnGraph.liveVertices(spark, root)
      .select("vec_id").collect().map(_.getLong(0))
    assert(l.count(_ == 5L) == 1, s"re-survivor must serve exactly once, saw ${l.count(_ == 5L)}")
    assert(l.toSet == survIds)
  }

  test("reconcileAnnIndex: a retracted-then-re-surviving id serves exactly ONCE; no-op reconcile writes nothing") {
    import spark.implicits._
    def vecsOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
      .as("v"))
    val root = mkdir("ann_reconcile") + "/idx"
    def live = graft.ops.IvfIndex.liveAssignments(spark, root)
      .select("vec_id").collect().map(_.getLong(0))
    val all = 0L until 200L
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4)
    assert(live.toSet == all.toSet && live.length == 200)
    // retract ONE id of ~50 in its cell: under the 10% compact ratio,
    // so the tombstone stays LIVE — the re-survival bug's precondition
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all.filterNot(_ == 7L)), 4)
    assert(!live.contains(7L))
    assert(graft.ops.IvfIndex.tombstones(spark, root).count() === 1L,
      "fixture must leave the tombstone un-compacted to exercise re-survival")
    // 7 re-survives: the reconcile must drain the shadowing tombstone
    // FIRST, then re-append — one serving row, no invisible duplicates
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4)
    val l = live
    assert(l.count(_ == 7L) == 1, s"re-survivor must serve exactly once, saw ${l.count(_ == 7L)}")
    assert(l.toSet == all.toSet && l.length == 200)
    assert(graft.ops.IvfIndex.tombstones(spark, root).count() === 0L)
    // idempotence: reconciling the identical set mutates no file
    def stamps = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = stamps
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4)
    assert(stamps == before, "a no-op reconcile rewrote index files")
  }

  test("reconcileAnnIndex drains ORPHAN tombstones: an id with no assignment row still re-survives") {
    import spark.implicits._
    def vecsOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
      .as("v"))
    val root = mkdir("ann_orphan") + "/idx"
    val all = 0L until 100L
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4)
    // out-of-band orphan: a tombstone for an id the index has never
    // held (r14 review — a cell-scoped drain can never reach it, and
    // without the drain the append below would be shadowed forever)
    graft.ops.IvfIndex.delete(spark, Seq(500L).toDF("vec_id"), root)
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all :+ 500L), 4)
    val live = graft.ops.IvfIndex.liveAssignments(spark, root)
      .select("vec_id").collect().map(_.getLong(0))
    assert(live.count(_ == 500L) == 1,
      s"orphan-shadowed re-survivor must serve exactly once, saw ${live.count(_ == 500L)}")
    assert(live.toSet == (all :+ 500L).toSet && live.length == 101)
    assert(graft.ops.IvfIndex.tombstones(spark, root).count() === 0L)
  }

  test("reconcileAnnIndex SELF-HEALS a compaction that crashed in an earlier derive") {
    import spark.implicits._
    def vecsOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
      .as("v"))
    val root = mkdir("ann_selfheal") + "/idx"
    val all = 0L until 200L
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4)
    // simulate a derive whose retraction compaction crashed after the
    // manifest commit (prepare + publish, no gc): readers stay correct
    // but on the list-and-filter path, retired files still on disk
    graft.ops.IvfIndex.delete(spark,
      all.filter(_ % 5 == 0).toDF("vec_id"), root)
    val (cells, steps) = graft.ops.IvfIndex.compactPlan(spark, root, minRatio = 0.05)
    assert(cells.nonEmpty)
    steps(0).apply(); steps(1).apply() // crash before gc
    val mdir = new java.io.File(s"$root/manifest")
    assert(!mdir.listFiles().map(_.getName).exists(_.startsWith("clean-")))
    // the NEXT derive self-heals before its reads and reconciles the
    // target set exactly (the %5 ids re-survive: drain + re-append)
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4)
    assert(mdir.listFiles().map(_.getName).exists(_.startsWith("clean-")),
      "reconcile did not repair the crashed compaction to CLEAN")
    val live = graft.ops.IvfIndex.liveAssignments(spark, root)
      .select("vec_id").collect().map(_.getLong(0))
    assert(live.toSet == all.toSet && live.length == 200,
      "self-healed index must serve the reconciled set exactly once each")
  }

  test("reconcileAnnIndex retrains on drift (PSI over cell census) and holds centroids otherwise") {
    import spark.implicits._
    def vecsOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
      .as("v"))
    // a drift set whose vectors all collapse into one region: every
    // assignment lands in the same nearest cell → massive PSI
    def driftOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> 10.0 + CAST(pmod(hash(vec_id, j), 10) AS DOUBLE) / 100.0)")
      .as("v"))
    val root = mkdir("ann_drift") + "/idx"
    def centStamps = {
      val d = new java.io.File(s"$root/centroids")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def live = graft.ops.IvfIndex.liveAssignments(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val all = 0L until 200L
    CorpusPipeline.reconcileAnnIndex(spark, root, vecsOf(all), 4, retrainPsi = 0.2)
    assert(new java.io.File(s"$root/census").isDirectory,
      "build with retrainPsi must persist the fit-time census baseline")
    val fitStamps = centStamps
    // a same-distribution delta must NOT retrain (centroids untouched)
    CorpusPipeline.reconcileAnnIndex(spark, root,
      vecsOf(all ++ (200L until 220L)), 4, retrainPsi = 0.2)
    assert(centStamps == fitStamps, "a stable reconcile refit the quantizer")
    assert(live == (0L until 220L).toSet)
    // a collapsed-distribution target must cross the PSI and REBUILD:
    // fresh centroids, live == target, census re-baselined
    CorpusPipeline.reconcileAnnIndex(spark, root, driftOf(300L until 500L), 4,
      retrainPsi = 0.2)
    assert(centStamps != fitStamps, "drift past the threshold did not retrain")
    assert(live == (300L until 500L).toSet,
      "retrained index must serve exactly the reconciled set")
    assert(graft.ops.IvfIndex.tombstones(spark, root).count() === 0L,
      "a rebuilt index must not inherit stale tombstones")
    // and the NEXT reconcile on the new distribution is stable again
    val postStamps = centStamps
    CorpusPipeline.reconcileAnnIndex(spark, root,
      driftOf(300L until 510L), 4, retrainPsi = 0.2)
    assert(centStamps == postStamps, "re-baselined census did not stabilize the retrain")
    assert(live == (300L until 510L).toSet)
  }

  test("retrain swap is crash-atomic: a complete write-aside is adopted, an incomplete one discarded") {
    import spark.implicits._
    def vecsOf(ids: Seq[Long]) = ids.toDF("vec_id").select(col("vec_id"), expr(
      "transform(sequence(0, 15), j -> CAST(pmod(hash(vec_id, j), 1000) AS DOUBLE) / 500.0)")
      .as("v"))
    def live(root: String) = graft.ops.IvfIndex.liveAssignments(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def cents(root: String) = graft.ops.IvfIndex.centroids(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet

    // (a) crash BETWEEN the old root's delete and the rename: readers
    // would have seen NO index under the old delete-then-rebuild; the
    // next derive must ADOPT the completed write-aside, not rebuild
    val rootA = mkdir("ann_swap_a") + "/idx"
    val tmpA = rootA + ".retrain"
    graft.ops.IvfIndex.build(vecsOf(300L until 400L), 4, iters = 2, tmpA)
    graft.ops.IvfIndex.liveAssignments(spark, tmpA)
      .groupBy(col("cl")).count().coalesce(1)
      .write.mode("overwrite").parquet(s"$tmpA/census") // completeness marker
    val wantCents = cents(tmpA)
    CorpusPipeline.reconcileAnnIndex(spark, rootA, vecsOf(300L until 400L), 4)
    assert(cents(rootA) == wantCents,
      "completed write-aside was rebuilt instead of adopted")
    assert(live(rootA) == (300L until 400L).toSet)
    assert(!new java.io.File(tmpA).exists(), "adopted tmp root must be consumed")

    // (b) crash MID-REFIT (no census marker): the debris is discarded
    // and the still-live old root keeps serving untouched
    val rootB = mkdir("ann_swap_b") + "/idx"
    CorpusPipeline.reconcileAnnIndex(spark, rootB, vecsOf(0L until 100L), 4)
    val oldCents = cents(rootB)
    val tmpB = rootB + ".retrain"
    graft.ops.IvfIndex.build(vecsOf(500L until 560L), 4, iters = 2, tmpB) // no census
    CorpusPipeline.reconcileAnnIndex(spark, rootB, vecsOf(0L until 100L), 4)
    assert(cents(rootB) == oldCents, "incomplete write-aside replaced the live root")
    assert(live(rootB) == (0L until 100L).toSet)
    assert(!new java.io.File(tmpB).exists(), "mid-refit debris must be discarded")

    // (c) crash DURING the census write itself: the census DIRECTORY
    // exists but carries no _SUCCESS — that is still mid-refit debris
    // (r15 review: adopting it would destroy the live root for a
    // write-aside whose drift baseline is unreadable)
    graft.ops.IvfIndex.build(vecsOf(600L until 660L), 4, iters = 2, tmpB)
    graft.ops.IvfIndex.liveAssignments(spark, tmpB)
      .groupBy(col("cl")).count().coalesce(1)
      .write.mode("overwrite").parquet(s"$tmpB/census")
    assert(new java.io.File(s"$tmpB/census/_SUCCESS").delete())
    CorpusPipeline.reconcileAnnIndex(spark, rootB, vecsOf(0L until 100L), 4)
    assert(cents(rootB) == oldCents, "markerless write-aside replaced the live root")
    assert(!new java.io.File(tmpB).exists(), "markerless debris must be discarded")

    // (d) crash BETWEEN the swap's two renames (r15 advice: the retire
    // is now rename(root→.old), not delete, so a live tree exists on
    // disk throughout): root missing, .old present, tmp complete — the
    // write-aside is adopted and the retired copy dropped
    val rootD = mkdir("ann_swap_d") + "/idx"
    CorpusPipeline.reconcileAnnIndex(spark, rootD, vecsOf(0L until 100L), 4)
    val tmpD = rootD + ".retrain"
    graft.ops.IvfIndex.build(vecsOf(700L until 800L), 4, iters = 2, tmpD)
    graft.ops.IvfIndex.liveAssignments(spark, tmpD)
      .groupBy(col("cl")).count().coalesce(1)
      .write.mode("overwrite").parquet(s"$tmpD/census")
    val wantD = cents(tmpD)
    graft.core.Fs.rename(spark, rootD, rootD + ".old") // crash here
    CorpusPipeline.reconcileAnnIndex(spark, rootD, vecsOf(700L until 800L), 4)
    assert(cents(rootD) == wantD, "mid-swap crash did not adopt the write-aside")
    assert(live(rootD) == (700L until 800L).toSet)
    assert(!new java.io.File(rootD + ".old").exists(), ".old debris must be dropped")
    assert(!new java.io.File(tmpD).exists())

    // (e) crash AFTER rename(tmp→root) but before the .old delete: the
    // root IS the new index; .old is debris and must not clobber it
    val rootE = mkdir("ann_swap_e") + "/idx"
    CorpusPipeline.reconcileAnnIndex(spark, rootE, vecsOf(0L until 100L), 4)
    val newCentsE = cents(rootE)
    graft.ops.IvfIndex.build(vecsOf(900L until 950L), 4, iters = 2, rootE + ".old")
    CorpusPipeline.reconcileAnnIndex(spark, rootE, vecsOf(0L until 100L), 4)
    assert(cents(rootE) == newCentsE, ".old debris clobbered the adopted root")
    assert(!new java.io.File(rootE + ".old").exists(), ".old debris must be dropped")
  }

  test("append: run(base) + append(batch) == full rerun on the union; retraction and cluster-merge included") {
    def run(j: String, d: String) = CorpusPipeline.run(spark, j, d)
    val seqWords = (off: Int, n: Int) => (off until off + n).map(i => s"q$i")

    // base corpus (ids < 200): fillers + planted structure
    val base: Seq[(Long, String, String)] =
      (0L until 20L).map(i => (i, mkText(filler(i.toInt, 60)), s"src${i % 3}")) ++ Seq(
        (100L, mkText(seqWords(10000, 60)), "src0"),     // base-internal cluster...
        (101L, mkText(seqWords(10000, 55)), "src1"),     // ...near-copy of 100 (J≈0.91)
        (102L, mkText(seqWords(20000, 100)), "src2"), // C1
        (103L, mkText(seqWords(20020, 100)), "src0"), // C2: J(C1,C2)≈0.67 < 0.8 — separate
        (104L, mkText(seqWords(30000, 60)), "src1"))  // future retraction victim
    // batch (ids ≥ 200): fillers + an exact dup, a LONGER near-dup of
    // 104 (displaces it as canonical), and a bridge doc merging C1+C2
    val batch: Seq[(Long, String, String)] =
      (200L until 210L).map(i => (i, mkText(filler(i.toInt + 500, 60)), s"src${i % 3}")) ++ Seq(
        (210L, base.find(_._1 == 5L).get._2, "src2"),     // exact dup of base 5
        (211L, mkText(seqWords(30000, 65)), "src0"),       // J vs 104 ≈ 0.92, longer
        (212L, mkText(seqWords(20000, 120)), "src1"))      // J vs C1 and C2 ≈ 0.83

    val baseJ = writeJsonl(base, "apnd_base")
    val batchJ = writeJsonl(batch, "apnd_batch")
    val unionJ = writeJsonl(base ++ batch, "apnd_union")

    val dirF = mkdir("apnd_full"); val resF = run(unionJ, dirF)
    val dirA = mkdir("apnd_incr"); val resBase = run(baseJ, dirA)

    // sanity on the planted geometry BEFORE appending
    val baseSurv = rows(spark.read.parquet(s"$dirA/survivors").select("doc_id"))
    assert(baseSurv.contains("[104]"), "victim 104 must be a base survivor")
    assert(resBase.nKept == base.size, "a base doc fell out of the funnel")

    // per-partition file fingerprints of the shard layout BEFORE the
    // append — the incremental-write law needs them
    def partStamps(p: String): Map[String, Set[(String, Long)]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      new java.io.File(p).listFiles().filter(_.isDirectory).flatMap { sp =>
        sp.listFiles().filter(_.isDirectory).map { so =>
          s"${sp.getName}/${so.getName}" -> walk(so)
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).toSet
        }
      }.toMap
    }
    val idCols = Seq("doc_id", "split", "source", "shard", "pos")
    def corpusProj(d: String) = spark.read.parquet(s"$d/corpus")
      .select(idCols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    val stampsBefore = partStamps(s"$dirA/shards")
    val projBefore = corpusProj(dirA)

    val resA = CorpusPipeline.append(spark, batchJ, dirA)
    assert(resA == resF, s"append result drifted from full rerun: $resA vs $resF")

    // merged state == full-rerun state, table by table — INCLUDING the
    // physical shard layout's read-back (the incremental writer must
    // converge to exactly what a full write ships)
    for (st <- Seq("survivors", "split", "clusters", "corpus", "shards")) {
      assertSame(spark.read.parquet(s"$dirA/$st"),
        spark.read.parquet(s"$dirF/$st"), s"append $st")
    }
    // incremental shard law: exactly the partitions whose content
    // changed were rewritten — untouched (split, source) directories
    // keep their files byte-for-byte (same names, same mtimes)
    val projAfter = corpusProj(dirA)
    val changedParts = ((projAfter -- projBefore) ++ (projBefore -- projAfter))
      .map(t => s"split=${t._2}/source=${t._3}")
    val stampsAfter = partStamps(s"$dirA/shards")
    val untouched = (stampsBefore.keySet intersect stampsAfter.keySet) -- changedParts
    assert(untouched.nonEmpty,
      "fixture vacuous: every shard partition changed — the incremental law tests nothing")
    untouched.foreach { k =>
      assert(stampsBefore(k) == stampsAfter(k),
        s"unchanged partition $k was rewritten by the append")
    }
    changedParts.filter(stampsBefore.contains).foreach { k =>
      assert(stampsBefore(k) != stampsAfter.getOrElse(k, Set.empty),
        s"changed partition $k kept stale files")
    }
    // pair delta composition: base pairs ∪ batch delta == full pairs
    val mergedPairs = spark.read.parquet(s"$dirA/pairs").unionByName(
      spark.read.parquet(s"$dirA/batches/${CorpusPipeline.batchTag(batchJ)}/pairs"))
    assertSame(mergedPairs, spark.read.parquet(s"$dirF/pairs"), "pair composition")

    // the planted semantics actually happened
    val surv = rows(spark.read.parquet(s"$dirA/survivors").select("doc_id"))
    assert(!surv.contains("[210]"), "exact dup of base 5 must be funnel-dropped")
    assert(!surv.contains("[104]") && surv.contains("[211]"),
      "longer batch near-dup must RETRACT base survivor 104")
    val cl = spark.read.parquet(s"$dirA/clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.get(102L) == cl.get(103L) && cl.contains(212L),
      s"bridge doc 212 must merge C1+C2: $cl")

    // idempotence: re-append of a committed batch recomputes nothing
    val stamps = new java.io.File(dirA).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    val resA2 = CorpusPipeline.append(spark, batchJ, dirA)
    assert(resA2 == resA, "re-append drifted")
    val stamps2 = new java.io.File(dirA).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(stamps2 == stamps, "re-append rewrote a stage")

    // a SECOND batch composes (ids ≥ 300, near-dup of a batch-1 doc)
    val batch2: Seq[(Long, String, String)] = Seq(
      (300L, mkText(filler(900, 60)), "src0"),
      (301L, mkText(seqWords(20000, 118)), "src2")) // near-dup of bridge 212
    val batch2J = writeJsonl(batch2, "apnd_batch2")
    val union2J = writeJsonl(base ++ batch ++ batch2, "apnd_union2")
    val dirF2 = mkdir("apnd_full2"); val resF2 = run(union2J, dirF2)
    val resA3 = CorpusPipeline.append(spark, batch2J, dirA)
    assert(resA3 == resF2, s"second append drifted: $resA3 vs $resF2")
    assertSame(spark.read.parquet(s"$dirA/survivors"),
      spark.read.parquet(s"$dirF2/survivors"), "second-append survivors")

    // guard rails: id monotonicity and config identity are enforced
    val lowJ = writeJsonl(Seq((50L, mkText(filler(7, 60)), "src0")), "apnd_low")
    intercept[IllegalArgumentException] {
      CorpusPipeline.append(spark, lowJ, dirA)
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.append(spark, batch2J, dirA, CorpusConfig(tau = 0.9))
    }

    // an unforced re-RUN of the base against the appended outDir serves
    // the merged state; a forced one rebuilds the base alone
    val resRun = CorpusPipeline.run(spark, baseJ, dirA)
    assert(resRun == resF2, "unforced run on appended outDir must serve merged state")
    val resForced = CorpusPipeline.run(spark, baseJ, dirA, force = true)
    assert(resForced == resBase, "forced run must rebuild the base alone")
    assert(!new java.io.File(s"$dirA/appends.tsv").exists(),
      "forced run must clear the append registry")
  }

  /** `docs` as JSONL under the FIXED path `<dir>/jsonl` (overwritten in
    * place on a second call).
    */
  private def writeJsonlAt(docs: Seq[(Long, String, String)], dir: String): String = {
    import spark.implicits._
    docs.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .toJSON.coalesce(1).write.mode("overwrite").text(s"$dir/jsonl")
    s"$dir/jsonl"
  }

  private def fillerDocs(ids: Seq[Long], seed: Int): Seq[(Long, String, String)] =
    ids.map(i => (i, mkText(filler(i.toInt + seed, 60)), s"src${i % 3}"))

  test("a JSONL rewritten in place at the same path is recomputed, not served stale") {
    val in = mkdir("rewrite_jsonl")
    val out = mkdir("rewrite_out")
    val jsonl = writeJsonlAt(fillerDocs(0L until 12L, 500), in)
    val r1 = CorpusPipeline.run(spark, jsonl, out)
    assert(r1.nDocs === 12L)
    assert(writeJsonlAt(fillerDocs(0L until 18L, 500), in) === jsonl)
    val r2 = CorpusPipeline.run(spark, jsonl, out)
    assert(r2.nDocs === 18L && r2.nRaw === 18L, s"stale docs stage served: $r2")
    assert(spark.read.parquet(s"$out/corpus").count() === r2.nSurvivors)
  }

  test("a batch rewritten in place after its commit is applied as a new batch, never skipped") {
    val out = mkdir("rebatch_out")
    CorpusPipeline.run(spark, writeJsonl(fillerDocs(0L until 12L, 500), "rebatch_base"), out)
    val bdir = mkdir("rebatch_batch")
    val batch = writeJsonlAt(fillerDocs(200L until 204L, 100), bdir)
    val r1 = CorpusPipeline.append(spark, batch, out)
    assert(r1.nDocs === 16L)
    // same path, new content: a new batch (its ids exceed every prior id)
    writeJsonlAt(fillerDocs(300L until 303L, 700), bdir)
    val r2 = CorpusPipeline.append(spark, batch, out)
    assert(r2.nDocs === 19L, s"rewritten batch skipped as already applied: $r2")
    assert(CorpusPipeline.appliedBatches(spark, out).map(_._2) === Seq(batch, batch))
    // same path rewritten with ids already committed: refused, naming it
    writeJsonlAt(fillerDocs(300L until 303L, 900), bdir)
    val e = intercept[IllegalArgumentException](CorpusPipeline.append(spark, batch, out))
    assert(e.getMessage.contains(batch), e.getMessage)
  }
}
