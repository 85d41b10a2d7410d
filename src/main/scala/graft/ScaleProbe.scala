package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedup scale probe: generates synthetic corpora with planted near-dups
  * at increasing sizes and times the prefix-filtered pair pipeline
  * (shingle → hash → PPJoin candidates → exact verify). The point is the
  * GROWTH CURVE, not the absolute numbers: candidate generation is an
  * equi-join whose output tracks true collisions, so wall time should
  * grow ~linearly in docs while the naive all-pairs space grows
  * quadratically (50k docs = 1.25B pairs).
  *
  * Usage: tools/run.sh graft.ScaleProbe [sizes...]   (default 5000 20000 50000)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(5000, 20000, 50000)
    // optional leg filter (SPARK_GRAFT_PROBE_LEGS=corpus,bpe) so a
    // single heavy leg can run at 1M docs without paying for the rest
    val legsEnv = sys.env.get("SPARK_GRAFT_PROBE_LEGS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def on(l: String): Boolean = legsEnv.forall(_.contains(l))
    val spark = SparkSession.builder().master(s"local[${SparkEntry.localCpus}]")
      .config("spark.sql.shuffle.partitions", SparkEntry.localCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vocabSql = (0 until 1000).map(i => s"'w$i'").mkString("array(", ", ", ")")
    sizes.foreach { n =>
      val dir = java.nio.file.Files.createTempDirectory(s"probe$n").toString
      // 80 pseudo-random vocab words per doc (hash-indexed — executor-side,
      // deterministic); every 20th doc repeats the previous doc's first 75
      // words -> planted near-dup pairs at J ≈ 0.88
      spark.range(n).select(col("id").as("doc_id"), expr(
        s"""concat_ws(' ', transform(sequence(1, 80), j ->
           |  element_at($vocabSql, 1 + pmod(hash(IF(id % 20 = 0 AND id > 0 AND j <= 75, id - 1, id), j), 1000))))"""
          .stripMargin).as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      if (on("pairs")) {
        val t0 = System.nanoTime()
        val pairs = graft.queries.DedupQueries
          .prefixFilteredPairs(graft.queries.DedupQueries.docHashes(spark, dir))
          .where(col("sim") >= 0.8).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scaleprobe] docs=$n%6d near_dup_pairs=$pairs%6d wall=$secs%6.1f s")
      }

      // funnel leg: the composed gopher+lang+exact-dedup pass — one scan
      // + one digest shuffle, so the curve should stay ~linear with a
      // much smaller constant than the pair build. Separate corpus
      // variant with an English stopword block prepended (the w-vocab
      // alone fails the language gate), leaving the pair curve untouched.
      val dirF = java.nio.file.Files.createTempDirectory(s"probeF$n").toString
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(lit("the and of to in "), col("text")).as("text"))
        .write.mode("overwrite").parquet(s"$dirF/documents.parquet")
      if (on("funnel")) {
        val t1 = System.nanoTime()
        val kept = graft.queries.MlQueries.mlQualityFunnel.run(spark, dirF)
          .where(col("keep") === 1).count()
        val fsecs = (System.nanoTime() - t1) / 1e9
        println(f"[scaleprobe] docs=$n%6d funnel_kept=$kept%6d wall=$fsecs%6.1f s")
      }

      // corpus-pipeline leg: the COMPOSED CorpusPipeline DAG end to end
      // (JSONL ingest → funnel → signature build → LSH pairs → CC →
      // canonical → split → mixture → epoch order → sharded write) on
      // the funnel corpus (lang-gate passes; planted near-dups from the
      // base corpus survive into the dedup tiers) with a source column
      // for the mixture/shard stages. This is the number that answers
      // "what does the whole product cost per corpus snapshot", not any
      // single stage: expect ~the pair-build curve plus a constant,
      // since candidates dominate and every other stage is map-only or
      // id-sized. Run with sizes "200000" for the documented 200k point.
      val dirP = java.nio.file.Files.createTempDirectory(s"probeP$n").toString
      spark.read.parquet(s"$dirF/documents.parquet")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .toJSON.write.mode("overwrite").text(s"$dirP/jsonl")
      if (on("corpus")) {
      // stage-wall logging on: the append run below prints its
      // [shards.incremental] partitions_rewritten + wall split, the
      // shard-cost-∝-batch evidence read next to the leg totals
      spark.conf.set("spark.graft.ann.log", "true")
      val t15 = System.nanoTime()
      val cr = graft.pipeline.CorpusPipeline.run(spark, s"$dirP/jsonl", s"$dirP/out")
      val psecs = (System.nanoTime() - t15) / 1e9
      println(f"[scaleprobe] docs=$n%6d corpus_pipeline kept=${cr.nKept}%6d survivors=${cr.nSurvivors}%6d wall=$psecs%6.1f s")

      // append leg (r10): the SAME corpus split 90/10 by id — a daily
      // batch merged onto a persisted base via CorpusPipeline.append.
      // New text work is the batch's only (base signatures are read,
      // never re-shingled), so append wall should track the batch
      // fraction, far under the full-rerun wall above; survivor-set
      // equality against the full run is asserted (differential at
      // scale, the CorpusPipelineSpec equivalence re-proved per size).
      val cut = (n.toLong * 9L) / 10L
      val pj = spark.read.json(s"$dirP/jsonl")
      pj.where(col("doc_id") < cut).toJSON
        .write.mode("overwrite").text(s"$dirP/base_jsonl")
      pj.where(col("doc_id") >= cut).toJSON
        .write.mode("overwrite").text(s"$dirP/batch_jsonl")
      val t16 = System.nanoTime()
      val crB = graft.pipeline.CorpusPipeline.run(spark, s"$dirP/base_jsonl", s"$dirP/out_incr")
      val bSecs = (System.nanoTime() - t16) / 1e9
      val t17 = System.nanoTime()
      val crA = graft.pipeline.CorpusPipeline.append(spark, s"$dirP/batch_jsonl", s"$dirP/out_incr")
      val aSecs = (System.nanoTime() - t17) / 1e9
      require(crA.nSurvivors == cr.nSurvivors && crA.nKept == cr.nKept,
        s"append differential: full=(${cr.nKept},${cr.nSurvivors}) incr=(${crA.nKept},${crA.nSurvivors})")
      println(f"[scaleprobe] docs=$n%6d corpus_append base(${crB.nDocs}%6d)=$bSecs%6.1f s batch(${crA.nDocs - crB.nDocs}%5d)=$aSecs%6.1f s full=$psecs%6.1f s")
      // single-SOURCE daily feed (r15): a batch confined to one source
      // must rewrite only that source's (split, source) shard
      // partitions — the uniform batch above genuinely touches all of
      // them (membership changed everywhere), so THIS is the leg that
      // shows shard cost ∝ partitions touched. Fresh filler text (no
      // planted dups) → no cross-source retractions.
      val b2 = spark.range(n, n + 1000L).select(col("id").as("doc_id"), expr(
        s"""concat('the and of to in ', concat_ws(' ', transform(sequence(1, 80), j ->
           |  element_at($vocabSql, 1 + pmod(hash(id, j), 1000)))))""".stripMargin)
          .as("text"),
        lit("en").as("lang"), lit("src0").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      b2.toJSON.write.mode("overwrite").text(s"$dirP/batch2_jsonl")
      val t18 = System.nanoTime()
      graft.pipeline.CorpusPipeline.append(spark, s"$dirP/batch2_jsonl", s"$dirP/out_incr"): Unit
      val a2Secs = (System.nanoTime() - t18) / 1e9
      println(f"[scaleprobe] docs=$n%6d corpus_append_single_source batch(1000)=$a2Secs%6.1f s (see shards.incremental line for partitions)")
      // restore: later legs on the shared session must not inherit the
      // stage-wall stderr logging (r15 advice — it pollutes timings
      // that are compared across legs)
      spark.conf.unset("spark.graft.ann.log")
      }
      // frozen-tokenizer packed-tier leg (r16): the corpus DAG with the
      // training deliverable ON and the tokenizer FROZEN — a 1k
      // single-source daily feed must re-tokenize and rewrite only the
      // batch-touched (split, source) packed partitions (the
      // [packed.incremental] stderr line prints the count; the default
      // retrain-per-append mode re-materializes 100% by construction).
      // Read append wall against the base wall: the delta is the
      // incremental-pack story at this n.
      if (on("packfreeze")) {
        spark.conf.set("spark.graft.ann.log", "true")
        val cfgF = graft.pipeline.CorpusConfig(bpeMerges = 256,
          packBudget = 512, freezeTokenizer = true)
        val outF = s"$dirP/out_freeze"
        val tf0 = System.nanoTime()
        graft.pipeline.CorpusPipeline.run(spark, s"$dirP/jsonl", outF, cfgF)
        val fbS = (System.nanoTime() - tf0) / 1e9
        val bF = spark.range(n, n + 1000L).select(col("id").as("doc_id"), expr(
          s"""concat('the and of to in ', concat_ws(' ', transform(sequence(1, 80), j ->
             |  element_at($vocabSql, 1 + pmod(hash(id, j), 1000)))))""".stripMargin)
            .as("text"),
          lit("en").as("lang"), lit("src0").as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
        bF.toJSON.write.mode("overwrite").text(s"$dirP/freeze_batch_jsonl")
        val tf1 = System.nanoTime()
        graft.pipeline.CorpusPipeline.append(
          spark, s"$dirP/freeze_batch_jsonl", outF, cfgF): Unit
        val faS = (System.nanoTime() - tf1) / 1e9
        val nParts = new java.io.File(s"$outF/packed_shards").listFiles()
          .filter(_.isDirectory).flatMap(_.listFiles()).count(_.isDirectory)
        println(f"[scaleprobe] docs=$n%6d pack_freeze base=$fbS%6.1f s append(1000)=$faS%6.1f s packed_partitions=$nParts%3d (see packed.incremental line for rewrites)")
        spark.conf.unset("spark.graft.ann.log")
      }
      // ann-pipeline leg (r13): the corpus DAG with the serving-index
      // stage ON — measures what annIndex ADDS at base build (index fit
      // over survivors) and at append (one live-vs-survivors comparison
      // scan + delta-sized mutations). Read beside the corpus_append
      // leg's walls for the add-on. Embeddings synthetic, vec_id=doc_id.
      if (on("annpipe")) {
        spark.conf.set("spark.graft.ann.log", "true")
        val embP = s"$dirP/emb.parquet"
        spark.range(n).select(col("id").as("vec_id"), expr(
          """transform(sequence(0, 63), j ->
            |  CAST(pmod(hash(id, j), 2001) - 1000 AS DOUBLE) / 1000.0)""".stripMargin)
          .as("embedding"))
          .write.mode("overwrite").parquet(embP)
        val cfgA = graft.pipeline.CorpusConfig(annIndex = true, annCells = 64,
          embeddingsPath = embP)
        val cutA = (n.toLong * 9L) / 10L
        val pj2 = spark.read.json(s"$dirP/jsonl")
        pj2.where(col("doc_id") < cutA).toJSON
          .write.mode("overwrite").text(s"$dirP/ann_base_jsonl")
        pj2.where(col("doc_id") >= cutA).toJSON
          .write.mode("overwrite").text(s"$dirP/ann_batch_jsonl")
        val tb = System.nanoTime()
        graft.pipeline.CorpusPipeline.run(
          spark, s"$dirP/ann_base_jsonl", s"$dirP/out_ann", cfgA)
        val rbS = (System.nanoTime() - tb) / 1e9
        val ta = System.nanoTime()
        val ra = graft.pipeline.CorpusPipeline.append(
          spark, s"$dirP/ann_batch_jsonl", s"$dirP/out_ann", cfgA)
        val raS = (System.nanoTime() - ta) / 1e9
        val liveN = graft.ops.IvfIndex
          .liveAssignments(spark, s"$dirP/out_ann/ann_index").count()
        require(liveN == ra.nSurvivors,
          s"ann index live=$liveN != survivors=${ra.nSurvivors}")
        println(f"[scaleprobe] docs=$n%6d ann_pipeline base=$rbS%6.1f s append=$raS%6.1f s live=$liveN%7d")
        spark.conf.unset("spark.graft.ann.log") // restore (r15 advice)
      }

      // ann-RETRAIN leg (r15, verdict §8): the serving-index lifecycle
      // under DISTRIBUTION DRIFT — the base 70% of embeddings are the
      // standard synthetic cloud, the appended 30% collapse into a
      // far-off region, so the append's reconcile crosses the PSI
      // threshold and the quantizer refits (write-aside + atomic swap).
      // Records the append wall WITH the retrain inside, proof the
      // retrain fired (centroids replaced), and the post-retrain
      // serving mix: an unfiltered probe and an id-sliced filtered
      // probe (predicate pushed into the DPP-pruned cell scan), each
      // with recall@5 vs brute force over the live set.
      if (on("annretrain")) {
        spark.conf.set("spark.graft.ann.log", "true")
        val embP = s"$dirP/embR.parquet"
        val cutR = (n.toLong * 7L) / 10L
        spark.range(n).select(col("id").as("vec_id"), expr(
          s"""CASE WHEN id < ${cutR}L THEN
             |  transform(sequence(0, 63), j -> CAST(pmod(hash(id, j), 2001) - 1000 AS DOUBLE) / 1000.0)
             |ELSE
             |  transform(sequence(0, 63), j -> 10.0D + CAST(pmod(hash(id, j), 201) - 100 AS DOUBLE) / 1000.0)
             |END""".stripMargin).as("embedding"))
          .write.mode("overwrite").parquet(embP)
        val pj3 = spark.read.json(s"$dirP/jsonl")
        pj3.where(col("doc_id") < cutR).toJSON
          .write.mode("overwrite").text(s"$dirP/annr_base_jsonl")
        pj3.where(col("doc_id") >= cutR).toJSON
          .write.mode("overwrite").text(s"$dirP/annr_batch_jsonl")
        val cfgR = graft.pipeline.CorpusConfig(annIndex = true, annCells = 64,
          annRetrainPsi = 0.2, embeddingsPath = embP)
        val outR = s"$dirP/out_annr"
        val root = s"$outR/ann_index"
        val tb = System.nanoTime()
        graft.pipeline.CorpusPipeline.run(spark, s"$dirP/annr_base_jsonl", outR, cfgR)
        val baseS = (System.nanoTime() - tb) / 1e9
        val centsBefore = graft.ops.IvfIndex.centroids(spark, root)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
        val ta = System.nanoTime()
        val ra = graft.pipeline.CorpusPipeline.append(
          spark, s"$dirP/annr_batch_jsonl", outR, cfgR)
        val apS = (System.nanoTime() - ta) / 1e9
        val centsAfter = graft.ops.IvfIndex.centroids(spark, root)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
        require(centsAfter != centsBefore,
          "drifted append did not trigger the quantizer retrain")
        val liveN = graft.ops.IvfIndex.liveAssignments(spark, root).count()
        require(liveN == ra.nSurvivors, s"live=$liveN != survivors=${ra.nSurvivors}")
        // post-retrain serving mix: 20 drifted-region queries
        val live = graft.ops.IvfIndex.liveAssignments(spark, root)
        val q = spark.read.parquet(embP)
          .where(col("vec_id").between(cutR, cutR + 19))
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qv"))
        import graft.ops.Similarity
        // BOTH arms exclude the query vectors themselves (they are live
        // index rows; without this the probe burns rank 1 on self at
        // cosine 1.0 and recall is structurally capped at 0.8 —
        // r15 review)
        val noSelf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          _.where(!col("vec_id").between(cutR, cutR + 19))
        // brute arm matches the probe's metric (cosine, desc)
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
        def brute(candFilter: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
          candFilter(noSelf(live)).select(col("vec_id").as("nid"), col("v").as("cv"))
            .crossJoin(broadcast(q))
            .withColumn("sim", Similarity.cosine("qv", "cv"))
            .withColumn("rnk", row_number().over(wq))
            .where(col("rnk") <= 5).select(col("qid"), col("nid"))
        def recallOf(probe: org.apache.spark.sql.DataFrame,
                     exact: org.apache.spark.sql.DataFrame): Double = {
          val a = probe.select(col("qid").as("lq"), col("nid").as("ln"))
          exact.join(a, exact("qid") === a("lq") && exact("nid") === a("ln"), "left")
            .groupBy(col("qid")).agg((count(col("ln")) / 5.0).as("r"))
            .agg(coalesce(avg(col("r")), lit(0.0))).head().getDouble(0)
        }
        val tU = System.nanoTime()
        val rU = recallOf(graft.ops.IvfIndex.probe(spark, q, root, nprobe = 8,
          topk = 5, cand = noSelf), brute(identity))
        val uS = (System.nanoTime() - tU) / 1e9
        val tF = System.nanoTime()
        val rF = recallOf(graft.ops.IvfIndex.probe(spark, q, root, nprobe = 8, topk = 5,
            cand = d => noSelf(d).where(col("vec_id") % 2 === 0)),
          brute(_.where(col("vec_id") % 2 === 0)))
        val fS = (System.nanoTime() - tF) / 1e9
        println(f"[scaleprobe] docs=$n%6d ann_retrain base=$baseS%6.1f s append_with_retrain=$apS%6.1f s live=$liveN%7d probe_recall=$rU%.2f probe=$uS%5.1f s filtered_recall=$rF%.2f filtered=$fS%5.1f s")
        spark.conf.unset("spark.graft.ann.log") // restore (r15 advice)
      }

      // sketch leg: ONE aggregation pass over the full token stream
      // builds the whole sketch family concurrently — Count-Min (32 KB),
      // Bloom (512 B), KMV (~2 KB) — on the production hash tier
      // (xxhash64; the sketches are hash-agnostic). State is constant in
      // corpus size, partials map-side combine, so the curve should be
      // a flat-constant-plus-linear-scan: the 100 TB story is "three
      // sketches for the price of one pass and 35 KB of shuffle".
      if (on("sketch")) {
      graft.functions.CMSketch.register(spark)
      graft.functions.BloomSketch.register(spark)
      graft.functions.KMVDistinct.register(spark)
      val t2 = System.nanoTime()
      val sk = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("word"))
        .select(expr("xxhash64(word)").as("hv"))
        .agg(expr("cms_sketch(hv, 4, 1024)").as("cms"),
          expr("bloom_sketch(hv, 4096, 4)").as("bf"),
          expr("kmv_distinct(hv, 256)").as("kmv")).head()
      val ssecs = (System.nanoTime() - t2) / 1e9
      println(f"[scaleprobe] docs=$n%6d tokens=${80L * n}%8d kmv_distinct_est=${sk.getDouble(2)}%8.1f wall=$ssecs%6.1f s")
      }

      // bpe leg (r10, deepened r11): tokenizer training at growing
      // corpus size AND production merge depth — the merge loop runs
      // driver-local over the collected vocabulary (the corpus never
      // re-enters), so 256 merges must stay FLAT in n and cost seconds
      // (the r10 caveat was one Spark job PER merge) while the one
      // corpus-sized rollup scales with the scan.
      if (on("bpe")) {
      val tb0 = System.nanoTime()
      val bv = graft.ops.Bpe.vocab0(spark.read.parquet(s"$dir/documents.parquet"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVocab = bv.count()
      val rollS = (System.nanoTime() - tb0) / 1e9
      val tb1 = System.nanoTime()
      val merges = graft.ops.Bpe.fitVocab(bv, 1024)
      val loopS = (System.nanoTime() - tb1) / 1e9
      bv.unpersist(false)
      println(f"[scaleprobe] docs=$n%6d bpe vocab=$nVocab%5d rollup=$rollS%5.1f s merge_loop(1024)=$loopS%5.1f s n_merges=${merges.length} top=${merges.head.left}${merges.head.right}")
      }

      // graph leg: the pagerank power-iteration core on a synthetic
      // bipartite graph with zipf-ish hub skew (edge count = 20·n, hubs
      // get a large share — the crawl-graph shape). The edge table is
      // built/cached once; per-round cost is one broadcast join + one
      // map-side-combined sum over it, so the curve should be linear in
      // EDGES with a fixed per-round constant — iterations don't
      // multiply shuffled bytes, the 100 TB story for iterative graph
      // ops.
      if (on("graph")) {
      val t3 = System.nanoTime()
      val m = 20L * n
      val raw = spark.range(m).select(
        (pmod(expr("xxhash64(id, 1)"), lit(n.toLong)) * 2).as("c"),
        (pmod(pmod(expr("xxhash64(id, 2)"), lit(97L)) *
          pmod(expr("xxhash64(id, 3)"), lit(math.max(1L, n / 97L))),
          lit(math.max(1L, n / 10L))) * 2 + 1).as("s"))
      val und = raw.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(raw.select(col("s").as("src"), col("c").as("dst")))
      val (pr, nvg) = graft.queries.GraphQueries.pagerank(und, 6, 0.85)
      val topMass = pr.orderBy(col("pr").desc).limit(10)
        .agg(sum(col("pr"))).head().getDouble(0)
      val gsecs = (System.nanoTime() - t3) / 1e9
      println(f"[scaleprobe] docs=$n%6d edges=${2 * m}%9d vertices=$nvg%7d top10_mass=$topMass%5.3f wall=$gsecs%6.1f s")

      // brandes leg (r10): sampled-pivot betweenness on the same
      // synthetic graph — forward sigma-counting + backward dependency
      // accumulation are per-round edge joins against (seeds × reach)-
      // keyed state, so with a FIXED pivot sample the curve should
      // track EDGES like the pagerank leg; more pivots scale the state
      // table linearly, never the plan.
      val t3b = System.nanoTime()
      val symAb = und.select(col("src").as("a"), col("dst").as("b"))
      val bSeeds = spark.range(16).select((col("id") * 2).as("node"))
      val fwd = graft.queries.GraphQueries.brandesForward(symAb, bSeeds, 3)
      val deltas = graft.queries.GraphQueries.brandesDeltas(symAb, fwd, 3, fwd.count())
      val bcTop = deltas.where(col("node") =!= col("seed"))
        .groupBy(col("node")).agg(sum(col("delta")).as("bc"))
        .orderBy(col("bc").desc).limit(5)
        .agg(sum(col("bc"))).head().getDouble(0)
      val bsecs = (System.nanoTime() - t3b) / 1e9
      println(f"[scaleprobe] docs=$n%6d brandes_edges=${2 * m}%9d top5_bc=$bcTop%12.1f wall=$bsecs%6.1f s")
      }

      // embed leg: the native-kernel vector path at growing n — (a) the
      // banded random-hyperplane near-dup pipeline (4 bands × 16 bits:
      // bucket equi-join, exact cosine verify at 0.95) on 64-dim
      // synthetic vectors with an exact duplicate planted every 25th
      // row; candidates must track true collisions (~n/25 + noise), not
      // n²/2. (b) one Lloyd round against k=16 plan-literal centroids —
      // a map-only assignment scan plus a ≤ k·d-row update shuffle, the
      // per-iteration cost that must stay linear-in-n with a constant
      // shuffle payload. Both stages run entirely on VecDot/
      // HyperplaneBucket (constant codegen size — the r7 unrolled forms
      // fell out of whole-stage codegen exactly here).
      import graft.ops.Similarity
      val vecs = spark.range(n).select(col("id").as("vec_id"), expr(
        """transform(sequence(0, 63), j -> CAST(pmod(xxhash64(
          |  IF(id % 25 = 0 AND id > 0, id - 1, id), j), 2001) - 1000 AS DOUBLE) / 1000.0)"""
          .stripMargin).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (on("embed")) {
      val t4 = System.nanoTime()
      val banded = Similarity.bandedHyperplane(vecs, "v", bands = 4,
        bitsPerBand = 16, seed = 7, dim = 64)
        .select(col("vec_id"), col("v"), col("band"), col("bkt"))
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bkt") === col("b.bkt") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          col("a.v").as("va"), col("b.v").as("vb"))
        .distinct()
      val nearDup = cand.where(Similarity.cosine("va", "vb") >= 0.95).count()
      val esecs = (System.nanoTime() - t4) / 1e9
      println(f"[scaleprobe] docs=$n%6d planted=${(n - 1) / 25}%6d embed_near_dup=$nearDup%6d wall=$esecs%6.1f s")
      }
      // knn-graph leg (r15): one NN-Descent propagation round is an
      // undirected-closure self-join — ≤ n·(2k)² candidate pairs, all
      // equi-joins, no all-pairs term — so per-round wall must grow
      // ~linearly in n at fixed k. r1 vs r2 isolates the marginal
      // round cost from the shared init/scoring constant.
      if (on("knng")) {
        val vv0 = vecs.select(col("vec_id"), col("v"))
        val tg1 = System.nanoTime()
        val g1 = graft.queries.EmbedQueries.knnGraphFrame(vv0, 5, 1).count()
        val sg1 = (System.nanoTime() - tg1) / 1e9
        val tg2 = System.nanoTime()
        val g2 = graft.queries.EmbedQueries.knnGraphFrame(vv0, 5, 2).count()
        val sg2 = (System.nanoTime() - tg2) / 1e9
        println(f"[scaleprobe] docs=$n%6d knn_graph k=5 r1_edges=$g1%8d r1=$sg1%6.1f s r2_edges=$g2%8d r2=$sg2%6.1f s per_round=${sg2 - sg1}%6.1f s")
      }
      // knn-graph ARTIFACT leg (r16): the persisted lifecycle's cost
      // split — build once, then the walls that matter at serving
      // scale: INSERT a 5% batch (beam search over the existing graph,
      // ∝ batch — read against the build wall), SEARCH 20 queries (hop
      // cost independent of n — compare the wall across sizes), and a
      // delete+consolidate (edge half is metadata-sized, so the
      // write-aside rewrite should track n·k rows, not vector bytes).
      if (on("knngidx")) {
        val vv0 = vecs.select(col("vec_id"), col("v"))
        val cutG = (n.toLong * 95L) / 100L
        val rootG = graft.ops.Scratch.dir(s"knngidx$n") // auto-deleted at exit
        val tgb = System.nanoTime()
        graft.ops.KnnGraph.build(vv0.where(col("vec_id") < cutG), 8, 2, rootG)
        val gbS = (System.nanoTime() - tgb) / 1e9
        val tga = System.nanoTime()
        graft.ops.KnnGraph.append(spark, vv0.where(col("vec_id") >= cutG),
          rootG, beam = 8, hops = 4)
        val gaS = (System.nanoTime() - tga) / 1e9
        val q = vv0.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val tgs = System.nanoTime()
        val nServed = graft.ops.KnnGraph.search(spark, q, rootG,
          beam = 8, hops = 4, topk = 5).count()
        val gsS = (System.nanoTime() - tgs) / 1e9
        val tgc = System.nanoTime()
        graft.ops.KnnGraph.delete(spark,
          vv0.where(col("vec_id") % 20 === 1).select(col("vec_id")), rootG)
        graft.ops.KnnGraph.compact(spark, rootG)
        val gcS = (System.nanoTime() - tgc) / 1e9
        val liveG = graft.ops.KnnGraph.liveVertices(spark, rootG).count()
        require(liveG == n - (n + 18) / 20, // deleted ids ≡ 1 (mod 20): count = ceil((n-1)/20)
          s"knng artifact live=$liveG after delete+compact at n=$n")
        println(f"[scaleprobe] docs=$n%6d knng_idx build(${cutG}%6d)=$gbS%6.1f s insert(${n - cutG}%5d)=$gaS%6.1f s search(20q)=$gsS%5.1f s rows=$nServed%3d delete_compact=$gcS%6.1f s live=$liveG%7d")
      }
      if (on("kmeans")) {
      val t5 = System.nanoTime()
      val cents = vecs.where(col("vec_id") < 16).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val dists = cents.map { case (_, c) =>
        var cn = 0.0; c.foreach(x => cn += x * x)
        Similarity.dot("v", "v") + lit(cn) - lit(2.0) * Similarity.dotConst("v", c)
      }
      val updated = vecs
        .withColumn("dists", array(dists.toIndexedSeq: _*))
        .withColumn("cl", expr("array_position(dists, array_min(dists))"))
        .select(col("cl"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cl"), col("i")).agg(avg(col("x")).as("x"))
        .count()
      val ksecs = (System.nanoTime() - t5) / 1e9
      println(f"[scaleprobe] docs=$n%6d kmeans_round_rows=$updated%5d wall=$ksecs%6.1f s")
      }

      // kmeans-TABLE leg (r10): a 2-round ml.KMeans fit at k=4096 cells
      // via the broadcast centroid table. The point is PLAN-SIZE
      // flatness: the plan-literal assignment is O(k·d) literals
      // (4096×64 ≈ 262k — a Janino/serialization blowout), while the
      // table path's plan is O(1) in k, so plan build + run must stay
      // in the same band as the k=16 literal leg's shape. Wall time is
      // the n·k distance stream (compute-bound, linear in both).
      val vv = vecs.select(col("vec_id"), col("v"))
      if (on("kmeans")) {
      val kBig = math.min(4096L, n.toLong)
      // pure plan assembly (analyze+optimize+physical plan, NO job):
      // this is the number that blows up O(k·d) on the literal form
      val t5p = System.nanoTime()
      val asg1 = graft.ml.KMeans.assign(vv, graft.ml.KMeans.seedSmallest(vv, kBig))
      locally { val _ = asg1.queryExecution.executedPlan }
      val planMs = (System.nanoTime() - t5p) / 1e6
      val t5t = System.nanoTime()
      val (asgBig, _) = graft.ml.KMeans.fit(vv,
        graft.ml.KMeans.seedSmallest(vv, kBig), iters = 2)
      val cellsBig = asgBig.agg(countDistinct(col("cl"))).head().getLong(0)
      val ktsecs = (System.nanoTime() - t5t) / 1e9
      println(f"[scaleprobe] docs=$n%6d kmeans_table k=$kBig%5d cells=$cellsBig%5d plan_build=$planMs%7.1f ms wall=$ktsecs%6.1f s")
      }

      // ivf-append leg (r11): persisted-index growth — build on the
      // base 90%, then append the last 10% against the PERSISTED
      // quantizer (fixed centroids). Append cost must scale with the
      // BATCH (one broadcast argmin over n/10 rows + a cell-partitioned
      // file append), never the base — the 100 TB story for daily
      // embedding deltas on a months-old index.
      if (on("ivf")) {
      val ivfRoot = graft.ops.Scratch.dir(s"probe_ivf_$n")
      val cutIvf = (n * 9L) / 10L
      val t5a = System.nanoTime()
      graft.ops.IvfIndex.build(vv.where(col("vec_id") < cutIvf), 64, 2, ivfRoot)
      val buildS = (System.nanoTime() - t5a) / 1e9
      val t5b = System.nanoTime()
      graft.ops.IvfIndex.append(spark, vv.where(col("vec_id") >= cutIvf), ivfRoot)
      val appS = (System.nanoTime() - t5b) / 1e9
      val nIdx = graft.ops.IvfIndex.assignments(spark, ivfRoot).count()
      println(f"[scaleprobe] docs=$n%6d ivf_append base=$cutIvf%6d build=$buildS%6.1f s batch=${n - cutIvf}%5d append=$appS%6.1f s rows=$nIdx%7d")

      // ivf-compact leg (r12): delete + compaction cost must scale with
      // TOUCHED cells, never the index. Tombstone half of the members
      // of ~1/8 of the cells (every 8th cell id), compact at 25%, and
      // time it; the narrow variant (1/32 of cells) must be cheaper on
      // the same index — the affected-cell-only story measured.
      def compactLeg(tag: String, modCell: Int): Unit = {
        val asg = graft.ops.IvfIndex.assignments(spark, ivfRoot)
        val doomed = asg.where(col("cl") % modCell === 0 && col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("v"))
        graft.ops.IvfIndex.delete(spark, doomed, ivfRoot)
        val t = System.nanoTime()
        val cells = graft.ops.IvfIndex.compact(spark, ivfRoot, minRatio = 0.25)
        val secs = (System.nanoTime() - t) / 1e9
        val live = graft.ops.IvfIndex.liveAssignments(spark, ivfRoot).count()
        println(f"[scaleprobe] docs=$n%6d ivf_compact($tag) cells_touched=${cells.size}%4d wall=$secs%6.1f s live=$live%7d")
      }
      compactLeg("1/32", 32)
      compactLeg("1/8", 8)
      }

      // refine leg (r13): the two-stage probe's cost decomposition.
      // probeRefine = probePqResidual (ADC over the probed cells' codes)
      // + a shortlist-sized exact re-rank (|q|·shortlist raw-vector
      // fetches through a DPP-pruned (cell, vec_id) join). The DELTA
      // over the ADC-only probe must stay ~flat in n — the re-rank pays
      // for the shortlist, never the corpus — while the ADC half grows
      // with the probed cells' share of the index.
      if (on("refine")) {
      val refRoot = graft.ops.Scratch.dir(s"probe_refine_$n")
      graft.ops.IvfIndex.build(vv, 64, 2, refRoot)
      graft.ops.IvfIndex.buildPqResidual(spark, m = 8, dsub = 8, codes = 16,
        iters = 2, refRoot)
      val qRef = vv.where(col("vec_id") % math.max(1, n / 20) === 1)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val nq = qRef.count()
      val tAdc = System.nanoTime()
      val nAdc = graft.ops.IvfIndex.probePqResidual(spark, qRef, refRoot,
        m = 8, dsub = 8, nprobe = 4, topk = 5).count()
      val adcS = (System.nanoTime() - tAdc) / 1e9
      val tRef = System.nanoTime()
      val nRef = graft.ops.IvfIndex.probeRefine(spark, qRef, refRoot,
        m = 8, dsub = 8, nprobe = 4, shortlist = 50, topk = 5).count()
      val refS = (System.nanoTime() - tRef) / 1e9
      println(f"[scaleprobe] docs=$n%6d refine q=$nq%3d adc_only=$adcS%6.1f s refine=$refS%6.1f s delta=${refS - adcS}%6.1f s rows=$nAdc%4d/$nRef%4d")
      }
      // filtered-probe leg (r14): attribute-filtered serving cost. The
      // label predicate is PUSHED to the DPP-pruned scans (assignments
      // for the exact arm, codes for the ADC arm — attrs stored beside
      // both), so a 10%-selectivity slice must cost ≤ the unfiltered
      // probe at the identical probe budget: same cells' files read,
      // row-group skipping inside them — never a side join or a
      // post-filter surcharge over fetched vectors.
      if (on("filtered")) {
        val fRoot = graft.ops.Scratch.dir(s"probe_filtered_$n")
        val vl = vv.withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
        graft.ops.IvfIndex.build(vl, 64, 2, fRoot)
        graft.ops.IvfIndex.buildPqResidual(spark, m = 8, dsub = 8, codes = 16,
          iters = 2, fRoot)
        val qF = vv.where(col("vec_id") % math.max(1, n / 20) === 1)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val nqF = qF.count()
        def timed(f: => Long): (Double, Long) = {
          val t = System.nanoTime(); val r = f
          ((System.nanoTime() - t) / 1e9, r)
        }
        val (tAll, nAll) = timed(graft.ops.IvfIndex.probe(spark, qF, fRoot,
          nprobe = 4, topk = 5).count())
        val (tFil, nFil) = timed(graft.ops.IvfIndex.probe(spark, qF, fRoot,
          nprobe = 4, topk = 5, cand = _.where(col("label") === 3)).count())
        val (tAdcF, nAdcF) = timed(graft.ops.IvfIndex.probePqResidual(spark, qF,
          fRoot, m = 8, dsub = 8, nprobe = 4, topk = 5,
          cand = _.where(col("label") === 3)).count())
        println(f"[scaleprobe] docs=$n%6d filtered q=$nqF%3d exact_all=$tAll%6.1f s exact_slice=$tFil%6.1f s adc_slice=$tAdcF%6.1f s rows=$nAll%4d/$nFil%4d/$nAdcF%4d")
      }
      vecs.unpersist(false)

      // asof leg: composed union+window vs the native AsOfJoinExec on
      // the SAME synthetic feed — n left points and n/4 right quotes
      // over n/100 keys, plus 6 fat left payload columns so the padded
      // union's extra shuffled bytes are visible. Both sides computed
      // to a count; equality asserted (differential at scale).
      if (on("asof")) {
        val keys = math.max(n / 100, 1)
        val lhs = spark.range(n).select(col("id").as("event_id"),
            pmod(col("id"), lit(keys)).as("user_id"),
            timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
            col("id").as("p1"), (col("id") * 2).as("p2"), (col("id") * 3).as("p3"),
            (col("id") * 5).as("p4"), (col("id") * 7).as("p5"), (col("id") * 11).as("p6"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rhs = spark.range(n / 4).select(
            pmod(col("id"), lit(keys)).as("user_id"),
            timestamp_micros(lit(1700000000000000L) + col("id") * 3999999L).as("rts"),
            (col("id") % 97).cast("double").as("rvalue"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        lhs.count(); rhs.count() // materialize inputs outside the timers
        // content checksum, not just a count: (count, sum(hash(row)))
        // catches the case where the two formulations match the same
        // NUMBER of rows but disagree on WHICH timestamp/value matched
        def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)).as("n"),
            coalesce(sum(hash(col("event_id"), col("asof_ts"), col("asof_rvalue"))
              .cast("long")), lit(0L)).as("h")).head()
          (r.getLong(0), r.getLong(1))
        }
        val t6 = System.nanoTime()
        val (cMatched, cHash) = checksum(graft.ops.AsOfJoin
          .asofJoin(lhs, "user_id", "ts", rhs, "user_id", "rts", Seq("rvalue"))
          .where(col("asof_ts").isNotNull))
        val cSecs = (System.nanoTime() - t6) / 1e9
        val t7 = System.nanoTime()
        val (nMatched, nHash) = checksum(graft.ops.AsOfJoin
          .asofJoinNative(lhs, "user_id", "ts", rhs, "user_id", "rts", Seq("rvalue"))
          .where(col("asof_ts").isNotNull))
        val nSecs = (System.nanoTime() - t7) / 1e9
        require(cMatched == nMatched && cHash == nHash,
          s"asof differential: composed=($cMatched,$cHash) native=($nMatched,$nHash)")
        println(f"[scaleprobe] docs=$n%6d asof_matched=$cMatched%7d composed=$cSecs%6.1f s native=$nSecs%6.1f s")
        lhs.unpersist(false); rhs.unpersist(false)
      }

      // probe corpora are throwaway — don't leave 2 parquet copies per
      // size accumulating in /tmp across sweeps
      Seq(dir, dirF, dirP).foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(d))
      }
    }

    // isotonic leg (r12 verdict §6): the hybrid guard measured at 5M
    // DISTINCT scores — past the 4M default, so the fit MUST run >=1
    // distributed run-collapse round before the bounded driver finish
    // (noisy monotone-trend labels: the realistic calibration shape,
    // violations everywhere but no adversarial staircase). Beside it,
    // the guard-disabled ALL-distributed run on the same table — the
    // hybrid's win is the rounds it never runs. Round-by-round pool
    // counts print via spark.graft.isotonic.log (the geometric crash
    // the BASELINE record wants).
    if (on("isotonic")) {
      val mIso = 5000000L
      val giso = spark.range(mIso).select(
          col("id").cast("double").as("score"), lit(1L).as("n"),
          when(pmod(hash(col("id")), lit(1000)) <
            (col("id") * lit(1000L) / lit(mIso)).cast("int"), 1L)
            .otherwise(0L).as("sy"))
        .transform(graft.ops.Ckpt.eager)
      spark.conf.set("spark.graft.isotonic.log", "true")
      def fitWall(tag: String, maxRounds: Int): Unit = {
        val t = System.nanoTime()
        val pools = graft.ops.Isotonic.fit(giso, maxRounds)
          .agg(countDistinct(col("iso"))).head().getLong(0)
        val secs = (System.nanoTime() - t) / 1e9
        println(f"[scaleprobe] isotonic($tag) distinct=$mIso%8d fitted_pools=$pools%7d wall=$secs%6.1f s")
      }
      fitWall("hybrid_guard4M", 64)
      // budget-capped comparison run: on noisy 5M-distinct data the
      // run-collapse reduction DECAYS (measured ~17%→7% per round by
      // round 15 — the absorption regime), so an uncapped
      // all-distributed run grinds for an hour; 16 rounds is enough to
      // show the per-round cost the hybrid never pays, then the
      // partition-PAVA fallback terminates it exactly
      spark.conf.set("spark.graft.isotonic.localLimit", "1")
      try fitWall("all_distributed_cap16", 16)
      finally spark.conf.unset("spark.graft.isotonic.localLimit")
      spark.conf.unset("spark.graft.isotonic.log")
      giso.unpersist(): Unit
    }

    // bpe-32k leg (r12 verdict §7): the heap-argmax merge loop at
    // PRODUCTION merge depth over a diverse vocabulary (base-36 words
    // from hashes — up to ~200k distinct words, so tens of thousands of
    // distinct adjacent pairs exist and 32k merges are reachable,
    // unlike the 1000-word near-dup corpus above). Records the rollup
    // wall (corpus-sized, distributed) vs the loop wall (vocab-sized,
    // driver) and how many merges actually landed. Memory note for the
    // BASELINE record: the loop's pair/where indexes are O(distinct
    // adjacent pairs) ≈ O(Σ enc length), exactly what the
    // localVocabBytes guard bounds — a vocabulary past the guard
    // dispatches to fitVocabDistributed instead of growing the heap.
    if (on("bpe32k")) {
      val nDocs = 200000L
      val dirB = java.nio.file.Files.createTempDirectory("probeB").toString
      spark.range(nDocs).select(col("id").as("doc_id"), expr(
        """concat_ws(' ', transform(sequence(1, 80), j ->
          |  conv(CAST(pmod(xxhash64(id, j), 200000) AS STRING), 10, 36)))"""
          .stripMargin).as("text"))
        .write.mode("overwrite").parquet(s"$dirB/documents.parquet")
      val tb0 = System.nanoTime()
      val bv = graft.ops.Bpe.vocab0(spark.read.parquet(s"$dirB/documents.parquet"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vStats = bv.agg(count(lit(1)), coalesce(sum(length(col("enc"))), lit(0L))).head()
      val rollS = (System.nanoTime() - tb0) / 1e9
      val tb1 = System.nanoTime()
      val merges = graft.ops.Bpe.fitVocab(bv, 32768)
      val loopS = (System.nanoTime() - tb1) / 1e9
      bv.unpersist(false)
      println(f"[scaleprobe] bpe32k docs=$nDocs%7d vocab=${vStats.getLong(0)}%7d enc_bytes=${vStats.getLong(1)}%9d rollup=$rollS%6.1f s merge_loop=$loopS%6.1f s n_merges=${merges.length}%6d")
      def rmB(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmB)); f.delete(): Unit
      }
      rmB(new java.io.File(dirB))
    }
    spark.stop()
  }
}
