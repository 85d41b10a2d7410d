package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.core.{Fs, Ingest, Json, Sinks}
import graft.ops.{Ckpt, IvfIndex, TextOps}
import graft.queries.{DedupQueries, MlQueries}

/** The composed LLM-corpus DAG — what a user of the ~140 LLM-pipeline
  * operators actually RUNS: one checkpointed pipeline from raw JSONL to
  * training-ready sharded parquet, built from the SAME frame-level
  * stage bodies the oracle-gated queries execute (qualityFunnelFlags,
  * hashesOfDocs/minhashVerifiedPairs, Components CC, bestSurvivors,
  * clusterSplitAssign, mixtureEpochsFrame, epochOrderStableFrame), so stage
  * output ≡ gate-query output is a SPEC (CorpusPipelineSpec), not a
  * hope. Structural analog of the bicis [[Pipeline]] (reference
  * build_dataset.py:46-53's Luigi chain): parquet stage targets keyed
  * by their inputs and params ([[Stages]]), and an S8 fails/census
  * sidecar per lossy stage, written as part of its stage.
  *
  * Stage DAG (all parquet-checkpointed under outDir):
  *
  *   docs        JSONL ingest (PERMISSIVE; corrupt rows quarantined —
  *               F4 row-skip) → typed (doc_id, text, lang, source,
  *               n_chars); sidecar ingest_census.json
  *   funnel      per-doc quality flags (Gopher rules, lang-ID gate,
  *               exact keep-first) ≡ ml_quality_funnel
  *   kept        docs surviving the funnel; sidecar fails_kept.json
  *   digests     (doc_id, md5 digest) of every parsed doc — the exact-
  *               tier state [[append]] checks new batches against
  *   signatures  the per-doc shingle-hash signature table — the
  *               production "signature table per corpus snapshot"
  *               every dedup pass reuses ([[append]] never re-shingles
  *               the corpus)
  *   pairs       MinHash-LSH candidates + exact-Jaccard verify ≥ τ over
  *               kept ≡ dedup_minhash_lsh
  *   clusters    connected components over the τ-pairs ≡ dedup_clusters
  *               (LSH tier: identical when band recall = 1, which
  *               dedup_lsh_recall audits)
  *   canonical   per-cluster best survivor (longest text, id tiebreak)
  *               ≡ dedup_best_survivor
  *   survivors   kept minus non-canonical cluster members — the
  *               deduplicated corpus; sidecar fails_survivors.json
  *   split       leakage-aware 80/10/10 assignment keyed on the cluster
  *               rep (near-dups never straddle a split fence)
  *               ≡ ml_cluster_split census; sidecar split_census.json
  *   mixture     per-source α=0.5 temperature shares + epoch counts for
  *               the token budget ≡ ml_mixture_epochs (dataset-card
  *               sidecar mixture.json)
  *   epoch_order deterministic APPEND-STABLE shard/pos visit order
  *               (sparse hash-key pos) ≡ ml_epoch_order_stable
  *   corpus      survivors ⋈ split ⋈ epoch order — the final table
  *   shards/     Sinks.shardedParquet partitioned by (split, source),
  *               sorted by (shard, pos): partition-pruned by split for
  *               eval readers, row-group-skippable on the visit order
  *
  * INCREMENTAL MODE ([[append]]): a daily batch lands as DELTA stages
  * under `batches/<tag>/` (the tag is a digest of the batch file's
  * fingerprint, so a batch rewritten in place is a new batch;
  * docs/funnel/kept/digests/signatures/pairs —
  * all batch-scaled: the funnel's exact tier joins the persisted digest
  * state, the pair delta band-joins the batch's signatures against the
  * persisted signature table), committed atomically to `appends.tsv`,
  * and the id-sized derived tier (clusters→shards) is recomputed over
  * the MERGED views — so run-then-append equals a full rerun on the
  * union EXACTLY (CorpusPipelineSpec proves survivor/split/corpus
  * equality), including the retraction case where a longer batch doc
  * displaces a previously-published base survivor. Precondition
  * (checked): batch doc_ids strictly exceed all prior doc_ids — the
  * production "dense ids assigned at ingest" discipline, and what makes
  * keep-first/lower-id tiebreaks composition-stable. Reference analog:
  * Luigi's target-exists incrementality (split.py:48,56,65) done at the
  * batch level instead of the task level.
  *
  * Scale shape: every stage is one of the proven gate plans — the only
  * corpus-text shuffles are the signature build and the shard write;
  * pairs/clusters/canonical move ids and digests only. A 100 TB append
  * re-shingles NOTHING: new text work is the batch's, corpus-side work
  * is one map over the persisted signature table plus id-sized joins.
  * The whole DAG is timed end-to-end at 200k docs by ScaleProbe's
  * corpus-pipeline leg; the append leg times base+batch against the
  * full rerun.
  */
final case class CorpusConfig(
    tau: Double = 0.8,                      // near-dup Jaccard threshold
    budgetTokens: Long = 1000000L,          // mixture epoch planner budget
    epochSeed: String = "ep1",              // epoch permutation salt
    epochShards: Int = 8,                   // epoch-order shard count
    maxRecordsPerFile: Long = 1000000L,     // shard file cap
    phashDedup: Boolean = false,            // optional media near-dup stage (≡ multimodal_phash_dedup)
    semanticDedup: Boolean = false,         // optional SemDeDup stage (≡ dedup_semantic)
    semanticTau: Double = 0.35,             // semantic drop threshold
    embeddingsPath: String = "",            // (vec_id = doc_id, embedding) parquet for the semantic/ann stages
    bpeMerges: Int = 0,                     // >0: ship a BPE tokenizer trained on the train split (≡ text_bpe_merges)
    packBudget: Int = 0,                    // >0: materialize packed token-id sequences of this length (needs bpeMerges > 0)
    freezeTokenizer: Boolean = false,       // train the tokenizer ONCE (first derive) and freeze merges + token ids — appends stop rewriting the packed tier wholesale
    annIndex: Boolean = false,              // maintain a persisted IVF index over survivors' vectors
    annCells: Int = 16,                     // coarse cell count for the ann index
    annRetrainPsi: Double = 0.0,            // >0: retrain the quantizer when cell-population PSI vs the last-fit census crosses this
    knnGraph: Boolean = false,              // maintain a persisted k-NN GRAPH index (graph-served ANN) over survivors' vectors
    knnGraphK: Int = 8,                     // neighbor-list width of the graph artifact
    knnGraphRounds: Int = 2,                // NN-Descent rounds at build
    knnGraphBeam: Int = 8,                  // insert-time beam width
    knnGraphHops: Int = 6)                  // insert-time hop budget

final case class CorpusResult(
    nRaw: Long, nDocs: Long, nKept: Long, nSurvivors: Long,
    nClusters: Long, splitCounts: Map[String, Long])

object CorpusPipeline {

  /** The documents-table schema the JSONL must carry (TESTDATA parity:
    * doc_id, text, lang, source, n_chars).
    */
  val docSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType)
    .add("n_chars", LongType)

  // ---------------- append registry ----------------

  private def appendsPath(outDir: String) = s"$outDir/appends.tsv"
  private def batchDir(outDir: String, tag: String) = s"$outDir/batches/$tag"

  /** Committed (tag, batchJsonlPath) list, commit order. The commit is
    * ONE small-file write, so a crash leaves either the old list (batch
    * stages exist but are invisible — a re-run resumes and re-commits)
    * or the new list (fully visible) — never a half-applied batch.
    */
  private[graft] def appliedBatches(spark: SparkSession, outDir: String): Seq[(String, String)] =
    if (!Fs.exists(spark, appendsPath(outDir))) Seq.empty
    else Fs.readString(spark, appendsPath(outDir)).linesIterator
      .filter(_.nonEmpty).map { l =>
        val a = l.split("\t", 2); (a(0), if (a.length > 1) a(1) else "")
      }.toSeq

  private def commitBatch(spark: SparkSession, outDir: String, tag: String,
                          path: String): Unit = {
    val prev = if (Fs.exists(spark, appendsPath(outDir)))
      Fs.readString(spark, appendsPath(outDir)) else ""
    Fs.writeString(spark, appendsPath(outDir), prev + s"$tag\t$path\n")
  }

  /** A batch's directory name: a digest of its input fingerprint, so a
    * batch rewritten at the same path after it was committed is a NEW
    * batch, never skipped as "already applied".
    */
  private[graft] def batchTag(batchJsonlPath: String,
                              spark: SparkSession = SparkSession.active): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(Fs.fingerprint(spark, batchJsonlPath).toString.getBytes("UTF-8"))
    d.take(6).map(b => f"$b%02x").mkString
  }

  // ---------------- base and batch areas ----------------

  /** The stages every area holds — the base outDir, or one committed
    * batch's delta dir — plus its input line count.
    */
  private final case class Area(docs: Stage, funnel: Stage, kept: Stage,
                                digests: Stage, signatures: Stage, pairs: Stage,
                                nRaw: Long) {
    def stages: Seq[Stage] = Seq(docs, funnel, kept, digests, signatures, pairs)
  }

  private object Area {
    private val names = Seq("docs", "funnel", "kept", "digests", "signatures", "pairs")

    def apply(spark: SparkSession, dir: String, s: Seq[Stage]): Area =
      Area(s(0), s(1), s(2), s(3), s(4), s(5), Json.field(
        Fs.readString(spark, s"$dir/ingest_census.json"), "input_lines").get.toLong)

    /** The area of `dir` as its manifests record it; None unless every
      * stage committed.
      */
    def committed(spark: SparkSession, dir: String): Option[Area] = {
      val st = new Stages(spark, dir)
      val s = names.flatMap(st.committed)
      if (s.size == names.size) Some(apply(spark, dir, s)) else None
    }
  }

  /** The pairs stage's params, in [[run]] and in [[append]]'s check. */
  private def pairParams(cfg: CorpusConfig): Seq[Any] = Seq(cfg.tau)

  // ---------------- shared stage bodies ----------------

  /** JSONL → typed docs stage + its ingest census sidecar. One
    * PERMISSIVE read counts the input lines (an observation on the
    * stage's own write job — r9 ADVICE: a second spark.read.text pass
    * counted physical lines, blank lines included, and could disagree).
    */
  private def ingest(spark: SparkSession, stages: Stages, jsonlPath: String): Stage = {
    val lines = Observation()
    stages.parquet("docs", inputs = Seq(jsonlPath), sidecar = docs => {
      val nRaw = lines.get("n").asInstanceOf[Long]
      Fs.writeString(spark, stages.path("ingest_census.json"),
        s"""{"input_lines": $nRaw, "parsed_docs": ${docs.rows}, "quarantined": ${nRaw - docs.rows}}""")
    }) {
      Ingest.readJsonl(spark, jsonlPath, docSchema).observe(lines, count(lit(1)).as("n"))
        .where(col("_corrupt").isNull && col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          coalesce(col("n_chars"), length(col("text")).cast("long")).as("n_chars"))
    }
  }

  /** The id-sized derived tier (clusters → canonical → survivors →
    * split → mixture → epoch order → corpus → shards) over the MERGED
    * views of the base and every committed batch — shared verbatim by
    * [[run]] and [[append]], which is exactly why run-then-append ≡
    * full-rerun: everything downstream of the pair set recomputes from
    * the same merged inputs. Every stage here depends on the areas'
    * stages, so an append rebuilds the tier; the freeze-mode tokenizer
    * depends on the base area and the config alone, so an append does
    * not retrain it and a config change still does.
    */
  private def derive(spark: SparkSession, outDir: String, cfg: CorpusConfig,
                     force: Boolean, base: Area): CorpusResult = {
    val stages = new Stages(spark, outDir, force)
    def p(name: String) = stages.path(name)
    val batches = appliedBatches(spark, outDir).map { case (tag, path) =>
      Area.committed(spark, batchDir(outDir, tag)).getOrElse(throw new IllegalStateException(
        s"committed batch $path has no complete stages under ${batchDir(outDir, tag)}"))
    }
    val areas = base +: batches
    def merged(f: Area => Stage): DataFrame = areas.map(a => f(a).df).reduce(_ unionByName _)
    val kept = merged(_.kept)
    val hs = merged(_.signatures)
    val basis = areas.flatMap(a => Seq(a.kept, a.signatures, a.pairs))

    // with no batches: the full CC over the pair set. With batches:
    // incremental cluster maintenance — Components.mergeBatch over the
    // PERSISTED prior map (localCheckpoint first: the stage overwrites
    // the path it reads) + every committed batch's pair delta, proved
    // ≡ full CC by ComponentsSpec and the dedup_clusters_incremental
    // gate row. mergeBatch is idempotent for already-merged edges, so
    // replaying ALL deltas is crash-safe whichever derive last committed.
    val clusters = stages.parquet("clusters", Seq(cfg.tau), basis) {
      if (batches.isEmpty)
        graft.ops.Components.connectedComponents(
            base.pairs.df.where(col("sim") >= cfg.tau).select(col("i"), col("j")))
          .select(col("node"), col("rep"))
      else graft.ops.Components.mergeBatch(
        spark.read.parquet(p("clusters")).transform(Ckpt.eager),
        batches.map(_.pairs.df).reduce(_ unionByName _)
          .where(col("sim") >= cfg.tau).select(col("i"), col("j")))
    }
    val canonical = stages.parquet("canonical", Nil, basis :+ clusters)(
      DedupQueries.bestSurvivors(clusters.df, kept))
    val survivors = stages.parquet("survivors", Nil, basis ++ Seq(clusters, canonical),
        sidecar = sv => Sinks.failsReport(kept, sv.df, "doc_id", p("fails_survivors.json"),
          areas.map(_.kept.rows).sum, sv.rows)) {
      // drop non-canonical cluster members; singletons pass through
      val drop = clusters.df.join(
          canonical.df.select(col("best_doc")), col("node") === col("best_doc"), "left_anti")
        .select(col("node").as("doc_id"))
      kept.join(drop, Seq("doc_id"), "left_anti")
    }

    // ---- optional media/embedding dedup tiers (config-gated) ----
    // drop passes past the text near-dup tier, built from the SAME
    // frame bodies their gate queries execute (phashDedupPairs ≡
    // multimodal_phash_dedup, semanticDedupFrame ≡ dedup_semantic —
    // CorpusPipelineSpec proves both parities); they live inside the
    // derived tier, so append-mode recomputation extends the full-rerun
    // equivalence to them for free
    val survivors2 = {
      var s2 = survivors
      if (cfg.phashDedup) {
        val ppairs = stages.parquet("phash_pairs", Nil, Seq(s2))(
          graft.queries.EmbedQueries.phashDedupPairs(spark, s2.df))
        s2 = stages.parquet("phash_survivors", Nil, Seq(s2, ppairs)) {
          // min-id survivor per hamming cluster (the dedup_survivors policy)
          val drop = graft.ops.Components.connectedComponents(
              ppairs.df.select(col("i"), col("j")))
            .where(col("node") =!= col("rep")).select(col("node").as("doc_id"))
          s2.df.join(drop, Seq("doc_id"), "left_anti")
        }
      }
      if (cfg.semanticDedup) {
        require(cfg.embeddingsPath.nonEmpty,
          "semanticDedup needs embeddingsPath (a (vec_id = doc_id, embedding) parquet)")
        val in = s2
        val drops = stages.parquet("semantic_drops", Seq(cfg.semanticTau), Seq(in),
            inputs = Seq(cfg.embeddingsPath)) {
          val v = spark.read.parquet(cfg.embeddingsPath)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
            .join(in.df.select(col("doc_id").as("vec_id")), "vec_id")
          val k = math.ceil(math.sqrt(math.max(v.count(), 1L).toDouble)).toLong
          graft.queries.EmbedQueries.semanticDedupFrame(v, k, cfg.semanticTau)
        }
        s2 = stages.parquet("semantic_survivors", Nil, Seq(in, drops))(
          in.df.join(drops.df.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti"))
      }
      s2
    }

    // ---- optional ANN serving-index maintenance (config-gated) ----
    // the composition a production corpus actually runs: the persisted
    // IVF index under the out dir holds EXACTLY the current survivors'
    // vectors. The first derive BUILDS it; every later derive
    // reconciles by DELTA — newly-surviving ids append at the FIXED
    // persisted centroids, ids the batch's dedup merges retracted (a
    // longer near-dup arrived and took the canonical slot) tombstone,
    // and compaction rewrites only the touched cells — so index
    // MUTATION costs scale with the reconciled delta (the diff itself
    // reads the index + survivor ids once; a no-op derive pays that
    // comparison scan and zero writes). Correctness rides the
    // IvfIndexSpec lifecycle laws
    // (append ∘ delete ∘ compact ≡ rebuild on the surviving set at
    // fixed centroids); CorpusPipelineSpec pins live-ids ≡ survivors
    // across an append that retracts a base canonical.
    if (cfg.annIndex || cfg.knnGraph) {
      require(cfg.embeddingsPath.nonEmpty,
        "annIndex/knnGraph need embeddingsPath (a (vec_id = doc_id, embedding) parquet)")
      val sv = spark.read.parquet(cfg.embeddingsPath)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .join(survivors2.df.select(col("doc_id").as("vec_id")), "vec_id")
      // survivors with NO embedding row cannot serve — that is a data
      // defect, not a silent shrink of the index: census it next to the
      // other fails reports so the gap is visible
      val missing = survivors2.df.select(col("doc_id").as("vec_id"))
        .join(sv.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
      Fs.writeString(spark, p("fails_ann.json"),
        s"""{"survivors_missing_embedding": $missing}""")
      if (cfg.annIndex)
        reconcileAnnIndex(spark, p("ann_index"), sv, cfg.annCells, cfg.annRetrainPsi)
      // the GRAPH serving arm (r16): same reconcile-by-delta contract
      // over the KnnGraph artifact — HNSW/DiskANN-shaped serving next
      // to (or instead of) the IVF arm
      if (cfg.knnGraph)
        reconcileKnnGraph(spark, p("knn_graph"), sv, cfg.knnGraphK,
          cfg.knnGraphRounds, cfg.knnGraphBeam, cfg.knnGraphHops)
    }

    // ---- leakage-aware split (≡ ml_cluster_split) ----
    // assignment is keyed on the cluster rep over the WHOLE kept corpus
    // (the fence is a property of the group, not of who survived), then
    // applied to survivors
    val split = stages.parquet("split", Nil, basis :+ clusters, sidecar = sp => {
      val rows = DedupQueries.clusterSplitCensus(sp.df).orderBy(col("split")).collect()
      Fs.writeString(spark, p("split_census.json"),
        rows.map(r => s""""${r.getString(0)}": {"n_docs": ${r.getLong(1)}, "n_groups": ${r.getLong(2)}, "n_chars": ${r.getLong(3)}, "id_sum": ${r.getLong(4)}}""")
          .mkString("{", ", ", "}"))
    })(DedupQueries.clusterSplitAssign(kept, clusters.df))

    // ---- tokenizer: BPE merge table trained on the shipped corpus's
    // TRAIN split only (the tokenizer is a trained artifact — letting it
    // see valid/test text is the same leak the cluster fence exists to
    // stop). Stage body IS Bpe.fit, the kernel text_bpe_merges gates.
    // Default mode: it lives in the derived tier, so append batches
    // retrain it over the merged corpus.
    // FREEZE mode (cfg.freezeTokenizer — r15 verdict §2): the tokenizer
    // trains ONCE, on the FIRST derive's train split, and later derives
    // reuse it — the production discipline (a tokenizer is versioned
    // with the model, not the corpus snapshot), and the precondition
    // for the incremental packed tier below: retraining per append can
    // shift EVERY token id, forcing a 100% packed rewrite for a 0.1%
    // batch. Frozen mode also persists the COMPLETE id table
    // (alphabet ∪ merge outputs, fit-frequency ranked) so unseen-at-fit
    // tokens in later batches still encode deterministically: its key
    // is the config and the BASE area's stages, never the batches.
    def trainDocs = survivors2.df.join(
      split.df.where(col("split") === "train").select(col("doc_id")), "doc_id")
    val tokenizer = Option.when(cfg.bpeMerges > 0) {
      val (params, deps) =
        if (cfg.freezeTokenizer) (Seq(cfg), Seq(base.kept, base.signatures, base.pairs))
        else (Seq(cfg.bpeMerges), Seq(survivors2, split))
      stages.parquet("tokenizer", params, deps) {
        import spark.implicits._
        graft.ops.Bpe.fit(trainDocs, cfg.bpeMerges)
          .map(m => (m.rank.toLong, m.left, m.right, m.left + m.right, m.count))
          .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
      }
    }
    // a new id table invalidates the layout packed with the old one:
    // dropping it routes the frozen packed tier to its full writer
    val tokenIds = tokenizer.filter(_ => cfg.freezeTokenizer).map { tok =>
      stages.parquet("token_ids", Nil, Seq(tok),
          sidecar = _ => Fs.deleteRecursive(spark, p("packed_shards")))(
        graft.queries.TextQueries.bpeTokenIds(trainDocs, mergesOf(spark, outDir)))
    }

    // ---- packed: the TRAINING-READY deliverable (r14 verdict §1) ----
    // the artifact an LLM data pipeline exists to produce — survivors
    // tokenized through the TRAINED merge table (the text_bpe_tokenize
    // kernel) and concat-and-chunked into fixed-`packBudget` token-id
    // context windows (the ml_pack_sequences layout made real), one row
    // per sequence: the ordered token_ids array plus doc_spans
    // (doc_id, start_pos) boundary metadata for loss masking /
    // provenance. Packing is keyed by SPLIT, so no sequence ever
    // straddles the leakage fence; within a split, shard hash + doc_id
    // order make the layout deterministic and append-stable (the stage
    // recomputes in the derived tier, so run-then-append ≡ full rerun
    // extends to it). Scale: the two corpus-sized steps are the
    // tokenize equi-join and the per-shard doc cumsum (parallelism =
    // splits × epochShards, sized to the cluster); the per-sequence
    // collect is bounded by packBudget.
    val packedOpt = if (cfg.packBudget > 0) {
      require(cfg.bpeMerges > 0,
        "packBudget needs the trained tokenizer stage (set bpeMerges > 0)")
      val packParams = Seq(cfg.packBudget, cfg.epochShards)
      if (cfg.freezeTokenizer)
        Some(stages("packed_shards", packParams :+ cfg.maxRecordsPerFile,
            Seq(survivors2, split) ++ tokenIds) {
          packedFrozen(spark, outDir, cfg, survivors2.df, split.df); -1L
        })
      else {
        val packed = stages.parquet("packed", packParams, Seq(survivors2, split) ++ tokenizer) {
          val merges = mergesOf(spark, outDir)
          val toks = graft.queries.TextQueries.bpeTokenStream(survivors2.df, merges)
            .join(split.df.select(col("doc_id"), col("split")), "doc_id")
          packSequences(graft.queries.TextQueries
            .packTokenStream(toks, cfg.packBudget, cfg.epochShards,
              salt = "pack", keyCols = Seq("split")), Seq("split"))
        }
        stages("packed_shards", Seq(cfg.maxRecordsPerFile), Seq(packed)) {
          Sinks.shardedParquet(packed.df, p("packed_shards"),
            partitionCols = Seq("split"), sortCols = Seq("shard", "seq_id"),
            maxRecordsPerFile = cfg.maxRecordsPerFile)
          packed.rows
        }
        Some(packed)
      }
    } else None

    // ---- mixture + epoch order over the final corpus ----
    stages.parquet("mixture", Seq(cfg.budgetTokens), Seq(survivors2), sidecar = mx => {
      val rows = mx.df.orderBy(col("source")).collect()
      Fs.writeString(spark, p("mixture.json"),
        rows.map(r => s""""${r.getString(0)}": {"n_tokens": ${r.getLong(1)}, "share": ${r.getDouble(2)}, "epochs": ${r.getDouble(3)}}""")
          .mkString("{", ", ", "}"))
    })(MlQueries.mixtureEpochsFrame(survivors2.df, cfg.budgetTokens))
    // append-STABLE visit order (≡ ml_epoch_order_stable): pos is the
    // sparse permutation key, so an appended batch never shifts an
    // existing doc's (shard, pos) — the precondition for the
    // incremental shard write below (a dense rank reshuffles ~half of
    // every shard per insert and forces a wholesale rewrite)
    val order = stages.parquet("epoch_order", Seq(cfg.epochSeed, cfg.epochShards), Seq(survivors2))(
      MlQueries.epochOrderStableFrame(survivors2.df, cfg.epochSeed, cfg.epochShards))

    // ---- dataset card: the release-notes sidecar composing the
    // validation gate (ml_constraint_audit's plan over the SHIPPED
    // corpus) with the per-source residual dup-rate census
    // (ml_dedup_rate_by_source's plan — post-dedup rates should be ~0;
    // a non-zero residual is the near-dup tier's exact-tier blind spot
    // made visible) and the top cross-source shingle-overlap pairs
    // (dedup_source_overlap's plan off the persisted signature table —
    // which FEEDS still duplicate each other after dedup) ----
    stages("dataset_card", Nil, (basis :+ survivors2) ++ packedOpt) {
      val sv = survivors2.df
      val cons = MlQueries.constraintAuditFrame(sv).orderBy(col("con"))
        .collect().map(r => s""""${r.getString(0)}": {"metric": ${r.getDouble(1)}, "pass": ${r.getBoolean(2)}}""")
      val rates = DedupQueries.dedupRateBySourceFrame(sv).orderBy(col("source"))
        .collect().map(r => s""""${r.getString(0)}": {"n_docs": ${r.getLong(1)}, "dup_rate": ${r.getDouble(4)}, "n_cross": ${r.getLong(5)}}""")
      val overlap = DedupQueries.sourceOverlapPairs(
          hs.join(sv.select(col("doc_id")), "doc_id"), sv)
        .orderBy(col("jaccard").desc, col("sa"), col("sb")).limit(5).collect()
        .map(r => s"""{"sa": ${graft.core.Json.quote(r.getString(0))}, "sb": ${graft.core.Json.quote(r.getString(1))}, "jaccard": ${r.getDouble(3)}}""")
      // token census of the shipped packed artifact (≤3 rows) — the
      // number a training run budgets against
      val packedJson = packedOpt.fold("") { pk =>
        val rows = pk.df.groupBy(col("split"))
          .agg(count(lit(1)).as("n_sequences"), sum(col("n_tokens")).as("n_tokens"))
          .orderBy(col("split")).collect()
          .map(r => s""""${r.getString(0)}": {"n_sequences": ${r.getLong(1)}, "n_tokens": ${r.getLong(2)}}""")
        s""", "packed_tokens": ${rows.mkString("{", ", ", "}")}"""
      }
      Fs.writeString(spark, p("dataset_card.json"),
        s"""{"constraints": ${cons.mkString("{", ", ", "}")}, "dup_rate_by_source": ${rates.mkString("{", ", ", "}")}, "top_source_overlap": ${overlap.mkString("[", ", ", "]")}$packedJson}""")
      -1L
    }

    // ---- final corpus + sharded training layout ----
    val corpus = stages.parquet("corpus", Nil, Seq(survivors2, split, order))(
      survivors2.df
        .join(split.df.select(col("doc_id"), col("split")), "doc_id")
        .join(order.df, "doc_id"))
    stages("shards", Seq(cfg.maxRecordsPerFile), Seq(corpus)) {
      // INCREMENTAL on re-derives: only (split, source) partitions whose
      // content changed rewrite (the id-sized diff inside the sink);
      // correct because every non-projected column is doc_id-determined
      // and the visit order above is append-stable. First derive falls
      // back to the full writer.
      val tS = System.nanoTime()
      val touched = Sinks.shardedParquetIncremental(corpus.df, p("shards"),
        partitionCols = Seq("split", "source"), sortCols = Seq("shard", "pos"),
        keyCol = "doc_id", maxRecordsPerFile = cfg.maxRecordsPerFile)
      if (spark.conf.get("spark.graft.ann.log", "false").toBoolean)
        System.err.println(f"[shards.incremental] partitions_rewritten=$touched " +
          f"wall=${(System.nanoTime() - tS) / 1e9}%.2f s")
      corpus.rows
    }

    val splitCounts = split.df.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    CorpusResult(nRaw = areas.map(_.nRaw).sum, nDocs = areas.map(_.docs.rows).sum,
      nKept = areas.map(_.kept.rows).sum, nSurvivors = survivors2.rows,
      nClusters = canonical.rows, splitCounts = splitCounts)
  }

  private def mergesOf(spark: SparkSession, outDir: String): Seq[graft.ops.Bpe.Merge] =
    spark.read.parquet(s"$outDir/tokenizer").orderBy(col("rank"))
      .collect().map(r => graft.ops.Bpe.Merge(
        r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq // merges+alphabet sized — the artifact IS driver data

  /** Collapse packed token coordinates into one row per sequence:
    * ordered token_ids + doc_spans boundary metadata + token census.
    * `keyCols` is the packing fence (split; split+source in frozen
    * mode) — the per-sequence collect is bounded by the pack budget.
    */
  private def packSequences(coords: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    coords
      .groupBy(keys ++ Seq(col("shard"), col("seq_id")): _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("tid"), col("doc_id"))))
        .as("ord"))
      .select(keys ++ Seq(col("shard"), col("seq_id"),
        expr("transform(ord, x -> x.tid)").as("token_ids"),
        expr("""transform(
                  filter(sequence(0, size(ord) - 1),
                         i -> i = 0 OR ord[i].doc_id != ord[i - 1].doc_id),
                  i -> struct(ord[i].doc_id AS doc_id, ord[i].pos AS start_pos))""")
          .as("doc_spans"),
        size(col("ord")).cast("long").as("n_tokens")): _*)
  }

  /** The APPEND-STABLE packed tier (freeze mode — r15 verdict §2: with
    * the tokenizer retrained per append, every token id can shift and
    * the entire packed artifact re-materializes for a 0.1% batch).
    * With merges AND token ids frozen, a doc's token stream is a pure
    * function of its own text, and packing is fenced by
    * (split, source), so a partition's sequences depend ONLY on its
    * own doc membership. The derive therefore:
    *
    *  1. diffs CURRENT (split, source, doc_id) membership against the
    *     persisted layout's doc_spans (an id-sized read — no text),
    *  2. re-tokenizes and re-packs ONLY the changed partitions' docs —
    *     the corpus-sized tokenize is paid ∝ batch-touched partitions,
    *  3. patches exactly those partitions in place
    *     ([[Sinks.shardedParquetPatch]]; crash mid-patch → the retired
    *     _SUCCESS routes the next derive to the full writer).
    *
    * Law (CorpusPipelineSpec): run(base) + append(batch) ≡ a full
    * frozen-tokenizer pack of the merged survivors through the
    * BASE-trained merges+ids; untouched partitions stay byte-stable.
    */
  private def packedFrozen(spark: SparkSession, outDir: String,
                           cfg: CorpusConfig, survivors2: DataFrame,
                           split: DataFrame): Unit = {
    def p(name: String) = s"$outDir/$name"
    val shardsPath = p("packed_shards")
    val merges = mergesOf(spark, outDir)
    val ids = spark.read.parquet(p("token_ids"))
    val member = survivors2.select(col("doc_id"), col("source"))
      .join(split.select(col("doc_id"), col("split")), "doc_id")
    def packOf(docs: DataFrame): DataFrame = {
      val toks = graft.queries.TextQueries
        .bpeTokenStreamWithIds(docs, merges, ids)
        .join(member, "doc_id")
      packSequences(graft.queries.TextQueries.packTokenStream(
        toks, cfg.packBudget, cfg.epochShards, salt = "pack",
        keyCols = Seq("split", "source")), Seq("split", "source"))
    }
    def pcolS(c: Column) = nullif(c.cast("string"), lit(""))
    // no committed layout — a first derive, a crash mid-patch, or a new
    // id table (the token_ids stage drops the layout: the membership
    // diff is blind to re-shaped sequences) — routes to the full writer
    val prevOpt = if (!Fs.exists(spark, s"$shardsPath/_SUCCESS")) None else
      try {
        val prev = spark.read.parquet(shardsPath)
          .select(pcolS(col("split")).as("split"),
            pcolS(col("source")).as("source"),
            explode(expr("transform(doc_spans, x -> x.doc_id)")).as("doc_id"))
          .distinct()
        prev.queryExecution.analyzed // force resolution inside the try
        Some(prev)
      } catch {
        // committed-but-file-less layout: nothing to diff against
        case _: org.apache.spark.sql.AnalysisException => None
      }
    prevOpt match {
      case None =>
        Sinks.shardedParquet(packOf(survivors2), shardsPath,
          partitionCols = Seq("split", "source"),
          sortCols = Seq("shard", "seq_id"),
          maxRecordsPerFile = cfg.maxRecordsPerFile)
      case Some(prev) =>
        val cur = member.select(pcolS(col("split")).as("split"),
          pcolS(col("source")).as("source"), col("doc_id"))
        val delta = cur.withColumn("__side", lit(1L))
          .unionByName(prev.withColumn("__side", lit(-1L)))
          .groupBy(col("split"), col("source"), col("doc_id"))
          .agg(sum(col("__side")).as("__d")).where(col("__d") =!= 0L)
        val changed: Seq[Seq[Option[String]]] = delta
          .select(col("split"), col("source")).distinct().collect()
          .map(r => Seq(Option(r.getString(0)), Option(r.getString(1))): Seq[Option[String]])
          .toSeq
        if (changed.nonEmpty) {
          def pred(vals: Seq[Option[String]]) =
            Seq("split", "source").zip(vals).map { case (c, v) =>
              v.fold(pcolS(col(c)).isNull)(x => pcolS(col(c)) === x)
            }.reduce(_ && _)
          val docsChanged = survivors2.join(
            member.where(changed.map(pred).reduce(_ || _))
              .select(col("doc_id")), "doc_id")
          val tS = System.nanoTime()
          val touched = Sinks.shardedParquetPatch(packOf(docsChanged),
            shardsPath, Seq("split", "source"), Seq("shard", "seq_id"),
            changed, cfg.maxRecordsPerFile)
          if (spark.conf.get("spark.graft.ann.log", "false").toBoolean)
            System.err.println(f"[packed.incremental] partitions_rewritten=$touched " +
              f"wall=${(System.nanoTime() - tS) / 1e9}%.2f s")
        }
    }
  }

  /** Reconcile the persisted IVF index at `root` to hold EXACTLY the
    * ids of `sv` (vec_id, v). First touch builds; later calls diff the
    * live set against sv (one index read + one sv pass — the comparison
    * is what a reconcile IS), then mutate by DELTA. If any target id is
    * currently TOMBSTONED (it was retracted and has re-survived —
    * cluster membership can flip back under the semantic tier's
    * data-dependent k), the shadowing tombstone ROWS are drained FIRST
    * via compact's dropIds mode — one crash-atomic rewrite of the tiny
    * tombstone table, zero cell rewrites (r13 advice asked for a
    * cell-scoped drain; dropping just the tombstones is strictly
    * cheaper AND reaches the orphan case a cell scope cannot): celled
    * re-survivors resurrect their existing rows, orphans stop
    * shadowing the re-append. Without the drain, an append shadowed by
    * a live tombstone would never serve and every later derive would
    * append another invisible duplicate — the re-survival divergence
    * CorpusPipelineSpec pins.
    * All mutations are skipped when their delta is empty, so a no-op
    * derive pays zero writes and no compaction stats scan. An EMPTY
    * target set before the first build (zero survivors, or an
    * embeddings parquet matching none — already censused in
    * fails_ann.json) skips the build rather than fitting a quantizer on
    * nothing (r13 advice); the first non-empty derive builds.
    */
  private[graft] def reconcileAnnIndex(spark: SparkSession, root: String,
                                       sv: DataFrame, cells: Int,
                                       retrainPsi: Double = 0.0): Unit = {
    // per-stage walls (spark.graft.ann.log — ScaleProbe's annpipe leg
    // reads these to split the add-on into build / drain / diff /
    // append / retract, the delta-sized-mutation evidence)
    val logOn = spark.conf.get("spark.graft.ann.log", "false").toBoolean
    var t = System.nanoTime()
    def lap(tag: String): Unit = if (logOn) {
      System.err.println(f"[ann.reconcile] $tag ${(System.nanoTime() - t) / 1e9}%.2f s")
      t = System.nanoTime()
    }
    // finish (or discard) a retrain swap an earlier derive crashed in —
    // before ANY read of the root, so readers never see the gap
    adoptRetrain(spark, root)
    if (!Fs.exists(spark, s"$root/centroids")) {
      if (sv.head(1).nonEmpty) {
        IvfIndex.build(sv, cells, iters = 2, root)
        // the drift baseline is the census AT FIT TIME — write it with
        // the build, not lazily at the first reconcile (which would
        // silently forgive any drift accumulated in between)
        if (retrainPsi > 0) retrainIfDrifted(spark, root, sv, cells, retrainPsi)
      }
      lap("build")
      return
    }
    // SELF-HEAL first (r13 verdict §1's repair, wired into the one
    // place that owns this index): a compaction that crashed in an
    // earlier derive leaves readers on the list-and-filter path —
    // repair reconciles intents, deletes retired files and certifies
    // CLEAN before this derive's reads. No-op (one listing) on a
    // healthy root; single-writer holds because the derive IS the
    // index's only writer.
    IvfIndex.repair(spark, root)
    lap("repair")
    val resIds = sv.select(col("vec_id"))
      .join(IvfIndex.tombstones(spark, root), "vec_id").transform(Ckpt.eager)
    if (resIds.head(1).nonEmpty) {
      // drain ONLY the shadowing tombstone rows (compact's dropIds —
      // one crash-atomic rewrite of the tiny tombstone table, zero cell
      // rewrites): a celled re-survivor RESURRECTS its existing row
      // (vectors are vec_id-keyed and immutable, so the row is the one
      // sv would re-append), and an ORPHAN tombstone (id an earlier
      // compaction physically removed — the r14 review's case, which a
      // cell-scoped drain could never reach) stops shadowing the
      // re-append the diff below will issue
      IvfIndex.compact(spark, root, minRatio = 2.0, onlyCells = Seq.empty,
        dropIds = resIds): Unit
    }
    lap("drain")
    // materialize BOTH deltas BEFORE mutating the files they were
    // computed from (the compactPlan discipline)
    val have = IvfIndex.liveAssignments(spark, root).select(col("vec_id"))
    val add = sv.join(have, Seq("vec_id"), "left_anti").transform(Ckpt.eager)
    val gone = have.join(sv.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .transform(Ckpt.eager)
    lap("diff")
    if (add.head(1).nonEmpty) IvfIndex.append(spark, add, root)
    lap("append")
    if (gone.head(1).nonEmpty) {
      IvfIndex.delete(spark, gone, root)
      IvfIndex.compact(spark, root, minRatio = 0.1): Unit
    }
    lap("retract")
    if (retrainPsi > 0) {
      retrainIfDrifted(spark, root, sv, cells, retrainPsi)
      lap("drift")
    }
  }

  /** Graph-arm twin of [[reconcileAnnIndex]]: keep the persisted
    * [[graft.ops.KnnGraph]] artifact serving EXACTLY the ids of `sv`.
    * First non-empty derive BUILDS (NN-Descent over the survivor
    * vectors); later derives mutate by DELTA — re-surviving tombstoned
    * ids drain their shadowing tombstone rows FIRST (resurrecting the
    * still-present vertex and its edges; the same shadow-vs-duplicate
    * divergence the IVF arm's drain prevents), newly-surviving ids
    * INSERT by beam search over the existing graph (cost ∝ batch, no
    * base re-scoring), retracted ids tombstone and the artifact
    * consolidates (the edge half is metadata-sized, so the eager
    * consolidation is cheap; it keeps holes repaired and tombstones
    * drained for the serving tier). KnnGraph.heal runs before any
    * read, so a derive that crashed mid-compact never strands readers.
    */
  private[graft] def reconcileKnnGraph(spark: SparkSession, root: String,
                                       sv: DataFrame, k: Int, rounds: Int,
                                       beam: Int, hops: Int): Unit = {
    import graft.ops.KnnGraph
    val logOn = spark.conf.get("spark.graft.ann.log", "false").toBoolean
    var t = System.nanoTime()
    def lap(tag: String): Unit = if (logOn) {
      System.err.println(f"[knng.reconcile] $tag ${(System.nanoTime() - t) / 1e9}%.2f s")
      t = System.nanoTime()
    }
    KnnGraph.heal(spark, root)
    if (!Fs.exists(spark, s"$root/meta.json")) {
      // an EMPTY target before the first build: skip rather than
      // persist a graph over nothing (the IVF arm's r13 rule)
      if (sv.head(1).nonEmpty) KnnGraph.build(sv, k, rounds, root)
      lap("build")
      return
    }
    // empty→non-empty transition (r16 review): after survivors dropped
    // to zero, delete+compact left an EDGELESS-but-complete artifact —
    // inserting into it would beam-search an empty graph and append the
    // whole batch with ZERO edges, permanently. A repopulating derive
    // REBUILDS instead (build retires the meta marker first, so a crash
    // mid-rebuild reads as incomplete, and drops stale tombstones).
    if (KnnGraph.liveVertices(spark, root).head(1).isEmpty) {
      if (sv.head(1).nonEmpty) KnnGraph.build(sv, k, rounds, root)
      lap("rebuild_from_empty")
      return
    }
    val resIds = sv.select(col("vec_id"))
      .join(KnnGraph.tombstones(spark, root), "vec_id").transform(Ckpt.eager)
    if (resIds.head(1).nonEmpty) KnnGraph.dropTombstones(spark, resIds, root)
    lap("drain")
    // materialize BOTH deltas BEFORE mutating the files they were
    // computed from (the compactPlan discipline)
    val have = KnnGraph.liveVertices(spark, root).select(col("vec_id"))
    val add = sv.join(have, Seq("vec_id"), "left_anti").transform(Ckpt.eager)
    val gone = have.join(sv.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .transform(Ckpt.eager)
    lap("diff")
    if (add.head(1).nonEmpty) KnnGraph.append(spark, add, root, beam, hops)
    lap("insert")
    if (gone.head(1).nonEmpty) {
      KnnGraph.delete(spark, gone, root)
      KnnGraph.compact(spark, root)
    }
    lap("retract")
  }

  /** The RETRAIN TRIGGER, acted on (r13's coverage note left it
    * surfaced-only via embed_index_drift's PSI row): appends assign at
    * FIXED centroids, so a corpus whose embedding distribution drifts
    * accumulates ever-worse cells — the quantizer must eventually
    * refit. The baseline is the cell census persisted at the LAST fit
    * (`root/census`, ≤cells rows); after each reconcile's mutations the
    * live census compares by population-stability index (the
    * embed_index_drift statistic: Σ (q−p)·ln(q/p) over cell shares,
    * 1e-6 floor), and a crossing rebuilds the WHOLE artifact over the
    * reconciled survivor set — centroids, assignments, and a fresh
    * census baseline; stale tombstones/manifest state die with the old
    * root (a rebuilt index starts CLEAN). Pre-census indexes (built
    * before this feature) adopt the current census as baseline and
    * skip the check once. The industry-standard 0.2 "significant
    * shift" threshold is a reasonable config value.
    */
  private def retrainIfDrifted(spark: SparkSession, root: String,
                               sv: DataFrame, cells: Int, thr: Double): Unit = {
    def liveCensus(r: String = root): Map[Long, Long] =
      IvfIndex.liveAssignments(spark, r).groupBy(col("cl")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def writeCensus(c: Map[Long, Long], r: String = root): Unit = {
      import spark.implicits._
      c.toSeq.toDF("cl", "n").coalesce(1)
        .write.mode("overwrite").parquet(s"$r/census")
    }
    if (!Fs.exists(spark, s"$root/census")) { writeCensus(liveCensus()); return }
    val base = spark.read.parquet(s"$root/census")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cur = liveCensus()
    val bT = math.max(base.values.sum.toDouble, 1.0)
    val cT = math.max(cur.values.sum.toDouble, 1.0)
    val psi = (base.keySet ++ cur.keySet).toSeq.map { c =>
      val p = math.max(base.getOrElse(c, 0L) / bT, 1e-6)
      val q = math.max(cur.getOrElse(c, 0L) / cT, 1e-6)
      (q - p) * math.log(q / p)
    }.sum
    // an EMPTY target must never trigger a destructive rebuild (its
    // census is all-zero, so PSI is maximal by construction): the index
    // already serves nothing after the retractions above, and deleting
    // the root to fit a quantizer on zero rows would leave an
    // unreadable artifact (r14 review)
    if (psi > thr && sv.head(1).nonEmpty) {
      // WRITE-ASIDE + SWAP (r14 advice): the rebuild was the lifecycle's
      // one non-crash-atomic destructive mutation — delete-then-build
      // left a window where readers saw NO index. Now the whole refit
      // lands under a sibling temp root (census written LAST = the
      // completeness marker), and only then does the old root retire.
      // The swap itself retires the old root by RENAME rather than
      // delete (r15 advice): rename(root→.old) + rename(tmp→root) +
      // delete(.old) keeps a readable root alive at every instant
      // except the two-rename gap — and a concurrent out-of-pipeline
      // reader that loses that race merely retries, rather than facing
      // a root that stays missing until the next derive heals it. A
      // crash anywhere in the sequence is healed by [[adoptRetrain]]
      // at the next derive's entry (the completed write-aside is
      // adopted, not rebuilt; a half-swapped .old is finished or
      // restored).
      val tmp = retrainTmp(root)
      val old = retrainOld(root)
      Fs.deleteRecursive(spark, tmp)
      IvfIndex.build(sv, cells, iters = 2, tmp)
      writeCensus(liveCensus(tmp), tmp)
      Fs.deleteRecursive(spark, old)
      Fs.rename(spark, root, old)
      Fs.rename(spark, tmp, root)
      Fs.deleteRecursive(spark, old)
    }
  }

  private def retrainTmp(root: String): String = s"$root.retrain"
  private def retrainOld(root: String): String = s"$root.old"

  /** Crash recovery for the retrain swap, run before any index read: a
    * COMPLETE write-aside (its census marker present) whose swap didn't
    * finish is adopted — resume the retire-rename sequence exactly
    * where the crashed writer stopped; an incomplete one (no census) is
    * debris from a crash mid-refit and is discarded, the still-live old
    * root having served throughout. A `.old` root left by a crash
    * between the swap's renames is finished (new root adopted, .old
    * deleted) or — defensively, with neither tmp nor root present —
    * restored. Single-writer (the derive) holds, same as
    * compact/repair.
    */
  private def adoptRetrain(spark: SparkSession, root: String): Unit = {
    val tmp = retrainTmp(root)
    val old = retrainOld(root)
    // the marker is the census write's JOB COMMIT (_SUCCESS), not the
    // directory: a crash DURING the census write leaves $tmp/census
    // with only _temporary debris, and adopting that would destroy the
    // still-healthy live root for a write-aside whose drift baseline is
    // unreadable (r15 review)
    if (Fs.exists(spark, s"$tmp/census/_SUCCESS")) {
      // resume: retire the live root (if the crash came before its
      // rename), adopt the write-aside, drop the retired copy
      if (Fs.exists(spark, root)) {
        Fs.deleteRecursive(spark, old)
        Fs.rename(spark, root, old)
      }
      Fs.rename(spark, tmp, root)
      Fs.deleteRecursive(spark, old)
    } else {
      if (Fs.exists(spark, tmp)) Fs.deleteRecursive(spark, tmp)
      if (Fs.exists(spark, old)) {
        // tmp gone + .old present: crash after rename(tmp→root) but
        // before the .old delete — root IS the new index, .old is
        // debris. If root is somehow missing too, restore the retired
        // copy rather than leave no index at all.
        if (Fs.exists(spark, root)) Fs.deleteRecursive(spark, old)
        else Fs.rename(spark, old, root)
      }
    }
  }

  // ---------------- batch build ----------------

  def run(spark: SparkSession, jsonlPath: String, outDir: String,
          cfg: CorpusConfig = CorpusConfig(), force: Boolean = false): CorpusResult = {
    TextOps.ensureFunctions(spark)
    val stages = new Stages(spark, outDir, force)
    def p(name: String) = stages.path(name)

    // ---- ingest (F4: corrupt lines quarantined, not fatal) ----
    val docs = ingest(spark, stages, jsonlPath)

    // ---- quality funnel (≡ ml_quality_funnel) ----
    val funnel = stages.parquet("funnel", deps = Seq(docs))(
      MlQueries.qualityFunnelFlags(docs.df))
    val kept = stages.parquet("kept", deps = Seq(docs, funnel),
        sidecar = k => Sinks.failsReport(docs.df, k.df, "doc_id", p("fails_kept.json"),
          docs.rows, k.rows))(
      docs.df.join(funnel.df.where(col("keep") === 1).select(col("doc_id")), "doc_id"))

    // ---- persisted dedup state: digest + signature tables ----
    // digests: the exact-tier state append batches check against.
    // signatures: the per-snapshot signature table every dedup pass
    // (and every future append) reuses — built ONCE per doc, never
    // re-shingled
    val digests = stages.parquet("digests", deps = Seq(docs))(
      docs.df.select(col("doc_id"), md5(col("text")).as("dg")))
    val hs = stages.parquet("signatures", deps = Seq(kept))(
      DedupQueries.hashesOfDocs(spark, kept.df))
    val pairs = stages.parquet("pairs", pairParams(cfg), Seq(hs))(
      DedupQueries.minhashVerifiedPairs(hs.df, cfg.tau))
    val base = Area(spark, outDir, Seq(docs, funnel, kept, digests, hs, pairs))

    // committed appends are part of this outDir's state: an unchanged
    // base serves the MERGED corpus (idempotent ensure); a rebuilt one
    // (a forced run, a new input, a new tau) clears them — batch deltas
    // were built against the old base
    if (base.stages.exists(_.built)) {
      Fs.delete(spark, appendsPath(outDir))
      Fs.deleteRecursive(spark, s"$outDir/batches")
    }
    derive(spark, outDir, cfg, force, base)
  }

  /** INCREMENTAL append — merge a new JSONL batch into a completed
    * corpus outDir without recomputing the corpus: batch-scaled delta
    * stages (ingest → incremental funnel → signatures → incremental
    * pair build against the persisted signature table) land under
    * `batches/<tag>/`, the batch commits atomically to `appends.tsv`,
    * and the id-sized derived tier recomputes over the merged views.
    * Result ≡ a full [[run]] over base ∪ batch (CorpusPipelineSpec).
    *
    * Idempotent and resumable: delta stages are keyed stages like
    * everything else; an already-committed batch (same content, same
    * tag) short-circuits to the merged report. Preconditions (checked):
    * the base's pair stage was built under this config's tau, and every
    * batch doc_id strictly exceeds every committed doc_id.
    */
  def append(spark: SparkSession, batchJsonlPath: String, outDir: String,
             cfg: CorpusConfig = CorpusConfig(), force: Boolean = false): CorpusResult = {
    TextOps.ensureFunctions(spark)
    val base = Area.committed(spark, outDir).getOrElse(throw new IllegalArgumentException(
      s"append: no completed base run in $outDir"))
    require(base.pairs.key ==
      new Stages(spark, outDir).key("pairs", pairParams(cfg), Seq(base.signatures), Nil),
      "append: CorpusConfig differs from the base run's — append would mix " +
        "thresholds; re-run the base with the new config instead")

    val tag = batchTag(batchJsonlPath, spark)
    val applied = appliedBatches(spark, outDir)
    if (!applied.exists(_._1 == tag)) {
      val bdir = batchDir(outDir, tag)
      val stages = new Stages(spark, bdir, force)
      val prior = base +: applied.map { case (t, _) => Area.committed(spark, batchDir(outDir, t)).get }
      def merged(f: Area => Stage): DataFrame = prior.map(a => f(a).df).reduce(_ unionByName _)

      val bdocs = ingest(spark, stages, batchJsonlPath)

      // id monotonicity: keep-first exact dedup, lower-id pair order and
      // CC reps are only composition-stable when new ids sort after ALL
      // prior ids (the production dense-ids-at-ingest discipline)
      val maxPrior = merged(_.docs).agg(max(col("doc_id"))).head().getLong(0)
      val minBatch = bdocs.df.agg(min(col("doc_id"))).head() match {
        case r if r.isNullAt(0) =>
          throw new IllegalArgumentException(s"append: batch $batchJsonlPath parsed no docs")
        case r => r.getLong(0)
      }
      require(minBatch > maxPrior,
        s"append: batch $batchJsonlPath doc_ids must exceed all prior ids " +
          s"(batch min $minBatch <= prior max $maxPrior)")

      val bfunnel = stages.parquet("funnel", deps = bdocs +: prior.map(_.digests))(
        MlQueries.qualityFunnelFlagsIncremental(bdocs.df, merged(_.digests)))
      val bkept = stages.parquet("kept", deps = Seq(bdocs, bfunnel),
          sidecar = k => Sinks.failsReport(bdocs.df, k.df, "doc_id", stages.path("fails_kept.json"),
            bdocs.rows, k.rows))(
        bdocs.df.join(bfunnel.df.where(col("keep") === 1).select(col("doc_id")), "doc_id"))
      // delta state for the NEXT append
      stages.parquet("digests", deps = Seq(bdocs))(
        bdocs.df.select(col("doc_id"), md5(col("text")).as("dg"))): Unit

      // batch signatures (the only new text work) + incremental pairs:
      // corpus side reads the PERSISTED signature table — band keys are
      // a map over it, candidates are keyed by the batch's band rows
      val bhs = stages.parquet("signatures", deps = Seq(bkept))(
        DedupQueries.hashesOfDocs(spark, bkept.df))
      stages.parquet("pairs", pairParams(cfg), bhs +: prior.map(_.signatures))(
        DedupQueries.minhashVerifiedPairsIncremental(
          merged(_.signatures).unionByName(bhs.df), bhs.df, cfg.tau)): Unit

      commitBatch(spark, outDir, tag, batchJsonlPath)
    }
    derive(spark, outDir, cfg, force = false, base)
  }
}
