package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fs, Ingest, Sinks}
import graft.ops.{Components, TextOps}
import graft.pipeline.{CorpusConfig, CorpusPipeline}
import graft.queries.{DedupQueries, MlQueries}

/** The corpus dedup DAG: input generator, the planted-duplicate check,
  * and a hand composition of `CorpusPipeline.run` that times each stage.
  */
object Corpus {

  final case class Census(nDocs: Long, nKept: Long, nSurvivors: Long, nClusters: Long,
                          splitCounts: Map[String, Long])

  /** JSONL directories of the generated corpus. */
  final case class Docs(base: String, batch: String, union: String)

  def census(r: graft.pipeline.CorpusResult): Census =
    Census(r.nDocs, r.nKept, r.nSurvivors, r.nClusters, r.splitCounts)

  /** ScaleProbe's corpus, salted by the seed: 80 words per doc from a
    * 1000-word vocabulary behind an English stopword block, 20 sources,
    * and every 20th doc repeating the previous doc's first 75 words (a
    * planted near-duplicate pair at Jaccard about 0.88). Docs below
    * `nBase` go to `base`, the rest (higher doc_ids) to `batch`, and all
    * of them to `union`.
    */
  def writeDocs(spark: SparkSession, dir: String, nBase: Int, nBatch: Int,
                seed: Long): Docs = {
    val vocab = (0 until 1000).map(i => s"'w$i'").mkString("array(", ", ", ")")
    val docs = spark.range(nBase.toLong + nBatch).select(col("id").as("doc_id"),
      expr(s"""concat('the and of to in ', concat_ws(' ', transform(sequence(1, 80), j ->
              |  element_at($vocab, 1 + pmod(hash(${seed}L, IF(id % 20 = 0 AND id > 0 AND j <= 75, id - 1, id), j), 1000)))))"""
        .stripMargin).as("text"),
      lit("en").as("lang"), concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.where(col("doc_id") < nBase).toJSON.write.mode("overwrite").text(s"$dir/base")
    docs.where(col("doc_id") >= nBase).toJSON.write.mode("overwrite").text(s"$dir/batch")
    docs.toJSON.write.mode("overwrite").text(s"$dir/union")
    Docs(s"$dir/base", s"$dir/batch", s"$dir/union")
  }

  /** Planted pairs (id - 1, id) of which both docs survived dedup. */
  def plantedSurvivorPairs(spark: SparkSession, outDir: String): Long = {
    val s = spark.read.parquet(s"$outDir/survivors").select(col("doc_id"))
    s.where(col("doc_id") % 20 === 0 && col("doc_id") > 0)
      .join(s.select((col("doc_id") + 1).as("doc_id")), "doc_id").count()
  }

  /** `CorpusPipeline.run` (default config) recomposed from its public
    * stage functions, in its order, each stage forced to parquet, one
    * span per step. `core.sharded_write` also covers the corpus join and
    * the dataset card, which the pipeline writes just before the shards.
    */
  def tracedRun(spark: SparkSession, tr: Tracer, jsonl: String, outDir: String): Census = {
    val cfg = CorpusConfig()
    def p(name: String) = s"$outDir/$name"
    def mat(name: String)(df: DataFrame): DataFrame = {
      df.write.mode(SaveMode.Overwrite).parquet(p(name))
      spark.read.parquet(p(name))
    }
    TextOps.ensureFunctions(spark)
    val docs = tr.span("core.jsonl_ingest") {
      val raw = Ingest.readJsonl(spark, jsonl, CorpusPipeline.docSchema).cache()
      val d = mat("docs")(raw.where(col("_corrupt").isNull &&
          col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          coalesce(col("n_chars"), length(col("text")).cast("long")).as("n_chars")))
      val nRaw = raw.count()
      val nDocs = d.count()
      Fs.writeString(spark, p("ingest_census.json"),
        s"""{"input_lines": $nRaw, "parsed_docs": $nDocs, "quarantined": ${nRaw - nDocs}}""")
      raw.unpersist()
      d
    }
    val kept = tr.span("queries.quality_funnel") {
      val funnel = mat("funnel")(MlQueries.qualityFunnelFlags(docs))
      val k = mat("kept")(docs.join(funnel.where(col("keep") === 1).select(col("doc_id")), "doc_id"))
      Sinks.failsReport(docs, k, "doc_id", p("fails_kept.json"))
      mat("digests")(docs.select(col("doc_id"), md5(col("text")).as("dg")))
      k
    }
    val hs = tr.span("queries.dedup_signatures")(mat("signatures")(DedupQueries.hashesOfDocs(spark, kept)))
    val pairs = tr.span("queries.dedup_pairs")(mat("pairs")(DedupQueries.minhashVerifiedPairs(hs, cfg.tau)))
    val clusters = tr.span("ops.components")(mat("clusters")(
      Components.connectedComponents(pairs.where(col("sim") >= cfg.tau).select(col("i"), col("j")))
        .select(col("node"), col("rep"))))
    val (canonical, survivors) = tr.span("queries.best_survivor") {
      val c = mat("canonical")(DedupQueries.bestSurvivors(clusters, kept))
      val drop = clusters.join(c.select(col("best_doc")), col("node") === col("best_doc"), "left_anti")
        .select(col("node").as("doc_id"))
      val s = mat("survivors")(kept.join(drop, Seq("doc_id"), "left_anti"))
      Sinks.failsReport(kept, s, "doc_id", p("fails_survivors.json"))
      (c, s)
    }
    val split = tr.span("queries.cluster_split") {
      val s = mat("split")(DedupQueries.clusterSplitAssign(kept, clusters))
      DedupQueries.clusterSplitCensus(s).orderBy(col("split")).collect()
      s
    }
    val order = tr.span("queries.mixture_epochs") {
      mat("mixture")(MlQueries.mixtureEpochsFrame(survivors, cfg.budgetTokens))
        .orderBy(col("source")).collect()
      mat("epoch_order")(MlQueries.epochOrderStableFrame(survivors, cfg.epochSeed, cfg.epochShards))
    }
    tr.span("core.sharded_write") {
      MlQueries.constraintAuditFrame(survivors).collect()
      DedupQueries.dedupRateBySourceFrame(survivors).collect()
      DedupQueries.sourceOverlapPairs(hs.join(survivors.select(col("doc_id")), "doc_id"), survivors)
        .orderBy(col("jaccard").desc, col("sa"), col("sb")).limit(5).collect()
      val corpus = mat("corpus")(survivors
        .join(split.select(col("doc_id"), col("split")), "doc_id").join(order, "doc_id"))
      Sinks.shardedParquetIncremental(corpus, p("shards"),
        partitionCols = Seq("split", "source"), sortCols = Seq("shard", "pos"),
        keyCol = "doc_id", maxRecordsPerFile = cfg.maxRecordsPerFile)
      val splitCounts = split.groupBy(col("split")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Census(docs.count(), kept.count(), survivors.count(), canonical.count(), splitCounts)
    }
  }
}
