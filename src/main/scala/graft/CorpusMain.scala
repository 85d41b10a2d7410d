package graft

/** CLI for the composed LLM-corpus DAG — the product surface a corpus
  * operator actually invokes (the bicis counterpart is Pipeline via
  * PipeBench):
  *
  *   tools/run.sh graft.CorpusMain <docs.jsonl> <outDir> [--force]
  *   tools/run.sh graft.CorpusMain --append <batch.jsonl> <outDir>
  *
  * The first form reads the JSONL corpus and runs ingest → quality
  * funnel → LSH dedup → CC → best-survivor → cluster split →
  * mixture/epoch planning → sharded parquet
  * (graft.pipeline.CorpusPipeline; every stage parquet-checkpointed
  * under outDir with exists-skip), and prints the run census.
  * Re-running against the same outDir serves finished stages from
  * their checkpoints. The `--append` form merges a daily batch into a
  * COMPLETED outDir incrementally (batch-scaled delta stages; result ≡
  * full rerun on the union) and prints the merged census.
  */
object CorpusMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CorpusMain <docs.jsonl> <outDir> [--force] | CorpusMain --append <batch.jsonl> <outDir>")
    val spark = SparkEntry.session()
    val t0 = System.nanoTime()
    val pos = args.filterNot(_.startsWith("--"))
    val r =
      if (args.contains("--append"))
        pipeline.CorpusPipeline.append(spark, pos(0), pos(1))
      else
        pipeline.CorpusPipeline.run(spark, pos(0), pos(1),
          force = args.contains("--force"))
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[corpus] raw=${r.nRaw} docs=${r.nDocs} kept=${r.nKept} " +
      f"survivors=${r.nSurvivors} clusters=${r.nClusters} " +
      f"splits=${r.splitCounts.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(",")} " +
      f"wall=$secs%.1f s")
    spark.stop()
  }
}
