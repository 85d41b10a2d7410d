package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query_session mix: short oracle-checked `SparkEntry.queries`
  * entries covering all nine Registry families, issued one after the
  * other by a single client.
  */
object QueryMix {

  /** Chosen from the 45 oracle-checked queries of the sizing mix: each
    * family's cheaper members, plus one streaming replay (the slowest
    * kind of query in the mix). That list has no member of the scalar
    * family (its sketches live in the text and relational families), so
    * one scalar query is added. `dedup_clusters` answers from the
    * session's dedup memo after its first call.
    */
  val mix: Seq[String] = Seq(
    "station_hour_pivot",
    "streaming_dedup_replay",
    "q1_agg",
    "q_json_extract",
    "dedup_minhash_lsh", "dedup_clusters",
    "text_bm25",
    "embed_knn_brute",
    "ml_quality_funnel",
    "graph_degree_stats")

  private val registry: Seq[(String, Seq[QueryDef])] = Seq(
    "bicis" -> BicisQueries.all, "streaming" -> StreamingReplays.all,
    "relational" -> RelationalQueries.all, "scalar" -> ScalarQueries.all,
    "dedup" -> DedupQueries.all, "text" -> TextQueries.all,
    "embed" -> EmbedQueries.all, "ml" -> MlQueries.all, "graph" -> GraphQueries.all)

  val familyNames: Seq[String] = registry.map(_._1)

  /** Query name -> its Registry family. */
  val families: Map[String, String] =
    registry.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  require(familyNames.forall(f => mix.exists(families(_) == f)),
    "the mix must cover every Registry family")

  /** The mix in a seed-determined order, the same for every round. */
  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(mix)

  final case class Sample(name: String, secs: Double, error: Option[String])

  private def timed(name: String)(body: => Unit): Sample = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable => Some(e.getClass.getName + ": " + e.getMessage) }
    Sample(name, (System.nanoTime() - t0) / 1e9, err)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(name)

  /** Writes each result as one parquet directory, plus the oracle SQL of
    * the mix, in the layout `tools/check.py` compares.
    */
  def dumpRound(spark: SparkSession, dir: String, out: String, names: Seq[String]): Seq[Sample] = {
    new java.io.File(out).mkdirs()
    val samples = names.map(n => timed(n)(
      query(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")))
    val oracle = graft.SparkEntry.oracleSql
    val json = names.map(n => s"${graft.core.Json.quote(n)}: ${graft.core.Json.quote(oracle(n))}")
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
    samples
  }

  private def sink(spark: SparkSession, dir: String, name: String): Unit =
    query(name)(spark, dir).write.format("noop").mode("overwrite").save()

  /** One round into the no-op sink, as `graft.Bench` forces queries. */
  def round(spark: SparkSession, dir: String, names: Seq[String]): Seq[Sample] =
    names.map(n => timed(n)(sink(spark, dir, n)))

  /** Each query twice, back to back: once untraced and once as a span
    * named after its family, the untraced call first at even positions
    * and second at odd ones. Returns (untraced, traced) samples.
    */
  def pairedRound(spark: SparkSession, dir: String, names: Seq[String],
                  tracer: Tracer): (Seq[Sample], Seq[Sample]) =
    names.zipWithIndex.map { case (n, i) =>
      def untraced() = timed(n)(sink(spark, dir, n))
      def traced() = timed(n)(tracer.span(s"queries.${families(n)}")(sink(spark, dir, n)))
      if (i % 2 == 0) { val u = untraced(); (u, traced()) }
      else { val t = traced(); (untraced(), t) }
    }.unzip
}
