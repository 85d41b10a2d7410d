package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fs, Ingest, Sinks, TimeKeys}
import graft.ml.{Metrics, Poisson, PoissonFamily}
import graft.ops.{CompositeFeatureBuilder, HourRingFeatures, SeriesAggs, TemporalSplit, WindowOps}
import graft.pipeline.{PipelineConfig, PipelineResult}

/** The bicis forecasting DAG: input generator, the checks on its result,
  * and a hand composition of `Pipeline.run` that times each stage.
  */
object Forecast {

  /** PipeBench's trip generator (200 stations over 500 days, v4 dialect),
    * seeded: seed 13 at 1M trips is PipeBench's own input.
    */
  def writeTrips(dir: String, n: Int, seed: Long): String = {
    new java.io.File(dir).mkdirs()
    val path = s"$dir/recorridos-realizados-2016.csv"
    val rnd = new scala.util.Random(seed)
    val stations = (0 until 200).map(i => s"ST$i")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm")
    val base = java.time.LocalDateTime.of(2016, 1, 1, 0, 0)
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(new java.io.FileWriter(path), 1 << 20))
    w.println("FECHA_HORA_RETIRO;TIEMPO_USO;NOMBRE_ORIGEN;NOMBRE_DESTINO")
    var i = 0
    while (i < n) {
      val t = base.plusMinutes(rnd.nextInt(500 * 24 * 60).toLong)
      w.println(s"${t.format(fmt)};${5 + rnd.nextInt(55)};${stations(rnd.nextInt(200))};${stations(rnd.nextInt(200))}")
      i += 1
    }
    w.close()
    path
  }

  /** Counts plus every split's metrics; two runs agree when their
    * counts are equal and their metrics agree to 1e-9 relative.
    */
  def sameResult(a: PipelineResult, b: PipelineResult): Boolean = {
    def counts(r: PipelineResult) = Seq(r.unifiedCount, r.trainCount, r.valCount,
      r.testCount, r.datasetCount, r.predictionCount)
    counts(a) == counts(b) && a.metrics.keySet == b.metrics.keySet &&
      a.metrics.forall { case (split, m) =>
        m.keySet == b.metrics(split).keySet && m.forall { case (k, v) =>
          val w = b.metrics(split)(k)
          v == w || math.abs(v - w) <= 1e-9 * math.max(math.abs(v), math.abs(w))
        }
      }
  }

  def describe(r: PipelineResult): String =
    f"unified=${r.unifiedCount} dataset=${r.datasetCount} mse=${r.mse}%.6f"

  /** `Pipeline.run` recomposed from its public stage functions, in its
    * order, each stage forced to parquet as the pipeline does, one span
    * per step. The forward-window target is written on its own so that
    * its cost is separate from the ring-feature join.
    */
  def tracedRun(spark: SparkSession, tr: Tracer, csv: String, outDir: String): (Long, Double) = {
    val cfg = PipelineConfig()
    def p(name: String) = s"$outDir/$name"
    def mat(path: String)(df: DataFrame): DataFrame = {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      spark.read.parquet(path)
    }
    val unified = tr.span("core.unify")(mat(p("unified"))(Ingest.unify(spark, Seq(csv))))
    val (train, valid, test) = tr.span("ops.temporal_split") {
      val bounds = TemporalSplit.boundsRow(unified, "rent_date", cfg.split)
      val (a, b, c) = TemporalSplit.split(unified, "rent_date", cfg.split, Some(bounds))
      val out = (mat(p("training"))(a), mat(p("validation"))(b), mat(p("testing"))(c))
      TemporalSplit.writeBoundsJson(spark, bounds, p("split_bounds.json"))
      out
    }
    def profile(name: String, station: String, when: String): DataFrame =
      mat(p(name)) {
        val series = SeriesAggs.activePeriodAvg(train, col(station),
          TimeKeys.hourGroup(col(when)), TimeKeys.hourKey(col(when)), "v")
        SeriesAggs.stationHourPivot(series, "v")
      }
    val (rents, returns) = tr.span("ops.station_profile")(
      (profile("profile", "rent_station", "rent_date"),
        profile("profile_returns", "return_station", "return_date")))
    val ring = new CompositeFeatureBuilder(Seq(
      new HourRingFeatures(spark, rents, "n_rents", cfg.ring),
      new HourRingFeatures(spark, returns, "n_returns", cfg.ring)))
    val datasets = Seq("training" -> train, "validation" -> valid, "testing" -> test).map {
      case (name, split) =>
        val target = tr.span("ops.forward_window")(mat(p(s"target_$name"))(
          WindowOps.forwardWindowCount(
            split.select(col("id"), col("rent_station"), col("rent_date")),
            "rent_station", "rent_date", "id", cfg.windowMicros)))
        val ds = tr.span("ops.ring_features")(mat(p(s"dataset_$name")) {
          val trips = split.select(col("id"), col("rent_station").as("user_id"),
            col("rent_date").as("ts"))
          ring(trips).join(target.withColumnRenamed("n_rents", "label"), "id")
            .select(Seq(col("id"), col("label").cast("double")) ++
              ring.featureNames.map(col): _*)
        })
        tr.span("core.fails_report")(Sinks.failsReport(split, ds, "id", p(s"fails_$name.json")))
        name -> ds
    }
    val (assembled, model) = tr.span("ml.glm_fit") {
      val asm = Poisson.assemble(datasets.head._2, ring.featureNames).cache()
      val m = PoissonFamily(cfg.model).fit(asm)
      m.save(p("model"))
      (asm, m)
    }
    tr.span("ml.predict_evaluate") {
      val metrics = datasets.map { case (name, ds) =>
        val asm = if (name == "training") assembled else Poisson.assemble(ds, ring.featureNames)
        val pred = mat(p(s"predictions_$name"))(model.predict(asm))
        val m = Metrics.evaluate(pred, cfg.metricNames)
        Fs.writeString(spark, p(s"metrics_$name.json"), Metrics.toJson(m, cfg.metricNames))
        name -> m
      }
      assembled.unpersist()
      Seq(unified, train, valid, test).foreach(_.count())
      (datasets.head._2.count(), metrics.head._2("mse"))
    }
  }
}
