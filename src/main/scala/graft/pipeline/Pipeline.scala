package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fs, Ingest, Sinks}
import graft.ml.{Metrics, Models, Poisson}
import graft.ops.{HourRingFeatures, SeriesAggs, TemporalSplit}

/** End-to-end bicis pipeline as checkpointed stage composition — the
  * engine's replacement for the Luigi DAG + Redis memoization
  * (SURVEY.md §2.12): each stage materializes to parquet and is skipped
  * when it was built from the same inputs and params ([[Stages]] — the
  * reference's target-exists idempotency, bicis/etl/raw_data/split.py:
  * 48,56,65, keyed by what the stage read), but within a run everything
  * is one SparkSession and stages compose as DataFrames — the only
  * process boundary left is the shuffle.
  *
  * Config is plain typed Scala (the ObjectLoader YAML-DI of
  * bicis/lib/object_loader.py:9-97 adds nothing in a compiled language —
  * an experiment is a named PipelineConfig value).
  */
final case class PipelineConfig(
    split: TemporalSplit.Spec = TemporalSplit.Spec(),
    windowMicros: Long = 3600L * 1000000L,
    ring: Int = 24,
    model: Poisson.Config = Poisson.Config(),
    modelName: String = "poisson",               // Models.registry dispatch
    metricNames: Seq[String] = Seq("mse", "rmse", "mae"),
    // reference-format header-CSV sidecar next to each predictions stage
    // (poisson_regression.py:43-47 writes predictions as header CSV);
    // parquet stays the stage boundary — the CSV is export parity only
    csvPredictions: Boolean = false)

final case class PipelineResult(
    unifiedCount: Long, trainCount: Long, valCount: Long, testCount: Long,
    datasetCount: Long, predictionCount: Long,
    metrics: Map[String, Map[String, Double]],   // split -> metric -> value
    modelLoaded: Boolean) {
  /** Training MSE; NaN when "mse" is not among the configured metrics. */
  def mse: Double = metrics("training").getOrElse("mse", Double.NaN)
}

object Pipeline {

  def run(spark: SparkSession, rawCsvPaths: Seq[String], outDir: String,
          cfg: PipelineConfig = PipelineConfig(), force: Boolean = false): PipelineResult = {
    Metrics.validate(cfg.metricNames)
    val stages = new Stages(spark, outDir, force)
    def p(name: String) = stages.path(name)

    val unified = stages.parquet("unified", inputs = rawCsvPaths)(
      Ingest.unify(spark, rawCsvPaths))

    // one bounds scan serves the three split filters AND the sidecar;
    // only a split stage that rebuilds pays it
    lazy val boundsRow = TemporalSplit.boundsRow(unified.df, "rent_date", cfg.split)
    lazy val (tr, va, te) =
      TemporalSplit.split(unified.df, "rent_date", cfg.split, Some(boundsRow))
    val train = stages.parquet("training", Seq(cfg.split), Seq(unified),
      sidecar = _ => TemporalSplit.writeBoundsJson(spark, boundsRow, p("split_bounds.json")))(tr)
    val valid = stages.parquet("validation", Seq(cfg.split), Seq(unified))(va)
    val test = stages.parquet("testing", Seq(cfg.split), Seq(unified))(te)

    // station hour profiles from the training split (A2 + A6/A7) — the
    // training-fitted profiles serve every split, like the reference's
    // Redis store populated once from training. BOTH measures: the
    // reference's store holds per-station hourly avg rents AND returns
    // (hour_feature_builder.py:70-89) and get_features emits both rings
    // (:44-45) — 2×ring features (48 at the default window).
    def profileStage(name: String, station: String, when: String): Stage =
      stages.parquet(name, deps = Seq(train))(
        SeriesAggs.stationHourProfile(train.df, col(station), col(when)))
    val profiles = Seq(profileStage("profile", "rent_station", "rent_date"),
      profileStage("profile_returns", "return_station", "return_date"))
    // single source for dataset + assembler
    val featureNames = Seq("n_rents", "n_returns").flatMap(HourRingFeatures.featureNames(_, cfg.ring))

    // per-split dataset (BuildAllDatasets: training/validation/testing),
    // [[Poisson.dataset]] over the split's rows; a stage is read only when
    // something rebuilds from it, the profiles only when a dataset
    // rebuilds. An observation on the unfiltered rows counts the dropped
    // ones and samples their ids for the fails sidecar (S8), whose counts
    // come from the two stages' manifests.
    def buildDataset(name: String, split: Stage): Stage = {
      lazy val drops = Observation()
      stages.parquet(s"dataset_$name", Seq(cfg.windowMicros, cfg.ring), split +: profiles,
          sidecar = ds => {
            val got = drops.get
            val nErr = got("n_dropped").asInstanceOf[Long]
            if (nErr != split.rows - ds.rows) throw new IllegalStateException(
              s"dataset_$name: $nErr rows observed dropped, but ${split.rows} in and ${ds.rows} out")
            Sinks.writeFails(spark, p(s"fails_$name.json"), split.rows, ds.rows, nErr,
              got("dropped_ids").asInstanceOf[Seq[Any]])
          }) {
        val all = Poisson.dataset(
          split.df.select(col("id"), col("rent_station").as("user_id"), col("rent_date").as("ts")),
          profiles(0).df, profiles(1).df, cfg.windowMicros, cfg.ring)
        val aggs = Sinks.dropped(col("id"), all.schema("id").dataType, !col("kept"))
        all.observe(drops, aggs.head, aggs.tail: _*).where(col("kept")).drop("kept")
      }
    }
    val datasets = Seq("training" -> train, "validation" -> valid, "testing" -> test)
      .map { case (name, split) => name -> buildDataset(name, split) }

    val dataset = datasets.head._2 // training
    var cached: Option[DataFrame] = None
    lazy val assembled = {
      val a = Poisson.assemble(dataset.df, featureNames).cache()
      cached = Some(a)
      a
    }

    // M3 model checkpoint stage: the fitted model is a pipeline target
    // like any parquet stage — loaded, not refit, when it was fit on the
    // same dataset by the same family and GLM config (the reference
    // persists the model the same way, poisson_regression.py:28-31).
    val family = cfg.modelName match {
      case "poisson" => graft.ml.PoissonFamily(cfg.model) // honor the GLM config
      case other     => Models.registry(other)
    }
    lazy val fitted = family.fit(assembled)
    val modelStage = stages("model", Seq(family), Seq(dataset)) {
      fitted.save(p("model")); -1L
    }
    lazy val model = if (modelStage.built) fitted else family.load(p("model"))

    // M4/M5 per split (PredictTask + ModelEvaluationTask over
    // dataset_type): batch predict each split's dataset and observe
    // every registry metric on that same write job — the manifest keeps
    // them, so no run reads the predictions back to evaluate them. The
    // evaluation JSON per split (evaluate_model.py's
    // evaluation/{dataset_type}.json layout) is a stage keyed by the
    // configured metrics and the predictions.
    val evaluated = datasets.map { case (name, ds) =>
      val pred = stages.parquet(s"predictions_$name", deps = Seq(modelStage, ds),
          observe = Metrics.exprs)(
        model.predict(if (name == "training") assembled
                      else Poisson.assemble(ds.df, featureNames)))
      if (cfg.csvPredictions)
        stages(s"predictions_csv_$name", deps = Seq(pred)) {
          Sinks.csvWithHeader(pred.df, p(s"predictions_csv_$name")); pred.rows
        }
      val m = cfg.metricNames.map(n => n -> pred.observed(n)).toMap
      stages(s"metrics_$name", Seq(cfg.metricNames), Seq(pred)) {
        Fs.writeString(spark, p(s"metrics_$name.json"), Metrics.toJson(m, cfg.metricNames)); -1L
      }
      (name, pred, m)
    }
    cached.foreach(_.unpersist()) // every consumer is materialized to parquet
    // combined metrics.json, splits nested
    stages("metrics", Seq(cfg.metricNames), evaluated.map(_._2)) {
      Fs.writeString(spark, p("metrics.json"),
        evaluated.map { case (n, _, m) =>
          s""""$n": ${Metrics.toJson(m, cfg.metricNames)}"""
        }.mkString("{", ", ", "}"))
      -1L
    }

    PipelineResult(unified.rows, train.rows, valid.rows, test.rows, dataset.rows,
      evaluated.head._2.rows, evaluated.map { case (n, _, m) => n -> m }.toMap,
      modelLoaded = !modelStage.built)
  }
}
