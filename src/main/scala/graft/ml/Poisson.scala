package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GeneralizedLinearRegression, GeneralizedLinearRegressionModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CompositeFeatureBuilder, HourRingFeatures, WindowOps}

/** M2-M5: the reference's model stage (bicis/etl/models/poisson_regression
  * .py:12-47, evaluate_model.py:13-41) on Spark MLlib's identical GLM.
  *
  * [[dataset]] is the one BuildDataset (build_dataset.py:32-141) of the
  * engine: the forecast pipeline and the gated `ml_dataset` both call it.
  * It replaces the reference's Redis-backed per-row feature fetch + RDD
  * pair join (build_dataset.py:63-141) with one plan: the A5 target
  * window over the rows, then both W1 rings by broadcast join.
  */
object Poisson {

  final case class Config(
      family: String = "poisson",
      link: String = "identity",   // reference default, poisson_regression.py:14
      maxIter: Int = 1)            // reference default, poisson_regression.py:13

  /** ML dataset over `rows` (id, user_id = station, ts = rent time): every
    * row with its label = rents at its station in the next `windowMicros`
    * (A5, counted over all `rows`), `ring` cyclic hourly lags of the
    * station's avg rents AND avg returns from the two training profiles
    * (W1 — the reference emits BOTH measures per ring position,
    * hour_feature_builder.py:44-45, so the model trains on 2×ring
    * features), and `kept`: the window is full and both profiles hold the
    * station (the reference's Redis miss -> None -> filtered). The
    * dropped rows stay in the frame, so that one plan can account for
    * them (the fails report, S8).
    */
  def dataset(rows: DataFrame, rentsProfile: DataFrame, returnsProfile: DataFrame,
              windowMicros: Long, ring: Int): DataFrame = {
    val spark = rows.sparkSession
    val rings = new CompositeFeatureBuilder(Seq(
      new HourRingFeatures(spark, rentsProfile, "n_rents", ring, Some("__rents_hit")),
      new HourRingFeatures(spark, returnsProfile, "n_returns", ring, Some("__returns_hit"))))
    val labeled = WindowOps.forwardWindowFlagged(rows, "user_id", "ts", windowMicros)
    rings(labeled).select(Seq(col("id"), col("n_rents").cast("double").as("label")) ++
      rings.featureNames.map(col) :+
      (col("full_window") && col("__rents_hit") && col("__returns_hit")).as("kept"): _*)
  }

  def assemble(ds: DataFrame, featureNames: Seq[String]): DataFrame =
    new VectorAssembler().setInputCols(featureNames.toArray).setOutputCol("features")
      .transform(ds)

  def fit(assembled: DataFrame, cfg: Config = Config()): GeneralizedLinearRegressionModel =
    new GeneralizedLinearRegression()
      .setFamily(cfg.family).setLink(cfg.link).setMaxIter(cfg.maxIter)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(assembled)

  def predict(model: GeneralizedLinearRegressionModel, assembled: DataFrame): DataFrame =
    model.transform(assembled).drop("features")          // M4, poisson_regression.py:46

  /** A9/M5: mean squared error via the metric registry (one aggregate). */
  def mse(predictions: DataFrame): Double = Metrics.registry("mse")(predictions)

  /** Fit on `ds` ([[dataset]]'s kept rows), predict, attach label. */
  def runOn(ds: DataFrame, cfg: Config = Config()): DataFrame = {
    // single source for the ring naming (Features.scala), not a copy
    val featureNames = ds.columns.filter(_.endsWith("_hb")).toSeq
    val assembled = assemble(ds, featureNames).cache()
    try {
      val model = fit(assembled, cfg)
      // materialize before dropping the cache the plan depends on
      predict(model, assembled).transform(graft.ops.Ckpt.eager)
    } finally assembled.unpersist()
  }
}
