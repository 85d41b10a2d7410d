package graft.ml

import org.apache.spark.ml.regression.{
  GeneralizedLinearRegression, GeneralizedLinearRegressionModel,
  LinearRegression, LinearRegressionModel}
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.DataFrame

/** M3 + model-task interface: the reference addresses any model by name
  * (FitModelTask/PredictTask over model_name, bicis/etl/models/
  * interface.py:19-57, dispatched by import path through
  * bicis/lib/object_loader.py:64-95) and persists the fitted model as a
  * pipeline target (poisson_regression.py:28-31). Here a [[ModelFamily]]
  * fits or loads a [[TrainedModel]]; [[Models.registry]] is the
  * name→family dispatch. Persistence is MLlib's parquet writer — a
  * driver-side metadata file plus coefficients, safe on any Hadoop FS.
  */
trait TrainedModel {
  /** M4 batch predict: appends `prediction`, drops the assembled vector. */
  def predict(assembled: DataFrame): DataFrame
  def save(path: String): Unit
}

trait ModelFamily {
  def name: String
  /** Concrete MLlib model class this family persists — drives
    * [[Models.savedFamily]]'s metadata match.
    */
  def modelClassName: String
  def fit(assembled: DataFrame): TrainedModel
  def load(path: String): TrainedModel
}

private final class MLlibTrained(m: org.apache.spark.ml.Model[_] with MLWritable)
    extends TrainedModel {
  def predict(assembled: DataFrame): DataFrame = m.transform(assembled).drop("features")
  def save(path: String): Unit = m.write.overwrite().save(path)
  private[ml] def underlying = m
}

/** Poisson GLM — the reference's one concrete model (poisson_regression
  * .py:12-47), identical family/link/maxIter defaults.
  */
final case class PoissonFamily(cfg: Poisson.Config = Poisson.Config()) extends ModelFamily {
  val name = "poisson"
  val modelClassName: String = classOf[GeneralizedLinearRegressionModel].getName
  def fit(assembled: DataFrame): TrainedModel =
    new MLlibTrained(Poisson.fit(assembled, cfg)) // single GLM-config source
  def load(path: String): TrainedModel =
    new MLlibTrained(GeneralizedLinearRegressionModel.load(path))
}

/** Second family, proving the interface: ordinary least squares. */
final case class LinearFamily(maxIter: Int = 10) extends ModelFamily {
  val name = "linear"
  val modelClassName: String = classOf[LinearRegressionModel].getName
  def fit(assembled: DataFrame): TrainedModel =
    new MLlibTrained(new LinearRegression()
      .setMaxIter(maxIter).setLabelCol("label").setFeaturesCol("features")
      .fit(assembled))
  def load(path: String): TrainedModel =
    new MLlibTrained(LinearRegressionModel.load(path))
}

object Models {
  /** model_name → family (object_loader import-path dispatch analog). */
  val registry: Map[String, ModelFamily] =
    Seq(PoissonFamily(), LinearFamily()).map(f => f.name -> f).toMap

  /** A saved-model target exists iff MLlib finished writing metadata
    * (Fs.exists: Hadoop-FS check, object-store safe).
    */
  def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    graft.core.Fs.exists(spark, s"$path/metadata/_SUCCESS")

  /** Which family wrote a saved model, matched registry-driven against
    * MLlib's metadata JSON (`"class":"<modelClassName>"` — the full
    * quoted path disambiguates LinearRegressionModel from
    * GeneralizedLinearRegressionModel).
    */
  def savedFamily(spark: org.apache.spark.sql.SparkSession, path: String): Option[String] = {
    val meta = spark.read.text(s"$path/metadata").collect().map(_.getString(0)).mkString
    registry.collectFirst {
      case (name, fam) if meta.contains(s""""class":"${fam.modelClassName}"""") => name
    }
  }
}
