package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M5 pluggable evaluation — the reference dispatches any sklearn metric
  * by import path (bicis/etl/model_selection/evaluate_model.py:28-30 via
  * object_loader.py:64-95, configs/baseline_features.yaml:12-13). Here
  * each metric is a named aggregate over (label, prediction); the
  * registry gives the promised `Map[String, DataFrame => Double]`
  * surface, and [[evaluate]] computes any subset in ONE distributed
  * aggregate pass (one job, not one per metric).
  */
object Metrics {

  private val err: Column = col("label") - col("prediction")

  /** Metric name → single aggregate expression. Extend here; both the
    * registry and the one-pass evaluator pick new entries up.
    */
  val exprs: Map[String, Column] = Map(
    "mse"  -> avg(pow(err, 2)),
    "rmse" -> sqrt(avg(pow(err, 2))),
    "mae"  -> avg(abs(err)))

  /** The SURVEY §2.10 surface: name → predictions-DataFrame → value.
    * Delegates to [[evaluate]] so the empty-input NaN guard applies to
    * registry dispatch too.
    */
  val registry: Map[String, DataFrame => Double] =
    exprs.keys.map(n => n -> ((df: DataFrame) => evaluate(df, Seq(n))(n))).toMap

  /** Fails on an empty or unknown metric list. */
  def validate(names: Seq[String]): Unit =
    require(names.nonEmpty && names.forall(exprs.contains),
      s"unknown metric in $names; have ${exprs.keys.toSeq.sorted}")

  /** All requested metrics in one aggregate (names sorted for stable
    * output ordering in metrics.json). Zero prediction rows — e.g. a
    * split whose stations all miss the training profile — yield NaN per
    * metric (the aggregate returns null), not an exception.
    */
  def evaluate(predictions: DataFrame, names: Seq[String] = exprs.keys.toSeq.sorted): Map[String, Double] = {
    validate(names)
    val cols = names.map(n => exprs(n).cast("double").as(n))
    val row = predictions.agg(cols.head, cols.tail: _*).head()
    names.zipWithIndex.map { case (n, i) =>
      n -> (if (row.isNullAt(i)) Double.NaN else row.getDouble(i))
    }.toMap
  }

  /** metrics.json payload, keys in the evaluation order; non-finite
    * values (NaN over an empty split, Infinity from a degenerate fit)
    * serialize as JSON null — the bare tokens are not valid JSON.
    */
  def toJson(m: Map[String, Double], order: Seq[String]): String =
    graft.core.Json.numbers(order.map(n => n -> m(n)))
}
