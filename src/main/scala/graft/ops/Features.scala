package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TimeKeys

/** Feature-builder surface — the reference's pluggable FeatureBuilder ABC
  * + CompositeBuilder (bicis/lib/feature_builders/base_builders.py:11-57),
  * re-expressed as column-appending DataFrame transforms with a static
  * name-collision check (the reference asserts at runtime,
  * base_builders.py:48-50).
  *
  * The flagship builder is the cyclic hour-ring (W1,
  * bicis/lib/feature_builders/hour_feature_builder.py:27-48): for a trip
  * at hour h, a `window`-dim feature of per-station hourly averages at
  * hours h-1, h-2, ... (wrap-around ring, newest first). The reference
  * fetched these from Redis per row (a network RPC per trip!); here the
  * station profile is a broadcast join + pure array indexing — one scan,
  * no external state.
  */
trait FeatureBuilder {
  /** Names of the columns this builder appends. */
  def featureNames: Seq[String]
  /** Append feature columns to a trips-shaped frame. */
  def apply(trips: DataFrame): DataFrame
}

final class CompositeFeatureBuilder(builders: Seq[FeatureBuilder]) extends FeatureBuilder {
  val featureNames: Seq[String] = builders.flatMap(_.featureNames)
  require(featureNames.distinct.size == featureNames.size,
    s"feature name collision across builders: ${featureNames.diff(featureNames.distinct).distinct}")
  def apply(trips: DataFrame): DataFrame = builders.foldLeft(trips)((df, b) => b(df))
}

/** W1: `window` cyclic hourly lags of the station's average rents and
  * returns. `profile` must be the A6/A7 wide pivot (user_id, h0..h23) for
  * one measure; stations absent from the profile are dropped (inner
  * join), missing hours are zero-filled by the pivot. With `matched`
  * set, those trips are kept instead (left join, null features) and the
  * named boolean column says whether the profile held the trip's station;
  * the ML dataset ([[graft.ml.Poisson.dataset]]) runs both rings this way.
  */
object HourRingFeatures {
  /** The columns a `window`-wide ring of `measure` appends, newest first. */
  def featureNames(measure: String, window: Int): Seq[String] =
    (0 until window).map(i => s"${measure}_${i}_hb")
}

final class HourRingFeatures(spark: SparkSession, profile: DataFrame,
                             measure: String, window: Int = 24,
                             matched: Option[String] = None) extends FeatureBuilder {
  val featureNames: Seq[String] = HourRingFeatures.featureNames(measure, window)

  private def profArr: DataFrame = profile.select(col("user_id"),
    array((0 to 23).map(h => col(s"h$h")): _*).as(s"__prof_$measure"))

  def apply(trips: DataFrame): DataFrame = {
    val joined = matched match {
      case None => trips.join(broadcast(profArr), "user_id")
      // the build side marks its rows: a match never rests on the
      // profile's values, which the pivot zero-fills
      case Some(m) => trips.join(broadcast(profArr.withColumn(m, lit(true))), Seq("user_id"), "left")
        .withColumn(m, coalesce(col(m), lit(false)))
    }
    val withProf = joined.withColumn("__h", TimeKeys.hourKey(col("ts")))
    val ringCols = (0 until window).map { i =>
      // ring index (h-1-i) mod 24, kept non-negative (hour_feature_builder.py:33-39)
      expr(s"__prof_$measure[(((__h - 1 - $i) % 24) + 24) % 24]").as(s"${measure}_${i}_hb")
    }
    withProf.select(Seq(col("*")) ++ ringCols: _*)
      .drop(s"__prof_$measure", "__h")
  }

  /** Long form (idCol, i, measure): posexplode over ONE array of `window`
    * small ring lookups, instead of the wide path's 24 NAMED projection
    * columns then array(featureNames). The named-column layering made
    * CollapseProject inline everything into a ~24-wide whole-stage method
    * whose one-time compile dominated fresh-JVM benches (r4: 6.8 s cold
    * vs 3.2 s for the identical-shape twin); the direct array keeps the
    * generated method small while staying fully codegen'd (a
    * transform(sequence(...)) higher-order form would be interpreted —
    * measurably slower per row at scale). Semantics identical to
    * apply() + posexplode(array(featureNames)).
    */
  def applyLong(trips: DataFrame, idCol: String): DataFrame =
    trips.join(broadcast(profArr), "user_id")
      .withColumn("__h", TimeKeys.hourKey(col("ts")))
      .select(col(idCol), posexplode(array((0 until window).map(i =>
        expr(s"`__prof_$measure`[(((__h - 1 - $i) % 24) + 24) % 24]")): _*))
        .as(Seq("i", measure)))
}
