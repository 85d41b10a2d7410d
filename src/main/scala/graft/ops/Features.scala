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
  * named boolean column says whether the profile held the trip's station.
  */
object HourRingFeatures {
  /** The columns a `window`-wide ring of `measure` appends, newest first. */
  def featureNames(measure: String, window: Int): Seq[String] =
    (0 until window).map(i => s"${measure}_${i}_hb")

  private def arrayed(pivot: DataFrame, name: String): DataFrame =
    pivot.select(col("user_id"), array((0 to 23).map(h => col(s"h$h")): _*).as(name))

  /** Reference semantics for the TWO-measure ring (hour_feature_builder
    * .py:44-45 over the joined rents+returns store :70-89): ONE profile
    * holding both measures' hour arrays — stations active in EITHER
    * measure are kept (full-outer join), a missing measure is a
    * zero-filled 24-array (the reference zero-fills missing
    * (station,hour) cells after its pivot). Feeding both rings from this
    * keeps trips at stations with rents but no returns, where two
    * independent inner joins would drop them.
    */
  def joinedProfile(rentsPivot: DataFrame, returnsPivot: DataFrame,
                    m1: String = "n_rents", m2: String = "n_returns"): DataFrame = {
    def zeros = array(Seq.fill(24)(lit(0.0)): _*)
    arrayed(rentsPivot, s"__prof_$m1")
      .join(arrayed(returnsPivot, s"__prof_$m2"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col(s"__prof_$m1"), zeros).as(s"__prof_$m1"),
        coalesce(col(s"__prof_$m2"), zeros).as(s"__prof_$m2"))
  }
}

final class HourRingFeatures(spark: SparkSession, profile: DataFrame,
                             measure: String, window: Int = 24,
                             matched: Option[String] = None) extends FeatureBuilder {
  val featureNames: Seq[String] = HourRingFeatures.featureNames(measure, window)

  /** `profile` is either the wide A6/A7 pivot (user_id, h0..h23) or a
    * pre-arrayed (user_id, __prof_<measure>) projection of
    * [[HourRingFeatures.joinedProfile]] — auto-detected by column name. */
  private def profArr: DataFrame =
    if (profile.columns.contains(s"__prof_$measure"))
      profile.select(col("user_id"), col(s"__prof_$measure"))
    else profile.select(col("user_id"),
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
