package graft

import scala.sys.process._
import graft.ml.Poisson
import graft.queries.MlQueries

/** M2-M5 invariants (no SQL oracle exists for model fitting; SURVEY.md
  * §5.2): finite fit, prediction count preservation, save/load roundtrip;
  * and the station universe of the shared dataset function on a fixture
  * the gate data cannot show.
  */
class PoissonSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("dataset shape: one row per labeled event, 2x24 ring features (rents AND returns)") {
    val ds = MlQueries.eventsDataset(spark, dir)
    // hour_feature_builder.py:44-45 — BOTH measures per ring position
    assert(ds.columns.count(_.endsWith("_hb")) === 48)
    assert((0 until 24).forall(i => ds.columns.contains(s"n_rents_${i}_hb")))
    assert((0 until 24).forall(i => ds.columns.contains(s"n_returns_${i}_hb")))
    assert(ds.count() > 0)
  }

  test("fit + predict: counts preserved, MSE finite, save/load roundtrip") {
    val cfg = Poisson.Config()
    val ds = MlQueries.eventsDataset(spark, dir)
    val assembled = Poisson.assemble(ds, ds.columns.filter(_.endsWith("_hb")).toSeq).cache()
    val model = Poisson.fit(assembled, cfg)
    val pred = Poisson.predict(model, assembled)
    assert(pred.count() === assembled.count())
    val err = Poisson.mse(pred)
    assert(!err.isNaN && !err.isInfinite && err >= 0.0)

    val path = java.nio.file.Files.createTempDirectory("glm").toString + "/m"
    model.write.overwrite().save(path)
    val loaded = org.apache.spark.ml.regression.GeneralizedLinearRegressionModel.load(path)
    assert(loaded.coefficients === model.coefficients)
    assert(loaded.intercept === model.intercept)
  }

  test("M5 metric registry: dispatch by name, one-pass evaluate agrees") {
    import graft.ml.Metrics
    val ds = MlQueries.eventsDataset(spark, dir)
    val assembled = Poisson.assemble(ds, ds.columns.filter(_.endsWith("_hb")).toSeq).cache()
    val pred = Poisson.predict(Poisson.fit(assembled), assembled).cache()
    val one = Metrics.evaluate(pred, Seq("mse", "rmse", "mae"))
    // registry dispatch (the object_loader-by-name analog) matches
    Seq("mse", "rmse", "mae").foreach { n =>
      assert(math.abs(Metrics.registry(n)(pred) - one(n)) < 1e-9, n)
    }
    assert(math.abs(one("rmse") - math.sqrt(one("mse"))) < 1e-9)
    assert(one("mae") >= 0 && one("mse") >= one("mae") * 0 && !one("mse").isNaN)
    pred.unpersist(); assembled.unpersist()
  }

  test("M3/model trait: families fit/save/load/predict via registry") {
    import graft.ml.Models
    val ds = MlQueries.eventsDataset(spark, dir)
    val assembled = Poisson.assemble(ds, ds.columns.filter(_.endsWith("_hb")).toSeq).cache()
    val tmp = java.nio.file.Files.createTempDirectory("fam").toString
    Models.registry.foreach { case (name, fam) =>
      val m = fam.fit(assembled)
      val path = s"$tmp/$name"
      m.save(path)
      assert(Models.exists(spark, path), s"$name save target missing")
      assert(Models.savedFamily(spark, path).contains(name), s"$name family marker")
      val loaded = fam.load(path)
      val a = m.predict(assembled).select("prediction").limit(5).collect().map(_.getDouble(0))
      val b = loaded.predict(assembled).select("prediction").limit(5).collect().map(_.getDouble(0))
      assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }, s"$name load drift")
    }
    assembled.unpersist()
  }

  test("ml_dataset keeps only stations in both profiles: click-only and purchase-only stations drop") {
    import spark.implicits._
    // stations 1 and 2 have clicks and purchases, 3 clicks only, 4
    // purchases only; station 1's views are neither measure
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(min: Int) = new java.sql.Timestamp(t0 + min * 60000L)
    val plan = Seq((1L, "click", 20, 16), (1L, "purchase", 45, 6), (1L, "view", 10, 5),
      (2L, "click", 30, 9), (2L, "purchase", 70, 3),
      (3L, "click", 15, 13), (4L, "purchase", 25, 8))
    val rows = plan.flatMap { case (station, kind, every, n) =>
      (0 until n).map(i => (station, kind, i * every + 7 * station.toInt))
    }.zipWithIndex.map { case ((station, kind, min), i) => (i.toLong + 1, at(min), station, kind) }
    // the table as Spark writes it, a directory of part files
    val tmp = java.nio.file.Files.createTempDirectory("ml_dataset").toString
    rows.toDF("event_id", "ts", "user_id", "event_type").write.parquet(s"$tmp/events.parquet")

    // brute force: a click whose 1 h window is full at its station, at a
    // station with both measures, labeled with the clicks in that window
    val clicks = rows.filter(_._4 == "click")
    def fullWindow(stations: Set[Long]) = clicks.filter(r => stations(r._3)).flatMap { case (id, t, st, _) =>
      val same = clicks.filter(_._3 == st).map(_._2.getTime)
      if (t.getTime <= same.max - 3600000L)
        Some(id -> same.count(o => o >= t.getTime && o < t.getTime + 3600000L).toDouble)
      else None
    }.toMap
    assert(fullWindow(Set(3L)).nonEmpty, "the click-only station has labeled clicks to drop")
    val q = graft.SparkEntry.queries("ml_dataset")
    val got = q(spark, tmp).collect()
    assert(got.map(r => r.getLong(0) -> r.getDouble(1)).toMap === fullWindow(Set(1L, 2L)))
    assert(got.length === 48 * fullWindow(Set(1L, 2L)).size)

    // a one-measure hour: station 1 has clicks but no purchases at 04:00,
    // so every kept station-1 event reads that hour's click average at its
    // rents ring position and 0 at its returns ring position
    val (oneStation, oneHour) = (1L, 4)
    def hourOf(t: java.sql.Timestamp) = t.toInstant.atZone(java.time.ZoneOffset.UTC).getHour
    def inCell(kind: String) =
      rows.filter(r => r._3 == oneStation && r._4 == kind && hourOf(r._2) == oneHour)
    assert(inCell("purchase").isEmpty)
    val perHour = inCell("click").groupBy(_._2.getTime / 3600000L).values.map(_.size.toDouble)
    assert(perHour.nonEmpty)
    val clickAvg = perHour.sum / perHour.size
    val feature = got.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val kept = clicks.filter(r => r._3 == oneStation && fullWindow(Set(oneStation)).contains(r._1))
    assert(kept.nonEmpty)
    kept.foreach { case (id, t, _, _) =>
      val i = ((hourOf(t) - 1 - oneHour) % 24 + 24) % 24
      assert(math.abs(feature(id -> i.toLong) - clickAvg) < 1e-6, s"rents ring of event $id")
      assert(feature(id -> (i + 24).toLong) === 0.0, s"returns ring of event $id")
    }

    // and the oracle SQL agrees on the fixture
    assume(Process(Seq("python3", "-c", "import duckdb")).!(ProcessLogger(_ => ())) == 0,
      "python3 + duckdb not available in this environment")
    val out = java.nio.file.Files.createTempDirectory("ml_dataset_out").toString
    q(spark, tmp).coalesce(1).write.parquet(s"$out/ml_dataset")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      s"""{"ml_dataset": ${graft.core.Json.quote(graft.SparkEntry.oracleSql("ml_dataset"))}}""")
    val log = new StringBuilder
    val rc = Process(Seq("python3", new java.io.File("tools/check.py").getAbsolutePath, tmp, out))
      .!(ProcessLogger(l => { log.append(l).append('\n'); () }))
    assert(rc === 0 && log.toString.contains("1 pass / 0 fail"), log.toString)
  }
}
