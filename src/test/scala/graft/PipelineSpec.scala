package graft

import org.apache.spark.sql.functions.col
import graft.pipeline.{Pipeline, PipelineConfig, Stages}
import graft.core.Ingest
import graft.ml.Metrics
import graft.ops.{CompositeFeatureBuilder, HourRingFeatures, TemporalSplit, WindowOps}

/** End-to-end pipeline on generated bicis-shaped raw CSVs: ingest →
  * temporal split → profile → A5 targets → W1 features → GLM → MSE,
  * with checkpoint-skip semantics (SURVEY.md §5.2.7).
  */
class PipelineSpec extends SparkSpec {

  import PipelineSpec.genCsv

  test("full pipeline runs, splits add up, model predicts, checkpoints skip") {
    val dir = java.nio.file.Files.createTempDirectory("pipe").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    val r1 = Pipeline.run(spark, Seq(csv), out)
    assert(r1.unifiedCount === 600L)
    assert(r1.trainCount + r1.valCount + r1.testCount === r1.unifiedCount)
    assert(r1.trainCount > 0 && r1.valCount > 0 && r1.testCount > 0)
    assert(r1.datasetCount > 0 && r1.predictionCount === r1.datasetCount)
    assert(!r1.mse.isNaN && r1.mse >= 0.0)
    // 2×ring features: rents AND returns measures per ring position
    // (hour_feature_builder.py:44-45) — 48 columns at the default window
    val dsCols = spark.read.parquet(s"$out/dataset_training").columns
    assert(dsCols.count(_.endsWith("_hb")) === 48, dsCols.mkString(","))
    assert((0 until 24).forall(i =>
      dsCols.contains(s"n_rents_${i}_hb") && dsCols.contains(s"n_returns_${i}_hb")))
    assert(new java.io.File(s"$out/split_bounds.json").exists())
    // M5: every split evaluated with every configured registry metric
    assert(r1.metrics.keySet === Set("training", "validation", "testing"))
    val mjson = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/metrics.json"))
    assert(Seq("training", "validation", "testing", "mse", "rmse", "mae")
      .forall(mjson.contains), mjson)
    r1.metrics.values.foreach { m =>
      assert(math.abs(m("rmse") - math.sqrt(m("mse"))) < 1e-9)
    }
    // S8 fails sidecar per split reconciles dataset vs split counts
    Seq("training", "validation", "testing").foreach { n =>
      val fj = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/fails_$n.json"))
      assert(fj.contains("input_count") && fj.contains("number_of_errors"), fj)
      assert(new java.io.File(s"$out/predictions_$n/_SUCCESS").exists())
    }
    // M3: first run fit + persisted the model as a stage target
    assert(!r1.modelLoaded)
    assert(graft.ml.Models.exists(spark, s"$out/model"))

    // checkpoint skip: stage outputs untouched, model LOADED not refit
    val mtime = new java.io.File(s"$out/unified/_SUCCESS").lastModified()
    val modelMtime = new java.io.File(s"$out/model/metadata/_SUCCESS").lastModified()
    val r2 = Pipeline.run(spark, Seq(csv), out)
    assert(r2.unifiedCount === r1.unifiedCount)
    assert(r2.modelLoaded, "second run must load the persisted model")
    assert(new java.io.File(s"$out/unified/_SUCCESS").lastModified() === mtime)
    assert(new java.io.File(s"$out/model/metadata/_SUCCESS").lastModified() === modelMtime)
    assert(math.abs(r2.mse - r1.mse) < 1e-9)
  }

  test("a second model family runs through the same pipeline unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("pipe2").toString
    val csv = genCsv(dir)
    val r = Pipeline.run(spark, Seq(csv), s"$dir/out",
      PipelineConfig(modelName = "linear", metricNames = Seq("rmse", "mae"),
        csvPredictions = true))
    assert(r.predictionCount === r.datasetCount)
    assert(r.metrics("training").keySet === Set("rmse", "mae"))
    // S5 export parity: header-CSV predictions sidecar per split
    // (poisson_regression.py:43-47), behind the csvPredictions flag
    Seq("training", "validation", "testing").foreach { n =>
      val d = new java.io.File(s"$dir/out/predictions_csv_$n")
      assert(new java.io.File(d, "_SUCCESS").exists(), s"csv sidecar missing for $n")
      val part = d.listFiles().find(_.getName.endsWith(".csv")).get
      val header = scala.io.Source.fromFile(part).getLines().next()
      assert(header.split(",").contains("prediction"), header)
    }
    assert(!r.metrics("validation")("rmse").isNaN)
    assert(r.mse.isNaN) // mse not configured -> NaN, not a thrown key error

    // switching families against the same outDir must REFIT (a stale
    // poisson model must not be fed to the linear loader or vice versa)
    val r2 = Pipeline.run(spark, Seq(csv), s"$dir/out",
      PipelineConfig(modelName = "poisson"))
    assert(!r2.modelLoaded, "family switch must refit, not load stale model")
    assert(graft.ml.Models.savedFamily(spark, s"$dir/out/model").contains("poisson"))
  }

  test("dense-id unify assigns gap-free sequential ids") {
    val dir = java.nio.file.Files.createTempDirectory("dense").toString
    val csv = genCsv(dir)
    val ids = Ingest.unifyDenseIds(spark, Seq(csv))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 600L))
  }

  /** `_SUCCESS` mtime of each named stage under `out`. */
  private def stamps(out: String, names: Seq[String]): Map[String, Long] =
    names.map(n => n -> new java.io.File(s"$out/$n/_SUCCESS").lastModified()).toMap

  private val upstream = Seq("unified", "training", "validation", "testing",
    "profile", "profile_returns", "dataset_training", "dataset_validation", "dataset_testing")
  private val predictions = Seq("predictions_training", "predictions_validation",
    "predictions_testing")

  test("a raw CSV rewritten in place at the same path is recomputed, not served stale") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_rewrite").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    assert(Pipeline.run(spark, Seq(csv), out).unifiedCount === 600L)
    assert(genCsv(dir, 900) === csv)
    val r2 = Pipeline.run(spark, Seq(csv), out)
    assert(r2.unifiedCount === 900L, "stale unified stage served for a rewritten CSV")
    assert(!r2.modelLoaded, "a model fit on the old trips was loaded")
    assert(r2.trainCount + r2.valCount + r2.testCount === 900L)
  }

  test("a model-only config change refits and re-predicts; upstream stages are read") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_model").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    val cfg = PipelineConfig()
    Pipeline.run(spark, Seq(csv), out, cfg)
    val up = stamps(out, upstream)
    val pred = stamps(out, predictions)
    val metricsMtime = new java.io.File(s"$out/metrics_training.json").lastModified()

    val r2 = Pipeline.run(spark, Seq(csv), out,
      cfg.copy(model = cfg.model.copy(maxIter = 3)))
    assert(!r2.modelLoaded, "a new maxIter must refit the model")
    assert(stamps(out, upstream) === up, "a model-only change rebuilt an upstream stage")
    stamps(out, predictions).foreach { case (n, t) =>
      assert(t != pred(n), s"$n not rewritten after the refit")
    }
    assert(new java.io.File(s"$out/metrics_training.json").lastModified() != metricsMtime)

    // metrics are evaluated on every run: a new metric set is written
    // without touching any stage
    val before = stamps(out, upstream ++ predictions)
    val r3 = Pipeline.run(spark, Seq(csv), out,
      cfg.copy(model = cfg.model.copy(maxIter = 3), metricNames = Seq("mae")))
    assert(r3.metrics("training").keySet === Set("mae"))
    assert(r3.modelLoaded)
    assert(stamps(out, upstream ++ predictions) === before)
    val mjson = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/metrics.json"))
    assert(mjson.contains("mae") && !mjson.contains("rmse"), mjson)
  }

  test("a stage with _SUCCESS but no manifest is rebuilt with everything downstream") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_manifest").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    val r1 = Pipeline.run(spark, Seq(csv), out)
    val all = upstream ++ predictions
    val before = stamps(out, all)
    // what a run leaves when it dies between the parquet commit and the
    // manifest write
    assert(new java.io.File(s"$out/_stages/profile.json").delete())
    val r2 = Pipeline.run(spark, Seq(csv), out)
    val after = stamps(out, all)
    val rebuilt = Seq("profile", "dataset_training", "dataset_validation",
      "dataset_testing") ++ predictions
    rebuilt.foreach(n => assert(after(n) != before(n), s"$n was not rebuilt"))
    (all.toSet -- rebuilt).foreach(n => assert(after(n) === before(n), s"$n was rebuilt"))
    assert(!r2.modelLoaded, "the model downstream of the rebuilt profile was loaded")
    assert(new java.io.File(s"$out/_stages/profile.json").exists())
    assert(r2.unifiedCount === r1.unifiedCount && r2.datasetCount === r1.datasetCount)
    assert(math.abs(r2.mse - r1.mse) < 1e-9)
  }

  private def read(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))

  private val splits = Seq("training", "validation", "testing")

  test("metrics observed on the predictions write equal an evaluation of the predictions") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_observed").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    val names = Metrics.exprs.keys.toSeq.sorted
    val r = Pipeline.run(spark, Seq(csv), out, PipelineConfig(metricNames = names))
    val stages = new Stages(spark, out)
    splits.foreach { n =>
      val want = Metrics.evaluate(spark.read.parquet(s"$out/predictions_$n"), names)
      val observed = stages.committed(s"predictions_$n").get.observed
      names.foreach { m =>
        Seq(r.metrics(n)(m), observed(m)).foreach { got =>
          assert(math.abs(got - want(m)) <= 1e-12 * math.abs(want(m)), s"$n $m: $got vs ${want(m)}")
        }
      }
    }
  }

  test("an empty split's NaN metrics survive the manifest and are written as null") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_empty").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    val cfg = PipelineConfig(split = TemporalSplit.Spec(validationDays = 0))
    val r1 = Pipeline.run(spark, Seq(csv), out, cfg)
    assert(r1.valCount === 0L)
    assert(r1.metrics("validation").values.forall(_.isNaN), r1.metrics)
    assert(!r1.mse.isNaN)
    assert(read(s"$out/_stages/predictions_validation.json")
      .contains(""""observed": {"mae": null, "mse": null, "rmse": null}"""))
    assert(read(s"$out/metrics_validation.json") === """{"mse": null, "rmse": null, "mae": null}""")
    val r2 = Pipeline.run(spark, Seq(csv), out, cfg)
    assert(r2.modelLoaded)
    assert(r2.metrics("validation").values.forall(_.isNaN), r2.metrics)
    assert(r2.metrics("validation").keySet === Set("mse", "rmse", "mae"))
    assert(r2.mse === r1.mse)
  }

  test("each dataset is the ring joins ⋈ the forward-window target; its fails report their anti-join") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_fused").toString
    val csv = PipelineSpec.genCsvNewStations(dir)
    val out = s"$dir/out"
    val cfg = PipelineConfig()
    Pipeline.run(spark, Seq(csv), out, cfg)
    def stage(n: String) = spark.read.parquet(s"$out/$n")
    def stations(n: String) = stage(n).select("user_id").collect().map(_.getString(0)).toSet
    // the fixture: NUEVO is in neither training profile, SOLO only in the returns one
    assert(!stations("profile").contains("NUEVO") && !stations("profile_returns").contains("NUEVO"))
    assert(!stations("profile").contains("SOLO") && stations("profile_returns").contains("SOLO"))
    // the composition the dataset stage replaced: inner ring joins ⋈ the
    // full-window target on id
    val ring = new CompositeFeatureBuilder(Seq(
      new HourRingFeatures(spark, stage("profile"), "n_rents", cfg.ring),
      new HourRingFeatures(spark, stage("profile_returns"), "n_returns", cfg.ring)))
    val dropped = splits.map { n =>
      val split = stage(n)
      val target = WindowOps.forwardWindowCount(
        split.select(col("id"), col("rent_station"), col("rent_date")),
        "rent_station", "rent_date", "id", cfg.windowMicros)
      val want = ring(split.select(col("id"), col("rent_station").as("user_id"), col("rent_date").as("ts")))
        .join(target.withColumnRenamed("n_rents", "label"), "id")
        .select(Seq(col("id"), col("label").cast("double")) ++ ring.featureNames.map(col): _*)
      val got = stage(s"dataset_$n")
      assert(got.columns.toSeq === want.columns.toSeq, n)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"dataset_$n differs")
      val ids = split.select("id").join(want.select("id"), Seq("id"), "left_anti")
        .collect().map(_.getLong(0)).sorted
      assert(read(s"$out/fails_$n.json") === s"""{"input_count": ${split.count()}, """ +
        s""""output_count": ${want.count()}, "number_of_errors": ${ids.length}, """ +
        s""""error_ids": ${ids.take(100).mkString("[", ", ", "]")}}""", n)
      ids.length
    }
    assert(dropped.exists(_ > 100), s"no split drops more than 100 ids: $dropped")
  }

  test("an outDir whose predictions manifests hold no observed metrics is re-predicted") {
    val dir = java.nio.file.Files.createTempDirectory("pipe_old").toString
    val csv = genCsv(dir)
    val out = s"$dir/out"
    val r1 = Pipeline.run(spark, Seq(csv), out)
    // the manifests a run that did not observe metrics leaves: the
    // predictions keyed without the observed names, no metrics stages
    val stages = new Stages(spark, out)
    splits.foreach { n =>
      val m = s"$out/_stages/predictions_$n.json"
      val deps = Seq("model", s"dataset_$n").map(stages.committed(_).get)
      val pred = stages.committed(s"predictions_$n").get
      graft.core.Fs.writeString(spark, m,
        s"""{"key": "${stages.key(s"predictions_$n", Nil, deps, Nil)}", "build": "old-$n", "rows": ${pred.rows}, "secs": 0.1}""")
      assert(stages.committed(s"predictions_$n").get.observed.isEmpty)
      assert(new java.io.File(s"$out/_stages/metrics_$n.json").delete())
    }
    assert(new java.io.File(s"$out/_stages/metrics.json").delete())
    val before = stamps(out, upstream ++ predictions)

    val r2 = Pipeline.run(spark, Seq(csv), out)
    assert(r2.modelLoaded)
    assert(stamps(out, upstream) === before.filter(kv => upstream.contains(kv._1)))
    predictions.foreach(n => assert(stamps(out, Seq(n))(n) != before(n), s"$n was not rebuilt"))
    splits.foreach { n =>
      r1.metrics(n).foreach { case (m, v) =>
        assert(math.abs(r2.metrics(n)(m) - v) <= 1e-12 * math.abs(v), s"$n $m")
      }
      assert(stages.committed(s"predictions_$n").get.observed.keySet === Set("mse", "rmse", "mae"))
    }
    assert(Pipeline.run(spark, Seq(csv), out).metrics === r2.metrics)
  }
}

object PipelineSpec {
  /** 900 trips over 300 days between three stations, plus two stations
    * the training split's profiles miss: SOLO, a return station in
    * training that rents only in validation, and NUEVO, which appears
    * only in testing, with 200 rents.
    */
  def genCsvNewStations(dir: String): String = {
    val rnd = new scala.util.Random(11)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm")
    val t0 = java.time.LocalDateTime.of(2016, 1, 1, 0, 0)
    val old = Seq("RETIRO", "PACIFICO", "ADUANA")
    def trip(day: Int, from: String, to: String) =
      s"${t0.plusDays(day).plusMinutes(rnd.nextInt(24 * 60)).format(fmt)};${5 + rnd.nextInt(55)};$from;$to"
    def any = old(rnd.nextInt(3))
    val lines = (0 until 900).map(_ => trip(rnd.nextInt(300), any, any)) ++
      (0 until 40).map(_ => trip(rnd.nextInt(100), any, "SOLO")) ++
      (0 until 30).map(_ => trip(150 + rnd.nextInt(50), "SOLO", any)) ++
      (0 until 200).map(_ => trip(215 + rnd.nextInt(80), "NUEVO", any))
    val p = s"$dir/recorridos-realizados-2016.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      ("FECHA_HORA_RETIRO;TIEMPO_USO;NOMBRE_ORIGEN;NOMBRE_DESTINO" +: lines).mkString("", "\n", "\n"))
    p
  }


  /** ~n trips over 300 days, 3 stations, v4 dialect (derived returns). */
  def genCsv(dir: String, n: Int = 600): String = {
    val rnd = new scala.util.Random(5)
    val stations = Seq("RETIRO", "PACIFICO", "ADUANA")
    val sb = new StringBuilder("FECHA_HORA_RETIRO;TIEMPO_USO;NOMBRE_ORIGEN;NOMBRE_DESTINO\n")
    val cal = java.time.LocalDateTime.of(2016, 1, 1, 0, 0)
    (0 until n).foreach { _ =>
      val t = cal.plusHours(rnd.nextInt(300 * 24)).plusMinutes(rnd.nextInt(60))
      val fmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm")
      sb.append(s"${t.format(fmt)};${5 + rnd.nextInt(55)};${stations(rnd.nextInt(3))};${stations(rnd.nextInt(3))}\n")
    }
    val p = s"$dir/recorridos-realizados-2016.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), sb.toString)
    p
  }
}
