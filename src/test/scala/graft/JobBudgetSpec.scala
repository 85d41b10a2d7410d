package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{CorpusPipeline, Pipeline, PipelineConfig, Stages}

/** Jobs are the fixed-cost budget of a small pipeline run: a job count
  * does not move with host load, so the budget is a spec, not a timing.
  * Counted with Spark's public status tracker under a job group of the
  * counted call's own. Ceilings carry the count measured when they were
  * set; a checkpointed re-run's budget is exactly zero.
  */
class JobBudgetSpec extends SparkSpec {

  /** `f`'s result and the Spark jobs it submitted. */
  private def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    def inGroup[U](group: String)(g: => U): U = {
      sc.setJobGroup(group, group)
      try g finally sc.clearJobGroup()
    }
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val r = inGroup(group)(f)
    // the tracker is fed by the listener bus, in order: once a marker job
    // submitted after `f` is visible, so is every job `f` submitted
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status tracker")
      Thread.sleep(10)
    }
    (r, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("a fresh Pipeline.run stays within its job ceiling; a checkpointed re-run runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("budget").toString
    val csv = PipelineSpec.genCsv(dir)
    val out = s"$dir/out"
    val (r1, fresh) = jobs(Pipeline.run(spark, Seq(csv), out))
    // measured: 34 jobs (52 before each dataset became one plan with
    // its fails report observed on it and built stages were read with
    // their written schema; 82 before the predictions observed their
    // metrics, stage reads became lazy and the fails reports took the
    // stages' row counts)
    info(s"fresh run: $fresh jobs")
    assert(fresh <= 34, s"fresh run: $fresh jobs")

    val (r2, rerun) = jobs(Pipeline.run(spark, Seq(csv), out))
    assert(rerun === 0, "a checkpointed re-run ran Spark jobs")
    assert(r2.modelLoaded && r2 === r1.copy(modelLoaded = true))

    // the metrics files are keyed stages: a new metric set rewrites them
    // from the predictions manifests, without a job
    val (r3, metricsOnly) = jobs(Pipeline.run(spark, Seq(csv), out,
      PipelineConfig(metricNames = Seq("mae"))))
    assert(metricsOnly === 0, "a metricNames-only change ran Spark jobs")
    assert(r3.metrics.keySet === r1.metrics.keySet)
    r3.metrics.foreach { case (n, m) => assert(m === Map("mae" -> r1.metrics(n)("mae"))) }
    val mjson = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/metrics.json"))
    assert(mjson.contains("mae") && !mjson.contains("rmse"), mjson)
  }

  test("a fresh CorpusPipeline.run and append stay within their job ceiling") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("budget_corpus").toString
    def words(seed: Int) = (0 until 60).map(j => s"v${math.abs((seed * 31 + j) * 2654435761L % 1000)}")
    def jsonl(name: String, ids: Seq[Long]): String = {
      // docs 7 and 57 copy doc 3's text, so the dedup stages find pairs
      ids.map(i => (i, ("the and of to in " +: words(if (i % 50 == 7) 3 else i.toInt)).mkString(" "),
          "en", s"src${i % 3}"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .toJSON.coalesce(1).write.text(s"$dir/$name")
      s"$dir/$name"
    }
    val base = jsonl("base", 0L until 30L)
    val batch = jsonl("batch", 50L until 58L)
    val out = s"$dir/out"
    val (r, fresh) = jobs(CorpusPipeline.run(spark, base, out))
    val (a, appended) = jobs(CorpusPipeline.append(spark, batch, out))
    assert(r.nDocs === 30L && a.nDocs === 38L)
    // measured: run 78 jobs, append 105 (88 and 115 before the fails
    // reports ran one aggregate each and built stages were read with
    // their written schema)
    info(s"fresh run: $fresh jobs, append: $appended jobs")
    assert(fresh <= 78, s"fresh run: $fresh jobs")
    assert(appended <= 105, s"append: $appended jobs")
  }

  test("a built stage carries the schema parquet reads back; reading it runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("budget_schema").toString
    val stages = new Stages(spark, dir)
    val frame = spark.range(5).select(col("id"), (col("id") / 2).as("d"),
      col("id").cast("string").as("s"), timestamp_seconds(col("id")).as("t"),
      array(col("id"), lit(7L)).as("a"), struct(col("id").as("i"), lit("x").as("x")).as("st"),
      map(lit("k"), col("id")).as("m"))
    assert(!frame.schema("id").nullable && !frame.schema("a").nullable, "the fixture has non-nullable columns")
    val stage = stages.parquet("mixed")(frame)
    val written = spark.read.parquet(stage.path).schema
    assert(stage.schema === Some(written))
    val (df, n) = jobs(stage.df)
    assert(n === 0, "reading a built stage ran Spark jobs")
    assert(df.schema === written && df.count() === 5L)
    // a stage read from an earlier run infers its schema as before
    assert(stages.committed("mixed").get.schema.isEmpty)
  }
}
