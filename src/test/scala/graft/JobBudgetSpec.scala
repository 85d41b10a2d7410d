package graft

import graft.pipeline.{Pipeline, PipelineConfig}

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
    // measured: 52 jobs (82 before the predictions observed their
    // metrics, stage reads became lazy and the fails reports took the
    // stages' row counts)
    info(s"fresh run: $fresh jobs")
    assert(fresh <= 52, s"fresh run: $fresh jobs")

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
}
