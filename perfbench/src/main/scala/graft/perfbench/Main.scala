package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.pipeline.{CorpusPipeline, Pipeline, PipelineResult}

/** Benchmark main: one warm `local[nproc]` JVM, one closed-loop client.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <tablesDir> <trips> <docs>
  *
  * Untraced (trace 0), it runs two warm-up passes (or query rounds),
  * then times passes or rounds, at least two, until `seconds` have
  * elapsed and writes the end-to-end metrics. Traced (trace 1), it runs
  * the traced compositions of every layer: the forecast DAG, the corpus
  * DAG and the query mix. Either way the result goes to
  * `<workDir>/result.json`.
  */
object Main {
  /** Untraced passes (or query rounds) before the first timed one. */
  private val WarmupPasses = 2

  private val json = mutable.LinkedHashMap.empty[String, String]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private var correct = true

  private def check(ok: Boolean, what: String): Unit = {
    notes += s"${if (ok) "ok" else "FAILED"} check: $what"
    if (!ok) correct = false
  }

  /** Runs one operation, counting it; a failure is counted and reported
    * with its error class, never swallowed silently.
    */
  private def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1; correct = false
      notes += s"FAILED $what: ${e.getClass.getName}: ${e.getMessage}"
      e.printStackTrace()
      None
    }
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, secs(t0))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def list(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ", ", "]")

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, tables, tripsS, docsS) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the session settings graft.Bench and graft.Verify run with
      .config("spark.graft.hash", "portable")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (trace) traced(spark, work, tables, seed, tripsS.toInt, docsS.toInt)
      else workload match {
        case "bicis_forecast" => forecast(spark, work, seed, seconds, tripsS.toInt)
        case "query_session" => querySession(spark, tables, work, seed, seconds)
        case "baseline" => baseline(spark, work, seed, tripsS.toInt)
      }
    } catch { case e: Throwable =>
      correct = false
      notes += s"FAILED run: ${e.getClass.getName}: ${e.getMessage}"
      e.printStackTrace()
    }
    metrics.getOrElseUpdate("peak_rss_mb", peakRssMb())
    spark.stop()
    val out = (Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metrics.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"),
      "notes" -> notes.map(graft.core.Json.quote).mkString("[", ", ", "]")) ++ json)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), out)
  }

  /** Time from JVM start, in seconds, less the input generation. */
  private def setupSecs(genSecs: Double): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genSecs

  /** Heap still in use after a full collection, MB: what the earlier
    * passes left behind (memos, caches, leaks). Collecting before each
    * timed pass also gives every pass the same clean heap to start from.
    * The second collection follows Spark's context cleaner, which frees
    * the blocks of objects the first one found unreachable.
    */
  private def settle(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---------------- bicis_forecast ----------------

  private def forecast(spark: SparkSession, work: String, seed: Long, seconds: Double,
                       trips: Int): Unit = {
    val (csv, genSecs) = timed(Forecast.writeTrips(s"$work/trips", trips, seed))
    def out(i: Int) = s"$work/forecast_$i"
    def rm(i: Int): Unit = graft.core.Fs.deleteRecursive(spark, out(i))
    var ref: Option[PipelineResult] = None
    // a pass: Pipeline.run into a fresh outDir, which must return the
    // first pass's result, then (if `rerun`) a re-run on it, which must
    // load the model and return the same result
    def pass(i: Int, rerun: Boolean): Option[(Double, Option[Double])] =
      attempt(s"forecast pass $i")(timed(Pipeline.run(spark, Seq(csv), out(i)))).flatMap {
        case (r, wall) =>
          ref match {
            case None => ref = Some(r)
            case Some(r0) => check(Forecast.sameResult(r0, r),
              s"pass $i returns the first pass's result (${Forecast.describe(r)})")
          }
          val rr = if (!rerun) Some(None) else
            attempt(s"forecast pass $i re-run")(timed(Pipeline.run(spark, Seq(csv), out(i)))).map {
              case (r2, t) =>
                check(r2.modelLoaded && Forecast.sameResult(r, r2),
                  s"pass $i re-run loads the model and returns the same metrics")
                Some(t)
            }
          if (i > 0) rm(i - 1)
          rr.map(t => (wall, t))
      }
    // two warm-up passes, the first with a re-run: the second shows
    // whether the JIT has levelled off
    val warm = (0 until WarmupPasses).flatMap(i => pass(i, rerun = i == 0))
    val setup = setupSecs(genSecs)
    val walls = mutable.ArrayBuffer.empty[Double]
    val rerunTimes = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = WarmupPasses
    // at least two passes, so that every run's figures cover the same
    // passes whatever the host's speed
    while (warm.size == WarmupPasses && (i < WarmupPasses + 2 || secs(t0) < seconds)) {
      heap += settle()
      pass(i, rerun = true).foreach { case (w, rr) => walls += w; rerunTimes ++= rr }
      i += 1
    }
    rm(i - 1)
    val wall = median(walls.toSeq)
    metrics ++= Seq("wall_s" -> wall, "items_per_s" -> trips / wall,
      "op_p50_s" -> median(rerunTimes.toSeq), "setup_s" -> setup, "retained_heap_mb" -> heap.max)
    json ++= Seq(
      "trips" -> trips.toString,
      "result" -> graft.core.Json.quote(ref.map(Forecast.describe).getOrElse("none")),
      "input_gen_s" -> genSecs.toString,
      "warmup_wall_s" -> list(warm.map(_._1)), "warmup_rerun_s" -> list(warm.flatMap(_._2)),
      "timed_wall_s" -> list(walls.toSeq), "timed_rerun_s" -> list(rerunTimes.toSeq),
      "retained_heap_mb" -> list(heap.toSeq))
  }

  /** PipeBench's 1M-trip record at its seed: BASELINE.md lists
    * dataset 639,094 rows and training MSE 0.4164.
    */
  private def baseline(spark: SparkSession, work: String, seed: Long, trips: Int): Unit = {
    val csv = Forecast.writeTrips(s"$work/trips", trips, seed)
    attempt("baseline pass")(timed(Pipeline.run(spark, Seq(csv), s"$work/baseline"))).foreach {
      case (r, wall) =>
        check(r.datasetCount == 639094L && f"${r.mse}%.4f" == "0.4164",
          s"1M-trip record reproduced (${Forecast.describe(r)})")
        metrics += "wall_s" -> wall
    }
  }

  // ---------------- query_session ----------------

  /** Percentile p (in whole percent) of `xs`: the highest one with at
    * least ten samples above it.
    */
  private def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val p = (99 to 50 by -1).find(p => s.size - math.ceil(s.size * p / 100.0).toInt >= 10).getOrElse(50)
    (p, s(math.max(0, math.ceil(s.size * p / 100.0).toInt - 1)))
  }

  private def samplesJson(ss: Seq[QueryMix.Sample]): String =
    ss.map(s => s"${graft.core.Json.quote(s.name)}: ${f"${s.secs}%.3f"}").mkString("{", ", ", "}")

  private def countFailures(ss: Seq[QueryMix.Sample], what: String): Unit = {
    attempted += ss.size
    ss.foreach(s => s.error.foreach { e =>
      failed += 1; correct = false
      notes += s"FAILED $what ${s.name}: $e"
    })
  }

  private def querySession(spark: SparkSession, tables: String, work: String, seed: Long,
                           seconds: Double): Unit = {
    val names = QueryMix.order(seed)
    // warm-up: a first round with every result dumped for the oracle
    // compare (its session memos serve every later round), then rounds
    // into the timed rounds' sink
    val warm = QueryMix.dumpRound(spark, tables, s"$work/oracle", names) +:
      (1 until WarmupPasses).map(_ => QueryMix.round(spark, tables, names))
    warm.zipWithIndex.foreach { case (r, k) => countFailures(r, s"warm-up round ${k + 1}") }
    val setup = setupSecs(0.0)
    val rounds = mutable.ArrayBuffer.empty[Seq[QueryMix.Sample]]
    val heap = mutable.ArrayBuffer.empty[Double]
    var busy = 0.0
    val t0 = System.nanoTime()
    // at least two rounds, so that every run's figures cover the same
    // rounds whatever the host's speed
    while (rounds.size < 2 || secs(t0) < seconds) {
      heap += settle()
      val (r, t) = timed(QueryMix.round(spark, tables, names))
      countFailures(r, s"round ${rounds.size + 1}")
      rounds += r
      busy += t
    }
    val lat = rounds.flatten.filter(_.error.isEmpty).map(_.secs).toSeq
    val (p, tailS) = tail(lat)
    metrics ++= Seq("wall_s" -> median(rounds.map(_.map(_.secs).sum).toSeq),
      "items_per_s" -> lat.size / busy, "op_p50_s" -> median(lat), "setup_s" -> setup,
      "retained_heap_mb" -> heap.max)
    json ++= Seq(
      "queries" -> names.map(graft.core.Json.quote).mkString("[", ", ", "]"),
      "oracle_dir" -> graft.core.Json.quote(s"$work/oracle"),
      "query_tail" -> s"""{"percentile": $p, "samples": ${lat.size}, "value_s": $tailS}""",
      "warmup_round_s" -> list(warm.map(_.map(_.secs).sum)),
      "warmup_query_s" -> warm.map(samplesJson).mkString("[", ", ", "]"),
      "timed_round_s" -> list(rounds.map(_.map(_.secs).sum).toSeq),
      "timed_query_s" -> rounds.map(samplesJson).mkString("[", ", ", "]"),
      "retained_heap_mb" -> list(heap.toSeq))
  }

  // ---------------- traced run ----------------

  private val forecastSteps: Seq[String] = Seq("core.unify", "ops.temporal_split", "ops.station_profile",
    "ops.forward_window", "ops.ring_features", "core.fails_report", "ml.glm_fit",
    "ml.predict_evaluate")
  private val corpusSteps: Seq[String] = Seq("core.jsonl_ingest", "queries.quality_funnel",
    "queries.dedup_signatures", "queries.dedup_pairs", "ops.components",
    "queries.best_survivor", "queries.cluster_split", "queries.mixture_epochs",
    "core.sharded_write")

  private def traced(spark: SparkSession, work: String, tables: String, seed: Long,
                     trips: Int, docs: Int): Unit = {
    val tr = new Tracer(spark, s"trace-$seed-${System.currentTimeMillis()}")
    val steps = mutable.LinkedHashMap.empty[String, StepCost]
    def record(names: Seq[String]): Unit = {
      tr.drain()
      val c = tr.costs
      names.foreach(n => c.get(n) match {
        case Some(v) => steps(n) = v
        case None => check(ok = false, s"step $n was traced")
      })
    }

    // --- forecast: a cold untraced run (the reference and warm-up), a
    // warm untraced run, the traced composition, a second warm untraced
    // run, then a traced re-run on its outDir. The tracing overhead is
    // the traced wall less the mean of the two untraced walls around it,
    // so that the JIT's gain from one run to the next cancels out.
    val csv = Forecast.writeTrips(s"$work/trips", trips, seed)
    val ref = attempt("forecast reference run")(Pipeline.run(spark, Seq(csv), s"$work/forecast_ref"))
    def untraced(k: Int) = attempt(s"forecast untraced run $k")(timed(
      Pipeline.run(spark, Seq(csv), s"$work/forecast_untraced_$k"))).map(_._2)
    val u1 = untraced(1)
    val tracedF = attempt("forecast traced run")(timed(
      Forecast.tracedRun(spark, tr, csv, s"$work/forecast_traced")))
    val u2 = untraced(2)
    for (r <- ref; ((ds, mse), _) <- tracedF)
      check(ds == r.datasetCount && math.abs(mse - r.mse) <= 1e-9 * math.abs(r.mse),
        s"traced forecast DAG matches Pipeline.run (dataset $ds vs ${r.datasetCount}, mse $mse vs ${r.mse})")
    attempt("forecast traced re-run")(tr.span("pipeline.stage_skip")(
      Pipeline.run(spark, Seq(csv), s"$work/forecast_untraced_2"))).foreach(rr =>
      check(rr.modelLoaded && ref.forall(Forecast.sameResult(_, rr)),
        "traced re-run loads the model and returns the reference metrics"))
    record(forecastSteps :+ "pipeline.stage_skip")
    for ((_, tw) <- tracedF; w1 <- u1; w2 <- u2) {
      val uw = (w1 + w2) / 2
      val stepSum = forecastSteps.map(steps(_).wall).sum
      metrics += "tracing.bicis_forecast.overhead_s" -> (tw - uw)
      json ++= Seq("forecast_traced_wall_s" -> tw.toString, "forecast_untraced_wall_s" -> list(Seq(w1, w2)),
        "forecast_step_wall_sum_s" -> stepSum.toString)
      // the untraced wall is known only to half the gap between w1 and w2
      check(math.abs(stepSum - uw) <= math.abs(tw - uw) + math.abs(w1 - w2) / 2,
        f"forecast step walls add up ($stepSum%.2f s) to the untraced wall ($uw%.2f s) within the " +
          f"tracing overhead (${tw - uw}%.2f s) and half the untraced walls' gap (${math.abs(w1 - w2) / 2}%.2f s)")
    }

    // --- corpus: a cold untraced run (the reference), the traced
    // composition, a traced append of a batch with higher doc_ids onto
    // the reference, then an untraced run over base and batch together,
    // whose census the appended outDir must equal
    val docsDir = Corpus.writeDocs(spark, s"$work/docs", docs, docs / 10, seed)
    val refC = attempt("corpus reference run")(CorpusPipeline.run(spark, docsDir.base, s"$work/corpus_ref"))
    refC.foreach(_ => check(Corpus.plantedSurvivorPairs(spark, s"$work/corpus_ref") == 0,
      "planted near-duplicates are all removed"))
    attempt("corpus traced run")(Corpus.tracedRun(spark, tr, docsDir.base, s"$work/corpus_traced"))
      .foreach(c => refC.foreach(r => check(c == Corpus.census(r),
        s"traced corpus DAG matches CorpusPipeline.run ($c)")))
    for (_ <- refC; a <- attempt("corpus traced append")(tr.span("pipeline.corpus_append")(
           CorpusPipeline.append(spark, docsDir.batch, s"$work/corpus_ref")));
         u <- attempt("corpus run over base and batch")(
           CorpusPipeline.run(spark, docsDir.union, s"$work/corpus_union")))
      check(Corpus.census(a) == Corpus.census(u) && a.nDocs == docs + docs / 10,
        s"the appended outDir's census (${Corpus.census(a)}) equals a full run over base and batch " +
          s"(${Corpus.census(u)})")
    record(corpusSteps :+ "pipeline.corpus_append")

    // --- query mix: a warm-up round, then one round in which each query
    // runs untraced and traced back to back, in alternating order, so
    // that the JIT's gain within the round cancels out of the overhead
    // (the oracle compare runs in untraced runs)
    val names = QueryMix.order(seed)
    countFailures(QueryMix.round(spark, tables, names), "warm-up")
    tr.drain()
    val (untracedQ, tracedQ) = QueryMix.pairedRound(spark, tables, names, tr)
    countFailures(untracedQ, "untraced queries")
    countFailures(tracedQ, "traced queries")
    record(QueryMix.familyNames.map(f => s"queries.$f"))
    val batches = tr.batchDurationsMs("queries.streaming").map(_ / 1e3)
    check(batches.nonEmpty, "the streaming replays reported micro-batch progress")
    metrics ++= Seq("streaming.batch_p50_s" -> median(batches), "streaming.batches" -> batches.size.toDouble,
      "tracing.query_session.overhead_s" -> (tracedQ.map(_.secs).sum - untracedQ.map(_.secs).sum))

    tr.close()
    tr.writeSpans(s"$work/spans.jsonl")
    steps.foreach { case (n, c) =>
      metrics ++= Seq(s"$n.wall_s" -> c.wall, s"$n.gap_s" -> c.gap, s"$n.jobs" -> c.jobs.toDouble)
      if (!n.startsWith("queries.") || corpusSteps.contains(n))
        metrics ++= Seq(s"$n.task_cpu_s" -> c.taskCpu, s"$n.shuffle_mb" -> c.shuffleMb)
    }
  }
}
