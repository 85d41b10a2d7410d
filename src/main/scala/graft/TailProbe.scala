package graft

import org.apache.spark.scheduler._

/** Fixed-floor decomposition probe (r17-opt, guide §1): for each named
  * query, times construction (fn) separately from execution (noop
  * write), runs the write `reps` times in one session, and attributes
  * each run's wall to executor task time vs driver gap via a listener.
  * Diagnostic only — never run by the driver; numbers inform
  * OPTIMIZATION_r17.md.
  *
  * Usage: tools/run.sh graft.TailProbe q1,series_hour [reps]
  */
object TailProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq("q1_agg"))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = SparkEntry.session()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        taskTimeMs += s.stageInfo.taskMetrics.executorRunTime
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    }
    spark.sparkContext.addSparkListener(listener)
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L }
    def snap(): (Int, Int, Int, Long) = {
      // listener bus is async; a short settle keeps counts attributable
      Thread.sleep(120)
      (jobs, stages, tasks, taskTimeMs)
    }

    // warm-up identical to Bench
    try spark.read.parquet(s"$sfDir/region.parquet").write
      .format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"\n===== $name =====")
      (1 to reps).foreach { r =>
        reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val (cj, cs, ct, cms) = snap()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val (ej, es, et, ems) = snap()
        println(f"rep$r construct=${(t1 - t0) / 1e9}%.3fs (jobs=$cj stages=$cs tasks=$ct taskTime=${cms / 1e3}%.2fs) " +
          f"exec=${(t2 - t1) / 1e9}%.3fs (jobs=${ej - cj} stages=${es - cs} tasks=${et - ct} taskTime=${(ems - cms) / 1e3}%.2fs)")
      }
    }
    spark.stop()
  }
}
