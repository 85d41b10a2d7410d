package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call: a named step, its wall-clock window, its parent. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, endMs: Long)

/** Per-step totals over every span of one name. */
final case class StepCost(wall: Double, taskCpu: Double, gap: Double,
                          jobs: Int, shuffleMb: Double)

private final class Job(val span: Int, val start: Long) { @volatile var end: Long = -1L }

/** Span recorder with Spark-side attribution.
  *
  * Each span sets the local property `perfbench.span` on the calling
  * thread; Spark copies local properties into every job the thread
  * submits (streaming micro-batch threads inherit them from the thread
  * that started the query), so each job, and through its stages each
  * task, is charged to the innermost open span. Spans are kept in
  * memory and written to one file by [[writeSpans]] when the run ends.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val cpuNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val shuffleBytes = new ConcurrentHashMap[Int, java.lang.Long]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  // (trigger start, duration) of each streaming micro-batch, ms
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def add(m: ConcurrentHashMap[Int, java.lang.Long], k: Int, v: Long): Unit =
    m.merge(k, v, (a, b) => a + b)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new Job(span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      started.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      ended.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val span: Int = stageSpan.getOrDefault(e.stageId, -1)
        add(cpuNs, span, e.taskMetrics.executorCpuTime)
        add(shuffleBytes, span, e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli, e.progress.batchDuration))
  }
  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Time `body` as one span named `name`, nested under the open span. */
  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(id, name, parent, runId, t0, System.currentTimeMillis())
      open = open.tail
      sc.setLocalProperty("perfbench.span", open.headOption.map(_.toString).orNull)
    }
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the bus has been quiet for a moment.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1
    while (System.currentTimeMillis() < deadline &&
           (started.get() != ended.get() || last != ended.get())) {
      last = ended.get()
      Thread.sleep(250)
    }
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Wall, task CPU, gap (no job running), jobs and shuffle write per step name,
    * each span charged for the jobs submitted while it was innermost.
    */
  def costs: Map[String, StepCost] = {
    val js = jobs.values.asScala.toSeq
    spans.groupBy(_.name).map { case (name, ss) =>
      val per = ss.map { s =>
        val own = js.filter(_.span == s.id)
        // busy = union of this span's job intervals, clipped to the span
        val ivs = own.map(j => (math.max(j.start, s.startMs),
            math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var busy = 0L; var curA = -1L; var curB = -1L
        ivs.foreach { case (a, b) =>
          if (a > curB) { busy += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        busy += curB - curA
        val wall = (s.endMs - s.startMs) / 1e3
        StepCost(wall,
          Option(cpuNs.get(s.id)).map(_.toLong).getOrElse(0L) / 1e9,
          math.max(0.0, wall - busy / 1e3), own.size,
          Option(shuffleBytes.get(s.id)).map(_.toLong).getOrElse(0L) / 1e6)
      }
      name -> per.reduce((a, b) => StepCost(a.wall + b.wall, a.taskCpu + b.taskCpu,
        a.gap + b.gap, a.jobs + b.jobs, a.shuffleMb + b.shuffleMb))
    }
  }

  /** Durations of the streaming micro-batches that started inside a
    * span named `name`, ms.
    */
  def batchDurationsMs(name: String): Seq[Long] = {
    val windows = spans.filter(_.name == name).map(s => (s.startMs, s.endMs))
    batches.asScala.toSeq.collect {
      case (t, d) if windows.exists { case (a, b) => a <= t && t <= b } => d
    }
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run_id": "${s.runId}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
