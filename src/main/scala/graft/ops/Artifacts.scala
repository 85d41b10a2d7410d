package graft.ops

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session artifacts: the one reuse layer for the expensive
  * intermediates several queries of a session share — dedup signature,
  * pair, cluster and rank tables, the Poisson training dataset, the
  * graph trade-pair edges, persisted IVF/PQ and k-NN graph index trees,
  * BPE merges and PCA fits. Reuse across the queries of one interactive
  * session is one explicit layer (Incremental Top-K Similarity Search in
  * Interactive Data Analysis Sessions, EDBT 2020), so every shared
  * build gets the same key, lifecycle and accounting.
  *
  * KEY = (session, input fingerprint, build params):
  *  - the session's own UUID, so no artifact outlives or crosses it;
  *  - (path, length, mtime) of every file under `$dir/<table>.parquet`
  *    for each table the build reads ([[graft.core.Fs.fingerprint]], one
  *    Hadoop FileSystem listing per table) — an input rewritten in place within the session (new
  *    part files, or a new length / mtime) MISSES instead of serving the
  *    old snapshot's artifact. The first miss over a new snapshot also
  *    evicts every artifact of the session built over the old one:
  *    Spark's cache matches a parquet scan by its path, not its files,
  *    so a still-persisted old frame would be substituted into any
  *    rebuilt plan that reads the same table;
  *  - the typed build params (hash tier, k, m, dsub, rounds, ...), so a
  *    param change misses too.
  *
  * VALUES: a persisted frame ([[frame]], MEMORY_AND_DISK unless the
  * build persisted it itself), an on-disk root ([[root]], a
  * [[Scratch.dir]] whose name is a digest of the whole key) or a driver
  * value ([[value]]).
  *
  * BUILD-ONCE: one build per key. Builds may nest for DISTINCT keys (a
  * mutation gate clones a shared base root from inside its own build;
  * the cluster map builds the pair table, which builds the signatures),
  * concurrent first callers of one key serialize on a per-key lock
  * object (never inside `computeIfAbsent`, where a nested insert throws
  * "Recursive update" whenever two keys share a bin), and a build that
  * re-enters its OWN key fails loudly instead of recursing forever.
  *
  * EVICTION: [[evict]] is the one path — called by one
  * application-end listener per session, and directly by callers that
  * need the session's next builds to run again (PlanSpec's sweep). It
  * unpersists frames and deletes roots; evicting concurrently with a
  * build of the same session is not supported.
  */
object Artifacts {

  /** What an artifact is a pure function of. */
  private final case class Key(session: String, kind: String,
                               inputs: Seq[(String, Seq[(String, Long, Long)])], params: Seq[Any]) {
    /** `o` was built over another snapshot of one of this key's tables. */
    def supersedes(o: Key): Boolean =
      o.session == session && o.inputs.exists { case (table, files) =>
        inputs.exists { case (t, now) => t == table && now != files }
      }

    /** Directory-safe name derived from the WHOLE key (param types
      * included, so 16 and "16" never share a root).
      */
    def name: String = {
      val typed = params.map(p => s"${p.getClass.getName}:$p")
      val md = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$session|$kind|$inputs|$typed".getBytes("UTF-8"))
      kind + "_" + md.take(12).map(b => f"$b%02x").mkString
    }
  }

  /** One lookup, as the bench detail records it: a hit, or a build with
    * its wall seconds (inclusive of nested builds).
    */
  final case class Event(kind: String, built: Boolean, secs: Double)

  private sealed trait Held
  private final case class Frame(df: DataFrame) extends Held
  private final case class Root(path: String) extends Held
  private final case class Value(v: Any) extends Held

  private val built = new java.util.concurrent.ConcurrentHashMap[Key, Held]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[Key, Object]()
  private val listening = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // keys whose builds are running on THIS thread (same-key re-entry check)
  private val inFlight = ThreadLocal.withInitial(() => scala.collection.mutable.Set[Key]())
  @volatile private var observer: Event => Unit = _ => ()

  /** A persisted frame built from the `tables` of `dir`. Callers must
    * NOT unpersist it.
    */
  def frame(s: SparkSession, dir: String, tables: Seq[String], kind: String, params: Any*)
           (build: => DataFrame): DataFrame =
    once(s, key(s, dir, tables, kind, params)) {
      val df = build
      Frame(if (df.storageLevel != StorageLevel.NONE) df
            else df.persist(StorageLevel.MEMORY_AND_DISK))
    }.df

  /** An on-disk root built once by `build(path)`; returns the path. */
  def root(s: SparkSession, dir: String, tables: Seq[String], kind: String, params: Any*)
          (build: String => Unit): String = {
    val k = key(s, dir, tables, kind, params)
    once(s, k) { val path = Scratch.dir(k.name); build(path); Root(path) }.path
  }

  /** A driver-side value (a fit, a merge list). */
  def value[T](s: SparkSession, dir: String, tables: Seq[String], kind: String, params: Any*)
              (build: => T): T =
    once(s, key(s, dir, tables, kind, params))(Value(build)).v.asInstanceOf[T]

  /** Drop every artifact of `s`: unpersist frames, delete roots. */
  def evict(s: SparkSession): Unit = evictSession(sessionId(s))

  /** Run `body` with every hit and build reported to `f` (single
    * observer; the bench attributes artifacts per query with it).
    */
  def observe[T](f: Event => Unit)(body: => T): T = {
    val prev = observer
    observer = f
    try body finally observer = prev
  }

  private def sessionId(s: SparkSession): String =
    org.apache.spark.sql.GraftColumns.sessionId(s)

  private def key(s: SparkSession, dir: String, tables: Seq[String], kind: String,
                  params: Seq[Any]): Key = {
    val inputs = tables.map { t =>
      val path = s"$dir/$t.parquet"; path -> graft.core.Fs.fingerprint(s, path)
    }
    Key(sessionId(s), kind, inputs, params)
  }

  private def once[H <: Held](s: SparkSession, k: Key)(build: => H): H = {
    val hit = built.get(k)
    if (hit != null) { observer(Event(k.kind, built = false, 0.0)); hit.asInstanceOf[H] }
    else {
      if (inFlight.get().contains(k))
        throw new IllegalStateException(s"Artifacts: the build of ${k.kind} " +
          s"(params ${k.params.mkString(", ")}) re-entered its own key — " +
          "artifact dependencies must form a DAG of DISTINCT keys")
      listen(s)
      locks.computeIfAbsent(k, _ => new Object).synchronized {
        val raced = built.get(k)
        if (raced != null) { observer(Event(k.kind, built = false, 0.0)); raced.asInstanceOf[H] }
        else {
          built.keySet.asScala.filter(k.supersedes).foreach(release)
          val t0 = System.nanoTime()
          inFlight.get() += k
          val h = try build finally inFlight.get() -= k
          built.put(k, h)
          observer(Event(k.kind, built = true, (System.nanoTime() - t0) / 1e9))
          h
        }
      }
    }
  }

  private def listen(s: SparkSession): Unit = {
    val id = sessionId(s)
    if (listening.add(id))
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          evictSession(id)
          listening.remove(id): Unit
        }
      })
  }

  private def evictSession(id: String): Unit =
    built.keySet.asScala.filter(_.session == id).foreach(release)

  /** The one eviction path: forget `k`, unpersist its frame or delete
    * its root.
    */
  private def release(k: Key): Unit = {
    locks.remove(k)
    Option(built.remove(k)).foreach { h =>
      try h match {
        case Frame(df)  => df.unpersist(blocking = false): Unit
        case Root(path) => Scratch.delete(path)
        case Value(_)   => ()
      } catch { case NonFatal(e) =>
        System.err.println(s"[artifacts] evicting ${k.name} failed: $e")
      }
    }
  }
}
