package graft.ops

/** Per-PROCESS scratch directories for queries that exercise a
  * write→read-back cycle (format roundtrips, the persisted IVF index).
  * Build-once index roots live here too, named and owned by
  * [[Artifacts.root]].
  *
  * The r10 scheme keyed scratch by `dir.hashCode` alone, so two
  * concurrent JVMs over the same data dir (a Bench racing a Verify)
  * overwrote each other's trees mid-read, distinct dirs could
  * hash-collide, and nothing was ever cleaned up. Paths here embed the
  * PID (process-unique — concurrent runs get disjoint trees) and the
  * whole root is recursively deleted by a JVM shutdown hook, so scratch
  * never outlives the run.
  */
object Scratch {

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p.toFile)))
    p
  }

  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete()
    ()
  }

  /** Absolute scratch path for `tag`, unique to this process. */
  def dir(tag: String): String = root.resolve(tag).toString

  /** Recursively delete a scratch tree (no-op when absent). */
  private[ops] def delete(path: String): Unit = deleteRec(new java.io.File(path))
}
