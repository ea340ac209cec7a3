package graft.util

import java.util.UUID

/** Shared per-JVM scratch root for queries that must materialize files
  * (roundtrip sinks, bucketed tables, stream-source symlink dirs).
  *
  * Round-3 hygiene contract (VERDICT r2 item 6): callers get a FIXED path
  * per (prefix, sf) and write with overwrite, so repeated invocations in a
  * run reuse paths instead of accumulating; a shutdown hook removes the
  * whole root, so repeated Verify/Bench runs leave /tmp unchanged. Deletion
  * cannot happen at query end because returned DataFrames lazily read
  * these files.
  */
object Scratch {

  /** Scratch base: `$SPARK_GRAFT_SCRATCH` if set, else tmpfs (`/dev/shm`)
    * when present/writable, else `java.io.tmpdir`. Scratch holds only
    * per-run fixture layouts and stream checkpoint/offset logs (MBs at
    * bench scale, removed at JVM exit), so RAM-backed placement is pure
    * I/O win (guide §6: metadata ops — commit renames, offset-log fsyncs,
    * directory listings — dominate these small writes). A 100 TB
    * deployment points SPARK_GRAFT_SCRATCH at fast local disk instead. */
  private def base: String =
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) Some("/dev/shm") else None
      }
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))

  lazy val root: String = {
    val dir = s"$base/graft_run_${UUID.randomUUID().toString.take(8)}"
    new java.io.File(dir).mkdirs()
    sys.addShutdownHook(graft.sources.GraftFs.deleteTree(new java.io.File(dir)))
    dir
  }

  private def tag(sf: String): String = sf.replaceAll("[^A-Za-z0-9]", "_")

  /** Fixed, collision-free scratch path for this (prefix, sf) in this JVM. */
  def dir(prefix: String, sf: String): String = {
    val d = s"$root/${prefix}_${tag(sf)}"
    new java.io.File(d).mkdirs()
    d
  }

  /** Idempotent FIXTURE-LAYOUT build: runs `build` at most once per
    * (JVM, dir). The first caller builds under a per-dir lock and drops a
    * marker file; a racing concurrent caller BLOCKS until that build
    * completes — an unguarded `mode(overwrite)` deletes the directory
    * while another caller's lazy scan is reading it (ADVICE r5 on the IVF
    * index) — and every later caller skips straight past the write. Only
    * for layouts that are a pure function of (sf): the roundtrip SINK keys
    * stay unguarded because there the write is the operator under test.
    * The marker's leading underscore keeps Spark's file index from listing
    * it as data. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def once(dir: String)(build: => Unit): String = {
    val lock = buildLocks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      val marker = new java.io.File(dir, "_GRAFT_LAYOUT_DONE")
      if (!marker.exists()) {
        build
        new java.io.File(dir).mkdirs() // build may have replaced the dir
        marker.createNewFile()
      }
    }
    dir
  }
}
