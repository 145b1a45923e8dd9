package graft.core

/** Scratch-space policy for query-local fixtures, sinks, and streaming
  * checkpoints — MEASURED per path family on this host (r15), not
  * assumed:
  *
  *  - BULK PARQUET/FORMAT WRITES (fixture tables, roundtrip staging,
  *    bench sinks) run ~40% to 4× FASTER on the disk tmpdir than on
  *    /dev/shm on this kernel (OPTIMIZATION_r15.md batch 3: sink med
  *    7.2M rows/s on /tmp vs 5.1M on shm; q_iceberg_merge 1.7s vs 7.6s,
  *    q_ndjson_decode 1.3s vs 3.5s) — tmpfs pays fresh-page faults on every write while
  *    ext4 rides the write-back page cache. `dir()` therefore defaults
  *    to java.io.tmpdir. The r9 shm choice was measured on a different
  *    host; this round re-measured and reversed it.
  *  - STREAMING CHECKPOINTS (many tiny state-store delta/commit files,
  *    rename-heavy) measured neutral-to-better on /dev/shm
  *    (q_stream_sliding 4.3s shm vs 5.3s tmp) — `ckptDir()` stays
  *    shm-backed.
  *
  * This is NOT cross-run caching: each invocation creates a fresh
  * directory, writes its fixture from the parquet inputs, reads it back
  * within the same query, and the JVM-exit hook deletes it.
  */
object Scratch {
  /** Bulk-write scratch root: the disk tmpdir (see above);
    * `-Djava.io.tmpdir` moves it. */
  val root: java.nio.file.Path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** Streaming-checkpoint root (RAM-backed when available). */
  val ckptRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) shm else root
  }

  // Set-backed registry (r15 ADVICE: the queue's contains() was O(n)
  // per register call, and a full sweep registers hundreds of dirs)
  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var hooked = false
  private def hookOnce(): Unit = if (!hooked) synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim()))
      hooked = true
    }
  }

  private def mk(root: java.nio.file.Path, prefix: String): String = {
    hookOnce()
    val d = java.nio.file.Files.createTempDirectory(root, prefix).toString
    created.add(d)
    d
  }

  /** Delete every registered scratch dir NOW and clear the registry.
    * Safe whenever no query is mid-materialization — Bench calls it
    * after each cell's noop save returns (r15 ADVICE: a 226-cell × 3-rep
    * sweep otherwise accumulates every fixture in the tmpdir for the
    * whole run, leaning on the page cache the later cells measure
    * under). The JVM-exit hook calls the same thing as a backstop. */
  def reclaim(): Unit = {
    val it = created.iterator()
    while (it.hasNext) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(it.next()))
      it.remove()
    }
  }

  /** Fresh bulk scratch directory; deleted at JVM exit (fixture dirs
    * must outlive the query's lazy materialization, so per-query
    * deletion is not safe — the sink/noop save happens after the query
    * function returns). */
  def dir(prefix: String): String = mk(root, prefix)

  /** Fresh streaming-checkpoint directory (shm-backed; callers delete
    * it in their finally blocks, the exit hook is a backstop). */
  def ckptDir(prefix: String): String = mk(ckptRoot, prefix)

  /** Register a caller-managed fixed path (wipe-and-recreate staging
    * dirs) for the same JVM-exit cleanup. */
  def register(path: String): String = {
    hookOnce()
    created.add(path) // Set semantics: duplicate adds are no-ops
    path
  }
}
