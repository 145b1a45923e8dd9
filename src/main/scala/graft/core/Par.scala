package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scan-parallelism spread gate (guide §2.2/§6). The driver-generated
  * testdata ships every table as ONE parquet row group, and a row group
  * is the vectorized reader's unit of work — so every scan is a 1-task
  * stage and the map-side of the first aggregate/projection runs on one
  * core of 32. Queries whose first pass is CPU-bound (cents casts, JSON
  * extraction, tokenization, decimal accumulation) repartition up to
  * the core count first; the round-robin exchange of a narrow
  * projection costs far less than serializing the pass.
  *
  * At any real scale splits >> cores and the gate is COLD (a no-op) —
  * this is the same gate q_mad_outliers and DistributedSelect have
  * carried since r13, lifted to core so the rest of the catalog can
  * share it.
  */
object Par {
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Run independent driver actions concurrently (guide §2.6: actions
    * are only sequential because the driver calls them sequentially)
    * so each job's task tail back-fills the others' idle cores.
    *
    * A FRESH per-call pool rather than ExecutionContext.global (r15
    * ADVICE): Spark's job-local properties — setJobDescription labels,
    * job groups and their cancellation — ride InheritableThreadLocals,
    * which copy at THREAD CREATION. Global-pool threads are created
    * once and reused, so they carry whatever properties the thread
    * that first grew the pool had (stale labels, broken cancellation).
    * Here the workers are created at submit time from the calling
    * (correctly labeled) thread and the pool dies with the call.
    *
    * The pool holds `min(work.size, defaultParallelism)` threads (the
    * active session's, else the host's core count): more concurrent
    * driver actions than task slots only queue in the scheduler.
    *
    * A failure does not cancel the other jobs. The call waits for
    * every submitted job to finish, then rethrows the first failure in
    * submission order, so no job is still running (e.g. still writing
    * into a directory a retry will overwrite) once the call returns. */
  def awaitAll[T](work: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val slots = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(Runtime.getRuntime.availableProcessors)(_.sparkContext.defaultParallelism)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(work.size, slots)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = work.map(w => Future(w()))
      fs.foreach(Await.ready(_, Duration.Inf))
      fs.map(_.value.get.get)
    } finally pool.shutdown()
  }
}
