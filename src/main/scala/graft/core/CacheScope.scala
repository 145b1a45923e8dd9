package graft.core

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of cached data. Main code keeps data only through
  * [[persisted]] and [[localCheckpointed]], and each registers its release
  * with the innermost open `CacheScope { ... }`. When that block ends,
  * also when it throws, the scope releases what it holds, newest first
  * (a dependent before what it reads).
  *
  * An operator keeps what its lazy result reads and never releases it:
  * the caller's scope does, after the result has run. Every entry point
  * that runs catalog queries (`Bench.timedRep`, `Verify`, `tools.Probe`)
  * opens one scope per query; a caller that computes its result eagerly
  * opens its own (the BPE merge loop). Outside any scope a persist
  * stays until the session stops.
  *
  * The scope stack is inherited by threads created inside a scope, so
  * the workers of `Par.awaitAll` (a pool created per call from the
  * calling thread) register with the caller's scope. */
object CacheScope {
  private type Releases = mutable.Buffer[() => Unit]
  private val open = new InheritableThreadLocal[List[Releases]] {
    override def initialValue(): List[Releases] = Nil
  }

  private def hold(release: () => Unit): Unit =
    open.get.headOption.foreach(s => s.synchronized(s += release))

  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist()
    hold(() => p.unpersist())
    p
  }

  /** `df.localCheckpoint()`, whose checkpointed RDD the scope
    * unpersists: `clearCache()` never reaches it. */
  def localCheckpointed(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.logical.foreach {
      case r: LogicalRDD => hold(() => r.rdd.unpersist())
      case _ =>
    }
    cp
  }

  def apply[A](body: => A): A = {
    val outer = open.get
    val mine: Releases = mutable.ArrayBuffer.empty
    open.set(mine :: outer)
    try body
    finally {
      open.set(outer)
      mine.synchronized(mine.toList).reverseIterator.foreach(_())
    }
  }
}
