package graft.core

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Persists released by the call that made them. Inside
  * `CacheScope { ... }`, every frame persisted through [[persist]] on
  * the same thread is unpersisted when the block ends, also when it
  * throws, newest first (a dependent before what it reads). Outside a
  * scope, [[persist]] is a plain `Dataset.persist()`, released by its
  * caller or by a harness's `clearCache()`.
  *
  * For operators whose result is a lazy frame over a persist they
  * cannot release themselves (`RunningTotals`): a caller that computes
  * its result eagerly wraps the computation in a scope and leaves
  * nothing cached. */
object CacheScope {
  private val open = new ThreadLocal[List[mutable.Buffer[DataFrame]]] {
    override def initialValue(): List[mutable.Buffer[DataFrame]] = Nil
  }

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    open.get.headOption.foreach(_ += p)
    p
  }

  def apply[A](body: => A): A = {
    val mine = mutable.ArrayBuffer.empty[DataFrame]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.reverseIterator.foreach(_.unpersist())
    }
  }
}
