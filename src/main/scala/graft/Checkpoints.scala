package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Local checkpoints that are released for real.
  *
  * `Dataset.unpersist()` only drops CacheManager entries, and a
  * `localCheckpoint` is not one: its blocks belong to the RDD under the
  * checkpointed frame's `LogicalRDD`, which stays in
  * `getPersistentRDDs` (and in executor storage) until that RDD itself
  * is unpersisted. [[release]] does exactly that; [[scoped]] checkpoints
  * through a [[Scope]] and releases every frame it made in `finally`,
  * so the caller's last consuming action must happen inside the scope. */
object Checkpoints {

  /** Drop a frame's storage blocks: the checkpointed RDD for a
    * `localCheckpoint`, the cache entry for a `persist`. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Checkpoints made inside one [[scoped]] block. Thread-safe, so
    * concurrent write chains may checkpoint through the same scope. */
  final class Scope private[Checkpoints] {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df.localCheckpoint()`, released when the scope closes. */
    def apply(df: DataFrame): DataFrame = adopt(df.localCheckpoint())

    /** A frame checkpointed elsewhere, released when the scope closes. */
    private[graft] def adopt(ck: DataFrame): DataFrame = {
      held.synchronized(held += ck)
      ck
    }

    private[Checkpoints] def releaseAll(): Unit =
      held.synchronized { held.foreach(release); held.clear() }
  }

  /** `build`, run by the first call of the returned thunk, from
    * whichever thread makes it, and never again: every later call,
    * concurrent ones included, gets the same value or rethrows the same
    * exception. The outcome is memoised whole, because a bare
    * `lazy val` re-runs its initializer after a throw. */
  def once[T](build: => T): () => T = {
    lazy val outcome = scala.util.Try(build)
    () => outcome.get
  }

  def scoped[T](f: Scope => T): T = {
    val scope = new Scope
    try f(scope) finally scope.releaseAll()
  }
}
