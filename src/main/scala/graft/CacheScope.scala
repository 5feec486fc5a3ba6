package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The one owner of the frames an operator caches while a query is
  * built and run.
  *
  * A caller opens a scope on its own thread around "build a frame and
  * run its action": `CacheScope { q(spark, dir).collect() }`. Every frame
  * an operator persists ([[keep]]), eagerly materializes ([[eager]]) or
  * local-checkpoints ([[checkpoint]]) inside it is released when the
  * scope exits, whether the body returns or throws. Loops hand back the
  * iteration they supersede with [[release]] as soon as the next one is
  * materialized, so peak memory does not grow with the iteration count.
  *
  * A scope owns only what it caused: a frame whose `storageLevel` is
  * already set when it is kept (the caller's input tables, a frame an
  * outer scope holds, the same frame built twice) is read, not owned —
  * unpersisting a rebuilt, identical plan would drop the cache entry the
  * original still relies on.
  *
  * [[planOnly]] is the scope for plan-dump tools: [[eager]] persists but
  * skips its count. [[checkpoint]] still runs the upstream it truncates,
  * because the plan being dumped is the one that reads the checkpoint:
  * a query with checkpoint sites (the Graph iterations,
  * `Dedup.connectedComponents`) runs jobs even in a plan-only scope —
  * q108 3, q112 18, q202 25, q42 11 at sf0.01.
  *
  * Outside any scope a kept frame has no owner: it stays cached until
  * the session ends or someone unpersists it.
  */
object CacheScope {
  /** An open scope: plan-only or not, and what it owns with the action
    * that releases each, in the order they were kept. */
  private final class Open(val planOnly: Boolean) {
    val owned = mutable.ArrayBuffer.empty[(AnyRef, () => Unit)]
  }
  private val current = new ThreadLocal[Open]

  /** Run `body` in a scope that releases what it caches on exit. */
  def apply[A](body: => A): A = within(planOnly = false)(body)

  /** [[apply]] for plan-dump tools: eager sites skip their count;
    * checkpoint sites still run. */
  def planOnly[A](body: => A): A = within(planOnly = true)(body)

  private def within[A](planOnly: Boolean)(body: => A): A = {
    val outer = current.get
    val scope = new Open(planOnly)
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.owned.reverseIterator.foreach(_._2())
    }
  }

  private def own(ds: AnyRef)(free: => Unit): Unit =
    Option(current.get).foreach(_.owned += (ds -> (() => free)))

  /** Persist `ds` lazily (MEMORY_AND_DISK), owned by the open scope. */
  def keep[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist()
      own(ds)(ds.unpersist(blocking = false))
    }
    ds
  }

  /** [[keep]] and materialize now (unless plan-only), so concurrent
    * consumers read the cache instead of racing to build it. */
  def eager[T](ds: Dataset[T]): Dataset[T] = {
    keep(ds)
    if (!Option(current.get).exists(_.planOnly)) ds.count()
    ds
  }

  /** `ds.localCheckpoint()`, owned by the open scope. Releasing it
    * unpersists the checkpointed RDD itself: `Dataset.unpersist` does
    * not reach it. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(rdd => own(cp)(rdd.unpersist(blocking = false)))
    cp
  }

  /** Release `ds` now if the open scope owns it (a superseded loop
    * iteration); otherwise do nothing. */
  def release(ds: Dataset[_]): Unit = Option(current.get).foreach { scope =>
    val i = scope.owned.indexWhere(_._1 eq ds)
    if (i >= 0) scope.owned.remove(i)._2()
  }
}
