package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Ownership registry for every persist the engine takes — the one
  * cache lifetime discipline (only [[graft.operators.Ckpt]]'s
  * persist-before-checkpoint, released on the spot, sits outside it).
  *
  * Many operators pin a narrow intermediate (token stream, scored
  * frame, signature table) because two or more subtrees of the ONE
  * returned lazy plan consume it — without the pin the corpus-sized
  * upstream re-executes per consumer. The returned frame is lazy, so
  * the operator itself can never unpersist (its consumers have not
  * run yet); left alone, each pin sits in the session CacheManager
  * forever — a slow storage-memory leak on executors in a long-lived
  * serving session.
  *
  * [[pin]] makes the lifetime explicit: the frame persists AND
  * registers with its owner, which is
  *  - the innermost [[scope]] open on the calling thread, if any: the
  *    scope releases it when its body ends, on an exception too. Eager
  *    work (index fits and appends, fixpoint loops, MERGE, one
  *    streaming micro-batch) runs in a scope, so its caches live
  *    exactly as long as the work. A nested scope releases only its
  *    own pins; the enclosing scope's stay live.
  *  - otherwise the global queue, which the session's driving loop
  *    (Verify and Bench per query, a serving layer per request)
  *    empties with [[release]] once the query's consumers have
  *    materialized. On the SQL path that owner is whoever materializes
  *    a [[Sql.run]] result: `Sql.run` returns a lazy frame and so
  *    cannot release the pins its `graft_*` relations take.
  *
  * Releasing is always CORRECT at any time — persist is only a cache,
  * the plan recomputes — so a forgotten release merely leaks storage
  * and an early release costs recompute, never wrong answers.
  */
object Pins {
  private val live = new ConcurrentLinkedQueue[Dataset[_]]()
  /** The innermost open scope's pins on this thread (null: none). */
  private val open = new ThreadLocal[ArrayBuffer[Dataset[_]]]

  /** Persist (MEMORY_AND_DISK) and register with the innermost open
    * [[scope]] on this thread, or else for the next [[release]]. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    val owner = open.get
    if (owner == null) live.add(ds) else owner += ds
    ds
  }

  /** Pin `df`, then sort it globally by `by`. The sort's range
    * partitioner samples its child before the real exchange, and with
    * no shuffle boundary in between the sample pass re-executes the
    * whole upstream pipeline (r20 StageProbe: two near-identical heavy
    * stages reading the same upstream exchange, one sample pass with
    * no shuffle write and one real). Pinned, the pipeline materializes
    * once and the sort re-reads it. */
  def pinSorted(df: DataFrame, by: Column*): DataFrame = pin(df).orderBy(by: _*)

  /** Run `body` with a fresh scope open on this thread; every pin it
    * takes is released when it ends, normally or by an exception. */
  def scope[A](body: => A): A = {
    val (a, done) = owned(body)
    done()
    a
  }

  /** [[scope]] for an owner whose lifetime outlives the call (a
    * streaming query's fitted reference): returns `body`'s result and
    * the release of its pins, to be called when the owner ends. On an
    * exception the pins are released before it propagates. */
  private[graft] def owned[A](body: => A): (A, () => Unit) = {
    val outer = open.get
    val mine = ArrayBuffer.empty[Dataset[_]]
    open.set(mine)
    def done(): Unit = mine.foreach(_.unpersist(blocking = false))
    try (body, () => done())
    catch { case t: Throwable => done(); throw t }
    finally open.set(outer)
  }

  /** Unpersist every pin taken outside any [[scope]] (non-blocking).
    * Call after a query's consumers have materialized. Unpersisting a
    * frame that was already released by other means is a no-op. */
  def release(): Unit = {
    var d = live.poll()
    while (d != null) { d.unpersist(blocking = false); d = live.poll() }
  }

  /** Pins taken outside any scope and not yet released (monitoring /
    * specs). */
  def pending: Int = live.size()
}
