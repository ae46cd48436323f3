package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Ownership registry for intra-plan persists.
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
  * [[pin]] makes the lifetime explicit: the frame persists exactly as
  * before AND registers here; the session's driving loop (Verify and
  * Bench per query, a serving layer per request) calls [[release]]
  * once the query's consumers have materialized. On the SQL path that
  * owner is whoever materializes a [[Sql.run]] result: `Sql.run`
  * returns a lazy frame and so cannot release the pins its `graft_*`
  * relations take (the CLI's `main` stops its session after its one
  * statement). Releasing is always CORRECT at any time — persist is
  * only a cache, the plan recomputes — so a forgotten release merely
  * matches the old behavior and an early release costs recompute,
  * never wrong answers.
  *
  * Persists with a structural owner (fit stages that unpersist in
  * `finally` — AnnIndex/DedupIndex/Bm25Index/NearDupIndex — and
  * streaming gates whose reference frame lives exactly as long as the
  * stream) do NOT go through here.
  */
object Pins {
  private val live = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist (MEMORY_AND_DISK) and register for the next [[release]]. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(ds)
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

  /** Unpersist every registered pin (non-blocking). Call after a
    * query's consumers have materialized. Unpersisting a frame that
    * was already released by other means is a no-op. */
  def release(): Unit = {
    var d = live.poll()
    while (d != null) { d.unpersist(blocking = false); d = live.poll() }
  }

  /** Currently-registered pin count (monitoring / specs). */
  def pending: Int = live.size()
}
