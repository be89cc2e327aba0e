package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** In-query persist of a subtree several plan branches share — the
  * guide-§5 trade ("caching is only worth it when a DataFrame is reused
  * AND recomputing it is more expensive than the memory pressure"):
  * Catalyst performs no common-subtree elimination across DataFrame
  * branches, so e.g. [[Dedup.jaccardSimilarityJoin]]'s shingle-set frame
  * was scanned SIX times per execution, each scan re-running the
  * md5-per-shingle kernel (and the pushed size/notNull filters evaluated
  * it twice more inside each scan). Pinning the shared frame turns that
  * into one kernel pass plus cache reads.
  *
  * The engine's ONE persist lifecycle (the global window operators pin
  * nothing — their buckets are literal projections): a pin is a pure
  * cost trade, never part of a result's correctness. The pinned frame is
  * deterministic, so a released or evicted pin costs a recompute, never
  * a wrong answer — which is what makes [[releaseSnapshots]] safe to
  * call at any time, from any thread, even while another query reading
  * a pin is running.
  *
  * Harnesses release every pin between queries via
  * [[GlobalOps.releaseSnapshots]]. A long-running embedder process
  * should call it between logical batches; without it, pins accumulate
  * until session end. Pins deliberately wrap INTERNAL projections,
  * never caller-supplied frames, so a release can't unpersist a cache
  * entry the caller created and still depends on. */
object PlanCache {

  private val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and register it for release, once: a
    * plan already cached (an equal plan pinned earlier, or cached by the
    * caller) is neither re-persisted nor registered again. Returns `df`
    * itself for inline use. */
  def pinned(df: DataFrame): DataFrame = pins.synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      pins += df
    }
    df
  }

  /** Unpersist every registered pin. Returns the number released. */
  def releaseSnapshots(): Int = pins.synchronized {
    pins.foreach(_.unpersist(blocking = false))
    val n = pins.size
    pins.clear()
    n
  }
}

/** The harness entry point Bench/BenchOne/Verify/ExplainQuery call
  * between queries (kept as the stable name external harnesses use). */
object GlobalOps {
  def releaseSnapshots(): Int = PlanCache.releaseSnapshots()
}
