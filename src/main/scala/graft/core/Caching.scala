package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared-subplan caching with EAGER materialization.
  *
  * Why eager: a lazily persisted DataFrame that fans out into several
  * downstream branches of ONE action is a scheduler race. The DAG
  * scheduler submits every ready stage concurrently, and each
  * concurrent stage that scans the not-yet-built InMemoryRelation
  * computes the missing cached partitions itself — the full upstream
  * subplan (scan + joins + window shuffles) runs once PER BRANCH, the
  * block manager then drops the duplicates ("Block rdd_N already
  * exists on this machine; not re-adding it"), and under memory
  * pressure the duplicate builds evict each other and cascade into
  * recomputation. Measured here: the round-2 driver bench hit exactly
  * this (3 "already exists" warnings from a 3-branch pipeline) and the
  * persist-using queries ran 10-95x slower than the same code on an
  * idle host, while persist-free queries only showed uniform ~2x load
  * noise.
  *
  * On a real cluster the same race wastes whole-cluster work —
  * duplicated upstream stages across executors — so eager
  * materialization before fan-out is the 100 TB-correct shape, not a
  * local-mode workaround. One extra count() job pays the subplan once,
  * after which every branch reads cached batches.
  *
  * MEMORY_AND_DISK (not MEMORY_ONLY): an evicted partition must spill,
  * not silently recompute the full lineage mid-bench/mid-job.
  */
object Caching {

  // per-driver-thread stack of open [[scoped]] blocks; eager() calls
  // register into the innermost one (DataFrame construction and the
  // materializing count() both run on the calling thread, so a
  // ThreadLocal sees every cache the scope's body creates)
  private val scopes =
    ThreadLocal.withInitial[List[scala.collection.mutable.ArrayBuffer[DataFrame]]](
      () => Nil)

  /** Persist `df` and force it NOW (single job), so downstream branches
    * never race to build it. Callers own the lifecycle; Bench/Verify
    * clearCache() between queries, and the admission service entry
    * points (`Admission.processMicroBatch` and its multimodal twin)
    * wrap each arrival in [[scoped]], which releases the arrival's one
    * batch frame and the probe's candidate caches together, so
    * per-arrival caches never accumulate across the service's
    * lifetime.
    */
  def eager(df: DataFrame): DataFrame = eagerCounted(df)._1

  /** [[eager]], returning the row count the materializing job already
    * computed — callers that need the cardinality anyway (e.g. sizing
    * loop parallelism to data volume) read it for free instead of
    * paying a second count() job over the cache. */
  def eagerCounted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    register(p)
    (p, n)
  }

  /** Enroll an already-persisted frame in the innermost open [[scoped]]
    * block (no-op outside one) — for operators that persist directly
    * because their materializing action doubles as a stats job and
    * [[eager]]'s count() would be a second pass. */
  def register(df: DataFrame): DataFrame = {
    scopes.get() match {
      case buf :: _ => buf += df
      case Nil      =>
    }
    df
  }

  /** Run `body` and then unpersist every cache [[eager]] created inside
    * it (transitively — library internals included), so a long-running
    * caller that invokes cache-using operators once PER ARRIVAL does
    * not leak one batch-sized MEMORY_AND_DISK block per call. The body
    * must fully materialize everything it needs (writes/collects)
    * before returning: the caches are gone afterwards and any
    * unmaterialized plan over them would silently recompute its
    * lineage. Nested scopes release only their own caches.
    *
    * SAME-THREAD contract: the registry is a ThreadLocal, so only
    * [[eager]]/[[register]] calls made ON THE CALLING THREAD enroll.
    * Body code that builds caches from other threads (Futures,
    * parallel collections) escapes the scope silently — release those
    * yourself — and conversely a cache meant to OUTLIVE the call must
    * not be built inside one (build it before entering, or persist
    * directly without [[register]]); every service entry point here
    * is single-threaded per arrival, which is what makes the
    * ThreadLocal sufficient. */
  def scoped[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach(_.unpersist(false))
    }
  }
}
