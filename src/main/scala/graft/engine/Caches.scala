package graft.engine

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.storage.StorageLevel

/** Caller-owned lifecycle for operator-internal persists.
  *
  * Several operators persist a corpus-scale intermediate that feeds two or
  * more downstream consumers inside the SAME returned plan (minhashLsh's
  * signature frame, the span-cut occurrence frame, the ANN corpus
  * projection). The operator cannot unpersist it before returning — the
  * returned DataFrame still reads the cache — so ownership of the release
  * belongs to the CALLER, who knows when the result has been materialized.
  * This registry makes that contract explicit and auditable:
  *
  *   - operators register intermediates via [[persisted]] instead of a
  *     bare `.persist(...)`;
  *   - sweep harnesses (Verify / Bench / specs) call [[releaseAll]] after
  *     consuming each query's result — every tracked block is dropped and
  *     the registry emptied;
  *   - CacheHygieneSpec asserts the contract end-to-end: after an
  *     operator's result is materialized and released, none of its
  *     tracked RDDs remain in `sparkContext.getPersistentRDDs`.
  *
  * Registration is EAGER and returns a LEAF. [[persisted]] persists the
  * frame, builds its cache at once (one RDD job), and returns a frame whose
  * plan is a single scan over the cached blocks, carrying the materialized
  * size statistics and the cached plan's partitioning and ordering
  * (`GraftBridge.materializedLeaf`). Consumers therefore never carry the
  * intermediate's plan: with the lazy `InMemoryRelation` form, every
  * consumer's explain string and every AQE stage update re-described each
  * cached subtree twice (final and initial plan), doubling per nesting
  * level — megabytes of plan text per query that the driver built and
  * nothing read. The leaf keeps its lineage, so a leaf read after
  * [[releaseAll]] recomputes from the cached plan instead of failing as a
  * `localCheckpoint` would. The cached physical plans stay inspectable
  * until release through [[registeredPlans]] (PlanAudit reads them).
  *
  * Self-managed loop state (connected-components' per-round frames, which
  * unpersist inside the loop) and model-sized `localCheckpoint`s (k-row
  * centroid frames, whose blocks the ContextCleaner reclaims when the
  * plan is garbage-collected) stay OUT of this registry by design.
  *
  * CONCURRENCY CONTRACT: the monitor guards only the registry's buffers;
  * the materializing job runs outside it, so registrations from concurrent
  * threads (Retrieval's store jobs) build their caches concurrently. The
  * registry is process-global and [[releaseAll]] drops EVERY tracked
  * intermediate, so it assumes the single-threaded sweep the
  * Verify/Bench/spec harnesses run — one query materialized, then
  * released, before the next starts. Two concurrently-executing queries
  * would stay CORRECT under a cross-release (a released leaf recomputes),
  * but each would silently lose the reuse its persist exists for.
  */
object Caches {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val leafRdds = scala.collection.mutable.Set.empty[Int]
  private val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]

  /** Persist `ds` (MEMORY_AND_DISK — corpus-scale intermediates must be
    * spill-safe), register it for a later caller-owned [[releaseAll]],
    * build the cache now, and return a leaf frame over it. Idempotent on
    * its own output: a leaf that is still registered comes back as is.
    */
  def persisted[T](ds: Dataset[T]): Dataset[T] = {
    if (GraftBridge.leafRddId(ds).exists(id => synchronized(leafRdds(id))))
      return ds
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized { tracked += p }
    val (leaf, plan) = GraftBridge.materializedLeaf(p)
    synchronized {
      leafRdds ++= GraftBridge.leafRddId(leaf)
      plans += plan
    }
    leaf
  }

  /** Number of currently-tracked intermediates (for spec assertions). */
  def trackedCount: Int = synchronized(tracked.size)

  /** The cached physical plans of the intermediates registered since the
    * last [[releaseAll]], in registration order. Consumers scan leaves, so
    * a plan audit of a query reads these alongside its own executed plan.
    */
  def registeredPlans: Seq[SparkPlan] = synchronized(plans.toList)

  /** Unpersist every tracked intermediate (no-op for anything a blanket
    * `catalog.clearCache()` already dropped) and empty the registry.
    * Non-blocking: block deletion proceeds asynchronously.
    */
  def releaseAll(): Unit = synchronized {
    tracked.foreach(_.unpersist(false))
    tracked.clear()
    leafRdds.clear()
    plans.clear()
  }

  /** Postfix syntax for [[persisted]]:
    * `frame.persistTracked()` ≡ `Caches.persisted(frame)`.
    */
  implicit class Registered[T](private val ds: Dataset[T]) extends AnyVal {
    def persistTracked(): Dataset[T] = Caches.persisted(ds)
  }
}
