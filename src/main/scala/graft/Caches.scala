package graft

import org.apache.spark.sql.Dataset

/** Session cache hygiene for the library's internal `.cache()` sites.
  *
  * Operators here cache an expensive pass when more than one plan branch
  * consumes it (the [[GraftSession]] cache-ownership convention). Those
  * results are LAZY DataFrames, so the operator itself can never unpersist
  * — the blocks must outlive the caller's terminal action — and before r10
  * a long-lived library session that ran many such queries accumulated
  * MEMORY_AND_DISK blocks indefinitely unless the owner knew to call
  * `spark.catalog.clearCache()` (r8/r9 ADVICE).
  *
  * Every internal cache now registers itself here via [[Caches.cached]] (or
  * the postfix [[Caches.CacheOps.graftCache]]); a session owner calls
  * [[Caches.clear]] between logical jobs to unpersist exactly the blocks
  * the library created — their own caches are untouched, unlike the
  * `clearCache()` sledgehammer. [[graft.Harness.clear]] calls it (through
  * [[clearAll]]) between the query tools' queries; `CachesSpec` pins that a multi-query session ends with
  * zero persistent graft RDDs after a clear.
  */
object Caches {

  private val reg =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  // RDD-level blocks created by [[materialize]] (localCheckpoint persists
  // the internal RDD directly — Dataset.unpersist can't reach it, only
  // rdd.unpersist releases the blocks)
  private val rddReg =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** Lineage-truncating materialization, REGISTERED for [[clear]] — the
    * checkpoint analog of [[cached]] (r11 ADVICE: `localCheckpoint` blocks
    * used to be invisible to the registry, so a long-lived session
    * accumulated them until GC). Reliable `checkpoint()` when a checkpoint
    * dir is configured (cluster deployment — survives executor loss;
    * [[graft.GraftSession]] sets `cleanCheckpoints=true` so the files are
    * deleted when the RDD is GC'd), `localCheckpoint()` otherwise
    * (local/test). The EXACT RDD backing the returned Dataset is
    * registered — the checkpointed Dataset's plan is a `LogicalRDD` over
    * the persisted RDD, so we take it from there rather than diffing
    * `getPersistentRDDs` around the call (r12 ADVICE: the diff could
    * capture a CONCURRENT thread's simultaneous persist, and a later
    * [[clearAll]] would then deterministically unpersist a checkpoint
    * that other query still needs — localCheckpoints have no lineage, so
    * that is not recompute-safe). `CachesSpec` pins the LogicalRDD shape
    * so a Spark upgrade that changes it fails loudly instead of leaking. */
  def materialize[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined) ds.checkpoint(eager)
    else {
      val out = ds.localCheckpoint(eager)
      out.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          rddReg.add(lr.rdd): Unit
      }
      out
    }
  }

  /** `ds.cache()` (MEMORY_AND_DISK), registered for [[clear]].
    *
    * Idempotent on the PLAN (r10 verdict #4): a shared intermediate
    * consumed through two library entry points (e.g. the IVF cell table)
    * used to register twice — Spark's CacheManager dedups the blocks
    * (logging "Asked to cache already cached data") but the registry then
    * held a stale second handle. A plan already registered and still
    * persisted is returned as-is. The scan is O(registry) per call; the
    * registry holds at most the library's distinct cache sites between
    * [[clear]]s. Concurrency caveat for multi-threaded session owners: two
    * threads caching the same plan simultaneously may still both register
    * (benign — double unpersist is a no-op), and a [[clear]] from one
    * thread unpersists caches of queries still running on others
    * (recompute-safe, but a perf cliff — clear BETWEEN jobs, not during). */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    val plan = ds.queryExecution.analyzed
    val it = reg.iterator()
    var dup = false
    while (!dup && it.hasNext) {
      val r = it.next()
      dup = (r.storageLevel != org.apache.spark.storage.StorageLevel.NONE) &&
        r.queryExecution.analyzed.sameResult(plan)
    }
    if (!dup) reg.add(ds.cache())
    ds
  }

  /** Unpersist every cache the library registered since the last clear.
    * Non-blocking: block deletion proceeds asynchronously, which is fine —
    * the point is that the blocks are RELEASED, not that they vanish
    * before the next statement. SAFE TO CALL AT ANY TIME: caches are
    * recompute-safe (an in-flight or held query just recomputes the
    * pass), and [[materialize]]d checkpoint blocks — which are NOT
    * recompute-safe, a localCheckpoint has no lineage — are only
    * DEREFERENCED here, so frames the caller still holds keep working
    * and the ContextCleaner releases the blocks once they become
    * unreachable. [[clearAll]] is the deterministic-release variant. */
  def clear(): Unit = {
    var ds = reg.poll()
    while (ds != null) {
      ds.unpersist(blocking = false)
      ds = reg.poll()
    }
    // drop the strong refs so GC + ContextCleaner can release the blocks;
    // deterministic unpersist is clearAll()'s job (it would break frames
    // the caller still holds)
    rddReg.clear()
  }

  /** [[clear]] plus a DETERMINISTIC unpersist of every [[materialize]]d
    * checkpoint block registered since the last clear. Call ONLY between
    * logical jobs when no frame obtained before this call will run
    * another action: a localCheckpoint cannot recompute, so a held frame
    * fails with "checkpoint block not found" after this (unlike caches,
    * which recompute). [[graft.Harness.clear]] calls it between queries;
    * a long-lived session owner who keeps results across jobs
    * should stick to [[clear]]. */
  def clearAll(): Unit = {
    var rdd = rddReg.poll()
    while (rdd != null) {
      rdd.unpersist(blocking = false)
      rdd = rddReg.poll()
    }
    clear()
  }

  /** Deterministically release ONE [[materialize]]d frame's checkpoint
    * blocks and drop its registry entry — the per-frame analog of
    * [[clearAll]] for long-running FOLDS (r15 ADVICE: a streaming model
    * state that re-checkpoints every micro-batch superseded the previous
    * checkpoint but never unpersisted it, so persisted blocks and
    * registry refs grew with batch count; [[clearAll]] is unusable
    * mid-stream — it would sever the CURRENT checkpoint too). Call only
    * when no held frame still reads `ds` (a localCheckpoint cannot
    * recompute). No-op for frames that are not materialized leaves. */
  private[graft] def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        rddReg.remove(lr.rdd)
        lr.rdd.unpersist(blocking = false): Unit
    }: Unit

  /** Run `body` and then unpersist + deregister exactly the caches it
    * registered — the per-BATCH analog of [[clear]] for long-running
    * compositions that call cache-using library operators once per
    * micro-batch (r16: [[graft.streaming.CurationStream]] runs
    * [[graft.pipeline.Curation.curateArrivalsOf]], whose per-batch id-set
    * caches would otherwise grow the registry for the stream's lifetime —
    * the ClassifierMergeStream lesson). `body` must COMPLETE its terminal
    * action before returning (a foreachBatch sink does); caches are
    * recompute-safe, so even a leaked lazy frame only loses the cache, not
    * correctness. Caches registered by CONCURRENT threads during `body`
    * are deliberately left alone (identity snapshot of the registry);
    * [[materialize]]d checkpoints are NOT released here — they are not
    * recompute-safe, [[release]] is their per-frame tool. */
  private[graft] def scoped[T](body: => T): T = {
    val before = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Dataset[_], java.lang.Boolean]())
    reg.forEach(ds => before.add(ds): Unit)
    try body
    finally {
      val it = reg.iterator()
      while (it.hasNext) {
        val ds = it.next()
        if (!before.contains(ds)) {
          ds.unpersist(blocking = false)
          it.remove()
        }
      }
    }
  }

  /** True iff `ds` is already a [[materialize]]d leaf (a `LogicalRDD`
    * over a checkpointed RDD) — such a frame is a plain persisted scan,
    * so re-registering it via [[cached]] buys nothing and grows the
    * registry on every read (r15 ADVICE). */
  private[graft] def isMaterializedLeaf(ds: Dataset[_]): Boolean =
    ds.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Number of registered, not-yet-cleared caches (test visibility). */
  private[graft] def registered: Int = reg.size()

  /** Registered-but-not-cleared [[materialize]] RDDs (test visibility). */
  private[graft] def rddSnapshot: List[org.apache.spark.rdd.RDD[_]] = {
    val b = List.newBuilder[org.apache.spark.rdd.RDD[_]]
    rddReg.forEach(r => b += r)
    b.result()
  }

  /** Registered-but-not-cleared caches (test visibility). */
  private[graft] def snapshot: List[Dataset[_]] = {
    val b = List.newBuilder[Dataset[_]]
    reg.forEach(ds => b += ds)
    b.result()
  }

  /** Postfix spelling: `df.graftCache()` reads like `df.cache()` at the
    * ~24 internal sites. */
  implicit final class CacheOps[T](private val ds: Dataset[T]) extends AnyVal {
    def graftCache(): Dataset[T] = cached(ds)
  }
}
