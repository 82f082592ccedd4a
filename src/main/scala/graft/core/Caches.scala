package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.StructType

/** Session-scoped registry for the library's deliberate `cache()` calls.
  *
  * Two materialization disciplines coexist in the operators (see
  * `Similarity.semPrune` and `Dedup.jaccardPairsPrefix` for the measured
  * rationale on each side):
  *
  *  - `localCheckpoint(eager = false)` — the DEFAULT for multi-consumer
  *    reuse. Blocks are reclaimed by the ContextCleaner when the frame
  *    goes out of scope, so single-shot library calls leak nothing into
  *    a long-lived session. Used wherever the downstream join strategy
  *    does NOT depend on the materialized frame's measured size (all
  *    broadcast decisions on that path are explicit `broadcast()` /
  *    `hint(...)` calls).
  *
  *  - `cache()` via [[Caches.cached]] — ONLY where the InMemoryRelation's
  *    measured size statistics are load-bearing: AQE must see the real
  *    byte size to broadcast a per-doc gram/array frame instead of
  *    sort-merge-shuffling it (measured regression without it: the
  *    jaccard-prefix verify join shuffled ~600 MB of shingle arrays at
  *    sf0.1, 7.1 s → ~2 s warm with the cache). A checkpointed RDD scan
  *    reports default (huge) stats and would defeat exactly that.
  *
  * Every load-bearing `cache()` registers here, so a long-lived curation
  * session can reclaim the accumulated CacheManager entries between
  * pipeline runs with ONE call — `graft.core.Caches.release()` — instead
  * of each operator needing to thread an unpersist handle through its
  * return type. Single-query jobs never need to call it (executor
  * storage is dropped with the session); the registry exists for the
  * repeated-call case the CacheManager otherwise grows without bound in.
  *
  * The `CacheHygieneSpec` source gate enforces the split: no bare
  * `.cache()` / `.persist()` anywhere in the library outside this file
  * (one-shot measurement mains — ScaleSmoke*, RecallGrid* — are exempt:
  * their process exit reclaims everything).
  */
object Caches {
  private val tracked = new ConcurrentLinkedQueue[Dataset[_]]()

  /** `df.cache()`, registered for a later [[release]]. Use ONLY where the
    * cached frame's measured stats steer AQE join planning (document the
    * measurement at the call site); otherwise use
    * `localCheckpoint(eager = false)`. */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    tracked.add(ds)
    ds
  }

  /** Parquet table schemas keyed by file snapshot and reader confs — the
    * memo behind `graft.queries.Tables.schemaOf`. LRU, at most
    * [[SchemaMemoBound]] entries; [[release]] clears it. */
  private val SchemaMemoBound = 256
  private val schemas =
    new java.util.LinkedHashMap[AnyRef, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, StructType]): Boolean =
        size() > SchemaMemoBound
    }

  /** The memoized schema for `key`, inferring it with `infer` on a miss. */
  def schemaMemo(key: AnyRef)(infer: => StructType): StructType =
    schemas.synchronized(Option(schemas.get(key))).getOrElse {
      val s = infer // outside the lock: it reads a footer, or runs a Spark job
      schemas.synchronized(schemas.put(key, s))
      s
    }

  /** Number of memoized table schemas. */
  def schemaMemoSize: Int = schemas.synchronized(schemas.size())

  /** Unpersist every frame the library has cached since the last release,
    * and drop the memoized table schemas.
    * Non-blocking by default (the executors drop blocks asynchronously);
    * safe to call at any point — in-flight queries hold their own RDD
    * references and recompute from lineage if a block disappears. */
  def release(blocking: Boolean = false): Unit = {
    var ds = tracked.poll()
    while (ds != null) {
      ds.unpersist(blocking)
      ds = tracked.poll()
    }
    schemas.synchronized(schemas.clear())
  }

  /** Number of currently-tracked (not yet released) cached frames. */
  def trackedCount: Int = tracked.size()
}
