package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-level session defaults shared by every entry point (Bench,
  * Verify, ExplainDump, plan dumps, scale smokes) — the one place a
  * performance-relevant static conf is decided, so a win measured in the
  * bench is an ENGINE property, not a harness one (r17 verdict item 2:
  * the codegen-cache sizing lived only in Bench.scala, which made the
  * round's largest speedup slice a harness-config change).
  */
object SessionDefaults {

  /** Apply the engine's session defaults to a builder. Call before
    * `getOrCreate()`; per-entry-point confs (master, shuffle partitions,
    * timezone) stay with the caller.
    *
    *  - `spark.sql.codegen.cache.maxEntries = 4096`: the generated-class
    *    cache is a STATIC conf defaulting to 100 entries. Any long-lived
    *    session serving a query library of hundreds of distinct plans
    *    (the production shape this engine targets, and the bench's ~375
    *    plans per pass) LRU-thrashes the default: every re-run re-pays
    *    Janino compilation for code the session already compiled
    *    (measured r17: o5_rolling_corr 2.76 s inside the full suite vs
    *    1.2 s isolated, same plan; sizing the cache to the suite was a
    *    −33% total-wall change). Entries hold weak-referenced compiled
    *    classes, so 4096 entries is bounded metaspace, not corpus-scale
    *    state.
    *  - `spark.sql.streaming.checkpointFileManagerClass =`
    *    [[graft.streaming.LocalCheckpointFileManager]]: Spark's default
    *    manager forks a `chmod` per created file and a `readlink` per rename
    *    when the JVM has no native Hadoop library, ~112 forks per bounded
    *    stream run (OPTIMIZATION_checkpoint.md). This one writes `file:`
    *    checkpoints inside the JVM with the same files, `.crc` sidecars and
    *    atomic rename; other schemes get Spark's default manager.
    */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", "4096")
      .config(graft.streaming.LocalCheckpointFileManager.ConfKey,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
}
