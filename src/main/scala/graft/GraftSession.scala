package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for the engine: every config an operator here
  * depends on, in one place. Users (and the reference's `env` setup,
  * `FlinkCEPExample.scala:46-47`) get event-time semantics, the
  * MATCH_RECOGNIZE parser, and the state-store provider the streaming CEP
  * operator requires, without hunting for flags.
  *
  * Cache ownership convention: operators that consume an expensive pass
  * from more than one plan branch mark it cached (MEMORY_AND_DISK, via
  * [[graft.Caches.cached]]) — the blocks materialize at the query's first
  * action and make every reuse branch-local. The SESSION OWNER owns their
  * lifetime: a long-lived session running many such queries calls
  * `graft.Caches.clear()` between logical jobs — it unpersists exactly the
  * library-registered caches, leaving the owner's own cached relations
  * alone. The query tools, which own nothing across queries, call
  * [[graft.Harness.clear]] between queries: it also releases materialized
  * checkpoints, every SQL-cached relation and any persisted RDD. The
  * operators cannot unpersist for you: their results
  * are lazy DataFrames, and dropping the blocks before the caller's
  * terminal action would just recompute the pass per branch.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // local-mode sizing: match cores, not the 200 default
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // reliable-checkpoint files (Caches.materialize on a cluster with a
      // checkpoint dir) are deleted when their RDD is GC'd — without this
      // Spark never cleans them and a long-lived session leaks disk (r11
      // ADVICE)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // UTC end to end (reference interprets event time as UTC,
      // FlinkCEPExample.scala:34)
      .config("spark.sql.session.timeZone", "UTC")
      // transformWithState (streaming CEP) needs multi-column-family state
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Per-batch checkpoint = the CHANGELOG delta, not a full RocksDB
      // snapshot per store per batch (snapshots still happen, on the
      // background maintenance cadence). With many stateful partitions the
      // per-batch fixed cost is the streaming floor — r9 StreamProbe: the
      // CEP probe's per-batch commit path dominated at 100k keys.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // numRows tracking makes every put pay a hidden get (Spark docs call
      // this out as the put-path tax on write-heavy stateful queries).
      // Cost: `numRowsTotal` reads 0 in streaming progress — a state-size
      // probe that needs the metric re-enables it per query (StreamProbe's
      // SessionStream section does). Correctness loses nothing.
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      // MATCH_RECOGNIZE in spark.sql(...)
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")

  /** Mute WindowExec's "No Partition Defined … single partition" WARN.
    * Every unpartitioned-window site in the declared queries is a BOUNDED
    * table by construction and pinned as an exact allowlist in
    * `PlanAuditSpec` (a new single-partition exchange FAILS the suite), so
    * the hundreds of WARN lines per sweep are noise burying real signals
    * (r8 verdict #6). Scoped to that one logger — real WindowExec errors
    * still surface. */
  def quietAuditedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
