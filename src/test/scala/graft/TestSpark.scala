package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; suites run in one forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // transformWithState needs multi-column-family state: RocksDB provider
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // MATCH_RECOGNIZE parser extension
    .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
    .getOrCreate()

  /** Runs `start` (a streaming query's `start()`) with RocksDB row tracking
    * on, so that query's progress reports its state size in
    * `numRowsTotal`: a query copies the session conf when it starts. */
  def withRowTracking[A](start: => A): A = {
    val key = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try start finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
