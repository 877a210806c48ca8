package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Catalyst extension installing every graft native function
  * ([[graft.functions.NativeFunctions.table]]) once, when a session is
  * built. It is the only code that puts a function into a session.
  * [[GraftSession.builder]] adds it; a session built any other way needs
  * Spark's own `spark.sql.extensions=graft.GraftExtensions`. The functions
  * are then visible to DataFrame and plain SQL callers alike. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.NativeFunctions.table.foreach(e.injectFunction)
}

/** Canonical session factory: the configuration every graft entry point
  * (Verify, Bench, demos, tests) shares. Shuffle partitions default to the
  * local core count — at cluster scale set `partitions` to ~2-3× total
  * executor cores (or rely on AQE coalescing, which is enabled). */
object GraftSession {
  /** Local core count for harness sessions: `SPARK_GRAFT_CPUS` when set,
    * else the machine's available processors. */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(master: String, partitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // With the UI off nothing reads the status store, and each retained
      // job, stage and SQL execution holds driver heap; a stream retains
      // one per micro-batch.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      // Static, JVM-wide: the generated-class LRU must hold a run's working
      // set (about 265 classes for the three ZTBus stream queries, 150 for
      // a lake backfill run) or every micro-batch recompiles. Spark's
      // default of 100 is below both; 512 leaves about 2x headroom over
      // the larger (DECISIONS.md round 23).
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // transformWithState (the chained-stateful diff stage in
      // Streaming.fullMetricsStream) requires the RocksDB provider; it also
      // keeps streaming state off-heap at scale instead of in executor heap.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // A commit writes the batch's changes as a changelog file; full
      // snapshots move to the background maintenance task.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    Tables.sessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }
}
