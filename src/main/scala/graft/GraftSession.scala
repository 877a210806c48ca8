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
      // transformWithState (the chained-stateful diff stage in
      // Streaming.fullMetricsStream) requires the RocksDB provider; it also
      // keeps streaming state off-heap at scale instead of in executor heap.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    Tables.sessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }
}
