package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{FloatVectorDot, PolyHash}

/** Catalyst extension installing graft's native expressions permanently in
  * every session built with them (`.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`) — no per-call temp
  * registration needed, and the functions are visible to plain SQL too. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PolyHash(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("float_vector_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "float_vector_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FloatVectorDot(exprs.head, exprs(1))))
  }
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
