package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The provenance block every artifact carries: which source ran, on how
  * many cores, with which heap, kill switches and non-default confs, and how
  * loaded the machine was at start and end. */
object Provenance {

  def loadavg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim)
      .getOrElse("unavailable")

  /** Every conf set explicitly on the session (Spark's defaults are
    * implicit, so what is set is what differs from them). */
  def confs(spark: SparkSession): Map[String, String] =
    spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll
      .filter { case (k, _) => k.startsWith("spark.sql.") }

  def block(a: Main.Args, conf: Map[String, String], loadStart: String,
      loadEnd: String): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.asScala.toSeq
    Map(
      "source" -> a.source,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "nproc" -> a.cores,
      "jvm_available_processors" -> Runtime.getRuntime.availableProcessors,
      "default_parallelism" -> conf.getOrElse("perfbench.defaultParallelism", ""),
      "shuffle_partitions" -> conf.getOrElse("spark.sql.shuffle.partitions", ""),
      "xmx" -> jvmArgs.filter(_.startsWith("-Xmx")).lastOption.getOrElse(""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "jvm_args" -> jvmArgs.filterNot(_.startsWith("--add-opens")),
      "kill_switches" -> (Map(
        "SPARK_GRAFT_NO_FANOUT" -> sys.env.getOrElse("SPARK_GRAFT_NO_FANOUT", ""),
        "SPARK_GRAFT_NO_LOCALCC" -> sys.env.getOrElse("SPARK_GRAFT_NO_LOCALCC", "")) ++
        sys.props.toMap.filter(_._1.startsWith("graft.test."))),
      "spark_confs" -> conf.filterNot(_._1.startsWith("perfbench.")).toSeq.sortBy(_._1).toMap,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd)
  }

  def capture(spark: SparkSession): Map[String, String] =
    confs(spark) + ("perfbench.defaultParallelism" ->
      spark.sparkContext.defaultParallelism.toString)
}
