package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** Session-wide settings of [[GraftSession.builder]] that show only in how
  * the engine runs, not in what it returns. */
class GraftSessionSpec extends SparkSpec {

  test("codegen cache holds more than 100 generated classes: a re-run compiles nothing") {
    // each literal pair is inlined into the generated code, so every i is a
    // distinct class; 150 of them overflow Spark's default 100-entry cache
    def project(i: Int): Unit = spark.range(3)
      .select((col("id") * lit(i.toLong) + lit(7L * i)).as("v")).collect()
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = compiles
    (0 until 150).foreach(project)
    assert(compiles - start >= 150, "every projection compiles its own class")
    val beforeRerun = compiles
    project(0)
    assert(compiles == beforeRerun,
      "the first projection's class must still be cached after 149 others")
  }
}
