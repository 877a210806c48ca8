package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's fixed-schema table registry (the SELECT lists at
  * reference processor/main.py:99-130 and :210-229): schemas are static, reads
  * are projection/predicate-pushdown friendly parquet scans. At 100 TB the same
  * call sites read a date-partitioned parquet lake; nothing else changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    * long (spark.sql.legacy.parquet.nanosAsLong — set by [[sessionConfigs]]).
    * Values are µs-aligned in the test data, so integer-dividing to micros is
    * exact; done right after the scan so every consumer sees TimestampType. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => df
    }
  }

  /** Register every test table as a temp view so the whole engine surface
    * is reachable from plain `spark.sql(...)` too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { name =>
      val df = if (name == "events") events(spark, dir) else table(spark, dir, name)
      df.createOrReplaceTempView(name)
    }

  /** Session configs every graft entry point needs. The two `spark.hadoop`
    * entries send `file://` through [[graft.sources.NioLocalFileSystem]] on
    * both Hadoop APIs: FileSystem (parquet sinks, committers) and
    * FileContext (streaming offsets and commits, RocksDB state uploads). */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.NioLocalFs].getName)
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
