package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact._

import java.sql.Timestamp

/** Reusable relational operators re-expressing the reference's semantics
  * (SURVEY.md §2) as pure `DataFrame => DataFrame` transforms.
  *
  * Everything here stays inside Catalyst/codegen: no UDFs, no collects, no
  * driver-side loops — each transform compiles to a declarative plan that
  * Catalyst can push down, prune, and re-order, and that scales from
  * `local[32]` to a 1000-executor cluster unchanged.
  */
object CoreOps {

  /** S1 — predicate-pushdown scan builder with the reference's "at least one
    * predicate" contract (reference processor/main.py:94-97: a full-table
    * telemetry read is refused). Time bounds are CLOSED intervals, matching
    * Postgres BETWEEN (processor/main.py:137-142, SURVEY §2.2 P3).
    *
    * Both the key-equality and time-range predicates reach the parquet scan
    * as PushedFilters, so at 100 TB this prunes row groups (and, with a
    * date-partitioned layout, whole partitions) instead of filtering in the
    * engine.
    */
  def scanWithPredicates(
      fact: DataFrame,
      cols: Seq[String],
      keyCol: String,
      key: Option[Long],
      timeCol: String,
      timeFrom: Option[Timestamp],
      timeTo: Option[Timestamp]): DataFrame = {
    require(key.nonEmpty || timeFrom.nonEmpty || timeTo.nonEmpty,
      "at least one of key/timeFrom/timeTo is required (unbounded scan refused)")
    val preds: Seq[Column] =
      key.map(k => col(keyCol) === lit(k)).toSeq ++
        timeFrom.map(f => col(timeCol) >= lit(f)).toSeq ++
        timeTo.map(t => col(timeCol) <= lit(t)).toSeq
    fact.where(preds.reduce(_ && _)).select(cols.map(col): _*)
  }

  /** J1 — "active keys in window": filter the fact table to a time interval,
    * join a (small) dimension, project the key tuple, distinct. The dimension
    * is broadcast — at 100 TB the fact side never shuffles; distinct is a
    * partial-aggregate (map-side combine) on the fact partitions. */
  def activeKeys(
      fact: DataFrame, dim: DataFrame, joinCond: Column,
      timeCol: Column, from: Column, to: Column,
      outCols: Seq[Column]): DataFrame =
    fact.where(timeCol.between(from, to))
      .join(broadcast(dim), joinCond)
      .select(outCols: _*)
      .distinct()

  /** A13 — pandas-`describe()` equivalent as one hash aggregation: count, min,
    * max, exact quartiles, deterministic mean. One shuffle, partial aggs
    * map-side. At 100 TB scale swap `percentile` for `percentile_approx`
    * (documented scale mode; exact percentiles need the full group in memory).
    */
  def describeStats(df: DataFrame, groupCols: Seq[Column], value: Column,
      approx: Boolean = false): DataFrame = {
    // All three quartiles from ONE array-percentile aggregate: the planner
    // dedupes the semantically-equal aggregate under each element_at, so the
    // group pays one percentile buffer instead of three.
    val qs = array(lit(0.25), lit(0.50), lit(0.75))
    val pcts =
      if (approx) percentile_approx(value, qs, lit(10000))
      else percentile(value, qs)
    df.groupBy(groupCols: _*).agg(
      count(value).as("n"),
      min(value).as("vmin"),
      max(value).as("vmax"),
      round(element_at(pcts, 1), 4).as("p25"),
      round(element_at(pcts, 2), 4).as("p50"),
      round(element_at(pcts, 3), 4).as("p75"),
      davg(value).as("mean_v"))
  }

  /** W1/W2 — first and second discrete difference of an ordered signal
    * (reference accel/jerk, processor/main.py:563-565), first element filled
    * with 0. One window spec, reused for both lags: a single sort per
    * partition key, no extra shuffle for the second diff. */
  def diff2(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
      value: Column, d1Name: String, d2Name: String): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    df.withColumn(d1Name, coalesce(value - lag(value, 1).over(w), lit(0.0)))
      .withColumn(d2Name,
        coalesce(col(d1Name) - lag(col(d1Name), 1).over(w), lit(0.0)))
  }

  /** W1/W2 scale variant — diffs by self-equijoin on (keys, time − step)
    * instead of an ordered window. The window formulation sorts each key's
    * whole partition (parallelism = #keys, a problem when a few huge keys
    * dominate, e.g. 3 multi-day trips); the join shuffles on (keys, time)
    * which is uniformly distributed, so parallelism is unbounded. For a
    * regular cadence with no gaps the results equal [[diff2]] exactly; at
    * a gap the join yields 0 (no sample one step earlier) where lag would
    * bridge it — arguably the more physical reading of a derivative.
    * PRECONDITION: (keys, time) is unique — duplicate timestamps would
    * multiply rows through the self-join; dedupe upstream first.
    */
  def diff2ByJoin(df: DataFrame, partCols: Seq[String], timeCol: String,
      stepExpr: String, value: String, d1Name: String, d2Name: String): DataFrame = {
    def shift(src: DataFrame, v: String, out: String): DataFrame =
      src.select(partCols.map(col) :+
        (col(timeCol) + expr(stepExpr)).as(timeCol) :+ col(v).as(out): _*)
    val joinKeys = partCols :+ timeCol
    val with1 = df
      .join(shift(df, value, "_prev"), joinKeys, "left")
      .withColumn(d1Name, coalesce(col(value) - col("_prev"), lit(0.0)))
      .drop("_prev")
    with1
      .join(shift(with1, d1Name, "_prev1"), joinKeys, "left")
      .withColumn(d2Name, coalesce(col(d1Name) - col("_prev1"), lit(0.0)))
      .drop("_prev1")
  }

  /** As-of join (composed from built-ins — preference (a) of the custom-
    * operator ladder): for each left row, attach the carried columns of the
    * LATEST right row with the same key and `rightTime <= leftTime`.
    *
    * Implementation: union both sides tagged, one window pass per key in
    * time order carrying the last non-null right values forward — i.e. a
    * single shuffle on the key, no range-join blowup, no custom SparkPlan.
    * Right rows sort before left rows at equal timestamps, giving `<=`
    * semantics (matching DuckDB's `ASOF JOIN ... ON l.t >= r.t`).
    * Inner semantics: left rows with no prior right row are dropped.
    *
    * All carried columns travel as ONE struct through a single
    * `last(ignoreNulls)`, so the attached values always come from the same
    * right row — carrying each column independently would stitch together a
    * row that never existed whenever the latest right row holds NULL in one
    * carried column (and would then drop the left row entirely, where DuckDB
    * keeps it with a NULL payload).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      carry: Map[String, String]): DataFrame = {
    // Fields sorted by output name: the struct IS the tiebreak order below.
    val outs = carry.toSeq.map(_.swap).sortBy(_._1)
    val r = right
      .select((keys :+ rightTime).distinct.map(col) :+
        struct(outs.map { case (out, src) => col(src).as(out) }: _*).as("_carry"): _*)
      .withColumn("_t", col(rightTime))
      .withColumn("_is_left", lit(0))
      .select((keys.map(col) :+ col("_carry") :+ col("_t") :+ col("_is_left")): _*)
    val l = left.withColumn("_t", col(leftTime)).withColumn("_is_left", lit(1))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // Tiebreak among right rows sharing a timestamp: order by the carried
    // struct too, so the pick is deterministic (the max carried tuple)
    // instead of shuffle-order dependent.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t"), col("_is_left"), col("_carry"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("_carry", last(col("_carry"), ignoreNulls = true).over(w))
    carried.where(col("_is_left") === 1 && col("_carry").isNotNull)
      .select(left.columns.map(col) ++
        outs.map { case (out, _) => col(s"_carry.$out").as(out) }: _*)
  }

  /** W4 — gaps-and-islands run detection: one output row per maximal
    * contiguous run of `flag == true` within a partition, `[min(order),
    * max(order)]` plus the run length. Replaces the reference's per-minute
    * FSM + 20×20 s lookback loop (processor/main.py:250-337): computed over
    * whole partitions there is no window-boundary problem at all
    * (SURVEY §2.5 W6). Cost: one shuffle on `partCols` shared by the window
    * function and the groupBy — Catalyst reuses the partitioning.
    */
  def flagRuns(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
      flag: Column, runStart: String = "start_ts", runEnd: String = "end_ts",
      runLen: String = "n_rows"): DataFrame =
    flagRunAgg(df, partCols, orderCols, flag, Nil, runStart, runEnd, runLen)

  /** [[flagRuns]] carrying arbitrary per-run aggregates: because every
    * sample already knows its run id (the same gaps-and-islands cumulative
    * sum), any per-session statistic is ONE aggregation on the run key — no
    * session × telemetry interval join at all. The window sort and the
    * groupBy share the `partCols` shuffle, so a full per-session describe
    * over N columns costs exactly one shuffle at any scale.
    *
    * Equivalent to the join formulation (re-reading samples BETWEEN the
    * run's min/max order value) whenever `orderCols.head` is unique per
    * partition — 1 Hz telemetry is; asserted in ZtbusSpec. */
  def flagRunAgg(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
      flag: Column, aggs: Seq[Column], runStart: String = "start_ts",
      runEnd: String = "end_ts", runLen: String = "n_rows",
      spreadAgg: Boolean = false): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(flag, 1).over(w)
    val changed = when(prev.isNull || prev =!= flag, 1L).otherwise(0L)
    val base = Seq(
      min(orderCols.head).as(runStart),
      max(orderCols.head).as(runEnd),
      count(lit(1)).as(runLen)) ++ aggs
    val runs = df.withColumn("_flag", flag)
      .withColumn("_run_id", sum(changed).over(cum))
      .where(col("_flag"))
    // spreadAgg (r19, guide §2.5): aggregation-heavy callers (the
    // 112-aggregate session describe) opt in to a size-gated keyed
    // fan-out onto the (key, run) grain — without it the aggregation
    // rides the window's key partitioning and a FEW-GIANT-KEYS input
    // (3 multi-day trips) pins every per-run buffer to #keys tasks.
    // Cheap callers (q18's flag runs) keep the exchange-free shape.
    val spread = if (spreadAgg)
      Fanout.spreadByKeys(runs, partCols :+ col("_run_id")) else runs
    spread
      .groupBy(partCols :+ col("_run_id"): _*)
      .agg(base.head, base.tail: _*)
      .drop("_run_id")
  }
}
