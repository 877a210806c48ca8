package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset snapshot auditing — the pipeline-versioning face of the engine:
  * a training corpus is rebuilt (new crawl, changed filters, re-mixed
  * sources) and the operator answers "what actually changed?" row-exactly,
  * not by eyeballing counts. The unit of comparison is a KEYED row with a
  * deterministic content hash ([[graft.functions.TextHash.polyHash]] over
  * a canonical field concatenation), so the diff is engine-reproducible
  * and cheap to recompute incrementally.
  *
  * Scale shape: one full-outer sort-merge join on the key — both sides
  * shuffle once on the same partitioning, no broadcast assumption (both
  * snapshots are corpus-sized). Hash computation is map-side, so the
  * shuffled payload is (key, 8-byte hash), never the content columns —
  * at 100 TB the diff moves ~1% of the data it audits. */
object AuditOps {

  /** Canonical content rendering of `cols` in order: the chr(1) unit-
    * separator joined string form, so adjacent fields cannot collide by
    * concatenation. NULL fields render as the chr(0) sentinel BEFORE the
    * join — `concat_ws` silently skips NULL arguments (Spark and DuckDB
    * alike), so without the sentinel (text='a\u0001b', source=NULL) and
    * (text='a', source='b') would render identically, and a value hopping
    * between columns past a NULL would read as 'unchanged' in a row-exact
    * audit. chr(0) cannot occur in sane text content; a field actually
    * containing a lone NUL is the one remaining (documented) collision
    * with NULL. Callers pick STRING-RENDERABLE columns (strings,
    * integers) — float rendering is not cross-engine canonical and has
    * no business in an identity hash. */
  def contentHash(cols: Seq[Column]): Column =
    concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)

  /** Row-exact diff of two keyed snapshots: for every key present in
    * either side, `(key, status, before_hash, after_hash)` with status ∈
    * added | removed | changed | unchanged. `content` maps a snapshot to
    * its (key, content-columns) projection — both sides go through the
    * SAME projection, so a schema drift between snapshots is a compile
    * error here, not a silent miscompare. */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: Column,
      content: Seq[Column], keyName: String = "key"): DataFrame = {
    val hashes = graft.functions.HashExpressions
    def side(df: DataFrame, n: String) = df.select(key.as(keyName),
      hashes.polyHash(contentHash(content)).as(s"${n}_hash"))
    side(before, "before").join(side(after, "after"), Seq(keyName), "full_outer")
      .select(col(keyName),
        when(col("before_hash").isNull, lit("added"))
          .when(col("after_hash").isNull, lit("removed"))
          .when(col("before_hash") =!= col("after_hash"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("before_hash"), col("after_hash"))
  }

  /** Per-status row counts of a [[snapshotDiff]] — the one-line audit
    * summary (and the cheap gate a pipeline asserts on before promoting a
    * rebuilt corpus: e.g. `removed = 0` for an append-only source). */
  def snapshotDiffSummary(diff: DataFrame): DataFrame =
    diff.groupBy("status").agg(count(lit(1)).as("n"))

  /** The persisted side of an INCREMENTAL audit: `(key, snapshot_hash)`
    * over a snapshot — write it once per corpus rebuild (8 bytes + key
    * per row, ~1% of the data it summarizes) and every later delta is
    * classified against it without touching the snapshot's content
    * columns again. Same canonicalization and hash as [[snapshotDiff]],
    * so an index-then-delta audit and a full two-sided diff can never
    * disagree about what "same content" means. */
  def snapshotHashIndex(snapshot: DataFrame, key: Column,
      content: Seq[Column], keyName: String = "key"): DataFrame = {
    val hashes = graft.functions.HashExpressions
    snapshot.select(key.as(keyName),
      hashes.polyHash(contentHash(content)).as("snapshot_hash"))
  }

  /** Incremental face of [[snapshotDiff]]: classify an arriving DELTA
    * against a persisted [[snapshotHashIndex]] without recomputing the
    * snapshot side — the shape a continuously-rebuilt corpus runs
    * between full re-indexes (the incrementalDedup convention, for
    * auditing). Status ∈ added | changed | unchanged; `removed` is
    * definitionally out of scope — a delta cannot witness absence, that
    * classification belongs to the full [[snapshotDiff]] at re-index
    * time. One equi-join on the key: the delta hashes map-side (its
    * shuffled payload is `(key, 8-byte hash)`), the index side ships
    * nothing but what it stores. Output
    * `(key, status, snapshot_hash, delta_hash)` — hash columns kept so a
    * `changed` verdict is auditable and the post-audit index update is a
    * projection, not a recompute. */
  /** Apply a CDC changeset to a keyed snapshot — the MERGE INTO /
    * upsert-apply primitive of every table format (Delta/Iceberg-style
    * semantics, stated engine-neutrally): `changes` rows carry
    * `(key, seq, op ∈ upsert|delete, payload...)`; per key the change
    * with the HIGHEST `seq` wins, and on an exact seq tie `delete` beats
    * `upsert` (op ascending — the conservative resolution, documented
    * contract, deterministic). Two upserts sharing (key, seq) with
    * DIFFERENT payloads tiebreak on the canonical payload rendering
    * ([[contentHash]], ascending) — row_number over (seq, op) alone
    * would pick an arbitrary winner, and [[graft.streaming.Streaming
    * .cdcApplySink]]'s replay-convergence claim ("re-processing batch N
    * overwrites v=N with identical content") requires the apply to be a
    * pure function of the changeset's VALUES. The result is the next snapshot: rows
    * whose key saw no winning change pass through untouched, winning
    * upserts replace (or insert) their key's row, winning deletes remove
    * it. Payload columns must match the snapshot's schema — a drift is a
    * compile/analysis error here, not a silent column loss.
    *
    * Scale shape: the winner resolution is one window over the CHANGESET
    * (delta-sized — a changeset is ≪ the snapshot by definition of CDC);
    * the snapshot itself never shuffles — it flows through one LEFT ANTI
    * join on the winners' key set, which AQE turns into a broadcast for
    * any sanely-sized delta, then a union with the winning upsert
    * payloads. At 100 TB: O(snapshot) scan + broadcast probe, zero
    * snapshot shuffle, zero snapshot rewrite amplification beyond the
    * touched keys. */
  def applyChangeSet(snapshot: DataFrame, changes: DataFrame,
      keyName: String, seqName: String = "seq",
      opName: String = "op"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = snapshot.columns.toSeq
    val w = Window.partitionBy(keyName)
      .orderBy(col(seqName).desc, col(opName).asc,
        contentHash(payload.map(col)).asc)
    val winners = changes
      .withColumn("_rk", row_number().over(w)).where(col("_rk") === 1)
    snapshot.join(winners.select(keyName), Seq(keyName), "left_anti")
      .unionByName(winners.where(col(opName) === "upsert")
        .select(payload.map(col): _*))
  }

  def snapshotDeltaAudit(delta: DataFrame, snapshotIndex: DataFrame,
      key: Column, content: Seq[Column], keyName: String = "key"): DataFrame = {
    val hashes = graft.functions.HashExpressions
    delta.select(key.as(keyName),
        hashes.polyHash(contentHash(content)).as("delta_hash"))
      .join(snapshotIndex.select(col(keyName), col("snapshot_hash")),
        Seq(keyName), "left")
      .select(col(keyName),
        when(col("snapshot_hash").isNull, lit("added"))
          .when(col("snapshot_hash") =!= col("delta_hash"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("snapshot_hash"), col("delta_hash"))
  }
}
