package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextHash

/** Cross-document exact-substring deduplication — the "ExactSubstr" method
  * of Lee et al., "Deduplicating Training Data Makes Language Models
  * Better" (ACL 2022): any word span duplicated VERBATIM across documents
  * (boilerplate, licenses, syndicated paragraphs) is located as a maximal
  * run of duplicated k-grams and removed, keeping one canonical occurrence
  * corpus-wide.
  *
  * Lee et al. build a suffix array over the concatenated corpus — a
  * sequential construction that does not distribute. The Spark-native
  * equivalent anchors on word k-grams: a substring of ≥ k words duplicated
  * across docs duplicates ALL its k-grams, so (1) hash every k-gram with
  * its position, (2) keep hashes seen in ≥ `minDf` distinct docs (one
  * word-level aggregation — the same shape as every shingle pipeline
  * here), (3) per doc, merge adjacent duplicated positions into maximal
  * spans with a gaps-and-islands window over ONLY the duplicated
  * positions. No self-join, no per-pair state; the heavy frames are the
  * corpus token table and the gram-vocabulary aggregate, both linear in
  * corpus size. Spans shorter than k words are invisible by construction
  * (the standard k-gram-anchored tradeoff; Lee et al. use 50-token
  * thresholds at corpus scale).
  *
  * The canonical-copy rule is deterministic: the doc with the smallest id
  * containing a gram keeps it; every other doc's occurrence is removable.
  */
object SpanDedupOps {

  /** Word positions are 1-based (SQL `generate_series` parity). Emits one
    * row per (doc, position) k-gram: `(did, pos, h, glen)` — the hash AND
    * the gram's char length; docs shorter than `k` words emit nothing.
    *
    * Gram IDENTITY downstream is the composite (h, glen) — the
    * q41/exact_dup (fp, fp_len) convention (r14 verdict item 8): the
    * dedup rewrite DROPS words on this key with no verify pass, and the
    * bare ~2^30 polynomial hash collides at ~n²/2P pairs — a certainty at
    * corpus scale (10¹² grams), each one a false "duplicated" span in an
    * innocent doc. The length component is free in both engines
    * (DuckDB replays `length(...)`) and removes every unequal-length
    * collision; same-length collisions remain the inherent residue
    * (SpanDedupSpec pins both sides of that line). Winnowing
    * ([[WinnowOps.fingerprints]]) deliberately keys on `h` alone — there
    * a collision only perturbs a SELECTION estimate that q154's df cap +
    * Jaccard verify bound, never a drop. */
  private[operators] def gramTable(docs: DataFrame, id: Column,
      text: Column, k: Int): DataFrame = {
    // one codegen'd scan per doc emits (h, glen) pairs directly — the
    // compositional form (transform + concat_ws + polyHash + length)
    // built every gram STRING twice per position, measured +45-60% on
    // q151/q152 when the r15 length leg first landed that way
    docs.select(id.as("did"), posexplode(
        graft.functions.HashExpressions.gramHashLens(text, k))
      .as(Seq("p0", "g")))
      .select(col("did"), (col("p0") + 1).as("pos"),
        col("g.h").as("h"), col("g.glen").as("glen"))
  }

  /** Maximal cross-document duplicated spans per doc: every maximal run of
    * positions whose k-gram occurs in ≥ `minDf` distinct docs. Returns
    * `(did, span_start, span_end, span_len, n_grams, max_df)` with word
    * positions 1-based inclusive. */
  def crossDocSpans(docs: DataFrame, id: Column, text: Column,
      k: Int = 3, minDf: Int = 2): DataFrame = {
    val grams = gramTable(docs, id, text, k)
    val dup = grams.groupBy("h", "glen")
      .agg(countDistinct(col("did")).as("df"))
      .where(col("df") >= minDf)
    val dupPos = grams.join(dup, Seq("h", "glen"))
    val island = col("pos") -
      row_number().over(Window.partitionBy(col("did")).orderBy(col("pos")))
    dupPos.withColumn("island", island)
      .groupBy("did", "island")
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"),
        max(col("df")).as("max_df"))
      .select(col("did"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"),
        col("n_grams"), col("max_df"))
  }

  /** Removable word positions per doc under the canonical-copy rule: a
    * position is covered when one of the k-grams overlapping it is
    * duplicated AND this doc is not the gram's canonical (min-id) holder.
    * Returns `(did, pos)` expanded to word granularity. */
  private def dropPositions(docs: DataFrame, id: Column, text: Column,
      k: Int, minDf: Int): DataFrame = {
    val grams = gramTable(docs, id, text, k)
    val dup = grams.groupBy("h", "glen").agg(
      countDistinct(col("did")).as("df"),
      min(col("did")).as("canon"))
      .where(col("df") >= minDf)
    grams.join(dup, Seq("h", "glen"))
      .where(col("did") =!= col("canon"))
      .select(col("did"), explode(
        sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
  }

  /** Cross-document dedup: rewrite each doc with its non-canonical
    * duplicated spans removed (word-granular), keeping exactly the
    * canonical min-id occurrence of every duplicated substring. Returns
    * `(did, text_clean, n_words, n_dropped)`. */
  def crossDocDedup(docs: DataFrame, id: Column, text: Column,
      k: Int = 3, minDf: Int = 2): DataFrame = {
    val drops = dropPositions(docs, id, text, k, minDf)
      .groupBy("did").agg(collect_list(col("pos")).as("drops"))
    docs.select(id.as("did"), split(text, " ").as("ws"))
      .join(drops, Seq("did"), "left")
      .select(
        col("did"),
        concat_ws(" ", filter(col("ws"),
          (_, i) => coalesce(not(array_contains(col("drops"), i + 1)),
            lit(true)))).as("text_clean"),
        size(col("ws")).cast("long").as("n_words"),
        coalesce(size(col("drops")), lit(0)).cast("long").as("n_dropped"))
  }

  /** Frozen k-gram index of a corpus for ingest screening: the distinct
    * gram hashes with their document frequency and canonical (min-id)
    * holder. An ARRIVAL whose grams hit this index duplicates corpus
    * content — the stream-static side of
    * [[graft.streaming.Streaming.crossDocScreenStream]]. Gram-vocabulary
    * sized (linear scan output, one aggregation). */
  def gramIndex(docs: DataFrame, id: Column, text: Column, k: Int = 3)
      : DataFrame =
    gramTable(docs, id, text, k).groupBy("h", "glen").agg(
      countDistinct(col("did")).as("df"),
      min(col("did")).as("canon"))

  /** Incremental maintenance of the frozen [[gramIndex]] — the
    * bm25StatsUpdate treatment applied to the cross-doc screen's static
    * side, so a long-running ingest stream's gram screen does not
    * silently age: per-gram `df` is a count over distinct docs and
    * `canon` a min over doc ids, and BOTH merge exactly for a disjoint
    * delta (PRECONDITION, the incrementalDedup convention: delta doc
    * ids are NEW — a re-crawl of existing ids goes through CDC apply
    * and a re-stat, not this fold). One full-outer hash-keyed merge of
    * two gram-vocabulary-sized frames — never touches the old corpus.
    * Invariant: `update(index(A), B) ≡ index(A ∪ B)`; q168's oracle
    * replays `index(A ∪ B)` in SQL, so the invariant IS the driver
    * gate (the q145 brute-force-oracle convention). */
  def gramIndexUpdate(prev: DataFrame, delta: DataFrame, id: Column,
      text: Column, k: Int = 3): DataFrame = {
    val d = gramIndex(delta, id, text, k)
    prev.select(col("h"), col("glen"), col("df").as("_da"),
        col("canon").as("_ca"))
      .join(d.select(col("h"), col("glen"), col("df").as("_db"),
          col("canon").as("_cb")),
        Seq("h", "glen"), "full_outer")
      .select(col("h"), col("glen"),
        (coalesce(col("_da"), lit(0L)) + coalesce(col("_db"), lit(0L)))
          .as("df"),
        least(col("_ca"), col("_cb")).as("canon")) // least skips NULLs
  }

  /** DuckDB oracle fragment mirroring [[gramTable]] over a table exposing
    * `did` and `ws = string_split(text, ' ')`: one row per full-width
    * k-gram with 1-based `pos` and the shared polynomial hash. */
  def gramCteSql(k: Int, table: String): String =
    s"""SELECT did, i AS pos,
       |  ${TextHash.polyHashSql(s"array_to_string(ws[i:i+${k - 1}], ' ')")} AS h,
       |  CAST(length(array_to_string(ws[i:i+${k - 1}], ' ')) AS BIGINT) AS glen
       |FROM $table, UNNEST(generate_series(1, len(ws) - ${k - 1})) AS t(i)
       |WHERE len(ws) >= $k""".stripMargin
}
