package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Native multi-line gate for [[TextOps.lineDedup]]: the sf corpus holds
  * no newlines, so the oracle-backed q73 derives a synthetic multi-line
  * frame — correct, but the operator was never gated on its actual input
  * shape. This spec pins hand-computed outputs over genuine multi-line
  * documents: per-doc line counts, drop-set membership by document
  * frequency (distinct docs, not occurrences), surgical kept-line
  * fingerprints, order preservation, and the all-dropped NULL convention. */
class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  private val banner = "(c) some corp all rights reserved"
  private val nav = "home | products | contact"

  // banner in docs 1,2,3,4 (df 4); nav in docs 2,3 (df 2); doc 2 contains
  // the banner TWICE (occurrences must not inflate df); doc 4 is
  // boilerplate-only; doc 5 is single-line clean (no newline at all)
  private lazy val docs = Seq(
    (1L, s"alpha opening line\n$banner\nalpha closing line"),
    (2L, s"$banner\nbeta body text\n$nav\n$banner"),
    (3L, s"$nav\ngamma unique paragraph\n$banner"),
    (4L, banner),
    (5L, "delta standalone document")).toDF("doc_id", "text")

  private def fp(text: String): Long = {
    Seq(text).toDF("t")
      .select(graft.functions.HashExpressions.polyHash(col("t")))
      .as[Long].head()
  }

  test("boilerplateLineSet counts DISTINCT docs and respects the threshold") {
    // the drop key is the composite (hash, length) — the exact_dup
    // (fp, fp_len) convention (r14 verdict item 8)
    val at2 = TextOps.boilerplateLineSet(docs, col("doc_id"), col("text"), 2)
      .as[(Long, Long)].collect().toSet
    assert(at2 == Set((fp(banner), banner.length.toLong),
      (fp(nav), nav.length.toLong)))
    // at maxDf=3 the nav line (df 2) is no longer boilerplate; doc 2's
    // double banner must not lift any df — only the banner qualifies
    val at3 = TextOps.boilerplateLineSet(docs, col("doc_id"), col("text"), 3)
      .as[(Long, Long)].collect().toSet
    assert(at3 == Set((fp(banner), banner.length.toLong)))
  }

  test("composite drop key: a cross-length hash collision cannot false-drop") {
    // 'ao' and 'మ' (U+0C2E) share polyHash 3118 but differ in length;
    // 'bP' collides at the SAME length — the documented residue. The
    // boilerplate line 'ao' (3 docs) must drop ONLY itself.
    assert(fp("ao") === fp("మ") && fp("ao") === fp("bP"))
    val coll = Seq(
      (1L, "ao\nkeep one"), (2L, "ao\nkeep two"), (3L, "ao\nkeep three"),
      (4L, "మ\nkeep four"),   // cross-length collision: survives
      (5L, "bP\nkeep five"))       // same-length collision: residue drop
      .toDF("doc_id", "text")
    val out = TextOps.lineDedup(coll, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    assert(out(4L) === 2L,
      "a different-length line colliding with boilerplate must survive")
    assert(out(5L) === 1L) // same-length collision: inherent hash residue
  }

  test("lineDedup on native multi-line docs: counts, order, NULL convention") {
    val out = TextOps.lineDedup(docs, col("doc_id"), col("text"), 2)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 2L,
      Some(fp("alpha opening line\nalpha closing line")))))
    // doc 2: both banner occurrences AND the nav line drop; kept lines
    // preserve original order
    assert(out(2L) == ((4L, 1L, Some(fp("beta body text")))))
    assert(out(3L) == ((3L, 1L, Some(fp("gamma unique paragraph")))))
    // all lines boilerplate -> zero kept, NULL fingerprint (not hash(""))
    assert(out(4L) == ((1L, 0L, None)))
    // no newline at all: one line, untouched, fingerprint = whole text
    assert(out(5L) == ((1L, 1L, Some(fp("delta standalone document")))))
  }

  test("lineDedup at maxDf=3 keeps the df-2 nav line") {
    val out = TextOps.lineDedup(docs, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(2L) == ((4L, 2L, Some(fp(s"beta body text\n$nav")))))
    assert(out(3L) == ((3L, 2L, Some(fp(s"$nav\ngamma unique paragraph")))))
    assert(out(4L) == ((1L, 0L, None)))
  }
}
