package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.UnigramExpressions

/** SentencePiece-style unigram-LM tokenizer (Kudo, ACL 2018 "Subword
  * Regularization" §3; the fit loop follows his §3.2 seed-then-prune EM
  * recipe). Together with [[BpeOps]] this completes the two production
  * subword-tokenizer families: BPE composes pieces bottom-up from merge
  * ranks, the unigram LM starts from an over-complete seed vocabulary
  * and PRUNES toward the target size under a probabilistic model — the
  * form behind SentencePiece's default and T5/ALBERT/XLNet vocabularies.
  *
  * Distributed shape (the q107/BPE discipline): ONE corpus pass builds
  * the word histogram; every EM iteration is a vocabulary-scale job over
  * that fixed frame — the Viterbi E-step runs inside the codegen'd
  * [[graft.functions.UnigramEncode]] expression with the current piece
  * table as broadcast-serialized DATA, expected counts are one
  * piece-keyed aggregation, and the M-step renormalizes a
  * driver-side table bounded by the seed size (the k-means/BPE
  * bounded-collect precedent). Unlike BPE's fit the iterating state is
  * only the PIECE TABLE, not a rewritten corpus frame, so no lineage
  * grows and no per-iteration checkpoint is needed: the histogram is
  * checkpointed once.
  *
  * Honest divergence from SentencePiece, documented: the E-step is hard
  * (Viterbi) EM — counts from the single best segmentation — not the
  * forward-backward expected counts of the reference implementation, and
  * pruning drops the lowest-count fraction rather than re-scoring each
  * piece's likelihood loss. Both choices trade a small fit-quality delta
  * for exact determinism (integer count sums; no float accumulation
  * order anywhere in the E-step), which is what makes the fit replayable
  * across partitionings and engines. Single-character pieces are never
  * pruned (any string stays segmentable — Kudo's character-coverage
  * floor). */
object UnigramOps {

  /** Longest seed piece — substrings above this length enter only via
    * nothing (they never enter); 6 covers the useful subword range while
    * bounding the seed explode at O(len·6) per unique word. */
  val MaxPieceLen = 6

  /** Word histogram `(word, freq)` — [[BpeOps.wordFreqs]], the one
    * corpus-sized pass of the whole fit. */
  def wordHistogram(docs: DataFrame, text: Column): DataFrame =
    BpeOps.wordFreqs(docs, text)

  /** All substrings of `word` with length 1..maxLen as an array column
    * (positions are 1-based for substr) — the seed explode, run over the
    * vocabulary-scale histogram, never the corpus. */
  private def allSubstrings(word: Column, maxLen: Int): Column =
    flatten(transform(sequence(lit(1), lit(maxLen)), len =>
      filter(
        transform(sequence(lit(1), greatest(length(word), lit(1))), i =>
          when(i + len - 1 <= length(word), word.substr(i, len))
            .otherwise(lit(null: String))),
        p => p.isNotNull)))

  /** Over-complete seed vocabulary: every substring of length ≤
    * [[MaxPieceLen]], weighted by word frequency × occurrences,
    * top-`seedSize` multi-char pieces by (count desc, piece asc) UNIONed
    * with every single character (the coverage floor). */
  private def seed(hist: DataFrame, seedSize: Int): DataFrame = {
    val pieceCnt = hist
      .select(col("freq"), explode(allSubstrings(col("word"),
        MaxPieceLen)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val top = pieceCnt.where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedSize)
    val chars = pieceCnt.where(length(col("piece")) === 1)
    chars.unionByName(top)
  }

  /** Fit the unigram-LM piece table: seed → `emIters` full-vocabulary
    * Viterbi-EM rounds → prune-EM cycles dropping the bottom
    * `pruneFrac` of multi-char pieces per cycle until ≤ `vocabSize`
    * pieces remain. Returns (piece, cnt, logp) where cnt is the final
    * Viterbi count under the last table and logp = round(ln(cnt/total),
    * 6) (pieces with zero final count — possible only for protected
    * single chars — price at [[graft.functions.UnigramExpressions
    * .UnkLogp]]). */
  def unigramFit(docs: DataFrame, text: Column, vocabSize: Int,
      seedSize: Int, emIters: Int = 2, pruneFrac: Double = 0.25)
      : DataFrame = {
    requireFitParams(vocabSize, seedSize, pruneFrac)
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = wordHistogram(docs, text).repartition(4).localCheckpoint(true)
    try {
      // driver-side table: (piece, cnt) — bounded by seedSize + charset
      val table0: Seq[(String, Long)] = seed(hist, seedSize)
        .as[(String, Long)].collect().toSeq
        .sortBy { case (p, c) => (-c, p) }

      /** One hard-EM round: Viterbi counts under the current table. */
      def eStep(t: Seq[(String, Long)]): Map[String, Long] =
        hist.select(col("freq"),
            explode(UnigramExpressions.unigramEncode(col("word"),
              logps(t))).as("piece"))
          .groupBy("piece").agg(sum("freq").as("cnt"))
          .as[(String, Long)].collect().toMap

      val table = fitLoop(table0, eStep, vocabSize, emIters, pruneFrac)
      val total = math.max(table.map(_._2).sum, 1L).toDouble
      table.map { case (p, c) =>
        (p, c, if (c <= 0) UnigramExpressions.UnkLogp
               else math.rint(math.log(c / total) * 1e6) / 1e6)
      }.toDF("piece", "cnt", "logp")
    } finally {
      hist.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  /** PRODUCTION-SCALE unigram fit (r17 verdict item 3 — the
    * [[BpeOps.bpeLearnSampled]] / SentencePiece shape, completing the
    * sampled-fit story for all four tokenizer families): the cluster
    * runs ONE corpus word-count aggregation plus one vocab-scale top-k
    * (freq desc, word asc — deterministic); the seed explode, every
    * Viterbi E-step, and the prune cycles then run DRIVER-SIDE over the
    * collected BOUNDED histogram. [[unigramFit]]'s distributed E-steps
    * are vocabulary-scale jobs (not a 100×-killer the way per-rank BPE
    * rounds were — the EM round count is small and fixed), but at a
    * real 10–20-cycle 32k-vocab fit the per-round scheduling still
    * dominates the vocab-sized work; SentencePiece itself fits over an
    * in-memory sentence sample. The head-capped histogram is the right
    * sample for the same reason as BPE's: substring counts and Viterbi
    * counts are freq-weighted, so tail words beyond rank maxWords move
    * any count by at most their (tiny) frequency.
    *
    * Exact-mirror contract (the BpeSpec:53 parity-pin discipline, and
    * the r17 lesson that driver-side fits must mirror Spark to the
    * byte): the local seed replays [[allSubstrings]]'s CODE-POINT
    * substring semantics (Spark `substr`/`length` count code points)
    * with the Spark top-k's UTF8-binary tie-break; the local E-step
    * calls the SAME [[graft.functions.UnigramEncode]] Viterbi the
    * distributed step ships (code-unit DP, longer-piece tie rule,
    * UnkLogp pricing); the shared [[fitLoop]]/[[logps]] drive both
    * fits, so `unigramFitSampled(…, maxWords ≥ |hist|)` ≡
    * `unigramFit(…)` exactly (UnigramSpec pin). Same
    * `(piece, cnt, logp)` frame. */
  def unigramFitSampled(docs: DataFrame, text: Column, vocabSize: Int,
      seedSize: Int, emIters: Int = 2, pruneFrac: Double = 0.25,
      maxWords: Int = 1 << 16): DataFrame = {
    requireFitParams(vocabSize, seedSize, pruneFrac)
    val spark = docs.sparkSession
    import spark.implicits._
    val hist: Array[(String, Long)] =
      wordHistogram(docs, text).orderBy(col("freq").desc, col("word"))
        .limit(maxWords)
        .select(col("word").cast("string"), col("freq").cast("long"))
        .as[(String, Long)].collect()

    def eStep(t: Seq[(String, Long)]): Map[String, Long] = {
      // the SAME compiled Viterbi the distributed E-step ships, run
      // in-process: piece table as data, code-unit DP, identical
      // tie-breaks — a fresh instance per round (the table changed)
      val enc = graft.functions.UnigramEncode(
        org.apache.spark.sql.catalyst.expressions.Literal(""), logps(t))
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      hist.foreach { case (w, f) =>
        enc.encodeWord(w).foreach { p =>
          counts.update(p, counts.getOrElse(p, 0L) + f)
        }
      }
      counts.toMap
    }

    val table = fitLoop(localSeed(hist, seedSize), eStep, vocabSize,
      emIters, pruneFrac)
    val total = math.max(table.map(_._2).sum, 1L).toDouble
    table.map { case (p, c) =>
      (p, c, if (c <= 0) UnigramExpressions.UnkLogp
             else math.rint(math.log(c / total) * 1e6) / 1e6)
    }.toDF("piece", "cnt", "logp")
  }

  private def requireFitParams(vocabSize: Int, seedSize: Int,
      pruneFrac: Double): Unit = {
    require(vocabSize > 0 && seedSize >= vocabSize,
      s"need seedSize >= vocabSize > 0, got seed=$seedSize vocab=$vocabSize")
    require(pruneFrac > 0 && pruneFrac < 1,
      s"pruneFrac must be in (0,1), got $pruneFrac")
  }

  /** Piece log-probs under integer counts — shared by both fits and
    * both E-step forms (unrounded here; rounding happens once, in the
    * returned frame). */
  private def logps(t: Seq[(String, Long)]): Seq[(String, Double)] = {
    val total = math.max(t.map(_._2).sum, 1L).toDouble
    t.map { case (p, c) =>
      (p, if (c <= 0) UnigramExpressions.UnkLogp
          else math.log(c / total))
    }
  }

  /** The driver-side fit loop shared VERBATIM by [[unigramFit]] and
    * [[unigramFitSampled]] (only the E-step differs): `emIters` full
    * hard-EM rounds, then prune cycles dropping the lowest-count
    * multi-char pieces (count asc, piece asc — deterministic; single
    * chars are the never-pruned coverage floor) until ≤ `vocabSize`
    * pieces remain. */
  private def fitLoop(table0: Seq[(String, Long)],
      eStep: Seq[(String, Long)] => Map[String, Long],
      vocabSize: Int, emIters: Int, pruneFrac: Double)
      : Seq[(String, Long)] = {
    def mStep(t: Seq[(String, Long)], counts: Map[String, Long])
        : Seq[(String, Long)] =
      t.map { case (p, _) => (p, counts.getOrElse(p, 0L)) }
    var table = table0
    var it = 0
    while (it < emIters) { table = mStep(table, eStep(table)); it += 1 }
    var prunable = true
    while (prunable && table.size > vocabSize) {
      val multi = table.filter(_._1.length > 1)
      if (multi.isEmpty) prunable = false // charset floor: cannot shrink
      else {
        val nChars = table.size - multi.size
        val target = math.max(vocabSize - nChars, 0)
        val dropN = math.max(
          multi.size - math.max(target,
            (multi.size * (1 - pruneFrac)).toInt), 1)
        val dropped = multi.sortBy { case (p, c) => (c, p) }
          .take(dropN).map(_._1).toSet
        table = table.filterNot { case (p, _) => dropped(p) }
        table = mStep(table, eStep(table))
      }
    }
    table
  }

  /** [[seed]]'s exact local mirror over a collected histogram: the
    * substring explode by CODE POINTS (Spark `substr`/`length`
    * semantics — a surrogate pair is ONE position), the multi-char
    * top-`seedSize` by (cnt desc, piece asc) in UTF8-BINARY order
    * (Spark's orderBy collation, NOT Java compareTo — they differ on
    * supplementary characters), all single chars kept, and the final
    * driver-side (-cnt, piece) Java-order sort [[unigramFit]] applies
    * after its collect. */
  private[operators] def localSeed(hist: Array[(String, Long)],
      seedSize: Int): Seq[(String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    hist.foreach { case (w, f) =>
      val cps = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        cps += w.substring(i, i + n)
        i += n
      }
      var len = 1
      while (len <= MaxPieceLen) {
        var j = 0
        while (j + len <= cps.length) {
          val piece = cps.slice(j, j + len).mkString
          counts.update(piece, counts.getOrElse(piece, 0L) + f)
          j += 1
        }
        len += 1
      }
    }
    def cpLen(p: String): Int = p.codePointCount(0, p.length)
    val (chars, multi) = counts.toSeq.partition { case (p, _) => cpLen(p) == 1 }
    val top = multi.sortWith { case ((p1, c1), (p2, c2)) =>
      if (c1 != c2) c1 > c2 else BpeOps.utf8Lt(p1, p2)
    }.take(seedSize)
    (chars ++ top).sortBy { case (p, c) => (-c, p) }
  }

  /** Tokenize `text` under a FITTED frozen piece table — the corpus-
    * scale apply path: one codegen'd [[graft.functions.UnigramEncode]]
    * per row, table as data, O(len · maxPieceLen) probes per word.
    * Output (doc_id, n_pieces, pieces_fp, lm_logp) — count, polynomial
    * fingerprint of the piece stream, and the segmentation's unigram-LM
    * log-probability (the per-doc tokenizer-fit quality signal; DECIMAL
    * sum of 1e-6-rounded piece logps, order-exact). */
  def unigramTokenize(docs: DataFrame, id: Column, text: Column,
      pieces: Seq[(String, Double)]): DataFrame = {
    val lpMap = typedlit(pieces.map { case (p, lp) =>
      (p, math.rint(lp * 1e6) / 1e6) }.toMap)
    val enc = UnigramExpressions.unigramEncode(text, pieces)
    docs.select(id.as("doc_id"), enc.as("_ps"))
      .select(col("doc_id"),
        size(col("_ps")).cast("long").as("n_pieces"),
        graft.functions.HashExpressions
          .polyHash(array_join(col("_ps"), " ")).as("pieces_fp"),
        aggregate(col("_ps"), lit(BigDecimal(0)).cast("decimal(28,6)"),
          (acc, p) => (acc + coalesce(lpMap(p),
            lit(UnigramExpressions.UnkLogp)).cast("decimal(28,6)"))
            .cast("decimal(28,6)"))
          .cast("double").as("lm_logp"))
  }
}
