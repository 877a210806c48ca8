package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — the third member of the subword triad
  * (BPE = [[BpeOps]], Unigram-LM = [[UnigramOps]]): the BERT-family
  * vocabulary (Schuster & Nakajima, ICASSP 2012; Devlin et al. 2019 §A;
  * the trainer formulation below is the public HuggingFace-tokenizers
  * one — "BPE with a likelihood score").
  *
  * FIT: identical loop shape to [[BpeOps.bpeLearn]] — the corpus is
  * touched ONCE (the word-frequency aggregate); every iteration is
  * vocab-scale — but the argmax criterion is
  * `score(l, r) = count(lr) / (count(l) · count(r))` instead of the raw
  * pair count: merging is driven by pointwise mutual information, so a
  * pair of already-frequent symbols must co-occur far beyond chance to
  * win a slot. Counts are exact longs and the score is one double
  * division of exact longs — bit-identical on any partitioning — with
  * (score desc, left, right) as the total deterministic order.
  *
  * Symbols carry the continuation marker from the start (the WordPiece
  * convention): "abc" symbolizes to ["a", "##b", "##c"]; merging
  * ("a", "##b") mints "ab", merging ("##b", "##c") mints "##bc" — the
  * marker survives on pieces that cannot start a word.
  *
  * APPLY: greedy longest-match-first (MaxMatch) against the FROZEN
  * vocabulary — per position take the LONGEST vocabulary piece that
  * matches (continuation form after the first), emit `[UNK]` for the
  * whole word when any position has no match or the word exceeds
  * [[MaxWordChars]] code points (the published WordPieceTokenizer
  * contract). Row-local, zero shuffle, vocabulary as DATA inside one
  * codegen'd expression ([[graft.functions.WordPieceEncode]], the
  * [[graft.functions.BpeEncode]] pattern) — and, unlike the iterative
  * fits, REPLAYABLE in SQL: a frozen VALUES vocabulary + a recursive
  * longest-match cursor, so the apply face is fully oracle-checkable
  * (q189) where q107/q140's fits are rows-only. */
object WordPieceOps {

  /** Continuation marker on non-initial pieces (the BERT `##`). */
  val Continuation = "##"

  /** Whole-word fallback token. */
  val Unk = "[UNK]"

  /** Words longer than this many code points tokenize to `[UNK]`
    * outright (the public WordPieceTokenizer `max_input_chars_per_word`
    * default — a 10k-char "word" is markup damage, and the quadratic
    * per-word match cost needs a bound). */
  val MaxWordChars = 100

  /** A word as WordPiece start symbols: first code point raw, the rest
    * `##`-prefixed. */
  def toWpSymbols(word: Column): Column = {
    val chars = filter(split(word, ""), s => s =!= "")
    zip_with(chars, sequence(lit(1), size(chars)),
      (c, i) => when(i === 1, c).otherwise(concat(lit(Continuation), c)))
  }

  /** Greedy left-to-right non-overlapping rewrite of one (left, right)
    * adjacency into `merged` — [[BpeOps.mergePair]] with the minted
    * symbol explicit, because WordPiece's merged piece strips the
    * right's continuation marker rather than concatenating verbatim. */
  def mergePairInto(syms: Column, left: String, right: String,
      merged: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, t) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(left) && t === lit(right),
        concat(slice(acc, lit(1), size(acc) - lit(1)),
          array(lit(merged))))
        .otherwise(concat(acc, array(t))))

  /** The piece a (left, right) merge mints. */
  def mintPiece(left: String, right: String): String =
    left + right.stripPrefix(Continuation)

  /** Learn `numMerges` WordPiece merges over a [[BpeOps.wordFreqs]]
    * frame. Returns `(rank, left, right, piece, pair_count, score)` in
    * learn order; stops early when no pair reaches `minPairCount`
    * occurrences (a score over sub-noise counts is meaningless).
    * Per iteration: ONE pair-count aggregation + ONE symbol-count
    * aggregation joined onto it (all vocab-scale), a deterministic 1-row
    * argmax, and the row-local rewrite — the [[BpeOps.bpeLearn]]
    * per-iteration localCheckpoint lifecycle throughout. */
  def wpLearn(freqs: DataFrame, numMerges: Int,
      minPairCount: Long = 2L): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = freqs.sparkSession
    import spark.implicits._
    // r19 size gate (the bpeLearn/LocalEdgeCap discipline): a
    // word-frequency table under [[BpeOps.LocalVocabCap]] rows is
    // symbolized DISTRIBUTED ([[toWpSymbols]] — the same expression the
    // rounds below explode), collected once, and solved driver-side via
    // [[localWpMergeLoop]] — bit-identical merges (the WordPieceSpec
    // sampled≡distributed parity pin) for one vocab-scale job instead of
    // numMerges sequential cluster rounds. Above the cap the distributed
    // loop runs untouched; SPARK_GRAFT_NO_LOCALFIT=1 forces it.
    if (!BpeOps.NoLocalFit) {
      val probe = freqs
        .select(toWpSymbols(col("word")).as("toks"), col("freq").cast("long"))
        .limit(BpeOps.LocalVocabCap + 1).collect()
      if (probe.length <= BpeOps.LocalVocabCap) {
        val words = probe.filterNot(_.isNullAt(0))
          .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
        return localWpMergeLoop(words, numMerges, minPairCount)
          .toDF("rank", "left", "right", "piece", "pair_count", "score")
      }
    }
    def freeCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    var words = freqs.repartition(4)
      .select(toWpSymbols(col("word")).as("toks"), col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Double)]
    try {
      var done = false
      var rank = 0L
      while (!done && rank < numMerges) {
        val syms = words
          .select(explode(col("toks")).as("s"), col("freq"))
          .groupBy("s").agg(sum(col("freq")).as("c"))
        val best = words
          .select(explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - lit(1)),
            slice(col("toks"), lit(2), size(col("toks")) - lit(1)),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("freq"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("n"))
          .where(col("n") >= minPairCount)
          .join(syms.select(col("s").as("l"), col("c").as("cl")), "l")
          .join(syms.select(col("s").as("r"), col("c").as("cr")), "r")
          // exact longs in, one double division out: the score is
          // bit-deterministic on any partitioning, and (score, l, r)
          // is a total order
          .select(col("l"), col("r"), col("n"),
            (col("n").cast("double") /
              (col("cl").cast("double") * col("cr").cast("double")))
              .as("score"))
          .orderBy(col("score").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val (l, r, n, sc) = (best.head.getString(0), best.head.getString(1),
            best.head.getLong(2), best.head.getDouble(3))
          val piece = mintPiece(l, r)
          merges += ((rank, l, r, piece, n, sc))
          val next = words
            .select(mergePairInto(col("toks"), l, r, piece).as("toks"),
              col("freq")).localCheckpoint(true)
          freeCheckpoint(words)
          words = next
          rank += 1
        }
      }
    } finally freeCheckpoint(words)
    merges.toSeq.toDF("rank", "left", "right", "piece", "pair_count", "score")
  }

  /** PRODUCTION-SCALE WordPiece fit — [[graft.operators.BpeOps
    * .bpeLearnSampled]]'s shape for the likelihood-scored family: cap
    * the word-frequency table to its `maxWords` highest-frequency rows
    * (freq desc, word asc), collect ONCE, and run the merge loop
    * driver-side. Per iteration the local loop computes the SAME two
    * aggregates [[wpLearn]] distributes (occurrence-weighted symbol
    * counts and adjacency pair counts), the same
    * `n / (count(l) · count(r))` double score off exact longs, the
    * same (score desc, left, right) UTF8-binary argmax, and the same
    * greedy rewrite minting [[mintPiece]] — so
    * `wpLearnSampled(freqs, n, maxWords ≥ |freqs|)` ≡
    * `wpLearn(freqs, n)` exactly (the WordPieceSpec parity pin). The
    * corpus is touched only by the word-frequency aggregation; a 32k
    * vocabulary costs 32k LOCAL iterations instead of 32k sequential
    * distributed rounds. */
  def wpLearnSampled(freqs: DataFrame, numMerges: Int,
      maxWords: Int = 1 << 16, minPairCount: Long = 2L): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = freqs.sparkSession
    import spark.implicits._
    val top = freqs.orderBy(col("freq").desc, col("word"))
      .limit(maxWords)
      .select(col("word").cast("string"), col("freq").cast("long"))
      .as[(String, Long)].collect()
    val words = top.map { case (w, f) => (localWpSymbols(w), f) }
    localWpMergeLoop(words, numMerges, minPairCount)
      .toDF("rank", "left", "right", "piece", "pair_count", "score")
  }

  /** The driver-side WordPiece merge loop (shared by [[wpLearnSampled]]
    * and [[wpLearn]]'s size gate): per iteration one occurrence-weighted
    * symbol-count + adjacency pair-count pass, the
    * `n / (count(l)·count(r))` double score off exact longs, the
    * (score desc, left, right) UTF8-binary argmax, and the greedy
    * non-overlapping rewrite — exactly the aggregates the distributed
    * rounds compute (the WordPieceSpec parity pin). */
  private def localWpMergeLoop(words0: Array[(Array[String], Long)],
      numMerges: Int, minPairCount: Long)
      : Seq[(Long, String, String, String, Long, Double)] = {
    var words = words0
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Double)]
    var rank = 0L
    var done = false
    while (!done && rank < numMerges) {
      val symC = scala.collection.mutable.HashMap.empty[String, Long]
      val pairC =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (s, f) =>
        var i = 0
        while (i < s.length) {
          symC.update(s(i), symC.getOrElse(s(i), 0L) + f)
          if (i + 1 < s.length) {
            val p = (s(i), s(i + 1))
            pairC.update(p, pairC.getOrElse(p, 0L) + f)
          }
          i += 1
        }
      }
      var bestP: (String, String) = null
      var bestN = 0L
      var bestS = 0.0
      pairC.foreach { case (p, n) =>
        if (n >= minPairCount) {
          val sc = n.toDouble / (symC(p._1).toDouble * symC(p._2).toDouble)
          if (bestP == null || sc > bestS ||
              (sc == bestS && (graft.operators.BpeOps.utf8Lt(p._1, bestP._1)
                || (p._1 == bestP._1 &&
                  graft.operators.BpeOps.utf8Lt(p._2, bestP._2)))))
            { bestP = p; bestN = n; bestS = sc }
        }
      }
      if (bestP == null) done = true
      else {
        val piece = mintPiece(bestP._1, bestP._2)
        out += ((rank, bestP._1, bestP._2, piece, bestN, bestS))
        words = words.map { case (s, f) =>
          (graft.operators.BpeOps.rewriteLocal(s, bestP._1, bestP._2,
            piece), f) }
        rank += 1
      }
    }
    out.toSeq
  }

  /** [[toWpSymbols]] on a driver-side string (code-unit split, first
    * raw, rest `##`-marked). */
  private def localWpSymbols(w: String): Array[String] =
    w.toArray.zipWithIndex.map { case (c, i) =>
      if (i == 0) c.toString else Continuation + c }

  /** The apply vocabulary: every INITIAL symbol of the fit input (all
    * single code points, raw and `##`-marked — so any fit-corpus word
    * can always fall back to characters) plus every minted piece.
    * One vocab-scale aggregation; `(piece)` rows. */
  def wpVocab(freqs: DataFrame, merges: DataFrame): DataFrame =
    freqs.select(explode(toWpSymbols(col("word"))).as("piece")).distinct()
      .unionByName(merges.select(col("piece"))).distinct()

  /** Per-doc greedy longest-match tokenization under a FROZEN vocabulary
    * (collected — vocab-sized by construction, the merge-table
    * convention): `(doc_id, tokens, n_tokens, n_unk)` with `n_unk` the
    * count of whole-word `[UNK]` fallbacks — the vocabulary-coverage
    * signal a tokenizer rollout is gated on. */
  def wordPieceTokenize(docs: DataFrame, id: Column, text: Column,
      vocab: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordPieceTokenizePieces(docs, id, text,
      vocab.select(col("piece").cast("string")).as[String].collect().toSeq)
  }

  /** Per-group WordPiece fertility / vocabulary-coverage audit — the
    * [[BpeOps.tokenizerFertility]] table for the WordPiece family, plus
    * the column BPE cannot have: the whole-word `[UNK]` rate. Per
    * `group` (language, source): doc/word/token counts, `fertility` =
    * tokens per word, and `unk_word_frac` — a language whose words keep
    * falling to `[UNK]` is NOT COVERED by the fitted vocabulary at all
    * (stronger signal than high fertility), the re-fit trigger for a
    * multilingual rollout. One row-local compiled-encode pass + one
    * group-sized aggregation; ratios are doubles off exact long sums,
    * rounded 1e-6. */
  def wordPieceFertility(docs: DataFrame, id: Column, text: Column,
      group: Column, vocab: Seq[String]): DataFrame = {
    val toks = graft.functions.WordPieceExpressions.wordPieceEncode(text, vocab)
    val words = filter(split(text, " "), w => length(w) > 0)
    docs
      .select(group.as("grp"),
        size(words).cast("long").as("_w"),
        size(toks).cast("long").as("_t"),
        size(filter(toks, t => t === Unk)).cast("long").as("_u"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_w")).as("n_words"),
        sum(col("_t")).as("n_tokens"), sum(col("_u")).as("n_unk_words"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          round(col("n_tokens").cast("double") / col("n_words"), 6)))
      .withColumn("unk_word_frac",
        when(col("n_words") > 0,
          round(col("n_unk_words").cast("double") / col("n_words"), 6)))
  }

  /** Tokenizer-vocabulary drift — the refit trigger the FROZEN
    * WordPiece vocabulary owes under the standing every-frozen-model
    * rule (NB→confusionDrift, KN→knCountsUpdate, logistic→q191, …):
    * [[wordPieceFertility]] over the acceptance BASELINE corpus versus
    * an arrivals batch, reduced per group to the two rollout gates —
    * fertility inflation (words shattering into more subwords: the
    * vocabulary no longer fits the distribution) and the whole-word
    * `[UNK]` rate delta (the hard coverage failure). A group fires
    * `needs_refit` when either gate trips or when it appears/vanishes
    * between the two sides (the confusionDrift label rules). Group
    * cardinality throughout — one fertility aggregation per side, one
    * full-outer merge, no corpus re-scan beyond the two row-local
    * encode passes. */
  def wordPieceDrift(base: DataFrame, arrivals: DataFrame, id: Column,
      text: Column, group: Column, vocab: Seq[String],
      maxFertilityRatio: Double = 1.25,
      maxUnkDelta: Double = 0.05): DataFrame = {
    def side(df: DataFrame, s: String) =
      wordPieceFertility(df, id, text, group, vocab)
        .select(col("grp"), col("n_words").as(s"n_words_$s"),
          col("fertility").as(s"fertility_$s"),
          col("unk_word_frac").as(s"unk_frac_$s"))
    side(base, "base").join(side(arrivals, "new"), Seq("grp"), "full_outer")
      .withColumn("fertility_ratio",
        when(col("fertility_base") > 0,
          round(col("fertility_new") / col("fertility_base"), 6)))
      .withColumn("unk_delta",
        when(col("unk_frac_base").isNotNull && col("unk_frac_new").isNotNull,
          round(col("unk_frac_new") - col("unk_frac_base"), 6)))
      .withColumn("needs_refit",
        col("fertility_base").isNull || col("fertility_new").isNull ||
          col("fertility_ratio") > maxFertilityRatio ||
          col("unk_delta") > maxUnkDelta)
  }

  /** [[wordPieceTokenize]] over an already-collected piece list (the
    * frozen-vocabulary form the memoized registry and streams hold). */
  def wordPieceTokenizePieces(docs: DataFrame, id: Column, text: Column,
      vocab: Seq[String]): DataFrame = {
    val toks = graft.functions.WordPieceExpressions.wordPieceEncode(text, vocab)
    docs.select(id.as("doc_id"), toks.as("tokens"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t === Unk)).cast("long").as("n_unk"))
  }
}
