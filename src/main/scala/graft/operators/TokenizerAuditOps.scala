package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer round-trip audit — the standard pre-ship gate none of the
  * fertility/coverage faces (q128/q194/q197) asserts directly: does
  * `decode(encode(text))` reconstitute the text, and where it cannot
  * (WordPiece's whole-word `[UNK]` collapse), how large is the loss per
  * group? BPE (tokens concatenate to word + `</w>`), byte-level BPE
  * (tokens un-hex to the word's UTF-8 octets) and the unigram-LM
  * Viterbi (pieces partition the word) are lossless BY CONSTRUCTION —
  * this face proves it computationally rather than assuming it, the
  * same way q193 proves generalization instead of reporting train-set
  * accuracy. (Public convention: the `decode(encode(x)) == x`
  * invariant every production tokenizer README documents; WordPiece's
  * UNK loss is why BERT pipelines track `unk_token` rates.)
  *
  * Scale shape: four row-local compiled-encode passes over one corpus
  * scan each (the per-word compare is a HOF filter inside the same
  * projection — no join, no shuffle beyond the group-cardinality
  * aggregation), unioned into a (4 × groups)-row frame. */
object TokenizerAuditOps {

  /** Per-(tokenizer, group) identity table: docs, lossless docs, words,
    * lossy words, and the lossy-word fraction. A lossy word is one
    * whose per-word decode differs from the word itself. */
  def roundTrip(docs: DataFrame, id: Column, text: Column, group: Column,
      bpeMerges: Seq[(String, String)],
      byteMerges: Seq[(String, String)],
      wpVocab: Seq[String],
      uniPieces: Seq[(String, Double)]): DataFrame = {
    val words = filter(split(text, " "), w => length(w) > 0)
    // four tokenizer faces each re-run per-word encode/decode over the
    // corpus; spread a tiny single-split scan first (no-op at scale)
    val docsS = Fanout.spread(docs)

    def face(name: String, lossyWord: Column => Column): DataFrame =
      docsS.select(group.as("grp"),
          size(words).cast("long").as("_w"),
          size(filter(words, w => lossyWord(w))).cast("long").as("_l"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_l") === 0, 1L).otherwise(0L))
            .as("n_docs_lossless"),
          sum(col("_w")).as("n_words"),
          sum(col("_l")).as("n_lossy_words"))
        .select(lit(name).as("tokenizer"), col("grp"), col("n_docs"),
          col("n_docs_lossless"), col("n_words"), col("n_lossy_words"),
          when(col("n_words") > 0,
            round(col("n_lossy_words").cast("double") / col("n_words"), 6))
            .as("lossy_word_frac"))

    // char BPE: tokens concatenate to the word's chars + the terminal
    // marker — decode strips nothing, the identity IS the concat
    val bpe = face("bpe", w =>
      array_join(graft.functions.BpeExpressions.bpeEncode(w, bpeMerges),
        "") =!= concat(w, lit(BpeOps.EndOfWord)))
    // byte BPE: tokens are hex-pair concatenations; decode = unhex the
    // concatenated stream back to UTF-8 — no marker, no UNK
    val bytebpe = face("bytebpe", w =>
      decode(unhex(array_join(
        graft.functions.BpeExpressions.byteBpeEncode(w, byteMerges), "")),
        "UTF-8") =!= w)
    // WordPiece: first token raw, continuations strip the '##' marker;
    // an [UNK] collapse decodes to the literal '[UNK]' and counts lossy
    // (unless the word IS '[UNK]' — the honest corner)
    val wordpiece = face("wordpiece", { w =>
      val toks = graft.functions.WordPieceExpressions
        .wordPieceEncode(w, wpVocab)
      concat(element_at(toks, 1),
        aggregate(slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          lit(""),
          (acc, t) => concat(acc, t.substr(lit(3), length(t))))) =!= w
    })
    // unigram LM: Viterbi pieces partition the word exactly (the char
    // fallback guarantees coverage) — decode is the plain concat
    val unigram = face("unigram", w =>
      array_join(graft.functions.UnigramExpressions
        .unigramEncode(w, uniPieces), "") =!= w)

    bpe.unionByName(bytebpe).unionByName(wordpiece).unionByName(unigram)
  }

  /** Tokenizer fertility drift — the refit trigger for the FROZEN
    * BPE-family merge tables and the unigram piece table under the
    * standing every-frozen-model rule (WordPiece has its own richer
    * face, [[WordPieceOps.wordPieceDrift]], with the `[UNK]` axis
    * these no-UNK families cannot have): per (tokenizer, group),
    * baseline fertility vs an arrivals batch under the SAME frozen
    * tables — a distribution the vocabulary no longer fits shatters
    * words into more subwords, inflating tokens-per-word, which is
    * sequence-length cost a serving budget pays directly. Denominator
    * is whitespace words for every family (one consistent definition;
    * the GPT face's own tokens include whitespace pre-tokens but the
    * ratio still moves the same way). `needs_refit` fires on
    * fertility-ratio inflation or a group appearing/vanishing. Group
    * cardinality: one row-local encode pass per (family, side). */
  def fertilityDrift(base: DataFrame, arrivals: DataFrame, id: Column,
      text: Column, group: Column,
      bpeMerges: Seq[(String, String)],
      byteMerges: Seq[(String, String)],
      gptMerges: Seq[(String, String)],
      uniPieces: Seq[(String, Double)],
      maxFertilityRatio: Double = 1.25): DataFrame = {
    val words = filter(split(text, " "), w => length(w) > 0)

    def side(df: DataFrame, s: String, tokens: Column): DataFrame =
      df.select(group.as("grp"),
          size(words).cast("long").as("_w"),
          size(tokens).cast("long").as("_t"))
        .groupBy(col("grp"))
        .agg(sum(col("_w")).as(s"n_words_$s"), sum(col("_t")).as("_ts"))
        .withColumn(s"fertility_$s",
          when(col(s"n_words_$s") > 0,
            round(col("_ts").cast("double") / col(s"n_words_$s"), 6)))
        .drop("_ts")

    def face(name: String, tokens: Column): DataFrame =
      side(base, "base", tokens)
        .join(side(arrivals, "new", tokens), Seq("grp"), "full_outer")
        .select(lit(name).as("tokenizer"), col("grp"),
          col("n_words_base"), col("fertility_base"),
          col("n_words_new"), col("fertility_new"),
          when(col("fertility_base") > 0,
            round(col("fertility_new") / col("fertility_base"), 6))
            .as("fertility_ratio"))
        .withColumn("needs_refit",
          col("fertility_base").isNull || col("fertility_new").isNull ||
            col("fertility_ratio") > maxFertilityRatio)

    face("bpe", graft.functions.BpeExpressions.bpeEncode(text, bpeMerges))
      .unionByName(face("bytebpe",
        graft.functions.BpeExpressions.byteBpeEncode(text, byteMerges)))
      .unionByName(face("gptbpe",
        flatten(transform(BpeOps.gptPreTokenize(text),
          t => graft.functions.BpeExpressions.byteBpeEncodePre(
            t, gptMerges)))))
      .unionByName(face("unigram",
        graft.functions.UnigramExpressions.unigramEncode(text, uniPieces)))
  }
}
