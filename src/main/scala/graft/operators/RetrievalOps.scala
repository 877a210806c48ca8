package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** Retrieval-for-curation: lexical BM25 top-k, reciprocal-rank fusion of
  * lexical and vector rankings, and DSIR-style importance weighting — the
  * targeted-subset-selection tier of a training-data pipeline ("find the
  * documents like THESE", "weight the corpus toward THIS distribution").
  *
  * Float determinism follows the [[TextOps.lmScore]] convention throughout:
  * every per-term quantity is rounded to 1e-6 and carried as
  * DECIMAL(18,6); per-document scores are DECIMAL sums of those — exact and
  * order-independent — so rankings tie-break identically in any engine
  * whose `ln` agrees to ~1e-7.
  *
  * Scale shape: the corpus is touched by wordcount-shaped aggregations
  * only; query/target-derived tables are query-sized and BROADCAST. BM25's
  * one corpus-wide shuffle is the (doc, term) term-frequency aggregation —
  * the postings build every search engine pays once — and document length
  * rides the same partitioning as a window sum, not a second aggregation
  * join. */
object RetrievalOps {

  private def dec6(c: Column): Column = round(c, 6).cast("decimal(18,6)")

  /** The BM25 idf (Lucene's non-negative variant), rounded decimal —
    * shared by the batch ranking and the frozen query index so the two
    * faces are structurally the same formula. */
  private[graft] def idf6(nDocs: Column, df: Column): Column =
    dec6(log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5))))

  /** One term's BM25 contribution from the ROUNDED idf — shared by both
    * faces for the same reason. */
  private[graft] def contrib6(idfDec: Column, tf: Column, dl: Column,
      avgdl: Column, k1: Double, b: Double): Column =
    dec6(idfDec.cast("double") * (tf * (lit(k1) + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl)))

  /** Okapi BM25 top-`k` (Robertson & Walker SIGIR 1994; the
    * `ln(1 + (N-df+0.5)/(df+0.5))` non-negative idf variant Lucene ships):
    * per (query, doc) the DECIMAL sum over shared terms of
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`, ranked
    * (score desc, doc_id asc), top `k` per query. Query terms are SET
    * semantics (the common qtf-free form, documented contract).
    *
    * Plan: tokens → one (doc, term) tf aggregation (the postings
    * shuffle, map-side combined) → one post-combine exchange on doc_id
    * for the doc-length window. Two corpus-sized exchanges, but BOTH
    * carry the combined tf table (≈ half the raw token count on Zipfian
    * text) — pre-partitioning raw tokens by doc_id would make it one
    * exchange of MORE bytes with no combine, a wash that loses the
    * skew robustness. Postings then semi-join the BROADCAST distinct
    * query-term set, df aggregates over only the surviving postings
    * (query-term-sized result, broadcast back), and corpus stats
    * (N, avgdl) are a 1-row broadcast; the per-query rank window
    * partitions by query. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries.select(qid.as("query_id"),
        explode(split(qtext, " ")).as("word"))
      .where(length(col("word")) > 0).distinct()
    bm25TopKTerms(docs, id, text, qterms, k, k1, b)
  }

  /** [[bm25TopK]] from a prepared distinct `(query_id, word)` term set —
    * the entry point for expanded queries ([[prfExpandTerms]]) where the
    * term set is constructed, not tokenized from text. */
  def bm25TopKTerms(docs: DataFrame, id: Column, text: Column,
      qterms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // r19 cost-gate (A/B, this round): word-explode + count is CHEAP per
    // row — the fan-out exchange cost more than the parallel tokenize
    // saved on every retrieval entry (q121 0.7 s vs 1.3 s, q159/q183
    // ~0.3-0.5 s slower with it), so this band runs unspread; the
    // partial aggregation still compresses in the scan's stage.
    val words = docs.select(id.as("doc_id"),
      explode(split(text, " ")).as("word")).where(length(col("word")) > 0)
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val withDl = tf.withColumn("dl",
      sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
    val probed = withDl.join(
      broadcast(qterms.select("word").distinct()), Seq("word"), "left_semi")
    val dfreq = probed.groupBy("word").agg(count(lit(1)).as("df"))
    // r19 (guide §2.4 "share one exchange"): avgdl derives from the tf
    // TABLE — per doc, Σ tf ≡ the token count the raw stream would give
    // (same length>0 filter), and the tf subtree is canonically identical
    // to the ranking path's, so ReuseExchange computes the postings ONCE;
    // the r18 shape re-tokenized the whole corpus a second time just for
    // the average document length.
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.groupBy("doc_id").agg(sum(col("tf")).as("_dl"))
        .agg(avg(col("_dl")).as("avgdl")))
    val contrib = probed
      .join(broadcast(dfreq), "word")
      .join(broadcast(stats))
      .join(broadcast(qterms), Seq("word"))
      .select(col("query_id"), col("doc_id"),
        // idf is itself rounded before the product so the oracle can
        // replay it as an exact intermediate
        contrib6(idf6(col("n_docs"), col("df")), col("tf"), col("dl"),
          col("avgdl"), k1, b).as("_c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("_c")).as("score"), count(lit(1)).as("n_terms"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("n_terms"),
        col("score").cast("double").as("score"))
  }

  /** Rocchio / RM3-style pseudo-relevance feedback (Rocchio 1971, SMART;
    * Abdul-Jaleel et al. TREC 2004 RM3): run a first-pass BM25, treat
    * each query's top `kFb` docs as pseudo-relevant, weight their terms
    * by the DECIMAL sum of tf·idf over the feedback set (idf from the
    * corpus-wide df — one wordcount aggregation), drop the original
    * query terms, and keep the `tExp` heaviest per query (weight desc,
    * word asc — the decimal weights make the ranking drift-free by
    * construction). Returns the EXPANDED distinct `(query_id, word)` set
    * — original ∪ expansion — ready for [[bm25TopKTerms]]'s second pass.
    *
    * Scale shape: the feedback frame is (queries × kFb) docs joined to
    * the combined tf table (postings-sized, key-partitioned); expansion
    * selection windows over a feedback-vocabulary-sized frame per query.
    * Nothing new touches the corpus beyond the df wordcount the index
    * maintenance face already materializes.
    *
    * The result is a query-model ARTIFACT (|queries|·(terms+tExp) rows),
    * so it is materialized (`localCheckpoint`) before being returned:
    * feeding the un-materialized plan into the second-pass ranking would
    * splice the entire first pass into every join side that probes the
    * term set (measured: 98 exchanges vs 11 after the boundary — the
    * CurationDemo stage-boundary rule). Pass `materialize = false` to
    * keep the lazy plan. */
  def prfExpandTerms(docs: DataFrame, id: Column, text: Column,
      qterms: DataFrame, kFb: Int = 5, tExp: Int = 3,
      k1: Double = 1.2, b: Double = 0.75,
      materialize: Boolean = true): DataFrame = {
    val fb = bm25TopKTerms(docs, id, text, qterms, kFb, k1, b)
      .select(col("query_id"), col("doc_id"))
    // r19: the token stream and tf table are built EXACTLY as
    // [[bm25TopKTerms]] builds them (same projection, same filter, same
    // aggregation) so the first-pass ranking's postings exchange is
    // canonically identical and ReuseExchange computes it once per
    // execution — the r18 shape re-tokenized the corpus for the
    // feedback weights.
    val words = docs.select(id.as("doc_id"),
      explode(split(text, " ")).as("word")).where(length(col("word")) > 0)
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // r19: df derives from tf — tf's KEYS are exactly the distinct
    // (doc, word) pairs, so counting docs per word over tf is the same
    // value as [[bm25CorpusDf]]'s distinct+count, and the tf exchange is
    // shared (ReuseExchange) instead of a third corpus tokenize pass.
    val dfAll = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weights = fb.join(tf, "doc_id")
      .join(dfAll, "word")
      .crossJoin(broadcast(nDocs))
      .select(col("query_id"), col("word"),
        dec6(idf6(col("n_docs"), col("df")).cast("double") * col("tf"))
          .as("_w"))
      .groupBy("query_id", "word").agg(sum(col("_w")).as("wgt"))
    val novel = weights
      .join(qterms.select("query_id", "word"),
        Seq("query_id", "word"), "left_anti")
    val expansion = novel.withColumn("rk",
      row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("wgt").desc, col("word"))))
      .where(col("rk") <= tExp)
      .select("query_id", "word")
    val out = qterms.select("query_id", "word")
      .unionByName(expansion).distinct()
    if (materialize) out.localCheckpoint(true) else out
  }

  /** The maintainable half of a BM25 index: per-word document frequency
    * over the corpus — `(word, df)`. One wordcount-shaped pass; ~1% of
    * the data it summarizes (the snapshotHashIndex convention). */
  def bm25CorpusDf(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs
      .select(id.as("doc_id"), explode(split(text, " ")).as("word"))
      .where(length(col("word")) > 0)
      .select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))

  /** The scalar half: ONE row `(n_docs, n_docs_tok, n_tokens)` — doc
    * count, docs-with-tokens count (avgdl's denominator), total token
    * count. All three are sums, so they maintain incrementally. */
  def bm25CorpusStats(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val words = docs.select(id.as("doc_id"),
      explode(split(text, " ")).as("word")).where(length(col("word")) > 0)
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(words.groupBy("doc_id").agg(count(lit(1)).as("_dl"))
        .agg(count(lit(1)).as("n_docs_tok"),
          coalesce(sum(col("_dl")), lit(0L)).as("n_tokens")))
  }

  /** Incremental BM25 index maintenance — the operator that retires the
    * "re-fit → restart" cost of the standing-query index's static side:
    * df and the scalar stats are SUMS, so a new-document delta folds in
    * with one word-keyed merge and one 1-row addition instead of a
    * corpus-wide recompute. PRECONDITION (the incrementalDedup
    * convention): delta doc ids are NEW — a re-crawl of existing ids
    * goes through CDC apply and a re-stat, not this fold. Returns the
    * updated `(dfTable, stats)` pair; the invariant `update(stats(A), B)
    * ≡ stats(A ∪ B)` is the q122 oracle. */
  def bm25StatsUpdate(prevDf: DataFrame, prevStats: DataFrame,
      delta: DataFrame, id: Column, text: Column): (DataFrame, DataFrame) = {
    val dDf = bm25CorpusDf(delta, id, text)
    val mergedDf = prevDf.select(col("word"), col("df").as("_a"))
      .join(dDf.select(col("word"), col("df").as("_b")),
        Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("_a"), lit(0L)) + coalesce(col("_b"), lit(0L)))
          .as("df"))
    val dStats = bm25CorpusStats(delta, id, text)
    val mergedStats = prevStats.crossJoin(
        dStats.select(col("n_docs").as("_n"), col("n_docs_tok").as("_nt"),
          col("n_tokens").as("_tk")))
      .select((col("n_docs") + col("_n")).as("n_docs"),
        (col("n_docs_tok") + col("_nt")).as("n_docs_tok"),
        (col("n_tokens") + col("_tk")).as("n_tokens"))
    (mergedDf, mergedStats)
  }

  /** Query index from MAINTAINED statistics — the composition point:
    * `(dfTable, stats)` may come from one [[bm25CorpusDf]]/
    * [[bm25CorpusStats]] pass or from any chain of [[bm25StatsUpdate]]
    * folds; the resulting index is the same function either way. */
  def bm25IndexFromStats(dfTable: DataFrame, stats: DataFrame,
      queries: DataFrame, qid: Column, qtext: Column): DataFrame = {
    val qterms = queries.select(qid.as("query_id"),
        explode(split(qtext, " ")).as("word"))
      .where(length(col("word")) > 0).distinct()
    qterms
      .join(broadcast(dfTable.join(broadcast(qterms.select("word").distinct()),
        Seq("word"), "left_semi")), Seq("word"), "left")
      .join(broadcast(stats))
      .select(col("query_id"), col("word"),
        idf6(col("n_docs"), coalesce(col("df"), lit(0L))).as("idf"),
        (col("n_tokens").cast("double") / col("n_docs_tok")).as("avgdl"))
  }

  /** The FROZEN standing-query index for [[graft.streaming.Streaming
    * .bm25ScoreStream]]: per (query_id, word) the corpus-fitted rounded
    * idf, with the corpus `avgdl` stamped on every row (one broadcastable
    * static side, query-terms-sized). Fitted once over the corpus — df
    * and avgdl are corpus-wide statistics a micro-batch cannot know —
    * and identical by construction to the batch ranking's intermediates
    * (shared idf6/contrib6 helpers; parity pinned in StreamingSpec).
    * Built on the maintainable [[bm25CorpusDf]]/[[bm25CorpusStats]]
    * pieces, so an index refresh after a delta is a [[bm25StatsUpdate]]
    * fold, not a corpus recompute. */
  def bm25QueryIndex(docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column): DataFrame =
    bm25IndexFromStats(bm25CorpusDf(docs, id, text),
      bm25CorpusStats(docs, id, text), queries, qid, qtext)

  /** DPR-style hard-negative mining (Karpukhin et al. EMNLP 2020 §4.2):
    * the hardest negatives for training a dense retriever are the
    * passages the LEXICAL retriever ranks highest that are NOT true
    * positives — BM25 surfaces confusable candidates, the embedding
    * check removes semantic matches (including the query document
    * itself, cosine 1), and the survivors keep their lexical order as
    * the difficulty ranking. `posThreshold` is the positive cutoff on
    * rounded cosine; a candidate whose cosine is NULL (missing
    * embedding, zero norm) cannot be certified positive and stays a
    * negative — the DPR convention (unverifiable ⇒ negative), documented
    * rather than silently dropped.
    *
    * Plan: [[bm25TopK]] does all corpus-scale work (one postings
    * shuffle); candidates are query×k rows, so both embedding lookups
    * run as BROADCAST probes of the candidate side against the
    * embeddings table — two scans, zero additional shuffles, and the
    * final per-query rank window is candidate-sized. `emb` must cover
    * both query and document ids (split tables union upstream). */
  def hardNegatives(docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column,
      emb: DataFrame, vecId: Column, vec: Column,
      k: Int, posThreshold: Double, nNeg: Int): DataFrame = {
    require(nNeg >= 1 && k >= nNeg, s"need k >= nNeg >= 1, got $k/$nNeg")
    // r19: cand feeds THREE consumers (two broadcast embedding probes
    // and the cosine attach) — materialized (localCheckpoint; it is a
    // queries x k-row artifact), the bm25 ranking's final window runs
    // once instead of three times.
    val cand = bm25TopK(docs, id, text, queries, qid, qtext, k)
      .select(col("query_id"), col("rk").as("bm25_rk"), col("doc_id"),
        col("score").as("bm25_score"))
      .localCheckpoint(true)
    val e = emb.select(vecId.as("_eid"), vec.as("_ev"),
      sqrt(VectorExpressions.floatDot(vec, vec)).as("_en"))
    // fetch embeddings with inner BROADCAST probes (corpus never
    // shuffles), then LEFT-join the candidate-sized fetches back so a
    // missing embedding survives as a NULL cosine instead of dropping
    // the candidate
    val docE = e.join(broadcast(cand.select("doc_id").distinct()),
        col("_eid") === col("doc_id"))
      .select(col("doc_id"), col("_ev").as("_dv"), col("_en").as("_dn"))
    val qryE = e.join(broadcast(cand.select("query_id").distinct()),
        col("_eid") === col("query_id"))
      .select(col("query_id"), col("_ev").as("_qv"), col("_en").as("_qn"))
    val withBoth = cand
      .join(docE, Seq("doc_id"), "left")
      .join(qryE, Seq("query_id"), "left")
      .withColumn("cos_sim",
        when(col("_qn") * col("_dn") > 0,
          round(VectorExpressions.floatDot(col("_qv"), col("_dv")) /
            (col("_qn") * col("_dn")), 6)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("bm25_rk"))
    withBoth
      .where(!coalesce(col("cos_sim") >= posThreshold, lit(false)))
      .withColumn("neg_rk", row_number().over(w).cast("long"))
      .where(col("neg_rk") <= nNeg)
      .select(col("query_id"), col("neg_rk"), col("doc_id"),
        col("bm25_rk"), col("bm25_score"), col("cos_sim"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher SIGIR 2009) of a
    * LEXICAL ranking and a VECTOR ranking — the standard hybrid-retrieval
    * combiner, score-scale-free by construction: fused(q, d) =
    * Σ_legs round(1/(k0 + rank), 6), absent legs contribute nothing.
    * Inputs are rank tables `(query_id, doc_id/neighbor_id, rk)` — the
    * [[bm25TopK]] and [[SimilarityOps.bruteForceTopK]]/IVF/PQ output
    * shapes. Output: per query the fused top `k`
    * (fused desc, doc_id asc), with each leg's rank kept NULL-able for
    * audit. Rank tables are top-k-sized — per-query-bounded — so the
    * fusion is a join of two small frames; at scale the cost lives in
    * the legs, never here. */
  def rrfFuse(lexical: DataFrame, vector: DataFrame, k: Int,
      k0: Int = 60): DataFrame = {
    require(k >= 1 && k0 >= 1, s"k/k0 must be >= 1, got $k/$k0")
    def leg(df: DataFrame, rkName: String) =
      df.select(col("query_id"),
        coalesce(col("doc_id"), col("neighbor_id")).as("doc_id"),
        col("rk").as(rkName))
    def contribution(rk: Column): Column =
      when(rk.isNull, lit(BigDecimal(0)).cast("decimal(18,6)"))
        .otherwise(dec6(lit(1.0) / (lit(k0) + rk)))
    val joined = leg(lexical.withColumn("neighbor_id", lit(null)), "lex_rk")
      .join(leg(vector.withColumn("doc_id", lit(null)), "vec_rk"),
        Seq("query_id", "doc_id"), "full_outer")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("fused").desc, col("doc_id"))
    joined
      .withColumn("fused",
        contribution(col("lex_rk")) + contribution(col("vec_rk")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"),
        col("lex_rk"), col("vec_rk"),
        col("fused").cast("double").as("fused"))
  }

  /** nDCG@k of a ranking against graded relevance (Järvelin & Kekäläinen
    * TOIS 2002) — the retrieval band's quality gate, the q82-recall
    * pattern applied to ranked retrieval: `rels` carries
    * `(query_id, doc_id, rel)` graded relevance (rounded decimal,
    * non-negative — clamp upstream), `ranking` a `(query_id, doc_id,
    * rk)` table. Per query: DCG = Σ_{i≤k} round(rel_i / log2(i+1), 6)
    * over the ranking's order, IDCG the same sum over the TRUE top-k by
    * relevance (rel desc, doc_id asc — deterministic), and
    * `ndcg = round(DCG/IDCG, 6)` (0 when IDCG is 0). Unjudged ranked
    * docs count 0 relevance, the standard convention. Both sides are
    * top-k-sized per query, so the whole evaluation is
    * per-query-bounded. */
  def ndcgAtK(ranking: DataFrame, rels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gain = rels.select(col("query_id"), col("doc_id"), col("rel"))
    val dcg = ranking.where(col("rk") <= k)
      .join(gain, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"),
        dec6(coalesce(col("rel"), lit(BigDecimal(0)).cast("decimal(18,6)"))
          .cast("double") / log2(col("rk") + lit(1))).as("_g"))
      .groupBy("query_id").agg(sum(col("_g")).as("dcg"))
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = gain
      .withColumn("_irk", row_number().over(wIdeal).cast("long"))
      .where(col("_irk") <= k)
      .select(col("query_id"),
        dec6(col("rel").cast("double") / log2(col("_irk") + lit(1)))
          .as("_g"))
      .groupBy("query_id").agg(sum(col("_g")).as("idcg"))
    dcg.join(idcg, Seq("query_id"), "full_outer")
      .select(col("query_id"),
        coalesce(col("dcg").cast("double"), lit(0.0)).as("dcg"),
        coalesce(col("idcg").cast("double"), lit(0.0)).as("idcg"),
        when(coalesce(col("idcg"), lit(BigDecimal(0)).cast("decimal(18,6)"))
          > 0,
          round(col("dcg").cast("double") / col("idcg").cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** DSIR-style importance weights (Xie, Santurkar, Ma & Liang, NeurIPS
    * 2023 "Data Selection for Language Models via Importance Resampling"):
    * weight every RAW document by how much more likely its tokens are
    * under the TARGET distribution than under the raw distribution —
    * `log_weight(x) = Σ_tokens (ln p_target(t) − ln p_raw(t))` with
    * add-one-smoothed unigram LMs over the SHARED vocabulary (raw ∪
    * target — both models smooth over the same domain, so the ratio is
    * well-defined for every token). Output per raw doc: `n_tokens`,
    * `log_weight` (decimal-exact sum of per-word rounded log ratios) and
    * `avg_log_weight` (length-normalized, the ranking key). Positive avg
    * means "looks more like the target than like the corpus".
    *
    * The KEEP decision deliberately stays out: selection composes with
    * [[TextOps.calibrateScores]] (top-percentile keep) — the existing
    * oracle-gated operator — instead of baking one sampling rule in here.
    *
    * Scale shape: the target is eval/benchmark-sized by definition, so
    * its wordcount broadcasts; the raw corpus pays one wordcount
    * aggregation for its LM and one token-probe join for scoring, which
    * gets the [[TextOps.LmHeadK]] Zipf head/tail split (hot words ride a
    * broadcast, tails shuffle de-skewed). */
  def dsirWeights(raw: DataFrame, rawId: Column, rawText: Column,
      target: DataFrame, targetText: Column): DataFrame = {
    // r19: the fitted ratio table is MATERIALIZED (localCheckpoint — the
    // prfExpandTerms fit-artifact convention): dsirScore consumes it
    // three ways (Zipf head, tail anti-join, probe), and un-materialized
    // each consumer re-ran the whole two-corpus fit (r18 q121 profile:
    // the tokenize+count stage executed twice at 6.3 s sumRun each).
    // The artifact is vocabulary-sized — the frozen-model discipline.
    val lr = dsirRatioTable(raw, rawText, target, targetText)
      .localCheckpoint(true)
    val words = raw.select(rawId.as("doc_id"),
      explode(split(rawText, " ")).as("word"))
      .where(length(col("word")) > 0)
    dsirScore(words, lr, Seq("doc_id"))
  }

  /** The fitted DSIR artifact: per-word `(word, _rc, _lr)` where `_lr` is
    * the rounded-decimal log p_target/p_raw ratio over the shared union
    * vocabulary and `_rc` is the word's raw-corpus frequency (the Zipf
    * split key). Shared by [[dsirWeights]] and
    * [[graft.streaming.Streaming.dsirScoreStream]] so the two faces
    * cannot drift. */
  def dsirRatioTable(raw: DataFrame, rawText: Column,
      target: DataFrame, targetText: Column): DataFrame = {
    // r19 (guide §2.3 one-pass tagged union): both corpora tokenize into
    // ONE side-tagged stream and count in ONE word-keyed aggregation —
    // the r18 shape ran two word-keyed aggregations PLUS a union-distinct
    // vocabulary pass and a three-way crossJoin of their totals. The
    // combined frame IS the shared smoothing vocabulary (a word has a row
    // iff either side saw it), per-side counts identical (a side's sum of
    // 1s ≡ its count), totals identical — every downstream value is
    // bit-equal (oracle-gated).
    def toks(df: DataFrame, t: Column, side: Int) =
      df.select(explode(split(t, " ")).as("word"),
        lit(side).as("_side")).where(length(col("word")) > 0)
    val cnt = toks(raw, rawText, 0)
      .unionByName(toks(target, targetText, 1))
      .groupBy("word").agg(
        sum(when(col("_side") === 0, 1L).otherwise(0L)).as("_rc"),
        sum(when(col("_side") === 1, 1L).otherwise(0L)).as("_tc"))
    val sizes = cnt.agg(sum(col("_rc")).as("_rtot"),
      sum(col("_tc")).as("_ttot"), count(lit(1)).as("_v"))
    // per-word log ratio: both logs rounded to 1e-6 BEFORE the subtraction
    // (the nbClassify convention), so the ratio table is engine-exact
    cnt
      .join(broadcast(sizes))
      .select(col("word"), col("_rc"),
        (dec6(log((col("_tc") + lit(1)).cast("double") /
          (col("_ttot") + col("_v")).cast("double"))) -
          dec6(log((col("_rc") + lit(1)).cast("double") /
            (col("_rtot") + col("_v")).cast("double")))).as("_lr"))
  }

  /** Scoring core shared by the batch and streaming DSIR faces: exploded
    * `(keyCols..., word)` token rows probe the ratio table through the
    * [[TextOps.LmHeadK]] Zipf frequency split (hot words ride a broadcast,
    * tails shuffle de-skewed; words outside the fitted vocabulary score 0
    * — an unseen word is evidence for neither distribution), then one
    * per-key aggregation. */
  def dsirScore(words: DataFrame, ratioTable: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val head = ratioTable.orderBy(col("_rc").desc, col("word"))
      .limit(TextOps.LmHeadK).select("word", "_lr")
    val tail = ratioTable.select("word", "_lr")
      .join(broadcast(head.select("word")), Seq("word"), "left_anti")
    val probed = words.join(broadcast(head), Seq("word"), "left")
    probed.where(col("_lr").isNotNull)
      .unionByName(probed.where(col("_lr").isNull).drop("_lr")
        .join(tail, Seq("word"), "left")
        .withColumn("_lr",
          coalesce(col("_lr"), lit(BigDecimal(0)).cast("decimal(18,6)"))))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_tokens"), sum(col("_lr")).as("_s"))
      .select(keyCols.map(col) ++ Seq(col("n_tokens"),
        col("_s").cast("double").as("log_weight"),
        round(col("_s").cast("double") / col("n_tokens"), 6)
          .as("avg_log_weight")): _*)
  }
}
