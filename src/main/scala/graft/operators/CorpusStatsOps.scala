package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-health diagnostics for a training-data pipeline: rank-frequency
  * (Zipf) shape, vocabulary-growth (Heaps) fit, and robust per-group
  * outlier screening. These are the monitoring metrics a curation pipeline
  * publishes per snapshot — a corpus whose Zipf slope or hapax ratio moves
  * between crawls has changed character (boilerplate flood, language drift,
  * spam injection) before any downstream quality gate notices.
  *
  * All three are pure aggregation shapes: one explode + groupBy over the
  * corpus, then arithmetic on a vocabulary- or group-sized frame. Nothing
  * here materializes per-pair or per-position state, so the operators run
  * at any corpus scale where word-count aggregation runs.
  *
  * Methods are public classics: Zipf's rank-frequency law (Zipf 1949),
  * Heaps' vocabulary-growth law (Heaps 1978, "Information Retrieval"
  * §7.5; also Herdan 1960), and the median/MAD robust z-score with the
  * 1.4826 normal-consistency constant (Iglewicz & Hoaglin 1993; Leys et
  * al. 2013).
  */
object CorpusStatsOps {

  /** Least-squares slope/intercept of y on x from pre-aggregated sums.
    * Inputs are the per-group aggregates n, Σx, Σy, Σ(x·y), Σ(x²), each of
    * round-6 terms so the engine-portable oracle sums identical values.
    * Returns (slope, intercept), NULL when the x-variance denominator is
    * zero (single point or constant x). */
  private def lsFit(n: Column, sx: Column, sy: Column, sxy: Column,
      sxx: Column): (Column, Column) = {
    val denom = n * sxx - sx * sx
    val slope = when(denom =!= lit(0.0), (n * sxy - sx * sy) / denom)
    val intercept = when(denom =!= lit(0.0), (sy - slope * sx) / n)
    (slope, intercept)
  }

  /** Rank-frequency diagnostics per group (usually language): vocabulary
    * size, token count, hapax-legomenon count/ratio, type-token ratio, and
    * the log-log least-squares Zipf fit ln(freq) = intercept +
    * slope·ln(rank). A healthy natural-language corpus sits near
    * slope ≈ −1; boilerplate-flooded or template-generated corpora flatten
    * (head-heavy) or steepen (tail of unique noise tokens).
    *
    * Shape: explode → two groupBys (word freq, then group rollup) — the
    * second aggregates a VOCABULARY-sized frame, so the rank window
    * partitions by group over vocab rows, never corpus rows. Regression
    * terms are rounded to 6 decimals before summing so the DuckDB oracle
    * sums bit-identical addends (order-of-addition noise then dies at the
    * final round-6).
    */
  def zipfDiagnostics(docs: DataFrame, group: Column, text: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Fanout.spread(docs)
      .select(group.as("grp"), explode(split(text, " ")).as("word"))
      .where(length(col("word")) > 0)
    val freq = words.groupBy("grp", "word")
      .agg(count(lit(1)).as("freq"))
    val ranked = freq.withColumn("rank",
      row_number().over(Window.partitionBy(col("grp"))
        .orderBy(col("freq").desc, col("word").asc)))
    val x = round(log(col("rank").cast("double")), 6)
    val y = round(log(col("freq").cast("double")), 6)
    val terms = ranked.select(col("grp"), col("freq"), x.as("x"), y.as("y"),
      round(x * y, 6).as("xy"), round(x * x, 6).as("xx"))
    val agg = terms.groupBy("grp").agg(
      count(lit(1)).as("n_types"),
      sum(col("freq")).as("n_tokens"),
      sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n_hapax"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
    val n = col("n_types").cast("double")
    val (slope, intercept) =
      lsFit(n, col("sx"), col("sy"), col("sxy"), col("sxx"))
    agg.select(
      col("grp"),
      col("n_types"), col("n_tokens"), col("n_hapax"),
      round(col("n_hapax").cast("double") / n, 6).as("hapax_ratio"),
      round(n / col("n_tokens").cast("double"), 6).as("ttr"),
      graft.functions.Exact.round6z(slope).as("zipf_slope"),
      graft.functions.Exact.round6z(intercept).as("zipf_intercept"))
  }

  /** Heaps'-law fit V(N) ≈ K·N^β over the corpus vocabulary-growth curve,
    * sampled at `buckets` checkpoints of the document-id order. Returns one
    * row: the fitted K and β, the checkpoint count, and the final corpus
    * totals. β well below the 0.4–0.6 natural-language band signals a
    * closed/templated vocabulary; β near 1 signals unbounded unique noise
    * (mint-everything tokenizers, serial numbers).
    *
    * Scale design: the naive curve is a cumulative count over EVERY doc in
    * a global order — a single-partition window over the whole corpus. We
    * instead reduce to per-bucket aggregates first (`width_bucket` over the
    * id range): tokens per bucket, plus NEW types per bucket via each
    * word's first-occurrence bucket (one groupBy on the vocabulary). The
    * ordered cumulative window then runs over `buckets` rows — driver-scale
    * — and the regression fits `buckets` points. At 100 TB the corpus
    * passes through two word-level aggregations and nothing else.
    */
  def heapsFit(docs: DataFrame, id: Column, text: Column,
      buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Fanout.spread(docs)
      .select(id.as("did"), split(text, " ").as("ws"))
    // one tiny agg for the id range; broadcast as a literal-free cross join
    val bounds = base.agg(min(col("did")).as("lo"), max(col("did")).as("hi"))
    val withB = base.crossJoin(broadcast(bounds)).select(
      col("did"), col("ws"),
      least(lit(buckets - 1),
        floor((col("did") - col("lo")).cast("double") * buckets /
          (col("hi") - col("lo") + 1).cast("double")).cast("int"))
        .as("bucket"))
    val words = withB.select(col("bucket"), col("did"),
      explode(col("ws")).as("word")).where(length(col("word")) > 0)
    val tokensPerBucket = words.groupBy("bucket")
      .agg(count(lit(1)).as("toks"))
    // a word is "new" in the bucket holding its first-occurrence doc; ties
    // on min(did) all carry the same bucket, so min_by is deterministic
    val newTypes = words.groupBy("word")
      .agg(min_by(col("bucket"), col("did")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val perBucket = tokensPerBucket
      .join(newTypes, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = perBucket.select(
      col("bucket"),
      sum(col("toks")).over(w).as("cum_toks"),
      sum(col("new_types")).over(w).as("cum_types"))
      .where(col("cum_toks") > 0 && col("cum_types") > 0)
    val x = round(log(col("cum_toks").cast("double")), 6)
    val y = round(log(col("cum_types").cast("double")), 6)
    val terms = curve.select(x.as("x"), y.as("y"),
      round(x * y, 6).as("xy"), round(x * x, 6).as("xx"),
      col("cum_toks"), col("cum_types"))
    val agg = terms.agg(
      count(lit(1)).as("n_points"),
      max(col("cum_toks")).as("n_tokens"),
      max(col("cum_types")).as("n_types"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
    val (slope, intercept) = lsFit(col("n_points").cast("double"),
      col("sx"), col("sy"), col("sxy"), col("sxx"))
    agg.select(
      col("n_points"), col("n_tokens"), col("n_types"),
      graft.functions.Exact.round6z(slope).as("heaps_beta"),
      round(exp(intercept), 6).as("heaps_k"))
  }

  /** Robust per-group outlier screen on a numeric signal: the median/MAD
    * z-score `(v − median) / (1.4826 · MAD)` (Iglewicz & Hoaglin 1993).
    * Unlike mean/stddev, the estimate itself is not dragged by the
    * outliers it is hunting — the standard screen for length/quality
    * anomalies per source or language. MAD = 0 (over half the group
    * identical) yields NULL z and `is_outlier = false`.
    *
    * Shape: two exact-percentile aggregations over the corpus (median,
    * then MAD of residuals) producing a GROUP-cardinality stats frame,
    * broadcast back onto the corpus. At 100 TB swap `percentile` for
    * `percentile_approx` at the call site via `exact = false` — the shape
    * is otherwise identical. */
  def robustOutliers(docs: DataFrame, id: Column, group: Column,
      value: Column, zThresh: Double = 3.0, exact: Boolean = true)
      : DataFrame = {
    val base = docs.select(id.as("did"), group.as("grp"),
      value.cast("double").as("v"))
    val stats = robustStats(docs, group, value, exact)
    base.join(broadcast(stats), Seq("grp"))
      .select(col("did"), col("grp"), col("v"),
        robustZ(col("v"), col("med"), col("mad")).as("robust_z"),
        coalesce(abs(robustZ(col("v"), col("med"), col("mad"))) > zThresh,
          lit(false)).as("is_outlier"))
  }

  /** The per-group median/MAD stats frame `(grp, med, mad)` — the model
    * [[robustOutliers]] applies, exposed so an ingest stream can freeze
    * it and score arrivals against the batch-fitted baseline. */
  def robustStats(docs: DataFrame, group: Column, value: Column,
      exact: Boolean = true): DataFrame = {
    def median(c: Column): Column =
      if (exact) percentile(c, lit(0.5))
      else percentile_approx(c, lit(0.5), lit(10000))
    val base = docs.select(group.as("grp"), value.cast("double").as("v"))
    val med = base.groupBy("grp").agg(median(col("v")).as("med"))
    base.join(broadcast(med), Seq("grp"))
      .groupBy("grp").agg(
        first(col("med")).as("med"),
        median(abs(col("v") - col("med"))).as("mad"))
  }

  /** Per-document token-distribution entropy — the information-theoretic
    * repetition/diversity screen (Shannon 1948): unigram entropy
    * `H = −Σ p(w)·ln p(w)` over the doc's own word distribution, its
    * normalized form `H / ln(n_types)` (1 = perfectly even usage, → 0 =
    * dominated by one token), and bigram entropy (word-order
    * repetition: a doc that loops one phrase has near-zero bigram
    * entropy even when its unigram mix looks healthy). Complements the
    * DEFLATE screen (q164): entropy is exactly SQL-replayable where
    * DEFLATE is rows-only, and it decomposes (unigram vs bigram blame).
    *
    * Shape: two explode + per-doc aggregations over corpus tokens (the
    * zipf cost class). Engine parity: each `−p·ln p` term is rounded to
    * 6 decimals and summed in exact DECIMAL ([[graft.functions.Exact
    * .dsum]]), so addition order cannot flip a bit. Entropies are in
    * NATS (the repo's ln-parity precedent — q148/q149). */
  def entropyScreen(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import graft.functions.Exact
    // Row-local since r19 session 3: per-doc entropy is a function of
    // ONE row, so the whole screen is a stateless select on
    // [[entropyExpr]] (sort-runs-fold inside the row, exact DECIMAL
    // fold), so this operator runs on a streaming frame as-is
    // (StreamParitySpec pins stream against batch). The old explode +
    // per-doc-window + dual-aggregate batch shape shuffled the corpus'
    // ENTIRE token and bigram streams through two (did, token)
    // aggregations plus a per-did window and
    // re-joined the results (6 exchanges; a serial AQE-coalesced stage
    // chain at bench scale) to compute values every row already had
    // locally. Addends and arithmetic are identical: decimal sums are
    // order-free, so the sorted-run fold equals the shuffled dsum
    // bit-for-bit (oracle-gated).
    // Empty tokens are filtered ONCE, before both distributions — the
    // bigram side must see exactly the tokens the unigram side counts
    // (building grams from the raw split would mint phantom bigrams
    // around doubled spaces). A zero-token doc still emits its row
    // (n_tokens = 0, NULL entropies — entropyExpr is NULL at n = 0):
    // the screen must SEE such a doc to reject it.
    // Per-row work is heavy; spread a tiny single-split scan first
    // (no-op at scale).
    // the filtered token array is a PROJECTED column (the q139 rule —
    // the gram transform would otherwise re-run split+filter per
    // position), and norm_entropy derives from the PROJECTED
    // word_entropy: the batch value was round6z(h_raw / ln n_typ) with
    // h_raw the exact-decimal sum cast to double, and word_entropy =
    // round6z(h_raw) = h_raw (≤6 dp already; +0.0 only fixes a signed
    // zero) — value-identical, and the sort-runs fold runs once per
    // row, not twice.
    val ws = col("_ew")
    val grams = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", slice(ws, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    Fanout.spread(docs)
      .select(id.as("did"),
        filter(split(text, " "), w => length(w) > 0).as("_ew"))
      .select(col("did"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_types"),
        entropyExpr(ws).as("word_entropy"),
        entropyExpr(grams).as("bigram_entropy"))
      .select(col("did"), col("n_tokens"), col("n_types"),
        col("word_entropy"),
        when(col("n_types") > 1, Exact.round6z(
          col("word_entropy") / log(col("n_types").cast("double"))))
          .as("norm_entropy"),
        col("bigram_entropy"))
      .select("did", "n_tokens", "n_types", "word_entropy",
        "norm_entropy", "bigram_entropy")
  }

  /** Corpus datasheet — the one-row summary a dataset ships with
    * (Gebru et al. 2021 "Datasheets for Datasets", the quantitative
    * half): sizes (docs, tokens, chars, vocabulary), composition
    * (language/source counts), and the headline health rates every
    * release note quotes — exact-duplicate fraction, quality-screen
    * keep rate, encoding-damage rate, hapax ratio. Everything here is
    * already gated query-by-query (q30, q60, q165, q148); the
    * datasheet is the composed artifact, one row, cheap enough to
    * regenerate per snapshot and diff across releases.
    *
    * Shape: three independent corpus aggregations (doc-level,
    * token-level, duplicate-level) cross-joined as broadcast 1-row
    * frames. */
  def datasheet(docs: DataFrame, id: Column, text: Column,
      lang: Column, source: Column): DataFrame = {
    import graft.functions.Exact.round6z
    val base = docs.select(id.as("did"), text.as("t"),
      lang.as("lg"), source.as("src"),
      graft.functions.HashExpressions.polyHash(text).as("fp"),
      length(text).cast("long").as("fp_len"))
    // the headline dup statistic counts (polyHash, length) PAIRS: the
    // 1e9+7-modulus hash alone expects ~n²/2P false "duplicates" —
    // material at 1e6+ docs in a number release notes quote — while a
    // pair collision needs same hash AND same exact length
    val docAgg = base.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lg")).as("n_langs"),
      countDistinct(col("src")).as("n_sources"),
      sum(length(col("t"))).cast("long").as("n_chars"),
      (count(lit(1)) - countDistinct(col("fp"), col("fp_len")))
        .as("n_exact_dups"),
      graft.functions.Exact.countIf(
        graft.operators.TextOps.qualityComposite(col("t")) >=
          graft.operators.TextOps.DefaultMinQuality).as("n_quality_keep"),
      graft.functions.Exact.countIf(
        (length(col("t")) - length(replace(col("t"), lit("�"), lit("")))) > 0
          || (length(col("t")) - length(regexp_replace(col("t"),
            "[\\x00-\\x08\\x0b-\\x1f\\x7f]", ""))) > 0).as("n_suspect"))
    val words = base.select(explode(split(col("t"), " ")).as("w"))
      .where(length(col("w")) > 0)
    val tokAgg = words.groupBy("w").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        graft.functions.Exact.countIf(col("c") === 1).as("n_hapax"))
    docAgg.crossJoin(broadcast(tokAgg)).select(
      col("n_docs"), col("n_tokens"), col("n_chars"),
      col("n_types"), col("n_langs"), col("n_sources"),
      round6z(col("n_tokens").cast("double") / col("n_docs").cast("double"))
        .as("mean_doc_tokens"),
      round6z(col("n_hapax").cast("double") / col("n_types").cast("double"))
        .as("hapax_ratio"),
      round6z(col("n_exact_dups").cast("double") /
        col("n_docs").cast("double")).as("exact_dup_frac"),
      round6z(col("n_quality_keep").cast("double") /
        col("n_docs").cast("double")).as("quality_keep_rate"),
      round6z(col("n_suspect").cast("double") /
        col("n_docs").cast("double")).as("suspect_rate"))
  }

  /** Row-local (HOF) twin of one [[entropyScreen]] distribution: the
    * entropy of the given token ARRAY computed entirely inside the row
    * — sort the tokens, find run starts, turn run lengths into
    * round-6 `−p·ln p` terms, and fold them in exact DECIMAL (same
    * addends, same arithmetic as the batch op's dsum, so stream/batch
    * parity is exact, not approximate). This is what a streaming plan
    * needs: the batch shape's explode + per-doc window is unsupported
    * there, and per-arrival entropy has no business shuffling anyway.
    *
    * Intermediates are LET-BOUND via single-element `transform`s (a
    * lambda variable is evaluated once per binding): as plain
    * subexpressions, each HOF lambda re-evaluated its captured subtree
    * PER ELEMENT (the shingleHashesRaw r19 lesson) and the nesting here
    * (counts → starts → sorted) made one row's entropy superlinear in
    * its token count — q172's batch rewrite onto this expression ran
    * minutes instead of ~1 s at sf0.1 until the bindings landed.
    * Arithmetic is unchanged: same runs, same terms, same DECIMAL
    * fold. */
  def entropyExpr(tokens: Column): Column = {
    // let-bind: evaluate `value` once, use it as a lambda variable
    def let(value: Column)(body: Column => Column): Column =
      element_at(transform(array(value), v => body(v)), 1)
    let(array_sort(tokens)) { sorted =>
      val n = size(sorted)
      // the starts/counts/terms chain only evaluates for non-empty
      // inputs (the `when` guards it row-locally), so sequence(1, n)
      // never sees n = 0
      when(n > 0, let(filter(sequence(lit(1), n), i =>
        i === 1 || element_at(sorted, i) =!= element_at(sorted, i - 1))) {
        starts =>
          val counts = transform(sequence(lit(1), size(starts)), j =>
            when(j < size(starts), element_at(starts, j + 1))
              .otherwise(n + 1) - element_at(starts, j))
          val terms = transform(counts, c => {
            val p = c.cast("double") / n.cast("double")
            round(-p * log(p), 6)
          })
          graft.functions.Exact.round6z(
            aggregate(terms,
              lit(0).cast(graft.functions.Exact.SumDecimal),
              (acc, t) => (acc + t.cast(graft.functions.Exact.SumDecimal))
                .cast(graft.functions.Exact.SumDecimal),
              acc => acc.cast("double")))
      })
    }
  }

  /** Screen-age detector for a FROZEN [[robustStats]] baseline — the
    * q105 quantization-drift treatment applied to the text screens, so
    * a long-running ingest stream's outlier gate does not silently age:
    * fit fresh per-group stats on a new batch and measure how far each
    * group's center moved in frozen-MAD units,
    * `drift_z = |med_new − med_frozen| / (1.4826·mad_frozen)`, plus the
    * spread ratio `mad_new / mad_frozen`. A group flags `needs_refit`
    * when the drift exceeds `zThresh`, when the frozen MAD is
    * degenerate (0 — the frozen frame cannot score that group), or when
    * the group is new/missing on either side. The refresh itself is a
    * RE-FIT on trigger: medians do not merge like the BM25/gram sums,
    * so recompute-on-drift is the correct maintenance, and this
    * detector is what makes it event-driven instead of never. */
  def robustDrift(frozen: DataFrame, batch: DataFrame, group: Column,
      value: Column, zThresh: Double = 3.0, exact: Boolean = true)
      : DataFrame = {
    val fresh = robustStats(batch, group, value, exact)
    val driftZ = when(col("mad_frozen") =!= lit(0.0),
      graft.functions.Exact.round6z(
        abs(col("med_new") - col("med_frozen")) /
          (lit(1.4826) * col("mad_frozen"))))
    frozen.select(col("grp"), col("med").as("med_frozen"),
        col("mad").as("mad_frozen"))
      .join(fresh.select(col("grp"), col("med").as("med_new"),
        col("mad").as("mad_new")), Seq("grp"), "full_outer")
      .select(col("grp"), col("med_frozen"), col("mad_frozen"),
        col("med_new"), col("mad_new"), driftZ.as("drift_z"),
        when(col("mad_frozen") =!= lit(0.0),
          graft.functions.Exact.round6z(
            col("mad_new") / col("mad_frozen"))).as("mad_ratio"),
        coalesce(driftZ > zThresh, lit(true)).as("needs_refit"))
  }

  /** The round-6 robust z (NULL when MAD = 0; signed-zero normalized —
    * a z just below zero rounds to `-0.0` in DuckDB but `+0.0` in
    * Spark, the q149 byte-level hash knife edge). */
  def robustZ(v: Column, med: Column, mad: Column): Column =
    when(mad =!= lit(0.0),
      graft.functions.Exact.round6z((v - med) / (lit(1.4826) * mad)))

  /** Gopher-style compression screen (Rae et al. 2021 §A1): per doc the
    * DEFLATE ratio via the codegen'd [[graft.functions.DeflateRatio]]
    * expression, and a keep verdict for the [lo, hi] natural-language
    * band — too compressible = templated/repetitive, incompressible =
    * high-entropy gibberish. Row-local, zero shuffle; rows-only in the
    * driver gate (no SQL engine exposes DEFLATE), spec-pinned against a
    * plain-Scala reference instead. */
  def compressionScreen(docs: DataFrame, id: Column, text: Column,
      lo: Double = 0.2, hi: Double = 1.1): DataFrame = {
    val ratio = graft.functions.CompressExpressions.deflateRatio(text)
    docs.select(id.as("did"),
      length(text).cast("long").as("n_chars"),
      ratio.as("deflate_ratio"))
      .withColumn("keep", coalesce(
        col("deflate_ratio") >= lo && col("deflate_ratio") <= hi,
        lit(false)))
  }

  /** Encoding-damage scan — ingest QA for mojibake: U+FFFD replacement
    * characters (the tombstone every lossy transcode leaves) and C0/DEL
    * control bytes that survive into text. Pure per-row string
    * arithmetic, mirrored exactly in SQL. */
  def encodingScan(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val repl = lit("�")
    val nRepl = length(text) - length(replace(text, repl, lit("")))
    val nCtrl = length(text) -
      length(regexp_replace(text, "[\\x00-\\x08\\x0b-\\x1f\\x7f]", ""))
    docs.select(id.as("did"),
      nRepl.cast("long").as("n_repl"),
      nCtrl.cast("long").as("n_ctrl"))
      .withColumn("is_suspect", col("n_repl") > 0 || col("n_ctrl") > 0)
  }

  /** Heavy-hitter word n-grams by two-phase sample-then-verify: phase 1
    * aggregates only a deterministic 1/`rate` occurrence sample (each
    * OCCURRENCE keeps/drops by a hash of gram ⊕ doc ⊕ position, so a
    * frequent gram's sample count concentrates at freq/rate), keeps
    * grams whose sample count clears `minCount/(2·rate)` as candidates;
    * phase 2 computes EXACT counts for the candidates alone (a semi-join
    * probe before the aggregate) and emits the top `k` with true count ≥
    * `minCount` (count desc, gram asc). The shape is the point: exact
    * top-k n-grams naively aggregates a key space as large as the corpus
    * token count; here the full-cardinality aggregate runs over 1/rate
    * of the occurrences, and the exact pass aggregates only candidate
    * occurrences. Deterministic end to end — same sample, same answer,
    * every run and every engine (vs Spark's count_min_sketch, whose
    * binary sketch no oracle can replay). The determinism cuts both
    * ways: because the sample is hash-fixed rather than random, a heavy
    * gram whose occurrences happen never to hash into the sample is
    * missed on EVERY run for that corpus (corpus-fixed, not re-rollable
    * — pinned by the spec); the verify phase can only remove false
    * candidates, never recover a sample miss. Choose `rate` against
    * `minCount` so the expected sample count `minCount/rate` stays well
    * above the `minCount/(2·rate)` admission bar. */
  def heavyNgrams(docs: DataFrame, id: Column, text: Column, n: Int = 3,
      rate: Int = 8, minCount: Long = 16L, k: Int = 20): DataFrame = {
    require(rate >= 1 && k >= 1 && minCount >= 1)
    import graft.functions.HashExpressions.polyHash
    import org.apache.spark.sql.expressions.Window
    // Both passes (sample-count and exact verify) re-run the per-doc
    // n-gram fan-out in the scan's stage; spread a tiny single-split
    // scan so it isn't one task (no-op at scale — Fanout contract).
    // The word array is HOISTED into a projected column (the q139 /
    // shingle-hoist rule): as a captured subexpression the gram
    // transform re-ran the full split() per gram position — quadratic
    // in document length.
    val grams = Fanout.spread(docs)
      .select(id.as("did"), split(text, " ").as("_hw"))
      .select(col("did"), posexplode(
        when(size(col("_hw")) >= n,
          transform(sequence(lit(1), size(col("_hw")) - lit(n - 1)),
            i => concat_ws(" ", slice(col("_hw"), i, lit(n)))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("p0", "gram")))
    val occKey = polyHash(concat(col("gram"), lit("#"),
      col("did").cast("string"), lit("#"), (col("p0") + 1).cast("string")))
    val sampled = grams.where(pmod(occKey, lit(rate.toLong)) === 0)
    val floor = math.max(1L, minCount / (2L * rate))
    val candidates = sampled.groupBy("gram")
      .agg(count(lit(1)).as("sample_cnt"))
      .where(col("sample_cnt") >= floor)
      .select("gram")
    val exact = grams.join(candidates, Seq("gram"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    exact.withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("gram"))).cast("long"))
      .where(col("rk") <= k)
      .select(col("rk"), col("gram"), col("cnt"))
  }
}
