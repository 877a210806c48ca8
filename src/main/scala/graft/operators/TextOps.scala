package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHash._

/** Text-analysis operators for training-data curation: language id, quality
  * scoring, token counting, document fingerprinting. All pure Column
  * expressions (codegen'd, no UDFs) — embarrassingly parallel row-local
  * transforms that scale linearly. */
object TextOps {

  /** Stopword profiles for the n-gram/stopword language-id heuristic.
    * Deterministic fixed lists; priority order breaks score ties. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "los", "que", "y", "por", "con", "para", "como"),
    "fr" -> Seq("le", "les", "et", "une", "est", "dans", "pour", "sur"))

  private def scoreFor(ws: Column, words: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(words))).cast("double") /
      size(ws).cast("double")

  /** Language-ID: per-language stopword hit-rate scores + argmax prediction
    * (first language in profile order wins ties). */
  def langId(docs: DataFrame, id: Column, text: Column,
      keep: Seq[Column] = Nil): DataFrame = {
    // keep: caller-named row-local columns riding the same projection
    // (q176 carries the stored label this way — no doc_id join-back)
    val ws = split(text, " ")
    val scored = docs.select(
      (id.as("doc_id") +: keep) ++
        LangProfiles.map { case (lang, stop) =>
          scoreFor(ws, stop).as(s"score_$lang")
        }: _*)
    val best = LangProfiles.map(p => col(s"score_${p._1}"))
      .reduce((a, b) => greatest(a, b))
    val pred = LangProfiles.foldRight(lit("und"): Column) {
      case ((lang, _), acc) =>
        when(col(s"score_$lang") === best && best > 0, lit(lang)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Unicode-script composition per document — the char-class
    * complement of [[langId]]'s stopword evidence (and the standard
    * pre-langid router: CJK/Cyrillic-dominant docs should never reach
    * a Latin stopword model), plus a wrong-script-contamination signal
    * for ingest QA (a "Latin" source suddenly emitting CJK runs is a
    * crawl or transcode fault). Counts per class come from
    * length-minus-stripped arithmetic — one regexp per class, pure
    * row-local codegen, zero shuffle. `dominant` is the max-count
    * class with the fixed tie order latin > cjk > cyrillic > digit >
    * other; `is_mixed` flags ≥ 2 letter-script classes present. */
  def scriptMix(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val len = length(text)
    def stripped(re: String) = len - length(regexp_replace(text, re, ""))
    val nLatin = stripped("[A-Za-z]")
    val nDigit = stripped("[0-9]")
    val nCjk = stripped("[\u4e00-\u9fff]")
    val nCyr = stripped("[\u0400-\u04ff]")
    val nSpace = stripped(" ")
    val nOther = len - nLatin - nDigit - nCjk - nCyr - nSpace
    val dom = when(nLatin >= nCjk && nLatin >= nCyr && nLatin >= nDigit &&
        nLatin >= nOther, "latin")
      .when(nCjk >= nCyr && nCjk >= nDigit && nCjk >= nOther, "cjk")
      .when(nCyr >= nDigit && nCyr >= nOther, "cyrillic")
      .when(nDigit >= nOther, "digit")
      .otherwise("other")
    docs.select(id.as("did"),
      nLatin.cast("long").as("n_latin"),
      nCjk.cast("long").as("n_cjk"),
      nCyr.cast("long").as("n_cyrillic"),
      nDigit.cast("long").as("n_digit"),
      nOther.cast("long").as("n_other"),
      when(len > 0, graft.functions.Exact.round6z(
        nLatin.cast("double") / len.cast("double"))).as("latin_ratio"),
      dom.as("dominant"),
      ((nLatin > 0).cast("int") + (nCjk > 0).cast("int") +
        (nCyr > 0).cast("int") >= 2).as("is_mixed"))
  }

  /** The fixed-weight composite of [[qualityScore]] as a reusable Column —
    * shared with the per-source aggregation ([[sourceStats]]) so both
    * compute the identical score. */
  def qualityComposite(text: Column): Column = {
    val ws = split(text, " ")
    val allStop = LangProfiles.flatMap(_._2).distinct
    val nWords = size(ws).cast("long")
    val digitRatio =
      length(regexp_replace(text, "[^0-9]", "")).cast("double") /
        length(text).cast("double")
    val stopRatio = size(filter(ws, w => w.isInCollection(allStop)))
      .cast("double") / nWords.cast("double")
    lit(0.5) * stopRatio +
      lit(0.3) * least(nWords.cast("double") / lit(100.0), lit(1.0)) +
      lit(0.2) * (lit(1.0) - digitRatio)
  }

  /** Quality signals: word count, mean word length, digit ratio, stopword
    * ratio, and a fixed-weight composite score in [0,1]-ish. */
  def qualityScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val ws = split(text, " ")
    val allStop = LangProfiles.flatMap(_._2).distinct
    val nWords = size(ws).cast("long")
    val avgWordLen = length(text).cast("double") / nWords.cast("double")
    val digitRatio =
      length(regexp_replace(text, "[^0-9]", "")).cast("double") /
        length(text).cast("double")
    val stopRatio = size(filter(ws, w => w.isInCollection(allStop)))
      .cast("double") / nWords.cast("double")
    docs.select(
      id.as("doc_id"),
      nWords.as("n_words"),
      avgWordLen.as("avg_word_len"),
      digitRatio.as("digit_ratio"),
      stopRatio.as("stopword_ratio"),
      qualityComposite(text).as("quality_score"))
  }

  /** Token counts: whitespace tokens, regex word-ish tokens, and a BPE-style
    * estimate (≈ 1 token per 4 chars). */
  def tokenCounts(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("doc_id"),
      size(split(text, " ")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(text, lit("[a-z]+|[0-9]+"), lit(0))).cast("long")
        .as("n_re_tokens"),
      ceil(length(text).cast("double") / lit(4.0)).cast("long")
        .as("n_bpe_est"))

  /** Deterministic train/val/test assignment by content hash: bucket =
    * fingerprint mod 100; < trainPct → train, < trainPct+valPct → val,
    * else test. Hash-based (not RNG) sampling is reproducible across runs,
    * partitionings, and engines — the only kind of split that can be
    * re-derived from the data itself at 100 TB. */
  def hashSplit(docs: DataFrame, id: Column, text: Column,
      trainPct: Int = 80, valPct: Int = 10,
      keep: Seq[Column] = Nil): DataFrame = {
    val bucket = pmod(graft.functions.HashExpressions.polyHash(text), lit(100))
    docs.select(
      id.as("doc_id") +:
        bucket.as("bucket") +:
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test").as("split") +:
        keep: _*)
  }

  /** Leakage-safe train/val/test assignment: [[hashSplit]] leaks near-
    * duplicates across splits (two 0.9-Jaccard docs hash to independent
    * buckets, so a test doc's near-copy sits in train — contamination the
    * decontamination pass can't see because it IS the same corpus). Here
    * the whole near-dup cluster moves as one unit: every member gets the
    * bucket of the cluster's MIN content hash. Min-of-member-hashes (not
    * the min-id representative's hash) keeps the assignment id-independent
    * — re-ingesting the corpus with different doc ids reproduces the same
    * split, the property that makes hash splits re-derivable at 100 TB.
    * Also emits `n_members` and `sample_weight` = 1/|cluster| — the
    * duplicate-aware upsampling correction (each near-dup GROUP
    * contributes unit weight to training, however many copies survived).
    *
    * `clusters` is (doc_id, cluster_id) from [[DedupOps.dedupClusters]];
    * docs absent from it are singletons (their own cluster). Cost: one
    * hash projection, one left join on doc_id, one groupBy cluster_id +
    * join back — all key-partitioned, no skew beyond the (capped) cluster
    * sizes; AQE broadcasts the cluster side when it is small. */
  def leakageSafeSplit(docs: DataFrame, id: Column, text: Column,
      clusters: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val base = docs.select(id.as("doc_id"),
      graft.functions.HashExpressions.polyHash(text).as("own_hash"))
    val grouped = base
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("own_hash"))
    val perCluster = grouped.groupBy("cluster_id").agg(
      count(lit(1)).as("n_members"), min("own_hash").as("grp_hash"))
    val bucket = pmod(col("grp_hash"), lit(100))
    grouped.join(perCluster, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        (lit(1.0) / col("n_members")).as("sample_weight"),
        bucket.as("bucket"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** The persisted per-cluster index that gives [[leakageSafeSplit]] an
    * INCREMENTAL face ([[graft.streaming.Streaming.leakageSafeSplitStream]]):
    * one row per surviving LSH band bucket of the corpus, carrying the
    * bucket's cluster and that cluster's established split key —
    * `(band, b, cluster_id, grp_hash, n_members)`. A new doc whose
    * signature lands in a bucket inherits the cluster's `grp_hash` bucket,
    * so ingesting a near-dup of a test doc can never assign it to train.
    *
    * Bucket→cluster is well-defined when `clusters` comes from the raw
    * LSH candidate graph (the q88 shape): every doc sharing a surviving
    * bucket is a candidate pair, hence one connected component — so each
    * bucket maps to exactly one cluster. For clusters built over a
    * VERIFIED pair graph a bucket may straddle clusters; the index then
    * keeps the min-`grp_hash` cluster per bucket (deterministic, and the
    * conservative choice: ties break toward the same bucket every member
    * of the straddle would produce on re-ingest). Buckets larger than
    * `maxBucket` are EXCLUDED — [[graft.operators.DedupOps.lshCandidatePairs]]
    * never paired through them, so routing a new doc by one would assign
    * cluster membership the batch split never saw (parity over the same
    * corpus requires the same drop rule).
    *
    * Scale shape: the corpus signature pass (`minhashSignatures`), two
    * key-partitioned joins, and a (band, b) aggregation whose output is
    * ≤ 2 rows per corpus doc — small enough to persist next to the corpus
    * and broadcast into every ingest micro-batch. */
  def clusterSplitIndex(docs: DataFrame, id: Column, text: Column,
      clusters: DataFrame, w: Int,
      maxBucket: Int = DedupOps.MaxBucket): DataFrame = {
    val base = docs.select(id.as("doc_id"),
      graft.functions.HashExpressions.polyHash(text).as("own_hash"))
    val grouped = base
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("own_hash"))
    val perCluster = grouped.groupBy("cluster_id").agg(
      count(lit(1)).as("n_members"), min("own_hash").as("grp_hash"))
    DedupOps.bandRows(DedupOps.minhashSignatures(docs, id, text, w))
      .join(grouped.select("doc_id", "cluster_id"), Seq("doc_id"))
      .join(perCluster, Seq("cluster_id"))
      .groupBy(col("band"), col("b"))
      .agg(count(lit(1)).as("_n"),
        min(struct(col("grp_hash"), col("cluster_id"), col("n_members")))
          .as("_best"))
      .where(col("_n") <= maxBucket)
      .select(col("band"), col("b"), col("_best.cluster_id").as("cluster_id"),
        col("_best.grp_hash").as("grp_hash"),
        col("_best.n_members").as("n_members"))
  }

  /** Repetition/boilerplate signals: distinct-word ratio and top-word
    * share — the row-local redundancy screens a curation pipeline applies
    * before (and independently of) cross-document dedup. Pure higher-order
    * array Columns; per-row cost O(distinct × words), no shuffle. */
  def repetitionScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // the top-frequency scan below is O(words²) per doc — spread a tiny
    // single-split scan first (no-op at scale). The word array is a
    // PROJECTED column (the q139 rule): captured inside the top-freq
    // lambda, split() re-ran per (distinct word × word) probe — cubic
    // in document length; as a column reference each probe is O(words).
    val ws = col("_rw")
    val nWords = size(ws).cast("long")
    val nDistinct = size(array_distinct(ws)).cast("long")
    val topFreq = array_max(transform(array_distinct(ws),
      w => size(filter(ws, x => x === w))))
    Fanout.spread(docs)
      .select(id.as("doc_id"), split(text, " ").as("_rw"))
      .select(
        col("doc_id"),
        nWords.as("n_words"),
        nDistinct.as("n_distinct_words"),
        (lit(1.0) - nDistinct.cast("double") / nWords.cast("double"))
          .as("dup_word_ratio"),
        (topFreq.cast("double") / nWords.cast("double")).as("top_word_ratio"))
  }

  /** Gopher repetition rules (Rae et al. 2021, arXiv:2112.11446, Table
    * A1): the thirteen per-document self-repetition signals — duplicate
    * line/paragraph fractions (count- and character-weighted), top
    * 2/3/4-gram character fractions, duplicated 5..10-gram character
    * coverage — plus the `keep` verdict at the published thresholds.
    * Finer-grained than [[repetitionScore]] (which screens on word-level
    * ratios): these are the signals the published curation stacks
    * threshold. One codegen'd kernel pass per row
    * ([[graft.functions.RepetitionSignals]], hash-map counting, O(len)
    * per n-value), zero shuffle; signal conventions and rounding are
    * documented on the kernel and replayed by the q126 oracle. */
  def gopherRepetition(docs: DataFrame, id: Column, text: Column): DataFrame = {
    docs.select(id.as("doc_id"),
        graft.functions.RepetitionExpressions.repetitionSignals(text).as("_r"))
      .select(col("doc_id"), col("_r.*"))
  }

  /** Gopher quality rules (Rae et al. 2021 Table A1, the non-repetition
    * half — [[gopherRepetition]] is the other): per-document structural
    * quality signals and the keep verdict at the published thresholds —
    * word count in [50, 100k], mean word length in [3, 10], symbol-to-
    * word ratio (`#` and `...`) ≤ 0.1, ≤ 90% bullet-started lines,
    * ≤ 30% ellipsis-ended lines, ≥ 80% of words with an alphabetic
    * character, and ≥ 2 of the canonical eight stop words present.
    * Pure row-local array/HOF Columns, zero shuffle; fractions round
    * 1e-6 (verdicts compare the ROUNDED values, engine-reproducible).
    * Conventions the paper leaves open, pinned here and in the q129
    * oracle: words = non-empty single-space splits; `...` counts
    * non-overlapping leftmost; a bullet line starts with `•`, `-` or
    * `*`; an ellipsis line ends with `...` or `…`; line fractions are
    * over non-empty lines (0 when none). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** `extra`: caller-named row-local columns (computed from the same
    * `text`) appended in the SAME single projection — the q171/q177
    * pass-through discipline, so a consumer needing the signals PLUS
    * another per-doc column (q186's funnel label) pays one pass, not a
    * corpus-scale doc_id join-back. */
  def gopherQuality(docs: DataFrame, id: Column, text: Column,
      extra: Seq[Column] = Nil): DataFrame = {
    val ws = filter(split(text, " "), w => length(w) > 0)
    val lns = filter(split(text, "\n"), l => length(l) > 0)
    val nW = size(ws).cast("long")
    val nL = size(lns).cast("long")
    val wordChars = aggregate(ws, lit(0L), (a, x) => a + length(x).cast("long"))
    val nHash = (length(text) - length(regexp_replace(text, "#", "")))
      .cast("long")
    val nEllipsis = (size(split(text, "\\.\\.\\.", -1)) - 1).cast("long")
    val nBullet = size(filter(lns,
      l => substring(l, 1, 1).isin("•", "-", "*"))).cast("long")
    val nEllipsisEnd = size(filter(lns,
      l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = GopherStopWords
      .map(s => when(array_contains(ws, s), 1L).otherwise(0L))
      .reduce(_ + _)
    def frac(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
        .otherwise(lit(0.0))
    docs
      .select(Seq(id.as("doc_id"), nW.as("n_words"), nL.as("n_lines"),
        frac(wordChars, nW).as("mean_word_len"),
        frac(nHash + nEllipsis, nW).as("symbol_word_ratio"),
        frac(nBullet, nL).as("bullet_line_frac"),
        frac(nEllipsisEnd, nL).as("ellipsis_line_frac"),
        frac(nAlpha, nW).as("alpha_word_frac"),
        nStop.as("n_stop_words")) ++ extra: _*)
      .withColumn("keep",
        col("n_words") >= 50L && col("n_words") <= 100000L &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("n_stop_words") >= 2L)
  }

  /** PII pattern scan: match COUNTS for emails / phone shapes / URLs per
    * document (a redaction pre-screen). Counts only — extracted PII never
    * leaves the row. Patterns are RE2-compatible so the exact same regex
    * runs in engines restricted to linear-time matching; `(?i)` because a
    * redaction pre-screen must not let `John.Doe@Example.COM` through a
    * lowercase-only match. */
  val EmailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\d{3}[- ]\\d{3}[- ]\\d{4}"
  val UrlRe = "(?i)https?://[^ ]+"

  def piiScan(docs: DataFrame, id: Column, text: Column): DataFrame = {
    def n(re: String) =
      size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
    docs.select(
      id.as("doc_id"),
      n(EmailRe).as("n_emails"),
      n(PhoneRe).as("n_phones"),
      n(UrlRe).as("n_urls"))
  }

  /** Deterministic stratified sampling: keep a per-stratum fraction of
    * documents, selected by CONTENT HASH (bucket = polyHash(text) mod 1e4 <
    * fraction·1e4) rather than RNG — the only sampling that is reproducible
    * across runs, partitionings, retries, and engines at 100 TB scale, and
    * that samples exact duplicates identically (so dedup-then-sample and
    * sample-then-dedup commute). Same hash as [[hashSplit]], so sample
    * membership and train/val/test assignment stay mutually consistent.
    * Strata not in `fractions` are dropped (fraction 0). The bucket is the
    * AVALANCHED hash ([[graft.functions.TextHash.sampleBucket]]) — the raw
    * polynomial hash is sequential over near-identical texts, which would
    * correlate their keep/drop decisions. */
  def stratifiedSample(docs: DataFrame, id: Column, text: Column,
      strata: Column, fractions: Map[String, Double],
      keep: Seq[Column] = Nil): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val bucket = sampleBucket(
      graft.functions.HashExpressions.polyHash(text), 10000)
    val thresh = fractions.foldLeft(lit(0): Column) {
      case (acc, (k, f)) =>
        when(strata === lit(k), lit(math.round(f * 10000).toInt)).otherwise(acc)
    }
    docs.where(bucket < thresh)
      .select(id.as("doc_id") +: strata.as("stratum") +: keep: _*)
  }

  /** Corpus vocabulary statistics: document frequency and term frequency
    * per word, top-k by document frequency (word tiebreak — deterministic
    * under ties at the k boundary). The corpus-level complement of the
    * row-local text ops: the classic one-shuffle wordcount shape
    * (explode → groupBy word with map-side partial aggregation), then a
    * TakeOrdered top-k — no global sort. Feeds stopword derivation and
    * vocabulary builds. */
  def vocabulary(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    docs.select(id.as("doc_id"), explode(split(text, " ")).as("word"))
      .groupBy("word")
      .agg(
        countDistinct(col("doc_id")).as("doc_freq"),
        count(lit(1)).as("term_freq"))
      .orderBy(col("doc_freq").desc, col("word"))
      .limit(k)

  /** Whole-document rolling-hash fingerprint (exact-dup key). */
  def fingerprint(docs: DataFrame, id: Column, text: Column): DataFrame = {
    docs.select(id.as("doc_id"),
      graft.functions.HashExpressions.polyHash(text).as("fingerprint"))
  }

  /** Pack documents into fixed token-budget training chunks by contiguous
    * fill in id order: a doc lands in chunk `floor(startOffset / budget)`,
    * where startOffset is the EXCLUSIVE prefix sum of per-doc token
    * estimates (the [[tokenCounts]] BPE estimate). The prefix sum is
    * hierarchical — an intra-block running sum (window partitioned by
    * `block = id div blockSize`, so per-task work is bounded by blockSize)
    * plus exclusive block offsets (a global window, but over corpus/blockSize
    * AGGREGATE rows — ~10⁶ rows for a 10¹²-doc corpus, never the corpus
    * itself) — the distributed prefix-sum shape; a single-partition window
    * over all docs would serialize the job. Boundaries use INTEGER division
    * (`div`), exact for any non-negative id/offset at any scale — a double
    * `floor(a / b)` would misplace boundary docs once offsets pass 2⁵³. */
  def packSequences(docs: DataFrame, id: Column, text: Column, budget: Long,
      blockSize: Long = 1L << 20): DataFrame = {
    require(budget > 0 && blockSize > 0, "budget and blockSize must be > 0")
    val toks = ceil(length(text).cast("double") / lit(4.0)).cast("long")
    val base = docs
      .select(id.as("doc_id"), toks.as("toks"))
      .withColumn("block", expr(s"doc_id div $blockSize"))
    blockPrefixSum(base, Nil, col("toks"))
      .withColumn("chunk_id", expr(s"strt div $budget"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** Exclusive hierarchical prefix sum — the packing family's shared
    * placement kit: over `base` (which must carry `doc_id`, `block`,
    * and the `partCols` columns), adds `strt` = the sum of `weight`
    * over all EARLIER rows (doc_id order) of the same `partCols`
    * group (globally when `partCols` is empty). The intra-(group,
    * block) running-sum window bounds per-task work by blockSize;
    * per-(group, block) totals aggregate to a tiny frame whose
    * exclusive running sum supplies block offsets — the distributed
    * prefix-sum shape shared by [[packSequences]],
    * [[packSequencesBucketed]], [[packTokenSequences]], and
    * [[histogramPack]]. With `broadcastOffsets` the offset frame
    * ships broadcast (right when it is ~one row per block); offset
    * frames that could outgrow a broadcast at corpus scale
    * ([[histogramPack]]'s per-(len, block)) instead join on the SAME
    * (group, block) hash partitioning the window just produced — no
    * extra corpus exchange. `weight` = `lit(1L)` makes `strt` the
    * 0-based in-group rank.
    *
    * `base` is consumed TWICE (the totals aggregate and the window) —
    * deliberately: the totals aggregate map-side over its own upstream
    * pass and shuffle one partial row per (group, block, task), which
    * measured FASTER than sharing the window's exchange (r19 session 3:
    * an explicit repartition(keys) A/B made q210 +0.5 s — the shared
    * shuffle carries full token arrays and the totals consumer re-read
    * them through the few-blocks partitioning instead of aggregating in
    * parallel before the wire). Callers with an EXPENSIVE upstream
    * materialize it first ([[histogramPack]]'s narrow checkpoint). */
  private[operators] def blockPrefixSum(base: DataFrame,
      partCols: Seq[String], weight: Column,
      broadcastOffsets: Boolean = true): DataFrame = {
    val part = partCols.map(col)
    val wIn = Window.partitionBy(part :+ col("block"): _*)
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBlocks = Window.partitionBy(part: _*).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val weighted = base.withColumn("_w", weight)
    val off = weighted.groupBy(part :+ col("block"): _*)
      .agg(sum("_w").as("btot"))
      .withColumn("boff", coalesce(sum("btot").over(wBlocks), lit(0L)))
      .select((partCols :+ "block").map(col) :+ col("boff"): _*)
    weighted
      .withColumn("_cum", sum("_w").over(wIn))
      .join(if (broadcastOffsets) broadcast(off) else off,
        partCols :+ "block")
      .withColumn("strt", col("boff") + col("_cum") - col("_w"))
      .drop("_w", "_cum", "boff")
  }


  /** Length-bucketed sequence packing — the length-grouped-batching
    * counterpart of [[packSequences]]: docs are first routed to
    * power-of-two length buckets (bucket = bit-length of the token
    * count, an INTEGER computation via `bin()` so both engines agree
    * exactly — `ceil(log2)` sits on a float boundary at exact powers),
    * then packed independently per bucket with the same two-level
    * distributed prefix sum. Batches drawn from one bucket hold
    * similarly-sized docs, so padding-to-longest waste drops (the
    * standard length-grouped batching trick); the price is one extra
    * window partition key, not an extra shuffle. Chunk ids are scoped
    * per bucket. */
  def packSequencesBucketed(docs: DataFrame, id: Column, text: Column,
      budget: Long, blockSize: Long = 1L << 20): DataFrame = {
    require(budget > 0 && blockSize > 0, "budget and blockSize must be > 0")
    val toks = ceil(length(text).cast("double") / lit(4.0)).cast("long")
    val base = docs
      .select(id.as("doc_id"), toks.as("toks"))
      .withColumn("bucket", length(bin(col("toks"))).cast("long"))
      .withColumn("block", expr(s"doc_id div $blockSize"))
    blockPrefixSum(base, Seq("bucket"), col("toks"))
      .withColumn("chunk_id", expr(s"strt div $budget"))
      .groupBy("bucket", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** Token-EXACT context-window packing — the GPT-pretraining data
    * layout ([[packSequences]] plans chunks at document granularity;
    * this operator emits the actual packed token streams): documents'
    * token arrays are concatenated in `doc_id` order, `sep` (when
    * given — `<|endoftext|>`'s token in a GPT pipeline) appended after
    * EVERY document, and the global stream cut into sequences of
    * exactly `ctx` tokens, documents SPLITTING across sequence
    * boundaries (only the final sequence may be short). Per sequence:
    * the packed `tokens`, segment/boundary stats, and `doc_starts` —
    * the in-sequence offsets where a document begins, i.e. the reset
    * points an attention mask that stops cross-document attention
    * needs (reference behavior: Orca-ztbus-python-processor has no
    * tokenizer tier; this extends the q54 packing face to the token
    * level).
    *
    * Scale shape: the global token offset is the [[packSequences]]
    * hierarchical prefix sum (intra-block window + broadcast
    * block-offset table — never a corpus-wide single-partition
    * window); each document then row-locally EXPLODES into its
    * covered sequence ids (`strt div ctx .. (strt+n-1) div ctx` —
    * bounded by `n/ctx + 1` rows) with an array `slice` per segment,
    * and one aggregation keyed on `seq_id` (uniform by construction —
    * every group holds exactly `ctx` tokens) assembles each sequence
    * from its sorted segments. Two shuffles total, both uniform; the
    * per-group state is bounded by `ctx`, so executor memory is flat
    * at any corpus size. The assembly HOFs (`array_sort`/`flatten`/
    * `transform` over a handful of segments per sequence) run on
    * group-sized arrays, not the corpus hot path — the heavy work
    * (tokenization) stays upstream in whole-stage codegen.
    *
    * Documents with NULL or (when `sep` is None) empty token arrays
    * contribute nothing to the stream; with `sep` set, an empty
    * document still contributes its separator — the packed stream is
    * the identity `flatten(docs.sortBy(doc_id).map(tokens ++ sep))`
    * either way (spec-pinned, with block-size invariance). */
  def packTokenSequences(docs: DataFrame, id: Column, tokens: Column,
      ctx: Int, sep: Option[String] = None,
      blockSize: Long = 1L << 20): DataFrame = {
    require(ctx > 0 && blockSize > 0, "ctx and blockSize must be > 0")
    require(sep.forall(_.nonEmpty), "sep token must be non-empty")
    val toks = sep match {
      case Some(t) => concat(tokens, array(lit(t)))
      case None    => tokens
    }
    val base = docs
      .select(id.as("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .where(col("n") > 0)
      .withColumn("block", expr(s"doc_id div $blockSize"))
    val placed = blockPrefixSum(base, Nil, col("n"))
    // One row per (document, covered sequence): in-doc slice bounds are
    // 0-based [lo, hi); slice positions fit Int because they are bounded
    // by the DOCUMENT's token count, never the corpus'.
    val segs = placed
      .withColumn("seq_id",
        explode(expr(s"sequence(strt div ${ctx}L, (strt + n - 1) div ${ctx}L)")))
      .withColumn("lo", greatest(col("seq_id") * ctx - col("strt"), lit(0L)))
      .withColumn("hi", least((col("seq_id") + 1) * ctx - col("strt"), col("n")))
      .select(col("seq_id"), struct(
        col("strt"),
        expr("slice(toks, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))").as("seg"),
        col("doc_id"),
        (col("lo") === 0L).as("starts_here"),
        (col("hi") === col("n")).as("ends_here")).as("part"))
    segs
      .groupBy("seq_id")
      // distinct strt per document ⇒ array_sort's field-order struct
      // compare is a total order ⇒ deterministic assembly.
      .agg(array_sort(collect_list(col("part"))).as("parts"))
      .select(
        col("seq_id"),
        flatten(expr("transform(parts, p -> p.seg)")).as("tokens"),
        size(col("parts")).cast("long").as("n_segments"),
        expr("aggregate(parts, 0L, (a, p) -> a + IF(p.ends_here, 1L, 0L))")
          .as("n_docs_end"),
        expr("parts[0].doc_id").as("first_doc"),
        expr("element_at(parts, -1).doc_id").as("last_doc"),
        expr(s"transform(filter(parts, p -> p.starts_here)," +
          s" p -> p.strt - seq_id * ${ctx}L)").as("doc_starts"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .select("seq_id", "tokens", "n_tokens", "n_segments", "n_docs_end",
        "first_doc", "last_doc", "doc_starts")
  }

  /** Padding-free WHOLE-document packing ([[HistogramPacking]] — the
    * SFT counterpart of [[packTokenSequences]]: examples must not split
    * across sequences, so they are bin-packed into `ctx`-token packs
    * and the shortfall is padding): per document, the assigned
    * `pack_id` + `slot`, with `len` clamped to `ctx` (`truncated`
    * flags documents longer than the context window — the standard
    * pre-truncation).
    *
    * Scale shape: the ONLY driver-side work is the length histogram —
    * `ctx` rows regardless of corpus size (a bounded-by-construction
    * collect, the bpeLearnSampled precedent) — fed to the pure
    * [[HistogramPacking.pack]]; the document→pack assignment is then
    * CLOSED-FORM from (length, per-length rank) against the broadcast
    * group table (driver-scale rows: groups × combo lengths). The
    * per-length rank is hierarchical like [[packSequences]]' prefix
    * sum — an intra-(len, block) `row_number` plus per-len exclusive
    * block offsets over (len, block) AGGREGATE rows — so no single
    * task ever ranks a whole length class (at 100 TB one popular
    * length can hold billions of documents; `Window.partitionBy(len)`
    * alone would serialize them). The offsets join shares the
    * (len, block) hash partitioning the rank window just produced —
    * no extra corpus exchange. */
  def histogramPack(docs: DataFrame, id: Column, nTokens: Column,
      ctx: Long, blockSize: Long = 1L << 20): DataFrame = {
    require(ctx > 0 && blockSize > 0, "ctx and blockSize must be > 0")
    // Materialize the NARROW placement input once (doc_id, n, len,
    // block — ~32 B/doc): the histogram collect and the rank/assign
    // pass are two consumers, and without the boundary each re-runs
    // the upstream (for q208 the full corpus BPE tokenize — QPlan
    // showed three corpus-scale token stages per run). The artifact
    // is a fixed few-longs sidecar per document — bounded at any
    // corpus size, the LocalEdgeCap discipline of trading a
    // corpus-pass recompute for a size-known materialization.
    val base = docs
      .select(id.as("doc_id"), nTokens.cast("long").as("n"))
      .where(col("n") >= 1L)
      .withColumn("len", least(col("n"), lit(ctx)))
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .localCheckpoint(true)
    val hist = base.groupBy("len").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (hist.isEmpty) return base.select(col("doc_id"),
      col("n").as("n_tokens"), col("len"), lit(false).as("truncated"),
      col("n").as("pack_id"), col("n").as("slot"))
    val groups = HistogramPacking.pack(hist, ctx)
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = groups
      .flatMap(g => g.slots.map { case (l, k, off) =>
        (l, off, k, g.mult, g.packBase) })
      .toDF("slen", "soff", "k", "mult", "pack_base")
    // strt with weight 1 IS the 0-based rank within the length class
    blockPrefixSum(base, Seq("len"), lit(1L), broadcastOffsets = false)
      .join(broadcast(slots),
        col("len") === col("slen") && col("strt") >= col("soff") &&
          col("strt") < col("soff") + col("mult") * col("k"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("len"),
        (col("n") > lit(ctx)).as("truncated"),
        (col("pack_base") + expr("(strt - soff) div k")).as("pack_id"),
        expr("(strt - soff) % k").as("slot"))
  }

  /** Train/test contamination screen (n-gram decontamination): for every
    * TEST-split document ([[hashSplit]]), the fraction of its distinct
    * word-`w`-gram shingles that occur in ANY train-split document. The
    * train shingle set is a distinct hash column, the overlap a shuffled
    * hash join on the (uniform) shingle hash — both sides stream at corpus
    * scale; nothing is collected or crossed. */
  def contamination(docs: DataFrame, id: Column, text: Column, w: Int,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val sh = DedupOps.shingleHashes(docs, id, text, w)
    val splits = hashSplit(docs, id, text, trainPct, valPct)
      .select(col("doc_id"), col("split"))
    val labeled = sh.join(splits, "doc_id")
    val trainH = labeled.where(col("split") === "train")
      .select("h").distinct().withColumn("_hit", lit(1L))
    labeled.where(col("split") === "test")
      .join(trainH, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_in_train"))
      .withColumn("contamination",
        col("n_in_train").cast("double") / col("n_shingles").cast("double"))
  }

  /** Decontamination screen — the TRAIN-side face of [[contamination]]:
    * the train-split documents sharing at least `minOverlap` distinct
    * shingles with the test split, i.e. the rows a pipeline must DROP
    * before training so benchmark answers don't leak into the model.
    *
    * At corpus scale the train split IS the corpus, so the [[contamination]]
    * shape (shuffle one side's whole shingle stream into a hash join) moves
    * the 100 TB side. This operator inverts the asymmetry: the test split's
    * distinct shingle hashes are aggregated into ONE compact Bloom filter
    * (a few MB of binary that ships to every task like a broadcast), train
    * shingles are pruned ROW-LOCALLY against it — no shuffle, and on a
    * mostly-clean corpus ~everything dies here — and only the survivors
    * enter the exact semi-join that strips the filter's false positives.
    * Bloom filters have no false negatives, so the result is EXACT for ANY
    * filter sizing: `estimatedTestShingles` only tunes the false-positive
    * (i.e. wasted-verify) rate, and `bloomBitsPerItem = 0` disables the
    * prune entirely (the parity baseline PipelineOpsSpec pins against).
    *
    * Measured (DECISIONS.md): the prune pays for its build job exactly
    * when the held-out side is FAR smaller than train — the real
    * decontamination shape (a benchmark suite vs a corpus; measured
    * faster at a 98:1 split, slower at the synthetic 80/10/10 where the
    * "test" side is a tenth of the corpus). Size the filter to the test
    * side (`estimatedTestShingles`); it is deliberately recomputed, not
    * cached, in the verify join (persist measured slower — same verdict
    * as the q70 persist experiment).
    *
    * The split is a pure function of the text ([[hashSplit]]'s bucket), so
    * both branches compute it row-locally — no (doc_id → split) join.
    *
    * NOTE: with the prune enabled this method runs an EAGER job at
    * DataFrame-construction time (the filter build's `head()` — the same
    * materialize-then-inline shape Catalyst's InjectRuntimeFilter gives
    * its build side); an empty test split is detected there (the
    * aggregate returns a NULL filter) and short-circuits to an empty
    * result explicitly — nothing can overlap an empty held-out set. */
  def decontaminate(docs: DataFrame, id: Column, text: Column, w: Int,
      minOverlap: Int = 1, trainPct: Int = 80, valPct: Int = 10,
      bloomBitsPerItem: Int = 8,
      estimatedTestShingles: Long = 1L << 22): DataFrame = {
    val withSplit = splitShingleFrame(docs, id, text, w, trainPct, valPct)
    val testH = withSplit.where(col("split") === "test")
      .select(explode(col("hs")).as("h")).distinct()
    val train = withSplit.where(col("split") === "train")
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
    val pruned =
      if (bloomBitsPerItem <= 0) train
      else {
        // The test-side pipeline deliberately runs twice (build job +
        // verify join) rather than being persisted: it is the SMALL side
        // by construction, and caching it measured slower and noisier
        // than recomputing it (cache write + lost pipelining, DECISIONS
        // .md), the same verdict as the q70 persist experiment.
        val bf = testH.agg(graft.functions.BloomFunctions
            .bloomAgg(col("h"), estimatedTestShingles, bloomBitsPerItem)
            .as("bf"))
          .head().getAs[Array[Byte]](0) // one row, filter-sized — the same
        // materialize-then-inline shape Catalyst's InjectRuntimeFilter
        // produces for its build side
        if (bf == null)
          // the aggregate saw zero rows: the test split is EMPTY, so no
          // train doc can overlap it — short-circuit rather than letting
          // a NULL literal null-propagate through the filter (same rows,
          // but implicit and it would still scan the train side)
          train.limit(0)
        else
          train.where(graft.functions.BloomFunctions
            .mightContain(col("h"), lit(bf)))
      }
    pruned.join(testH, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(max("n_shingles").as("n_shingles"),
        count(lit(1)).as("n_in_test"))
      .where(col("n_in_test") >= minOverlap)
      .withColumn("contamination",
        col("n_in_test").cast("double") / col("n_shingles").cast("double"))
  }

  /** The ONE definition of the train/val/test hash split plus the
    * distinct-shingle set per doc, shared by [[decontaminate]] (q79)
    * and [[contaminationReport]] (q179): the report is only meaningful
    * as the flip side of the drop list, so the split frame must be a
    * single piece of code — a drift between the two would attribute a
    * dropped train doc to the wrong split and fail silently. */
  private def splitShingleFrame(docs: DataFrame, id: Column, text: Column,
      w: Int, trainPct: Int, valPct: Int): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val bucket = pmod(hashes.polyHash(text), lit(100))
    // per-doc shingle hashing rides the scan's stage; spread a tiny
    // single-split scan first (no-op at scale)
    Fanout.spread(docs).select(
      id.as("doc_id"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"),
      array_distinct(hashes.shingleHashes(text, w)).as("hs"))
  }

  /** Per-eval-item contamination report — the flip side of
    * [[decontaminate]]: q79 answers "which TRAIN docs must drop";
    * this answers the governance question "which TEST items are
    * compromised, how badly, and by whom" — the table an eval-integrity
    * review actually reads (Brown et al. 2020 §4 report exactly this
    * per-benchmark exposure). For every test-split doc with at least
    * one train doc sharing ≥ `minOverlap` distinct NON-boilerplate
    * w-shingles: the number of such train docs, the worst offender's
    * shared-shingle count, and the offender id itself (ties to the
    * smaller id via a struct max — deterministic in both engines).
    *
    * Boilerplate guard (the [[WinnowOps]] `maxDf` precedent,
    * `WinnowOps.scala:62`): a shingle present in MORE than `maxDf`
    * train documents is boilerplate — a license banner, nav chrome, a
    * markdown header — not contamination evidence, and it is also a
    * quadratic join key: ONE such shingle shared by 10⁶ train docs and
    * 10⁴ test docs is a 10¹⁰-row join input before any grouping can
    * bound it. Such shingles are pruned from BOTH sides before the
    * pair join and surfaced instead as a per-test-item
    * `boilerplate_shingles` count, so a test item whose only overlap
    * with the corpus is boilerplate still gets a row (with
    * `n_train_docs = 0` and NULL offender columns) — the reviewer sees
    * "overlaps, but only via boilerplate" rather than nothing.
    *
    * Shape: the q79 join reversed and grouped per (test, train) pair
    * first, then per test doc. The pair-join INPUT is now bounded by
    * `maxDf` per shingle (each hash key fans out to ≤ maxDf train
    * rows), the grouped output by true overlap; the df frame is
    * shingle-cardinality and joins on the same hash key — no broadcast
    * assumption, so a boilerplate-heavy corpus cannot blow either the
    * driver or a join key. */
  def contaminationReport(docs: DataFrame, id: Column, text: Column,
      w: Int, minOverlap: Int = 2, trainPct: Int = 80, valPct: Int = 10,
      maxDf: Int = 64): DataFrame = {
    val withSplit = splitShingleFrame(docs, id, text, w, trainPct, valPct)
    val test = withSplit.where(col("split") === "test")
      .select(col("doc_id").as("test_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
    val trainAll = withSplit.where(col("split") === "train")
      .select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
    // `hs` is per-doc distinct, so count(*) per hash IS the train
    // document frequency; the hot set is ≤ n_train_shingles / maxDf rows
    val hot = trainAll.groupBy("h").agg(count(lit(1)).as("_df"))
      .where(col("_df") > maxDf).select("h")
    val train = trainAll.join(hot, Seq("h"), "left_anti")
    val testKept = test.join(hot, Seq("h"), "left_anti")
    val boiler = test.join(hot, Seq("h"), "left_semi")
      .groupBy("test_id").agg(
        max(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("boilerplate_shingles"))
    val pairs = testKept.join(train, "h")
      .groupBy("test_id", "train_id")
      .agg(max(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("shared"))
      .where(col("shared") >= minOverlap)
    val contaminated = pairs.groupBy("test_id").agg(
        max(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("n_train_docs"),
        max(struct(col("shared").as("sh"),
          (-col("train_id")).as("ni"))).as("_m"))
      .select(col("test_id"), col("n_shingles"), col("n_train_docs"),
        col("_m.sh").as("max_shared"),
        (-col("_m.ni")).as("worst_train_id"))
    contaminated.join(
        boiler.select(col("test_id"), col("n_shingles").as("_bns"),
          col("boilerplate_shingles")),
        Seq("test_id"), "full_outer")
      .select(col("test_id"),
        coalesce(col("n_shingles"), col("_bns")).as("n_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        col("max_shared"), col("worst_train_id"),
        coalesce(col("boilerplate_shingles"), lit(0L))
          .as("boilerplate_shingles"))
      .withColumn("exposure", graft.functions.Exact.round6z(
        col("max_shared").cast("double") / col("n_shingles").cast("double")))
  }

  /** Deterministic shuffle-and-shard — the OUTPUT stage of a training-data
    * pipeline: every document gets a shard and an in-shard position, both
    * pure functions of (text, doc_id), so the "random" order is
    * reproducible across runs, engines, and partitionings, and any shard
    * can be regenerated alone. The order key is the avalanched content
    * hash ([[graft.functions.TextHash.sampleBucket]]'s mix — raw
    * polynomial hashes are SEQUENTIAL for near-identical texts) with
    * `doc_id` folded in first, so exact duplicate texts still spread
    * across shards instead of pinning one shard (the boilerplate-heavy
    * corpus case).
    *
    * Plan shape: one exchange on `shard` + an in-partition sort for
    * `row_number` — parallelism = `nShards`, which at corpus scale is the
    * number of output files (large); never a global single-partition
    * sort.
    *
    * All modular steps use `pmod`, so the key stays in [0, P) for ANY
    * `doc_id` sign — a negative id under plain `%` would give a negative
    * order key on the Spark side while an engine whose `%` follows the
    * dividend sign (DuckDB, Java) diverges; the q80 oracle mirrors the
    * same non-negative arithmetic. */
  def shuffleShards(docs: DataFrame, id: Column, text: Column,
      nShards: Int): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val P = graft.functions.TextHash.P
    val mixed = pmod(hashes.polyHash(text) * lit(31L) + id, lit(P))
    val orderKey = pmod(mixed * lit(2654435761L), lit(P))
    docs.select(id.as("doc_id"), orderKey.as("_k"))
      .withColumn("shard", pmod(col("_k"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("_k"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Shard manifest — the audit artifact a pipeline publishes next to
    * its [[shuffleShards]] output: per shard the document count, token
    * count, max in-shard position (== n_docs when the shard is
    * complete — a gap means a lost write), and an ORDER-INDEPENDENT
    * content fingerprint (XOR of the per-doc content hashes), so any
    * engine regenerating a shard can verify byte-identical membership
    * without sorting or re-reading the others. One aggregation to a
    * shard-count-sized frame. */
  def shardManifest(docs: DataFrame, id: Column, text: Column,
      nShards: Int): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val meta = docs.select(id.as("doc_id"),
      size(split(text, " ")).cast("long").as("_toks"),
      hashes.polyHash(text).as("_h"))
    shuffleShards(docs, id, text, nShards)
      .join(meta, "doc_id")
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("_toks")).as("n_tokens"),
        max(col("pos")).as("max_pos"),
        call_function("bit_xor", col("_h")).as("content_fp"))
  }

  /** Source-interleaved training order — the read-order companion to
    * [[shuffleShards]]: a global content-hash shuffle makes long
    * same-source runs UNLIKELY; this makes them IMPOSSIBLE (until
    * sources exhaust), which is what curriculum-sensitive training
    * wants — round `r` of the order takes the `r`-th doc of every
    * source still holding one, sources in name order, docs within a
    * source in the avalanched content-draw order (the shuffleShards
    * draw, so each source's stream is internally shuffled and
    * reproducible). A doc's global position is CLOSED-FORM from its
    * in-source rank and the per-source counts: positions before it =
    * full rounds `Σ_s' min(n_s', r−1)` + its slot within round `r`
    * (sources with `n ≥ r` and smaller name) — evaluated row-locally
    * against the collected per-source count table (source-count-sized,
    * the broadcast convention), so the ONLY shuffle is the per-source
    * rank window. That window sorts each source in one partition — fine
    * at typical source cardinalities; a corpus-dominating source would
    * swap in the hierarchical prefix-sum rank ([[packSequences]]'s
    * machinery, the W4 chunked-escape-hatch precedent).
    *
    * Above `maxExprSources` distinct sources the closed form switches
    * from per-row literal chains (two O(#sources) expression trees —
    * fine for curated source lists, a Catalyst codegen blow-up for
    * per-domain sources) to a broadcast join against the counts table:
    * each ranked row expands against the broadcast counts and partial
    * aggregation collapses it map-side, so the join path costs one
    * extra |docs|-row exchange instead of an O(#sources)-deep codegen
    * unit. Both paths compute the identical closed form (spec-pinned).
    * Output `(doc_id, source, rank_in_source, global_pos)`; `global_pos`
    * is a permutation of 1..n; empty input yields an empty frame (no
    * driver-side reduce to throw). */
  def interleavedOrder(docs: DataFrame, id: Column, text: Column,
      source: Column, maxExprSources: Int = 64): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val mixed = pmod(hashes.polyHash(text) * lit(31L) + id, lit(P))
    val draw = pmod(mixed * lit(2654435761L), lit(P))
    val base = docs.select(id.as("doc_id"), source.as("source"),
      draw.as("_k"))
    val ranked = base.withColumn("r", row_number().over(
      Window.partitionBy("source").orderBy(col("_k"), col("doc_id")))
      .cast("long"))
    val countsDf = base.groupBy("source").agg(count(lit(1)).as("n_src"))
    val counts = countsDf.limit(maxExprSources + 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty)
      ranked.select(col("doc_id"), col("source"),
        col("r").as("rank_in_source"), col("r").as("global_pos"))
    else if (counts.length <= maxExprSources) {
      val rounds = counts.map { case (_, n) =>
        least(lit(n), col("r") - lit(1L)) }
        .reduce[Column](_ + _)
      val slot = counts.map { case (s, n) =>
        when(lit(s) < col("source") && lit(n) >= col("r"), lit(1L))
          .otherwise(lit(0L)) }
        .reduce[Column](_ + _)
      ranked.select(col("doc_id"), col("source"),
        col("r").as("rank_in_source"),
        (rounds + slot + lit(1L)).as("global_pos"))
    } else
      ranked.crossJoin(broadcast(
          countsDf.select(col("source").as("_s"), col("n_src"))))
        .groupBy(col("doc_id"), col("source"), col("r"))
        .agg((sum(least(col("n_src"), col("r") - lit(1L))) +
          sum(when(col("_s") < col("source") && col("n_src") >= col("r"),
            lit(1L)).otherwise(lit(0L))) + lit(1L)).as("global_pos"))
        .select(col("doc_id"), col("source"),
          col("r").as("rank_in_source"), col("global_pos"))
  }

  /** Repeated-span REMOVAL — the passage-level cut the span-dedup
    * literature applies where doc-level dedup keeps both copies: excise
    * from every document each maximal token span of ≥ `minSpanTokens`
    * whose every `w`-gram occurs at least twice corpus-wide (another doc
    * OR again in the same one — licence banners, quoted boilerplate,
    * self-repeating templates). [[dupNgramCoverage]] *scores* this
    * redundancy; this operator *rewrites* the rows.
    *
    * Detection is shingle-granular: a position is covered when its
    * `w`-gram hash has corpus frequency ≥ 2; maximal covered runs map to
    * token intervals `[first, last + w - 1]` (clipped to the doc), and
    * intervals shorter than `minSpanTokens` are kept. Any span that truly
    * appears twice has ALL its `w`-grams duplicated, so recall is exact;
    * the over-approximation direction (every `w`-gram duplicated yet the
    * whole span never contiguous elsewhere — `w`-gram collage) removes a
    * span a suffix-array method would keep, the standard trade of the
    * shingle formulation.
    *
    * Shape: one shuffle on the shingle hash for the frequency count, a
    * semi-join back onto the position stream, a per-doc window for the
    * gaps-and-islands run detection, and a ROW-LOCAL rebuild (the
    * interval list rides back to the doc row; tokens drop via an indexed
    * array filter). No all-pairs anything; the frequency pass is the
    * same linear shape as [[dupNgramCoverage]].
    *
    * Output per doc: `n_tokens`, `n_removed`, `n_spans` (qualifying
    * intervals — adjacent runs may overlap at token level for `w` > 2 and
    * count separately), and the kept text's `clean_fingerprint` (NULL
    * when nothing survives, the [[lineDedup]] convention). */
  def removeRepeatedSpans(docs: DataFrame, id: Column, text: Column, w: Int,
      minSpanTokens: Int): DataFrame =
    removeSpansAgainst(docs, id, text, w, minSpanTokens,
      repeatedShingleSet(docs, id, text, w))

  /** The corpus-frequency duplicate-shingle set [[removeRepeatedSpans]]
    * derives internally — one `h` column, every `w`-gram hash occurring
    * ≥ 2 times across all document positions (within-doc repeats count).
    * Exposed as the STATIC side of the streaming face
    * ([[graft.streaming.Streaming.removeRepeatedSpansStream]]), the
    * [[boilerplateLineSet]] convention: batch derives it from the corpus,
    * ingest is handed the frozen set. */
  def repeatedShingleSet(docs: DataFrame, id: Column, text: Column,
      w: Int): DataFrame = {
    val hashes = graft.functions.HashExpressions
    docs.select(id.as("doc_id"),
        explode(hashes.shingleHashes(text, w)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("_c"))
      .where(col("_c") >= 2).select("h")
  }

  /** [[removeRepeatedSpans]] against an EXPLICIT duplicate-shingle set
    * (the batch face derives `dupH` from the corpus itself). */
  private def removeSpansAgainst(docs: DataFrame, id: Column, text: Column,
      w: Int, minSpanTokens: Int, dupH: DataFrame): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val posSh = docs.select(id.as("doc_id"),
        posexplode(hashes.shingleHashes(text, w)).as(Seq("_p0", "h")))
      .select(col("doc_id"), (col("_p0") + 1).cast("long").as("i"), col("h"))
    val runs = posSh.join(dupH, Seq("h"), "left_semi")
      .withColumn("_g", col("i") - row_number().over(
        Window.partitionBy("doc_id").orderBy("i")))
    val base = docs.select(id.as("doc_id"), text.as("_text"),
      size(split(text, " ")).cast("long").as("n_tokens"))
    // interval clipping joins the (doc_id, n_tokens) projection — 16 bytes
    // per doc even at corpus scale (broadcast here, SMJ beyond). Carrying
    // the token count through the position stream instead measured 2.5×
    // SLOWER (DECISIONS.md; `spans_q81_joinclip` vs `spans_q81`): the
    // extra column rides the explode, the semi-join probe, and the window
    // sort — a per-position tax to avoid a per-doc join.
    val iv = runs.groupBy("doc_id", "_g")
      .agg(min("i").as("a"), (max("i") + lit((w - 1).toLong)).as("_braw"))
      .join(base.select("doc_id", "n_tokens"), "doc_id")
      .select(col("doc_id"), col("a"), least(col("_braw"), col("n_tokens")).as("b"))
      .where(col("b") - col("a") + 1 >= minSpanTokens)
    val perDoc = iv.groupBy("doc_id").agg(
      collect_list(struct(col("a"), col("b"))).as("_ivs"),
      count(lit(1)).as("n_spans"))
    val ws = split(col("_text"), " ")
    val kept = filter(ws, (_, i0) => !exists(col("_ivs"),
      v => i0 + 1 >= v.getField("a") && i0 + 1 <= v.getField("b")))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        when(col("_ivs").isNull, lit(0L))
          .otherwise(col("n_tokens") - size(kept)).as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        when(col("_ivs").isNull, hashes.polyHash(col("_text")))
          .when(size(kept) === 0, lit(null).cast("long"))
          .otherwise(hashes.polyHash(concat_ws(" ", kept)))
          .as("clean_fingerprint"))
  }

  /** Per-source curation audit: document counts, exact-duplicate ratio,
    * mean length, and mean [[qualityComposite]] score per `source` — the
    * aggregation a pipeline uses to decide which sources to keep, reweight,
    * or drop. One hash aggregation; the quality composite is row-local, so
    * the whole plan is a single shuffle on `source`. The float means are
    * rounded (1e-6) because an unordered double sum is only
    * order-deterministic to the last ulp. */
  def sourceStats(docs: DataFrame, source: Column, text: Column,
      nChars: Column): DataFrame =
    docs.groupBy(source.as("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(text).as("n_unique_texts"),
      (lit(1.0) - countDistinct(text).cast("double") /
        count(lit(1)).cast("double")).as("dup_ratio"),
      avg(nChars).as("avg_chars"),
      round(avg(qualityComposite(text)), 6).as("avg_quality"))

  /** Curation filter funnel: the cumulative survivor count after each
    * cleaning rule (length floor → repetition ceiling → quality floor →
    * PII-free), the audit that tells a pipeline WHERE its corpus is lost.
    * All rules are row-local ([[repetitionScore]] / [[qualityComposite]] /
    * [[piiScan]] definitions, applied conjunctively in order), so the whole
    * funnel is ONE pass and one 5-row aggregate — no per-stage jobs, no
    * materialized intermediates, corpus-linear at any scale. */
  /** Funnel rule defaults, defined ONCE so the batch and streaming faces
    * can never drift apart silently. */
  val DefaultMinWords = 30
  val DefaultMaxDupRatio = 0.6
  val DefaultMinQuality = 0.25

  def filterFunnel(docs: DataFrame, id: Column, text: Column,
      minWords: Int = DefaultMinWords,
      maxDupRatio: Double = DefaultMaxDupRatio,
      minQuality: Double = DefaultMinQuality): DataFrame = {
    val preds = funnelPredicates(text, minWords, maxDupRatio, minQuality)
    val aggs = count(lit(1)).as("s0") +: preds.zipWithIndex.map {
      case ((_, p), i) => sum(when(p, 1L).otherwise(0L)).as(s"s${i + 1}")
    }
    val stages = ("input" -> 0) +: preds.zipWithIndex.map {
      case ((n, _), i) => n -> (i + 1)
    }
    docs.agg(aggs.head, aggs.tail: _*)
      .selectExpr(stages.map { case (n, i) => s"$i, '$n', s$i" }
        .mkString(s"stack(${stages.size}, ", ", ",
          ") as (stage_idx, stage, n_surviving)"))
  }

  /** The funnel's CUMULATIVE stage predicates in rule order — shared by the
    * batch unpivot above and the streaming per-minute variant
    * ([[graft.streaming.Streaming.curationFunnelStream]]), so both faces
    * apply bit-identical rules. */
  def funnelPredicates(text: Column, minWords: Int = DefaultMinWords,
      maxDupRatio: Double = DefaultMaxDupRatio,
      minQuality: Double = DefaultMinQuality): Seq[(String, Column)] = {
    val ws = split(text, " ")
    val dupRatio = lit(1.0) -
      size(array_distinct(ws)).cast("double") / size(ws).cast("double")
    val piiFree = Seq(EmailRe, PhoneRe, UrlRe)
      .map(re => size(regexp_extract_all(text, lit(re), lit(0))) === 0)
      .reduce(_ && _)
    val p1 = size(ws) >= minWords
    val p2 = p1 && dupRatio <= maxDupRatio
    val p3 = p2 && qualityComposite(text) >= minQuality
    val p4 = p3 && piiFree
    Seq("min_words" -> p1, "max_dup_ratio" -> p2, "min_quality" -> p3,
      "pii_free" -> p4)
  }

  /** Cross-document duplicate n-gram coverage: per document, the fraction
    * of its distinct w-shingles that also occur in at least one OTHER
    * document — the passage-level dup screen (a doc can be unique as a page
    * yet mostly assembled from boilerplate shared across the corpus;
    * exact/near dedup both miss it). Docs above a coverage threshold are
    * the ones a curation pipeline drops or trims.
    *
    * Plan: distinct (doc, shingle-hash) postings → per-hash doc count
    * (uniform hash key, safe at any scale) → rejoin on the same hash key
    * (the shuffle partitioning is reused) → per-doc ratio. A shingle
    * occurring in d docs is duplicated for THIS doc iff d ≥ 2. */
  def dupNgramCoverage(docs: DataFrame, id: Column, text: Column,
      w: Int): DataFrame = {
    val sh = DedupOps.shingleHashes(docs, id, text, w)
    val hDocs = sh.groupBy("h").agg(count(lit(1)).as("_nd"))
    sh.join(hDocs, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_nd") >= 2, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_coverage",
        col("n_dup_shingles").cast("double") / col("n_shingles").cast("double"))
  }

  /** Deterministic corpus mixing: downsample each source so the KEPT token
    * mass approaches `budget` tokens distributed by integer `weights`
    * (parts of the mix; sources absent from the map are dropped). The keep
    * decision is a content-hash threshold per source — reproducible across
    * runs, partitionings, and engines, like [[stratifiedSample]] — with the
    * threshold computed in PURE integer arithmetic (millionths):
    * `floor(w_s·budget·10⁶ / (W·a_s))`, clamped to 10⁶, where `a_s` is the
    * source's available token mass. A source whose share of `budget`
    * exceeds its inventory keeps everything (sampling cannot upsample) and
    * the realized mix deviates — visible in the output, not hidden.
    *
    * Plan shape: a stats pass (per-source token sums — tiny) computes
    * thresholds, broadcast back over a second scan that filters row-locally
    * — the standard two-job stats+apply pipeline; no row data touches the
    * driver. Overflow bound: w_s·budget·10⁶ must stay inside Long, i.e.
    * w_s·budget < 9.2e12 — token budgets beyond that should rescale weights
    * down (documented contract, `require`d). Output: per-source kept
    * doc/token counts and the applied threshold — scale-stable audit rows.
    * Tokens are the [[tokenCounts]] BPE estimate (ceil(chars/4)). */
  def corpusMix(docs: DataFrame, id: Column, text: Column, source: Column,
      weights: Map[String, Long], budget: Long): DataFrame = {
    val base = docs.select(id.as("doc_id"), source.as("source"),
      ceil(length(text).cast("double") / 4.0).cast("long").as("toks"),
      sampleBucket(graft.functions.HashExpressions.polyHash(text), 1000000)
        .as("_bkt"))
    base.join(mixThresholds(docs, id, text, source, weights, budget), "source")
      .where(col("_bkt") < col("_thr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("toks")).as("n_tokens_kept"),
        max(col("_thr")).as("keep_millionths"))
  }

  /** Temperature-based source re-weighting — the multilingual-LLM mixing
    * rule `p_i = n_i^alpha / Σ_j n_j^alpha` (alpha < 1 flattens the source
    * distribution, up-weighting small sources; alpha = 1 is the natural
    * mix). Where [[corpusMix]] DOWN-samples against a token budget, this
    * operator computes per-doc UP-sampling: `boost = p_temp / p_raw` is
    * the expected copy count of each doc under a fixed total budget, and
    * `n_copies` realizes it deterministically — `floor(boost)` copies
    * plus one more iff the doc's content-hash draw (the [[shuffleShards]]
    * mixed hash mod 1e6) falls below the fractional part in millionths.
    * Re-derivable on any engine/retry; copy counts hit the target mix in
    * expectation with per-source error O(1/√n) from the hash draw.
    *
    * Cross-engine determinism: `n^alpha` uses `sqrt` for alpha = 0.5 and
    * the identity for alpha = 1 (both exactly-rounded IEEE ops — `pow` is
    * not correctly rounded and may differ in the last ulp between libm
    * implementations; other alphas use it and carry that caveat). The
    * weight total rides [[graft.functions.Exact.dsum]]'s decimal path, so
    * Σ is order-independent. Plan shape: two tiny per-source aggregates,
    * then one broadcast join back to the docs — corpus-linear, one pass
    * over the data. */
  def temperatureMix(docs: DataFrame, id: Column, text: Column,
      source: Column, alpha: Double = 0.5): DataFrame =
    applyTemperatureRates(
      docs.select(id.as("doc_id"), text.as("text"), source.as("source")),
      temperatureRates(docs, source, alpha))

  /** The per-source rate table behind [[temperatureMix]] — (source, n_src,
    * p_raw, p_temp, boost) — exposed as the STATIC side of a stream:
    * [[applyTemperatureRates]] runs on a streaming frame as-is, and
    * source counts are corpus-global, so a stream applies pre-computed
    * rates rather than re-deriving them per micro-batch (the
    * [[mixThresholds]] convention; rebuild on re-mix). Tiny at any scale
    * (one row per source) and broadcast at every use site. */
  def temperatureRates(docs: DataFrame, source: Column,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val counts = docs.groupBy(source.as("source"))
      .agg(count(lit(1)).as("n_src"))
    val w = alpha match {
      case 0.5 => sqrt(col("n_src").cast("double"))
      case 1.0 => col("n_src").cast("double")
      case a   => pow(col("n_src").cast("double"), lit(a))
    }
    val weighted = counts.withColumn("_w", w)
    val totals = weighted.agg(sum(col("n_src")).as("_n_total"),
      graft.functions.Exact.dsum(col("_w")).as("_w_total"))
    weighted.crossJoin(broadcast(totals))
      .withColumn("p_raw",
        col("n_src").cast("double") / col("_n_total").cast("double"))
      .withColumn("p_temp", col("_w") / col("_w_total"))
      .withColumn("boost", col("p_temp") / col("p_raw"))
      .select("source", "n_src", "p_raw", "p_temp", "boost")
  }

  /** Per-doc copy realization against a precomputed rate table — the
    * row-local half of [[temperatureMix]]; it runs on a streaming frame
    * as-is, so batch and stream share the draw arithmetic. Expects
    * `base` with (doc_id, text, source). */
  private[graft] def applyTemperatureRates(base: DataFrame,
      rates: DataFrame): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val P = graft.functions.TextHash.P
    // The [[shuffleShards]] draw: polyHash is a rolling hash, NOT
    // avalanched — texts differing in a trailing digit give nearby
    // hashes, and without the Knuth multiplicative spread the mod-1e6
    // draw of a sequentially-named corpus clusters in one narrow band
    // (measured: 100 sequential titles landed within 9k of each other,
    // making the fractional-copy rate 1.0 instead of the target).
    val draw = pmod(pmod(pmod(hashes.polyHash(col("text")) * lit(31L)
      + col("doc_id"), lit(P)) * lit(2654435761L), lit(P)), lit(1000000L))
    base.join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"), col("n_src"), col("p_raw"),
        col("p_temp"), col("boost"),
        (floor(col("boost")) +
          when(draw.cast("double") <
            (col("boost") - floor(col("boost"))) * lit(1e6), 1L)
            .otherwise(0L)).as("n_copies"))
  }

  /** The per-source integer keep-thresholds (millionths) behind
    * [[corpusMix]], exposed as the STATIC side of the streaming ingest
    * filter ([[graft.streaming.Streaming.corpusMixStream]]) — the
    * source-inventory totals are corpus-global, so a stream applies
    * pre-computed thresholds rather than re-deriving them per
    * micro-batch. Pure integer arithmetic end-to-end (see [[corpusMix]]'s
    * cross-engine determinism contract). */
  def mixThresholds(docs: DataFrame, id: Column, text: Column, source: Column,
      weights: Map[String, Long], budget: Long): DataFrame = {
    require(weights.values.forall(w => w > 0 &&
      w * budget < Long.MaxValue / 1000000L),
      "weights must be positive with weight*budget*1e6 inside Long")
    val totalW = weights.values.sum
    val spark = docs.sparkSession
    import spark.implicits._
    val wTab = broadcast(weights.toSeq.toDF("source", "_w"))
    val avail = docs.select(source.as("source"),
        ceil(length(text).cast("double") / 4.0).cast("long").as("toks"))
      .groupBy("source").agg(sum(col("toks")).as("_avail"))
    broadcast(avail.join(wTab, "source")
      .select(col("source"),
        least(expr(s"_w * $budget * 1000000 div ($totalW * _avail)"),
          lit(1000000L)).as("_thr")))
  }

  /** Fixed-size word-window chunking with overlap — the context-length
    * segmentation step before tokenization (long documents must be split
    * into model-window-sized pieces; overlapping strides preserve
    * boundary-straddling context). Chunk i covers words
    * `[i·stride, i·stride + chunkWords)`; starts advance by `stride` while
    * they stay inside the document, so every word lands in ≥1 chunk and the
    * tail chunk may be short. All boundary math is INTEGER (ids, counts,
    * `div`) — identical in any engine at any offset. Row-local
    * explode (no shuffle): output rows ≈ corpus_words/stride, linear.
    * Each chunk carries its word count and content fingerprint
    * (chunk-level exact-dup key — dedup can run on chunks directly). */
  def chunkDocs(docs: DataFrame, id: Column, text: Column,
      chunkWords: Int, stride: Int): DataFrame = {
    require(chunkWords > 0 && stride > 0 && stride <= chunkWords,
      "need 0 < stride <= chunkWords (gaps would drop words)")
    val base = docs.select(id.as("doc_id"), split(text, " ").as("_ws"))
      .withColumn("_n", size(col("_ws")).cast("long"))
    base
      .select(col("doc_id"), col("_ws"), col("_n"),
        explode(sequence(lit(0L), expr(s"(_n - 1) div $stride"))).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        least(lit(chunkWords.toLong), col("_n") - col("chunk_idx") * stride)
          .as("n_chunk_words"),
        graft.functions.HashExpressions.polyHash(
          concat_ws(" ", slice(col("_ws"),
            (col("chunk_idx") * stride + 1).cast("int"), lit(chunkWords))))
          .as("chunk_hash"))
  }

  /** Unigram-LM cross-entropy per document — the perplexity-style quality
    * signal (CCNet-shape: score each document under a language model built
    * from the corpus itself; gibberish and boilerplate sit far from the
    * corpus distribution in opposite directions). The model is the corpus
    * unigram MLE `P(w) = count(w)/total`; the score is the mean token
    * surprisal `Σ ln(total/count(w)) / n_tokens`. Every token has count ≥ 1
    * (its own occurrence), so no OOV smoothing is needed for self-scoring.
    *
    * Plan: one wordcount aggregation (the vocabulary is Zipf-bounded, far
    * smaller than the corpus), a 1-row total broadcast back onto it, then
    * the token→surprisal join and a per-doc aggregation. The token join
    * key is the Zipf-SKEWED word, so it is split by frequency: the
    * surprisals of the top-[[LmHeadK]] words ride a broadcast (map-side —
    * by Zipf's law the head covers most token OCCURRENCES with a tiny
    * vocabulary slice, and a hot key never shuffles), while only TAIL
    * tokens shuffle on the now de-skewed word key. Measured 4.61 → 2.00 s
    * at 10× sf0.1 docs, a wash at 1× (DECISIONS.md). Float determinism:
    * per-word surprisal is rounded to 1e-6 and summed as DECIMAL (exact,
    * order-independent — an unordered double sum drifts in the last ulp),
    * so both engines divide identical sums regardless of which side of the
    * split a token took. */
  /** Corpus unigram surprisal table `(word, _cnt, _lp)` with
    * `_lp = round(ln(N / count(word)), 6)` as DECIMAL — the shared
    * vocabulary statistic behind [[lmScore]] and the streaming drift
    * monitor ([[graft.streaming.Streaming.sourceDivergenceStream]]'s
    * static side), defined once so the faces cannot drift. */
  def unigramSurprisals(docs: DataFrame, text: Column): DataFrame = {
    val words = docs.select(explode(split(text, " ")).as("word"))
    val cnt = words.groupBy("word").agg(count(lit(1)).as("_cnt"))
    val tot = cnt.agg(sum("_cnt").as("_tot"))
    cnt.join(broadcast(tot))
      .select(col("word"), col("_cnt"),
        round(log(col("_tot").cast("double") / col("_cnt").cast("double")), 6)
          .cast("decimal(18,6)").as("_lp"))
  }

  def lmScore(docs: DataFrame, id: Column, text: Column,
      keep: Seq[Column] = Nil): DataFrame = {
    // keep: caller-named per-doc columns riding the explode and the
    // per-doc aggregation key (same cardinality — doc_id is already in
    // the key), so a consumer needing the score PLUS a doc attribute
    // (q115's lang) pays no doc-cardinality join-back
    val words = Fanout.spread(docs).select(id.as("doc_id") +: keep :+
      explode(split(text, " ")).as("word"): _*)
    val extraNames = words.columns.toSeq
      .filter(c => c != "doc_id" && c != "word")
    // r19: the fitted surprisal table is MATERIALIZED (localCheckpoint —
    // the dsirWeights/knScore fit-artifact convention): head, tail and
    // probe consumed it separately, each re-running the corpus wordcount
    // fit. Vocabulary-sized artifact.
    val wlp = unigramSurprisals(docs, text).localCheckpoint(true)
    val head = wlp.orderBy(col("_cnt").desc, col("word")).limit(LmHeadK)
      .select(col("word"), col("_lp"))
    val tail = wlp.join(broadcast(head.select("word")), Seq("word"), "left_anti")
      .select(col("word"), col("_lp"))
    val probed = words.join(broadcast(head), Seq("word"), "left")
    probed.where(col("_lp").isNotNull)
      .unionByName(probed.where(col("_lp").isNull).drop("_lp").join(tail, "word"))
      .groupBy(col("doc_id") +: extraNames.map(col): _*)
      .agg(count(lit(1)).as("n_tokens"), sum("_lp").as("_s"))
      .select(col("doc_id") +: extraNames.map(col) ++: Seq(col("n_tokens"),
        round(col("_s").cast("double") / col("n_tokens"), 6)
          .as("cross_entropy")): _*)
  }

  /** Percentile score calibration — raw quality scores ([[lmScore]]
    * cross-entropy, [[qualityComposite]], a classifier margin) are not
    * comparable ACROSS languages or sources: a threshold tuned on English
    * guts every low-resource slice (the CCNet lesson — it calibrates per
    * language). This operator converts scores to within-group percentile
    * ranks and realizes the keep decision there: per group,
    * `pct = percent_rank()` over the score order (tie groups share a
    * rank — deterministic in any engine), a `buckets`-ile bucket, and
    * `keep = pct <= keepPct`.
    *
    * Scale shape: the window partitions by GROUP (language/source), so
    * the sort distributes across groups and ships only (id, group,
    * score); nothing is corpus-global. A single giant group is the
    * documented escape hatch: compute its thresholds from an
    * `approx_percentile` sample and broadcast them (the exact window is
    * chosen here because it is oracle-replayable). */
  def calibrateScores(scored: DataFrame, id: Column, score: Column,
      group: Column, groupName: String, buckets: Int,
      keepPct: Double): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val w = Window.partitionBy("_g").orderBy(col("score"))
    scored.select(id.as("doc_id"), score.as("score"), group.as("_g"))
      .withColumn("pct", round(percent_rank().over(w), 6))
      .select(col("doc_id"), col("_g").as(groupName), col("score"),
        col("pct"),
        least(floor(col("pct") * buckets), lit(buckets - 1).cast("double"))
          .cast("long").as("bucket"),
        (col("pct") <= keepPct).as("keep"))
  }

  /** The [[calibrateScores]] giant-group escape hatch, implemented (was
    * documented-only): when one group holds a large share of the corpus,
    * the exact per-group percent_rank window funnels that group through a
    * single sort partition. Here thresholds come from ONE
    * `percentile_approx` aggregation per group — the (buckets-1) bucket
    * boundaries plus the keep threshold — whose group-count-sized result
    * broadcasts back onto the rows: no row-level sort anywhere, every
    * step map-side after one aggregation exchange. Output mirrors
    * [[calibrateScores]] minus the `pct` column (a per-row percentile is
    * exactly what this path avoids computing): `bucket` = number of
    * boundary thresholds at or below the score (clamped), `keep` =
    * score ≤ the keepPct quantile. Tie groups keep or drop together in
    * both faces; boundary rows can differ by the sketch's rank error —
    * the spec gates agreement against the exact face. */
  def calibrateScoresApprox(scored: DataFrame, id: Column, score: Column,
      group: Column, groupName: String, buckets: Int, keepPct: Double,
      accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val base = scored.select(id.as("doc_id"), score.as("score"),
      group.as("_g"))
    val qs = (1 until buckets).map(_.toDouble / buckets).toArray
    val thr = base.groupBy("_g").agg(
      percentile_approx(col("score"), typedlit(qs), lit(accuracy)).as("_ts"),
      percentile_approx(col("score"), lit(keepPct), lit(accuracy)).as("_kt"))
    base.join(broadcast(thr), "_g")
      .select(col("doc_id"), col("_g").as(groupName), col("score"),
        least(aggregate(col("_ts"), lit(0L),
          (acc, t) => acc + when(col("score") >= t, 1L).otherwise(0L)),
          lit((buckets - 1).toLong)).as("bucket"),
        (col("score") <= col("_kt")).as("keep"))
  }

  /** T5-style span-corruption target construction (Raffel et al. JMLR
    * 2020 §3.1.4): deterministically mask ~`maskRate` of each document's
    * tokens in spans of mean length `meanSpan`, emitting the denoising
    * pair a seq2seq pretraining run consumes — the INPUT with each masked
    * run replaced by one `<extra_id_k>` sentinel, and the TARGET listing
    * each sentinel followed by the tokens it hid.
    *
    * Determinism is the [[shuffleShards]] draw, per position: with
    * `mixed = pmod(polyHash(text)·31 + doc_id, P)`, position `i` draws
    * `d_i = pmod((mixed + i)·2654435761, P)`; a span STARTS at `i` when
    * `d_i mod 1e6 < round(maskRate/meanSpan · 1e6)` and runs for
    * `1 + (d_i div 1e6) mod (2·meanSpan − 1)` tokens (uniform on
    * [1, 2·meanSpan−1], mean `meanSpan`), clipped to the document;
    * overlapping spans merge into one sentinel (the islands rule). Every
    * quantity is integer/hash arithmetic — bit-identical in any engine —
    * and the whole operator is ROW-LOCAL: zero shuffles, the ideal
    * 100 TB shape. The production path is the compiled
    * [[graft.functions.SpanCorrupt]] kernel (one imperative pass per
    * row); [[spanCorruptionMaskComposable]] keeps the same computation
    * as auditable higher-order functions and is parity-pinned.
    *
    * Output per doc: `n_tokens`, `n_masked`, `n_spans` (merged runs =
    * sentinels used), and both rebuilt strings' lengths + polyHash
    * fingerprints (`input_fp`, `target_fp`) — the cleartext stays in the
    * row, the audit travels (the piiRedact convention); pass
    * `keepText = true` for the actual pair. */
  def spanCorruptionMask(docs: DataFrame, id: Column, text: Column,
      maskRate: Double, meanSpan: Int,
      keepText: Boolean = false): DataFrame = {
    require(maskRate > 0.0 && maskRate < 1.0,
      s"maskRate must be in (0, 1), got $maskRate")
    require(meanSpan >= 1, s"meanSpan must be >= 1, got $meanSpan")
    val f = graft.functions.SpanExpressions.spanCorrupt(
      text, id.cast("long"), maskRate, meanSpan)
    docs.select(id.as("doc_id"), f.as("_s"))
      .select(
        Seq(col("doc_id"), col("_s.n_tokens"), col("_s.n_masked"),
          col("_s.n_spans"), col("_s.input_len"), col("_s.input_fp"),
          col("_s.target_fp")) ++
          (if (keepText) Seq(col("_s.input_text"), col("_s.target_text"))
           else Nil): _*)
  }

  /** The COMPOSABLE form of [[spanCorruptionMask]] — the executable spec
    * (every draw/coverage/fold step is an auditable higher-order
    * function; parity with the compiled kernel is pinned in
    * PipelineOpsSpec and PropertySpec). Its string-building folds copy
    * their accumulator arrays per position (O(len^2) per doc), so the
    * compiled [[graft.functions.SpanCorrupt]] kernel is the production
    * path. */
  def spanCorruptionMaskComposable(docs: DataFrame, id: Column, text: Column,
      maskRate: Double, meanSpan: Int,
      keepText: Boolean = false): DataFrame = {
    require(maskRate > 0.0 && maskRate < 1.0,
      s"maskRate must be in (0, 1), got $maskRate")
    require(meanSpan >= 1, s"meanSpan must be >= 1, got $meanSpan")
    val P = graft.functions.TextHash.P
    val maxL = 2 * meanSpan - 1
    val startThr = math.round(maskRate / meanSpan * 1e6)
    val toks = filter(split(text, " "), w => length(w) > 0)
    val base = docs.select(id.as("doc_id"), toks.as("_toks"),
      pmod(graft.functions.HashExpressions.polyHash(text) * lit(31L) + id,
        lit(P)).as("_mix"))
    val n = size(col("_toks"))
    val idx = sequence(lit(1), greatest(n, lit(1)))
    // per-position draw, span-start flag, span length
    val withDraw = base
      .withColumn("_d", when(n >= 1, transform(idx,
        i => pmod((col("_mix") + i) * lit(2654435761L), lit(P))))
        .otherwise(array().cast("array<bigint>")))
      .withColumn("_st", transform(col("_d"),
        d => pmod(d, lit(1000000L)) < lit(startThr)))
      .withColumn("_len", transform(col("_d"),
        d => lit(1L) + pmod(floor(d / lit(1000000L)), lit(maxL.toLong))))
    // position j is masked iff some start i in (j-maxL, j] covers it
    val masked = transform(idx, j =>
      exists(sequence(greatest(j - lit(maxL - 1), lit(1)), j), i =>
        element_at(col("_st"), i.cast("int")) &&
          j < i + element_at(col("_len"), i.cast("int"))))
    val withMask = withDraw.withColumn("_msk",
      when(n >= 1, masked).otherwise(array().cast("array<boolean>")))
    def mAt(j: Column) = element_at(col("_msk"), j.cast("int"))
    def tAt(j: Column) = element_at(col("_toks"), j.cast("int"))
    val runStart = (j: Column) => mAt(j) && (j === 1 || !mAt(j - 1))
    // one fold builds input tokens, target tokens, and the sentinel count
    val emptyAcc = struct(
      array().cast("array<string>").as("inp"),
      array().cast("array<string>").as("tgt"),
      lit(0).as("k"))
    val sentinel = (k: Column) =>
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    val folded = aggregate(
      when(n >= 1, idx).otherwise(array().cast("array<bigint>")), emptyAcc,
      (acc, j) =>
        when(!mAt(j), struct(
          concat(acc.getField("inp"), array(tAt(j))).as("inp"),
          acc.getField("tgt").as("tgt"), acc.getField("k").as("k")))
          .when(runStart(j), struct(
            concat(acc.getField("inp"),
              array(sentinel(acc.getField("k")))).as("inp"),
            concat(acc.getField("tgt"),
              array(sentinel(acc.getField("k")), tAt(j))).as("tgt"),
            (acc.getField("k") + 1).as("k")))
          .otherwise(struct(
            acc.getField("inp").as("inp"),
            concat(acc.getField("tgt"), array(tAt(j))).as("tgt"),
            acc.getField("k").as("k"))))
    val withOut = withMask.withColumn("_f", folded)
    val inpStr = concat_ws(" ", col("_f.inp"))
    val tgtStr = concat_ws(" ", col("_f.tgt"))
    withOut.select(
      Seq(
        col("doc_id"),
        n.cast("long").as("n_tokens"),
        size(filter(col("_msk"), m => m)).cast("long").as("n_masked"),
        col("_f.k").cast("long").as("n_spans"),
        length(inpStr).cast("long").as("input_len"),
        graft.functions.HashExpressions.polyHash(inpStr).as("input_fp"),
        graft.functions.HashExpressions.polyHash(tgtStr).as("target_fp")) ++
        (if (keepText) Seq(inpStr.as("input_text"), tgtStr.as("target_text"))
         else Nil): _*)
  }

  /** Prefix-LM pair construction (the PrefixLM / UL2 "S-denoiser"
    * objective, Raffel et al. 2020 §3.2.1 / Tay et al. 2023): split each
    * document at a deterministic hash-drawn token boundary into a PREFIX
    * (the conditioning context) and a CONTINUATION (the prediction
    * target) — the sequential-denoising companion to
    * [[spanCorruptionMask]]'s span objective. The split point draws from
    * the same [[shuffleShards]] family: `d = pmod(pmod(polyHash(text)·31
    * + doc_id, P)·2654435761, P)` and `split_at = 1 + d mod (n−1)` for
    * n ≥ 2 (both sides always non-empty), `split_at = n` for shorter
    * docs (empty continuation, fingerprint 0 — the degenerate case a
    * packing stage filters). Pure row-local column arithmetic, zero
    * shuffle; engine-exact. Output: `n_tokens`, `split_at`,
    * `prefix_fp`/`target_fp` (polyHash of each side; `keepText` for the
    * actual pair). */
  def prefixLmSplit(docs: DataFrame, id: Column, text: Column,
      keepText: Boolean = false): DataFrame = {
    val P = graft.functions.TextHash.P
    val toks = filter(split(text, " "), w => length(w) > 0)
    val base = docs.select(id.as("doc_id"), toks.as("_toks"),
      pmod(pmod(graft.functions.HashExpressions.polyHash(text) * lit(31L)
        + id, lit(P)) * lit(2654435761L), lit(P)).as("_d"))
    val n = size(col("_toks"))
    val splitAt = when(n >= 2, lit(1) + pmod(col("_d"), (n - 1).cast("long"))
      .cast("int")).otherwise(n)
    val prefix = concat_ws(" ", slice(col("_toks"), lit(1), splitAt))
    val target = concat_ws(" ",
      when(n > splitAt, slice(col("_toks"), splitAt + 1, n - splitAt))
        .otherwise(array().cast("array<string>")))
    base.select(
      Seq(
        col("doc_id"),
        n.cast("long").as("n_tokens"),
        splitAt.cast("long").as("split_at"),
        graft.functions.HashExpressions.polyHash(prefix).as("prefix_fp"),
        graft.functions.HashExpressions.polyHash(target).as("target_fp")) ++
        (if (keepText) Seq(prefix.as("prefix_text"), target.as("target_text"))
         else Nil): _*)
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022 "Efficient
    * Training of Language Models to Fill in the Middle"): with rate
    * ~1/2 per doc, two hash-drawn cut points split the token stream
    * into (prefix, middle, suffix) and the training text is reordered
    * PSM — `<PRE> prefix <SUF> suffix <MID> middle` — so the model
    * learns infilling from ordinary documents; the other half stays
    * untouched (the paper's joint objective). Draws follow the
    * [[prefixLmSplit]] scheme (avalanched content⊕id mix, one Knuth
    * multiply per draw), so the transform is deterministic across
    * runs, partitionings, and engines. Pure row-local column
    * arithmetic, zero shuffle. Output: cut points (0-based token
    * offsets, cut1 ≤ cut2), the applied flag, per-segment fingerprints,
    * and the fingerprint of the emitted training text (PSM when
    * applied, original when not); `keepText` adds the text itself. */
  def fimSplit(docs: DataFrame, id: Column, text: Column,
      keepText: Boolean = false): DataFrame = {
    val P = graft.functions.TextHash.P
    val toks = filter(split(text, " "), w => length(w) > 0)
    val mix = pmod(pmod(graft.functions.HashExpressions.polyHash(text)
      * lit(31L) + id, lit(P)) * lit(2654435761L), lit(P))
    val base = docs.select(id.as("doc_id"), text.as("_t"),
      toks.as("_toks"), mix.as("_d1"),
      pmod(mix * lit(2654435761L), lit(P)).as("_d2"))
    val n = size(col("_toks"))
    val a = pmod(col("_d1"), (n + 1).cast("long")).cast("int")
    val b = pmod(col("_d2"), (n + 1).cast("long")).cast("int")
    val cut1 = least(a, b)
    val cut2 = greatest(a, b)
    val prefix = concat_ws(" ", slice(col("_toks"), lit(1), cut1))
    val middle = concat_ws(" ",
      when(cut2 > cut1, slice(col("_toks"), cut1 + 1, cut2 - cut1))
        .otherwise(array().cast("array<string>")))
    val suffix = concat_ws(" ",
      when(n > cut2, slice(col("_toks"), cut2 + 1, n - cut2))
        .otherwise(array().cast("array<string>")))
    val applied = pmod(col("_d1"), lit(10L)) < 5
    val psm = concat_ws(" ", lit("<PRE>"), prefix, lit("<SUF>"), suffix,
      lit("<MID>"), middle)
    val emitted = when(applied, psm).otherwise(col("_t"))
    base.select(
      Seq(
        col("doc_id"),
        n.cast("long").as("n_tokens"),
        applied.as("fim_applied"),
        cut1.cast("long").as("cut1"),
        cut2.cast("long").as("cut2"),
        graft.functions.HashExpressions.polyHash(prefix).as("prefix_fp"),
        graft.functions.HashExpressions.polyHash(middle).as("middle_fp"),
        graft.functions.HashExpressions.polyHash(suffix).as("suffix_fp"),
        graft.functions.HashExpressions.polyHash(emitted).as("emitted_fp")) ++
        (if (keepText) Seq(emitted.as("emitted_text")) else Nil): _*)
  }

  /** Inverse-cloze-task pair construction (ICT, Lee, Chang & Toutanova
    * ACL 2019 §3.1 — the standard unsupervised pre-training objective
    * for dense retrievers): from each document, a hash-drawn contiguous
    * QUERY chunk (~10% of tokens, ≥ 1) and its CONTEXT — the document
    * with the chunk removed, except that with probability 1/10 the chunk
    * is KEPT in the context (the paper's rule: the model must not learn
    * that the query is never in its evidence). These are the POSITIVE
    * pairs [[graft.operators.RetrievalOps.hardNegatives]] complements
    * with negatives. Draws follow the [[prefixLmSplit]] scheme (`mix =
    * pmod(polyHash(text)·31 + doc_id, P)`, Knuth-multiplied per draw
    * index), so pairs are deterministic across runs/partitionings/
    * engines. Docs with < 2 tokens are excluded (no non-empty pair
    * exists). Pure row-local column arithmetic, zero shuffle. Output:
    * `n_tokens`, `q_start` (1-based), `q_len`, `kept_in_context`,
    * `query_fp`/`context_fp` (polyHash; `keepText` for the actual
    * pair). */
  def ictPairs(docs: DataFrame, id: Column, text: Column,
      keepText: Boolean = false): DataFrame = {
    val P = graft.functions.TextHash.P
    val toks = filter(split(text, " "), w => length(w) > 0)
    val base = docs.select(id.as("doc_id"), toks.as("_toks"),
      pmod(graft.functions.HashExpressions.polyHash(text) * lit(31L)
        + id, lit(P)).as("_mix"))
      .where(size(col("_toks")) >= 2)
    def draw(i: Int): Column =
      pmod((col("_mix") + lit(i.toLong)) * lit(2654435761L), lit(P))
    val n = size(col("_toks"))
    val qLen = greatest(lit(1), floor(n.cast("double") / 10.0).cast("int"))
    val qStart = (lit(1) + pmod(draw(0), (n - qLen + 1).cast("long"))
      .cast("int"))
    val kept = pmod(draw(1), lit(10L)) === 0L
    val query = concat_ws(" ", slice(col("_toks"), qStart, qLen))
    val context = concat_ws(" ",
      when(kept, col("_toks")).otherwise(concat(
        slice(col("_toks"), lit(1), qStart - 1),
        slice(col("_toks"), qStart + qLen, n - qStart - qLen + 1))))
    base.select(
      Seq(
        col("doc_id"),
        n.cast("long").as("n_tokens"),
        qStart.cast("long").as("q_start"),
        qLen.cast("long").as("q_len"),
        kept.as("kept_in_context"),
        graft.functions.HashExpressions.polyHash(query).as("query_fp"),
        graft.functions.HashExpressions.polyHash(context).as("context_fp")) ++
        (if (keepText) Seq(query.as("query_text"), context.as("context_text"))
         else Nil): _*)
  }

  /** Deterministic text normalization — the stage every pipeline runs
    * before shingling/tokenization so that byte-level noise (case, weird
    * whitespace, zero-width characters) cannot defeat exact and
    * near-dup matching. Fixed chain, order significant and documented:
    * (1) strip zero-width/format characters (ZWSP/ZWNJ/ZWJ/BOM);
    * (2) collapse every run of control-or-space characters
    * (U+0000–U+0020, U+007F) to one space; (3) trim; (4) lowercase.
    * Pure codegen'd string expressions, zero shuffle; output carries the
    * normalized fingerprint, length, and a `changed` flag (the
    * monitoring face: a spike in changed-rate at ingest means an
    * upstream encoding regression). `keepText` for the normalized
    * string itself. */
  val ZeroWidthRe = "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]"
  val ControlWsRe = "[\\x{0000}-\\x{0020}\\x{007F}]+"

  def normalizeText(docs: DataFrame, id: Column, text: Column,
      keepText: Boolean = false): DataFrame = {
    val norm = lower(trim(regexp_replace(
      regexp_replace(text, ZeroWidthRe, ""), ControlWsRe, " ")))
    docs.select(
      Seq(id.as("doc_id"),
        graft.functions.HashExpressions.polyHash(norm).as("norm_fp"),
        length(norm).cast("long").as("n_chars"),
        (norm =!= text).as("changed")) ++
        (if (keepText) Seq(norm.as("norm_text")) else Nil): _*)
  }

  /** Multi-pattern blocklist screen over a FROZEN phrase list
    * ([[graft.functions.AcScreen]], Aho-Corasick 1975): total substring
    * hits, distinct patterns present, and the flagged verdict — one
    * automaton walk per document, O(len + matches) at ANY blocklist
    * size, where the per-pattern scan ([[piiScan]]'s regex-count shape)
    * is O(len × patterns) and a single alternation regex stops
    * compiling at real blocklist sizes. Substring semantics by design
    * (phrase lists must match inside words and across word boundaries);
    * compose with [[normalizeText]] upstream so case/whitespace noise
    * cannot dodge the screen. */
  def blocklistScreen(docs: DataFrame, id: Column, text: Column,
      patterns: Seq[String]): DataFrame = {
    docs.select(id.as("doc_id"),
        graft.functions.AcExpressions.acScreen(text, patterns).as("_b"))
      .select(col("doc_id"), col("_b.*"))
  }

  /** Incremental maintenance of a frozen [[blocklistScreen]] — the LAST
    * of the frozen-model aging gaps (gram index, winnow, robust stats,
    * KN counts, NB drift all have their fold/trigger faces; the
    * takedown blocklist GROWS over time too, and re-walking the corpus
    * with the full automaton on every addition re-pays work the frozen
    * screen already did): per-pattern hit counts are independent, so
    * for a delta pattern set DISJOINT from the frozen one (PRECONDITION
    * — the gramIndexUpdate convention; re-screening a changed pattern
    * is a rebuild, not a fold) the corpus is walked with an automaton
    * over ONLY the delta patterns, and the two screens merge by
    * addition: `n_hits` and `n_patterns` sum, `flagged` ORs. One
    * full-outer doc-keyed merge of two screen frames; the old automaton
    * never re-runs. Invariant: `update(screen(P₁), P₂) ≡ screen(P₁∪P₂)`
    * — q184's oracle replays the full-rebuild screen in SQL, so
    * merge-equals-rebuild IS the driver gate. */
  def blocklistScreenUpdate(prev: DataFrame, docs: DataFrame, id: Column,
      text: Column, deltaPatterns: Seq[String]): DataFrame = {
    val d = blocklistScreen(docs, id, text, deltaPatterns)
    prev.select(col("doc_id"), col("n_hits").as("_ha"),
        col("n_patterns").as("_pa"), col("flagged").as("_fa"))
      .join(d.select(col("doc_id"), col("n_hits").as("_hb"),
          col("n_patterns").as("_pb"), col("flagged").as("_fb")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(col("_ha"), lit(0L)) + coalesce(col("_hb"), lit(0L)))
          .as("n_hits"),
        (coalesce(col("_pa"), lit(0L)) + coalesce(col("_pb"), lit(0L)))
          .as("n_patterns"),
        (coalesce(col("_fa"), lit(false)) || coalesce(col("_fb"),
          lit(false))).as("flagged"))
  }

  /** Redaction face of [[blocklistScreen]] ([[graft.functions
    * .AcRedact]]): matched spans replaced by `marker` under greedy
    * leftmost-longest non-overlapping resolution (the FlashText rule) —
    * the takedown/compliance apply path when dropping the whole document
    * is too blunt. Same one-walk-per-row automaton; the resolution rule
    * is what makes the output deterministic when patterns nest or
    * overlap, and the q136 oracle replays it with a per-doc recursive
    * cursor sweep. */
  def blocklistRedact(docs: DataFrame, id: Column, text: Column,
      patterns: Seq[String], marker: String = "<BLOCKED>",
      keepText: Boolean = false): DataFrame = {
    docs.select(id.as("doc_id"),
        graft.functions.AcExpressions.acRedact(text, patterns, marker)
          .as("_r"))
      .select(
        Seq(col("doc_id"), col("_r.n_redacted"), col("_r.n_chars_removed"),
          col("_r.redacted_fp")) ++
          (if (keepText) Seq(col("_r.redacted_text")) else Nil): _*)
  }

  /** Zipf-head size for [[lmScore]]'s frequency-split token join: 4096
    * words × ~30 B of (word, decimal) is a ~100 KB broadcast — far under
    * any broadcast threshold — yet covers the bulk of token occurrences in
    * a natural-language corpus. */
  val LmHeadK: Int = 4096

  /** PII redaction — the transform [[piiScan]] pre-screens for: emails,
    * phone shapes, and URLs replaced by typed placeholder tags, applied in
    * that fixed order (an email inside a URL redacts as `<EMAIL>` first —
    * order is part of the contract, identical in any engine). Row-local.
    * Output carries the redaction count (from the ORIGINAL text, matching
    * piiScan) and the redacted text's length and content fingerprint, so a
    * pipeline can verify redaction idempotence (`n_redactions = 0` ⇒
    * fingerprint unchanged) without the cleartext leaving the row. */
  def piiRedact(docs: DataFrame, id: Column, text: Column,
      keepText: Boolean = false): DataFrame = {
    def n(re: String) =
      size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
    val red = Seq(EmailRe -> "<EMAIL>", PhoneRe -> "<PHONE>", UrlRe -> "<URL>")
      .foldLeft(text) { case (t, (re, tag)) => regexp_replace(t, re, tag) }
    docs.select(
      Seq(
        id.as("doc_id"),
        (n(EmailRe) + n(PhoneRe) + n(UrlRe)).as("n_redactions"),
        length(red).cast("long").as("redacted_len"),
        graft.functions.HashExpressions.polyHash(red)
          .as("redacted_fingerprint")) ++
        (if (keepText) Seq(red.as("redacted_text")) else Nil): _*)
  }

  /** Top-`k` TF-IDF terms per document: term frequency × smoothed inverse
    * document frequency `ln((N+1)/(df+1))`, ranked per doc with a word
    * tiebreak ON THE ROUNDED score (1e-6), so ranking is identical in any
    * engine whose `ln` agrees to ~1e-7 — ulp-level libm differences cannot
    * reorder. Two wordcount-shaped aggregations plus a broadcast of the
    * 1-row corpus count; the per-doc rank partitions by doc (bounded by
    * vocabulary, not corpus). The TF→df join keys on the Zipf-skewed word,
    * so it gets the same frequency split as [[lmScore]]: the top-[[LmHeadK]]
    * words by df ride a broadcast (a hot word's up-to-n_docs TF rows never
    * shuffle), tail TF pairs shuffle on the de-skewed remainder. Measured
    * 4.70 → 3.60 s at 10× sf0.1 docs, identical rows (DECISIONS.md). */
  def tfidfTopK(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val words = docs.select(id.as("doc_id"), explode(split(text, " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // r19 (guide §2.4 — the bm25TopKTerms df derivation): tf's KEYS are
    // exactly the distinct (doc, word) pairs, so counting tf rows per word
    // IS countDistinct(doc_id) — and the tf subtree being canonically
    // identical to the scoring path's lets ReuseExchange tokenize the
    // corpus ONCE (the old shape ran a second tokenize + a two-phase
    // distinct aggregation just for df).
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val head = dfreq.orderBy(col("df").desc, col("word")).limit(LmHeadK)
    val tail = dfreq.join(broadcast(head.select("word")), Seq("word"), "left_anti")
    val probed = tf.join(broadcast(head), Seq("word"), "left")
    val scored = probed.where(col("df").isNotNull)
      .unionByName(probed.where(col("df").isNull).drop("df").join(tail, "word"))
      .join(broadcast(n))
      .withColumn("tfidf", round(
        col("tf") * log((col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select("doc_id", "rk", "word", "tf", "df", "tfidf")
  }

  /** Line-level duplicate removal (CCNet-shape): a line occurring in
    * `maxDf` or more DISTINCT documents is boilerplate (headers, footers,
    * licence banners, cookie notices) and is dropped from every document —
    * the passage-level screen that document-level exact/near dedup cannot
    * express (no document pair is a duplicate; the LINE is).
    *
    * Per document: original line count, surviving line count, and a
    * rolling-hash fingerprint of the surviving text (lines rejoined in
    * original order) — NULL when nothing survives, so a pipeline can
    * verify the cleaned corpus without the text leaving the row.
    *
    * Scale shape: the duplicated-line table is keyed by line hash, not the
    * line text, and only the DROP set (lines with df >= maxDf — the
    * boilerplate vocabulary, tiny next to the corpus) flows into the
    * anti-join, which AQE broadcasts when it fits. Boilerplate lines are
    * by definition the hot keys of the line-hash space; dropping via
    * left_anti against the small drop-set (rather than joining every line
    * to its df) means a hot line never fans out. Reassembly sorts WITHIN
    * each document's collected array — no cross-document order
    * dependency.
    *
    * The drop KEY is the composite (polyHash, line length) — the
    * q41/exact_dup (fp, fp_len) convention (r14 verdict item 8): a drop
    * decided on the bare ~2^30 hash false-drops an innocent line whenever
    * it collides with boilerplate (expected ~n²/2P per corpus — a
    * certainty at 10⁹ distinct lines); the length component is free in
    * both engines and removes every unequal-length collision. Same-length
    * collisions remain the inherent hash-key residue (LineDedupSpec pins
    * both: a cross-length collision survives, a same-length one is the
    * documented exposure); the drop-set's smallness would admit an exact
    * text-keyed anti-join where zero residue is required. */
  def lineDedup(docs: DataFrame, id: Column, text: Column,
      maxDf: Int): DataFrame = {
    val lines = docs
      .select(id.as("doc_id"), posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .withColumn("h", graft.functions.HashExpressions.polyHash(col("line")))
      .withColumn("llen", length(col("line")).cast("long"))
    val keptAgg = lines.join(boilerplateLineSet(docs, id, text, maxDf),
        Seq("h", "llen"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        graft.functions.HashExpressions.polyHash(
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            p => p.getField("line")), "\n")).as("clean_fingerprint"))
    docs.select(id.as("doc_id"),
        size(split(text, "\n")).cast("long").as("n_lines"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_fingerprint"))
  }

  /** The corpus's boilerplate-line table: (hash, length) keys of lines
    * occurring in `maxDf`+ distinct documents ([[lineDedup]]'s composite
    * drop key). Exposed so an ingest stream can reuse it as the STATIC
    * side of a stream-static join
    * ([[graft.streaming.Streaming.lineDedupStream]]) — line df is a
    * corpus-global statistic a micro-batch cannot see. */
  def boilerplateLineSet(docs: DataFrame, id: Column, text: Column,
      maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    docs
      .select(id.as("doc_id"), explode(split(text, "\n")).as("line"))
      .select(col("doc_id"),
        graft.functions.HashExpressions.polyHash(col("line")).as("h"),
        length(col("line")).cast("long").as("llen"))
      .groupBy("h", "llen")
      .agg(countDistinct("doc_id").as("_df"))
      .where(col("_df") >= maxDf)
      .select("h", "llen")
  }

  /** Per-source unigram KL divergence vs the whole corpus —
    * `KL(source ‖ corpus) = Σ_w p_s(w) · ln(p_s(w)/p_c(w))` — the corpus-QA
    * drift signal: a source whose word distribution diverges from the mix
    * (spam, wrong language, machine-generated boilerplate) surfaces at the
    * top. No smoothing is needed: each source's vocabulary is a subset of
    * the corpus vocabulary, so p_c(w) > 0 wherever p_s(w) > 0.
    *
    * Float determinism (the [[lmScore]] pattern): the per-word log-ratio is
    * rounded to 1e-6 and the weighted sum runs in DECIMAL, so the per-source
    * total is order-independent and engine-exact; the single division by the
    * source token count happens once at the end. Scale shape: one
    * wordcount-shaped shuffle to (source, word) counts; the per-word corpus
    * count is a RE-aggregation of that frame (vocabulary-sized, at most
    * #sources rows per word — df-bounded, so the word-keyed join cannot
    * skew the way a token-level join would). */
  def sourceDivergence(docs: DataFrame, source: Column, text: Column): DataFrame = {
    val sw = docs
      .select(source.as("source"), explode(split(text, " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
    val cw = sw.groupBy("word").agg(sum("c_sw").as("c_w"))
    val ns = sw.groupBy("source").agg(sum("c_sw").as("n_tokens"),
      count(lit(1)).as("n_vocab"))
    val total = cw.agg(sum("c_w").as("n_total"))
    sw.join(cw, "word")
      .join(broadcast(ns), "source")
      .join(broadcast(total))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        (col("c_sw").cast("decimal(20,0)") *
          round(log((col("c_sw").cast("double") * col("n_total").cast("double")) /
            (col("n_tokens").cast("double") * col("c_w").cast("double"))), 6)
            .cast("decimal(18,6)")).as("_term"))
      .groupBy("source", "n_tokens", "n_vocab")
      .agg(sum("_term").as("_s"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        round(col("_s").cast("double") / col("n_tokens").cast("double"), 6)
          .as("kl_vs_corpus"))
  }

  // ───────────────────────────────────────────────────────────────────
  // Interpolated Kneser–Ney bigram language model (Kneser & Ney
  // ICASSP 1995; the interpolated form and the fixed-discount estimate
  // follow Chen & Goodman, Computer Speech & Language 1999 §3/§4). The
  // CCNet-style perplexity filter graduates from [[lmScore]]'s unigram
  // model: a bigram KN model prices word ORDER, so shuffled boilerplate
  // and template spam — which a unigram model scores identically to
  // their source text — surface as high cross-entropy.

  /** Absolute-discount mass for [[knBigramModel]] — Chen & Goodman's
    * fixed D (their eq. for D = n1/(n1+2·n2) lands near 0.75 on natural
    * text; the fixed constant keeps the model oracle-replayable, and the
    * discount is not a tuned hyperparameter here). */
  val KnDiscount: Double = 0.75

  /** Zipf-head size for [[knScore]]'s frequency-split bigram join — the
    * [[LmHeadK]] convention one n-gram order up: bigram frequencies are
    * Zipf-like too, so the hottest [[KnHeadK]] bigram types ride a
    * broadcast and never shuffle. */
  val KnHeadK: Int = 4096

  /** Corpus bigram-type counts `(v, w, c_vw)` — consecutive word pairs
    * within each document, no sentence segmentation and no BOS/EOS
    * padding (documented convention; the oracle mirrors it). One explode
    * + one aggregation exchange on the (v, w) key; everything downstream
    * of this frame is bigram-TYPE-sized, far smaller than the corpus. */
  def knBigramCounts(docs: DataFrame, text: Column): DataFrame = {
    // word array hoisted into a projected column (the knScore probe's
    // convention): inlined, the filter plus the two slice arguments and
    // their size() bounds re-evaluate split(text) ~5x per row
    val ws = col("_ws")
    docs.select(split(text, " ").as("_ws"))
      .where(size(ws) >= 2)
      .select(explode(zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("v"), b.as("w")))).as("b"))
      .select(col("b.v").as("v"), col("b.w").as("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
  }

  /** Interpolated Kneser–Ney bigram model fitted on the corpus:
    *
    *   P(w|v) = (c(v,w) − D)/c(v) + D·N1+(v,·)/c(v) · Pcont(w)
    *   Pcont(w) = N1+(·,w) / N1+(·,·)
    *
    * where c(v) = Σ_w c(v,w) (context total — the last token of each doc
    * continues nothing), N1+(v,·) = distinct continuations of v,
    * N1+(·,w) = distinct contexts preceding w (the continuation count —
    * KN's insight: "Francisco" is frequent but follows only "San", so it
    * should back off weakly), and N1+(·,·) = total bigram types. Every
    * observed bigram has c ≥ 1 > D, so the max(·,0) clamp of the general
    * form is vacuous on the fitted rows.
    *
    * Output: (v, w, c_vw, c_v, n1p_v, n1p_w, p_kn, _lp) with `p_kn`
    * rounded to 1e-6 and `_lp = round(−ln P, 6)` as DECIMAL — the
    * [[lmScore]] determinism convention (rounding absorbs libm ulp
    * differences; decimal sums are order-independent).
    *
    * Scale shape: the ONLY corpus-sized pass is [[knBigramCounts]]'s one
    * explode+aggregation; `ctx`/`cont`/`nb` are re-aggregations of the
    * bigram-type frame (vocabulary-scale), and the model join keys that
    * same frame by v then w — the hottest context row count equals that
    * context's distinct-continuation count, df-bounded like
    * [[sourceDivergence]]'s word join, so neither join inherits token
    * skew. The 1-row type total broadcasts. */
  def knBigramModel(docs: DataFrame, text: Column,
      discount: Double = KnDiscount): DataFrame =
    knModelParts(docs, text, discount)._1

  /** The KN fit split into its four statistic frames — `(model, ctx,
    * cont, nTypes)` = ((v, w, c_vw, c_v, n1p_v, n1p_w, p_kn, _lp),
    * (v, c_v, n1p_v), (w, n1p_w), 1-row (n_bigram_types)) — so the
    * batch scorer and [[graft.streaming.Streaming.knScoreStream]]'s
    * backoff path share one fit: backoff for an UNSEEN bigram needs the
    * context and continuation marginals independently of the joined
    * model rows. */
  def knModelParts(docs: DataFrame, text: Column,
      discount: Double = KnDiscount)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    knPartsFromCounts(knBigramCounts(docs, text), discount)

  /** Incremental maintenance of the frozen KN statistics — the
    * gramIndexUpdate treatment ([[SpanDedupOps]], `SpanDedupOps
    * .scala:139`) applied to the language model, closing the r13
    * verdict's "frozen models age silently" gap for the KN-LM: the
    * PRIMITIVE statistic is the bigram-type count frame `(v, w, c_vw)`
    * and counts are ADDITIVE, so a new-arrivals delta folds in with one
    * full-outer merge of two bigram-VOCABULARY-sized frames — the old
    * corpus is never re-scanned — and every derived statistic (context
    * totals, continuation counts, the type total, every `P(w|v)`)
    * re-derives from the merged frame at vocabulary cost via
    * [[knModelFromCounts]]. Same precondition as every ingest fold
    * here: delta docs are NEW arrivals (a re-crawl goes through CDC
    * apply + re-stat, not this fold). Invariant:
    * `update(counts(A), B) ≡ counts(A ∪ B)` — q182's oracle replays the
    * full-rebuild model in SQL, so merge-equals-rebuild IS the driver
    * gate (the q168 convention). */
  def knCountsUpdate(prev: DataFrame, delta: DataFrame,
      text: Column): DataFrame =
    prev.select(col("v"), col("w"), col("c_vw").as("_ca"))
      .join(knBigramCounts(delta, text)
          .select(col("v"), col("w"), col("c_vw").as("_cb")),
        Seq("v", "w"), "full_outer")
      .select(col("v"), col("w"),
        (coalesce(col("_ca"), lit(0L)) + coalesce(col("_cb"), lit(0L)))
          .as("c_vw"))

  /** The interpolated-KN model frame re-derived from a (possibly
    * [[knCountsUpdate]]-merged) bigram-count frame — the refresh path's
    * second half: everything downstream of the counts is
    * vocabulary-scale re-aggregation, cheap enough to run per fold. */
  def knModelFromCounts(cvw: DataFrame,
      discount: Double = KnDiscount): DataFrame =
    knPartsFromCounts(cvw, discount)._1

  private def knPartsFromCounts(cvw: DataFrame, discount: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(discount > 0.0 && discount < 1.0,
      s"KN discount must be in (0,1), got $discount")
    val ctx = cvw.groupBy("v")
      .agg(sum("c_vw").as("c_v"), count(lit(1)).as("n1p_v"))
    val cont = cvw.groupBy("w").agg(count(lit(1)).as("n1p_w"))
    val nb = cvw.agg(count(lit(1)).as("n_bigram_types"))
    val p = (col("c_vw").cast("double") - lit(discount)) /
        col("c_v").cast("double") +
      lit(discount) * col("n1p_v").cast("double") / col("c_v").cast("double") *
        (col("n1p_w").cast("double") /
          col("n_bigram_types").cast("double"))
    val model = cvw.join(ctx, "v").join(cont, "w").join(broadcast(nb))
      .select(col("v"), col("w"), col("c_vw"), col("c_v"), col("n1p_v"),
        col("n1p_w"), round(p, 6).as("p_kn"),
        round(-log(p), 6).cast("decimal(18,6)").as("_lp"))
    (model, ctx, cont, nb)
  }

  /** Per-document KN-bigram cross-entropy (self-scoring, the [[lmScore]]
    * counterpart one order up): every document bigram is in the fitted
    * model, so no backoff path executes here — scoring UNSEEN data (the
    * ingest gate) is [[graft.streaming.Streaming.knScoreStream]], which
    * carries the full backoff. Documents with fewer than two tokens have
    * no bigrams and are absent from the output (mirrored by the oracle's
    * inner join). The bigram join key is Zipf-skewed like [[lmScore]]'s
    * word key and gets the same split: the top-[[KnHeadK]] bigram types
    * ride a broadcast, only tail bigrams shuffle. */
  def knScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // r19: the fitted bigram model is MATERIALIZED (localCheckpoint —
    // the dsirWeights fit-artifact convention): the Zipf head, the tail
    // anti-join, and the probe consume it three ways, and
    // un-materialized each consumer re-ran the corpus-scale fit. The
    // artifact is bigram-vocabulary-sized.
    val model = knBigramModel(docs, text).select("v", "w", "c_vw", "_lp")
      .localCheckpoint(true)
    val head = model.orderBy(col("c_vw").desc, col("v"), col("w"))
      .limit(KnHeadK).select("v", "w", "_lp")
    val tail = model
      .join(broadcast(head.select("v", "w")), Seq("v", "w"), "left_anti")
      .select("v", "w", "_lp")
    // the word array is hoisted into a projected column: inlined, the
    // filter plus the two slice arguments and their size() bounds
    // re-evaluated split(text) ~5x per row
    val ws = col("_ws")
    val dbg = docs.select(id.as("doc_id"), split(text, " ").as("_ws"))
      .where(size(ws) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("v"), b.as("w")))).as("b"))
      .select(col("doc_id"), col("b.v").as("v"), col("b.w").as("w"))
    val probed = dbg.join(broadcast(head), Seq("v", "w"), "left")
    probed.where(col("_lp").isNotNull)
      .unionByName(probed.where(col("_lp").isNull).drop("_lp")
        .join(tail, Seq("v", "w")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("_lp").as("_s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("_s").cast("double") / col("n_bigrams"), 6)
          .as("cross_entropy"))
  }

  // ───────────────────────────────────────────────────────────────────
  // Luhn-validated payment-card detection (ISO/IEC 7812 mod-10 check,
  // Luhn 1960, US patent 2,950,048 — long expired and public). A bare
  // digit-run regex drowns a PII scrubber in false positives (order ids,
  // timestamps, phone numbers); the Luhn checksum rejects ~90% of random
  // digit runs, which is the difference between a reviewable report and
  // noise on a web-scale corpus.

  /** Candidate card shape: 13–19 digits, optionally space/dash-grouped
    * (the regex brackets 12–22 inner chars so the digit-count gate in
    * [[luhnValid]] does the precise bounding). RE2-compatible — no
    * lookaround — so the oracle can run it verbatim. */
  val CcCandidateRe = "[0-9][0-9 -]{11,21}[0-9]"

  /** Luhn mod-10 sum of a digit string with doubling parity `dbl` over
    * 0-based positions from the RIGHT: parity 1 doubles odd positions
    * (validating a full number whose rightmost digit is the check
    * digit), parity 0 doubles even positions (pricing a PAYLOAD whose
    * digits all shift left once the check digit is appended). Pure
    * higher-order column expression — per-char work over a ≤19-char
    * string, row-local. */
  private def luhnSum(digits: Column, dbl: Int): Column =
    aggregate(
      // two-arg lambda: element + index. The digit string must be the
      // HOF *argument*, never a capture inside the lambda body — Spark
      // re-evaluates captured outer expressions PER ELEMENT, and when
      // `digits` is itself derived from a content hash that turned each
      // row into ~100 full-text hash evaluations (measured: q139
      // 15.3 s → 0.8 s at sf0.1 for this rewrite alone).
      transform(split(reverse(digits), ""), (c, i) => {
        val d = c.cast("int")
        when(i % 2 === lit(dbl),
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)

  /** True iff `digits` is a plausible card number: 13–19 digits (ISO
    * 7812 length band) passing the Luhn check. Assumes a digits-only
    * string (callers normalize separators first). */
  def luhnValid(digits: Column): Column =
    length(digits).between(13, 19) && luhnSum(digits, 1) % 10 === 0

  /** The Luhn CHECK DIGIT for a digit payload — the generator half
    * (synthetic-fixture manufacture and the q139 cross-engine identity
    * generator∘validator ≡ true). */
  def luhnCheckDigit(payload: Column): Column =
    (lit(10) - luhnSum(payload, 0) % 10) % 10

  /** Deterministic negative sampling from the unigram^alpha distribution
    * — the word2vec/noise-contrastive convention (Mikolov et al. 2013:
    * the 3/4 power flattens Zipf so frequent words don't monopolize the
    * noise). Each document draws `k` negatives by EXACT inverse-CDF:
    * the vocabulary's cumulative adjusted weights (1e-6-rounded DECIMAL,
    * so the partition of mass is engine-exact) split [0, total) into
    * half-open intervals, each draw is an avalanched content-hash
    * position u ∈ [0, 1e6), and membership is decided by the
    * DIVISION-FREE exact comparison prev·1e6 ≤ u·total < cum·1e6 —
    * every draw lands in exactly one interval, reproducibly across
    * runs, partitionings, and engines.
    *
    * Scale shape: the cumsum window runs on the VOCABULARY frame (the
    * sources-table window precedent); the corpus-scale draw side meets
    * the intervals through an EQUI join on quantized buckets — each
    * interval registers its covered buckets ±1 slop (the float bucket
    * boundary may disagree by an ulp; the exact comparison decides, so
    * slop costs candidates, never correctness) and each draw probes one
    * bucket, meeting ~vocab/buckets + 1 candidates, never the whole
    * table. No broadcast of corpus-sized anything; `buckets` trades
    * candidate count against the interval-expansion size. */
  def negativeSamples(docs: DataFrame, id: Column, text: Column, k: Int,
      alpha: Double = 0.75, buckets: Int = 1024): DataFrame = {
    require(k > 0 && buckets > 1, s"need k > 0, buckets > 1; got $k, $buckets")
    val wb = noiseTable(BpeOps.wordFreqs(docs, text), alpha, buckets)
    noiseDraws(docs.select(id.as("doc_id"), text.as("_text")), wb, k, buckets)
  }

  /** The frozen noise distribution behind [[negativeSamples]]: per word,
    * its half-open interval `[_prev, _cum)` of cumulative unigram^alpha
    * mass (1e-6-rounded DECIMAL, engine-exact), the shared `_tot`, and
    * one row per covered quantized bucket `_b` (±1 slop; the exact
    * comparison in the probe decides membership, so slop costs
    * candidates, never correctness). Vocabulary-scale — the static side
    * when [[noiseDraws]] runs on a stream, broadcastable at any corpus
    * size. */
  def noiseTable(vocab: DataFrame, alpha: Double = 0.75,
      buckets: Int = 1024): DataFrame = {
    require(buckets > 1, s"need buckets > 1, got $buckets")
    val w = Window.orderBy("word")
    val cum = vocab
      .select(col("word"), round(pow(col("freq").cast("double"), alpha), 6)
        .cast("decimal(18,6)").as("_p"))
      .withColumn("_cum", sum("_p").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_prev", (col("_cum") - col("_p")).cast("decimal(28,6)"))
    val tot = cum.agg(max("_cum").as("_tot"))
    cum.join(broadcast(tot))
      .select(col("word"), col("_prev"), col("_cum"), col("_tot"),
        explode(sequence(
          greatest(floor(col("_prev").cast("double") * buckets /
            col("_tot").cast("double")).cast("long") - 1, lit(0L)),
          least(floor(col("_cum").cast("double") * buckets /
            col("_tot").cast("double")).cast("long") + 1,
            lit(buckets - 1L)))).as("_b"))
  }

  /** The draw half of [[negativeSamples]], shared with the streaming
    * face: k avalanched content-hash positions per `(doc_id, _text)`
    * row, probed into the noise table by quantized-bucket equi join and
    * decided by the division-free exact interval comparison. `buckets`
    * MUST equal the value the noise table was built with — the probe
    * bucket is recomputed draw-side. */
  private[graft] def noiseDraws(docs: DataFrame, noise: DataFrame, k: Int,
      buckets: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val P = graft.functions.TextHash.P
    val h = graft.functions.HashExpressions.polyHash(col("_text"))
    val draws = docs.withColumn("_h", h)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(k - 1))).as("neg_idx"), col("_h"))
      .withColumn("_u", pmod(hrwMix(
        pmod(col("_h") * 31 + col("neg_idx"), lit(P))), lit(1000000L)))
      .withColumn("_b",
        floor(col("_u") * buckets / lit(1000000.0)).cast("long"))
    draws.join(noise, "_b")
      .where(col("_prev") * lit(1000000L) <= col("_u") * col("_tot") &&
        col("_u") * col("_tot") < col("_cum") * lit(1000000L))
      .select(col("doc_id"), col("neg_idx").cast("long").as("neg_idx"),
        col("word").as("neg_word"), col("_u").as("draw"))
  }

  /** Single-deletion neighborhood of a word: the word itself plus every
    * string obtained by removing one character. The SymSpell indexing
    * insight (deletion-neighborhood candidate generation; the method is
    * public domain): two words within Levenshtein distance 1 ALWAYS
    * share a neighborhood member — equal words trivially, an
    * insertion/deletion pair contains the shorter word in the longer's
    * neighborhood, and a substitution pair shares the deletion at the
    * substituted position — so a join on neighborhood members finds
    * every distance-1 pair without an all-pairs comparison. The
    * containment is one-directional: sharing a member does NOT imply
    * distance ≤ 1 (e.g. "ab"/"ba" share "a"), so candidates verify with
    * the real metric. */
  def deletionVariants(word: Column, maxDist: Int = 1): Column = {
    require(maxDist == 1 || maxDist == 2,
      s"deletion neighborhoods support distance 1 or 2, got $maxDist")
    def del1(s: Column): Column =
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    val d1 = del1(word)
    val all =
      if (maxDist == 1) concat(array(word), d1)
      // d2 = one more deletion from every d1 member (v is a lambda
      // variable, so nothing expensive is captured — the q139 rule)
      else concat(array(word), d1, flatten(transform(d1, v => del1(v))))
    array_distinct(all)
  }

  /** All vocabulary pairs within Levenshtein distance 1 — fuzzy
    * matching / typo canonicalization over a `(word, df)` frame,
    * discovered by the deletion-neighborhood join and VERIFIED with
    * `levenshtein` (candidates over-approximate; the metric decides).
    * Words under `minLen` are excluded: short words' neighborhoods
    * collapse onto few very short strings (every 2-char word shares a
    * single-char member with dozens of others), the method's documented
    * skew hazard — and distance-1 on a 3-char word is a 33% rewrite, a
    * different word, not a typo.
    *
    * Scale shape: the neighborhood explode and join run on the
    * VOCABULARY frame (Zipf-bounded, orders below the corpus), never
    * corpus rows; neighborhood keys are near-unique so the join does
    * not inherit token skew; verification is row-local. The exact
    * guarantee (candidates ⊇ all distance-1 pairs, then metric-filter)
    * makes the output IDENTICAL to the all-pairs brute force — the q145
    * oracle proves that equivalence per corpus. */
  def fuzzyVocabPairs(vocab: DataFrame, minLen: Int = 4,
      maxDist: Int = 1): DataFrame = {
    require(minLen >= maxDist + 2,
      s"minLen must be >= maxDist + 2, got minLen=$minLen maxDist=$maxDist")
    val vars = vocab.where(length(col("word")) >= minLen)
      .select(col("word"), col("df"),
        explode(deletionVariants(col("word"), maxDist)).as("_v"))
    vars.as("a").join(vars.as("b"),
        col("a._v") === col("b._v") && col("a.word") < col("b.word"))
      .select(col("a.word").as("word_a"), col("a.df").as("df_a"),
        col("b.word").as("word_b"), col("b.df").as("df_b"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("word_a"), col("word_b")).cast("long"))
      .where(col("dist") <= maxDist)
  }

  /** Token-budget allocation with epoch caps — exact water-filling.
    * Given a token budget B and a per-source repeat ceiling (`maxEpochs`
    * — the "don't train 40 epochs on the smallest source" rule of
    * Chinchilla-era data recipes), allocate the budget as EVENLY across
    * sources as the caps allow: sources whose cap c_s = maxEpochs ·
    * avail_s is below the even share fill to their cap, and their
    * shortfall REDISTRIBUTES among the rest — the step [[mixThresholds]]
    * deliberately skips (its one-shot `least(share, cap)` under-fills
    * the budget whenever any source caps; this operator closes that
    * gap). Water level by the standard sorted-prefix argument: with
    * caps ascending, source at rank r caps iff
    * c_r · (k − r + 1) ≤ B − cum_{r−1} (exact integers, no division —
    * the condition is monotone in r, so the capped set is a prefix).
    * Uncapped sources get the floor-divided even share of what remains;
    * the sub-`k` integer remainder stays unallocated and is readable
    * from the output (Σ alloc vs B), the documented contract.
    *
    * Scale shape: one corpus aggregation to (source, avail); everything
    * after runs on the SOURCES table — the rank window's single
    * partition holds one row per source (thousands at most), never
    * corpus rows. Output (source, avail, cap, rank, capped, alloc),
    * all BIGINT — engine-exact. */
  def budgetWaterfill(docs: DataFrame, text: Column, source: Column,
      budget: Long, maxEpochs: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val avail = docs.select(source.as("source"),
        ceil(length(text).cast("double") / 4.0).cast("long").as("toks"))
      .groupBy("source").agg(sum(col("toks")).as("avail"))
    val caps = avail.select(col("source"), col("avail"),
      (col("avail") * maxEpochs).as("cap"))
    val w = Window.orderBy(col("cap"), col("source"))
    val ranked = caps
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("_cum", sum("cap").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val k = caps.agg(count(lit(1)).as("_k"))
    val flagged = ranked.join(broadcast(k))
      .withColumn("capped",
        col("cap") * (col("_k") - col("rank") + 1) <=
          lit(budget) - (col("_cum") - col("cap")))
    val summary = flagged.agg(
      sum(when(col("capped"), 1L).otherwise(0L)).as("_m"),
      sum(when(col("capped"), col("cap")).otherwise(0L)).as("_capsum"),
      max(col("_k")).as("_k2"))
    flagged.join(broadcast(summary))
      .select(col("source"), col("avail"), col("cap"), col("rank"),
        col("capped"),
        when(col("capped"), col("cap")).otherwise(
          expr(s"($budget - _capsum) div greatest(_k2 - _m, 1)"))
          .as("alloc"))
  }

  /** Rendezvous (highest-random-weight) shard assignment — Thaler &
    * Ravishankar 1996, the CONSISTENT routing companion to
    * [[shuffleShards]]: each key goes to the shard whose
    * `hash(key # shard)` is highest, so when the shard count changes the
    * ONLY keys that move are those the new shard wins (growing n → n+1
    * relocates ~1/(n+1) of keys, all TO the new shard — never between
    * survivors). That is the property an incremental pipeline needs for
    * recrawl routing, per-shard dedup state, and cache affinity: a plain
    * `hash % n` reshuffles ~everything on any resize and invalidates
    * every shard-local structure.
    *
    * Row-local: per key, `nShards` hash probes inside one HOF column —
    * no exchange at all (routing is a LABEL here; the downstream writer
    * exchanges once on it). Ties on the hash resolve to the larger
    * shard id (struct max), part of the contract.
    *
    * The per-shard score is NOT the raw polynomial hash: appending the
    * shard digit makes that hash AFFINE in the shard id (h_s = base + s
    * mod P), so the largest id would win every key — measured: 500/500
    * keys "moved" on n→n+1. Even the [[graft.functions.TextHash
    * .sampleBucket]] multiply is affine and leaves the candidate scores
    * a fixed lattice per key. The score therefore runs through a
    * NONLINEAR multiply–xorshift–multiply mix ([[hrwMix]]) — after it,
    * the measured move fraction is 51/500 ≈ 1/9, the HRW expectation. */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val hashes = graft.functions.HashExpressions
    array_max(transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(hrwMix(hashes.polyHash(concat(key, lit("#"),
        s.cast("string")))).as("h"), s.cast("long").as("s"))))("s")
  }

  /** Nonlinear avalanche over a [0, P) hash: multiply mod P, xor with a
    * 15-bit right shift, multiply mod P again. The xor between the two
    * affine rounds is what breaks the lattice structure a pure
    * multiplicative mix preserves; all intermediates stay below 2^30 so
    * neither engine's BIGINT overflows. Mirrored verbatim in the q143
    * oracle. */
  def hrwMix(h: Column): Column = {
    val P = graft.functions.TextHash.P
    val m1 = pmod(h * lit(2654435761L), lit(P))
    pmod(m1.bitwiseXOR(shiftright(m1, 15)) * lit(2654435761L), lit(P))
  }

  /** Preference-pair construction — the RLHF/DPO data-prep shape: from
    * a frame of scored responses, emit one (chosen, rejected) pair per
    * group (prompt, source, task), pairing the group's best-scored row
    * against its worst (the max-margin pairing — the highest-signal
    * pair a group can yield, and the standard reduction when all-pairs
    * O(n²) is off the table at corpus scale). Determinism contract:
    * chosen ties resolve id-ASC, rejected ties id-DESC (so a fully tied
    * group still picks distinct endpoints when it has ≥2 rows);
    * single-row groups and zero-margin pairs below `minMargin` drop.
    *
    * Scale shape: ONE aggregation exchange on the group key — chosen
    * and rejected are struct-ordered min/max aggregates, no window, no
    * self-join. Struct aggregates compile to partial+final
    * SortAggregate (structs are not hash-aggregable), so there IS an
    * in-partition sort on the group key — but the map-side partial
    * reduces each partition to one row per group BEFORE the exchange,
    * which is exactly what a row_number window cannot do; the hot-group
    * case ships one row, not the group. Output (group, chosen_id, rejected_id, chosen_score,
    * rejected_score, margin). */
  def preferencePairs(scored: DataFrame, id: Column, group: Column,
      score: Column, groupName: String = "group",
      minMargin: Double = 0.0): DataFrame = {
    scored.select(group.as("_g"), id.as("_id"), score.as("_s"))
      .groupBy("_g")
      .agg(max(struct(col("_s").as("s"), (-col("_id")).as("ni"))).as("_c"),
        min(struct(col("_s").as("s"), (-col("_id")).as("ni"))).as("_r"))
      .select(col("_g").as(groupName),
        (-col("_c.ni")).as("chosen_id"), (-col("_r.ni")).as("rejected_id"),
        col("_c.s").as("chosen_score"), col("_r.s").as("rejected_score"),
        round(col("_c.s") - col("_r.s"), 6).as("margin"))
      .where(col("chosen_id") =!= col("rejected_id") &&
        col("margin") >= minMargin)
  }

  /** Per-document payment-card scan: digit-run candidates by
    * [[CcCandidateRe]], separator-normalized, then Luhn-gated. Output
    * (doc_id, n_cc_candidates, n_cc_valid) — the gap between the two
    * columns is exactly the false-positive mass a checksum-free scrubber
    * would have redacted. Row-local like [[piiScan]]; composes with
    * [[piiRedact]]'s drop/replace machinery downstream. */
  def ccScan(docs: DataFrame, id: Column, text: Column,
      extra: Seq[Column] = Nil): DataFrame = {
    val norm = transform(
      regexp_extract_all(text, lit(CcCandidateRe), lit(0)),
      c => regexp_replace(c, "[ -]", ""))
    // extra: caller-named row-local columns riding the SAME projection
    // (the gopherQuality pass-through discipline) — q139's synthetic
    // checksum fixtures used to arrive via a corpus-scale doc_id
    // self-join; one select, zero joins
    docs.select(Seq(id.as("doc_id"),
      size(norm).cast("long").as("n_cc_candidates"),
      size(filter(norm, d => luhnValid(d))).cast("long").as("n_cc_valid"))
      ++ extra: _*)
  }

  // ---- IBAN scan (ISO 13616 + ISO/IEC 7064 MOD 97-10) — the bank-
  // account sibling of the Luhn card scan: account-shaped uppercase
  // alphanumeric runs are everywhere in crawled text (order ids, hashes,
  // coupon codes), and the mod-97 checksum rejects 96/97 of random
  // candidates — same reviewable-report-vs-noise argument as [[ccScan]].

  /** Candidate IBAN shape: 2 country letters + 2 check digits + a BBAN
    * of 4-char alphanumeric groups with the standard print spacing
    * (compact and `DE89 3704 0044 ...` forms both match; a remainder
    * group of 1–3 closes odd national lengths). The per-GROUP spacing —
    * not per-character — is what keeps two IBANs separated by a short
    * word from greedily fusing into one garbage candidate that hides
    * both (measured with the ` ?[A-Z0-9]{11,30}` per-char form).
    * RE2-compatible — no lookaround, bounded repetition — so the oracle
    * runs it verbatim; the 15–34 length gate in [[ibanValid]] does the
    * precise bounding after normalization. */
  val IbanCandidateRe = "[A-Z]{2}[0-9]{2}( ?[A-Z0-9]{4}){2,7}( ?[A-Z0-9]{1,3})?"

  /** ISO 7064 incremental big-number remainder: fold the character
    * codes left-to-right with digits appended base-10 and letters as
    * their two-digit values (A=10 … Z=35, appended base-100). −1 poison
    * (sticky) for any character outside [0-9A-Z] — callers normalize
    * first. The code string is the HOF argument, never a lambda capture
    * (the [[luhnSum]] per-element re-evaluation lesson). */
  private def mod97(s: Column): Column =
    aggregate(
      transform(filter(split(s, ""), c => c =!= ""),
        c => ascii(c).cast("long")),
      lit(0L), (acc, x) =>
        when(acc < 0, lit(-1L))
          .when(x.between(48, 57), (acc * 10 + (x - 48)) % 97)
          .when(x.between(65, 90), (acc * 100 + (x - 55)) % 97)
          .otherwise(lit(-1L)))

  /** MOD 97-10 remainder of a compact IBAN after the standard
    * rearrangement (first four chars moved to the end). Valid IBANs
    * remainder exactly 1. */
  def ibanMod97(iban: Column): Column =
    mod97(concat(iban.substr(lit(5), length(iban)),
      iban.substr(lit(1), lit(4))))

  /** True iff a compact (separator-free) candidate is IBAN-plausible:
    * 15–34 chars (shortest/longest national formats) with remainder 1. */
  def ibanValid(iban: Column): Column =
    length(iban).between(15, 34) && ibanMod97(iban) === 1

  /** The two IBAN CHECK DIGITS for (country, BBAN) — the generator half
    * (`98 − mod97(BBAN ∥ country ∥ "00")`, zero-padded): synthetic-
    * fixture manufacture and the cross-engine generator∘validator ≡ true
    * identity, the [[luhnCheckDigit]] convention. */
  def ibanCheckDigits(country: Column, bban: Column): Column =
    lpad((lit(98) - mod97(concat(bban, country, lit("00"))))
      .cast("string"), 2, "0")

  /** Per-document IBAN scan: candidates by [[IbanCandidateRe]],
    * space-normalized, then mod-97-gated — output
    * `(doc_id, n_iban_candidates, n_iban_valid)`, the [[ccScan]] shape
    * for bank identifiers. Row-local, zero shuffle. */
  def ibanScan(docs: DataFrame, id: Column, text: Column,
      extra: Seq[Column] = Nil): DataFrame = {
    val norm = transform(
      regexp_extract_all(text, lit(IbanCandidateRe), lit(0)),
      c => regexp_replace(c, " ", ""))
    docs.select(Seq(id.as("doc_id"),
      size(norm).cast("long").as("n_iban_candidates"),
      size(filter(norm, d => ibanValid(d))).cast("long").as("n_iban_valid"))
      ++ extra: _*)
  }
}
