package graft.queries
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextHash._
import graft.operators.{DedupOps, MultimodalOps, PQOps, RetrievalOps, SimilarityOps, TextOps}
import graft.queries.PipelineShared._

/** Pipeline band (r17 verdict item 7 split): scale twins, drift monitors, URL/domain band (q166-q183).
  * Blocks moved verbatim from the former monolithic Pipeline
  * object; helpers live in [[PipelineShared]]. */
private[queries] object PipelineBandScaleUrl {

  /** Embedding moments, PRODUCTION face ([[graft.operators.WhitenOps
    * .moments]]): the one-treeAggregate-pass covariance shape that
    * actually feeds the ZCA fit at scale — zero shuffle, one
    * dim²/2-sized double buffer per partition, log-depth combine.
    * Registered (rows-only — double accumulation is the production
    * trade; the DECIMAL oracle face is q133) so the BENCH measures the
    * production shape, not just the verification machinery: the r12
    * verdict flagged that the round's most expensive non-flagship bench
    * row (q133, 9.5 s) was the oracle shape by design. WhitenSpec pins
    * ≈-parity between the two faces at 1e-9 relative. */
  private[queries] val q166 = QueryDef(
    "q166_embedding_moments_scale",
    (s, d) => graft.operators.WhitenOps.moments(
      Tables.embeddings(s, d), col("embedding"), DIM),
    None)

  /** Compressed-audio ingest QA ([[MultimodalOps.mpegAudioInfo]]): the
    * MPEG frame-header walk over a deterministic MP3 corpus (CBR and
    * VBR streams, ID3v2-prefixed payloads, planted non-MPEG garbage) —
    * frames, duration, mean bitrate, CBR/VBR verdict per clip, no PCM
    * decode. Rows-only (no SQL engine parses MPEG framing);
    * MultimodalSpec pins encode→parse roundtrips, the ID3 skip, the
    * truncated-tail rule, and the garbage rejection. */
  private[queries] val q167 = QueryDef(
    "q167_mpeg_frame_scan",
    (s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      MultimodalOps.mpegAudioInfo(MultimodalOps.syntheticMp3Corpus(
        Tables.documents(s, d), col("doc_id"), col("text"))).toDF()
    },
    None)

  /** Frozen-screen refresh, gram index ([[graft.operators.SpanDedupOps
    * .gramIndexUpdate]]): the corpus is split 3:1 into a frozen base
    * and a new-docs delta, the delta FOLDS into the frozen index (one
    * full-outer merge of vocabulary-sized frames — the old corpus is
    * never re-scanned), and the oracle replays `gramIndex(A ∪ B)` from
    * scratch in SQL — the merge-equals-rebuild invariant IS the hash
    * gate (the q122/q145 convention). */
  private[queries] val q168 = QueryDef(
    "q168_gram_index_refresh",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.where(col("doc_id") % 4 =!= 0)
      val delta = docs.where(col("doc_id") % 4 === 0)
      graft.operators.SpanDedupOps.gramIndexUpdate(
        graft.operators.SpanDedupOps.gramIndex(
          base, col("doc_id"), col("text"), XDOC_K),
        delta, col("doc_id"), col("text"), XDOC_K)
    },
    s"""WITH $xdocCtes
       |SELECT h, glen, CAST(count(DISTINCT did) AS BIGINT) AS df,
       |  min(did) AS canon
       |FROM g GROUP BY 1, 2""".stripMargin)

  /** Frozen-screen drift detector ([[graft.operators.CorpusStatsOps
    * .robustDrift]]): the per-language median/MAD baseline is fitted on
    * the full corpus, a half-corpus "arrival batch" with a planted
    * +300-char shift on `de` is fitted fresh, and each group reports
    * its center drift in frozen-MAD units plus the needs_refit verdict
    * — the event-driven trigger for the recompute-on-drift refresh
    * (medians do not merge; the q105 detector precedent for the text
    * screens). Full oracle: both fits are quantile_cont SQL. */
  private[queries] val q169 = QueryDef(
    "q169_robust_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val frozen = graft.operators.CorpusStatsOps.robustStats(
        docs, col("lang"), col("n_chars"))
      val batch = docs.where(col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") +
          when(col("lang") === "de", 300L).otherwise(0L))
      graft.operators.CorpusStatsOps.robustDrift(
        frozen, batch, col("lang"), col("n_chars"))
    },
    """WITH fb AS (SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS v
      |    FROM documents),
      |fm AS (SELECT grp, quantile_cont(v, 0.5) AS med FROM fb GROUP BY 1),
      |fz AS (SELECT fb.grp, any_value(med) AS med,
      |    quantile_cont(abs(v - med), 0.5) AS mad
      |  FROM fb JOIN fm USING (grp) GROUP BY fb.grp),
      |bb AS (SELECT lang AS grp, CAST(n_chars +
      |      CASE WHEN lang = 'de' THEN 300 ELSE 0 END AS DOUBLE) AS v
      |    FROM documents WHERE doc_id % 2 = 0),
      |bm AS (SELECT grp, quantile_cont(v, 0.5) AS med FROM bb GROUP BY 1),
      |bz AS (SELECT bb.grp, any_value(med) AS med,
      |    quantile_cont(abs(v - med), 0.5) AS mad
      |  FROM bb JOIN bm USING (grp) GROUP BY bb.grp),
      |j AS (SELECT grp, fz.med AS med_frozen, fz.mad AS mad_frozen,
      |    bz.med AS med_new, bz.mad AS mad_new,
      |    round(CASE WHEN fz.mad <> 0
      |      THEN abs(bz.med - fz.med) / (1.4826 * fz.mad) END, 6) + 0.0
      |      AS drift_z,
      |    round(CASE WHEN fz.mad <> 0
      |      THEN bz.mad / fz.mad END, 6) + 0.0 AS mad_ratio
      |  FROM fz FULL OUTER JOIN bz USING (grp))
      |SELECT grp, med_frozen, mad_frozen, med_new, mad_new, drift_z,
      |  mad_ratio, coalesce(drift_z > 3.0, TRUE) AS needs_refit
      |FROM j""".stripMargin)

  /** Shard manifest ([[TextOps.shardManifest]]): per-shard doc/token
    * counts, completeness check (max_pos), and the order-independent
    * XOR content fingerprint over the q80 shard assignment — the audit
    * artifact published next to the training shards. Full oracle. */
  private[queries] val q175 = QueryDef(
    "q175_shard_manifest",
    (s, d) => TextOps.shardManifest(
      Tables.documents(s, d), col("doc_id"), col("text"), 16),
    s"""WITH t AS (SELECT doc_id, k % 16 AS shard,
       |    CAST(row_number() OVER (PARTITION BY k % 16 ORDER BY k, doc_id)
       |      AS BIGINT) AS pos, toks, h
       |  FROM (SELECT doc_id,
       |      ((((h * 31 + doc_id) % $P + $P) % $P) * 2654435761) % $P AS k,
       |      toks, h
       |    FROM (SELECT doc_id, ${polyHashSql("text")} AS h,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |      FROM documents)))
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  max(pos) AS max_pos,
       |  bit_xor(h) AS content_fp
       |FROM t GROUP BY shard""".stripMargin)

  /** Unicode-script composition ([[TextOps.scriptMix]]) over a corpus
    * with deterministic CJK/Cyrillic runs spliced onto hash-picked docs
    * (the q165 synthetic-damage precedent) — script routing before
    * langid and wrong-script contamination QA, full oracle. */
  private[queries] val q174 = QueryDef(
    "q174_script_mix",
    (s, d) => {
      val h = graft.functions.HashExpressions.polyHash(col("text"))
      val m = (pmod(h, lit(7L)) + 3L).cast("int")
      val spliced = when(pmod(h, lit(5L)) === 0,
          concat(col("text"), lit(" "),
            call_function("repeat", lit("中文"), m)))
        .when(pmod(h, lit(5L)) === 1,
          concat(col("text"), lit(" "),
            call_function("repeat", lit("да"), m)))
        .otherwise(col("text"))
      TextOps.scriptMix(Tables.documents(s, d).withColumn("text", spliced),
        col("doc_id"), col("text"))
    },
    s"""WITH c AS (SELECT doc_id AS did, CASE
       |    WHEN h % 5 = 0 THEN text || ' ' ||
       |      repeat(chr(20013) || chr(25991), CAST(h % 7 + 3 AS INTEGER))
       |    WHEN h % 5 = 1 THEN text || ' ' ||
       |      repeat(chr(1076) || chr(1072), CAST(h % 7 + 3 AS INTEGER))
       |    ELSE text END AS t
       |  FROM (SELECT doc_id, text, ${polyHashSql("text")} AS h
       |        FROM documents)),
       |n AS (SELECT did, CAST(length(t) AS BIGINT) AS len,
       |    CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
       |      AS BIGINT) AS n_latin,
       |    CAST(length(t) - length(regexp_replace(t,
       |      '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS n_cjk,
       |    CAST(length(t) - length(regexp_replace(t,
       |      '[\\x{0400}-\\x{04ff}]', '', 'g')) AS BIGINT) AS n_cyrillic,
       |    CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
       |      AS BIGINT) AS n_digit,
       |    CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT)
       |      AS n_space
       |  FROM c)
       |SELECT did, n_latin, n_cjk, n_cyrillic, n_digit,
       |  len - n_latin - n_cjk - n_cyrillic - n_digit - n_space AS n_other,
       |  CASE WHEN len > 0 THEN
       |    round(CAST(n_latin AS DOUBLE) / CAST(len AS DOUBLE), 6) + 0.0
       |    END AS latin_ratio,
       |  CASE
       |    WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic AND
       |      n_latin >= n_digit AND n_latin >=
       |      len - n_latin - n_cjk - n_cyrillic - n_digit - n_space
       |      THEN 'latin'
       |    WHEN n_cjk >= n_cyrillic AND n_cjk >= n_digit AND n_cjk >=
       |      len - n_latin - n_cjk - n_cyrillic - n_digit - n_space
       |      THEN 'cjk'
       |    WHEN n_cyrillic >= n_digit AND n_cyrillic >=
       |      len - n_latin - n_cjk - n_cyrillic - n_digit - n_space
       |      THEN 'cyrillic'
       |    WHEN n_digit >=
       |      len - n_latin - n_cjk - n_cyrillic - n_digit - n_space
       |      THEN 'digit'
       |    ELSE 'other' END AS dominant,
       |  (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END +
       |   CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END +
       |   CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END) >= 2 AS is_mixed
       |FROM n""".stripMargin)

  /** Exact-URL dedup ([[graft.operators.UrlOps.urlDedup]]) — crawl
    * stage zero over the canonicalized URL corpus: variant fetches of
    * one resource collapse to the min-id keeper before any content
    * hashing. Full oracle. */
  private[queries] val q181 = QueryDef(
    "q181_url_dedup",
    (s, d) => {
      graft.operators.UrlOps.urlDedup(graft.operators.UrlOps.canonicalize(
        Tables.documents(s, d), col("doc_id"), urlCol))
    },
    s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
       |c AS (SELECT doc_id,
       |  ${graft.operators.UrlOps.canonicalUrlSql("u.url")} AS url_canon,
       |  ${graft.operators.UrlOps.hostOfSql("u.url")} AS host
       |  FROM u),
       |r AS (SELECT doc_id, url_canon,
       |    ${graft.operators.UrlOps.registeredDomainSql("c.host")} AS domain
       |  FROM c),
       |g AS (SELECT url_canon, min(doc_id) AS keeper_id,
       |    CAST(count(*) AS BIGINT) AS n_copies
       |  FROM r WHERE url_canon IS NOT NULL GROUP BY 1)
       |SELECT doc_id, r.url_canon, domain,
       |  coalesce(keeper_id, doc_id) AS keeper_id,
       |  coalesce(n_copies, CAST(1 AS BIGINT)) AS n_copies,
       |  doc_id = coalesce(keeper_id, doc_id) AS keep
       |FROM r LEFT JOIN g ON r.url_canon = g.url_canon""".stripMargin)

  /** KN-LM statistics refresh ([[TextOps.knCountsUpdate]] +
    * [[TextOps.knModelFromCounts]]) — the gramIndexUpdate treatment for
    * the language model (r13 verdict item 4): the corpus splits into a
    * frozen base and a new-arrivals delta, the delta's bigram counts
    * FOLD into the frozen count frame (one full-outer merge of
    * bigram-vocabulary-sized frames — the old corpus is never
    * re-scanned), and the full interpolated-KN model re-derives from
    * the merged counts at vocabulary cost. The oracle replays the
    * FULL-REBUILD model over A ∪ B in SQL, so merge-equals-rebuild is
    * the hash gate across every derived statistic (context totals,
    * continuation counts, each smoothed probability) — the q168
    * convention at model depth. */
  private[queries] val q182 = QueryDef(
    "q182_kn_stats_refresh",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.where(col("doc_id") % 4 =!= 0)
      val delta = docs.where(col("doc_id") % 4 === 0)
      TextOps.knModelFromCounts(
        TextOps.knCountsUpdate(
          TextOps.knBigramCounts(base, col("text")), delta, col("text")))
        .drop("_lp")
    },
    s"""WITH ${knModelCtes("documents")}
       |SELECT v, w, c_vw, c_v, n1p_v, n1p_w,
       |  round($knPSql, 6) AS p_kn
       |FROM cvw JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN tot"""
      .stripMargin)

  /** NB classifier drift ([[graft.operators.ClassifyOps
    * .confusionDrift]]) — the q169 robustDrift shape for the learned
    * classifier tier: the NB language model is frozen on the hash-split
    * train corpus, its held-out confusion is the acceptance BASELINE
    * (the q118 artifact), a synthetic arrivals batch perturbs the `de`
    * documents' token distribution (vowel squash — a deterministic,
    * SQL-replayable encoding-drift stand-in), and each label reports
    * its frozen-model accuracy drop plus the needs_refit verdict. Full
    * oracle: the q118 chain applied twice (baseline + perturbed held
    * split) and reduced to per-label accuracy drift.
    *
    * Honest finding (sf0.01): no label flags — the held-out NB is
    * already chance-level on this shared-vocabulary synthetic corpus
    * (`de` acc 0.056 baseline, the q176 κ≈0.002 verdict from the other
    * direction), so an all-OOV perturbation cannot DROP it 0.1; the
    * firing semantics (collapse → flag, vanished/new label → flag) are
    * pinned on a synthetic confusion fixture in ClassifyOpsSpec. */
  private[queries] val q183 = QueryDef(
    "q183_nb_drift",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // text/lang ride hashSplit's keep pass-through — one row-local
      // projection, no corpus-scale doc_id join-back (r15: was a
      // docs ⋈ split self-join)
      val withSplit = TextOps.hashSplit(docs, col("doc_id"), col("text"),
        keep = Seq(col("text"), col("lang")))
      val train = withSplit.where(col("split") === "train")
      val held = withSplit.where(col("split") =!= "train")
      // ONE shared fit for both confusion sides (r15: nbClassify per
      // side re-ran the token-explode fit aggregation + the label
      // collect twice on identical train input); the vocab-scale model
      // table is eagerly materialized because scoreTokens consumes it
      // twice per side (head split + tail anti)
      val labels = train.select(col("lang").cast("string")).distinct()
        .as[String].collect().sorted.toSeq
      val (model0, pri0) = graft.operators.ClassifyOps.nbFit(
        train, col("text"), col("lang"), labels)
      val model = model0.localCheckpoint(true)
      val pri = pri0.localCheckpoint(true)
      def confusion(apply: org.apache.spark.sql.DataFrame) =
        graft.operators.ClassifyOps.scoreTokens(
            apply.select(col("doc_id"), col("lang").as("label"),
              explode(split(col("text"), " ")).as("word")),
            model, pri, labels, Seq("doc_id", "label"))
          .groupBy("label", "pred_label").agg(count(lit(1)).as("n"))
      val arrivals = held.withColumn("text",
        when(col("lang") === "de", translate(col("text"), "aeiou", "xxxxx"))
          .otherwise(col("text")))
      val drift = graft.operators.ClassifyOps.confusionDrift(
        confusion(held), confusion(arrivals))
      // materialize the tiny per-label result, then FREE the two
      // vocab-scale checkpoint RDDs (the wpLearn/bpeLearn freeCheckpoint
      // discipline — r15 leaked both for the session lifetime, once per
      // bench rep); the returned frame is a LocalRelation referencing
      // neither
      val rows = java.util.Arrays.asList(drift.collect(): _*)
      def free(df: org.apache.spark.sql.DataFrame): Unit =
        df.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
      free(model); free(pri)
      s.createDataFrame(rows, drift.schema)
    }, {
      val ls = NbLangs
      val dec = "DECIMAL(18,6)"
      val ph = graft.functions.TextHash.polyHashSql("text")
      // the q118 apply chain, emitted once per side with a prefix
      def applyChain(p: String): String =
        s"""${p}htoks AS (SELECT doc_id, lang,
           |    unnest(string_split(text, ' ')) AS word FROM ${p}held),
           |${p}sums AS (SELECT t.doc_id, t.lang,
           |    ${ls.map(l => s"sum(COALESCE(m.lp_$l, oov.oov_$l)) AS s_$l")
                .mkString(", ")}
           |  FROM ${p}htoks t LEFT JOIN model m ON m.word = t.word
           |  CROSS JOIN oov GROUP BY 1, 2),
           |${p}scored AS (SELECT doc_id, lang,
           |    ${ls.map(l => s"s_$l + pri.pri_$l AS sc_$l").mkString(", ")}
           |  FROM ${p}sums CROSS JOIN pri),
           |${p}pick AS (
           |  SELECT doc_id, lang, l AS pred_label,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l)
           |      AS rk
           |  FROM (SELECT doc_id, lang,
           |      unnest([${ls.map(l => s"'$l'").mkString(", ")}]) AS l,
           |      unnest([${ls.map(l => s"sc_$l").mkString(", ")}]) AS s
           |    FROM ${p}scored) u),
           |${p}cells AS (SELECT lang AS label, pred_label,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM ${p}pick WHERE rk = 1 GROUP BY 1, 2),
           |${p}acc AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_${p},
           |    round(coalesce(sum(CASE WHEN label = pred_label THEN n END),
           |      0) / CAST(sum(n) AS DOUBLE), 6) + 0.0 AS acc_${p}
           |  FROM ${p}cells GROUP BY 1)""".stripMargin
      s"""WITH train AS (SELECT * FROM documents WHERE $ph % 100 < 80),
         |bheld AS (SELECT doc_id, lang, text FROM documents
         |  WHERE $ph % 100 >= 80),
         |aheld AS (SELECT doc_id, lang,
         |    CASE WHEN lang = 'de' THEN translate(text, 'aeiou', 'xxxxx')
         |      ELSE text END AS text
         |  FROM documents WHERE $ph % 100 >= 80),
         |toks AS (SELECT doc_id, lang,
         |    unnest(string_split(text, ' ')) AS word FROM train),
         |cls AS (SELECT count(DISTINCT word) AS v,
         |    ${ls.map(l => s"count(*) FILTER (WHERE lang = '$l') AS tot_$l")
              .mkString(",\n    ")}
         |  FROM toks),
         |wc AS (SELECT word, lang, count(*) AS n FROM toks GROUP BY 1, 2),
         |pri AS (SELECT
         |    ${ls.map(l => s"CAST(round(ln(count(*) FILTER (WHERE lang = '$l')" +
              s" / CAST(count(*) AS DOUBLE)), 6) AS $dec) AS pri_$l")
              .mkString(",\n    ")}
         |  FROM train),
         |oov AS (SELECT
         |    ${ls.map(l => s"CAST(round(ln(1.0 / (cls.tot_$l + cls.v)), 6)" +
              s" AS $dec) AS oov_$l").mkString(",\n    ")}
         |  FROM cls),
         |model AS (
         |  SELECT w.word,
         |    ${ls.map(l => s"CAST(round(ln(CAST(COALESCE(c_$l.n, 0) + 1 AS DOUBLE)" +
              s" / (cls.tot_$l + cls.v)), 6) AS $dec) AS lp_$l")
              .mkString(",\n    ")}
         |  FROM (SELECT DISTINCT word FROM toks) w CROSS JOIN cls
         |  ${ls.map(l => s"LEFT JOIN wc c_$l ON c_$l.word = w.word AND c_$l.lang = '$l'")
              .mkString("\n  ")}),
         |${applyChain("b")},
         |${applyChain("a")}
         |SELECT coalesce(bacc.label, aacc.label) AS label,
         |  n_b AS n_base, n_a AS n_new,
         |  acc_b AS acc_frozen, acc_a AS acc_new,
         |  round(acc_b - acc_a, 6) + 0.0 AS drift,
         |  (bacc.label IS NULL OR aacc.label IS NULL
         |    OR acc_b - acc_a > 0.1) AS needs_refit
         |FROM bacc FULL OUTER JOIN aacc ON bacc.label = aacc.label"""
        .stripMargin
    })

  /** Corpus datasheet ([[graft.operators.CorpusStatsOps.datasheet]]):
    * the one-row release summary — sizes, composition, and the
    * headline health rates (exact-dup fraction, quality keep rate,
    * encoding-damage rate, hapax ratio). Full oracle. */
  private[queries] val q180 = QueryDef(
    "q180_corpus_datasheet",
    (s, d) => graft.operators.CorpusStatsOps.datasheet(
      Tables.documents(s, d), col("doc_id"), col("text"),
      col("lang"), col("source")),
    s"""WITH base AS (SELECT doc_id, text, lang, source,
       |    ${polyHashSql("text")} AS fp, string_split(text, ' ') AS ws
       |  FROM documents),
       |d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |    CAST(count(*) - count(DISTINCT (fp, length(text))) AS BIGINT)
       |      AS n_exact_dups,
       |    CAST(sum(CASE WHEN $qualityCompositeSql
       |      >= ${TextOps.DefaultMinQuality} THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_quality_keep,
       |    CAST(sum(CASE WHEN
       |      (length(text) - length(replace(text, chr(65533), ''))) > 0 OR
       |      (length(text) - length(regexp_replace(text,
       |        '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'))) > 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
       |  FROM base),
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(ws) AS w FROM base)
       |  WHERE length(w) > 0 GROUP BY 1),
       |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hapax
       |  FROM wf)
       |SELECT n_docs, n_tokens, n_chars, n_types, n_langs, n_sources,
       |  round(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    + 0.0 AS mean_doc_tokens,
       |  round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
       |    + 0.0 AS hapax_ratio,
       |  round(CAST(n_exact_dups AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    + 0.0 AS exact_dup_frac,
       |  round(CAST(n_quality_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    + 0.0 AS quality_keep_rate,
       |  round(CAST(n_suspect AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    + 0.0 AS suspect_rate
       |FROM d, t""".stripMargin)

  /** Per-eval-item contamination report ([[TextOps.contaminationReport]])
    * — the governance flip side of q79: which TEST items are
    * compromised, by how many train docs, worst offender id, and the
    * shared-shingle exposure. Boilerplate-df-capped (r13 verdict item
    * 2): shingles in more than [[ContamMaxDf]] train docs are pruned
    * from the pair join — bounding each join key's fan-out at maxDf —
    * and surfaced per test item as `boilerplate_shingles`; a test item
    * whose ONLY overlap is boilerplate gets a row with zero train docs
    * and NULL offender columns. Full oracle (the q79 chain reversed,
    * struct-max tie rule and the df cap mirrored). */
  private[queries] val q179 = QueryDef(
    "q179_contamination_report",
    (s, d) => TextOps.contaminationReport(
      Tables.documents(s, d), col("doc_id"), col("text"), ContamW,
      maxDf = ContamMaxDf),
    s"""WITH ${shingleCteW(ContamW)},
       |spl AS (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM (SELECT doc_id, ${polyHashSql("text")} % 100 AS b
       |        FROM documents) t),
       |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
       |  FROM sh GROUP BY 1),
       |te AS (SELECT sh.doc_id AS test_id, ns.n_shingles, sh.h
       |  FROM sh JOIN spl ON sh.doc_id = spl.doc_id
       |  JOIN ns ON sh.doc_id = ns.doc_id
       |  WHERE split = 'test'),
       |tr AS (SELECT sh.doc_id AS train_id, sh.h
       |  FROM sh JOIN spl ON sh.doc_id = spl.doc_id
       |  WHERE split = 'train'),
       |hot AS (SELECT h FROM tr GROUP BY 1
       |  HAVING count(*) > $ContamMaxDf),
       |bl AS (SELECT test_id, max(n_shingles) AS n_shingles,
       |    CAST(count(*) AS BIGINT) AS boilerplate_shingles
       |  FROM te WHERE h IN (SELECT h FROM hot) GROUP BY 1),
       |p AS (SELECT test_id, train_id,
       |    max(n_shingles) AS n_shingles,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM te JOIN tr ON te.h = tr.h
       |  WHERE te.h NOT IN (SELECT h FROM hot)
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 2),
       |a AS (SELECT test_id,
       |    max(n_shingles) AS n_shingles,
       |    CAST(count(*) AS BIGINT) AS n_train_docs,
       |    max({'sh': shared, 'ni': -train_id}) AS m
       |  FROM p GROUP BY 1)
       |SELECT coalesce(a.test_id, bl.test_id) AS test_id,
       |  coalesce(a.n_shingles, bl.n_shingles) AS n_shingles,
       |  coalesce(a.n_train_docs, 0) AS n_train_docs,
       |  (m).sh AS max_shared, -(m).ni AS worst_train_id,
       |  coalesce(bl.boilerplate_shingles, 0) AS boilerplate_shingles,
       |  round(CAST((m).sh AS DOUBLE) / CAST(a.n_shingles AS DOUBLE), 6)
       |    + 0.0 AS exposure
       |FROM a FULL OUTER JOIN bl ON a.test_id = bl.test_id""".stripMargin)

  /** Fill-in-the-middle transform ([[TextOps.fimSplit]], Bavarian et
    * al. 2022): hash-drawn double cut into (prefix, middle, suffix),
    * PSM reorder at rate 1/2, deterministic draws — the code-model
    * infilling data prep, completing the denoising family with q124
    * (span corruption) and q125 (prefix-LM). Full oracle: cut points,
    * the applied draw, all three segment fingerprints, and the emitted
    * training text's fingerprint replayed in SQL. */
  private[queries] val q178 = QueryDef(
    "q178_fim_transform",
    (s, d) => TextOps.fimSplit(
      Tables.documents(s, d), col("doc_id"), col("text")),
    s"""WITH base AS (SELECT doc_id, text,
       |    list_filter(string_split(text, ' '), w -> length(w) > 0)
       |      AS toks,
       |    ((((${polyHashSql("text")} * 31 + doc_id) % $P + $P) % $P)
       |      * 2654435761) % $P AS d1
       |  FROM documents),
       |b2 AS (SELECT *, (d1 * 2654435761) % $P AS d2, len(toks) AS n
       |  FROM base),
       |c AS (SELECT doc_id, text, toks, n, d1,
       |    least(d1 % (n + 1), d2 % (n + 1)) AS cut1,
       |    greatest(d1 % (n + 1), d2 % (n + 1)) AS cut2
       |  FROM b2),
       |s AS (SELECT doc_id, text, n, d1, cut1, cut2,
       |    coalesce(array_to_string(toks[1:cut1], ' '), '') AS prefix,
       |    CASE WHEN cut2 > cut1 THEN
       |      coalesce(array_to_string(toks[cut1+1:cut2], ' '), '')
       |      ELSE '' END AS middle,
       |    CASE WHEN n > cut2 THEN
       |      coalesce(array_to_string(toks[cut2+1:n], ' '), '')
       |      ELSE '' END AS suffix
       |  FROM c),
       |e AS (SELECT doc_id, n, cut1, cut2, prefix, middle, suffix,
       |    (d1 % 10) < 5 AS applied,
       |    CASE WHEN (d1 % 10) < 5 THEN concat_ws(' ', '<PRE>', prefix,
       |      '<SUF>', suffix, '<MID>', middle) ELSE text END AS emitted
       |  FROM s)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  applied AS fim_applied,
       |  CAST(cut1 AS BIGINT) AS cut1, CAST(cut2 AS BIGINT) AS cut2,
       |  CASE WHEN prefix = '' THEN 0
       |    ELSE ${polyHashSql("prefix")} END AS prefix_fp,
       |  CASE WHEN middle = '' THEN 0
       |    ELSE ${polyHashSql("middle")} END AS middle_fp,
       |  CASE WHEN suffix = '' THEN 0
       |    ELSE ${polyHashSql("suffix")} END AS suffix_fp,
       |  ${polyHashSql("emitted")} AS emitted_fp
       |FROM e""".stripMargin)

  /** Per-domain token-budget cap ([[graft.operators.UrlOps
    * .domainTokenCap]]): greedy-by-quality truncation of each
    * registered domain at a token budget — the RefinedWeb head-domain
    * squeeze, composed over the q170 domain extraction. Full oracle. */
  private[queries] val q177 = QueryDef(
    "q177_domain_token_cap",
    (s, d) => {
      // tokens + quality score ride canonicalize's pass-through columns
      // (the q171 no-join-back rule)
      val docs = Tables.documents(s, d)
        .withColumn("_toks", size(split(col("text"), " ")).cast("long"))
        .withColumn("_score",
          round(TextOps.qualityComposite(col("text")), 6))
      val enriched = graft.operators.UrlOps.canonicalize(
        docs, col("doc_id"), urlCol, keep = Seq("_toks", "_score"))
      graft.operators.UrlOps.domainTokenCap(enriched, col("doc_id"),
        col("domain"), col("_toks"), col("_score"), tokenBudget = 150L)
    },
    s"""WITH u AS (SELECT doc_id, $urlSql AS url,
       |    CAST(len(ws) AS BIGINT) AS toks,
       |    round($qualityCompositeSql, 6) AS score
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
       |        FROM documents)),
       |c AS (SELECT doc_id, toks, score,
       |    ${graft.operators.UrlOps.hostOfSql("u.url")} AS host FROM u),
       |r AS (SELECT doc_id, toks, score,
       |    ${graft.operators.UrlOps.registeredDomainSql("c.host")} AS domain
       |  FROM c),
       |rk AS (SELECT doc_id, domain, toks, score,
       |    CAST(row_number() OVER (PARTITION BY domain
       |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk,
       |    CAST(sum(toks) OVER (PARTITION BY domain
       |      ORDER BY score DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM r)
       |SELECT doc_id, domain, toks AS n_tokens, score,
       |  CASE WHEN rnk <= 100000 THEN rnk END AS rank,
       |  CASE WHEN rnk <= 100000 THEN cum END AS cum_tokens,
       |  CASE WHEN rnk <= 100000 THEN (cum <= 150 OR rnk = 1)
       |    ELSE false END AS keep
       |FROM rk""".stripMargin)

  /** Cohen's κ between the q38 heuristic language prediction and the
    * stored labels ([[graft.operators.ClassifyOps.cohenKappa]]) — the
    * chance-corrected agreement audit; exact-integer confusion/marginal
    * arithmetic, full oracle reusing the q38 scoring chain verbatim. */
  private[queries] val q176 = QueryDef(
    "q176_label_agreement",
    (s, d) => {
      // the stored label rides langId's own projection (r15: was a
      // doc-cardinality join-back)
      val pred = TextOps.langId(Tables.documents(s, d),
        col("doc_id"), col("text"), keep = Seq(col("lang")))
      graft.operators.ClassifyOps.cohenKappa(
        pred, col("lang"), col("pred_lang"))
    },
    {
      val scores = TextOps.LangProfiles.map { case (lang, stop) =>
        val list = stop.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(ws, w -> list_contains($list, w))) AS DOUBLE)" +
          s" / CAST(len(ws) AS DOUBLE) AS score_$lang"
      }.mkString(",\n  ")
      val best = TextOps.LangProfiles.map(p => s"score_${p._1}")
        .mkString("greatest(", ", ", ")")
      val pred = TextOps.LangProfiles.map { case (lang, _) =>
        s"WHEN score_$lang = best AND best > 0 THEN '$lang'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH words AS (SELECT doc_id, lang,
         |    string_split(text, ' ') AS ws FROM documents),
         |scored AS (SELECT doc_id, lang,
         |  $scores
         |FROM words),
         |wb AS (SELECT *, $best AS best FROM scored),
         |j AS (SELECT lang AS la, $pred AS lb FROM wb),
         |conf AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
         |  FROM j GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(coalesce(sum(CASE WHEN la = lb THEN c END), 0)
         |      AS BIGINT) AS n_agree
         |  FROM conf),
         |ra AS (SELECT la, sum(c) AS ra FROM conf GROUP BY 1),
         |cb AS (SELECT lb, sum(c) AS cb FROM conf GROUP BY 1),
         |m AS (SELECT coalesce(sum(ra * cb), 0) AS pe_num
         |  FROM ra JOIN cb ON la = lb)
         |SELECT n, n_agree,
         |  round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
         |    AS po,
         |  round(CAST(pe_num AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0.0 AS pe,
         |  CASE WHEN CAST(pe_num AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
         |    round((CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) -
         |        CAST(pe_num AS DOUBLE) /
         |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |      / (1.0 - CAST(pe_num AS DOUBLE) /
         |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) + 0.0
         |    END AS kappa
         |FROM tot, m""".stripMargin
    })

  /** ROC-AUC of the composite quality score against the `lang = en`
    * label ([[graft.operators.ClassifyOps.scoreAuc]]): Mann–Whitney
    * rank-sum with midrank ties, cumulative window over DISTINCT
    * round-6 scores only (never a corpus-wide rank), decimal-exact
    * rank-sum — full oracle. */
  private[queries] val q173 = QueryDef(
    "q173_score_auc",
    (s, d) => graft.operators.ClassifyOps.scoreAuc(
      Tables.documents(s, d),
      round(TextOps.qualityComposite(col("text")), 6),
      col("lang") === "en"),
    s"""WITH f AS (SELECT round($qualityCompositeSql, 6) AS s,
       |    (lang = 'en') AS y
       |  FROM (SELECT text, lang, string_split(text, ' ') AS ws
       |        FROM documents)),
       |b AS (SELECT s, CAST(count(*) AS BIGINT) AS n_tot,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM f WHERE s IS NOT NULL AND y IS NOT NULL GROUP BY 1),
       |r AS (SELECT n_tot, n_pos,
       |    CAST(coalesce(sum(n_tot) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS DOUBLE) + (CAST(n_tot AS DOUBLE) + 1.0) / 2.0 AS avg_rank
       |  FROM b),
       |a AS (SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       |    CAST(sum(n_tot - n_pos) AS BIGINT) AS n_neg,
       |    CAST(CAST(sum(CAST(CAST(n_pos AS DOUBLE) * avg_rank
       |      AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS rs
       |  FROM r)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    round((rs - CAST(n_pos AS DOUBLE) *
       |        (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
       |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) + 0.0
       |    END AS auc
       |FROM a""".stripMargin)

  /** Per-doc unigram/bigram token entropy ([[graft.operators
    * .CorpusStatsOps.entropyScreen]]): the SQL-replayable complement of
    * the DEFLATE screen — decimal-exact rounded-term sums, entropies in
    * nats, full oracle. */
  private[queries] val q172 = QueryDef(
    "q172_entropy_screen",
    (s, d) => graft.operators.CorpusStatsOps.entropyScreen(
      Tables.documents(s, d), col("doc_id"), col("text")),
    """WITH base AS (SELECT doc_id AS did,
      |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      |  FROM documents),
      |wnz AS (SELECT did, unnest(ws) AS t FROM base),
      |uf AS (SELECT did, t, CAST(count(*) AS BIGINT) AS c
      |  FROM wnz GROUP BY 1, 2),
      |ut AS (SELECT did, c, round(
      |    -(CAST(c AS DOUBLE) / CAST(sum(c) OVER w AS DOUBLE)) *
      |    ln(CAST(c AS DOUBLE) / CAST(sum(c) OVER w AS DOUBLE)), 6) AS term
      |  FROM uf WINDOW w AS (PARTITION BY did)),
      |ua AS (SELECT did,
      |    CAST(CAST(sum(CAST(term AS DECIMAL(28,10))) AS VARCHAR)
      |      AS DOUBLE) AS h,
      |    CAST(sum(c) AS BIGINT) AS n_tok,
      |    CAST(count(*) AS BIGINT) AS n_typ
      |  FROM ut GROUP BY 1),
      |g AS (SELECT did, array_to_string(ws[i:i+1], ' ') AS t
      |  FROM base, UNNEST(generate_series(1, len(ws) - 1)) AS s(i)
      |  WHERE len(ws) >= 2),
      |gf AS (SELECT did, t, CAST(count(*) AS BIGINT) AS c
      |  FROM g GROUP BY 1, 2),
      |gt AS (SELECT did, c, round(
      |    -(CAST(c AS DOUBLE) / CAST(sum(c) OVER w AS DOUBLE)) *
      |    ln(CAST(c AS DOUBLE) / CAST(sum(c) OVER w AS DOUBLE)), 6) AS term
      |  FROM gf WINDOW w AS (PARTITION BY did)),
      |ga AS (SELECT did,
      |    CAST(CAST(sum(CAST(term AS DECIMAL(28,10))) AS VARCHAR)
      |      AS DOUBLE) AS h
      |  FROM gt GROUP BY 1)
      |SELECT base.did, coalesce(n_tok, 0) AS n_tokens,
      |  coalesce(n_typ, 0) AS n_types,
      |  round(ua.h, 6) + 0.0 AS word_entropy,
      |  CASE WHEN n_typ > 1
      |    THEN round(ua.h / ln(CAST(n_typ AS DOUBLE)), 6) + 0.0 END
      |    AS norm_entropy,
      |  round(ga.h, 6) + 0.0 AS bigram_entropy
      |FROM base LEFT JOIN ua ON base.did = ua.did
      |  LEFT JOIN ga ON base.did = ga.did""".stripMargin)

  /** URL canonicalization ([[graft.operators.UrlOps.canonicalize]]):
    * fragment/tracking-param/default-port/case normalization plus
    * registered-domain extraction over a deterministic URL corpus
    * covering every rule — full oracle, both engines canonicalizing
    * the identical strings. */
  private[queries] val q170 = QueryDef(
    "q170_url_canonicalize",
    (s, d) => {
      graft.operators.UrlOps.canonicalize(
        Tables.documents(s, d), col("doc_id"), urlCol)
    },
    s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
       |c AS (SELECT doc_id, url,
       |  ${graft.operators.UrlOps.canonicalUrlSql("u.url")} AS url_canon,
       |  ${graft.operators.UrlOps.hostOfSql("u.url")} AS host,
       |  len(list_filter(string_split(CASE WHEN contains(
       |      regexp_replace(url, '#.*$$', ''), '?')
       |    THEN regexp_replace(regexp_replace(url, '#.*$$', ''),
       |      '^[^?]*\\?', '') ELSE '' END, '&'), p -> p <> '')) AS n_all,
       |  len(list_filter(string_split(CASE WHEN contains(
       |      regexp_replace(url, '#.*$$', ''), '?')
       |    THEN regexp_replace(regexp_replace(url, '#.*$$', ''),
       |      '^[^?]*\\?', '') ELSE '' END, '&'),
       |    p -> p <> '' AND NOT regexp_extract(p, '^([^=]*)', 1) IN
       |      ${graft.operators.UrlOps.trackingParamsSql})) AS n_kept
       |  FROM u)
       |SELECT doc_id, url, url_canon, host,
       |  ${graft.operators.UrlOps.registeredDomainSql("c.host")} AS domain,
       |  CAST(n_all - n_kept AS BIGINT) AS n_params_dropped
       |FROM c""".stripMargin)
  private[queries] val q171 = QueryDef(
    "q171_domain_stats",
    (s, d) => {
      // token counts ride canonicalize's pass-through columns — a
      // join-back to documents on doc_id would shuffle the corpus twice
      // for a value computable in the same row-local pass
      val docs = Tables.documents(s, d).withColumn("_toks",
        size(split(col("text"), " ")).cast("long"))
      graft.operators.UrlOps.domainStats(
        graft.operators.UrlOps.canonicalize(
          docs, col("doc_id"), urlCol, keep = Seq("_toks")),
        col("_toks"), DomainBlocklist)
    },
    s"""WITH u AS (SELECT doc_id, $urlSql AS url,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents),
       |c AS (SELECT doc_id, toks,
       |  ${graft.operators.UrlOps.canonicalUrlSql("u.url")} AS url_canon,
       |  ${graft.operators.UrlOps.hostOfSql("u.url")} AS host,
       |  len(list_filter(string_split(CASE WHEN contains(
       |      regexp_replace(url, '#.*$$', ''), '?')
       |    THEN regexp_replace(regexp_replace(url, '#.*$$', ''),
       |      '^[^?]*\\?', '') ELSE '' END, '&'), p -> p <> '')) -
       |  len(list_filter(string_split(CASE WHEN contains(
       |      regexp_replace(url, '#.*$$', ''), '?')
       |    THEN regexp_replace(regexp_replace(url, '#.*$$', ''),
       |      '^[^?]*\\?', '') ELSE '' END, '&'),
       |    p -> p <> '' AND NOT regexp_extract(p, '^([^=]*)', 1) IN
       |      ${graft.operators.UrlOps.trackingParamsSql})) AS dropped
       |  FROM u),
       |r AS (SELECT doc_id, toks, url_canon, host, dropped,
       |    ${graft.operators.UrlOps.registeredDomainSql("c.host")} AS domain
       |  FROM c)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       |  CAST(count(*) - count(DISTINCT url_canon) AS BIGINT) AS n_url_dups,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(dropped) AS BIGINT) AS n_tracking_params,
       |  coalesce(domain IN
       |    ${DomainBlocklist.map(d => s"'$d'").mkString("(", ", ", ")")},
       |    false) AS blocked
       |FROM r GROUP BY domain""".stripMargin)
}
