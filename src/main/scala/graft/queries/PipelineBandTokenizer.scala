package graft.queries
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextHash._
import graft.operators.{DedupOps, MultimodalOps, PQOps, RetrievalOps, SimilarityOps, TextOps}
import graft.queries.PipelineShared._

/** Pipeline band (r17 verdict item 7 split): tokenizer families, fits, drift, quality filters (q128-q205).
  * Blocks moved verbatim from the former monolithic Pipeline
  * object; helpers live in [[PipelineShared]]. */
private[queries] object PipelineBandTokenizer {

  /** FULL oracle since r15 (was rows-only): the q141/q189 insight
    * applied to BPE — the APPLY under a FROZEN merge table is the
    * fold-by-rank contract ([[graft.operators.BpeOps.bpeTokensExpr]]:
    * each merge, in rank order, rewrites greedily left-to-right
    * non-overlapping), and that rewrite replays as [[bpeFoldTokensSql]]'s
    * sixteen nested replaces — no recursion — so the whole fertility
    * aggregation replays. (Symbolization is per UTF-16 unit
    * on the Spark side and per code point in DuckDB — identical on
    * this BMP corpus; the hash gate would catch divergence.) */
  private[queries] val q128 = QueryDef(
    "q128_tokenizer_fertility",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.BpeOps.tokenizerFertility(
        docs, col("doc_id"), col("text"), col("lang"),
        BpeMergesMemo.merges(s, d))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val merges = BpeMergesMemo.merges(spark, sfDir)
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val toks = bpeFoldTokensSql(merges)
      s"""WITH docs AS (SELECT lang,
         |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |  FROM documents),
         |words AS (SELECT lang, unnest(ws) AS w FROM docs),
         |enc AS (SELECT lang, CAST(length(w) AS BIGINT) AS wc,
         |    CAST(len(string_split($toks, ' ')) AS BIGINT) AS nt
         |  FROM words),
         |agg AS (SELECT lang,
         |    coalesce(CAST(count(*) AS BIGINT), 0) AS n_words,
         |    coalesce(CAST(sum(nt) AS BIGINT), 0) AS n_tokens,
         |    coalesce(CAST(sum(wc) AS BIGINT), 0) AS n_chars
         |  FROM enc GROUP BY lang),
         |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM docs GROUP BY lang)
         |SELECT nd.lang AS grp, nd.n_docs,
         |  coalesce(a.n_words, 0) AS n_words,
         |  coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_chars, 0) AS n_chars,
         |  CASE WHEN coalesce(a.n_words, 0) > 0 THEN
         |    round(CAST(a.n_tokens AS DOUBLE) / a.n_words, 6) END
         |    AS fertility,
         |  CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN
         |    round(CAST(a.n_chars AS DOUBLE) / a.n_tokens, 6) END
         |    AS chars_per_token
         |FROM nd LEFT JOIN agg a USING (lang)""".stripMargin
    }))

  /** Per-doc BPE apply face, hash-gated — with q141 (unigram Viterbi)
    * and q189 (WordPiece) this completes the triad: every tokenizer's
    * production APPLY is now oracle-checked, and only the iterative
    * FITS (q107/q140/q188) remain rows-only. Same frozen merge table as
    * q128, same replace-fold replay; output mirrors q141's shape
    * (token count + stream fingerprint, NULL fp for token-less docs). */
  private[queries] val q190 = QueryDef(
    "q190_bpe_tokenize",
    (s, d) => {
      graft.operators.BpeOps.bpeTokenize(
          Tables.documents(s, d), col("doc_id"), col("text"),
          BpeMergesMemo.merges(s, d))
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") > 0, graft.functions.HashExpressions
            .polyHash(array_join(col("tokens"), " "))).as("tokens_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val merges = BpeMergesMemo.merges(spark, sfDir)
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val toks = bpeFoldTokensSql(merges)
      s"""WITH dws AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |  FROM documents),
         |words AS (SELECT doc_id, i AS wi, ws[i] AS w
         |  FROM dws, UNNEST(generate_series(1, len(ws))) AS t(i)),
         |enc AS (SELECT doc_id, wi, $toks AS toks FROM words),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY wi) AS alltoks
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN p.alltoks IS NULL OR p.alltoks = '' THEN 0
         |    ELSE len(string_split(p.alltoks, ' ')) END AS BIGINT)
         |    AS n_tokens,
         |  CASE WHEN p.alltoks IS NOT NULL AND p.alltoks <> ''
         |    THEN ${polyHashSql("p.alltoks")} END AS tokens_fp
         |FROM dws d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
    }))

  /** BYTE-level BPE fit face (r15 verdict item 4 / What's missing 2 —
    * the GPT-family tokenizer: base alphabet = the 256 UTF-8 octets,
    * so no UNK exists and decode∘encode is the identity by
    * construction): [[graft.operators.BpeOps.bpeLearn]] verbatim over
    * [[graft.operators.BpeOps.toByteSymbols]] hex-pair symbols.
    * Rows-only like every iterative fit (q107/q140/q188): each rank's
    * pair counts depend on every earlier rewrite. The APPLY faces
    * (q196/q197) carry the hash gates. */
  private[queries] val q195 = QueryDef(
    "q195_bytebpe_merges",
    (s, d) => ByteBpeMergesMemo.merges(s, d),
    None)

  /** Per-doc byte-level BPE apply face, hash-gated — q190's shape on
    * the byte alphabet: same frozen-merge fold-by-rank contract, same
    * double-space nested-replace oracle replay, symbols now hex pairs
    * of the word's UTF-8 octets with no end-of-word marker. DuckDB's
    * `hex(encode(w))` and Spark's `hex(encode(w, 'UTF-8'))` spell the
    * SAME uppercase hex, so the fold operates on identical strings —
    * and bytes sidestep the UTF-16-vs-code-point symbolization caveat
    * the char-level faces carry. */
  private[queries] val q196 = QueryDef(
    "q196_bytebpe_tokenize",
    (s, d) => {
      graft.operators.BpeOps.byteBpeTokenize(
          Tables.documents(s, d), col("doc_id"), col("text"),
          ByteBpeMergesMemo.merges(s, d))
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") > 0, graft.functions.HashExpressions
            .polyHash(array_join(col("tokens"), " "))).as("tokens_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val toks = bpeFoldTokensSql(
        ByteBpeMergesMemo.pairs(
          org.apache.spark.sql.SparkSession.active, sfDir),
        byteLevel = true)
      s"""WITH dws AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |  FROM documents),
         |words AS (SELECT doc_id, i AS wi, ws[i] AS w
         |  FROM dws, UNNEST(generate_series(1, len(ws))) AS t(i)),
         |enc AS (SELECT doc_id, wi, $toks AS toks FROM words),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY wi) AS alltoks
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN p.alltoks IS NULL OR p.alltoks = '' THEN 0
         |    ELSE len(string_split(p.alltoks, ' ')) END AS BIGINT)
         |    AS n_tokens,
         |  CASE WHEN p.alltoks IS NOT NULL AND p.alltoks <> ''
         |    THEN ${polyHashSql("p.alltoks")} END AS tokens_fp
         |FROM dws d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
    }))

  /** Per-language byte-level fertility / compression audit
    * ([[graft.operators.BpeOps.byteTokenizerFertility]]) — q128's
    * QA table with BYTES as the denominator universe: multi-byte
    * scripts pay more base symbols per character, which is exactly the
    * fairness property this face exists to surface (the GPT-2/BLOOM
    * byte-fertility analyses). Full oracle via the same fold replay. */
  private[queries] val q197 = QueryDef(
    "q197_bytebpe_fertility",
    (s, d) => graft.operators.BpeOps.byteTokenizerFertility(
      Tables.documents(s, d), col("doc_id"), col("text"), col("lang"),
      ByteBpeMergesMemo.merges(s, d)),
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val toks = bpeFoldTokensSql(
        ByteBpeMergesMemo.pairs(
          org.apache.spark.sql.SparkSession.active, sfDir),
        byteLevel = true)
      s"""WITH docs AS (SELECT lang,
         |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |  FROM documents),
         |words AS (SELECT lang, unnest(ws) AS w FROM docs),
         |enc AS (SELECT lang,
         |    CAST(octet_length(encode(w)) AS BIGINT) AS wb,
         |    CAST(len(string_split($toks, ' ')) AS BIGINT) AS nt
         |  FROM words),
         |agg AS (SELECT lang,
         |    coalesce(CAST(count(*) AS BIGINT), 0) AS n_words,
         |    coalesce(CAST(sum(nt) AS BIGINT), 0) AS n_tokens,
         |    coalesce(CAST(sum(wb) AS BIGINT), 0) AS n_bytes
         |  FROM enc GROUP BY lang),
         |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM docs GROUP BY lang)
         |SELECT nd.lang AS grp, nd.n_docs,
         |  coalesce(a.n_words, 0) AS n_words,
         |  coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_bytes, 0) AS n_bytes,
         |  CASE WHEN coalesce(a.n_words, 0) > 0 THEN
         |    round(CAST(a.n_tokens AS DOUBLE) / a.n_words, 6) END
         |    AS fertility,
         |  CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN
         |    round(CAST(a.n_bytes AS DOUBLE) / a.n_tokens, 6) END
         |    AS bytes_per_token
         |FROM nd LEFT JOIN agg a USING (lang)""".stripMargin
    }))

  /** GPT-style pre-tokenization face ([[graft.operators.BpeOps
    * .gptPreTokenize]] — the published GPT-2 segmentation, RE2-safe
    * reformulation): contraction suffixes split off, letter/number/
    * symbol runs carry their leading space, whitespace runs survive.
    * The matches PARTITION the text (concat == identity, spec-pinned),
    * which is what lets the downstream byte BPE be lossless over FULL
    * text including whitespace. Fingerprint is over hex-encoded
    * pre-tokens (pre-tokens contain spaces, so a space-join of the raw
    * strings would be ambiguous; hex is not). */
  private[queries] val q199 = QueryDef(
    "q199_gpt_pretokenize",
    (s, d) => {
      val pt = graft.operators.BpeOps.gptPreTokenize(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
        size(pt).cast("long").as("n_pretokens"),
        when(size(pt) > 0, graft.functions.HashExpressions.polyHash(
          array_join(transform(pt, t => hex(encode(t, "UTF-8"))), " ")))
          .as("pretokens_fp"))
    },
    {
      s"""WITH dpt AS (SELECT doc_id,
         |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
         |  FROM documents)
         |SELECT doc_id, CAST(len(pts) AS BIGINT) AS n_pretokens,
         |  CASE WHEN len(pts) > 0 THEN ${polyHashSql(
             "array_to_string(list_transform(pts, t -> hex(encode(t))), ' ')")}
         |    END AS pretokens_fp
         |FROM dpt""".stripMargin
    })

  /** PRE-TOKENIZED byte-level BPE apply — the production GPT shape
    * ([[graft.operators.BpeOps.gptByteBpeTokenize]]): q196's byte face
    * with [[q199]]'s segmentation instead of whitespace words, so
    * spaces ride INSIDE tokens and `concat(unhex(tokens))` rebuilds
    * the FULL text. Distinct frozen fit (the GPT segmentation changes
    * the frequency table). Same double-space fold-replay oracle, per
    * pre-token. */
  private[queries] val q200 = QueryDef(
    "q200_bytebpe_gpt_tokenize",
    (s, d) => {
      graft.operators.BpeOps.gptByteBpeTokenize(
          Tables.documents(s, d), col("doc_id"), col("text"),
          GptByteBpeMergesMemo.merges(s, d))
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") > 0, graft.functions.HashExpressions
            .polyHash(array_join(col("tokens"), " "))).as("tokens_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val toks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(
          org.apache.spark.sql.SparkSession.active, sfDir),
        byteLevel = true)
      s"""WITH dpt AS (SELECT doc_id,
         |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
         |  FROM documents),
         |pt AS (SELECT doc_id, i AS pi, pts[i] AS w
         |  FROM dpt, UNNEST(generate_series(1, len(pts))) AS t(i)),
         |enc AS (SELECT doc_id, pi, $toks AS toks FROM pt),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY pi) AS alltoks
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN p.alltoks IS NULL OR p.alltoks = '' THEN 0
         |    ELSE len(string_split(p.alltoks, ' ')) END AS BIGINT)
         |    AS n_tokens,
         |  CASE WHEN p.alltoks IS NOT NULL AND p.alltoks <> ''
         |    THEN ${polyHashSql("p.alltoks")} END AS tokens_fp
         |FROM dpt d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
    }))

  /** The document separator every GPT-family packing pipeline inserts
    * between concatenated documents — the canonical special token. */
  private val GptSpecial = "<|endoftext|>"
  private val GptSpecialHex = GptSpecial
    .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    .map(b => f"${b & 0xff}%02X").mkString

  /** GPT byte-BPE with an ATOMIC special token ([[graft.operators
    * .BpeOps.gptByteBpeTokenizeSpecial]] — the tiktoken/HF
    * `allowed_special` contract): every doc is augmented with one
    * mid-string `<|endoftext|>` (text ‖ special ‖ lang — the
    * packed-documents shape), tokenized under the FROZEN q200 merge
    * table; the special must survive as exactly ONE token (its UTF-8
    * hex — decode identity intact) with the surrounding text
    * segmented exactly as q200 segments it. FULL oracle: the q200
    * per-pre-token fold replay run per SEGMENT of the
    * special-delimited split, reassembled in (segment, pre-token)
    * order with the special's hex interleaved — so a kernel that
    * let the pattern split the special, or merged across it, hash-
    * fails here. */
  private[queries] val q206 = QueryDef(
    "q206_gpt_special_tokens",
    (s, d) => {
      val aug = Tables.documents(s, d).withColumn("text",
        concat(col("text"), lit(GptSpecial), col("lang")))
      graft.operators.BpeOps.gptByteBpeTokenizeSpecial(
          aug, col("doc_id"), col("text"),
          GptByteBpeMergesMemo.merges(s, d), Seq(GptSpecial))
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") > 0, graft.functions.HashExpressions
            .polyHash(array_join(col("tokens"), " "))).as("tokens_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val toks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(
          org.apache.spark.sql.SparkSession.active, sfDir),
        byteLevel = true)
      s"""WITH aug AS (SELECT doc_id,
         |    text || '$GptSpecial' || lang AS text FROM documents),
         |dseg AS (SELECT doc_id,
         |    string_split(text, '$GptSpecial') AS segs FROM aug),
         |seg AS (SELECT doc_id, si, segs[si] AS seg, len(segs) AS nseg
         |  FROM dseg, UNNEST(generate_series(1, len(segs))) AS t(si)),
         |spt AS (SELECT doc_id, si, nseg,
         |    ${graft.operators.BpeOps.gptPreTokensSql("seg")} AS pts
         |  FROM seg),
         |pt AS (SELECT doc_id, si, i AS pi, pts[i] AS w
         |  FROM spt, UNNEST(generate_series(1, len(pts))) AS t(i)),
         |enc AS (SELECT doc_id, si, pi, $toks AS toks FROM pt),
         |perseg AS (SELECT doc_id, si,
         |    string_agg(toks, ' ' ORDER BY pi) AS segtoks
         |  FROM enc GROUP BY doc_id, si),
         |assembled AS (SELECT s.doc_id, string_agg(
         |    CASE WHEN p.segtoks IS NULL OR p.segtoks = ''
         |      THEN (CASE WHEN s.si < s.nseg THEN '$GptSpecialHex' END)
         |      ELSE p.segtoks ||
         |        (CASE WHEN s.si < s.nseg THEN ' $GptSpecialHex'
         |          ELSE '' END) END,
         |    ' ' ORDER BY s.si) AS alltoks
         |  FROM seg s LEFT JOIN perseg p USING (doc_id, si)
         |  GROUP BY s.doc_id)
         |SELECT a.doc_id,
         |  CAST(CASE WHEN a.alltoks IS NULL OR a.alltoks = '' THEN 0
         |    ELSE len(string_split(a.alltoks, ' ')) END AS BIGINT)
         |    AS n_tokens,
         |  CASE WHEN a.alltoks IS NOT NULL AND a.alltoks <> ''
         |    THEN ${polyHashSql("a.alltoks")} END AS tokens_fp
         |FROM assembled a""".stripMargin
    }))

  /** Token-EXACT context-window packing ([[graft.operators.TextOps
    * .packTokenSequences]] — the capstone of the GPT packing arc:
    * q200 tokenizes, q206 keeps separators atomic, this emits the
    * actual training sequences): every document's q200 token stream +
    * the `<|endoftext|>` separator token, concatenated in doc_id
    * order and cut at EXACTLY 512 tokens, documents splitting across
    * sequence boundaries. FULL oracle — the q200 fold replay extended
    * with a SQL prefix sum: per-doc token strings → exclusive
    * `sum() OVER (ORDER BY doc_id)` offsets → one row per global
    * token position → GROUP BY `gpos // 512`, re-assembling each
    * sequence in position order. A packer that mis-places one
    * boundary token, drops an empty doc's separator, or assembles
    * segments out of order hash-fails per sequence. */
  private[queries] val q207 = QueryDef(
    "q207_gpt_packed_sequences",
    (s, d) => {
      val tok = graft.operators.BpeOps.gptByteBpeTokenize(
        Tables.documents(s, d), col("doc_id"), col("text"),
        GptByteBpeMergesMemo.merges(s, d))
      graft.operators.TextOps.packTokenSequences(
          tok, col("doc_id"), col("tokens"), 512, Some(GptSpecialHex))
        .select(col("seq_id"), col("n_tokens"), col("n_segments"),
          col("n_docs_end"), col("first_doc"), col("last_doc"),
          array_join(transform(col("doc_starts"), x => x.cast("string")),
            ",").as("doc_starts"),
          graft.functions.HashExpressions.polyHash(
            array_join(col("tokens"), " ")).as("tokens_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val toks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(
          org.apache.spark.sql.SparkSession.active, sfDir),
        byteLevel = true)
      s"""WITH dpt AS (SELECT doc_id,
         |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
         |  FROM documents),
         |pt AS (SELECT doc_id, i AS pi, pts[i] AS w
         |  FROM dpt, UNNEST(generate_series(1, len(pts))) AS t(i)),
         |enc AS (SELECT doc_id, pi, $toks AS toks FROM pt),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY pi) AS alltoks
         |  FROM enc GROUP BY doc_id),
         |tk AS (SELECT d.doc_id,
         |    CASE WHEN p.alltoks IS NULL OR p.alltoks = ''
         |      THEN ['$GptSpecialHex']
         |      ELSE string_split(p.alltoks || ' $GptSpecialHex', ' ')
         |      END AS tks
         |  FROM dpt d LEFT JOIN perdoc p USING (doc_id)
         |  WHERE d.pts IS NOT NULL),
         |woff AS (SELECT doc_id, tks, CAST(len(tks) AS BIGINT) AS n,
         |    sum(CAST(len(tks) AS BIGINT))
         |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      - len(tks) AS strt
         |  FROM tk),
         |pos AS (SELECT doc_id, strt, n, strt + i - 1 AS gpos, tks[i] AS tok
         |  FROM woff, UNNEST(generate_series(1, n)) AS t(i)),
         |seqs AS (SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_segments,
         |    CAST(count(*) FILTER (WHERE gpos = strt + n - 1) AS BIGINT)
         |      AS n_docs_end,
         |    min(doc_id) AS first_doc,
         |    max(doc_id) AS last_doc,
         |    coalesce(string_agg(CASE WHEN gpos = strt
         |        THEN CAST(gpos - (gpos // 512) * 512 AS VARCHAR) END,
         |      ',' ORDER BY gpos), '') AS doc_starts,
         |    string_agg(tok, ' ' ORDER BY gpos) AS seqtoks
         |  FROM pos GROUP BY 1)
         |SELECT seq_id, n_tokens, n_segments, n_docs_end, first_doc,
         |  last_doc, doc_starts, ${polyHashSql("seqtoks")} AS tokens_fp
         |FROM seqs""".stripMargin
    }))

  /** Frozen packing strategy for q208 — the per-sfDir length histogram
    * (≤ 512 rows by construction) packed once by
    * [[graft.operators.HistogramPacking.pack]]; the oracle embeds the
    * group table as VALUES (the frozen-model convention), so the SQL
    * side replays only the deterministic closed-form assignment. */
  private[queries] object HistPackMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, Seq[graft.operators.HistogramPacking.PackGroup]]
    def groups(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[graft.operators.HistogramPacking.PackGroup] =
      cache.getOrElseUpdate(d, {
        val tok = graft.operators.BpeOps.gptByteBpeTokenize(
          Tables.documents(s, d), col("doc_id"), col("text"),
          GptByteBpeMergesMemo.merges(s, d))
        val hist = tok
          .select(least(col("n_tokens"), lit(512L)).as("len"))
          .where(col("len") >= 1L)
          .groupBy("len").count()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        graft.operators.HistogramPacking.pack(hist, 512L)
      })
    def valuesSql(s: org.apache.spark.sql.SparkSession, d: String): String =
      groups(s, d)
        .flatMap(g => g.slots.map { case (l, k, off) =>
          s"($l, $off, $k, ${g.mult}, ${g.packBase})" })
        .mkString(", ")
  }

  /** Padding-free WHOLE-document packing ([[graft.operators.TextOps
    * .histogramPack]] — the SFT face of the packing tier: q207 splits
    * documents across ctx boundaries, this keeps every example whole
    * and measures the padding bill): per 512-token pack, the document
    * count, used tokens, waste = 512 − used, truncation count, and a
    * fingerprint of the exact member set. FULL oracle — the packing
    * strategy is a pure function of the ≤512-row length histogram,
    * frozen as a VALUES group table; DuckDB replays the q200 token
    * counts, the per-length rank, and the closed-form
    * `pack_base + (rank − off) // k` assignment, so a packer that
    * misranks one document or misplaces one group boundary
    * hash-fails on the member fingerprint. */
  private[queries] val q208 = QueryDef(
    "q208_histogram_pack",
    (s, d) => {
      val tok = graft.operators.BpeOps.gptByteBpeTokenize(
        Tables.documents(s, d), col("doc_id"), col("text"),
        GptByteBpeMergesMemo.merges(s, d))
      graft.operators.TextOps.histogramPack(
          tok, col("doc_id"), col("n_tokens"), 512L)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("len").as("n_tokens"),
          (lit(512L) - sum("len")).as("waste"),
          sum(when(col("truncated"), 1L).otherwise(0L)).as("n_truncated"),
          array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",").as("docs"))
        .select(col("pack_id"), col("n_docs"), col("n_tokens"),
          col("waste"), col("n_truncated"),
          graft.functions.HashExpressions.polyHash(col("docs"))
            .as("docs_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val toks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(spark, sfDir), byteLevel = true)
      val values = HistPackMemo.valuesSql(spark, sfDir)
      s"""WITH dpt AS (SELECT doc_id,
         |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
         |  FROM documents),
         |pt AS (SELECT doc_id, i AS pi, pts[i] AS w
         |  FROM dpt, UNNEST(generate_series(1, len(pts))) AS t(i)),
         |enc AS (SELECT doc_id, pi, $toks AS toks FROM pt),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY pi) AS alltoks
         |  FROM enc GROUP BY doc_id),
         |lens AS (SELECT d.doc_id,
         |    CAST(CASE WHEN p.alltoks IS NULL OR p.alltoks = '' THEN 0
         |      ELSE len(string_split(p.alltoks, ' ')) END AS BIGINT) AS n
         |  FROM dpt d LEFT JOIN perdoc p USING (doc_id)),
         |flt AS (SELECT doc_id, n, least(n, 512) AS len
         |  FROM lens WHERE n >= 1),
         |ranks AS (SELECT doc_id, n, len,
         |    row_number() OVER (PARTITION BY len ORDER BY doc_id) - 1 AS r
         |  FROM flt),
         |strat(slen, soff, k, mult, pack_base) AS (VALUES $values),
         |asg AS (SELECT doc_id, n, len,
         |    pack_base + (r - soff) // k AS pack_id
         |  FROM ranks JOIN strat ON slen = len
         |    AND r >= soff AND r < soff + mult * k),
         |packs AS (SELECT pack_id,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len) AS BIGINT) AS n_tokens,
         |    CAST(512 - sum(len) AS BIGINT) AS waste,
         |    CAST(count(*) FILTER (WHERE n > 512) AS BIGINT)
         |      AS n_truncated,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         |      AS docs
         |  FROM asg GROUP BY pack_id)
         |SELECT pack_id, n_docs, n_tokens, waste, n_truncated,
         |  ${polyHashSql("docs")} AS docs_fp
         |FROM packs""".stripMargin
    }))

  /** The GPT vocabulary as (token, id) pairs for the frozen TokenIds
    * lookup table — [[graft.operators.BpeOps.gptVocab]] over the q200
    * merge memo, with the `<|endoftext|>` separator appended at
    * `256 + nMerges` (the GPT-2 convention: specials take the ids
    * after the merge block). */
  private def gptVocabWithSpecial(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, Long)] = {
    val nMerges = GptByteBpeMergesMemo.pairs(s, d).length
    graft.operators.BpeOps.gptVocab(GptByteBpeMergesMemo.merges(s, d))
      .orderBy("id").collect()
      .map(r => (r.getString(1), r.getLong(0))).toSeq :+
      ((GptSpecialHex, 256L + nMerges))
  }

  /** DuckDB CTE replaying [[graft.operators.BpeOps.gptVocab]]'s
    * CONSTRUCTION from the frozen merge VALUES — 256 base bytes +
    * `256 + rank` per merge + the separator at `256 + nMerges`, keyed
    * by string with the smallest id winning — so the id assignment
    * itself is oracle-checked, not frozen. */
  private def gptVocabCteSql(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val pairs = GptByteBpeMergesMemo.pairs(s, d)
    val mergeRows = pairs.zipWithIndex
      .map { case ((l, r), i) => s"($i, '$l', '$r')" }.mkString(", ")
    s"""vocab AS (SELECT token, min(id) AS id FROM (
       |    SELECT lpad(upper(to_hex(i)), 2, '0') AS token,
       |      CAST(i AS BIGINT) AS id FROM range(256) t(i)
       |    UNION ALL
       |    SELECT l || r, CAST(256 + rank AS BIGINT)
       |      FROM (VALUES $mergeRows) m(rank, l, r)
       |    UNION ALL
       |    SELECT '$GptSpecialHex', CAST(${256 + pairs.length} AS BIGINT)
       |  ) GROUP BY token)""".stripMargin
  }

  /** Trainer-ready integer ids ([[graft.operators.BpeOps
    * .gptByteBpeTokenizeIds]] — q200's fused tokenize followed by the
    * [[graft.functions.TokenIds]] hash-probe kernel under the
    * [[graft.operators.BpeOps.gptVocab]] table; both compiled
    * passes, zero shuffle). FULL oracle INCLUDING the vocabulary
    * construction: ids 0-255 from the byte alphabet, 256+rank per
    * merge, string-keyed smallest-id dedup — all replayed from the
    * frozen merge VALUES, then joined per token position. */
  private[queries] val q209 = QueryDef(
    "q209_gpt_token_ids",
    (s, d) => {
      graft.operators.BpeOps.gptByteBpeTokenizeIds(
          Tables.documents(s, d), col("doc_id"), col("text"),
          GptByteBpeMergesMemo.merges(s, d))
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") > 0, graft.functions.HashExpressions
            .polyHash(array_join(
              transform(col("ids"), x => x.cast("string")), " ")))
            .as("ids_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val toks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(spark, sfDir), byteLevel = true)
      s"""WITH dpt AS (SELECT doc_id,
         |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
         |  FROM documents),
         |pt AS (SELECT doc_id, i AS pi, pts[i] AS w
         |  FROM dpt, UNNEST(generate_series(1, len(pts))) AS t(i)),
         |enc AS (SELECT doc_id, pi, $toks AS toks FROM pt),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY pi) AS alltoks
         |  FROM enc GROUP BY doc_id),
         |${gptVocabCteSql(spark, sfDir)},
         |dtk AS (SELECT doc_id, string_split(alltoks, ' ') AS ts
         |  FROM perdoc WHERE alltoks IS NOT NULL AND alltoks <> ''),
         |tokrows AS (SELECT doc_id, i, ts[i] AS tok
         |  FROM dtk, UNNEST(generate_series(1, len(ts))) AS t(i)),
         |idtoks AS (SELECT doc_id, i, v.id
         |  FROM tokrows JOIN vocab v ON v.token = tokrows.tok),
         |perid AS (SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i) AS idstr
         |  FROM idtoks GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
         |  CASE WHEN p.idstr IS NOT NULL
         |    THEN ${polyHashSql("p.idstr")} END AS ids_fp
         |FROM dpt d LEFT JOIN perid p USING (doc_id)""".stripMargin
    }))

  /** The END of the chain — packed TRAINING sequences as integer ids:
    * q207's token-exact packing followed by the TokenIds kernel over
    * the packed arrays (separator included at its `256 + nMerges`
    * id). What a trainer's data loader reads. FULL oracle: q207's
    * prefix-sum replay joined to the replayed vocabulary per global
    * token position. */
  private[queries] val q210 = QueryDef(
    "q210_gpt_packed_ids",
    (s, d) => {
      val tok = graft.operators.BpeOps.gptByteBpeTokenize(
        Tables.documents(s, d), col("doc_id"), col("text"),
        GptByteBpeMergesMemo.merges(s, d))
      graft.operators.TextOps.packTokenSequences(
          tok, col("doc_id"), col("tokens"), 512, Some(GptSpecialHex))
        .select(col("seq_id"), col("n_tokens"),
          graft.functions.HashExpressions.polyHash(array_join(
            transform(graft.functions.BpeExpressions.tokenIds(
              col("tokens"), gptVocabWithSpecial(s, d)),
              x => x.cast("string")), " ")).as("ids_fp"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val toks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(spark, sfDir), byteLevel = true)
      s"""WITH dpt AS (SELECT doc_id,
         |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
         |  FROM documents),
         |pt AS (SELECT doc_id, i AS pi, pts[i] AS w
         |  FROM dpt, UNNEST(generate_series(1, len(pts))) AS t(i)),
         |enc AS (SELECT doc_id, pi, $toks AS toks FROM pt),
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY pi) AS alltoks
         |  FROM enc GROUP BY doc_id),
         |${gptVocabCteSql(spark, sfDir)},
         |tk AS (SELECT d.doc_id,
         |    CASE WHEN p.alltoks IS NULL OR p.alltoks = ''
         |      THEN ['$GptSpecialHex']
         |      ELSE string_split(p.alltoks || ' $GptSpecialHex', ' ')
         |      END AS tks
         |  FROM dpt d LEFT JOIN perdoc p USING (doc_id)
         |  WHERE d.pts IS NOT NULL),
         |woff AS (SELECT doc_id, tks, CAST(len(tks) AS BIGINT) AS n,
         |    sum(CAST(len(tks) AS BIGINT))
         |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      - len(tks) AS strt
         |  FROM tk),
         |pos AS (SELECT doc_id, strt + i - 1 AS gpos, tks[i] AS tok
         |  FROM woff, UNNEST(generate_series(1, n)) AS t(i)),
         |idpos AS (SELECT p.gpos, v.id
         |  FROM pos p JOIN vocab v ON v.token = p.tok),
         |seqs AS (SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS idstr
         |  FROM idpos GROUP BY 1)
         |SELECT seq_id, n_tokens, ${polyHashSql("idstr")} AS ids_fp
         |FROM seqs""".stripMargin
    }))

  /** Tokenizer round-trip audit (r15 verdict item 5 / What's missing 3
    * — [[graft.operators.TokenizerAuditOps.roundTrip]]): asserts
    * `decode ∘ encode` identity per (tokenizer, language) for all FOUR
    * fitted families in one frame — char BPE / byte BPE / unigram are
    * lossless by construction (proved computationally here, not
    * assumed), WordPiece's whole-word `[UNK]` loss is characterized per
    * language (the q194 coverage face's loss twin). Full oracle: one
    * statement composing the shared word explode, the q189 WordPiece
    * recursive chain, the q141 Viterbi chain, and both BPE fold
    * replays, each decoded per word and compared. */
  private[queries] val q198 = QueryDef(
    "q198_tokenizer_roundtrip",
    (s, d) => graft.operators.TokenizerAuditOps.roundTrip(
      Tables.documents(s, d), col("doc_id"), col("text"), col("lang"),
      BpeMergesMemo.pairs(s, d), ByteBpeMergesMemo.pairs(s, d),
      WordPieceMemo.vocab(s, d), UnigramPiecesMemo.pieces(s, d)),
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val bpeToks = bpeFoldTokensSql(BpeMergesMemo.pairs(spark, sfDir))
      val byteToks = bpeFoldTokensSql(
        ByteBpeMergesMemo.pairs(spark, sfDir), byteLevel = true)
      val eow = graft.operators.BpeOps.EndOfWord
      def agg(n: String, label: String): String =
        s"""${n}_doc AS (SELECT d.doc_id, d.lang, len(d.ws) AS nw,
           |    coalesce(sum(CASE WHEN p.lossy THEN 1 END), 0) AS nl
           |  FROM dws d LEFT JOIN ${n}_pw p USING (doc_id)
           |  GROUP BY 1, 2, 3),
           |${n}_agg AS (SELECT '$label' AS tokenizer, lang AS grp,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(count(*) FILTER (WHERE nl = 0) AS BIGINT)
           |      AS n_docs_lossless,
           |    CAST(sum(nw) AS BIGINT) AS n_words,
           |    CAST(sum(nl) AS BIGINT) AS n_lossy_words,
           |    CASE WHEN sum(nw) > 0 THEN
           |      round(CAST(sum(nl) AS DOUBLE) / sum(nw), 6) END
           |      AS lossy_word_frac
           |  FROM ${n}_doc GROUP BY 1, 2)""".stripMargin
      s"""WITH RECURSIVE ${docWordsCteSql},
         |${wordPieceChainSql()},
         |${unigramChainSql()},
         |bpe_pw AS (SELECT doc_id,
         |    (replace($bpeToks, ' ', '') <> w || '$eow') AS lossy
         |  FROM words),
         |byte_pw AS (SELECT doc_id,
         |    (decode(unhex(replace($byteToks, ' ', ''))) <> w) AS lossy
         |  FROM words),
         |wp_pw AS (SELECT t.doc_id,
         |    ((ts[1] || array_to_string(
         |      list_transform(ts[2:], x -> substr(x, 3)), '')) <> wo.w)
         |      AS lossy
         |  FROM (SELECT doc_id, wi, string_split(toks, ' ') AS ts
         |    FROM wtoks) t
         |  JOIN words wo USING (doc_id, wi)),
         |uni_pw AS (SELECT u.doc_id,
         |    (replace(u.toks, ' ', '') <> wo.w) AS lossy
         |  FROM uwtoks u JOIN words wo USING (doc_id, wi)),
         |${agg("bpe", "bpe")},
         |${agg("byte", "bytebpe")},
         |${agg("wp", "wordpiece")},
         |${agg("uni", "unigram")}
         |SELECT * FROM bpe_agg UNION ALL SELECT * FROM byte_agg
         |UNION ALL SELECT * FROM wp_agg
         |UNION ALL SELECT * FROM uni_agg""".stripMargin
    }))

  /** WordPiece vocabulary drift (r16 — the refit trigger the FROZEN
    * tokenizer vocabulary owed under the standing every-frozen-model
    * rule; NB→q183, KN→q182, blocklist→q184, gram→q168, winnow/robust
    * →q169, logistic→q191 — the tokenizer family was the last frozen
    * model without one): [[graft.operators.WordPieceOps
    * .wordPieceDrift]] — baseline fertility/UNK per language vs a
    * deterministic, SQL-replayable arrivals perturbation (every
    * doc_id ≡ 0 (mod 3) text gets its vowels squashed — novel
    * consonant blobs shatter into char-fallback pieces, the fertility
    * gate — and one 101-char word appended, a guaranteed
    * MaxWordChars `[UNK]`, the coverage gate). Full oracle: the q189
    * walk emitted twice (prefixed) over the shared probe forms.
    * Honest finding at sf0.001/0.01: the squash is a harder shift than
    * designed — words that START with a vowel become `x…` blobs and
    * the fitted vocabulary has no initial-`x` piece, so they collapse
    * to whole-word `[UNK]` (unk_frac 0.24-0.43 per language, the
    * COVERAGE gate) while fertility DROPS (each UNK is one token,
    * ratio 0.68-0.82 — the fertility gate correctly does NOT fire);
    * both-gate independence plus vanished/new-group semantics are
    * pinned on fixtures in WordPieceSpec. */
  private[queries] val q201 = QueryDef(
    "q201_wordpiece_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val arrivals = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(translate(col("text"), "aeiou", "xxxxx"),
            lit(" "), lit("x" * 101)))
          .otherwise(col("text")))
      graft.operators.WordPieceOps.wordPieceDrift(
        docs, arrivals, col("doc_id"), col("text"), col("lang"),
        WordPieceMemo.vocab(s, d))
    },
    Some(() => {
      val unk = graft.operators.WordPieceOps.Unk
      val arrivalsTable = "(SELECT doc_id, lang, CASE WHEN doc_id % 3 = 0" +
        " THEN translate(text, 'aeiou', 'xxxxx') || ' ' || repeat('x', 101)" +
        " ELSE text END AS text FROM documents)"
      def sideSql(p: String): String =
        s"""${p}per AS (SELECT doc_id,
           |    CAST(len(string_split(toks, ' ')) AS BIGINT) AS nt,
           |    CAST(len(list_filter(string_split(toks, ' '),
           |      x -> x = '$unk')) AS BIGINT) AS nu
           |  FROM ${p}wtoks),
           |${p}perdoc AS (SELECT doc_id,
           |    coalesce(CAST(sum(nt) AS BIGINT), 0) AS nt,
           |    coalesce(CAST(sum(nu) AS BIGINT), 0) AS nu
           |  FROM ${p}per GROUP BY doc_id),
           |${p}agg AS (SELECT d.lang AS grp,
           |    CAST(sum(len(d.ws)) AS BIGINT) AS nw,
           |    CAST(sum(coalesce(p.nt, 0)) AS BIGINT) AS nt,
           |    CAST(sum(coalesce(p.nu, 0)) AS BIGINT) AS nu
           |  FROM ${p}dws d LEFT JOIN ${p}perdoc p USING (doc_id)
           |  GROUP BY d.lang)""".stripMargin
      s"""WITH RECURSIVE ${docWordsCteOver("documents", "b")},
         |${docWordsCteOver(arrivalsTable, "a")},
         |${wordPiecePiecesSql()},
         |${wordPieceWalkSql("b")},
         |${wordPieceWalkSql("a")},
         |${sideSql("b")},
         |${sideSql("a")},
         |j AS (SELECT coalesce(b.grp, a.grp) AS grp,
         |    b.nw AS nwb, a.nw AS nwa,
         |    CASE WHEN b.nw > 0 THEN
         |      round(CAST(b.nt AS DOUBLE) / b.nw, 6) END AS fb,
         |    CASE WHEN b.nw > 0 THEN
         |      round(CAST(b.nu AS DOUBLE) / b.nw, 6) END AS ub,
         |    CASE WHEN a.nw > 0 THEN
         |      round(CAST(a.nt AS DOUBLE) / a.nw, 6) END AS fa,
         |    CASE WHEN a.nw > 0 THEN
         |      round(CAST(a.nu AS DOUBLE) / a.nw, 6) END AS ua
         |  FROM bagg b FULL OUTER JOIN aagg a ON b.grp = a.grp)
         |SELECT grp, nwb AS n_words_base, fb AS fertility_base,
         |  ub AS unk_frac_base, nwa AS n_words_new,
         |  fa AS fertility_new, ua AS unk_frac_new,
         |  CASE WHEN fb > 0 THEN round(fa / fb, 6) END AS fertility_ratio,
         |  CASE WHEN ub IS NOT NULL AND ua IS NOT NULL THEN
         |    round(ua - ub, 6) END AS unk_delta,
         |  (fb IS NULL OR fa IS NULL
         |    OR (CASE WHEN fb > 0 THEN round(fa / fb, 6) END) > 1.25
         |    OR (CASE WHEN ub IS NOT NULL AND ua IS NOT NULL THEN
         |      round(ua - ub, 6) END) > 0.05) AS needs_refit
         |FROM j""".stripMargin
    }))

  /** Tokenizer fertility drift for the no-UNK families (r16, with
    * q201 closing the standing every-frozen-model-gets-a-refit-trigger
    * rule for ALL frozen tokenizer tables): [[graft.operators
    * .TokenizerAuditOps.fertilityDrift]] — char BPE / byte BPE / GPT
    * byte BPE / unigram under their frozen tables, baseline vs the
    * q201 arrivals perturbation, per language. These families cannot
    * UNK, so a distribution shift shows up ONLY as fertility
    * inflation (words shattering into more subwords = sequence-length
    * cost a serving budget pays directly). Full oracle: both BPE fold
    * replays and the Viterbi walk emitted twice with prefixed CTEs
    * over shared frozen tables. */
  private[queries] val q202 = QueryDef(
    "q202_tokenizer_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val arrivals = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(translate(col("text"), "aeiou", "xxxxx"),
            lit(" "), lit("x" * 101)))
          .otherwise(col("text")))
      graft.operators.TokenizerAuditOps.fertilityDrift(
        docs, arrivals, col("doc_id"), col("text"), col("lang"),
        BpeMergesMemo.pairs(s, d), ByteBpeMergesMemo.pairs(s, d),
        GptByteBpeMergesMemo.pairs(s, d), UnigramPiecesMemo.pieces(s, d))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val spark = org.apache.spark.sql.SparkSession.active
      val bpeToks = bpeFoldTokensSql(BpeMergesMemo.pairs(spark, sfDir))
      val byteToks = bpeFoldTokensSql(
        ByteBpeMergesMemo.pairs(spark, sfDir), byteLevel = true)
      val gptToks = bpeFoldTokensSql(
        GptByteBpeMergesMemo.pairs(spark, sfDir), byteLevel = true)
      val arrivalsTable = "(SELECT doc_id, lang, CASE WHEN doc_id % 3 = 0" +
        " THEN translate(text, 'aeiou', 'xxxxx') || ' ' || repeat('x', 101)" +
        " ELSE text END AS text FROM documents)"
      def table(p: String) = if (p == "b") "documents" else arrivalsTable
      // per-(family, side) per-doc token counts
      def famSql(p: String): String =
        s"""${p}bpe AS (SELECT doc_id,
           |    CAST(len(string_split($bpeToks, ' ')) AS BIGINT) AS nt
           |  FROM ${p}words),
           |${p}byt AS (SELECT doc_id,
           |    CAST(len(string_split($byteToks, ' ')) AS BIGINT) AS nt
           |  FROM ${p}words),
           |${p}dpt AS (SELECT doc_id,
           |    ${graft.operators.BpeOps.gptPreTokensSql("text")} AS pts
           |  FROM ${table(p)}),
           |${p}gpt AS (SELECT doc_id,
           |    CAST(len(string_split($gptToks, ' ')) AS BIGINT) AS nt
           |  FROM (SELECT doc_id, unnest(pts) AS w FROM ${p}dpt)),
           |${p}uni AS (SELECT doc_id,
           |    CAST(len(string_split(toks, ' ')) AS BIGINT) AS nt
           |  FROM ${p}uwtoks)""".stripMargin
      def aggSql(p: String, f: String): String =
        s"""${p}${f}agg AS (SELECT d.lang AS grp,
           |    CAST(sum(len(d.ws)) AS BIGINT) AS nw,
           |    CAST(sum(coalesce(t.nt, 0)) AS BIGINT) AS nt
           |  FROM ${p}dws d LEFT JOIN (SELECT doc_id,
           |      sum(nt) AS nt FROM ${p}$f GROUP BY doc_id) t
           |    USING (doc_id)
           |  GROUP BY d.lang)""".stripMargin
      def faceSql(f: String, label: String): String =
        s"""SELECT '$label' AS tokenizer, coalesce(b.grp, a.grp) AS grp,
           |  b.nw AS n_words_base,
           |  CASE WHEN b.nw > 0 THEN
           |    round(CAST(b.nt AS DOUBLE) / b.nw, 6) END AS fertility_base,
           |  a.nw AS n_words_new,
           |  CASE WHEN a.nw > 0 THEN
           |    round(CAST(a.nt AS DOUBLE) / a.nw, 6) END AS fertility_new,
           |  CASE WHEN b.nw > 0 AND a.nw > 0
           |      AND round(CAST(b.nt AS DOUBLE) / b.nw, 6) > 0 THEN
           |    round(round(CAST(a.nt AS DOUBLE) / a.nw, 6)
           |      / round(CAST(b.nt AS DOUBLE) / b.nw, 6), 6) END
           |    AS fertility_ratio,
           |  ((CASE WHEN b.nw > 0 THEN
           |      round(CAST(b.nt AS DOUBLE) / b.nw, 6) END) IS NULL
           |    OR (CASE WHEN a.nw > 0 THEN
           |      round(CAST(a.nt AS DOUBLE) / a.nw, 6) END) IS NULL
           |    OR (CASE WHEN b.nw > 0 AND a.nw > 0
           |        AND round(CAST(b.nt AS DOUBLE) / b.nw, 6) > 0 THEN
           |      round(round(CAST(a.nt AS DOUBLE) / a.nw, 6)
           |        / round(CAST(b.nt AS DOUBLE) / b.nw, 6), 6) END) > 1.25)
           |    AS needs_refit
           |FROM b${f}agg b FULL OUTER JOIN a${f}agg a ON b.grp = a.grp"""
          .stripMargin
      s"""WITH RECURSIVE ${docWordsCteOver("documents", "b")},
         |${docWordsCteOver(arrivalsTable, "a")},
         |${unigramParamsSql()},
         |${unigramWalkSql("b")},
         |${unigramWalkSql("a")},
         |${famSql("b")},
         |${famSql("a")},
         |${Seq("bpe", "byt", "gpt", "uni")
            .flatMap(f => Seq(aggSql("b", f), aggSql("a", f)))
            .mkString(",\n")}
         |${faceSql("bpe", "bpe")}
         |UNION ALL ${faceSql("byt", "bytebpe")}
         |UNION ALL ${faceSql("gpt", "gptbpe")}
         |UNION ALL ${faceSql("uni", "unigram")}""".stripMargin
    }))

  /** PRODUCTION-SCALE BPE fit ([[graft.operators.BpeOps
    * .bpeLearnSampled]], r16 verdict item 4): the cluster runs ONE
    * word-frequency aggregation + one vocab-scale top-k; the merge
    * loop is driver-side over the collected bounded table — the
    * HF-trainer/SentencePiece shape that survives a 32k-vocabulary
    * fit where q107's 16 sequential distributed rounds would become
    * 32k of them. Rows-only like every iterative fit (the per-rank
    * argmax chain has no closed SQL form); sampled ≡ distributed is
    * spec-pinned (BpeSpec) and the two registry entries share the
    * corpus so their outputs cross-check. */
  private[queries] val q203 = QueryDef(
    "q203_bpe_merges_sampled",
    (s, d) => graft.operators.BpeOps.bpeLearnSampled(
      graft.operators.BpeOps.wordFreqs(Tables.documents(s, d), col("text")),
      16),
    None)

  /** PRODUCTION-SCALE WordPiece fit ([[graft.operators.WordPieceOps
    * .wpLearnSampled]]) — q203's shape for the likelihood-scored
    * family; q188's 16 distributed rounds collapse to one aggregation
    * + one top-k + a driver-side loop. Rows-only (iterative argmax);
    * sampled ≡ distributed spec-pinned (WordPieceSpec). */
  private[queries] val q204 = QueryDef(
    "q204_wordpiece_merges_sampled",
    (s, d) => graft.operators.WordPieceOps.wpLearnSampled(
      graft.operators.BpeOps.wordFreqs(Tables.documents(s, d), col("text")),
      16),
    None)

  /** PRODUCTION-SCALE unigram-LM fit ([[graft.operators.UnigramOps
    * .unigramFitSampled]], r17 verdict item 3) — q203/q204's shape for
    * the seed-and-prune EM family, completing the sampled-fit story for
    * all FOUR tokenizer families: one corpus word-count aggregation +
    * one vocab-scale top-k, then the seed explode, every Viterbi
    * E-step, and the prune cycles run driver-side over the bounded
    * histogram (the SentencePiece in-memory-sample recipe). Same fit
    * parameters as q140, so the two registry entries cross-check on the
    * shared corpus; sampled ≡ distributed is spec-pinned (UnigramSpec).
    * Rows-only like every iterative fit (EM argmax has no closed SQL
    * form; the q140 precedent). */
  private[queries] val q205 = QueryDef(
    "q205_unigram_pieces_sampled",
    (s, d) => graft.operators.UnigramOps.unigramFitSampled(
      Tables.documents(s, d), col("text"),
      vocabSize = 300, seedSize = 600, emIters = 2),
    None)

  /** Per-language WordPiece fertility + vocabulary-coverage audit
    * ([[graft.operators.WordPieceOps.wordPieceFertility]]) — the q128
    * table for the WordPiece family plus the column BPE cannot have:
    * the whole-word `[UNK]` rate per language. A language whose words
    * keep collapsing to `[UNK]` is not covered by the fitted vocabulary
    * AT ALL (a stronger re-fit trigger than high fertility). Full
    * oracle: the shared q189 recursive greedy-match chain aggregated
    * per language. */
  private[queries] val q194 = QueryDef(
    "q194_wordpiece_fertility",
    (s, d) => graft.operators.WordPieceOps.wordPieceFertility(
      Tables.documents(s, d), col("doc_id"), col("text"), col("lang"),
      WordPieceMemo.vocab(s, d)),
    Some(() => {
      val unk = graft.operators.WordPieceOps.Unk
      s"""WITH RECURSIVE ${docWordsCteSql},
         |${wordPieceChainSql()},
         |perword AS (SELECT doc_id, wi,
         |    CAST(len(string_split(toks, ' ')) AS BIGINT) AS nt,
         |    CAST(len(list_filter(string_split(toks, ' '),
         |      x -> x = '$unk')) AS BIGINT) AS nu
         |  FROM wtoks),
         |perdoc AS (SELECT doc_id,
         |    coalesce(CAST(sum(nt) AS BIGINT), 0) AS nt,
         |    coalesce(CAST(sum(nu) AS BIGINT), 0) AS nu
         |  FROM perword GROUP BY doc_id)
         |SELECT d.lang AS grp,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(d.ws)) AS BIGINT) AS n_words,
         |  CAST(sum(coalesce(p.nt, 0)) AS BIGINT) AS n_tokens,
         |  CAST(sum(coalesce(p.nu, 0)) AS BIGINT) AS n_unk_words,
         |  CASE WHEN sum(len(d.ws)) > 0 THEN
         |    round(CAST(sum(coalesce(p.nt, 0)) AS DOUBLE)
         |      / sum(len(d.ws)), 6) END AS fertility,
         |  CASE WHEN sum(len(d.ws)) > 0 THEN
         |    round(CAST(sum(coalesce(p.nu, 0)) AS DOUBLE)
         |      / sum(len(d.ws)), 6) END AS unk_word_frac
         |FROM dws d LEFT JOIN perdoc p USING (doc_id)
         |GROUP BY d.lang""".stripMargin
    }))

  private[queries] val q129 = QueryDef(
    "q129_gopher_quality",
    (s, d) => TextOps.gopherQuality(
      Tables.documents(s, d), col("doc_id"), col("text")),
    s"""WITH $gopherSigCte
       |SELECT * FROM gq""".stripMargin)

  /** Learned quality filter, apply face (DCLM/fastText-classifier tier:
    * distill the q129 rule funnel into a calibrated keep-probability;
    * Li et al. 2024 §4.4, Brown et al. 2020 §A). The IRLS fit is Spark-
    * only (iterative — not SQL-expressible, the q48/q134 frozen-model
    * contract) but decimal-exact and memoized; the oracle embeds the
    * frozen round-6 weights as literals and independently replays
    * features → linear predictor → sigmoid → round-6 probability →
    * threshold verdict, so the whole APPLY surface is hash-gated. */
  private[queries] val q186 = QueryDef(
    "q186_logistic_quality",
    (s, d) => graft.operators.ClassifyOps.logisticScore(
        logisticFeats(s, d), graft.operators.ClassifyOps.QualityFeatCols,
        LogisticMemo.weights(s, d))
      .select(col("doc_id"), col("label"), col("p_keep"), col("pred_keep")),
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val z = logisticPredSql(LogisticMemo.weights(
        org.apache.spark.sql.SparkSession.active, sfDir))
      s"""WITH $gopherSigCte,
         |$logisticFeatSql,
         |scored AS (SELECT doc_id, label,
         |    ${graft.functions.Exact.round6zSql(s"1.0 / (1.0 + exp(-($z)))")} AS p_keep
         |  FROM featx)
         |SELECT doc_id, label, p_keep, p_keep >= 0.5 AS pred_keep
         |FROM scored""".stripMargin
    }))

  /** Calibration (reliability) table of the q186 filter — per predicted-
    * probability decile: count, observed keep count/fraction, mean
    * predicted probability ([[ClassifyOps.calibrationTable]]). The
    * acceptance check before a learned keep-threshold is trusted:
    * `pos_frac` tracking `mean_p` per bucket is what "calibrated" means.
    * Same frozen-weight replay as q186, then one ≤10-row aggregation;
    * mean_p is an exact decimal sum over round-6 probabilities, so the
    * oracle is bit-identical. */
  private[queries] val q187 = QueryDef(
    "q187_logistic_calibration",
    (s, d) => graft.operators.ClassifyOps.calibrationTable(
      graft.operators.ClassifyOps.logisticScore(
        logisticFeats(s, d), graft.operators.ClassifyOps.QualityFeatCols,
        LogisticMemo.weights(s, d)),
      col("p_keep"), col("label")),
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val z = logisticPredSql(LogisticMemo.weights(
        org.apache.spark.sql.SparkSession.active, sfDir))
      s"""WITH $gopherSigCte,
         |$logisticFeatSql,
         |scored AS (SELECT doc_id, label,
         |    ${graft.functions.Exact.round6zSql(s"1.0 / (1.0 + exp(-($z)))")} AS p_keep
         |  FROM featx)
         |SELECT least(CAST(floor(p_keep * 10) AS BIGINT), 9) AS bucket,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  ${graft.functions.Exact.round6zSql(
               "CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)" +
               " / count(*)")} AS pos_frac,
         |  ${graft.functions.Exact.round6zSql(
               "CAST(CAST(sum(CAST(p_keep AS DECIMAL(28,10))) AS VARCHAR)" +
               " AS DOUBLE) / count(*)")} AS mean_p
         |FROM scored
         |GROUP BY 1""".stripMargin
    }))

  /** WordPiece tokenizer fit ([[graft.operators.WordPieceOps.wpLearn]])
    * — the third subword family (BERT's; Schuster & Nakajima 2012),
    * completing the BPE (q107) / Unigram-LM (q140) triad: the SAME
    * vocab-scale iteration shape as BPE but the argmax is the pointwise-
    * mutual-information score `count(lr)/(count(l)·count(r))`, so
    * already-frequent symbols must co-occur beyond chance to win a
    * merge. Iterative distributed argmax → rows-only (the q107
    * precedent); the score-vs-count divergence from BPE and the
    * continuation-marker algebra are pinned in WordPieceSpec. */
  private[queries] val q188 = QueryDef(
    "q188_wordpiece_merges",
    (s, d) => graft.operators.WordPieceOps.wpLearn(
      graft.operators.BpeOps.wordFreqs(Tables.documents(s, d), col("text")),
      16),
    None)

  private[queries] val q189 = QueryDef(
    "q189_wordpiece_tokenize",
    (s, d) => {
      graft.operators.WordPieceOps.wordPieceTokenizePieces(
          Tables.documents(s, d), col("doc_id"), col("text"),
          WordPieceMemo.vocab(s, d))
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          when(col("n_tokens") > 0, graft.functions.HashExpressions
            .polyHash(array_join(col("tokens"), " "))).as("tokens_fp"))
    },
    Some(() => {
      s"""WITH RECURSIVE ${docWordsCteSql},
         |${wordPieceChainSql()},
         |perdoc AS (SELECT doc_id,
         |    string_agg(toks, ' ' ORDER BY wi) AS alltoks
         |  FROM wtoks GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN p.alltoks IS NULL OR p.alltoks = '' THEN 0
         |    ELSE len(string_split(p.alltoks, ' ')) END AS BIGINT)
         |    AS n_tokens,
         |  CAST(coalesce(len(list_filter(string_split(p.alltoks, ' '),
         |    x -> x = '${graft.operators.WordPieceOps.Unk}')), 0) AS BIGINT)
         |    AS n_unk,
         |  CASE WHEN p.alltoks IS NOT NULL AND p.alltoks <> ''
         |    THEN ${polyHashSql("p.alltoks")} END AS tokens_fp
         |FROM dws d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
    }))


  /** Logistic-filter drift — the frozen-model aging face the q186
    * classifier owes under the standing rule (every frozen model gets a
    * refit trigger: NB→q183, KN→q182, blocklist→q184, gram→q168,
    * winnow/robust→q169): [[graft.operators.ClassifyOps.confusionDrift]]
    * over the FROZEN weights' keep-verdict confusions — the acceptance
    * baseline (the unperturbed corpus) versus a synthetic arrivals
    * batch whose every doc_id ≡ 0 (mod 3) text gains a digit-run suffix
    * (a deterministic, SQL-replayable distribution-shift stand-in: it
    * moves f_digit and the dup ratio, so features AND the funnel label
    * move — exactly the covariate shift a frozen linear model ages
    * under). Per keep-class: frozen accuracy on both sides, the drop,
    * and needs_refit. Fully oracle-checked — scoring is row-local, so
    * the whole chain (perturbation, features, sigmoid, confusion,
    * drift) replays in SQL; the drift magnitude is whatever it honestly
    * is (the q183 convention: the MACHINERY is the contract, not a
    * staged alarm). */
  private[queries] val q191 = QueryDef(
    "q191_logistic_drift",
    (s, d) => {
      val w = LogisticMemo.weights(s, d)
      val docs = Tables.documents(s, d)
      val arrivals = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" 0 1 2 3 4 5 0 1 2 3 4 5")))
          .otherwise(col("text")))
      def conf(df: org.apache.spark.sql.DataFrame) =
        graft.operators.ClassifyOps.logisticScore(
            logisticFeatsOf(df),
            graft.operators.ClassifyOps.QualityFeatCols, w)
          .groupBy(col("label"), col("pred_keep").as("pred_label"))
          .agg(count(lit(1)).as("n"))
      graft.operators.ClassifyOps.confusionDrift(conf(docs), conf(arrivals))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val z = logisticPredSql(LogisticMemo.weights(
        org.apache.spark.sql.SparkSession.active, sfDir))
      def side(p: String, table: String): String =
        s"""${gopherSigCteOver(table, p)},
           |${logisticFeatSqlOver(table, p)},
           |${p}cells AS (SELECT label,
           |    (${graft.functions.Exact
                  .round6zSql(s"1.0 / (1.0 + exp(-($z)))")}) >= 0.5
           |      AS pred_label,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM ${p}featx GROUP BY 1, 2),
           |${p}acc AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_${p},
           |    round(coalesce(sum(CASE WHEN label = pred_label THEN n END),
           |      0) / CAST(sum(n) AS DOUBLE), 6) + 0.0 AS acc_${p}
           |  FROM ${p}cells GROUP BY 1)""".stripMargin
      s"""WITH adocs AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN text || ' 0 1 2 3 4 5 0 1 2 3 4 5'
         |      ELSE text END AS text
         |  FROM documents),
         |${side("b", "documents")},
         |${side("a", "adocs")}
         |SELECT coalesce(bacc.label, aacc.label) AS label,
         |  n_b AS n_base, n_a AS n_new,
         |  acc_b AS acc_frozen, acc_a AS acc_new,
         |  round(acc_b - acc_a, 6) + 0.0 AS drift,
         |  (bacc.label IS NULL OR aacc.label IS NULL
         |    OR acc_b - acc_a > 0.1) AS needs_refit
         |FROM bacc FULL OUTER JOIN aacc ON bacc.label = aacc.label"""
        .stripMargin
    }))

  /** IBAN scan ([[TextOps.ibanScan]], ISO 13616 + ISO/IEC 7064 MOD
    * 97-10) — the bank-account sibling of the q139 Luhn scan, same
    * fixture convention: the corpus holds no real IBANs, so the
    * checksum arithmetic is hash-gated on synthetic hash-derived
    * numbers carried alongside the scan columns — a generated IBAN with
    * COMPUTED check digits (generator∘validator ≡ true pinned in BOTH
    * engines) and one with hash-drawn check digits (valid ~1/97, the
    * split is the gate). Candidate regex is RE2-verbatim in DuckDB. */
  private[queries] val q192 = QueryDef(
    "q192_iban_scan",
    (s, d) => {
      import graft.functions.HashExpressions.polyHash
      val docs = Tables.documents(s, d)
      val h1 = polyHash(col("text"))
      val h2 = polyHash(concat(col("text"), lit("iban")))
      val bban = concat(
        lpad((h1 % 1000000000L).cast("string"), 9, "0"),
        lpad((h2 % 1000000000L).cast("string"), 9, "0"))
      val check = TextOps.ibanCheckDigits(lit("DE"), bban)
      val genIban = concat(lit("DE"), check, bban)
      val randIban = concat(lit("DE"),
        lpad((h1 % 100).cast("string"), 2, "0"), bban)
      // synthetic fixtures ride the scan's own projection (no doc_id
      // self-join — one pass over documents, zero joins in the plan)
      TextOps.ibanScan(docs, col("doc_id"), col("text"), Seq(
        genIban.as("gen_iban"),
        TextOps.ibanValid(genIban).as("gen_valid"),
        randIban.as("rand_iban"),
        TextOps.ibanValid(randIban).as("rand_valid")))
    },
    s"""WITH b AS (SELECT doc_id, text,
       |    lpad(CAST(${polyHashSql("text")} % 1000000000 AS VARCHAR), 9, '0')
       |    || lpad(CAST(${polyHashSql("text || 'iban'")} % 1000000000
       |         AS VARCHAR), 9, '0') AS bban,
       |    lpad(CAST(${polyHashSql("text")} % 100 AS VARCHAR), 2, '0')
       |      AS rchk
       |  FROM documents),
       |g AS (SELECT doc_id, text, bban,
       |    'DE' || lpad(CAST(98 - ${mod97Sql("(bban || 'DE00')")}
       |      AS VARCHAR), 2, '0') || bban AS gen_iban,
       |    'DE' || rchk || bban AS rand_iban
       |  FROM b),
       |c AS (SELECT doc_id,
       |    list_transform(
       |      regexp_extract_all(text, '${TextOps.IbanCandidateRe}'),
       |      x -> replace(x, ' ', '')) AS cands
       |  FROM b)
       |SELECT g.doc_id,
       |  CAST(len(c.cands) AS BIGINT) AS n_iban_candidates,
       |  CAST(len(list_filter(c.cands, d -> ${ibanValidSql("d")}))
       |    AS BIGINT) AS n_iban_valid,
       |  g.gen_iban, ${ibanValidSql("g.gen_iban")} AS gen_valid,
       |  g.rand_iban, ${ibanValidSql("g.rand_iban")} AS rand_valid
       |FROM g JOIN c USING (doc_id)""".stripMargin)

  /** Held-out evaluation of the learned quality filter — the q118
    * convention applied to q186: the model fits on the content-hash
    * 80% train split ONLY and scores the held-out 20%, so fit and eval
    * never share a document and the cells measure GENERALIZATION
    * (self-scoring, q186's face, can never exercise that). Output: the
    * held-out (label, pred_keep) confusion cells with per-cell counts
    * — composable with [[ClassifyOps.confusionDrift]] like any
    * confusion frame. Fully oracle-checked: split (polyHash mod 100),
    * features, frozen train-only weights, sigmoid, and cells all
    * replay in SQL. */
  private[queries] val q193 = QueryDef(
    "q193_logistic_holdout",
    (s, d) => {
      val w = TrainLogisticMemo.weights(s, d)
      val held = Tables.documents(s, d).where(pmod(
        graft.functions.HashExpressions.polyHash(col("text")),
        lit(100)) >= 80)
      graft.operators.ClassifyOps.logisticScore(
          logisticFeatsOf(held),
          graft.operators.ClassifyOps.QualityFeatCols, w)
        .groupBy(col("label"), col("pred_keep"))
        .agg(count(lit(1)).as("n"))
    },
    Some(() => {
      val sfDir = sys.props.getOrElse("graft.verify.sfdir",
        "/root/testdata/sf0.001")
      val z = logisticPredSql(TrainLogisticMemo.weights(
        org.apache.spark.sql.SparkSession.active, sfDir))
      val ph = graft.functions.TextHash.polyHashSql("text")
      s"""WITH held AS (SELECT doc_id, text FROM documents
         |  WHERE $ph % 100 >= 80),
         |${gopherSigCteOver("held")},
         |${logisticFeatSqlOver("held")},
         |scored AS (SELECT label,
         |    (${graft.functions.Exact
                .round6zSql(s"1.0 / (1.0 + exp(-($z)))")}) >= 0.5
         |      AS pred_keep
         |  FROM featx)
         |SELECT label, pred_keep, CAST(count(*) AS BIGINT) AS n
         |FROM scored GROUP BY 1, 2""".stripMargin
    }))
}
