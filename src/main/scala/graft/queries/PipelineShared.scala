package graft.queries
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextHash._
import graft.operators.{DedupOps, MultimodalOps, PQOps, RetrievalOps, SimilarityOps, TextOps}

/** Shared kit of the Pipeline registry (r17 verdict item 7 split):
  * the band-crossing constants, oracle-SQL CTE emitters, frozen-model
  * memos, and funnel builder every band object composes. Extracted
  * verbatim from the former monolithic Pipeline object — no behavior
  * change; the band objects import this kit wholesale. */
private[graft] object PipelineShared {

  private[queries] val DIM = 64        // embedding dimensionality in the test tables
  private[queries] val SHINGLE_W = 2   // word-bigram shingles
  private[queries] val JACCARD_T = 0.3
  private[queries] val COSINE_T = 0.4
  private[queries] val ANN_K = 5
  private[queries] val LSH_BITS = 4
  private[queries] val LSH_K = 3
  private[queries] val LSH_TABLES = 4

  /** Shared oracle CTE: distinct (doc_id, shingle-hash) pairs at width `w`,
    * over `table` (the `documents` table, or a corpus CTE derived from it). */
  private[queries] def shingleCteOver(w: Int, table: String): String =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $table),
       |sh AS (
       |  SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM (
       |    SELECT doc_id, ${wordShinglesSql(w)} AS s
       |    FROM words, UNNEST(generate_series(1, greatest(len(ws) - ${w - 1}, 1))) AS t(i)))""".stripMargin

  private[queries] def shingleCteW(w: Int): String = shingleCteOver(w, "documents")

  private[queries] def shingleCte: String = shingleCteW(SHINGLE_W)

  /** Shared oracle fragment: the [[TextOps.qualityComposite]] fixed-weight
    * score, expecting `text` and `ws = string_split(text, ' ')` in scope —
    * defined once so q56/q60 cannot drift from the Spark side
    * independently. */
  private[queries] def qualityCompositeSql: String = {
    val allStop = TextOps.LangProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""0.5 * (CAST(len(list_filter(ws, w -> list_contains($allStop, w))) AS DOUBLE)
       |      / CAST(len(ws) AS DOUBLE))
       |    + 0.3 * least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0)
       |    + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE))""".stripMargin
  }

  /** Shared oracle CTE: 8-permutation minhash signature per doc. */
  private[queries] def sigCte: String = {
    val mins = (0 until MinhashA.size)
      .map(i => s"min(${minhashPermSql("h", i)}) AS m$i").mkString(", ")
    s"""$shingleCte,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** Exact Jaccard on LSH candidates — discovery via minhash bands, exact
    * verification only on candidates (the scale path; the all-pairs shingle
    * self-join in [[DedupOps.jaccardPairs]] stays available for small data
    * and tests). */
  /** Shared oracle CTE chain ending in `jp(doc_a, doc_b, n_common,
    * jaccard)` — the q33 near-dup pair set at [[JACCARD_T]], reused by the
    * q78 syndication matrix so the two cannot drift. */
  private[queries] def jaccardPairsCtes: String =
    s"""$sigCte,
       |bands AS (
       |  SELECT doc_id, 0 AS band,
       |    ${bandBucketSql((0 to 3).map(i => s"m$i"))} AS b FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band,
       |    ${bandBucketSql((4 to 7).map(i => s"m$i"))} AS b FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.b = y.b AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT doc_a, doc_b, n_common,
       |    CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $JACCARD_T)""".stripMargin

  /** Near-dup clusters over the LSH candidate-pair graph: connected
    * components (min-label propagation) — the transitive step after pair
    * discovery, so one canonical doc survives per GROUP, not per pair.
    * Oracle: the same pair CTE as q32 closed transitively with a recursive
    * CTE, cluster id = min reachable doc id. */
  /** The recursive connected-components CTE chain shared by the q51 and
    * q85 oracles: LSH bands → candidate pairs → undirected closure; the
    * consumer selects from `reach`. */
  private[queries] def clusterChainCtes: String =
    s"""$sigCte,
       |bands AS (
       |  SELECT doc_id, 0 AS band,
       |    ${bandBucketSql((0 to 3).map(i => s"m$i"))} AS b FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band,
       |    ${bandBucketSql((4 to 7).map(i => s"m$i"))} AS b FROM sig),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.b = y.b AND x.doc_id < y.doc_id),
       |und AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)""".stripMargin

  /** Deterministic per-language quota sampling: downsample the dominant
    * language, keep the rest — the rebalancing step of a curation
    * pipeline, content-hash-selected so it reproduces anywhere. */
  private[queries] val SampleFractions = Seq("en" -> 0.5, "de" -> 1.0, "es" -> 1.0,
    "fr" -> 1.0, "zh" -> 0.25)

  /** One k-means fit per (sf dir, k), memoized as collected floats: the
    * query body and the dump-time oracle thunk must see IDENTICAL frozen
    * centroids, and memoizing the bytes makes any run-to-run ML-fit
    * noise structurally irrelevant — the frozen-model convention (fit
    * once; apply and replay from the same bytes), the q134 pattern
    * applied to the learned-quantizer family. The cache holds k×dim
    * floats per entry — centroid-table-sized, the same data ivfTopK
    * broadcasts anyway. */
  private[queries] object CentroidMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[(String, Int), Seq[(Long, Seq[Float])]]
    def rows(s: org.apache.spark.sql.SparkSession, d: String, k: Int)
        : Seq[(Long, Seq[Float])] =
      cache.getOrElseUpdate((d, k), SimilarityOps.learnCentroids(
          Tables.embeddings(s, d), col("embedding"), k,
          "vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toList)
    def frame(s: org.apache.spark.sql.SparkSession, d: String, k: Int)
        : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      rows(s, d, k).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
    }
  }

  /** The frozen learned-centroid table as a DuckDB CTE
    * `cents(cid, ce, cnrm)`, built from the memoized fit bytes at
    * oracle-dump time — the q134 pattern's shared leg for the learned
    * ANN family (q48/q71): the fit is not SQL-expressible, its OUTPUT
    * is just k×dim frozen floats, and everything downstream (cosine
    * assignment, probing, dominance, top-k) replays independently. */
  private[queries] def centroidValuesCte(k: Int): String = {
    val sfDir = sys.props.getOrElse("graft.verify.sfdir",
      "/root/testdata/sf0.001")
    val cents = CentroidMemo.rows(
      org.apache.spark.sql.SparkSession.active, sfDir, k)
    def dd(x: Double) = java.lang.Double.toString(x)
    val rows = cents.map { case (cid, e) =>
      s"($cid, [${e.map(f => dd(f.toDouble)).mkString(",")}])"
    }.mkString(",")
    s"""cents AS (SELECT CAST(cid AS BIGINT) AS cid, ce,
       |    sqrt(${dotSql("ce", "ce", DIM)}) AS cnrm
       |  FROM (VALUES $rows) t(cid, ce))""".stripMargin
  }

  /** Contiguous-fill packing of documents into fixed token-budget training
    * chunks — the sequence-packing step before tokenization. The chunk
    * boundary comes from a DISTRIBUTED hierarchical prefix sum
    * ([[TextOps.packSequences]]); the oracle's single window sum is the
    * same math, viable only at oracle scale. Both engines use integer
    * division for the boundary — exact at any offset. */
  private[queries] val PackBudget = 2048L

  /** Train/test n-gram contamination screen over the [[TextOps.hashSplit]]
    * split — the decontamination audit run before an eval set is trusted.
    * Width 3 (longer than the dedup shingles): contamination wants matching
    * PASSAGES, not near-dup pages. */
  private[queries] val ContamW = 3

  /** Train-doc-frequency cap for q179's pair join (the WinnowOps
    * `maxDf = 64` precedent): shingles in more train docs than this are
    * boilerplate, pruned before the test×train join. */
  private[queries] val ContamMaxDf = 64

  /** Top-k TF-IDF terms per document (smoothed idf, rounded-score ranking). */
  private[queries] val TfidfK = 3

  /** SimHash near-dup pair discovery — the step the signatures feed:
    * band-equality candidates (pigeonhole: full recall at hamming ≤ 3)
    * verified by exact hamming distance, over a 28-BIT signature (q34's
    * 16-bit reference signature has only 16 bucket values per band —
    * measured 30 s vs ~2 s at sf0.1 on this self-similar corpus; see
    * [[DedupOps.simhashPairs]]). The registered query aggregates the pair
    * set per hamming distance (count + an avalanched integer checksum over
    * the pair ids, so the oracle still pins the ENTIRE pair set): raw
    * pairs grow quadratically with corpus self-similarity — the aggregate
    * output is scale-stable while the raw pair surface stays spec-tested. */
  private[queries] val SimhashBits = 28

  /** Deterministic corpus mixing to integer weights under a token budget —
    * the rebalancing step that composes a training mix from sources.
    * Thresholds are pure integer arithmetic (millionths), so the keep set
    * is bit-identical cross-engine. */
  private[queries] val MixWeights = Seq("src0" -> 3L, "src1" -> 2L, "src2" -> 1L,
    "src3" -> 1L, "src4" -> 1L)
  private[queries] val MixBudget = 2000L

  /** Fixed-size word-window chunking with overlap — context-length
    * segmentation before tokenization ([[TextOps.chunkDocs]]): integer-only
    * boundary math, per-chunk word count + content fingerprint. */
  private[queries] val ChunkW = 64
  private[queries] val ChunkStride = 48

  /** Asymmetric shingle containment on LSH candidates
    * ([[DedupOps.containmentOnCandidates]]) — subset-duplicate detection
    * Jaccard dilutes away. */
  private[queries] val ContainT = 0.6

  /** Exact-recall containment via prefix filtering
    * ([[DedupOps.containmentPrefixPairs]]) — closes q68's documented
    * discovery hole. The corpus is `documents` plus two rows DERIVED from
    * it, built identically on both engines, that form an extreme subset
    * pair LSH cannot recall: a "big" doc (texts of docs 0-3 concatenated in
    * doc_id order, ~280 words) and a "small" doc (a 6-word slice of doc 1),
    * giving |small|/|big| ≈ 0.02 in shingles — containment 1.0, Jaccard
    * ≈ 0.02. The oracle is BRUTE FORCE (every pair sharing ≥ 1 shingle,
    * exactly verified), so a hash match here checks the prefix path's
    * exact-recall claim against an oracle that cannot itself miss a pair. */
  private[queries] val PrefixContainT = 0.9

  /** Bottom-k containment sketch estimates
    * ([[DedupOps.containmentSketchPairs]]) — the constant-probe-budget
    * middle path: exact for docs with ≤ k shingles (where the subset pairs
    * live), a uniform-sample estimate above, probe cost k·E[df] per doc at
    * ANY threshold. Deterministic hashes → the oracle recomputes the same
    * sketch. */
  private[queries] val SketchK = 16
  private[queries] val SketchT = 0.6

  /** Line-level duplicate removal ([[TextOps.lineDedup]]) — the CCNet-shape
    * boilerplate screen. The test corpus holds no newlines, so the query
    * derives a multi-line frame from the documents table itself (the q70
    * pattern): doc i and doc i+1 concatenated with a newline (every
    * ORIGINAL text becomes a line of ≤2 derived docs; corpus-level
    * exact-dup texts then appear as lines of ≥4 derived docs), plus a
    * shared banner line on every third doc — guaranteed boilerplate at any
    * scale factor, so the drop-and-refingerprint path is always exercised.
    * Both engines derive, split, count, drop, and re-fingerprint the same
    * lines. */
  private[queries] val LineMaxDf = 3
  private[queries] val LineBanner = "all rights reserved boilerplate banner"

  /** ANN recall floor (q82): each approximate method's recall@k vs the
    * brute-force truth must clear this, or its summary row disappears and
    * the driver's rows-only check flags the regression. A COLLAPSE
    * detector, not a quality bar: set below every measured value across
    * sf dirs (the q82 scaladoc), because recall varies with data shape —
    * what it catches is the realistic regression mode, a broken bucket
    * key / centroid assignment sending a method's recall to ~0. */
  private[queries] val AnnRecallFloor = 0.05

  /** ANN recall-at-k report ([[SimilarityOps.annRecall]]): one row per
    * approximate method (sign-LSH, IVF-fixed, IVF-learned nprobe=2) with
    * its recall against the shared brute-force truth at k = LSH_K — the
    * PipelineOpsSpec recall measurement promoted to a registered artifact
    * (r7 verdict item 7). No SQL oracle for the RECALL rows — learnCentroids
    * (k-means) isn't SQL-expressible (q48 contract) — but the brute-force
    * TRUTH frame every method is measured against is hash-gated as its own
    * entry (q185, r14 verdict item 5; PipelineOpsSpec pins this query's
    * truth leg row-for-row against it). The rows-only check here is made
    * regression-SENSITIVE by the [[AnnRecallFloor]] filter: 3 rows while
    * every method clears the floor, fewer the moment one collapses.
    * Measured (MicroBench ann_recall_all): lsh 0.10/0.20/0.07,
    * ivf_fixed 0.87/0.83/0.80, ivf_learned 0.57/0.57/0.57 at
    * sf0.001/0.01/0.1 — single-table 4-bit sign-LSH recall is honestly
    * low (the q37 operator's documented trade); IVF-learned trails
    * IVF-fixed HERE because the vec_id<10 queries overlap the fixed
    * vec_id<8 centroid set (in-sample bias) — out-of-sample the learned
    * quantizer wins, measured in PipelineOpsSpec's recall@k test.
    *
    * ivfpq_short20 (added r11 — the production 100 TB tier, q99's
    * composition recall-gated): 0.63/0.40/0.53 at sf0.001/0.01/0.1 with
    * nProbe=2 of 8 cells — tracking pq_short20 (0.57/0.40/0.50) within
    * a few points, i.e. at this corpus shape the 4× candidate pruning
    * costs almost no recall on top of PQ distortion, which is exactly
    * the trade IVF-PQ is deployed for.
    *
    * ivfadc_short20 (added r11, q101's residual composition):
    * 0.50/0.63/0.23 — noisy ACROSS sf dirs rather than better, and
    * honestly so: residual coding's accuracy advantage assumes residuals
    * are small (clustered data) and a codebook that tracks them; this
    * synthetic near-uniform corpus gives neither, and the q101 fixed
    * 8-residual sample is deliberately arbitrary (it exists to hash-pin
    * mechanics, not to flatter recall). The row still earns its place:
    * the floor catches the realistic regression (a broken residual or
    * double-subtracted centroid sends recall to ~0, not to 0.23), and
    * PQSpec pins the law that matters — with a perfect residual codebook
    * IVFADC distances ARE exact L2, the property raw coding cannot
    * have. */
  /** q82's SHARED harness artifacts, memoized per sf dir (r17 verdict
    * item 4 — the PqIndexMemo discipline): the brute-force TRUTH frame
    * (the harness's gold standard, hash-gated on its own as q185 and
    * pinned row-for-row in PipelineOpsSpec), the learned k-means
    * centroid table, the fixed-codebook PQ index, and the IVFADC
    * residual codebook. All four are FIT/INDEX artifacts a production
    * deployment builds once and serves many — per-rep rebuilds measured
    * the builders, not the seven searches the recall harness exists to
    * gate (QSolo warm reps 8.3–9.7 s before; the memo leaves the
    * per-rep work = 7 shortlist searches + recall joins). Eager
    * localCheckpoints truncate lineage to one LogicalRDD scan each;
    * every frame is deterministic, so correctness is unchanged. */
  private[queries] case class AnnFrames(truth: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      pqIdx: org.apache.spark.sql.DataFrame,
      ivfpqIdx: org.apache.spark.sql.DataFrame,
      ivfadcIdx: org.apache.spark.sql.DataFrame)

  private[queries] object AnnHarnessMemo {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, AnnFrames]
    def frames(s: org.apache.spark.sql.SparkSession, d: String): AnnFrames =
      cache.getOrElseUpdate(d, {
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 10)
        val cells = emb.where(col("vec_id") < 8)
        val id = col("vec_id"); val v = col("embedding")
        val rcb = PQOps.cellResiduals(
            emb.where(col("vec_id") >= 8 && col("vec_id") < 16),
            cells, id, v)
          .select((col("vec_id") - 8).as("vec_id"),
            col("res").as("embedding"))
        AnnFrames(
          truth = SimilarityOps.bruteForceTopK(emb, queries, id, v,
            LSH_K).localCheckpoint(true),
          cent = SimilarityOps.learnCentroids(emb, v, 8, "vec_id",
            "embedding").localCheckpoint(true),
          pqIdx = PQOps.pqIndex(emb, cells, id, v, 8, 8)
            .localCheckpoint(true),
          ivfpqIdx = PQOps.ivfPqIndex(emb, cells, cells, id, v, 8, 8)
            .localCheckpoint(true),
          ivfadcIdx = PQOps.ivfPqResidualIndex(emb, cells, rcb, id, v,
            8, 8).localCheckpoint(true))
      })
  }

  /** Coordinated bottom-k sketch-vs-sketch containment
    * ([[DedupOps.coordinatedContainmentPairs]]) — the sketch-INDEX path:
    * no postings pass, both sides are the k-row sketches (q72's suggested
    * alternative estimator, measured side-by-side in MicroBench). Same
    * k/threshold/cap as q72; deterministic, so the oracle replays the
    * union-sample relationally. */
  private[queries] val CoordMinSupport = 3

  /** Z-order (Morton) cell statistics over events — the write-side layout
    * curve ([[graft.operators.LayoutOps.zValue]], the clustering key
    * behind [[graft.operators.LayoutOps.zOrderedWrite]]) verified
    * cell-exact against DuckDB computing the SAME interleave in SQL: both
    * engines bin (value, user_id) linearly into 8-bit bins against the
    * table's own min/max and interleave the bits column-major; rows group
    * by the top-8-bit cell prefix. Any drift in the binning (rounding
    * mode, clamp rule, NULL rule) or the interleave order moves rows
    * across cells and fails the hash — the curve the physical layout
    * depends on is therefore oracle-pinned, even though the file-level
    * effects (LayoutOpsSpec's box-pruning gates) live outside SQL. */
  private[queries] val ZBITS = 8

  /** Shared oracle CTE chain for SQ8 ([[SimilarityOps.sq8Stats]] +
    * [[SimilarityOps.sq8Quantize]] in SQL): per-dim min/max → scales →
    * per-vector int codes, mirroring [[graft.functions.SQ8Encode]]'s
    * clamp(round((x-min)/scale)) arithmetic exactly (for non-negative
    * arguments JVM Math.round and DuckDB round agree on every double). */
  private[queries] def sq8Ctes: String =
    s"""st AS (
       |  SELECT list(mn ORDER BY d) AS mins, list(sc ORDER BY d) AS scales FROM (
       |    SELECT i AS d, CAST(min(embedding[i]) AS DOUBLE) AS mn,
       |      (CAST(max(embedding[i]) AS DOUBLE) - CAST(min(embedding[i]) AS DOUBLE)) / 255.0 AS sc
       |    FROM embeddings, generate_series(1,$DIM) AS t(i) GROUP BY 1)),
       |q0 AS (SELECT vec_id, embedding AS e, st.mins AS mn, st.scales AS sc
       |  FROM embeddings, st),
       |q AS (SELECT vec_id, e, mn, sc,
       |  list_transform(generate_series(1,$DIM), i -> CASE WHEN sc[i] > 0
       |    THEN CAST(least(255.0, greatest(0.0, round((CAST(e[i] AS DOUBLE) - mn[i]) / sc[i]))) AS INTEGER)
       |    ELSE 0 END) AS c
       |  FROM q0)""".stripMargin

  // product quantization: m subspaces of sub components, k entries each
  private[queries] val PQ_M = 8
  private[queries] val PQ_SUB = 8
  private[queries] val PQ_K = 8
  private[queries] val PQ_SHORTLIST = 20

  /** One per-subspace k-means codebook fit per sf dir, memoized as
    * collected floats — the [[CentroidMemo]] discipline for the PQ
    * learned quantizer: query body and dump-time oracle replay from the
    * SAME frozen bytes. */
  private[queries] object PqCodebookMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Long, Seq[Float])]]
    def rows(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[(Long, Seq[Float])] =
      cache.getOrElseUpdate(d, PQOps.pqLearnCodebook(
          Tables.embeddings(s, d), col("embedding"), PQ_M, PQ_SUB, PQ_K,
          "vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toList)
    def frame(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      rows(s, d).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
    }
  }

  /** The ENCODED q95 index, memoized per sf dir as an eagerly
    * materialized frame (r15 verdict item 1, belt-and-braces after the
    * QSolo exoneration — DECISIONS round-16): a PQ index is built ONCE
    * in production, and without the memo every bench rep rebuilt and
    * re-analyzed the literal centroid tree from [[PqCodebookMemo]]
    * (thousands of nodes at k=[[PQ_K]]). The checkpoint truncates the
    * plan to one LogicalRDD scan; search reps measure SEARCH. */
  private[queries] object PqIndexMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.sql.DataFrame]
    def frame(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame =
      cache.getOrElseUpdate(d, {
        val emb = Tables.embeddings(s, d)
        PQOps.pqIndex(emb, PqCodebookMemo.frame(s, d),
          col("vec_id"), col("embedding"), PQ_M, PQ_SUB)
          .localCheckpoint(true)
      })
  }

  /** Learned language classifier ([[ClassifyOps.nbClassify]] self-scoring
    * the documents table on its own `lang` labels): multinomial Naive
    * Bayes with add-one smoothing. The closed-form fit makes the ENTIRE
    * learned model oracle-replayable — counts, smoothing, priors, the
    * per-doc decimal score sums, and the (score desc, label asc) argmax
    * all hash-pin, where the k-means/SGD queries (q48/q71/q95) can only
    * be rows-only. */
  private[queries] val NbLangs = Seq("de", "en", "es", "fr", "zh")

  /** Margin-based cross-corpus mining ([[SimilarityOps.marginMining]],
    * the LASER/CCMatrix ratio-margin criterion): even vec_ids play
    * corpus A, odd play corpus B; each A doc's best-margin B partner at
    * the standard margin ≥ 1 cutoff. The oracle replays both exact
    * top-k legs, the decimal neighborhood sums, the double margin
    * division (VARCHAR-hop decimal cast per the DuckDB convention), and
    * the (margin desc, dst asc) pick. */
  private[queries] val MARGIN_K = 3

  /** End-to-end curation funnel as a REGISTERED query (r11 verdict item
    * 6): the SQL-expressible spine of [[graft.operators.CurationDemo]] —
    * quality funnel → Gopher repetition screen → near-dup keep-best →
    * exact decontamination → KN-perplexity band-pass (q138's word-order-
    * aware cross-entropy under the survivors' own bigram model,
    * calibrated per source via q115's percent-rank — worst decile per
    * source drops) → source mixing → sequence packing — chained over
    * the SURVIVORS of
    * each previous stage (not the full corpus like the per-stage queries
    * q60/q63/q79/q138/q115/q64/q54), with per-stage survivor counts as
    * the output.
    * The oracle replays the whole seven-stage composition in one CTE
    * chain, so a stage that silently stops dropping (or drops everything)
    * hash-fails the round's CORRECTNESS artifact, not just a spec. The
    * demo's non-SQL stages (semantic/media dedup over embeddings and
    * codecs) stay gated by their own queries (q69/q86/q87/q89) and
    * CurationDemoSpec's golden stage-count vector. The multiply-referenced
    * stage CTEs carry the MATERIALIZED hint: DuckDB 1.0 inlines every CTE
    * reference, so without it each downstream reference re-expands the
    * whole upstream DAG (repetition chain × minhash × recursive reach) —
    * measured >12 min vs 0.7 s at sf0.01. Oracle-side syntax only; Spark
    * never parses this SQL. */
  /** The q117 funnel's stages as `(name, plan, survivors)` triples:
    * `plan` is the stage's DataFrame BEFORE the settle() boundary — the
    * unit of physical planning a staged pipeline actually executes
    * (each stage's own operators over the previous stage's
    * checkpointed survivors) and what `graft.tools.Probe plan` explains
    * per stage — and `survivors` is the settled frame the next stage
    * consumes. One builder shared by the q117 registry body and the
    * probe, so the dumped plans cannot drift from the registered
    * funnel. Building the list EXECUTES the funnel (settle() is an
    * eager localCheckpoint — the stage-boundary materialization is the
    * point: without it each stage re-derives its whole upstream DAG
    * and at 18 stages Catalyst analysis alone dominates). */
  private[graft] def funnelStages(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = {
    // r19 measured-and-REVERTED (the r18 SpanDedupOps convention): one
    // fan-out at the funnel's entry was A/B'd at width 32 (~25% SLOWER —
    // the ~69-stage settle chain pays width × stages task schedulings)
    // and width cores/4 (flat). The funnel is driver-latency-bound by
    // its staged-materialization contract — each stage is individually
    // small and the serial settle boundaries dominate — so it stays
    // 1-wide at bench scale; at 100 TB the scan is wide on its own and
    // every settle preserves that width.
    val docs = Tables.documents(s, d)
    val stages =
      Seq.newBuilder[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]
    // a boundary-free stage (raw scan / terminal): plan == survivors
    def raw(name: String, df: org.apache.spark.sql.DataFrame) = {
      stages += ((name, df, df)); df
    }
    def settle(name: String, df: org.apache.spark.sql.DataFrame) = {
      val settled = df.localCheckpoint(true)
      stages += ((name, df, settled))
      settled
    }
    raw("corpus", docs)
    // 1. quality funnel
    val clean = settle("funnel",
      docs.where(TextOps.funnelPredicates(col("text"))
        .map(_._2).reduce(_ && _)))
    // 2. Gopher repetition screen (the q126 rules, the demo's stage)
    val screened = settle("gopher", clean.join(
      TextOps.gopherRepetition(clean, col("doc_id"), col("text"))
        .where(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    // 3. cross-document verbatim-span removal (the q152 rewrite,
    // syndication screen): spans whose 3-grams recur in >= 4 docs lose
    // every non-canonical copy; text is REWRITTEN in place and docs
    // scrubbed empty drop out, so every later stage (minhash, KN model,
    // packing) sees the despanned corpus
    val dsp0 = graft.operators.SpanDedupOps.crossDocDedup(
      screened, col("doc_id"), col("text"), k = 3, minDf = 4)
    val despan = settle("despanned", screened.drop("text")
      .join(dsp0.where(col("text_clean") =!= "")
        .select(col("did").as("doc_id"), col("text_clean").as("text")),
        "doc_id"))
    // 4. near-dup keep-best (the q63 pair: qualityComposite score)
    val clusters = DedupOps.dedupClusters(
      DedupOps.lshCandidatePairs(DedupOps.minhashSignatures(
        despan, col("doc_id"), col("text"), SHINGLE_W)),
      "doc_a", "doc_b")
    val best = DedupOps.keepBestInCluster(
      despan, col("doc_id"), TextOps.qualityComposite(col("text")),
      clusters)
    val dropDup = clusters.join(best, "cluster_id")
      .where(col("doc_id") =!= col("keep_id")).select("doc_id")
    val deduped = settle("keep_best",
      despan.join(dropDup, Seq("doc_id"), "left_anti"))
    // 5. exact decontamination (the q79 shape over the survivors)
    val leaky = TextOps.decontaminate(deduped, col("doc_id"), col("text"),
      ContamW, minOverlap = 2, estimatedTestShingles = 1L << 20)
    val decon = settle("decontaminated", deduped.join(leaky.select("doc_id"),
      Seq("doc_id"), "left_anti"))
    // 6. KN-perplexity band-pass, calibrated per source (q138 ∘ q115:
    // word-order-aware cross-entropy under the SURVIVORS' own bigram
    // model; the worst decile per source drops — per-source
    // calibration so one threshold transfers across languages)
    val ce = TextOps.knScore(decon, col("doc_id"), col("text"))
    val cal = TextOps.calibrateScores(
      ce.join(decon.select("doc_id", "source"), "doc_id"),
      col("doc_id"), col("cross_entropy"), col("source"), "source",
      10, 0.9)
    val lmKept = settle("lm_perplexity", decon.join(
      cal.where(col("keep")).select("doc_id"), Seq("doc_id"),
      "left_semi"))
    // 7. mix to a uniform source weighting at the q64 budget
    val weights = lmKept.select("source").distinct().collect()
      .map(_.getString(0) -> 1L).toMap // bounded: the source domain
    val thr = TextOps.mixThresholds(lmKept, col("doc_id"), col("text"),
      col("source"), weights, MixBudget)
    val mixed = settle("mixed", lmKept
      .withColumn("_bkt", graft.functions.TextHash.sampleBucket(
        graft.functions.HashExpressions.polyHash(col("text")), 1000000))
      .join(thr, "source").where(col("_bkt") < col("_thr"))
      .drop("_bkt", "_thr"))
    // 8. pack into fixed token-budget chunks
    raw("chunks",
      TextOps.packSequences(mixed, col("doc_id"), col("text"), 512L))
    stages.result()
  }

  /** Okapi BM25 lexical retrieval ([[RetrievalOps.bm25TopK]]): the first 3
    * documents play standing queries over the corpus (self-match expected
    * at rank 1 — a retrieval sanity the hash then pins). k1/b are the
    * universal defaults; idf is the non-negative Lucene variant, rounded
    * decimal before the product so the oracle replays it as an exact
    * intermediate. */
  private[queries] val BM25_K = 5

  /** T5 span-corruption target construction ([[TextOps
    * .spanCorruptionMask]], Raffel et al. 2020): ~15% of each doc's
    * tokens masked in mean-3 spans, input/target pair fingerprints
    * hash-pinned — the oracle replays the per-position hash draws, the
    * bounded-band span-coverage join, the merged-run sentinels, and BOTH
    * rebuilt strings' polynomial hashes, so the exact denoising pair an
    * engine would feed a trainer is what the gate checks. */
  private[queries] val SpanMaskRate = 0.15
  private[queries] val SpanMean = 3

  /** CTE chain computing the thirteen Gopher repetition signals + keep
    * over `table` (which must expose doc_id, text), every CTE name
    * prefixed with `pfx` so the chain composes inside larger oracles
    * (q117 threads it over the funnel survivors). Final CTE:
    * `${pfx}keep` with all signal columns + `keep`. */
  private[queries] def repetitionCtes(table: String, pfx: String): String = {
    val topNs = Seq(2, 3, 4)
    val covNs = Seq(5, 6, 7, 8, 9, 10)
    val gramCtes = (topNs ++ covNs).map { n =>
      s"""${pfx}g$n AS (SELECT doc_id, i, array_to_string(ws[i:i+${n - 1}], ' ') AS g
         |  FROM ${pfx}base, UNNEST(generate_series(1, len(ws) - ${n - 1})) AS t(i)),
         |${pfx}c$n AS (SELECT doc_id, g, count(*) AS c FROM ${pfx}g$n GROUP BY 1, 2)""".stripMargin
    }
    val topCtes = topNs.map { n =>
      s"""${pfx}t$n AS (SELECT doc_id, c, length(g) - ${n - 1} AS gc FROM ${pfx}c$n
         |  WHERE c >= 2
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1)""".stripMargin
    }
    val covCtes = covNs.map { n =>
      s"""${pfx}d$n AS (SELECT g.doc_id, g.i FROM ${pfx}g$n g
         |  JOIN ${pfx}c$n c ON c.doc_id = g.doc_id AND c.g = g.g WHERE c.c >= 2),
         |${pfx}v$n AS (SELECT DISTINCT t.doc_id, t.i, length(t.tok) AS lc FROM ${pfx}tok t
         |  JOIN ${pfx}d$n s ON s.doc_id = t.doc_id AND t.i BETWEEN s.i AND s.i + ${n - 1}),
         |${pfx}cov$n AS (SELECT doc_id, CAST(sum(lc) AS BIGINT) AS cc FROM ${pfx}v$n GROUP BY 1)""".stripMargin
    }
    val topCols = topNs.map { n =>
      s"""  COALESCE(round(CAST(${pfx}t$n.c * ${pfx}t$n.gc AS DOUBLE) / CAST(${pfx}tt.tc AS DOUBLE), 6), 0.0)
         |    AS top_${n}gram_frac""".stripMargin
    }
    val covCols = covNs.map { n =>
      s"""  COALESCE(round(CAST(${pfx}cov$n.cc AS DOUBLE) / CAST(${pfx}tt.tc AS DOUBLE), 6), 0.0)
         |    AS dup_${n}gram_frac""".stripMargin
    }
    val joins =
      topNs.map(n => s"LEFT JOIN ${pfx}t$n ON ${pfx}t$n.doc_id = ${pfx}tt.doc_id") ++
        covNs.map(n => s"LEFT JOIN ${pfx}cov$n ON ${pfx}cov$n.doc_id = ${pfx}tt.doc_id")
    import graft.functions.{RepetitionSignals => RS}
    val keepSql =
      s"""dup_line_frac <= ${RS.DupLineThr} AND dup_para_frac <= ${RS.DupParaThr}
         |    AND dup_line_char_frac <= ${RS.DupLineCharThr}
         |    AND dup_para_char_frac <= ${RS.DupParaCharThr}
         |    AND top_2gram_frac <= ${RS.Top2Thr} AND top_3gram_frac <= ${RS.Top3Thr}
         |    AND top_4gram_frac <= ${RS.Top4Thr}
         |    AND dup_5gram_frac <= ${RS.Dup5Thr} AND dup_6gram_frac <= ${RS.Dup6Thr}
         |    AND dup_7gram_frac <= ${RS.Dup7Thr} AND dup_8gram_frac <= ${RS.Dup8Thr}
         |    AND dup_9gram_frac <= ${RS.Dup9Thr} AND dup_10gram_frac <= ${RS.Dup10Thr}""".stripMargin
    s"""${pfx}base AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws,
       |    list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS lns,
       |    list_filter(string_split(text, chr(10) || chr(10)), x -> length(x) > 0) AS prs
       |  FROM $table),
       |${pfx}tok AS (SELECT doc_id, i, ws[i] AS tok
       |  FROM ${pfx}base, UNNEST(generate_series(1, len(ws))) AS t(i)),
       |${pfx}tt AS (SELECT b.doc_id, len(b.ws) AS nw, COALESCE(s.tc, 0) AS tc
       |  FROM ${pfx}base b LEFT JOIN (
       |    SELECT doc_id, CAST(sum(length(tok)) AS BIGINT) AS tc
       |    FROM ${pfx}tok GROUP BY 1) s ON s.doc_id = b.doc_id),
       |${pfx}lparts AS (SELECT doc_id, unnest(lns) AS p FROM ${pfx}base),
       |${pfx}lcnt AS (SELECT doc_id, p, count(*) AS c, length(p) AS lc
       |  FROM ${pfx}lparts GROUP BY 1, 2),
       |${pfx}lagg AS (SELECT doc_id, sum(c) AS np, sum(c * lc) AS pc,
       |    sum(c - 1) AS dup, sum((c - 1) * lc) AS dupc
       |  FROM ${pfx}lcnt GROUP BY 1),
       |${pfx}pparts AS (SELECT doc_id, unnest(prs) AS p FROM ${pfx}base),
       |${pfx}pcnt AS (SELECT doc_id, p, count(*) AS c, length(p) AS lc
       |  FROM ${pfx}pparts GROUP BY 1, 2),
       |${pfx}pagg AS (SELECT doc_id, sum(c) AS np, sum(c * lc) AS pc,
       |    sum(c - 1) AS dup, sum((c - 1) * lc) AS dupc
       |  FROM ${pfx}pcnt GROUP BY 1),
       |${gramCtes.mkString(",\n")},
       |${topCtes.mkString(",\n")},
       |${covCtes.mkString(",\n")},
       |${pfx}sig AS (SELECT ${pfx}tt.doc_id,
       |  CAST(${pfx}tt.nw AS BIGINT) AS n_words, ${pfx}tt.tc AS n_chars,
       |  COALESCE(round(CAST(la.dup AS DOUBLE) / CAST(la.np AS DOUBLE), 6), 0.0)
       |    AS dup_line_frac,
       |  COALESCE(round(CAST(la.dupc AS DOUBLE) / CAST(la.pc AS DOUBLE), 6), 0.0)
       |    AS dup_line_char_frac,
       |  COALESCE(round(CAST(pa.dup AS DOUBLE) / CAST(pa.np AS DOUBLE), 6), 0.0)
       |    AS dup_para_frac,
       |  COALESCE(round(CAST(pa.dupc AS DOUBLE) / CAST(pa.pc AS DOUBLE), 6), 0.0)
       |    AS dup_para_char_frac,
       |${topCols.mkString(",\n")},
       |${covCols.mkString(",\n")}
       |  FROM ${pfx}tt
       |  LEFT JOIN ${pfx}lagg la ON la.doc_id = ${pfx}tt.doc_id
       |  LEFT JOIN ${pfx}pagg pa ON pa.doc_id = ${pfx}tt.doc_id
       |  ${joins.mkString("\n  ")}),
       |${pfx}keep AS (SELECT *, ($keepSql) AS keep FROM ${pfx}sig)""".stripMargin
  }

  /** Tokenizer fertility audit ([[graft.operators.BpeOps
    * .tokenizerFertility]]): per-language tokens/word and chars/token
    * under the corpus-fitted 16-merge BPE — rows-only (the fit's
    * iterative argmax is not SQL-expressible, the q107 precedent); the
    * ratio arithmetic and the monotone no-merges baseline are pinned in
    * BpeSpec on hand-computed fixtures. */
  /** One BPE fit per sf dir, memoized as the frozen merge rows — the
    * q48 frozen-model convention for CONSUMERS of a fitted tokenizer:
    * q128 measures the fertility AGGREGATION under a fitted vocabulary,
    * not the fit (q107 keeps refitting per rep — the fit IS its
    * subject). */
  private[queries] object BpeMergesMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Long, String, String, Long)]]
    def merges(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      cache.getOrElseUpdate(d, {
        val docs = Tables.documents(s, d)
        graft.operators.BpeOps.bpeLearn(
            graft.operators.BpeOps.wordFreqs(docs, col("text")), 16)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSeq
      }).toDF("rank", "left", "right", "pair_count")
    }
    def pairs(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[(String, String)] =
      merges(s, d).orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** The fold-by-rank BPE rewrite over word column `w` as nested SQL
    * `replace`s, returning the normalized space-joined token string.
    * Rendering is DOUBLE-spaced — each symbol as `' s '`, concatenated,
    * i.e. `' ' || join(syms, '  ') || ' '` — so one replace match
    * consumes a complete pair rendering `' l  r '` (one wrapper space
    * each side) and BOTH boundary gaps keep a leftover space: adjacent
    * occurrences chain exactly like the greedy fold. (r16 fix: the r15
    * single-space form shared the boundary space between adjacent
    * matches, so `replace(' x y x y ', ' x y ', ' xy ')` merged only
    * the first pair while [[graft.operators.BpeOps.mergePair]] merges
    * both — any corpus word with a back-to-back learned pair, e.g.
    * 'haha' under (h,a), would go spuriously RED. The fold side of the
    * contract is pinned in BpeSpec's adversarial table incl. the
    * back-to-back case; the replace side was property-verified against
    * the fold on 300 random merge chains and is re-checked by the hash
    * gate on every verify run.) */
  private[queries] def bpeFoldTokensSql(merges: Seq[(String, String)],
      byteLevel: Boolean = false): String = {
    def esc(x: String) = x.replace("'", "''")
    val eow = graft.operators.BpeOps.EndOfWord
    // byte-level start symbols: the word's UTF-8 octets as uppercase
    // hex pairs (DuckDB hex(encode(w)) ≡ Spark hex(encode(w,'UTF-8'))),
    // NO end-of-word marker — [[graft.operators.BpeOps.toByteSymbols]]
    val syms0 =
      if (byteLevel)
        "' ' || array_to_string(list_transform(" +
          "generate_series(1, length(hex(encode(w))) // 2), " +
          "i -> substr(hex(encode(w)), CAST(i * 2 - 1 AS INTEGER), 2))" +
          ", '  ') || ' '"
      else s"' ' || array_to_string(list_append(" +
        s"string_split(w, ''), '${esc(eow)}'), '  ') || ' '"
    val folded = merges.foldLeft(syms0) { case (acc, (l, r)) =>
      s"replace($acc, ' ${esc(l)}  ${esc(r)} ', ' ${esc(l + r)} ')"
    }
    s"array_to_string(list_filter(string_split(trim($folded), ' '), " +
      "x -> length(x) > 0), ' ')"
  }

  /** One byte-level BPE fit per sf dir, memoized (the BpeMergesMemo
    * rationale on the [[graft.operators.BpeOps.toByteSymbols]]
    * alphabet): q196/q197's bodies and dump-time oracles must read
    * IDENTICAL frozen merge bytes. */
  private[queries] object ByteBpeMergesMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Long, String, String, Long)]]
    def merges(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      cache.getOrElseUpdate(d, {
        val docs = Tables.documents(s, d)
        graft.operators.BpeOps.bpeLearn(
            graft.operators.BpeOps.wordFreqs(docs, col("text")), 16,
            symbolize = graft.operators.BpeOps.toByteSymbols)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSeq
      }).toDF("rank", "left", "right", "pair_count")
    }
    def pairs(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[(String, String)] =
      merges(s, d).orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** One pre-tokenized byte-level BPE fit per sf dir, memoized
    * ([[ByteBpeMergesMemo]]'s shape over [[graft.operators.BpeOps
    * .preTokenFreqs]] — the GPT segmentation changes the frequency
    * table, so it is a distinct frozen model). */
  private[queries] object GptByteBpeMergesMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Long, String, String, Long)]]
    def merges(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      cache.getOrElseUpdate(d, {
        val docs = Tables.documents(s, d)
        graft.operators.BpeOps.bpeLearn(
            graft.operators.BpeOps.preTokenFreqs(docs, col("text")), 16,
            symbolize = graft.operators.BpeOps.toByteSymbols)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSeq
      }).toDF("rank", "left", "right", "pair_count")
    }
    def pairs(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[(String, String)] =
      merges(s, d).orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** Gopher quality rules ([[TextOps.gopherQuality]], Rae et al. 2021
    * Table A1's non-repetition half): structural quality signals + keep
    * verdict at the published thresholds, all hash-pinned. The corpus
    * exercises word count, mean word length, alpha fraction, and
    * stop-word presence (its synthetic vocabulary holds ≤ 1 of the
    * canonical eight, so every corpus doc honestly fails keep — the
    * keep=true path and the newline/symbol legs are spec-pinned on
    * fixtures in RepetitionSpec). */
  /** The q129 signal pipeline as DuckDB CTEs `base`/`sig`/`gq` (`gq` adds
    * the keep verdict) — shared verbatim by q129, q186, and q187 so the
    * rule replay and the learned filter's feature replay cannot drift. */
  private[queries] def gopherSigCte: String = gopherSigCteOver("documents")

  private[queries] def gopherSigCteOver(table: String, p: String = ""): String = {
    val stopSum = TextOps.GopherStopWords
      .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""${p}base AS (SELECT doc_id, text,
       |    list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws,
       |    list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS lns
       |  FROM $table),
       |${p}sig AS (SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  CAST(len(lns) AS BIGINT) AS n_lines,
       |  CASE WHEN len(ws) > 0 THEN round(
       |      CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
       |      / len(ws), 6) ELSE 0.0 END AS mean_word_len,
       |  CASE WHEN len(ws) > 0 THEN round(
       |      CAST((length(text) - length(replace(text, '#', '')))
       |        + (len(string_split(text, '...')) - 1) AS DOUBLE)
       |      / len(ws), 6) ELSE 0.0 END AS symbol_word_ratio,
       |  CASE WHEN len(lns) > 0 THEN round(
       |      CAST(len(list_filter(lns, l -> substr(l, 1, 1) = '•'
       |        OR substr(l, 1, 1) = '-' OR substr(l, 1, 1) = '*'))
       |        AS DOUBLE) / len(lns), 6) ELSE 0.0 END AS bullet_line_frac,
       |  CASE WHEN len(lns) > 0 THEN round(
       |      CAST(len(list_filter(lns, l -> right(l, 3) = '...'
       |        OR right(l, 1) = '…')) AS DOUBLE) / len(lns), 6)
       |    ELSE 0.0 END AS ellipsis_line_frac,
       |  CASE WHEN len(ws) > 0 THEN round(
       |      CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
       |        AS DOUBLE) / len(ws), 6) ELSE 0.0 END AS alpha_word_frac,
       |  CAST($stopSum AS BIGINT) AS n_stop_words
       |  FROM ${p}base),
       |${p}gq AS (SELECT *,
       |  (n_words >= 50 AND n_words <= 100000
       |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND symbol_word_ratio <= 0.1
       |    AND bullet_line_frac <= 0.9
       |    AND ellipsis_line_frac <= 0.3
       |    AND alpha_word_frac >= 0.8
       |    AND n_stop_words >= 2) AS keep
       |  FROM ${p}sig)""".stripMargin
  }

  /** The learned-quality-filter feature frame (q186/q187's shared input):
    * [[ClassifyOps.logisticQualityFeatures]] over the q129 signal frame,
    * with the q60 funnel's FINAL survivor verdict riding the same single
    * projection as the training label (gopherQuality's `extra`
    * pass-through — one row-local pass, no doc_id join-back). Target ≠
    * feature thresholds by construction: the funnel's dup-ratio, digit
    * ratio, language-profile stopwords, and PII regexes are not among
    * the seven features, so the fit distills rather than replays. */
  private[queries] def logisticFeats(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    logisticFeatsOf(Tables.documents(s, d))

  private[queries] def logisticFeatsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.operators.ClassifyOps.logisticQualityFeatures(TextOps.gopherQuality(
      docs, col("doc_id"), col("text"),
      graft.operators.ClassifyOps.distillFeatures(col("text")) :+
        TextOps.funnelPredicates(col("text")).last._2.as("label")))

  /** DuckDB CTE `lbl` over `table`: the q60 funnel verdict per doc — the
    * SAME p1–p4 fragments as q60's oracle (unfiltered whitespace split, the
    * shared [[qualityCompositeSql]]). */
  private[queries] def funnelLabelCteOver(table: String, p: String = ""): String = {
    val allStopSql = TextOps.LangProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val piiFree = Seq(TextOps.EmailRe, TextOps.PhoneRe, TextOps.UrlRe)
      .map(re => s"len(regexp_extract_all(text, '$re')) = 0")
      .mkString("(", " AND ", ")")
    s"""${p}lbl AS (SELECT doc_id,
       |    round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
       |      / CAST(len(ws) AS DOUBLE), 6) AS f_dup,
       |    CASE WHEN length(text) > 0 THEN
       |      round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
       |        AS DOUBLE) / CAST(length(text) AS DOUBLE), 6)
       |      ELSE 0.0 END AS f_digit,
       |    round(CAST(len(list_filter(ws, w -> list_contains($allStopSql, w)))
       |      AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS f_stopx,
       |    (len(ws) >= ${TextOps.DefaultMinWords}
       |     AND 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
       |       / CAST(len(ws) AS DOUBLE) <= ${TextOps.DefaultMaxDupRatio}
       |     AND $qualityCompositeSql >= ${TextOps.DefaultMinQuality}
       |     AND $piiFree) AS label
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
       |    FROM $table))""".stripMargin
  }

  /** One IRLS fit per sf dir, memoized as the k+1 round-6 weight doubles
    * — the frozen-model convention (CentroidMemo/ZcaMemo): the q186 query
    * body, the q187 calibration body, and both dump-time oracle thunks
    * must read IDENTICAL frozen bytes, making run-to-run fit noise
    * structurally irrelevant (the fit is also decimal-exact and therefore
    * reproducible — LogisticSpec pins that — but the memo removes even
    * the re-fit COST from the oracle path). */
  private[queries] object LogisticMemo {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[Double]]
    def weights(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[Double] =
      cache.getOrElseUpdate(d, graft.operators.ClassifyOps.logisticFit(
        logisticFeats(s, d), graft.operators.ClassifyOps.QualityFeatCols, col("label")))
  }

  /** DuckDB CTE `feat` mirroring [[ClassifyOps.logisticQualityFeatures]]
    * over the shared `gq` signal CTE, plus the frozen-weight linear
    * predictor as a LEFT-ASSOCIATED `+` chain (SQL's default) — the same
    * association order the Spark side folds in, so both engines compute a
    * bit-identical double before the sigmoid. */
  private[queries] def logisticFeatSql: String = logisticFeatSqlOver("documents")

  /** The q186 feature chain over `table`, with every CTE name prefixed
    * by `p` — so q191 can emit the chain twice (baseline + perturbed
    * arrivals) in one statement. */
  private[queries] def logisticFeatSqlOver(table: String, p: String = ""): String =
    s"""${funnelLabelCteOver(table, p)},
      |${p}feat AS (SELECT ${p}gq.doc_id, ${p}lbl.label,
      |    round(ln(1 + n_words), 6) AS f_logw,
      |    mean_word_len AS f_mwl,
      |    symbol_word_ratio AS f_sym,
      |    bullet_line_frac AS f_bullet,
      |    ellipsis_line_frac AS f_ellipsis,
      |    alpha_word_frac AS f_alpha,
      |    round(CAST(n_stop_words AS DOUBLE) / 8.0, 6) AS f_stop,
      |    ${p}lbl.f_dup, ${p}lbl.f_digit, ${p}lbl.f_stopx
      |  FROM ${p}gq JOIN ${p}lbl ON ${p}gq.doc_id = ${p}lbl.doc_id),
      |${p}featx AS (SELECT *,
      |    round(f_logw * f_logw, 6) AS f_logw2,
      |    round(f_dup * f_dup, 6) AS f_dup2,
      |    round(f_logw * f_dup, 6) AS f_logwdup
      |  FROM ${p}feat)""".stripMargin

  private[queries] def logisticPredSql(weights: Seq[Double]): String = {
    def dd(x: Double) = java.lang.Double.toString(x)
    (dd(weights.head) +: graft.operators.ClassifyOps.QualityFeatCols.zip(weights.tail)
      .map { case (c, w) => s"${dd(w)} * $c" }).mkString(" + ")
  }

  /** One WordPiece fit per sf dir, memoized as the frozen piece list
    * (CentroidMemo discipline): the q189 apply body and its dump-time
    * oracle must read IDENTICAL vocabulary bytes. */
  private[queries] object WordPieceMemo {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    def vocab(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[String] =
      cache.getOrElseUpdate(d, {
        import s.implicits._
        val freqs = graft.operators.BpeOps.wordFreqs(
          Tables.documents(s, d), col("text"))
        val merges = graft.operators.WordPieceOps.wpLearn(freqs, 16)
        graft.operators.WordPieceOps.wpVocab(freqs, merges)
          .orderBy("piece").as[String].collect().toSeq
      })
  }

  /** WordPiece apply face, FULLY oracle-checked — unlike the fits, the
    * greedy longest-match-first walk over a FROZEN vocabulary is
    * SQL-expressible: the memoized piece list embeds as a VALUES table
    * and DuckDB replays the cursor as a recursive CTE whose step takes
    * the longest piece matching at the position (continuation form
    * after the first), collapsing to `[UNK]` on any miss — the
    * published WordPieceTokenizer contract, q48's frozen-model pattern
    * applied to a TOKENIZER for the first time (q107/q140/q141 are all
    * rows-only). Output per doc: token count, whole-word-UNK count (the
    * vocabulary-coverage rollout gate), and the polyHash fingerprint of
    * the space-joined token stream — NULL when the doc has no tokens
    * (hash-of-empty diverges between engines; a fingerprint of nothing
    * means nothing). */
  /** The shared per-word explode (`dws`/`words`) every tokenizer replay
    * rides: one row per doc with its non-empty whitespace words, one
    * row per (doc, word-index, word). Factored so q141/q189/q194/q198
    * spell IDENTICAL word semantics. */
  private[queries] def docWordsCteSql: String = docWordsCteOver()

  /** [[docWordsCteSql]] over an arbitrary doc-shaped table expression,
    * every CTE name prefixed by `p` — so q201 can emit the explode
    * twice (baseline + perturbed arrivals) in one statement, the
    * funnelLabelCteOver convention. */
  private[queries] def docWordsCteOver(table: String = "documents",
      p: String = ""): String =
    s"""${p}dws AS (SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
       |  FROM $table),
       |${p}words AS (SELECT doc_id, i AS wi, ws[i] AS w
       |  FROM ${p}dws, UNNEST(generate_series(1, len(ws))) AS t(i))"""
      .stripMargin

  /** The q189 greedy-match replay as shared CTE text (`dp`/`fin`/
    * `wtoks`) over the memoized frozen vocabulary — emitted by q189
    * (per-doc tokenize), q194 (per-language fertility/coverage) and
    * q198 (round-trip audit) so the replays cannot drift. Caller
    * prepends WITH RECURSIVE and [[docWordsCteSql]]. */
  private[queries] def wordPieceChainSql(): String =
    s"""${wordPiecePiecesSql()},
       |${wordPieceWalkSql()}""".stripMargin

  /** The frozen-vocabulary probe-form CTEs (`pieces`/`pl`) — emitted
    * ONCE per statement even when the walk runs twice (q201's
    * baseline-vs-arrivals drift). */
  private[queries] def wordPiecePiecesSql(): String = {
    val sfDir = sys.props.getOrElse("graft.verify.sfdir",
      "/root/testdata/sf0.001")
    val vocab = WordPieceMemo.vocab(
      org.apache.spark.sql.SparkSession.active, sfDir)
    val vals = vocab
      .map(p => s"('${p.replace("'", "''")}')").mkString(",")
    val unk = graft.operators.WordPieceOps.Unk
    val maxW = graft.operators.WordPieceOps.MaxWordChars
    // Mirror of [[graft.functions.WordPieceEncode]]'s probe cap: the
    // longest-match scan starts at min(remaining, maxPieceLen) where
    // every piece contributes its RAW length ('##'-stripped), floor 1.
    val contM = graft.operators.WordPieceOps.Continuation
    val maxPiece = vocab.foldLeft(1) { (m, p) =>
      math.max(m,
        if (p.startsWith(contM)) p.length - contM.length else p.length)
    }
    // pl = the matcher's probe forms, NOT a per-piece classification
    // (r16 fix): the Spark matcher probes the FLAT vocabulary set — at
    // pos 1 the candidate is the raw substring itself (so a literal
    // '##…' piece, e.g. the '##' mintable from words starting '##', CAN
    // match at word start), at pos > 1 the candidate is '##'||raw with
    // raw length >= 1 (bare '##' is never probed there). The r15 pl
    // classified each piece once by its string prefix; a vocab piece
    // exactly '##' got raw = '' which zero-width-matched at every
    // pos > 1 and advanced by 0 — the recursive CTE never terminated.
    // Both probe forms now carry raw length >= 1 by construction.
    s"""pieces(p) AS (SELECT * FROM (VALUES $vals) t(p)),
       |pl AS (
       |  SELECT p, p AS raw, false AS cont FROM pieces
       |    WHERE length(p) <= $maxPiece
       |  UNION ALL
       |  SELECT p, substr(p, 3) AS raw, true AS cont FROM pieces
       |    WHERE p LIKE '##%' AND length(p) >= 3)""".stripMargin
  }

  /** The greedy longest-match walk CTEs over `${p}words`, every name
    * prefixed by `p` (reads the shared `pl` probe forms). */
  private[queries] def wordPieceWalkSql(p: String = ""): String = {
    val unk = graft.operators.WordPieceOps.Unk
    val maxW = graft.operators.WordPieceOps.MaxWordChars
    s"""${p}dp AS (
       |  SELECT doc_id, wi, w, CAST(1 AS BIGINT) AS pos,
       |    CAST('' AS VARCHAR) AS toks, false AS failed
       |  FROM ${p}words WHERE length(w) <= $maxW
       |  UNION ALL
       |  SELECT doc_id, wi, w,
       |    CASE WHEN bp IS NULL THEN CAST(length(w) + 1 AS BIGINT)
       |      ELSE pos + (CASE WHEN pos > 1 THEN length(bp) - 2
       |        ELSE length(bp) END) END,
       |    CASE WHEN bp IS NULL THEN '$unk'
       |      WHEN toks = '' THEN bp ELSE toks || ' ' || bp END,
       |    bp IS NULL
       |  FROM (SELECT s.doc_id, s.wi, s.w, s.pos, s.toks,
       |      (SELECT p FROM pl WHERE pl.cont = (s.pos > 1)
       |         AND pl.raw = substr(s.w, CAST(s.pos AS INTEGER),
       |           length(pl.raw))
       |       ORDER BY length(pl.raw) DESC, p LIMIT 1) AS bp
       |    FROM ${p}dp s WHERE s.pos <= length(s.w) AND NOT s.failed) t),
       |${p}fin AS (SELECT doc_id, wi, toks FROM ${p}dp
       |  WHERE failed OR pos > length(w)
       |  UNION ALL
       |  SELECT doc_id, wi, '$unk' AS toks
       |  FROM ${p}words WHERE length(w) > $maxW),
       |${p}wtoks AS (SELECT doc_id, wi, toks FROM ${p}fin)""".stripMargin
  }

  /** One TRAIN-ONLY IRLS fit per sf dir (content-hash buckets < 80, the
    * q118 split), memoized like [[LogisticMemo]] — q193's generalization
    * face must score documents the fit never saw. */
  private[queries] object TrainLogisticMemo {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[Double]]
    def weights(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[Double] =
      cache.getOrElseUpdate(d, {
        val train = Tables.documents(s, d).where(pmod(
          graft.functions.HashExpressions.polyHash(col("text")),
          lit(100)) < 80)
        graft.operators.ClassifyOps.logisticFit(logisticFeatsOf(train),
          graft.operators.ClassifyOps.QualityFeatCols, col("label"))
      })
  }

  /** One ZCA fit per sf dir, memoized as the fitted model bytes — the
    * [[CentroidMemo]] frozen-model discipline applied to q134 (r14
    * advisory): `moments` accumulates doubles via treeAggregate, whose
    * partition combine ORDER is not deterministic, so a dump-time refit
    * could differ from the query-run fit in low-order bits and flip a
    * value sitting on the 1e-6 rounding boundary. Memoizing makes the
    * query body and the oracle thunk read the SAME frozen model, so
    * run-to-run fit noise is structurally irrelevant to the hash gate. */
  private[queries] object ZcaMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, graft.operators.WhitenOps.ZcaModel]
    def model(s: org.apache.spark.sql.SparkSession, d: String)
        : graft.operators.WhitenOps.ZcaModel =
      cache.getOrElseUpdate(d, graft.operators.WhitenOps.fitZca(
        graft.operators.WhitenOps.moments(
          Tables.embeddings(s, d), col("embedding"), DIM), DIM))
  }

  /** The q134 APPLY oracle (r13 verdict item 5 — rows-only → hash-gated):
    * the eigendecomposition is not SQL-replayable, but the fitted model
    * is FROZEN BYTES ([[ZcaMemo]] — the thunk reads the same memoized
    * fit the query body applied, never a refit) embedded as
    * (i, j, w) / (j, mu) VALUES tables — the q133
    * moment-table pattern one step further. DuckDB then replays
    * `y_i = Σ_j w[i,j]·(x_j − μ_j)` as a join+ordered-fold against the
    * same parquet input: `list_reduce(list(term ORDER BY j))` is a
    * left fold, bit-identical to [[graft.functions.AffineProject]]'s
    * ascending-j double accumulation, so the 1e-6 round cannot straddle
    * an ulp. What this gates: the distributed apply — the codegen'd
    * kernel, centering, row-major indexing, posexplode, rounding —
    * against an independent engine's arithmetic. */
  private[queries] def whitenApplyOracle(): String = {
    // graft.Verify publishes the sf dir it ran on; outside Verify (the
    // contract tests enumerate oracleSql) the smallest test dir stands
    // in — the thunk still needs an active SparkSession for the fit
    val sfDir = sys.props.getOrElse("graft.verify.sfdir",
      "/root/testdata/sf0.001")
    val s = org.apache.spark.sql.SparkSession.active
    val model = ZcaMemo.model(s, sfDir)
    def d(x: Double) = java.lang.Double.toString(x) // shortest round-trip
    val wRows = (for (i <- 0 until DIM; j <- 0 until DIM)
      yield s"($i,$j,${d(model.w(i * DIM + j))})").mkString(",")
    val mRows = (0 until DIM).map(j => s"($j,${d(model.mean(j))})")
      .mkString(",")
    s"""WITH wm(i, j, w) AS (VALUES $wRows),
       |mm(j, mu) AS (VALUES $mRows),
       |x AS (SELECT vec_id, i - 1 AS j,
       |    CAST(embedding[i] AS DOUBLE) AS xv
       |  FROM embeddings, UNNEST(generate_series(1, $DIM)) AS t(i)),
       |c AS (SELECT vec_id, x.j, xv - mu AS cent
       |  FROM x JOIN mm ON mm.j = x.j),
       |tm AS (SELECT vec_id, wm.i AS dim, wm.w * c.cent AS term, c.j
       |  FROM c JOIN wm ON wm.j = c.j),
       |sm AS (SELECT vec_id, dim,
       |    list_reduce(list(term ORDER BY j), (a, b) -> a + b) AS v
       |  FROM tm GROUP BY 1, 2)
       |SELECT vec_id, dim, round(v, 6) + 0.0 AS value FROM sm"""
      .stripMargin
  }

  /** Blocklist screen ([[TextOps.blocklistScreen]], Aho-Corasick): all
    * substring hits of a frozen phrase list in one automaton walk per
    * doc — hash-pinned against an oracle that enumerates every start
    * position per pattern (the O(len × patterns) shape the automaton
    * replaces). Patterns chosen to overlap ("slow" inside "slower"-less
    * corpus text, a two-word phrase, a single char-gram) so the
    * dictionary-suffix reporting path is exercised on real data. */
  private[queries] val BlockPatterns = Seq("slow", "fast table", "agg", "w sc")

  /** The q135 oracle as a pattern-parametrized builder (shared with
    * q184's full-rebuild replay): every start position of every pattern
    * enumerated — the O(len × patterns) shape the automaton replaces. */
  private[queries] def blocklistScreenSql(patterns: Seq[String]): String = {
    val cnts = patterns.zipWithIndex.map { case (p, k) =>
      s"""    SUM(CASE WHEN substr(text, i, ${p.length}) = '$p'
         |      THEN 1 ELSE 0 END) AS c$k""".stripMargin
    }
    val ks = patterns.indices
    s"""WITH posn AS (SELECT doc_id, text, g.i
       |  FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)),
       |cnts AS (SELECT doc_id,
       |${cnts.mkString(",\n")}
       |  FROM posn GROUP BY 1)
       |SELECT doc_id,
       |  CAST(${ks.map(k => s"c$k").mkString(" + ")} AS BIGINT) AS n_hits,
       |  CAST(${ks.map(k => s"(CASE WHEN c$k > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")} AS BIGINT) AS n_patterns,
       |  (${ks.map(k => s"c$k").mkString(" + ")}) > 0 AS flagged
       |FROM cnts""".stripMargin
  }

  /** Blocklist refresh ([[TextOps.blocklistScreenUpdate]]) — the last
    * frozen-model aging gap closed: the takedown pattern list GROWS,
    * the frozen q135 screen is never re-run; only the DELTA patterns
    * walk the corpus (their own small automaton) and the two screens
    * merge by addition. Oracle: the full-rebuild screen over
    * frozen ∪ delta patterns replayed in SQL — merge-equals-rebuild is
    * the hash gate (the q168/q182 convention). Delta patterns chosen to
    * HIT ("tab" inside every "table", "que" inside "query/queries") so
    * the additive merge is exercised on overlapping-match text, and
    * disjoint as strings from [[BlockPatterns]] (the fold's
    * precondition — a CHANGED pattern is a rebuild, not a fold). */
  private[queries] val DeltaBlockPatterns = Seq("tab", "que")

  /** Shared DuckDB CTE chain for the interpolated Kneser–Ney bigram
    * model ([[TextOps.knBigramModel]]): bigram-type counts, context
    * totals, continuation counts, and the type total — defined once so
    * q137 (the model) and q138 (the scorer) cannot drift. `cvw` is
    * MATERIALIZED (the q117 lesson: DuckDB 1.0 re-inlines every
    * reference, and three aggregations + the model join read it). */
  private[queries] def knModelCtes(docsFrom: String, p: String = ""): String =
    s"""${p}t AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM $docsFrom),
       |${p}bg AS MATERIALIZED (SELECT doc_id, ws[i] AS v, ws[i + 1] AS w
       |  FROM ${p}t, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
       |  WHERE len(ws) >= 2),
       |${p}cvw AS MATERIALIZED (
       |  SELECT v, w, count(*) AS c_vw FROM ${p}bg GROUP BY 1, 2),
       |${p}ctx AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
       |    count(*) AS n1p_v FROM ${p}cvw GROUP BY 1),
       |${p}cont AS (SELECT w, count(*) AS n1p_w FROM ${p}cvw GROUP BY 1),
       |${p}tot AS (SELECT count(*) AS nb FROM ${p}cvw)""".stripMargin

  /** The KN probability expression, shared between both oracles — the
    * exact parenthesization of the Spark column tree so IEEE evaluation
    * matches before the 1e-6 rounding absorbs libm ulps. */
  private[queries] def knPSql: String =
    s"""(CAST(c_vw AS DOUBLE) - ${TextOps.KnDiscount})
       |      / CAST(c_v AS DOUBLE)
       |    + ${TextOps.KnDiscount} * CAST(n1p_v AS DOUBLE)
       |      / CAST(c_v AS DOUBLE)
       |      * (CAST(n1p_w AS DOUBLE) / CAST(nb AS DOUBLE))""".stripMargin

  /** DuckDB Luhn mod-10 sum over digit-string expression `e` with
    * doubling parity `dbl` — mirrors [[TextOps]]' private luhnSum
    * exactly (0-based positions from the right; (i−1) because DuckDB
    * generate_series is 1-based here). */
  /** DuckDB twin of TextOps.mod97 — fold char codes with the same
    * digit/letter appends and the same sticky −1 poison. */
  private[queries] def mod97Sql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(list_filter(string_split($e, ''), c -> c <> ''),
       |      c -> CAST(unicode(c) AS BIGINT))),
       |  (acc, x) -> CASE WHEN acc < 0 THEN -1
       |    WHEN x BETWEEN 48 AND 57 THEN (acc * 10 + (x - 48)) % 97
       |    WHEN x BETWEEN 65 AND 90 THEN (acc * 100 + (x - 55)) % 97
       |    ELSE -1 END)""".stripMargin.replace("\n", " ")

  private[queries] def ibanMod97Sql(e: String): String =
    mod97Sql(s"(substr($e, 5) || substr($e, 1, 4))")

  private[queries] def ibanValidSql(e: String): String =
    s"(length($e) BETWEEN 15 AND 34 AND ${ibanMod97Sql(e)} = 1)"

  private[queries] def luhnSumSql(e: String, dbl: Int): String =
    s"""list_sum(list_transform(generate_series(1, length($e)),
       |    i -> CASE WHEN (i - 1) % 2 = $dbl
       |      THEN CASE
       |        WHEN 2 * CAST(substr(reverse($e), i, 1) AS INTEGER) > 9
       |        THEN 2 * CAST(substr(reverse($e), i, 1) AS INTEGER) - 9
       |        ELSE 2 * CAST(substr(reverse($e), i, 1) AS INTEGER) END
       |      ELSE CAST(substr(reverse($e), i, 1) AS INTEGER) END))"""
      .stripMargin

  /** Token-budget water-filling with epoch caps
    * ([[TextOps.budgetWaterfill]]): the redistribution step q64's
    * one-shot `least(share, cap)` skips — capped sources' shortfall
    * flows to the uncapped, by the exact sorted-prefix condition (all
    * BIGINT, no float anywhere). Budget/epochs chosen so the corpus
    * splits into both capped and uncapped sources. */
  private[queries] val WfBudget = 70000L
  private[queries] val WfEpochs = 2L

  /** One unigram-LM fit per sf dir, memoized as the frozen piece table
    * (the BpeMergesMemo rationale: q141 measures the compiled Viterbi
    * APPLY, not the fit — q140 keeps refitting per rep). */
  private[queries] object UnigramPiecesMemo {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, Seq[(String, Double)]]
    def pieces(s: org.apache.spark.sql.SparkSession, d: String)
        : Seq[(String, Double)] =
      cache.getOrElseUpdate(d, graft.operators.UnigramOps.unigramFit(
          Tables.documents(s, d), col("text"),
          vocabSize = 300, seedSize = 600, emIters = 2)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq)
  }

  /** The q141 Viterbi replay as shared CTE text (`uparams`/`udp`/
    * `ufin`/`utrace`/`uwtoks`) over the memoized frozen piece table —
    * emitted by q141 (per-doc tokenize) and q198 (round-trip audit) so
    * the replays cannot drift; the u-prefix keeps it composable next
    * to [[wordPieceChainSql]]'s `dp`/`fin`/`wtoks` in one statement.
    * Caller prepends WITH RECURSIVE and [[docWordsCteSql]]. */
  private[queries] def unigramChainSql(): String =
    s"""${unigramParamsSql()},
       |${unigramWalkSql()}""".stripMargin

  /** The frozen piece-table CTE (`uparams`) — emitted ONCE per
    * statement even when the walk runs twice (q202's drift). */
  private[queries] def unigramParamsSql(): String = {
    val sfDir = sys.props.getOrElse("graft.verify.sfdir",
      "/root/testdata/sf0.001")
    val pieces = UnigramPiecesMemo.pieces(
      org.apache.spark.sql.SparkSession.active, sfDir)
    def dd(x: Double) = java.lang.Double.toString(x)
    val keys = pieces.map(p => s"'${p._1.replace("'", "''")}'")
      .mkString("[", ",", "]")
    val vals = pieces
      .map(p => s"${dd(math.rint(p._2 * 1e6) / 1e6)}::DOUBLE")
      .mkString("[", ",", "]")
    val maxLen = if (pieces.isEmpty) 1 else pieces.map(_._1.length).max
    val unk = dd(graft.functions.UnigramExpressions.UnkLogp)
    s"""uparams AS (SELECT map($keys, $vals) AS m, $maxLen AS maxlen,
       |  $unk::DOUBLE AS unk)""".stripMargin
  }

  /** The Viterbi walk CTEs over `${p}words`, every name prefixed by
    * `p` (reads the shared `uparams` piece table). */
  private[queries] def unigramWalkSql(p: String = ""): String = {
    s"""${p}udp AS (
       |  SELECT doc_id, wi, w, 0 AS i, [0.0::DOUBLE] AS bests,
       |    []::INT[] AS backs
       |  FROM ${p}words
       |  UNION ALL
       |  SELECT doc_id, wi, w, i + 1,
       |    list_append(bests, CASE WHEN pick.back = -1
       |      THEN bests[i + 1] + p2.unk ELSE pick.s END),
       |    list_append(backs, CASE WHEN pick.back = -1
       |      THEN i ELSE pick.back END)
       |  FROM (
       |    SELECT d.doc_id, d.wi, d.w, d.i, d.bests, d.backs,
       |      list_reduce(
       |        list_prepend(struct_pack(s := '-inf'::DOUBLE, back := -1),
       |          list_filter(
       |            list_transform(
       |              generate_series(greatest(0, d.i + 1 - p.maxlen), d.i),
       |              j -> CASE WHEN map_extract(p.m,
       |                    substr(d.w, j + 1, d.i + 1 - j))[1] IS NOT NULL
       |                  AND d.bests[j + 1] > '-inf'::DOUBLE
       |                THEN struct_pack(
       |                  s := d.bests[j + 1] + map_extract(p.m,
       |                    substr(d.w, j + 1, d.i + 1 - j))[1],
       |                  back := j)
       |                END),
       |            x -> x IS NOT NULL)),
       |        (a, b) -> CASE WHEN b.s > a.s THEN b ELSE a END) AS pick
       |    FROM ${p}udp d CROSS JOIN uparams p
       |    WHERE d.i < length(d.w)) t CROSS JOIN uparams p2),
       |${p}ufin AS (SELECT doc_id, wi, w, backs FROM ${p}udp
       |  WHERE i = length(w)),
       |${p}utrace AS (
       |  SELECT doc_id, wi, w, backs, CAST(length(w) AS INT) AS at,
       |    '' AS toks
       |  FROM ${p}ufin
       |  UNION ALL
       |  SELECT doc_id, wi, w, backs, backs[at],
       |    CASE WHEN toks = ''
       |      THEN substr(w, backs[at] + 1, at - backs[at])
       |      ELSE substr(w, backs[at] + 1, at - backs[at]) || ' ' || toks
       |      END
       |  FROM ${p}utrace WHERE at > 0),
       |${p}uwtoks AS (SELECT doc_id, wi, toks FROM ${p}utrace
       |  WHERE at = 0)""".stripMargin
  }

  // ------------------------------------------------ corpus-health stats

  /** Shared oracle fragment: the round-6 least-squares regression terms
    * over `(x, y)` pairs — mirrors [[CorpusStatsOps]]'s convention of
    * rounding each term BEFORE summation so both engines add identical
    * values. */
  private[queries] def lsTermsSql(xExpr: String, yExpr: String): String =
    s"""round($xExpr, 6) AS x, round($yExpr, 6) AS y,
       |round(round($xExpr, 6) * round($yExpr, 6), 6) AS xy,
       |round(round($xExpr, 6) * round($xExpr, 6), 6) AS xx""".stripMargin

  // -------------------------------------- cross-document substring dedup

  private[queries] val XDOC_K = 3

  /** Shared oracle prefix for q151/q152: the word table and the k-gram
    * table (positions 1-based), built from [[SpanDedupOps.gramCteSql]] so
    * the hash definition cannot drift from the Spark side. */
  private[queries] def xdocCtes: String =
    s"""base AS (SELECT doc_id AS did, string_split(text, ' ') AS ws
       |  FROM documents),
       |g AS (${graft.operators.SpanDedupOps.gramCteSql(XDOC_K, "base")})""".stripMargin

  // ------------------------------------------------ ridge distillation

  private[queries] val RIDGE_LAMBDA = 0.1

  /** Spark-side feature/target frame for the ridge distillation: two
    * cheap features (log word count, mean word length) and the composite
    * quality score as the expensive target being distilled. */
  private[queries] def ridgeData(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (x1, x2) =
      graft.operators.RegressionOps.qualityFeatures(col("text"))
    Tables.documents(s, d).select(
      col("doc_id").as("id"), x1.as("x1"), x2.as("x2"),
      round(TextOps.qualityComposite(col("text")), 6).as("y"))
  }

  /** Oracle twin of [[ridgeData]]. */
  private[queries] def ridgeFeatSql: String =
    s"""feat AS (SELECT doc_id AS id,
       |  round(ln(1.0 + len(list_filter(ws, w -> length(w) > 0))), 6)
       |    AS x1,
       |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |    / len(list_filter(ws, w -> length(w) > 0)), 6) AS x2,
       |  round($qualityCompositeSql, 6) AS y
       |FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
       |      FROM documents))""".stripMargin

  // ------------------------------------------------- html extraction

  /** Shared q157/q158 oracle prefix: synthesize the deterministic page
    * around each doc, run the tag-strip/entity/line chain. */
  private[queries] def htmlCtes: String = {
    import graft.operators.HtmlOps
    s"""base AS (SELECT doc_id AS did, text, string_split(text, ' ') AS ws
       |  FROM documents),
       |hh AS (SELECT did, ${HtmlOps.wrapHtmlSql} AS html FROM base),
       |l AS (SELECT did, ${HtmlOps.textLinesSql("html")} AS ls FROM hh)"""
      .stripMargin
  }

  // ------------------------------------------- PRF + weighted sampling

  /** The q119 BM25 scoring chain, parameterized by the query-term CTE so
    * the PRF oracle can run it twice (first pass and expanded pass)
    * without drift. Expects CTEs `words`, `tf`, `dl`, `stats` in scope. */
  private[queries] def bm25ChainSql(qt: String, sfx: String): String =
    s"""dfq$sfx AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf
       |  WHERE w IN (SELECT w FROM $qt) GROUP BY w),
       |contrib$sfx AS (
       |  SELECT $qt.query_id, tf.doc_id,
       |    CAST(round(
       |      CAST(CAST(CAST(round(ln(1.0 +
       |          (stats.n_docs - dfq$sfx.df + 0.5) / (dfq$sfx.df + 0.5)), 6)
       |        AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)
       |      * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 6)
       |      AS DECIMAL(18,6)) AS c
       |  FROM tf
       |  JOIN $qt ON $qt.w = tf.w
       |  JOIN dfq$sfx ON dfq$sfx.w = tf.w
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats),
       |sc$sfx AS (SELECT query_id, doc_id, sum(c) AS s,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM contrib$sfx GROUP BY 1, 2),
       |ranked$sfx AS (SELECT query_id, doc_id, n_terms, s,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc_id) AS BIGINT) AS rk
       |  FROM sc$sfx)""".stripMargin

  // ------------------------------------------------- URL / domain band

  /** Deterministic per-doc source URL (Spark side): hash-derived
    * scheme, mixed-case subdomain (exercises lowering), multi-part
    * suffixes (exercises the public-suffix rule), default and
    * non-default ports, empty paths, tracking-tainted queries with
    * shuffled parameter order, fragments. Twin of [[urlSql]]. */
  private[queries] def urlCol: org.apache.spark.sql.Column = {
    val h = graft.functions.HashExpressions.polyHash(col("text"))
    def m(n: Int) = pmod(h, lit(n.toLong))
    val scheme = when(m(2) === 0, "http").otherwise("https")
    val sub = when(m(4) === 0, "WWW.").when(m(4) === 1, "cdn.")
      .when(m(4) === 2, "News.").otherwise("")
    val dom = concat(lit("site"), m(37).cast("string"))
    // round-15: ccTLD second-levels and hosting-platform suffixes from
    // the widened PublicSuffixes snapshot, so the registry's new tiers
    // (com.cn, co.nz, github.io, 3-label s3.amazonaws.com) are
    // exercised at the driver gate, not just in UrlSpec
    val suffix = when(m(11) === 0, ".com").when(m(11) === 1, ".co.uk")
      .when(m(11) === 2, ".org").when(m(11) === 3, ".io")
      .when(m(11) === 4, ".com.au").when(m(11) === 5, ".com.cn")
      .when(m(11) === 6, ".github.io").when(m(11) === 7, ".co.nz")
      .when(m(11) === 8, ".s3.amazonaws.com").when(m(11) === 9, ".net")
      .otherwise(".com")
    val port = when(m(6) === 0, ":80").when(m(6) === 1, ":443")
      .when(m(6) === 2, ":8080").otherwise("")
    val path = when(m(3) === 0, "").otherwise(
      concat(lit("/p/"), pmod(col("doc_id"), lit(100L)).cast("string")))
    // percent-escape and dot-segment decorations (round-14): exercise
    // RFC 3986 §6.2.2.2–6.2.2.3 normalization at the driver gate
    val deco = when(m(7) === 0, "/./x%7Ea").when(m(7) === 1, "/d/../%41b")
      .when(m(7) === 2, "/%2e").otherwise("")
    val qid = pmod(col("doc_id"), lit(50L)).cast("string")
    // round-15: click-id families from the widened TrackingParams set
    // (google ads, instagram/marketo, hubspot, microsoft/yandex) so the
    // strip rules face the driver gate, not just UrlSpec
    val query = when(m(13) === 0,
        concat(lit("?utm_source=feed&id="), qid, lit("&utm_campaign=x")))
      .when(m(13) === 1, "?ref=tw&b=2&a=1")
      .when(m(13) === 2, concat(lit("?id="), qid))
      .when(m(13) === 3, concat(lit("?gclid=abc&id="), qid))
      .when(m(13) === 4, "?igshid=xyz&mkt_tok=t1")
      .when(m(13) === 5, "?_hsenc=h&b=1&wbraid=w")
      .when(m(13) === 6, concat(lit("?msclkid=m&yclid=y&id="), qid))
      .otherwise("")
    val frag = when(m(5) === 0, "#sec").otherwise("")
    concat(scheme, lit("://"), sub, dom, suffix, port, path, deco, query,
      frag)
  }

  /** DuckDB twin of [[urlCol]] over `documents` columns. */
  private[queries] def urlSql: String = {
    val h = polyHashSql("text")
    s"""(CASE WHEN $h % 2 = 0 THEN 'http' ELSE 'https' END || '://' ||
       | CASE $h % 4 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'cdn.'
       |   WHEN 2 THEN 'News.' ELSE '' END ||
       | 'site' || CAST($h % 37 AS VARCHAR) ||
       | CASE $h % 11 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
       |   WHEN 2 THEN '.org' WHEN 3 THEN '.io' WHEN 4 THEN '.com.au'
       |   WHEN 5 THEN '.com.cn' WHEN 6 THEN '.github.io'
       |   WHEN 7 THEN '.co.nz' WHEN 8 THEN '.s3.amazonaws.com'
       |   WHEN 9 THEN '.net' ELSE '.com' END ||
       | CASE $h % 6 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
       |   WHEN 2 THEN ':8080' ELSE '' END ||
       | CASE WHEN $h % 3 = 0 THEN ''
       |   ELSE '/p/' || CAST(doc_id % 100 AS VARCHAR) END ||
       | CASE $h % 7 WHEN 0 THEN '/./x%7Ea' WHEN 1 THEN '/d/../%41b'
       |   WHEN 2 THEN '/%2e' ELSE '' END ||
       | CASE $h % 13
       |   WHEN 0 THEN '?utm_source=feed&id=' ||
       |     CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
       |   WHEN 1 THEN '?ref=tw&b=2&a=1'
       |   WHEN 2 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
       |   WHEN 3 THEN '?gclid=abc&id=' || CAST(doc_id % 50 AS VARCHAR)
       |   WHEN 4 THEN '?igshid=xyz&mkt_tok=t1'
       |   WHEN 5 THEN '?_hsenc=h&b=1&wbraid=w'
       |   WHEN 6 THEN '?msclkid=m&yclid=y&id=' ||
       |     CAST(doc_id % 50 AS VARCHAR)
       |   ELSE '' END ||
       | CASE WHEN $h % 5 = 0 THEN '#sec' ELSE '' END)""".stripMargin
  }

  /** Per-registered-domain rollup ([[graft.operators.UrlOps
    * .domainStats]]): doc/host/token shares, canonical-URL duplication
    * exposed by q170's normalization, and the blocklist verdict. */
  private[queries] val DomainBlocklist =
    Seq("site3.com", "site17.co.uk", "site9.com.cn", "site21.github.io")
}
