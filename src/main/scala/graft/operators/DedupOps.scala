package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions
import graft.functions.TextHash._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Scale ladder (all shuffle-minimal):
  *  - exact:     hash-groupBy on the normalized text — one shuffle.
  *  - MinHash+LSH: shingle → permuted min-hash signature → band buckets →
  *    bucket-equality self-join. Only bucket-colliding pairs are compared, so
  *    cost is Σ bucket² instead of n² — the standard web-scale near-dup
  *    design. At 100 TB the band join shuffles on (band, bucket), which is
  *    uniformly distributed by construction.
  *  - SimHash: 16-bit signed-projection fingerprint, hamming-close =
  *    near-dup; signature computation is one groupBy.
  *  - n-gram Jaccard: exact verification on (small) candidate sets; the
  *    shingle self-join is quadratic in posting-list length and is the
  *    verify step, not the discovery step, at scale.
  */
object DedupOps {

  /** Exact-duplicate stats per group: total rows vs distinct texts.
    * `approx = true` swaps the exact distinct for HyperLogLog++
    * (`approx_count_distinct`, default 5% relative error) — the scale mode
    * for corpora where an exact distinct's per-group hash set no longer
    * fits (same contract as the percentile scale modes; error bounded in
    * ApproxSpec). */
  def exactDedupStats(docs: DataFrame, groupCol: Column, text: Column,
      approx: Boolean = false): DataFrame =
    docs.groupBy(groupCol).agg(
      count(lit(1)).as("n_total"),
      (if (approx) approx_count_distinct(text) else countDistinct(text))
        .as("n_unique"))

  /** Raw (doc, shingleHash) stream — duplicates retained (no shuffle).
    * One-pass native shingle hashing ([[HashExpressions.shingleHashes]]):
    * no shingle string is ever materialized. */
  /** Shingle positions per chunk when a huge document is split for
    * parallel hashing (see [[shingleHashesRaw]]). */
  val ShingleChunk: Int = 4096

  def shingleHashesRaw(docs: DataFrame, id: Column, text: Column, w: Int): DataFrame = {
    // Giant-ROW skew defense (no fan-out — see the cost-gate note at
    // the bottom):
    //  1. One enormous document (q70's corpus-sized
    //     concatenation; at 100 TB, any boilerplate mega-page) pins its
    //     whole shingle stream to the task holding that row — AQE can
    //     split skewed partitions but never a single row. Documents
    //     longer than ShingleChunk+w-1 words are split at word
    //     boundaries into chunks of exactly ShingleChunk shingle
    //     positions (+ w-1 overlap words), whose shingle MULTISETS
    //     partition the original's exactly — every downstream consumer
    //     (min-aggregation, distinct) is multiset-union-invariant, so
    //     outputs are bit-identical (oracle-gated). Normal-length
    //     documents take the `array(text)` branch: no split, no copy.
    //  2. (r18's second fan-out — Fanout.spread after the chunk explode
    //     — was measured a NET LOSS this round and removed; see the
    //     cost-gate note below.)
    // r19 (verdict item 2): the word array is HOISTED into a projected
    // column — inlined, the r18 plan evaluated `split(text," ")` once
    // per CHUNK inside the transform lambda (HOF lambdas re-evaluate
    // captured subtrees per element), which on the giant doc is ~120
    // full 500k-word splits. The hoist is LAZY: `_ws` materializes only
    // for rows that actually chunk (NULL for normal-length documents, so
    // the common row never pays the array copy into the unsafe row — a
    // first cut that projected `_ws` unconditionally cost the whole
    // shingle band ~0.2 s/entry in serialization). CollapseProject will
    // not re-inline it: the alias is non-cheap and referenced more than
    // once.
    // r19 second cut: the chunk probe itself guarded by length(text) —
    // N words need N-1 separator chars, so length ≤ ShingleChunk+w-2
    // PROVES the word count can't exceed ShingleChunk+w-1 and the
    // conjunction short-circuits; without the guard every normal-length
    // row still materialized one full split() array just to measure it
    // (the residual ~0.1-0.2 s/entry band tax vs r17 — the native
    // shingle hasher never builds a word array).
    val withWs = docs.select(id.as("doc_id"), text.as("_txt"),
      when(length(text) > lit(ShingleChunk + w - 2) &&
          size(split(text, " ")) > lit(ShingleChunk + w - 1),
        split(text, " ")).as("_ws"))
    val ws = col("_ws")
    val nSh = greatest(size(ws) - lit(w - 1), lit(1))
    val chunks = when(ws.isNull, array(col("_txt")))
      .otherwise(transform(
        sequence(lit(0), floor((nSh - lit(1)) / lit(ShingleChunk)).cast("int")),
        c => array_join(
          slice(ws, c * lit(ShingleChunk) + lit(1),
            least(nSh - c * lit(ShingleChunk), lit(ShingleChunk)) + lit(w - 1)),
          " ")))
    // r19 cost-gate (A/B, this round — the fan-out dropped): spreading
    // the chunk explode cost more than it bought on EVERY rider of this
    // site, including the giant-doc query it was built for (q70 4.2 s
    // without vs 5.1 s with; q31 0.31 vs 0.55; q33 0.9 vs 1.2) — the
    // shingle hashing's partial aggregation compresses in place, and the
    // exchange shipped the chunk text for nothing. The CHUNKING stays:
    // it is what lets the downstream hash shuffle distribute a giant
    // row's shingle stream at all.
    withWs.select(col("doc_id"), explode(chunks).as("_t"))
      .select(col("doc_id"),
        explode(HashExpressions.shingleHashes(col("_t"), w)).as("h"))
  }

  /** Distinct (doc, shingleHash) pairs — needed where shingles are COUNTED
    * (jaccard); minhash skips the distinct since min() is duplicate-
    * insensitive. One shuffle for the distinct. */
  def shingleHashes(docs: DataFrame, id: Column, text: Column, w: Int): DataFrame =
    shingleHashesRaw(docs, id, text, w).distinct()

  /** 8-permutation MinHash signature per document. Works on the raw
    * (duplicate-retaining) shingle stream: min() is duplicate-insensitive,
    * so the distinct's extra shuffle is pure cost here — partial min
    * aggregation compresses each partition to ≤1 row per doc before the
    * single shuffle. */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column, w: Int): DataFrame = {
    val mins = (0 until MinhashA.size).map(i =>
      min(minhashPerm(col("h"), i)).as(s"m$i"))
    shingleHashesRaw(docs, id, text, w)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** [[minhashSignatures]] as ONE stateless projection: the same 8
    * permutations computed with array functions over the shingle array —
    * no explode, no groupBy — identical in value (min over the shingle
    * array = min over the duplicate-retaining shingle stream). This is the
    * form a STREAMING plan needs (zero state, no aggregation mode
    * constraints); batch callers prefer [[minhashSignatures]], whose
    * partial-aggregation shape lets long documents' shingle streams spread
    * across tasks instead of pinning each doc's whole array to one row. */
  def minhashSignaturesLocal(docs: DataFrame, id: Column, text: Column,
      w: Int, keep: Seq[Column] = Nil): DataFrame = {
    val hs = HashExpressions.shingleHashes(text, w)
    val mins = (0 until MinhashA.size).map(i =>
      array_min(transform(hs, h => minhashPerm(h, i))).as(s"m$i"))
    docs.select(id.as("doc_id") +: mins ++: keep: _*)
  }

  /** A bucket a pair-generating self-join may NOT process whole: above this,
    * bucket² pairs degenerate one task (the boilerplate-heavy-corpus hot
    * bucket). Buckets up to the cap are grid-split for parallelism; buckets
    * beyond it are dropped from pair generation (their members are near-
    * certain duplicates of each other anyway — cluster them wholesale) and
    * surfaced via [[oversizedLshBuckets]]. */
  val MaxBucket: Int = 100000

  /** Target rows per grid cell when splitting a large bucket. */
  val GridCell: Int = 4096

  /** The banded-LSH S-curve: probability that a pair with Jaccard
    * similarity `s` becomes a CANDIDATE under `bands` bands of
    * `rowsPerBand` minhash rows — `1 − (1 − s^r)^b` (Leskovec/Rajaraman/
    * Ullman, Mining of Massive Datasets §3.4.2). Driver-side math, but it
    * is the number a 100 TB dedup run needs BEFORE it runs: recall at the
    * target threshold, and the false-candidate mass below it (= pair-join
    * volume), both fall straight out of this curve. */
  def lshCatchProbability(s: Double, bands: Int, rowsPerBand: Int): Double = {
    require(s >= 0.0 && s <= 1.0, s"similarity must be in [0,1], got $s")
    require(bands > 0 && rowsPerBand > 0,
      s"need positive bands/rows, got $bands/$rowsPerBand")
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)
  }

  /** A chosen banding and its operating point: at `midpoint` =
    * (1/b)^(1/r), a pair's per-band agreement probability is exactly 1/b,
    * so its catch probability is 1 − (1 − 1/b)^b (0.75 at b = 2, → 1−1/e
    * ≈ 0.632 as b grows) — the steep center of the S-curve. */
  final case class LshPlan(bands: Int, rowsPerBand: Int, midpoint: Double,
      catchAtThreshold: Double)

  /** Choose a banding of an `nHashes`-permutation signature for a target
    * Jaccard `threshold`: among the divisor pairs b·r = nHashes, pick the
    * one whose S-curve midpoint lands closest to the threshold (the MMDS
    * rule). Deliberately a PLANNER, not a policy change — e.g. it reports
    * that this library's own 8-hash 2×4 default has its midpoint at 0.84,
    * a high-precision/low-recall operating point for the q32 threshold of
    * 0.3 (the banded-pair operators' documented trade), and that a
    * recall-first run at 0.3 should band 8×1. At 100 TB the same call
    * sizes the candidate join: catch probability at the corpus's
    * similarity histogram IS the pair volume. */
  def lshPlan(nHashes: Int, threshold: Double): LshPlan = {
    require(nHashes > 0, s"need a positive signature length, got $nHashes")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    (1 to nHashes).filter(nHashes % _ == 0).map { b =>
      val r = nHashes / b
      LshPlan(b, r, math.pow(1.0 / b, 1.0 / r),
        lshCatchProbability(threshold, b, r))
    }.minBy(p => math.abs(p.midpoint - threshold))
  }

  /** (doc_id, band, bucket) rows — one per signature band. */
  private[graft] def bandRows(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"),
      bandBucket((0 to 3).map(i => col(s"m$i"))).as("band0"),
      bandBucket((4 to 7).map(i => col(s"m$i"))).as("band1"))
      .selectExpr("doc_id", "stack(2, 0, band0, 1, band1) as (band, b)")

  /** LSH candidate pairs: 2 bands × 4 rows; a pair is a candidate iff some
    * band's 4 minhashes all agree. Output (doc_a < doc_b), distinct.
    *
    * Skew defense (output-preserving): every bucket is size-counted (window
    * over the same (band, b) key the join shuffles on); a bucket larger than
    * `cellTarget` is decomposed into a g×g grid of cells (g = ⌈n/cellTarget⌉,
    * group = content hash of doc_id — deterministic under task retry), so
    * its bucket² pair comparisons spread over ~g²/2 tasks instead of one.
    * Every unordered pair still meets in EXACTLY the cell
    * (min(g_a,g_b), max(g_a,g_b)): a row is the left side of cells
    * (g, g..ng-1) and the right side of cells (0..g, g), and results are
    * normalized least/greatest + distinct — so the output is identical to
    * the naive self-join, for any cellTarget. Buckets beyond `maxBucket` are
    * dropped (flagged by [[oversizedLshBuckets]] — drop-and-flag, the
    * standard web-dedup treatment of degenerate boilerplate buckets). */
  def lshCandidatePairs(sig: DataFrame, maxBucket: Int = MaxBucket,
      cellTarget: Int = GridCell): DataFrame =
    bucketedSelfJoinPairs(bandRows(sig), maxBucket, cellTarget)

  /** The skew-safe distinct-pair self-join shared by every banded-signature
    * scheme (minhash-LSH bands, simhash bytes): input rows are
    * (doc_id, band, b) bucket memberships; output is every unordered pair
    * sharing a bucket, grid-decomposed per the [[lshCandidatePairs]] skew
    * defense (size-counted buckets, deterministic content-hash cells,
    * drop-above-cap). */
  def bucketedSelfJoinPairs(rows: DataFrame, maxBucket: Int = MaxBucket,
      cellTarget: Int = GridCell): DataFrame =
    bucketedPairCandidates(rows, Nil, maxBucket, cellTarget)
      .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"))
      .distinct()

  /** The grid-split candidate join underlying [[bucketedSelfJoinPairs]],
    * exposed un-normalized and un-deduped: each bucket-sharing ordered pair
    * (doc_x, doc_y) once per (band, cell), with `payload` columns carried
    * to both sides as `_<col>_x` / `_<col>_y` — so a SYMMETRIC verify
    * (e.g. hamming) can run inside the codegen'd join output and filter
    * BEFORE the distinct, instead of re-joining payloads afterwards. */
  private[operators] def bucketedPairCandidates(rows: DataFrame,
      payload: Seq[String], maxBucket: Int, cellTarget: Int): DataFrame = {
    val sized = rows
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("band"), col("b"))))
      .where(col("_n") <= maxBucket)
      .withColumn("_ng", greatest(
        ceil(col("_n").cast("double") / cellTarget).cast("long"), lit(1L)))
      .withColumn("_g", pmod(xxhash64(col("doc_id")), col("_ng")))
    val x = sized.select(col("doc_id").as("doc_x") +:
      col("band") +: col("b") +: col("_g").as("_ca") +:
      explode(sequence(col("_g"), col("_ng") - 1)).as("_cb") +:
      payload.map(p => col(p).as(s"_${p}_x")): _*)
    val y = sized.select(col("doc_id").as("doc_y") +:
      col("band") +: col("b") +:
      explode(sequence(lit(0L), col("_g"))).as("_ca") +: col("_g").as("_cb") +:
      payload.map(p => col(p).as(s"_${p}_y")): _*)
    x.join(y, Seq("band", "b", "_ca", "_cb"))
      .where(col("doc_x") =!= col("doc_y"))
  }

  /** The buckets [[lshCandidatePairs]] refuses to pair-expand at the current
    * cap — report/cluster these wholesale instead of silently dropping. */
  def oversizedLshBuckets(sig: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    oversizedBuckets(bandRows(sig), maxBucket)

  /** [[oversizedLshBuckets]] for any banded scheme: the (band, b) buckets
    * [[bucketedSelfJoinPairs]] drops at `maxBucket`. */
  def oversizedBuckets(rows: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    rows.groupBy(col("band"), col("b"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxBucket)

  /** The band buckets [[simhashPairs]] drops at its cap: with 2^(bits/4)
    * values per band, buckets hold ~N/2^(bits/4) docs, so narrow
    * signatures hit the cap far sooner than minhash-LSH's hash-spread
    * buckets. Check this BEFORE trusting simhashPairs at scale; widen the
    * signature or raise the cap when it reports rows. */
  def oversizedSimhashBuckets(sig: DataFrame, bits: Int = 28,
      maxBucket: Int = MaxBucket): DataFrame =
    oversizedBuckets(simhashBandRows(sig, bits), maxBucket)

  /** Near-dup CLUSTERS from a candidate/verified pair graph: connected
    * components by iterative min-label propagation, cluster id = the
    * smallest doc id reachable. This is the step a dedup pipeline needs
    * AFTER pair discovery — transitivity (a~b, b~c ⇒ one cluster) so one
    * canonical doc survives per group, not one per pair.
    *
    * Each iteration is one distributed join + min-aggregation over the
    * edge list plus a pointer-jumping self-join (path halving), so labels
    * converge in O(log diameter) rounds — the default 20 covers diameters
    * beyond 10⁶; convergence is checked so typical shallow near-dup graphs
    * stop after 2-3 rounds. The driver
    * only coordinates iterations (the standard shape of distributed
    * iterative algorithms); per-round `localCheckpoint` truncates the plan
    * lineage so round N's plan doesn't embed rounds 1..N-1. Output:
    * (doc_id, cluster_id) for every doc appearing in a pair — docs in no
    * pair are their own cluster by definition and are left out of the edge
    * walk entirely. Deterministic for any input order/partitioning.
    *
    * Checkpoint lifecycle: each round's eager `localCheckpoint` SUPERSEDES
    * the previous round's blocks, and Spark only frees superseded blocks
    * when the driver GCs the RDD handle (ContextCleaner is weak-reference
    * driven). On a large driver heap GC may not run for the whole job, so
    * without explicit cleanup every round's full label frame stays pinned
    * in the block manager — O(rounds × corpus) storage that evicts/spills
    * later work (measured in-harness: repeated q51 runs climbed 2.6→14.9 s
    * with zero GC). Each superseded frame is therefore unpersisted HERE,
    * the moment its successor is materialized; only the frame backing the
    * returned labels outlives the call. */
  /** Edge count at or below which [[dedupClusters]] solves the
    * connected components with a driver-side union-find instead of the
    * distributed label-propagation loop. The edge list is already
    * materialized (checkpointed) when the choice is made, so the gate
    * reads actual data size, not an estimate. Driver budget at the gate
    * ceiling (r18 ADVICE correction — the raw bytes are 32 MB but the
    * collected form is BOXED): 2²¹ Tuple2-of-boxed-Long edges plus the
    * ≤2²² entry java.util.HashMap peak at a few hundred MB, transient
    * and freed when the solve returns — acceptable against this
    * harness's ≥2 GB driver floor, and a 100 TB dedup run (billions of
    * candidate pairs) takes the distributed path untouched. Rationale: each propagation round is ~6 driver-latency-
    * bound jobs over tiny frames, and a diameter-D pair graph needs
    * O(log D) rounds — at bench scale that is ~13 rounds ≈ 3-4 s of
    * pure job scheduling for a graph union-find solves in
    * milliseconds (guide §8: decide on small rows). */
  val LocalEdgeCap: Long = 1L << 21

  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // The blocks behind an eagerly-checkpointed frame: the analyzed plan's
    // root is the LogicalRDD wrapping the materialized RDD.
    def freeCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    // both edge directions from ONE pass over the pair pipeline: a
    // union of two selects over `pairs` would evaluate the (expensive)
    // upstream discovery plan twice — Spark does not reuse common
    // subplans across union branches (measured: halves q51 end-to-end)
    val undirected = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    // Size-gated local solve (see [[LocalEdgeCap]]): the count is one
    // cheap job over the just-checkpointed edge frame. Long-typed ids
    // only (every graft caller); other key types keep the loop below.
    val srcType = undirected.schema("src").dataType
    // env for measurement runs; the system property lets the in-suite
    // parity test flip the gate at runtime (ADVICE r18: the cap covers
    // every test SF, so without it no gate exercises the loop below)
    val localDisabled = sys.env.get("SPARK_GRAFT_NO_LOCALCC").contains("1") ||
      sys.props.get("graft.test.noLocalCC").contains("1")
    if (!localDisabled &&
        srcType == org.apache.spark.sql.types.LongType &&
        undirected.count() <= LocalEdgeCap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edges = undirected.as[(Long, Long)].collect()
      // Union-find with min-id roots: path-halving find, union attaches
      // the larger root under the smaller so the representative is the
      // component's min node id — exactly the loop's fixpoint.
      val parent = new java.util.HashMap[Long, Long](edges.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) {
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = gp
          p = parent.getOrDefault(x, x)
        }
        x
      }
      edges.foreach { case (a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val labels = {
        val it = parent.keySet().iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        while (it.hasNext) { val n = it.next(); buf += ((n, find(n))) }
        buf.toSeq
      }
      freeCheckpoint(undirected)
      return labels.toDF("doc_id", "cluster_id")
    }
    // Seed = min(self, direct neighbors): exactly the state after round 1
    // of min-label propagation, folded into one aggregation — replaces the
    // identity-label distinct AND the first full round (2 fewer jobs).
    var labels = undirected
      .select(col("src").as("node"),
        least(col("src"), col("dst")).as("cluster_id"))
      .groupBy("node").agg(min("cluster_id").as("cluster_id"))
      .localCheckpoint(true)
    val labelType = labels.schema("cluster_id").dataType
    var live = labels // the one checkpointed label frame still referenced
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Carry each node's PREVIOUS label through the same aggregation
      // (exactly one non-null _old per node, from the labels branch), so
      // the convergence check is a narrow filter over the just-checkpointed
      // partitions instead of a second shuffle join per round.
      val propagated = undirected
        .join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("cluster_id"),
          lit(null).cast(labelType).as("_old"))
      val combined = labels
        .select(col("node"), col("cluster_id"),
          col("cluster_id").as("_old"))
        .unionByName(propagated)
        .groupBy("node").agg(
          min("cluster_id").as("cluster_id"), min("_old").as("_old"))
      // Pointer jump (path halving): follow node → label(label(node)).
      // Neighbor-min alone advances a label ONE hop per round — a chain of
      // diameter D needs D rounds and silently returns unconverged labels
      // past maxIter. Jumping doubles the compressed distance each round,
      // so convergence is O(log D): 20 rounds covers diameters beyond 10⁶.
      // (Composing TWO halvings per round was measured SLOWER — 6.2 s vs
      // 4.7 s end-to-end — the self-join of a join subtree re-executes the
      // inner halve rather than reusing its exchange; one extra round is
      // only ~0.45 s of job latency. DECISIONS.md.)
      // A label is always some member node's id (a min over node ids), so
      // the self-join hits; left+coalesce guards the invariant anyway.
      val next = combined.as("a")
        .join(combined.select(col("node").as("_ln"),
          col("cluster_id").as("_lc")), col("a.cluster_id") === col("_ln"),
          "left")
        .select(col("a.node").as("node"),
          least(col("a.cluster_id"),
            coalesce(col("_lc"), col("a.cluster_id"))).as("cluster_id"),
          col("a._old").as("_old"))
        .localCheckpoint(true)
      converged = next.where(col("cluster_id") =!= col("_old")).isEmpty
      labels = next.select("node", "cluster_id")
      freeCheckpoint(live) // superseded: `next` is already materialized
      live = next
      i += 1
    }
    freeCheckpoint(undirected) // the returned labels reference only `live`
    labels.select(col("node").as("doc_id"), col("cluster_id"))
  }

  /** The keep-set after clustering: one canonical doc (the cluster id
    * itself = smallest member) per near-dup cluster, plus every doc that
    * appears in no pair. One broadcast-size anti-join against the
    * (pairs-only, hence small relative to the corpus) cluster table. */
  def keepCanonical(docs: DataFrame, id: Column, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.where(col("doc_id") =!= col("cluster_id")).select("doc_id"),
      id === col("doc_id"), "left_anti")

  /** Quality-aware cluster representatives: for each near-dup cluster, the
    * member a curation pipeline should KEEP — highest `score`, smallest
    * doc id on ties — rather than [[keepCanonical]]'s arbitrary
    * smallest-id pick (real pipelines keep the best-quality copy, not the
    * first-crawled one). `score` is rounded to 1e-6 BEFORE ranking so
    * ulp-level float noise cannot flip the winner between engines
    * (DECISIONS.md convention 6). Output: one row per cluster with the
    * keep id, its rounded score, and the member count.
    *
    * Plan shape: the cluster table is pairs-only (small relative to the
    * corpus), so the docs join streams; the per-cluster rank partitions by
    * cluster id — bounded by cluster size, which LSH-band construction
    * keeps far under bucket caps. */
  def keepBestInCluster(docs: DataFrame, id: Column, score: Column,
      clusters: DataFrame): DataFrame = {
    // `score` is typically a per-doc text composite (regex + HOFs) — too
    // heavy for a single-split scan's one task (Fanout contract: no-op
    // at scale)
    val members = Fanout.spread(docs).select(id.as("_id"), round(score, 6).as("q"))
      .join(clusters, col("_id") === col("doc_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("q").desc, col("doc_id"))
    members.withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("keep_id"),
        max(when(col("rk") === 1, col("q"))).as("keep_quality"))
  }

  /** Incremental (delta-vs-corpus) near-dup screen — the production shape
    * at ingest time: a new batch is deduped against the EXISTING corpus's
    * signature index without ever re-pairing the corpus with itself. A
    * delta doc is flagged iff any of its minhash LSH band buckets collides
    * with a corpus doc's (the same candidate definition as
    * [[lshCandidatePairs]], applied across tables); survivors are the docs
    * to append.
    *
    * Takes SIGNATURES (from [[minhashSignatures]]) on both sides so the
    * corpus side can be a precomputed, incrementally-maintained index —
    * at 100 TB the corpus index is computed once and only the (small)
    * delta is shingled per batch. The collision test is one shuffled
    * equi-join on (band, bucket) — uniform by hash construction — with the
    * corpus side reduced to distinct buckets first (partial aggregation
    * compresses map-side; no corpus doc ids travel). Intra-delta
    * duplicates are NOT screened here — that is [[lshCandidatePairs]] on
    * the delta alone. Output: the delta signature rows that survive.  */
  def incrementalDedup(deltaSig: DataFrame, corpusSig: DataFrame): DataFrame = {
    val hit = bandRows(deltaSig).join(corpusBandBuckets(corpusSig),
      Seq("band", "b"), "left_semi").select("doc_id").distinct()
    deltaSig.join(hit, Seq("doc_id"), "left_anti")
  }

  /** The corpus side of [[incrementalDedup]] as a standalone index: the
    * DISTINCT (band, bucket) set of the corpus signatures. At ingest this
    * is computed once (and maintained incrementally as batches append);
    * [[graft.streaming.Streaming.incrementalDedupStream]] uses it as the
    * static side of its per-band stream-static anti-joins. */
  def corpusBandBuckets(corpusSig: DataFrame): DataFrame =
    bandRows(corpusSig).select("band", "b").distinct()

  /** Shared tail of both jaccard paths: join per-doc distinct-shingle
    * counts onto the intersection counts, score, threshold. */
  private def jaccardFromIntersections(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na")), "doc_a")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")

  /** Exact n-gram Jaccard similarity for all pairs above `threshold`,
    * discovered via a shared-shingle equi-join (scale note in object doc). */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column, w: Int,
      threshold: Double): DataFrame = {
    val sh = shingleHashes(docs, id, text, w)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    jaccardFromIntersections(inter, sizes, threshold)
  }

  /** Exact Jaccard verification restricted to LSH candidate pairs — the
    * scale architecture: discovery via [[lshCandidatePairs]] (cost
    * Σ bucket²), exact verification only on the (small) candidate set.
    *
    * The verify is ONE ROW PER PAIR (the [[containmentVerify]] shape, r8):
    * per-doc sorted shingle arrays joined onto the broadcast candidate
    * list, `n_common` via the zero-allocation `sorted_intersect_count`
    * merge walk. The previous postings-join shape (candidates × both
    * docs' shingle streams, then a pair count) multiplies every candidate
    * by its shingle count BEFORE counting — a wash at sf0.1 (1.29 vs
    * 1.22 s, jacc_now/jacc_arr, identical 240 rows) where LSH yields few
    * candidates, but the array form's verify volume is |cands| rows
    * instead of Σ_cands(|A|+|B|) on the candidate-heavy corpora where the
    * verify is the bottleneck (q70's measured 38 → 8 s lesson). */
  def jaccardOnCandidates(docs: DataFrame, id: Column, text: Column, w: Int,
      threshold: Double): DataFrame = {
    // The shingle pipeline feeds both diamond branches (signatures for
    // discovery, postings for verification) and is recomputed per branch:
    // measured (DECISIONS.md) — a DISK_ONLY persist of the postings wins
    // 2.3 s vs 4.5 s at sf0.1 but is a wash at 10× docs (17.2 vs 17.4 s),
    // so the declarative recompute stays (no cache lifecycle in the plan).
    val cands = lshCandidatePairs(minhashSignatures(docs, id, text, w))
    val sh = shingleHashes(docs, id, text, w)
    val arrs = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))
    broadcast(cands)
      .join(arrs.select(col("doc_id").as("doc_a"), col("hs").as("_ha"),
        col("n").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("hs").as("_hb"),
        col("n").as("nb")), "doc_b")
      .withColumn("n_common",
        HashExpressions.sortedIntersectCount(col("_ha"), col("_hb")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Shingle CONTAINMENT on LSH candidates — the asymmetric companion to
    * [[jaccardOnCandidates]]: `containment(a→b) = |A∩B| / |A|`, the
    * fraction of a's shingles that appear in b. Catches subset duplicates
    * (a short doc quoted wholesale inside a long one) that Jaccard
    * dilutes below any usable threshold — |A∩B|/|A∪B| ≈ |A|/|B| → 0 as
    * the containing doc grows, while containment stays ≈ 1. A pair
    * survives when EITHER direction reaches `threshold`; both directions
    * are reported. Same plan shape as the Jaccard verify: discovery via
    * [[lshCandidatePairs]], broadcast candidates against the shingle
    * postings, per-pair intersection counts, broadcast size lookups.
    *
    * Discovery-recall caveat: minhash bands recall pairs by JACCARD, so an
    * extreme subset pair (tiny doc inside a huge one — jaccard ≈ |A|/|B|)
    * can evade candidate generation even though its containment is 1. A
    * rare-shared-shingle discovery would have exact recall but its join
    * cost is Σ df² over anchor shingles — measured 73M candidate pairs on
    * the bench corpus (no rare shingles exist there: median shingle df is
    * 285/5000 docs), vs thousands via LSH. Containment-oriented sketches
    * (bottom-k) are the principled fix if asymmetric recall becomes a
    * requirement. */
  def containmentOnCandidates(docs: DataFrame, id: Column, text: Column,
      w: Int, threshold: Double): DataFrame = {
    val cands = lshCandidatePairs(minhashSignatures(docs, id, text, w))
    val sh = shingleHashes(docs, id, text, w)
    containmentVerify(broadcast(cands), sh, threshold)
  }

  /** Exact both-direction containment over an explicit (doc_a, doc_b)
    * candidate set, against the distinct shingle postings `sh`.
    *
    * The verify is ONE ROW PER PAIR: each doc's distinct shingles are
    * collected once into a sorted array (`sh` is already distinct, so the
    * array is a set), the candidate list joins the array table twice on
    * the uniform doc-id keys, and `n_common = size(array_intersect)` runs
    * inside codegen — no per-shingle row explosion. The postings-join
    * alternative (join `sh` on doc_a, re-join on (doc_b, h), groupBy)
    * multiplies every candidate by its shingle count BEFORE the exact
    * filter: measured 38 s vs 8 s end-to-end on [[containmentPrefixPairs]]
    * at sf0.1, where a high-df corpus makes candidates outnumber true
    * pairs 10⁵:1. Row width is bounded by per-doc shingle count — at
    * LLM-pipeline scale documents are chunk-bounded ([[TextOps.chunkDocs]])
    * long before a shingle array strains a row. */
  private def containmentVerify(cands: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    // Arrays are built SORTED once per doc so the per-pair count is a
    // zero-allocation merge walk (sorted_intersect_count) instead of
    // size(array_intersect(...)), whose per-evaluation hash set + output
    // array made the verify the query's dominant allocator — GC-pause
    // variance at millions of candidates (the q70 rep-spread class).
    val arrs = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))
    cands
      .join(arrs.select(col("doc_id").as("doc_a"), col("hs").as("_ha"),
        col("n").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("hs").as("_hb"),
        col("n").as("nb")), "doc_b")
      .withColumn("n_common",
        HashExpressions.sortedIntersectCount(col("_ha"), col("_hb")))
      .withColumn("containment_a",
        col("n_common").cast("double") / col("na").cast("double"))
      .withColumn("containment_b",
        col("n_common").cast("double") / col("nb").cast("double"))
      .where(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select("doc_a", "doc_b", "n_common", "containment_a", "containment_b")
  }

  /** Containment pairs with EXACT recall via prefix filtering (Chaudhuri
    * et al. SSJoin; Bayardo WWW'07) — the fix for the minhash-discovery
    * recall hole documented on [[containmentOnCandidates]]: a 50-word doc
    * quoted inside a 50k-word doc has containment 1.0 but Jaccard ≈ 0.001,
    * so it is never an LSH candidate.
    *
    * Pigeonhole: if containment(A→B) = |A∩B|/|A| ≥ t then B misses fewer
    * than ⌊(1−t)·|A|⌋+1 of A's shingles — so B must contain at least one
    * of ANY ⌊(1−t)·|A|⌋+1 shingles of A. Probing the postings with that
    * many shingles per doc has exact recall for either direction (every
    * doc probes as A for its own A→B direction); choosing the GLOBALLY
    * RAREST shingles (lowest document frequency, hash tiebreak) makes the
    * probe join as cheap as the corpus allows: probe cost is
    * Σ_docs Σ_prefix df(h), and rarest-first minimizes every df term.
    *
    * Scale shape: two shuffles to rank shingles by (df, h) within each doc
    * (df join on `h`, window on `doc_id`), a probe join whose output is
    * candidate pairs, then the shared one-row-per-pair exact verify. No
    * all-pairs product anywhere, but candidate volume is Σ_docs Σ_prefix
    * df(h) BY CONSTRUCTION — on a corpus with rare shingles (natural text:
    * names, numbers, typos) the rarest-first prefix keeps that near the
    * true pair count, while a corpus whose every shingle is common defeats
    * the filter (measured on the synthetic bench table: min df 3, median
    * 285 over 5000 docs → 3.6 M candidates for 31 true pairs; the verify
    * stays tractable only because it is one row per pair). Exactness costs
    * exactly this; when the corpus is known to be high-df and approximate
    * recall is acceptable, [[containmentOnCandidates]] is the cheap path.
    * Skew: a hot posting key is a hot shingle; AQE skew-join splits it,
    * and rarest-first makes it the exception. */
  def containmentPrefixPairs(docs: DataFrame, id: Column, text: Column,
      w: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    // NOT pinned-pre-partitioned (unlike containmentSketchPairs): measured
    // — a pinned exchange on `h` serving docFreq + both candidate-join
    // sides pushed the isolated median 4.7 → 7.2 s, because here AQE's
    // runtime choices (broadcasting the small probe side, coalescing the
    // narrow pre-expansion stages) beat the hand-set shape. The expansion
    // safety valve q72 needed is unnecessary: the candidate join's output
    // flows straight into a map-side-combining distinct, not an
    // exchange-free aggregate.
    val sh = shingleHashes(docs, id, text, w)
    val docFreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val probes = sh.join(docFreq, "h")
      .withColumn("rk",
        row_number().over(wDoc.orderBy(col("df"), col("h"))))
      .withColumn("n", count(lit(1)).over(wDoc))
      // Epsilon before flooring: (1-t)*n can land an IEEE ulp BELOW an
      // exact integer (t=0.8, n=10: (1-0.8)*10 = 1.9999999999999996),
      // flooring to one fewer probe than the pigeonhole needs — a pair at
      // exactly the threshold would then evade candidate generation while
      // containmentVerify (n_common/na >= t in doubles) accepts it. The
      // nudge can only ever ADD a probe (over-probing costs one df term,
      // under-probing silently loses recall).
      .where(col("rk") <=
        floor(lit(1.0 - threshold) * col("n") + lit(1e-9)).cast("int") + 1)
      .select(col("doc_id").as("probe_doc"), col("h"))
    val cands = probes
      .join(sh.withColumnRenamed("doc_id", "other_doc"), "h")
      .where(col("probe_doc") =!= col("other_doc"))
      .select(least(col("probe_doc"), col("other_doc")).as("doc_a"),
        greatest(col("probe_doc"), col("other_doc")).as("doc_b"))
      .distinct()
    containmentVerify(cands, sh, threshold)
  }

  /** Document-frequency cap for [[containmentSketchPairs]]' probe join —
    * the posting-side analog of [[MaxBucket]]: a shingle hash with df near
    * corpus size is boilerplate, and every sketch that sampled it fans out
    * df probe rows for ~zero containment signal per hit (its presence in B
    * says nothing about A ⊆ B when it is present in EVERYONE). Hashes above
    * the cap are dropped from the shingle universe (sketch AND postings
    * side, so the estimate stays an unbiased sample of the retained
    * universe) and surfaced via [[hotContainmentShingles]] — drop-and-flag,
    * mirroring the LSH bucket cap.
    *
    * The cap is OPT-IN: the sketch/coordinated estimators default to
    * `maxDf = Long.MaxValue` (no drop — output covers the full shingle
    * universe, matching pre-cap releases), and the registered q72/q83
    * queries pass this constant explicitly, mirroring their oracles. At
    * corpus scale, pass it (or your own cap) — an uncapped boilerplate
    * shingle makes the probe volume quadratic. */
  val MaxPostingDf: Long = 100000L

  /** Directional containment ESTIMATES from bottom-k sketches (the `k`
    * SMALLEST distinct shingle hashes per doc — hashes are uniform, so the
    * bottom-k is a uniform sample of the shingle set whose membership can
    * be tested against ANY other doc's full set, which makes it
    * containment-oriented where minhash is Jaccard-oriented; Broder's
    * original sketch, Cohen & Kaplan's bottom-k estimators) — the
    * constant-budget scale path between [[containmentOnCandidates]]
    * (cheap, Jaccard-recall: misses extreme subset pairs entirely) and
    * [[containmentPrefixPairs]] (exact, but candidate volume grows as
    * Σ prefix·df and the prefix grows with doc length):
    *
    * `containment_est(A→B) = |bottomK(A) ∩ S(B)| / |bottomK(A)|`
    *
    * One probe join of the k-row-per-doc sketch against the full postings
    * — probe cost Σ_docs k·E[df], bounded per doc by the FIXED k at any
    * threshold and per HASH by `maxDf` (without the cap a df ≈ n hash
    * makes probe volume quadratic on a boilerplate-heavy corpus; dropped
    * hashes are reported by [[hotContainmentShingles]]) — then a per-pair
    * hit count; no verify pass (the estimate IS the output; run the exact
    * verify on survivors when true values are needed). Exact for docs with
    * ≤ k shingles — an extreme subset pair (tiny doc inside a huge one) is
    * therefore found with estimate exactly 1.0, the case Jaccard discovery
    * provably misses; for larger docs the estimate is the fraction of a
    * uniform k-sample found in B (hits ~ hypergeometric around
    * k·containment). Output is directional: (doc_a, doc_b, n_hits,
    * n_sketch, containment_est) for doc_a's containment IN doc_b,
    * est ≥ threshold. Deterministic for a fixed hash family —
    * engine-reproducible.
    *
    * Plan shape (the r8 rewrite — 11.1 → measured below at sf0.1): the
    * probe output (Σ k·df rows) is by far the widest stream in the plan,
    * and the naive shape shuffles ALL of it into the pair aggregate. Here
    * the postings are pre-partitioned by document BEFORE the probe join,
    * the k-per-doc sketch side is broadcast, and the broadcast join
    * preserves the postings partitioning — doc_b then functionally
    * determines the partition, so the (doc_a, doc_b) hit-count aggregate
    * runs with NO exchange: the widest stream in the plan is never
    * shuffled. The only full-width shuffles left are over the 256 k-row
    * distinct shingle table. `broadcastSketches = false` is the escape
    * hatch for corpora where k·n_docs sketch rows exceed driver/executor
    * broadcast budgets (≳10⁸ docs): the probe becomes a shuffle join on
    * `h` and the pair aggregate pays its exchange — at that scale the df
    * cap is what keeps the probe volume linear. */
  def containmentSketchPairs(docs: DataFrame, id: Column, text: Column,
      w: Int, k: Int, threshold: Double,
      maxDf: Long = Long.MaxValue,
      broadcastSketches: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    require(k >= 1, s"sketch size k must be >= 1, got $k")
    val shAll = shingleHashes(docs, id, text, w)
    val hot = shAll.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
    // One explicit exchange by document feeds BOTH the sketch window
    // (partitionBy doc_id) and, via the partitioning-preserving broadcast
    // join, the pair aggregate (doc_b ⊂ grouping keys) — ReuseExchange
    // collapses the two branches to a single 256 k-row shuffle. The
    // partition count is PINNED (REPARTITION_BY_NUM): the exchange input is
    // a few MB of (doc_id, h) pairs, so AQE would coalesce a by-column
    // repartition to one partition — and this exchange's width is the
    // parallelism of the ~100× wider downstream probe join + pair
    // aggregate, which AQE cannot see at planning time.
    val nPart = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val sh = shAll.join(hot.select("h"), Seq("h"), "left_anti")
      .repartition(nPart, col("doc_id"))
    // The sketch size is just least(|S(doc)|, k), so it rides the sketch
    // window (same partition spec) instead of a separate aggregate-and-join
    // over a THIRD run of the shingle pipeline; measured 18.4 -> 9.9 s at
    // sf0.1 (MicroBench cs_q72 vs cs_q72_lean, DECISIONS.md). A threshold-
    // pigeonhole candidate pass (probe only the rarest ns-ceil(T*ns)+1
    // sketch hashes, array_intersect verify) was measured at 18.9 s and
    // rejected — on a no-rare-shingle corpus the candidate set barely
    // shrinks.
    val wDoc = Window.partitionBy(col("doc_id"))
    val bk = sh
      .withColumn("_rk", row_number().over(wDoc.orderBy(col("h"))))
      .withColumn("_ns", least(count(lit(1)).over(wDoc), lit(k)).cast("long"))
      .where(col("_rk") <= k)
      .select(col("doc_id"), col("h"), col("_ns"))
    val bkSide = if (broadcastSketches) broadcast(bk) else bk
    sh.withColumnRenamed("doc_id", "doc_b")
      .join(bkSide, "h")
      .where(col("doc_id") =!= col("doc_b"))
      .groupBy(col("doc_id"), col("doc_b"))
      .agg(count(lit(1)).as("n_hits"), max(col("_ns")).as("n_sketch"))
      .withColumn("containment_est",
        col("n_hits").cast("double") / col("n_sketch").cast("double"))
      .where(col("containment_est") >= threshold)
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("n_hits"),
        col("n_sketch"), col("containment_est"))
  }

  /** The shingle hashes [[containmentSketchPairs]] drops at `maxDf` —
    * (h, df) rows with df above the cap. Report these (they are the
    * corpus's boilerplate n-grams) rather than silently losing them;
    * empty on any corpus whose df range sits under the cap. */
  def hotContainmentShingles(docs: DataFrame, id: Column, text: Column,
      w: Int, maxDf: Long = MaxPostingDf): DataFrame =
    // default stays MaxPostingDf: this REPORT exists to show what that
    // cap would drop — an uncapped default here would always be empty
    shingleHashes(docs, id, text, w)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)

  /** Directional containment estimates from COORDINATED bottom-k sketches
    * — sketch-vs-sketch, no postings pass (Cohen & Kaplan's coordinated
    * sampling; Beyer et al.'s bottom-k union trick): because every doc's
    * sketch uses the SAME hash order, the bottom-k of
    * `bottomK(A) ∪ bottomK(B)` IS the bottom-k sample V of A ∪ B, and
    * membership of each sampled element in A and B is readable from the
    * two sketches alone:
    *
    *   `containment_est(A→B) = |V ∩ S(A) ∩ S(B)| / |V ∩ S(A)|`
    *
    * Where [[containmentSketchPairs]] probes the sketch against the FULL
    * postings (a second pass over the corpus, probe cost Σ k·df), this
    * needs ONLY the k-row-per-doc sketch table on both sides — the shape
    * for a persisted sketch INDEX: estimate containment between corpus
    * snapshots, or ingest-vs-corpus, without touching the corpus again.
    * The price is discovery recall: a pair is a candidate only when the
    * two SKETCHES collide (for A ⊂ B with |B| ≫ k·|A| the sample of B may
    * miss all of A — the full-postings probe keeps exact discovery for
    * subset pairs, which is why q72 keeps it); estimates remain EXACT
    * whenever the union fits the sketch (|S(A) ∪ S(B)| ≤ k — tiny-doc
    * pairs), hypergeometric-concentrated otherwise.
    *
    * One sketch self-join on the hash generates candidates (cost
    * Σ_h sk_df(h)² — bounded by the df cap on the underlying shingle
    * universe, same `maxDf` drop-and-flag as q72), then the whole
    * estimator is ROW-LOCAL array algebra over two ≤k-element arrays.
    * An estimate is NULL when its denominator `|V ∩ S|` is below
    * `minSupport` — a 1-element sample estimates containment as 0 or 1
    * and nothing between, so un-floored output is dominated by
    * spurious est=1.0 pairs (measured at sf0.1, k=16, T=0.6: 67 k pairs
    * un-floored → 32 k at minSupport=3, vs 281 from q72's full-postings
    * probe, 262 of which this estimator also finds — the excess is the
    * k-sample's hypergeometric variance around sub-threshold true
    * containments, the price of never re-reading the corpus; raise
    * `minSupport`/`k` to tighten). A pair survives when either non-null
    * direction clears `threshold`.
    * Deterministic — engine-reproducible, and the q83 oracle replays it
    * relationally in DuckDB. */
  def coordinatedContainmentPairs(docs: DataFrame, id: Column, text: Column,
      w: Int, k: Int, threshold: Double,
      maxDf: Long = Long.MaxValue, minSupport: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(k >= 1, s"sketch size k must be >= 1, got $k")
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    val shAll = shingleHashes(docs, id, text, w)
    val hot = shAll.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
    val sh = shAll.join(hot.select("h"), Seq("h"), "left_anti")
    val wDoc = Window.partitionBy(col("doc_id"))
    // PINNED exchange (the q72 lesson): the sketch table is a few MB, but
    // the self-join it feeds emits Σ_h sk_df(h)² candidate rows — globally
    // small hash values sit in EVERY containing doc's bottom-k, so sk_df
    // tracks df and candidates number in the millions on a no-rare-shingle
    // corpus. AQE sizes the stage by the sketch bytes and would run that
    // expansion near-serially.
    val nPart = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val bk = sh
      .withColumn("_rk", row_number().over(wDoc.orderBy(col("h"))))
      .where(col("_rk") <= k)
      .select(col("doc_id"), col("h"))
      .repartition(nPart, col("h"))
    val skArr = bk.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("sk"))
    val cands = bk.join(bk.withColumnRenamed("doc_id", "doc_b"), "h")
      .where(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    // The whole estimator is ONE native merge walk per pair
    // (coordinated_sketch_stats) — the composable array formulation
    // (union + sort + slice + 3 intersects, ~10 allocations/pair) measured
    // 70 s at sf0.1 on the ~14 M-pair candidate set; the walk + the
    // pinned parallelism bring it to the q72 cost band.
    val est = cands
      .join(skArr.select(col("doc_id").as("doc_a"), col("sk").as("_sa")), "doc_a")
      .join(skArr.select(col("doc_id").as("doc_b"), col("sk").as("_sb")), "doc_b")
      .withColumn("_cs",
        HashExpressions.coordinatedSketchStats(col("_sa"), col("_sb"), k))
      .select(col("doc_a"), col("doc_b"),
        col("_cs.n_sample").as("n_sample"),
        col("_cs.n_both").as("n_both"),
        when(col("_cs.n_va") >= minSupport, col("_cs.n_both").cast("double") /
          col("_cs.n_va").cast("double")).as("containment_ab_est"),
        when(col("_cs.n_vb") >= minSupport, col("_cs.n_both").cast("double") /
          col("_cs.n_vb").cast("double")).as("containment_ba_est"))
    est.where(greatest(coalesce(col("containment_ab_est"), lit(-1.0)),
        coalesce(col("containment_ba_est"), lit(-1.0))) >= threshold)
  }

  /** Cluster-size audit of a [[dedupClusters]] result — the report a
    * pipeline emits after dedup: one row per cluster SIZE with how many
    * clusters have it and how many documents they hold (`n_docs` =
    * `cluster_size · n_clusters`, pre-multiplied for audit readability —
    * `Σ (cluster_size - 1) · n_clusters` over the output is exactly the
    * doc count a keep-one-per-cluster pass removes). One aggregation
    * cascade, no joins; sizes are corpus-global but the first groupBy
    * compresses to one row per cluster, so the histogram input is tiny
    * at any corpus scale. */
  def clusterStats(clusters: DataFrame,
      clusterCol: String = "cluster_id"): DataFrame =
    clusters.groupBy(col(clusterCol)).agg(count(lit(1)).as("n"))
      .groupBy(col("n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** (doc_id, band, b, simhash) bucket memberships of a `bits`-wide
    * signature split into 4 equal bands. */
  private def simhashBandRows(sig: DataFrame, bits: Int): DataFrame = {
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1
    sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("b"))): _*))
        .as("bv"))
      .select(col("doc_id"), col("simhash"),
        col("bv.band").as("band"), col("bv.b").as("b"))
  }

  /** Near-dup pairs from [[simhash]] signatures — the discovery step the
    * signatures feed. Pigeonhole banding: the `bits`-wide signature splits
    * into 4 equal bands; any pair within hamming distance 3 differs in at
    * most 3 bits, so at least one band matches exactly — candidate
    * generation by band-equality self-join has guaranteed recall for
    * `maxHamming` ≤ 3 AS LONG AS no bucket exceeds `maxBucket` (dropped
    * buckets lose their pairs; monitor [[oversizedSimhashBuckets]]).
    * `bits` trades selectivity for bucket spread: 2^(bits/4) bucket values
    * per band, so 16-bit signatures (16 values/band) saturate buckets far
    * sooner than the 28-bit default (128 values/band).
    *
    * Engineering for self-similar corpora (where ONE band bucket can hold
    * most of the corpus and true near-dup pairs number ~n²): signatures
    * ride THROUGH the candidate join — hamming is symmetric, so the
    * verify runs as a codegen'd `bit_count(xor)` filter on the raw join
    * output with no re-join against the signature table — and each
    * unordered pair is emitted EXACTLY ONCE, so there is NO distinct (and
    * no pair-table shuffle at all): a band-b emission is suppressed when
    * any earlier band also matches (checked inline from the carried
    * signatures), and same-cell mirror orientations keep only doc_x <
    * doc_y. The cell target is finer than the LSH default
    * ([[SimhashGridCell]]: a near-dup-dense 4096² cell serializes pair
    * output into one task; 512² cells keep every core busy). Measured
    * 26 s → 3.4 s at sf0.1. Caveat under an active `maxBucket` cap: the
    * earlier-band suppression makes a drop apply per PAIR (a pair whose
    * first matching band was dropped is dropped) rather than per
    * band-occurrence — consistent with the cap's drop-the-degenerate-
    * bucket-wholesale semantics. */
  val SimhashGridCell: Int = 512

  def simhashPairs(sig: DataFrame, maxHamming: Int = 3, bits: Int = 28,
      maxBucket: Int = MaxBucket,
      cellTarget: Int = SimhashGridCell): DataFrame = {
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1
    def bandVal(c: Column, j: Int) =
      shiftright(c, j * bandBits).bitwiseAND(lit(mask))
    // true iff this row's band is the FIRST band where the pair matches
    val firstMatch = (0 until 4).foldLeft(lit(false)) { (acc, bnd) =>
      when(col("band") === bnd,
        if (bnd == 0) lit(true)
        else (0 until bnd).map(j =>
          bandVal(col("_simhash_x"), j) =!= bandVal(col("_simhash_y"), j))
          .reduce(_ && _))
        .otherwise(acc)
    }
    bucketedPairCandidates(simhashBandRows(sig, bits), Seq("simhash"),
      maxBucket, cellTarget)
      // same-cell matches see both orientations; cross-cell exactly one
      .where(when(col("_ca") === col("_cb"),
        col("doc_x") < col("doc_y")).otherwise(lit(true)))
      .where(firstMatch)
      .withColumn("hamming",
        bit_count(col("_simhash_x").bitwiseXOR(col("_simhash_y"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"), col("hamming"))
  }

  /** `bits`-wide SimHash per document over its distinct word-unigram
    * hashes: bit j of the signature is the sign of Σ ±1 over words (+1 if
    * bit j of the word hash is set). One groupBy with `bits` conditional
    * sums. The word hash is the 31-bit polynomial hash, so bits beyond 30
    * would read constant zeros — capped by the require. 16 matches the
    * reference-era q34 signature; [[simhashPairs]] defaults to 28 for
    * bucket spread (see its doc). */
  def simhash(docs: DataFrame, id: Column, text: Column,
      bits: Int = 16): DataFrame = {
    require(bits >= 4 && bits <= 28 && bits % 4 == 0,
      "bits must be a multiple of 4 in [4, 28] (4 equal bands, 31-bit hash)")
    val words = docs
      .select(id.as("doc_id"), explode(split(text, " ")).as("w"))
      .distinct()
      .select(col("doc_id"), HashExpressions.polyHash(col("w")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(when(pmod(shiftright(col("h"), j), lit(2)) === 1, 1).otherwise(-1))
        .as(s"s$j"))
    val sums = words.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    sums.select(col("doc_id"),
      (0 until bits).map(j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Takedown (right-to-be-forgotten) propagation: expand a deletion list
    * to every corpus row the request REACHES — the compliance operator a
    * training-data pipeline runs before a rebuild. Deleting only the
    * listed rows is not enough: the same content typically survives as
    * byte-exact mirrors and as near-duplicate rewrites, so the expanded
    * set is, in priority order,
    *
    *   - `listed`     — the id is on the list (src_id = itself),
    *   - `exact_copy` — byte-identical text to some listed doc,
    *   - `near_dup`   — shares an LSH band bucket with a listed doc AND
    *                    passes the exact shingle-Jaccard verify at
    *                    `threshold` (the q33 discovery/verify pair — band
    *                    recall, exact precision).
    *
    * One row per affected doc with its STRONGEST reason and the smallest
    * triggering listed id (deterministic under any execution order) —
    * the auditable artifact: who is dropped, why, and on whose request.
    *
    * Scale shape: the list is tiny by contract, so every list-derived
    * side (ids, listed texts, listed band rows, the candidate set) is
    * broadcast and the corpus NEVER self-joins — candidate volume is
    * corpus × listed-buckets, not corpus². The corpus-side signature and
    * sorted-shingle frames are exactly the index [[incrementalDedup]]'s
    * ingest path already maintains; a deployment feeds the persisted
    * index instead of recomputing (recomputed here for
    * self-containment). Reference has no deletion surface; this derives
    * from the dedup semantics of `/root/reference/processor/main.py`'s
    * corpus model applied to the standard compliance requirement. */
  /** The PERSISTED static side of the takedown screen — the compliance
    * blocklist index a deployment maintains beside its corpus: for every
    * listed doc, its byte-exact text, its two LSH band buckets, and its
    * sorted shingle-hash array with count (the exact-Jaccard verify
    * payload). One row per (listed doc, band); list-sized, so it
    * broadcasts at every use site. [[graft.streaming.Streaming
    * .takedownScreenStream]] consumes it; rebuild when the list
    * changes. */
  def takedownIndex(docs: DataFrame, deleteIds: DataFrame, id: Column,
      text: Column, w: Int): DataFrame = {
    val listed = docs.select(id.as("doc_id"), text.as("text"))
      .join(broadcast(deleteIds.select(col("doc_id"))), "doc_id")
    val arrs = shingleHashes(listed, col("doc_id"), col("text"), w)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))
    bandRows(minhashSignatures(listed, col("doc_id"), col("text"), w))
      .join(listed, "doc_id").join(arrs, "doc_id")
      .select(col("doc_id").as("src_id"), col("text"), col("band"),
        col("b"), col("hs"), col("n"))
  }

  def takedownPropagation(docs: DataFrame, deleteIds: DataFrame, id: Column,
      text: Column, w: Int, threshold: Double): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    val del = deleteIds.select(col("doc_id"))
    val listed = base.join(broadcast(del), "doc_id")
    val exact = base.join(
        broadcast(listed.select(col("text").as("_lt"),
          col("doc_id").as("_src"))),
        col("text") === col("_lt") && col("doc_id") =!= col("_src"))
      .groupBy("doc_id").agg(min(col("_src")).as("src_id"))
    val sig = minhashSignatures(docs, id, text, w)
    val cand = bandRows(sig).join(
        broadcast(bandRows(sig.join(broadcast(del), "doc_id"))
          .select(col("band"), col("b"), col("doc_id").as("_src"))),
        Seq("band", "b"))
      .where(col("doc_id") =!= col("_src"))
      .select("doc_id", "_src").distinct()
    val arrs = shingleHashes(docs, id, text, w).groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))
    val near = broadcast(cand)
      .join(arrs.select(col("doc_id"), col("hs").as("_ha"),
        col("n").as("na")), "doc_id")
      .join(arrs.select(col("doc_id").as("_src"), col("hs").as("_hb"),
        col("n").as("nb")), "_src")
      .withColumn("n_common",
        HashExpressions.sortedIntersectCount(col("_ha"), col("_hb")))
      .where(col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double")
        >= threshold)
      .groupBy("doc_id").agg(min(col("_src")).as("src_id"))
    val wp = Window.partitionBy(col("doc_id"))
      .orderBy(col("_pri"), col("src_id"))
    listed.select(col("doc_id"), lit("listed").as("reason"),
        col("doc_id").as("src_id"), lit(0).as("_pri"))
      .unionByName(exact.select(col("doc_id"),
        lit("exact_copy").as("reason"), col("src_id"), lit(1).as("_pri")))
      .unionByName(near.select(col("doc_id"),
        lit("near_dup").as("reason"), col("src_id"), lit(2).as("_pri")))
      .withColumn("rk", row_number().over(wp))
      .where(col("rk") === 1)
      .select("doc_id", "reason", "src_id")
  }
}
