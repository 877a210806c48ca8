package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHash._
import graft.functions.VectorExpressions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, same operator surface:
  *  - brute force: exact cosine against every vector. Correctness baseline;
  *    at scale only for a bounded query set against a broadcastable corpus
  *    sample, or as the verify step on candidates.
  *  - sign-LSH bucketed: vectors are pre-bucketed by projection signs; the
  *    join is equi on bucket, so at 100 TB it's a shuffled hash join on a
  *    uniformly distributed key, reducing compared pairs by ~2^nBits. An IVF
  *    variant is the same shape with learned centroids as the bucket key.
  *
  * Hot-path engineering: the dot product is a native codegen'd Catalyst
  * expression ([[graft.functions.FloatVectorDot]]), and vector norms are
  * computed ONCE per vector before the join instead of per pair — together
  * ~100× less expression work per candidate pair than the naive
  * dot/sqrt-per-pair formulation, with bit-identical results (same
  * left-to-right accumulation). Ranking ties are broken on the neighbor id
  * after rounding the score to 1e-6, so top-k sets are stable under float
  * noise.
  */
object SimilarityOps {

  /** Project (id, vector, precomputed norm). */
  private def withNorm(df: DataFrame, id: Column, vec: Column,
      idName: String): DataFrame = {
    df.select(id.as(idName), vec.as(s"${idName}_e"),
      sqrt(VectorExpressions.floatDot(vec, vec)).as(s"${idName}_nrm"))
  }

  /** Cosine of a candidate pair; NULL (dropped by every downstream
    * threshold/rank) when either norm is zero — an unguarded division would
    * diverge between engines (Spark x/0 → NULL, DuckDB 0/0 → NaN which
    * sorts ABOVE every number there). Oracles carry the same guard. */
  private def pairCosine(a: String, b: String): Column =
    when(col(s"${a}_nrm") * col(s"${b}_nrm") > 0,
      round(
        VectorExpressions.floatDot(col(s"${a}_e"), col(s"${b}_e")) /
          (col(s"${a}_nrm") * col(s"${b}_nrm")),
        6))

  /** All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    * detection. Brute-force all-pairs: the small-data / verification path
    * ONLY (the theta join is O(n²) pairs over the corpus); discovery at
    * scale is [[cosinePairsBucketed]]. */
  def cosinePairs(emb: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    // r19 (guide §2.5 + §1.2 step 2): the theta join plans as
    // BroadcastNestedLoopJoin(BuildRight), so the whole n²/2 loop runs on
    // the STREAM side's scan parallelism — a one-split test file pinned it
    // to one core (QPlan: one 11.5 s task); spread parallelizes it and is
    // a no-op on a wide scan. And the threshold filter used to be PUSHED
    // into the join condition AHEAD of the cheap `va < vb` conjunct, so
    // the 64-wide dot ran for ALL n² ordered pairs — writing the condition
    // with `va < vb` first short-circuits half the dot evaluations.
    // Survivors (corpus-near-dup-sized) recompute cos_sim once in the
    // projection. Same pairs, same values — oracle-gated.
    val v = Fanout.spread(withNorm(emb, id, vec, "va"))
    val w = withNorm(emb, id, vec, "vb")
    v.join(w, col("va") < col("vb") && pairCosine("va", "vb") >= threshold)
      .withColumn("cos_sim", pairCosine("va", "vb"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("cos_sim"))
  }

  /** Scale path for near-dup pair DISCOVERY: multi-table sign-LSH. Each of
    * `tables` independent hash tables buckets vectors by the signs of a
    * disjoint component range ([[graft.functions.TextHash.signBucketAt]]);
    * candidate pairs are bucket-equality self-joins — shuffled HASH joins on
    * a ~uniform key, never a nested-loop — so compared pairs shrink from n²/2
    * to Σ bucket² per table. Multiple tables recover the pairs any single
    * table's sign boundary splits (recall rises as 1-(1-p)^tables). The
    * same pair can collide in several tables; cos_sim is rounded and
    * deterministic, so the final distinct dedupes exactly. Approximate by
    * design (recall < 1 vs [[cosinePairs]]) — deterministic buckets keep it
    * oracle-checkable. */
  def cosinePairsBucketed(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, nBits: Int, tables: Int): DataFrame = {
    val v = withNorm(emb, id, vec, "v")
    val banded = v.select(col("v"), col("v_e"), col("v_nrm"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          signBucketAt(col("v_e"), nBits, t * nBits).as("bucket"))): _*)).as("tb"))
      .select(col("v"), col("v_e"), col("v_nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    def side(n: String) = banded.select(col("v").as(n), col("v_e").as(s"${n}_e"),
      col("v_nrm").as(s"${n}_nrm"), col("tbl"), col("bucket"))
    side("va").join(side("vb"), Seq("tbl", "bucket"))
      .where(col("va") < col("vb"))
      .withColumn("cos_sim", pairCosine("va", "vb"))
      .where(col("cos_sim") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("cos_sim"))
      .distinct()
  }

  /** Semantic contamination screen: flag corpus vectors whose embedding
    * sits within `threshold` cosine of ANY eval-set vector — the
    * embedding-space complement of the exact n-gram decontamination
    * screens ([[TextOps]] q55/q79 family), catching the paraphrased and
    * reformatted eval leakage that no exact-match screen can see.
    *
    * Scale shape: the eval side is benchmark-sized (thousands of rows
    * against a corpus of billions), so its banded sign-LSH projection is
    * BROADCAST — the corpus never shuffles for discovery; its `tables`
    * band rows explode map-side into a broadcast hash probe. Cosine
    * verification runs INSIDE the join (a band collision alone never
    * flags — the media-screen/takedown rule), and only the COLLIDING
    * rows (eval-neighborhood-sized) reach the per-doc strongest-evidence
    * window (cos desc, eval_id asc). Approximate by design — recall
    * rises with `tables` like [[cosinePairsBucketed]] — and
    * deterministic buckets keep the whole screen oracle-checkable.
    * Output: one row per flagged corpus vector with its strongest
    * eval-set witness. */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
      id: Column, vec: Column, threshold: Double, nBits: Int,
      tables: Int): DataFrame = {
    val hits = contaminationHits(corpus, evalSet, id, vec, threshold,
      nBits, tables)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("eval_id"))
    hits.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .drop("rk")
  }

  /** Banded sign-LSH projection of one side — `tables` (tbl, bucket)
    * rows per vector, map-side explode, no shuffle. Shared by
    * [[semanticContamination]]'s two sides and its ingest face
    * ([[graft.streaming.Streaming.semanticContaminationStream]]) so the
    * band geometry cannot drift between faces. `keep` names columns of
    * `df` (e.g. an event-time) that ride along. */
  def bandedProjection(df: DataFrame, id: Column, vec: Column, n: String,
      nBits: Int, tables: Int, keep: Seq[String] = Nil): DataFrame = {
    df.select(Seq(id.as(n), vec.as(s"${n}_e"),
        sqrt(VectorExpressions.floatDot(vec, vec)).as(s"${n}_nrm")) ++
        keep.map(col): _*)
      .withColumn("tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          signBucketAt(col(s"${n}_e"), nBits, t * nBits).as("bucket"))): _*)))
      .withColumn("tbl", col("tb.tbl"))
      .withColumn("bucket", col("tb.bucket")).drop("tb")
  }

  /** Verified contamination witnesses — every (corpus vector, eval
    * vector) band collision whose cosine clears `threshold`, BEFORE the
    * per-doc strongest-evidence resolution (batch resolves with a rank
    * window; the ingest face with a windowed max — both over this same
    * frame). */
  def contaminationHits(corpus: DataFrame, evalSet: DataFrame, id: Column,
      vec: Column, threshold: Double, nBits: Int, tables: Int,
      keep: Seq[String] = Nil): DataFrame =
    bandedProjection(corpus, id, vec, "va", nBits, tables, keep)
      .join(broadcast(
        bandedProjection(evalSet, id, vec, "vb", nBits, tables)),
        Seq("tbl", "bucket"))
      .withColumn("cos_sim", pairCosine("va", "vb"))
      .where(col("cos_sim") >= threshold)
      .select(Seq(col("va").as("vec_id"), col("vb").as("eval_id"),
        col("cos_sim")) ++ keep.map(col): _*)

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, k: Int): DataFrame = {
    // The corpus side streams through the NLJ computing |queries| dots
    // per row — per-row-heavy, so don't let a tiny single-split scan pin
    // it to one task (no-op at scale — Fanout contract).
    val c = withNorm(Fanout.spread(corpus), id, vec, "nid")
    val q = withNorm(queries, id, vec, "qid")
    // queries broadcast (tens of rows by contract): the corpus streams
    // through one BroadcastNestedLoopJoin instead of a planner-estimated
    // SMJ/cartesian — the only distributed plan brute force admits
    val scored = broadcast(q).join(c, col("qid") =!= col("nid"))
      .withColumn("cos_sim", pairCosine("qid", "nid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid").as("query_id"), col("rk"),
        col("nid").as("neighbor_id"), col("cos_sim"))
  }

  /** Margin-based cross-corpus alignment mining (Artetxe & Schwenk,
    * ACL 2019 "Margin-based Parallel Corpus Mining" — the LASER/CCMatrix
    * criterion): a raw cosine threshold cannot separate true pairs from
    * dense-hub neighborhoods, so each candidate is scored by its RATIO
    * margin — cosine divided by the mean of both endpoints' k-NN cosine
    * neighborhoods: `margin(x,y) = cos(x,y) / ((avgNN_k(x) +
    * avgNN_k(y)) / 2)`; margin ≥ 1 means "closer than the neighborhoods'
    * average", the standard mining cutoff. Candidates are x's forward
    * top-k; each x keeps its best-margin y (margin desc, dst asc).
    *
    * Float determinism: neighborhood sums are DECIMAL sums of the
    * already-1e-6-rounded cosines (exact, order-independent), and the
    * margin divides in double off those exact decimals, rounded 1e-6 —
    * so ranking is engine-identical. Built on [[bruteForceTopK]] (the
    * exact tier, what the oracle replays); at 100 TB swap both top-k
    * legs for the IVF/PQ tiers — the margin arithmetic composes over any
    * neighbor source unchanged. Both frames' ids must be disjoint (the
    * cross-frame contract [[bruteForceTopK]] inherits). */
  def marginMining(a: DataFrame, b: DataFrame, id: Column, vec: Column,
      k: Int, threshold: Double): DataFrame = {
    // fwd is consumed twice below (the neighborhood-sum aggregate and
    // the candidate projection) — materialize the queries×k row result
    // once, or the O(|a|·|b|) brute-force leg runs twice (the q123/q127
    // query-sized-artifact discipline; the frame is k rows per query at
    // any corpus size)
    val fwd = bruteForceTopK(b, a, id, vec, k).localCheckpoint(true)
    val bwd = bruteForceTopK(a, b, id, vec, k)
    val fa = fwd.groupBy(col("query_id").as("src_id"))
      .agg(sum(col("cos_sim").cast("decimal(18,6)")).as("_sx"))
    val ba = bwd.groupBy(col("query_id").as("dst_id"))
      .agg(sum(col("cos_sim").cast("decimal(18,6)")).as("_sy"))
    val cand = fwd.select(col("query_id").as("src_id"),
        col("neighbor_id").as("dst_id"), col("cos_sim"))
      .join(fa, "src_id").join(ba, "dst_id")
      .withColumn("margin", round(col("cos_sim") * lit(2 * k) /
        (col("_sx") + col("_sy")).cast("double"), 6))
    val w = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("dst_id"))
    cand.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1 && col("margin") >= threshold)
      .select("src_id", "dst_id", "cos_sim", "margin")
  }

  /** IVF-style bucketed top-k: corpus vectors are assigned to their
    * highest-cosine centroid (the coarse quantizer cell); each query probes
    * its `nProbe` nearest CELLS (standard IVF recall knob — cost grows
    * linearly in nProbe, recall recovers neighbors sitting just across a
    * cell boundary). `centroids` is dimension-sized and broadcast;
    * assignment is one narrow pass over the corpus. With learned centroids
    * ([[learnCentroids]]) this is IVF-flat; any deterministic centroid set
    * (e.g. a fixed sample) gives the same operator shape. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      id: Column, vec: Column, k: Int, nProbe: Int = 1): DataFrame = {
    val cents = withNorm(centroids, id, vec, "cid")
    def assign(df: DataFrame, idName: String, cellName: String,
        probes: Int): DataFrame = {
      val scored = df.join(broadcast(cents), expr("true"))
        .withColumn("c_sim", when(col(s"${idName}_nrm") * col("cid_nrm") > 0,
          round(
            VectorExpressions.floatDot(col(s"${idName}_e"), col("cid_e")) /
              (col(s"${idName}_nrm") * col("cid_nrm")), 6)))
      val w = Window.partitionBy(col(idName))
        .orderBy(col("c_sim").desc, col("cid"))
      scored.withColumn("crk", row_number().over(w))
        .where(col("crk") <= probes)
        .select(df.columns.toIndexedSeq.map(col) :+ col("cid").as(cellName): _*)
    }
    val c = assign(withNorm(corpus, id, vec, "nid"), "nid", "cell", 1)
    val q = assign(withNorm(queries, id, vec, "qid"), "qid", "qcell", nProbe)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    // the probe side is queries × nProbe rows — broadcast, so the
    // cell-bucketed corpus never shuffles for this equi-join
    broadcast(q).join(c,
        col("qcell") === col("cell") && col("qid") =!= col("nid"))
      .withColumn("cos_sim", pairCosine("qid", "nid"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid").as("query_id"), col("rk"),
        col("nid").as("neighbor_id"), col("cell"), col("cos_sim"))
  }

  /** Learn `k` coarse-quantizer centroids for [[ivfTopK]] with
    * deterministic-seed k-means (Spark ML) — IVF-real: learned centroids
    * track the data distribution, so cells are balanced and the
    * top-centroid cell actually contains a query's neighbors far more often
    * than an arbitrary fixed sample (recall@k measured in PipelineOpsSpec).
    * The fit is one Spark ML job over the (distributed) corpus; the k
    * centroid vectors come back to the driver — dimension-sized, exactly
    * what [[ivfTopK]] broadcasts. Output schema matches the corpus
    * (`idName`, `vecName`) so the result drops straight into `ivfTopK`'s
    * `centroids` argument. Deterministic for a fixed seed and input. */
  def learnCentroids(emb: DataFrame, vec: Column, k: Int, idName: String,
      vecName: String, seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    // zero-norm vectors are in-contract for this corpus (ivfTopK's cosine
    // guard exists for them) but Spark ML's cosine k-means REQUIRES
    // strictly positive norms — exclude them from the fit; they still get
    // a cell at assignment time (NULL c_sim ranks last deterministically).
    val feats = emb
      .where(VectorExpressions.floatDot(vec, vec) > 0)
      .select(array_to_vector(vec).as("features"))
    // Spherical k-means: cell assignment in ivfTopK is by COSINE, so the
    // centroids must be learned under the same geometry — euclidean k-means
    // pulls centroids toward the data mean, collapsing angular separation
    // (measured: recall@3 0.37 euclidean vs 0.87+ cosine on the test table).
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setFeaturesCol("features")
      .setDistanceMeasure("cosine")
      .fit(feats)
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF(idName, vecName)
  }

  /** Embedding-space class statistics per `label`: vector count, mean norm,
    * and mean cosine to the label centroid (cluster tightness — low values
    * flag mislabeled or heterogeneous classes before training). The
    * centroid is the component-wise mean, computed distributed
    * (posexplode → groupBy(label, pos), corpus-linear, one shuffle) and
    * ROUNDED to 1e-6 before use, so the downstream cosine consumes the same
    * decimal centroid in any engine; the label-count sized centroid table is
    * broadcast back. Per-row dot products unroll over `dim` in fixed
    * left-to-right order (bit-deterministic); unordered float MEANS are
    * rounded to 1e-6, below which double-sum order effects live. */
  def labelStats(emb: DataFrame, label: Column, vec: Column,
      dim: Int): DataFrame = {
    val v = emb.select(label.as("label"), vec.as("e"),
      sqrt(VectorExpressions.floatDot(vec, vec)).as("nrm"))
    def dot(a: Column => Column, b: Column => Column): Column =
      (1 to dim).map(i => a(lit(i)) * b(lit(i))).reduce(_ + _)
    // centroid norm computed ONCE per label here (label-count rows), not
    // per corpus row after the join — it is constant within a label
    val centroid = v
      .select(col("label"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("ce"))
      .withColumn("cnrm", sqrt(dot(i => element_at(col("ce"), i),
        i => element_at(col("ce"), i))))
    val d = dot(i => element_at(col("e"), i).cast("double"),
      i => element_at(col("ce"), i))
    v.join(broadcast(centroid), "label")
      .withColumn("cos_c",
        when(col("nrm") * col("cnrm") > 0,
          round(d / (col("nrm") * col("cnrm")), 6)))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("nrm"), 6).as("avg_norm"),
        round(avg("cos_c"), 6).as("avg_cos_centroid"))
  }

  /** Semantic deduplication (SemDeDup-shape: cluster the embedding space,
    * then near-dup only WITHIN clusters): every vector is assigned to its
    * highest-cosine centroid cell; within each cell, a vector is DROPPED
    * iff some smaller-id vector in the same cell has cosine ≥ `threshold`
    * to it — a deterministic dominance rule, so the keep-set is unique and
    * engine-reproducible (no greedy order dependence). Catches semantic
    * duplicates (same content, different surface form) that exact/MinHash
    * dedup cannot see.
    *
    * Scale shape: the quadratic never leaves a cell — cells are
    * corpus/k sized, and k grows with the corpus (SemDeDup's design), so
    * per-cell pair cost is bounded; the within-cell self-join additionally
    * reuses the LSH grid-split skew defense
    * ([[DedupOps.bucketedPairCandidates]]: size-counted cells decomposed
    * into content-hash grid tiles), so one hot cell cannot serialize a
    * task. Nothing is dropped by a cap here — a lost pair would silently
    * KEEP a duplicate, so oversized cells split rather than drop. Output:
    * (vec_id, cell, kept) for every corpus vector. `centroids` may be a
    * fixed deterministic sample (oracle-able) or [[learnCentroids]]. */
  /** Coarse-quantizer cell assignment of every vector — each row of `emb`
    * mapped to its highest-cosine centroid (tie → smallest centroid id;
    * all-NULL cosines, e.g. a zero vector, rank deterministically into the
    * smallest id). Output `(vec_id, cell, _e, _nrm)` — the vector and its
    * norm ride along so downstream cosine verifies need no re-join. This
    * is [[semanticDedup]]'s first stage, exposed because a PRE-ASSIGNED
    * corpus is the natural FROZEN static side of the incremental faces
    * ([[incrementalSemanticDedup]] /
    * [[graft.streaming.Streaming.semanticDedupStream]]) — cell geometry is
    * corpus-global, which an ingest micro-batch cannot see. */
  def assignCells(emb: DataFrame, centroids: DataFrame, id: Column,
      vec: Column): DataFrame = {
    val cents = withNorm(centroids, id, vec, "cid")
    // per-vector |cells| dots ride the corpus scan's stage — spread a
    // tiny single-split scan first (no-op at scale — Fanout contract)
    val v = withNorm(Fanout.spread(emb), id, vec, "vid")
    val scored = v.join(broadcast(cents), expr("true"))
      .withColumn("c_sim", when(col("vid_nrm") * col("cid_nrm") > 0,
        round(
          VectorExpressions.floatDot(col("vid_e"), col("cid_e")) /
            (col("vid_nrm") * col("cid_nrm")), 6)))
    val wc = Window.partitionBy(col("vid"))
      .orderBy(col("c_sim").desc, col("cid"))
    scored.withColumn("crk", row_number().over(wc))
      .where(col("crk") === 1)
      .select(col("vid").as("vec_id"), col("cid").as("cell"),
        col("vid_e").as("_e"), col("vid_nrm").as("_nrm"))
  }

  def semanticDedup(emb: DataFrame, centroids: DataFrame, id: Column,
      vec: Column, threshold: Double,
      cellTarget: Int = DedupOps.GridCell): DataFrame = {
    // Materialize the cell assignment once: BOTH consumers below (the
    // within-cell pair discovery and the final kept-flag join) otherwise
    // re-run the whole assignment — a broadcast cross join scoring
    // |cells| dots per vector plus a |cells|×corpus-bytes argmax
    // exchange. The materialized frame is 1× corpus bytes (id, vec,
    // norm, cell), strictly smaller than ONE of the two recomputed
    // passes at any scale — SemDeDup pipelines persist exactly this
    // assignment table between the assign and dedup phases.
    val assigned = assignCells(emb, centroids, id, vec)
      .select(col("vec_id").as("vid"), col("_e").as("vid_e"),
        col("_nrm").as("vid_nrm"), col("cell"))
      .localCheckpoint(true)
    // within-cell pairs via the shared skew-safe grid join; vectors and
    // norms ride through as payload so the cosine verify runs inside the
    // join output with no re-join
    val pairs = DedupOps.bucketedPairCandidates(
      assigned.select(col("vid").as("doc_id"), lit(0).as("band"),
        col("cell").as("b"), col("vid_e"), col("vid_nrm")),
      Seq("vid_e", "vid_nrm"), maxBucket = Int.MaxValue, cellTarget)
      // same-tile matches see both orientations; cross-tile exactly one —
      // normalize to the dominance direction (smaller id drops larger)
      .where(when(col("_ca") === col("_cb"),
        col("doc_x") < col("doc_y")).otherwise(lit(true)))
      .withColumn("_sim", when(col("_vid_nrm_x") * col("_vid_nrm_y") > 0,
        round(
          VectorExpressions.floatDot(col("_vid_e_x"), col("_vid_e_y")) /
            (col("_vid_nrm_x") * col("_vid_nrm_y")), 6)))
      .where(col("_sim") >= threshold)
    val dropped = pairs
      .select(greatest(col("doc_x"), col("doc_y")).as("vid"))
      .distinct()
      .withColumn("_drop", lit(true))
    assigned.join(dropped, Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cell"),
        coalesce(col("_drop"), lit(false)).unary_!.as("kept"))
  }

  /** Row-local cell assignment against a COLLECTED centroid set — the
    * streaming-legal form of [[assignCells]] (a stream cannot host the
    * window function): each centroid contributes a `(sim, -cid)` struct
    * candidate and `greatest` picks the winner, so the whole assignment
    * is one stateless expression. Arithmetic mirrors [[assignCells]]
    * exactly — same dot order, same norm fold, same `round(_, 6)`, same
    * tie-break (equal sims → smallest centroid id; all-NULL sims → the
    * struct comparison's nulls-first puts every scored candidate behind,
    * leaving the smallest id) — so the two forms agree value-for-value
    * (StreamingSpec parity). */
  def cellExprFor(vec: Column, cents: Seq[(Long, Array[Float])]): Column = {
    require(cents.nonEmpty, "centroid set must be non-empty")
    val vnrm = sqrt(VectorExpressions.floatDot(vec, vec))
    val scored = cents.map { case (cid, ce) =>
      val cnrm = math.sqrt(ce.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      struct(
        when(vnrm * lit(cnrm) > 0,
          round(VectorExpressions.floatDot(vec, typedLit(ce)) /
            (vnrm * lit(cnrm)), 6)).as("sim"),
        lit(-cid).as("nid"), lit(cid).as("cid"))
    }
    (if (scored.sizeIs == 1) scored.head else greatest(scored: _*))
      .getField("cid")
  }

  /** Incremental semantic dedup — delta-vs-corpus, the embedding analog of
    * [[DedupOps.incrementalDedup]]'s minhash screen: an ARRIVING vector is
    * dropped when some CORPUS vector in its cell has cosine ≥ `threshold`
    * to it. `corpusCells` is the PRE-ASSIGNED corpus ([[assignCells]]
    * output, the frozen side — at ingest the corpus index is built once,
    * not per batch); the delta is assigned against the same `centroids`
    * and only same-cell pairs are compared (the SemDeDup cell-local
    * quadratic, with the small delta side broadcast so the corpus never
    * shuffles). Output `(vec_id, cell, kept)` for every DELTA vector —
    * [[semanticDedup]]'s schema, so batch and incremental compose. */
  def incrementalSemanticDedup(delta: DataFrame, corpusCells: DataFrame,
      centroids: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    val d = assignCells(delta, centroids, id, vec)
    val hits = broadcast(d.select(col("vec_id").as("_did"), col("cell"),
        col("_e").as("_de"), col("_nrm").as("_dn")))
      .join(corpusCells, "cell")
      .withColumn("_sim", when(col("_dn") * col("_nrm") > 0,
        round(VectorExpressions.floatDot(col("_de"), col("_e")) /
          (col("_dn") * col("_nrm")), 6)))
      .where(col("_sim") >= threshold)
      .select(col("_did").as("vec_id")).distinct()
      .withColumn("_dup", lit(true))
    d.join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("_dup"), lit(false)).unary_!.as("kept"))
  }

  /** Recall of an approximate top-k result against its exact baseline —
    * one summary row `(method, n_truth, n_hits, recall)`: the fraction of
    * the TRUE (query, neighbor) pairs the approximate method recovered.
    * Both inputs are any frames with `query_id`/`neighbor_id` columns
    * (the shared top-k output shape), so it composes over
    * [[bruteForceTopK]] vs [[lshTopK]]/[[ivfTopK]] at any k/nProbe.
    * Deterministic for deterministic inputs — registered as q82's
    * recall floor, so an ANN recall regression surfaces in the
    * CORRECTNESS artifact (dropped row), not only in sbt. */
  def annRecall(truth: DataFrame, approx: DataFrame,
      method: String): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("_hit", lit(1L))), Seq("query_id", "neighbor_id"),
        "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .select(lit(method).as("method"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth").cast("double"),
          6).as("recall"))

  /** Sign-LSH bucketed top-k: queries only compare against corpus vectors in
    * the same bucket. Approximate (recall < 1), ~2^nBits cheaper. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      nBits: Int, k: Int): DataFrame = {
    val c = withNorm(corpus, id, vec, "nid")
      .withColumn("bucket", signBucket(col("nid_e"), nBits))
    val q = withNorm(queries, id, vec, "qid")
      .withColumn("qbucket", signBucket(col("qid_e"), nBits))
    // broadcast the bucketed queries: corpus-side bucket rows stream
    // map-side, no shuffle on the bucket key
    val scored = broadcast(q).join(c,
        col("qbucket") === col("bucket") && col("qid") =!= col("nid"))
      .withColumn("cos_sim", pairCosine("qid", "nid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid").as("query_id"), col("rk"),
        col("nid").as("neighbor_id"), col("bucket"), col("cos_sim"))
  }

  /** 64-bit sign fingerprint of an embedding: bit i−1 set iff component i
    * is positive — the cheapest compression tier in the ladder (float 256 B
    * → SQ8 64 B → PQ 8 B → THIS, 8 B with pure bit-arithmetic distances).
    * Bit 64 lands in the long's sign bit (the simhash/q59 encoding
    * convention: disjoint-bit SUM equals OR and reproduces two's-complement
    * in any engine). */
  def binarySignHash(vec: Column, dim: Int): Column = {
    require(dim <= 64, s"sign hash packs into one long, got dim=$dim")
    (1 to dim).map(i =>
      when(element_at(vec, i) > lit(0f), lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Hamming top-k over sign fingerprints: each query compared to every
    * corpus signature by `bit_count(xor)` — one long op per candidate, the
    * coarse screen tier that buys a 32× arithmetic reduction over float
    * cosine before any finer (SQ8/PQ/exact) stage runs. Queries broadcast;
    * the corpus side carries 8 bytes/vector. Ties (hamming is 0..dim) break
    * on neighbor id — deterministic, oracle-reproducible. */
  def binarySignTopK(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, dim: Int, k: Int): DataFrame = {
    // corpus-side sign hashing + the NLJ hamming scan ride the scan's
    // stage; spread a tiny single-split scan first (no-op at scale)
    val c = Fanout.spread(corpus)
      .select(id.as("nid"), binarySignHash(vec, dim).as("nsig"))
    val q = queries.select(id.as("qid"), binarySignHash(vec, dim).as("qsig"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("nid"))
    broadcast(q).join(c, col("qid") =!= col("nid"))
      .withColumn("hamming",
        bit_count(col("qsig").bitwiseXOR(col("nsig"))).cast("int"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid").as("query_id"), col("rk"),
        col("nid").as("neighbor_id"), col("hamming"))
  }

  // ------------------------------------------------- int8 scalar quantization

  /** Per-dimension quantization stats for SQ8: ONE row
    * `(mins: array<double>, scales: array<double>)` with
    * `scale_d = (max_d - min_d) / 255`. One corpus-linear aggregate pass
    * (2·dim min/max aggregates, partial map-side — the q14-describe shape),
    * output broadcast at every use site. Min/max are computed on the raw
    * floats and widened AFTER (exact), so any engine aggregating the same
    * column reproduces them bit-for-bit. */
  def sq8Stats(emb: DataFrame, vec: Column, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val aggs = (1 to dim).flatMap(i => Seq(
      min(element_at(vec, i)).cast("double").as(s"_mn$i"),
      max(element_at(vec, i)).cast("double").as(s"_mx$i")))
    emb.agg(aggs.head, aggs.tail: _*)
      .select(
        array((1 to dim).map(i => col(s"_mn$i")): _*).as("mins"),
        array((1 to dim).map(i =>
          (col(s"_mx$i") - col(s"_mn$i")) / lit(255.0)): _*).as("scales"))
  }

  /** SQ8-encode every vector against broadcast corpus `stats`
    * ([[sq8Stats]]): output `(vec_id, codes, mins, scales)` — codes are
    * the 1-byte-per-dim index payload (kept as `array<int>` for oracle
    * comparability; a sink packs 4:1), and the stats ride along so every
    * downstream score ([[graft.functions.SQ8ReconDot]]) is computable from
    * this frame alone, raw floats no longer needed — the point of the
    * operator: after one encode pass the 4-bytes/dim corpus is dead weight.
    * Encode is map-side only (broadcast 1-row stats, codegen'd expression,
    * no shuffle). */
  def sq8Quantize(emb: DataFrame, stats: DataFrame, id: Column,
      vec: Column): DataFrame = {
    // per-vector encode is row-local and heavy; spread a tiny
    // single-split scan first (no-op at scale)
    Fanout.spread(emb).crossJoin(broadcast(stats))
      .select(id.as("vec_id"),
        VectorExpressions.sq8Encode(vec, col("mins"), col("scales"))
          .as("codes"),
        col("mins"), col("scales"))
  }

  /** Registered quantization-quality digest (q92): per vector, the code
    * checksum/range, the reconstructed norm, and the max absolute
    * reconstruction error. Scalars only — every value is either an integer
    * (order-free), a max (order-free), or a fixed-order fold rounded at
    * 1e-6, so the whole digest hash-matches the DuckDB oracle. The
    * error column is the operational gate: it must stay ≤ scale/2 in every
    * dimension (SQ8Spec pins the bound against [[sq8Stats]]). */
  def sq8Digest(emb: DataFrame, id: Column, vec: Column,
      dim: Int): DataFrame = {
    val q = emb.crossJoin(broadcast(sq8Stats(emb, vec, dim)))
      .select(id.as("vec_id"), vec.as("_e"), col("mins"), col("scales"),
        VectorExpressions.sq8Encode(vec, col("mins"), col("scales"))
          .as("codes"))
    q.select(col("vec_id"),
      (1 to dim).map(i => element_at(col("codes"), i))
        .reduce(_ + _).cast("long").as("code_sum"),
      least((1 to dim).map(i => element_at(col("codes"), i)): _*)
        .as("code_min"),
      greatest((1 to dim).map(i => element_at(col("codes"), i)): _*)
        .as("code_max"),
      round(sqrt(VectorExpressions.sq8ReconDot(col("codes"), col("codes"),
        col("mins"), col("scales"))), 6).as("recon_nrm"),
      round(VectorExpressions.sq8MaxAbsErr(col("_e"), col("codes"),
        col("mins"), col("scales")), 6).as("max_err"))
  }

  /** Sign-LSH bucket over SQ8-RECONSTRUCTED components
    * `offset+1 .. offset+nBits` — [[graft.functions.TextHash.signBucketAt]]
    * computed from codes alone (`min_d + c_d·scale_d > 0`), so the bucketed
    * discovery path needs no float vectors: index construction and probing
    * both run on the quantized frame. */
  def sq8SignBucketAt(codes: Column, mins: Column, scales: Column,
      nBits: Int, offset: Int): Column =
    (1 to nBits).map { j =>
      val recon = element_at(mins, offset + j) +
        element_at(codes, offset + j) * element_at(scales, offset + j)
      when(recon > lit(0.0), lit(1 << (j - 1))).otherwise(lit(0))
    }.reduce(_ + _)

  /** Near-dup pair discovery over the QUANTIZED corpus — [[
    * cosinePairsBucketed]] re-expressed on SQ8 codes (q93): multi-table
    * sign-LSH buckets from reconstructed signs, bucket-equality hash
    * self-joins, and the exact reconstructed cosine verify fused into the
    * join output via [[graft.functions.SQ8ReconDot]] (the in-join payload
    * rule — fingerprints never re-joined per candidate). Same recall
    * structure as the float path; scores differ from float cosine only by
    * quantization error (SQ8Spec pins pair recall against [[cosinePairs]]).
    * At 100 TB this is the shape that matters: the self-join shuffles
    * 65 bytes/vector of codes instead of 256 of floats, and the stats ride
    * as broadcast-constant payload. */
  def sq8NearDupPairsBucketed(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, nBits: Int, tables: Int, dim: Int): DataFrame = {
    val stats = sq8Stats(emb, vec, dim)
    val q = sq8Quantize(emb, stats, id, vec)
      .withColumn("nrm", sqrt(VectorExpressions.sq8ReconDot(col("codes"),
        col("codes"), col("mins"), col("scales"))))
    val banded = q.select(col("vec_id"), col("codes"), col("nrm"),
      col("mins"), col("scales"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          sq8SignBucketAt(col("codes"), col("mins"), col("scales"),
            nBits, t * nBits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("codes"), col("nrm"), col("mins"),
        col("scales"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    def side(n: String) = banded.select(col("vec_id").as(n),
      col("codes").as(s"${n}_c"), col("nrm").as(s"${n}_nrm"),
      col("tbl"), col("bucket")) // stats re-attached once, not per side
    side("va").join(side("vb"), Seq("tbl", "bucket"))
      .where(col("va") < col("vb"))
      .crossJoin(broadcast(stats)) // 1-row quantizer, not a re-derived subtree
      .withColumn("cos_sim", when(col("va_nrm") * col("vb_nrm") > 0,
        round(VectorExpressions.sq8ReconDot(col("va_c"), col("vb_c"),
          col("mins"), col("scales")) / (col("va_nrm") * col("vb_nrm")), 6)))
      .where(col("cos_sim") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("cos_sim"))
      .distinct()
  }

  /** The compressed corpus-side index for ingest-time semantic screening
    * (`(vec_id, cell, codes, nrm)`): every corpus vector's SemDeDup cell
    * ([[assignCells]]) plus its SQ8 codes and RECONSTRUCTED norm — after
    * this one batch pass the float corpus is not needed to screen
    * arrivals ([[graft.streaming.Streaming.sq8SemanticScreenStream]]
    * consumes it; both sides of the ingest verify live in code space).
    * `stats` is the corpus quantizer ([[sq8Stats]]). */
  def sq8CellIndex(emb: DataFrame, centroids: DataFrame, stats: DataFrame,
      id: Column, vec: Column): DataFrame = {
    val cells = assignCells(emb, centroids, id, vec)
      .select(col("vec_id"), col("cell"))
    sq8Quantize(emb, stats, id, vec)
      .withColumn("nrm", sqrt(VectorExpressions.sq8ReconDot(col("codes"),
        col("codes"), col("mins"), col("scales"))))
      .select(col("vec_id"), col("codes"), col("nrm"))
      .join(cells, "vec_id")
  }

  /** Exact all-pairs variant on the quantized corpus — the SQ8 analog of
    * [[cosinePairs]]; verification baseline for the bucketed path (spec
    * only, not registered: the theta join is the O(n²) shape). */
  def sq8NearDupPairs(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, dim: Int): DataFrame = {
    val stats = sq8Stats(emb, vec, dim)
    val q = sq8Quantize(emb, stats, id, vec)
      .withColumn("nrm", sqrt(VectorExpressions.sq8ReconDot(col("codes"),
        col("codes"), col("mins"), col("scales"))))
    def side(n: String) = q.select(col("vec_id").as(n),
      col("codes").as(s"${n}_c"), col("nrm").as(s"${n}_nrm"))
    side("va").join(side("vb"), col("va") < col("vb"))
      .crossJoin(broadcast(stats))
      .withColumn("cos_sim", when(col("va_nrm") * col("vb_nrm") > 0,
        round(VectorExpressions.sq8ReconDot(col("va_c"), col("vb_c"),
          col("mins"), col("scales")) / (col("va_nrm") * col("vb_nrm")), 6)))
      .where(col("cos_sim") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("cos_sim"))
  }

  /** Diversity-aware (cluster-balanced) sampling: draw ~`budget` vectors
    * with per-cell quotas ∝ `n_cell^alpha` — the embedding-space analog
    * of [[TextOps.temperatureMix]]'s source rule, applied to SemDeDup
    * cells instead of source labels. At `alpha < 1` the head cells (the
    * over-represented modes a web corpus is full of) are downsampled
    * harder than the tail, so the sample COVERS the embedding space
    * instead of reproducing its skew — the cluster-coverage selection
    * step of data-pruning pipelines (publicly described in SemDeDup-
    * style curation literature: prune within clusters, balance across
    * them). `alpha = 1` degenerates to uniform sampling at rate
    * budget/corpus.
    *
    * Deterministic end to end: assignment is the row-local
    * [[cellExprFor]] (collected k-row centroid set — value-identical to
    * [[assignCells]], StreamingSpec parity), the realized draw is the
    * house avalanched-hash millionth rule on `vec_id` (same decision on
    * any engine/retry/face), and quota rates use the fixed-order
    * arithmetic the oracle replays. Per-cell rate = budget·p_cell /
    * n_cell capped at 1 (an undersized cell contributes everything it
    * has — the [[TextOps.corpusMix]] clamp, deviation visible in the
    * kept counts). Plan shape: one tiny per-cell aggregate, one
    * broadcast join back — the corpus never shuffles. Output
    * `(vec_id, cell, kept)`. */
  def diversitySample(emb: DataFrame, centroids: DataFrame, id: Column,
      vec: Column, alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    val cents = centroids.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val assigned = emb.select(id.as("vec_id"),
      cellExprFor(vec, cents).as("cell"))
    val counts = assigned.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    val w = alpha match {
      case 0.5 => sqrt(col("n_cell").cast("double"))
      case 1.0 => col("n_cell").cast("double")
      case a   => pow(col("n_cell").cast("double"), lit(a))
    }
    val weighted = counts.withColumn("_w", w)
    val rates = weighted
      .crossJoin(broadcast(weighted.agg(
        graft.functions.Exact.dsum(col("_w")).as("_wt"))))
      .withColumn("thr", least(lit(1000000L),
        floor((lit(budget.toDouble) * (col("_w") / col("_wt"))
          / col("n_cell").cast("double")) * lit(1000000.0)).cast("long")))
      .select("cell", "thr")
    assigned.join(broadcast(rates), "cell")
      .select(col("vec_id"), col("cell"),
        (pmod(pmod(col("vec_id") * lit(2654435761L), lit(P)),
          lit(1000000L)) < col("thr")).as("kept"))
  }

  /** Deterministic ±1 sign matrix for [[jlProject]]: `signs(j)(i)` is the
    * sign of input dim `i` in output dim `j`, from the house avalanche
    * hash — data-independent, so every engine/run/face derives the SAME
    * projection from (dim, k) alone; no matrix needs to be stored or
    * shipped. */
  def jlSigns(dim: Int, k: Int): Seq[Array[Float]] =
    (0 until k).map { j =>
      Array.tabulate(dim) { i =>
        val h = ((i.toLong * 1000003L + j.toLong) * 2654435761L) % P
        val hp = if (h < 0) h + P else h
        if (hp % 2 == 0L) 1.0f else -1.0f
      }
    }

  /** Johnson-Lindenstrauss sign projection (Achlioptas, JCSS 2003 — the
    * "database-friendly" ±1 variant of random projection): each of `k`
    * output dims is a pseudorandom ±1 combination of the input dims.
    * The JL lemma bounds pairwise-distance distortion, so the projected
    * space is a faithful-enough geometry for a FIRST-PASS ANN screen at
    * `dim/k`× the scan bytes and FLOPs — compose it under any of the
    * existing tiers (brute/LSH/IVF/PQ run unchanged on the k-dim
    * output) and rerank survivors in the original space. Cosine use is
    * scale-free, so the usual 1/√k normalization is deliberately
    * dropped (documented; distances would need it). Per-element ±1
    * products are float-exact and the fold order is fixed, so projected
    * values round 1e-6 to engine-identical doubles. Fully row-local,
    * zero shuffle, nothing learned and nothing stored — the projection
    * is a pure function of (dim, k). Output: `vec_id`, `p0..p{k-1}`. */
  def jlProject(emb: DataFrame, id: Column, vec: Column,
      dim: Int, k: Int): DataFrame = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    val signs = jlSigns(dim, k)
    emb.select(id.as("vec_id") +:
      (0 until k).map { j =>
        val s = array(signs(j).map(v => lit(v)): _*)
        round(VectorExpressions.floatDot(vec, s), 6).as(s"p$j")
      }: _*)
  }
}
