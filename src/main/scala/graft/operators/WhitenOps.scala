package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Exact

/** ZCA whitening of an embedding column (Bell & Sejnowski 1997; applied
  * to sentence embeddings by Su et al. 2021 "Whitening Sentence
  * Representations for Better Semantics and Faster Retrieval"):
  * anisotropic embedding spaces — the usual state of pooled transformer
  * outputs — squash cosine similarities into a narrow band; the ZCA
  * transform `y = U diag(1/√(λ+ε)) Uᵀ (x − μ)` equalizes the variance
  * spectrum so cosine separates again, and it is the minimal-rotation
  * whitener (closest to the identity among all whitening transforms).
  *
  * Three faces, the PQ-ladder convention:
  *  - [[momentsRelational]]: the ORACLE face — first/second moments as a
  *    relational aggregation with decimal-exact rounded-product sums
  *    (q133 replays it in SQL; row explosion is O(dim²) per vector, the
  *    small-scale determinism-bearing shape);
  *  - [[moments]]: the PRODUCTION face — one `treeAggregate` pass
  *    accumulating the same rounded products in doubles (per-partition
  *    imperative accumulation, the MLlib covariance shape: zero shuffle,
  *    one dim²/2-sized buffer per partition; ≈-parity with the
  *    relational face spec-pinned at 1e-9 relative);
  *  - [[fitZca]] + [[whiten]]: driver-side symmetric Jacobi eigensolve
  *    of the dim×dim covariance (dim²·sweeps flops on a BOUNDED matrix —
  *    the k-row centroid convention) and the row-local compiled
  *    [[graft.functions.AffineProject]] apply; fitted once, frozen, the
  *    standing static-index rule.
  */
object WhitenOps {

  /** Moment rows `(i, j, s)`: `(-1,-1)` → n; `(i,-1)` → Σ round6(x_i);
    * `(i,j), i ≤ j` → Σ round6(x_i·x_j). Decimal-exact sums. */
  def momentsRelational(emb: DataFrame, vec: Column, dim: Int): DataFrame = {
    // The dim(dim+1)/2-struct fan-out below is per-row-heavy; a tiny
    // single-row-group corpus file otherwise pins the whole explode +
    // partial aggregation to ONE scan task (r18: 12.2 s -> sub-second at
    // sf0.1 on 32 cores). No-op at scale (Fanout.spread contract).
    val embS = Fanout.spread(emb)
    val v = vec
    def x(i: Column) = element_at(v, i + 1).cast("double")
    val cnt = array(struct(lit(-1).as("i"), lit(-1).as("j"),
      lit(1.0).as("p")))
    val firsts = transform(sequence(lit(0), lit(dim - 1)),
      i => struct(i.as("i"), lit(-1).as("j"), round(x(i), 6).as("p")))
    val seconds = flatten(transform(sequence(lit(0), lit(dim - 1)),
      i => transform(sequence(i, lit(dim - 1)),
        j => struct(i.as("i"), j.as("j"), round(x(i) * x(j), 6).as("p")))))
    embS.select(explode(concat(cnt, firsts, seconds)).as("_m"))
      .select(col("_m.i").as("i"), col("_m.j").as("j"), col("_m.p").as("_p"))
      .groupBy("i", "j")
      .agg(Exact.dsum(col("_p")).as("s"))
  }

  /** Production moments: ONE `treeAggregate` pass over the corpus — the
    * classic distributed-covariance shape (per-partition double buffer
    * of 1 + dim + dim(dim+1)/2 cells, log-depth combine, no shuffle of
    * anything row-sized). Same rounded products as the relational face;
    * double accumulation instead of decimal (spec-pinned ≈-parity —
    * the fit consumes doubles anyway). */
  def moments(emb: DataFrame, vec: Column, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    def round6(x: Double): Double =
      if (x == 0.0) 0.0
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val nPairs = dim * (dim + 1) / 2
    val size = 1 + dim + nPairs
    // r19: the seqOp below does n·dim²/2 BigDecimal roundings; on a
    // single-row-group corpus file the RDD has ONE partition and the
    // whole pass runs on one core (r18 driver: 3.44 s). Spread the scan
    // first (no-op at scale — Fanout contract); summation stays
    // deterministic (round-robin placement is seeded by partition index,
    // and WhitenSpec's 1e-9 parity bound covers the reorder).
    val acc = Fanout.spread(emb.select(vec.cast("array<float>")))
      .as[Array[Float]]
      .rdd.treeAggregate(new Array[Double](size))(
        seqOp = (a, r) => {
          a(0) += 1.0
          var i = 0
          while (i < dim) {
            val xi = round6(r(i).toDouble)
            a(1 + i) += xi
            i += 1
          }
          var off = 1 + dim
          i = 0
          while (i < dim) {
            var j = i
            while (j < dim) {
              a(off) += round6(r(i).toDouble * r(j).toDouble)
              off += 1
              j += 1
            }
            i += 1
          }
          a
        },
        combOp = (a, b) => { var i = 0; while (i < size) { a(i) += b(i); i += 1 }; a })
    val rows = Seq((-1, -1, acc(0))) ++
      (0 until dim).map(i => (i, -1, acc(1 + i))) ++ {
        var off = 1 + dim
        for (i <- 0 until dim; j <- i until dim) yield {
          val r = (i, j, acc(off)); off += 1; r
        }
      }
    rows.toDF("i", "j", "s")
  }

  /** The fitted whitening transform: `mean` and the row-major dim×dim
    * ZCA matrix. */
  final case class ZcaModel(dim: Int, mean: Array[Double], w: Array[Double])

  /** Fit ZCA from a moments table ([[momentsRelational]] or [[moments]]
    * — same function either way, the bm25IndexFromStats convention).
    * Collects the BOUNDED O(dim²) moment rows, forms the covariance,
    * and runs a deterministic cyclic Jacobi eigensolve (fixed sweep
    * order, fixed sweep count — same input bytes ⇒ same model on any
    * run). `eps` regularizes near-null directions. */
  def fitZca(momentsDf: DataFrame, dim: Int, eps: Double = 1e-5): ZcaModel = {
    val m = momentsDf.select("i", "j", "s").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val n = m((-1, -1))
    require(n > 1, s"need > 1 vectors to fit, got $n")
    val mean = Array.tabulate(dim)(i => m((i, -1)) / n)
    val cov = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val c = m((i, j)) / n - mean(i) * mean(j)
      cov(i)(j) = c
      cov(j)(i) = c
    }
    // cyclic Jacobi: rotate out each off-diagonal (p,q) in fixed order;
    // 12 sweeps drive a 64x64 PSD matrix far below double noise
    val a = cov.map(_.clone())
    val u = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 12) {
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < dim) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < dim) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val ukp = u(k)(p); val ukq = u(k)(q)
              u(k)(p) = c * ukp - s * ukq
              u(k)(q) = s * ukp + c * ukq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // W = U diag(1/sqrt(lambda+eps)) U^T, row-major
    val inv = Array.tabulate(dim)(i => 1.0 / math.sqrt(math.max(a(i)(i), 0.0) + eps))
    val w = new Array[Double](dim * dim)
    for (i <- 0 until dim; j <- 0 until dim) {
      var s = 0.0
      var k = 0
      while (k < dim) { s += u(i)(k) * inv(k) * u(j)(k); k += 1 }
      w(i * dim + j) = s
    }
    ZcaModel(dim, mean, w)
  }

  /** Row-local whitening apply: `(vec_id, whitened array<double>)` via
    * the compiled [[graft.functions.AffineProject]] kernel — the frozen
    * model is a plan-time constant, zero shuffle, composes under every
    * cosine tier (whitened vectors re-enter brute/LSH/IVF/PQ
    * unchanged). */
  def whiten(emb: DataFrame, id: Column, vec: Column,
      model: ZcaModel): DataFrame = {
    emb.select(id.as("vec_id"),
      graft.functions.AffineExpressions.affineProject(
        vec, model.w, model.mean, model.dim, model.dim).as("whitened"))
  }

  /** [[whiten]] in long form: one `(vec_id, dim, value)` row per
    * whitened coordinate, value round-6 and signed-zero normalized.
    * This is the REGISTERED face (q134): a top-level `array<double>`
    * column is not canonicalizable by the correctness driver (pandas
    * cannot sort on an ndarray cell), and scalar rows additionally give
    * the gate a real row-count signal (n_vectors × dim) instead of a
    * crash. Same row-local plan — posexplode adds no shuffle. */
  def whitenLong(emb: DataFrame, id: Column, vec: Column,
      model: ZcaModel): DataFrame =
    whiten(emb, id, vec, model)
      .select(col("vec_id"), posexplode(col("whitened")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"),
        graft.functions.Exact.round6z(col("v")).as("value"))
}
