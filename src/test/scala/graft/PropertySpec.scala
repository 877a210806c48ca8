package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{CoreOps, DedupOps}
import graft.functions.Exact

/** Property-based invariants (SURVEY.md §5.2) — raw scalacheck generators
  * with a fixed seed (the scalatest bridge artifact isn't available in the
  * offline cache), so failures are reproducible. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val flagSeqGen: Gen[List[Boolean]] =
    Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, Gen.oneOf(true, false)))

  test("flagRuns: runs are disjoint, maximal, and cover exactly the true samples") {
    samples(flagSeqGen, 10).foreach { flags =>
      val df = flags.zipWithIndex.map { case (f, i) => ("k", i.toLong, f) }
        .toDF("k", "t", "flag")
      val runs = CoreOps.flagRuns(df, Seq(col("k")), Seq(col("t")), col("flag"))
        .select("start_ts", "end_ts", "n_rows")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      runs.foreach { case (s, e, n) =>
        assert(n == e - s + 1)
        assert((s to e).forall(i => flags(i.toInt)), "run must be all-true")
        assert(s == 0 || !flags(s.toInt - 1), "run must be left-maximal")
        assert(e == flags.length - 1 || !flags(e.toInt + 1),
          "run must be right-maximal")
      }
      assert(runs.map(_._3).sum == flags.count(identity),
        "runs must cover every true sample exactly once")
    }
  }

  test("flagRuns is invariant to input partitioning") {
    samples(Gen.zip(flagSeqGen, Gen.chooseNum(1, 8)), 8).foreach {
      case (flags, parts) =>
        val df = flags.zipWithIndex.map { case (f, i) => ("k", i.toLong, f) }
          .toDF("k", "t", "flag")
        val a = CoreOps.flagRuns(df, Seq(col("k")), Seq(col("t")), col("flag"))
          .collect().toSet
        val b = CoreOps.flagRuns(df.repartition(parts), Seq(col("k")),
          Seq(col("t")), col("flag")).collect().toSet
        assert(a == b)
    }
  }

  test("flagRunAggChunked equals flagRunAgg for any chunking") {
    // random flags, random aggregate payload, random chunk size — the
    // boundary-merge renumbering must be output-identical to the
    // single-partition gaps-and-islands, including runs spanning many chunks
    val gen = Gen.zip(flagSeqGen, Gen.chooseNum(1, 17))
    samples(gen, 10).foreach { case (flags, chunkLen) =>
      val df = flags.zipWithIndex.map { case (f, i) =>
        ("k", i.toLong, f, (i * 7 % 13).toDouble) }
        .toDF("k", "t", "flag", "v")
      val aggs = Seq(sum(col("v")).as("sv"), max(col("v")).as("mv"))
      val plain = CoreOps.flagRunAgg(df, Seq(col("k")), Seq(col("t")),
        col("flag"), aggs).collect().toSet
      val chunked = CoreOps.flagRunAggChunked(df, Seq("k"), Seq(col("t")),
        col("flag"), floor(col("t") / chunkLen), aggs).collect().toSet
      assert(chunked == plain, s"chunkLen=$chunkLen flags=$flags")
    }
  }

  test("Exact.dsum is invariant to partitioning") {
    samples(Gen.listOfN(50, Gen.chooseNum(-1e6, 1e6)), 8).foreach { xs =>
      val df = xs.toDF("v")
      val a = df.agg(Exact.dsum(col("v"))).as[Double].head()
      val b = df.repartition(7).agg(Exact.dsum(col("v"))).as[Double].head()
      assert(a == b, "dsum must be bit-identical under repartitioning")
    }
  }

  test("jaccard pairs: scores in (0,1], exact dups score 1.0") {
    val texts = Seq(
      "a b c d e f", "a b c d e f", "a b c x y z", "p q r s t u",
      "a b p q x y", "m n o m n o")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val pairs = DedupOps.jaccardPairs(docs, col("doc_id"), col("text"), 2, 0.01)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(p => p._3 > 0 && p._3 <= 1.0))
    assert(pairs.find(p => p._1 == 0 && p._2 == 1).exists(_._3 == 1.0))
  }

  test("multimodal stages preserve row counts and determinism under repartition") {
    // the plumbing contract a real codec will inherit: every stage is a
    // narrow per-partition transform — same rows, same values, any layout
    import graft.operators.MultimodalOps
    import graft.operators.MultimodalOps.MediaRow
    implicit val s = spark
    val gen = Gen.listOfN(40, Gen.zip(
      Gen.chooseNum(0, 200), Gen.chooseNum(0, 255)))
    samples(Gen.zip(gen, Gen.chooseNum(1, 7)), 6).foreach { case (specs, parts) =>
      val rows = specs.zipWithIndex.map { case ((len, fill), i) =>
        MediaRow(i.toLong, "image",
          Array.tabulate(len)(j => ((fill + j) % 256).toByte), 64, 64, 0)
      }
      val ds = spark.createDataset(rows)
      def run(d: org.apache.spark.sql.Dataset[MediaRow]) =
        MultimodalOps.extractFeatures(
          MultimodalOps.frameSampleStub(
            MultimodalOps.resizeStub(d, maxBytes = 100), stride = 3))
          .collect().map(f => f.media_id ->
            (f.byte_len, f.mean_byte, f.frame_bytes, f.ok)).toMap
      val base = run(ds)
      val reparted = run(ds.repartition(parts))
      assert(base.size == rows.size, "no stage may drop or duplicate rows")
      assert(reparted == base,
        "features must be identical under any partitioning")
    }
  }

  test("asofJoin equals a brute-force reference on random inputs") {
    val gen = for {
      nl <- Gen.chooseNum(1, 25)
      nr <- Gen.chooseNum(0, 25)
      lts <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(1, 3), Gen.chooseNum(0L, 50L)))
      rvs <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(1, 3), Gen.chooseNum(0L, 50L),
        Gen.chooseNum(0.0, 9.0)))
    } yield (lts.distinct, rvs.map(r => (r._1, r._2)).distinct.zip(rvs.map(_._3)))
    samples(gen, 10).foreach { case (lts, rs) =>
      val left = lts.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = rs.map { case ((k, t), v) => (k, t, v) }.toDF("k", "t", "v")
      val got = graft.operators.CoreOps.asofJoin(left, right, Seq("k"), "t", "t",
        Map("t" -> "rt", "v" -> "rv"))
        .select("lid", "rt", "rv").as[(Long, Long, Double)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      // brute force: for each left row, the right row of that key with max
      // rt <= t, tiebroken (like the operator) by max (rt, rv) tuple
      val expect = lts.zipWithIndex.flatMap { case ((k, t), i) =>
        val cands = rs.collect { case ((rk, rt), v) if rk == k && rt <= t => (rt, v) }
        if (cands.isEmpty) None else Some(i.toLong -> cands.max)
      }.toMap
      assert(got == expect, s"left=$lts right=$rs")
    }
  }

  test("flagRuns with composite keys never mixes keys") {
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b"), Gen.oneOf(true, false)))
    samples(gen, 6).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, f), i) => (k, i.toLong, f) }.toDF("k", "t", "flag")
      val runs = CoreOps.flagRuns(df, Seq(col("k")), Seq(col("t")), col("flag"))
        .select("k", "n_rows").as[(String, Long)].collect()
      val trueByKey = rows.groupBy(_._1).view
        .mapValues(_.count(_._2)).toMap
      runs.groupBy(_._1).foreach { case (k, rs) =>
        assert(rs.map(_._2).sum == trueByKey.getOrElse(k, 0))
      }
    }
  }

  test("diff2ByJoin gap semantics: a cadence gap resets the diff to 0") {
    // samples at t=1,2,5 (gap between 2 and 5)
    val df = Seq(("k", 1L * 1000, 10.0), ("k", 2L * 1000, 14.0),
      ("k", 5L * 1000, 20.0))
      .map { case (k, ms, v) => (k, new java.sql.Timestamp(ms), v) }
      .toDF("k", "time", "v")
    val byJoin = graft.operators.CoreOps.diff2ByJoin(df, Seq("k"), "time",
      "INTERVAL 1 SECOND", "v", "d1", "d2")
      .orderBy("time").select("d1").as[Double].collect()
    assert(byJoin.toSeq == Seq(0.0, 4.0, 0.0),
      "no sample 1s earlier -> derivative resets to 0 (lag would bridge)")
    val byLag = graft.operators.CoreOps.diff2(df, Seq(col("k")),
      Seq(col("time")), col("v"), "d1", "d2")
      .orderBy("time").select("d1").as[Double].collect()
    assert(byLag.toSeq == Seq(0.0, 4.0, 6.0), "lag bridges the gap")
  }

  test("minhash signatures stay within the hash field for random words") {
    samples(Gen.listOfN(5, Gen.alphaLowerStr.suchThat(_.nonEmpty)), 8)
      .foreach { words =>
        val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        val row = DedupOps
          .minhashSignatures(docs, col("doc_id"), col("text"), 2).head()
        (1 to 8).foreach(i =>
          assert(row.getLong(i) >= 0 &&
            row.getLong(i) < graft.functions.TextHash.P))
      }
  }

  test("native shingle_hashes equals the composable slice+concat+poly_hash form") {
    // adversarial fixed cases: multi/leading/trailing spaces (empty words),
    // unicode incl. astral plane, single word, empty string, w > n_words
    val fixed = Seq("a b c d", "a  b", " a b ", "solo", "", "ü ñ 日本 语",
      "😀 x 😁", "a b", "  ", ("word " * 50).trim)
    val wordGen = Gen.oneOf(Gen.alphaLowerStr, Gen.const(""), Gen.const("日本"))
    val textGen = Gen.chooseNum(1, 30)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val texts = fixed ++ samples(textGen, 20)
    for (w <- Seq(2, 3, 5)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = df.select(col("doc_id"),
        graft.functions.HashExpressions.shingleHashes(col("text"), w).as("hs"))
      val composed = df.select(col("doc_id"),
        transform(graft.functions.TextHash.wordShingles(col("text"), w),
          s => graft.functions.HashExpressions.polyHash(s)).as("hs"))
      val a = native.as[(Long, Seq[Long])].collect().toMap
      val b = composed.as[(Long, Seq[Long])].collect().toMap
      assert(a == b, s"w=$w: native and composable shingle hashes differ: " +
        s"${a.toSeq.diff(b.toSeq).take(3)}")
    }
  }

  test("shingleHashesRaw: a chunked giant document's shingle multiset " +
      "equals the unchunked formula (r18 ADVICE parity pin)") {
    val w = 3
    // > ShingleChunk + w - 1 words so the chunk branch fires (two
    // chunks); a short row rides the no-chunk branch in the same frame
    val giant = (0 until DedupOps.ShingleChunk + w + 50)
      .map(i => s"w${i % 97}").mkString(" ")
    val docs = Seq((1L, giant), (2L, "a b c d"), (3L, ""))
      .toDF("doc_id", "text")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("doc_id", "h").count()
        .as[(Long, Long, Long)].collect().toSet
    val chunked = multiset(
      DedupOps.shingleHashesRaw(docs, col("doc_id"), col("text"), w))
    val truth = multiset(docs.select(col("doc_id"),
      explode(graft.functions.HashExpressions.shingleHashes(col("text"), w))
        .as("h")))
    assert(chunked == truth,
      s"chunked/unchunked drift: ${chunked.diff(truth).take(3)} / " +
        s"${truth.diff(chunked).take(3)}")
  }

  test("dedupClusters: the distributed label-propagation (the 100 TB arm " +
      "above LocalEdgeCap) matches the driver union-find (r18 ADVICE)") {
    val pairs = (Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (7L, 9L)) ++ (100L until 299L).map(i => (i, i + 1)))
      .toDF("doc_a", "doc_b")
    val local = DedupOps.dedupClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    sys.props("graft.test.noLocalCC") = "1"
    try {
      val dist = DedupOps.dedupClusters(pairs, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      assert(dist == local, "distributed/local component labels drift")
    } finally sys.props.remove("graft.test.noLocalCC")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val arrGen = Gen.chooseNum(0, 40)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-50L, 50L)))
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(arrGen, arrGen), 60) ++
      Seq((Nil, Nil), (List(1L), Nil), (List(1L, 2L), List(1L, 2L)))
    val df = pairs.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    val out = df.select(col("id"),
      graft.functions.HashExpressions
        .sortedIntersectCount(col("a"), col("b")).as("nat"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty && out.forall(r => r._2 == r._3),
      s"mismatches: ${out.filter(r => r._2 != r._3).take(3).toSeq}")
  }

  test("coordinated_sketch_stats equals the array-algebra formulation") {
    val arrGen = Gen.chooseNum(0, 30)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-40L, 40L)))
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(arrGen, arrGen), 60) ++
      Seq((Nil, Nil), (List(1L), Nil), (List(1L, 2L, 3L), List(1L, 2L, 3L)))
    for (k <- Seq(1, 4, 16)) {
      val df = pairs.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
      val cs = graft.functions.HashExpressions
        .coordinatedSketchStats(col("a"), col("b"), k)
      val v = slice(array_sort(array_union(col("a"), col("b"))), 1, k)
      val out = df.select(col("id"),
        cs.getField("n_sample").as("ns"), cs.getField("n_both").as("nb"),
        cs.getField("n_va").as("va"), cs.getField("n_vb").as("vb"),
        size(v).cast("long").as("rns"),
        size(array_intersect(array_intersect(v, col("a")), col("b")))
          .cast("long").as("rnb"),
        size(array_intersect(v, col("a"))).cast("long").as("rva"),
        size(array_intersect(v, col("b"))).cast("long").as("rvb"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      val bad = out.filter(r =>
        (r._2, r._3, r._4, r._5) != ((r._6, r._7, r._8, r._9)))
      assert(bad.isEmpty, s"k=$k mismatches: ${bad.take(3).toSeq}")
    }
  }

  test("sourceDivergence: KL is non-negative on random corpora (Gibbs)") {
    // Gibbs' inequality: KL(p ‖ q) >= 0 for any p, q — up to the
    // operator's 1e-6 per-word rounding, which can push a near-zero
    // divergence a hair below zero but never materially.
    val corpusGen: Gen[List[(String, String)]] = for {
      nDocs <- Gen.chooseNum(2, 12)
      docs <- Gen.listOfN(nDocs, for {
        src <- Gen.oneOf("s0", "s1", "s2")
        n <- Gen.chooseNum(1, 20)
        ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
      } yield (src, ws.mkString(" ")))
    } yield docs
    samples(corpusGen, 10).foreach { rows =>
      val df = rows.toDF("source", "text")
      val out = graft.operators.TextOps
        .sourceDivergence(df, col("source"), col("text"))
        .select("source", "kl_vs_corpus")
        .as[(String, Double)].collect()
      out.foreach { case (src, kl) =>
        assert(kl >= -1e-5, s"KL($src) = $kl must be >= 0 (Gibbs)")
      }
      // single-source corpora have p == q exactly: KL == 0
      if (rows.map(_._1).distinct.size == 1)
        out.foreach { case (_, kl) => assert(math.abs(kl) < 1e-5) }
    }
  }

  private val vecGen: Gen[List[(Long, Array[Float])]] = for {
    n <- Gen.chooseNum(4, 24)
    vs <- Gen.listOfN(n, Gen.listOfN(16,
      Gen.chooseNum(-1000, 1000).map(_ / 250.0f)))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }

  test("sq8: codes bounded and reconstruction within scale/2 on random vectors") {
    import graft.operators.SimilarityOps
    samples(vecGen, 8).foreach { rows =>
      val df = rows.toDF("vec_id", "embedding")
      val stats = SimilarityOps.sq8Stats(df, col("embedding"), 16)
      val maxScale = stats.select(
        (1 to 16).map(i => element_at(col("scales"), i))
          .reduce((a, b) => greatest(a, b))).as[Double].head()
      val dig = SimilarityOps.sq8Digest(df, col("vec_id"), col("embedding"), 16)
        .select("code_min", "code_max", "max_err")
        .as[(Int, Int, Double)].collect()
      dig.foreach { case (lo, hi, err) =>
        assert(lo >= 0 && hi <= 255)
        // digest rounds max_err at 1e-6 — allow that much slack
        assert(err <= maxScale / 2 + 1e-6,
          s"recon error $err breaks the scale/2 bound ($maxScale)")
      }
    }
  }

  test("pq: LUT distances equal ADC distances on random vectors and codebooks") {
    import graft.operators.PQOps
    samples(vecGen, 6).foreach { rows =>
      val df = rows.toDF("vec_id", "embedding")
      val cb = df.where(col("vec_id") < 3) // tiny random codebook
      val idx = PQOps.pqIndex(df, cb, col("vec_id"), col("embedding"), 4, 4)
      val queries = df.where(col("vec_id") < 2)
      def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val adc = asSet(PQOps.pqTopK(idx, queries,
        col("vec_id"), col("embedding"), 5, 4))
      val lut = asSet(PQOps.pqTopKLut(idx, queries, cb,
        col("vec_id"), col("embedding"), 5, 4, 4))
      assert(adc == lut, "LUT and ADC paths must agree bit-for-bit")
    }
  }

  test("BpeEncode equals the fold chain on random merge tables and texts") {
    // randomized parity armor for the compiled tokenizer: tiny alphabets
    // maximize merge interaction (overlapping runs, recreated pairs,
    // duplicate-pair tables, end-of-word merges)
    import graft.operators.BpeOps
    val sym = Gen.oneOf("a", "b", "c")
    val wordGen = Gen.chooseNum(1, 8)
      .flatMap(n => Gen.listOfN(n, sym).map(_.mkString))
    val textGen = Gen.chooseNum(1, 6)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val unitGen: Gen[String] = Gen.chooseNum(1, 2)
      .flatMap(n => Gen.listOfN(n, sym).map(_.mkString))
      .flatMap(u => Gen.oneOf(u, u + BpeOps.EndOfWord))
    val mergeGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.zip(unitGen, unitGen)))
    samples(Gen.zip(Gen.listOfN(6, textGen), mergeGen), 12).foreach {
      case (texts, merges) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val chain = df.select(col("doc_id"),
          BpeOps.bpeTokensExpr(col("text"), merges).as("t"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        val compiled = df.select(col("doc_id"),
          BpeOps.bpeTokensCompiled(col("text"), merges).as("t"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        assert(compiled == chain,
          s"divergence under merges $merges on $texts")
    }
  }

  test("SpanCorrupt kernel equals the composable form on random texts") {
    import graft.operators.TextOps
    val word = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "\u00e9", "z"))
        .map(_.mkString))
    val textGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    samples(Gen.listOfN(8, textGen), 10).zipWithIndex.foreach {
      case (texts, w) =>
        val df = texts.zipWithIndex.map { case (t, i) =>
          ((w * 100 + i).toLong, t) }.toDF("doc_id", "text")
        def m(d: org.apache.spark.sql.DataFrame) = d.collect()
          .map(r => r.getLong(0) -> r.toSeq).toMap
        val a = m(TextOps.spanCorruptionMask(df, col("doc_id"),
          col("text"), 0.2, 2, keepText = true))
        val b = m(TextOps.spanCorruptionMaskComposable(df, col("doc_id"),
          col("text"), 0.2, 2, keepText = true))
        assert(a == b, s"kernel/spec divergence on $texts")
    }
  }

  test("budgetWaterfill: invariants hold for arbitrary avails, budgets, epochs") {
    import graft.operators.TextOps
    val caseGen = for {
      n <- Gen.chooseNum(1, 12)
      avails <- Gen.listOfN(n, Gen.chooseNum(1, 400))
      budget <- Gen.chooseNum(1L, 4000L)
      epochs <- Gen.chooseNum(1L, 3L)
    } yield (avails, budget, epochs)
    samples(caseGen, 15).foreach { case (avails, budget, epochs) =>
      // one doc per source, text sized so toks = avail exactly
      val df = avails.zipWithIndex
        .map { case (a, i) => (s"s$i", "x" * (a * 4)) }
        .toDF("source", "text")
      val rows = TextOps.budgetWaterfill(df, col("text"), col("source"),
          budget, epochs)
        .select("cap", "capped", "alloc", "rank")
        .as[(Long, Boolean, Long, Long)].collect()
      val ctx = s"avails=$avails budget=$budget epochs=$epochs: " +
        rows.sortBy(_._4).mkString(", ")
      rows.foreach { case (cap, capped, alloc, _) =>
        assert(alloc >= 0 && alloc <= cap, s"alloc in [0, cap] — $ctx")
        if (capped) assert(alloc == cap, s"capped fills to cap — $ctx")
      }
      // caps bind as a PREFIX of the cap-ascending order
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._2).dropWhile(identity).forall(!_),
        s"capped set must be a rank prefix — $ctx")
      // budget exhausted up to the integer remainder (or cap-bound)
      val total = rows.map(_._3).sum
      val bound = math.min(budget, rows.map(_._1).sum)
      val nUncapped = rows.count(!_._2)
      assert(total <= bound && bound - total < math.max(nUncapped, 1),
        s"exhaustion up to remainder: $total of $bound — $ctx")
      // uncapped sources share one water level
      assert(rows.filter(!_._2).map(_._3).distinct.length <= 1,
        s"one shared level — $ctx")
    }
  }

  private val tokenDocsGen: Gen[List[List[String]]] =
    Gen.chooseNum(1, 14).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(0, 9).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf("a", "b", "c", "d")))))

  test("packTokenSequences: global identity, exact cuts, doc_starts") {
    samples(Gen.zip(tokenDocsGen, Gen.oneOf(1, 3, 7),
      Gen.oneOf(1L, 4L, 1024L)), 12).foreach { case (docs, ctx, block) =>
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "toks")
      val out = graft.operators.TextOps.packTokenSequences(
          df, col("doc_id"), col("toks"), ctx, Some("E"), blockSize = block)
        .as[(Long, Seq[String], Long, Long, Long, Long, Long, Seq[Long])]
        .collect().sortBy(_._1)
      val ctxMsg = s"docs=$docs ctx=$ctx block=$block"
      // the packed stream IS flatten(docs.sorted.map(toks :+ sep))
      val stream = docs.flatMap(_ :+ "E")
      assert(out.flatMap(_._2).toList == stream, ctxMsg)
      // seq ids dense from 0; every sequence but the last exactly ctx
      assert(out.map(_._1).toList == out.indices.map(_.toLong).toList, ctxMsg)
      assert(out.init.forall(_._3 == ctx.toLong) &&
        out.last._3 == ((stream.size - 1) % ctx) + 1, ctxMsg)
      // doc_starts: exactly the in-seq positions where a doc opens
      val opens = docs.indices.map(i =>
        docs.take(i).map(_.size + 1).sum.toLong)
      out.foreach { case (sid, _, _, _, _, _, _, starts) =>
        val want = opens.filter(p => p >= sid * ctx && p < (sid + 1) * ctx)
          .map(_ - sid * ctx)
        assert(starts.toList == want.toList, s"$ctxMsg seq $sid")
      }
      // n_docs_end totals the corpus (every separator lands somewhere)
      assert(out.map(_._5).sum == docs.size.toLong, ctxMsg)
    }
  }

  /** One trip's in-watermark arrival plan: 1 Hz samples `(second, flag,
    * micro-batch, rank in batch)` with random flags, spread over k = 2–3
    * micro-batches. False samples are barriers: their batches never
    * decrease in time order, and a flagged sample's batch lies between its
    * neighbouring false samples'. So no false sample is late inside an
    * open run, and no flagged sample arrives in a later micro-batch than a
    * false sample after it in time (it would widen the open run back
    * across that sample, DECISIONS.md round 24),
    * while the flagged samples of one run arrive in any order. */
  private val arrivalGen: Gen[Seq[(Int, Boolean, Int, Int)]] = for {
    n <- Gen.chooseNum(1, 60)
    k <- Gen.chooseNum(2, 3)
    flags <- Gen.listOfN(n, Gen.oneOf(true, false))
    picks <- Gen.listOfN(n, Gen.chooseNum(0, k - 1))
    ranks <- Gen.listOfN(n, Gen.chooseNum(0, Int.MaxValue))
  } yield {
    val batchOf = new Array[Int](n)
    var last = 0
    for (i <- 0 until n if !flags(i)) { last = math.max(last, picks(i)); batchOf(i) = last }
    for (i <- 0 until n if flags(i)) {
      val lo = (i - 1 to 0 by -1).find(j => !flags(j)).map(batchOf).getOrElse(0)
      val hi = (i + 1 until n).find(j => !flags(j)).map(batchOf).getOrElse(k - 1)
      batchOf(i) = lo + picks(i) % (hi - lo + 1)
    }
    (0 until n).map(i => (i, flags(i), batchOf(i), ranks(i)))
  }

  test("both session faces give batch brakeSessions when each sample arrives between its neighbouring false samples") {
    implicit val s = spark
    // one trip per generated plan, all trips in the same micro-batches
    val plans = samples(arrivalGen, 8).zipWithIndex
    val batches = (0 until 3).map(b => plans.flatMap { case (plan, trip) =>
      plan.collect { case (sec, flag, `b`, rank) => rank -> ((trip + 1L, sec, flag)) }
    }.sortBy(_._1).map(_._2))
    val all = batches.flatten
    val got = SessionFaces.run(batches)
    val want = SessionFaces.batch(all)
    assert(want.nonEmpty)
    assert(got.sessionize == want, s"sessionize: ${got.sessionize -- want} " +
      s"extra, ${want -- got.sessionize} missing")
    assert(got.stats == want, s"sessionStatsStream: ${got.stats -- want} " +
      s"extra, ${want -- got.stats} missing")
    SessionFaces.assertStatsOverFlagged(got, all)
  }
}
