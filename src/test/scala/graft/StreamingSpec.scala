package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{FlagSample, SessionOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)
  private def sec(base: String, s: Int) =
    new Timestamp(Timestamp.valueOf(base).getTime + s * 1000L)

  test("minuteWindowEvents generates the simulator's minute grid from the seed epoch") {
    val ev = Streaming.minuteWindowEvents(spark,
      graft.ztbus.Fixtures.SeedEpoch, ts("2021-03-09 14:20:05"))
    val rows = ev.select("time_from", "time_to", "name")
      .as[(Timestamp, Timestamp, String)].collect().sortBy(_._1.getTime)
    assert(rows.length == 5)
    assert(rows.head._1 == ts("2021-03-09 14:15:05"))
    assert(rows.head._2 == ts("2021-03-09 14:16:05"))
    assert(rows.forall(_._3 == "EveryMinute"))
  }

  test("curationFunnelStream finalizes per-minute funnel counts matching batch rules") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val good = (for { c1 <- 'a' to 'h'; c2 <- 'a' to 'e' } yield s"$c1$c2")
      .mkString(" ")                                   // survives every rule
    val repeaty = Seq.fill(40)("w").mkString(" ")      // fails dup-ratio
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.curationFunnelStream(
      in.toDS().toDF("doc_id", "text", "time"), "time")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel1").start()
    try {
      // minute 1: good + short + repeaty, split across two micro-batches
      in.addData((1L, good, sec(base, 1)), (2L, "short text", sec(base, 10)))
      q.processAllAvailable()
      in.addData((3L, repeaty, sec(base, 50)))
      // minute 2: one good doc
      in.addData((4L, good, sec(base, 70)))
      q.processAllAvailable()
      assert(spark.table("funnel1").isEmpty, "open windows must not emit")
      // a far-future doc pushes the watermark past both minutes
      in.addData((9L, good, sec(base, 4000)))
      q.processAllAvailable()
      val out = spark.table("funnel1")
        .as[(Timestamp, Long, Long, Long, Long, Long)].collect()
        .sortBy(_._1.getTime).toSeq
      assert(out == Seq(
        (ts("2021-03-09 14:15:00"), 3L, 2L, 1L, 1L, 1L),
        (ts("2021-03-09 14:16:00"), 1L, 1L, 1L, 1L, 1L)), s"$out")
    } finally q.stop()
  }

  test("corpusMixStream keep-set equals the batch mix filter") {
    import graft.operators.TextOps
    val corpus = (0L until 40L).map { i =>
      val src = if (i % 2 == 0) "big" else "small"
      (i, src, s"doc $i ${"pad " * (if (src == "big") 40 else 5)}")
    }.toDF("doc_id", "source", "text")
    val weights = Map("big" -> 1L, "small" -> 1L)
    val thr = TextOps.mixThresholds(
      corpus, col("doc_id"), col("text"), col("source"), weights, 400L)
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.corpusMixStream(
      in.toDS().toDF("doc_id", "source", "text"), thr)
      .writeStream.outputMode("append").format("memory")
      .queryName("mix1").start()
    try {
      val rows = corpus.as[(Long, String, String)].collect()
      in.addData(rows.take(15): _*); q.processAllAvailable()
      in.addData(rows.drop(15): _*); q.processAllAvailable()
      val streamed = spark.table("mix1").select("doc_id")
        .as[Long].collect().toSet
      // batch reference: same thresholds, same hash-bucket rule
      val batch = corpus
        .withColumn("_bkt", graft.functions.TextHash.sampleBucket(
          graft.functions.HashExpressions.polyHash(col("text")), 1000000))
        .join(thr, "source").where(col("_bkt") < col("_thr"))
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "stream and batch must keep the same docs")
      assert(streamed.nonEmpty && streamed.size < 40,
        s"the budget must bind somewhere: kept ${streamed.size}")
    } finally q.stop()
  }

  test("sourceDivergenceStream: per-minute KL vs the static corpus distribution") {
    import graft.operators.TextOps
    // reference corpus: x appears 3/6, y 1/6, q 2/6
    val corpus = Seq((1L, "x x x y"), (2L, "q q")).toDF("doc_id", "text")
    val surp = TextOps.unigramSurprisals(corpus, col("text"))
    val in = MemoryStream[(String, String, Timestamp)]
    val q = Streaming.sourceDivergenceStream(
      in.toDS().toDF("source", "text", "event_time"), surp)
      .writeStream.outputMode("append").format("memory")
      .queryName("srcdiv1").start()
    try {
      // minute 1: srcA even x/y mix, srcB all-q; minute 2: srcA all-x
      in.addData(
        ("srcA", "x y", sec("2021-03-09 14:15:00", 1)),
        ("srcB", "q q", sec("2021-03-09 14:15:00", 30)))
      q.processAllAvailable()
      in.addData(("srcA", "x y x x", sec("2021-03-09 14:16:00", 10)))
      q.processAllAvailable()
      in.addData(("srcZ", "x", sec("2021-03-09 14:15:00", 4000))) // closer
      q.processAllAvailable()
      val out = spark.table("srcdiv1")
        .select("minute", "source", "n_tokens", "kl_vs_corpus")
        .as[(Timestamp, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val m1 = ts("2021-03-09 14:15:00")
      val m2 = ts("2021-03-09 14:16:00")
      // srcA minute 1: p = (1/2, 1/2) vs corpus (1/2, 1/6):
      //   KL = 0 + 0.5*ln(3) = 0.549306
      assert(math.abs(out((m1, "srcA"))._2 - 0.549306) < 1e-5, s"$out")
      // srcB minute 1: p(q) = 1 vs 1/3: KL = ln(3) = 1.098612
      assert(out((m1, "srcB"))._1 == 2L)
      assert(math.abs(out((m1, "srcB"))._2 - 1.098612) < 1e-5, s"$out")
      // srcA minute 2: p = (3/4, 1/4) vs (1/2, 1/6):
      //   KL = 0.75*ln(1.5) + 0.25*ln(1.5) = ln(1.5) = 0.405465
      assert(math.abs(out((m2, "srcA"))._2 - 0.405465) < 1e-5, s"$out")
      // windows are per-minute per-source and independent across batches
      assert(out.size >= 3)
    } finally q.stop()
  }

  test("lmScoreStream matches batch lmScore on in-vocab docs, counts OOV") {
    import graft.operators.TextOps
    // reference corpus = the batch-scored corpus, so every streamed word is
    // in-vocab and the face must equal batch lmScore EXACTLY (n_oov = 0)
    val corpus = Seq(
      (1L, "x x x y common words here"),
      (2L, "q q common words again"),
      (3L, "y words x q common")).toDF("doc_id", "text")
    val surp = TextOps.unigramSurprisals(corpus, col("text"))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.lmScoreStream(
      in.toDS().toDF("doc_id", "text", "event_time"), surp)
      .writeStream.outputMode("append").format("memory")
      .queryName("lmsc1").start()
    try {
      in.addData(
        (1L, "x x x y common words here", sec("2021-03-09 14:15:00", 1)),
        (2L, "q q common words again", sec("2021-03-09 14:15:00", 30)))
      q.processAllAvailable()
      in.addData(
        (3L, "y words x q common", sec("2021-03-09 14:16:00", 10)),
        // one word the reference has never seen: counted, not scored
        (4L, "x y zzz_oov", sec("2021-03-09 14:16:00", 20)),
        // EVERY token unseen: emitted with NULL entropy, not filtered
        (5L, "zzz_oov qqq_oov", sec("2021-03-09 14:16:00", 25)))
      q.processAllAvailable()
      // closer: advances the watermark so the minute windows finalize
      in.addData((99L, "x", sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val got = spark.table("lmsc1").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      val batch = TextOps.lmScore(corpus, col("doc_id"), col("text"))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      Seq(1L, 2L, 3L).foreach { d =>
        assert(got(d) == ((batch(d)._1, 0L, Some(batch(d)._2))),
          s"doc $d: stream ${got(d)} vs batch ${batch(d)}")
      }
      assert(got(4L)._1 == 2L && got(4L)._2 == 1L,
        "OOV token must be counted apart, in-vocab tokens scored")
      // the all-OOV doc is the documented anomaly signal: zero scored
      // tokens, every token counted OOV, NULL cross-entropy
      assert(got(5L) == ((0L, 2L, None)), s"all-OOV row: ${got(5L)}")
    } finally q.stop()
  }

  test("knScoreStream: batch parity on replayed corpus; backoff on novel bigrams") {
    import graft.operators.TextOps
    val corpus = Seq((1L, "a b a"), (2L, "b a c")).toDF("doc_id", "text")
    val (model, ctx, cont, nb) = TextOps.knModelParts(corpus, col("text"))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.knScoreStream(
      in.toDS().toDF("doc_id", "text", "event_time"), model, ctx, cont, nb)
      .writeStream.outputMode("append").format("memory")
      .queryName("knsc1").start()
    try {
      in.addData(
        (1L, "a b a", sec("2021-03-09 14:15:00", 1)),
        (2L, "b a c", sec("2021-03-09 14:15:00", 30)),
        // novel continuation: (a,b) fitted, (b,q) backs off through seen
        // context b with the unseen-w pseudo continuation 1/(3+1)
        (4L, "a b q", sec("2021-03-09 14:15:00", 40)),
        // unseen context z: (z,a) prices at Pcont(a) = 1/3
        (5L, "z a", sec("2021-03-09 14:15:00", 50)))
      q.processAllAvailable()
      in.addData((99L, "a b", sec("2021-03-09 14:15:00", 4000))) // closer
      q.processAllAvailable()
      val got = spark.table("knsc1").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3)))).toMap
      val batch = TextOps.knScore(corpus, col("doc_id"), col("text"))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // replayed training docs: fitted rows only -> EXACT batch equality
      Seq(1L, 2L).foreach { d =>
        assert(got(d) == ((batch(d)._1, 0L, batch(d)._2)),
          s"doc $d: stream ${got(d)} vs batch ${batch(d)}")
      }
      // (b,q): p = D*N1+(b,.)/c(b) * 1/(nb+1) = .75*(1/2)*(1/4) = 0.09375
      val lpAB = math.rint(-math.log(0.375) * 1e6) / 1e6
      val lpBQ = math.rint(-math.log(0.09375) * 1e6) / 1e6
      assert(got(4L)._1 == 2L && got(4L)._2 == 1L, s"${got(4L)}")
      assert(math.abs(got(4L)._3 - (lpAB + lpBQ) / 2) < 2e-6, s"${got(4L)}")
      // (z,a): unseen context -> Pcont(a) = 1/3
      val lpZA = math.rint(math.log(3.0) * 1e6) / 1e6
      assert(got(5L)._1 == 1L && got(5L)._2 == 1L &&
        math.abs(got(5L)._3 - lpZA) < 2e-6, s"${got(5L)}")
    } finally q.stop()
  }

  test("decontaminateStream flags arriving docs against the held-out set") {
    import graft.operators.{DedupOps, TextOps}
    // held-out "benchmark suite": its distinct shingle hashes are the
    // static side, exactly what the batch face derives from the split
    val bench = Seq((900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val testH = DedupOps.shingleHashes(bench, col("doc_id"), col("text"), 2)
      .select("h").distinct()
    val arriving = Seq(
      // contains a 4-word slice of the benchmark doc: 3 shared bigrams
      (1L, "x alpha beta gamma delta y", sec("2021-03-09 14:15:00", 1)),
      (2L, "wholly unrelated clean content", sec("2021-03-09 14:15:00", 20)),
      // shares exactly one bigram: below minOverlap = 2
      (3L, "alpha beta elsewhere entirely", sec("2021-03-09 14:16:00", 5)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.decontaminateStream(
      in.toDS().toDF("doc_id", "text", "event_time"), testH, 2, minOverlap = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("decon1").start()
    try {
      in.addData(arriving: _*)
      q.processAllAvailable()
      in.addData((99L, "closer", sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val got = spark.table("decon1")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // batch answer over the same arrivals vs the same held-out set
      val batch = DedupOps.shingleHashes(
          arriving.map(t => (t._1, t._2)).toDF("doc_id", "text"),
          col("doc_id"), col("text"), 2)
        .join(testH, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .where(col("n") >= 2)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == batch.keySet && got.keySet == Set(1L))
      assert(got(1L)._2 == batch(1L), "overlap counts must agree with batch")
      assert(got(1L) == ((5L, 3L)), "5 distinct bigrams, 3 held-out hits")
    } finally q.stop()
  }

  test("lineDedupStream matches batch lineDedup including all-dropped docs") {
    import graft.operators.TextOps
    val banner = "all rights reserved"
    val b1 = Seq(
      (1L, s"alpha one\n$banner\nalpha two", sec("2021-03-09 14:15:00", 1)),
      (2L, s"beta one\n$banner", sec("2021-03-09 14:15:00", 20)))
    val b2 = Seq(
      (3L, s"$banner\ngamma one", sec("2021-03-09 14:16:00", 5)),
      (4L, banner, sec("2021-03-09 14:16:00", 30)))      // all-dropped doc
    val all = (b1 ++ b2).map(t => (t._1, t._2)).toDF("doc_id", "text")
    val dropSet = TextOps.boilerplateLineSet(all, col("doc_id"), col("text"), 3)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.lineDedupStream(
      in.toDS().toDF("doc_id", "text", "event_time"), dropSet)
      .writeStream.outputMode("append").format("memory")
      .queryName("linededup1").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // push the watermark past both minutes so windows finalize
      in.addData((9L, "closer", sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      def keyed(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      val streamed = keyed(spark.table("linededup1")
        .where(col("doc_id") < 9).collect())
      val batch = keyed(
        TextOps.lineDedup(all, col("doc_id"), col("text"), 3).collect())
      assert(batch(4L)._2 == 0L && batch(4L)._3.isEmpty)
      assert(streamed == batch,
        "streamed per-minute rows must equal the batch face per doc")
    } finally q.stop()
  }

  test("removeRepeatedSpansStream matches batch removeRepeatedSpans per doc") {
    import graft.operators.TextOps
    val banner = "all rights reserved by the original publisher"
    val rows = Seq(
      (1L, s"intro words here $banner closing remark",
        sec("2021-03-09 14:15:00", 1)),
      (2L, s"different opening text $banner and a tail",
        sec("2021-03-09 14:15:00", 20)),
      (3L, "rep a b rep a b rep a b end", sec("2021-03-09 14:16:00", 5)),
      (4L, "wholly unique document content nothing repeats here",
        sec("2021-03-09 14:16:00", 10)),
      (5L, "verbatim copy zz yy xx ww", sec("2021-03-09 14:16:00", 30)),
      (6L, "verbatim copy zz yy xx ww", sec("2021-03-09 14:16:00", 40)))
    val corpus = rows.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val dupH = TextOps.repeatedShingleSet(
      corpus, col("doc_id"), col("text"), 3)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.removeRepeatedSpansStream(
      in.toDS().toDF("doc_id", "text", "event_time"), dupH, 3, 5)
      .writeStream.outputMode("append").format("memory")
      .queryName("spans1").start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      in.addData((9L, "closer", sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      def keyed(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4))))).toMap
      val streamed = keyed(spark.table("spans1")
        .where(col("doc_id") < 9).collect())
      val batch = keyed(TextOps.removeRepeatedSpans(
        corpus, col("doc_id"), col("text"), 3, 5).collect())
      // the fixture exercises no-span, cross-doc, self-repeat, all-removed
      assert(batch(4L)._2 == 0L && batch(5L)._4.isEmpty)
      assert(streamed == batch,
        "streamed per-minute rows must equal the batch face per doc")
    } finally q.stop()
  }

  test("semanticDedupStream matches batch incrementalSemanticDedup per vector") {
    import graft.operators.SimilarityOps
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // corpus: two cell anchors (+x, +y) and members near each; centroids
    // are the anchors themselves (the fixed-sample convention)
    val corpus = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0)),
      (2L, v(0.95, 0.05, 0, 0)), (3L, v(0.05, 0.95, 0, 0)))
      .toDF("vec_id", "embedding")
    val cents = corpus.where(col("vec_id") < 2)
    val corpusCells = SimilarityOps.assignCells(
      corpus, cents, col("vec_id"), col("embedding"))
    val rows = Seq(
      // near-dup of corpus vec 2 (same cell, cosine ~1) -> dropped
      (10L, v(0.94, 0.06, 0, 0), sec("2021-03-09 14:15:00", 1)),
      // +y-cell arrival near vec 3 -> dropped
      (11L, v(0.06, 0.94, 0, 0), sec("2021-03-09 14:15:00", 20)),
      // novel direction: lands in a cell but far from its members -> kept
      (12L, v(0.6, 0.0, 0.8, 0), sec("2021-03-09 14:16:00", 5)),
      // zero vector: NULL cosines everywhere -> deterministic cell, kept
      (13L, v(0, 0, 0, 0), sec("2021-03-09 14:16:00", 10)))
    val delta = rows.map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = Streaming.semanticDedupStream(
      in.toDS().toDF("vec_id", "embedding", "event_time"),
      corpusCells, cents, 0.9)
      .writeStream.outputMode("append").format("memory")
      .queryName("semdedup1").start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      in.addData((99L, v(1, 0, 0, 0), sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      def keyed(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val streamed = keyed(spark.table("semdedup1")
        .where(col("vec_id") < 99).collect())
      val batch = keyed(SimilarityOps.incrementalSemanticDedup(
        delta, corpusCells, cents, col("vec_id"), col("embedding"), 0.9)
        .collect())
      assert(batch(10L)._2 == false && batch(12L)._2 == true &&
        batch(13L)._2 == true, s"batch fixture sanity: $batch")
      assert(streamed == batch,
        "streamed per-minute rows must equal the batch incremental face")
    } finally q.stop()
  }

  test("incrementalDedupStream keep-set equals batch incrementalDedup") {
    import graft.operators.DedupOps
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "a completely different corpus document here"),
      (3L, "der hund und die katze")).toDF("doc_id", "text")
    val corpusSig = DedupOps.minhashSignatures(
      corpus, col("doc_id"), col("text"), 2)
    val b1 = Seq(
      (11L, "the cat sat on the mat"),              // exact dup -> dropped
      (12L, "novel words never seen in the corpus"))
    val b2 = Seq(
      (13L, "der hund und die katze"),              // exact dup -> dropped
      (14L, "another genuinely new delta document"))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.incrementalDedupStream(
      in.toDS().toDF("doc_id", "text"), corpusSig, 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("incdedup1").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("incdedup1").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = DedupOps.incrementalDedup(
        DedupOps.minhashSignatures(
          (b1 ++ b2).toDF("doc_id", "text"), col("doc_id"), col("text"), 2),
        corpusSig).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(batch.keySet == Set(12L, 14L), "dups of corpus docs are dropped")
      assert(streamed == batch,
        "streamed micro-batches must produce the batch keep-set with signatures")
    } finally q.stop()
  }

  test("leakageSafeSplitStream: corpus parity with batch, ingest inherits cluster split") {
    import graft.operators.{DedupOps, TextOps}
    val corpus = Seq(
      (1L, "the cat sat on the mat and purred all day long"),
      (2L, "the cat sat on the mat and purred all day long"),
      (3L, "a completely different corpus document about tall ships"),
      (4L, "der hund und die katze spielen zusammen im garten heute"))
    val corpusDf = corpus.toDF("doc_id", "text")
    val clusters = DedupOps.dedupClusters(
      DedupOps.lshCandidatePairs(DedupOps.minhashSignatures(
        corpusDf, col("doc_id"), col("text"), 2)), "doc_a", "doc_b")
    val index = TextOps.clusterSplitIndex(
      corpusDf, col("doc_id"), col("text"), clusters, 2)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val batch = keyed(TextOps.leakageSafeSplit(
      corpusDf, col("doc_id"), col("text"), clusters).collect())
    val delta = Seq(
      (11L, corpus.head._2),  // near-dup of the 1/2 cluster -> inherits it
      (12L, "totally novel unseen delta document right here now"))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.leakageSafeSplitStream(
      in.toDS().toDF("doc_id", "text"), index, 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("lss1").start()
    try {
      in.addData(corpus: _*); q.processAllAvailable()
      in.addData(delta: _*); q.processAllAvailable()
      val streamed = keyed(spark.table("lss1").collect())
      // 1) replaying the corpus through its own index IS the batch split
      corpus.foreach { case (id, _) =>
        assert(streamed(id) == batch(id),
          s"doc $id: streamed ${streamed(id)} != batch ${batch(id)}")
      }
      // 2) an ingested near-dup inherits the established cluster wholesale
      //    (cluster_id, n_members, weight, bucket, split all the corpus's)
      assert(streamed(11L) == batch(1L),
        s"near-dup must inherit the cluster's split: ${streamed(11L)}")
      // 3) a novel doc is a singleton: weight 1, bucket = its own hashSplit
      val plain = TextOps.hashSplit(
          delta.toDF("doc_id", "text"), col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(streamed(12L)(0) == 12L && streamed(12L)(1) == 1L &&
        streamed(12L)(2) == 1.0 && streamed(12L)(4) == plain(12L),
        s"singleton fallback: ${streamed(12L)}")
    } finally q.stop()
  }

  test("pqSemanticScreenStream keep-set equals the batch code-space screen") {
    import graft.operators.PQOps
    val emb = graft.Tables.embeddings(spark, sf).limit(60).cache()
    val cents = emb.where(col("vec_id") < 8)
    val corpus = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val deltaRows = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cellSeq = cents.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val cbSeq = cents.select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val idx = PQOps.pqCellIndex(corpus, cents, cents,
      col("vec_id"), col("embedding"), 8, 8).persist()
    val rows = deltaRows.zipWithIndex.map { case ((id, e), i) =>
      (id, e, sec("2021-03-09 14:15:00", i)) }
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = Streaming.pqSemanticScreenStream(
      in.toDS().toDF("vec_id", "embedding", "event_time"), idx,
      cellSeq, cbSeq, 0.4, 8, 8)
      .writeStream.outputMode("append").format("memory")
      .queryName("pqscreen1").start()
    try {
      in.addData(rows.take(4).toIndexedSeq: _*); q.processAllAvailable()
      in.addData(rows.drop(4).toIndexedSeq: _*); q.processAllAvailable()
      in.addData((999L, Array.fill(64)(0f), sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      def keyed(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val streamed = keyed(spark.table("pqscreen1")
        .where(col("vec_id") < 999).collect())
      val batch = keyed(PQOps.pqSemanticScreen(
        emb.where(pmod(col("vec_id"), lit(5)) === 0), idx, cents, cents,
        col("vec_id"), col("embedding"), 0.4, 8, 8).collect())
      assert(batch.values.exists(_._2) && batch.values.exists(!_._2),
        s"fixture sanity — threshold must split the delta: $batch")
      assert(streamed == batch,
        "ingest-time code-space verdicts must equal the batch screen")
    } finally { q.stop(); idx.unpersist(blocking = false) }
  }

  test("sq8SemanticScreenStream: code-space screen drops planted near-dups, keeps novel") {
    import graft.operators.SimilarityOps
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0)),
      (2L, v(0.95, 0.05, 0, 0)), (3L, v(0.05, 0.95, 0, 0)))
      .toDF("vec_id", "embedding")
    val cents = corpus.where(col("vec_id") < 2)
    val stats = SimilarityOps.sq8Stats(corpus, col("embedding"), 4)
    val idx = SimilarityOps.sq8CellIndex(corpus, cents, stats,
      col("vec_id"), col("embedding"))
    val rows = Seq(
      // exact copy of corpus vec 2 — identical codes, recon cosine 1 → drop
      (10L, v(0.95, 0.05, 0, 0), sec("2021-03-09 14:15:00", 1)),
      // novel IN-DISTRIBUTION direction (between the cells, far from all
      // members in code space) → keep
      (12L, v(0.6, 0.55, 0, 0), sec("2021-03-09 14:15:00", 20)),
      // zero vector: NULL sims everywhere → kept deterministically
      (13L, v(0, 0, 0, 0), sec("2021-03-09 14:16:00", 5)),
      // the code-space caveat, pinned: all its novelty is in dim 3, which
      // the corpus never exercised (scale 0) — the reconstruction
      // collapses onto +x and the screen DROPS what a float screen would
      // keep. This is the documented re-fit-on-drift trigger.
      (14L, v(0.6, 0.0, 0.8, 0), sec("2021-03-09 14:16:00", 10)))
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = Streaming.sq8SemanticScreenStream(
      in.toDS().toDF("vec_id", "embedding", "event_time"),
      idx, cents, stats, 0.9)
      .writeStream.outputMode("append").format("memory")
      .queryName("sq8screen1").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData((99L, v(1, 0, 0, 0), sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val streamed = spark.table("sq8screen1").where(col("vec_id") < 99)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(streamed ==
        Map(10L -> false, 12L -> true, 13L -> true, 14L -> false),
        s"screen verdicts drifted: $streamed")
      // parity: the same face applied to a BATCH frame (stream-static ops
      // are plain joins) produces identical verdicts
      val batchDf = rows.toDF("vec_id", "embedding", "event_time")
      val batch = Streaming.sq8SemanticScreenStream(
        batchDf, idx, cents, stats, 0.9)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(batch == streamed, "face-on-batch must equal face-on-stream")
    } finally q.stop()
  }

  test("logisticScoreStream probabilities equal the batch scorer row-for-row") {
    import graft.operators.{ClassifyOps, TextOps}
    val docs = graft.Tables.documents(spark, sf).where(col("doc_id") < 80)
      .select("doc_id", "text").cache()
    val feats = ClassifyOps.logisticQualityFeatures(TextOps.gopherQuality(
      docs, col("doc_id"), col("text"),
      ClassifyOps.distillFeatures(col("text")) :+
        TextOps.funnelPredicates(col("text")).last._2.as("label")))
    val w = ClassifyOps.logisticFit(feats, ClassifyOps.QualityFeatCols,
      col("label"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.logisticScoreStream(
      in.toDS().toDF("doc_id", "text"), w)
      .writeStream.outputMode("append").format("memory")
      .queryName("lg1").start()
    try {
      in.addData(rows.take(40).toIndexedSeq: _*); q.processAllAvailable()
      in.addData(rows.drop(40).toIndexedSeq: _*); q.processAllAvailable()
      val streamed = spark.table("lg1").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
      val batch = ClassifyOps.logisticScore(feats,
          ClassifyOps.QualityFeatCols, w)
        .select(col("doc_id"), col("p_keep"), col("pred_keep")).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
      assert(streamed == batch,
        "ingest-time keep-probabilities must equal the batch scorer exactly")
      assert(batch.values.map(_._1).toSet.size > 10,
        "fixture sanity — probabilities must actually vary")
    } finally q.stop()
  }

  test("typoSuggestStream: OOV words resolve to the closest frequent vocab word") {
    val vocab = Seq(("table", 10L), ("cable", 3L), ("chair", 5L))
      .toDF("word", "df")
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.typoSuggestStream(
      in.toDS().toDF("doc_id", "text", "event_time"), vocab)
      .writeStream.outputMode("append").format("memory")
      .queryName("typo1").start()
    try {
      in.addData(
        // tble -> table (lev 1; cable is lev 2, out of range at d=1);
        // aable ties table/cable at lev 1 -> df breaks it (table, 10);
        // zzzzz has no neighbor; chair/table are in-vocab
        (1L, "table tble zzzzz chair", sec("2021-03-09 14:15:00", 1)),
        (2L, "aable cable", sec("2021-03-09 14:15:00", 20)))
      q.processAllAvailable()
      in.addData((99L, "table", sec("2021-03-09 14:15:00", 4000))) // closer
      q.processAllAvailable()
      val got = spark.table("typo1").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == Map(
        (1L, "tble") -> (("table", 1L, 10L)),
        (2L, "aable") -> (("table", 1L, 10L))), s"$got")
    } finally q.stop()
  }

  test("cdcApplySink materializes the change log to the one-shot MERGE state") {
    import graft.operators.AuditOps
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft-cdc").toString
    val initial = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "text")
    val batch1 = Seq((2L, "b1", 1L, "upsert"), (3L, "c", 1L, "delete"),
      (7L, "g", 1L, "upsert"))
    val batch2 = Seq((2L, "b2", 2L, "upsert"), (7L, "g", 2L, "delete"),
      (3L, "c-back", 2L, "upsert"))
    val in = MemoryStream[(Long, String, Long, String)]
    val q = in.toDS().toDF("id", "text", "seq", "op")
      .writeStream.outputMode("append")
      .option("checkpointLocation", stateDir + "/_ckpt")
      .foreachBatch(Streaming.cdcApplySink(stateDir, initial, "id"))
      .start()
    try {
      in.addData(batch1.toIndexedSeq: _*); q.processAllAvailable()
      // mid-stream time travel: version 0 is the post-batch-1 state
      val mid = Streaming.cdcSnapshot(spark, stateDir, initial)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(mid == Map(1L -> "a", 2L -> "b1", 4L -> "d", 7L -> "g"))
      in.addData(batch2.toIndexedSeq: _*); q.processAllAvailable()
      val fin = Streaming.cdcSnapshot(spark, stateDir, initial)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val oneShot = AuditOps.applyChangeSet(initial,
        (batch1 ++ batch2).toDF("id", "text", "seq", "op"), "id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fin == oneShot,
        "materialized stream state must equal one MERGE of the full log")
      // the pre-batch-2 version is still readable (time travel)
      val tt = Streaming.cdcSnapshot(spark, stateDir, initial, maxVersion = 0)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(tt == mid, "v=0 must remain the as-of-batch-0 snapshot")

      // retention: a long replay accumulates one version per micro-batch;
      // squash bounds it. Third batch -> versions {0,1,2}; keep last 2.
      in.addData((4L, "d3", 3L, "upsert")); q.processAllAvailable()
      val dropped = Streaming.cdcSquash(spark, stateDir, keepLast = 2)
      assert(dropped == Seq(0L), s"squash must drop exactly v=0: $dropped")
      def versionDirs = new java.io.File(stateDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .map(_.getName).sorted.toSeq
      assert(versionDirs == Seq("v=1", "v=2"),
        s"retained version count must be bounded: $versionDirs")
      // time travel ACROSS the squash boundary: the latest and the
      // retained v=1 still answer; below the floor fails fast instead of
      // silently answering `initial`
      val post = Streaming.cdcSnapshot(spark, stateDir, initial)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(post == fin + (4L -> "d3"))
      assert(Streaming.cdcSnapshot(spark, stateDir, initial, maxVersion = 1)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == fin,
        "v=1 must survive the squash intact")
      intercept[IllegalStateException] {
        Streaming.cdcSnapshot(spark, stateDir, initial, maxVersion = 0)
      }
      // batch-0 replay (maxVersion < 0) still resolves to `initial` — the
      // sink's restart path does not depend on squashed history
      assert(Streaming.cdcSnapshot(spark, stateDir, initial, maxVersion = -1)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
        Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    } finally q.stop()
  }

  test("semanticContaminationStream verdicts equal the batch screen") {
    import graft.operators.SimilarityOps
    val emb = graft.Tables.embeddings(spark, sf).cache()
    val evalSet = emb.where(col("vec_id") < 25)
      .select("vec_id", "embedding").cache()
    val corpus = emb.where(col("vec_id") >= 25)
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = Streaming.semanticContaminationStream(
      in.toDS().toDF("vec_id", "embedding", "event_time"), evalSet,
      0.4, 4, 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("semcon1").start()
    try {
      val (a, b) = rows.splitAt(40)
      in.addData(a.map { case (id, e) =>
        (id, e, ts("2021-03-09 14:15:00")) }.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b.map { case (id, e) =>
        (id, e, ts("2021-03-09 14:15:30")) }.toIndexedSeq: _*)
      in.addData((99999L, Array.fill(64)(0.0f), sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val streamed = spark.table("semcon1")
        .where(col("vec_id") =!= 99999L).collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val batch = SimilarityOps.semanticContamination(
        corpus, evalSet, col("vec_id"), col("embedding"), 0.4, 4, 4)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(batch.nonEmpty, "fixture sanity — some contamination flagged")
      assert(streamed == batch,
        "ingest verdicts must equal the batch screen's strongest witnesses")
    } finally { q.stop(); evalSet.unpersist(blocking = false)
      emb.unpersist(blocking = false) }
  }

  test("nbClassifyStream scores equal the batch classifier row-for-row") {
    import graft.operators.ClassifyOps
    val docs = graft.Tables.documents(spark, sf).where(col("doc_id") < 60)
      .select("doc_id", "text", "lang").cache()
    val labels = docs.select("lang").distinct()
      .as[String].collect().sorted.toSeq
    val (modelDf, priDf) = ClassifyOps.nbFit(
      docs, col("text"), col("lang"), labels)
    val model = modelDf.cache()
    val pri = priDf.cache()
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.nbClassifyStream(
      in.toDS().toDF("doc_id", "text", "event_time"), model, pri, labels)
      .writeStream.outputMode("append").format("memory")
      .queryName("nbc1").start()
    try {
      val (a, b) = rows.splitAt(30)
      in.addData(a.map { case (id, t) =>
        (id, t, ts("2021-03-09 14:15:00")) }.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b.map { case (id, t) =>
        (id, t, ts("2021-03-09 14:15:30")) }.toIndexedSeq: _*)
      in.addData((99999L, "zzz", sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val streamed = spark.table("nbc1")
        .where(col("doc_id") =!= 99999L).collect()
        .map(r => r.getLong(1) ->
          ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
      val batch = ClassifyOps.nbClassify(
        docs, col("text"), col("lang"),
        docs, col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(batch.values.map(_._1).toSet.size > 1,
        "fixture sanity — more than one predicted class")
      assert(streamed == batch,
        "ingest-time scores must equal the batch classifier exactly")
    } finally {
      q.stop()
      model.unpersist(blocking = false); pri.unpersist(blocking = false)
      docs.unpersist(blocking = false)
    }
  }

  test("bm25ScoreStream routing scores equal the batch ranking's scores") {
    import graft.operators.RetrievalOps
    val docs = graft.Tables.documents(spark, sf)
      .where(col("doc_id") < 80).select("doc_id", "text").cache()
    val queries = docs.where(col("doc_id") < 3)
    val index = RetrievalOps.bm25QueryIndex(docs, col("doc_id"),
      col("text"), queries, col("doc_id"), col("text")).cache()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.bm25ScoreStream(
      in.toDS().toDF("doc_id", "text", "event_time"), index)
      .writeStream.outputMode("append").format("memory")
      .queryName("bm25s1").start()
    try {
      in.addData(rows.map { case (id, t) =>
        (id, t, ts("2021-03-09 14:15:00")) }.toIndexedSeq: _*)
      in.addData((-1L, "x", sec("2021-03-09 14:15:00", 4000))) // flush
      q.processAllAvailable()
      val streamed = spark.table("bm25s1")
        .where(col("doc_id") >= 0).collect()
        .map(r => (r.getLong(1), r.getLong(2)) ->
          ((r.getLong(3), r.getDouble(4)))).toMap
      // batch ranking at k = corpus size keeps every scored (query, doc)
      val batch = RetrievalOps.bm25TopK(docs, col("doc_id"), col("text"),
        queries, col("doc_id"), col("text"), 100000).collect()
        .map(r => (r.getLong(2), r.getLong(0)) ->
          ((r.getLong(3), r.getDouble(4)))).toMap
      assert(batch.nonEmpty && streamed == batch,
        "replaying the corpus through the routing screen must reproduce " +
          s"the batch ranking's scores (${streamed.size} vs ${batch.size})")
    } finally {
      q.stop()
      index.unpersist(blocking = false); docs.unpersist(blocking = false)
    }
  }

  test("dsirScoreStream weights equal the batch scorer row-for-row") {
    import graft.operators.RetrievalOps
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").cache()
    val lr = RetrievalOps.dsirRatioTable(docs, col("text"),
      docs.where(col("lang") === "en"), col("text")).cache()
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.dsirScoreStream(
      in.toDS().toDF("doc_id", "text", "event_time"), lr)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsir1").start()
    try {
      in.addData(rows.take(40).map { case (id, t) =>
        (id, t, ts("2021-03-09 14:15:00")) }.toIndexedSeq: _*)
      // an arrival whose vocabulary the fit never saw: counted, scored 0
      in.addData((99999L, "qqzx zxqq", ts("2021-03-09 14:15:10")))
      in.addData((-1L, "x", sec("2021-03-09 14:15:00", 4000))) // flush
      q.processAllAvailable()
      val streamed = spark.table("dsir1")
        .where(col("doc_id") >= 0 && col("doc_id") =!= 99999L).collect()
        .map(r => r.getLong(1) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      val batch = RetrievalOps.dsirWeights(docs.where(col("doc_id") < 9999),
        col("doc_id"), col("text"),
        docs.where(col("lang") === "en"), col("text"))
        .where(col("doc_id").isin(rows.take(40).map(_._1): _*)).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(streamed == batch,
        "ingest-time DSIR weights must equal the batch scorer exactly")
      val unseen = spark.table("dsir1")
        .where(col("doc_id") === 99999L).collect()
      assert(unseen.length == 1 && unseen(0).getLong(2) == 2L &&
        unseen(0).getDouble(3) == 0.0,
        "out-of-vocabulary arrivals count tokens and score 0")
    } finally {
      q.stop()
      lr.unpersist(blocking = false); docs.unpersist(blocking = false)
    }
  }

  test("takedownScreenStream verdicts equal the batch propagation's non-listed rows") {
    import graft.operators.DedupOps
    // corpus subset + a planted byte mirror of listed doc 0; doc 82 is
    // 0's deterministic LSH near-dup (the PipelineOpsSpec fixture)
    val corpus = graft.Tables.documents(spark, sf)
      .where(col("doc_id") < 120).select("doc_id", "text")
      .unionByName(graft.Tables.documents(spark, sf)
        .where(col("doc_id") === 0)
        .select(lit(9001L).as("doc_id"), col("text")))
    val del = Seq(0L).toDF("doc_id")
    val index = DedupOps.takedownIndex(corpus, del,
      col("doc_id"), col("text"), 2).cache()
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.takedownScreenStream(
      in.toDS().toDF("doc_id", "text", "event_time"), index, 2, 0.3)
      .writeStream.outputMode("append").format("memory")
      .queryName("takedown1").start()
    try {
      val (a, b) = rows.splitAt(60)
      in.addData(a.map { case (id, t) =>
        (id, t, ts("2021-03-09 14:15:00")) }.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b.map { case (id, t) =>
        (id, t, ts("2021-03-09 14:15:30")) }.toIndexedSeq: _*)
      in.addData((99999L, "zzz qqq xxx", sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val streamed = spark.table("takedown1")
        .where(col("doc_id") =!= 99999L).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val batch = DedupOps.takedownPropagation(corpus, del,
        col("doc_id"), col("text"), 2, 0.3).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(batch.nonEmpty && batch.values.map(_._1).toSet ==
        Set("listed", "exact_copy", "near_dup"),
        s"fixture sanity — all three screen reasons must fire: $batch")
      // full-row parity INCLUDING 'listed': the recrawl of a removed doc
      // under its own id must be blocked, not waved through (the id-reuse
      // blind spot — an id-equality exclusion here would let the listed
      // content re-enter)
      assert(streamed == batch,
        "ingest verdicts must equal the batch propagation's screen rows")
      assert(streamed.get(0L).map(_._1).contains("listed"),
        "the listed doc's own recrawl must be blocked as 'listed'")
    } finally { q.stop(); index.unpersist(blocking = false) }
  }

  test("quantizationDriftStream windows equal the batch monitor's delta row") {
    import graft.operators.PQOps
    val emb = graft.Tables.embeddings(spark, sf).limit(40).cache()
    val cbDf = emb.where(col("vec_id") < 8)
    val cents = cbDf.select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val all = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // minute 1: in-distribution rows; minute 2: the same rows pushed off
    // the fitted manifold (+2 per component, single-precision)
    val inDist = all.take(20)
    val drifted = all.drop(20).map { case (id, e) => (id, e.map(_ + 2.0f)) }
    val baseMean = PQOps.quantizationDrift(emb, emb, cbDf,
      col("vec_id"), col("embedding"), 8, 8).where(col("side") === "baseline")
      .select("mean_err").head.getDouble(0)
    def batchDelta(rows: Array[(Long, Array[Float])]) =
      PQOps.quantizationDrift(emb, rows.toSeq.toDF("vec_id", "embedding"),
        cbDf, col("vec_id"), col("embedding"), 8, 8)
        .where(col("side") === "delta")
        .select("n", "mean_err", "max_err", "err_ratio", "refit").head
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = Streaming.quantizationDriftStream(
      in.toDS().toDF("vec_id", "embedding", "event_time"), cents,
      baseMean, 8, 8)
      .writeStream.outputMode("append").format("memory")
      .queryName("qdrift1").start()
    try {
      in.addData(inDist.map { case (id, e) =>
        (id, e, ts("2021-03-09 14:15:00")) }.toIndexedSeq: _*)
      in.addData(drifted.map { case (id, e) =>
        (id, e, ts("2021-03-09 14:16:00")) }.toIndexedSeq: _*)
      q.processAllAvailable()
      // a far-future row closes both windows in append mode
      in.addData((999L, Array.fill(64)(0f), sec("2021-03-09 14:15:00", 4000)))
      q.processAllAvailable()
      val windows = spark.table("qdrift1")
        .where(col("minute") < ts("2021-03-09 14:17:00")).collect()
        .map(r => r.getTimestamp(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getBoolean(5)))).toMap
      assert(windows.size == 2, s"expected two closed windows: $windows")
      def asTuple(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getBoolean(4))
      val calm = windows(ts("2021-03-09 14:15:00"))
      val hot = windows(ts("2021-03-09 14:16:00"))
      assert(calm == asTuple(batchDelta(inDist)),
        "in-distribution window must equal the batch monitor row-for-row")
      assert(hot == asTuple(batchDelta(drifted)),
        "drifted window must equal the batch monitor row-for-row")
      assert(!calm._5 && hot._5,
        s"refit must flag exactly the drifted window: calm=$calm hot=$hot")
    } finally q.stop()
  }

  test("videoNearDupScreenStream: trimmed copy verdicts at frac 1.0, partial overlap below threshold is silent") {
    val base = "2021-03-09 14:15:00"
    val (hA0, hA1, hA2, hA3) = (0x1111111111111111L, 0x2222222222222222L,
      0x3333333333333333L, 0x4444444444444444L)
    val corpus = Seq(
      (1L, true, 0, hA0), (1L, true, 1, hA1),
      (1L, true, 2, hA2), (1L, true, 3, hA3),
      (2L, false, -1, 0L))                    // broken corpus row: ignored
      .toDF("media_id", "ok", "frame_idx", "fhash")
    val in = MemoryStream[(Long, Boolean, Int, Long, Int, Timestamp)]
    val q = Streaming.videoNearDupScreenStream(
      in.toDS().toDF("media_id", "ok", "frame_idx", "fhash", "nf", "ts"),
      corpus, maxHamming = 6, minMatchFrac = 0.5,
      watermarkDelay = "10 seconds", windowLen = "60 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("vidscreen1").start()
    try {
      val t0 = sec(base, 5)
      in.addData(
        // 10: exact 2-frame trim of corpus video 1 -> frac 2/2 = 1.0
        (10L, true, 0, hA0, 2, t0), (10L, true, 1, hA1, 2, t0),
        // 11: unrelated (no band byte shared with any corpus hash)
        (11L, true, 0, 0x5555555555555555L, 1, t0),
        // 12: one frame of four matches -> frac 0.25 < 0.5 -> silent
        (12L, true, 0, hA0, 4, t0), (12L, true, 1, 0x6666666666666666L, 4, t0),
        (12L, true, 2, 0x7777777777777777L, 4, t0),
        (12L, true, 3, 0x8888888888888888L, 4, t0),
        // 13: near (hamming 1-2 per frame) trim -> frac 1.0
        (13L, true, 0, hA0 ^ 0x1L, 2, t0), (13L, true, 1, hA1 ^ 0x3L, 2, t0))
      q.processAllAvailable()
      // advance the watermark past window end (60 s) + delay (10 s)
      in.addData((99L, true, 0, 0x5555555555555555L, 1, sec(base, 90)))
      q.processAllAvailable()
      val out = spark.table("vidscreen1").collect()
        .map(r => (r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getInt(4), r.getDouble(5))).toMap
      assert(out.keySet == Set((10L, 1L), (13L, 1L)),
        s"verdicts must be exactly the two trims, got ${out.keySet}")
      assert(out((10L, 1L)) == ((2L, 2, 1.0)), s"got ${out((10L, 1L))}")
      assert(out((13L, 1L)) == ((2L, 2, 1.0)), s"got ${out((13L, 1L))}")
    } finally q.stop()
  }

  test("sessionize: run crossing micro-batches survives in state") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[FlagSample]
    val q = Streaming.sessionize(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sess1").start()
    try {
      // batch 1: run open at end of batch
      in.addData((0 to 10).map(i => FlagSample(1L, sec(base, i), flag = true)))
      q.processAllAvailable()
      assert(spark.table("sess1").isEmpty, "open run must not emit yet")
      // batch 2: flag drops -> session emitted, spanning both batches
      in.addData(FlagSample(1L, sec(base, 12), flag = false))
      q.processAllAvailable()
      val out = spark.table("sess1").as[SessionOut].collect()
      assert(out.toSeq == Seq(
        SessionOut(1L, sec(base, 0), sec(base, 10), 11L)))
    } finally q.stop()
  }

  test("sessionize: event-time timeout closes a dangling run") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[FlagSample]
    val q = Streaming.sessionize(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sess2").start()
    try {
      in.addData((0 to 4).map(i => FlagSample(7L, sec(base, i), flag = true)))
      q.processAllAvailable()
      // another trip's sample far in the future pushes the watermark past
      // the 400 s session-close timeout
      in.addData(FlagSample(8L, sec(base, 2000), flag = false))
      q.processAllAvailable()
      in.addData(FlagSample(8L, sec(base, 2001), flag = false))
      q.processAllAvailable()
      val out = spark.table("sess2").as[SessionOut].collect()
      assert(out.toSeq == Seq(SessionOut(7L, sec(base, 0), sec(base, 4), 5L)))
    } finally q.stop()
  }

  test("sessionize matches batch gaps-and-islands on the ZTBus fixture") {
    implicit val s = spark
    val samples = graft.ztbus.Fixtures.telemetry().map(t =>
      FlagSample(t.trip_id, t.time, t.status_halt_brake_is_active))
    val batchRuns = graft.ztbus.Algorithms.brakeSessions(
      graft.ztbus.Fixtures.telemetry().toDF(), "status_halt_brake_is_active")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet

    val in = MemoryStream[FlagSample]
    val q = Streaming.sessionize(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sess3").start()
    try {
      // split mid-run (trip 1 run is samples 50..69) to cross batches
      val (a, b) = samples.partition(_.time.getTime <
        Timestamp.valueOf("2021-03-09 14:16:05").getTime)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      // close any open runs via a far-future watermark pusher
      in.addData(FlagSample(99L, sec("2021-03-09 16:00:00", 0), flag = false))
      q.processAllAvailable()
      in.addData(FlagSample(99L, sec("2021-03-09 16:00:01", 0), flag = false))
      q.processAllAvailable()
      val streamRuns = spark.table("sess3").as[SessionOut].collect()
        .map(r => (r.trip_id, r.time_from, r.time_to, r.n_samples)).toSet
      assert(streamRuns == batchRuns,
        s"stream $streamRuns\nbatch $batchRuns")
    } finally q.stop()
  }

  test("sessionize: data later than the watermark is dropped (W6 bound)") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[FlagSample]
    val q = Streaming.sessionize(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sess4").start()
    try {
      // push the watermark to ~14:41:40 (1600s later, minus 400s delay)
      in.addData(FlagSample(2L, sec(base, 2000), flag = false))
      q.processAllAvailable()
      in.addData(FlagSample(2L, sec(base, 2001), flag = false))
      q.processAllAvailable()
      // a run entirely BELOW the watermark arrives late -> must be ignored
      in.addData((0 to 5).map(i => FlagSample(1L, sec(base, i), flag = true)))
      q.processAllAvailable()
      in.addData(FlagSample(1L, sec(base, 10), flag = false))
      q.processAllAvailable()
      assert(spark.table("sess4").isEmpty,
        "late data beyond the watermark must not create sessions " +
          "(reference's hard lookback cap, SURVEY W6)")
    } finally q.stop()
  }

  test("dedupStream drops repeats within the watermark horizon") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[FlagSample]
    val q = Streaming.dedupStream(in.toDF(), "time", Seq("trip_id"))
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    try {
      in.addData(
        FlagSample(1L, sec(base, 1), flag = true),
        FlagSample(1L, sec(base, 1), flag = true), // exact repeat
        FlagSample(2L, sec(base, 2), flag = false))
      q.processAllAvailable()
      in.addData(FlagSample(1L, sec(base, 1), flag = true)) // repeat, batch 2
      q.processAllAvailable()
      assert(spark.table("dd").count() == 2)
    } finally q.stop()
  }

  test("intervalJoinStream correlates window events with telemetry samples") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val win = MemoryStream[(Timestamp, Timestamp, String)]
    val tel = MemoryStream[FlagSample]
    val joined = Streaming.intervalJoinStream(
      win.toDF().toDF("time_from", "time_to", "wname"),
      tel.toDF().withColumnRenamed("trip_id", "tid"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivj").start()
    try {
      win.addData((sec(base, 0), sec(base, 60), "w1"),
        (sec(base, 60), sec(base, 120), "w2"))
      tel.addData(
        FlagSample(1L, sec(base, 10), flag = true),   // -> w1
        FlagSample(1L, sec(base, 60), flag = true),   // -> w2 (half-open)
        FlagSample(1L, sec(base, 200), flag = true))  // -> no window
      q.processAllAvailable()
      val got = spark.table("ivj").select("wname", "time")
        .as[(String, Timestamp)].collect().toSet
      assert(got == Set(("w1", sec(base, 10)), ("w2", sec(base, 60))))
    } finally q.stop()
  }

  test("fullMetricsStream matches batch perMinuteMetrics on every metric") {
    implicit val s = spark
    val in = MemoryStream[graft.ztbus.Telemetry]
    val q = Streaming.fullMetricsStream(in.toDS(),
        Some(graft.ztbus.Fixtures.trips.toDF())).writeStream
      .outputMode("append").format("memory").queryName("fm").start()
    try {
      // feed in two batches split mid-stream so diffs must cross the
      // state boundary, then push the watermark far past every minute
      val samples = graft.ztbus.Fixtures.telemetry()
        .sortBy(t => (t.trip_id, t.time.getTime))
      val (a, b) = samples.partition(_.time.getTime <
        ts("2021-03-09 14:20:00").getTime)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      in.addData(samples.head.copy(id = 999999L, trip_id = 99L,
        time = ts("2021-03-09 18:00:00")))
      q.processAllAvailable()
      in.addData(samples.head.copy(id = 999998L, trip_id = 99L,
        time = ts("2021-03-09 18:00:01")))
      q.processAllAvailable()

      val metricCols = Seq("temp_50p", "kwh", "dist_m", "passenger_m", "kwh_per_km",
        "kwh_per_passenger_km", "dwell_time_s", "total_s",
        "door_open_fraction", "accel_mean", "accel_std", "jerk_p95",
        "articulation_var", "brake_pressure_mean", "bus_id", "route_id")
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .where(col("trip_id") =!= 99L)
        .select((Seq("minute", "trip_id") ++ metricCols).map(col): _*)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) ->
          metricCols.zipWithIndex.map { case (c, i) => c -> r.get(i + 2) }.toMap)
        .toMap
      val stream = keyed(spark.table("fm"))
      val batch = keyed(graft.ztbus.Algorithms.perMinuteMetrics(
        graft.ztbus.Fixtures.telemetry().toDF(),
        graft.ztbus.Fixtures.trips.toDF()))
      assert(stream.keySet == batch.keySet,
        s"every finalized (minute, trip) must appear: ${batch.keySet -- stream.keySet}")
      // exact for counts, decimal sums/means and the interpolated
      // percentiles; a small tolerance only for the double aggregates
      // whose value depends on summation order
      val orderDependent = Set("accel_std", "articulation_var",
        "brake_pressure_mean")
      def asD(v: Any): Double = v match {
        case null => Double.NaN
        case n: Number => n.doubleValue
      }
      stream.foreach { case (k, sm) =>
        val bm = batch(k)
        metricCols.foreach { c =>
          val (sv, bv) = (asD(sm(c)), asD(bm(c)))
          if (sv.isNaN || bv.isNaN) assert(sv.isNaN == bv.isNaN, s"$k $c null mismatch")
          else if (orderDependent(c))
            assert(math.abs(sv - bv) <= math.abs(bv) * 1e-9 + 1e-9,
              s"$k $c: stream $sv vs batch $bv")
          else assert(sv == bv, s"$k $c: stream $sv != batch $bv")
        }
      }
    } finally q.stop()
  }

  test("sessionStatsStream matches batch brakeSessionStats on mergeable stats") {
    implicit val s = spark
    // extractor order must mirror the batch stats column order
    assert(Streaming.statsExtractors.size ==
      graft.ztbus.Algorithms.statsColumns.size)
    val in = MemoryStream[graft.ztbus.Telemetry]
    val q = Streaming.sessionStatsStream(in.toDS(), "status_halt_brake_is_active")
      .writeStream.outputMode("append").format("memory").queryName("sst").start()
    try {
      val samples = graft.ztbus.Fixtures.telemetry()
        .sortBy(t => (t.trip_id, t.time.getTime))
      // split mid-run so an open session must survive in state
      val (a, b) = samples.partition(_.time.getTime <
        ts("2021-03-09 14:16:05").getTime)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      // watermark pushers: close any dangling run via the event-time timer
      in.addData(samples.head.copy(id = 999999L, trip_id = 99L,
        time = ts("2021-03-09 18:00:00"), status_halt_brake_is_active = false))
      q.processAllAvailable()
      in.addData(samples.head.copy(id = 999998L, trip_id = 99L,
        time = ts("2021-03-09 18:00:01"), status_halt_brake_is_active = false))
      q.processAllAvailable()

      type K = (Long, Timestamp, Timestamp, Long, String, String)
      def keyed(df: org.apache.spark.sql.DataFrame): Map[K, Option[Double]] =
        df.where(col("trip_id") =!= 99L)
          .select("trip_id", "time_from", "time_to", "n_samples",
            "column", "stat", "value")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1),
            r.getTimestamp(2), r.getLong(3), r.getString(4), r.getString(5)) ->
            (if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toMap
      val stream = keyed(spark.table("sst"))
      val batch = keyed(graft.ztbus.Algorithms.brakeSessionStats(
          graft.ztbus.Fixtures.telemetry().toDF(), "status_halt_brake_is_active")
        .where(col("stat").isin("mean", "std", "min", "max")))
      assert(stream.keySet == batch.keySet,
        s"session/stat keys must line up; missing=${batch.keySet -- stream.keySet} " +
          s"extra=${stream.keySet -- batch.keySet}")
      stream.foreach { case (k, sv) =>
        val bv = batch(k)
        (sv, bv) match {
          case (None, None) => ()
          case (Some(x), Some(y)) =>
            val tol = k._6 match {
              case "min" | "max" => 0.0
              case "std" => 1e-4   // both 4-decimal rounded, ulp at the edge
              case _ => math.abs(y) * 1e-9 + 1e-12 // Welford vs decimal sum
            }
            assert(math.abs(x - y) <= tol, s"$k: stream $x vs batch $y")
          case other => fail(s"$k: null mismatch $other")
        }
      }
    } finally q.stop()
  }

  test("fullMetricsStream: late in-watermark samples are counted, not dropped") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[graft.ztbus.Telemetry]
    val q = Streaming.fullMetricsStream(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("fml").start()
    try {
      def t(id: Long, secs: Int, speed: Double) =
        graft.ztbus.Fixtures.telemetry().head.copy(
          id = id, trip_id = 5L, time = sec(base, secs),
          odometry_vehicle_speed = speed)
      // batch 1: samples 0,1,2,4,5 (3 missing); batch 2 delivers 3 LATE
      in.addData(Seq(0, 1, 2, 4, 5).map(i => t(i.toLong, i, i.toDouble)))
      q.processAllAvailable()
      in.addData(t(3L, 3, 3.0))
      q.processAllAvailable()
      // watermark pushers finalize the minute
      in.addData(t(999999L, 7200, 0.0).copy(trip_id = 99L))
      q.processAllAvailable()
      in.addData(t(999998L, 7201, 0.0).copy(trip_id = 99L))
      q.processAllAvailable()
      val row = spark.table("fml").where(col("trip_id") === 5L)
        .select("total_s", "dist_m", "accel_mean")
        .as[(Long, Double, Double)].head()
      assert(row._1 == 6L, s"late row must still be counted: $row")
      assert(row._2 == 15.0, s"late row must reach the sums: $row")
      // diffs: 0(first) +1 +1 +2 +1 in arrival order, late row resets to 0
      assert(row._3 == 5.0 / 6.0, s"late row contributes accel 0: $row")
    } finally q.stop()
  }

  /** Runs `fullMetricsStream` over `feed`, one `addData` per element, with
    * no-data micro-batches on or off. Returns each emitted row as (batch
    * id, trip, minute in seconds from `base`, total_s), sorted, and each
    * micro-batch's watermark in seconds from `base`. */
  private def metricsEmissions(base: String, feed: Seq[Seq[graft.ztbus.Telemetry]],
      noDataBatches: Boolean): (Seq[(Long, Long, Long, Long)], Map[Long, Long]) = {
    implicit val s = spark
    val baseMs = ts(base).getTime
    val conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.get(conf)
    spark.conf.set(conf, noDataBatches.toString)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) =>
      df.select("trip_id", "minute", "total_s").collect().foreach(r => rows.add(
        (id, r.getLong(0), (r.getTimestamp(1).getTime - baseMs) / 1000, r.getLong(2))))
    val in = MemoryStream[graft.ztbus.Telemetry]
    val q = Streaming.fullMetricsStream(in.toDS()).writeStream
      .outputMode("append").foreachBatch(sink).start()
    try {
      feed.foreach { b => in.addData(b); q.processAllAvailable() }
      val wm = q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark"))
        .map(w => p.batchId -> (java.time.Instant.parse(w).toEpochMilli - baseMs) / 1000))
        .toMap
      (rows.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq.sorted, wm)
    } finally {
      q.stop()
      spark.conf.set(conf, saved)
    }
  }

  test("fullMetricsStream emits a minute in the micro-batch where the watermark reaches its end") {
    val base = "2021-03-09 14:15:00"
    def t(trip: Long, secs: Int) = graft.ztbus.Fixtures.telemetry().head.copy(
      id = trip * 100000L + secs, trip_id = trip, time = sec(base, secs))
    val feed = Seq(
      (0 to 9).map(t(1L, _)) :+ t(2L, 5),
      // trip 1's sample at 460 s moves the watermark to 60 s: minute 0's end
      Seq(t(1L, 460)),
      // trip 1 has data in the first data batch at watermark 60 s; trip 2
      // has none and must emit through its timeout
      Seq(t(1L, 470)),
      Seq(t(3L, 470)),
      // at watermark 70 s: trip 2 samples below it (minute 0, already
      // emitted) and at it (minute 1) are dropped
      Seq(t(2L, 30), t(2L, 70)),
      // watermark pushers
      Seq(t(99L, 7200)), Seq(t(99L, 7201)))
    Seq(true -> Seq((3L, 1L, 0L, 10L), (3L, 2L, 0L, 1L), (9L, 1L, 420L, 2L),
        (9L, 3L, 420L, 1L)),
      false -> Seq((2L, 1L, 0L, 10L), (2L, 2L, 0L, 1L), (6L, 1L, 420L, 2L),
        (6L, 3L, 420L, 1L))).foreach { case (noData, expect) =>
      val (rows, wm) = metricsEmissions(base, feed, noData)
      assert(rows == expect, s"no-data batches $noData: $rows; watermarks $wm")
      rows.foreach { case (id, trip, minute, _) =>
        val end = minute + 60
        assert(wm(id) >= end && wm.forall { case (b, w) => b >= id || w < end },
          s"trip $trip minute $minute must emit when the watermark first " +
            s"reaches its end: batch $id, watermarks $wm")
      }
      assert(wm(rows.head._1) == 60, "minute 0 emits at a watermark equal to its end")
    }
  }

  /** Both session faces on one run protocol (DECISIONS.md round 24): each
    * case is micro-batches of one trip's `(second, flag)` samples, the
    * sessions both faces must emit, and whether batch `brakeSessions`
    * gives the same sessions. */
  private val sessionCases: Seq[(String, Seq[Seq[(Int, Boolean)]],
      Seq[(Int, Int, Long)], Boolean)] = {
    val ties = Seq(0 -> true, 1 -> true, 2 -> true, 2 -> false, 3 -> false,
      3 -> true, 4 -> false)
    Seq(
      // batch 1: flagged 0,1,2,4,5 (3 missing); batch 2: late flagged 3,
      // then a closing false at 6
      ("late flagged sample widens the open run, never regresses it",
        Seq(Seq(0, 1, 2, 4, 5).map(_ -> true), Seq(3 -> true, 6 -> false)),
        Seq((0, 5, 6L)), true),
      // batch would split the run at 3; bounded state cannot
      ("late false sample inside the open run is ignored, the run stays open",
        Seq(Seq(0, 1, 2, 4, 5).map(_ -> true),
          Seq(3 -> false, 6 -> true, 7 -> false)),
        Seq((0, 6, 6L)), false),
      // the false 2 s is already seen when the late flagged 1 s arrives;
      // batch gives (1 s, 1 s) and (5 s, 5 s), bounded state widens the
      // open run back across the false sample
      ("late flagged sample before a false sample already seen joins the open run",
        Seq(Seq(2 -> false, 5 -> true), Seq(1 -> true, 6 -> false)),
        Seq((1, 5, 2L)), false),
      ("equal timestamps take flagged samples first",
        Seq(ties), Seq((0, 2, 3L), (3, 3, 1L)), true),
      ("equal timestamps in reversed arrival order give the same sessions",
        Seq(ties.reverse), Seq((0, 2, 3L), (3, 3, 1L)), true))
  }

  sessionCases.foreach { case (name, plan, expect, equalsBatch) =>
    test(s"both session faces: $name") {
      implicit val s = spark
      val batches = plan.map(_.map { case (sec, flag) => (5L, sec, flag) })
      val want = expect.map { case (a, b, n) =>
        (5L, SessionFaces.at(a), SessionFaces.at(b), n) }.toSet
      val got = SessionFaces.run(batches)
      assert(got.sessionize == want, s"sessionize: ${got.sessionize}")
      assert(got.stats == want, s"sessionStatsStream: ${got.stats}")
      SessionFaces.assertStatsOverFlagged(got, batches.flatten)
      val batch = SessionFaces.batch(batches.flatten)
      assert((batch == want) == equalsBatch, s"batch brakeSessions: $batch")
    }
  }

  test("session faces split differently on a tie whose ids put the false sample first") {
    implicit val s = spark
    // flagged and false at 2 s; the telemetry id orders the false one
    // first, and FlagSample, which has no id, takes the flagged one first
    val batches = Seq(Seq(0 -> true, 1 -> true, 2 -> true, 2 -> false, 3 -> false)
      .map { case (sec, flag) => (5L, sec, flag) })
    def bounds(ss: (Int, Int, Long)*) = ss.map { case (a, b, n) =>
      (5L, SessionFaces.at(a), SessionFaces.at(b), n) }.toSet
    val got = SessionFaces.run(batches, falseFirst = true)
    assert(got.sessionize == bounds((0, 2, 3L)), s"sessionize: ${got.sessionize}")
    assert(got.stats == bounds((0, 1, 2L), (2, 2, 1L)),
      s"sessionStatsStream: ${got.stats}")
    SessionFaces.assertStatsOverFlagged(got, batches.flatten)
    assert(SessionFaces.batch(batches.flatten, falseFirst = true) == got.stats,
      "batch brakeSessions sorts by (time, id) as sessionStatsStream does")
  }

  test("sessionStatsStream rejects an unsupported flag column at the call") {
    implicit val s = spark
    val in = MemoryStream[graft.ztbus.Telemetry]
    val e = intercept[IllegalArgumentException](
      Streaming.sessionStatsStream(in.toDS(), "status_door_is_open"))
    assert(e.getMessage.contains("status_door_is_open"))
  }

  test("sessionStatsStream park-brake flag selects the park column") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[graft.ztbus.Telemetry]
    val q = Streaming.sessionStatsStream(in.toDS(), "status_park_brake_is_active")
      .writeStream.outputMode("append").format("memory").queryName("sstp").start()
    try {
      def t(id: Long, secs: Int, park: Boolean, halt: Boolean) =
        graft.ztbus.Fixtures.telemetry().head.copy(
          id = id, trip_id = 6L, time = sec(base, secs),
          status_park_brake_is_active = park,
          status_halt_brake_is_active = halt)
      // park run 0..2; halt flag deliberately inverted to prove the
      // processor reads the requested column
      in.addData(
        t(0L, 0, park = true, halt = false),
        t(1L, 1, park = true, halt = false),
        t(2L, 2, park = true, halt = false),
        t(3L, 3, park = false, halt = true))
      q.processAllAvailable()
      val ns = spark.table("sstp").select("n_samples")
        .as[Long].collect().distinct
      assert(ns.toSeq == Seq(3L), s"park run must be 3 samples: ${ns.toSeq}")
    } finally q.stop()
  }

  test("minuteMetricsStream finalizes windows past the watermark") {
    implicit val s = spark
    val in = MemoryStream[graft.ztbus.Telemetry]
    val q = Streaming.minuteMetricsStream(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("mm").start()
    try {
      in.addData(graft.ztbus.Fixtures.telemetry())
      q.processAllAvailable()
      // trip 3 ends at 14:36:04; watermark = 14:36:04 - 400 s = 14:29:24,
      // so trip-1/2 minutes up to 14:28 are final.
      val got = spark.table("mm")
        .where(col("trip_id") === 1 && col("minute") === ts("2021-03-09 14:18:00"))
        .select("dwell_time_s", "total_s").as[(Long, Long)].collect()
      assert(got.toSeq == Seq((60L, 60L)))
      val batch = graft.ztbus.Algorithms.perMinuteMetrics(
        graft.ztbus.Fixtures.telemetry().toDF(), graft.ztbus.Fixtures.trips.toDF())
      val streamKwh = spark.table("mm")
        .where(col("trip_id") === 2 && col("minute") === ts("2021-03-09 14:17:00"))
        .select("kwh").as[Double].head()
      val batchKwh = batch
        .where(col("trip_id") === 2 && col("minute") === ts("2021-03-09 14:17:00"))
        .select("kwh").as[Double].head()
      assert(streamKwh == batchKwh, "streaming agg must equal batch agg")
    } finally q.stop()
  }
}
