package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.operators.{CorpusStatsOps, RegressionOps, SpanDedupOps, WinnowOps}

/** Round-12 ingest faces: arrivals screened/scored against FROZEN
  * batch-fitted indexes — cross-doc gram screen, robust-outlier gate,
  * ridge distillation scoring, winnow fingerprint screen. Each face is
  * pinned to its batch operator's semantics.
  */
class IngestFacesSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)
  private def sec(base: String, s: Int) =
    new Timestamp(Timestamp.valueOf(base).getTime + s * 1000L)
  private val T0 = "2021-03-09 14:15:00"

  test("crossDocScreenStream measures verbatim corpus overlap per arrival") {
    val corpus = Seq((1L, "p q r s t"), (2L, "u v w x y z"))
      .toDF("doc_id", "text")
    val index = SpanDedupOps.gramIndex(corpus, col("doc_id"), col("text"))
      .cache()
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.crossDocScreenStream(
      in.toDS().toDF("doc_id", "text", "event_time"), index)
      .writeStream.outputMode("append").format("memory")
      .queryName("xds1").start()
    try {
      in.addData(
        (10L, "x p q r y", ts(T0)),      // one shared gram "p q r" at pos 2
        (11L, "p q r s t", ts(T0)),      // verbatim corpus doc
        (12L, "aa bb cc dd", ts(T0)),    // fully novel
        (13L, "p q", ts(T0)))            // shorter than k
      in.addData((-1L, "x", sec(T0, 4000)))
      q.processAllAvailable()
      val out = spark.table("xds1").where(col("doc_id") >= 0).collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
          Option(r.getAs[java.lang.Double]("dup_frac")),
          r.getLong(5)))).toMap
      assert(out(10L) === ((3L, 1L, Some(0.333333), 3L)))
      assert(out(11L) === ((3L, 3L, Some(1.0), 5L)))
      assert(out(12L) === ((2L, 0L, Some(0.0), 0L)))
      assert(out(13L) === ((0L, 0L, None, 0L)))
    } finally { q.stop(); index.unpersist(blocking = false) }
  }

  test("robustOutlierStream applies the frozen batch baseline") {
    val corpus = Seq((1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 3.0),
      (4L, "g", 4.0), (5L, "g", 100.0)).toDF("doc_id", "lang", "v")
    val stats = CorpusStatsOps.robustStats(corpus, col("lang"), col("v"))
      .cache()
    val in = MemoryStream[(Long, String, Double, Timestamp)]
    val q = Streaming.robustOutlierStream(
      in.toDS().toDF("doc_id", "lang", "v", "event_time"),
      stats, "lang", col("v"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ros1").start()
    try {
      in.addData((20L, "g", 3.0, ts(T0)), (21L, "g", 200.0, ts(T0)),
        (22L, "unknown", 1.0, ts(T0)))
      q.processAllAvailable()
      val out = spark.table("ros1").collect()
        .map(r => r.getLong(1) ->
          ((r.getAs[Double]("robust_z"), r.getAs[Boolean]("is_outlier"))))
        .toMap
      assert(out(20L) === ((0.0, false)))
      // (200 - 3) / 1.4826 — judged by the CORPUS baseline, not the batch
      assert(math.abs(out(21L)._1 - 132.874680) < 1e-6)
      assert(out(21L)._2 === true)
      assert(!out.contains(22L)) // no fitted baseline for the group
    } finally { q.stop(); stats.unpersist(blocking = false) }
  }

  test("ridgeScoreStream reproduces the batch distilled scores") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").cache()
    val (x1, x2) = RegressionOps.qualityFeatures(col("text"))
    val data = docs.select(col("doc_id").as("id"), x1.as("x1"),
      x2.as("x2"),
      round(graft.operators.TextOps.qualityComposite(col("text")), 6)
        .as("y"))
    val model = RegressionOps.ridge2Fit(data).cache()
    val batch = RegressionOps.ridge2Score(data).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("y_hat")).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.ridgeScoreStream(
      in.toDS().toDF("doc_id", "text", "event_time"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("rss1").start()
    try {
      in.addData(rows.map { case (i, t) => (i, t, ts(T0)) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("rss1").collect()
        .map(r => r.getLong(1) -> r.getAs[Double]("y_hat")).toMap
      assert(streamed === batch)
    } finally {
      q.stop(); model.unpersist(blocking = false)
      docs.unpersist(blocking = false)
    }
  }

  test("corpusStatsSink appends per-batch stats equal to the batch op") {
    import graft.operators.CorpusStatsOps
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-stats").toString
    val in = MemoryStream[(Long, String, String, Timestamp)]
    val q = in.toDS().toDF("doc_id", "lang", "text", "event_time")
      .writeStream.outputMode("append")
      .foreachBatch(Streaming.corpusStatsSink(outDir))
      .start()
    try {
      val b0 = Seq((1L, "en", "a a b"), (2L, "en", "b c d"))
      val b1 = Seq((3L, "de", "x y"), (4L, "en", "a c"))
      in.addData(b0.map { case (i, l, t) => (i, l, t, ts(T0)) }: _*)
      q.processAllAvailable()
      in.addData(b1.map { case (i, l, t) => (i, l, t, ts(T0)) }: _*)
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .collect().map(r => (r.getAs[Long]("batch_id"),
          r.getAs[String]("grp")) -> ((r.getAs[Long]("n_types"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("n_hapax"))))
        .toMap
      def batchStats(rows: Seq[(Long, String, String)]) = {
        val df = rows.toDF("doc_id", "lang", "text")
        CorpusStatsOps.zipfDiagnostics(df, col("lang"), col("text"))
          .collect().map(r => r.getAs[String]("grp") ->
            ((r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"),
              r.getAs[Long]("n_hapax")))).toMap
      }
      val e0 = batchStats(b0); val e1 = batchStats(b1)
      assert(got === (e0.map { case (g, v) => (0L, g) -> v } ++
        e1.map { case (g, v) => (1L, g) -> v }))
    } finally q.stop()
  }

  test("winnowScreenStream finds the corpus doc an arrival copies") {
    val corpus = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val fpIndex = WinnowOps.fingerprints(corpus, col("doc_id"), col("text"))
      .cache()
    val fp1 = fpIndex.where(col("did") === 1L)
      .select("h").distinct().count()
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.winnowScreenStream(
      in.toDS().toDF("doc_id", "text", "event_time"), fpIndex)
      .writeStream.outputMode("append").format("memory")
      .queryName("wss1").start()
    try {
      in.addData(
        (30L, "one two three four five six seven eight nine ten", ts(T0)),
        (31L, "totally novel words with zero corpus overlap here", ts(T0)))
      in.addData((-1L, "x", sec(T0, 4000)))
      q.processAllAvailable()
      val out = spark.table("wss1").where(col("doc_id") >= 0).collect()
        .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(out === Map((30L, 1L) -> fp1))
    } finally { q.stop(); fpIndex.unpersist(blocking = false) }
  }

  test("corpusStatsSink replays a batch id idempotently (no duplicate stat rows)") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-stats-replay").toString
    val sink = Streaming.corpusStatsSink(outDir)
    val b = Seq((1L, "en", "a a b"), (2L, "de", "x y"))
      .toDF("doc_id", "lang", "text")
    sink(b, 7L)
    sink(b, 7L) // replay after a simulated failure
    val got = spark.read.parquet(outDir)
    assert(got.count() === 2L) // one row per group, not four
    assert(got.select("batch_id").distinct().collect()
      .map(_.get(0).toString).toSeq === Seq("7"))
  }

  test("gramIndexUpdate: folding a disjoint delta equals rebuilding from scratch") {
    val docs = graft.Tables.documents(spark, sf)
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val delta = docs.where(col("doc_id") % 4 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val merged = SpanDedupOps.gramIndexUpdate(
      SpanDedupOps.gramIndex(base, col("doc_id"), col("text")),
      delta, col("doc_id"), col("text"))
    val rebuilt = SpanDedupOps.gramIndex(docs, col("doc_id"), col("text"))
    assert(key(merged) === key(rebuilt))
    assert(merged.count() > 0)
  }

  test("fingerprintIndexUpdate: union of a disjoint delta equals rebuilding") {
    val docs = graft.Tables.documents(spark, sf)
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val delta = docs.where(col("doc_id") % 4 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val merged = WinnowOps.fingerprintIndexUpdate(
      WinnowOps.fingerprints(base, col("doc_id"), col("text")),
      delta, col("doc_id"), col("text"))
    assert(key(merged) ===
      key(WinnowOps.fingerprints(docs, col("doc_id"), col("text"))))
  }

  test("blocklistScreenUpdate: disjoint delta patterns fold additively") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a slow slow query on a fast table"),
      (2L, "nothing to see here"),
      (3L, "aggregate the table of queries")).toDF("doc_id", "text")
    val frozen = Seq("slow", "fast table")
    val delta = Seq("tab", "que") // hits overlap frozen matches in TEXT,
                                  // but the pattern SETS are disjoint
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val merged = TextOps.blocklistScreenUpdate(
      TextOps.blocklistScreen(docs, col("doc_id"), col("text"), frozen),
      docs, col("doc_id"), col("text"), delta)
    val rebuilt = TextOps.blocklistScreen(
      docs, col("doc_id"), col("text"), frozen ++ delta)
    assert(key(merged) === key(rebuilt))
    // the never-hit doc stays an explicit unflagged row in both
    val m = merged.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(m(2L) === ((0L, 0L, false)))
    assert(m(1L)._1 === 5L && m(1L)._3) // 2×slow + fast table + tab + que
  }

  test("knCountsUpdate: merged delta equals rebuild, down to each P(w|v)") {
    import graft.operators.TextOps
    // overlapping bigram vocabulary across base and delta, so the merge
    // actually SUMS (a disjoint-vocab fixture would pass with a broken
    // coalesce); plus a delta-only and a base-only bigram
    val base = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val delta = Seq((3L, "a b x y"), (4L, "c d c d")).toDF("doc_id", "text")
    val all = base.unionAll(delta)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val merged = TextOps.knCountsUpdate(
      TextOps.knBigramCounts(base, col("text")), delta, col("text"))
    assert(key(merged) === key(TextOps.knBigramCounts(all, col("text"))))
    // ("a","b") counted in BOTH halves: the fold must sum 2 + 1
    assert(merged.where(col("v") === "a" && col("w") === "b")
      .head().getAs[Long]("c_vw") === 3L)
    // every derived statistic re-derives identically from the fold
    assert(key(TextOps.knModelFromCounts(merged)) ===
      key(TextOps.knBigramModel(all, col("text"))))
  }

  test("robustDrift flags the drifted group and the degenerate frozen group only") {
    val frozen = Seq(
      ("en", 100.0, 10.0), ("de", 100.0, 10.0), ("zz", 100.0, 0.0))
      .toDF("grp", "med", "mad")
    // 'de' arrivals shifted far beyond 3 frozen MADs; 'en' stable;
    // 'new' has no frozen baseline at all
    val batch = (1 to 21).flatMap(i => Seq(
      ("en", 95.0 + i % 11), ("de", 300.0 + i % 11), ("new", 50.0 + i % 11)))
      .toDF("lang", "v")
    val out = CorpusStatsOps.robustDrift(
      frozen, batch, col("lang"), col("v"))
      .collect().map(r => r.getAs[String]("grp") ->
        r.getAs[Boolean]("needs_refit")).toMap
    assert(out === Map("en" -> false, "de" -> true,
      "zz" -> true, "new" -> true))
  }

  test("streamDedupStream collapses in-stream exact copies to one survivor") {
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.streamDedupStream(
      in.toDS().toDF("doc_id", "text", "event_time"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sdd1").start()
    try {
      in.addData(
        (1L, "the same syndicated body", ts(T0)),
        (2L, "the same syndicated body", sec(T0, 5)),
        (3L, "a different body", ts(T0)))
      in.addData((4L, "the same syndicated body", sec(T0, 20)))
      q.processAllAvailable()
      val got = spark.table("sdd1").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      // one survivor per distinct content within the watermark horizon
      assert(got.intersect(Set(1L, 2L, 4L)).size === 1)
      assert(got.contains(3L))
    } finally q.stop()
  }

  test("urlDedupStream audits every arrival: keeper, running count, keep flag") {
    // r14 verdict item 4 — the audit half of the streamDedup advisory:
    // copies are ATTRIBUTED (keeper_id, n_seen, keep=false), never
    // physically vanished; where(keep) reproduces the old dropping face
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.urlDedupStream(
      in.toDS().toDF("doc_id", "url", "event_time"))
      .writeStream.outputMode("append").format("memory")
      .queryName("udd1").start()
    try {
      val urls = Seq(
        (5L, "http://A.com:80/p?utm_source=x", ts(T0)),
        (2L, "http://a.com/p", sec(T0, 3)),
        (9L, "http://a.com/p#frag", sec(T0, 6)),
        (3L, "http://a.com/q", ts(T0)))
      in.addData(urls: _*)
      q.processAllAvailable()
      val got = spark.table("udd1")
        .select("doc_id", "url_canon", "keeper_id", "n_seen", "keep")
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4)))).toMap
      // EVERY arrival comes back out — nothing physically dropped
      assert(got.size === 4)
      // doc 5 is the first ARRIVAL of its key (event-time order) — the
      // stream's keeper; the batch face would keep min-id 2 instead —
      // the one documented divergence (a stream cannot know the future
      // min), reconciled below on the canonical-key partition
      assert(got(5L) === (("http://a.com/p", 5L, 1L, true)))
      assert(got(2L) === (("http://a.com/p", 5L, 2L, false)))
      assert(got(9L) === (("http://a.com/p", 5L, 3L, false)))
      assert(got(3L) === (("http://a.com/q", 3L, 1L, true)))
      // where(keep) == the old dropping face: one survivor per key
      val kept = got.collect { case (id, (u, _, _, true)) => id -> u }
      assert(kept.size === 2)
      // batch parity on the keyed partition: same distinct canon keys,
      // same group membership under keeper attribution
      val batch = graft.operators.UrlOps.urlDedup(
        graft.operators.UrlOps.canonicalize(
          urls.toDF("doc_id", "url", "event_time"),
          col("doc_id"), col("url")))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("url_canon")).toMap
      assert(batch.keySet === got.keySet)
      got.foreach { case (id, (u, keeper, _, _)) =>
        assert(batch(id) === u)
        // stream keeper and each copy share one batch canon key
        assert(batch(keeper) === u)
      }
    } finally q.stop()
  }

  test("urlDedupStream: NULL urls are stateless self-keepers (batch parity)") {
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.urlDedupStream(
      in.toDS().toDF("doc_id", "url", "event_time"))
      .writeStream.outputMode("append").format("memory")
      .queryName("udd2").start()
    try {
      in.addData(
        (1L, null.asInstanceOf[String], ts(T0)),
        (2L, null.asInstanceOf[String], sec(T0, 2)),
        (3L, "http://a.com/p", ts(T0)))
      q.processAllAvailable()
      val got = spark.table("udd2")
        .select("doc_id", "keeper_id", "n_seen", "keep").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(got(1L) === ((1L, 1L, true)))
      assert(got(2L) === ((2L, 1L, true)))
      assert(got(3L) === ((3L, 1L, true)))
    } finally q.stop()
  }

  test("domainTokenCapStream enforces the running budget across batches") {
    import Streaming.{DomainDoc, DomainCapOut}
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val in = MemoryStream[DomainDoc]
    val q = Streaming.domainTokenCapStream(in.toDS(), tokenBudget = 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("dtc1").start()
    try {
      // batch 1: a.com admits 60 + 30; b.com's giant first doc admits
      in.addData(
        DomainDoc("a.com", 1L, ts(T0), 60L),
        DomainDoc("a.com", 2L, sec(T0, 1), 30L),
        DomainDoc("b.com", 3L, ts(T0), 500L))
      q.processAllAvailable()
      // batch 2: a.com has 10 budget left -> 20-token doc dropped, a
      // later 10-token doc still fits (drops don't consume budget);
      // b.com is exhausted
      in.addData(
        DomainDoc("a.com", 4L, sec(T0, 10), 20L),
        DomainDoc("a.com", 5L, sec(T0, 11), 10L),
        DomainDoc("b.com", 6L, sec(T0, 10), 1L))
      q.processAllAvailable()
      val out = spark.table("dtc1").as[DomainCapOut].collect()
        .map(r => r.doc_id -> ((r.cum_tokens, r.keep))).toMap
      assert(out(1L) === ((60L, true)))
      assert(out(2L) === ((90L, true)))
      assert(out(3L) === ((500L, true)))   // first-doc guarantee
      assert(out(4L) === ((90L, false)))   // would exceed: dropped
      assert(out(5L) === ((100L, true)))   // still fits exactly
      assert(out(6L) === ((500L, false)))  // b.com exhausted
    } finally q.stop()
  }
}
