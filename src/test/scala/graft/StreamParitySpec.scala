package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.Streaming

/** Stream parity for operators whose plan is the same on a stream as in
  * batch. Each case runs its operator, unchanged, over a `MemoryStream`
  * fed the case's static input in two micro-batches, and asserts that the
  * streamed rows equal the operator's batch run on the same input (as a
  * multiset). A case's `check` adds the behaviour that case pins on the
  * streamed rows.
  */
object StreamParitySpec {
  /** One table row: the operator `op` over the static `input`, plus the
    * behaviour `check` pins on the streamed rows. */
  final case class Case(name: String, input: () => DataFrame,
      op: DataFrame => DataFrame, check: Seq[Row] => Unit = _ => ())
}

class StreamParitySpec extends SparkSpec {
  import spark.implicits._
  import StreamParitySpec.Case

  private def bag(rs: Seq[Row]): Map[Row, Int] =
    rs.groupBy(identity).map { case (r, g) => r -> g.size }

  private def streamAndBatch(c: Case, queryName: String)
      : (Seq[Row], Seq[Row]) = {
    val input = c.input()
    val rows = input.collect().toSeq
    val in = MemoryStream[Row](Encoders.row(input.schema), spark.sqlContext)
    val q = c.op(in.toDF()).writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try {
      val (b1, b2) = rows.splitAt((rows.size + 1) / 2)
      Seq(b1, b2).filter(_.nonEmpty).foreach { b =>
        in.addData(b: _*); q.processAllAvailable()
      }
      (spark.table(queryName).collect().toSeq, c.op(input).collect().toSeq)
    } finally q.stop()
  }

  // ------------------------------------------------------------ fixtures
  private lazy val docs60 = Tables.documents(spark, sf)
    .where(col("doc_id") < 60).select("doc_id", "text").cache()
  private lazy val docs80 = Tables.documents(spark, sf)
    .where(col("doc_id") < 80).select("doc_id", "text").cache()
  private lazy val emb60 = Tables.embeddings(spark, sf)
    .where(col("vec_id") < 60).select("vec_id", "embedding").cache()
  private lazy val htmlDocs = Tables.documents(spark, sf)
    .select(col("doc_id"), HtmlOps.wrapHtml(col("doc_id"), col("text"))
      .as("html")).cache()
  private lazy val shortDocs = Seq(
    (1L, (1 to 11).map(i => s"w$i").mkString(" ")),
    (2L, "mail me at a.b@example.com or https://x.example/y"),
    (3L, "short doc"),
    (4L, "call 555-123-4567 twice 555-123-4567")).toDF("doc_id", "text")
  private lazy val bpeMerges =
    BpeOps.bpeLearn(BpeOps.wordFreqs(docs80, col("text")), 8)
  private lazy val byteMerges = BpeOps.bpeLearn(
    BpeOps.wordFreqs(docs80, col("text")), 8,
    symbolize = BpeOps.toByteSymbols)
  private lazy val gptMerges = BpeOps.bpeLearn(
    BpeOps.preTokenFreqs(docs60, col("text")), 8,
    symbolize = BpeOps.toByteSymbols)
  private lazy val pieces = UnigramOps.unigramFit(docs60, col("text"),
      vocabSize = 120, seedSize = 240, emIters = 1)
    .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
  private lazy val wpVocab = {
    val freqs = BpeOps.wordFreqs(docs60, col("text"))
    WordPieceOps.wpVocab(freqs, WordPieceOps.wpLearn(freqs, 8))
      .orderBy("piece").collect().map(_.getString(0)).toSeq
  }
  private val Special = "<|endoftext|>"
  private val blocklist = Seq("slow", "fast table", "agg")
  // negatives: the noise table is frozen on this corpus' vocabulary
  private lazy val negCorpus = Seq(
    (1L, "x x x y common words here"),
    (2L, "q q common words again"),
    (3L, "y words x q common")).toDF("doc_id", "text")
  private lazy val noise =
    TextOps.noiseTable(BpeOps.wordFreqs(negCorpus, col("text"))).cache()
  private lazy val mixCorpus =
    ((0 until 40).map(i => (i.toLong, s"big source doc $i", "big")) ++
      (40 until 50).map(i => (i.toLong, s"small source doc $i", "small")))
      .toDF("doc_id", "text", "source")
  private lazy val snapshotIndex = AuditOps.snapshotHashIndex(
    Seq((1L, "alpha", "web"), (2L, "beta", "web"), (3L, "gamma", "book"))
      .toDF("doc_id", "text", "source"),
    col("doc_id"), Seq(col("text"), col("source")), keyName = "doc_id")
    .persist()
  private val T0 = Timestamp.valueOf("2021-03-09 14:15:00")

  private def byId(rs: Seq[Row]): Map[Long, Row] =
    rs.map(r => r.getLong(0) -> r).toMap

  // ---------------------------------------------------------------- table
  private val cases: Seq[Case] = Seq(
    Case("BpeOps.bpeTokenize", () => docs80,
      BpeOps.bpeTokenize(_, col("doc_id"), col("text"), bpeMerges),
      rs => assert(rs.exists(_.getSeq[String](1).exists(_.length > 5)),
        "fixture sanity: some learned multi-char unit must appear")),
    Case("BpeOps.byteBpeTokenize", () => docs80,
      BpeOps.byteBpeTokenize(_, col("doc_id"), col("text"), byteMerges),
      rs => assert(rs.exists(_.getSeq[String](1).exists(_.length > 2)),
        "fixture sanity: some learned multi-byte unit must appear")),
    Case("BpeOps.gptByteBpeTokenize", () => docs60,
      BpeOps.gptByteBpeTokenize(_, col("doc_id"), col("text"), gptMerges)),
    Case("BpeOps.gptByteBpeTokenizeSpecial",
      () => docs60.withColumn("text",
        concat(col("text"), lit(Special), lit("en"))),
      BpeOps.gptByteBpeTokenizeSpecial(_, col("doc_id"), col("text"),
        gptMerges, Seq(Special)),
      rs => {
        val hex = Special.getBytes("UTF-8").map(b => f"$b%02X").mkString
        assert(rs.forall(_.getSeq[String](1).count(_ == hex) == 1),
          "each arrival's special emits as exactly one atomic token")
      }),
    Case("UnigramOps.unigramTokenize",
      // the last doc is in a script the fit never saw
      () => docs60.unionByName(
        Seq((9999L, "щось цілком нове")).toDF("doc_id", "text")),
      UnigramOps.unigramTokenize(_, col("doc_id"), col("text"), pieces),
      rs => {
        val novel = byId(rs)(9999L)
        assert(novel.getLong(1) == 14L, s"novel chars as pieces: $novel")
        assert(novel.getDouble(3) < -300.0,
          "every novel char priced at the unk floor, never a drop")
      }),
    Case("WordPieceOps.wordPieceTokenizePieces",
      () => docs60.unionByName(
        Seq((9999L, "щось нове")).toDF("doc_id", "text")),
      WordPieceOps.wordPieceTokenizePieces(_, col("doc_id"), col("text"),
        wpVocab),
      rs => {
        val novel = byId(rs)(9999L)
        assert(novel.getSeq[String](1) == Seq(WordPieceOps.Unk,
          WordPieceOps.Unk), "novel-script words go whole-word [UNK]")
        assert(novel.getLong(3) == 2L)
      }),
    Case("TextOps.noiseDraws (negative samples)",
      // doc 4 is an arrival the noise fit never saw
      () => negCorpus.where(col("doc_id") <= 2).unionByName(
        Seq((4L, "entirely novel arrival text")).toDF("doc_id", "text")),
      d => TextOps.noiseDraws(d.select(col("doc_id"), col("text").as("_text")),
        broadcast(noise), 3, 1024),
      rs => {
        assert(rs.length == 9 &&
          rs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == 9,
          "every (doc, draw) resolves to exactly one word")
        val replayed = TextOps.negativeSamples(negCorpus, col("doc_id"),
          col("text"), k = 3).where(col("doc_id") <= 2).collect().toSeq
        assert(bag(rs.filter(_.getLong(0) <= 2L)) == bag(replayed),
          "replayed docs draw the batch operator's negatives")
        val vocab = BpeOps.wordFreqs(negCorpus, col("text"))
          .select("word").as[String].collect().toSet
        assert(rs.filter(_.getLong(0) == 4L).forall(r => vocab(r.getString(2))),
          "a novel doc's negatives come from the frozen vocabulary only")
      }),
    Case("TextOps.gopherRepetition", () => docs60,
      TextOps.gopherRepetition(_, col("doc_id"), col("text"))),
    Case("TextOps.gopherQuality", () => docs60,
      TextOps.gopherQuality(_, col("doc_id"), col("text"))),
    Case("TextOps.normalizeText",
      () => Seq((1L, "  A\tB  "), (2L, "ok"), (3L, "")).toDF("doc_id", "text"),
      TextOps.normalizeText(_, col("doc_id"), col("text"), keepText = true),
      rs => assert(byId(rs)(1L).getAs[String]("norm_text") == "a b")),
    Case("TextOps.blocklistScreen", () => docs60,
      TextOps.blocklistScreen(_, col("doc_id"), col("text"), blocklist)),
    Case("TextOps.blocklistRedact", () => docs60,
      TextOps.blocklistRedact(_, col("doc_id"), col("text"), blocklist)),
    Case("TextOps.chunkDocs", () => shortDocs,
      TextOps.chunkDocs(_, col("doc_id"), col("text"), 5, 4),
      rs => assert(rs.size == 3 + 2 + 1 + 1,
        "11w -> 3 chunks, 7w -> 2, 2w -> 1, 4w -> 1 at chunk 5 / stride 4")),
    Case("TextOps.piiRedact", () => shortDocs,
      TextOps.piiRedact(_, col("doc_id"), col("text"))),
    Case("TextOps.applyTemperatureRates (temperature mix)", () => mixCorpus,
      TextOps.applyTemperatureRates(_,
        TextOps.temperatureRates(mixCorpus, col("source"), 0.5)),
      rs => assert(bag(rs) == bag(TextOps.temperatureMix(mixCorpus,
        col("doc_id"), col("text"), col("source"), 0.5).collect().toSeq),
        "ingest-time assignment reproduces the batch mix exactly")),
    Case("WhitenOps.whiten", () => emb60,
      WhitenOps.whiten(_, col("vec_id"), col("embedding"),
        WhitenOps.fitZca(WhitenOps.moments(emb60, col("embedding"), 64), 64))),
    Case("SimilarityOps.sq8Quantize", () => emb60,
      SimilarityOps.sq8Quantize(_,
        SimilarityOps.sq8Stats(emb60, col("embedding"), 64),
        col("vec_id"), col("embedding"))),
    Case("PQOps.pqIndex", () => emb60.where(col("vec_id") < 40),
      PQOps.pqIndex(_, emb60.where(col("vec_id") < 8), col("vec_id"),
        col("embedding"), 8, 8),
      rs => {
        // cross-shape proof: the relational window-argmin form
        val rel = PQOps.pqIndexRelational(emb60.where(col("vec_id") < 40),
          emb60.where(col("vec_id") < 8), col("vec_id"), col("embedding"),
          8, 8).collect().toSeq
        def key(r: Row) =
          r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Double](2)))
        assert(rs.map(key).toMap == rel.map(key).toMap,
          "PQ codes and reconstructions equal the relational batch index")
      }),
    Case("AuditOps.snapshotDeltaAudit",
      () => Seq(
        (1L, "alpha", "web"),           // unchanged
        (2L, "beta EDITED", "web"),     // changed
        (3L, "gamma", "web"),           // changed (source moved)
        (9L, "epsilon", "web"))         // added
        .toDF("doc_id", "text", "source"),
      AuditOps.snapshotDeltaAudit(_, snapshotIndex, col("doc_id"),
        Seq(col("text"), col("source")), keyName = "doc_id"),
      rs => assert(byId(rs).map { case (k, r) => k -> r.getString(1) } ==
        Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
          9L -> "added"))),
    Case("Streaming.mediaNearDupScreenStream (dhash)",
      () => {
        val h = 0x0123456789abcdefL
        Seq(
          (11L, true, h),                          // hamming 0 -> dropped
          (12L, true, h ^ 0x3L),                   // hamming 2 -> dropped
          // band 0 identical, one bit flipped in each other band:
          // hamming 7 > 6, so the band collision alone must not drop it
          (13L, true, h ^ 0x0101010101010100L),
          // hamming 32 from h -> kept; dropped only if the broken corpus
          // row (hash 0) were indexed
          (14L, true, 0L),
          (15L, false, 0L))                        // broken: passes through
          .toDF("media_id", "ok", "dhash")
      },
      Streaming.mediaNearDupScreenStream(_,
        Seq((1L, true, 0x0123456789abcdefL), (2L, false, 0L))
          .toDF("media_id", "ok", "dhash"), "dhash"),
      rs => {
        val out = rs.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        assert(out.keySet == Set(13L, 14L, 15L),
          s"survivors must be exactly {13,14,15}, got ${out.keySet}")
        assert(!out(15L) && out(13L) && out(14L),
          "broken payloads keep their ok=false flag")
      }),
    Case("HtmlOps.extractText", () => htmlDocs,
      HtmlOps.extractText(_, col("doc_id"), col("html"))),
    Case("HtmlOps.extractContent", () => htmlDocs,
      HtmlOps.extractContent(_, col("doc_id"), col("html"))),
    Case("CorpusStatsOps.compressionScreen",
      () => Seq(
        (1L, Seq.fill(60)("w").mkString(" ")),
        (2L, "the quick brown fox jumps over the lazy dog while the " +
          "rain keeps falling on the quiet grey town tonight"))
        .toDF("doc_id", "text"),
      CorpusStatsOps.compressionScreen(_, col("doc_id"), col("text")),
      rs => assert(byId(rs).map { case (k, r) =>
          k -> r.getAs[Boolean]("keep") } == Map(1L -> false, 2L -> true),
        "the over-compressible doc is dropped, prose is kept")),
    Case("CorpusStatsOps.entropyScreen",
      () => Seq((1L, "a a a a"), (2L, "a b a b"), (3L, "w"),
        (4L, "x y z x y q r s t u v"),
        // zero-token docs must still emit their row, to be rejectable
        (5L, ""), (6L, "   ")).toDF("doc_id", "text"),
      CorpusStatsOps.entropyScreen(_, col("doc_id"), col("text")),
      rs => Seq(5L, 6L).foreach { d =>
        val r = byId(rs)(d)
        assert(r.getAs[Long]("n_tokens") == 0L &&
          r.getAs[Long]("n_types") == 0L &&
          Seq("word_entropy", "norm_entropy", "bigram_entropy")
            .forall(c => r.isNullAt(r.fieldIndex(c))), s"zero-token doc $d")
      }),
    Case("UrlOps.canonicalize",
      () => Seq(
        (1L, "https://CDN.s.co.uk:443/p?utm_source=a&id=3#f", T0),
        (2L, "http://example.org/a", T0))
        .toDF("doc_id", "url", "event_time"),
      UrlOps.canonicalize(_, col("doc_id"), col("url"),
        keep = Seq("event_time")),
      rs => {
        val r = rs.find(_.getAs[Long]("doc_id") == 1L).get
        assert(r.getAs[String]("url_canon") == "https://cdn.s.co.uk/p?id=3")
        assert(r.getAs[String]("domain") == "s.co.uk")
        assert(r.getAs[Long]("n_params_dropped") == 1L)
        assert(r.getAs[Timestamp]("event_time") == T0)
      })
  )

  // building the table touches no fixture: every operand is read inside
  // its case's closures
  cases.zipWithIndex.foreach { case (c, i) =>
    test(s"${c.name} on a stream equals batch") {
      val (stream, batch) = streamAndBatch(c, s"parity$i")
      assert(batch.nonEmpty, s"${c.name}: empty batch run proves nothing")
      val (s, b) = (bag(stream), bag(batch))
      assert(s == b, s"${c.name}: stream-only ${(s.keySet -- b.keySet)
        .take(3)}, batch-only ${(b.keySet -- s.keySet).take(3)}")
      c.check(stream)
    }
  }
}
