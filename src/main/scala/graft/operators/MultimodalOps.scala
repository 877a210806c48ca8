package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, processed by per-partition batch transforms.
  *
  * Codec status by modality:
  *  - IMAGE: REAL — `javax.imageio` (JDK built-in: PNG/JPEG/BMP/GIF)
  *    decode, resize, re-encode in [[ImageCodec]] / [[decodeImages]] /
  *    [[resizeImages]]. No external dependency.
  *  - AUDIO: REAL for PCM containers — `javax.sound.sampled` (JDK built-in:
  *    WAV/AIFF/AU) decode + RMS/rate features in [[audioFeatures]] — AND
  *    REAL frame-level parsing for COMPRESSED MPEG audio (MP2/MP3):
  *    [[MpegAudioCodec]] walks the self-describing frame headers
  *    (ISO/IEC 11172-3) for ingest-QA metadata (frames, duration,
  *    bitrate, CBR/VBR) with zero PCM decode. PCM-domain features on
  *    compressed audio (AAC included) are OUT OF SCOPE by decision (no
  *    JDK decoder, no JNI): the ingest-edge contract is transcode to
  *    WAV (`ffmpeg -i x.mp3 -f wav -`), the DECISIONS.md round-13 twin
  *    of the round-12 video-codec boundary.
  *  - VIDEO: REAL for the Y4M (YUV4MPEG2) container — the uncompressed
  *    interchange format every ffmpeg pipeline can emit (`ffmpeg -i x.mp4
  *    -f yuv4mpeg2 -`): an ASCII header plus raw planar YUV frames, so a
  *    pure-JVM parser ([[VideoCodec]]) needs no codec library — AND for
  *    COMPRESSED Motion-JPEG/DIB in RIFF/AVI ([[AviCodec]]): each MJPEG
  *    frame is an independent JPEG the JDK's ImageIO decodes, so the
  *    demux+decode is still pure JVM. [[decodeVideo]] sniffs the
  *    container; every video operator is container-agnostic downstream.
  *    Inter-frame codecs (H.264/VP9/AV1) are OUT OF SCOPE by decision
  *    (no JDK decoder, no JNI): the ingest-edge contract is transcode to
  *    Y4M or MJPEG (DECISIONS.md round-12).
  */
object MultimodalOps {

  // r19 (guide §1.2 step 2 — per-task work): ImageIO defaults to
  // useCache=true, which wraps EVERY InputStream read and OutputStream
  // write in a File{Cache}Image{Input,Output}Stream — i.e. every decode
  // and every encode of an ALREADY-IN-MEMORY byte array round-trips
  // through a temp file in java.io.tmpdir (create/write/read/delete per
  // row, 32 tasks contending on one directory). The bench caught it as
  // environment-sensitivity: q86's median sat at 1.07 s on one day's
  // disk state and 7.3–8.5 s on another, with the decode stage itself
  // I/O-bound either way. Memory caching is bit-identical (same reader,
  // same bytes) and bounded by the payload size the row already holds.
  // Set once here: every codec below is a nested object, so any use of
  // ImageCodec/AviCodec/VideoCodec initializes this outer object first —
  // on executors too.
  javax.imageio.ImageIO.setUseCache(false)

  /** A media row: opaque payload + typed metadata, the 100 TB layout — large
    * binaries stay columnar in parquet, metadata is prunable without
    * touching payload bytes. */
  final case class MediaRow(
      media_id: Long, modality: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  /** Extracted features for one media row (decode → feature stage output). */
  final case class MediaFeatures(
      media_id: Long, modality: String, byte_len: Long,
      mean_byte: Double, frame_bytes: Long, ok: Boolean)

  /** STUB decode: deterministic fake standing in for an image/audio codec.
    * Marked clearly — see object doc. */
  object StubDecoder {
    /** "Decodes" payload bytes: returns (decoded-byte-count, mean byte
      * value) — a real decoder would return pixel/sample buffers. */
    def decode(payload: Array[Byte]): (Long, Double) = {
      if (payload == null || payload.isEmpty) (0L, 0.0)
      else {
        var s = 0L
        var i = 0
        while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
        (payload.length.toLong, s.toDouble / payload.length)
      }
    }
  }

  /** Wrap a text table as a media table (payload = UTF-8 bytes) — used by
    * tests and the oracle query; a real pipeline reads binary parquet
    * directly. */
  def asMediaTable(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("media_id"),
      lit("text").as("modality"),
      encode(text, "UTF-8").as("payload"),
      lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))

  /** The decode/feature-extract stage: per-partition batch iteration (the
    * Scala analog of a Pandas-UDF `mapInPandas` stage — same batch shape,
    * same executor-local decode, no shuffle). Repartition upstream to bound
    * batch memory: payload bytes dominate, so partitions are sized by
    * `spark.sql.files.maxPartitionBytes`, not row count. */
  def extractFeatures(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (decoded, mean) = StubDecoder.decode(r.payload)
        MediaFeatures(r.media_id, r.modality,
          byte_len = if (r.payload == null) 0L else r.payload.length.toLong,
          mean_byte = mean,
          frame_bytes = math.min(decoded, 16L),
          ok = decoded > 0)
      }
    }
  }

  /** STUB resize: deterministic fake standing in for an image resize /
    * audio resample — truncates the payload to `maxBytes` and stamps the
    * new dimensions. A real implementation swaps the byte slice for a
    * codec call; the distributed shape (narrow per-partition transform,
    * no shuffle) is identical. */
  def resizeStub(media: Dataset[MediaRow], maxBytes: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val p = if (r.payload == null) Array.emptyByteArray else r.payload
      val resized = p.take(maxBytes)
      r.copy(payload = resized,
        width = math.min(r.width, maxBytes),
        height = math.min(r.height, maxBytes))
    })
  }

  /** STUB frame sampling: every `stride`-th byte stands in for every Nth
    * video frame / audio window. */
  def frameSampleStub(media: Dataset[MediaRow], stride: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val p = if (r.payload == null) Array.emptyByteArray else r.payload
      r.copy(payload = p.grouped(stride).map(_.head).toArray)
    })
  }

  /** Decoded-image features (REAL codec path). */
  final case class ImageFeatures(
      media_id: Long, ok: Boolean, width: Int, height: Int, mean_luma: Double)

  /** Decoded-audio features (REAL codec path, PCM containers). */
  final case class AudioFeatures(
      media_id: Long, ok: Boolean, sample_rate: Int, n_frames: Long, rms: Double)

  /** Real image codec over the JDK's ImageIO — executor-local, no external
    * libraries. All methods are deterministic for a given payload. */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    def decode(payload: Array[Byte]): Option[BufferedImage] =
      if (payload == null || payload.isEmpty) None
      else
        // ImageIO returns null when NO reader claims the bytes, but a
        // payload that starts like a real image and then breaks off (the
        // truncated/corrupt-object case every large crawl contains) makes
        // the chosen reader THROW (IIOException/EOF, and the JDK readers
        // can surface RuntimeExceptions on malformed headers) — either
        // way the row must flag `ok = false`, never kill the task
        scala.util.Try(Option(ImageIO.read(new ByteArrayInputStream(payload))))
          .toOption.flatten

    /** Rec.601 luma averaged over all pixels. */
    def meanLuma(img: BufferedImage): Double = {
      var s = 0.0
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          s += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      s / (img.getWidth.toLong * img.getHeight)
    }

    /** Area-averaged downscale preserving aspect ratio so the longer edge is
      * ≤ maxEdge; images already small pass through unscaled. */
    def resize(img: BufferedImage, maxEdge: Int): BufferedImage = {
      val scale = maxEdge.toDouble / math.max(img.getWidth, img.getHeight)
      if (scale >= 1.0) img
      else {
        val (w, h) = (math.max(1, (img.getWidth * scale).toInt),
          math.max(1, (img.getHeight * scale).toInt))
        val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img.getScaledInstance(w, h,
          java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
        finally g.dispose()
        out
      }
    }

    def encodePng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** 64-bit difference hash (dHash, the standard perceptual fingerprint):
      * area-average the image to a 9×8 luma grid, set bit (y*8 + x) when
      * luma(x, y) > luma(x+1, y). Robust to re-encoding, resizing, and
      * small edits — near-duplicate images land within a few bits of
      * hamming distance; deterministic for a given payload. The 9×8
      * resample ignores aspect ratio on purpose (both copies of a
      * stretched duplicate stretch identically). */
    def dHash(img: BufferedImage): Long = {
      val grid = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
      val g = grid.createGraphics()
      try g.drawImage(img.getScaledInstance(9, 8,
        java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
      finally g.dispose()
      def luma(x: Int, y: Int): Double = {
        val rgb = grid.getRGB(x, y)
        0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
      }
      var h = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (luma(x, y) > luma(x + 1, y)) h |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      h
    }
  }

  /** REAL image decode + feature extraction: per-partition batches, decode
    * executor-local, no shuffle. Rows whose payload isn't a decodable image
    * come back `ok = false` with zeroed features (integrity signal, nothing
    * silently dropped). */
  def decodeImages(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.payload) match {
        case Some(img) => ImageFeatures(r.media_id, ok = true,
          img.getWidth, img.getHeight, ImageCodec.meanLuma(img))
        case None => ImageFeatures(r.media_id, ok = false, 0, 0, 0.0)
      }
    })
  }

  /** Per-image perceptual fingerprint row. */
  final case class ImageHash(media_id: Long, ok: Boolean, dhash: Long)

  /** REAL perceptual hashing: decode → 64-bit [[ImageCodec.dHash]] per
    * image, executor-local, no shuffle. Non-decodable rows come back
    * `ok = false, dhash = 0` (integrity signal — filter on `ok` before
    * pair discovery, or the broken payloads all collide at 0). */
  def imageDHash(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.payload) match {
        case Some(img) => ImageHash(r.media_id, ok = true, ImageCodec.dHash(img))
        case None => ImageHash(r.media_id, ok = false, 0L)
      }
    })
  }

  /** Image near-duplicate pairs from [[imageDHash]] fingerprints — dedup
    * extended to the image modality: pigeonhole banding over the 64-bit
    * dHash (8 bands × 8 bits: any pair within hamming `maxHamming` ≤ 7
    * matches at least one band exactly — guaranteed recall), candidate
    * generation through the shared skew-safe grid self-join
    * ([[DedupOps.bucketedSelfJoinPairs]] — one hot band bucket, e.g. flat
    * single-color images, cannot serialize a task), then an exact
    * `bit_count(xor)` verify. Output (media_a, media_b, hamming),
    * media_a < media_b. Images-per-corpus is orders below shingles-per-
    * corpus, so the re-join against the 1-row-per-image hash table is the
    * cheap side everywhere. */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 6): DataFrame =
    banded64Pairs(hashes, "dhash", maxHamming)

  /** The band-membership rows of a 64-bit fingerprint column — the input
    * shape of [[DedupOps.bucketedSelfJoinPairs]]. */
  private def banded64Rows(hs: DataFrame, hashName: String): DataFrame =
    hs.select(col("media_id").as("doc_id"),
      explode(array((0 until 8).map(b => struct(lit(b).as("band"),
        shiftright(col(hashName), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
        .as("bv"))
      .select(col("doc_id"), col("bv.band").as("band"), col("bv.b").as("b"))

  /** The band buckets the fingerprint pair joins drop at `maxBucket` —
    * the drop-and-flag companion every pair-generating join here carries
    * (LSH / simhash / containment discipline). A hot fingerprint bucket
    * is a degenerate media class: flat single-color images all hash to
    * dHash 0, digital silence to envelope hash 0 — monitor this BEFORE
    * trusting the pair output on such corpora, and screen degenerate
    * media upstream (they are near-dups of each other by any measure). */
  def oversizedFingerprintBuckets(hashes: DataFrame, hashName: String,
      maxBucket: Int = DedupOps.MaxBucket): DataFrame =
    DedupOps.oversizedBuckets(
      banded64Rows(hashes.where(col("ok")).select(col("media_id"), col(hashName)),
        hashName), maxBucket)

  /** The shared 64-bit-fingerprint pair discovery behind
    * [[imageNearDupPairs]] / [[audioNearDupPairs]]: 8 bands × 8 bits
    * pigeonhole (recall guaranteed to hamming 7), skew-safe grid
    * self-join with each side's fingerprint CARRIED THROUGH the banded
    * join as a payload column, so the exact `bit_count(xor)` verify
    * filters inside the join's codegen'd output — only surviving pairs
    * reach the final distinct. The previous form re-joined the hash
    * table twice per candidate; at a few thousand media, 8-bit bands
    * stop pruning (2048 buckets saturate — the q89 banding lesson) and
    * those re-joins shuffled ~1.6 M candidate rows for a handful of
    * survivors (measured 4-6 s at sf0.1; in-join verify: ~1 s). */
  private def banded64Pairs(hashes: DataFrame, hashName: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8x8-band pigeonhole guarantees recall only to hamming 7, got $maxHamming")
    val hs = hashes.where(col("ok")).select(col("media_id"), col(hashName))
    val rows = hs.select(col("media_id").as("doc_id"),
      col(hashName).as("h"),
      explode(array((0 until 8).map(b => struct(lit(b).as("band"),
        shiftright(col(hashName), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
        .as("bv"))
      .select(col("doc_id"), col("h"), col("bv.band").as("band"),
        col("bv.b").as("b"))
    DedupOps.bucketedPairCandidates(rows, Seq("h"),
        DedupOps.MaxBucket, DedupOps.GridCell)
      .withColumn("hamming",
        bit_count(col("_h_x").bitwiseXOR(col("_h_y"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(least(col("doc_x"), col("doc_y")).as("media_a"),
        greatest(col("doc_x"), col("doc_y")).as("media_b"), col("hamming"))
      .distinct()
  }

  /** REAL image resize: decode → area-average downscale to `maxEdge` →
    * re-encode PNG, stamping the new dimensions. Non-decodable rows pass
    * through UNCHANGED (use [[decodeImages]]' ok flag to filter) — a
    * resize stage must not invent or drop rows. */
  def resizeImages(media: Dataset[MediaRow], maxEdge: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.payload) match {
        case Some(img) =>
          val scaled = ImageCodec.resize(img, maxEdge)
          r.copy(payload = ImageCodec.encodePng(scaled),
            width = scaled.getWidth, height = scaled.getHeight)
        case None => r
      }
    })
  }

  /** REAL audio features for PCM containers (WAV/AIFF/AU via the JDK's
    * javax.sound.sampled): sample rate, frame count, and RMS amplitude
    * normalized to [0,1] for 16-bit signed PCM. Non-decodable payloads →
    * `ok = false`. */
  /** Decode a 16-bit signed PCM container to normalized samples in
    * [-1, 1); None for empty/undecodable payloads or other bit depths
    * (8-bit WAV is unsigned, 24/32-bit has a different stride — flag
    * rather than mis-parse). Also returns sample rate and frame count. */
  /** PCM container parse WITHOUT materializing a per-sample Double
    * array: returns the sample-addressable short buffer plus the count.
    * Consumers read `sample(i) = getShort(i*2)/32768.0` on the fly —
    * the same double arithmetic in the same order as the old
    * samples-array decode (store/load of a double is exact, so folding
    * the conversion into the accumulation is bit-identical), minus an
    * 8-bytes-per-sample allocation per row on the decode hot path. */
  private def decodePcm(payload: Array[Byte])
      : Option[(Int, Long, java.nio.ByteBuffer, Int)] =
    if (payload == null || payload.isEmpty) None
    else try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16)
          throw new javax.sound.sampled.UnsupportedAudioFileException(
            s"only 16-bit PCM supported, got ${fmt.getSampleSizeInBits}-bit")
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN
        val buf = java.nio.ByteBuffer.wrap(bytes).order(order)
        Some((fmt.getSampleRate.toInt, in.getFrameLength, buf, n))
      } finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException |
          _: java.io.IOException => None
    }

  def audioFeatures(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodePcm(r.payload) match {
        case Some((rate, frames, buf, n)) =>
          var ss = 0.0
          var i = 0
          while (i < n) {
            val v = buf.getShort(i * 2).toDouble / 32768.0
            ss += v * v
            i += 1
          }
          AudioFeatures(r.media_id, ok = true, rate, frames,
            if (n == 0) 0.0 else math.sqrt(ss / n))
        case None => AudioFeatures(r.media_id, ok = false, 0, 0L, 0.0)
      }
    })
  }

  /** Per-clip perceptual fingerprint row. */
  final case class AudioHash(media_id: Long, ok: Boolean, ehash: Long)

  /** 64-bit energy-envelope hash — [[ImageCodec.dHash]]'s idea applied to
    * audio: the clip is split into 65 equal windows, RMS energy per
    * window, bit i set when rms(i+1) > rms(i). Sign-of-difference makes
    * it invariant to amplitude scaling (volume-normalized copies hash
    * identically) and robust to re-encoding and resampling (the envelope
    * SHAPE survives both); clips shorter than 65 samples or undecodable
    * payloads flag `ok = false`. */
  def audioEnvHash(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[AudioHash] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodePcm(r.payload) match {
        case Some((_, _, buf, n)) if n >= 65 =>
          val rms = new Array[Double](65)
          var w = 0
          while (w < 65) {
            val from = (n.toLong * w / 65).toInt
            val to = (n.toLong * (w + 1) / 65).toInt
            var ss = 0.0
            var i = from
            while (i < to) {
              val v = buf.getShort(i * 2).toDouble / 32768.0
              ss += v * v
              i += 1
            }
            rms(w) = math.sqrt(ss / math.max(1, to - from))
            w += 1
          }
          var h = 0L
          var b = 0
          while (b < 64) {
            if (rms(b + 1) > rms(b)) h |= 1L << b
            b += 1
          }
          AudioHash(r.media_id, ok = true, h)
        case _ => AudioHash(r.media_id, ok = false, 0L)
      }
    })
  }

  /** Audio near-duplicate pairs from [[audioEnvHash]] fingerprints — the
    * same banded discovery as [[imageNearDupPairs]] (shared
    * [[banded64Pairs]] machinery, recall guaranteed to hamming 7). */
  def audioNearDupPairs(hashes: DataFrame, maxHamming: Int = 6): DataFrame =
    banded64Pairs(hashes, "ehash", maxHamming)

  /** Compressed-audio (MPEG-1/2/2.5 Layer I/II/III — "MP2"/"MP3")
    * FRAME-HEADER parser, pure JVM, the AviCodec precedent applied to
    * audio: every MPEG audio frame starts with a self-describing 32-bit
    * header (11-bit sync, version, layer, bitrate index, sample-rate
    * index, padding, channel mode — ISO/IEC 11172-3 §2.4.1.3), and the
    * frame length is computable from the header alone, so a header WALK
    * yields the ingest-QA metadata (frame count, duration, mean
    * bitrate, CBR/VBR, sample rate, channels) without decoding a single
    * audio sample. Leading ID3v2 tags are skipped by their syncsafe
    * size; a truncated final frame is tolerated (real-world streams end
    * mid-frame) but not counted; any header inconsistent with the first
    * frame's (version, layer, sample rate) stops the walk and fails the
    * parse — a false sync in garbage rarely survives the
    * consistent-chain requirement across ≥ 2 frames.
    *
    * What this deliberately does NOT do: decode Layer-III audio to PCM
    * (Huffman-coded subband data; no JDK decoder exists). PCM-domain
    * features ([[audioFeatures]] RMS, [[audioEnvHash]]) on compressed
    * audio go through the transcode contract instead — `ffmpeg -i x.mp3
    * -f wav -` at the ingest edge, the same boundary DECISIONS.md
    * records for inter-frame video codecs. */
  object MpegAudioCodec {
    /** Parse result: `version` 1/2 (2 also covers MPEG-2.5), `layer`
      * 1/2/3, frame count of COMPLETE frames, duration from
      * samples-per-frame × frames / rate, mean per-frame bitrate in
      * kbps, and whether the bitrate varied across frames. */
    final case class MpegInfo(version: Int, layer: Int, sampleRate: Int,
        channels: Int, nFrames: Int, durationMs: Long,
        meanBitrateKbps: Double, isVbr: Boolean)

    private val BitrateKbps: Map[(Boolean, Int), Array[Int]] = Map(
      // (isMpeg1, layer) -> kbps by bitrate index 1..14 (0 = free, 15 = bad)
      (true, 1) -> Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320,
        352, 384, 416, 448),
      (true, 2) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        224, 256, 320, 384),
      (true, 3) -> Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
        192, 224, 256, 320),
      (false, 1) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160,
        176, 192, 224, 256),
      (false, 2) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
        128, 144, 160),
      (false, 3) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
        128, 144, 160))

    private def sampleRateOf(versionBits: Int, srIdx: Int): Int = {
      val base = Array(44100, 48000, 32000)(srIdx)
      versionBits match {
        case 3 => base       // MPEG-1
        case 2 => base / 2   // MPEG-2
        case 0 => base / 4   // MPEG-2.5
        case _ => 0
      }
    }

    /** One parsed header: (frameLen, bitrateKbps, sampleRate, channels,
      * samplesPerFrame, versionBits, layer) or None if not a valid
      * frame header at `at`. */
    private def header(b: Array[Byte], at: Int)
        : Option[(Int, Int, Int, Int, Int, Int, Int)] = {
      if (at + 4 > b.length) return None
      val b0 = b(at) & 0xff; val b1 = b(at + 1) & 0xff
      val b2 = b(at + 2) & 0xff; val b3 = b(at + 3) & 0xff
      if (b0 != 0xff || (b1 & 0xe0) != 0xe0) return None
      val versionBits = (b1 >> 3) & 3
      if (versionBits == 1) return None // reserved
      val layerBits = (b1 >> 1) & 3
      if (layerBits == 0) return None // reserved
      val layer = 4 - layerBits // 3->I, 2->II, 1->III
      val brIdx = (b2 >> 4) & 0xf
      if (brIdx == 0 || brIdx == 15) return None // free-format / invalid
      val srIdx = (b2 >> 2) & 3
      if (srIdx == 3) return None
      val mpeg1 = versionBits == 3
      val br = BitrateKbps((mpeg1, layer))(brIdx)
      val sr = sampleRateOf(versionBits, srIdx)
      val pad = (b2 >> 1) & 1
      val channels = if (((b3 >> 6) & 3) == 3) 1 else 2
      val spf = layer match {
        case 1 => 384
        case 2 => 1152
        case 3 => if (mpeg1) 1152 else 576
      }
      val len = layer match {
        case 1 => (12 * br * 1000 / sr + pad) * 4
        case 2 => 144 * br * 1000 / sr + pad
        case 3 => (if (mpeg1) 144 else 72) * br * 1000 / sr + pad
      }
      if (len < 4) None
      else Some((len, br, sr, channels, spf, versionBits, layer))
    }

    /** Skip a leading ID3v2 tag (syncsafe size; +10 for a footer). */
    private def skipId3(b: Array[Byte]): Int = {
      if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
        return 0
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      val footer = if ((b(5) & 0x10) != 0) 10 else 0
      math.min(b.length, 10 + size + footer)
    }

    /** Walk the frame chain; None unless ≥ 2 complete consistent
      * frames. The walk stops at payload end, a truncated final frame,
      * or an ID3v1 `TAG` tail; anything else mid-stream fails. */
    def parse(payload: Array[Byte]): Option[MpegInfo] = {
      if (payload == null || payload.length < 8) return None
      var pos = skipId3(payload)
      var nFrames = 0
      var brSum = 0L
      var brFirst = -1
      var vbr = false
      var sr = 0; var ch = 0; var spf = 0; var ver = -1; var lay = 0
      var done = false
      var bad = false
      while (!done && !bad) {
        header(payload, pos) match {
          case Some((len, br, hsr, hch, hspf, hver, hlay)) =>
            if (nFrames == 0) {
              sr = hsr; ch = hch; spf = hspf; ver = hver; lay = hlay
            } else if (hsr != sr || hver != ver || hlay != lay) {
              bad = true // inconsistent chain: false sync or corruption
            }
            if (!bad) {
              if (pos + len > payload.length) done = true // truncated tail
              else {
                nFrames += 1
                brSum += br
                if (brFirst < 0) brFirst = br else if (br != brFirst) vbr = true
                pos += len
                if (pos == payload.length) done = true
              }
            }
          case None =>
            // tolerate an ID3v1 tail or < 4 trailing bytes; else fail
            val rest = payload.length - pos
            if (rest < 4) done = true
            else if (rest == 128 && payload(pos) == 'T' &&
              payload(pos + 1) == 'A' && payload(pos + 2) == 'G') done = true
            else bad = true
        }
      }
      if (bad || nFrames < 2) None
      else Some(MpegInfo(
        version = if (ver == 3) 1 else 2, layer = lay,
        sampleRate = sr, channels = ch, nFrames = nFrames,
        durationMs = nFrames.toLong * spf * 1000L / sr,
        meanBitrateKbps = brSum.toDouble / nFrames, isVbr = vbr))
    }

    /** Deterministic MPEG-1 Layer III 44.1 kHz mono frame stream for
      * tests and the synthetic corpus: one frame per bitrate index in
      * `brIdxs` (each 1..14), filler bytes hash-derived from the frame
      * index so payloads are reproducible. Optionally ID3v2-prefixed. */
    def encodeMp3ForTest(brIdxs: Seq[Int], id3Bytes: Int = 0): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      if (id3Bytes > 0) {
        require(id3Bytes >= 10, "ID3v2 tag is at least 10 bytes")
        val body = id3Bytes - 10
        bos.write(Array[Byte]('I', 'D', '3', 4, 0, 0))
        bos.write(Array[Byte](((body >> 21) & 0x7f).toByte,
          ((body >> 14) & 0x7f).toByte, ((body >> 7) & 0x7f).toByte,
          (body & 0x7f).toByte))
        (0 until body).foreach(i => bos.write(i & 0x7f))
      }
      brIdxs.zipWithIndex.foreach { case (brIdx, f) =>
        require(brIdx >= 1 && brIdx <= 14, s"bitrate index $brIdx")
        val br = BitrateKbps((true, 3))(brIdx)
        val len = 144 * br * 1000 / 44100 // srIdx 0, no padding
        // header: sync | MPEG1 | Layer III | no CRC | brIdx | 44.1k | mono
        bos.write(0xff); bos.write(0xfb)
        bos.write((brIdx << 4) | 0x00)
        bos.write(0xc0)
        var j = 4
        while (j < len) { bos.write((f * 31 + j * 7) & 0xff); j += 1 }
      }
      bos.toByteArray
    }
  }

  /** Per-clip compressed-audio metadata row ([[mpegAudioInfo]]). */
  final case class MpegAudioMeta(media_id: Long, ok: Boolean,
      version: Int, layer: Int, sample_rate: Int, channels: Int,
      n_frames: Long, duration_ms: Long, bitrate_kbps: Double,
      is_vbr: Boolean)

  /** Ingest-QA scan over compressed-audio payloads: the
    * [[MpegAudioCodec]] header walk per row — row-local, zero shuffle,
    * no PCM decode. Undecodable payloads flag `ok = false` with zeroed
    * metadata (the [[audioFeatures]] convention). */
  def mpegAudioInfo(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[MpegAudioMeta] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      MpegAudioCodec.parse(r.payload) match {
        case Some(i) => MpegAudioMeta(r.media_id, ok = true, i.version,
          i.layer, i.sampleRate, i.channels, i.nFrames.toLong,
          i.durationMs,
          java.math.BigDecimal.valueOf(i.meanBitrateKbps)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(),
          i.isVbr)
        case None =>
          MpegAudioMeta(r.media_id, ok = false, 0, 0, 0, 0, 0L, 0L, 0.0,
            is_vbr = false)
      }
    })
  }

  /** Real video codec for the Y4M (YUV4MPEG2) container — pure JVM, no
    * external library: Y4M is an ASCII stream header (`YUV4MPEG2 W.. H..
    * F<num>:<den> .. C<colourspace>\n`) followed by `FRAME\n`-delimited
    * raw planar YUV. Only the LUMA plane feeds analysis (it IS the
    * grayscale image — chroma is parsed by size and skipped), which is
    * exactly what perceptual fingerprinting wants. Deterministic for a
    * given payload; any malformation (bad magic, truncated frame, absurd
    * dimensions) decodes to None rather than throwing. */
  object VideoCodec {
    /** A decoded video: dimensions, frame rate, and one luma plane
      * (w*h bytes, row-major) per frame. */
    final case class Y4mVideo(width: Int, height: Int, fpsNum: Int,
        fpsDen: Int, lumaFrames: Vector[Array[Byte]])

    /** Frame payload bytes for a colourspace tag, or -1 if unsupported. */
    private def frameBytes(c: String, w: Int, h: Int): Long = c match {
      case "420" | "420jpeg" | "420mpeg2" | "420paldv" =>
        w.toLong * h + 2L * ((w + 1) / 2) * ((h + 1) / 2)
      case "422" => 2L * w * h
      case "444" => 3L * w * h
      case "mono" => w.toLong * h
      case _ => -1L
    }

    /** Max pixels per frame accepted by the parser — a corrupt or hostile
      * header claiming a huge W/H must not OOM an executor (the truncated-
      * object discipline of [[ImageCodec.decode]], applied pre-allocation). */
    val MaxFramePixels: Int = 1 << 26

    def decode(payload: Array[Byte]): Option[Y4mVideo] = {
      if (payload == null || payload.length < 10) return None
      def lineEnd(from: Int): Int = {
        var i = from
        while (i < payload.length && payload(i) != '\n') i += 1
        if (i >= payload.length) -1 else i
      }
      val h0 = lineEnd(0)
      if (h0 < 0) return None
      val header = new String(payload, 0, h0, "US-ASCII")
      val parts = header.split(' ')
      if (parts.isEmpty || parts(0) != "YUV4MPEG2") return None
      var (w, h, fn, fd, cs) = (-1, -1, 30, 1, "420jpeg")
      try parts.iterator.drop(1).filter(_.nonEmpty).foreach { p =>
        p.charAt(0) match {
          case 'W' => w = p.substring(1).toInt
          case 'H' => h = p.substring(1).toInt
          case 'F' =>
            val r = p.substring(1).split(':')
            fn = r(0).toInt; fd = r(1).toInt
          case 'C' => cs = p.substring(1)
          case _ => () // I/A/X params don't affect plane layout
        }
      } catch { case _: RuntimeException => return None }
      val fb = frameBytes(cs, w, h)
      if (w <= 0 || h <= 0 || w.toLong * h > MaxFramePixels || fb < 0 ||
        fn <= 0 || fd <= 0) return None
      val frames = Vector.newBuilder[Array[Byte]]
      var pos = h0 + 1
      while (pos < payload.length) {
        val fe = lineEnd(pos)
        if (fe < 0) return None
        val marker = new String(payload, pos, fe - pos, "US-ASCII")
        if (!marker.startsWith("FRAME")) return None
        if (payload.length - (fe + 1) < fb) return None // truncated frame
        frames += java.util.Arrays.copyOfRange(payload, fe + 1, fe + 1 + w * h)
        pos = fe + 1 + fb.toInt
      }
      Some(Y4mVideo(w, h, fn, fd, frames.result()))
    }

    /** Encode luma frames as C420jpeg Y4M with flat (neutral-gray) chroma
      * — the analysis path never reads chroma, so decode∘encode is the
      * identity on luma (the re-encode twin guarantee the synthetic
      * corpus and specs rely on). */
    def encodeY4m(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
        lumaFrames: Seq[Array[Byte]]): Array[Byte] = {
      require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
        s"C420 needs positive even dimensions, got ${width}x$height")
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 C420jpeg\n"
        .getBytes("US-ASCII"))
      val chroma = new Array[Byte]((width / 2) * (height / 2))
      java.util.Arrays.fill(chroma, 0x80.toByte)
      lumaFrames.foreach { luma =>
        require(luma.length == width * height,
          s"luma plane ${luma.length} != ${width}x$height")
        bos.write("FRAME\n".getBytes("US-ASCII"))
        bos.write(luma)
        bos.write(chroma) // U
        bos.write(chroma) // V
      }
      bos.toByteArray
    }

    /** Luma-only Y4M (`Cmono`) encode — the re-encode path for videos
      * whose dimensions are odd (legal in mono/444 containers) and so
      * cannot carry C420 chroma planes. Luma is preserved exactly; the
      * analysis path never reads chroma, so decode∘encode is still the
      * identity on what the pipeline consumes. */
    def encodeY4mMono(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
        lumaFrames: Seq[Array[Byte]]): Array[Byte] = {
      require(width > 0 && height > 0,
        s"mono needs positive dimensions, got ${width}x$height")
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 Cmono\n"
        .getBytes("US-ASCII"))
      lumaFrames.foreach { luma =>
        require(luma.length == width * height,
          s"luma plane ${luma.length} != ${width}x$height")
        bos.write("FRAME\n".getBytes("US-ASCII"))
        bos.write(luma)
      }
      bos.toByteArray
    }

    /** [[ImageCodec.dHash]] on a raw luma plane: box-filter the plane to a
      * 9×8 grid (direct array math — no AWT round trip), set bit (y*8+x)
      * when grid(x,y) > grid(x+1,y). Same robustness class as the image
      * dHash: invariant to re-encoding and (approximately) to resizing.
      * Planes smaller than the grid can't be area-averaged meaningfully —
      * callers flag those `ok = false` (see [[videoFrameHashes]]). */
    def dHashLuma(luma: Array[Byte], w: Int, h: Int): Long = {
      require(w >= 9 && h >= 8, s"dHashLuma needs >=9x8 luma, got ${w}x$h")
      val grid = new Array[Double](9 * 8)
      var gy = 0
      while (gy < 8) {
        val y0 = gy * h / 8
        val y1 = (gy + 1) * h / 8
        var gx = 0
        while (gx < 9) {
          val x0 = gx * w / 9
          val x1 = (gx + 1) * w / 9
          var s = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { s += luma(y * w + x) & 0xff; x += 1 }
            y += 1
          }
          grid(gy * 9 + gx) = s.toDouble / ((y1 - y0) * (x1 - x0))
          gx += 1
        }
        gy += 1
      }
      var hash = 0L
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          if (grid(yy * 9 + xx) > grid(yy * 9 + xx + 1))
            hash |= 1L << (yy * 8 + xx)
          xx += 1
        }
        yy += 1
      }
      hash
    }
  }

  /** Real COMPRESSED-video ingest for the MJPEG/DIB-in-AVI container —
    * pure JVM, closing the "compressed video needs an external decoder"
    * boundary for the one compressed format the JDK can actually decode:
    * Motion-JPEG (each frame an independent JPEG, the format surveillance
    * and capture pipelines emit) inside RIFF/AVI. The demux is a plain
    * RIFF chunk walk (`RIFF("AVI " LIST(hdrl avih ...) LIST(movi
    * 00dc/00db...))`); `00dc` frames are JPEGs decoded by `javax.imageio`,
    * `00db` frames are uncompressed bottom-up BGR24 DIBs decoded by array
    * math. Output is the SAME [[VideoCodec.Y4mVideo]] luma-frame struct
    * the Y4M path produces, so fingerprinting/features/near-dup are
    * container-agnostic downstream ([[decodeVideo]] sniffs the magic).
    * Inter-frame-compressed codecs (H.264/VP9/AV1) remain out of scope by
    * decision: no JDK decoder exists, JNI is off the table, and the
    * documented contract is transcode-to-Y4M or -MJPEG at the ingest edge
    * (DECISIONS.md round-12). Malformed payloads decode to None, never
    * throw (the [[ImageCodec.decode]] discipline); header-claimed sizes
    * are bounded before any allocation. */
  object AviCodec {
    import VideoCodec.{MaxFramePixels, Y4mVideo}

    private def u32(b: Array[Byte], at: Int): Long =
      if (at < 0 || at + 4 > b.length) -1L
      else (b(at) & 0xffL) | ((b(at + 1) & 0xffL) << 8) |
        ((b(at + 2) & 0xffL) << 16) | ((b(at + 3) & 0xffL) << 24)

    private def fourcc(b: Array[Byte], at: Int): String =
      if (at < 0 || at + 4 > b.length) ""
      else new String(b, at, 4, "US-ASCII")

    /** Rec.601 luma plane of a decoded image (row-major bytes). */
    def lumaPlane(img: java.awt.image.BufferedImage): Array[Byte] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          out(y * w + x) = math.round(
            0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)).toInt.min(255).toByte
          x += 1
        }
        y += 1
      }
      out
    }

    def decode(payload: Array[Byte]): Option[Y4mVideo] = {
      if (payload == null || payload.length < 24) return None
      if (fourcc(payload, 0) != "RIFF" || fourcc(payload, 8) != "AVI ")
        return None
      val end = math.min(payload.length.toLong, 8L + u32(payload, 4)).toInt
      var micro = 33333L
      var aw = -1
      var ah = -1
      val frames = Vector.newBuilder[Array[Byte]]
      var fw = -1
      var fh = -1
      // one flat walk: RIFF children at top level, and the hdrl/movi LIST
      // children one level down — the only nesting a minimal MJPEG AVI has
      // ('rec ' grouping inside movi is handled as one more LIST level)
      def walk(from: Int, to: Int, depth: Int): Boolean = {
        var pos = from
        while (pos + 8 <= to) {
          val id = fourcc(payload, pos)
          val sz = u32(payload, pos + 4)
          if (sz < 0 || pos + 8 + sz > to) return false
          val body = pos + 8
          id match {
            case "LIST" =>
              if (depth < 3 && !walk(body + 4, (body + sz).toInt, depth + 1))
                return false
            case "avih" =>
              micro = u32(payload, body)
              aw = u32(payload, body + 32).toInt
              ah = u32(payload, body + 36).toInt
            case c if c.length == 4 && c.endsWith("dc") =>
              // compressed frame: a JPEG — the JDK decodes it
              val bytes = java.util.Arrays.copyOfRange(
                payload, body, (body + sz).toInt)
              ImageCodec.decode(bytes) match {
                case Some(img)
                    if img.getWidth.toLong * img.getHeight <= MaxFramePixels =>
                  if (fw < 0) { fw = img.getWidth; fh = img.getHeight }
                  if (img.getWidth != fw || img.getHeight != fh) return false
                  frames += lumaPlane(img)
                case _ => return false
              }
            case c if c.length == 4 && c.endsWith("db") =>
              // uncompressed bottom-up BGR24 DIB, rows padded to 4 bytes
              if (aw <= 0 || ah <= 0 ||
                aw.toLong * ah > MaxFramePixels) return false
              val stride = ((aw * 3 + 3) / 4) * 4
              if (sz != stride.toLong * ah) return false
              if (fw < 0) { fw = aw; fh = ah }
              if (aw != fw || ah != fh) return false
              val luma = new Array[Byte](aw * ah)
              var y = 0
              while (y < ah) {
                val row = body + (ah - 1 - y) * stride // bottom-up
                var x = 0
                while (x < aw) {
                  val b = payload(row + x * 3) & 0xff
                  val g = payload(row + x * 3 + 1) & 0xff
                  val r = payload(row + x * 3 + 2) & 0xff
                  luma(y * aw + x) = math.round(
                    0.299 * r + 0.587 * g + 0.114 * b).toInt.min(255).toByte
                  x += 1
                }
                y += 1
              }
              frames += luma
            case _ => () // strh/strf/JUNK/idx1/...: layout-irrelevant here
          }
          pos = (body + sz + (sz & 1L)).toInt // chunks pad to even
        }
        true
      }
      if (!walk(12, end, 0)) return None
      val fs = frames.result()
      if (fs.isEmpty || fw < 0 || micro <= 0) None
      else Some(Y4mVideo(fw, fh, 1000000,
        math.min(micro, Int.MaxValue.toLong).toInt, fs))
    }

    /** Minimal MJPEG-AVI encode of luma frames — a TEST-FIXTURE writer
      * (the parser-accepted subset: avih + movi; no strl/idx1), each frame
      * JPEG-encoded from a grayscale image. JPEG is lossy, so
      * decode∘encode preserves luma only approximately — the perceptual
      * dHash is what survives exactly enough (spec-pinned); the lossless
      * round-trip fixture is [[encodeDib]]. */
    def encodeMjpeg(width: Int, height: Int, microPerFrame: Long,
        lumaFrames: Seq[Array[Byte]]): Array[Byte] =
      encodeAvi(width, height, microPerFrame, lumaFrames.map { luma =>
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        img.getRaster.setDataElements(0, 0, width, height, luma)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        ("00dc", bos.toByteArray)
      })

    /** Uncompressed-DIB AVI encode (bottom-up BGR24, gray pixels) — the
      * LOSSLESS fixture: decode∘encode is the identity on luma. */
    def encodeDib(width: Int, height: Int, microPerFrame: Long,
        lumaFrames: Seq[Array[Byte]]): Array[Byte] =
      encodeAvi(width, height, microPerFrame, lumaFrames.map { luma =>
        require(luma.length == width * height,
          s"luma plane ${luma.length} != ${width}x$height")
        val stride = ((width * 3 + 3) / 4) * 4
        val dib = new Array[Byte](stride * height)
        var y = 0
        while (y < height) {
          val row = (height - 1 - y) * stride
          var x = 0
          while (x < width) {
            val v = luma(y * width + x)
            dib(row + x * 3) = v; dib(row + x * 3 + 1) = v
            dib(row + x * 3 + 2) = v
            x += 1
          }
          y += 1
        }
        ("00db", dib)
      })

    /** Raw-chunk AVI assembly exposed for malformed-payload tests (e.g. a
      * `00dc` chunk carrying non-JPEG bytes). */
    def encodeAviForTest(width: Int, height: Int, microPerFrame: Long,
        chunks: Seq[(String, Array[Byte])]): Array[Byte] =
      encodeAvi(width, height, microPerFrame, chunks)

    private def encodeAvi(width: Int, height: Int, microPerFrame: Long,
        chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
      def le32(v: Long): Array[Byte] = Array(
        (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = if (body.length % 2 == 1) Array(0.toByte)
          else Array.emptyByteArray
        id.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++ pad
      }
      val avih = {
        val b = new Array[Byte](56)
        le32(microPerFrame).copyToArray(b, 0)
        le32(chunks.size.toLong).copyToArray(b, 16)
        le32(1L).copyToArray(b, 24)
        le32(width.toLong).copyToArray(b, 32)
        le32(height.toLong).copyToArray(b, 36)
        b
      }
      val hdrl = chunk("LIST", "hdrl".getBytes("US-ASCII") ++
        chunk("avih", avih))
      val movi = chunk("LIST", "movi".getBytes("US-ASCII") ++
        chunks.flatMap { case (id, body) => chunk(id, body) }.toArray)
      val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
      "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
    }
  }

  /** Container-agnostic video decode: sniff the payload magic and route —
    * `YUV4MPEG2` → [[VideoCodec]] (uncompressed interchange), `RIFF/AVI `
    * → [[AviCodec]] (MJPEG/DIB — real compressed ingest). Everything
    * downstream (features, frame sampling, fingerprints, near-dup) is
    * already luma-plane-based, so both containers flow through the same
    * operators unchanged. */
  def decodeVideo(payload: Array[Byte]): Option[VideoCodec.Y4mVideo] = {
    if (payload == null || payload.length < 12) None
    else if (payload(0) == 'Y') VideoCodec.decode(payload)
    else if (payload(0) == 'R') AviCodec.decode(payload)
    else None
  }

  /** Decoded-video features (REAL codec path, Y4M container). */
  final case class VideoFeatures(
      media_id: Long, ok: Boolean, width: Int, height: Int, n_frames: Long,
      fps: Double, mean_luma: Double)

  /** REAL video decode + feature extraction — per-partition batches,
    * executor-local, no shuffle; undecodable payloads flag `ok = false`. */
  def videoFeatures(media: Dataset[MediaRow])(
      implicit spark: SparkSession): Dataset[VideoFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodeVideo(r.payload) match {
        case Some(v) =>
          var s = 0L
          var n = 0L
          v.lumaFrames.foreach { f =>
            var i = 0
            while (i < f.length) { s += f(i) & 0xff; i += 1 }
            n += f.length
          }
          VideoFeatures(r.media_id, ok = true, v.width, v.height,
            v.lumaFrames.size.toLong, v.fpsNum.toDouble / v.fpsDen,
            if (n == 0) 0.0 else s.toDouble / n)
        case None => VideoFeatures(r.media_id, ok = false, 0, 0, 0L, 0.0, 0.0)
      }
    })
  }

  /** REAL frame sampling: decode → keep every `stride`-th frame →
    * re-encode Y4M (luma preserved exactly; chroma neutralized — the
    * analysis path never reads it). The real replacement for
    * [[frameSampleStub]] on the video modality; undecodable rows pass
    * through unchanged (sampling must not invent or drop rows — the
    * [[resizeImages]] discipline). Decodable videos with odd
    * dimensions — legal in mono/444 containers but unrepresentable in
    * C420 — re-encode as luma-only `Cmono` ([[VideoCodec.encodeY4mMono]])
    * so every decodable row IS sampled; only luma survives, which is all
    * the analysis path reads. */
  def sampleVideoFrames(media: Dataset[MediaRow], stride: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodeVideo(r.payload) match {
        case Some(v) =>
          val kept = v.lumaFrames.zipWithIndex
            .collect { case (f, i) if i % stride == 0 => f }
          val enc =
            if (v.width % 2 == 0 && v.height % 2 == 0)
              VideoCodec.encodeY4m(v.width, v.height, v.fpsNum, v.fpsDen, kept)
            else
              VideoCodec.encodeY4mMono(v.width, v.height, v.fpsNum, v.fpsDen,
                kept)
          r.copy(payload = enc)
        case None => r
      }
    })
  }

  /** One sampled frame's perceptual fingerprint; an undecodable or
    * sub-grid-size video emits a single `ok = false, frame_idx = -1` row
    * (integrity signal, nothing silently dropped). */
  final case class VideoFrameHash(
      media_id: Long, ok: Boolean, frame_idx: Int, fhash: Long)

  /** REAL video fingerprinting: decode → every `stride`-th frame (at most
    * `maxFrames` of them — a runaway multi-hour clip must not turn one
    * row into millions) → 64-bit luma dHash per sampled frame. The
    * per-video hash SET is what near-dup discovery consumes; stride and
    * maxFrames are the scale knobs (frames beyond the cap are dropped
    * and the row keeps `ok = true` — the cap bounds work, the features
    * path reports true frame counts). */
  def videoFrameHashes(media: Dataset[MediaRow], stride: Int = 1,
      maxFrames: Int = 64)(
      implicit spark: SparkSession): Dataset[VideoFrameHash] = {
    require(stride >= 1 && maxFrames >= 1,
      s"stride/maxFrames must be >= 1, got $stride/$maxFrames")
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeVideo(r.payload) match {
        case Some(v) if v.width >= 9 && v.height >= 8 && v.lumaFrames.nonEmpty =>
          v.lumaFrames.iterator.zipWithIndex
            .filter(_._2 % stride == 0).take(maxFrames)
            .map { case (f, i) => VideoFrameHash(r.media_id, ok = true, i,
              VideoCodec.dHashLuma(f, v.width, v.height)) }
        case _ => Iterator(VideoFrameHash(r.media_id, ok = false, -1, 0L))
      }
    })
  }

  /** [[VideoFrameHash]] plus the video's SAMPLED frame count `nf` — the
    * denominator a match fraction needs, stamped on every frame row. */
  final case class VideoFrameHashN(
      media_id: Long, ok: Boolean, frame_idx: Int, fhash: Long, nf: Int)

  /** [[videoFrameHashes]] with the per-video sampled-frame count carried on
    * each row. Batch discovery doesn't need it (the pair aggregate
    * recounts); the STREAMING ingest screen does — a stateless projection
    * cannot re-aggregate the count, and the decode already holds the whole
    * sample in hand, so stamping `nf` here is free where a downstream
    * aggregation would be a second stateful operator. */
  def videoFrameHashesCounted(media: Dataset[MediaRow], stride: Int = 1,
      maxFrames: Int = 64)(
      implicit spark: SparkSession): Dataset[VideoFrameHashN] = {
    require(stride >= 1 && maxFrames >= 1,
      s"stride/maxFrames must be >= 1, got $stride/$maxFrames")
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeVideo(r.payload) match {
        case Some(v) if v.width >= 9 && v.height >= 8 && v.lumaFrames.nonEmpty =>
          val sampled = v.lumaFrames.iterator.zipWithIndex
            .filter(_._2 % stride == 0).take(maxFrames).toSeq
          sampled.iterator.map { case (f, i) =>
            VideoFrameHashN(r.media_id, ok = true, i,
              VideoCodec.dHashLuma(f, v.width, v.height), sampled.size) }
        case _ => Iterator(VideoFrameHashN(r.media_id, ok = false, -1, 0L, 0))
      }
    })
  }

  /** Video near-duplicate pairs from [[videoFrameHashes]] — dedup extended
    * to the video modality. Candidates: the 8×8-bit pigeonhole bands of
    * EVERY sampled frame hash, distinct per (video, band, byte), through
    * the shared skew-safe grid self-join — recall guaranteed whenever any
    * frame of A is within hamming 7 of any frame of B. Verify: join both
    * videos' sampled frame hashes back (≤ maxFrames each, so the cross is
    * ≤ maxFrames² ops per candidate pair, ROW-LOCAL), count matched
    * frames on the shorter side, and keep pairs whose match fraction —
    * the SHORTER video's coverage: its matched-frame count over its
    * sampled count, the video-copy-detection convention, so a trimmed
    * copy still scores 1.0 and the fraction can never exceed 1 — reaches
    * `minMatchFrac`. (Normalizing the LONGER side's matched count by the
    * shorter side's total, the previous form, over-counted: 4 of A's 6
    * frames near-matching a 3-frame trim gave 4/3.)
    *
    * Verify shape, sized for clustery corpora: candidates are generated
    * at the FRAME level (key = (media_id, frame_idx)) with each side's
    * fhash CARRIED THROUGH the banded join as a payload column, so the
    * exact `bit_count(xor) ≤ maxHamming` check filters inside the join's
    * codegen'd output stage — only verified frame pairs ever shuffle.
    * The previous form joined every frame of both videos back per
    * candidate VIDEO pair and let an aggregate re-collapse it; on a
    * corpus whose band bytes cluster (8-bit bands give only 2048 buckets,
    * so uniform collisions alone go quadratic past a few thousand items),
    * candidates approach all-pairs and that join materialized
    * candidates × frames² shuffled rows (measured at sf0.1: 6.3 k videos
    * → 15 M candidates → 500 M verify rows, the entire cost of the
    * query). Output (media_a, media_b, matched_frames, match_frac),
    * media_a < media_b; matched_frames is the shorter side's matched
    * count. */
  def videoNearDupPairs(frameHashes: DataFrame, maxHamming: Int = 6,
      minMatchFrac: Double = 0.5): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8x8-band pigeonhole guarantees recall only to hamming 7, got $maxHamming")
    val hs = frameHashes.where(col("ok"))
      .select(col("media_id"), col("frame_idx"), col("fhash"))
    val counts = hs.groupBy("media_id")
      .agg(count(lit(1)).as("nf"))
    // one row per (frame, band): rows are distinct by construction — no
    // video-level distinct that would erase which frame carried a byte
    val bandRows = hs.select(
      struct(col("media_id"), col("frame_idx")).as("doc_id"),
      col("media_id").as("mid"), col("frame_idx").as("fi"),
      col("fhash").as("h"),
      explode(array((0 until 8).map(b => struct(lit(b).as("band"),
        shiftright(col("fhash"), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
        .as("bv"))
      .select(col("doc_id"), col("mid"), col("fi"), col("h"),
        col("bv.band").as("band"), col("bv.b").as("b"))
    val lower = col("_mid_x") < col("_mid_y")
    val verified = DedupOps.bucketedPairCandidates(bandRows,
        Seq("mid", "fi", "h"), DedupOps.MaxBucket, DedupOps.GridCell)
      .where(col("_mid_x") =!= col("_mid_y")) // cross-video only
      .where(bit_count(col("_h_x").bitwiseXOR(col("_h_y"))) <= maxHamming)
      .select(
        when(lower, col("_mid_x")).otherwise(col("_mid_y")).as("media_a"),
        when(lower, col("_mid_y")).otherwise(col("_mid_x")).as("media_b"),
        when(lower, col("_fi_x")).otherwise(col("_fi_y")).as("_fi_a"),
        when(lower, col("_fi_y")).otherwise(col("_fi_x")).as("_fi_b"))
      .distinct() // a frame pair surfaces once per shared (band, cell)
    verified.groupBy(col("media_a"), col("media_b"))
      .agg(countDistinct(col("_fi_a")).as("_ma"),
        countDistinct(col("_fi_b")).as("_mb"))
      .join(counts.select(col("media_id").as("media_a"), col("nf").as("_na")),
        "media_a")
      .join(counts.select(col("media_id").as("media_b"), col("nf").as("_nb")),
        "media_b")
      .withColumn("matched_frames",
        when(col("_na") <= col("_nb"), col("_ma")).otherwise(col("_mb")))
      .withColumn("match_frac",
        col("matched_frames") / least(col("_na"), col("_nb")))
      .where(col("match_frac") >= minMatchFrac)
      .select(col("media_a"), col("media_b"), col("matched_frames"),
        col("match_frac"))
  }

  /** Offset added to a source doc_id to form its planted variant's
    * media_id in the synthetic corpora below — far above any testdata
    * doc_id, so originals and variants never collide. */
  val VariantIdOffset: Long = 1000000000L

  /** Deterministic REAL-PNG corpus synthesized from a text table — the
    * bridge that lets the image near-dup pipeline run as a REGISTERED
    * query over the driver's parquet tables (binary payloads cannot cross
    * the DuckDB oracle, but 64-bit fingerprints and pair rows can — the
    * q42/q82 precedent). Per doc: a 16×16 PNG whose pixels are a pure
    * function of the text (char-code-seeded gradient — textured, so
    * dHashes spread). Planted rows, all keyed `doc_id + VariantIdOffset`:
    *  - `doc_id % (2·variantEvery) == 0` → byte-exact decode→re-encode of
    *    the original (dHash hamming 0 GUARANTEED — the pair output is
    *    deterministically non-empty),
    *  - other `doc_id % variantEvery == 0` → area-average resize to 12 px
    *    + re-encode (the perceptual-robustness class, hamming ≤ 6 for
    *    these textures),
    *  - `doc_id % brokenEvery == 0` → truncated, undecodable payload
    *    (must surface as `ok = false` and be EXCLUDED from pairs — the
    *    integrity path, exercised in the registered query, not only in
    *    specs).
    * Everything is executor-local (mapPartitions over the JDK codec, no
    * shuffle) and deterministic for a given table — rerunnable as a
    * rows-checked CORRECTNESS entry. */
  def syntheticImageCorpus(docs: DataFrame, id: Column, text: Column,
      variantEvery: Int = 4, brokenEvery: Int = 97)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    Fanout.spread(docs.select(id.cast("long").as("media_id"), text.as("text")))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (mid, t) =>
        val s = if (t == null || t.isEmpty) " " else t
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val c = s.charAt((y * 16 + x) % s.length).toInt
            // char-seeded but spatially smooth-ish: neighboring cells
            // share the text window, so the 9×8 area-average keeps
            // structure instead of averaging to flat gray
            val l = (c * 37 + x * 23 + y * 11) & 0xff
            img.setRGB(x, y, (l << 16) | ((255 - l) << 8) | ((c * 13) & 0xff))
            x += 1
          }
          y += 1
        }
        val png = ImageCodec.encodePng(img)
        val base = MediaRow(mid, "image", png, 16, 16, 0)
        val variant =
          if (mid % brokenEvery == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = png.take(8))) // truncated: undecodable
          else if (mid % (2L * variantEvery) == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = ImageCodec.encodePng(ImageCodec.decode(png).get)))
          else if (mid % variantEvery == 0) {
            val scaled = ImageCodec.resize(ImageCodec.decode(png).get, 12)
            Some(MediaRow(mid + VariantIdOffset, "image",
              ImageCodec.encodePng(scaled), scaled.getWidth,
              scaled.getHeight, 0))
          } else None
        Iterator(base) ++ variant.iterator
      })
  }

  /** Deterministic REAL-WAV corpus synthesized from a text table — the
    * audio analog of [[syntheticImageCorpus]]. Per doc: a 0.2 s 16-bit
    * mono PCM WAV at 8 kHz whose amplitude ENVELOPE follows the text's
    * char codes (65-window envelope → well-spread [[audioEnvHash]]es)
    * over a hash-seeded carrier tone. Planted rows at
    * `doc_id + VariantIdOffset`:
    *  - `doc_id % variantEvery == 0` → the SAME clip at 45 % volume
    *    (envelope hash hamming 0 GUARANTEED by amplitude-scale
    *    invariance — deterministic non-empty pair output),
    *  - `doc_id % brokenEvery == 0` → truncated header, undecodable
    *    (`ok = false`, excluded from pairs). */
  def syntheticAudioCorpus(docs: DataFrame, id: Column, text: Column,
      variantEvery: Int = 4, brokenEvery: Int = 97)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val rate = 8000
    val n = 1600
    def wavBytes(t: String, scale: Double): Array[Byte] = {
      val s = if (t == null || t.isEmpty) " " else t
      val freq = 200.0 + (s.hashCode & 0x7fffffff) % 800
      val samples = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val c = s.charAt(i * s.length / n).toInt
        val env = 0.2 + 0.8 * ((c * 31) % 97) / 96.0
        val v = (scale * env * 0.9 *
          math.sin(2 * math.Pi * freq * i / rate) * 32767.0).toInt
        samples(2 * i) = (v & 0xff).toByte        // little-endian PCM16
        samples(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    Fanout.spread(docs.select(id.cast("long").as("media_id"), text.as("text")))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (mid, t) =>
        val base = MediaRow(mid, "audio", wavBytes(t, 1.0), 0, 0, rate)
        val variant =
          if (mid % brokenEvery == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = base.payload.take(16)))
          else if (mid % variantEvery == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = wavBytes(t, 0.45)))
          else None
        Iterator(base) ++ variant.iterator
      })
  }

  /** Deterministic REAL-Y4M corpus synthesized from a text table — the
    * video analog of [[syntheticImageCorpus]], the bridge that lets the
    * video near-dup pipeline run as a REGISTERED query over the driver's
    * parquet tables. Per doc: a 16×16, 6-frame C420 Y4M whose luma planes
    * are a pure function of (text, frame index) — textured per frame so
    * the 9×8 area-average dHashes spread. Planted rows, all keyed
    * `doc_id + VariantIdOffset`:
    *  - `doc_id % (2·variantEvery) == 0` → decode→re-encode of the
    *    original (luma byte-identical, every frame hash hamming 0,
    *    match_frac 1.0 — the pair output is deterministically non-empty),
    *  - other `doc_id % variantEvery == 0` → a FRAME-STRIDE twin (every
    *    2nd frame kept, via the [[sampleVideoFrames]] code path): each
    *    kept frame is byte-identical to a frame of the original, and
    *    [[videoNearDupPairs]] normalizes matched frames over the SMALLER
    *    video's count, so match_frac is exactly 1.0 — the trimmed-copy
    *    recall guarantee, exercised in the registered query,
    *  - `doc_id % brokenEvery == 0` → truncated mid-frame, undecodable
    *    (must surface as `ok = false` and be EXCLUDED from pairs).
    * Executor-local (mapPartitions over the pure-JVM codec, no shuffle)
    * and deterministic for a given table — rows-checkable in CORRECTNESS. */
  def syntheticVideoCorpus(docs: DataFrame, id: Column, text: Column,
      variantEvery: Int = 4, brokenEvery: Int = 97)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val (w, h, nFrames) = (16, 16, 6)
    Fanout.spread(docs.select(id.cast("long").as("media_id"), text.as("text")))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (mid, t) =>
        val s = if (t == null || t.isEmpty) " " else t
        // per-doc avalanche seed: without it, structurally similar texts
        // ("doc N body …") produce near-identical luma STRUCTURE across
        // docs, dHash band bytes collide pervasively, and candidate
        // generation degenerates toward all-pairs (measured at sf0.1:
        // 15 M candidates from 6.3 k videos). Mixing the seed per PIXEL
        // (not a constant offset, which dHash's neighbor-compare would
        // cancel) spreads cross-doc hashes the way real content does,
        // while every planted variant stays an exact derivation of its
        // own doc's frames.
        val seed = scala.util.hashing.MurmurHash3.stringHash(s)
        val frames = Vector.tabulate(nFrames) { f =>
          val luma = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val c = s.charAt((y * w + x) % s.length).toInt
              val mix = seed * (y * w + x + 1)
              luma(y * w + x) =
                ((c * 37 + x * 23 + y * 11 + f * 53 + (mix >>> 24)) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          luma
        }
        val y4m = VideoCodec.encodeY4m(w, h, 30, 1, frames)
        val base = MediaRow(mid, "video", y4m, w, h, 0)
        val variant =
          if (mid % brokenEvery == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = y4m.take(y4m.length / 2))) // truncated: undecodable
          else if (mid % (2L * variantEvery) == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = VideoCodec.encodeY4m(w, h, 30, 1,
                VideoCodec.decode(y4m).get.lumaFrames)))
          else if (mid % variantEvery == 0)
            Some(base.copy(media_id = mid + VariantIdOffset,
              payload = VideoCodec.encodeY4m(w, h, 30, 1,
                frames.zipWithIndex.collect { case (f, i) if i % 2 == 0 => f })))
          else None
        Iterator(base) ++ variant.iterator
      })
  }

  /** Deterministic compressed-audio corpus for the [[mpegAudioInfo]]
    * face: per doc an MPEG-1 Layer III frame stream whose frame count
    * and bitrate pattern derive from the text hash — even ids CBR, odd
    * ids VBR (per-frame bitrate walks the table), every 3rd payload
    * ID3v2-prefixed (the tag-skip path), every `brokenEvery`-th
    * replaced by non-MPEG bytes (the ok=false path). Same synthesis
    * conventions as [[syntheticAudioCorpus]] / [[syntheticVideoCorpus]]. */
  def syntheticMp3Corpus(docs: DataFrame, id: Column, text: Column,
      brokenEvery: Int = 97)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    Fanout.spread(docs.select(id.cast("long").as("media_id"), text.as("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (mid, t) =>
        val s = if (t == null || t.isEmpty) " " else t
        val seed = scala.util.hashing.MurmurHash3.stringHash(s) & 0x7fffffff
        val nFrames = 8 + seed % 9
        val brIdxs =
          if (mid % 2 == 0) Seq.fill(nFrames)(1 + seed % 14)
          else (0 until nFrames).map(f => 1 + (seed + f * 5) % 14)
        val payload =
          if (mid % brokenEvery == 0)
            Array.tabulate[Byte](64)(i => ((seed + i * 13) & 0x7f).toByte)
          else MpegAudioCodec.encodeMp3ForTest(brIdxs,
            id3Bytes = if (mid % 3 == 0) 10 + seed % 90 else 0)
        MediaRow(mid, "audio", payload, 0, 0, 44100)
      })
  }

  /** Pure-Column metadata/digest path (no decode): byte length, content
    * digest, and a "first frame" sample digest — stays in codegen, used for
    * dedup/integrity at scale where full decode is unnecessary. */
  def mediaMetadata(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("media_id"),
      octet_length(encode(text, "UTF-8")).cast("long").as("byte_len"),
      md5(encode(text, "UTF-8")).as("content_md5"),
      md5(encode(substring(text, 1, 16), "UTF-8")).as("frame_md5"))
}
