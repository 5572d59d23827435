package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Out, Tables}
import graft.functions.F
import graft.sources.Ingest

/** Multimodal columns for a training-data pipeline: media as opaque
  * `binary` columns with typed metadata, plus decode / thumbnail /
  * frame-sample / feature-extract stages.
  *
  * The engine treats media EXACTLY as a 100 TB pipeline must: bytes are
  * an opaque binary column co-partitioned with their metadata; every
  * transformation is either a pure column expression (lengths, slices,
  * hashes, chunk counts) or a `mapPartitions` stage whose per-batch
  * shape (Iterator→Iterator, no per-row session state) is the real
  * contract. All three modality codecs are REAL and core-JVM (the
  * zero-egress build holds): IMAGE — [[MediaCodec.decodeImage]],
  * javax.imageio PNG/JPEG parse (q_media_decode); AUDIO —
  * [[MediaCodec.decodeAudio]], javax.sound.sampled WAV/PCM parse
  * (q_media_audio); VIDEO — [[MediaCodec.decodeVideo]], javax.imageio
  * multi-frame GIF demux + LZW decode, one row out per contained frame
  * (q_media_video). Each is oracle-checked against its fixture
  * GENERATOR's formulas, never against the decoding API itself.
  * [[MediaCodec.decodeStub]] remains only for the synthetic
  * text-payload corpus (q_media_features), where it stands in for a
  * production codec over payloads that are not real media; swapping a
  * richer codec in changes one function, not the plumbing,
  * partitioning or schema.
  *
  * The media corpus itself is synthesized from `documents` (text bytes
  * as payload) — deterministic, so the DuckDB oracle can reproduce the
  * byte-level stats.
  */
object Multimodal {

  /** Payload bytes per synthetic video "frame" (chunked slices). */
  val FrameBytes = 64

  /** Typed media row for the mapPartitions stage. */
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  /** Decoded feature row (stub codec output). */
  case class MediaFeature(media_id: Long, kind: String, n_bytes: Long,
                          width: Int, height: Int, feature: Array[Float])

  /** The stubbed codec boundary. A production build replaces these with
    * real decoders (JPEG/PNG, PCM, frame demux); signatures and
    * determinism contracts stay identical.
    */
  object MediaCodec {
    /** STUB decode: metadata derived deterministically from the bytes —
      * stands in for reading an image header.
      */
    def decodeStub(content: Array[Byte]): (Int, Int) = {
      val n = content.length
      (32 + n % 97, 32 + (n * 31) % 89)
    }

    /** STUB feature lanes: integer sums of the byte stream folded into 8
      * lanes (byte i lands in lane i%8) — exact integer arithmetic, so
      * any engine reproduces them bit-for-bit (the oracle of
      * q_media_features does).
      */
    def laneSums(content: Array[Byte]): Array[Long] = {
      val acc = new Array[Long](8)
      var i = 0
      while (i < content.length) {
        acc(i % 8) += (content(i) & 0xff)
        i += 1
      }
      acc
    }

    /** STUB feature extractor: the 8 integer lane sums scaled to floats —
      * stands in for an embedding model forward pass. Deterministic in
      * the content (a single float division per lane, so the float
      * values are themselves reproducible from the exact lane sums).
      */
    def featureStub(content: Array[Byte]): Array[Float] =
      laneSums(content).map(_ / 255.0f)

    /** REAL audio decode (core-JVM javax.sound.sampled — the same
      * zero-egress argument as the imageio path): parse a WAV
      * container, require 16-bit little-endian signed PCM, and return
      * the header fields plus exact integer sample statistics
      * (Σ samples, Σ samples² across all channels). WAV PCM is
      * lossless, so a correct decoder reproduces the sums EXACTLY from
      * the fixture generator's sample formula.
      */
    def decodeAudio(content: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"unsupported WAV encoding (need 16-bit LE signed PCM): $fmt")
        val bytes = in.readAllBytes()
        var sum = 0L
        var sq = 0L
        var k = 0
        while (k + 1 < bytes.length) {
          val s = ((bytes(k) & 0xff) | (bytes(k + 1) << 8)).toShort.toLong
          sum += s; sq += s * s
          k += 2
        }
        (fmt.getSampleRate.toInt, fmt.getChannels,
          bytes.length.toLong / fmt.getFrameSize, sum, sq)
      } finally in.close()
    }

    /** REAL video decode (core-JVM javax.imageio GIF reader — a real
      * multi-frame container parse + LZW decode, the closest honest
      * demuxer the zero-egress JVM offers): iterate the GIF image
      * sequence and return one row of exact integer channel sums per
      * frame. With an explicit indexed palette GIF is LOSSLESS, so a
      * correct demux+decode reproduces the fixture generator's
      * per-frame formulas exactly.
      */
    def decodeVideo(content: Array[Byte]): Seq[(Int, Int, Int, Long, Long, Long)] = {
      // MemoryCache stream: the ImageIO factory default spools the
      // payload through a disk-backed temp file per item
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(content))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"undecodable video payload (${content.length} bytes)")
      val rd = readers.next()
      require(rd.getFormatName.equalsIgnoreCase("gif"),
        s"unsupported video container (need GIF): ${rd.getFormatName}")
      rd.setInput(iis)
      try {
        val n = rd.getNumImages(true)
        (0 until n).map { f =>
          val img = rd.read(f)
          var (r, g, b) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
              x += 1
            }
            y += 1
          }
          (f, img.getWidth, img.getHeight, r, g, b)
        }
      } finally { rd.dispose(); iis.close() }
    }

    /** REAL image decode (core-JVM javax.imageio, so the zero-egress
      * build constraint holds): parse the compressed payload, return
      * dimensions, pixel count and exact per-channel sums — pure integer
      * outputs a SQL oracle can check against the fixture generator's
      * formulas. PNG is lossless, so a correct decoder reproduces the
      * sums EXACTLY.
      */
    def decodeImage(content: Array[Byte]): (Int, Int, Long, Long, Long) = {
      // explicit reader over a MemoryCache stream — ImageIO.read's
      // convenience path both re-scans the plugin registry and spools
      // the payload through a disk-backed temp file per item
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(content))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"undecodable image payload (${content.length} bytes)")
      val rd = readers.next()
      rd.setInput(iis)
      val img = try rd.read(0) finally { rd.dispose(); iis.close() }
      require(img != null, s"undecodable image payload (${content.length} bytes)")
      var (r, g, b) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          x += 1
        }
        y += 1
      }
      (img.getWidth, img.getHeight, r, g, b)
    }
  }

  /** Synthetic media corpus over `documents`: payload = UTF-8 bytes of
    * the text, modality from the source shard. Binary column + typed
    * metadata, one row per media object.
    */
  def media(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    val kind = element_at(
      map(lit(0), lit("image"), lit(1), lit("audio"), lit(2), lit("video")),
      srcNum % 3)
    Tables.load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(
        col("doc_id").as("media_id"),
        kind.as("kind"),
        encode(col("text"), "UTF-8").as("content"))
  }

  /** Thumbnail stage (resize stand-in): truncate payload to `bytes` —
    * a pure binary column expression, no UDF.
    */
  def thumbnail(content: org.apache.spark.sql.Column, bytes: Int): org.apache.spark.sql.Column =
    substring(content, 1, bytes)

  /** Frame sampling (video stand-in): chunk the payload into
    * [[FrameBytes]]-sized frames and keep every `step`-th — pure
    * higher-order array expressions over the binary column.
    */
  def sampleFrames(content: org.apache.spark.sql.Column, step: Int): org.apache.spark.sql.Column = {
    val nFrames = ceil(octet_length(content).cast("double") / FrameBytes).cast(LongType)
    val frames = transform(sequence(lit(0L), nFrames - 1),
      i => substring(content, (i * FrameBytes + 1).cast("int"), lit(FrameBytes)))
    filter(frames, (_, i) => i % step === 0)
  }

  /** Thumbnail + frame-sampling per media item, oracle-checkable end to
    * end: frame counts, the every-2nd sampling, the truncating resize
    * stand-in, and the ragged TAIL frame (last chunk shorter than
    * [[FrameBytes]]) — the edge a chunking bug hides in. All pure
    * column expressions; per-row map, no shuffle.
    */
  def mediaFrames(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val sampled = sampleFrames(col("content"), 2)
    val r = media(spark, dir).select(
      col("media_id"), col("kind"),
      octet_length(col("content")).cast(LongType).as("n_bytes"),
      ceil(octet_length(col("content")).cast("double") / FrameBytes)
        .cast(LongType).as("n_frames"),
      size(sampled).cast(LongType).as("n_sampled"),
      octet_length(thumbnail(col("content"), 64)).cast(LongType).as("thumb_bytes"),
      md5(thumbnail(col("content"), 64)).as("thumb_hash"),
      octet_length(element_at(sampled, -1)).cast(LongType).as("last_sampled_bytes"))
    graft.Out.sorted(r)(col("media_id"))
  }

  /** The mapPartitions decode stage: batched Iterator→Iterator with the
    * codec stubbed. This is where a real pipeline amortizes model/codec
    * init per PARTITION (not per row) — the shape that matters at scale.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real impl: initialize decoder/model ONCE here, then stream
      it.map { m =>
        val (w, h) = MediaCodec.decodeStub(m.content)
        MediaFeature(m.media_id, m.kind, m.content.length.toLong, w, h,
          MediaCodec.featureStub(m.content))
      }
    }
  }

  /** Decoded media row with the exact integer lane sums (the
    * oracle-checkable projection of the stub codec).
    */
  case class MediaDecoded(media_id: Long, kind: String, n_bytes: Long,
                          width: Int, height: Int, lane_sums: Array[Long])

  /** The decode stage with integer-exact outputs: same mapPartitions
    * shape as [[decodeFeatures]], emitting the stub codec's metadata and
    * lane sums so a SQL engine can replicate every value from the same
    * payload bytes.
    */
  def decodeExact(media: Dataset[MediaRow]): Dataset[MediaDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (w, h) = MediaCodec.decodeStub(m.content)
        MediaDecoded(m.media_id, m.kind, m.content.length.toLong, w, h,
          MediaCodec.laneSums(m.content))
      }
    }
  }

  /** q_media_features — the ORACLE-CHECKED decode query: runs the
    * mapPartitions codec stage over the full media corpus and projects
    * its integer-exact outputs (dimensions + 8 feature lanes) per item.
    * The stub codec is deterministic in the payload bytes, so DuckDB
    * recomputes width/height/lane sums from the same text bytes and the
    * hash gate covers the decode stage itself, not just its plumbing.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = media(spark, dir)
      .select(col("media_id"), col("kind"), col("content"))
      .as[MediaRow]
    val lanes = (0 until 8).map(j =>
      element_at(col("lane_sums"), j + 1).as(s"lane$j"))
    val r = decodeExact(m).toDF()
      .select(Seq(col("media_id"), col("kind"), col("n_bytes"),
        col("width"), col("height")) ++ lanes: _*)
    Out.sorted(r)(col("media_id"))
  }

  /** Decoded image row of the REAL codec path. */
  case class ImageDecoded(media_id: Long, width: Int, height: Int,
                          n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** The REAL-codec decode stage: the same batched mapPartitions shape
    * as [[decodeFeatures]] (decoder init amortizes per partition, rows
    * stream through), but the work inside is an honest javax.imageio
    * parse of compressed PNG bytes, not a stub.
    */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real pipelines initialize codec/scaler state once per partition
      // here; ImageIO is stateless, so the comment IS the init
      it.map { m =>
        val (w, h, r, g, b) = MediaCodec.decodeImage(m.content)
        ImageDecoded(m.media_id, w, h, w.toLong * h, r, g, b)
      }
    }
  }

  /** Committed real-image fixture corpus (see
    * graft.tools.MakeMediaFixtures for the generative formulas the
    * oracle replays).
    */
  val MediaFixturesGlob: String = s"${Ingestion.FixturesDir}/media/*.png"

  /** Number of committed PNG fixtures (image i is (16+i)×(12+i)). */
  val MediaFixtureCount = 12

  /** q_media_decode — the REAL-CODEC oracle query: scan the committed
    * PNG fixtures with binaryFile (the distributed ingest shape —
    * payloads never touch the driver), decode each with javax.imageio
    * inside [[decodeImages]]'s mapPartitions stage, and emit integer
    * dimensions + exact channel sums. The DuckDB oracle recomputes the
    * same values from the fixture GENERATOR's pixel formulas, so the
    * gate checks the decode itself against ground truth that does not
    * come from javax.imageio. (`dir` is unused — the fixtures are the
    * corpus — but kept for the uniform query signature.)
    */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = spark.read.format("binaryFile")
      .load(Ingest.globPaths(spark, MediaFixturesGlob): _*)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast(LongType)
          .as("media_id"),
        lit("image").as("kind"),
        col("content"))
      .as[MediaRow]
    val r = decodeImages(m).toDF()
    Out.sorted(r)(col("media_id"))
  }

  /** Committed WAV fixture corpus (see graft.tools.MakeAudioFixtures
    * for the PCM sample formula the oracle replays).
    */
  val AudioFixturesGlob: String = s"${Ingestion.FixturesDir}/media/audio_*.wav"

  /** Number of committed WAV fixtures and their generative parameters —
    * shared by the generator tool, the decode assertions and the DuckDB
    * oracle so all three derive from one place. Fixture i is
    * [[audioFrames]] frames of [[audioChannels]]-channel 16-bit PCM at
    * [[audioRate]] Hz; frame f, channel c holds sample
    * `((f*17 + c*5 + i*29) % 2003) - 1001` — pure integer arithmetic
    * within 16-bit range, so Σ and Σ² are engine-exact.
    */
  val AudioFixtureCount = 10
  def audioRate(i: Int): Int = 8000 + 500 * i
  def audioChannels(i: Int): Int = 1 + i % 2
  def audioFrames(i: Int): Int = 400 + 80 * i
  def audioSample(i: Int, f: Int, c: Int): Int =
    ((f * 17 + c * 5 + i * 29) % 2003) - 1001

  /** Decoded audio row of the REAL codec path. */
  case class AudioDecoded(media_id: Long, sample_rate: Int, n_channels: Int,
                          n_frames: Long, n_samples: Long,
                          sum_samples: Long, sum_squares: Long)

  /** The REAL-codec audio decode stage: identical batched mapPartitions
    * shape to [[decodeImages]], with an honest javax.sound.sampled WAV
    * parse inside.
    */
  def decodeAudios(media: Dataset[MediaRow]): Dataset[AudioDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (rate, ch, frames, sum, sq) = MediaCodec.decodeAudio(m.content)
        AudioDecoded(m.media_id, rate, ch, frames, frames * ch, sum, sq)
      }
    }
  }

  /** q_media_audio — the REAL-CODEC audio oracle query: scan the
    * committed WAV fixtures with binaryFile (payloads never touch the
    * driver), decode each inside [[decodeAudios]]'s mapPartitions
    * stage, and emit header fields + exact integer sample sums + RMS.
    * The DuckDB oracle recomputes every value from the generator's
    * sample FORMULA, so the gate checks the decode against ground truth
    * that does not come from javax.sound.sampled. RMS is the one
    * derived double: sqrt and long→double division are IEEE-exact in
    * both engines, rounded half-up in lockstep. (`dir` is unused — the
    * fixtures are the corpus — but kept for the uniform signature.)
    */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = spark.read.format("binaryFile")
      .load(Ingest.globPaths(spark, AudioFixturesGlob): _*)
      .select(
        regexp_extract(col("path"), "audio_(\\d+)\\.wav", 1).cast(LongType)
          .as("media_id"),
        lit("audio").as("kind"),
        col("content"))
      .as[MediaRow]
    val r = decodeAudios(m).toDF()
      .withColumn("rms", F.roundHalfUp(
        sqrt(col("sum_squares").cast("double") / col("n_samples").cast("double")), 6))
    Out.sorted(r)(col("media_id"))
  }

  /** Committed GIF video fixtures (see graft.tools.MakeVideoFixtures
    * for the palette + pixel formulas the oracle replays).
    */
  val VideoFixturesGlob: String = s"${Ingestion.FixturesDir}/media/video_*.gif"

  /** Number of committed GIF fixtures and their generative parameters —
    * shared by the generator, the decode assertions and the DuckDB
    * oracle. Video i is [[videoFrames]] frames of
    * [[videoWidth]]×[[videoHeight]] pixels; pixel (x,y) of frame f
    * carries palette index `(x*5 + y*11 + f*23 + i*13) % 256`, and the
    * FIXED 256-entry palette maps index p → (p, p·7 mod 256,
    * p·13 mod 256). Every frame uses only palette colors, so the GIF
    * encode is lossless and Σ per channel is engine-exact.
    */
  val VideoFixtureCount = 6
  def videoFrames(i: Int): Int = 3 + i
  def videoWidth(i: Int): Int = 12 + i
  def videoHeight(i: Int): Int = 10 + i
  def videoPaletteIndex(i: Int, f: Int, x: Int, y: Int): Int =
    (x * 5 + y * 11 + f * 23 + i * 13) % 256
  def videoPalette(p: Int): (Int, Int, Int) = (p, (p * 7) % 256, (p * 13) % 256)

  /** Decoded video frame row of the REAL demux path. */
  case class VideoFrame(media_id: Long, frame_idx: Int, width: Int,
                        height: Int, n_pixels: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** The REAL-codec video demux stage: the same batched mapPartitions
    * shape as [[decodeImages]], but one input row FANS OUT to one row
    * per contained frame (Iterator→Iterator flatMap — the demux shape:
    * containers in, frames out, nothing driver-side).
    */
  def decodeVideos(media: Dataset[MediaRow]): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        MediaCodec.decodeVideo(m.content).map { case (f, w, h, r, g, b) =>
          VideoFrame(m.media_id, f, w, h, w.toLong * h, r, g, b)
        }
      }
    }
  }

  /** q_media_video — the REAL-CODEC video oracle query: scan the
    * committed multi-frame GIFs with binaryFile, demux + decode every
    * frame inside [[decodeVideos]]'s mapPartitions stage, and emit
    * per-frame dimensions + exact channel sums. The DuckDB oracle
    * recomputes every value from the generator's palette/pixel
    * FORMULAS, so the gate checks the demux and the LZW decode against
    * ground truth independent of javax.imageio.
    */
  def mediaVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = spark.read.format("binaryFile")
      .load(Ingest.globPaths(spark, VideoFixturesGlob): _*)
      .select(
        regexp_extract(col("path"), "video_(\\d+)\\.gif", 1).cast(LongType)
          .as("media_id"),
        lit("video").as("kind"),
        col("content"))
      .as[MediaRow]
    val r = decodeVideos(m).toDF()
    Out.sorted(r)(col("media_id"), col("frame_idx"))
  }

  // -------------------------------------------------------------------
  // Image perceptual-hash near-dup channel: dHash + Hamming banding.

  /** Rendered image dimensions of the per-document image corpus. */
  val ImgW = 16
  val ImgH = 12

  /** dHash sampling grid: [[DHashCols]]×[[DHashRows]] sampled pixels →
    * ([[DHashCols]]−1)·[[DHashRows]] = 64 adjacent-brightness bits.
    */
  val DHashCols = 9
  val DHashRows = 8

  /** The 64-bit dHash is carried as [[ImgBands]] × [[ImgBandBits]]-bit
    * band values — the banding IS the storage, so the LSH bucket join
    * needs no bit-slicing and no engine ever shifts into bit 63.
    */
  val ImgBands = 4
  val ImgBandBits = 16

  /** Near-dup acceptance: Hamming ≤ 3 over the 64 dHash bits. With 4
    * bands, ≤ 3 flipped bits pigeonhole into at most 3 bands, so every
    * true pair shares ≥ 1 clean band — banding recall is EXACT at the
    * threshold, the same law as the SimHash channel
    * (TextOps.simhashNearDup).
    */
  val ImgMaxHamming = 3

  /** LOW-ENTROPY GUARD — the standard practice of every production
    * perceptual-hash dedup pipeline: flat and near-flat images (solid
    * thumbnails, letterboxed blanks; here, renders of very short
    * documents whose few tokens repeat across the grid) have
    * near-degenerate dHashes that match EVERYTHING, turning the banded
    * join's buckets into corpus-sized cliques. An image enters the
    * near-dup channel only if its sampled grid shows at least this
    * many distinct luminance values; excluded images are still hashed
    * and reported (q_image_dhash carries the `kept` flag), and their
    * exact duplicates remain the exact-dedup channel's job.
    */
  val ImgMinEntropy = 12

  /** Pixel base byte g of pixel k for a document's token array: the
    * first two md5 hex digits (= the first digest byte, unsigned) of
    * token k·n div (W·H) — identical to the SQL idiom
    * `conv(substr(md5(t), 1, 2), 16, 10)` the DuckDB oracle replays.
    * Computed in the render stage's mapPartitions with ONE MessageDigest
    * per partition and one digest per TOKEN: the previous per-pixel SQL
    * column recomputed the same token md5 up to W·H/n times per
    * document (~3.5× more digests than tokens on this corpus), and a
    * fresh digest instance per call (guide §4.5: amortize heavyweight
    * state per task, hash each distinct input once).
    */
  private[graft] def tokenByte(
      md: java.security.MessageDigest, tok: String): Int = {
    md.reset()
    md.digest(tok.getBytes("UTF-8"))(0) & 0xff
  }

  /** Palette of the rendered image: base byte g → RGB
    * (g, g·7 mod 256, g·13 mod 256), the same fixed-palette style as
    * the GIF video fixtures.
    */
  private[graft] def imgPalette(g: Int): (Int, Int, Int) =
    (g, (g * 7) % 256, (g * 13) % 256)

  /** Integer luminance used by the dHash comparisons — 299·R + 587·G +
    * 114·B WITHOUT the usual /1000 (monotone, exact in both engines).
    */
  private[graft] def imgGray(r: Int, g: Int, b: Int): Long =
    299L * r + 587L * g + 114L * b

  /** Typed rows of the image channel. `n_gray` is the count of
    * distinct sampled luminance values — the [[ImgMinEntropy]] guard's
    * measured quantity.
    */
  case class ImgSrc(media_id: Long, toks: Array[String])
  case class ImgHash(media_id: Long, b0: Int, b1: Int, b2: Int, b3: Int,
                     n_gray: Int)

  /** RENDER stage: the image-kind third of the documents corpus (the
    * same source-shard modality split as [[media]]) rendered to REAL
    * compressed PNG payloads in a mapPartitions batch — encoder state
    * amortizes per partition, payload bytes never touch the driver.
    */
  def imageCorpus(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    Tables.load(spark, dir, "documents")
      .filter(srcNum % 3 === 0)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id").as("media_id"),
        split(col("text"), " ").as("toks"))
      .as[ImgSrc]
      .mapPartitions { it =>
        // heavyweight state once per partition (guide §4.5): one
        // MessageDigest, and one explicit PNG ImageWriter instead of
        // the ImageIO.write convenience path (which re-scans the
        // plugin registry and builds a fresh writer per image)
        val md = java.security.MessageDigest.getInstance("MD5")
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        // release the writer's native/registry resources when the task
        // ends (the partition iterator is lazy, so a plain post-loop
        // dispose would never run on early termination or failure)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => writer.dispose()))
        it.map { s =>
          val n = s.toks.length
          // digest byte once per TOKEN; pixel k indexes token
          // k·n div (W·H) — same values as the per-pixel md5 formula
          // the oracle replays
          val tb = new Array[Int](n)
          var i = 0
          while (i < n) { tb(i) = tokenByte(md, s.toks(i)); i += 1 }
          val img = new java.awt.image.BufferedImage(
            ImgW, ImgH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var k = 0
          while (k < ImgW * ImgH) {
            val (r, gg, b) = imgPalette(tb((k * n) / (ImgW * ImgH)))
            img.setRGB(k % ImgW, k / ImgW, (r << 16) | (gg << 8) | b)
            k += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          // MemoryCache stream, NOT ImageIO.createImageOutputStream:
          // the factory consults the disk-backed cache default and
          // creates (and fsyncs) a temp FILE per image — measured as
          // the bulk of the render stage's 30 cpu-s at sf0.1
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          try {
            writer.setOutput(ios)
            writer.write(img)
          } finally ios.close()
          MediaRow(s.media_id, "image", bos.toByteArray)
        }
      }
  }

  /** DECODE + HASH stage: an honest javax.imageio parse of the PNG
    * payload (the codec roundtrip is inside the hash gate — a lossy or
    * wrong decode breaks the oracle match), then the dHash over the
    * [[DHashCols]]×[[DHashRows]] sampled grid: sampled pixel (cx, cy)
    * is source pixel (cx·W div 9, cy·H div 8), bit (cy·8 + cx) is
    * "right neighbor brighter". Emitted directly as the 4 band values.
    */
  def imageDHash(images: Dataset[MediaRow]): Dataset[ImgHash] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      // one explicit PNG ImageReader per partition — the ImageIO.read
      // convenience path re-scans the plugin registry and constructs a
      // fresh reader per image (guide §4.5)
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("png").next()
      // task-completion disposal, same rationale as the writer side
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => reader.dispose()))
      it.map { m =>
        // MemoryCache stream for the same reason as the writer side:
        // the ImageIO factory's default cache spools through a temp
        // file per image
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(m.content))
        val img = try {
          reader.setInput(iis)
          reader.read(0)
        } finally iis.close()
        require(img != null, s"undecodable image payload (media ${m.media_id})")
        val gray = Array.ofDim[Long](DHashRows, DHashCols)
        var cy = 0
        while (cy < DHashRows) {
          var cx = 0
          while (cx < DHashCols) {
            val p = img.getRGB(cx * ImgW / DHashCols, cy * ImgH / DHashRows)
            gray(cy)(cx) = imgGray((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
            cx += 1
          }
          cy += 1
        }
        val bands = new Array[Int](ImgBands)
        var idx = 0
        cy = 0
        while (cy < DHashRows) {
          var cx = 0
          while (cx < DHashCols - 1) {
            if (gray(cy)(cx + 1) > gray(cy)(cx))
              bands(idx / ImgBandBits) |= 1 << (idx % ImgBandBits)
            idx += 1
            cx += 1
          }
          cy += 1
        }
        val nGray = gray.iterator.flatten.toSet.size
        ImgHash(m.media_id, bands(0), bands(1), bands(2), bands(3), nGray)
      }
    }
  }

  /** q_image_dhash — the per-image hash table as an oracle-checked
    * query: media id, the 4 dHash band values, the sampled-grid
    * entropy, and the [[ImgMinEntropy]] keep flag. This row
    * value-gates the render→encode→decode→sample→hash pipeline for
    * EVERY image at every scale (the pair row's population can be
    * legitimately sparse at small corpora).
    */
  def imageDHashTable(spark: SparkSession, dir: String): DataFrame = {
    val r = imageDHash(imageCorpus(spark, dir)).toDF()
      .withColumn("kept", col("n_gray") >= ImgMinEntropy)
    Out.sorted(r)(col("media_id"))
  }

  /** Banded near-dup pairs over the dHash corpus — the SimHash pair
    * machinery re-expressed for the image channel: explode each hash
    * into its [[ImgBands]] (band_idx, band_val) rows, equi-join on the
    * band (never all-pairs), then confirm with the exact 64-bit
    * Hamming distance computed from the band values both sides already
    * carry. Output is every pair at Hamming ≤ [[ImgMaxHamming]] with
    * its shared-band count.
    *
    * Scale shape: render and hash are per-row map stages; the only
    * shuffle is the band self-join, whose key space (band_val) is
    * 2^16 per band — clone-heavy corpora concentrate identical hashes
    * into shared buckets exactly like the SimHash row, and the emitted
    * clone-group pairs are the query's OUTPUT, not overhead.
    */
  def imageNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // EAGER the hash table before the band self-join: the join's two
    // aliases are two consumers of the same subtree, and without a
    // materialization the render→encode→decode→hash pipeline executes
    // TWICE (measured: q_image_neardup cpu ≈ 2× q_image_dhash's). The
    // checkpointed frame is k·n-tiny (6 ints per kept image) — the
    // SCALE.md rule: checkpoint hash/top-k frames, never candidates.
    val h = graft.Out.eager(
      imageDHash(imageCorpus(spark, dir)).toDF()
        .filter(col("n_gray") >= ImgMinEntropy))
    val bands = h.select(col("media_id"),
      col("b0"), col("b1"), col("b2"), col("b3"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_idx", "band_val")))
    val x = bands.alias("x")
    val y = bands.alias("y")
    x.join(y,
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("media_a"),
        col("y.media_id").as("media_b"),
        col("x.b0").as("xb0"), col("x.b1").as("xb1"),
        col("x.b2").as("xb2"), col("x.b3").as("xb3"),
        col("y.b0").as("yb0"), col("y.b1").as("yb1"),
        col("y.b2").as("yb2"), col("y.b3").as("yb3"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .withColumn("hamming", expr(
        """cast(bit_count(xb0 ^ yb0) + bit_count(xb1 ^ yb1) +
                bit_count(xb2 ^ yb2) + bit_count(xb3 ^ yb3) as int)"""))
      .filter(col("hamming") <= ImgMaxHamming)
      .select(col("media_a"), col("media_b"), col("hamming"),
        col("n_shared_bands"))
  }

  /** q_image_neardup — the image near-dup channel as an oracle-checked
    * query: per-document PNGs rendered, decoded, dHashed and
    * band-joined; the DuckDB oracle replays the pixel FORMULA (token
    * md5 → palette → luminance → dHash bits → bands → pairs) without
    * ever touching a codec, so the engine's encode→decode roundtrip
    * sits inside the hash gate.
    */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame =
    Out.sorted(imageNearDupPairs(spark, dir))(
      col("media_a"), col("media_b"))

  /** Oracle-checked corpus stats over the binary column: per modality,
    * item/byte/frame counts and content-hash distinct — the byte-level
    * bookkeeping every media pipeline needs before any decode runs.
    */
  def mediaStats(spark: SparkSession, dir: String): DataFrame = {
    val m = media(spark, dir)
    val r = m.select(
        col("kind"),
        octet_length(col("content")).cast(LongType).as("n_bytes"),
        md5(col("content")).as("content_hash"),
        ceil(octet_length(col("content")).cast("double") / FrameBytes)
          .cast(LongType).as("n_frames"))
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        F.avgFromSums(sum(F.dec(col("n_bytes"))), count(lit(1))).as("avg_bytes"),
        sum(col("n_frames")).as("total_frames"),
        countDistinct(col("content_hash")).as("n_distinct_contents"))
    Out.sorted(r)(col("kind"))
  }
}
