package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing (SURVEY.md §2.9 E6): media payloads as
  * opaque `binary` columns with typed metadata, decoded/feature-
  * extracted via a typed `mapPartitions` batch (the Scala analogue of a
  * Pandas-UDF `mapInPandas` stage — per-partition batch iteration, a
  * stable schema on both sides, executor-local libraries).
  *
  * ALL THREE modalities run REAL JDK-builtin codecs, no external
  * library: [[imageDecode]] a PNG encode→decode round trip
  * (`javax.imageio`), [[audioDecode]] a RIFF/WAVE round trip
  * (`javax.sound.sampled`), [[videoDecode]] an animated-GIF
  * multi-frame round trip (container demux + per-frame decode;
  * lossless with an explicit gray palette and interlacing disabled).
  * Every decode is hash-oracled: features come from the DECODED
  * output, whose closed form DuckDB recomputes. The remaining
  * `decodeStub`/`audioStub`/`resizeStub` are the documented seam for
  * EXTERNAL production codecs (ffmpeg-class) — deterministic fakes
  * that oracle-check the generic binary-payload plumbing itself.
  */
object Multimodal {

  /** Input row for the decode stage: identity + payload + metadata. */
  case class MediaRow(doc_id: Long, format: String, payload: Array[Byte])

  /** Decode output: per-item features with the payload digest. */
  case class MediaFeatures(doc_id: Long, format: String, n_bytes: Long,
      sha256: String, width: Long, height: Long, n_frames: Long)

  /** THE MediaRow source every stub pipeline reads — one definition
    * (it was copy-pasted four times), and null-safe: `documents.text`
    * is nullable by schema, and a null payload would NPE inside the
    * per-partition kernels (MessageDigest.digest, payload.length). A
    * null text is an EMPTY media payload — the same explicit-empty
    * semantics the resize stub already documents for n = 0. */
  private def mediaRows(spark: SparkSession, dir: String,
      fmt: String): org.apache.spark.sql.Dataset[MediaRow] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), lit(fmt).as("format"),
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** STUB — stands in for a real image/audio decode (libs absent in this
    * container). Deterministic pure function of the bytes so the
    * pipeline is testable end-to-end; swap the body for a real codec
    * (e.g. javax.imageio / ffmpeg) in production. */
  def decodeStub(r: MediaRow): MediaFeatures = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(r.payload).map("%02x".format(_)).mkString
    val n = r.payload.length.toLong
    // dims clamped to >= 1 exactly like resizeStub derives them — the
    // two stubs must agree on a payload's source dimensions, and a
    // 0-dimension image record is nonsense either way
    MediaFeatures(r.doc_id, r.format, n, hex,
      width = math.max(1L, n % 640), height = math.max(1L, (n * 7) % 480),
      n_frames = n % 16)
  }

  /** Build the media table (text bytes as the stand-in payload), run the
    * batched decode, return flat features. The decode is per-partition:
    * `mapPartitions` keeps codec/library init once per batch, exactly
    * like a Pandas UDF would. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaRows(spark, dir, "txt")
      .mapPartitions(_.map(decodeStub))
      .toDF()
      .orderBy("doc_id")
  }

  /** Audio feature extraction: samples + duration + 25 ms/10 ms-hop
    * analysis-frame counts. */
  case class AudioFeatures(doc_id: Long, n_samples: Long, duration_ms: Long,
      n_audio_frames: Long)

  /** STUB audio decode — payload bytes as 16-bit PCM at 16 kHz (no
    * audio codecs in this container; swap for a real decoder in
    * production). All-integer arithmetic so the frame math is
    * oracle-checkable. */
  def audioStub(r: MediaRow): AudioFeatures = {
    val sampleRate = 16000L
    val nSamples = r.payload.length.toLong / 2
    val durationMs = nSamples * 1000 / sampleRate
    // 25 ms analysis windows, 10 ms hop
    val nFrames = if (durationMs < 25) 0L else (durationMs - 25) / 10 + 1
    AudioFeatures(r.doc_id, nSamples, durationMs, nFrames)
  }

  /** Audio-analysis plumbing over the binary payload: the same typed
    * per-partition batch shape as [[mediaFeatures]], with the windowing
    * arithmetic a speech pipeline needs (frame counts from sample rate
    * and hop). */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaRows(spark, dir, "pcm16")
      .mapPartitions(_.map(audioStub))
      .toDF()
      .orderBy("doc_id")
  }

  /** Resize output: target dims + a checksum over the resampled pixels
    * (the full pixel grid stays executor-side; only the digestible
    * summary crosses to the result — at 100 TB the resized tensors
    * would stream straight into the next stage or a binary sink). */
  case class ResizedImage(doc_id: Long, src_w: Long, src_h: Long,
      out_w: Long, out_h: Long, pixel_sum: Long)

  /** STUB image decode + REAL nearest-neighbor resize. The "image" is
    * the payload bytes laid out row-major over a (w, h) grid derived
    * from the length (codecs absent in this container); the index
    * arithmetic — src = floor(dst · src_dim / out_dim), row-major
    * addressing, modulo wrap for the synthetic grid — is exactly what a
    * real resize kernel does, and is a pure function of the bytes so
    * the oracle recomputes it. */
  def resizeStub(r: MediaRow, outW: Int, outH: Int): ResizedImage = {
    val n = r.payload.length
    // empty payload: nothing to sample — emit a 1×1 zero image instead
    // of letting the modulo-wrap index divide by zero in the executor
    if (n == 0) return ResizedImage(r.doc_id, 1L, 1L, outW.toLong, outH.toLong, 0L)
    val w = math.max(1L, n % 640)
    val h = math.max(1L, (n.toLong * 7) % 480)
    var sum = 0L
    var y = 0
    while (y < outH) {
      val sy = y * h / outH
      var x = 0
      while (x < outW) {
        val sx = x * w / outW
        val idx = ((sy * w + sx) % n).toInt
        sum += r.payload(idx) & 0xff
        x += 1
      }
      y += 1
    }
    ResizedImage(r.doc_id, w, h, outW.toLong, outH.toLong, sum)
  }

  /** Image-resize plumbing: the batched decode→resize stage of an image
    * training pipeline (same typed mapPartitions shape; swap resizeStub
    * for a real decode+resample in production). */
  def imageResize(spark: SparkSession, dir: String,
      outW: Int = 8, outH: Int = 8): DataFrame = {
    import spark.implicits._
    mediaRows(spark, dir, "img")
      .mapPartitions(_.map(resizeStub(_, outW, outH)))
      .toDF()
      .orderBy("doc_id")
  }

  /** Decoded-image features: dimensions + pixel sums from a REAL codec
    * round-trip (see [[imageDecode]]). */
  case class DecodedImage(doc_id: Long, width: Long, height: Long,
      pixel_sum: Long, resized_sum: Long)

  /** REAL image decode — `javax.imageio` ships with the JDK, so unlike
    * the audio/video stubs this path runs an actual codec: each doc
    * gets a deterministic grayscale raster (dims and pixel values are
    * pure functions of doc_id, so DuckDB recomputes them), the raster
    * is ENCODED to real PNG bytes and DECODED back with ImageIO inside
    * the per-partition batch, and all output features are computed from
    * the DECODED pixels — dimensions, total luminance, and a
    * nearest-neighbor resize (the same src = floor(dst·src_dim/out_dim)
    * kernel as [[resizeStub]], on real pixels). PNG is lossless, so the
    * decoded stats equal the closed-form the oracle computes; a codec
    * bug (wrong dims, channel order, stride) breaks the hash match.
    * Same 100 TB shape as the stubs: mapPartitions batches, codec state
    * per partition, only O(1) features per image cross the shuffle. */
  def imageDecode(spark: SparkSession, dir: String,
      outW: Int = 8, outH: Int = 8): DataFrame = {
    import spark.implicits._
    // spread the id scan (r17, guide §2.5): the per-row codec round
    // trip is CPU-bound and a single-split source ran it on one core;
    // the repartition moves only the doc_id longs. No-op at scale.
    Tables.spread(spark,
        Tables.load(spark, dir, "documents").select(col("doc_id")),
        col("doc_id")).as[Long]
      .mapPartitions { it =>
        // codec objects hoisted per PARTITION, reset per item — the
        // ImageIO.write/read statics re-scan the service registry and
        // instantiate a fresh writer+reader per image, the exact
        // per-row overhead imagePhash/videoDecode already avoid (and
        // what this operator's own docstring promises)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        it.map { id =>
          val w = (4 + id % 5).toInt
          val h = (3 + id % 4).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var i = 0
          while (i < w * h) {
            raster.setSample(i % w, i / w, 0, ((id * 31 + i) % 256).toInt)
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          // explicit memory-cached streams (the bare OutputStream/
          // InputStream overloads wrap a FILE-backed cache stream — a
          // temp file per image in the hot decode path)
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(img)
          ios.close()
          reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray)))
          val decoded = reader.read(0)
          reader.reset()
          writer.reset()
          val dw = decoded.getWidth
          val dh = decoded.getHeight
          val dr = decoded.getRaster
          var sum = 0L
          var y = 0
          while (y < dh) {
            var x = 0
            while (x < dw) { sum += dr.getSample(x, y, 0); x += 1 }
            y += 1
          }
          var rsum = 0L
          var yy = 0
          while (yy < outH) {
            val sy = yy * dh / outH
            var xx = 0
            while (xx < outW) {
              rsum += dr.getSample(xx * dw / outW, sy, 0); xx += 1
            }
            yy += 1
          }
          DecodedImage(id, dw.toLong, dh.toLong, sum, rsum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Decoded-audio features from a REAL codec round-trip (see
    * [[audioDecode]]): decoded frame/rate/duration plus the signed
    * sample sum over the decoded PCM and the 25 ms/10 ms-hop analysis
    * frame count. */
  case class DecodedAudio(doc_id: Long, n_samples: Long, sample_rate: Long,
      duration_ms: Long, n_audio_frames: Long, sample_sum: Long)

  /** REAL audio decode — `javax.sound.sampled` ships with the JDK
    * (WAV/PCM needs no external codec), so like [[imageDecode]] this
    * path runs an actual codec instead of the [[audioStub]] fake: each
    * doc gets a deterministic 16 kHz mono 16-bit PCM signal (length and
    * samples are pure functions of doc_id, so DuckDB recomputes them),
    * the samples are ENCODED into a real RIFF/WAVE container and
    * DECODED back with `AudioSystem.getAudioInputStream` inside the
    * per-partition batch, and every output feature is computed from the
    * DECODED stream — frame count and sample rate from the parsed
    * header, the signed sample sum from the little-endian PCM bytes the
    * decoder returns, duration and 25 ms/10 ms-hop analysis-frame count
    * from those. WAV is lossless, so the decoded stats equal the closed
    * form the oracle computes; a codec bug (header offset, endianness,
    * channel count) breaks the hash match. Same 100 TB shape as
    * [[imageDecode]]: mapPartitions batches, codec state per partition,
    * only O(1) features per clip cross the shuffle. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread + per-partition provider resolution (r18): r17 measured
    // the spread alone 0.6 s -> 1.4 s because `AudioSystem.write` /
    // `getAudioInputStream` take a synchronized provider-registry
    // lookup PER CALL (JDK13Services) — 32 decode tasks serialized on
    // that lock. The fix is the verdict's "resolve the provider once
    // per executor": the same WAVE reader/writer the registry would
    // return, resolved ONCE per partition through the public
    // `javax.sound.sampled.spi` ServiceLoader seam, so the per-row
    // round trip runs the real codec with no shared-lock path at all.
    Tables.spread(spark,
        Tables.load(spark, dir, "documents").select(col("doc_id")),
        col("doc_id")).as[Long]
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
        // writer and reader are selected ONCE per partition by round
        // tripping a one-sample WAV — iterating the provider list per
        // row would run the JDK's MIDI-backed reader
        // (SoftMidiAudioFileReader) on every row, and ITS not-mine
        // check re-enters the synchronized provider registry
        // (JSSecurityManager.getProviders — measured 18k of 19k stack
        // samples under 32-way decode); the WAVE reader itself is a
        // stateless stream parser with no shared registry path
        val (writer, probeWav) = waveWriter(java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
          .iterator().asScala)
        val (reader, _) = firstWorking(java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileReader])
            .iterator().asScala, "WAVE reader") {
          _.getAudioInputStream(new java.io.ByteArrayInputStream(probeWav))
        }
        def decodeOf(in: java.io.InputStream) = reader.getAudioInputStream(in)
        it.map { id =>
          val rate = 16000
          val n = (400 + id % 1600).toInt // 25..125 ms clips
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = ((id * 31 + i * 7) % 2003 - 1001).toShort
            pcm(2 * i) = (s & 0xff).toByte // little-endian, per WAV PCM
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, 1, true, false)
          val bos = new java.io.ByteArrayOutputStream()
          writer.write(
            new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
            wave, bos)
          val decoded = decodeOf(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          val dFmt = decoded.getFormat
          val frames = decoded.getFrameLength
          val bytes = decoded.readAllBytes()
          var sum = 0L
          var j = 0
          // j+1 bound: a truncated decode (odd byte count) must surface
          // as a SUM MISMATCH against the oracle, not an
          // ArrayIndexOutOfBounds that kills the stage — the codec-bug
          // class this round trip exists to catch
          while (j + 1 < bytes.length) {
            // 16-bit little-endian: low byte unsigned, high byte signed
            sum += ((bytes(j + 1).toInt << 8) | (bytes(j) & 0xff)).toLong
            j += 2
          }
          val sr = dFmt.getSampleRate.toLong
          val durationMs = frames * 1000 / sr
          val nFrames = if (durationMs < 25) 0L else (durationMs - 25) / 10 + 1
          DecodedAudio(id, frames, sr, durationMs, nFrames, sum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** The first provider whose `probe` succeeds, with the probe's
    * result: `javax.sound.sampled.AudioSystem`'s own rule, which moves
    * to the next provider when one refuses (a writer throws
    * IllegalArgumentException for a format it cannot write, a reader
    * UnsupportedAudioFileException). Provider order is unspecified, so
    * a capability flag alone is not enough: WaveFloatFileWriter also
    * reports WAVE support but writes PCM_FLOAT only. */
  private[graft] def firstWorking[P, R](providers: Iterator[P],
      what: String)(probe: P => R): (P, R) =
    providers.flatMap { p =>
      try Some(p -> probe(p))
      catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption().getOrElse(throw new IllegalStateException(s"no $what SPI"))

  /** The first of `writers` that writes a one-sample 16 kHz mono
    * 16-bit PCM WAV, with the bytes it wrote (the reader probe). */
  private[graft] def waveWriter(
      writers: Iterator[javax.sound.sampled.spi.AudioFileWriter])
      : (javax.sound.sampled.spi.AudioFileWriter, Array[Byte]) =
    firstWorking(writers, "WAVE writer") { w =>
      val bos = new java.io.ByteArrayOutputStream()
      w.write(new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(Array[Byte](0, 0)),
          new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false),
          1L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

  /** Decoded-video features from a REAL multi-frame codec round-trip
    * (see [[videoDecode]]): frame count from the container demux,
    * dimensions and pixel sums from the decoded frame rasters,
    * plus a stride-2 sampled-frame sum (the frame-sampling stage a
    * video training pipeline runs after decode). */
  case class DecodedVideo(doc_id: Long, n_frames: Long, width: Long,
      height: Long, pixel_sum: Long, frame0_sum: Long, sampled_sum: Long)

  /** REAL video decode — animated GIF is a true multi-frame codec that
    * ships with the JDK (`javax.imageio`), and with an explicit
    * 256-gray palette + interlacing disabled it is LOSSLESS, so like
    * [[imageDecode]]/[[audioDecode]] the whole round trip is
    * oracle-checkable: each doc gets a deterministic multi-frame
    * grayscale clip (frame count, dims and pixels are pure functions of
    * doc_id), the frames are ENCODED into one animated-GIF container
    * and DECODED back inside the per-partition batch — the frame count
    * comes from the reader's container demux (`getNumImages`), every
    * pixel statistic from the decoded rasters. A demux bug (lost
    * frames, frame order) or raster bug (palette, stride, interlace)
    * breaks the hash match. Codec objects (writer/reader/param) are
    * created once per PARTITION and reset per item — the
    * library-init-per-batch shape a real decoder needs. Only O(1)
    * features per clip cross the shuffle. */
  def videoDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread the id scan (r17, guide §2.5): the per-row codec round
    // trip is CPU-bound and a single-split source ran it on one core;
    // the repartition moves only the doc_id longs. No-op at scale.
    Tables.spread(spark,
        Tables.load(spark, dir, "documents").select(col("doc_id")),
        col("doc_id")).as[Long]
      .mapPartitions { it =>
        val gray = Array.tabulate(256)(_.toByte)
        val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        val wp = writer.getDefaultWriteParam
        wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        it.map { id =>
          val nf = (2 + id % 4).toInt
          val w = (4 + id % 5).toInt
          val h = (3 + id % 4).toInt
          val bos = new java.io.ByteArrayOutputStream()
          // explicit memory-cached streams: the ImageIO.createImage*Stream
          // factories default to FILE-backed cache streams (a temp file
          // per clip — disk I/O per row in the hot decode path)
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nf) {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
            val r = img.getRaster
            var i = 0
            while (i < w * h) {
              r.setSample(i % w, i / w, 0, ((id * 31 + f * 17 + i) % 256).toInt)
              i += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), wp)
            f += 1
          }
          writer.endWriteSequence()
          ios.close()
          reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray)))
          val frames = reader.getNumImages(true)
          var sum = 0L
          var f0 = 0L
          var sampled = 0L
          var dw = 0L
          var dh = 0L
          var df = 0
          while (df < frames) {
            val d = reader.read(df)
            // getSample reads the index raster directly — getRGB would
            // route every pixel through the palette (and is only
            // correct because the palette happens to be identity gray),
            // the same access the phash siblings already use
            val dr = d.getRaster
            var fsum = 0L
            var y = 0
            while (y < d.getHeight) {
              var x = 0
              while (x < d.getWidth) {
                fsum += dr.getSample(x, y, 0); x += 1
              }
              y += 1
            }
            sum += fsum
            if (df == 0) {
              // dims captured here — a separate reader.read(0) after the
              // loop would re-decode frame 0 per clip just for them
              f0 = fsum; dw = d.getWidth.toLong; dh = d.getHeight.toLong
            }
            if (df % 2 == 0) sampled += fsum
            df += 1
          }
          val out = DecodedVideo(id, frames.toLong, dw, dh, sum, f0, sampled)
          reader.reset()
          writer.reset()
          out
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame-sampling plumbing: explode a deterministic per-item frame
    * index sequence (every `stride`-th frame) — the partition/schema
    * shape of video frame extraction, with stub frame ids. */
  def frameSample(spark: SparkSession, dir: String, stride: Int = 4): DataFrame = {
    import spark.implicits._
    mediaRows(spark, dir, "txt").mapPartitions { it =>
      it.flatMap { r =>
        // only the frame count is needed — running the full decodeStub
        // here paid a SHA-256 over every payload byte and threw the
        // digest away (a whole wasted hash pass over the corpus)
        val nFrames = r.payload.length.toLong % 16
        (0L until nFrames by stride.toLong).map(i => (r.doc_id, i, nFrames))
      }
    }.toDF("doc_id", "frame_idx", "n_frames")
      .orderBy("doc_id", "frame_idx")
  }

  /** Perceptual image hashes from DECODED pixels. */
  case class ImagePhash(doc_id: Long, width: Long, height: Long,
      ahash: Long, dhash: Long)

  /** The synthetic grouped raster behind [[imagePhash]]: images come in
    * GROUPS of four variants (gid = doc_id / 4, v = doc_id % 4) sharing
    * one base pattern — the group simulates near-duplicate image
    * copies (same photo re-encoded with small edits), which is what a
    * perceptual hash must collapse and the uniform per-doc gradient of
    * [[imageDecode]] cannot exercise. Dims and pixels are closed-form
    * in (gid, v, i) so DuckDB regenerates them; the variant perturbs
    * every (7+v)-th pixel by +48 — ~14% of pixels, enough to move a few
    * hash bits but not the perceptual identity. */
  private def phashRaster(id: Long): (Int, Int, Array[Int]) = {
    val gid = id / 4; val v = (id % 4).toInt
    val w = (16 + gid % 9).toInt
    val h = (12 + gid % 7).toInt
    val px = Array.tabulate(w * h) { i =>
      val base = ((gid * 37 + i.toLong * 11) % 256).toInt
      if ((i + 1) % (7 + v) == 0) (base + 48) % 256 else base
    }
    (w, h, px)
  }

  /** aHash + dHash over DECODED PNG pixels — the image twin of the text
    * SimHash: each doc's grouped raster ([[phashRaster]]) rides the same
    * real `javax.imageio` PNG encode→decode round trip as
    * [[imageDecode]], and both hashes are computed from the DECODED
    * raster (a codec bug breaks the oracle hash, same guarantee as
    * image_decode):
    *  - '''aHash''': nearest-neighbor resample to 10×6 (60 samples — the
    *    engine-wide 60-bit fingerprint ceiling that keeps bit-packing
    *    inside BIGINT on both engines, like [[Dedup.SimhashBits]]),
    *    integer mean, bit b = y·10+x set iff sample ≥ mean;
    *  - '''dHash''': resample to 11×6, bit set iff the right neighbor is
    *    strictly brighter — gradient direction, robust to uniform
    *    brightness shifts where aHash is robust to local noise.
    * Same 100 TB shape as every decode: mapPartitions batches, codec
    * state per partition, two longs per image cross the shuffle.
    * Memoized — [[imageNearDup]]'s self-join reads the signature
    * parquet twice instead of decoding twice. */
  def imagePhash(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "image_phash") {
      import spark.implicits._
      Tables.load(spark, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          // codec objects per PARTITION, reset per item (the
          // library-init shape of videoPhash/videoDecode): the
          // ImageIO.write/read statics re-scan the service registry
          // and instantiate a writer/reader PER IMAGE — pure overhead
          // on the hot decode path
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("png").next()
          val reader = javax.imageio.ImageIO
            .getImageReadersByFormatName("png").next()
          it.map { id =>
            val (w, h, src) = phashRaster(id)
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var i = 0
            while (i < w * h) {
              raster.setSample(i % w, i / w, 0, src(i)); i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
            writer.setOutput(ios)
            writer.write(img)
            ios.close()
            reader.setInput(
              new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bos.toByteArray)))
            val dec = reader.read(0)
            writer.reset()
            reader.reset()
            val dw = dec.getWidth; val dh = dec.getHeight
            val dr = dec.getRaster
            // aHash: 10×6 nearest-neighbor samples, integer mean, ≥ bit
            val s = Array.tabulate(60) { b =>
              dr.getSample((b % 10) * dw / 10, (b / 10) * dh / 6, 0)
            }
            val mean = s.sum / 60
            var ah = 0L
            var b = 0
            while (b < 60) { if (s(b) >= mean) ah |= 1L << b; b += 1 }
            // dHash: 11×6 samples, right-neighbor-brighter bits
            val g = Array.tabulate(6, 11)((y, x) =>
              dr.getSample(x * dw / 11, y * dh / 6, 0))
            var dhsh = 0L
            var y = 0
            while (y < 6) {
              var x = 0
              while (x < 10) {
                if (g(y)(x + 1) > g(y)(x)) dhsh |= 1L << (y * 10 + x)
                x += 1
              }
              y += 1
            }
            ImagePhash(id, dw.toLong, dh.toLong, ah, dhsh)
          }
        }.toDF()
    }.orderBy("doc_id")

  /** Per-clip perceptual video hashes from DECODED GIF frames. */
  case class VideoPhash(doc_id: Long, n_frames: Long, vhash: Long,
      f0hash: Long)

  /** The synthetic grouped clip behind [[videoPhash]]: clips come in
    * GROUPS of four variants (gid = doc_id / 4, v = doc_id % 4) sharing
    * one base frame sequence — the same footage re-encoded with small
    * per-frame edits, the video twin of [[phashRaster]]. The variant
    * perturbs every (7+v)-th pixel of EVERY frame by +48 (~14% of
    * pixels). Closed-form in (gid, v, f, i) so DuckDB regenerates every
    * frame; dims sized ≥ the 10×6 resample grid. */
  private def vclipFrame(id: Long, f: Int): (Int, Int, Array[Int]) = {
    val gid = id / 4; val v = (id % 4).toInt
    val w = (12 + gid % 5).toInt
    val h = (10 + gid % 4).toInt
    val px = Array.tabulate(w * h) { i =>
      val base = ((gid * 37 + f * 53L + i.toLong * 11) % 256).toInt
      if ((i + 1) % (7 + v) == 0) (base + 48) % 256 else base
    }
    (w, h, px)
  }
  private def vclipFrames(id: Long): Int = (3 + (id / 4) % 3).toInt

  /** Video perceptual hash — the video member of the near-dup family:
    * each clip's grouped frames ride the same REAL multi-frame
    * `javax.imageio` animated-GIF encode→demux→decode round trip as
    * [[videoDecode]] (lossless with the explicit gray palette), each
    * DECODED frame gets the 10×6 aHash of [[imagePhash]], and the
    * per-frame hashes fold into:
    *  - '''vhash''': per-bit MAJORITY vote across frames (bit set iff
    *    2·votes > n_frames) — the temporal signature: stable under
    *    frame-local noise AND under losing/adding a minority of frames,
    *    which is what re-encoded video copies do;
    *  - '''f0hash''': frame 0's aHash — the keyframe signal carried
    *    alongside, cheap to compare and order-sensitive where the
    *    majority hash deliberately is not.
    * Codec objects are per-PARTITION (the library-init shape a real
    * ffmpeg-class decoder needs); two longs per clip cross the shuffle;
    * memoized so [[videoNearDup]] reads signatures, not pixels. */
  def videoPhash(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "video_phash") {
      import spark.implicits._
      Tables.load(spark, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val gray = Array.tabulate(256)(_.toByte)
          val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("gif").next()
          val reader = javax.imageio.ImageIO
            .getImageReadersByFormatName("gif").next()
          val wp = writer.getDefaultWriteParam
          wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
          it.map { id =>
            val nf = vclipFrames(id)
            val bos = new java.io.ByteArrayOutputStream()
            val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nf) {
              val (w, h, px) = vclipFrame(id, f)
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
              val r = img.getRaster
              var i = 0
              while (i < w * h) {
                r.setSample(i % w, i / w, 0, px(i)); i += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), wp)
              f += 1
            }
            writer.endWriteSequence()
            ios.close()
            reader.setInput(
              new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bos.toByteArray)))
            val frames = reader.getNumImages(true)
            val votes = new Array[Int](60)
            var f0 = 0L
            var df = 0
            while (df < frames) {
              val d = reader.read(df)
              val dw = d.getWidth; val dh = d.getHeight
              val dr = d.getRaster
              // the 10×6 aHash of imagePhash, from the DECODED raster
              val s = Array.tabulate(60) { b =>
                dr.getSample((b % 10) * dw / 10, (b / 10) * dh / 6, 0)
              }
              val mean = s.sum / 60
              var b = 0
              while (b < 60) {
                if (s(b) >= mean) {
                  votes(b) += 1
                  if (df == 0) f0 |= 1L << b
                }
                b += 1
              }
              df += 1
            }
            var vh = 0L
            var b = 0
            while (b < 60) {
              if (2 * votes(b) > frames) vh |= 1L << b
              b += 1
            }
            reader.reset()
            writer.reset()
            VideoPhash(id, frames.toLong, vh, f0)
          }
        }.toDF()
    }.orderBy("doc_id")

  /** THE banded near-dup pairing every modality shares: band `primary`
    * through [[Dedup.bandedHammingPairs]] (pigeonhole-complete at
    * hamming ≤ 3, skew-capped), then join back the `second` fingerprint
    * and emit its Hamming as the second-signal column downstream
    * policy filters on. One definition — three per-modality copies of
    * this plumbing could drift (cap handling, join shape) and the
    * modalities are documented as sharing one discipline. */
  private def secondSignalNearDup(sigs: DataFrame, primary: String,
      second: String, hamA: String, hamB: String,
      maxHamming: Int): DataFrame = {
    val pairs = Dedup.bandedHammingPairs(sigs, "doc_id", primary, maxHamming)
    val sec = sigs.select(col("doc_id"), col(second))
    pairs
      .join(sec.select(col("doc_id").as("id_a"), col(second).as("s_a")),
        "id_a")
      .join(sec.select(col("doc_id").as("id_b"), col(second).as("s_b")),
        "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming").as(hamA),
        bit_count(col("s_a").bitwiseXOR(col("s_b"))).cast("long").as(hamB))
      .orderBy("doc_a", "doc_b")
  }

  /** Video near-duplicates: the majority hash banded through the SAME
    * 4×15-bit chunk machinery as text/image/audio
    * ([[Dedup.bandedHammingPairs]]), exact vhash-Hamming verify, with
    * the keyframe-hash Hamming as the second-signal column. Pure
    * post-processing of the memoized signature table. */
  def videoNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    secondSignalNearDup(videoPhash(spark, dir), "vhash", "f0hash",
      "hamming_v", "hamming_kf", maxHamming)

  /** Audio energy-envelope fingerprints from DECODED WAV samples. */
  case class AudioFprint(doc_id: Long, n_samples: Long, energy_total: Long,
      ehash: Long, thash: Long)

  /** The synthetic grouped waveform behind [[audioFingerprint]]: clips
    * come in GROUPS of four variants (gid = doc_id / 4, v = doc_id % 4)
    * sharing one base waveform — re-encodes of the same recording with
    * small sample-level edits, the audio twin of [[phashRaster]]'s
    * grouped raster. The variant adds +97 to every (13+v)-th sample
    * (~7% of samples) — enough to move a few fingerprint bits, not the
    * perceptual identity. Closed-form in (gid, v, i) so DuckDB
    * regenerates the waveform; fixed length 1220 = 61 windows × 20
    * samples so window boundaries are range sums on both engines.
    *
    * The base is a sum of FOUR coprime-period integer saw ramps
    * (2003/1009/509/251): a single ramp gives only 2003 distinct group
    * waveforms — at the 500k-doc scale probe every envelope bucket
    * then holds thousands of clips and the skew cap blinds the
    * detector completely (the r9 finding the [[Dedup.bandingSaturation]]
    * guard now reports); four coprime phases make every group's
    * waveform distinct (lcm ≫ group count), which is also the honest
    * shape of real audio — re-encodes of one recording cluster, but
    * distinct recordings do not share an envelope. Range ≤ ±1981,
    * well inside 16-bit PCM. */
  private def afingerSamples(id: Long): Array[Int] = {
    val gid = id / 4; val v = (id % 4).toInt
    Array.tabulate(1220) { i =>
      val base = ((gid * 31 + i.toLong * 7) % 2003 - 1001 +
        (gid * 17 + i.toLong * 11) % 1009 - 504 +
        (gid * 13 + i.toLong * 5) % 509 - 254 +
        (gid * 7 + i.toLong * 3) % 251 - 125).toInt
      if ((i + 1) % (13 + v) == 0) base + 97 else base
    }
  }

  /** Audio fingerprint — the audio member of the engine's perceptual
    * near-dup family (text SimHash, image aHash/dHash): each clip's
    * grouped waveform rides the same REAL `javax.sound` WAV
    * encode→decode round trip as [[audioDecode]] (PCM is lossless, so a
    * codec bug breaks the oracle hash), then 61 consecutive 20-sample
    * windows yield integer energies (sum of squares) and two 60-bit
    * fingerprints:
    *  - '''ehash''' (energy envelope): the first 60 windows pair into
    *    30 super-windows E(w) = e(2w)+e(2w+1); each quantizes to FOUR
    *    loudness levels against the integer envelope mean em
    *    (cuts em/2, em, 2·em), Gray-coded into two bits so a variant
    *    nudging one level moves exactly one bit — bit0 = mid-band
    *    (em/2 ≤ E < 2·em), bit1 = above-mean (E ≥ em, the classic
    *    envelope bit). The 1-bit-per-window form this replaces had
    *    ~2 mean-crossings per window over a phase sweep — ~10^2
    *    distinct values corpus-wide, so at the 500k probe every band
    *    bucket blew the skew cap and the detector silently went blind;
    *    4-level Gray quantization multiplies the crossing count and
    *    measured ~1.3·10^5 distinct signatures at 500k with
    *    within-group Hamming unchanged (mean 0.15, 100% of variant
    *    pairs ≤ 3). Bit LAYOUT interleaves by b mod 4 (bit b of the
    *    level stream lands at (b%4)·15 + b/4), so each 15-bit band
    *    chunk samples super-windows across the whole clip instead of
    *    15 adjacent (correlated) ones — a pure bit permutation, so
    *    Hamming distances and the 4-chunk pigeonhole are untouched,
    *    but per-chunk entropy (what the skew cap sees) rises ~10×;
    *  - '''thash''' (temporal delta): bit b set iff window b+1 is
    *    strictly more energetic than window b — the
    *    energy-difference sign bits classic audio fingerprinting keys
    *    on (robust to uniform gain where the envelope hash is robust
    *    to local noise), the audio dHash.
    * Same 100 TB shape as every decode: mapPartitions batches, two longs
    * per clip cross the shuffle, memoized so [[audioNearDup]]'s
    * self-join reads the signature parquet twice instead of decoding
    * twice. `energy_total` pins the full decoded-sample stream. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame =
    Memo.table(spark, dir, "audio_fprint") {
      import spark.implicits._
      Tables.load(spark, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          // format descriptor per PARTITION (it is immutable); the
          // javax.sound read/write entry points are static services,
          // so unlike the ImageIO paths there is no per-partition
          // codec object to hoist beyond this
          val fmt = new javax.sound.sampled.AudioFormat(
            16000f, 16, 1, true, false)
          it.map { id =>
            val src = afingerSamples(id)
            val n = src.length
            val pcm = new Array[Byte](n * 2)
            var i = 0
            while (i < n) {
              pcm(2 * i) = (src(i) & 0xff).toByte
              pcm(2 * i + 1) = ((src(i) >> 8) & 0xff).toByte
              i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(
              new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            val decoded = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bos.toByteArray))
            val bytes = decoded.readAllBytes()
            // energies from the DECODED samples (16-bit little-endian)
            val e = new Array[Long](61)
            var j = 0
            // 2j+1 bound, same rationale as audioDecode: a short decoded
            // stream becomes an energy (hence hash) mismatch, not a
            // stage-killing ArrayIndexOutOfBounds
            while (j < n && 2 * j + 1 < bytes.length) {
              val s = ((bytes(2 * j + 1).toInt << 8) |
                (bytes(2 * j) & 0xff)).toLong
              e(j / 20) += s * s
              j += 1
            }
            var eTotal = 0L
            var mSum = 0L
            var w = 0
            while (w < 61) {
              eTotal += e(w); if (w < 60) mSum += e(w); w += 1
            }
            // em = integer mean of the 30 paired super-windows
            // (= mSum/30, since each E(w) sums two of the 60 windows)
            val em = mSum / 30
            var eh = 0L
            var th = 0L
            var b = 0
            while (b < 30) {
              val ew = e(2 * b) + e(2 * b + 1)
              // Gray bits of the 4-level quantization; interleaved
              // layout (b%4)*15 + b/4 per raw bit index
              if (2 * ew >= em && ew < 2 * em)
                eh |= 1L << (((2 * b) % 4) * 15 + (2 * b) / 4)
              if (ew >= em)
                eh |= 1L << (((2 * b + 1) % 4) * 15 + (2 * b + 1) / 4)
              b += 1
            }
            b = 0
            while (b < 60) {
              if (e(b + 1) > e(b)) th |= 1L << b
              b += 1
            }
            AudioFprint(id, n.toLong, eTotal, eh, th)
          }
        }.toDF()
    }.orderBy("doc_id")

  /** Audio near-duplicates: the envelope hash banded through the SAME
    * 4×15-bit chunk machinery as text SimHash and image aHash
    * ([[Dedup.bandedHammingPairs]] — pigeonhole-complete at hamming ≤ 3,
    * skew-capped buckets), exact ehash-Hamming verify, with the
    * temporal-delta Hamming carried as the second-signal column (two
    * fingerprints disagreeing flags a borderline pair, the same policy
    * seam as [[imageNearDup]]'s dHash column). Pure post-processing of
    * the memoized signature table: nothing re-decodes. */
  def audioNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    secondSignalNearDup(audioFingerprint(spark, dir), "ehash", "thash",
      "hamming_e", "hamming_t", maxHamming)

  /** Image near-duplicates: band the aHash through the SAME 4×15-bit
    * chunk machinery as text SimHash ([[Dedup.bandedHammingPairs]] —
    * pigeonhole-complete at hamming ≤ 3, skew-capped buckets), verify
    * exact aHash Hamming, and carry the dHash Hamming as the
    * second-signal column downstream policy filters on (two hashes
    * disagreeing flags a borderline pair — the standard aHash+dHash
    * practice). Pure post-processing of the memoized signature table:
    * nothing re-decodes. */
  def imageNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    secondSignalNearDup(imagePhash(spark, dir), "ahash", "dhash",
      "hamming_a", "hamming_d", maxHamming)
}
