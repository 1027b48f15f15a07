package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-document media feature record produced by the decode stage. */
case class MediaFeatures(
    doc_id: Long,
    n_bytes: Int,
    n_frames: Int,
    features: Array[Float])

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus a batched
  * decode/feature-extract stage.
  *
  * `decodeFrame` and `resizeBytes` REALLY decode RIFF/WAVE PCM and
  * 24-bit BMP payloads (pure-JVM header parse + sample/pixel
  * extraction, see [[Wav]] and [[Bmp]] — both formats are headers +
  * raw little-endian payload, no codec library needed); formats
  * needing native codecs (JPEG/MP4) fall back to a clearly-marked
  * deterministic STUB slice. Everything Spark-side — the schema
  * (binary payload + metadata struct), the partition-local batched
  * iteration shape, and the typed output — is real and tested.
  * Swapping in further decoders changes only the stub body.
  *
  * Scale notes: payloads never pass through a shuffle here —
  * mapPartitions is narrow; feature extraction batches `batchSize`
  * payloads at a time, the shape a vectorized/native decoder wants.
  * Metadata (tiny) can be split from payloads (huge) into separate
  * column families/files by the writer, so metadata-only queries
  * never read payload bytes (parquet column pruning gives this for
  * free with separate columns).
  */
object Multimodal {

  /** Attach a binary `payload` column and a `meta` struct. The
    * payload here is the UTF-8 document text standing in for real
    * media bytes; metadata fields are derived arithmetically so an
    * SQL oracle can check the plumbing end-to-end.
    */
  def withPayload(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val payload = encode(col(textCol), "UTF-8")
    docs.select(
      col(idCol).as("doc_id"),
      payload.as("payload"),
      struct(
        octet_length(col(textCol)).as("n_bytes"),
        (pmod(octet_length(col(textCol)), lit(64)) + 16).as("width"),
        (pmod(octet_length(col(textCol)) * 7, lit(64)) + 16).as("height"),
        (pmod(octet_length(col(textCol)), lit(10)) + 1).as("frames")).as("meta"))
  }

  /** Media decode. RIFF/WAVE PCM payloads take the REAL path: [[Wav]]
    * parses the container headers and the "frame" is the matching
    * block-aligned slice of the decoded sample data — no codec library
    * needed, WAV PCM is headers + raw little-endian samples. Anything
    * else (incl. the text-as-payload gate data) falls through to the
    * deterministic stand-in below, which slices the raw payload —
    * that fallback is the one remaining STUB (a JPEG/MP4 decoder
    * would need native codecs absent from this container).
    */
  private[graft] def decodeFrame(payload: Array[Byte], frame: Int,
                                      nFrames: Int): Array[Byte] =
    Wav.parse(payload) match {
      case Some(w) =>
        // real decode: frame f = f-th block-aligned span of samples
        val align = math.max(1, w.bytesPerSample * w.channels)
        val blocks = w.dataLength / align
        val perFrame = math.max(1, blocks / math.max(1, nFrames))
        val fromB = math.min(frame * perFrame, blocks)
        val untilB = if (frame == nFrames - 1) blocks
                     else math.min(fromB + perFrame, blocks)
        java.util.Arrays.copyOfRange(payload,
          w.dataOffset + fromB * align, w.dataOffset + untilB * align)
      case None => Bmp.parse(payload) match {
        case Some(img) =>
          // real decode: frame f = f-th horizontal pixel band, emitted
          // as top-down RGB bytes (row padding and BGR order stripped)
          val perBand = math.max(1, img.height / math.max(1, nFrames))
          val fromY = math.min(frame * perBand, img.height)
          val untilY = if (frame == nFrames - 1) img.height
                       else math.min(fromY + perBand, img.height)
          val out = new Array[Byte]((untilY - fromY) * img.width * 3)
          var i = 0
          var y = fromY
          while (y < untilY) {
            var x = 0
            while (x < img.width) {
              val (r, g, b) = img.pixel(x, y)
              out(i) = r.toByte; out(i + 1) = g.toByte; out(i + 2) = b.toByte
              i += 3; x += 1
            }
            y += 1
          }
          out
        case None => sliceFrame(payload, frame, nFrames)
      }
    }

  /** ======== STUB: non-WAV decode fallback ==============
    * Deterministic stand-in for formats needing native codecs: treats
    * the payload bytes as one "frame" per `frames` metadata slice.
    */
  private[graft] def sliceFrame(payload: Array[Byte], frame: Int,
                                     nFrames: Int): Array[Byte] = {
    val chunk = math.max(1, payload.length / math.max(1, nFrames))
    val from = math.min(frame * chunk, payload.length)
    val until = if (frame == nFrames - 1) payload.length
                else math.min(from + chunk, payload.length)
    java.util.Arrays.copyOfRange(payload, from, until)
  }

  /** Deterministic 16-bin byte histogram, normalized — the stand-in
    * "feature vector" a real embedding model would produce.
    */
  private[multimodal] def frameFeatures(frame: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](16)
    var i = 0
    while (i < frame.length) {
      bins((frame(i) & 0xFF) >> 4) += 1f
      i += 1
    }
    if (frame.length > 0) {
      var j = 0
      while (j < 16) { bins(j) /= frame.length; j += 1 }
    }
    bins
  }

  /** Resize. BMP payloads take the REAL path: decode pixels,
    * nearest-neighbor resample to (w, h), re-encode as BMP — a
    * genuine image-in/image-out thumbnail pass with no codec library
    * (bilinear would change only the sampling kernel). Non-image
    * payloads fall back to the byte-striding stand-in below.
    */
  private[graft] def resizeBytes(payload: Array[Byte], w: Int,
                                      h: Int): Array[Byte] =
    Bmp.parse(payload) match {
      case Some(img) =>
        Bmp.write(w, h, (x, y) =>
          img.pixel(x * img.width / w, y * img.height / h))
      case None => resizeRawBytes(payload, w, h)
    }

  /** ======== STUB: non-image resize fallback =============
    * Deterministic stand-in for codec-needing formats: resamples the
    * payload BYTES to exactly w*h samples by nearest-neighbor
    * striding — same contract (fixed output size regardless of input
    * size).
    */
  private[multimodal] def resizeRawBytes(payload: Array[Byte], w: Int,
                                         h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    if (payload.length == 0) return out
    var i = 0
    while (i < out.length) {
      out(i) = payload((i.toLong * payload.length / out.length).toInt)
      i += 1
    }
    out
  }

  /** Driver-checkable scalar digest of the feature output. A raw
    * `array<float>` column crashes generic tabular comparators, so the
    * shipped query projects exact integer digests derived from the
    * features instead. `feat_nonzero` (count of non-zero bins) is
    * engine-portable: a mean bin is non-zero iff some payload byte has
    * that high nibble — contributions are non-negative and can't
    * cancel — so a SQL oracle recomputes it from the text bytes
    * without replicating the float arithmetic.
    */
  def featureDigest(features: Dataset[MediaFeatures]): DataFrame =
    features.toDF().select(
      col("doc_id"), col("n_bytes"), col("n_frames"),
      size(filter(col("features"), f => f > lit(0f))).as("feat_nonzero"))

  case class AudioFeatures(doc_id: Long, n_samples: Long, sum_sq: Long,
                           zero_crossings: Long)

  /** Audio feature extraction through a REAL codec round trip: a
    * deterministic 16-bit PCM signal derived from the doc id is
    * serialized to RIFF/WAVE bytes ([[Wav.writePcm16]]) and decoded
    * back ([[Wav.pcm16Samples]]) — actual header parsing, not a stub —
    * then energy (Σ sample², exact in BIGINT) and zero-crossing count
    * are folded per document. Integer-exact outputs make the whole
    * pipeline SQL-oracle-checkable even though a WAV codec sits in
    * the middle: the oracle recomputes the same signal arithmetic
    * from `generate_series`, so any codec corruption (wrong header
    * math, endianness, sample loss) flips the gate.
    *
    * Shape at scale: one narrow mapPartitions — encode, decode and
    * fold never leave the task, nothing shuffles but the 4-long
    * result rows.
    */
  def audioFeatures(docs: DataFrame, idCol: String,
                    nSamples: Int = 800,
                    sampleRate: Int = 16000): Dataset[AudioFeatures] = {
    implicit val enc: Encoder[AudioFeatures] = Encoders.product[AudioFeatures]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    docs.select(col(idCol).cast(org.apache.spark.sql.types.LongType))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val samples = Array.tabulate(nSamples)(i =>
            (((id * 31 + i * 17) % 2048) - 1024).toShort)
          val bytes = Wav.writePcm16(samples, channels = 1, sampleRate)
          val dec = Wav.pcm16Samples(bytes).getOrElse(Array.empty[Short])
          var sq = 0L
          var zc = 0L
          var i = 0
          while (i < dec.length) {
            val s = dec(i).toLong
            sq += s * s
            if (i > 0 && ((dec(i - 1) < 0) != (dec(i) < 0))) zc += 1
            i += 1
          }
          AudioFeatures(id, dec.length.toLong, sq, zc)
        }
      }
  }

  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
                           sum_r: Long, sum_g: Long, sum_b: Long)

  /** Image feature extraction through a REAL codec round trip — the
    * [[audioFeatures]] pattern for the image modality: a
    * deterministic RGB pattern derived from the doc id is serialized
    * to 24-bit BMP bytes ([[Bmp.write]]) and decoded back
    * ([[Bmp.parse]], actual DIB header parsing, bottom-up rows, BGR
    * order, stride padding), then exact per-channel pixel sums are
    * folded per document. The SQL oracle recomputes the same sums
    * from the closed-form pixel arithmetic over a generate_series
    * grid, so any codec defect (stride math, row order, channel
    * swap, truncation) flips the gate. A payload that fails to parse
    * folds to all-zero sums — detectably wrong, never silently
    * plausible. One narrow mapPartitions; only 6-column rows shuffle.
    */
  def imageFeatures(docs: DataFrame, idCol: String,
                    width: Int = 24, height: Int = 16): Dataset[ImageFeatures] = {
    implicit val enc: Encoder[ImageFeatures] = Encoders.product[ImageFeatures]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    docs.select(col(idCol).cast(org.apache.spark.sql.types.LongType))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = Bmp.write(width, height, (x, y) => (
            ((id * 31 + x * 7 + y * 13) % 256).toInt,
            ((id * 17 + x * 11 + y * 5) % 256).toInt,
            ((id * 23 + x * 3 + y * 19) % 256).toInt))
          Bmp.parse(bytes) match {
            case Some(img) =>
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < img.height) {
                var x = 0
                while (x < img.width) {
                  val (r, g, b) = img.pixel(x, y)
                  sr += r; sg += g; sb += b
                  x += 1
                }
                y += 1
              }
              ImageFeatures(id, img.width, img.height, sr, sg, sb)
            case None => ImageFeatures(id, 0, 0, 0L, 0L, 0L)
          }
        }
      }
  }

  /** The RESIZE stage through the gate: synthesize the same
    * closed-form BMP as [[imageFeatures]], downsample through
    * [[resizeBytes]] (real BMP decode → nearest-neighbor sample at
    * (x·srcW div w, y·srcH div h) → re-encode), re-parse the
    * thumbnail, and sum channels. The sampling map is pure integer
    * arithmetic, so the oracle recomputes the same sums from the
    * pixel formula at the sampled grid — a codec or resampler defect
    * flips the sums. Map-only, no shuffle.
    */
  def resizedImageFeatures(docs: DataFrame, idCol: String,
                           srcW: Int = 24, srcH: Int = 16,
                           w: Int = 8, h: Int = 8): Dataset[ImageFeatures] = {
    implicit val enc: Encoder[ImageFeatures] = Encoders.product[ImageFeatures]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    docs.select(col(idCol).cast(org.apache.spark.sql.types.LongType))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = Bmp.write(srcW, srcH, (x, y) => (
            ((id * 31 + x * 7 + y * 13) % 256).toInt,
            ((id * 17 + x * 11 + y * 5) % 256).toInt,
            ((id * 23 + x * 3 + y * 19) % 256).toInt))
          Bmp.parse(resizeBytes(bytes, w, h)) match {
            case Some(img) =>
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < img.height) {
                var x = 0
                while (x < img.width) {
                  val (r, g, b) = img.pixel(x, y)
                  sr += r; sg += g; sb += b
                  x += 1
                }
                y += 1
              }
              ImageFeatures(id, img.width, img.height, sr, sg, sb)
            case None => ImageFeatures(id, 0, 0, 0L, 0L, 0L)
          }
        }
      }
  }

  case class VideoFeatures(doc_id: Long, n_frames: Long, n_sampled: Long,
                           sum_r: Long, sum_g: Long, sum_b: Long)

  /** Frame-sampled video features through a REAL container round
    * trip: each doc synthesizes a [[Video]] container of 4..8
    * 16×8 BMP frames (pixels a closed form of (doc_id, frame, x, y) —
    * the oracle recomputes the same sums), the reader walks the frame
    * INDEX and decodes only every `stride`-th frame. Container or BMP
    * codec defects flip the sums; the index walk is what keeps decode
    * cost ∝ sampled frames at real scale. Map-only: one narrow
    * mapPartitions, six-column rows out.
    */
  def videoFeatures(docs: DataFrame, idCol: String,
                    stride: Int = 2): Dataset[VideoFeatures] = {
    require(stride >= 1)
    implicit val enc: Encoder[VideoFeatures] = Encoders.product[VideoFeatures]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val w = 16; val h = 8
    docs.select(col(idCol).cast(org.apache.spark.sql.types.LongType))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nFrames = (4 + id % 5).toInt
          val container = Video.write((0 until nFrames).map { f =>
            Bmp.write(w, h, (x, y) => (
              ((id * 31 + f * 41 + x * 7 + y * 13) % 256).toInt,
              ((id * 17 + f * 29 + x * 11 + y * 5) % 256).toInt,
              ((id * 23 + f * 37 + x * 3 + y * 19) % 256).toInt))
          })
          Video.parseIndex(container) match {
            case Some(index) =>
              var sr = 0L; var sg = 0L; var sb = 0L; var sampled = 0L
              var f = 0
              while (f < index.length) {
                if (f % stride == 0) {
                  Bmp.parse(Video.frameBytes(container, index(f))).foreach {
                    img =>
                      sampled += 1
                      var y = 0
                      while (y < img.height) {
                        var x = 0
                        while (x < img.width) {
                          val (r, g, b) = img.pixel(x, y)
                          sr += r; sg += g; sb += b
                          x += 1
                        }
                        y += 1
                      }
                  }
                }
                f += 1
              }
              VideoFeatures(id, index.length.toLong, sampled, sr, sg, sb)
            case None => VideoFeatures(id, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
  }

  /** Batched decode + feature extraction over (doc_id, payload,
    * frames). Partition-local: payloads are processed in groups of
    * `batchSize` (the batch shape a vectorized decoder needs),
    * features are frame-mean histograms.
    */
  def extractFeatures(withPayload: DataFrame, batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val outEnc: Encoder[MediaFeatures] = Encoders.product[MediaFeatures]
    implicit val inEnc: Encoder[(Long, Array[Byte], Int)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.BINARY, Encoders.scalaInt)
    withPayload
      .select(col("doc_id"), col("payload"), col("meta.frames"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // batch boundary: a real decoder would process `batch` as
          // one vectorized call; the stub decodes per payload.
          batch.iterator.map { case (id, payload, nFrames) =>
            val perFrame = (0 until nFrames).map(f =>
              frameFeatures(decodeFrame(payload, f, nFrames)))
            val mean = new Array[Float](16)
            perFrame.foreach { fv =>
              var j = 0
              while (j < 16) { mean(j) += fv(j) / nFrames; j += 1 }
            }
            MediaFeatures(id, payload.length, nFrames, mean)
          }
        }
      }
  }
}
