package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (builder brief): image/audio/video as
  * opaque `binary` columns with typed metadata, processed by batched
  * executor-side decoders.
  *
  * The container has no image/audio libraries, so the DECODE step is a
  * deterministic stub behind [[MediaDecoder]] (clearly marked); the
  * Spark-side plumbing — schema, binary payloads, partition-local
  * batched iteration, the exact batch shape a vectorized
  * (Arrow/`mapInPandas`-style) UDF would see — is real and tested. In
  * Scala the idiomatic analog of a Pandas UDF is `mapPartitions` over a
  * typed Dataset with explicit internal batching: each executor thread
  * pulls [[BatchSize]] rows, hands the batch to the decoder (where a
  * real implementation would call libjpeg/ffmpeg once per batch), and
  * emits typed rows. No driver materialization anywhere. The per-row
  * transforms run as plain `mapPartitions(_.map(f))` — the same
  * partition-local iterator, with no batch to hand over.
  */
object Media {

  /** Rows per [[MediaDecoder.decodeBatch]] call. */
  private val BatchSize = 64

  /** Frame-sampling stride of [[sampleFrames]] (the mm_frame_sample
    * oracle steps its frame range by the same 2). */
  private val FrameStride = 2

  /** Downscale factor of [[resizeJpegCensus]]: it divides the 8-px JPEG
    * block edge, which keeps the resized census closed-form (the
    * mm_resize_real oracle's 4-px block weights). */
  private val ResizeFactor = 2

  /** Histogram bins of [[embedGrayHistogram]] — the one definition:
    * the mm_embed_real oracle SQL interpolates both its `range(0, N)`
    * bucket domain and its `g // (256/N)` bucket width from it. */
  val GrayHistogramBins = 16

  /** A media row: opaque payload + typed metadata, the schema a 100 TB
    * multimodal lake table would carry per modality. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded features. For images: width/height/channels; the stub
    * derives them deterministically from the payload bytes. */
  case class MediaFeatures(media_id: Long, n_bytes: Int, width: Int,
                           height: Int, channels: Int)

  /** Batched decoder contract — one call per [[BatchSize]] rows, the
    * vectorized-UDF batch shape. Implementations must be Serializable
    * (shipped to executors). */
  trait MediaDecoder extends Serializable {
    def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures]
  }

  /** STUB decode (no media libs in this container): pure deterministic
    * function of the payload bytes, so tests and the SQL oracle can
    * reproduce it. A real decoder swaps in behind the same trait. */
  object StubDecoder extends MediaDecoder {
    override def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures] =
      batch.map { m =>
        val n = m.payload.length
        MediaFeatures(m.media_id, n,
          width = n % 640 + 1,
          height = (if (n > 0) m.payload(0) & 0xff else 0) + 1,
          channels = 3)
      }
  }

  /** Derive a media table from `documents`: payload = UTF-8 bytes of
    * the text (a stand-in for real image bytes with the same binary
    * schema). kind rotates to exercise per-modality partitioning. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").cast("binary").as("payload"))

  /** The decode operator: typed Dataset -> mapPartitions with internal
    * batching -> typed features. Narrow (no shuffle); scales with
    * partition count. */
  def decode(spark: SparkSession, media: DataFrame,
             decoder: MediaDecoder): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload")).as[MediaRow]
      .mapPartitions(_.grouped(BatchSize).flatMap(b => decoder.decodeBatch(b)))
  }

  /** Resized media row: payload transformed binary -> binary. */
  case class ResizedRow(media_id: Long, kind: String, payload: Array[Byte],
                        orig_bytes: Int)

  /** Resize: binary -> binary transform through the same batched
    * executor path as decode. STUB transform (no image libs): truncate
    * the payload to `maxBytes` — a real implementation decodes,
    * scales, re-encodes per batch behind the same signature. */
  def resize(spark: SparkSession, media: DataFrame,
             maxBytes: Int): Dataset[ResizedRow] = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload")).as[MediaRow]
      .mapPartitions(_.map { m =>
        ResizedRow(m.media_id, m.kind, m.payload.take(maxBytes),
          m.payload.length)
      })
  }

  /** Feature extraction: payload -> fixed-dim Float embedding. STUB:
    * a deterministic byte-histogram projection (8 buckets of byte
    * values, L1-normalized) — the schema, batch shape, and typed
    * Array[Float] output column are exactly what a real CLIP/wav2vec
    * extractor produces. */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload")).as[MediaRow]
      .mapPartitions(_.map { m =>
        val hist = new Array[Float](8)
        m.payload.foreach(b => hist((b & 0xff) / 32) += 1f)
        val n = math.max(m.payload.length, 1).toFloat
        (m.media_id, hist.map(_ / n))
      })
      .toDF("media_id", "embedding")
  }

  /** Frame sampling: one row per sampled frame index — the video
    * analog of explode. Frame count is derived metadata (stub: one
    * frame per 100 bytes, every [[FrameStride]]-th frame kept). */
  def sampleFrames(media: DataFrame): DataFrame =
    media
      .withColumn("n_frames",
        greatest((length(col("payload")) / 100).cast("int"), lit(1)))
      .select(col("media_id"), col("kind"),
        explode(expr(s"sequence(0, n_frames - 1, $FrameStride)")).as("frame_no"))

  // ------------------------------------------------------------------
  // REAL codec path (round 11): one genuine JPEG encode+decode via
  // `javax.imageio` through the SAME batched mapPartitions plumbing as
  // the stub decoders. The stub contract stays for the other codecs
  // (audio/video libs are absent); images now run the real thing.
  // ------------------------------------------------------------------

  /** Exact pixel census of a DECODED image — every field is a pure
    * function of the decoded pixel array, so a decoder that returns
    * wrong bytes (wrong dims, channel swap, spatial transposition,
    * lossy drift) diverges loudly from the closed-form oracle. */
  case class PixelCensus(media_id: Long, width: Int, height: Int,
                         channels: Int, n_bytes: Int,
                         rgb_sum: Long, weighted_r_sum: Long)

  /** Deterministic planted-image parameters, shared verbatim by the
    * DuckDB oracle (integer arithmetic only — Knuth multiplicative
    * hash; operands stay < 2^63 and non-negative, so DuckDB's
    * arithmetic `>>` equals Scala's logical `>>>`). Dimensions are
    * multiples of 8 and the gray value is constant per 8x8 JPEG block
    * with Cb=Cr=128 (r=g=b), which round-trips BIT-EXACTLY through
    * ImageIO JPEG at quality 1.0 (spec-pinned on this JDK: DC-only
    * blocks, unit DC quantization, no chroma error on gray). */
  object Plant {
    def widthOf(docId: Long): Int = 8 * (3 + (docId % 4).toInt)   // 24..48
    def heightOf(docId: Long): Int = 8 * (2 + (docId % 3).toInt)  // 16..32
    /** Block gray by flat block index (by*w8+bx). The seed is bounded
      * mod 1000003 so (seed*31 + i) * 2654435761 stays < 2^63 at ANY
      * doc_id tier — no silent BIGINT overflow divergence between
      * engines. Non-negative, so DuckDB's arithmetic >> == Scala >>>. */
    def grayOf(docId: Long, blockIdx: Int): Int =
      ((((docId % 1000003L) * 31 + blockIdx) * 2654435761L >>> 16) & 0xffL).toInt
  }

  /** Plant one JPEG per document: an 8x8-block gray quilt keyed on
    * doc_id, REALLY encoded with ImageIO at quality 1.0. Runs in the
    * same batched executor path as every other media op — bytes are
    * produced where the rows live, never on the driver. */
  def plantJpegs(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, "image", ImageIoCodec.encodeQuilt(id))))
  }

  /** The REAL decode operator: payload bytes -> ImageIO JPEG decode ->
    * exact pixel census, batched mapPartitions (vectorized-UDF shape),
    * narrow, no shuffle. A payload ImageIO cannot parse fails LOUDLY
    * with the media_id (a curation pipeline must count corrupt files,
    * never silently skip them). */
  def decodeJpegCensus(spark: SparkSession,
                       media: Dataset[MediaRow]): Dataset[PixelCensus] = {
    import spark.implicits._
    media.mapPartitions(_.map(m => ImageIoCodec.censusOf(m.media_id, m.payload)))
  }

  /** The REAL resize operator: decode -> NEAREST integer downscale ->
    * census of the resized pixels, through the same batched
    * mapPartitions plumbing — narrow, no shuffle, bytes transformed
    * where the rows live. */
  def resizeJpegCensus(spark: SparkSession,
                       media: Dataset[MediaRow]): Dataset[PixelCensus] = {
    import spark.implicits._
    media.mapPartitions(_.map(m =>
      ImageIoCodec.resizeCensusOf(m.media_id, m.payload, ResizeFactor)))
  }

  /** The REAL embedding operator: ImageIO decode -> gray-intensity
    * histogram vector, batched `mapPartitions` — identical plumbing
    * to the stub `extractFeatures`, real pixels. Narrow, no shuffle;
    * at 100 TB the decode cost rides the scan, and only the
    * fixed-dim vector (8 x bins bytes) flows downstream. */
  def embedGrayHistogram(spark: SparkSession, media: Dataset[MediaRow]): DataFrame = {
    import spark.implicits._
    media.mapPartitions(_.map(m =>
      ImageIoCodec.grayHistogramOf(m.media_id, m.payload, GrayHistogramBins)))
      .toDF("media_id", "embedding")
  }

  /** `javax.imageio` JPEG codec kernel (executor-side; ImageIO readers
    * are not thread-safe across calls, so each call owns its streams).
    * Reference behavior: the stub decode contract in this file; the
    * real codec replaces it for kind=image only. */
  object ImageIoCodec extends Serializable {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

    // r14 optimization round (guide §1.2 per-task work): ImageIO's
    // default useCache=true backs every ImageInputStream with a TEMP
    // FILE on disk — for byte-array payloads that is one file create +
    // write + delete per decode, pure overhead. Memory-cached streams
    // decode the same bytes to the same pixels. JVM-global, set once
    // per executor at first codec use; nothing else in this engine
    // reads images.
    ImageIO.setUseCache(false)

    def encodeQuilt(docId: Long): Array[Byte] = {
      val (w, h) = (Plant.widthOf(docId), Plant.heightOf(docId))
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      // bulk setRGB: one ColorModel conversion call for the whole
      // image instead of one per pixel (identical ARGB semantics)
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = Plant.grayOf(docId, (y / 8) * (w / 8) + x / 8)
          px(y * w + x) = (g << 16) | (g << 8) | g
          x += 1
        }
        y += 1
      }
      img.setRGB(0, 0, w, h, px, 0, w)
      val bos = new ByteArrayOutputStream()
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new IIOImage(img, null, null), p)
      } finally { ios.close(); writer.dispose() }
      bos.toByteArray
    }

    def censusOf(mediaId: Long, payload: Array[Byte]): PixelCensus = {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      require(img != null, s"media_id=$mediaId: ImageIO cannot decode payload")
      census(mediaId, img, payload.length)
    }

    /** REAL resize (round 13, VERDICT r12 item 5): ImageIO decode ->
      * AffineTransformOp NEAREST-NEIGHBOR integer downscale -> exact
      * pixel census of the RESIZED image. factor must divide the 8-px
      * block edge: then every output pixel's inverse-mapped source
      * sample lands inside ONE source block (output block bx spans
      * x' in [(8/f)bx, (8/f)(bx+1)), whose source candidates f*x' ..
      * f*x'+f-1 all lie in [8bx, 8bx+7]), so on the planted
      * block-constant quilts the resized census is closed-form
      * predictable by the DuckDB oracle — any interpolation drift,
      * dimension rounding, or channel reorder goes red. */
    def resizeCensusOf(mediaId: Long, payload: Array[Byte],
                       factor: Int): PixelCensus = {
      require(factor > 0 && 8 % factor == 0,
        s"resize factor $factor must divide the 8-px JPEG block edge")
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      require(img != null, s"media_id=$mediaId: ImageIO cannot decode payload")
      val (w, h) = (img.getWidth, img.getHeight)
      require(w % factor == 0 && h % factor == 0,
        s"media_id=$mediaId: ${w}x$h not divisible by factor $factor")
      val at = java.awt.geom.AffineTransform
        .getScaleInstance(1.0 / factor, 1.0 / factor)
      val op = new java.awt.image.AffineTransformOp(at,
        java.awt.image.AffineTransformOp.TYPE_NEAREST_NEIGHBOR)
      val out = op.filter(img,
        new BufferedImage(w / factor, h / factor, BufferedImage.TYPE_3BYTE_BGR))
      census(mediaId, out, payload.length)
    }

    /** REAL feature extraction (round 13, closing the last
      * stubbed-codec residue): ImageIO decode -> `bins`-bin
      * gray-intensity histogram — the classic image descriptor,
      * computed from DECODED pixels, not payload bytes. On the
      * planted block-constant quilts every 8x8 block contributes 64
      * identical pixels, so the histogram is closed-form predictable
      * by the DuckDB oracle. Counts, not normalized floats (the sf10
      * half-ulp doctrine); L1/L2-normalize downstream when a unit
      * vector is needed. Any decode drift, channel reorder, or
      * bucketing error shifts a count. */
    def grayHistogramOf(mediaId: Long, payload: Array[Byte],
                        bins: Int): (Long, Array[Long]) = {
      require(bins > 0 && 256 % bins == 0,
        s"bins $bins must divide the 256-value gray range")
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      require(img != null, s"media_id=$mediaId: ImageIO cannot decode payload")
      val bucketWidth = 256 / bins
      val hist = new Array[Long](bins)
      val (w, h) = (img.getWidth, img.getHeight)
      // bulk getRGB (r14): one conversion pass over the raster instead
      // of a per-pixel ColorModel call — same ARGB ints, same counts
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < px.length) {
        // True Rec.601 integer luma, not a single channel: the
        // weights sum to 1000, so on the planted r=g=b quilts
        // luma == the channel value and the closed-form oracle is
        // unchanged — but on non-grayscale input this is a real
        // gray-intensity histogram, not a red-channel one
        // (ADVICE r13).
        val rgb = px(i)
        val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff) + 500) / 1000
        hist(luma / bucketWidth) += 1L
        i += 1
      }
      (mediaId, hist)
    }

    private def census(mediaId: Long, img: BufferedImage,
                       nBytes: Int): PixelCensus = {
      val (w, h) = (img.getWidth, img.getHeight)
      val channels = img.getColorModel.getNumComponents
      var rgbSum = 0L
      var weightedR = 0L
      // bulk getRGB (r14): identical ARGB ints, one conversion pass
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        val r = (rgb >> 16) & 0xff
        rgbSum += r + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        weightedR += r.toLong * (i + 1)
        i += 1
      }
      PixelCensus(mediaId, w, h, channels, nBytes, rgbSum, weightedR)
    }
  }
}
