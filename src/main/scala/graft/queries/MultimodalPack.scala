package graft.queries

import graft.QueryPack
import graft.io.Tables
import graft.multimodal.Media
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal plumbing queries (builder brief). The decode path runs
  * through the REAL executor-side batched `mapPartitions` operator
  * (Media.decode with the stub decoder); because the stub is a pure
  * function of the payload bytes, DuckDB can recompute the expected
  * features from the same source text — the oracle checks the whole
  * binary pipeline (encode -> ship -> batch -> decode) end to end.
  */
object MultimodalPack extends QueryPack {

  /** Memoized + persisted planted-JPEG corpus per (session, sfDir) —
    * r14 optimization round: the three real-codec rows each re-ran the
    * full ImageIO ENCODE of one JPEG per document (plantJpegs) just to
    * decode it again; the planted bytes are a pure function of doc_id,
    * so one session-lifetime build (~1 KB/doc payload) serves decode,
    * resize and embed. Byte-capped MemoPool (r15), like the other memo
    * bases; at 100 TB the planted corpus is the INPUT, not a build. */
  private def plantedJpegs(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Media.MediaRow] =
    graft.scale.MemoPool.getOrBuild(s, dir, "plantedJpegs") {
      Media.plantJpegs(s, Tables(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(ds => Seq(ds.toDF()))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary decode through mapPartitions batching (the vectorized-UDF
    // shape). Output is typed features per media row.
    "mm_decode" -> ((s, dir) => {
      val media = Media.mediaTable(Tables(s, dir, "documents"))
      Media.decode(s, media, Media.StubDecoder).toDF()
        .orderBy(col("media_id"))
    }),

    // Modality-partitioned stats over the opaque payload — the "don't
    // decode what you can prune" path: byte-level metadata only.
    "mm_kind_stats" -> ((s, dir) => {
      Media.mediaTable(Tables(s, dir, "documents"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("total_bytes"),
          max(length(col("payload"))).as("max_bytes"))
        .orderBy(col("kind"))
    }),

    // Frame sampling: metadata-driven explode, no decode needed.
    // Codec scope (SURVEY §2.13, r14): this is the one mm row that
    // stays stub-only — no video codec exists in the JDK or this
    // zero-egress container, unlike the image rows whose *_real twins
    // decode real JPEGs. The gated surface here is the Spark plumbing
    // (schema, batch shape, stride explode), which is real.
    "mm_frame_sample" -> ((s, dir) => {
      Media.sampleFrames(Media.mediaTable(Tables(s, dir, "documents")))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // Resize: binary -> binary through the same batched executor path
    // as decode (stub transform: truncate to maxBytes). The oracle
    // recomputes the size metadata, checking the whole binary
    // round-trip (encode -> batch -> transform -> re-measure).
    "mm_resize" -> ((s, dir) => {
      val media = Media.mediaTable(Tables(s, dir, "documents"))
      Media.resize(s, media, maxBytes = 128).toDF()
        .select(col("media_id"), col("kind"),
          length(col("payload")).as("new_bytes"), col("orig_bytes"))
        .orderBy(col("media_id"))
    }),

    // Exact binary-content dedup — the first pass of any multimodal
    // curation pipeline (identical image/audio files re-crawled under
    // different ids). d_exact's hash-group shape at the binary level:
    // group on xxhash64(payload) so the payload bytes NEVER shuffle
    // (only 8-byte hashes + counts move), then re-group the few hot
    // hashes by the payload itself (broadcast semi-join survivors) so
    // a hash collision can never merge distinct content — exact
    // output, sketch-sized exchanges. At 100 TB payloads are GB-scale
    // objects and this is the only viable shape.
    "mm_hash_dedup" -> ((s, dir) => {
      val media = Media.mediaTable(Tables(s, dir, "documents"))
        .select(col("media_id"), col("payload"),
          xxhash64(col("payload")).as("h"),
          length(col("payload")).as("nb"))
      val groups = media.groupBy(col("h"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"), min(col("nb")).as("n_bytes"))
      val uniques = groups.filter(col("n_copies") === 1)
        .select(col("keep_id"), col("n_copies"), col("n_bytes"))
      val hot = groups.filter(col("n_copies") > 1).select(col("h"))
      val dups = media.join(broadcast(hot), Seq("h"), "left_semi")
        .groupBy(col("h"), col("payload"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"), min(col("nb")).as("n_bytes"))
        .select(col("keep_id"), col("n_copies"), col("n_bytes"))
      uniques.union(dups).orderBy(col("keep_id"))
    }),

    // REAL codec (round 11, VERDICT r10 item 7): plant one genuine
    // JPEG per document (8x8-block gray quilt keyed on doc_id, ImageIO
    // encode at quality 1.0), then decode it back through the SAME
    // batched mapPartitions plumbing with `javax.imageio` and emit an
    // exact pixel census of the DECODED array. Block-constant gray at
    // q=1.0 round-trips bit-exactly (DC-only luma blocks, unit DC
    // quant, Cb=Cr=128 — ImageIoCodecSpec pins it on this JDK), so the
    // DuckDB oracle predicts the census in closed form: any decoder
    // defect (dims, channel order, spatial transposition, lossy drift)
    // shifts rgb_sum/weighted_r_sum and goes red. n_bytes is excluded
    // from the gate (encoder-dependent); the stub contract stays for
    // the other codecs.
    "mm_decode_real" -> ((s, dir) => {
      val planted = plantedJpegs(s, dir) // shared memoized corpus (r14)
      Media.decodeJpegCensus(s, planted).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("rgb_sum"), col("weighted_r_sum"))
        .orderBy(col("media_id"))
    }),

    // REAL resize (round 13, VERDICT r12 item 5): decode the planted
    // JPEG, AffineTransformOp NEAREST downscale x1/2, census the
    // RESIZED pixels. The quilt blocks are 8x8-constant and the
    // factor divides the block edge, so each output pixel samples
    // inside one source block and the half-size census is exactly
    // predictable: 4x4 blocks of the same grays — the oracle's
    // closed-form weights shift from 64/224 (8px blocks) to 16/24
    // (4px blocks). Any interpolation bleed across blocks, dimension
    // rounding error, or sampling misalignment shifts weighted_r_sum.
    "mm_resize_real" -> ((s, dir) => {
      val planted = plantedJpegs(s, dir) // shared memoized corpus (r14)
      Media.resizeJpegCensus(s, planted).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("rgb_sum"), col("weighted_r_sum"))
        .orderBy(col("media_id"))
    }),

    // REAL embedding (round 13, the last stubbed-codec residue):
    // decode the planted JPEG, 16-bin gray-INTENSITY histogram of the
    // DECODED pixels — the classic image descriptor, the real twin of
    // mm_embed's byte-histogram stub. Block-constant quilts make
    // every count closed-form (64 pixels per 8x8 block, bucket =
    // gray >> 4), so the oracle predicts all 16 counts per doc from
    // the planted grays; integer counts, no float compare. Any decode
    // drift, channel reorder, or bucketing error shifts a count.
    "mm_embed_real" -> ((s, dir) => {
      val planted = plantedJpegs(s, dir) // shared memoized corpus (r14)
      Media.embedGrayHistogram(s, planted)
        .select(col("media_id"),
          posexplode(col("embedding")).as(Seq("bucket", "cnt")))
        .orderBy(col("media_id"), col("bucket"))
    }),

    // Feature extraction: payload -> fixed-dim embedding (stub: 8-bin
    // byte histogram, L1-normalized float32). Exploded to scalar rows
    // so the oracle can compare element-wise; the float32 division is
    // replayed by DuckDB in REAL and widened to double on both sides,
    // so the comparison is bit-exact, not tolerance-based.
    "mm_embed" -> ((s, dir) => {
      val media = Media.mediaTable(Tables(s, dir, "documents"))
      Media.extractFeatures(s, media)
        .select(col("media_id"),
          posexplode(col("embedding")).as(Seq("bucket", "f")))
        .select(col("media_id"), col("bucket"),
          round(col("f").cast("double"), 4).as("freq"))
        .orderBy(col("media_id"), col("bucket"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // The fixture text is ASCII, so octet_length(encode(text))=length and
    // payload[0] = code of first char — DuckDB recomputes the stub
    // decode exactly.
    "mm_decode" ->
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  octet_length(encode(text)) % 640 + 1 AS width,
        |  unicode(text[1]) + 1 AS height,
        |  3 AS channels
        |FROM documents ORDER BY media_id""".stripMargin,

    // CAST AS BIGINT: DuckDB integer sum() yields HUGEINT (arrow
    // decimal128), Spark emits bigint — values equal, hash differs.
    "mm_kind_stats" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  count(*) AS n,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  max(octet_length(encode(text))) AS max_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    greatest(octet_length(encode(text)) // 100, 1) AS n_frames
        |  FROM documents)
        |SELECT media_id, kind, f.f AS frame_no
        |FROM m, LATERAL (SELECT unnest(range(0, n_frames, 2)) AS f) f
        |ORDER BY media_id, frame_no""".stripMargin,

    // payload = UTF-8 text bytes, so binary equality == text equality
    // and the oracle can replay the dedup directly over the text.
    "mm_hash_dedup" ->
      """SELECT min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  min(octet_length(encode(text))) AS n_bytes
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "mm_resize" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  least(octet_length(encode(text)), 128) AS new_bytes,
        |  octet_length(encode(text)) AS orig_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    // Closed-form replay of the planted quilt (no image lib needed):
    // per doc, w8*h8 blocks of 64 gray pixels; gray(i) is the same
    // bounded Knuth hash Media.Plant computes (operands < 2^63 and
    // non-negative, so DuckDB's arithmetic >> equals Scala's >>>).
    // rgb_sum = 3 channels * 64 pixels * sum(gray); weighted_r_sum
    // folds the per-block weight sum T(i) = 64*(8*by*W + 8*bx + 1)
    // + 224*(W+1) (closed form of sum over the block's (y*W+x+1)).
    // Green iff the REAL ImageIO decode returned the exact pixels.
    "mm_decode_real" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    3 + doc_id % 4 AS w8, 2 + doc_id % 3 AS h8
        |  FROM documents),
        |c AS (
        |  SELECT media_id, 8 * w8 AS width, 8 * h8 AS height,
        |    [((((media_id % 1000003) * 31 + i) * 2654435761) >> 16) & 255
        |     for i in range(0, w8 * h8)] AS grays,
        |    [(((((media_id % 1000003) * 31 + i) * 2654435761) >> 16) & 255)
        |       * (64 * (8 * (i // w8) * (8 * w8) + 8 * (i % w8) + 1)
        |          + 224 * (8 * w8 + 1))
        |     for i in range(0, w8 * h8)] AS prods
        |  FROM p)
        |SELECT media_id, width, height, 3 AS channels,
        |  CAST(192 * list_sum(grays) AS BIGINT) AS rgb_sum,
        |  CAST(list_sum(prods) AS BIGINT) AS weighted_r_sum
        |FROM c ORDER BY media_id""".stripMargin,

    // Half-size census: same grays, 4x4 blocks — per-block pixel
    // count 16 (rgb factor 48 = 16 px * 3 channels) and weight sum
    // 16*(16*by*w8 + 4*bx + 1) + 24*(4*w8 + 1).
    "mm_resize_real" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    3 + doc_id % 4 AS w8, 2 + doc_id % 3 AS h8
        |  FROM documents),
        |c AS (
        |  SELECT media_id, 4 * w8 AS width, 4 * h8 AS height,
        |    [((((media_id % 1000003) * 31 + i) * 2654435761) >> 16) & 255
        |     for i in range(0, w8 * h8)] AS grays,
        |    [(((((media_id % 1000003) * 31 + i) * 2654435761) >> 16) & 255)
        |       * (16 * (16 * (i // w8) * w8 + 4 * (i % w8) + 1)
        |          + 24 * (4 * w8 + 1))
        |     for i in range(0, w8 * h8)] AS prods
        |  FROM p)
        |SELECT media_id, width, height, 3 AS channels,
        |  CAST(48 * list_sum(grays) AS BIGINT) AS rgb_sum,
        |  CAST(list_sum(prods) AS BIGINT) AS weighted_r_sum
        |FROM c ORDER BY media_id""".stripMargin,

    // Gray-histogram embedding from the planted grays: bucket b holds
    // 64 pixels per quilt block whose gray (the same planted-PRNG
    // expression as mm_decode_real's oracle) integer-divides to b.
    // Bin count and bucket width interpolate from
    // Media.GrayHistogramBins — the SAME constant the Spark side uses —
    // so the two can't desync silently (ADVICE r13).
    "mm_embed_real" ->
      s"""WITH p AS (
        |  SELECT doc_id AS media_id,
        |    3 + doc_id % 4 AS w8, 2 + doc_id % 3 AS h8
        |  FROM documents),
        |c AS (
        |  SELECT media_id,
        |    [((((media_id % 1000003) * 31 + i) * 2654435761) >> 16) & 255
        |     for i in range(0, w8 * h8)] AS grays
        |  FROM p)
        |SELECT media_id, CAST(b AS INT) AS bucket,
        |  CAST(64 * len(list_filter(grays, g -> g // ${256 / Media.GrayHistogramBins} = b)) AS BIGINT)
        |    AS cnt
        |FROM c, range(0, ${Media.GrayHistogramBins}) t(b)
        |ORDER BY media_id, bucket""".stripMargin,

    // ASCII fixture: unicode(char) == byte value, so the byte
    // histogram is a char histogram; REAL division replays Spark's
    // float32 arithmetic bit-exactly before the double widening.
    "mm_embed" ->
      """WITH chars AS (
        |  SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS n,
        |    [unicode(text[i]) // 32 for i in range(1, length(text) + 1)] AS bs
        |  FROM documents)
        |SELECT media_id, b.b AS bucket,
        |  round(CAST(CAST(len(list_filter(bs, x -> x = b.b)) AS REAL)
        |        / CAST(greatest(n, 1) AS REAL) AS DOUBLE), 4) AS freq
        |FROM chars, (SELECT unnest(range(0, 8)) AS b) b
        |ORDER BY media_id, bucket""".stripMargin
  )
}
