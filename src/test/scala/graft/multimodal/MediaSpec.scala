package graft.multimodal

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.functions._

class MediaSpec extends SparkSpec {

  test("decoder receives real batches of the configured shape") {
    val media = Media.mediaTable(Tables(spark, sf("sf0.001"), "documents"))
    // decoders run inside executor tasks (closure-serialized), so
    // driver-side mutation can't observe them — smuggle the observed
    // batch size out through the output rows instead
    object BatchSizeReportingDecoder extends Media.MediaDecoder {
      override def decodeBatch(b: Seq[Media.MediaRow]) =
        Media.StubDecoder.decodeBatch(b).map(_.copy(channels = b.size))
    }
    val out = Media.decode(spark, media, BatchSizeReportingDecoder)
      .collect()
    assert(out.length == 500)
    val sizes = out.map(_.channels)
    assert(sizes.forall(s => s >= 1 && s <= 64),
      s"batch larger than configured: ${sizes.distinct.toSeq}")
    assert(sizes.count(_ == 64) >= 250, "most rows should come from full batches")
  }

  test("decode features are a pure function of payload bytes") {
    val media = Media.mediaTable(Tables(spark, sf("sf0.001"), "documents"))
    val feats = Media.decode(spark, media, Media.StubDecoder).toDF()
    val joined = feats.join(media, "media_id")
      .select(col("n_bytes"), length(col("payload")).as("len"),
        col("width"), col("height"))
      .collect()
    joined.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.getInt(2) == r.getInt(0) % 640 + 1)
    }
  }

  test("resize: binary->binary transform preserves ids, bounds payload") {
    val media = Media.mediaTable(Tables(spark, sf("sf0.001"), "documents"))
    val out = Media.resize(spark, media, maxBytes = 100).collect()
    assert(out.length == 500)
    out.foreach { r =>
      assert(r.payload.length <= 100)
      assert(r.orig_bytes >= r.payload.length)
    }
  }

  test("feature extraction: fixed-dim normalized Float embedding column") {
    val media = Media.mediaTable(Tables(spark, sf("sf0.001"), "documents"))
    val out = Media.extractFeatures(spark, media)
    assert(out.schema("embedding").dataType.typeName == "array")
    val rows = out.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length == 8)
      assert(math.abs(v.sum - 1.0f) < 1e-3, s"not L1-normalized: ${v.sum}")
    }
  }

  test("frame sampling: stride-2 indices bounded by derived frame count") {
    val media = Media.mediaTable(Tables(spark, sf("sf0.001"), "documents"))
    val frames = Media.sampleFrames(media)
    val byId = frames.groupBy("media_id")
      .agg(collect_list("frame_no").as("fs"), count(lit(1)).as("n"))
      .collect()
    assert(byId.nonEmpty)
    byId.foreach { r =>
      val fs = r.getSeq[Int](1)
      assert(fs.forall(_ % 2 == 0), "stride violated")
    }
  }
}
