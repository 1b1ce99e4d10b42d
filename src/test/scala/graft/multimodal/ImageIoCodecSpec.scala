package graft.multimodal

import graft.SparkSpec
import graft.io.Tables

/** Pins the REAL `javax.imageio` JPEG path (round 11):
  * the exactness premise (block-constant gray at q=1.0 round-trips
  * bit-identically on this JDK), the distributed census operator, and
  * the loud-failure contract for undecodable payloads. */
class ImageIoCodecSpec extends SparkSpec {

  test("planted quilt JPEG round-trips bit-exactly (the oracle premise)") {
    // JVM-local check, no Spark: encode then decode a spread of ids
    // covering every (w8, h8) residue class, and compare each decoded
    // pixel against Plant's closed form. If a JDK/codec change ever
    // breaks DC-exactness, this fails before the gate goes red.
    for (id <- Seq(0L, 1L, 2L, 3L, 5L, 7L, 11L, 1000002L, 1000003L, 987654321L)) {
      val bytes = Media.ImageIoCodec.encodeQuilt(id)
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
        s"id=$id: payload is not a JPEG (no SOI marker)")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val (w, h) = (Media.Plant.widthOf(id), Media.Plant.heightOf(id))
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val g = Media.Plant.grayOf(id, (y / 8) * (w / 8) + x / 8)
        val rgb = img.getRGB(x, y)
        val (r, gg, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        assert(r == g && gg == g && b == g,
          s"id=$id pixel ($x,$y): decoded ($r,$gg,$b) != planted gray $g")
      }
    }
  }

  test("census of the decoded image matches the closed form, distributed") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val out = Media.decodeJpegCensus(spark, Media.plantJpegs(spark, docs))
      .collect()
    assert(out.length == 500)
    out.foreach { c =>
      val (w8, h8) = (3 + (c.media_id % 4).toInt, 2 + (c.media_id % 3).toInt)
      assert(c.width == 8 * w8 && c.height == 8 * h8 && c.channels == 3)
      val grays = (0 until w8 * h8).map(Media.Plant.grayOf(c.media_id, _))
      assert(c.rgb_sum == 192L * grays.sum,
        s"media_id=${c.media_id}: rgb_sum ${c.rgb_sum} != ${192L * grays.sum}")
      val wsum = grays.zipWithIndex.map { case (g, i) =>
        val width = 8L * w8
        g.toLong * (64L * (8L * (i / w8) * width + 8L * (i % w8) + 1L)
          + 224L * (width + 1L))
      }.sum
      assert(c.weighted_r_sum == wsum,
        s"media_id=${c.media_id}: weighted_r_sum ${c.weighted_r_sum} != $wsum")
      assert(c.n_bytes > 0)
    }
  }

  test("NEAREST half-size resize census matches the closed form, " +
      "distributed (round 13)") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val out = Media
      .resizeJpegCensus(spark, Media.plantJpegs(spark, docs))
      .collect()
    assert(out.length == 500)
    out.foreach { c =>
      val (w8, h8) = (3 + (c.media_id % 4).toInt, 2 + (c.media_id % 3).toInt)
      assert(c.width == 4 * w8 && c.height == 4 * h8 && c.channels == 3,
        s"media_id=${c.media_id}: resized dims ${c.width}x${c.height}")
      val grays = (0 until w8 * h8).map(Media.Plant.grayOf(c.media_id, _))
      assert(c.rgb_sum == 48L * grays.sum,
        s"media_id=${c.media_id}: rgb_sum ${c.rgb_sum} != ${48L * grays.sum}")
      // 4x4 output blocks: weight sum per block is
      // 16*(16*by*w8 + 4*bx + 1) + 24*(4*w8 + 1)
      val wsum = grays.zipWithIndex.map { case (g, i) =>
        g.toLong * (16L * (16L * (i / w8) * w8 + 4L * (i % w8) + 1L)
          + 24L * (4L * w8 + 1L))
      }.sum
      assert(c.weighted_r_sum == wsum,
        s"media_id=${c.media_id}: weighted_r_sum ${c.weighted_r_sum} != $wsum")
    }
  }

  test("gray-histogram embedding matches the closed form, distributed " +
      "(round 13)") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val out = Media
      .embedGrayHistogram(spark, Media.plantJpegs(spark, docs))
      .collect()
    assert(out.length == 500)
    out.foreach { r =>
      val id = r.getLong(0)
      val hist = r.getSeq[Long](1)
      val (w8, h8) = (3 + (id % 4).toInt, 2 + (id % 3).toInt)
      assert(hist.length == 16 && hist.sum == 64L * w8 * h8,
        s"media_id=$id: histogram mass ${hist.sum} != ${64L * w8 * h8}")
      val expected = (0 until w8 * h8)
        .map(Media.Plant.grayOf(id, _) / 16)
        .groupBy(identity).view.mapValues(_.size * 64L).toMap
      for (b <- 0 until 16)
        assert(hist(b) == expected.getOrElse(b, 0L),
          s"media_id=$id bucket $b: ${hist(b)} != ${expected.getOrElse(b, 0L)}")
    }
  }

  test("embedding bin count must divide the gray range") {
    val payload = Media.ImageIoCodec.encodeQuilt(7L)
    val e = intercept[IllegalArgumentException] {
      Media.ImageIoCodec.grayHistogramOf(7L, payload, 5)
    }
    assert(e.getMessage.contains("bins"))
  }

  test("resize factor must divide the JPEG block edge and the dims") {
    val payload = Media.ImageIoCodec.encodeQuilt(7L)
    val e = intercept[IllegalArgumentException] {
      Media.ImageIoCodec.resizeCensusOf(7L, payload, 3)
    }
    assert(e.getMessage.contains("factor"))
  }

  test("undecodable payload fails loudly with the media id") {
    import spark.implicits._
    val bad = Seq(Media.MediaRow(42L, "image", Array[Byte](1, 2, 3))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Media.decodeJpegCensus(spark, bad).collect()
    }
    assert(e.getMessage.contains("42") ||
      Option(e.getCause).exists(_.getMessage.contains("42")),
      s"corrupt-payload error should carry media_id: ${e.getMessage}")
  }

  test("plan shape: plant+decode is narrow — no shuffle anywhere") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val plan = Media.decodeJpegCensus(spark, Media.plantJpegs(spark, docs))
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"decode path must not shuffle:\n$plan")
  }
}
