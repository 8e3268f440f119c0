package graft

import graft.ops.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** The real video path: GIF LZW encode/decode round trips, the decoder
  * cross-checked frame-for-frame against the JDK's independent ImageIO
  * GIF reader, frame-sampling stats against the generation rule, and
  * the no-crash/no-hang contract on hostile payloads.
  */
class VideoFramesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("GIF LZW round trip, including 12-bit growth and a clear reset") {
    // deterministic pseudo-random symbols over a 16-symbol alphabet:
    // 30k low-compressibility symbols force the dictionary past 4096
    // entries, so the encoder emits a mid-stream clear and both sides
    // replay the width-growth schedule from scratch
    val rnd = new scala.util.Random(20260816L)
    val syms = Array.fill(30000)(rnd.nextInt(16))
    val enc = Multimodal.gifLzwEncode(4, syms)
    assert(Multimodal.gifLzwDecode(4, enc, syms.length).sameElements(syms))
    // the compressible face: long runs exercise the KwKwK case
    val runs = Array.tabulate(5000)(k => (k / 100) % 4)
    val encR = Multimodal.gifLzwEncode(2, runs)
    assert(encR.length < runs.length / 2, "runs must actually compress")
    assert(Multimodal.gifLzwDecode(2, encR, runs.length).sameElements(runs))
  }

  test("GIF decoder cross-checked against the JDK's independent ImageIO reader") {
    (0L until 40L).foreach { id =>
      val payload = Multimodal.videoPayload(id)
      val (w, h, frames) = Multimodal.decodeGifFramesGray(payload)
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      assert(it.hasNext, "JDK GIF reader missing")
      val reader = it.next()
      reader.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload)))
      val n = reader.getNumImages(true)
      assert(n === frames.size, s"id $id frame count vs ImageIO")
      (0 until n).foreach { f =>
        val img = reader.read(f)
        assert(img.getWidth === w && img.getHeight === h, s"id $id dims")
        for (r <- 0 until h; c <- 0 until w) {
          val rgb = img.getRGB(c, r)
          val gray = (rgb >> 16) & 0xff // palette is gray: R = G = B
          assert(gray === frames(f)(r * w + c),
            s"id $id frame $f pixel ($r,$c) vs ImageIO")
        }
      }
      reader.dispose()
    }
  }

  test("sampled frame stats match the generation rule") {
    import spark.implicits._
    val vf = Multimodal.sampleFrames(
        Multimodal.decodableVideo(docs, "doc_id"), everyK = 2)
      .orderBy("media_id", "frame_idx").limit(300).collect()
    assert(vf.nonEmpty)
    vf.foreach { v =>
      val id = v.media_id
      if (id % 97 == 0) {
        assert(!v.decode_ok && v.frame_idx == -1L && v.n_px == 0L,
          s"media $id must flag")
      } else {
        val w = id % 6 + 2; val h = id % 4 + 2; val nf = id % 3 + 2
        assert(v.decode_ok, s"media $id must decode")
        assert(v.frame_idx % 2 == 0 && v.frame_idx < nf, s"media $id sampling")
        assert(v.n_frames === nf && v.width === w && v.height === h)
        val px = (0L until w * h).map(k => ((id + 7 * v.frame_idx + k) % 4) * 85)
        assert(v.n_px === px.length.toLong, s"media $id n_px")
        assert(v.px_first === px.head, s"media $id px_first")
        assert(v.px_sum === px.sum, s"media $id px_sum")
        assert(v.px_min === px.min && v.px_max === px.max, s"media $id range")
      }
    }
    // every intact id contributes ceil(nf / 2) sampled rows
    val perId = vf.filter(_.decode_ok).groupBy(_.media_id)
    perId.foreach { case (id, rows) =>
      val nf = id % 3 + 2
      assert(rows.length === ((nf + 1) / 2).toInt, s"media $id row count")
    }
  }

  test("single-frame videos emit the frame_idx=0 marker row, never vanish") {
    import spark.implicits._
    val one = Multimodal.gifEncodeAnimated(3, 2, Seq(Array.fill(6)(1)))
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(42L, "video", one, "gif", 3, 2, 100L)))
    val rows = Multimodal.sceneChanges(ds, thresholdPerPx = 100).collect()
    assert(rows.length === 1)
    assert(rows.head.frame_idx === 0L && rows.head.sum_abs_diff === 0L &&
      rows.head.decode_ok && !rows.head.is_cut && rows.head.n_px === 6L)
  }

  test("hostile declared dimensions flag before allocation") {
    // a ~30-byte payload declaring a 40000x40000 frame must flag via
    // the size bound, not pre-allocate 1.6G pixel slots (the resulting
    // OutOfMemoryError would be an Error, escaping the callers'
    // catch-Exception and killing the executor)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    le16(40000); le16(40000)
    out.write(0xF1); out.write(0); out.write(0)
    (0 until 12).foreach(_ => out.write(0x33))
    val ex = intercept[IllegalArgumentException] {
      Multimodal.decodeGifFramesGray(out.toByteArray)
    }
    assert(ex.getMessage.contains("too large"))
  }

  test("hostile payloads flag — never crash, hang, or blow memory") {
    val good = Multimodal.videoPayload(6L)
    def flagsAsError(p: Array[Byte]): Boolean =
      try { Multimodal.decodeGifFramesGray(p); false }
      catch { case _: Exception => true }
    assert(!flagsAsError(good))
    assert(flagsAsError(good.take(10))) // truncated mid-header
    assert(flagsAsError(good.take(good.length - 1))) // missing trailer
    val badSig = good.clone(); badSig(0) = 0x42
    assert(flagsAsError(badSig))
    // a sub-block length running past the end must flag, not over-read
    val badLen = good.clone()
    badLen(badLen.length - 3) = 0xff.toByte
    assert(flagsAsError(badLen))
    // LZW stream claiming more pixels than the frame declares must
    // flag via the output bound, not allocate unbounded memory
    val oversize = Multimodal.gifLzwEncode(2, Array.fill(100)(1))
    assertThrows[Exception] {
      Multimodal.gifLzwDecode(2, oversize, 10)
    }
  }

  test("scene changes match the triangle-offset rule; keyframe is the argmax") {
    import spark.implicits._
    val sc = Multimodal.sceneChanges(
        Multimodal.decodableVideoScenes(docs, "doc_id"), thresholdPerPx = 100)
      .orderBy("media_id", "frame_idx").limit(200).collect()
    assert(sc.nonEmpty)
    sc.filter(_.decode_ok).foreach { v =>
      val id = v.media_id
      val w = id % 6 + 2; val h = id % 4 + 2
      val f = v.frame_idx
      def tri(x: Long) = x * (x + 1) / 2
      val sad = (0L until w * h).map { k =>
        math.abs((id + tri(f) + k) % 4 - (id + tri(f - 1) + k) % 4) * 85
      }.sum
      assert(v.n_px === w * h, s"media $id n_px")
      assert(v.sum_abs_diff === sad, s"media $id frame $f sad")
      assert(v.is_cut === (sad > 100L * w * h), s"media $id frame $f cut")
      // the delta-0 pairs (f % 4 == 0) must be pixel-identical
      if (f % 4 == 0) assert(v.sum_abs_diff === 0L, s"media $id delta-0")
      // the delta-2 pairs shift every pixel two palette steps exactly
      if (f % 4 == 2) assert(v.sum_abs_diff === 170L * w * h, s"media $id delta-2")
    }
    val kf = SparkEntry.queries("q_video_keyframe")(
      spark, "/root/testdata/sf0.001").collect()
    kf.foreach { r =>
      val id = r.getLong(0)
      // delta-2 (frame 2) is the global max at 170/px; ties impossible
      assert(r.getLong(1) === 2L, s"media $id keyframe")
      val w = id % 6 + 2; val h = id % 4 + 2
      assert(r.getLong(2) === 170L * w * h, s"media $id keyframe sad")
    }
  }

  test("audio quality stats match the generation rule") {
    val aq = Multimodal.audioQuality(
        Multimodal.decodableMedia(docs, "doc_id")
          .filter((m: Multimodal.MediaRow) => m.kind == "audio"),
        clipAbs = 32000, silentAbs = 1000)
      .orderBy("media_id").limit(150).collect()
    assert(aq.nonEmpty && aq.forall(_.media_id % 2 == 1))
    aq.foreach { a =>
      val id = a.media_id
      if (id % 97 == 0) assert(!a.decode_ok && a.n_samples == 0L)
      else {
        val s = (0L until id % 50 + 10).map(k => (id * 31 + k * 7) % 65536 - 32768)
        assert(a.decode_ok, s"media $id")
        assert(a.n_samples === s.length.toLong)
        assert(a.n_clipped === s.count(v => math.abs(v) >= 32000).toLong)
        assert(a.n_silent === s.count(v => math.abs(v) < 1000).toLong)
        assert(a.sum_sq === s.map(v => v * v).sum)
        assert(a.peak_abs === s.map(math.abs).max)
      }
    }
  }

  test("frame-caption alignment: covered and uncaptioned frames both accounted") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_video_captions")(
      spark, "/root/testdata/sf0.001").collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val id = r.getLong(0); val t = r.getLong(2)
      val nc = id % 3 + 1
      val expect = t / 150 // the covering caption index, if it exists
      if (expect < nc) {
        assert(!r.isNullAt(3) && r.getLong(3) === expect,
          s"media $id t=$t cap_idx")
        assert(r.getLong(4) === (id + expect) % 5 + 1,
          s"media $id t=$t cap_tokens")
      } else {
        assert(r.isNullAt(3) && r.isNullAt(4),
          s"media $id t=$t must be uncaptioned")
      }
    }
    // both classes must actually occur, or the audit proves nothing
    assert(df.exists(_.isNullAt(3)) && df.exists(!_.isNullAt(3)))
  }

  test("q_video_frames corruption rows pin to the planted 1/97") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_video_frames")(
      spark, "/root/testdata/sf0.001")
    val flagged = df.filter(!col("decode_ok")).count()
    val expected = docs.filter(col("doc_id") % 97 === 0).count()
    assert(flagged === expected)
  }
}
