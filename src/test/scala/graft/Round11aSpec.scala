package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 part 1 (+ round-12 GIF/WebP extension): real
  * PNG/JPEG/WAV/GIF/WebP header parsing. The in-plan byte walk is
  * checked three ways: hand-built payloads with known fields, an
  * INDEPENDENT JVM-side byte reader over the synthesized payloads
  * (java.nio-style arithmetic, no Spark — if the synthesis emitted
  * malformed headers, plan and reader would agree on garbage, so the
  * reader asserts the spec'd magic bytes too), and the
  * corrupted-payload no-crash path.
  */
class Round11aSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def parse1(payload: Array[Byte]) =
    Multimodal.parseHeaders(
      Seq((1L, payload)).toDF("media_id", "payload"), "payload")
      .select("format", "width", "height", "channels", "sample_rate",
        "bit_depth", "has_alpha", "has_animation")
      .head()

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray

  test("PNG: signature + IHDR dims at the spec'd offsets") {
    // 8-byte signature, IHDR length 13, tag, width 640, height 480
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0xE0,
      8, 6, 0, 0, 0).map(_.toByte)
    val r = parse1(png)
    assert(r.getString(0) === "png")
    assert(r.getLong(1) === 640L && r.getLong(2) === 480L)
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))
  }

  test("JPEG: the marker walk skips arbitrary segments to the SOFn") {
    def seg(marker: Int, content: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        ((content.length + 2) >> 8).toByte, ((content.length + 2) & 0xFF).toByte) ++ content
    val jpeg = Array(0xFF, 0xD8).map(_.toByte) ++
      seg(0xE0, "JFIF".getBytes ++ Array.fill[Byte](10)(1)) ++
      seg(0xFE, "a comment".getBytes) ++
      seg(0xDB, Array.fill[Byte](65)(3)) ++ // quantization table
      seg(0xC2, Array[Byte](8, 1, 0x2C, 2, 0x58, 3) ++ // progressive SOF2: h=300 w=600
        Array.fill[Byte](9)(0x11))
    val r = parse1(jpeg)
    assert(r.getString(0) === "jpeg")
    assert(r.getLong(1) === 600L && r.getLong(2) === 300L)
  }

  test("WAV: little-endian fmt fields") {
    val wav = "RIFF".getBytes ++ le(36, 4) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le(16, 4) ++ le(1, 2) ++ le(2, 2) ++
      le(44100, 4) ++ le(44100 * 2 * 2, 4) ++ le(4, 2) ++ le(16, 2) ++
      "data".getBytes ++ le(0, 4)
    val r = parse1(wav)
    assert(r.getString(0) === "wav")
    assert(r.isNullAt(1) && r.isNullAt(2))
    assert(r.getLong(3) === 2L && r.getLong(4) === 44100L && r.getLong(5) === 16L)
  }

  test("GIF: 87a and 89a logical-screen dims, little-endian") {
    val gif89 = "GIF89a".getBytes ++ le(1024, 2) ++ le(768, 2) ++
      Array[Byte](0x91.toByte, 0, 0) ++ Array.fill[Byte](8)(7)
    val r = parse1(gif89)
    assert(r.getString(0) === "gif")
    assert(r.getLong(1) === 1024L && r.getLong(2) === 768L)
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))
    val gif87 = "GIF87a".getBytes ++ le(320, 2) ++ le(200, 2) ++
      Array[Byte](0, 0, 0)
    val r87 = parse1(gif87)
    assert(r87.getString(0) === "gif")
    assert(r87.getLong(1) === 320L && r87.getLong(2) === 200L)
    // "GIFXYZ" is not a GIF signature
    assert(parse1("GIFXYZ".getBytes ++ le(320, 2) ++ le(200, 2) ++
      Array[Byte](0, 0, 0)).isNullAt(0))
  }

  test("WebP VP8 (lossy): dims after the 9D 01 2A sync, 14-bit masked") {
    def riff(chunk: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le(chunk.length + 4, 4) ++ "WEBP".getBytes ++ chunk
    // width field carries 2 high scaling bits that must be masked off:
    // raw LE short 0x8280 = 33408, & 0x3FFF = 640
    val vp8 = riff("VP8 ".getBytes ++ le(10, 4) ++
      Array[Byte](0, 0, 0) ++ Array(0x9D, 0x01, 0x2A).map(_.toByte) ++
      le(640L | (2L << 14), 2) ++ le(480, 2))
    val r = parse1(vp8)
    assert(r.getString(0) === "webp")
    assert(r.getLong(1) === 640L && r.getLong(2) === 480L)
    // plain lossy VP8 has no alpha channel and cannot animate
    assert(r.getBoolean(6) === false && r.getBoolean(7) === false)
    // a VP8 chunk without the sync code keeps format, nulls the dims
    val noSync = riff("VP8 ".getBytes ++ le(10, 4) ++
      Array[Byte](0, 0, 0, 1, 2, 3) ++ le(640, 2) ++ le(480, 2))
    val rn = parse1(noSync)
    assert(rn.getString(0) === "webp" && rn.isNullAt(1) && rn.isNullAt(2))
  }

  test("WebP VP8L (lossless): 14+14-bit packed dims minus one, bit-28 alpha hint") {
    val w = 800L; val h = 600L
    def lossless(alpha: Long) = {
      val bits = (w - 1) | ((h - 1) << 14) | (alpha << 28)
      "RIFF".getBytes ++ le(17, 4) ++ "WEBP".getBytes ++
        "VP8L".getBytes ++ le(9, 4) ++ Array(0x2F.toByte) ++ le(bits, 4) ++
        Array.fill[Byte](4)(9)
    }
    val r = parse1(lossless(0))
    assert(r.getString(0) === "webp")
    assert(r.getLong(1) === 800L && r.getLong(2) === 600L)
    assert(r.getBoolean(6) === false && r.getBoolean(7) === false)
    val ra = parse1(lossless(1))
    // the alpha bit must not bleed into the packed dims
    assert(ra.getLong(1) === 800L && ra.getLong(2) === 600L)
    assert(ra.getBoolean(6) === true && ra.getBoolean(7) === false)
  }

  test("WebP VP8X (extended): 24-bit LE canvas dims minus one, feature flags") {
    def ext(flags: Int) =
      "RIFF".getBytes ++ le(22, 4) ++ "WEBP".getBytes ++
        "VP8X".getBytes ++ le(10, 4) ++ Array[Byte](flags.toByte, 0, 0, 0) ++
        le(1920 - 1, 3) ++ le(1080 - 1, 3) ++ Array.fill[Byte](4)(5)
    val r = parse1(ext(0x12)) // alpha + animation
    assert(r.getString(0) === "webp")
    assert(r.getLong(1) === 1920L && r.getLong(2) === 1080L)
    assert(r.getBoolean(6) === true && r.getBoolean(7) === true)
    val r0 = parse1(ext(0x00))
    assert(r0.getBoolean(6) === false && r0.getBoolean(7) === false)
  }

  test("synthesized headers parse to the generation rule; an independent JVM reader agrees") {
    val media = Multimodal.syntheticMediaHeaders(
      spark.range(1, 300).toDF("doc_id"), "doc_id")
    val parsed = Multimodal.parseHeaders(media, "payload")
      .select("media_id", "format", "width", "height", "channels",
        "sample_rate", "bit_depth", "has_alpha", "has_animation")
      .collect()
      .map(r => r.getLong(0) -> r).toMap
    val payloads = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    def be(b: Array[Byte], off: Int, n: Int): Long =
      (0 until n).foldLeft(0L)((a, i) => (a << 8) | (b(off + i) & 0xFF))
    def rle(b: Array[Byte], off: Int, n: Int): Long =
      (n - 1 to 0 by -1).foldLeft(0L)((a, i) => (a << 8) | (b(off + i) & 0xFF))
    (1L until 300L).foreach { id =>
      val p = payloads(id)
      val r = parsed(id)
      val expW = (id % 64) * 16 + 16
      val expH = (id % 48) * 16 + 16
      if (id % 97 == 0) {
        assert(r.isNullAt(1), s"id=$id corrupt payload must not parse")
      } else if (id % 5 == 0) { // png
        assert(be(p, 0, 4) === 0x89504E47L && new String(p, 12, 4) === "IHDR")
        assert(r.getString(1) === "png")
        assert(r.getLong(2) === be(p, 16, 4) && r.getLong(2) === expW)
        assert(r.getLong(3) === be(p, 20, 4) && r.getLong(3) === expH)
      } else if (id % 5 == 1) { // jpeg: walk markers independently
        assert(be(p, 0, 2) === 0xFFD8L)
        var off = 2
        var dims: Option[(Long, Long)] = None
        while (dims.isEmpty && off + 4 < p.length) {
          assert((p(off) & 0xFF) === 0xFF, s"id=$id lost marker sync")
          val typ = p(off + 1) & 0xFF
          if (typ >= 0xC0 && typ <= 0xC2)
            // 0-based from the marker: +4 precision, +5..6 height, +7..8 width
            dims = Some((be(p, off + 7, 2), be(p, off + 5, 2))) // (w, h)
          else off += 2 + be(p, off + 2, 2).toInt
        }
        assert(r.getString(1) === "jpeg")
        assert(dims.contains((r.getLong(2), r.getLong(3))), s"id=$id")
        assert(r.getLong(2) === expW && r.getLong(3) === expH)
      } else if (id % 5 == 2) { // wav
        assert(new String(p, 0, 4) === "RIFF" && new String(p, 8, 4) === "WAVE")
        assert(r.getString(1) === "wav")
        assert(r.getLong(4) === rle(p, 22, 2) && r.getLong(4) === id % 2 + 1)
        assert(r.getLong(5) === rle(p, 24, 4) && r.getLong(5) === (id % 7) * 4000 + 8000)
        assert(r.getLong(6) === rle(p, 34, 2) && r.getLong(6) === (id % 2 + 2) * 8)
      } else if (id % 5 == 3) { // gif
        assert(new String(p, 0, 6) === "GIF89a")
        assert(r.getString(1) === "gif")
        assert(r.getLong(2) === rle(p, 6, 2) && r.getLong(2) === expW)
        assert(r.getLong(3) === rle(p, 8, 2) && r.getLong(3) === expH)
      } else { // webp: branch on the chunk tag independently
        assert(new String(p, 0, 4) === "RIFF" && new String(p, 8, 4) === "WEBP")
        assert(r.getString(1) === "webp")
        val tag = new String(p, 12, 4)
        val expTag = ((id / 5) % 3) match {
          case 0 => "VP8 "; case 1 => "VP8L"; case _ => "VP8X"
        }
        assert(tag === expTag, s"id=$id variant cycle")
        val (w, h, alpha, anim) = tag match {
          case "VP8 " =>
            assert(be(p, 23, 3) === 0x9D012AL, s"id=$id missing VP8 sync")
            (rle(p, 26, 2) & 0x3FFF, rle(p, 28, 2) & 0x3FFF, false, false)
          case "VP8L" =>
            assert((p(20) & 0xFF) === 0x2F, s"id=$id missing VP8L signature")
            val bits = rle(p, 21, 4)
            ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1,
              ((bits >> 28) & 1) == 1, false)
          case _ =>
            val flags = p(20) & 0xFF
            (rle(p, 24, 3) + 1, rle(p, 27, 3) + 1,
              (flags & 0x10) != 0, (flags & 0x02) != 0)
        }
        assert(r.getLong(2) === w && r.getLong(2) === expW, s"id=$id")
        assert(r.getLong(3) === h && r.getLong(3) === expH, s"id=$id")
        assert(r.getBoolean(7) === alpha, s"id=$id alpha")
        assert(r.getBoolean(8) === anim, s"id=$id animation")
        // and the flags themselves follow the generation rule
        assert(alpha === (tag != "VP8 " && id % 2 == 0), s"id=$id alpha rule")
        assert(anim === (tag == "VP8X" && id % 3 == 0), s"id=$id anim rule")
      }
    }
  }

  test("the media generation rule's output is pinned per rule version") {
    // the stored payload fixture keys on syntheticMediaHeadersVersion;
    // a rule change that does not bump it would serve stale payloads,
    // so it fails here instead: bump the version and pin the new digest
    val pinned = Map(1 -> "b6d9704104f16cdf68fde7c3f01090b2595bd434497dc150aa0f58c73b2e9040")
    val payloads = Multimodal.syntheticMediaHeaders(
        spark.range(0, 500).toDF("doc_id"), "doc_id")
      .orderBy("media_id").collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    payloads.foreach { r =>
      md.update(java.nio.ByteBuffer.allocate(8).putLong(r.getLong(0)).array())
      md.update(r.getAs[Array[Byte]]("payload"))
    }
    val digest = md.digest().map("%02x".format(_)).mkString
    val version = Multimodal.syntheticMediaHeadersVersion
    assert(pinned.get(version).contains(digest),
      s"rule version $version produces $digest; bump the version if the rule changed")
  }

  test("payloads too short to hold any header flag as unparsed, not an error") {
    val r = parse1(Array[Byte](1, 2, 3))
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(3))
  }

  test("a payload truncated mid-header flags as unparsed instead of misparsing the prefix bytes") {
    // a valid WAV signature (RIFF..WAVEfmt , 16 bytes) cut off before
    // the fmt fields: channels/sample-rate must NOT come back as the
    // partially-available bytes parsed into a smaller shifted value
    val truncated = "RIFF".getBytes ++ le(36, 4) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le(16, 4) ++ le(1, 2) ++ le(2, 1) // cut mid-channels
    val r = parse1(truncated)
    assert(r.isNullAt(0) && r.isNullAt(3) && r.isNullAt(4))
    // and a JPEG whose SOF dims are cut off keeps format but null dims
    val cutJpeg = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08, 0x01)
      .map(_.toByte)
    val j = parse1(cutJpeg)
    assert(j.getString(0) === "jpeg" && j.isNullAt(1) && j.isNullAt(2))
    // a GIF cut inside the screen descriptor must not misparse dims
    val cutGif = "GIF89a".getBytes ++ le(1024, 2) ++ le(768, 1)
    assert(parse1(cutGif).isNullAt(0))
    // a WebP VP8L cut inside the packed dims keeps format, nulls dims
    val cutVp8l = "RIFF".getBytes ++ le(17, 4) ++ "WEBP".getBytes ++
      "VP8L".getBytes ++ le(9, 4) ++ Array(0x2F.toByte) ++ le(99, 2)
    val c = parse1(cutVp8l)
    assert(c.getString(0) === "webp" && c.isNullAt(1) && c.isNullAt(2))
  }
}
