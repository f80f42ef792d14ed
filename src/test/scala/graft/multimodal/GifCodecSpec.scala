package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** GIF89a through [[Images]]: LZW round-trips (including the KwKwK
  * special case that run-heavy content hits constantly), interlace,
  * multi-frame streams, and the hostile-input policy (loud-or-correct).
  * The fixtures use the identity gray palette, so decoded luma bytes are
  * the written indices. ImageIO differentials live in [[CodecInteropSpec]]. */
class GifCodecSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(w * h)(rnd.nextInt(256).toByte)
  }

  private val images = Images.decoder()
  private def decode(bytes: Array[Byte]) = images.decode("image/gif", bytes)
  private def encode(w: Int, h: Int, px: Array[Byte]) = Images.encode("image/gif", w, h, px)

  test("encode/decode round-trips random rasters exactly (width growth + table-full clear)") {
    // 128x96 random bytes force the LZW table past 4096 entries: the
    // encoder's table-full clear and the decoder's width reset both run
    for ((w, h, seed) <- Seq((17, 13, 1), (64, 48, 2), (1, 7, 3), (128, 96, 4))) {
      val px = gray(w, h, seed)
      val d = decode(encode(w, h, px))
      assert(d.width == w && d.height == h)
      assert(d.gray.sameElements(px), s"${w}x$h seed=$seed")
    }
  }

  test("KwKwK: solid and run-heavy rasters round-trip (code == next)") {
    // A solid raster emits code==next almost immediately: [7,7,7,...]
    // produces literal 7, then 258 while the table's next slot IS 258.
    // The round-7 decoder rejected exactly this; regression-pin it.
    val solid = Array.fill(6)(7.toByte)
    val d = decode(encode(6, 1, solid))
    assert(d.gray.sameElements(solid))
    for ((w, h) <- Seq((40, 30), (64, 48))) {
      val runs = Array.tabulate(w * h)(i => ((i / 97) % 3 * 9).toByte)
      val got = decode(encode(w, h, runs)).gray
      assert(got.sameElements(runs), s"run-heavy ${w}x$h")
      val txt = Array.tabulate(w * h)(i => "aaaabbaaaacc".charAt(i % 12).toByte)
      val got2 = decode(encode(w, h, txt)).gray
      assert(got2.sameElements(txt), s"text-cycle ${w}x$h")
    }
  }

  test("interlaced frames deinterlace through the four-pass row schedule") {
    // 2-4 rows leave the row-4 pass empty, which the JDK reader mishandles
    for ((w, h) <- Seq((11, 17), (5, 2), (5, 3), (7, 4))) {
      val logical = gray(w, h, 5)
      // rows in GIF interlace FILE order: passes start/step (0,8)(4,8)(2,4)(1,2)
      val fileRowOrder =
        (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
      val interleaved = new Array[Byte](w * h)
      for ((srcY, fileRow) <- fileRowOrder.zipWithIndex)
        System.arraycopy(logical, srcY * w, interleaved, fileRow * w, w)
      val bytes = encode(w, h, interleaved)
      // image-descriptor packed byte: 6 sig + 7 LSD + 768 palette + 1 + 8
      val pk = 6 + 7 + 768 + 9
      assert((bytes(pk) & 0xc0) == 0, "layout drift: expected no local table, not interlaced")
      bytes(pk) = (bytes(pk) | 0x40).toByte
      val d = decode(bytes)
      assert(d.gray.sameElements(logical), s"${w}x$h")
    }
  }

  test("multi-frame streams with graphic-control transparency decode per frame") {
    val (w, h) = (9, 6)
    val a = gray(w, h, 8); val b = gray(w, h, 9)
    val ga = encode(w, h, a); val gb = encode(w, h, b)
    val imgStart = 6 + 7 + 768 // first image descriptor offset in encode() output
    val out = new java.io.ByteArrayOutputStream()
    out.write(ga, 0, ga.length - 1) // frame A without trailer
    // GCE: transparency on, index 3
    out.write(Array[Byte](0x21, 0xf9.toByte, 4, 1, 0, 0, 3, 0))
    // a comment extension the decoder must skip
    out.write(Array[Byte](0x21, 0xfe.toByte, 2, 'h', 'i', 0))
    out.write(gb, imgStart, gb.length - imgStart - 1) // frame B image section
    out.write(0x3b)
    // the stream decodes, and its features are frame 0's
    val d = decode(out.toByteArray)
    assert(d.width == w && d.height == h)
    assert(d.gray.sameElements(a))
  }

  test("mean luma is exact for gray palettes (299/587/114 collapses to v)") {
    val px = Array.tabulate(100)(i => (i * 2).toByte)
    val d = decode(encode(10, 10, px))
    val want = px.map(_ & 0xff).map(_.toLong).sum.toDouble / 100 / 255.0
    assert(d.meanLuma == want)
  }

  test("rejects malformed and adversarial payloads loudly") {
    intercept[IllegalArgumentException] { decode("no gif here, move along".getBytes) }
    val good = encode(8, 8, gray(8, 8, 11))
    // truncations at every structural boundary
    for (cut <- Seq(4, 10, 400, 790, good.length - 2))
      intercept[IllegalArgumentException] { decode(good.take(cut)) }
    // frame geometry bomb: patch frame width to 0
    val zf = good.clone()
    zf(6 + 7 + 768 + 5) = 0; zf(6 + 7 + 768 + 6) = 0 // frame width = 0
    intercept[IllegalArgumentException] { decode(zf) }
    // bad LZW code: corrupt the first data sub-block's payload
    val corrupt = good.clone()
    val lzwStart = 6 + 7 + 768 + 10 + 1 // + min-code byte
    var i = lzwStart + 1
    while (i < lzwStart + 9) { corrupt(i) = 0xff.toByte; i += 1 }
    intercept[IllegalArgumentException] { decode(corrupt) }
    // unknown top-level block
    val unk = good.clone()
    unk(6 + 7 + 768) = 0x77
    intercept[IllegalArgumentException] { decode(unk) }
    // no color table at all: clear the global-table flag, no local table
    val noTab = good.clone()
    noTab(10) = (noTab(10) & 0x7f).toByte
    intercept[IllegalArgumentException] { decode(noTab) }
  }

  test("a stream with no explicit EOI ends cleanly at the block terminator") {
    // valid per the spec's tolerance: raster fills exactly, terminator
    // follows with no EOI code. Regression: the drain used to consume the
    // terminator while hunting for EOI and then re-read the TRAILER byte
    // as a sub-block length, failing a conforming single-frame stream.
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Byte](2, 0, 1, 0)) // 2x1 screen
    out.write(0x80); out.write(0); out.write(0) // 2-entry global table
    out.write(Array[Byte](10, 10, 10, 200.toByte, 200.toByte, 200.toByte))
    out.write(0x2c)
    out.write(Array[Byte](0, 0, 0, 0, 2, 0, 1, 0, 0))
    out.write(7) // min code 7: clear=128, eoi=129, 8-bit codes, byte-aligned
    out.write(3); out.write(0x80); out.write(0); out.write(1) // clear, px0, px1
    out.write(0) // terminator, no EOI
    out.write(0x3b)
    val d = decode(out.toByteArray)
    assert(d.width == 2 && d.height == 1)
    assert(d.gray.map(_ & 0xff).toSeq == Seq(10, 200)) // palette entries 0 and 1
  }

  test("pixel indices outside a small color table are corruption, not silence") {
    // hand-build a 2-color GIF whose LZW stream emits index 3
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Byte](2, 0, 1, 0)) // 2x1 screen
    out.write(0x80) // global table, 2 entries
    out.write(0); out.write(0)
    out.write(Array[Byte](0, 0, 0, 0xff.toByte, 0xff.toByte, 0xff.toByte))
    out.write(0x2c)
    out.write(Array[Byte](0, 0, 0, 0, 2, 0, 1, 0, 0))
    out.write(2) // min code size 2: clear=4, eoi=5, literals 0..3
    // codes [clear=4, 3, 3, eoi=5] at width 3, packed LSB-first:
    // 4 | 3<<3 | 3<<6 = 220 (low byte), carry bit + 5<<1 = 10
    out.write(2); out.write(220); out.write(10); out.write(0)
    out.write(0x3b)
    val ex = intercept[IllegalArgumentException] { decode(out.toByteArray) }
    assert(ex.getMessage.contains("outside"))
  }
}
