package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Wire-format checks of the media paths against direct JDK reads —
  * plain javax.imageio for the still images [[Images]] writes and decodes,
  * javax.sound.sampled for [[WavCodec]]. Both directions: whatever graft
  * writes, a plain JDK read must see as the intended pixels/samples (the
  * fixtures' oracle rests on that), and whatever the JDK writes, graft
  * must decode to the format's luma rule exactly; malformed and partial
  * streams reject loud. ("graft" in test names is the engine's path.) */
class CodecInteropSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(w * h)(rnd.nextInt(256).toByte)
  }

  private val images = Images.decoder()
  private def decode(format: String, bytes: Array[Byte]) = images.decode(format, bytes)

  test("PNG: ImageIO decodes graft-encoded images pixel-exact") {
    for ((w, h, seed) <- Seq((17, 17, 1), (64, 48, 2), (1, 7, 3))) {
      val px = gray(w, h, seed)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Images.encode("image/png", w, h, px)))
      assert(img.getWidth == w && img.getHeight == h)
      // raw raster samples: getRGB would run the JDK's gray->sRGB color
      // transform and report gamma-shifted values
      for (y <- 0 until h; x <- 0 until w) {
        val v = px(y * w + x) & 0xff
        val got = img.getRaster.getSample(x, y, 0)
        assert(got == v, s"pixel ($x,$y) of ${w}x$h differs: ImageIO $got vs $v")
      }
    }
  }

  test("PNG: graft decodes ImageIO-encoded images to the exact mean luma") {
    val (w, h) = (23, 11)
    val px = gray(w, h, 7)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) // raw samples, not setRGB (gamma)
      img.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "JDK PNG writer unavailable")
    val d = decode("image/png", bos.toByteArray)
    assert(d.width == w && d.height == h)
    val want = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(d.meanLuma == want, s"ImageIO-written PNG decoded luma ${d.meanLuma} != $want")
  }

  test("GIF: ImageIO decodes graft-encoded images pixel-exact") {
    // the gray global palette is the identity ramp (index i = rgb(i,i,i)),
    // so the JDK's palette-indexed raster must equal the input bytes —
    // including run-heavy content, whose LZW stream leans on KwKwK codes
    val cases = Seq(
      (17, 17, gray(17, 17, 21)),
      (64, 48, gray(64, 48, 22)),
      (40, 30, Array.fill(1200)(7.toByte)),                       // solid: KwKwK-dense
      (128, 96, gray(128, 96, 23)))                               // forces table-full clear
    for ((w, h, px) <- cases) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Images.encode("image/gif", w, h, px)))
      assert(img != null, "JDK GIF reader unavailable")
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val v = px(y * w + x) & 0xff
        val got = img.getRGB(x, y) & 0xff
        assert(got == v, s"pixel ($x,$y) of ${w}x$h differs: ImageIO $got vs $v")
      }
    }
  }

  test("GIF: graft decodes ImageIO-encoded images to the exact mean luma") {
    val (w, h) = (23, 11)
    val px = gray(w, h, 27)
    val cm = new java.awt.image.IndexColorModel(8, 256,
      Array.tabulate(256)(_.toByte), Array.tabulate(256)(_.toByte),
      Array.tabulate(256)(_.toByte))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos), "JDK GIF writer unavailable")
    val d = decode("image/gif", bos.toByteArray)
    assert(d.width == w && d.height == h)
    val want = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(d.meanLuma == want, s"ImageIO-written GIF decoded luma ${d.meanLuma} != $want")
  }

  test("BMP: ImageIO decodes graft-encoded images pixel-exact") {
    val (w, h) = (17, 17)
    val px = gray(w, h, 9)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Images.encode("image/bmp", w, h, px)))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val v = px(y * w + x) & 0xff
      assert((img.getRGB(x, y) & 0xff) == v, s"pixel ($x,$y)")
    }
  }

  test("JPEG: ImageIO decodes graft-encoded block-constant images pixel-exact") {
    // block-constant content is DC-only: with all-ones quantization it
    // survives the lossy format EXACTLY, in ANY compliant decoder
    val (w, h) = (32, 24)
    val px = new Array[Byte](w * h)
    val rnd = new scala.util.Random(13)
    val blockVal = Array.fill((w / 8) * (h / 8))(rnd.nextInt(256).toByte)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = blockVal((y / 8) * (w / 8) + x / 8)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Images.encode("image/jpeg", w, h, px)))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val got = img.getRaster.getSample(x, y, 0)
      assert(got == (px(y * w + x) & 0xff), s"pixel ($x,$y)")
    }
  }

  test("JPEG color: graft round-trips macroblock-constant 4:2:0 exactly; ImageIO agrees") {
    // constant 16x16 macroblocks -> constant Y/Cb/Cr blocks, DC-only on
    // the wire: our decoder must recover the fixed-point luma EXACTLY,
    // and any compliant decoder lands within YCbCr->RGB rounding
    val (w, h) = (48, 32)
    val rnd = new scala.util.Random(29)
    val mbw = w / 16
    val mbs = Array.fill((w / 16) * (h / 16))(
      (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = mbs((y / 16) * mbw + x / 16)
      val p = (y * w + x) * 3
      rgb(p) = r.toByte; rgb(p + 1) = g.toByte; rgb(p + 2) = b.toByte
    }
    val enc = Images.encodeJpegColor(w, h, rgb)
    val d = decode("image/jpeg", enc)
    assert(d.width == w && d.height == h)
    val wantLuma = mbs.map { case (r, g, b) => Images.lumaOf(r, g, b) }
      .map(_.toLong).sum.toDouble / mbs.length / 255.0
    assert(d.meanLuma == wantLuma, s"graft ${d.meanLuma} vs exact $wantLuma")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    assert(img.getWidth == w && img.getHeight == h)
    // macroblock INTERIORS only: ImageIO's fancy chroma upsampling
    // interpolates across macroblock seams; away from the seam the wire
    // is exact and the slack is the two fixed-point YCbCr conversions
    for (y <- 0 until h; x <- 0 until w
         if x % 16 >= 4 && x % 16 < 12 && y % 16 >= 4 && y % 16 < 12) {
      val (r, g, b) = mbs((y / 16) * mbw + x / 16)
      val got = img.getRGB(x, y)
      assert(math.abs(((got >> 16) & 0xff) - r) <= 4 &&
             math.abs(((got >> 8) & 0xff) - g) <= 4 &&
             math.abs((got & 0xff) - b) <= 4,
        f"pixel ($x,$y): got 0x$got%06x want ($r,$g,$b)")
    }
  }

  test("JPEG color: arbitrary content survives graft encode -> graft decode near-exact") {
    val (w, h) = (40, 24)
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) { // smooth planes: quantize gently
      val p = (y * w + x) * 3
      rgb(p) = ((x * 5 + y) % 256).toByte
      rgb(p + 1) = ((x + y * 7) % 256).toByte
      rgb(p + 2) = ((x * 2 + y * 3) % 256).toByte
    }
    val d = decode("image/jpeg", Images.encodeJpegColor(w, h, rgb))
    assert(d.width == w && d.height == h)
    var src = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      src += Images.lumaOf(rgb(p) & 0xff, rgb(p + 1) & 0xff, rgb(p + 2) & 0xff)
    }
    val srcLuma = src.toDouble / (w * h) / 255.0
    assert(math.abs(d.meanLuma - srcLuma) < 1.5 / 255.0,
      s"graft ${d.meanLuma} vs source $srcLuma")
  }

  test("JPEG: ImageIO agrees with graft within rounding on arbitrary content") {
    // quant=1 keeps coefficients near-exact; decoders may differ by the
    // spec's IDCT tolerance (±1 per sample)
    val (w, h) = (24, 16)
    val px = gray(w, h, 21)
    val enc = Images.encode("image/jpeg", w, h, px)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    var sumJdk = 0L
    for (y <- 0 until h; x <- 0 until w) sumJdk += img.getRaster.getSample(x, y, 0)
    val d = decode("image/jpeg", enc)
    assert(d.width == w && d.height == h)
    val jdkLuma = sumJdk.toDouble / (w * h) / 255.0
    assert(math.abs(d.meanLuma - jdkLuma) < 1.5 / 255.0,
      s"graft ${d.meanLuma} vs ImageIO $jdkLuma")
    // and both sit close to the source (all-ones quant ~ lossless)
    val srcLuma = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(math.abs(d.meanLuma - srcLuma) < 1.5 / 255.0)
  }

  test("JPEG: graft decodes ImageIO-encoded grayscale and color JPEGs") {
    // grayscale, default JDK quality: luma must land near the source mean
    val (w, h) = (40, 24)
    val px = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w) // smooth gradient: quantizes gently
      px(y * w + x) = ((x * 4 + y * 3) % 200 + 20).toByte
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "JDK JPEG writer unavailable")
    val d = decode("image/jpeg", bos.toByteArray)
    assert(d.width == w && d.height == h)
    val srcLuma = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(math.abs(d.meanLuma - srcLuma) < 0.02,
      s"ImageIO-written grayscale JPEG: graft luma ${d.meanLuma} vs source $srcLuma")
    // color (3-component, subsampled): decoder must track the interleaved
    // MCU structure; Y of a constant-color image is its exact luma
    val cimg = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) cimg.setRGB(x, y, 0x507090)
    val cbos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(cimg, "jpg", cbos))
    val dc = decode("image/jpeg", cbos.toByteArray)
    assert(dc.width == w && dc.height == h)
    val wantY = (0.299 * 0x50 + 0.587 * 0x70 + 0.114 * 0x90) / 255.0
    assert(math.abs(dc.meanLuma - wantY) < 0.02,
      s"ImageIO-written color JPEG: graft Y ${dc.meanLuma} vs $wantY")
  }

  /** ImageIO JPEG bytes with the writer forced into progressive mode. */
  private def writeProgressive(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose()
    ios.close()
    val bytes = bos.toByteArray
    // the whole point: the JDK must actually have emitted SOF2
    assert(bytes.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc2),
      "JDK writer did not produce a progressive (SOF2) stream")
    bytes
  }

  private def imageIoMeanLuma(bytes: Array[Byte]): Double = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var sum = 0L
    if (img.getRaster.getNumBands == 1) {
      // grayscale: raw raster samples (getRGB would gamma-map gray→sRGB)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        sum += img.getRaster.getSample(x, y, 0)
    } else {
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += Images.lumaOf((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      }
    }
    sum.toDouble / (img.getWidth.toLong * img.getHeight) / 255.0
  }

  test("JPEG progressive: graft decodes JDK-written grayscale SOF2 (all scan kinds)") {
    val (w, h) = (40, 24)
    val px = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = ((x * 4 + y * 3) % 200 + 20).toByte
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
    val bytes = writeProgressive(img)
    val d = decode("image/jpeg", bytes)
    assert(d.width == w && d.height == h)
    // two independent decoders of the SAME lossy stream: IDCT rounding only
    assert(math.abs(d.meanLuma - imageIoMeanLuma(bytes)) < 0.005,
      s"graft ${d.meanLuma} vs ImageIO ${imageIoMeanLuma(bytes)}")
    val srcLuma = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(math.abs(d.meanLuma - srcLuma) < 0.02, "drifted from the source image")
  }

  test("JPEG progressive: graft decodes JDK-written subsampled color SOF2") {
    val (w, h) = (56, 40)
    val cimg = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // smooth two-axis gradient: exercises DC refinement + AC bands across
    // many blocks without hard edges (which would just stress quant loss)
    for (y <- 0 until h; x <- 0 until w)
      cimg.setRGB(x, y, ((40 + x * 3) << 16) | ((60 + y * 4) << 8) | 0x70)
    val bytes = writeProgressive(cimg)
    val d = decode("image/jpeg", bytes)
    assert(d.width == w && d.height == h)
    assert(math.abs(d.meanLuma - imageIoMeanLuma(bytes)) < 0.005,
      s"graft ${d.meanLuma} vs ImageIO ${imageIoMeanLuma(bytes)}")
  }

  test("JPEG progressive: truncated stream and missing scans reject loud") {
    val img = new java.awt.image.BufferedImage(24, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 24) img.getRaster.setSample(x, y, 0, (x * 7 + y) % 256)
    val bytes = writeProgressive(img)
    // cut mid-entropy-stream: the EOI-time truncation guard must fire
    intercept[IllegalArgumentException](decode("image/jpeg", bytes.take(bytes.length / 2)))
    // SOF2 header with EOI and no scan at all
    val soi = bytes.takeWhile(_ != 0xda.toByte) // keep everything before first SOS...
    intercept[IllegalArgumentException] {
      decode("image/jpeg", Array(0xff, 0xd8, 0xff, 0xc2, 0, 8, 8, 0, 8, 0, 8, 1,
        1, 0x11, 0, 0xff, 0xd9).map(_.toByte))
    }
    assert(soi.nonEmpty) // silence the unused warning, keep the derivation
  }

  test("JPEG progressive: partial progressions (missing AC/refinement scans) reject loud") {
    val img = new java.awt.image.BufferedImage(24, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 24) img.getRaster.setSample(x, y, 0, (x * 7 + y) % 256)
    val bytes = writeProgressive(img)
    // entropy stuffing (0xFF -> 0xFF00) guarantees 0xFFDA only occurs at
    // real SOS markers, so marker offsets can be found textually
    val sosOffsets = (0 until bytes.length - 1).filter(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xda)
    assert(sosOffsets.size >= 2, "JDK progressive fixture must emit several scans")
    val eoi = Array(0xff.toByte, 0xd9.toByte)
    // DC-first scan only: every AC coefficient is "never scanned"
    val dcOnly = bytes.take(sosOffsets(1)) ++ eoi
    val e1 = intercept[IllegalArgumentException](decode("image/jpeg", dcOnly))
    assert(e1.getMessage.contains("incomplete progression"), e1.getMessage)
    // all but the final scan: some band is left above Al=0 (or unscanned)
    val noLast = bytes.take(sosOffsets.last) ++ eoi
    val e2 = intercept[IllegalArgumentException](decode("image/jpeg", noLast))
    assert(e2.getMessage.contains("incomplete progression"), e2.getMessage)
  }

  test("JPEG progressive: graft-encoded SOF2 round-trips exactly; ImageIO agrees pixel-exact") {
    // block-constant content → DC-only blocks → the progressive wire
    // format is lossless at quality 1.0; BOTH reads must recover every pixel
    val (w, h) = (40, 24)
    val px = new Array[Byte](w * h)
    val rnd = new scala.util.Random(41)
    val blockVal = Array.fill((w / 8) * (h / 8))(rnd.nextInt(256).toByte)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = blockVal((y / 8) * (w / 8) + x / 8)
    val enc = Images.encode("image/jpeg", w, h, px, progressive = true)
    assert(enc.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc2),
      "encoder must emit SOF2")
    val d = decode("image/jpeg", enc)
    assert(d.width == w && d.height == h)
    val want = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(d.meanLuma == want, s"graft ${d.meanLuma} vs exact $want")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == (px(y * w + x) & 0xff),
        s"ImageIO pixel ($x,$y)")
  }

  test("JPEG progressive: restart markers inside every scan kind decode exactly") {
    val (w, h) = (40, 24) // 15 blocks → restart interval 4 hits mid-row
    val px = new Array[Byte](w * h)
    val rnd = new scala.util.Random(43)
    val blockVal = Array.fill((w / 8) * (h / 8))(rnd.nextInt(256).toByte)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = blockVal((y / 8) * (w / 8) + x / 8)
    // the JDK writer's progressive script at quality 1.0, with a DRI
    // segment (restart interval 4) added to its default metadata
    val img0 = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img0.getRaster.setSamples(0, 0, w, h, 0, px.map(_ & 0xff))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val md = writer.getDefaultImageMetadata(new javax.imageio.ImageTypeSpecifier(img0), p)
    val fmt = md.getNativeMetadataFormatName
    val tree = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val seq = tree.getElementsByTagName("markerSequence").item(0)
    val dri = new javax.imageio.metadata.IIOMetadataNode("dri")
    dri.setAttribute("interval", "4")
    seq.insertBefore(dri, seq.getFirstChild)
    md.setFromTree(fmt, tree)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img0, null, md), p)
    writer.dispose()
    ios.close()
    val enc = bos.toByteArray
    assert(enc.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc2),
      "writer must emit SOF2")
    assert(enc.sliding(2).count(s =>
      (s(0) & 0xff) == 0xff && (s(1) & 0xff) >= 0xd0 && (s(1) & 0xff) <= 0xd7) >= 8,
      "expected RSTn markers across the scans")
    val d = decode("image/jpeg", enc)
    val want = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
    assert(d.meanLuma == want, s"graft ${d.meanLuma} vs exact $want")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == (px(y * w + x) & 0xff),
        s"ImageIO pixel ($x,$y) with restarts")
  }

  test("JPEG: malformed and unsupported flavors reject loud") {
    intercept[IllegalArgumentException](decode("image/jpeg", "nope".getBytes))
    // arithmetic-coded sequential: SOI + SOF9
    intercept[IllegalArgumentException] {
      decode("image/jpeg", Array(0xff, 0xd8, 0xff, 0xc9, 0, 5, 8, 0, 8).map(_.toByte))
    }
    // truncation mid-entropy-stream
    val ok = Images.encode("image/jpeg", 16, 16, Array.fill(256)(77.toByte))
    intercept[IllegalArgumentException](decode("image/jpeg", ok.take(ok.length - 20)))
    // a 64x48 gray JPEG cut to 2/3 of its bytes: the JDK reader returns a
    // full raster and only warns, so the warning must fail the decode
    val whole = Images.encode("image/jpeg", 64, 48, gray(64, 48, 17))
    val cut = intercept[IllegalArgumentException](
      decode("image/jpeg", whole.take(whole.length * 2 / 3)))
    assert(cut.getMessage.contains("Corrupt JPEG data") || cut.getMessage.contains("Truncated"),
      cut.getMessage)
    // a valid small JPEG with its SOF width and height patched to 65535:
    // the geometry cap rejects it before any raster is allocated
    val huge = ok.clone()
    val sof = (0 until huge.length - 1).find(i =>
      (huge(i) & 0xff) == 0xff && (huge(i + 1) & 0xff) == 0xc0).get
    for (k <- 5 to 8) huge(sof + k) = 0xff.toByte
    val cap = intercept[IllegalArgumentException](decode("image/jpeg", huge))
    assert(cap.getMessage.contains("unsupported geometry 65535x65535"), cap.getMessage)
    // geometry bomb: hand-built SOF0 with absurd dimensions
    intercept[IllegalArgumentException] {
      decode("image/jpeg", Array(0xff, 0xd8, 0xff, 0xc0, 0, 11, 8,
        0xff, 0xff, 0xff, 0xff, 1, 1, 0x11, 0).map(_.toByte))
    }
  }

  test("WAV: javax.sound parses graft-encoded audio; graft decodes JDK-written WAV") {
    import javax.sound.sampled._
    val samples = Array.tabulate(256)(i => ((i * 257) % 65536 - 32768).toShort)
    // graft -> JDK
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(WavCodec.encode(samples, 8000)))
    val f = ais.getFormat
    assert(f.getSampleRate == 8000f && f.getChannels == 1 && f.getSampleSizeInBits == 16)
    val raw = ais.readAllBytes()
    assert(raw.length == samples.length * 2)
    val got = (0 until samples.length).map { i =>
      (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
    }
    assert(got == samples.toSeq, "JDK-decoded samples differ")
    // JDK -> graft
    val fmt = new AudioFormat(8000f, 16, 1, true, false) // signed 16-bit LE mono
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length),
      AudioFileFormat.Type.WAVE, bos)
    val d = WavCodec.decode(bos.toByteArray)
    assert(d.nSamples == samples.length && d.sampleRate == 8000)
    val want = samples.map(s => math.abs(s.toLong)).sum.toDouble / samples.length / 32768.0
    assert(d.meanAbsAmplitude == want)
  }
}
