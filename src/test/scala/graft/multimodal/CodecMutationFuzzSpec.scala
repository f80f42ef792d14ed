package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Mutation fuzzing for the H.264 codec and the GIF path through
  * [[Images]]: random corruptions of VALID streams must either decode
  * (mutations in don't-care bytes) or reject with IllegalArgumentException
  * — never hang, never throw an uncontrolled error (ArrayIndexOutOfBounds,
  * NegativeArraySize, OOM), never return a silently-impossible geometry.
  * The LzFuzzSpec posture, pointed at the bitstream parsers. */
class CodecMutationFuzzSpec extends AnyFunSuite {

  private def mutate(rnd: scala.util.Random, base: Array[Byte]): Array[Byte] = {
    val b = base.clone()
    rnd.nextInt(4) match {
      case 0 => // flip one bit
        val i = rnd.nextInt(b.length)
        b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      case 1 => // stomp a byte
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      case 2 => // truncate
        return b.take(1 + rnd.nextInt(b.length - 1))
      case _ => // stomp a short run
        val i = rnd.nextInt(b.length)
        val n = math.min(1 + rnd.nextInt(16), b.length - i)
        for (k <- 0 until n) b(i + k) = rnd.nextInt(256).toByte
    }
    b
  }

  test("H264: 300 random mutations never escape the validator") {
    val rnd = new scala.util.Random(2026)
    val mbs = Array.fill(3 * 2)(rnd.nextInt(26) * 10)
    val base = H264Codec.encode(48, 32, Seq(mbs, mbs.reverse))
    var decoded = 0; var rejected = 0
    for (_ <- 1 to 300) {
      try { H264Codec.decode(mutate(rnd, base)); decoded += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
      // anything else (AIOOBE, NPE, NegativeArraySize) fails the test
    }
    assert(rejected > 0, "mutations never tripped the validator — suspicious")
    assert(decoded + rejected == 300)
  }

  test("GIF: 300 random mutations never escape the validator") {
    val rnd = new scala.util.Random(2027)
    val px = Array.tabulate(48 * 32)(i => ((i / 13) % 26 * 9).toByte)
    val base = Images.encode("image/gif", 48, 32, px)
    val images = Images.decoder()
    var decoded = 0; var rejected = 0
    for (_ <- 1 to 300) {
      try { images.decode("image/gif", mutate(rnd, base)); decoded += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
    }
    assert(rejected > 0)
    assert(decoded + rejected == 300)
  }

  test("JPEG, PNG, BMP: 300 random mutations each never escape the validator") {
    // the JPEG marker walk, the BMP offset check and the JDK readers'
    // exception mapping all sit between these bytes and a raster
    val rnd = new scala.util.Random(2028)
    val px = Array.tabulate(48 * 32)(i => ((i / 13) % 26 * 9).toByte)
    val images = Images.decoder()
    for ((format, progressive) <- Seq(("image/jpeg", false), ("image/jpeg", true),
                                      ("image/png", false), ("image/bmp", false))) {
      val base = Images.encode(format, 48, 32, px, progressive)
      var decoded = 0; var rejected = 0
      for (_ <- 1 to 300) {
        try { images.decode(format, mutate(rnd, base)); decoded += 1 }
        catch { case _: IllegalArgumentException => rejected += 1 }
      }
      assert(rejected > 0, s"$format progressive=$progressive")
      assert(decoded + rejected == 300)
    }
  }

  test("GIF: randomized ImageIO differential across 40 seeds") {
    // beyond CodecInteropSpec's fixed cases: random geometry x random
    // content, both directions, every seed pixel-exact
    for (seed <- 1 to 40) {
      val rnd = new scala.util.Random(1000 + seed)
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(30)
      val px = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Images.encode("image/gif", w, h, px)))
      assert(img.getWidth == w && img.getHeight == h, s"seed $seed")
      var ok = true
      for (y <- 0 until h; x <- 0 until w)
        ok &&= (img.getRGB(x, y) & 0xff) == (px(y * w + x) & 0xff)
      assert(ok, s"seed $seed: ImageIO disagrees with graft-encoded GIF")
      // reverse direction through the JDK writer
      val cm = new java.awt.image.IndexColorModel(8, 256,
        Array.tabulate(256)(_.toByte), Array.tabulate(256)(_.toByte),
        Array.tabulate(256)(_.toByte))
      val src = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      for (y <- 0 until h; x <- 0 until w)
        src.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(src, "gif", bos)
      val d = Images.decoder().decode("image/gif", bos.toByteArray)
      val want = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h) / 255.0
      assert(d.meanLuma == want, s"seed $seed: graft disagrees with JDK-written GIF")
    }
  }
}
