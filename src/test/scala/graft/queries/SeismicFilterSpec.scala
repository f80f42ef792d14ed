package graft.queries

import graft.SparkSpec
import graft.multimodal.Images

/** Pins the round-6 filter batch: FIR bandpass tap semantics, median
  * despike behavior on a synthetic spike, and the perceptual-hash
  * pixel path. */
class SeismicFilterSpec extends SparkSpec {

  test("bandpass taps: DC gain is 8 on a constant interior sample") {
    // taps [-1,2,6,2,-1] sum to 8: an interior sample of a constant
    // trace must map to 8x its value
    val taps = Seq(-1.0, 2.0, 6.0, 2.0, -1.0)
    val trace = Array.fill(9)(3.5)
    val out = (2 until 7).map { i =>
      taps.zipWithIndex.map { case (t, k) => t * trace(i + k - 2) }.sum
    }
    assert(out.forall(_ == 8 * 3.5))
    // and the query itself runs with the declared schema
    val df = Mdio.qBandpass(spark, sf)
    assert(df.columns.toSeq == Seq("n", "sum_band", "sum_abs_band", "n_peaks"))
    assert(df.head().getLong(0) > 0)
  }

  test("despike: the median filter removes an isolated spike") {
    // median-of-5 on [1,1,100,1,1] interior = 1 — the spike never
    // reaches the output, while the mean filter would smear 20x
    val w = Array(1.0, 1.0, 100.0, 1.0, 1.0)
    val med = w.sorted.apply(2)
    assert(med == 1.0)
    val df = Mdio.qDespike(spark, sf)
    val r = df.head()
    assert(r.getLong(0) > 0, "no interior samples")
    // deviation mass is nonnegative and spikes are a subset of samples
    assert(r.getDouble(2) >= 0.0)
    assert(r.getLong(3) <= r.getLong(0))
  }

  test("decodeGray inverts encode exactly, top-down") {
    val w = 5; val h = 3
    val gray = Array.tabulate(w * h)(i => (i * 17 % 256).toByte)
    val d = Images.decoder().decode("image/bmp", Images.encode("image/bmp", w, h, gray))
    assert(d.width == w && d.height == h)
    assert(d.gray.toSeq == gray.toSeq, "pixel order or values drifted")
  }

  test("image_phash: identical pixel content collides, cluster math is consistent") {
    val r = Media.qImagePhash(spark, sf).head()
    val (nImgs, nClusters, nDups, maxCluster) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nImgs > 0)
    assert(nClusters + nDups == nImgs, "cluster accounting must balance")
    assert(maxCluster >= 1 && maxCluster <= nImgs)
    // identical gray content must produce identical hashes regardless of
    // geometry match: hash two copies directly
    val gray = Array.tabulate(32 * 20)(i => ((i * 31) % 256).toByte)
    val b1 = Images.encode("image/bmp", 32, 20, gray)
    val b2 = Images.encode("image/bmp", 32, 20, gray.clone())
    def hash(bytes: Array[Byte]): (Long, Long) = {
      val d = Images.decoder().decode("image/bmp", bytes)
      val (w, h, g) = (d.width, d.height, d.gray)
      val n = w.toLong * h
      val pixSum = g.map(_ & 0xff).map(_.toLong).sum
      var hi = 0L; var lo = 0L
      for (j <- 0 until 64) {
        val y = (j / 8) * h / 8; val x = (j % 8) * w / 8
        if ((g(y * w + x) & 0xff) * n > pixSum) {
          if (j < 32) hi |= 1L << j else lo |= 1L << (j - 32)
        }
      }
      (hi, lo)
    }
    assert(hash(b1) == hash(b2))
  }
}
