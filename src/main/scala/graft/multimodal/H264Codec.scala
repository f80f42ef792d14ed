package graft.multimodal

import java.io.ByteArrayOutputStream

/** Pure-JVM H.264/AVC **I-frame** codec (ITU-T H.264 baseline profile,
  * CAVLC entropy coding), written against the PUBLIC spec — no codec
  * libraries. This is the keyframe-decode path of a crawl pipeline: an
  * Annex-B elementary stream of I pictures in, luma rasters out.
  *
  * Decode surface (round 9, loud-or-correct — everything else rejects
  * with a message, never a silent wrong answer):
  *  - Annex-B start codes, emulation-prevention-byte removal, SPS/PPS
  *    (baseline fields, frame_mbs_only, optional frame cropping),
  *    IDR and non-IDR I-slice headers (dec_ref_pic_marking consumed for
  *    reference slices; adaptive marking rejects), exp-Golomb throughout;
  *  - macroblocks: `I_PCM`, `Intra_16x16` with all four luma prediction
  *    modes (V/H/DC/Plane) and CodedBlockPatternLuma 0 OR 15 (luma DC
  *    via the 4x4 inverse Hadamard + the full per-block AC residual
  *    path: CAVLC nC neighbor contexts, AC dequant, 4x4 inverse integer
  *    transform), and `I_NxN` (Intra_4x4) with all NINE spatial
  *    prediction modes, prev_intra4x4_pred_mode signaling, the intra
  *    coded_block_pattern mapping, and full 16-coefficient residuals;
  *  - CAVLC: full Table 9-5 coeff_token columns for 0<=nC<2 and nC>=8
  *    (FLC); the 2<=nC<4 / 4<=nC<8 columns wired through TotalCoeff
  *    13 / 12 — the deeper rows of those columns cannot be pinned
  *    structurally in this sandbox and reject loudly rather than decode
  *    half-trusted (see FIXTURES.md); full Table 9-7 total_zeros, full
  *    Table 9-10 run_before, level codes with suffix growth + escapes;
  *  - chroma planes are consumed (I_PCM) or prediction-only
  *    (CodedBlockPatternChroma must be 0) and not emitted — the
  *    pipeline is grayscale;
  *  - rejected loudly: CABAC, P/B slices, chroma residuals, adaptive
  *    ref-pic marking, multi-slice pictures, fields, slice groups.
  *
  * Encode writes conformant single-slice I pictures (IDR, or IDR followed
  * by non-IDR reference I slices) from per-macroblock specs [[MbSpec]]:
  *  - `Pcm`: raw I_PCM samples;
  *  - `Const`: Intra_16x16 CBP 0, auto-picking the residual-free
  *    prediction mode (V/H/Plane) when a neighbor carries the target
  *    constant, else DC with one quantized luma-DC level — at QP 36 the
  *    dequant chain is dcY = 160*level and r = (dcY + 32) >> 6, so a
  *    residual of 5k reconstructs EXACTLY from level 2k (values are
  *    multiples of 10 so DC prediction keeps residuals multiples of 5);
  *  - `DcAc`: Intra_16x16 DC mode with CodedBlockPatternLuma 15 — three
  *    interior 4x4 blocks carry closed-form AC coefficients (the
  *    edge rows/columns stay flat so neighbor prediction is unchanged);
  *  - `I4x4`: I_NxN whose sixteen 4x4 blocks all reconstruct one
  *    constant, cycling through ALL NINE 4x4 prediction modes (a
  *    constant neighborhood makes every mode predict the constant
  *    exactly), block (0,0) carrying the quantized DC residual that
  *    bridges from the neighbor constant (at QP 36, r = 10*level).
  * Every emitted stream reconstructs bit-exactly by integer arithmetic —
  * the multimodal_jpeg DC-only discipline, extended to AC (the GIF/JPEG
  * exact-by-construction rule).
  * Reference intent parity: mdio has no video layer; this serves the
  * crawl-pipeline surface next to Images/Mp4Codec.
  */
object H264Codec {

  final case class Frame(width: Int, height: Int, luma: Array[Byte]) {
    def lumaSum: Long = {
      var s = 0L; var i = 0
      while (i < luma.length) { s += luma(i) & 0xff; i += 1 }
      s
    }
    /** Sum of squared luma samples — the AC-sensitive statistic (mean
      * luma alone cannot tell whether AC residuals decoded: the encoder's
      * interior AC patterns are near-zero-sum). */
    def lumaSqSum: Long = {
      var s = 0L; var i = 0
      while (i < luma.length) { val v = (luma(i) & 0xff).toLong; s += v * v; i += 1 }
      s
    }
    def meanLuma: Double = lumaSum.toDouble / (width.toLong * height) / 255.0
  }

  final case class Decoded(width: Int, height: Int, frames: Vector[Frame])

  /** Per-macroblock encode spec — see the object doc for the exactness
    * contract of each shape. */
  sealed trait MbSpec
  object MbSpec {
    /** Raw I_PCM macroblock (lossless, any byte value 0..255 — but when
      * neighbors predict from it, their rules constrain it). */
    final case class Pcm(value: Int) extends MbSpec
    /** Intra_16x16 CBP-0 constant (the legacy `encode` shape): value a
      * multiple of 10 in [0,250]. */
    final case class Const(value: Int) extends MbSpec
    /** Intra_16x16 DC-prediction CBP-15 constant-edged MB with interior
      * AC: value a multiple of 10 in [30,210] (the AC swings stay inside
      * [0,255]); `acLevel` in {1,2} selects the interior coefficient. */
    final case class DcAc(value: Int, acLevel: Int) extends MbSpec
    /** I_NxN macroblock reconstructing one constant through all nine
      * 4x4 spatial prediction modes: value a multiple of 10 in [0,250]. */
    final case class I4x4(value: Int) extends MbSpec
  }

  // ---- bit reader over an RBSP (MSB-first) ------------------------------

  private final class BitReader(buf: Array[Byte]) {
    private var pos = 0 // bit position
    def bitsLeft: Int = buf.length * 8 - pos
    def u1(): Int = {
      require(pos < buf.length * 8, "H264: bitstream exhausted")
      val b = (buf(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1; b
    }
    def u(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | u1(); i += 1 }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u1() == 0) { zeros += 1; require(zeros < 32, "H264: bad exp-Golomb") }
      (1 << zeros) - 1 + u(zeros)
    }
    def se(): Int = {
      val k = ue()
      if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
    }
    def byteAlign(): Unit = while ((pos & 7) != 0) {
      require(u1() == 0, "H264: pcm alignment bit not zero")
    }
    def byte(): Int = {
      require((pos & 7) == 0, "H264: unaligned byte read")
      require(pos < buf.length * 8, "H264: bitstream exhausted")
      val v = buf(pos >> 3) & 0xff
      pos += 8; v
    }
  }

  // ---- bit writer --------------------------------------------------------

  private final class BitWriter {
    private val out = new ByteArrayOutputStream()
    private var acc = 0; private var nbits = 0
    def u(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nbits += 1
        if (nbits == 8) { out.write(acc); acc = 0; nbits = 0 }
        i -= 1
      }
    }
    def u1(v: Int): Unit = u(v, 1)
    def ue(v: Int): Unit = {
      require(v >= 0)
      val k = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(k)
      u(0, len - 1); u(k, len)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def byteAlignZero(): Unit = while (nbits != 0) u1(0)
    def byte(v: Int): Unit = { require(nbits == 0); out.write(v & 0xff) }
    def rbspTrailing(): Unit = { u1(1); byteAlignZero() }
    def toBytes: Array[Byte] = { require(nbits == 0, "unflushed bits"); out.toByteArray }
  }

  // ---- NAL layer ---------------------------------------------------------

  /** Strip emulation-prevention bytes: 00 00 03 xx -> 00 00 xx. */
  private def unescapeRbsp(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(until - from)
    var i = from
    var zeros = 0
    while (i < until) {
      val v = b(i) & 0xff
      if (zeros >= 2 && v == 3) { zeros = 0 } // drop the EPB
      else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** Insert emulation-prevention bytes into a raw RBSP. */
  private def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(rbsp.length + 16)
    var zeros = 0
    for (b <- rbsp) {
      val v = b & 0xff
      if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
      out.write(v)
      zeros = if (v == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  private final case class Sps(widthMbs: Int, heightMbs: Int,
                               log2MaxFrameNum: Int, pocType: Int,
                               cropRight: Int, cropBottom: Int)
  private final case class Pps(picInitQp: Int, deblockPresent: Boolean)

  // ---- SPS / PPS ---------------------------------------------------------

  private def parseSps(r: BitReader): Sps = {
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    r.u(8) // level_idc
    r.ue() // sps id
    require(!Set(100, 110, 122, 244, 44, 83, 86, 118, 128).contains(profile),
      s"H264: high/extended profile $profile unsupported (chroma/scaling fields)")
    val log2MaxFrameNum = r.ue() + 4
    val pocType = r.ue()
    pocType match {
      case 0 => r.ue() // log2_max_poc_lsb
      case 1 => throw new IllegalArgumentException("H264: poc type 1 unsupported")
      case 2 => ()
      case x => throw new IllegalArgumentException(s"H264: bad poc type $x")
    }
    r.ue() // max_num_ref_frames
    r.u1() // gaps allowed
    val wMbs = r.ue() + 1
    val hUnits = r.ue() + 1
    val frameMbsOnly = r.u1()
    require(frameMbsOnly == 1, "H264: interlaced (frame_mbs_only=0) unsupported")
    r.u1() // direct_8x8_inference
    val crop = r.u1()
    var (cl, cr, ct, cb) = (0, 0, 0, 0)
    if (crop == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    require(cl == 0 && ct == 0, "H264: left/top cropping unsupported")
    // 4:2:0: crop units are 2 luma samples horizontally and vertically
    Sps(wMbs, hUnits, log2MaxFrameNum, pocType, 2 * cr, 2 * cb)
  }

  private def parsePps(r: BitReader): Pps = {
    r.ue(); r.ue() // pps id, sps id
    val cabac = r.u1()
    require(cabac == 0, "H264: CABAC unsupported (CAVLC baseline only)")
    r.u1() // bottom_field_pic_order_in_frame_present
    val sliceGroups = r.ue() + 1
    require(sliceGroups == 1, "H264: slice groups (FMO) unsupported")
    r.ue(); r.ue() // ref idx defaults
    r.u1(); r.u(2) // weighted pred flags
    val qp = r.se() + 26
    r.se() // qs
    r.se() // chroma_qp_index_offset
    val deblock = r.u1() == 1
    r.u1() // constrained_intra_pred
    val redundant = r.u1()
    require(redundant == 0, "H264: redundant_pic_cnt unsupported")
    Pps(qp, deblock)
  }

  // ---- CAVLC tables ------------------------------------------------------
  // ITU-T H.264 Table 9-5 coeff_token VLC columns. Entries (len, bits,
  // TotalCoeff, TrailingOnes). Columns: 0 -> 0<=nC<2, 1 -> 2<=nC<4,
  // 2 -> 4<=nC<8 (nC>=8 uses the 6-bit FLC, handled in code).
  // The 0<=nC<2 column is wired in full; the 2<=nC<4 / 4<=nC<8 columns
  // are wired through TotalCoeff 13 / 12 (the deeper rows are the
  // transcriptions this build cannot pin structurally — streams needing
  // them reject loudly; see FIXTURES.md).
  // TableShapeSpec pins: no duplicate codes, prefix-free per column.

  private val CoeffTokenVlc: Array[Seq[(Int, Int, Int, Int)]] = Array(
    // column 0: 0 <= nC < 2
    Seq(
      (1, 1, 0, 0),
      (6, 5, 1, 0), (2, 1, 1, 1),
      (8, 7, 2, 0), (6, 4, 2, 1), (3, 1, 2, 2),
      (9, 7, 3, 0), (8, 6, 3, 1), (7, 5, 3, 2), (5, 3, 3, 3),
      (10, 7, 4, 0), (9, 6, 4, 1), (8, 5, 4, 2), (6, 3, 4, 3),
      (11, 7, 5, 0), (10, 6, 5, 1), (9, 5, 5, 2), (7, 4, 5, 3),
      (13, 15, 6, 0), (11, 6, 6, 1), (10, 5, 6, 2), (8, 4, 6, 3),
      (13, 11, 7, 0), (13, 14, 7, 1), (11, 5, 7, 2), (9, 4, 7, 3),
      (13, 8, 8, 0), (13, 10, 8, 1), (13, 13, 8, 2), (10, 4, 8, 3),
      (14, 15, 9, 0), (14, 14, 9, 1), (13, 9, 9, 2), (11, 4, 9, 3),
      (14, 11, 10, 0), (14, 10, 10, 1), (14, 13, 10, 2), (13, 12, 10, 3),
      (15, 15, 11, 0), (15, 14, 11, 1), (14, 9, 11, 2), (14, 12, 11, 3),
      (15, 11, 12, 0), (15, 10, 12, 1), (15, 13, 12, 2), (14, 8, 12, 3),
      (16, 15, 13, 0), (15, 1, 13, 1), (15, 9, 13, 2), (15, 12, 13, 3),
      (16, 11, 14, 0), (16, 14, 14, 1), (16, 13, 14, 2), (15, 8, 14, 3),
      (16, 7, 15, 0), (16, 10, 15, 1), (16, 9, 15, 2), (16, 12, 15, 3),
      (16, 4, 16, 0), (16, 6, 16, 1), (16, 5, 16, 2), (16, 8, 16, 3)),
    // column 1: 2 <= nC < 4 (TotalCoeff <= 13)
    Seq(
      (2, 3, 0, 0),
      (6, 11, 1, 0), (2, 2, 1, 1),
      (6, 7, 2, 0), (5, 7, 2, 1), (3, 3, 2, 2),
      (7, 7, 3, 0), (6, 10, 3, 1), (6, 9, 3, 2), (4, 5, 3, 3),
      (8, 7, 4, 0), (6, 6, 4, 1), (6, 5, 4, 2), (4, 4, 4, 3),
      (8, 4, 5, 0), (7, 6, 5, 1), (7, 5, 5, 2), (5, 6, 5, 3),
      (9, 7, 6, 0), (8, 6, 6, 1), (8, 5, 6, 2), (6, 8, 6, 3),
      (11, 15, 7, 0), (9, 6, 7, 1), (9, 5, 7, 2), (6, 4, 7, 3),
      (11, 11, 8, 0), (11, 14, 8, 1), (11, 13, 8, 2), (7, 4, 8, 3),
      (12, 15, 9, 0), (11, 10, 9, 1), (11, 9, 9, 2), (9, 4, 9, 3),
      (12, 11, 10, 0), (12, 14, 10, 1), (12, 13, 10, 2), (11, 12, 10, 3),
      (12, 8, 11, 0), (12, 10, 11, 1), (12, 9, 11, 2), (11, 8, 11, 3),
      (13, 15, 12, 0), (13, 14, 12, 1), (13, 13, 12, 2), (12, 12, 12, 3),
      (13, 11, 13, 0), (13, 10, 13, 1), (13, 9, 13, 2), (13, 12, 13, 3)),
    // column 2: 4 <= nC < 8 (TotalCoeff <= 12)
    Seq(
      (4, 15, 0, 0),
      (6, 15, 1, 0), (4, 14, 1, 1),
      (6, 11, 2, 0), (5, 15, 2, 1), (4, 13, 2, 2),
      (6, 8, 3, 0), (5, 12, 3, 1), (5, 14, 3, 2), (4, 12, 3, 3),
      (7, 15, 4, 0), (5, 10, 4, 1), (5, 11, 4, 2), (4, 11, 4, 3),
      (7, 11, 5, 0), (5, 8, 5, 1), (5, 9, 5, 2), (4, 10, 5, 3),
      (7, 9, 6, 0), (6, 14, 6, 1), (6, 13, 6, 2), (4, 9, 6, 3),
      (7, 8, 7, 0), (6, 10, 7, 1), (6, 9, 7, 2), (4, 8, 7, 3),
      (8, 15, 8, 0), (7, 14, 8, 1), (7, 13, 8, 2), (5, 13, 8, 3),
      (8, 11, 9, 0), (8, 14, 9, 1), (7, 10, 9, 2), (6, 12, 9, 3),
      (9, 15, 10, 0), (8, 10, 10, 1), (8, 13, 10, 2), (7, 12, 10, 3),
      (9, 11, 11, 0), (9, 14, 11, 1), (8, 9, 11, 2), (8, 12, 11, 3),
      (9, 8, 12, 0), (9, 10, 12, 1), (9, 9, 12, 2), (8, 8, 12, 3)))

  private val CoeffTokenDec: Array[Map[(Int, Int), (Int, Int)]] =
    CoeffTokenVlc.map(_.map { case (len, bits, tc, t1) => (len, bits) -> (tc, t1) }.toMap)
  private val CoeffTokenEnc: Array[Map[(Int, Int), (Int, Int)]] =
    CoeffTokenVlc.map(_.map { case (len, bits, tc, t1) => (tc, t1) -> (len, bits) }.toMap)

  /** Expose for TableShapeSpec (structural pins on the transcriptions). */
  private[multimodal] def coeffTokenTableForTest: Array[Seq[(Int, Int, Int, Int)]] =
    CoeffTokenVlc
  private[multimodal] def totalZerosTableForTest: Array[Seq[(Int, Int, Int)]] =
    TotalZeros4x4
  private[multimodal] def cbpIntraTableForTest: Array[Int] = CbpIntra

  // ITU-T H.264 Table 9-7 / 9-8: total_zeros VLCs for 4x4-shaped blocks,
  // one column per TotalCoeff 1..15. Entries (len, bits, totalZeros).
  // Every column is a COMPLETE prefix code (Kraft sum 1 — pinned by
  // TableShapeSpec), which catches transcription slips structurally.
  private val TotalZeros4x4: Array[Seq[(Int, Int, Int)]] = Array(
    Seq((1, 1, 0), (3, 3, 1), (3, 2, 2), (4, 3, 3), (4, 2, 4), (5, 3, 5), (5, 2, 6),
      (6, 3, 7), (6, 2, 8), (7, 3, 9), (7, 2, 10), (8, 3, 11), (8, 2, 12), (9, 3, 13),
      (9, 2, 14), (9, 1, 15)),
    Seq((3, 7, 0), (3, 6, 1), (3, 5, 2), (3, 4, 3), (3, 3, 4), (4, 5, 5), (4, 4, 6),
      (4, 3, 7), (4, 2, 8), (5, 3, 9), (5, 2, 10), (6, 3, 11), (6, 2, 12), (6, 1, 13),
      (6, 0, 14)),
    Seq((4, 5, 0), (3, 7, 1), (3, 6, 2), (3, 5, 3), (4, 4, 4), (4, 3, 5), (3, 4, 6),
      (3, 3, 7), (4, 2, 8), (5, 3, 9), (5, 2, 10), (6, 1, 11), (5, 1, 12), (6, 0, 13)),
    Seq((5, 3, 0), (3, 7, 1), (4, 5, 2), (4, 4, 3), (3, 6, 4), (3, 5, 5), (3, 4, 6),
      (4, 3, 7), (3, 3, 8), (4, 2, 9), (5, 2, 10), (5, 1, 11), (5, 0, 12)),
    Seq((4, 5, 0), (4, 4, 1), (4, 3, 2), (3, 7, 3), (3, 6, 4), (3, 5, 5), (3, 4, 6),
      (3, 3, 7), (4, 2, 8), (5, 1, 9), (4, 1, 10), (5, 0, 11)),
    Seq((6, 1, 0), (5, 1, 1), (3, 7, 2), (3, 6, 3), (3, 5, 4), (3, 4, 5), (3, 3, 6),
      (3, 2, 7), (4, 1, 8), (3, 1, 9), (6, 0, 10)),
    Seq((6, 1, 0), (5, 1, 1), (3, 5, 2), (3, 4, 3), (3, 3, 4), (2, 3, 5), (3, 2, 6),
      (4, 1, 7), (3, 1, 8), (6, 0, 9)),
    Seq((6, 1, 0), (4, 1, 1), (5, 1, 2), (3, 3, 3), (2, 3, 4), (2, 2, 5), (3, 2, 6),
      (3, 1, 7), (6, 0, 8)),
    Seq((6, 1, 0), (6, 0, 1), (4, 1, 2), (2, 3, 3), (2, 2, 4), (3, 1, 5), (2, 1, 6),
      (5, 1, 7)),
    Seq((5, 1, 0), (5, 0, 1), (3, 1, 2), (2, 3, 3), (2, 2, 4), (2, 1, 5), (4, 1, 6)),
    Seq((4, 0, 0), (4, 1, 1), (3, 1, 2), (3, 2, 3), (1, 1, 4), (3, 3, 5)),
    Seq((4, 0, 0), (4, 1, 1), (2, 1, 2), (1, 1, 3), (3, 1, 4)),
    Seq((3, 0, 0), (3, 1, 1), (1, 1, 2), (2, 1, 3)),
    Seq((2, 0, 0), (2, 1, 1), (1, 1, 2)),
    Seq((1, 0, 0), (1, 1, 1)))

  private val TotalZerosDec: Array[Map[(Int, Int), Int]] =
    TotalZeros4x4.map(_.map { case (len, bits, tz) => (len, bits) -> tz }.toMap)
  private val TotalZerosEnc: Array[Map[Int, (Int, Int)]] =
    TotalZeros4x4.map(_.map { case (len, bits, tz) => tz -> (len, bits) }.toMap)

  /** run_before decode (ITU-T H.264 Table 9-10). */
  private def readRunBefore(r: BitReader, zerosLeft: Int): Int = zerosLeft match {
    case 1 => 1 - r.u1()
    case 2 =>
      if (r.u1() == 1) 0 else if (r.u1() == 1) 1 else 2
    case 3 => 3 - r.u(2)
    case 4 =>
      val v = r.u(2)
      if (v > 0) 3 - v else 3 + (1 - r.u1())
    case 5 =>
      val v = r.u(2)
      if (v >= 2) 3 - v else { val b = r.u1(); if (v == 1) 3 - b else 5 - b }
    case 6 =>
      // the spec's one non-monotone column lives in readRunBefore6
      throw new IllegalStateException("zerosLeft==6 must dispatch to readRunBefore6")
    case _ =>
      val v = r.u(3)
      if (v > 0) 7 - v
      else { var run = 7; while (r.u1() == 0) { run += 1; require(run <= 14, "H264: run_before overrun") }; run }
  }

  /** run_before decode, zerosLeft == 6 — the spec's non-monotone column,
    * decoded by explicit prefix walk: 11->0, 000->1, 001->2, 011->3,
    * 010->4, 101->5, 100->6. */
  private def readRunBefore6(r: BitReader): Int = {
    val b0 = r.u1()
    if (b0 == 1) {
      val b1 = r.u1()
      if (b1 == 1) 0
      else { val b2 = r.u1(); if (b2 == 1) 5 else 6 } // 101, 100
    } else {
      val b1 = r.u1(); val b2 = r.u1()
      (b1, b2) match {
        case (0, 0) => 1 // 000
        case (0, 1) => 2 // 001
        case (1, 1) => 3 // 011
        case _      => 4 // 010
      }
    }
  }

  /** run_before encode (Table 9-10 mirror of the readers above). */
  private def writeRunBefore(b: BitWriter, run: Int, zerosLeft: Int): Unit = zerosLeft match {
    case 1 => b.u1(1 - run)
    case 2 => if (run == 0) b.u1(1) else b.u(2 - run, 2) // 1, 01, 00
    case 3 => b.u(3 - run, 2)
    case 4 => if (run <= 2) b.u(3 - run, 2) else b.u(4 - run, 3) // 001, 000
    case 5 =>
      if (run <= 1) b.u(3 - run, 2)
      else b.u(5 - run, 3) // 011, 010, 001, 000
    case 6 =>
      run match {
        case 0 => b.u(3, 2)
        case 1 => b.u(0, 3); case 2 => b.u(1, 3); case 3 => b.u(3, 3)
        case 4 => b.u(2, 3); case 5 => b.u(5, 3); case 6 => b.u(4, 3)
      }
    case _ =>
      if (run <= 6) b.u(7 - run, 3)
      else { require(run <= 14, "H264 encode: run_before > 14"); b.u(0, run - 4); b.u1(1) }
  }

  /** Parse one CAVLC residual block. Returns levels placed in scan order
    * (length maxNumCoeff). Codes outside the wired table subset reject
    * loudly (see the object doc for the wired surface). */
  private def residualBlockCavlc(r: BitReader, maxNumCoeff: Int, nC: Int): Array[Int] = {
    val coeffs = new Array[Int](maxNumCoeff)
    // --- coeff_token ---
    var totalCoeff = -1; var trailingOnes = -1
    if (nC >= 8) {
      val v = r.u(6)
      if (v == 3) { totalCoeff = 0; trailingOnes = 0 }
      else { totalCoeff = (v >> 2) + 1; trailingOnes = v & 3 }
      require(trailingOnes <= totalCoeff, s"H264: bad FLC coeff_token $v")
    } else if (nC >= 0) {
      val col = if (nC < 2) 0 else if (nC < 4) 1 else 2
      val table = CoeffTokenDec(col)
      var code = 0; var len = 0
      while (totalCoeff < 0) {
        code = (code << 1) | r.u1(); len += 1
        require(len <= 16, s"H264: coeff_token not in the wired table (nC=$nC)")
        table.get((len, code)).foreach { case (tc, t1) =>
          totalCoeff = tc; trailingOnes = t1
        }
      }
    } else {
      throw new IllegalArgumentException(
        s"H264: CAVLC table for nC=$nC not wired (chroma DC unsupported)")
    }
    if (totalCoeff == 0) return coeffs
    require(totalCoeff <= maxNumCoeff,
      s"H264: TotalCoeff=$totalCoeff exceeds block size $maxNumCoeff")
    // --- levels ---
    val levels = new Array[Int](totalCoeff)
    var suffixLength = if (totalCoeff > 10 && trailingOnes < 3) 1 else 0
    var i = 0
    while (i < totalCoeff) {
      if (i < trailingOnes) {
        levels(i) = if (r.u1() == 1) -1 else 1
      } else {
        var prefix = 0
        while (r.u1() == 0) { prefix += 1; require(prefix <= 32, "H264: level prefix overrun") }
        val suffixSize =
          if (prefix >= 15) prefix - 3
          else if (prefix == 14 && suffixLength == 0) 4
          else suffixLength
        var levelCode = (math.min(15, prefix) << suffixLength) +
          (if (suffixSize > 0) r.u(suffixSize) else 0)
        if (prefix >= 15 && suffixLength == 0) levelCode += 15
        if (prefix >= 16) levelCode += (1 << (prefix - 3)) - 4096
        if (i == trailingOnes && trailingOnes < 3) levelCode += 2
        levels(i) = if (levelCode % 2 == 0) (levelCode + 2) >> 1
                    else -((levelCode + 1) >> 1)
        if (suffixLength == 0) suffixLength = 1
        if (math.abs(levels(i)) > (3 << (suffixLength - 1)) && suffixLength < 6)
          suffixLength += 1
      }
      i += 1
    }
    // --- total_zeros ---
    var totalZeros = 0
    if (totalCoeff < maxNumCoeff) {
      val table = TotalZerosDec(totalCoeff - 1)
      var code = 0; var len = 0; var found = -1
      while (found < 0) {
        code = (code << 1) | r.u1(); len += 1
        require(len <= 9, "H264: total_zeros overrun")
        table.get((len, code)).foreach(found = _)
      }
      totalZeros = found
      require(totalCoeff + totalZeros <= maxNumCoeff,
        s"H264: total_zeros $totalZeros overruns the $maxNumCoeff-coeff block")
    }
    // --- run_before + placement (decode order = highest scan pos first) ---
    var zerosLeft = totalZeros
    var coeffNum = totalZeros + totalCoeff - 1
    i = 0
    while (i < totalCoeff) {
      var run = 0
      if (i < totalCoeff - 1 && zerosLeft > 0) {
        run = if (zerosLeft == 6) readRunBefore6(r) else readRunBefore(r, zerosLeft)
        require(run <= zerosLeft, "H264: run_before exceeds zeros left")
        zerosLeft -= run
      } else if (i == totalCoeff - 1) {
        run = zerosLeft; zerosLeft = 0
      }
      require(coeffNum >= 0 && coeffNum < maxNumCoeff, "H264: CAVLC placement overrun")
      coeffs(coeffNum) = levels(i)
      coeffNum -= 1 + (if (i < totalCoeff - 1) run else 0)
      i += 1
    }
    coeffs
  }

  /** Encode one CAVLC residual block from coefficients in scan order;
    * exact mirror of [[residualBlockCavlc]] (same tables, same suffix
    * evolution). Returns TotalCoeff for nnz-context tracking. */
  private def writeResidualBlock(b: BitWriter, scan: Array[Int], nC: Int): Int = {
    val n = scan.length
    val idxs = (n - 1 to 0 by -1).filter(scan(_) != 0) // decode order: highest first
    val totalCoeff = idxs.length
    require(totalCoeff <= 16, "H264 encode: too many coefficients")
    var trailingOnes = 0
    while (trailingOnes < math.min(3, totalCoeff) &&
      math.abs(scan(idxs(trailingOnes))) == 1) trailingOnes += 1
    // coeff_token
    if (nC >= 8) {
      if (totalCoeff == 0) b.u(3, 6)
      else b.u(((totalCoeff - 1) << 2) | trailingOnes, 6)
    } else {
      val col = if (nC < 2) 0 else if (nC < 4) 1 else 2
      val e = CoeffTokenEnc(col).getOrElse((totalCoeff, trailingOnes),
        throw new IllegalArgumentException(
          s"H264 encode: coeff_token (tc=$totalCoeff, t1=$trailingOnes) not wired for nC=$nC"))
      b.u(e._2, e._1)
    }
    if (totalCoeff == 0) return 0
    // trailing one signs
    var i = 0
    while (i < trailingOnes) { b.u1(if (scan(idxs(i)) < 0) 1 else 0); i += 1 }
    // levels
    var suffixLength = if (totalCoeff > 10 && trailingOnes < 3) 1 else 0
    i = trailingOnes
    while (i < totalCoeff) {
      val level = scan(idxs(i))
      var levelCode = if (level > 0) 2 * level - 2 else -2 * level - 1
      if (i == trailingOnes && trailingOnes < 3) {
        levelCode -= 2
        require(levelCode >= 0,
          "H264 encode: first non-trailing level must have |level| >= 2")
      }
      if (suffixLength == 0) {
        if (levelCode < 14) { b.u(0, levelCode); b.u1(1) }
        else if (levelCode < 30) { b.u(0, 14); b.u1(1); b.u(levelCode - 14, 4) }
        else {
          require(levelCode - 30 < 4096, s"H264 encode: level $level out of range")
          b.u(0, 15); b.u1(1); b.u(levelCode - 30, 12)
        }
      } else {
        if (levelCode < (15 << suffixLength)) {
          b.u(0, levelCode >> suffixLength); b.u1(1)
          b.u(levelCode & ((1 << suffixLength) - 1), suffixLength)
        } else {
          val esc = levelCode - (15 << suffixLength)
          require(esc < 4096, s"H264 encode: level $level out of escape range")
          b.u(0, 15); b.u1(1); b.u(esc, 12)
        }
      }
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(level) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    // total_zeros
    val totalZeros = idxs.head + 1 - totalCoeff
    if (totalCoeff < n) {
      val e = TotalZerosEnc(totalCoeff - 1).getOrElse(totalZeros,
        throw new IllegalArgumentException(
          s"H264 encode: total_zeros $totalZeros not in table for tc=$totalCoeff"))
      b.u(e._2, e._1)
    }
    // run_before per level in decode order (except the last)
    var zerosLeft = totalZeros
    i = 0
    while (i < totalCoeff - 1 && zerosLeft > 0) {
      val run = idxs(i) - idxs(i + 1) - 1
      writeRunBefore(b, run, zerosLeft)
      zerosLeft -= run
      i += 1
    }
    totalCoeff
  }

  /** Test hook: encode `scan` with the shared tables and decode it back —
    * the self-consistency fuzz surface for the deep VLC rows. */
  private[multimodal] def residualRoundtripForTest(scan: Array[Int], nC: Int): Array[Int] = {
    val bw = new BitWriter
    writeResidualBlock(bw, scan, nC)
    bw.rbspTrailing()
    residualBlockCavlc(new BitReader(bw.toBytes), scan.length, nC)
  }

  // ---- transforms --------------------------------------------------------

  /** 4x4 inverse Hadamard (luma DC), in place. */
  private def inverseHadamard4(m: Array[Int]): Unit = {
    var i = 0
    while (i < 4) { // rows
      val a = m(4 * i); val b = m(4 * i + 1); val c = m(4 * i + 2); val d = m(4 * i + 3)
      val e0 = a + c; val e1 = a - c; val e2 = b - d; val e3 = b + d
      m(4 * i) = e0 + e3; m(4 * i + 1) = e1 + e2
      m(4 * i + 2) = e1 - e2; m(4 * i + 3) = e0 - e3
      i += 1
    }
    i = 0
    while (i < 4) { // columns
      val a = m(i); val b = m(4 + i); val c = m(8 + i); val d = m(12 + i)
      val e0 = a + c; val e1 = a - c; val e2 = b - d; val e3 = b + d
      m(i) = e0 + e3; m(4 + i) = e1 + e2
      m(8 + i) = e1 - e2; m(12 + i) = e0 - e3
      i += 1
    }
  }

  /** Luma DC dequant (8.5.10): V(qP%6, 0, 0) ladder. */
  private val DcScale = Array(10, 11, 13, 14, 16, 18)
  private def dequantLumaDc(f: Int, qP: Int): Int = {
    val v = DcScale(qP % 6)
    if (qP / 6 >= 2) (f * v) << (qP / 6 - 2)
    else (f * v + (1 << (1 - qP / 6))) >> (2 - qP / 6)
  }

  // AC / I_NxN dequant (8.5.12.2 with the flat baseline scaling list):
  // d = c * normAdjust(qP%6, pos) << (qP/6). The spec's qP<24 rounding
  // branch is exact for flat lists (the 2^4 weightScale cancels the
  // shift), so one formula serves every QP.
  private val NormAdjustA = Array(10, 11, 13, 14, 16, 18) // (even, even)
  private val NormAdjustB = Array(16, 18, 20, 23, 25, 29) // (odd, odd)
  private val NormAdjustC = Array(13, 14, 16, 18, 20, 23) // mixed
  private def acDequant(c: Int, qP: Int, rasterPos: Int): Int = {
    val i = rasterPos >> 2; val j = rasterPos & 3
    val v =
      if ((i & 1) == 0 && (j & 1) == 0) NormAdjustA(qP % 6)
      else if ((i & 1) == 1 && (j & 1) == 1) NormAdjustB(qP % 6)
      else NormAdjustC(qP % 6)
    (c * v) << (qP / 6)
  }

  /** Inverse 4x4 transform of a DC-only block: every residual sample is
    * (dc + 32) >> 6 (the general butterfly collapses for AC=0). */
  private def dcOnlyResidual(dc: Int): Int = (dc + 32) >> 6

  /** Full 4x4 inverse integer transform (8.5.12.3), in place: d holds the
    * dequantized coefficients in raster order; on return it holds the 16
    * residual samples (final (x + 32) >> 6 included). */
  private def inverse4x4(d: Array[Int]): Unit = {
    var i = 0
    while (i < 4) { // rows
      val d0 = d(4 * i); val d1 = d(4 * i + 1); val d2 = d(4 * i + 2); val d3 = d(4 * i + 3)
      val e0 = d0 + d2; val e1 = d0 - d2
      val e2 = (d1 >> 1) - d3; val e3 = d1 + (d3 >> 1)
      d(4 * i) = e0 + e3; d(4 * i + 1) = e1 + e2
      d(4 * i + 2) = e1 - e2; d(4 * i + 3) = e0 - e3
      i += 1
    }
    i = 0
    while (i < 4) { // columns + final shift
      val d0 = d(i); val d1 = d(4 + i); val d2 = d(8 + i); val d3 = d(12 + i)
      val e0 = d0 + d2; val e1 = d0 - d2
      val e2 = (d1 >> 1) - d3; val e3 = d1 + (d3 >> 1)
      d(i) = (e0 + e3 + 32) >> 6; d(4 + i) = (e1 + e2 + 32) >> 6
      d(8 + i) = (e1 - e2 + 32) >> 6; d(12 + i) = (e0 - e3 + 32) >> 6
      i += 1
    }
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private val Zigzag4 = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  // ---- 4x4 block geometry ------------------------------------------------

  /** Z (8x8-sub-block) decode order of the 4x4 block at raster (bx, by). */
  private def zOrderIdx(bx: Int, by: Int): Int =
    ((by >> 1) * 2 + (bx >> 1)) * 4 + (by & 1) * 2 + (bx & 1)

  /** Raster (bx, by) of the 4x4 block with Z index z. */
  private def blkFromZ(z: Int): (Int, Int) = {
    val i8 = z >> 2; val i4 = z & 3
    ((i8 & 1) * 2 + (i4 & 1), (i8 >> 1) * 2 + ((i4 >> 1) & 1))
  }

  /** CAVLC nC for the 4x4 luma block (bx, by) of macroblock mb: mean of
    * the left/top neighbor blocks' total_coeff (9.2.1), crossing MB
    * boundaries; nnz is the per-frame per-4x4 count array (raster within
    * MB), holding AC counts for Intra_16x16 MBs and full counts
    * otherwise. */
  private def lumaNc(nnz: Array[Int], wMbs: Int, mb: Int, bx: Int, by: Int): Int = {
    val mbx = mb % wMbs; val mby = mb / wMbs
    val nA =
      if (bx > 0) nnz(mb * 16 + by * 4 + bx - 1)
      else if (mbx > 0) nnz((mb - 1) * 16 + by * 4 + 3)
      else -1
    val nB =
      if (by > 0) nnz(mb * 16 + (by - 1) * 4 + bx)
      else if (mby > 0) nnz((mb - wMbs) * 16 + 3 * 4 + bx)
      else -1
    if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
    else if (nA >= 0) nA else if (nB >= 0) nB else 0
  }

  /** Predicted Intra_4x4 mode for block (bx, by) of mb (8.3.1.1): the min
    * of the left/top neighbor block modes, each defaulting to 2 (DC) when
    * the neighbor is outside the frame or its MB is not I_NxN. i4mode is
    * per-4x4 (raster within MB), -1 where the MB is not I_NxN. */
  private def predIntra4x4Mode(i4mode: Array[Byte], wMbs: Int, hMbs: Int,
                               mb: Int, bx: Int, by: Int): Int = {
    val gx = (mb % wMbs) * 4 + bx; val gy = (mb / wMbs) * 4 + by
    def m(gx2: Int, gy2: Int): Int =
      if (gx2 < 0 || gy2 < 0 || gx2 >= wMbs * 4 || gy2 >= hMbs * 4) 2
      else {
        val v = i4mode(((gy2 >> 2) * wMbs + (gx2 >> 2)) * 16 + (gy2 & 3) * 4 + (gx2 & 3))
        if (v < 0) 2 else v
      }
    math.min(m(gx - 1, gy), m(gx, gy - 1))
  }

  /** Intra 4x4 spatial prediction (8.3.1.2.1-9, all nine modes) for the
    * block whose top-left pixel is (px, py); cur = (mb, z) locates the
    * block in decode order for sample availability. Returns 16 predicted
    * samples in raster order. */
  private def predict4x4(mode: Int, px: Int, py: Int, y: Array[Byte], w: Int,
                         wMbs: Int, hMbs: Int, curMb: Int, curZ: Int): Array[Int] = {
    def blkDecoded(gbx: Int, gby: Int): Boolean = {
      if (gbx < 0 || gby < 0 || gbx >= wMbs * 4 || gby >= hMbs * 4) false
      else {
        val m2 = (gby >> 2) * wMbs + (gbx >> 2)
        if (m2 != curMb) m2 < curMb
        else zOrderIdx(gbx & 3, gby & 3) < curZ
      }
    }
    val bx4 = px >> 2; val by4 = py >> 2
    val topAvail = blkDecoded(bx4, by4 - 1)
    val leftAvail = blkDecoded(bx4 - 1, by4)
    val cornerAvail = blkDecoded(bx4 - 1, by4 - 1)
    val trAvail = blkDecoded(bx4 + 1, by4 - 1)
    val t = new Array[Int](8) // p[0..7, -1]
    if (topAvail) {
      var i = 0
      while (i < 4) { t(i) = y((py - 1) * w + px + i) & 0xff; i += 1 }
      while (i < 8) {
        t(i) = if (trAvail) y((py - 1) * w + px + i) & 0xff else t(3)
        i += 1
      }
    }
    val l = new Array[Int](4) // p[-1, 0..3]
    if (leftAvail) {
      var i = 0
      while (i < 4) { l(i) = y((py + i) * w + px - 1) & 0xff; i += 1 }
    }
    val m = if (cornerAvail) y((py - 1) * w + px - 1) & 0xff else 0
    val p = new Array[Int](16)
    def set(x: Int, yy: Int, v: Int): Unit = p(yy * 4 + x) = v
    mode match {
      case 0 => // Vertical
        require(topAvail, "H264: vertical 4x4 pred without top samples")
        var i = 0
        while (i < 16) { p(i) = t(i & 3); i += 1 }
      case 1 => // Horizontal
        require(leftAvail, "H264: horizontal 4x4 pred without left samples")
        var i = 0
        while (i < 16) { p(i) = l(i >> 2); i += 1 }
      case 2 => // DC
        val dc =
          if (topAvail && leftAvail) (t(0) + t(1) + t(2) + t(3) + l(0) + l(1) + l(2) + l(3) + 4) >> 3
          else if (leftAvail) (l(0) + l(1) + l(2) + l(3) + 2) >> 2
          else if (topAvail) (t(0) + t(1) + t(2) + t(3) + 2) >> 2
          else 128
        java.util.Arrays.fill(p, dc)
      case 3 => // Diagonal-Down-Left
        require(topAvail, "H264: DDL pred without top samples")
        var yy = 0
        while (yy < 4) {
          var x = 0
          while (x < 4) {
            val v =
              if (x == 3 && yy == 3) (t(6) + 3 * t(7) + 2) >> 2
              else (t(x + yy) + 2 * t(x + yy + 1) + t(x + yy + 2) + 2) >> 2
            set(x, yy, v); x += 1
          }
          yy += 1
        }
      case 4 => // Diagonal-Down-Right
        require(topAvail && leftAvail && cornerAvail, "H264: DDR pred needs all edges")
        var yy = 0
        while (yy < 4) {
          var x = 0
          while (x < 4) {
            def tm(i: Int) = if (i < 0) m else t(i)
            def lm(i: Int) = if (i < 0) m else l(i)
            val v =
              if (x > yy) (tm(x - yy - 2) + 2 * tm(x - yy - 1) + t(x - yy) + 2) >> 2
              else if (x < yy) (lm(yy - x - 2) + 2 * lm(yy - x - 1) + l(yy - x) + 2) >> 2
              else (t(0) + 2 * m + l(0) + 2) >> 2
            set(x, yy, v); x += 1
          }
          yy += 1
        }
      case 5 => // Vertical-Right
        require(topAvail && leftAvail && cornerAvail, "H264: VR pred needs all edges")
        var yy = 0
        while (yy < 4) {
          var x = 0
          while (x < 4) {
            val z = 2 * x - yy
            val v =
              if (z >= 0 && z % 2 == 0) {
                val i = x - (yy >> 1)
                ((if (i == 0) m else t(i - 1)) + (if (i == 0) t(0) else t(i)) + 1) >> 1
              } else if (z >= 0) {
                val i = x - (yy >> 1)
                val a = if (i >= 2) t(i - 2) else m
                val b = if (i >= 1) t(i - 1) else m
                (a + 2 * b + t(i) + 2) >> 2
              } else if (z == -1) (l(0) + 2 * m + t(0) + 2) >> 2
              else (l(yy - 1) + 2 * l(yy - 2) + (if (yy == 2) m else l(yy - 3)) + 2) >> 2
            set(x, yy, v); x += 1
          }
          yy += 1
        }
      case 6 => // Horizontal-Down
        require(topAvail && leftAvail && cornerAvail, "H264: HD pred needs all edges")
        var yy = 0
        while (yy < 4) {
          var x = 0
          while (x < 4) {
            val z = 2 * yy - x
            val v =
              if (z >= 0 && z % 2 == 0) {
                val i = yy - (x >> 1)
                ((if (i == 0) m else l(i - 1)) + (if (i == 0) l(0) else l(i)) + 1) >> 1
              } else if (z >= 0) {
                val i = yy - (x >> 1)
                val a = if (i >= 2) l(i - 2) else m
                val b = if (i >= 1) l(i - 1) else m
                (a + 2 * b + l(i) + 2) >> 2
              } else if (z == -1) (t(0) + 2 * m + l(0) + 2) >> 2
              else (t(x - 1) + 2 * t(x - 2) + (if (x == 2) m else t(x - 3)) + 2) >> 2
            set(x, yy, v); x += 1
          }
          yy += 1
        }
      case 7 => // Vertical-Left
        require(topAvail, "H264: VL pred without top samples")
        var yy = 0
        while (yy < 4) {
          var x = 0
          while (x < 4) {
            val i = x + (yy >> 1)
            val v =
              if (yy % 2 == 0) (t(i) + t(i + 1) + 1) >> 1
              else (t(i) + 2 * t(i + 1) + t(i + 2) + 2) >> 2
            set(x, yy, v); x += 1
          }
          yy += 1
        }
      case 8 => // Horizontal-Up
        require(leftAvail, "H264: HU pred without left samples")
        var yy = 0
        while (yy < 4) {
          var x = 0
          while (x < 4) {
            val z = x + 2 * yy
            val v =
              if (z < 5 && z % 2 == 0) { val i = yy + (x >> 1); (l(i) + l(i + 1) + 1) >> 1 }
              else if (z < 5) { val i = yy + (x >> 1); (l(i) + 2 * l(i + 1) + l(i + 2) + 2) >> 2 }
              else if (z == 5) (l(2) + 3 * l(3) + 2) >> 2
              else l(3)
            set(x, yy, v); x += 1
          }
          yy += 1
        }
      case x => throw new IllegalArgumentException(s"H264: bad intra4x4 pred mode $x")
    }
    p
  }

  // ITU-T H.264 Table 9-4 (intra column): coded_block_pattern codeNum ->
  // cbp (luma low 4 bits, chroma high 2). A permutation of 0..47 —
  // pinned structurally by TableShapeSpec.
  private val CbpIntra: Array[Int] = Array(
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)
  private val CbpIntraInv: Array[Int] = {
    val inv = new Array[Int](48)
    for (i <- 0 until 48) inv(CbpIntra(i)) = i
    inv
  }

  // ---- decode ------------------------------------------------------------

  def decode(annexB: Array[Byte]): Decoded = {
    require(annexB.length >= 5, "not an H264 payload")
    // split on start codes (00 00 01 / 00 00 00 01)
    val nals = Vector.newBuilder[(Int, Int)] // (start, end) of NAL payload
    var i = 0
    var cur = -1
    while (i + 2 < annexB.length) {
      if (annexB(i) == 0 && annexB(i + 1) == 0 && annexB(i + 2) == 1) {
        val payloadStart = i + 3
        if (cur >= 0) nals += ((cur, if (i > 0 && annexB(i - 1) == 0) i - 1 else i))
        cur = payloadStart
        i = payloadStart
      } else i += 1
    }
    require(cur >= 0, "H264: no start code found")
    nals += ((cur, annexB.length))
    val nalRanges = nals.result()
    require(nalRanges.nonEmpty, "H264: empty stream")

    var sps: Sps = null
    var pps: Pps = null
    val frames = Vector.newBuilder[Frame]
    var nFrames = 0
    for ((s, e) <- nalRanges if e > s) {
      val header = annexB(s) & 0xff
      require((header & 0x80) == 0, "H264: forbidden_zero_bit set")
      val nalType = header & 0x1f
      val refIdc = (header >> 5) & 3
      lazy val rbsp = unescapeRbsp(annexB, s + 1, e)
      nalType match {
        case 7 => sps = parseSps(new BitReader(rbsp))
        case 8 => pps = parsePps(new BitReader(rbsp))
        case 6 | 9 | 10 | 11 | 12 => () // SEI / AUD / end markers: skip
        case 5 | 1 =>
          require(sps != null && pps != null, "H264: slice before SPS/PPS")
          frames += decodeSlice(new BitReader(rbsp), sps, pps,
            idr = nalType == 5, refIdc = refIdc)
          nFrames += 1
          require(nFrames <= 4096, "H264: frame-count bomb")
        case t =>
          throw new IllegalArgumentException(s"H264: unsupported NAL type $t")
      }
    }
    val fs = frames.result()
    require(fs.nonEmpty, "H264: no coded pictures")
    Decoded(fs.head.width, fs.head.height, fs)
  }

  private def decodeSlice(r: BitReader, sps: Sps, pps: Pps, idr: Boolean,
                          refIdc: Int): Frame = {
    val firstMb = r.ue()
    require(firstMb == 0, "H264: multi-slice pictures unsupported")
    val sliceType = r.ue()
    require(sliceType == 2 || sliceType == 7,
      s"H264: only I slices supported (slice_type $sliceType)")
    r.ue() // pps id
    r.u(sps.log2MaxFrameNum) // frame_num
    if (idr) {
      require(refIdc != 0, "H264: IDR slice with nal_ref_idc 0")
      r.ue() // idr_pic_id
    }
    sps.pocType match {
      case 0 => throw new IllegalArgumentException("H264: poc type 0 slice fields unsupported")
      case _ => ()
    }
    // dec_ref_pic_marking (7.3.3.3) — present whenever the slice is a
    // reference picture; skipping it for non-IDR reference I-slices would
    // desync the exp-Golomb reader at slice_qp_delta (round-8 ADVICE)
    if (idr) { r.u1(); r.u1() } // no_output_of_prior_pics, long_term_reference
    else if (refIdc != 0) {
      val adaptive = r.u1()
      require(adaptive == 0,
        "H264: adaptive_ref_pic_marking unsupported (sliding window only)")
    }
    val qp = pps.picInitQp + r.se()
    require(qp >= 0 && qp <= 51, s"H264: slice QP $qp out of range")
    // default deblocking (no control fields) would require the in-loop
    // filter; only streams that can and do signal disable are supported
    require(pps.deblockPresent, "H264: stream without deblock control fields unsupported")
    val deblockIdc = r.ue()
    require(deblockIdc == 1,
      "H264: in-loop deblocking unimplemented; stream must signal disable (idc=1)")

    val wMbs = sps.widthMbs; val hMbs = sps.heightMbs
    require(wMbs.toLong * hMbs <= (1L << 16), s"H264: geometry bomb ${wMbs}x$hMbs MBs")
    val w = wMbs * 16; val h = hMbs * 16
    val y = new Array[Byte](w * h)
    // per-4x4-block total_coeff for CAVLC nC context (16 per MB, raster)
    val nnz = new Array[Int](wMbs * hMbs * 16)
    // per-4x4-block Intra_4x4 mode; -1 where the MB is not I_NxN
    val i4mode = Array.fill[Byte](wMbs * hMbs * 16)(-1)
    var mb = 0
    var curQp = qp
    while (mb < wMbs * hMbs) {
      val mbx = mb % wMbs; val mby = mb / wMbs
      val mbType = r.ue()
      if (mbType == 25) { // I_PCM
        r.byteAlign()
        var py = 0
        while (py < 16) {
          var px = 0
          while (px < 16) {
            y((mby * 16 + py) * w + mbx * 16 + px) = r.byte().toByte
            px += 1
          }
          py += 1
        }
        var c = 0
        while (c < 128) { r.byte(); c += 1 } // Cb + Cr, 8x8 each
        var k = 0
        while (k < 16) { nnz(mb * 16 + k) = 16; k += 1 }
      } else if (mbType >= 1 && mbType <= 24) { // Intra_16x16
        val predMode = (mbType - 1) % 4
        val cbpChroma = ((mbType - 1) / 4) % 3
        val cbpLuma = if (mbType - 1 >= 12) 15 else 0
        require(cbpChroma == 0, "H264: chroma residuals unsupported")
        val chromaMode = r.ue()
        require(chromaMode <= 3, s"H264: bad intra_chroma_pred_mode $chromaMode")
        curQp += r.se()
        require(curQp >= 0 && curQp <= 51, s"H264: MB QP $curQp out of range")
        // --- luma DC CAVLC: nC from neighbor 4x4 blocks of blk (0,0) ---
        val dcScan = residualBlockCavlc(r, 16, lumaNc(nnz, wMbs, mb, 0, 0))
        // un-zigzag into the 4x4 DC matrix and inverse-transform
        val dc = new Array[Int](16)
        var k = 0
        while (k < 16) { dc(Zigzag4(k)) = dcScan(k); k += 1 }
        inverseHadamard4(dc)
        k = 0
        while (k < 16) { dc(k) = dequantLumaDc(dc(k), curQp); k += 1 }
        // --- AC residual blocks (CodedBlockPatternLuma 15), Z order ---
        val acScans: Array[Array[Int]] =
          if (cbpLuma == 0) null
          else {
            val out = new Array[Array[Int]](16)
            var z = 0
            while (z < 16) {
              val (bx, by) = blkFromZ(z)
              val sc = residualBlockCavlc(r, 15, lumaNc(nnz, wMbs, mb, bx, by))
              nnz(mb * 16 + by * 4 + bx) = sc.count(_ != 0)
              out(z) = sc
              z += 1
            }
            out
          }
        // --- prediction ---
        val top = new Array[Int](16); val left = new Array[Int](16)
        val hasTop = mby > 0; val hasLeft = mbx > 0
        if (hasTop) {
          var x = 0
          while (x < 16) { top(x) = y((mby * 16 - 1) * w + mbx * 16 + x) & 0xff; x += 1 }
        }
        if (hasLeft) {
          var yy = 0
          while (yy < 16) { left(yy) = y((mby * 16 + yy) * w + mbx * 16 - 1) & 0xff; yy += 1 }
        }
        // precompute the whole 16x16 prediction once per MB (a per-pixel
        // DC closure would redo the 32-sample edge sum 256 times)
        val predBuf = new Array[Int](256)
        predMode match {
          case 0 =>
            require(hasTop, "H264: vertical pred without top MB")
            var i = 0
            while (i < 256) { predBuf(i) = top(i & 15); i += 1 }
          case 1 =>
            require(hasLeft, "H264: horizontal pred without left MB")
            var i = 0
            while (i < 256) { predBuf(i) = left(i >> 4); i += 1 }
          case 2 =>
            val dcp =
              if (hasTop && hasLeft) (top.sum + left.sum + 16) >> 5
              else if (hasLeft) (left.sum + 8) >> 4
              else if (hasTop) (top.sum + 8) >> 4
              else 128
            java.util.Arrays.fill(predBuf, dcp)
          case _ =>
            require(hasTop && hasLeft, "H264: plane pred needs both edges")
            val tl = y((mby * 16 - 1) * w + mbx * 16 - 1) & 0xff
            var hh = 0; var vv = 0; var ii = 1
            while (ii <= 8) {
              hh += ii * (top(7 + ii) - (if (ii == 8) tl else top(7 - ii)))
              vv += ii * (left(7 + ii) - (if (ii == 8) tl else left(7 - ii)))
              ii += 1
            }
            val bP = (5 * hh + 32) >> 6; val cP = (5 * vv + 32) >> 6
            val aP = 16 * (left(15) + top(15))
            var i = 0
            while (i < 256) {
              predBuf(i) = clip255((aP + bP * ((i & 15) - 7) + cP * ((i >> 4) - 7) + 16) >> 5)
              i += 1
            }
        }
        // --- reconstruct each 4x4 block: Hadamard DC + optional AC ---
        var bj = 0
        while (bj < 4) {
          var bi = 0
          while (bi < 4) {
            val acScan = if (acScans == null) null else acScans(zOrderIdx(bi, bj))
            if (acScan == null || acScan.forall(_ == 0)) {
              val res = dcOnlyResidual(dc(bj * 4 + bi))
              var py = 0
              while (py < 4) {
                var px = 0
                while (px < 4) {
                  val lx = bi * 4 + px; val ly = bj * 4 + py
                  y((mby * 16 + ly) * w + mbx * 16 + lx) =
                    clip255(predBuf(ly * 16 + lx) + res).toByte
                  px += 1
                }
                py += 1
              }
            } else {
              val d = new Array[Int](16)
              d(0) = dc(bj * 4 + bi)
              var si = 0
              while (si < 15) {
                if (acScan(si) != 0) {
                  val pos = Zigzag4(si + 1)
                  d(pos) = acDequant(acScan(si), curQp, pos)
                }
                si += 1
              }
              inverse4x4(d)
              var py = 0
              while (py < 4) {
                var px = 0
                while (px < 4) {
                  val lx = bi * 4 + px; val ly = bj * 4 + py
                  y((mby * 16 + ly) * w + mbx * 16 + lx) =
                    clip255(predBuf(ly * 16 + lx) + d(py * 4 + px)).toByte
                  px += 1
                }
                py += 1
              }
            }
            bi += 1
          }
          bj += 1
        }
      } else if (mbType == 0) { // I_NxN (Intra_4x4)
        // 16 prediction modes, Z order (modes recorded as parsed so the
        // in-MB neighbors' predicted-mode chain sees them)
        val modes = new Array[Int](16)
        var z = 0
        while (z < 16) {
          val (bx, by) = blkFromZ(z)
          val pm = predIntra4x4Mode(i4mode, wMbs, hMbs, mb, bx, by)
          val useP = r.u1()
          val mo =
            if (useP == 1) pm
            else { val rem = r.u(3); if (rem < pm) rem else rem + 1 }
          modes(z) = mo
          i4mode(mb * 16 + by * 4 + bx) = mo.toByte
          z += 1
        }
        val chromaMode = r.ue()
        require(chromaMode <= 3, s"H264: bad intra_chroma_pred_mode $chromaMode")
        val cbpCode = r.ue()
        require(cbpCode < 48, s"H264: bad coded_block_pattern code $cbpCode")
        val cbp = CbpIntra(cbpCode)
        require((cbp >> 4) == 0, "H264: chroma residuals unsupported")
        val cbpLuma = cbp & 15
        if (cbp != 0) {
          curQp += r.se()
          require(curQp >= 0 && curQp <= 51, s"H264: MB QP $curQp out of range")
        }
        // parse residuals (Z order), then reconstruct (same order)
        val scans = new Array[Array[Int]](16)
        z = 0
        while (z < 16) {
          if ((cbpLuma & (1 << (z >> 2))) != 0) {
            val (bx, by) = blkFromZ(z)
            val sc = residualBlockCavlc(r, 16, lumaNc(nnz, wMbs, mb, bx, by))
            nnz(mb * 16 + by * 4 + bx) = sc.count(_ != 0)
            scans(z) = sc
          }
          z += 1
        }
        z = 0
        while (z < 16) {
          val (bx, by) = blkFromZ(z)
          val px = mbx * 16 + bx * 4; val py = mby * 16 + by * 4
          val pred = predict4x4(modes(z), px, py, y, w, wMbs, hMbs, mb, z)
          val sc = scans(z)
          if (sc == null || sc.forall(_ == 0)) {
            var j = 0
            while (j < 16) {
              y((py + (j >> 2)) * w + px + (j & 3)) = clip255(pred(j)).toByte
              j += 1
            }
          } else {
            val d = new Array[Int](16)
            var si = 0
            while (si < 16) {
              if (sc(si) != 0) {
                val pos = Zigzag4(si)
                d(pos) = acDequant(sc(si), curQp, pos)
              }
              si += 1
            }
            inverse4x4(d)
            var j = 0
            while (j < 16) {
              y((py + (j >> 2)) * w + px + (j & 3)) = clip255(pred(j) + d(j)).toByte
              j += 1
            }
          }
          z += 1
        }
      } else {
        throw new IllegalArgumentException(s"H264: bad I-slice mb_type $mbType")
      }
      mb += 1
    }
    val outW = w - sps.cropRight; val outH = h - sps.cropBottom
    require(outW > 0 && outH > 0, "H264: cropping eats the whole frame")
    val out =
      if (outW == w && outH == h) y
      else {
        val o = new Array[Byte](outW * outH)
        var yy = 0
        while (yy < outH) { System.arraycopy(y, yy * w, o, yy * outW, outW); yy += 1 }
        o
      }
    Frame(outW, outH, out)
  }

  // ---- encode ------------------------------------------------------------

  private val EncQp = 36 // dcY = 160*level, 4x4 DC r = 10*level: see header

  /** Legacy surface: macroblock-constant gray frames, MB (0,0) I_PCM and
    * every other MB Intra_16x16 CBP 0 ([[MbSpec.Const]]). Values must be
    * multiples of 10 in [0,250] (the I_PCM MB too — its edge feeds
    * neighbors' DC prediction). */
  def encode(width: Int, height: Int, mbValues: Seq[Array[Int]]): Array[Byte] = {
    mbValues.foreach(_.zipWithIndex.foreach { case (v, k) =>
      require(v >= 0 && v <= 250 && v % 10 == 0,
        s"H264 encode: MB $k value $v not a multiple of 10 in [0,250]")
    })
    encodeFrames(width, height, mbValues.map(_.zipWithIndex.map {
      case (v, k) => if (k == 0) MbSpec.Pcm(v): MbSpec else MbSpec.Const(v): MbSpec
    }.toArray))
  }

  /** Encode one Annex-B elementary stream of single-slice I pictures from
    * per-macroblock specs. With `allIdr` false, frames after the first
    * are non-IDR reference I slices (NAL type 1, nal_ref_idc 2) carrying
    * the sliding-window dec_ref_pic_marking bit — the open-GOP keyframe
    * shape real encoders emit. Every spec reconstructs exactly; see the
    * object doc for each shape's contract. */
  def encodeFrames(width: Int, height: Int, frames: Seq[Array[MbSpec]],
                   allIdr: Boolean = true): Array[Byte] = {
    require(width > 0 && height > 0 && width % 16 == 0 && height % 16 == 0,
      "H264 encode: dims must be multiples of 16")
    val wMbs = width / 16; val hMbs = height / 16
    require(frames.nonEmpty, "H264 encode: need at least one frame")
    frames.foreach { f =>
      require(f.length == wMbs * hMbs, "H264 encode: one spec per MB")
      f.zipWithIndex.foreach {
        case (MbSpec.Pcm(v), k) =>
          require(v >= 0 && v <= 255, s"H264 encode: MB $k PCM value $v out of byte range")
        case (MbSpec.Const(v), k) =>
          require(v >= 0 && v <= 250 && v % 10 == 0,
            s"H264 encode: MB $k value $v not a multiple of 10 in [0,250]")
        case (MbSpec.DcAc(v, ac), k) =>
          require(v >= 30 && v <= 210 && v % 10 == 0,
            s"H264 encode: MB $k AC value $v not a multiple of 10 in [30,210]")
          require(ac == 1 || ac == 2, s"H264 encode: MB $k AC level $ac not in {1,2}")
        case (MbSpec.I4x4(v), k) =>
          require(v >= 0 && v <= 250 && v % 10 == 0,
            s"H264 encode: MB $k I4x4 value $v not a multiple of 10 in [0,250]")
      }
    }
    val out = new ByteArrayOutputStream()
    def writeNal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Unit = {
      out.write(Array[Byte](0, 0, 0, 1))
      out.write((refIdc << 5) | nalType)
      out.write(escapeRbsp(rbsp))
    }
    // --- SPS ---
    val sps = new BitWriter
    sps.u(66, 8) // baseline
    sps.u(0xc0, 8) // constraint_set0+1
    sps.u(30, 8) // level 3.0
    sps.ue(0) // sps id
    sps.ue(0) // log2_max_frame_num_minus4
    sps.ue(2) // poc type 2
    sps.ue(1) // max_num_ref_frames
    sps.u1(0) // gaps
    sps.ue(wMbs - 1); sps.ue(hMbs - 1)
    sps.u1(1) // frame_mbs_only
    sps.u1(1) // direct_8x8_inference
    sps.u1(0) // no cropping
    sps.u1(0) // no VUI
    sps.rbspTrailing()
    writeNal(3, 7, sps.toBytes)
    // --- PPS ---
    val pps = new BitWriter
    pps.ue(0); pps.ue(0) // pps id, sps id
    pps.u1(0) // CAVLC
    pps.u1(0) // bottom_field_pic_order
    pps.ue(0) // one slice group
    pps.ue(0); pps.ue(0) // ref idx defaults
    pps.u1(0); pps.u(0, 2) // weighted pred
    pps.se(EncQp - 26) // pic_init_qp
    pps.se(0) // qs
    pps.se(0) // chroma_qp_offset
    pps.u1(1) // deblocking_filter_control_present
    pps.u1(0) // constrained_intra_pred
    pps.u1(0) // redundant_pic_cnt
    pps.rbspTrailing()
    writeNal(3, 8, pps.toBytes)
    // --- one I slice per frame ---
    for ((mbs, fi) <- frames.zipWithIndex) {
      val idr = allIdr || fi == 0
      writeNal(if (idr) 3 else 2, if (idr) 5 else 1,
        encodeSlice(wMbs, hMbs, mbs, fi, idr))
    }
    out.toByteArray
  }

  /** The three interior AC carriers of a [[MbSpec.DcAc]] macroblock, as
    * (bx, by, acScan) with acScan in the 15-coefficient AC scan order:
    * blocks (1,1)/(2,2) carry one coefficient `acLevel` at zigzag 1
    * (raster (0,1)), block (2,1) carries two +1 coefficients at zigzag
    * 1 and 2 (TotalCoeff 2, TrailingOnes 2). All stay off the MB's
    * right column and bottom row so neighbor prediction still sees a
    * constant edge. */
  private def dcAcPattern(acLevel: Int): Map[(Int, Int), Array[Int]] = Map(
    (1, 1) -> { val a = new Array[Int](15); a(0) = acLevel; a },
    (2, 1) -> { val a = new Array[Int](15); a(0) = 1; a(1) = 1; a },
    (2, 2) -> { val a = new Array[Int](15); a(0) = acLevel; a })

  private def encodeSlice(wMbs: Int, hMbs: Int, mbs: Array[MbSpec],
                          frameIdx: Int, idr: Boolean): Array[Byte] = {
    val b = new BitWriter
    b.ue(0) // first_mb_in_slice
    b.ue(7) // slice_type I (all)
    b.ue(0) // pps id
    b.u(if (idr) 0 else frameIdx & 15, 4) // frame_num (log2 4)
    if (idr) {
      b.ue(frameIdx & 0xffff) // idr_pic_id
      b.u1(0); b.u1(0) // no_output_of_prior_pics, long_term_reference
    } else {
      b.u1(0) // adaptive_ref_pic_marking_mode_flag: sliding window
    }
    b.se(0) // slice_qp_delta -> QP 36
    b.ue(1) // disable_deblocking_filter_idc = 1
    // recon tracks the constant each MB presents on its edges (exact by
    // design for every MbSpec shape)
    val recon = new Array[Int](mbs.length)
    val nnz = new Array[Int](mbs.length * 16) // per-4x4 CAVLC context
    val i4mode = Array.fill[Byte](mbs.length * 16)(-1)
    var mb = 0
    while (mb < mbs.length) {
      val mbx = mb % wMbs; val mby = mb / wMbs
      val hasLeft = mbx > 0; val hasTop = mby > 0
      val l = if (hasLeft) recon(mb - 1) else -1
      val t = if (hasTop) recon(mb - wMbs) else -1
      def predDc16(c: Int): Int = {
        val p =
          if (hasLeft && hasTop) (l + t + 1) >> 1
          else if (hasLeft) l
          else if (hasTop) t
          else 128
        p
      }
      def dcLevelFor(c: Int): Int = {
        val resid = c - predDc16(c)
        require(resid % 5 == 0, s"H264 encode: residual $resid not a multiple of 5 at MB $mb")
        2 * resid / 5 // dcY = 160*level; r = (160*level+32)>>6 = 5k
      }
      def writeDc(level: Int): Unit = {
        val scan = new Array[Int](16); scan(0) = level
        writeResidualBlock(b, scan, lumaNc(nnz, wMbs, mb, 0, 0))
        // Intra_16x16 nnz context carries AC counts only: DC levels do
        // not contribute (9.2.1) — nothing to record here
      }
      mbs(mb) match {
        case MbSpec.Pcm(v) =>
          b.ue(25) // I_PCM
          b.byteAlignZero()
          var i = 0
          while (i < 256) { b.byte(v); i += 1 }
          i = 0
          while (i < 128) { b.byte(128); i += 1 }
          recon(mb) = v
          var k = 0
          while (k < 16) { nnz(mb * 16 + k) = 16; k += 1 }
        case MbSpec.Const(c) =>
          // pick the prediction mode that is residual-free when a neighbor
          // already carries the target constant — Plane and V/H are EXACT
          // for any value there (no multiple-of-10 ladder needed), and the
          // oracle then certifies all four decoder prediction paths, not
          // just DC. Plane needs the top-left diagonal to match too (its
          // gradient terms read that corner pixel).
          val dgl = if (hasLeft && hasTop) recon(mb - wMbs - 1) else -1
          val predMode =
            if (hasLeft && hasTop && l == c && t == c && dgl == c) 3 // Plane
            else if (hasLeft && l == c) 1 // Horizontal
            else if (hasTop && t == c) 0 // Vertical
            else 2 // DC, with one quantized level
          b.ue(1 + predMode) // I_16x16_<mode>_0_0: CBP 0
          b.ue(0) // intra_chroma_pred_mode DC
          b.se(0) // mb_qp_delta
          writeDc(if (predMode != 2) 0 else dcLevelFor(c))
          recon(mb) = c
        case MbSpec.DcAc(c, acLevel) =>
          b.ue(15) // I_16x16_2_0_1: DC pred, chroma CBP 0, luma CBP 15
          b.ue(0) // intra_chroma_pred_mode DC
          b.se(0) // mb_qp_delta
          writeDc(dcLevelFor(c))
          val pattern = dcAcPattern(acLevel)
          var z = 0
          while (z < 16) {
            val (bx, by) = blkFromZ(z)
            val scan = pattern.getOrElse((bx, by), new Array[Int](15))
            val tc = writeResidualBlock(b, scan, lumaNc(nnz, wMbs, mb, bx, by))
            nnz(mb * 16 + by * 4 + bx) = tc
            z += 1
          }
          recon(mb) = c
        case MbSpec.I4x4(c) =>
          require(hasLeft || hasTop,
            s"H264 encode: I4x4 MB $mb needs a neighbor to bridge from")
          b.ue(0) // I_NxN
          // block (0,0) bridges from the neighbor constant (V from top or
          // H from left — exact for any constant edge); the first row /
          // column continue H / V off in-MB constants; interior blocks
          // cycle through ALL NINE modes (a constant neighborhood makes
          // every mode predict the constant exactly)
          val modes = new Array[Int](16)
          var z = 0
          while (z < 16) {
            val (bx, by) = blkFromZ(z)
            val desired =
              if (bx == 0 && by == 0) { if (hasTop) 0 else 1 }
              else if (by == 0) 1 // H off the in-MB left block
              else if (bx == 0) 0 // V off the in-MB top block
              else (by - 1) * 3 + (bx - 1) // interior: modes 0..8 cycled
            val pm = predIntra4x4Mode(i4mode, wMbs, hMbs, mb, bx, by)
            if (desired == pm) b.u1(1)
            else { b.u1(0); b.u(if (desired < pm) desired else desired - 1, 3) }
            modes(z) = desired
            i4mode(mb * 16 + by * 4 + bx) = desired.toByte
            z += 1
          }
          b.ue(0) // intra_chroma_pred_mode DC
          // block (0,0) residual: bridge from the neighbor constant via
          // the 4x4 DC ladder (at QP 36, r = 10*level exactly)
          val pred00 = if (modes(0) == 0) t else l
          val resid = c - pred00
          require(resid % 10 == 0,
            s"H264 encode: I4x4 residual $resid not a multiple of 10 at MB $mb")
          val level0 = resid / 10
          val cbp = if (level0 == 0) 0 else 1 // luma 8x8 group 0 only
          b.ue(CbpIntraInv(cbp))
          if (cbp != 0) {
            b.se(0) // mb_qp_delta
            z = 0
            while (z < 4) { // 8x8 group 0: blocks Z 0..3
              val (bx, by) = blkFromZ(z)
              val scan = new Array[Int](16)
              if (z == 0) scan(0) = level0
              val tc = writeResidualBlock(b, scan, lumaNc(nnz, wMbs, mb, bx, by))
              nnz(mb * 16 + by * 4 + bx) = tc
              z += 1
            }
          }
          recon(mb) = c
      }
      mb += 1
    }
    b.rbspTrailing()
    b.toBytes
  }
}
