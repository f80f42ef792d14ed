package graft.multimodal

import java.nio.ByteBuffer

/** Pure-JVM SEG-Y rev 1 reader/writer, written from scratch against the
  * public SEG-Y standard (SEG Technical Standards Committee, rev 1, 2002):
  * 3200-byte EBCDIC textual header (40 card images x 80 columns), 400-byte
  * big-endian binary file header, then fixed-length traces of a 240-byte
  * big-endian header + samples. Supported sample encodings: format 1
  * (4-byte IBM hexadecimal floating point — sign bit, 7-bit excess-64
  * base-16 exponent, 24-bit fraction) and format 5 (IEEE float32); all
  * other codes reject loud. SEG-Y is the acquisition-interchange format
  * the reference's ecosystem ingests into MDIO stores
  * (mdio/regression_tests/multidimio_compatibility_test.py:53 reads the
  * Teapot Dome `filt_mig.sgy`), so a from-scratch codec closes the
  * field-tape → store ingest edge of the pipeline.
  *
  * Malformed-input posture matches the other media decoders
  * ([[Images]], [[WavCodec]]): every structural violation (short file,
  * unsupported format code, trace region not a whole number of traces,
  * per-trace sample count disagreeing with the file header) surfaces as
  * IllegalArgumentException, never as a silent partial parse.
  */
object SegyCodec {

  /** One seismic trace: rev-1 header fields this codec round-trips
    * (bytes 181-196 of the trace header: CDP X/Y, inline, crossline)
    * plus the sample vector. */
  final case class Trace(inline: Int, crossline: Int, cdpX: Int, cdpY: Int,
                         samples: Array[Double])

  final case class Segy(textual: String, dtMicros: Int, formatCode: Int,
                        traces: Vector[Trace])

  // ---- EBCDIC (code page 037, printable subset) ----------------------------
  // Public cp037 assignments: letters in the three classic banks, digits at
  // 0xF0, space 0x40, and the punctuation a textual header actually uses.
  private val asciiToEbcdic: Array[Byte] = {
    val t = Array.fill[Byte](128)(0x40) // unknown -> EBCDIC space
    def put(c: Char, e: Int): Unit = t(c.toInt) = e.toByte
    for (i <- 0 until 9) { put(('A' + i).toChar, 0xC1 + i); put(('a' + i).toChar, 0x81 + i) }
    for (i <- 0 until 9) { put(('J' + i).toChar, 0xD1 + i); put(('j' + i).toChar, 0x91 + i) }
    for (i <- 0 until 8) { put(('S' + i).toChar, 0xE2 + i); put(('s' + i).toChar, 0xA2 + i) }
    for (i <- 0 until 10) put(('0' + i).toChar, 0xF0 + i)
    Seq(' ' -> 0x40, '.' -> 0x4B, '<' -> 0x4C, '(' -> 0x4D, '+' -> 0x4E,
      '&' -> 0x50, '!' -> 0x5A, '$' -> 0x5B, '*' -> 0x5C, ')' -> 0x5D,
      '-' -> 0x60, '/' -> 0x61, ',' -> 0x6B, '%' -> 0x6C, '_' -> 0x6D,
      '>' -> 0x6E, '?' -> 0x6F, ':' -> 0x7A, '#' -> 0x7B, '@' -> 0x7C,
      '\'' -> 0x7D, '=' -> 0x7E, '"' -> 0x7F).foreach { case (c, e) => put(c, e) }
    t
  }
  private val ebcdicToAscii: Array[Char] = {
    val t = Array.fill[Char](256)(' ')
    asciiToEbcdic.zipWithIndex.foreach { case (e, a) =>
      if (e != 0x40 || a == ' '.toInt) t(e & 0xff) = a.toChar
    }
    t
  }

  // ---- IBM hexadecimal float -----------------------------------------------

  /** Decode a big-endian IBM single: (-1)^s · (f / 2^24) · 16^(e-64).
    * Exact double arithmetic — scalb by the base-16 exponent. */
  def ibmDecode(bits: Int): Double = {
    if ((bits & 0x7fffffff) == 0) return 0.0
    val sign = if ((bits & 0x80000000) != 0) -1.0 else 1.0
    val e = (bits >>> 24) & 0x7f
    val f = bits & 0xffffff
    sign * math.scalb(f.toDouble, 4 * (e - 64) - 24)
  }

  /** Encode to IBM single, round-to-nearest on the 24-bit fraction.
    * Values with a short binary mantissa (e.g. any integer below 2^21)
    * round-trip exactly. Magnitudes outside IBM's exponent range reject
    * loud rather than wrapping. */
  def ibmEncode(v: Double): Int = {
    require(!v.isNaN && !v.isInfinite, "segy: cannot IBM-encode NaN/Inf")
    if (v == 0.0) return 0
    val sign = if (v < 0) 0x80000000 else 0
    val m = math.abs(v)
    // smallest e with m < 16^e, i.e. fraction m/16^e lands in [1/16, 1)
    var e = (math.getExponent(m) >> 2) + 1
    while (m >= math.scalb(1.0, 4 * e)) e += 1
    while (m < math.scalb(1.0, 4 * (e - 1))) e -= 1
    var f = math.rint(math.scalb(m, 24 - 4 * e)).toLong
    if (f == (1L << 24)) { e += 1; f = math.rint(math.scalb(m, 24 - 4 * e)).toLong }
    require(e + 64 >= 0 && e + 64 <= 127, s"segy: $v outside IBM float range")
    sign | ((e + 64) << 24) | f.toInt
  }

  // ---- file writer ---------------------------------------------------------

  /** Serialize one SEG-Y file. `textual` is split on newlines into up to
    * 40 card images, each padded to the 80-column card; `formatCode` is
    * 1 (IBM float) or 5 (IEEE float32). All traces must share one sample
    * count (the rev-1 fixed-length-trace flag is asserted). */
  def write(textual: String, dtMicros: Int, formatCode: Int,
            traces: Seq[Trace]): Array[Byte] = {
    require(formatCode == 1 || formatCode == 5,
      s"segy: unsupported sample format code $formatCode (need 1=IBM or 5=IEEE)")
    require(traces.nonEmpty, "segy: no traces")
    val n = traces.head.samples.length
    require(n > 0 && n <= 0x7fff, s"segy: samples per trace $n out of range")
    require(traces.forall(_.samples.length == n),
      "segy: fixed-length traces required (rev-1 flag is set)")
    require(dtMicros > 0 && dtMicros <= 0x7fff, s"segy: dt $dtMicros out of range")
    val buf = ByteBuffer.allocate(3600 + traces.size * (240 + 4 * n)) // big-endian default
    // 3200-byte EBCDIC textual header: 40 cards x 80 columns
    val cards = textual.split("\n", -1).take(40).padTo(40, "")
    cards.foreach { line =>
      val padded = line.take(80).padTo(80, ' ')
      padded.foreach(c => buf.put(if (c < 128) asciiToEbcdic(c.toInt) else 0x40.toByte))
    }
    // 400-byte binary file header (offsets are 0-based within the header)
    val bh = new Array[Byte](400)
    val bhb = ByteBuffer.wrap(bh)
    bhb.putShort(16, dtMicros.toShort)     // bytes 3217-3218: sample interval
    bhb.putShort(20, n.toShort)            // bytes 3221-3222: samples per trace
    bhb.putShort(24, formatCode.toShort)   // bytes 3225-3226: sample format
    bhb.putShort(300, 0x0100.toShort)      // bytes 3501-3502: rev 1.0
    bhb.putShort(302, 1.toShort)           // bytes 3503-3504: fixed-length flag
    buf.put(bh)
    traces.zipWithIndex.foreach { case (t, i) =>
      val th = new Array[Byte](240)
      val thb = ByteBuffer.wrap(th)
      thb.putInt(0, i + 1)                 // bytes 1-4: trace sequence in line
      thb.putShort(28, 1.toShort)          // bytes 29-30: trace id = live seismic
      thb.putShort(114, n.toShort)         // bytes 115-116: samples this trace
      thb.putShort(116, dtMicros.toShort)  // bytes 117-118: dt this trace
      thb.putInt(180, t.cdpX)              // bytes 181-184: CDP X (rev 1)
      thb.putInt(184, t.cdpY)              // bytes 185-188: CDP Y (rev 1)
      thb.putInt(188, t.inline)            // bytes 189-192: inline (rev 1)
      thb.putInt(192, t.crossline)         // bytes 193-196: crossline (rev 1)
      buf.put(th)
      t.samples.foreach { v =>
        buf.putInt(if (formatCode == 1) ibmEncode(v)
                   else java.lang.Float.floatToIntBits(v.toFloat))
      }
    }
    buf.array()
  }

  // ---- file reader ---------------------------------------------------------

  def read(bytes: Array[Byte]): Segy = {
    require(bytes.length >= 3600, s"segy: ${bytes.length} bytes is shorter than the 3600-byte headers")
    val sb = new StringBuilder(40 * 81)
    var i = 0
    while (i < 40) {
      var j = 0
      while (j < 80) { sb.append(ebcdicToAscii(bytes(i * 80 + j) & 0xff)); j += 1 }
      // cards are fixed-width; strip the pad so the textual round-trips
      // (stops at the previous card's '\n', so only this card is trimmed)
      while (sb.nonEmpty && sb.last == ' ') sb.setLength(sb.length - 1)
      sb.append('\n')
      i += 1
    }
    val textual = sb.toString.stripLineEnd
    val buf = ByteBuffer.wrap(bytes)
    val dt = buf.getShort(3200 + 16) & 0xffff
    val n = buf.getShort(3200 + 20) & 0xffff
    val fmt = buf.getShort(3200 + 24).toInt
    require(fmt == 1 || fmt == 5,
      s"segy: unsupported sample format code $fmt (need 1=IBM or 5=IEEE)")
    require(n > 0, "segy: file header declares zero samples per trace")
    val traceBytes = 240 + 4 * n
    val body = bytes.length - 3600
    require(body % traceBytes == 0,
      s"segy: trace region $body bytes is not a whole number of $traceBytes-byte traces")
    val traces = (0 until body / traceBytes).map { k =>
      val off = 3600 + k * traceBytes
      val ns = buf.getShort(off + 114) & 0xffff
      require(ns == n, s"segy: trace $k declares $ns samples, file header says $n")
      val samples = new Array[Double](n)
      var j = 0
      while (j < n) {
        val w = buf.getInt(off + 240 + 4 * j)
        samples(j) = if (fmt == 1) ibmDecode(w)
                     else java.lang.Float.intBitsToFloat(w).toDouble
        j += 1
      }
      Trace(inline = buf.getInt(off + 188), crossline = buf.getInt(off + 192),
        cdpX = buf.getInt(off + 180), cdpY = buf.getInt(off + 184), samples = samples)
    }.toVector
    Segy(textual, dt, fmt, traces)
  }
}
