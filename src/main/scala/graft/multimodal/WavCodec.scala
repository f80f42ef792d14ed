package graft.multimodal

/** A REAL audio codec with zero dependencies: RIFF/WAVE with 16-bit
  * signed little-endian PCM (the uncompressed format every audio tool
  * emits). Pure byte arithmetic — no audio library: `audio/wav` payloads
  * decode through a genuine parser in [[Multimodal.extractFeatures]].
  */
object WavCodec {

  private def le4(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le2(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def rdLe4(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def rdLe2(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Encode mono 16-bit PCM samples at `sampleRate` Hz as a canonical
    * 44-byte-header WAV file. */
  def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    require(sampleRate > 0, s"sampleRate > 0, got $sampleRate")
    val dataLen = samples.length * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    out.write("RIFF".getBytes); out.write(le4(36 + dataLen))
    out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); out.write(le4(16))
    out.write(le2(1))               // PCM
    out.write(le2(1))               // mono
    out.write(le4(sampleRate))
    out.write(le4(sampleRate * 2))  // byte rate
    out.write(le2(2))               // block align
    out.write(le2(16))              // bits per sample
    out.write("data".getBytes); out.write(le4(dataLen))
    samples.foreach(s => out.write(le2(s & 0xffff)))
    out.toByteArray
  }

  /** Decoded audio summary: sample count, rate, duration, and the mean
    * ABSOLUTE amplitude normalized to [0,1] (the loudness proxy an audio
    * quality gate uses). */
  final case class Decoded(nSamples: Int, sampleRate: Int,
                           durationSec: Double, meanAbsAmplitude: Double)

  /** Decode a mono 16-bit PCM WAV (the [[encode]] subset). Walks RIFF
    * chunks to find `fmt `/`data`, so files with extra chunks (LIST,
    * fact) also parse. Throws on compressed or non-16-bit audio. */
  def decode(bytes: Array[Byte]): Decoded = {
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4) == "RIFF" && new String(bytes, 8, 4) == "WAVE",
      "not a WAV payload")
    var off = 12
    var sampleRate = -1; var bits = -1; var fmt = -1; var channels = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= bytes.length && (dataOff < 0 || sampleRate < 0)) {
      val id = new String(bytes, off, 4)
      val len = rdLe4(bytes, off + 4)
      // a corrupt/adversarial length (negative, or cancelling the +8
      // advance) must fail loudly here — never stall the walker
      require(len >= 0 && off + 8 + len <= bytes.length,
        s"WAV: chunk '$id' length $len overruns payload")
      id match {
        case "fmt " =>
          require(len >= 16, s"WAV: fmt chunk too short ($len bytes)")
          fmt = rdLe2(bytes, off + 8)
          channels = rdLe2(bytes, off + 10)
          sampleRate = rdLe4(bytes, off + 12)
          bits = rdLe2(bytes, off + 22)
        case "data" =>
          dataOff = off + 8; dataLen = len
        case _ => ()
      }
      off += 8 + len + (len & 1) // RIFF chunks are 2-byte aligned
    }
    require(sampleRate > 0 && dataOff >= 0, "missing fmt/data chunk")
    require(fmt == 1 && bits == 16 && channels == 1,
      s"only mono 16-bit PCM supported (fmt=$fmt bits=$bits channels=$channels)")
    require(dataOff + dataLen <= bytes.length, "truncated WAV data")
    val n = dataLen / 2
    var sum = 0L
    var i = 0
    while (i < n) {
      val s = (rdLe2(bytes, dataOff + 2 * i) << 16) >> 16 // sign-extend
      sum += math.abs(s)
      i += 1
    }
    val mean = if (n == 0) 0.0 else sum.toDouble / n / 32768.0
    Decoded(n, sampleRate, n.toDouble / sampleRate, mean)
  }
}
