package graft.multimodal

import java.awt.image.{BufferedImage, DataBuffer, DataBufferByte, IndexColorModel, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.spi.{ImageReaderSpi, ImageWriterSpi}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.collection.mutable

/** The one still-image path: every `image/bmp`, `image/png`, `image/gif`
  * and `image/jpeg` decode, and every still-image fixture encode, goes
  * through the JDK's own `javax.imageio` plugins. This is the only file in
  * the engine that imports `javax.imageio`.
  *
  * Decode keeps the engine's loud-failure contract: malformed input
  * throws `IllegalArgumentException` (the JDK's exception as its cause),
  * never a silent answer. ImageIO alone is not loud enough, so:
  *  - a reader warning is a failure: a JPEG cut to 2/3 of its bytes, or a
  *    GIF with a corrupt LZW run, otherwise decodes to a full raster;
  *  - the geometry is capped from the header before any raster exists;
  *  - a JPEG's markers are walked first ([[checkJpeg]]): ImageIO
  *    reconstructs a progressive stream that lacks its last scans with no
  *    warning;
  *  - a BMP's pixel-data offset must lie inside the payload (a negative
  *    one makes the JDK reader size an array from it);
  *  - GIF indices are read raw into an 8-bit raster and checked against
  *    the colour table (ImageIO masks an out-of-table index into range);
  *    an interlaced frame is deinterlaced here, and each GIF gets a fresh
  *    reader (see [[Decoder.decode]] and [[Decoder]]'s `read`).
  *
  * Luma rules, each the format's own: BMP (b+g+r)/3; PNG the gray value
  * or (r+g+b)/3 (8-bit gray or truecolor, no alpha, no palette); GIF
  * (299r+587g+114b)/1000 over frame 0; JPEG the Y plane from `readRaster`,
  * with no colour conversion. */
object Images {

  /** The still-image formats, by MIME type (the `format` column). */
  val Formats: Set[String] = Set("image/bmp", "image/png", "image/gif", "image/jpeg")

  // the JDK's providers, looked up once: each registry lookup is reflective
  // and takes a JVM-wide lock, which serialized the per-image encodes of
  // concurrent tasks
  private lazy val readerSpis: Map[String, ImageReaderSpi] =
    Formats.map(f => f -> ImageIO.getImageReadersByMIMEType(f).next().getOriginatingProvider).toMap
  private lazy val writerSpis: Map[String, ImageWriterSpi] =
    Formats.map(f => f -> ImageIO.getImageWritersByMIMEType(f).next().getOriginatingProvider).toMap

  /** A decoded image's luma plane: pixel i's luma is the mean of the
    * `take` byte samples from `samples(i * stride)` on. */
  final case class Luma(width: Int, height: Int, samples: Array[Byte], stride: Int, take: Int) {
    private def sum(i: Int): Int = {
      var s = 0
      var b = 0
      while (b < take) { s += samples(i * stride + b) & 0xff; b += 1 }
      s
    }

    /** Mean luma in [0,1]. */
    def meanLuma: Double = {
      var s = 0L
      var i = 0
      while (i < width * height) { s += sum(i); i += 1 }
      s.toDouble / take / (width.toLong * height) / 255.0
    }

    /** Per-pixel luma bytes, top-down row-major. */
    def gray: Array[Byte] = {
      val out = new Array[Byte](width * height)
      var i = 0
      while (i < out.length) { out(i) = (sum(i) / take).toByte; i += 1 }
      out
    }
  }

  /** A partition's decoder context: one reader per format (a fresh one per
    * GIF), built on first use and disposed when the task completes. */
  def decoder(): Decoder = {
    val d = new Decoder
    Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => d.close()))
    d
  }

  final class Decoder extends AutoCloseable {
    private val readers = mutable.HashMap.empty[String, ImageReader]
    private val warnings = mutable.ArrayBuffer.empty[String]

    def decode(format: String, bytes: Array[Byte]): Luma = format match {
      case "image/jpeg" =>
        checkJpeg(bytes)
        read(format, bytes) { (r, w, h) =>
          val ycc = jdk(format)(r.readRaster(0, null))
          Luma(w, h, samples(ycc), ycc.getNumBands, 1)
        }
      case "image/gif" =>
        // ImageIO's GIF reader misplaces the rows of an interlaced frame 2-4
        // rows high (it enters the empty row-4 pass instead of skipping it),
        // so frame 0 is read in file row order and deinterlaced here
        val pk = gifFrame0Flags(bytes)
        val interlaced = pk >= 0 && (bytes(pk) & 0x40) != 0
        val input = if (!interlaced) bytes else {
          val b = bytes.clone()
          b(pk) = (b(pk) & ~0x40).toByte
          b
        }
        read(format, input) { (r, w, h) =>
          val palette = jdk(format)(r.getImageTypes(0).next().getColorModel).asInstanceOf[IndexColorModel]
          val raw = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
          val p = r.getDefaultReadParam
          p.setDestination(raw)
          jdk(format)(r.read(0, p))
          val px = raw.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
          val n = palette.getMapSize
          val rgb = new Array[Int](n)
          palette.getRGBs(rgb)
          var i = 0
          while (i < px.length) {
            val k = px(i) & 0xff
            require(k < n, s"GIF: pixel index $k outside $n-color table")
            val c = rgb(k)
            px(i) = ((299 * ((c >> 16) & 0xff) + 587 * ((c >> 8) & 0xff) + 114 * (c & 0xff)) / 1000).toByte
            i += 1
          }
          if (!interlaced) Luma(w, h, px, 1, 1) else {
            val rows = (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
            val out = new Array[Byte](w * h)
            for ((y, k) <- rows.zipWithIndex) System.arraycopy(px, k * w, out, y * w, w)
            Luma(w, h, out, 1, 1)
          }
        }
      case "image/bmp" | "image/png" =>
        if (format == "image/bmp") {
          require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP payload")
          val offset = (bytes(10) & 0xff) | (bytes(11) & 0xff) << 8 | (bytes(12) & 0xff) << 16 | bytes(13) << 24
          require(offset >= 54 && offset <= bytes.length, s"BMP pixel-data offset $offset out of range")
        }
        read(format, bytes) { (r, w, h) =>
          val cm = Option(jdk(format)(r.getRawImageType(0))).map(_.getColorModel).orNull
          require(cm != null && !cm.isInstanceOf[IndexColorModel] && !cm.hasAlpha &&
            (cm.getNumComponents == 1 || cm.getNumComponents == 3) &&
            cm.getTransferType == DataBuffer.TYPE_BYTE && cm.getComponentSize.forall(_ == 8),
            s"$format: only 8-bit gray or truecolor without alpha is supported (got $cm)")
          val raster = jdk(format)(r.read(0)).getRaster
          Luma(w, h, samples(raster), raster.getNumBands, cm.getNumComponents)
        }
      case _ => throw new IllegalArgumentException(s"not a still-image format: $format")
    }

    /** Runs `pixels` with the reader on `bytes` once the header's geometry
      * passes [[requireGeometry]]; any reader warning fails the decode. */
    private def read(format: String, bytes: Array[Byte])(pixels: (ImageReader, Int, Int) => Luma): Luma = {
      def open(): ImageReader = {
        val r = readerSpis(format).createReaderInstance()
        r.addIIOReadWarningListener((_, w) => warnings += w)
        r
      }
      // a GIF reader keeps its LZW block buffer across inputs: a valid
      // stream without an EOI code then reads the previous stream's bytes
      // and warns, so every GIF gets a fresh reader
      val fresh = format == "image/gif"
      val reader = if (fresh) open() else readers.getOrElseUpdate(format, open())
      warnings.clear()
      val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
      try {
        reader.setInput(in, true, true)
        val (w, h) = jdk(format)((reader.getWidth(0), reader.getHeight(0)))
        requireGeometry(format, w, h, bytes.length)
        val out = pixels(reader, w, h)
        require(warnings.isEmpty, s"$format: ${warnings.mkString("; ")}")
        out
      } finally {
        if (fresh) reader.dispose() else reader.setInput(null)
        in.close()
      }
    }

    def close(): Unit = {
      readers.valuesIterator.foreach(_.dispose())
      readers.clear()
    }
  }

  /** Raster `r`'s byte samples, pixel-interleaved in band order. */
  private def samples(r: Raster): Array[Byte] =
    r.getDataElements(r.getMinX, r.getMinY, r.getWidth, r.getHeight, null).asInstanceOf[Array[Byte]]

  /** Maps what the JDK readers throw on malformed input — `IIOException`,
    * `EOFException`, `IllegalArgumentException` ("Empty region!") and the
    * documented `IndexOutOfBoundsException` for a stream with no image —
    * to `IllegalArgumentException`, keeping the cause. */
  private def jdk[T](format: String)(body: => T): T =
    try body catch {
      case e @ (_: IOException | _: IllegalArgumentException) =>
        throw new IllegalArgumentException(s"$format: ${e.getMessage}", e)
      case e: IndexOutOfBoundsException if e.getClass == classOf[IndexOutOfBoundsException] =>
        throw new IllegalArgumentException(s"$format: ${e.getMessage}", e)
    }

  /** The per-format geometry cap, checked from the header before any
    * raster is allocated. A 24-bpp BMP must carry 3 bytes per pixel. */
  private def requireGeometry(format: String, w: Int, h: Int, payload: Int): Unit = {
    val n = w.toLong * h
    require(w > 0 && h > 0 && (format match {
      case "image/bmp" => w <= (1 << 20) && h <= (1 << 20) && 3 * n <= payload
      case "image/png" => n <= Int.MaxValue / 4
      case "image/gif" => n <= (1L << 26)
      case _ => n <= Int.MaxValue / 8
    }), s"$format: unsupported geometry ${w}x$h")
  }

  /** Offset of frame 0's image-descriptor flags byte (bit 0x40 =
    * interlaced), or -1 when the block walk does not reach one: past the
    * header and global colour table, over extension sub-blocks. */
  private def gifFrame0Flags(b: Array[Byte]): Int = {
    var ip = if (b.length > 10 && (b(10) & 0x80) != 0) 13 + (3 << ((b(10) & 7) + 1)) else 13
    while (ip + 1 < b.length && b(ip) == 0x21) {
      ip += 2
      while (ip < b.length && b(ip) != 0) ip += (b(ip) & 0xff) + 1
      ip += 1
    }
    if (ip + 9 < b.length && b(ip) == 0x2c) ip + 9 else -1
  }

  /** The one piece of JPEG parsing kept: a walk over the marker segments
    * (entropy-coded bytes, stuffed 0xFF00 and RSTn are stepped over). It
    * caps the SOF0/1/2 geometry, allows 1 or 3 components, and for a
    * progressive (SOF2) stream records each scan's band Ss..Se and
    * approximation bit Al per component: the progression is complete only
    * when every coefficient of every component reached Al = 0 (T.81
    * G.1.1.1.1-2). */
  private def checkJpeg(b: Array[Byte]): Unit = {
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    require(b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8, "not a JPEG payload")
    var ids: Array[Int] = null
    var cover: Array[Array[Int]] = null // lowest Al delivered; 99 = never scanned
    var ip = 2
    var done = false
    while (!done && ip + 1 < b.length) {
      val m = u8(ip + 1)
      if (u8(ip) != 0xff || m == 0x00 || m == 0xff || m == 0x01 || (m >= 0xd0 && m <= 0xd7))
        ip += (if (u8(ip) != 0xff || m == 0xff) 1 else 2)
      else if (m == 0xd9) done = true
      else {
        require(ip + 4 <= b.length && ip + 2 + u16(ip + 2) <= b.length, "JPEG: segment overruns payload")
        val len = u16(ip + 2)
        if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
          require(len >= 8 && len >= 8 + 3 * u8(ip + 9), "JPEG: malformed SOF")
          requireGeometry("image/jpeg", u16(ip + 7), u16(ip + 5), b.length)
          val nf = u8(ip + 9)
          require(nf == 1 || nf == 3, s"JPEG: $nf components not supported")
          ids = Array.tabulate(nf)(k => u8(ip + 10 + 3 * k))
          if (m == 0xc2) cover = Array.fill(nf, 64)(99)
        } else if (m == 0xda) {
          require(ids != null, "JPEG: SOS before SOF")
          if (cover == null) done = true // sequential: nothing left to audit
          else {
            require(len >= 6 && len >= 6 + 2 * u8(ip + 4), "JPEG: malformed SOS")
            val ns = u8(ip + 4)
            val p = ip + 5 + 2 * ns
            for (k <- 0 until ns) {
              val c = ids.indexOf(u8(ip + 5 + 2 * k))
              require(c >= 0, s"JPEG: scan references unknown component ${u8(ip + 5 + 2 * k)}")
              for (q <- u8(p) to math.min(u8(p + 1), 63))
                cover(c)(q) = math.min(cover(c)(q), u8(p + 2) & 0x0f)
            }
          }
        }
        ip += 2 + len
      }
    }
    if (cover != null)
      for (c <- cover.indices; k <- 0 until 64)
        require(cover(c)(k) == 0, {
          val what = if (cover(c)(k) == 99) "never scanned" else s"refined only to Al=${cover(c)(k)}"
          s"JPEG: incomplete progression — component $c coefficient $k $what"
        })
  }

  // ---- fixture encodes ------------------------------------------------------

  /** The GIF fixtures' palette: index i is rgb(i, i, i). */
  private val GrayRamp: IndexColorModel = {
    val ramp = Array.tabulate(256)(_.toByte)
    new IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** JFIF integer luma: Y = (77R + 150G + 29B + 128) >> 8, the Y that
    * [[encodeJpegColor]] writes and the oracle recomputes in SQL. */
  def lumaOf(r: Int, g: Int, b: Int): Int = (77 * r + 150 * g + 29 * b + 128) >> 8

  /** Encodes a row-major top-down 8-bit gray image: BMP as 24-bpp b=g=r,
    * PNG as 8-bit gray, GIF89a over the 256-entry gray ramp (non-interlaced),
    * JPEG baseline or `progressive` at quality 1.0, whose all-ones
    * quantization tables carry block-constant 8×8 content exactly. */
  def encode(format: String, width: Int, height: Int, gray: Array[Byte],
             progressive: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && gray.length == width * height,
      s"need $width*$height=${width.toLong * height} pixels, got ${gray.length}")
    val img = format match {
      case "image/bmp" => new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
      case "image/gif" => new BufferedImage(width, height, BufferedImage.TYPE_BYTE_INDEXED, GrayRamp)
      case _ => new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
    }
    // every band of every pixel = its gray byte (a palette index for GIF)
    val data = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    if (data.length == gray.length) System.arraycopy(gray, 0, data, 0, gray.length)
    else {
      var i = 0
      while (i < gray.length) {
        data(3 * i) = gray(i); data(3 * i + 1) = gray(i); data(3 * i + 2) = gray(i)
        i += 1
      }
    }
    write(format, new IIOImage(img, null, null), progressive)
  }

  /** Encodes a row-major top-down interleaved RGB image as baseline 4:2:0
    * JPEG at quality 1.0. The YCbCr planes are written as a raster, so the
    * stored Y is exactly [[lumaOf]] (ImageIO's own conversion rounds pure
    * red to 76, not 77); the metadata is the JFIF default for RGB, whose
    * luma sampling is 2×2. */
  def encodeJpegColor(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && rgb.length == 3 * width * height,
      s"need 3*$width*$height bytes, got ${rgb.length}")
    val ycc = Raster.createInterleavedRaster(DataBuffer.TYPE_BYTE, width, height, 3, null)
    val data = ycc.getDataBuffer.asInstanceOf[DataBufferByte].getData
    def clamp(v: Int): Byte = math.max(0, math.min(255, v)).toByte
    var i = 0
    while (i < rgb.length) {
      val (r, g, b) = (rgb(i) & 0xff, rgb(i + 1) & 0xff, rgb(i + 2) & 0xff)
      data(i) = lumaOf(r, g, b).toByte
      data(i + 1) = clamp(((-43 * r - 85 * g + 128 * b + 128) >> 8) + 128)
      data(i + 2) = clamp(((128 * r - 107 * g - 21 * b + 128) >> 8) + 128)
      i += 3
    }
    write("image/jpeg", new IIOImage(ycc, null, null), progressive = false,
      metadataFor = Some(ImageTypeSpecifier.createFromBufferedImageType(BufferedImage.TYPE_3BYTE_BGR)))
  }

  private def write(format: String, img: IIOImage, progressive: Boolean,
                    metadataFor: Option[ImageTypeSpecifier] = None): Array[Byte] = {
    val writer = writerSpis(format).createWriterInstance()
    val p = writer.getDefaultWriteParam
    if (p.canWriteProgressive)
      p.setProgressiveMode(if (progressive) ImageWriteParam.MODE_DEFAULT else ImageWriteParam.MODE_DISABLED)
    if (format == "image/jpeg") {
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
    }
    metadataFor.foreach(t => img.setMetadata(writer.getDefaultImageMetadata(t, p)))
    val bos = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.write(null, img, p)
    } finally {
      out.close()
      writer.dispose()
    }
    bos.toByteArray
  }
}
