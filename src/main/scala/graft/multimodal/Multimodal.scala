package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` columns travelling next to a typed metadata
  * struct. The Spark-side contract — schema, partition sizing, batched
  * per-partition decode loop, feature schema — is real and tested, and
  * the decode stage runs REAL decoders: still images (`image/bmp`,
  * `image/png`, `image/gif`, `image/jpeg`) through the JDK's
  * `javax.imageio` behind [[Images]], which keeps the loud-failure
  * contract (malformed input throws `IllegalArgumentException`, never a
  * silent answer); `audio/wav` through [[WavCodec]] (RIFF/PCM);
  * `video/h264` intra pictures through [[H264Codec]]; `video/mp4`
  * containers through [[Mp4Codec]] (ISO-BMFF box walk + full sample-table
  * reconstruction), whose Motion-JPEG keyframes decode through [[Images]]
  * again. Any other format falls back to [[StubDecoder.decode]], a
  * clearly-marked deterministic fake; a real decoder for it changes ONE
  * match arm, none of the plumbing.
  */
object Multimodal {

  /** Spread the corpus across the session's shuffle parallelism before
    * the per-row encode kernels: the bench corpus is a single parquet
    * split, so without this every attach/decode pipeline runs on one
    * core (r19 profile: multimodal_mjpeg spent 5.3 s of 5.75 s in a
    * 1-task stage). Deterministic hash partitioning on doc_id; no-op
    * cost at real scale where the shuffled bytes (id + text) are tiny
    * next to the encode/decode work they parallelize. */
  private def wide(docs: DataFrame): DataFrame =
    graft.functions.Spread.byKey(docs, col("doc_id"))

  /** Typed media row: id + opaque payload + declared metadata. */
  case class MediaRow(doc_id: Long, payload: Array[Byte],
                      format: String, width: Int, height: Int)

  /** Extracted features (what a decode/resize/feature stage emits), with
    * modality-NEUTRAL names: `intensity` is the mean normalized signal in
    * [0,1] (image: luma; audio: absolute amplitude); `dim1`/`dim2` are the
    * modality's integer dimensions (image: thumbnail w/h; audio: sample
    * count / sample rate); `content_hash` fingerprints the raw payload. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, content_hash: Long,
                           intensity: Double, dim1: Int, dim2: Int)

  /** Attach a deterministic fake payload + metadata to the documents table
    * (the corpus ships no binary media; payload = UTF-8 bytes of the text,
    * metadata derived from doc_id). Schema matches what a real ingest
    * (e.g. image tarballs → binary column) would produce. */
  def attachPayload(docs: DataFrame): DataFrame =
    wide(docs).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("fake/rgb8").as("format"),
      (pmod(col("doc_id"), lit(64)) + 16).cast("int").as("width"),
      (pmod(col("doc_id"), lit(48)) + 16).cast("int").as("height"))

  /** MIXED-FORMAT corpus: each doc lands in one of the five real-codec
    * single-format corpora by doc_id % 5 (BMP / PNG / GIF / JPEG / WAV) —
    * the corpus that certifies [[extractFeatures]]'s per-row FORMAT
    * ROUTING itself, which the single-format twins never exercise. Every
    * branch reuses its twin's generator verbatim, so every branch keeps
    * its twin's closed-form oracle. */
  def attachMixedPayload(docs: DataFrame): DataFrame = {
    def branch(i: Int) = docs.filter(pmod(col("doc_id"), lit(5)) === i)
    attachBmpPayload(branch(0))
      .unionByName(attachPngPayload(branch(1)))
      .unionByName(attachGifPayload(branch(2)))
      .unionByName(attachJpegPayload(branch(3)))
      .unionByName(attachWavPayload(branch(4)))
  }

  /** doc_id, the text's UTF-8 bytes (empty for NULL) and the fixture
    * geometry of every document. */
  private def sized(docs: DataFrame, width: Column, height: Column): Dataset[(Long, Array[Byte], Int, Int)] = {
    import docs.sparkSession.implicits._
    wide(docs).select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary"),
        width.cast("int"), height.cast("int"))
      .as[(Long, Array[Byte], Int, Int)]
  }

  /** Pixel i = text byte i mod len (all black for empty text): the image
    * of the BMP, PNG and GIF fixtures. */
  private def cycleGray(t: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val gray = new Array[Byte](w * h)
    if (t.nonEmpty) {
      var i = 0
      while (i < gray.length) { gray(i) = t(i % t.length); i += 1 }
    }
    gray
  }

  /** Block-constant pixels: 8×8 block k = text byte (shift + k) mod len
    * (all black for empty text): the image of the JPEG fixtures and, with
    * a per-frame shift, of the MJPEG frames. */
  private def blockGray(t: Array[Byte], w: Int, h: Int, shift: Int): Array[Byte] = {
    val gray = new Array[Byte](w * h)
    if (t.nonEmpty) {
      val bw = w / 8
      var i = 0
      while (i < gray.length) {
        gray(i) = t((shift + (i / w / 8) * bw + (i % w) / 8) % t.length)
        i += 1
      }
    }
    gray
  }

  /** `format` payloads of [[cycleGray]] images, w = doc_id % 64 + 16 and
    * h = doc_id % 48 + 16, encoded by [[Images.encode]]. */
  private def attachCycleGray(docs: DataFrame, format: String): DataFrame = {
    import docs.sparkSession.implicits._
    sized(docs, pmod(col("doc_id"), lit(64)) + 16, pmod(col("doc_id"), lit(48)) + 16)
      .map { case (id, t, w, h) => MediaRow(id, Images.encode(format, w, h, cycleGray(t, w, h)), format, w, h) }
      .toDF()
  }

  /** Attach a REAL encoded image payload: a deterministic grayscale image
    * synthesized from the document's UTF-8 bytes ([[cycleGray]]), written
    * as a 24-bpp BMP (b=g=r). Unlike [[attachPayload]]'s opaque fake,
    * these payloads decode through a real parser end to end. */
  def attachBmpPayload(docs: DataFrame): DataFrame = attachCycleGray(docs, "image/bmp")

  /** The BMP fixture's pixels as a zlib-compressed, row-filtered 8-bit
    * gray PNG. */
  def attachPngPayload(docs: DataFrame): DataFrame = attachCycleGray(docs, "image/png")

  /** The BMP fixture's pixels as single-frame LZW GIF89a over a 256-entry
    * gray palette. */
  def attachGifPayload(docs: DataFrame): DataFrame = attachCycleGray(docs, "image/gif")

  /** [[blockGray]] images (shift 0; w = (doc_id % 8)·8 + 16, h =
    * (doc_id % 6)·8 + 16) as gray JPEG at quality 1.0: block-constant
    * content is DC-only and survives the lossy format EXACTLY under the
    * all-ones quantization tables, so decoded pixel sums stay
    * SQL-certifiable. */
  private def attachBlockGray(docs: DataFrame, progressive: Boolean): DataFrame = {
    import docs.sparkSession.implicits._
    sized(docs, pmod(col("doc_id"), lit(8)) * 8 + 16, pmod(col("doc_id"), lit(6)) * 8 + 16)
      .map { case (id, t, w, h) =>
        MediaRow(id, Images.encode("image/jpeg", w, h, blockGray(t, w, h, 0), progressive),
          "image/jpeg", w, h)
      }
      .toDF()
  }

  /** Baseline (SOF0) JPEG fixture: see [[attachBlockGray]]. */
  def attachJpegPayload(docs: DataFrame): DataFrame = attachBlockGray(docs, progressive = false)

  /** Progressive (SOF2) twin of [[attachJpegPayload]]: the SAME images in
    * the JDK writer's successive-approximation scan script. The decoded
    * pixels are identical to the baseline twin's, so the SAME oracle
    * arithmetic certifies the progressive decode. */
  def attachJpegProgressivePayload(docs: DataFrame): DataFrame = attachBlockGray(docs, progressive = true)

  /** Color twin of [[attachJpegPayload]]: a deterministic
    * MACROBLOCK-CONSTANT RGB image (every 16×16 macroblock k carries three
    * consecutive UTF-8 bytes of the text: R = byte 3k, G = byte 3k+1,
    * B = byte 3k+2, each mod len; dims are multiples of 16) written as
    * baseline 4:2:0 YCbCr JPEG by [[Images.encodeJpegColor]]. Constant
    * macroblocks give constant Y/Cb/Cr blocks that survive the lossy
    * format exactly, and the fixed-point luma ([[Images.lumaOf]]) is
    * reproducible in SQL — so the oracle certifies the decoded mean luma
    * of a COLOR image through the interleaved-scan decode. */
  def attachJpegColorPayload(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    sized(docs, pmod(col("doc_id"), lit(4)) * 16 + 16, pmod(col("doc_id"), lit(3)) * 16 + 16)
      .map { case (id, t, w, h) =>
        val rgb = new Array[Byte](3 * w * h)
        if (t.nonEmpty) {
          val mbw = w / 16
          var i = 0
          while (i < w * h) {
            val mb = (i / w / 16) * mbw + (i % w) / 16
            rgb(3 * i) = t((3 * mb) % t.length)
            rgb(3 * i + 1) = t((3 * mb + 1) % t.length)
            rgb(3 * i + 2) = t((3 * mb + 2) % t.length)
            i += 1
          }
        }
        MediaRow(id, Images.encodeJpegColor(w, h, rgb), "image/jpeg", w, h)
      }
      .toDF()
  }

  /** Attach a REAL encoded audio payload: a deterministic mono 16-bit
    * PCM signal synthesized from the document's UTF-8 bytes (sample i =
    * (byte[i mod len] − 128) · 256, a full-scale square-ish wave), as a
    * canonical WAV file. The audio analog of [[attachBmpPayload]]. */
  def attachWavPayload(docs: DataFrame, sampleRate: Int = 8000,
                       nSamples: Int = 2048): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wide(docs).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val t = Option(text).getOrElse("").getBytes("UTF-8")
        val samples = new Array[Short](nSamples)
        if (t.nonEmpty) {
          var i = 0
          while (i < nSamples) {
            samples(i) = (((t(i % t.length) & 0xff) - 128) * 256).toShort
            i += 1
          }
        }
        MediaRow(id, WavCodec.encode(samples, sampleRate), "audio/wav", 0, 0)
      }
      .toDF()
  }

  /** Attach a REAL MP4 container payload: a deterministic one-track video
    * muxed by [[Mp4Codec]] — sample count `((doc_id%5)+2)·4`, sample i's
    * size `(byte[i mod len] & 63) + 8`, sample bytes `byte[(i·7+j) mod
    * len]`, two stts runs, a keyframe every 4th sample, 4 samples per
    * chunk. The container INDEX (stts/stsz/stss/stsc/stco) is what frame
    * sampling reads at scale; pixel decode of the samples themselves is
    * the part that stays stubbed (no video codec in this container). */
  def attachMp4Payload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wide(docs).select(col("doc_id"), col("text"),
      ((pmod(col("doc_id"), lit(8))) * 16 + 64).cast("int").as("width"),
      ((pmod(col("doc_id"), lit(6))) * 16 + 48).cast("int").as("height"))
      .as[(Long, String, Int, Int)]
      .map { case (id, text, w, h) =>
        val t = Option(text).getOrElse("").getBytes("UTF-8")
        val n = ((id % 5).toInt + 2) * 4
        val sizes = Array.tabulate(n) { i =>
          if (t.isEmpty) 8 else (t(i % t.length) & 63) + 8
        }
        val payload = (i: Int) => Array.tabulate(sizes(i)) { j =>
          if (t.isEmpty) 0.toByte else t((i * 7 + j) % t.length)
        }
        MediaRow(id, Mp4Codec.mux(w, h, sizes, payload), "video/mp4", w, h)
      }
      .toDF()
  }

  /** Attach a REAL PLAYABLE VIDEO: Motion-JPEG in MP4 — every sample is a
    * complete baseline-JPEG frame (the MJPEG codec: frames independently
    * DCT-coded, what cameras and capture pipelines ship), muxed into the
    * standards-layout container by [[Mp4Codec.mux]]. Both the container
    * index AND the pixels are real; [[decodeMjpegKeyframes]] closes the
    * video-pixel-decode loop for this codec class (inter-predicted codecs
    * like H.264 remain the [[StubDecoder]]'s honest out-of-scope). Frame
    * fi is [[blockGray]] with shift fi·7 — FRAME-VARYING, so a demuxer
    * that confuses samples cannot match the oracle. 8 frames per doc,
    * keyframes at samples 0 and 4. */
  def attachMjpegPayload(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    sized(docs, pmod(col("doc_id"), lit(8)) * 8 + 16, pmod(col("doc_id"), lit(6)) * 8 + 16)
      .map { case (id, t, w, h) =>
        val frames = Array.tabulate(8)(fi => Images.encode("image/jpeg", w, h, blockGray(t, w, h, fi * 7)))
        MediaRow(id, Mp4Codec.mux(w, h, frames.map(_.length), i => frames(i)),
          "video/mjpeg", w, h)
      }
      .toDF()
  }

  /** Attach a REAL H.264 elementary stream: three IDR pictures of
    * macroblock-constant gray (MB k of frame f carries text byte
    * (f*17 + k) mod len, as value (byte % 26)*10 — the multiple-of-10
    * rule [[H264Codec.encode]]'s QP-36 DC ladder reconstructs exactly).
    * The decode stage runs genuine AVC bitstream parsing + CAVLC +
    * inverse transforms end to end, SQL-certifiable like the JPEG twin. */
  def attachH264Payload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wide(docs).select(col("doc_id"), col("text"),
      ((pmod(col("doc_id"), lit(6)) + 2) * 16).cast("int").as("width"),
      ((pmod(col("doc_id"), lit(4)) + 2) * 16).cast("int").as("height"))
      .as[(Long, String, Int, Int)]
      .map { case (id, text, w, h) =>
        val t = Option(text).getOrElse("").getBytes("UTF-8")
        val nb = (w / 16) * (h / 16)
        val frames = Seq.tabulate(3) { fi =>
          Array.tabulate(nb)(k =>
            if (t.isEmpty) 0 else ((t((fi * 17 + k) % t.length) & 0xff) % 26) * 10)
        }
        MediaRow(id, H264Codec.encode(w, h, frames), "video/h264", w, h)
      }
      .toDF()
  }

  /** REAL AVC KEYFRAME DECODE: every picture in the elementary stream is
    * an IDR keyframe; each runs through the pure-JVM [[H264Codec]] (NAL +
    * SPS/PPS + slice parse, CAVLC luma DC, dequant, inverse transforms,
    * intra prediction). Per-partition streaming, one pass. */
  def decodeH264Keyframes(spark: SparkSession, media: DataFrame): Dataset[KeyframeLuma] = {
    import spark.implicits._
    media.select("doc_id", "payload", "format", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val dec = H264Codec.decode(r.payload)
          dec.frames.iterator.zipWithIndex.map { case (f, i) =>
            KeyframeLuma(r.doc_id, i, f.meanLuma, f.width, f.height)
          }
        }
      }
  }

  case class KeyframeLuma(doc_id: Long, frame: Int, luma: Double,
                          width: Int, height: Int)

  /** Attach an H.264 elementary stream exercising the ROUND-9 decode
    * surface: two I pictures (IDR + non-IDR reference I slice — the
    * open-GOP shape) of mixed macroblock types. MB 0 is I_PCM with value
    * (b % 26)*10; MB k > 0 takes c = 30 + (b % 19)*10 (b = text byte
    * (fi*17 + k) mod len) as: k%3==1 -> Intra_16x16 DC with
    * CodedBlockPatternLuma 15 and interior AC (level 1 + (b % 2));
    * k%3==2 -> I_NxN through all nine 4x4 prediction modes; else the
    * CBP-0 constant. Every pixel has a closed form the DuckDB oracle
    * recomputes (see [[graft.queries.Media.qMultimodalH264AcSql]]). */
  def attachH264AcPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import H264Codec.MbSpec
    wide(docs).select(col("doc_id"), col("text"),
      ((pmod(col("doc_id"), lit(4)) + 2) * 16).cast("int").as("width"),
      ((pmod(col("doc_id"), lit(3)) + 2) * 16).cast("int").as("height"))
      .as[(Long, String, Int, Int)]
      .map { case (id, text, w, h) =>
        val t = Option(text).getOrElse("").getBytes("UTF-8")
        val nb = (w / 16) * (h / 16)
        def byteAt(fi: Int, k: Int): Int =
          if (t.isEmpty) 0 else t((fi * 17 + k) % t.length) & 0xff
        val frames = Seq.tabulate(2) { fi =>
          Array.tabulate[MbSpec](nb) { k =>
            val b = byteAt(fi, k)
            if (k == 0) MbSpec.Pcm((b % 26) * 10)
            else {
              val c = 30 + (b % 19) * 10
              k % 3 match {
                case 1 => MbSpec.DcAc(c, 1 + (b % 2))
                case 2 => MbSpec.I4x4(c)
                case _ => MbSpec.Const(c)
              }
            }
          }
        }
        MediaRow(id, H264Codec.encodeFrames(w, h, frames, allIdr = false),
          "video/h264", w, h)
      }
      .toDF()
  }

  /** Decode every picture and emit the integer pixel statistics the AC
    * oracle certifies: total luma sum and total squared-luma sum (the
    * mean alone cannot see AC — the interior patterns are near-zero-sum,
    * the squared sum moves by thousands per AC block). */
  def decodeH264Stats(spark: SparkSession, media: DataFrame): Dataset[KeyframeStats] = {
    import spark.implicits._
    media.select("doc_id", "payload", "format", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val dec = H264Codec.decode(r.payload)
          dec.frames.iterator.zipWithIndex.map { case (f, i) =>
            KeyframeStats(r.doc_id, i, f.lumaSum, f.lumaSqSum, f.width, f.height)
          }
        }
      }
  }

  case class KeyframeStats(doc_id: Long, frame: Int, luma_sum: Long,
                           sq_sum: Long, width: Int, height: Int)

  /** REAL VIDEO PIXEL DECODE: demux each MJPEG container's sample table,
    * slice out the KEYFRAME samples (stss — the frames a sampling
    * pipeline actually decodes), and decode each as a JPEG through
    * [[Images]]. Per-partition streaming ([[extractFeatures]]'s
    * discipline): one pass, one decoder context per partition, no
    * materialization. */
  def decodeMjpegKeyframes(spark: SparkSession, media: DataFrame): Dataset[KeyframeLuma] = {
    import spark.implicits._
    media.select("doc_id", "payload", "format", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        val images = Images.decoder()
        rows.flatMap { r =>
          val tr = Mp4Codec.parse(r.payload)
          tr.keyframes.iterator.map { k =>
            val off = tr.offsets(k)
            require(off + tr.sizes(k) <= r.payload.length,
              s"mjpeg: sample $k overruns payload")
            val bytes = java.util.Arrays.copyOfRange(
              r.payload, off.toInt, off.toInt + tr.sizes(k))
            val dec = images.decode("image/jpeg", bytes)
            KeyframeLuma(r.doc_id, k, dec.meanLuma, dec.width, dec.height)
          }
        }
      }
  }

  /** STUB decoder — deterministic fake standing in for a real codec.
    * A real implementation would decode `payload` (inter-predicted video:
    * H.264-class) here — intra-coded video DOES decode for real via
    * [[decodeMjpegKeyframes]]; the fake derives stable pseudo-features
    * from the bytes so tests can assert exact values and the distributed
    * plumbing stays honest. */
  object StubDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      // ??? <- real codec goes here; everything below is the deterministic fake
      var h = 1125899906842597L
      var i = 0
      var sum = 0L
      while (i < r.payload.length) {
        h = h * 31 + (r.payload(i) & 0xff)
        sum += (r.payload(i) & 0xff)
        i += 1
      }
      val intensity = if (r.payload.length == 0) 0.0
                      else sum.toDouble / r.payload.length / 255.0
      MediaFeatures(r.doc_id, r.payload.length.toLong, h, intensity,
        math.max(r.width / 2, 1), math.max(r.height / 2, 1))
    }
  }

  /** Batched per-partition decode/feature-extract — the Scala analog of
    * `mapInPandas`: one decoder context per partition (an [[Images]]
    * decoder builds one JDK reader per still-image format on first use),
    * streaming iterator in/out, never materializing a partition in
    * memory. Partition count (not row count) bounds peak memory, so at
    * 100 TB the knob is `spark.sql.files.maxPartitionBytes`. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("doc_id", "payload", "format", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        val images = Images.decoder()
        rows.map {
          case r if Images.Formats(r.format) =>
            val d = images.decode(r.format, r.payload)
            MediaFeatures(r.doc_id, r.payload.length.toLong,
              content_hash = 0L, intensity = d.meanLuma,
              dim1 = math.max(d.width / 2, 1), dim2 = math.max(d.height / 2, 1))
          case r if r.format == "video/h264" =>
            val d = H264Codec.decode(r.payload)
            MediaFeatures(r.doc_id, r.payload.length.toLong,
              content_hash = 0L, intensity = d.frames.head.meanLuma,
              dim1 = math.max(d.width / 2, 1), dim2 = math.max(d.height / 2, 1))
          case r if r.format == "audio/wav" =>
            // REAL audio decode: intensity carries the normalized mean
            // absolute amplitude; dim1/dim2 carry sample count (fits an
            // int) and sample rate
            val d = WavCodec.decode(r.payload)
            MediaFeatures(r.doc_id, r.payload.length.toLong,
              content_hash = 0L, intensity = d.meanAbsAmplitude,
              dim1 = d.nSamples, dim2 = d.sampleRate)
          case r => StubDecoder.decode(r)
        }
      }
  }

  /** Deterministic frame sampling plumbing for video-like payloads: emit
    * every k-th block of the payload as a "frame" row (explode = the real
    * shape of frame extraction; block slicing stands in for the codec). */
  def sampleFrames(media: DataFrame, everyK: Int, blockBytes: Int = 64): DataFrame =
    media
      .withColumn("n_blocks",
        greatest(floor(length(col("payload")).cast("double") / blockBytes).cast("int"), lit(1)))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_blocks") - 1, lit(everyK))))
      .select(col("doc_id"), col("frame_idx"),
        col("payload").substr(col("frame_idx") * blockBytes + 1, lit(blockBytes)).as("frame_bytes"))
}
