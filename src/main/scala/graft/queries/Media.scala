package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.{Images, Mp4Codec, Multimodal}

/** MP4 container-index queries — the video arm of the multimodal family.
  *
  * What a 100 TB video-ingest pipeline actually runs distributed is
  * CONTAINER work: parse the sample tables, pick keyframes, compute byte
  * ranges to fetch. [[Mp4Codec]] does that for real (box walk +
  * stts/stsz/stss/stsc/stco reconstruction); the DuckDB oracle reproduces
  * the muxer's closed-form layout (`first media byte at 607 + 6n`) and
  * prefix-sum offsets, so a hash match certifies the parser recovered the
  * index bit-exactly — including that keyframe OFFSETS point at the true
  * media bytes (the frames query reads each keyframe's first payload byte
  * from the parsed offset and the oracle predicts its value).
  *
  * Scale shape: attach+parse is map-only over documents (one container
  * per row, decoded per-partition like every codec here); the keyframe
  * explode multiplies rows by n/4 before a partial-agg'd sum — no shuffle
  * except the final 1-row aggregate.
  */
object Media {

  /** Parsed container summary per document. */
  case class Mp4Info(doc_id: Long, n_samples: Int, duration: Long, n_key: Int,
                     media_bytes: Long, width: Int, height: Int)

  /** One sampled keyframe: container index fields + the first media byte
    * read from the parsed absolute offset (proof the offset is real). */
  case class Mp4Frame(doc_id: Long, idx: Long, offset: Long, pts: Long,
                      first_byte: Long)

  private def parsed(s: SparkSession, d: String): Dataset[(Long, Array[Byte], Mp4Codec.Track)] = {
    import s.implicits._
    Multimodal.attachMp4Payload(documents(s, d))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, bytes, Mp4Codec.parse(bytes)) })
  }

  /** Container metadata extraction: one real MP4 parse per document,
    * summed so the oracle certifies every recovered field. */
  val qMultimodalMp4: Q = (s, d) => {
    import s.implicits._
    parsed(s, d)
      .map { case (id, _, tr) =>
        Mp4Info(id, tr.nSamples, tr.duration, tr.keyframes.length,
          tr.sizes.map(_.toLong).sum, tr.width, tr.height)
      }
      .toDF()
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_samples").cast("long")).as("sum_samples"),
           sum(col("duration")).as("sum_duration"),
           sum(col("n_key").cast("long")).as("sum_keyframes"),
           sum(col("media_bytes")).as("sum_media_bytes"),
           sum(col("width").cast("long")).as("sum_w"),
           sum(col("height").cast("long")).as("sum_h"))
  }

  val qMultimodalMp4Sql: String = """
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             ((doc_id % 5) + 2) * 4 AS n
      FROM documents),
    g AS (
      SELECT doc_id, n, (doc_id % 8) * 16 + 64 AS w, (doc_id % 6) * 16 + 48 AS h,
             list_sum(list_transform(range(0, n),
               i -> (bytes[CAST(i % len AS INTEGER) + 1] & 63) + 8)) AS media_bytes
      FROM f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_samples,
           CAST(SUM((n // 2) * 2100) AS BIGINT) AS sum_duration,
           CAST(SUM(n // 4) AS BIGINT) AS sum_keyframes,
           CAST(SUM(media_bytes) AS BIGINT) AS sum_media_bytes,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(h) AS BIGINT) AS sum_h
    FROM g"""

  /** Keyframe sampling from the container index: explode each track's
    * stss entries, look up offset (stsc/stco walk + stsz prefix) and pts
    * (stts accumulation), and READ the first media byte at that offset —
    * the distributed "which byte ranges do I fetch" step of video ingest.
    * The oracle predicts offsets from the muxer's closed-form layout and
    * first bytes from the sample-content formula, so a match proves the
    * parsed index addresses the actual media. */
  val qMultimodalMp4Frames: Q = (s, d) => {
    import s.implicits._
    parsed(s, d)
      .flatMap { case (id, bytes, tr) =>
        tr.keyframes.iterator.map { k =>
          Mp4Frame(id, k.toLong, tr.offsets(k), tr.pts(k),
            (bytes(tr.offsets(k).toInt) & 0xff).toLong)
        }
      }
      .toDF()
      .agg(count(lit(1)).as("n_frames"),
           sum(col("idx")).as("sum_idx"),
           sum(col("offset")).as("sum_offset"),
           sum(col("pts")).as("sum_pts"),
           sum(col("first_byte")).as("sum_first_byte"))
  }

  val qMultimodalMp4FramesSql: String = """
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             ((doc_id % 5) + 2) * 4 AS n
      FROM documents),
    g AS (
      SELECT doc_id, len, bytes, n,
             list_transform(range(0, n),
               i -> (bytes[CAST(i % len AS INTEGER) + 1] & 63) + 8) AS sizes
      FROM f),
    k AS (
      SELECT doc_id, len, bytes, n, sizes, UNNEST(range(0, n, 4)) AS i
      FROM g),
    e AS (
      SELECT doc_id, i,
             607 + 6 * n + COALESCE(list_sum(list_slice(sizes, 1, CAST(i AS INTEGER))), 0) AS off,
             CASE WHEN i < n // 2 THEN i * 1000
                  ELSE (n // 2) * 1000 + (i - n // 2) * 1100 END AS pts,
             bytes[CAST((i * 7) % len AS INTEGER) + 1] AS first_byte
      FROM k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(i) AS BIGINT) AS sum_idx,
           CAST(SUM(off) AS BIGINT) AS sum_offset,
           CAST(SUM(pts) AS BIGINT) AS sum_pts,
           CAST(SUM(first_byte) AS BIGINT) AS sum_first_byte
    FROM e"""

  // ---- image near-dup via perceptual hash ---------------------------------

  /** Per-image 64-bit average hash, split into two 32-bit words (a
    * 64-bit unsigned hash would overflow BIGINT's sign on bit 63). */
  case class PHashRow(doc_id: Long, hi: Long, lo: Long)

  /** IMAGE NEAR-DUP via perceptual average-hash (aHash): decode each BMP
    * to real gray pixels (through [[Images]]), sample an 8×8 grid, threshold each sample against
    * the image's global mean → a 64-bit fingerprint; images agreeing on
    * every bit land in one hash bucket (the pixel-domain sibling of
    * dedup_simhash). Scale shape: decode + hash is map-only per
    * partition (one codec call per row, the multimodal discipline), then
    * ONE hash-groupBy — identical cost to exact dedup. The mean test is
    * pure integer arithmetic (p·n > Σpix), so the oracle can re-derive
    * every bit from the deterministic pixel generator with no float in
    * sight. */
  /** Decode + hash every document's BMP payload: map-only, one codec
    * call per row. Shared by the three image-dedup queries. */
  def phashRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.attachBmpPayload(
        documents(s, d).filter(length(col("text")) > 0))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val images = Images.decoder()
        rows.map { case (id, bytes) =>
          val d = images.decode("image/bmp", bytes)
          val (w, h, gray) = (d.width, d.height, d.gray)
          val n = w.toLong * h
          var pixSum = 0L
          var i = 0
          while (i < gray.length) { pixSum += gray(i) & 0xff; i += 1 }
          var hi = 0L; var lo = 0L
          var j = 0
          while (j < 64) {
            val y = (j / 8) * h / 8
            val x = (j % 8) * w / 8
            val p = gray(y * w + x) & 0xff
            if (p * n > pixSum) {
              if (j < 32) hi |= 1L << j else lo |= 1L << (j - 32)
            }
            j += 1
          }
          PHashRow(id, hi, lo)
        }
      }
      .toDF()
  }

  val qImagePhash: Q = (s, d) =>
    phashRows(s, d)
      .groupBy(col("hi"), col("lo")).agg(count(lit(1)).as("csize"))
      .agg(sum(col("csize")).as("n_imgs"),
           count(lit(1)).as("n_clusters"),
           sum(col("csize") - 1).as("n_dups"),
           max(col("csize")).as("max_cluster"),
           sum(col("hi")).as("sum_hi"),
           sum(col("lo")).as("sum_lo"))

  /** The oracle replays the BMP pixel generator (pixel i = text byte
    * i mod len — the multimodal_bmp closed form) and re-derives all 64
    * threshold bits per image in integer arithmetic. */
  val qImagePhashSql: String = """
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 64 + 16) AS w, (doc_id % 48 + 16) AS h
      FROM documents WHERE octet_length(encode(text)) > 0),
    p AS (
      SELECT doc_id, w, h, len, bytes, w * h AS n,
             (w * h // len) * list_sum(bytes) +
               COALESCE(list_sum(list_slice(bytes, 1, (w * h) % len)), 0) AS pix_sum
      FROM f),
    b AS (
      SELECT doc_id,
             list_transform(range(0, 64), j ->
               CASE WHEN bytes[1 + ((((j // 8) * h // 8) * w +
                                     ((j % 8) * w // 8)) % len)] * n > pix_sum
                    THEN 1 ELSE 0 END) AS bits
      FROM p),
    hh AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 32),
               j -> bits[j + 1]  * (CAST(1 AS BIGINT) << j))) AS hi,
             list_sum(list_transform(range(0, 32),
               j -> bits[j + 33] * (CAST(1 AS BIGINT) << j))) AS lo
      FROM b),
    c AS (SELECT hi, lo, COUNT(*) AS csize FROM hh GROUP BY 1, 2)
    SELECT CAST(SUM(csize) AS BIGINT) AS n_imgs,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(csize - 1) AS BIGINT) AS n_dups,
           CAST(MAX(csize) AS BIGINT) AS max_cluster,
           CAST(SUM(hi) AS BIGINT) AS sum_hi,
           CAST(SUM(lo) AS BIGINT) AS sum_lo
    FROM c"""

  /** The shared oracle prefix re-deriving every phash from the pixel
    * generator (CTEs f/p/b/hh — see [[qImagePhashSql]]). */
  private val phashCtes: String = """
      f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 64 + 16) AS w, (doc_id % 48 + 16) AS h
      FROM documents WHERE octet_length(encode(text)) > 0),
    p AS (
      SELECT doc_id, w, h, len, bytes, w * h AS n,
             (w * h // len) * list_sum(bytes) +
               COALESCE(list_sum(list_slice(bytes, 1, (w * h) % len)), 0) AS pix_sum
      FROM f),
    b AS (
      SELECT doc_id,
             list_transform(range(0, 64), j ->
               CASE WHEN bytes[1 + ((((j // 8) * h // 8) * w +
                                     ((j % 8) * w // 8)) % len)] * n > pix_sum
                    THEN 1 ELSE 0 END) AS bits
      FROM p),
    hh AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32),
               j -> bits[j + 1]  * (CAST(1 AS BIGINT) << j))) AS BIGINT) AS hi,
             CAST(list_sum(list_transform(range(0, 32),
               j -> bits[j + 33] * (CAST(1 AS BIGINT) << j))) AS BIGINT) AS lo
      FROM b)"""

  // ---- image NEAR-dup: banded phash + Hamming verify -----------------------

  /** Image near-dup pairs by perceptual-hash distance, found the scalable
    * way: each 64-bit hash splits into four 16-bit bands; any two DISTINCT
    * hashes sharing a band become a candidate pair (LSH banding — two
    * hashes within Hamming 8 of each other agree on ≥1 whole band far more
    * often than chance), then candidates are verified by exact Hamming
    * distance ≤ 8 (popcount of xor, a codegen'd integer op). Exact-dup
    * clusters collapse to ONE hash before banding, so identical images —
    * the worst banding skew — never join against themselves; candidate
    * volume is bounded by band-bucket sizes over distinct fingerprints
    * (the dedup_minhash_lsh discipline in the pixel domain). */
  val qImagePhashNear: Q = (s, d) => {
    val hashes = phashRows(s, d).select(col("hi"), col("lo")).distinct()
    val bands = hashes.selectExpr("hi", "lo", """explode(array(
        struct(0 AS b, hi & 65535 AS k),
        struct(1 AS b, shiftright(hi, 16) & 65535 AS k),
        struct(2 AS b, lo & 65535 AS k),
        struct(3 AS b, shiftright(lo, 16) & 65535 AS k))) AS bk""")
      .select(col("hi"), col("lo"), col("bk.b").as("b"), col("bk.k").as("k"))
    val l = bands.select(col("b"), col("k"), col("hi").as("hia"), col("lo").as("loa"))
    val r = bands.select(col("b"), col("k"), col("hi").as("hib"), col("lo").as("lob"))
    val cand = l.join(r, Seq("b", "k"))
      .filter(col("hia") < col("hib") ||
              (col("hia") === col("hib") && col("loa") < col("lob")))
      .select(col("hia"), col("loa"), col("hib"), col("lob")).distinct()
    cand
      .withColumn("ham",
        expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)").cast("long"))
      .agg(count(lit(1)).as("n_cand_pairs"),
           sum(when(col("ham") <= 8, 1L).otherwise(0L)).as("n_near_pairs"),
           sum(when(col("ham") <= 8, col("ham")).otherwise(0L)).as("sum_ham_near"))
  }

  val qImagePhashNearSql: String = s"""
    WITH $phashCtes,
    c AS (SELECT DISTINCT hi, lo FROM hh),
    bands AS (
      SELECT hi, lo, 0 AS b, hi & 65535 AS k FROM c
      UNION ALL SELECT hi, lo, 1, (hi >> 16) & 65535 FROM c
      UNION ALL SELECT hi, lo, 2, lo & 65535 FROM c
      UNION ALL SELECT hi, lo, 3, (lo >> 16) & 65535 FROM c),
    cand AS (
      SELECT DISTINCT a.hi AS hia, a.lo AS loa, bb.hi AS hib, bb.lo AS lob
      FROM bands a JOIN bands bb ON a.b = bb.b AND a.k = bb.k
      WHERE a.hi < bb.hi OR (a.hi = bb.hi AND a.lo < bb.lo)),
    scored AS (
      SELECT bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS ham
      FROM cand)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
           CAST(SUM(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_pairs,
           CAST(SUM(CASE WHEN ham <= 8 THEN ham ELSE 0 END) AS BIGINT) AS sum_ham_near
    FROM scored"""

  // ---- cross-modal dedup composition --------------------------------------

  /** MULTIMODAL DEDUP: a document is dropped if an EARLIER document
    * (lower doc_id) is a duplicate of it in either modality —
    * text: same 32-token PREFIX fingerprint (md5 of the leading tokens,
    * the crawl-dedup move that catches append/truncate edits exact
    * hashing misses); image: a perceptual-hash NEAR match (shares an LSH
    * band AND Hamming ≤ 8 — the qImagePhashNear relation lifted to doc
    * pairs). "Has an earlier partner" is deliberately non-transitive —
    * each dropped doc names a concrete earlier near-duplicate, no
    * connected components needed (dedup_components covers the
    * transitive-closure variant for text). Composition stays lazy: one
    * fingerprint groupBy + the banded pair join on top of the shared
    * map-only decode. Docs with no image payload (empty text ⇒ no BMP)
    * can only be text-dups. */
  val qPipelineMultimodalDedup: Q = (s, d) => {
    val toks = split(trim(col("text")), "\\s+")
    val docs = documents(s, d).select(col("doc_id"),
      md5(concat_ws(" ", slice(toks, 1, 32))).as("tk"))
    val tmin = docs.groupBy(col("tk")).agg(min(col("doc_id")).as("tkeep"))
    val ph = phashRows(s, d)
    val bands = ph.selectExpr("doc_id", "hi", "lo", """explode(array(
        struct(0 AS b, hi & 65535 AS k),
        struct(1 AS b, shiftright(hi, 16) & 65535 AS k),
        struct(2 AS b, lo & 65535 AS k),
        struct(3 AS b, shiftright(lo, 16) & 65535 AS k))) AS bk""")
      .select(col("doc_id"), col("hi"), col("lo"),
              col("bk.b").as("b"), col("bk.k").as("k"))
    val l = bands.select(col("b"), col("k"), col("doc_id").as("ida"),
      col("hi").as("hia"), col("lo").as("loa"))
    val r = bands.select(col("b"), col("k"), col("doc_id").as("idb"),
      col("hi").as("hib"), col("lo").as("lob"))
    val nearDocs = l.join(r, Seq("b", "k"))
      .filter(col("ida") < col("idb"))
      .filter(expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)") <= 8)
      .select(col("idb").as("doc_id")).distinct()
      .withColumn("inear", lit(1L))
    val flags = docs
      // null-safe on the content key: a null text is ITS OWN dup group
      // (matches the oracle's IS NOT DISTINCT FROM)
      .join(tmin, docs("tk") <=> tmin("tk")).drop(tmin("tk"))
      .join(nearDocs, Seq("doc_id"), "left")
      .select(
        (col("doc_id") > col("tkeep")).as("tdup"),
        col("inear").isNotNull.as("idup"))
    flags.agg(
      count(lit(1)).as("n_docs"),
      sum(when(!col("tdup") && !col("idup"), 1L).otherwise(0L)).as("n_keep"),
      sum(when(col("tdup") && !col("idup"), 1L).otherwise(0L)).as("n_text_only"),
      sum(when(!col("tdup") && col("idup"), 1L).otherwise(0L)).as("n_image_only"),
      sum(when(col("tdup") && col("idup"), 1L).otherwise(0L)).as("n_both"))
  }

  val qPipelineMultimodalDedupSql: String = s"""
    WITH $phashCtes,
    t AS (SELECT doc_id,
                 md5(array_to_string(list_slice(string_split(trim(text), ' '), 1, 32), ' ')) AS tk
          FROM documents),
    tm AS (SELECT tk, MIN(doc_id) AS tkeep FROM t GROUP BY 1),
    bands AS (
      SELECT doc_id, hi, lo, 0 AS b, hi & 65535 AS k FROM hh
      UNION ALL SELECT doc_id, hi, lo, 1, (hi >> 16) & 65535 FROM hh
      UNION ALL SELECT doc_id, hi, lo, 2, lo & 65535 FROM hh
      UNION ALL SELECT doc_id, hi, lo, 3, (lo >> 16) & 65535 FROM hh),
    nd AS (
      SELECT DISTINCT bb.doc_id
      FROM bands a JOIN bands bb ON a.b = bb.b AND a.k = bb.k AND a.doc_id < bb.doc_id
      WHERE bit_count(xor(a.hi, bb.hi)) + bit_count(xor(a.lo, bb.lo)) <= 8),
    fl AS (
      SELECT t.doc_id > tm.tkeep AS tdup,
             nd.doc_id IS NOT NULL AS idup
      FROM t
      JOIN tm ON t.tk IS NOT DISTINCT FROM tm.tk
      LEFT JOIN nd ON nd.doc_id = t.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT tdup AND NOT idup THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN tdup AND NOT idup THEN 1 ELSE 0 END) AS BIGINT) AS n_text_only,
           CAST(SUM(CASE WHEN NOT tdup AND idup THEN 1 ELSE 0 END) AS BIGINT) AS n_image_only,
           CAST(SUM(CASE WHEN tdup AND idup THEN 1 ELSE 0 END) AS BIGINT) AS n_both
    FROM fl"""

  /** REAL VIDEO PIXEL DECODE on the oracle: Motion-JPEG in MP4 — every
    * sample a complete baseline-JPEG frame ([[Multimodal
    * .attachMjpegPayload]]), keyframes demuxed from the stss table and
    * decoded through [[Images]] (the JDK's entropy decode + dequant +
    * IDCT, the Y plane read raw). Frame content varies per sample (block k of frame
    * fi = byte (fi·7+k) mod len), so the oracle's cycle arithmetic over
    * the ROTATED byte list only matches if the demuxer sliced the right
    * sample bytes AND the codec reconstructed the right frame's pixels —
    * container index and video pixels certified together. */
  val qMultimodalMjpeg: Q = (s, d) =>
    Multimodal.decodeMjpegKeyframes(s,
        Multimodal.attachMjpegPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n_frames"),
           dsum(col("luma")).as("sum_luma"),
           sum(col("frame").cast("long")).as("sum_frame_idx"),
           sum(col("width").cast("long")).as("sum_w"),
           sum(col("height").cast("long")).as("sum_h"))

  val qMultimodalMjpegSql: String = s"""
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 8) * 8 + 16 AS w, (doc_id % 6) * 8 + 16 AS h
      FROM documents),
    g AS (SELECT doc_id, len, bytes, w, h, (w // 8) * (h // 8) AS nb FROM f),
    k AS (SELECT doc_id, len, bytes, w, h, nb, unnest([0, 4]) AS fi FROM g),
    e AS (
      SELECT w, h, fi,
             CASE WHEN len = 0 THEN 0.0
                  ELSE CAST((nb // len) * list_sum(bytes)
                       + COALESCE(list_sum(list_slice(bytes,
                           (fi * 7) % len + 1,
                           LEAST((fi * 7) % len + nb % len, len))), 0)
                       + COALESCE(list_sum(list_slice(bytes, 1,
                           GREATEST(nb % len - (len - (fi * 7) % len), 0))), 0)
                       AS DOUBLE) / CAST(nb AS DOUBLE) / 255.0
             END AS luma
      FROM k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_frames,
           ${sqlDsum("luma")} AS sum_luma,
           CAST(SUM(fi) AS BIGINT) AS sum_frame_idx,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(h) AS BIGINT) AS sum_h
    FROM e"""

  /** REAL H.264 PIXEL DECODE on the oracle: every doc carries a 3-picture
    * IDR elementary stream of macroblock-constant gray (MB k of frame fi =
    * text byte (fi*17+k) mod len, scaled to (b%26)*10 — the QP-36 DC
    * ladder [[graft.multimodal.H264Codec]] reconstructs EXACTLY), decoded
    * through genuine AVC bitstream parsing: Annex-B NALs with emulation
    * prevention, SPS/PPS, CAVLC luma-DC residuals, inverse Hadamard +
    * 4x4 transform, intra DC prediction. The oracle recomputes each
    * frame's mean luma by direct cycle arithmetic over the byte list —
    * it matches only if every stage of the bitstream decode is exact. */
  val qMultimodalH264Keyframes: Q = (s, d) =>
    Multimodal.decodeH264Keyframes(s,
        Multimodal.attachH264Payload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n_frames"),
           dsum(col("luma")).as("sum_luma"),
           sum(col("frame").cast("long")).as("sum_frame_idx"),
           sum(col("width").cast("long")).as("sum_w"),
           sum(col("height").cast("long")).as("sum_h"))

  val qMultimodalH264KeyframesSql: String = s"""
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             ((doc_id % 6) + 2) * 16 AS w, ((doc_id % 4) + 2) * 16 AS h
      FROM documents),
    g AS (SELECT doc_id, len, bytes, w, h, (w // 16) * (h // 16) AS nb FROM f),
    k AS (SELECT doc_id, len, bytes, w, h, nb, unnest([0, 1, 2]) AS fi FROM g),
    e AS (
      SELECT w, h, fi,
             CASE WHEN len = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(range(0, nb),
                         mb -> (bytes[(fi * 17 + mb) % len + 1] % 26) * 10))
                       AS DOUBLE) / CAST(nb AS DOUBLE) / 255.0
             END AS luma
      FROM k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_frames,
           ${sqlDsum("luma")} AS sum_luma,
           CAST(SUM(fi) AS BIGINT) AS sum_frame_idx,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(h) AS BIGINT) AS sum_h
    FROM e"""

  /** ROUND-9 H.264 AC/I_NxN DECODE ON THE ORACLE: every doc carries a
    * 2-picture open-GOP stream (IDR + non-IDR reference I slice) mixing
    * I_PCM, CBP-0 constants, Intra_16x16 macroblocks with
    * CodedBlockPatternLuma 15 (interior AC coefficients through the full
    * CAVLC nC-context/total_zeros/run_before machinery and the 4x4
    * inverse transform), and I_NxN macroblocks through all nine 4x4
    * spatial prediction modes. The oracle recomputes each frame's total
    * luma and squared-luma sums by closed-form integer arithmetic —
    * squared sums move by thousands per AC block, so a decoder that
    * drops or mis-places one AC coefficient cannot match. */
  val qMultimodalH264Ac: Q = (s, d) =>
    Multimodal.decodeH264Stats(s,
        Multimodal.attachH264AcPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n_frames"),
           sum(col("luma_sum")).as("sum_px"),
           sum(col("sq_sum")).as("sum_sq"),
           sum(col("frame").cast("long")).as("sum_frame_idx"),
           sum(col("width").cast("long")).as("sum_w"),
           sum(col("height").cast("long")).as("sum_h"))

  val qMultimodalH264AcSql: String = """
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             ((doc_id % 4) + 2) * 16 AS w, ((doc_id % 3) + 2) * 16 AS h
      FROM documents),
    g AS (SELECT doc_id, len, bytes, w, h, (w // 16) * (h // 16) AS nb FROM f),
    k AS (SELECT doc_id, len, bytes, w, h, nb, unnest([0, 1]) AS fi FROM g),
    -- one struct per MB: its index and its driving text byte
    m AS (
      SELECT w, h, fi,
             list_transform(range(0, nb), mb -> struct_pack(
               mb := mb,
               b := CASE WHEN len = 0 THEN 0
                         ELSE bytes[(fi * 17 + mb) % len + 1] END)) AS mbs
      FROM k),
    -- closed forms per MB shape: I_PCM v=(b%26)*10 contributes 256v /
    -- 256v^2; AC MBs (mb%3=1, c=30+(b%19)*10, level 1+(b%2)) contribute
    -- 256c+8*s1+4 / 256c^2+16c*s1+8q1+8c+3382 with (s1,q1)=(1,423) for
    -- level 1 and (0,1690) for level 2; I_NxN and CBP-0 MBs are flat c
    e AS (
      SELECT w, h, fi,
             list_sum(list_transform(mbs, u -> CASE
               WHEN u.mb = 0 THEN 256 * (u.b % 26) * 10
               WHEN u.mb % 3 = 1 THEN
                 256 * (30 + (u.b % 19) * 10)
                 + 8 * (CASE WHEN u.b % 2 = 0 THEN 1 ELSE 0 END) + 4
               ELSE 256 * (30 + (u.b % 19) * 10) END)) AS px,
             list_sum(list_transform(mbs, u -> CASE
               WHEN u.mb = 0 THEN
                 256 * ((u.b % 26) * 10) * ((u.b % 26) * 10)
               WHEN u.mb % 3 = 1 THEN
                 256 * (30 + (u.b % 19) * 10) * (30 + (u.b % 19) * 10)
                 + 16 * (30 + (u.b % 19) * 10)
                      * (CASE WHEN u.b % 2 = 0 THEN 1 ELSE 0 END)
                 + 8 * (CASE WHEN u.b % 2 = 0 THEN 423 ELSE 1690 END)
                 + 8 * (30 + (u.b % 19) * 10) + 3382
               ELSE 256 * (30 + (u.b % 19) * 10) * (30 + (u.b % 19) * 10)
               END)) AS sq
      FROM m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(px) AS BIGINT) AS sum_px,
           CAST(SUM(sq) AS BIGINT) AS sum_sq,
           CAST(SUM(fi) AS BIGINT) AS sum_frame_idx,
           CAST(SUM(w) AS BIGINT) AS sum_w,
           CAST(SUM(h) AS BIGINT) AS sum_h
    FROM e"""

  // ---- registration -------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "multimodal_h264_keyframes" -> qMultimodalH264Keyframes,
    "multimodal_h264_ac"    -> qMultimodalH264Ac,
    "multimodal_mjpeg"      -> qMultimodalMjpeg,
    "multimodal_mp4"        -> qMultimodalMp4,
    "multimodal_mp4_frames" -> qMultimodalMp4Frames,
    "image_phash"           -> qImagePhash,
    "image_phash_near"      -> qImagePhashNear,
    "pipeline_multimodal_dedup" -> qPipelineMultimodalDedup,
  )

  val oracleSql: Map[String, String] = Map(
    "multimodal_h264_keyframes" -> qMultimodalH264KeyframesSql,
    "multimodal_h264_ac"    -> qMultimodalH264AcSql,
    "multimodal_mjpeg"      -> qMultimodalMjpegSql,
    "multimodal_mp4"        -> qMultimodalMp4Sql,
    "multimodal_mp4_frames" -> qMultimodalMp4FramesSql,
    "image_phash"           -> qImagePhashSql,
    "image_phash_near"      -> qImagePhashNearSql,
    "pipeline_multimodal_dedup" -> qPipelineMultimodalDedupSql,
  )
}
