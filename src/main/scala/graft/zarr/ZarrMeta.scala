package graft.zarr

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Zarr on-disk metadata, both format versions the reference supports
  * (mdio/zarr/zarr.h:18-44):
  *  - v2: `.zgroup`/`.zarray`/`.zattrs` + consolidated `.zmetadata`
  *    (mdio/zarr/zarr_v2.h:221-367 WriteDatasetMetadata, GetZarray 67-97);
  *  - v3: one `zarr.json` per node, arrays discovered by listing
  *    (mdio/zarr/zarr_v3.h:185-206 candidates, 638-653 discovery), chunk
  *    keys under `c/` with `/` separators.
  * Version detection probes `zarr.json` then `.zgroup`, defaulting v2
  * (S8, mdio/zarr/zarr_driver.h:97-128). Storage drivers (S7): every
  * path goes through [[VPath]] — the Hadoop FileSystem layer — so
  * `file:`, `s3a://`, `gs://`, `hdfs://` URIs and plain local paths all
  * resolve the way the reference infers its driver from the path
  * (mdio/zarr/zarr_driver.h:225-231).
  */
object ZarrMeta {

  final case class ArrayMeta(
      shape: Seq[Long],
      chunks: Seq[Long],
      dtype: String,                       // numpy typestring, e.g. "<f4"
      compressor: Option[String],          // None | "zlib" | "zstd" | "lz4"
      fillValue: Option[Double],
      order: String = "C",
      version: Int = 2,
      dimNames: Option[Seq[String]] = None,
      /** Structured (record) dtype: numpy field list [[name, typestr], …]
        * (reference "void" arrays, mdio/zarr/zarr_v2.h:109-120). When set,
        * `dtype` is "|V<n>" and cells decode per field. */
      fields: Option[Seq[(String, String)]] = None,
      /** Blosc cname/clevel/shuffle when compressor == Some("blosc") —
        * the reference's only spec-layer compressor
        * (mdio/dataset_factory.h:288-367). */
      blosc: Option[ChunkCodec.Blosc] = None,
      /** zarr v3 `sharding_indexed`: the SHARD shape (one storage object
        * per shard; `chunks` is then the INNER chunk shape). At 100 TB
        * this is the feature that keeps object counts sane — inner chunks
        * are range-read out of large shard objects via a footer index. */
      shard: Option[Seq[Long]] = None) {
    def rank: Int = shape.size
    /** Number of (inner) chunks along each dimension. */
    def chunkGrid: Seq[Long] = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def isComplex: Boolean = ZarrMeta.isComplex(dtype)
    /** Coordinates of the chunk with C-order flat id `cid` on [[chunkGrid]]. */
    def chunkCoords(cid: Long): Array[Long] = unflatten(cid, chunkGrid)
    /** Coordinates of the shard with C-order flat id `sid` on [[shardGrid]]. */
    def shardCoords(sid: Long): Array[Long] = unflatten(sid, shardGrid)
    def elemSize: Int = fields match {
      case Some(fs) => fs.map(f => ChunkCodec.elemSize(f._2)).sum
      case None => ChunkCodec.elemSize(dtype)
    }
    /** Inner chunks per shard along each dimension (1s when unsharded). */
    def innerPerShard: Seq[Long] =
      shard.map(_.zip(chunks).map { case (s, c) => s / c }).getOrElse(Seq.fill(rank)(1L))
    /** Number of shards along each dimension. */
    def shardGrid: Seq[Long] =
      shard.map(sh => shape.zip(sh).map { case (s, c) => (s + c - 1) / c })
        .getOrElse(chunkGrid)
    /** Chunk file path inside the array dir: v2 `1.2`, v3 `c/1/2`; when
      * sharded, the file is the SHARD object holding the chunk. */
    def chunkFile(arrayDir: VPath, coords: Seq[Long]): VPath = {
      val key = shard match {
        case Some(_) =>
          coords.zip(innerPerShard).map { case (c, ips) => c / ips }
        case None => coords
      }
      if (version == 3) arrayDir.resolve("c").resolve(key.mkString("/"))
      else arrayDir.resolve(key.mkString("."))
    }
    /** C-order index of chunk `coords` inside its shard's footer index. */
    def innerIndex(coords: Seq[Long]): Int = {
      val ips = innerPerShard
      var idx = 0L
      var i = 0
      while (i < rank) {
        idx = idx * ips(i) + (coords(i) % ips(i))
        i += 1
      }
      idx.toInt
    }
  }

  /** "<c8" ('c' at len-2) or "<c16" ('c' at len-3). */
  def isComplex(dtype: String): Boolean =
    dtype.length >= 3 &&
      (dtype.charAt(dtype.length - 2) == 'c' || dtype.charAt(dtype.length - 3) == 'c')

  /** C-order flat index `flat` → coordinates in a box of `extents`. */
  def unflatten(flat: Long, extents: Seq[Long]): Array[Long] = {
    val cc = new Array[Long](extents.size)
    var rem = flat
    var i = extents.size - 1
    while (i >= 0) { cc(i) = rem % extents(i); rem /= extents(i); i -= 1 }
    cc
  }

  /** v3 data_type name ↔ numpy typestring. */
  def v3DtypeName(np: String): String = {
    val k = np.charAt(np.length - 2); val sz = np.last
    (k, sz) match {
      case ('b', _) => "bool"
      case ('i', s) => s"int${(s - '0') * 8}"
      case ('u', s) => s"uint${(s - '0') * 8}"
      case ('f', '4') => "float32"
      case ('f', '8') => "float64"
      case _ => throw new IllegalArgumentException(s"no v3 name for '$np'")
    }
  }

  def v3DtypeToNumpy(name: String): String = name match {
    case "bool" => "|b1"
    case "int8" => "|i1"; case "int16" => "<i2"; case "int32" => "<i4"; case "int64" => "<i8"
    case "uint8" => "|u1"; case "uint16" => "<u2"; case "uint32" => "<u4"; case "uint64" => "<u8"
    case "float32" => "<f4"; case "float64" => "<f8"
    case other => throw new IllegalArgumentException(s"unsupported v3 data_type '$other'")
  }

  private implicit val fmts: Formats = DefaultFormats

  def renderArrayMeta(m: ArrayMeta): String = {
    val comp = m.compressor match {
      case None => "null"
      case Some("blosc") => // full numcodecs object so zarr-python decodes it
        val b = m.blosc.getOrElse(ChunkCodec.Blosc())
        s"""{"id": "blosc", "cname": "${b.cname}", "clevel": ${b.clevel}, "shuffle": ${b.shuffle}, "blocksize": 0}"""
      case Some(id) => s"""{"id": "$id"}"""
    }
    val dtypeJson = m.fields match {
      case Some(fs) => fs.map { case (n, t) => s"""["$n", "$t"]""" }.mkString("[", ", ", "]")
      case None => s""""${m.dtype}""""
    }
    val fill = m.fillValue match {
      case None => "null"
      case Some(f) if f.isNaN => "\"NaN\""
      case Some(f) if f == f.floor && !f.isInfinite && math.abs(f) < 1e15 => f.toLong.toString
      case Some(f) => f.toString
    }
    s"""{
       |  "zarr_format": 2,
       |  "shape": [${m.shape.mkString(", ")}],
       |  "chunks": [${m.chunks.mkString(", ")}],
       |  "dtype": $dtypeJson,
       |  "compressor": $comp,
       |  "fill_value": $fill,
       |  "order": "${m.order}",
       |  "filters": null
       |}""".stripMargin
  }

  def parseArrayMeta(json: String): ArrayMeta = {
    val j = JsonMethods.parse(json)
    val shape = (j \ "shape").extract[Seq[Long]]
    val chunks = (j \ "chunks").extract[Seq[Long]]
    val (dtype, fields) = (j \ "dtype") match {
      case JArray(items) => // structured record dtype: [[name, typestr], …]
        val fs = items.map {
          case JArray(List(JString(n), JString(t))) => (n, t)
          case other => throw new IllegalArgumentException(s"bad dtype field $other")
        }
        (s"|V${fs.map(f => ChunkCodec.elemSize(f._2)).sum}", Some(fs))
      case JString(s) => (s, None)
      case other => throw new IllegalArgumentException(s"bad dtype $other")
    }
    val (comp, blosc) = (j \ "compressor") match {
      case JNull | JNothing => (None, None)
      case obj =>
        val id = (obj \ "id").extract[String]
        val b = if (id == "blosc") Some(ChunkCodec.Blosc(
          cname = (obj \ "cname").extractOrElse[String]("lz4"),
          clevel = (obj \ "clevel").extractOrElse[Int](5),
          shuffle = (obj \ "shuffle").extractOrElse[Int](1))) else None
        (Some(id), b)
    }
    val fill = (j \ "fill_value") match {
      case JNull | JNothing => None
      case JString("NaN") => Some(Double.NaN)
      case JString("Infinity") => Some(Double.PositiveInfinity)
      case JString("-Infinity") => Some(Double.NegativeInfinity)
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case JBool(b) => Some(if (b) 1.0 else 0.0)
      case _ => None
    }
    val order = (j \ "order").extractOrElse[String]("C")
    ArrayMeta(shape, chunks, dtype, comp, fill, order, fields = fields, blosc = blosc)
  }

  /** Chunk file key, C-order: "0.0", "1.2", … (zarr v2 default separator). */
  def chunkKey(coords: Seq[Long]): String = coords.mkString(".")

  // ---- zarr v3 -------------------------------------------------------------

  /** v3 array `zarr.json`. Codecs emitted: little-endian bytes + optional
    * zstd or blosc — the reference's v3 path always emits `[bytes, blosc]`
    * with cname/clevel/shuffle (mdio/dataset_factory.h:288-324,
    * mdio/zarr/zarr_v3.h codec pipeline); v3 has no raw-zlib codec.
    * With `m.shard` set, the pipeline is wrapped in `sharding_indexed`
    * (zarr v3 spec): the outer chunk grid is the SHARD shape, inner
    * chunks sit behind a crc32c-guarded footer index. */
  def renderArrayMetaV3(m: ArrayMeta, attributes: Option[String]): String = {
    val fill = m.fillValue match {
      case None => "null"
      case Some(f) if f.isNaN => "\"NaN\""
      case Some(f) if f == f.floor && !f.isInfinite && math.abs(f) < 1e15 => f.toLong.toString
      case Some(f) => f.toString
    }
    val innerCodecs = m.compressor match {
      case None => """[{"name": "bytes", "configuration": {"endian": "little"}}]"""
      case Some("zstd") =>
        """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "zstd", "configuration": {"level": 3}}]"""
      case Some("blosc") =>
        val b = m.blosc.getOrElse(ChunkCodec.Blosc())
        val shuffleStr = b.shuffle match {
          case 0 => "noshuffle"; case 2 => "bitshuffle"; case _ => "shuffle"
        }
        s"""[{"name": "bytes", "configuration": {"endian": "little"}}, """ +
          s"""{"name": "blosc", "configuration": {"cname": "${b.cname}", "clevel": ${b.clevel}, """ +
          s""""shuffle": "$shuffleStr", "typesize": ${m.elemSize}, "blocksize": 0}}]"""
      case Some(other) =>
        throw new IllegalArgumentException(s"zarr v3 write supports None/zstd/blosc codecs, not '$other'")
    }
    val (gridShape, codecs) = m.shard match {
      case None => (m.chunks, innerCodecs)
      case Some(sh) =>
        require(sh.zip(m.chunks).forall { case (s, c) => s % c == 0 },
          s"shard shape ${sh.mkString("x")} must be a multiple of chunk shape ${m.chunks.mkString("x")}")
        val sharded =
          s"""[{"name": "sharding_indexed", "configuration": {""" +
            s""""chunk_shape": [${m.chunks.mkString(", ")}], """ +
            s""""codecs": $innerCodecs, """ +
            s""""index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}], """ +
            s""""index_location": "end"}}]"""
        (sh, sharded)
    }
    val dims = m.dimNames.map(d => d.map(n => s""""$n"""").mkString("[", ", ", "]")).getOrElse("null")
    s"""{
       |  "zarr_format": 3,
       |  "node_type": "array",
       |  "shape": [${m.shape.mkString(", ")}],
       |  "data_type": "${v3DtypeName(m.dtype)}",
       |  "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${gridShape.mkString(", ")}]}},
       |  "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
       |  "fill_value": $fill,
       |  "codecs": $codecs,
       |  "dimension_names": $dims,
       |  "attributes": ${attributes.getOrElse("{}")}
       |}""".stripMargin
  }

  def parseArrayMetaV3(json: String): (ArrayMeta, Option[String]) = {
    val j = JsonMethods.parse(json)
    require((j \ "node_type").extractOrElse[String]("array") == "array", "not a v3 array node")
    val shape = (j \ "shape").extract[Seq[Long]]
    val gridChunks = (j \ "chunk_grid" \ "configuration" \ "chunk_shape").extract[Seq[Long]]
    val dtype = v3DtypeToNumpy((j \ "data_type").extract[String])
    val outerCodecs = (j \ "codecs") match {
      case JArray(items) => items.map(c => ((c \ "name").extract[String], c \ "configuration"))
      case _ => Nil
    }
    // sharding_indexed wraps the real pipeline: grid chunk_shape is the
    // SHARD shape, the inner chunk shape + codecs live in its config
    val shardCfg = outerCodecs.collectFirst { case ("sharding_indexed", cfg) => cfg }
    val (chunks, shard, codecItems) = shardCfg match {
      case None => (gridChunks, None, outerCodecs)
      case Some(cfg) =>
        (cfg \ "index_location") match {
          case JString(loc) => require(loc == "end", s"index_location '$loc' unsupported (end only)")
          case _ => ()
        }
        val inner = (cfg \ "chunk_shape").extract[Seq[Long]]
        require(gridChunks.zip(inner).forall { case (s, c) => s % c == 0 },
          "shard shape must be a multiple of inner chunk shape")
        val innerCodecs = (cfg \ "codecs") match {
          case JArray(items) => items.map(c => ((c \ "name").extract[String], c \ "configuration"))
          case _ => Nil
        }
        val idxCodecs = (cfg \ "index_codecs") match {
          case JArray(items) => items.map(c => (c \ "name").extract[String])
          case _ => Seq("bytes", "crc32c")
        }
        require(idxCodecs.contains("crc32c"),
          "sharding_indexed without a crc32c index codec is unsupported")
        (inner, Some(gridChunks), innerCodecs)
    }
    val codecNames = codecItems.map(_._1)
    codecNames.foreach { n =>
      require(Set("bytes", "endian", "zstd", "gzip", "blosc").contains(n),
        s"unsupported v3 codec '$n'")
    }
    // "gzip" decodes as real RFC-1952 frames (what zarr-python writes)
    val comp = codecNames.filterNot(Set("bytes", "endian")).headOption
    val blosc = codecItems.collectFirst { case ("blosc", cfg) =>
      val shuffle = (cfg \ "shuffle") match {
        case JString("noshuffle") => 0
        case JString("bitshuffle") => 2
        case JString(_) => 1
        case JInt(i) => i.toInt
        case _ => 1
      }
      ChunkCodec.Blosc(
        cname = (cfg \ "cname").extractOrElse[String]("lz4"),
        clevel = (cfg \ "clevel").extractOrElse[Int](5),
        shuffle = shuffle)
    }
    val fill = (j \ "fill_value") match {
      case JString("NaN") => Some(Double.NaN)
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case JBool(b) => Some(if (b) 1.0 else 0.0)
      case _ => None
    }
    val dims = (j \ "dimension_names") match {
      case JArray(items) => Some(items.map(_.extract[String]))
      case _ => None
    }
    val attrs = (j \ "attributes") match {
      case JObject(Nil) | JNothing | JNull => None
      case o => Some(JsonMethods.compact(o))
    }
    (ArrayMeta(shape, chunks, dtype, comp, fill, "C", 3, dims, blosc = blosc,
      shard = shard), attrs)
  }

  // ---- sharding_indexed binary layout (zarr v3 spec) -----------------------

  /** Parse a shard's footer index: `n` (offset, nbytes) uint64-LE pairs
    * (+ trailing crc32c when `crc` is set), read from the END of the shard
    * object. Missing inner chunks carry 2^64-1 sentinels (returned as
    * (-1, -1)). */
  def readShardIndex(file: VPath, n: Int, crc: Boolean = true): Option[Array[(Long, Long)]] = {
    val len = file.length()
    if (len < 0) return None
    val idxBytes = 16L * n + (if (crc) 4 else 0)
    require(len >= idxBytes, s"shard ${file.uri} shorter than its index")
    Some(parseShardIndex(file.readRange(len - idxBytes, idxBytes.toInt), n, crc, file.uri,
      len - idxBytes))
  }

  /** Footer index of a whole shard object held in memory (crc32c-checked). */
  private[graft] def parseShardFooter(obj: Array[Byte], n: Int, uri: String): Array[(Long, Long)] = {
    val idxLen = 16 * n + 4
    require(obj.length >= idxLen, s"shard $uri shorter than its index")
    parseShardIndex(java.util.Arrays.copyOfRange(obj, obj.length - idxLen, obj.length),
      n, crc = true, uri, obj.length - idxLen)
  }

  /** Parse raw footer-index bytes (crc32c-checked when `crc`); every entry
    * that is not a missing-chunk sentinel must lie within the `dataLen`
    * payload bytes in front of the index. */
  private[graft] def parseShardIndex(raw: Array[Byte], n: Int, crc: Boolean,
                                     uri: String, dataLen: Long): Array[(Long, Long)] = {
    if (crc) {
      val c = new java.util.zip.CRC32C
      c.update(raw, 0, 16 * n)
      val stored = java.nio.ByteBuffer.wrap(raw, 16 * n, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(c.getValue.toInt == stored, s"shard index crc32c mismatch in $uri")
    }
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(n) { i =>
      val (off, nbytes) = (bb.getLong(i * 16), bb.getLong(i * 16 + 8))
      require((off == -1L && nbytes == -1L) ||
        (off >= 0 && nbytes >= 0 && off <= dataLen - nbytes),
        s"shard index entry $i ($off, $nbytes) out of bounds in $uri")
      (off, nbytes)
    }
  }

  /** Assemble a shard object: concatenated encoded inner chunks followed
    * by the footer index (+crc32c). `parts(i)` == null ⇒ missing chunk
    * (2^64-1 sentinels). */
  def buildShard(parts: Array[Array[Byte]], crc: Boolean = true): Array[Byte] = {
    val n = parts.length
    val dataLen = parts.iterator.filter(_ != null).map(_.length.toLong).sum
    val idxLen = 16 * n + (if (crc) 4 else 0)
    // shards assemble in one JVM array: fail early and clearly instead of
    // a NegativeArraySizeException when a shardShape is configured too big
    require(dataLen + idxLen <= Int.MaxValue,
      s"shard exceeds the 2 GB JVM array limit ($dataLen data bytes); reduce shardShape")
    val out = new Array[Byte](dataLen.toInt + idxLen)
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 0L
    var i = 0
    while (i < n) {
      val p = parts(i)
      if (p == null) {
        bb.putLong(dataLen.toInt + i * 16, -1L)         // 2^64-1 sentinel
        bb.putLong(dataLen.toInt + i * 16 + 8, -1L)
      } else {
        System.arraycopy(p, 0, out, off.toInt, p.length)
        bb.putLong(dataLen.toInt + i * 16, off)
        bb.putLong(dataLen.toInt + i * 16 + 8, p.length.toLong)
        off += p.length
      }
      i += 1
    }
    if (crc) {
      val c = new java.util.zip.CRC32C
      c.update(out, dataLen.toInt, 16 * n)
      bb.putInt(dataLen.toInt + 16 * n, c.getValue.toInt)
    }
    out
  }

  /** Read one inner chunk's compressed payload out of a shard object;
    * null when the shard or the inner chunk is absent. */
  def readInnerChunk(file: VPath, meta: ArrayMeta, coords: Seq[Long]): Array[Byte] = {
    val n = meta.innerPerShard.product.toInt
    readShardIndex(file, n) match {
      case None => null
      case Some(index) =>
        val (off, nbytes) = index(meta.innerIndex(coords))
        if (off == -1L && nbytes == -1L) null
        else file.readRange(off, nbytes.toInt)
    }
  }

  /** S8 — version detection: probe `zarr.json`, then `.zgroup`; default v2
    * (mdio/zarr/zarr_driver.h:97-128). */
  def detectVersion(root: VPath): Int =
    if (root.resolve("zarr.json").exists) 3
    else 2

  // ---- group I/O (any Hadoop-FS-backed store) ------------------------------

  def writeGroup(root: VPath, attrs: Option[String], version: Int = 2): Unit = {
    root.mkdirs()
    if (version == 3)
      root.resolve("zarr.json").writeString(
        s"""{"zarr_format": 3, "node_type": "group", "attributes": ${attrs.getOrElse("{}")}}""")
    else {
      root.resolve(".zgroup").writeString("""{"zarr_format": 2}""")
      attrs.foreach(a => root.resolve(".zattrs").writeString(a))
    }
  }

  def writeArray(root: VPath, name: String, meta: ArrayMeta, attrs: Option[String]): Unit = {
    val dir = root.resolve(name)
    dir.mkdirs()
    if (meta.version == 3)
      dir.resolve("zarr.json").writeString(renderArrayMetaV3(meta, attrs))
    else {
      dir.resolve(".zarray").writeString(renderArrayMeta(meta))
      attrs.foreach(a => dir.resolve(".zattrs").writeString(a))
    }
  }

  /** Consolidated metadata (.zmetadata): every .zgroup/.zarray/.zattrs under
    * the root, exactly the keys zarr-python consolidates. */
  def consolidate(root: VPath): Unit = {
    val keys = root.listFilesRecursive()
      .map(p => root.relativize(p))
      .filter(k => k.endsWith(".zgroup") || k.endsWith(".zarray") || k.endsWith(".zattrs"))
      .sorted
    val entries = keys.map { k =>
      val v = root.resolve(k).readString()
      s""""$k": ${v.trim}"""
    }
    val body = entries.mkString(",\n    ")
    root.resolve(".zmetadata").writeString(
      s"""{
         |  "zarr_consolidated_format": 1,
         |  "metadata": {
         |    $body
         |  }
         |}""".stripMargin)
  }

  /** Read a dataset's metadata, auto-detecting the format version:
    * v2 via consolidated `.zmetadata` (or directory listing fallback),
    * v3 by listing children with `zarr.json` array nodes (the reference's
    * duality, mdio/zarr/zarr_v2.h:467-489 / zarr_v3.h:638-653). Returns
    * (groupAttrs, arrayName -> (meta, attrs)). */
  def readGroup(root: VPath): (Option[String], Map[String, (ArrayMeta, Option[String])]) = {
    if (detectVersion(root) == 3) return readGroupV3(root)
    val zmeta = root.resolve(".zmetadata")
    val zmetaStr = zmeta.readBytesOrNull()
    if (zmetaStr != null) {
      val j = JsonMethods.parse(new String(zmetaStr, java.nio.charset.StandardCharsets.UTF_8))
      val entries = (j \ "metadata") match {
        case JObject(fields) => fields.toMap
        case _ => Map.empty[String, JValue]
      }
      val groupAttrs = entries.get(".zattrs").map(JsonMethods.compact)
      val arrays = entries.keys.filter(_.endsWith("/.zarray")).map { k =>
        val name = k.stripSuffix("/.zarray")
        val meta = parseArrayMeta(JsonMethods.compact(entries(k)))
        val attrs = entries.get(s"$name/.zattrs").map(JsonMethods.compact)
        name -> (meta, attrs)
      }.toMap
      (groupAttrs, arrays)
    } else {
      val groupAttrs =
        Option(root.resolve(".zattrs").readBytesOrNull())
          .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
      val arrays = root.list()
        .filter(p => p.isDirectory && p.resolve(".zarray").exists)
        .map { dir =>
          val meta = parseArrayMeta(dir.resolve(".zarray").readString())
          val attrs = Option(dir.resolve(".zattrs").readBytesOrNull())
            .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
          dir.name -> (meta, attrs)
        }.toMap
      (groupAttrs, arrays)
    }
  }

  private def readGroupV3(root: VPath): (Option[String], Map[String, (ArrayMeta, Option[String])]) = {
    val groupJson = JsonMethods.parse(root.resolve("zarr.json").readString())
    val groupAttrs = (groupJson \ "attributes") match {
      case JObject(Nil) | JNothing | JNull => None
      case o => Some(JsonMethods.compact(o))
    }
    val arrays = root.list()
      .filter(p => p.isDirectory && p.resolve("zarr.json").exists)
      .flatMap { dir =>
        val (meta, attrs) = parseArrayMetaV3(dir.resolve("zarr.json").readString())
        Some(dir.name -> (meta, attrs))
      }.toMap
    (groupAttrs, arrays)
  }

  def path(s: String): VPath = VPath(s)
}
