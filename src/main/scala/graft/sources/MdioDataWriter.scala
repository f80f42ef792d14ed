package graft.sources

import graft.zarr.{ChunkCodec, ChunkSource, ZarrMeta}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types._

/** DSv2 write path: `df.write.format("mdio")` in append or overwrite mode,
  * and `df.writeTo(<mdio catalog table>).append()`.
  *
  * The sink is a front on the one owner shuffle: Spark resolves the input
  * against the table schema and hands the frame to
  * [[MdioWriter.insertAligned]], which routes every cell to the one task
  * owning its chunk (or shard) file. Append and overwrite write alike:
  * whole chunks, an existing chunk's untouched cells seeded from its
  * decoded bytes (read-modify-write) and only absent chunks
  * fill-initialized.
  *
  * NULL values mean "leave this cell untouched". Spark's append resolution
  * expands the input to the full table schema with nulls for columns the
  * DataFrame doesn't carry, so partial-VARIABLE writes are the normal case;
  * the null-skip keeps the unmentioned variables' data intact, and their
  * stats stay current.
  */
final case class MdioWriteBuilder(path: String) extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder = this // whole-chunk rewrite either way

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit =
        MdioWriter.insertAligned(data, path)
    }
  }
}

/** The one chunk writer, both sides of the owner shuffle
  * ([[MdioWriter.writeOwned]]) behind every write API: a map task packs its
  * cells into chunk fragments with one ([[pack]]); each owner task merges
  * the fragments it receives into another ([[merge]]), which buffers every
  * owned chunk per variable and flushes the chunk files on [[commit]]. The
  * owner partitioner gives each chunk (or shard) file exactly one task, so
  * no cross-task merge is ever needed. */
final class MdioDataWriter(path: String, dims: Array[String], schema: StructType,
                           vars: Array[(String, ZarrMeta.ArrayMeta)]) {

  private val rank = dims.length
  private val dimIdx: Array[Int] = dims.map(schema.fieldIndex)
  private val varIdx: Array[Int] = vars.map { case (v, _) =>
    val fieldName = if (dims.contains(v)) s"${v}__value" else v
    schema.fieldIndex(fieldName)
  }
  private val anchor = vars.head._2
  private val chunks: Array[Long] = anchor.chunks.toArray
  private val shape: Array[Long] = anchor.shape.toArray
  private val grid: Array[Long] = anchor.chunkGrid.toArray
  private val chunkLen = chunks.product.toInt

  // per variable: chunkId -> buffer (doubles cover f/c; longs cover i/u/b;
  // packed little-endian bytes cover record dtypes, zero-filled like the
  // reference's struct fill)
  private val bufD = Array.fill(vars.length)(scala.collection.mutable.Map[Long, Array[Double]]())
  private val bufL = Array.fill(vars.length)(scala.collection.mutable.Map[Long, Array[Long]]())
  private val bufB = Array.fill(vars.length)(scala.collection.mutable.Map[Long, Array[Byte]]())

  // ---- per-variable dispatch, fixed for the task: pack() runs per cell
  private val kinds: Array[Char] = vars.map(v => MdioDataWriter.kindOf(v._2))
  private val valueTypes: Array[DataType] = varIdx.map(schema.fields(_).dataType)
  private val isU64: Array[Boolean] = vars.map { case (_, m) =>
    m.dtype.charAt(m.dtype.length - 2) == 'u' && m.dtype.endsWith("8") }
  // the value (for complex: each half) is read as a float, not a double
  private val floatIn: Array[Boolean] = Array.tabulate(vars.length) { v =>
    if (kinds(v) == 'c') !vars(v)._2.dtype.endsWith("16") else valueTypes(v) == FloatType }
  // float values round to the stored width BEFORE they are buffered, so the
  // chunk stats describe the stored values (encoding leaves them unchanged);
  // 8 = nothing to round (float64, or a float value bound for float32)
  private val roundWidth: Array[Int] = Array.tabulate(vars.length) { v =>
    val es = vars(v)._2.elemSize
    if (kinds(v) != 'f' || (es == 4 && floatIn(v))) 8 else es }
  private val fills: Array[Double] = Array.tabulate(vars.length) { v =>
    MdioDataWriter.round(vars(v)._2.fillValue.getOrElse(Double.NaN), roundWidth(v)) }
  private val longFills: Array[Long] = Array.tabulate(vars.length) { v =>
    if (isU64(v) && fills(v) > 9.2e18) -1L // u64 max fill, two's complement
    else if (fills(v).isNaN) 0L else fills(v).toLong }
  // sharded (sharding_indexed) variables take float/integral dtypes only:
  // complex/record shard assembly is not wired
  private val shardUnsupported: Array[Boolean] = vars.map { case (_, m) =>
    m.shard.isDefined && (m.fields.isDefined || m.isComplex) }

  private def varDir(v: Int) = ZarrMeta.path(path).resolve(vars(v)._1)

  // ---- sharding_indexed geometry per variable: a sharded variable's
  // chunk FILES are shard objects holding `innerCount` inner chunks behind
  // a footer index; the task owns whole shards (ownershipSizes), buffers
  // inner chunks exactly like plain chunks, and assembles shard objects
  // at commit with untouched inner chunks carried over byte-for-byte.
  private def shardIdOf(m: ZarrMeta.ArrayMeta, cc: Array[Long]): Long = {
    val ips = m.innerPerShard
    val sGrid = m.shardGrid
    var sid = 0L
    var i = 0
    while (i < rank) { sid = sid * sGrid(i) + cc(i) / ips(i); i += 1 }
    sid
  }
  private def shardVPath(v: Int, sid: Long) = {
    val m = vars(v)._2
    m.chunkFile(varDir(v), m.shardCoords(sid).toSeq.zip(m.innerPerShard).map { case (c, ips) => c * ips })
  }

  // read-modify-write seeds: a partial write preserves the untouched cells
  // of an existing chunk (fill only where no chunk file exists), matching
  // the reference's merging accessor writes. A sharded variable's shard
  // object is read once and serves both the seeds and the carried-over
  // inner chunks.
  private lazy val source = new ChunkSource(wholeShards = true)
  private def existing(v: Int, cid: Long): Array[Byte] =
    source.fetch(vars(v)._2, varDir(v), anchor.chunkCoords(cid).toSeq)

  // (java.util.Arrays.fill: Scala's generic Array.fill boxes every cell)
  private def seedD(v: Int, cid: Long, width: Int): Array[Double] = {
    val bytes = existing(v, cid)
    if (bytes == null) { val a = new Array[Double](chunkLen * width); java.util.Arrays.fill(a, fills(v)); a }
    else ChunkSource.decode(vars(v)._2, bytes).asInstanceOf[Array[Double]]
  }

  private def seedL(v: Int, cid: Long): Array[Long] = {
    val bytes = existing(v, cid)
    if (bytes == null) { val a = new Array[Long](chunkLen); java.util.Arrays.fill(a, longFills(v)); a }
    else ChunkSource.decode(vars(v)._2, bytes).asInstanceOf[Array[Long]]
  }

  private def seedB(v: Int, cid: Long, recSize: Int): Array[Byte] = {
    val bytes = existing(v, cid)
    if (bytes == null) new Array[Byte](chunkLen * recSize)
    else ChunkSource.decompress(vars(v)._2, bytes)
  }

  private def bufferD(v: Int, cid: Long): Array[Double] =
    bufD(v).getOrElseUpdate(cid, seedD(v, cid, if (kinds(v) == 'c') 2 else 1))
  private def bufferL(v: Int, cid: Long): Array[Long] = bufL(v).getOrElseUpdate(cid, seedL(v, cid))
  private def bufferB(v: Int, cid: Long): Array[Byte] =
    bufB(v).getOrElseUpdate(cid, seedB(v, cid, recSizes(v)))

  // record-dtype layout per variable (null when not a record dtype)
  private val recFields: Array[Seq[(String, String)]] = vars.map(_._2.fields.orNull)
  private val recSizes: Array[Int] = vars.map { case (_, m) =>
    m.fields.map(_.map(f => ChunkCodec.elemSize(f._2)).sum).getOrElse(0)
  }

  // ---- one cell: where it lands and what it stores
  private var cellOff = 0
  private var cellCid = 0L
  // per dim: the last coordinate seen and its chunk index and in-chunk
  // position — rows mostly arrive in C order, so the outer dims repeat and
  // the inner one steps by one, and neither needs a division
  private val lastCoord = Array.fill(rank)(-2L)
  private val lastQ = new Array[Long](rank)
  private val lastR = new Array[Long](rank)

  /** Sets [[cellOff]] (C-order offset in its chunk) and [[cellCid]]. */
  private def locate(row: InternalRow): Unit = {
    var off = 0L
    var cid = 0L
    var stride = 1L
    var gstride = 1L
    var i = rank - 1
    while (i >= 0) {
      val coord = row.getLong(dimIdx(i))
      if (coord != lastCoord(i)) {
        require(coord >= 0 && coord < shape(i),
          s"coordinate $coord out of domain [0, ${shape(i)}) on dim ${dims(i)}")
        if (coord == lastCoord(i) + 1 && lastR(i) + 1 < chunks(i)) lastR(i) += 1
        else { lastQ(i) = coord / chunks(i); lastR(i) = coord % chunks(i) }
        lastCoord(i) = coord
      }
      off += lastR(i) * stride
      stride *= chunks(i)
      cid += lastQ(i) * gstride
      gstride *= grid(i)
      i -= 1
    }
    cellOff = off.toInt
    cellCid = cid
  }

  /** Whether variable `v` carries a value in `row`. NULL means "leave this
    * cell untouched": Spark's append resolution null-expands table columns
    * the input DataFrame doesn't carry, so a partial-VARIABLE write arrives
    * with the other variables all-null — skipping nulls is what keeps those
    * variables' data intact. */
  private def present(v: Int, row: InternalRow): Boolean =
    !row.isNullAt(varIdx(v)) && {
      // checked on the first actual value, so a sharded variable merely
      // PRESENT in the table (null-expanded) never blocks its unsharded peers
      require(!shardUnsupported(v),
        s"sharded write supports float/integral dtypes, not '${vars(v)._2.dtype}' " +
          s"(variable '${vars(v)._1}')")
      true
    }

  private def doubleAt(v: Int, row: InternalRow): Double = {
    val d = if (floatIn(v)) row.getFloat(varIdx(v)).toDouble else row.getDouble(varIdx(v))
    MdioDataWriter.round(d, roundWidth(v))
  }

  /** An integral value as the stored width keeps it, so the chunk stats
    * describe what a reader gets back. */
  private def longAt(v: Int, row: InternalRow): Long = {
    val vi = varIdx(v)
    val l = valueTypes(v) match {
      case LongType => row.getLong(vi)
      case IntegerType => row.getInt(vi).toLong
      case ShortType => row.getShort(vi).toLong
      case ByteType => row.getByte(vi).toLong
      case BooleanType => if (row.getBoolean(vi)) 1L else 0L
      case dt: DecimalType => // u64 two's-complement wrap
        row.getDecimal(vi, dt.precision, dt.scale).toJavaBigDecimal.toBigInteger.longValue()
      case _ => row.getLong(vi)
    }
    MdioDataWriter.narrow(l, kinds(v), vars(v)._2.elemSize)
  }

  private def complexAt(v: Int, row: InternalRow, buf: Array[Double], at: Int): Unit = {
    val s = row.getStruct(varIdx(v), 2)
    buf(at) = if (floatIn(v)) s.getFloat(0).toDouble else s.getDouble(0)
    buf(at + 1) = if (floatIn(v)) s.getFloat(1).toDouble else s.getDouble(1)
  }

  /** Packs a record value's struct fields little-endian at `buf(base)`. */
  private def recordAt(v: Int, row: InternalRow, buf: Array[Byte], base0: Int): Unit = {
    val fs = recFields(v)
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val s = row.getStruct(varIdx(v), fs.size)
    val sdt = valueTypes(v).asInstanceOf[StructType]
    var base = base0
    var k = 0
    while (k < fs.size) {
      val ft = fs(k)._2
      val es = ChunkCodec.elemSize(ft)
      if (ft.charAt(ft.length - 2) == 'f') {
        val d = sdt.fields(k).dataType match {
          case FloatType => s.getFloat(k).toDouble
          case _ => s.getDouble(k)
        }
        es match {
          case 2 => bb.putShort(base, ChunkCodec.floatToHalf(d.toFloat))
          case 4 => bb.putFloat(base, d.toFloat)
          case _ => bb.putDouble(base, d)
        }
      } else {
        val l = sdt.fields(k).dataType match {
          case LongType => s.getLong(k)
          case IntegerType => s.getInt(k).toLong
          case ShortType => s.getShort(k).toLong
          case ByteType => s.getByte(k).toLong
          case BooleanType => if (s.getBoolean(k)) 1L else 0L
          case _ => s.getLong(k)
        }
        es match {
          case 1 => bb.put(base, l.toByte)
          case 2 => bb.putShort(base, l.toShort)
          case 4 => bb.putInt(base, l.toInt)
          case _ => bb.putLong(base, l)
        }
      }
      base += es
      k += 1
    }
  }

  // ---- the fragment path: map tasks pack() their cells into per-chunk
  // fragments, the owner shuffle routes each to the task owning its chunk
  // (shard) file, and that task merge()s them into its seeded buffers
  private val ownSizes: Array[Long] = MdioWriter.ownershipSizes(vars.map(_._2).toSeq).toArray
  private val ownStrides: Array[Long] = MdioWriter.ownerStrides(shape, ownSizes)

  /** Owner id of chunk `cid`: the linear id of the ownership unit (whole
    * shard or chunk of every variable) holding it. */
  private def ownerOf(cid: Long): Long = {
    val cc = anchor.chunkCoords(cid)
    var o = 0L
    var i = 0
    while (i < rank) { o += cc(i) * chunks(i) / ownSizes(i) * ownStrides(i); i += 1 }
    o
  }

  /** Map side of the owner shuffle: packs the non-NULL cells of `rows` into
    * one [[MdioDataWriter.Fragment]] per (variable, chunk) and emits each as
    * `(owner id, bytes)` — every pending fragment once
    * [[MdioDataWriter.FragmentBudget]] bytes are held, and the rest when the
    * input ends, so a task touching many chunks stays bounded. */
  private[sources] def pack(rows: Iterator[InternalRow]): Iterator[(Long, Array[Byte])] =
    new Iterator[(Long, Array[Byte])] {
      private val pending = Array.fill(vars.length)(scala.collection.mutable.LongMap.empty[MdioDataWriter.Fragment])
      private val last = new Array[MdioDataWriter.Fragment](vars.length) // the last one hit, per variable
      private val ready = scala.collection.mutable.Queue[MdioDataWriter.Fragment]()
      private var held = 0L

      private def fragment(v: Int): MdioDataWriter.Fragment = {
        if (last(v) == null || last(v).cid != cellCid)
          last(v) = pending(v).getOrElseUpdate(cellCid,
            new MdioDataWriter.Fragment(v, cellCid, kinds(v), if (kinds(v) == 'V') recSizes(v) else 1))
        last(v)
      }

      private def add(row: InternalRow): Unit = {
        locate(row)
        var v = 0
        while (v < vars.length) {
          if (present(v, row)) {
            val f = fragment(v)
            held += f.add(cellOff)
            val at = f.n - 1
            kinds(v) match {
              case 'f' => f.d(at) = doubleAt(v, row)
              case 'c' => complexAt(v, row, f.d, at * 2)
              case 'V' => recordAt(v, row, f.b, at * recSizes(v))
              case _ => f.l(at) = longAt(v, row)
            }
          }
          v += 1
        }
      }

      override def hasNext: Boolean = {
        while (ready.isEmpty && rows.hasNext) {
          while (held < MdioDataWriter.FragmentBudget && rows.hasNext) add(rows.next())
          pending.foreach { p => ready ++= p.valuesIterator; p.clear() }
          last.indices.foreach(last(_) = null)
          held = 0L
        }
        ready.nonEmpty
      }

      override def next(): (Long, Array[Byte]) = {
        val f = ready.dequeue()
        ownerOf(f.cid) -> f.toBytes(vars(f.v)._2)
      }
    }

  /** Reduce side of the owner shuffle: writes one packed fragment's cells
    * into the chunk buffer they belong to (seeded from the existing chunk,
    * or the fill where none exists). */
  private[sources] def merge(fragment: Array[Byte]): Unit = {
    val bb = java.nio.ByteBuffer.wrap(fragment)
    val v = bb.getInt()
    val cid = bb.getLong()
    val runs = bb.getInt()
    val starts = Array.fill(runs)(bb.getInt())
    val lens = Array.fill(runs)(bb.getInt())
    val raw = java.util.Arrays.copyOfRange(fragment, bb.position(), fragment.length)
    val dtype = vars(v)._2.dtype
    def scatter(src: AnyRef, dst: AnyRef, width: Int): Unit = {
      var pos = 0
      var r = 0
      while (r < runs) {
        System.arraycopy(src, pos * width, dst, starts(r) * width, lens(r) * width)
        pos += lens(r)
        r += 1
      }
    }
    kinds(v) match {
      case 'f' => scatter(ChunkCodec.decodeDoubles(raw, dtype), bufferD(v, cid), 1)
      case 'c' => scatter(ChunkCodec.decodeComplex(raw, dtype), bufferD(v, cid), 2)
      case 'V' => scatter(raw, bufferB(v, cid), recSizes(v))
      case _ => scatter(ChunkCodec.decodeLongs(raw, dtype), bufferL(v, cid), 1)
    }
  }

  /** Encodes and writes every buffered chunk (whole shard objects for a
    * sharded variable), then returns `(variable, stat row)` for each chunk
    * of a float or integral variable: its exact bounds over the FINAL
    * post-read-modify-write buffer. */
  def commit(): Seq[(String, MdioWriter.ChunkStatRow)] = {
    val stats = Seq.newBuilder[(String, MdioWriter.ChunkStatRow)]
    var v = 0
    while (v < vars.length) {
      val (name, m) = vars(v)
      val kind = kinds(v)
      val isC = kind == 'c'
      def encoded(cid: Long): Array[Byte] = {
        val raw = bufD(v).get(cid)
          .map(b => if (isC) ChunkCodec.encodeComplex(b, m.dtype)
                    else ChunkCodec.encodeDoubles(b, m.dtype))
          .orElse(bufL(v).get(cid).map(ChunkCodec.encodeLongs(_, m.dtype)))
          .orElse(bufB(v).get(cid))
          .get
        ChunkCodec.compress(raw, m.compressor, m.elemSize, m.blosc)
      }
      val cids = (bufD(v).keysIterator ++ bufL(v).keysIterator ++ bufB(v).keysIterator).toSet
      if (m.shard.isEmpty) {
        cids.foreach(cid => m.chunkFile(varDir(v), anchor.chunkCoords(cid).toSeq).replace(encoded(cid)))
      } else {
        // sharded: assemble each owned shard object whole — touched inner
        // chunks from the buffers, untouched ones carried over
        // byte-for-byte from the existing shard
        val innerCount = m.innerPerShard.product.toInt
        val bySid = cids.groupBy(cid => shardIdOf(m, anchor.chunkCoords(cid)))
        bySid.foreach { case (sid, owned) =>
          val file = shardVPath(v, sid)
          val byIdx = owned.iterator.map(cid => m.innerIndex(anchor.chunkCoords(cid).toSeq) -> cid).toMap
          val parts = Array.tabulate(innerCount) { idx =>
            byIdx.get(idx).map(encoded).getOrElse(source.innerChunk(m, file, idx))
          }
          file.replace(ZarrMeta.buildShard(parts))
        }
      }
      def validOf(cid: Long): Array[Int] =
        MdioWriter.validExtents(anchor.chunkCoords(cid), chunks, shape)
      if (kind == 'f')
        stats ++= bufD(v).iterator.map { case (cid, buf) =>
          name -> MdioWriter.floatStat(cid, buf, chunks, validOf(cid)) }
      else if (kind != 'c' && kind != 'V')
        stats ++= bufL(v).iterator.map { case (cid, buf) =>
          name -> (if (isU64(v)) MdioWriter.u64Stat(cid, buf, chunks, validOf(cid))
                   else MdioWriter.longStat(cid, buf, chunks, validOf(cid))) }
      v += 1
    }
    stats.result()
  }

  def close(): Unit = source.close()
}

object MdioDataWriter {
  /** Value family of a variable: 'V' record, 'c' complex, else the dtype's
    * kind character ('f', 'i', 'u', 'b'). */
  private[sources] def kindOf(m: ZarrMeta.ArrayMeta): Char =
    if (m.fields.isDefined) 'V'
    else if (m.isComplex) 'c'
    else m.dtype.charAt(m.dtype.length - 2)

  /** `d` as a float of `width` bytes stores it (float16 through the codec's
    * own conversion); any other width leaves it as is. */
  private def round(d: Double, width: Int): Double = width match {
    case 4 => d.toFloat.toDouble
    case 2 => ChunkCodec.halfToFloat(ChunkCodec.floatToHalf(d.toFloat)).toDouble
    case _ => d
  }

  /** `l` as an integral `kind` of `width` bytes stores it: truncated to the
    * width, unsigned kinds zero-extended, bool as 0/1 — what
    * [[ChunkCodec.decodeLongs]] returns for [[ChunkCodec.encodeLongs]]. */
  private def narrow(l: Long, kind: Char, width: Int): Long =
    if (kind == 'b') { if (l != 0L) 1L else 0L }
    else if (kind == 'i') width match {
      case 1 => l.toByte.toLong
      case 2 => l.toShort.toLong
      case 4 => l.toInt.toLong
      case _ => l
    } else width match {
      case 1 => l & 0xffL
      case 2 => l & 0xffffL
      case 4 => l & 0xffffffffL
      case _ => l
    }

  /** Bytes of packed cells a map task holds before it emits its fragments. */
  private[sources] val FragmentBudget: Long = 16L << 20

  /** A map task's pending cells of one chunk of variable `v`: C-order offset
    * runs over the chunk, plus the values in cell order — doubles for float
    * (one per cell) and complex (two), longs for integral kinds, packed
    * record bytes (`width` per cell). [[toBytes]] stores the values in the
    * variable's dtype, so the shuffle carries stored bytes, not cells. */
  private[sources] final class Fragment(val v: Int, val cid: Long, kind: Char, width: Int) {
    private val perCell = if (kind == 'c') 2 else 1
    private val cellBytes = if (kind == 'V') width else 8 * perCell
    private var starts = new Array[Int](4)
    private var lens = new Array[Int](4)
    private var runs = 0
    private var end = -1
    var n = 0
    var d: Array[Double] = if (kind == 'f' || kind == 'c') new Array[Double](16 * perCell) else null
    var b: Array[Byte] = if (kind == 'V') new Array[Byte](16 * width) else null
    var l: Array[Long] = if (d == null && b == null) new Array[Long](16) else null

    /** Appends the cell at chunk offset `off`, whose value goes in slot
      * `n - 1`; returns the bytes this adds. */
    def add(off: Int): Long = {
      var added = cellBytes.toLong
      if (runs > 0 && off == end) lens(runs - 1) += 1
      else {
        if (runs == starts.length) {
          starts = java.util.Arrays.copyOf(starts, runs * 2)
          lens = java.util.Arrays.copyOf(lens, runs * 2)
        }
        starts(runs) = off
        lens(runs) = 1
        runs += 1
        added += 8
      }
      end = off + 1
      n += 1
      if (d != null && n * perCell > d.length) d = java.util.Arrays.copyOf(d, d.length * 2)
      if (b != null && n * width > b.length) b = java.util.Arrays.copyOf(b, b.length * 2)
      if (l != null && n > l.length) l = java.util.Arrays.copyOf(l, l.length * 2)
      added
    }

    /** `[v][cid][runs][run starts][run lengths][values in m's dtype]`, the
      * layout [[MdioDataWriter.merge]] reads. */
    def toBytes(m: ZarrMeta.ArrayMeta): Array[Byte] = {
      val values = kind match {
        case 'f' => ChunkCodec.encodeDoubles(java.util.Arrays.copyOf(d, n), m.dtype)
        case 'c' => ChunkCodec.encodeComplex(java.util.Arrays.copyOf(d, 2 * n), m.dtype)
        case 'V' => java.util.Arrays.copyOf(b, n * width)
        case _ => ChunkCodec.encodeLongs(java.util.Arrays.copyOf(l, n), m.dtype)
      }
      val bb = java.nio.ByteBuffer.allocate(16 + 8 * runs + values.length)
      bb.putInt(v).putLong(cid).putInt(runs)
      var r = 0
      while (r < runs) { bb.putInt(starts(r)); r += 1 }
      r = 0
      while (r < runs) { bb.putInt(lens(r)); r += 1 }
      bb.put(values).array()
    }
  }
}
