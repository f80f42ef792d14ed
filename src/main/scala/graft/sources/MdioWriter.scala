package graft.sources

import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.zarr.VPath

/** MDIO dataset lifecycle: create-from-spec, chunk-aligned distributed
  * variable writes, metadata commit, trim, delete (SURVEY §2.1
  * S2/S6/S9/S10/S11/S12).
  *
  * The reference writes whole chunk-aligned buffers through one
  * TensorStore write and makes misaligned writes undefined behavior
  * (mdio/variable.h:1127-1134, USER_GUIDE.md "Efficient Assignment"); here
  * alignment is a SHUFFLE CONTRACT instead. [[writeVariable]] and
  * [[insertAligned]] share one owner shuffle ([[writeOwned]]): map tasks
  * pack their cells into per-chunk fragments of stored values, and the
  * fragments route by owner id — the chunk id, or the shard id for
  * sharded variables — through a direct `owner id mod n` partitioner, so
  * exactly one task owns each chunk or shard file and no two owners share
  * a task while they fit: no torn chunks, no read-modify-write races, at
  * any cluster size. The DSv2 sink (`df.write.format("mdio")`, catalog
  * `writeTo`) hands its frame to [[insertAligned]], so every chunk,
  * whichever API wrote it, is written by one [[MdioDataWriter]] behind
  * [[writeOwned]]. Metadata writes happen on the
  * driver after all tasks succeed (the reference's WaitAllFuture
  * all-or-nothing shape, mdio/dataset.h:1030-1040).
  */
object MdioWriter {

  /** Exact per-chunk value bounds + statsV1 moments shipped from write
    * tasks to the [[MdioStatsPublish]] shard-write stage (float and
    * integral payloads share one row shape; `empty` = no finite value in
    * the chunk). Moment sums travel as plain decimal STRINGS — a BigDecimal
    * through a Spark encoder would be coerced to decimal(38,18) and lose
    * the exactness the sidecar promises; `cnt < 0` marks moments absent
    * (±Inf cells, or an integral chunk past the exact fast path). `u64`
    * marks minL/maxL as UNSIGNED bit patterns (the wrapped two's-complement
    * longs the write path carries), unwrapped exactly to [0, 2^64) by
    * [[statEntry]] — bounds serialize as BigDecimal, so u64 stats stay
    * exact past 2^63. */
  private[graft] final case class ChunkStatRow(cid: Long, isFloat: Boolean,
                                                 minD: Double, maxD: Double,
                                                 minL: Long, maxL: Long,
                                                 empty: Boolean,
                                                 nan: Boolean = false,
                                                 cnt: Long = -1L,
                                                 sumS: String = "",
                                                 sumSqS: String = "",
                                                 u64: Boolean = false)

  /** In-domain extents of chunk `cc` per dim: `min(chunk, shape − c·chunk)`.
    * Ragged EDGE chunks' buffers hold fill in their out-of-domain padding
    * cells; stats computed over the whole buffer would absorb that padding
    * (a finite integral fill poisons MIN, a NaN float fill poisons hasNaN
    * and thereby the metadata MAX, any finite fill poisons the moments) —
    * so every stat path iterates ONLY the in-domain region. */
  private[sources] def validExtents(cc: Array[Long], chunks: Array[Long],
                                    shape: Array[Long]): Array[Int] =
    Array.tabulate(cc.length)(i =>
      math.min(chunks(i), shape(i) - cc(i) * chunks(i)).toInt)

  /** Invoke `f` over the in-domain C-order flat offsets of a chunk buffer
    * with full per-dim sizes `chunks` and valid prefix extents `valid`
    * (inner dim contiguous; whole-buffer fast path when nothing is
    * clipped). */
  private[sources] def eachValid(chunks: Array[Long], valid: Array[Int])
                                (f: Int => Unit): Unit = {
    val rank = chunks.length
    val strides = new Array[Long](rank)
    var acc = 1L
    var i = rank - 1
    while (i >= 0) { strides(i) = acc; acc *= chunks(i); i -= 1 }
    var full = true
    i = 0
    while (i < rank) {
      if (valid(i) <= 0) return
      if (valid(i) != chunks(i)) full = false
      i += 1
    }
    if (full) {
      var o = 0
      val n = acc.toInt
      while (o < n) { f(o); o += 1 }
      return
    }
    val idx = new Array[Int](rank)
    var done = false
    while (!done) {
      var base = 0L
      i = 0
      while (i < rank - 1) { base += idx(i) * strides(i); i += 1 }
      val b = base.toInt
      var j = 0
      val innerN = valid(rank - 1)
      while (j < innerN) { f(b + j); j += 1 }
      i = rank - 2
      var carried = true
      while (i >= 0 && carried) {
        idx(i) += 1
        if (idx(i) < valid(i)) carried = false else { idx(i) = 0; i -= 1 }
      }
      if (i < 0 && carried) done = true
    }
  }

  /** Exact bounds + moments of one FINAL chunk buffer (float path) over its
    * IN-DOMAIN cells: finite min/max, NaN presence, all-NaN flag, and the
    * exact sum / sum of squares over the finite cells
    * ([[MdioChunkStats.ExactSum]]) — shared by every stats-aware writer. */
  private[sources] def floatStat(cid: Long, buf: Array[Double],
                                 chunks: Array[Long], valid: Array[Int]): ChunkStatRow =
    floatStatEach(cid)(f => eachValid(chunks, valid)(i => f(buf(i))))

  /** [[floatStat]]'s accumulation over ANY cell walk (`each` drives the
    * value callback once per in-domain cell) — the same exact rules serve
    * write-time chunk buffers and the fsck repair's row scan, so a
    * repaired entry can never drift from what a rewrite would publish. */
  private[graft] def floatStatEach(cid: Long)(each: (Double => Unit) => Unit): ChunkStatRow = {
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var any = false
    var nan = false
    var cnt = 0L
    var sqUnder = false
    val sum = new MdioChunkStats.ExactSum
    val sumSq = new MdioChunkStats.ExactSum
    each { v =>
      if (v.isNaN) nan = true
      else {
        any = true
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (!v.isInfinite) {
          cnt += 1
          sum.add(v)
          // |v| < 1e-150 ⇒ the two-product residual of v² can underflow to
          // a rounded denormal (or zero), silently breaking exactness —
          // drop sumSq for the chunk rather than write an inexact moment
          if (v != 0.0 && math.abs(v) < 1e-150) sqUnder = true
          else sumSq.addSquare(v)
        }
      }
    }
    // ±Inf anywhere ⇒ the whole entry is dropped downstream (statEntry);
    // moments only make sense over an all-finite-or-NaN chunk. The sums
    // themselves can overflow double range mid-accumulation (partials hit
    // ±Inf) — each is dropped independently when it does.
    val finite = !mn.isInfinite && !mx.isInfinite
    val sumOk = any && finite && sum.valid
    val sqOk = sumOk && sumSq.valid && !sqUnder
    ChunkStatRow(cid, isFloat = true, mn, mx, 0L, 0L, empty = !any, nan = nan,
      cnt = if (sumOk) cnt else -1L,
      sumS = if (sumOk) sum.toBigDecimal.underlying.toPlainString else "",
      sumSqS = if (sqOk) sumSq.toBigDecimal.underlying.toPlainString else "")
  }

  /** Exact bounds + moments of one FINAL chunk buffer (integral path) over
    * its IN-DOMAIN cells. Moments stay on the exact fast path as long as
    * the running sum and the per-cell squares fit in a Long
    * (`Math.addExact`/`multiplyExact`); the first overflow abandons
    * moments for the chunk — bounds survive, and the SUM pushdown falls
    * back to a real scan. */
  private[sources] def longStat(cid: Long, buf: Array[Long],
                                chunks: Array[Long], valid: Array[Int]): ChunkStatRow =
    longStatEach(cid)(f => eachValid(chunks, valid)(i => f(buf(i))))

  /** [[longStat]] over any cell walk — see [[floatStatEach]]. */
  private[graft] def longStatEach(cid: Long)(each: (Long => Unit) => Unit): ChunkStatRow = {
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var s = 0L
    var s2 = 0L
    var okS = true
    var okSq = true
    var cnt = 0L
    each { v =>
      cnt += 1
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (okS) try s = Math.addExact(s, v)
               catch { case _: ArithmeticException => okS = false }
      if (okSq) try s2 = Math.addExact(s2, Math.multiplyExact(v, v))
                catch { case _: ArithmeticException => okSq = false }
    }
    ChunkStatRow(cid, isFloat = false, 0.0, 0.0, mn, mx, empty = false,
      cnt = if (okS) cnt else -1L,
      sumS = if (okS) s.toString else "",
      sumSqS = if (okS && okSq) s2.toString else "")
  }

  /** ChunkStatRow → sidecar entry; None when the chunk is unprunable
    * (non-finite bounds from ±Inf cells). */
  private[graft] def statEntry(sr: ChunkStatRow): Option[MdioChunkStats.Entry] = {
    def moments: Option[MdioChunkStats.Moments] =
      if (sr.cnt < 0) None
      else Some(MdioChunkStats.Moments(sr.cnt,
        BigDecimal(new java.math.BigDecimal(sr.sumS)),
        if (sr.sumSqS.isEmpty) None
        else Some(BigDecimal(new java.math.BigDecimal(sr.sumSqS)))))
    def unwrapU64(v: Long): BigDecimal =
      if (v >= 0) BigDecimal(v)
      else BigDecimal(v) + BigDecimal("18446744073709551616")
    if (sr.empty) Some(None)
    else if (sr.isFloat) {
      if (sr.minD.isInfinite || sr.maxD.isInfinite) None // unprunable chunk
      else Some(Some(MdioChunkStats.Bounds(BigDecimal(sr.minD), BigDecimal(sr.maxD),
        sr.nan, moments)))
    } else if (sr.u64) Some(Some(MdioChunkStats.Bounds(
      unwrapU64(sr.minL), unwrapU64(sr.maxL), hasNaN = false, moments)))
    else Some(Some(MdioChunkStats.Bounds(BigDecimal(sr.minL), BigDecimal(sr.maxL),
      hasNaN = false, moments)))
  }

  /** Exact bounds of one FINAL u64 chunk buffer (values stored as wrapped
    * two's-complement longs): min/max under UNSIGNED ordering, serialized
    * exactly to [0, 2^64) by [[statEntry]]. Moments stay absent — an exact
    * u64 sum needs 128-bit accumulation for no pushdown Spark's
    * decimal-typed Sum would accept from this metadata path anyway — so
    * u64 sidecars answer pruning and MIN/MAX, and SUM/AVG fall back to a
    * real scan. */
  private[sources] def u64Stat(cid: Long, buf: Array[Long],
                               chunks: Array[Long], valid: Array[Int]): ChunkStatRow = {
    var mn = 0L
    var mx = 0L
    var first = true
    eachValid(chunks, valid) { i =>
      val v = buf(i)
      if (first) { mn = v; mx = v; first = false }
      else {
        if (java.lang.Long.compareUnsigned(v, mn) < 0) mn = v
        if (java.lang.Long.compareUnsigned(v, mx) > 0) mx = v
      }
    }
    ChunkStatRow(cid, isFloat = false, 0.0, 0.0, mn, mx, empty = false, u64 = true)
  }

  /** S2 — create a dataset from a validated JSON spec: all array metadata +
    * group attrs + (v2) consolidated metadata; no chunk data yet.
    * `version` selects the on-disk format, as the reference's
    * `from_json(..., ZarrVersion)` does (mdio/dataset.h:312-403). */
  def create(spec: MdioSpec.Dataset, path: String, version: Int = 2): Unit = {
    MdioSpec.validate(spec)
    require(version == 2 || version == 3, s"zarr version must be 2 or 3, got $version")
    val root = ZarrMeta.path(path)
    val groupAttrs =
      s"""{"name": ${JsonMethods.compact(JString(spec.name))},
         | "apiVersion": ${spec.apiVersion},
         | "createdOn": ${JsonMethods.compact(JString(spec.createdOn))},
         | "attributes": ${spec.attributes.map(JsonMethods.compact).getOrElse("{}")}}""".stripMargin
    ZarrMeta.writeGroup(root, Some(groupAttrs), version)
    spec.variables.foreach { v =>
      val meta = ZarrMeta.ArrayMeta(
        shape = v.shape, chunks = v.chunks,
        dtype = MdioSpec.zarrDtype(v.dataType),
        compressor = v.compressor,
        fillValue = MdioSpec.fillValue(v.dataType) match {
          case f: Float => Some(f.toDouble)
          case d: Double => Some(d)
          case b: Boolean => Some(if (b) 1.0 else 0.0)
          case n: Number => Some(n.doubleValue())
          case _ => None
        },
        version = version,
        dimNames = Some(v.dimensions.map(_.name)),
        blosc = v.blosc,
        shard = v.shardShape)
      if (v.shardShape.isDefined)
        require(version == 3, s"variable '${v.name}': sharding requires zarr v3")
      val dimsJson = v.dimensions.map(d => s""""${d.name}"""").mkString("[", ", ", "]")
      val extra = v.metadata.map(m => s""", "metadata": ${JsonMethods.compact(m)}""").getOrElse("")
      val longName = v.longName.map(ln => s""", "long_name": ${JsonMethods.compact(JString(ln))}""").getOrElse("")
      val coords = if (v.coordinates.nonEmpty)
        s""", "coordinates": "${v.coordinates.mkString(" ")}"""" else ""
      ZarrMeta.writeArray(root, v.name, meta,
        Some(s"""{"_ARRAY_DIMENSIONS": $dimsJson$longName$coords$extra}"""))
    }
    if (version == 2) ZarrMeta.consolidate(root)
  }

  /** Run one unit of copy work per variable CONCURRENTLY from the driver
    * (bounded pool; Spark's scheduler interleaves the jobs across the
    * cluster), so an N-variable store-lifecycle op costs max(variable),
    * not Σ variables, in wall-time. Each unit is one variable's whole
    * read → shuffle → write pass — units never share chunk files, so the
    * only cross-thread state is Spark's own thread-safe job submission.
    * All units run to completion even when one fails; the first failure
    * then rethrows (the all-or-nothing metadata posture is unchanged —
    * destination metadata was already written by `create`). */
  private[sources] def forEachParallel[A](items: Seq[A])(work: A => Unit): Unit =
    if (items.size <= 1) items.foreach(work)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, 8))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val done = Await.result(
          Future.sequence(items.map(a => Future(scala.util.Try(work(a))))), Duration.Inf)
        done.collectFirst { case scala.util.Failure(e) => throw e }
      } finally pool.shutdown()
    }

  /** Store-to-store chunk-grid migration (rechunk): copy `srcPath` to a
    * new dataset at `dstPath` with the chunk shapes in `newChunks`
    * replacing the originals (variables not named keep theirs). The
    * access-pattern optimization every MDIO deployment eventually runs —
    * a store chunked for inline reads re-chunked for crossline sections —
    * expressed as read → re-shuffle → write: the DSv2 scan streams the
    * source in source-chunk-aligned splits, [[writeVariable]] re-clusters
    * rows by DESTINATION chunk id, and one task owns each new chunk file.
    * The data crosses the cluster exactly once (the shuffle IS the
    * transposition); nothing materializes on the driver, so the shape
    * holds at any store size.
    *
    * Dataset/variable metadata (dims, dtype, compressor, blosc params,
    * coordinates, unitsV1, group attributes) carries over from the stored
    * metadata; fill values re-derive from the dtype defaults, which is
    * value-neutral because every in-domain cell is written explicitly.
    * Rechunking a sharded v3 variable keeps its shard shape and requires
    * the new inner chunks to divide it. Record dtypes are rejected loud.
    *
    * `newShards` re-shards named variables on the way through (v3):
    * a non-empty shape replaces the variable's shard grid (must be a
    * multiple of its destination chunks), an EMPTY Seq removes sharding
    * entirely — so one migration can take a store from flat chunks to
    * `sharding_indexed` or back, the object-count-vs-parallelism knob at
    * cloud scale. */
  def rechunk(spark: SparkSession, srcPath: String, dstPath: String,
              newChunks: Map[String, Seq[Long]], version: Int = 2,
              newShards: Map[String, Seq[Long]] = Map.empty): Unit = {
    val spec = reconstructSpec(srcPath, "rechunk", newChunks, Map.empty,
      newShards = newShards)
    delete0(dstPath)
    create(spec, dstPath, version)
    forEachParallel(spec.variables) { v =>
      val df = spark.read.format("mdio").option("variables", v.name).load(srcPath)
      writeVariable(spark, df, dstPath, v.name)
    }
  }

  /** Subvolume extraction: cut the half-open index `region` of `srcPath`
    * into a standalone dataset at `dstPath` — "give me this subcube as
    * its own survey", the companion workflow to [[rechunk]]. Dimensions
    * named in `region` shrink to `stop − start` and indices shift to
    * zero-origin; coordinate VALUES carry over unchanged, so value-based
    * `sel` keeps meaning on the extract. Chunk (and v3 shard) shapes
    * clamp to the new extents, preserving alignment where they fit.
    *
    * Scale shape: the source scan pushes the region bounds into the
    * connector (only overlapping chunks are read at all), the index shift
    * is a narrow map, and [[writeVariable]]'s owner shuffle routes the
    * cells to one task per destination chunk — extracting a 1 TB subcube
    * from a 100 TB survey reads and shuffles 1 TB, driver stays O(1).
    *
    * Out-of-domain regions: the DEFAULT is to reject loud — a deliberate
    * deviation from the reference's in-engine `isel`, which clamps slices
    * into the domain (mdio/variable.h:1211-1232; the engine-side
    * `MdioDataset.isel` here clamps too). For a STORE-COPY the clamp
    * default would silently produce a smaller store than asked for;
    * callers who want the reference's slicing semantics pass
    * `clamp = true` and get start/stop clamped into [0, extent] with an
    * all-outside region still rejected loud (an empty store copy is
    * never what anyone meant). */
  def extract(spark: SparkSession, srcPath: String, dstPath: String,
              region: Map[String, (Long, Long)], version: Int = 2,
              clamp: Boolean = false): Unit = {
    require(region.nonEmpty, "extract: empty region")
    val region1 = if (!clamp) region else {
      val (_, arrays) = ZarrMeta.readGroup(ZarrMeta.path(srcPath))
      def extentOf(dim: String): Option[Long] = arrays.values.flatMap { case (meta, attrs) =>
        val ds = meta.dimNames.orElse(attrs.flatMap(MdioTableUtil.arrayDimensions))
          .getOrElse(Seq.empty)
        val i = ds.indexOf(dim)
        if (i >= 0) Some(meta.shape(i)) else None
      }.headOption
      region.map { case (d, (start, stop)) =>
        val ext = extentOf(d).getOrElse(throw new IllegalArgumentException(
          s"extract: no dimension '$d' at $srcPath"))
        val s2 = math.min(math.max(start, 0L), ext)
        val p2 = math.max(math.min(stop, ext), 0L)
        require(p2 > s2,
          s"extract: region [$start, $stop) on '$d' clamps to empty (extent $ext)")
        d -> ((s2, p2))
      }
    }
    val resize = region1.map { case (dim, (start, stop)) =>
      require(start >= 0 && stop > start,
        s"extract: need 0 <= start < stop on '$dim', got [$start, $stop)")
      dim -> (stop - start)
    }
    val spec = reconstructSpec(srcPath, "extract", Map.empty, resize,
      resizeStop = region1.map { case (d, (_, stop)) => d -> stop })
    region1.keys.foreach { dim =>
      require(spec.variables.exists(_.dimensions.exists(_.name == dim)),
        s"extract: no dimension '$dim' at $srcPath") }
    delete0(dstPath)
    create(spec, dstPath, version)
    forEachParallel(spec.variables) { v =>
      var df = spark.read.format("mdio").option("variables", v.name).load(srcPath)
      v.dimensions.foreach { d =>
        region1.get(d.name).foreach { case (start, stop) =>
          df = df.filter(col(d.name) >= start && col(d.name) < stop)
            .withColumn(d.name, col(d.name) - start)
        }
      }
      writeVariable(spark, df, dstPath, v.name)
    }
  }

  /** Dimension transposition: rewrite `srcPath` with the named variables'
    * dimensions permuted to `newOrder` — the "optimize for depth slices"
    * companion to [[rechunk]] (C-order puts the LAST dimension contiguous
    * on disk, so a (inline, crossline, depth) cube that serves depth-slice
    * reads wants (depth, inline, crossline) storage). Chunk and shard
    * shapes permute with their dimensions; the long-form row data is
    * order-agnostic (rows carry absolute indices per dimension NAME), so
    * the copy is the same read → chunk-id-shuffle → write single pass as
    * rechunk, with the shuffle now clustering by the PERMUTED chunk
    * grid. */
  def transpose(spark: SparkSession, srcPath: String, dstPath: String,
                newOrder: Map[String, Seq[String]], version: Int = 2): Unit = {
    require(newOrder.nonEmpty, "transpose: no variables named")
    val spec = reconstructSpec(srcPath, "transpose", Map.empty, Map.empty,
      permute = newOrder)
    delete0(dstPath)
    create(spec, dstPath, version)
    forEachParallel(spec.variables) { v =>
      val df = spark.read.format("mdio").option("variables", v.name).load(srcPath)
      writeVariable(spark, df, dstPath, v.name)
    }
  }

  /** Store concatenation: append `srcB` to `srcA` along `dim` into a new
    * dataset at `dstPath` — the survey-merge workflow ([[extract]]'s
    * inverse: two acquisition campaigns, one store). Variables carrying
    * `dim` get `sizeA + sizeB` extent with B's indices shifted by A's
    * extent; variables WITHOUT `dim` (other-axis coordinates, headers)
    * must agree between the stores and copy from A — agreement is checked
    * on dtype/dims/shape AND on values (order-independent distributed
    * checksum; a mismatch rejects loud). Chunk grids and all
    * metadata come from A (B is re-chunked onto A's grid by the write
    * shuffle — concatenation is exactly the rechunk copy pass run twice
    * into one destination, so the cost is one read+shuffle+write of each
    * source). */
  def concat(spark: SparkSession, srcA: String, srcB: String, dstPath: String,
             dim: String, version: Int = 2): Unit = {
    val (_, arraysA) = ZarrMeta.readGroup(ZarrMeta.path(srcA))
    val (_, arraysB) = ZarrMeta.readGroup(ZarrMeta.path(srcB))
    require(arraysA.keySet == arraysB.keySet,
      s"concat: variable sets differ: ${arraysA.keySet} vs ${arraysB.keySet}")
    def dimsOf(arrays: Map[String, (ZarrMeta.ArrayMeta, Option[String])],
               name: String): Seq[String] = {
      val (meta, attrs) = arrays(name)
      meta.dimNames.orElse(attrs.flatMap(MdioTableUtil.arrayDimensions))
        .getOrElse(throw new IllegalArgumentException(
          s"concat: no dimension labels for '$name'"))
    }
    val withDim = arraysA.keys.filter(n => dimsOf(arraysA, n).contains(dim)).toSeq
    require(withDim.nonEmpty, s"concat: no variable carries dimension '$dim'")
    val extA = arraysA(withDim.head)._1.shape(dimsOf(arraysA, withDim.head).indexOf(dim))
    val extB = arraysB(withDim.head)._1.shape(dimsOf(arraysB, withDim.head).indexOf(dim))
    arraysA.keys.foreach { n =>
      val (ma, _) = arraysA(n); val (mb, _) = arraysB(n)
      require(ma.dtype == mb.dtype, s"concat: dtype mismatch on '$n'")
      val (da, db) = (dimsOf(arraysA, n), dimsOf(arraysB, n))
      require(da == db, s"concat: dimension mismatch on '$n': $da vs $db")
      da.indices.foreach { i =>
        if (da(i) == dim)
          require(ma.shape(i) == extA && mb.shape(i) == extB,
            s"concat: inconsistent '$dim' extents on '$n'")
        else require(ma.shape(i) == mb.shape(i),
          s"concat: off-axis extent mismatch on '$n' dim '${da(i)}'")
      }
    }
    val spec = reconstructSpec(srcA, "concat", Map.empty,
      Map(dim -> (extA + extB)), allowGrow = true)
    delete0(dstPath)
    create(spec, dstPath, version)
    forEachParallel(spec.variables) { v =>
      // A-then-B stays SEQUENTIAL within a variable: when extA is not
      // chunk-aligned the seam chunk is written by both passes and B's
      // read-modify-write must see A's cells; only variables parallelize
      val carries = v.dimensions.exists(_.name == dim)
      val dfA = spark.read.format("mdio").option("variables", v.name).load(srcA)
      writeVariable(spark, dfA, dstPath, v.name)
      if (carries) {
        val dfB = spark.read.format("mdio").option("variables", v.name).load(srcB)
          .withColumn(dim, col(dim) + extA)
        writeVariable(spark, dfB, dstPath, v.name)
      } else {
        // the doc contract says off-axis variables "must agree between the
        // stores" — enforce it on VALUES, not just shape/dtype, with an
        // order-independent distributed checksum (sum of per-row xxhash64
        // over all columns; rows carry their absolute indices, so equal
        // multisets here mean equal arrays). Off-axis variables are the
        // small side of a store (coordinates/headers), so two extra scans
        // of them cost ~nothing next to the concat copy itself.
        def sig(df: DataFrame): java.math.BigDecimal = // decimal sum: ANSI-safe, no Long overflow
          df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("__h"))
            .agg(coalesce(sum(col("__h")), lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
        val dfB = spark.read.format("mdio").option("variables", v.name).load(srcB)
        require(sig(dfA) == sig(dfB),
          s"concat: off-axis variable '${v.name}' values differ between stores")
      }
    }
  }

  /** Rebuild an [[MdioSpec.Dataset]] from a store's on-disk metadata,
    * with per-variable chunk overrides and/or dimension resizes — the
    * shared front half of [[rechunk]] and [[extract]]. Dims, dtype,
    * compressor, blosc params, coordinates, unitsV1, long_name, and group
    * attributes carry over; record dtypes reject loud. */
  private def reconstructSpec(srcPath: String, op: String,
                              newChunks: Map[String, Seq[Long]],
                              resize: Map[String, Long],
                              permute: Map[String, Seq[String]] = Map.empty,
                              allowGrow: Boolean = false,
                              resizeStop: Map[String, Long] = Map.empty,
                              newShards: Map[String, Seq[Long]] = Map.empty)
      : MdioSpec.Dataset = {
    val (groupAttrs, arrays) = ZarrMeta.readGroup(ZarrMeta.path(srcPath))
    require(arrays.nonEmpty, s"$op: no arrays at $srcPath")
    (newChunks.keys ++ permute.keys ++ newShards.keys).foreach { n =>
      require(arrays.contains(n), s"$op: no variable '$n' at $srcPath") }
    val toMdio: Map[String, String] = Seq(
      "bool", "int8", "int16", "int32", "int64", "uint8", "uint16",
      "uint32", "uint64", "float16", "float32", "float64", "complex64",
      "complex128").map(t => MdioSpec.zarrDtype(t) -> t).toMap
    val variables = arrays.toSeq.sortBy(_._1).map { case (name, (meta, attrs)) =>
      require(meta.fields.isEmpty,
        s"$op: record dtype variable '$name' is not supported")
      val srcDims = meta.dimNames
        .orElse(attrs.flatMap(MdioTableUtil.arrayDimensions))
        .getOrElse(throw new IllegalArgumentException(
          s"$op: no dimension labels for '$name' at $srcPath"))
      // dimension permutation (transpose): reorder dims/shape/chunks/shard
      // jointly; the permutation must be exactly the variable's dim set
      val ixs = permute.get(name).map { order =>
        require(order.sorted == srcDims.sorted,
          s"$op: order $order is not a permutation of $srcDims on '$name'")
        order.map(srcDims.indexOf(_))
      }.getOrElse(srcDims.indices)
      def perm[A](xs: Seq[A]): Seq[A] = ixs.map(xs)
      val dims = perm(srcDims)
      val shape = perm(meta.shape)
      val srcChunks = perm(meta.chunks)
      val srcShard = meta.shard.map(perm)
      val sizes = dims.zip(shape).map { case (n, s) =>
        resize.get(n).map { ns =>
          // length alone can't catch [start, stop) with stop past the end
          // (e.g. [4,12) on extent 8 has a legal length); check the absolute
          // stop too, else unwritten destination cells would read back as
          // fill — fabricated data instead of a loud failure
          resizeStop.get(n).foreach { stop =>
            require(stop <= s,
              s"$op: region exceeds '$n' extent $s on '$name' (stop $stop)") }
          require(allowGrow || ns <= s,
            s"$op: region exceeds '$n' extent $s on '$name'")
          ns
        }.getOrElse(s)
      }
      val chunks = newChunks.getOrElse(name,
        srcChunks.zip(sizes).map { case (c, s) => math.min(c, s) })
      require(chunks.size == meta.shape.size && chunks.forall(_ > 0),
        s"$op: chunk shape $chunks does not fit rank-${meta.shape.size} '$name'")
      // explicit re-shard: caller-named shapes replace the shard grid
      // (empty Seq = un-shard); explicit rechunk: the caller's chunks must
      // divide the kept shard, loud. resize (extract): clamp the shard to
      // the new extent, snapped down to a chunk multiple so
      // sharding_indexed alignment survives the cut
      val shard =
        if (newShards.contains(name)) {
          val ns = newShards(name)
          if (ns.isEmpty) None
          else {
            require(ns.size == chunks.size &&
              ns.zip(chunks).forall { case (sh, c) => sh > 0 && sh % c == 0 },
              s"$op: shard $ns must be a positive multiple of chunks $chunks on '$name'")
            Some(ns)
          }
        } else if (newChunks.contains(name)) {
          srcShard.foreach { sh =>
            require(sh.zip(chunks).forall { case (s, c) => s % c == 0 },
              s"$op: new chunks $chunks must divide shard shape $sh of '$name'") }
          srcShard
        } else srcShard.map(_.zip(chunks).zip(sizes).map {
          case ((sh, c), s) => math.max(c, (math.min(sh, s) / c) * c)
        })
      val aj = attrs.map(JsonMethods.parse(_))
      MdioSpec.Variable(
        name = name,
        dataType = toMdio.getOrElse(meta.dtype, throw new IllegalArgumentException(
          s"$op: no MDIO dtype for '${meta.dtype}' ('$name')")),
        dimensions = dims.zip(sizes).map { case (n, s) => MdioSpec.Dimension(n, s) },
        longName = aj.map(_ \ "long_name").collect { case JString(s) => s },
        chunkShape = Some(chunks),
        compressor = meta.compressor,
        coordinates = attrs.toSeq.flatMap(MdioTableUtil.coordinatesAttr),
        metadata = aj.map(_ \ "metadata").filter(j => j != JNothing && j != JNull),
        blosc = meta.blosc,
        shardShape = shard)
    }
    val g = groupAttrs.map(JsonMethods.parse(_))
    def gstr(field: String, dflt: String): String =
      g.map(_ \ field).collect { case JString(s) => s }.getOrElse(dflt)
    MdioSpec.Dataset(
      name = gstr("name", op),
      apiVersion = g.map(_ \ "apiVersion").collect {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong }.getOrElse(1L),
      createdOn = gstr("createdOn", "1970-01-01T00:00:00Z"),
      variables = variables,
      attributes = g.map(_ \ "attributes")
        .filter(j => j != JNothing && j != JNull && j != JObject(Nil)))
  }

  /** S6 — distributed chunk-aligned write of one variable.
    *
    * `df` columns: the variable's dimension columns (long) + a value column
    * named after the variable — or `<name>__value` when the variable IS a
    * dimension coordinate (its name equals its dim column, mirroring the
    * reader's aliasing). Rows outside the domain error; absent cells
    * materialize the fill value, and a NULL value leaves its cell untouched
    * (the DSv2 sink's contract — it is the same route). A NULL coordinate,
    * or a NULL `re`/`im` half or record field inside a non-NULL value,
    * fails the job before any chunk is written.
    *
    * Plan shape: one narrow projection, then the owner shuffle
    * ([[writeOwned]]): each map task packs its cells into one fragment per
    * chunk — offset runs plus the values in the stored dtype, flushed at a
    * fixed per-task byte budget — and the fragments route by OWNER id (the
    * chunk id, or the shard id for a `sharding_indexed` variable, mod the
    * task count), so one task owns each chunk or shard file and in it an
    * [[MdioDataWriter]] merges, encodes and writes the chunks it
    * owns; the stat rows then publish the stats sidecar in the same job.
    * The shuffle carries the stored bytes once — a float32 volume ships
    * ~1× its size, not a long-form row per cell — and chunk files stream
    * out in parallel across all executors. */
  def writeVariable(spark: SparkSession, df: DataFrame, path: String, variable: String): Unit = {
    val root = ZarrMeta.path(path)
    val (_, arrays) = ZarrMeta.readGroup(root)
    val (meta, attrs) = arrays.getOrElse(variable,
      throw new IllegalArgumentException(s"no variable '$variable' at $path"))
    val dims = attrs.flatMap(MdioTableUtil.arrayDimensions).getOrElse(
      throw new IllegalArgumentException(s"variable '$variable' lacks _ARRAY_DIMENSIONS"))

    require(meta.shard.isEmpty || (meta.fields.isEmpty && !meta.isComplex),
      s"sharded write supports float/integral dtypes, not '${meta.dtype}'")
    // value representation per dtype family: double for 'f'; long for
    // 'i'/'u'/'b' (lossless for int64; uint64 arrives as decimal and wraps
    // to two's complement), so no integral value ever rides a double;
    // struct(re, im) of the dtype's half type for complex; per-field
    // double/long for records
    val valueCol = if (dims.contains(variable)) s"${variable}__value" else variable
    val c = col(valueCol)
    val kind = MdioDataWriter.kindOf(meta)
    // the sink's NULL contract covers a whole value only: a NULL inside one
    // (or a NULL coordinate) fails in the projection, before the shuffle
    def nonNull(e: Column, what: String): Column = nonNullOr(e, s"$what writing '$variable'")
    val value = kind match {
      case 'f' => c.cast("double")
      case 'c' => when(c.isNotNull, struct(nonNull(c.getField("re"), "re"),
        nonNull(c.getField("im"), "im")).cast(MdioTableUtil.sparkTypeOf(meta.dtype)))
      case 'V' => when(c.isNotNull, struct(meta.fields.get.map { case (n, ft) =>
        nonNull(c.getField(n).cast(if (ft.charAt(ft.length - 2) == 'f') "double" else "long"),
          s"field '$n'").as(n) }: _*))
      case 'u' if meta.dtype.endsWith("8") =>
        // wrap [2^63, 2^64) into negative two's-complement longs
        val v = c.cast("decimal(21,0)")
        when(v >= lit(BigDecimal("9223372036854775808")),
          (v - lit(BigDecimal("18446744073709551616"))).cast("long"))
          .otherwise(v.cast("long"))
      case _ => c.cast("long")
    }
    val projected = df.select(
      dims.map(d => nonNull(col(d).cast("long"), s"coordinate on dim '$d'").as(d)) :+ value.as(valueCol): _*)
    writeOwned(spark, projected, path, dims, Seq(variable -> meta))
  }

  /** `e`, or a `NULL <what>` error raised in the projection when it is NULL. */
  private def nonNullOr(e: Column, what: String): Column =
    when(e.isNull, raise_error(lit(s"NULL $what"))).otherwise(e)

  /** Per-dim task-ownership sizes for a parallel write: the LCM over the
    * written variables of their shard size (sharded) or chunk size
    * (unsharded) along each dim — an ownership unit then covers whole shard
    * objects and whole chunk files of every variable. Shard shapes are
    * chunk multiples by construction, so this stays the shared chunk shape
    * on unsharded stores. */
  private[sources] def ownershipSizes(ms: Seq[ZarrMeta.ArrayMeta]): Seq[Long] = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b
    (0 until ms.head.rank).map { i =>
      ms.foldLeft(1L)((acc, m) => lcm(acc, m.shard.map(_(i)).getOrElse(m.chunks(i))))
    }
  }

  /** Per-dim ownership-unit counts: `own` cells per unit over `shape`. */
  private def ownerGrid(shape: Array[Long], own: Array[Long]): Array[Long] =
    Array.tabulate(shape.length)(i => (shape(i) + own(i) - 1) / own(i))

  /** C-order strides of [[ownerGrid]]: owner id = Σ (coord / own) · stride. */
  private[sources] def ownerStrides(shape: Array[Long], own: Array[Long]): Array[Long] = {
    val g = ownerGrid(shape, own)
    Array.tabulate(g.length)(i => g.drop(i + 1).product)
  }

  /** Writer tasks for `owners` ownership units: one per unit up to the
    * cluster's parallelism, so no two units share a task while they fit. */
  private def ownerTasks(spark: SparkSession, owners: Long): Int =
    math.max(1L, math.min(owners, spark.sparkContext.defaultParallelism.toLong)).toInt

  /** The owner shuffle's partitioner: owner id mod n. Owner ids are dense
    * from 0, so up to n owners land in n distinct tasks — a hash would
    * collide some of them while other tasks idle. */
  private[sources] final class OwnerPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = java.lang.Math.floorMod(key.asInstanceOf[Long], n.toLong).toInt
  }

  /** The one owner shuffle behind [[writeVariable]] and [[insertAligned]].
    * `projected` holds long `dims` columns plus one value column per
    * variable of `vars` (all on `dims`), typed as [[MdioDataWriter]] reads
    * them. Its map tasks [[MdioDataWriter.pack]] their cells into chunk
    * fragments; the fragments shuffle by owner id ([[OwnerPartitioner]]),
    * and in each reduce task an [[MdioDataWriter]] merges them into its
    * seeded chunk buffers, then encodes, writes and reports each chunk's
    * stats. The stat rows shuffle on into [[MdioStatsPublish]]: chunk
    * files and stats sidecars are one job, run as one SQL execution of
    * `projected` (its observed metrics and listeners see the write). */
  private def writeOwned(spark: SparkSession, projected: DataFrame, path: String,
                         dims: Seq[String], vars: Seq[(String, ZarrMeta.ArrayMeta)]): Unit = {
    val root = ZarrMeta.path(path)
    val hc = graft.zarr.HConf.capture() // executor JVMs have no SparkSession
    val schema = projected.schema
    val dimArr = dims.toArray
    val varArr = vars.toArray
    val own = ownershipSizes(vars.map(_._2)).toArray
    val n = ownerTasks(spark, ownerGrid(vars.head._2.shape.toArray, own).product)
    // complex/record chunks get no stats: bump BEFORE the action — the write
    // mutates chunks in place, so a mid-job failure must already read as
    // stale (the success end-state is the same stale generation). The
    // publish bumps every other variable before its action too.
    val (bounded, unbounded) = vars.partition { case (_, m) => m.fields.isEmpty && !m.isComplex }
    unbounded.foreach { case (v, _) => MdioChunkStats.bump(root.resolve(v)) }
    val slot = bounded.map(_._1).zipWithIndex.toMap
    val qe = projected.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
        Some(s"mdio write ${vars.map(_._1).mkString(",")} at $path")) {
      val statRows = qe.toRdd
        .mapPartitions { rows =>
          VPath.install(hc.value)
          new MdioDataWriter(path, dimArr, schema, varArr).pack(rows)
        }
        .partitionBy(new OwnerPartitioner(n))
        .mapPartitions { frags =>
          VPath.install(hc.value)
          // per-chunk stats ride out of the write tasks for free: each task
          // holds the FINAL post-read-modify-write chunk buffers, so their
          // bounds are exact; the rows never collect to the driver
          val writer = new MdioDataWriter(path, dimArr, schema, varArr)
          val stats = try { frags.foreach(f => writer.merge(f._2)); writer.commit() } finally writer.close()
          stats.iterator.map { case (v, sr) => slot(v) -> sr }
        }
      MdioStatsPublish.publishRows(spark, hc,
        bounded.map { case (v, m) => root.resolve(v).toString -> m.chunkGrid.toArray }, statRows)
    }
  }

  /** S10 / F5 — update a variable's (or the group's, variable="") user
    * attributes with RFC 7386 merge-patch semantics, then re-consolidate
    * (the reference's UpdateAttributes + CommitMetadata,
    * mdio/variable.h:881-910, mdio/dataset.h:1269-1416). */
  def updateAttributes(path: String, variable: String, patch: String): Unit = {
    val root = ZarrMeta.path(path)
    if (ZarrMeta.detectVersion(root) == 3) {
      // v3: attributes live inside the node's zarr.json
      val target = (if (variable.isEmpty) root else root.resolve(variable)).resolve("zarr.json")
      val node = JsonMethods.parse(target.readString())
      val merged = mergePatch(node \ "attributes", JsonMethods.parse(patch))
      val updated = node match {
        case JObject(fields) =>
          JObject(fields.filterNot(_._1 == "attributes") :+ ("attributes" -> merged))
        case other => other
      }
      target.writeString(JsonMethods.pretty(updated))
    } else {
      val target = if (variable.isEmpty) root.resolve(".zattrs")
                   else root.resolve(variable).resolve(".zattrs")
      val current = if (target.exists) JsonMethods.parse(target.readString()) else JObject()
      val merged = mergePatch(current, JsonMethods.parse(patch))
      target.writeString(JsonMethods.compact(merged))
      ZarrMeta.consolidate(root)
    }
  }

  /** RFC 7386 JSON merge-patch (reference uses nlohmann merge_patch). */
  def mergePatch(target: JValue, patch: JValue): JValue = patch match {
    case JObject(pf) =>
      val tf = target match { case JObject(f) => f.toMap; case _ => Map.empty[String, JValue] }
      val merged = pf.foldLeft(tf) {
        case (acc, (k, JNull)) => acc - k
        case (acc, (k, v)) => acc.updated(k, mergePatch(acc.getOrElse(k, JObject()), v))
      }
      JObject(merged.toList)
    case other => other
  }

  /** S11 — trim: shrink a dimension on disk, optionally deleting orphaned
    * chunk files, and republish metadata (mdio/utils/trim.h:45-117). */
  def trim(path: String, dim: String, newSize: Long, deleteChunks: Boolean = true): Unit = {
    val root = ZarrMeta.path(path)
    val (_, arrays) = ZarrMeta.readGroup(root)
    arrays.foreach { case (name, (meta, attrs)) =>
      val dims = meta.dimNames
        .orElse(attrs.flatMap(MdioTableUtil.arrayDimensions)).getOrElse(Nil)
      val di = dims.indexOf(dim)
      if (di >= 0) {
        require(newSize <= meta.shape(di), s"trim grows dimension '$dim'")
        val newMeta = meta.copy(shape = meta.shape.updated(di, newSize))
        val arrayDir = root.resolve(name)
        // STATS RETENTION FIRST — crash-ordering: dropping the boundary/past
        // entries before the shape shrinks is conservative at every
        // intermediate state (a missing entry only disables pruning and
        // metadata-only answers for that chunk; the cells it covered are
        // still in the old domain and still readable), whereas shrinking
        // the shape first would leave a window where generation-current
        // entries cover now-out-of-domain cells — a metadata MIN/MAX in
        // that window could answer from dropped cells. Leading-dim trims
        // retain by MANIFEST SURGERY — one shard file opened regardless of
        // store size ([[MdioChunkStats.trimLeadSurgery]]); trailing-dim
        // trims filter each shard from executors
        // ([[MdioStatsPublish.trimFilterShards]]), falling back to the
        // driver-side O(entries) filter only without an active session or
        // against a legacy monolithic sidecar.
        val chunkKeep = newSize / meta.chunks(di) // FULL chunks along di
        if (di == 0) MdioChunkStats.trimLeadSurgery(arrayDir, chunkKeep)
        else {
          val distributed = SparkSession.getActiveSession.exists(s =>
            MdioStatsPublish.trimFilterShards(s, arrayDir.uri, di, chunkKeep))
          if (!distributed) MdioChunkStats.current(arrayDir) match {
            case Some(entries) =>
              MdioChunkStats.replace(arrayDir, entries.filter { case (k, _) =>
                k.split("\\.")(di).toLong < chunkKeep })
            case None => MdioChunkStats.bump(arrayDir)
          }
        }
        if (meta.version == 3)
          arrayDir.resolve("zarr.json").writeString(
            ZarrMeta.renderArrayMetaV3(newMeta, attrs))
        else
          arrayDir.resolve(".zarray").writeString(ZarrMeta.renderArrayMeta(newMeta))
        if (deleteChunks) {
          // file keys are shard-granular when sharded — a kept shard may
          // still hold inner chunks past the new size; reads clamp them out
          val unit = meta.shard.map(_(di)).getOrElse(meta.chunks(di))
          val keep = (newSize + unit - 1) / unit
          if (meta.version == 3) {
            val cDir = arrayDir.resolve("c")
            if (di == 0) {
              // v3's hierarchical layout puts dim0 at the TOP directory
              // level, so everything past a leading-dim boundary is whole
              // subtrees: the driver streams O(dim0 file-units) names and
              // executors delete each subtree — the inner-level listing
              // (the O(chunks) part) never touches the driver.
              val doomed = cDir.listIterator().filter(p =>
                scala.util.Try(p.name.toLong).toOption.exists(_ >= keep))
              distributedDeleteStream(doomed, recursive = true)
            } else {
              val doomed = cDir.listFilesRecursiveIterator()
                .filter { p =>
                  val coords = cDir.relativize(p).split("/")
                    .flatMap(s => scala.util.Try(s.toLong).toOption)
                  coords.length == dims.size && coords(di) >= keep
                }
              distributedDeleteStream(doomed, recursive = false)
            }
          } else {
            // the flat v2 namespace streams too: chunk files are exactly
            // the all-numeric dot-keys (hidden sidecars start with '.'),
            // so the NAME decides — no per-file status RPC, and the
            // doomed list never materializes on the driver
            val doomed = arrayDir.listIterator()
              .filter { p =>
                !p.name.startsWith(".") && {
                  val coords = p.name.split("\\.")
                    .flatMap(s => scala.util.Try(s.toLong).toOption)
                  coords.length == dims.size && coords(di) >= keep
                }
              }
            distributedDeleteStream(doomed, recursive = false)
          }
        }
      }
    }
    if (ZarrMeta.detectVersion(root) == 2) ZarrMeta.consolidate(root)
  }

  /** Per-executor-task batch size for [[distributedDelete]], and the floor
    * below which a Spark job costs more than the deletes themselves. */
  private val DeleteBatch = 256

  /** Driver-held name cap for a STREAMED delete: a lazy listing drains in
    * batches of this many names, so a trim's doomed-file pass holds
    * O(batch) strings however many chunks fall past the boundary (the
    * 100 TB envelope is ~1.6 M chunk files per variable — the full list
    * must never materialize on the driver). Var for the spec's
    * bounded-memory pin. */
  private[sources] var DeleteStreamBatch: Int = 1 << 16

  /** TEST HOOK: largest batch [[distributedDeleteStream]] materialized. */
  private[sources] val deleteStreamHeldMax = new java.util.concurrent.atomic.AtomicLong

  /** [[distributedDelete]] over a LAZY listing: drains `paths` in
    * [[DeleteStreamBatch]]-name driver batches (each distributed to
    * executors as usual), interleaving Hadoop LIST pages with delete jobs
    * — peak driver memory is one batch plus one listing page, not the
    * doomed-file count. */
  private def distributedDeleteStream(paths: Iterator[VPath], recursive: Boolean): Unit =
    paths.grouped(DeleteStreamBatch).foreach { batch =>
      deleteStreamHeldMax.getAndAccumulate(batch.size.toLong, math.max(_, _))
      distributedDelete(batch, recursive)
    }

  /** Delete `paths` from EXECUTORS: trim at the 100 TB envelope
    * (~1.6 M chunk files / variable) must not issue delete RPCs serially
    * from the driver. Tiny FILE sets (or no active session — pure-library
    * use) delete inline, where a job scheduler round-trip would dominate;
    * RECURSIVE deletes distribute from 2 paths up — each path is a whole
    * subtree (a trailing-heavy geometry has FEW leading dirs holding
    * millions of files each, exactly where serial driver recursion is the
    * bottleneck). */
  private def distributedDelete(paths: Seq[VPath], recursive: Boolean): Unit = {
    // non-recursive deletes tolerate a DIRECTORY that slipped through a
    // name-only doom filter (a junk dir named like a chunk key): the old
    // listing filtered on isFile status; the streamed name-only listing
    // cannot, so the skip moves here — fs.delete(dir, false) throws on
    // HDFS-likes and the trim must not abort over foreign junk. ONLY that
    // case is swallowed: a real doomed FILE failing to delete rethrows
    // (silence would leave a stale beyond-boundary chunk a later
    // dimension regrow resurrects as live data)
    def del(p: VPath): Unit =
      if (recursive) p.deleteRecursive()
      else try p.delete() catch {
        case e: java.io.IOException => if (!p.isDirectory) throw e
      }
    if (paths.isEmpty) return
    SparkSession.getActiveSession match {
      case Some(s) if paths.size > (if (recursive) 1 else DeleteBatch / 8) =>
        val hconf = graft.zarr.HConf.capture()
        val uris = paths.map(_.uri)
        val parts = math.max(1, math.min(s.sparkContext.defaultParallelism,
          (uris.size + DeleteBatch - 1) / DeleteBatch))
        s.sparkContext.parallelize(uris, parts).foreachPartition { it =>
          VPath.install(hconf.value) // executor JVMs have no SparkSession
          it.foreach { u =>
            val p = VPath(u)
            if (recursive) p.deleteRecursive()
            else try p.delete() catch { // junk-dir case only; see del above
              case e: java.io.IOException => if (!p.isDirectory) throw e
            }
          }
        }
      case _ => paths.foreach(del)
    }
  }
  /** The variables of `path` that `df`'s columns actually cover (data
    * variables whose name appears in the schema), used to scope
    * [[insertAligned]] on MULTI-TUPLE stores: without the restriction, the
    * table view sees variables on different dimension tuples (a 3-D cube
    * plus its 2-D geometry) and has no single table shape to offer. */
  private def writeTargets(df: DataFrame, path: String): Seq[String] = {
    val (_, arrays) = ZarrMeta.readGroup(ZarrMeta.path(path))
    val cols = df.columns.toSet
    arrays.flatMap { case (name, (meta, attrs)) =>
      meta.dimNames.orElse(attrs.flatMap(MdioTableUtil.arrayDimensions)).map(d => name -> d)
    }.collect {
      case (name, d) if cols(name) && !(d.size == 1 && d.head == name) => name
    }.toSeq.sorted
  }

  /** The pit-of-success parallel write of a long-form DataFrame: the
    * variables present in `df`'s schema are written through the one owner
    * shuffle ([[writeOwned]], the same as [[writeVariable]]) as ONE job,
    * however many variables `df` carries — so it works unchanged on stores
    * whose variables span several dimension tuples. Columns resolve by
    * name and cast to the [[MdioTable]] column types; a NULL value leaves
    * its cell untouched and a NULL coordinate fails the job before any
    * write. The end state: stats sidecars published, the v2 consolidated
    * metadata refreshed, and on failure every written variable's stats
    * read stale. `mode` is "append" or "overwrite", which
    * write alike (whole chunks either way). The DSv2 sink
    * (`df.write.format("mdio")` and catalog `writeTo`) calls this with the
    * frame Spark resolved against the table schema. */
  def insertAligned(df: DataFrame, path: String, mode: String = "append"): Unit = {
    require(Set("append", "overwrite")(mode.toLowerCase(java.util.Locale.ROOT)),
      s"insertAligned writes in append or overwrite mode, not '$mode'")
    val targets = writeTargets(df, path)
    require(targets.nonEmpty, s"insertAligned: no data variable of $path among ${df.columns.mkString(", ")}")
    val table = MdioTable(path, Some(targets))
    val dims = table.dims
    val projected = df.select(table.schema().fields.toSeq.map { f =>
      if (dims.contains(f.name)) nonNullOr(col(f.name).cast("long"),
        s"coordinate on dim '${f.name}' writing ${targets.mkString(", ")}").as(f.name)
      else col(f.name).cast(f.dataType).as(f.name)
    }: _*)
    val root = ZarrMeta.path(path)
    val (_, arrays) = ZarrMeta.readGroup(root)
    writeOwned(df.sparkSession, projected, path, dims, targets.map(v => v -> arrays(v)._1))
    if (ZarrMeta.detectVersion(root) == 2) ZarrMeta.consolidate(root)
  }

  /** Current metadata generation of a dataset (0 when never stamped).
    * The Spark-side answer to the reference's TimestampedStorageGeneration
    * (mdio/variable.h:1522; SURVEY §7.4.5): attribute commits are
    * last-writer-wins, and callers needing conflict DETECTION pass the
    * generation they read to [[updateAttributesIf]]. */
  def generation(path: String): Long = {
    val root = ZarrMeta.path(path)
    val attrs =
      if (ZarrMeta.detectVersion(root) == 3)
        JsonMethods.parse(root.resolve("zarr.json").readString()) \ "attributes"
      else {
        val f = root.resolve(".zattrs")
        if (f.exists) JsonMethods.parse(f.readString()) else JObject()
      }
    (attrs \ "_mdio_generation") match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case _ => 0L
    }
  }

  /** Optimistic-concurrency attribute commit: applies the patch only if the
    * dataset's generation still equals `expected`, then bumps it. Returns
    * the new generation, or throws on conflict. (Local/object stores give
    * no true CAS; the window is read-check-write — same as the reference's
    * generation-conditioned .zmetadata rewrite.) */
  def updateAttributesIf(path: String, variable: String, patch: String,
                         expected: Long): Long = {
    val cur = generation(path)
    if (cur != expected)
      throw new java.util.ConcurrentModificationException(
        s"metadata generation moved: expected $expected, found $cur")
    updateAttributes(path, variable, patch)
    val next = cur + 1
    updateAttributes(path, "", s"""{"_mdio_generation": $next}""")
    next
  }

  /** S13 — header variables: metadata-only content (e.g. a SEG-Y file
    * header) whose payload lives entirely in attributes; array read/write
    * is an error in the reference (mdio/header_variable.h:100-248). Here a
    * header variable is a node with attrs but no array metadata, carrying
    * `_mdio_header_only: true` — the same classification the reference
    * applies to specs (mdio/dataset.h:990-1004). */
  def writeHeader(path: String, name: String, contentJson: String): Unit = {
    val root = ZarrMeta.path(path)
    val dir = root.resolve(name)
    dir.mkdirs()
    val body = s"""{"_mdio_header_only": true, "content": $contentJson}"""
    if (ZarrMeta.detectVersion(root) == 3)
      dir.resolve("zarr.json").writeString(
        s"""{"zarr_format": 3, "node_type": "group", "attributes": $body}""")
    else {
      dir.resolve(".zattrs").writeString(body)
      ZarrMeta.consolidate(root)
    }
  }

  /** Read a header variable's content JSON; None if absent or not a
    * header-only node. */
  def readHeader(path: String, name: String): Option[String] = {
    val root = ZarrMeta.path(path)
    val dir = root.resolve(name)
    val attrs =
      if (ZarrMeta.detectVersion(root) == 3) {
        val f = dir.resolve("zarr.json")
        if (f.exists) Some(JsonMethods.parse(f.readString()) \ "attributes") else None
      } else {
        val f = dir.resolve(".zattrs")
        if (f.exists) Some(JsonMethods.parse(f.readString())) else None
      }
    attrs.flatMap { a =>
      (a \ "_mdio_header_only") match {
        case JBool(true) => Some(JsonMethods.compact(a \ "content"))
        case _ => None
      }
    }
  }

  private def isDataset(root: VPath): Boolean =
    root.resolve(".zgroup").exists || root.resolve(".zmetadata").exists ||
      root.resolve("zarr.json").exists

  /** Best-effort delete for scratch paths: no-op when absent or not MDIO. */
  def delete0(path: String): Unit =
    if (isDataset(ZarrMeta.path(path))) delete(path)

  /** S12 — delete a dataset after validating it is one
    * (mdio/utils/delete.h:38-81 validates before DeleteRange). */
  def delete(path: String): Unit = {
    val root = ZarrMeta.path(path)
    require(isDataset(root), s"$path is not an MDIO dataset; refusing to delete")
    root.deleteRecursive()
  }
}
