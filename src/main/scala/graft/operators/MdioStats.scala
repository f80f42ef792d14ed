package graft.operators

import graft.sources.{MdioAggScan, MdioChunkStats}
import graft.zarr.{VPath, ZarrMeta}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** statsV1 model + one-pass computation + attribute-commit integration
  * (reference mdio/stats.h:229-649 SummaryStats/UserAttributes and the
  * UpdateAttributes→CommitMetadata protocol, mdio/dataset.h:1269-1416).
  *
  * The whole statistic — count/min/max/sum/sumSquares plus an
  * edge-defined histogram — accumulates in ONE pass over the data via a
  * typed [[Aggregator]] (SURVEY §2.9: "the statsV1+histogram one-pass
  * aggregate is the natural Aggregator candidate"): partial buffers merge
  * associatively, so Catalyst runs it as partial + final aggregation with
  * no extra shuffle beyond the single reduce.
  */
object MdioStats {

  private[graft] val log = org.slf4j.LoggerFactory.getLogger(MdioStats.getClass)

  /** TEST SEAM (r18): invoked after a rank path pins its generation-
    * current manifest and before it reads shard files — lets a spec
    * inject a concurrent stats REPUBLISH between the two (shard files
    * rewritten at the next generation read as torn against the pinned
    * manifest): the benign race the percentile pushdown's retry-once
    * absorbs. */
  private[graft] var manifestRaceHook: () => Unit = () => ()

  /** Reference CenteredBinHistogram (mdio/stats.h:109-161): uniform bins
    * described by centers; values outside [lo, lo+n*width) are clipped
    * into the edge bins (matching numpy.histogram's outlier handling is
    * NOT attempted — the reference stores, not computes, histograms). */
  final case class Histogram(binCenters: Seq[Double], counts: Seq[Long])

  final case class StatsV1(count: Long, min: Double, max: Double,
                           sum: Double, sumSquares: Double,
                           histogram: Histogram)

  final case class Buf(count: Long, min: Double, max: Double,
                       sum: Double, sumSquares: Double, counts: Array[Long])

  /** One-pass stats+histogram over doubles; bins = [lo + i*width, …). */
  final class StatsV1Aggregator(lo: Double, width: Double, nBins: Int)
      extends Aggregator[Double, Buf, StatsV1] {

    override def zero: Buf =
      Buf(0L, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, 0.0, new Array[Long](nBins))

    private def bin(v: Double): Int = {
      val b = math.floor((v - lo) / width).toInt
      if (b < 0) 0 else if (b >= nBins) nBins - 1 else b
    }

    override def reduce(b: Buf, v: Double): Buf = {
      b.counts(bin(v)) += 1
      Buf(b.count + 1, math.min(b.min, v), math.max(b.max, v),
        b.sum + v, b.sumSquares + v * v, b.counts)
    }

    override def merge(a: Buf, b: Buf): Buf = {
      val counts = a.counts.clone()
      var i = 0
      while (i < nBins) { counts(i) += b.counts(i); i += 1 }
      Buf(a.count + b.count, math.min(a.min, b.min), math.max(a.max, b.max),
        a.sum + b.sum, a.sumSquares + b.sumSquares, counts)
    }

    override def finish(b: Buf): StatsV1 = StatsV1(
      b.count, b.min, b.max, b.sum, b.sumSquares,
      Histogram((0 until nBins).map(i => lo + (i + 0.5) * width), b.counts.toSeq))

    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[StatsV1] = Encoders.product[StatsV1]
  }

  /** Compute statsV1 for one variable of a dataset in a single pass. */
  def compute(spark: SparkSession, ds: MdioDataset, variable: String,
              histLo: Double, histWidth: Double, histBins: Int): StatsV1 = {
    import spark.implicits._
    val agg = new StatsV1Aggregator(histLo, histWidth, histBins)
    ds.data.select(col(variable).cast("double")).as[Double]
      .select(agg.toColumn).head()
  }

  /** statsV1's summary moments (count/min/max/sum/sumSquares,
    * mdio/stats.h:229-335) computed purely from the [[graft.sources.MdioChunkStats]]
    * sidecar — zero chunk files opened, no Spark job: the "statsV1 of a
    * 100 TB store" answered in O(metadata) on the driver. Requires
    * generation-current stats with moments for EVERY chunk of the grid
    * (the same full-coverage contract as the connector's metadata
    * aggregate pushdown); fails loudly otherwise rather than silently
    * scanning — callers that want the fallback run [[compute]].
    *
    * Semantics mirror a real scan: count counts every cell (NaN is not
    * null), max is NaN when any cell is NaN (both engines' NaN-is-greatest
    * convention), min is the finite minimum, and sum/sumSquares are the
    * EXACT real-number moments of the finite cells rounded once to double
    * — NaN-poisoned (like any engine's double sum) when a NaN exists. */
  def summaryFromSidecar(spark: SparkSession, path: String, variable: String): DataFrame = {
    val (varDir, m, _) = arrayOf(path, variable)
    val cells = m.shape.map(BigInt(_)).product
    val nChunks = m.chunkGrid.product
    val entries = MdioChunkStats.current(varDir).getOrElse(
      throw new IllegalStateException(
        s"no generation-current stats sidecar for '$variable' — run a stats-aware write first"))
    val gridKeys = MdioAggScan.boxKeys(m.chunkGrid.map(g => (0L, g))).toSeq
    require(gridKeys.forall(entries.contains),
      s"stats sidecar covers ${entries.size} of $nChunks chunks")
    val all = gridKeys.map(entries(_))
    val bounds = all.flatten
    require(bounds.forall(_.moments.isDefined),
      s"stats sidecar for '$variable' predates moments — rewrite the variable to refresh")
    val anyNaN = all.exists(e => e.isEmpty || e.exists(_.hasNaN))
    val isFloat = m.dtype.charAt(m.dtype.length - 2) == 'f'
    val moments = bounds.flatMap(_.moments)
    require(moments.forall(_.sumSq.isDefined),
      s"stats sidecar for '$variable' lacks sum-of-squares moments (overflow at write)")
    val sum = MdioChunkStats.exactTotal(moments.map(_.sum))
    val sumSq = MdioChunkStats.exactTotal(moments.map(_.sumSq.get))
    val mn: Double =
      if (bounds.nonEmpty) bounds.map(_.min).min.toDouble
      else if (isFloat) Double.NaN else 0.0
    val mx: Double =
      if (isFloat && anyNaN) Double.NaN
      else if (bounds.nonEmpty) bounds.map(_.max).max.toDouble
      else 0.0
    val poison = isFloat && anyNaN
    import spark.implicits._
    Seq((cells.toLong,
      mn, mx,
      if (poison) Double.NaN else sum.toDouble,
      if (poison) Double.NaN else sumSq.toDouble))
      .toDF("count", "min", "max", "sum", "sumSquares")
  }

  /** VALUE-based (sel) windows for the QC family (r19): resolve
    * coordinate-value windows — `median(v) WHERE depth_ms BETWEEN 800
    * AND 1200`, the way a seismic user actually states a window — to the
    * dim-INDEX ranges every QC operator's `ranges` parameter takes, by
    * composing P8's sel-range semantics (stop-INCLUSIVE on both ends,
    * reference `mdio/dataset.h:787-885`) with the windowed rank machinery
    * (`mdio/stats.h:229-335`). Each key names a 1-D coordinate variable
    * (a dimension coordinate or a listed coordinate over one dim); its
    * window `[lo, hi]` filters the coordinate EXACTLY ([[rangePred]] —
    * integral/decimal coordinates compare in their own type) and the
    * matching indices aggregate to `(min, max, count)` in ONE distributed
    * job over the (tiny) coordinate variable — nothing is collected, so a
    * petascale dim extent costs one columnar scan of one 1-D array. The
    * match must be CONTIGUOUS (`count == max − min + 1`, which a
    * monotonic coordinate guarantees): a shuffled / non-monotonic
    * coordinate whose matches are scattered DECLINES loudly — the window
    * is then a gather, not a slice, and the caller should compose
    * [[MdioDataset.selRange]]'s semi-join instead of silently ranking
    * wrong cells. An empty match is equally loud. The returned ranges
    * ride the existing pruned machinery untouched: chunk-aligned results
    * push down / prune, misaligned ones take each operator's exact
    * sliced-scan fallback. */
  def selWindow(spark: SparkSession, path: String,
                windows: Map[String, (Double, Double)]): Map[String, (Long, Long)] = {
    val arrays = ZarrMeta.readGroup(ZarrMeta.path(path))._2
    val resolved = windows.toSeq.map { case (coordName, (lo, hi)) =>
      require(lo <= hi, s"empty sel window [$lo, $hi] on '$coordName'")
      val (meta, attrs) = arrays.getOrElse(coordName,
        throw new IllegalArgumentException(s"no coordinate '$coordName' in $path"))
      val cdims = meta.dimNames
        .orElse(attrs.flatMap(graft.sources.MdioTableUtil.arrayDimensions))
        .getOrElse(throw new IllegalArgumentException(
          s"coordinate '$coordName' carries no dimension names"))
      require(cdims.size == 1,
        s"sel window needs a 1-D coordinate; '$coordName' is ${cdims.size}-D " +
          "(reference mdio/dataset.h:676-723)")
      val dim = cdims.head
      val cdf = spark.read.format("mdio").option("variables", coordName).load(path)
      val vCol = if (coordName == dim) s"${coordName}__value" else coordName
      val hit = cdf
        .filter(rangePred(col(vCol), cdf.schema(vCol).dataType, lo, hi))
        .agg(min(col(dim)), max(col(dim)), count(lit(1L))).head
      require(!hit.isNullAt(0),
        s"sel window [$lo, $hi] matches no '$coordName' value")
      val (i0, i1, n) = (hit.getLong(0), hit.getLong(1), hit.getLong(2))
      require(n == i1 - i0 + 1,
        s"'$coordName' is not monotonic over [$lo, $hi]: $n matching indices " +
          s"scatter across [$i0, $i1] — a gather, not a slice; compose " +
          "MdioDataset.selRange instead")
      dim -> (i0, i1 + 1)
    }
    require(resolved.map(_._1).distinct.size == resolved.size,
      s"sel windows name one dim twice: ${windows.keys.mkString(", ")}")
    resolved.toMap
  }

  /** The clamped dim-index window every windowed QC operator shares
    * (r19, one definition so the clamp and filter semantics can never
    * drift between the operators): `bounds` is `ranges` clamped
    * into the variable's shape — loud on an empty slice — and applying
    * the slice to a DataFrame adds one pushable dim predicate per
    * NARROWED dim only, so an unwindowed call filters nothing and the
    * filters reach the scan's chunk pruning. */
  private[operators] final case class DimSlice(dims: Seq[String],
                                               shape: Seq[Long],
                                               bounds: Seq[(Long, Long)]) {
    def apply(df: DataFrame): DataFrame =
      dims.zip(bounds).zipWithIndex.foldLeft(df) { case (acc, ((d, (lo, hi)), i)) =>
        if (lo <= 0 && hi >= shape(i)) acc
        else acc.filter(col(d) >= lo && col(d) < hi)
      }
  }

  private def sliceOf(meta: ZarrMeta.ArrayMeta, dims: Seq[String],
                      ranges: Map[String, (Long, Long)],
                      variable: String): DimSlice = {
    val bounds = dims.zipWithIndex.map { case (d, i) =>
      val (lo, hi) = ranges.getOrElse(d, (0L, meta.shape(i)))
      (math.max(lo, 0L), math.min(hi, meta.shape(i)))
    }
    require(bounds.forall { case (lo, hi) => lo < hi },
      s"empty dim slice $ranges over '$variable'")
    DimSlice(dims, meta.shape, bounds)
  }

  /** A UNION of dim windows for the QC family (r19) — SET1's slice-concat
    * algebra (reference `mdio/variable.h:1357-1396`) applied to the
    * windowed rank machinery: each window clamps like a single `ranges`
    * (loud on empty), the clamped windows must be pairwise DISJOINT
    * (cell-level — an overlap would double-count cells, so it declines
    * loudly, the `kMaxNumSlices` analog of rejecting a malformed slice
    * list rather than guessing dedup semantics), and applying the union
    * to a DataFrame adds a PUSHABLE per-dim hull conjunction (the scan
    * prunes to the bounding box) plus the exact OR-of-windows refinement
    * Spark evaluates on the surviving rows. */
  private final case class DimUnion(slices: Seq[DimSlice]) {
    require(slices.nonEmpty, "empty window union")
    def apply(df: DataFrame): DataFrame = {
      if (slices.size == 1) return slices.head(df)
      val dims = slices.head.dims
      val shape = slices.head.shape
      // pushable hull: per dim, [min lo, max hi) across windows
      val hulled = dims.indices.foldLeft(df) { case (acc, i) =>
        val lo = slices.map(_.bounds(i)._1).min
        val hi = slices.map(_.bounds(i)._2).max
        if (lo <= 0 && hi >= shape(i)) acc
        else acc.filter(col(dims(i)) >= lo && col(dims(i)) < hi)
      }
      // exact refinement: OR of each window's narrowed-dim conjunction
      val or = slices.map { s =>
        s.dims.zip(s.bounds).zipWithIndex.collect {
          case ((d, (lo, hi)), i) if lo > 0 || hi < shape(i) =>
            col(d) >= lo && col(d) < hi
        }.reduceOption(_ && _).getOrElse(lit(true))
      }.reduce(_ || _)
      hulled.filter(or)
    }
  }

  private def unionOf(meta: ZarrMeta.ArrayMeta, dims: Seq[String],
                      windows: Seq[Map[String, (Long, Long)]],
                      variable: String): DimUnion = {
    val slices = windows.map(w => sliceOf(meta, dims, w, variable))
    for (i <- slices.indices; j <- (i + 1) until slices.size) {
      val overlap = dims.indices.forall { d =>
        math.max(slices(i).bounds(d)._1, slices(j).bounds(d)._1) <
          math.min(slices(i).bounds(d)._2, slices(j).bounds(d)._2)
      }
      require(!overlap,
        s"windows ${windows(i)} and ${windows(j)} over '$variable' overlap " +
          "— an OR-of-ranges union must be disjoint (cells would double-" +
          "count); merge them into one window instead")
    }
    DimUnion(slices)
  }

  /** A variable's directory, array metadata and attributes — loud on an
    * unknown variable. */
  private def arrayOf(path: String, variable: String)
      : (VPath, ZarrMeta.ArrayMeta, Option[String]) = {
    val root = ZarrMeta.path(path)
    val (meta, attrs) = ZarrMeta.readGroup(root)._2.getOrElse(variable,
      throw new IllegalArgumentException(s"no variable '$variable' in $path"))
    (root.resolve(variable), meta, attrs)
  }

  /** The variable/window resolve every direct QC operator starts from:
    * the variable and its dims (loud on an unknown variable, one without
    * dim names, or a dimension coordinate — `coordHint` says what to do
    * instead), its dim window — ONE via `ranges` or a UNION of disjoint
    * ones via `windows`, never both — and [[plan]], which pins the
    * generation-current manifest and resolves the window's chunk-aligned
    * boxes and group geometry. `op` names the operator in the warnings. */
  private final class QcVar(spark: SparkSession, path: String, variable: String,
                            op: String, coordHint: String,
                            ranges: Map[String, (Long, Long)],
                            windows: Seq[Map[String, (Long, Long)]]) {
    require(ranges.isEmpty || windows.isEmpty,
      "pass ONE window via ranges or several via windows, not both")
    val (varDir, meta, attrs) = arrayOf(path, variable)
    val dims: Seq[String] = meta.dimNames
      .orElse(attrs.flatMap(graft.sources.MdioTableUtil.arrayDimensions))
      .getOrElse(throw new IllegalArgumentException(
        s"variable '$variable' carries no dimension names"))
    require(!dims.contains(variable),
      s"'$variable' is a dimension coordinate — $coordHint")
    val isFloat: Boolean = meta.dtype.charAt(meta.dtype.length - 2) == 'f'
    /** The window applied to a frame: the single slice's dim filters push
      * into the scan; a union pushes its hull and refines with the exact
      * OR, so every fallback scan prunes too. */
    val sliced: DataFrame => DataFrame =
      if (windows.nonEmpty) unionOf(meta, dims, windows, variable).apply
      else sliceOf(meta, dims, ranges, variable).apply
    def base: DataFrame = spark.read.format("mdio").load(path)
    lazy val vt: DataType = base.schema(variable).dataType
    /** NaN cells never rank, count or win. */
    def finite(df: DataFrame): DataFrame =
      if (isFloat) df.filter(!isnan(col(variable))) else df
    /** ONE scan of exactly `keys` (the `chunkKeys` allowlist): a single
      * plan node however many chunks it reads. */
    def chunks(keys: Iterable[Seq[Long]]): DataFrame =
      spark.read.format("mdio")
        .option("chunkKeys", keys.map(_.mkString(".")).mkString(","))
        .load(path)

    private def decline(why: String): Left[Boolean, Nothing] = {
      log.warn(s"$op($path, $variable): $why — falling back to the exact scan")
      Left(false)
    }

    /** Pin the generation-current manifest and resolve the triage
      * geometry for `groupSizes` (default: one group), or Left(race) when
      * the operator must take its exact scan instead — `race` marks the
      * one trigger a fresh manifest can heal (none is current); group
      * sizes that cut chunks, a misaligned window (a straddling chunk's
      * interval mixes in- and out-of-window cells) and more than
      * `maxGroups` groups warn and decline plain. */
    def plan(groupSizes: Seq[Long] = meta.shape, maxGroups: Int = Int.MaxValue)
        : Either[Boolean, (MdioChunkStats.Manifest, Geometry)] = {
      val man = MdioChunkStats.currentManifest(varDir).getOrElse(return Left(true))
      // a group must contain WHOLE chunks: per dim, a multiple of the
      // chunk size or the whole extent (a ragged last chunk still fits)
      if (dims.indices.exists(d =>
          groupSizes(d) % meta.chunks(d) != 0 && groupSizes(d) < meta.shape(d)))
        return decline(s"group sizes $groupSizes do not align to the chunk shape ${meta.chunks}")
      manifestRaceHook()
      val boxes = (if (windows.nonEmpty) windows else Seq(ranges)).map(w =>
        if (w.isEmpty) Some(meta.chunkGrid.map(g => (0L, g)))
        else MdioAggScan.alignedChunkBox(meta, dims, w))
      if (boxes.exists(_.isEmpty))
        return decline(s"slice ${if (windows.nonEmpty) windows else ranges} is not chunk-aligned")
      val geo = new Geometry(meta, groupSizes, boxes.flatten)
      if (geo.nGroups > maxGroups)
        return decline(s"${geo.nGroups} groups exceed the driver-state cap $maxGroups")
      Right((man, geo))
    }
  }

  /** The group-column side of a grouped QC operator: group `d`'s ordinal
    * is `⌊index_d / groupSizes(d)⌋` over ABSOLUTE dim indices, so a group
    * a window clips keeps its id and holds its surviving cells. */
  private final class QcGroups(t: QcVar, sizes: Seq[Long]) {
    require(sizes.forall(_ >= 1), s"group sizes $sizes must be positive")
    require(sizes.size == t.dims.size, s"${sizes.size} group sizes for ${t.dims.size} dims")
    val names: Seq[String] = t.dims.indices.map(i => s"_g$i")
    val cols: Seq[Column] = t.dims.zip(sizes).zip(names).map {
      case ((dn, gs), gn) => floor(col(dn) / gs).cast("long").as(gn)
    }
    /** Per-(group, value) cell counts of `df`'s `variable` (`v`, `c`).
      * A whole-extent size makes its ordinal the constant 0, which joins
      * after the aggregate rather than as a key: an ungrouped count
      * aggregates by value alone. */
    def counts(df: DataFrame, variable: String): DataFrame = {
      val keyed = t.dims.indices.filter(i => sizes(i) < t.meta.shape(i))
      df.groupBy(keyed.map(cols) :+ col(variable).as("v"): _*).agg(count(lit(1L)).as("c"))
        .select(names.indices.map(i =>
          if (keyed.contains(i)) col(names(i)) else lit(0L).as(names(i))) ++
          Seq(col("v"), col("c")): _*)
    }
    /** The `g_<dim>` output columns. */
    def out: Seq[Column] = names.zip(t.dims).map { case (gn, d) => col(gn).as(s"g_$d") }
    def fields: Seq[StructField] = t.dims.map(d => StructField(s"g_$d", LongType, nullable = false))
    /** A driver-built frame keyed by the group columns. */
    def frame(spark: SparkSession, rows: Seq[Row], tail: Seq[StructField]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(names.map(StructField(_, LongType, nullable = false)) ++ tail))
  }

  /** The chunk geometry a direct QC operator triages over: the window's
    * chunk-aligned `boxes` (`[lo, hi)` chunk ordinals per dim) and the
    * group each chunk falls in — a group spans `cpg(d)` chunks along dim
    * `d`, the whole grid for a whole-extent size. An ungrouped operator
    * is ONE group ([[whole]]): every size is the whole extent. */
  private final class Geometry(meta: ZarrMeta.ArrayMeta, groupSizes: Seq[Long],
                               val boxes: Seq[Seq[(Long, Long)]]) {
    val grid: Seq[Long] = meta.chunkGrid
    private val cpg = grid.indices.map(d =>
      if (groupSizes(d) >= meta.shape(d)) grid(d) else groupSizes(d) / meta.chunks(d))
    /** The one group of an ungrouped operator. */
    val whole: Seq[Long] = grid.map(_ => 0L)
    def inBox(cc: Seq[Long]): Boolean =
      boxes.exists(b => cc.indices.forall(i => cc(i) >= b(i)._1 && cc(i) < b(i)._2))
    def groupOf(cc: Seq[Long]): Seq[Long] = cc.zip(cpg).map { case (c, n) => c / n }
    /** In-domain cells of chunk `cc` (a ragged last chunk holds fewer). */
    def capacity(cc: Seq[Long]): Long = cc.indices.map(d =>
      math.min(meta.chunks(d), meta.shape(d) - cc(d) * meta.chunks(d))).product
    /** In-domain cells of shard `sid`'s whole lead range. */
    def shardCells(sid: Long, span: Long): Long =
      (math.min((sid + 1) * span * meta.chunks.head, meta.shape.head) -
        sid * span * meta.chunks.head) * meta.shape.tail.product
    /** Groups the window touches: the O(groups) driver state a grouped
      * operator caps (past the cap its distributed scan is the right plan). */
    def nGroups: BigInt = boxes.map(b => grid.indices.map(d =>
      BigInt((b(d)._2 - 1) / cpg(d) - b(d)._1 / cpg(d) + 1)).product).sum
    /** The group whose in-window cells a whole shard's manifest summary
      * describes exactly: its lead chunks `[sid·span, (sid+1)·span)` sit
      * inside one box's lead range and one group's, and that box cuts no
      * trailing dim, each a single group. None = the summary also speaks
      * of other cells (a trailing cut, a box or group edge), so the shard
      * opens for per-chunk triage. */
    def shardGroup(sid: Long, span: Long): Option[Seq[Long]] = {
      val leadLo = sid * span
      val leadHi = math.min((sid + 1) * span, grid.head)
      val inside = boxes.exists(b => b.head._1 <= leadLo && leadHi <= b.head._2 &&
        (1 until grid.size).forall(d => b(d)._1 <= 0 && b(d)._2 >= grid(d) && cpg(d) >= grid(d)))
      if (inside && leadLo / cpg.head == (leadHi - 1) / cpg.head)
        Some((leadLo / cpg.head) +: whole.tail)
      else None
    }
  }

  /** Feed every grid key in `[leadLo, leadHi)` of the leading dimension
    * to `perChunk` with its entry from `entries` (None = no entry). */
  private def feedKeys(grid: Seq[Long], leadLo: Long, leadHi: Long,
                       entries: Map[String, MdioChunkStats.Entry])
                      (perChunk: (Seq[Long], Option[MdioChunkStats.Entry]) => Unit): Unit =
    MdioAggScan.boxKeys((leadLo, leadHi) +: grid.drop(1).map(g => (0L, g)))
      .foreach { key =>
        perChunk(key.split("\\.").map(_.toLong).toSeq, entries.get(key))
      }

  /** Walk a generation-current sidecar SHARD BY SHARD over the chunk
    * grid: each shard whose manifest record proves FULL COVERAGE of its
    * lead range (`count` = leads × chunks-per-lead) is offered to
    * `summary(shardId, meta)` first — returning true answers the whole
    * shard from the manifest WITHOUT opening its file; otherwise (and for
    * incomplete or unlisted shards) the shard file loads and every grid
    * key in its lead range goes through `perChunk` with its entry (outer
    * None = no entry anywhere — the caller's unprunable/uncovered case).
    * Legacy monolithic sidecars feed every key with no summaries. This is
    * what keeps countInRange/kthSmallest at O(manifest) driver bytes on a
    * 100 TB store: interior shards — the overwhelming majority under a
    * selective range or a rank bracket — never open. The walk covers
    * only shards intersecting the lead-chunk range of one of `geo`'s
    * boxes (r18, boxed ranks): disjoint shards are never read, and fed
    * keys clamp to the intersection, so a slice pays only its own shards.
    * The boxes may be SEVERAL (r19, OR-of-ranges windows — SET1's
    * slice-concat algebra applied to QC): segments are merged ascending,
    * the walk stays ONE pass over the manifest, each shard is triaged
    * (and its file read) AT MOST ONCE no matter how many segments cut
    * it, and an opened shard feeds each intersecting segment's clamped
    * key range — disjoint segments, so no key feeds twice. `entryBudget`
    * (r19) bounds the DRIVER-side parse the opened shards imply — the
    * pushdown path's `boxRankAnswerable` discipline applied to the direct
    * operators: before a shard opens, the keys it will feed count against
    * the budget, and exceeding it ABORTS the walk (returns false) so the
    * caller falls back to its exact distributed scan instead of parsing
    * every cut shard on the driver. A trailing-narrowed window defeats
    * every whole-shard summary (the shard's [lo,hi]×cells describes cells
    * the window cuts away), so without the budget a window over the full
    * lead extent parses O(all shard entries) driver-side. Legacy
    * monolithic sidecars never count: their whole entry map was already
    * parsed to read the manifest, so aborting would spend the cost twice.
    * Returns true iff the walk completed. */
  private def walkShards(varDir: VPath, man: MdioChunkStats.Manifest,
                         geo: Geometry, entryBudget: Long)
                        (summary: (Long, MdioChunkStats.ShardMeta) => Boolean)
                        (perChunk: (Seq[Long], Option[MdioChunkStats.Entry]) => Unit): Boolean = {
    val grid = geo.grid
    // merge the lead segments ascending so each shard is visited once and
    // fed key ranges never overlap
    val segs = geo.boxes.map(_.head)
      .map { case (lo, hi) => (math.max(lo, 0L), math.min(hi, grid.head)) }
      .filter { case (lo, hi) => lo < hi }
      .sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((alo, ahi) :: rest, (lo, hi)) if lo <= ahi =>
          (alo, math.max(ahi, hi)) :: rest
        case (acc, s) => s :: acc
      }.reverse
    man.legacy match {
      case Some(es) =>
        segs.foreach { case (lo, hi) => feedKeys(grid, lo, hi, es)(perChunk) }
        true
      case None =>
        val chunksPerLead = grid.drop(1).product
        val nShards = (grid.head + man.span - 1) / man.span
        // shard id -> this shard's clamped lead ranges, ascending (a shard
        // straddling two merged segments is still triaged and read ONCE)
        val bySid = mutable.SortedMap.empty[Long, List[(Long, Long)]]
        segs.foreach { case (bLo, bHi) =>
          var sid = bLo / man.span
          val sidEnd = math.min(nShards, (bHi + man.span - 1) / man.span)
          while (sid < sidEnd) {
            val leadLo = math.max(sid * man.span, bLo)
            val leadHi = math.min(math.min((sid + 1) * man.span, grid.head), bHi)
            bySid.update(sid, bySid.getOrElse(sid, Nil) :+ ((leadLo, leadHi)))
            sid += 1
          }
        }
        var fed = 0L
        val it = bySid.iterator
        while (it.hasNext) {
          val (sid, segRanges) = it.next()
          val smOpt = man.shards.get(sid)
          val complete = smOpt.exists(sm => sm.count >= 0 &&
            sm.count == (math.min((sid + 1) * man.span, grid.head) - sid * man.span) * chunksPerLead)
          if (!(complete && summary(sid, smOpt.get))) {
            fed += segRanges.map { case (lo, hi) => (hi - lo) * chunksPerLead }.sum
            if (fed > entryBudget) {
              log.warn(s"metadata walk of '$varDir' would triage $fed+ chunk " +
                s"entries driver-side (budget $entryBudget, " +
                "spark.graft.mdio.maxPushedGroups) — aborting to the exact scan")
              return false
            }
            val entries = smOpt
              .map(sm => MdioChunkStats.readShard(varDir, sid, sm.gen))
              .getOrElse(Map.empty[String, MdioChunkStats.Entry])
            segRanges.foreach { case (lo, hi) =>
              feedKeys(grid, lo, hi, entries)(perChunk)
            }
          }
        }
        true
    }
  }

  /** The shared opened-entry budget every DIRECT QC operator passes to
    * [[walkShards]] — the same figure that caps grouped pushdown driver
    * state (`spark.graft.mdio.maxPushedGroups`, default 2^16), so ONE
    * conf governs all driver-side metadata state. */
  private def qcEntryBudget: Long = MdioAggScan.maxPushedGroups.toLong

  /** [[countInRange]] result: `count` is exact; `metadataChunks` answered
    * from the sidecar (fully inside the range — their finite-cell `cnt`
    * counts whole, whether the proof came from the chunk's own entry or
    * from a whole-shard manifest summary), `outsideChunks` were proven
    * empty, `scannedChunks` straddle the boundary and were read;
    * `fallback` marks the ordinary pruned-scan path (stale/absent stats
    * or too many straddlers). */
  final case class CountInRange(count: Long, metadataChunks: Long,
                                outsideChunks: Long, scannedChunks: Long,
                                fallback: Boolean)

  /** Exact COUNT of cells with `lo ≤ v ≤ hi` (closed range; NaN never
    * counts — and never disturbs the metadata answer, since a chunk's
    * moment `cnt` counts only its FINITE in-domain cells) that reads ONLY
    * the chunks whose stats interval STRADDLES a range boundary: fully
    * inside ⇒ count = `cnt` from metadata, fully outside (or all-NaN) ⇒
    * zero, straddlers ⇒ ONE scan over exactly that chunk subset (the
    * `chunkKeys` allowlist — a single plan node, not a per-chunk union).
    * `ranges` (r18) restricts the count to a dim-index box — the
    * clip-count of a crop — with out-of-box chunks in no counter;
    * misaligned windows answer exactly through the sliced range scan.
    * `windows` (r19) counts over a UNION of disjoint boxes (two depth
    * slabs in one call — SET1's slice-concat algebra): one manifest
    * walk, one straddler scan over the union's chunks; overlapping
    * windows decline loudly (cells would double-count).
    * The triage itself is HIERARCHICAL: whole shards whose manifest
    * summary (bounds union + `cells`/`bounded`, [[graft.sources.MdioChunkStats.ShardMeta]])
    * already decides them — union inside the range, disjoint from it, or
    * all-NaN — are answered from the manifest without opening the shard
    * file, so the sidecar read is O(manifest) + O(boundary shards), not
    * O(chunk entries). The selectivity/QC count of a 100 TB store thus
    * pays chunk I/O proportional to the range BOUNDARY SURFACE, not the
    * range volume — a plain filtered scan must still read every chunk
    * that satisfies the predicate. Degrades gracefully per shard and per
    * chunk (a summary that cannot decide opens the shard; a missing
    * entry or missing moments makes that chunk a straddler); stale or
    * absent stats, or more than `maxScanChunks` straddlers, fall back to
    * one ordinary value-pruned scan (`fallback = true`), so the answer is
    * exact in every case. Reference analog: statsV1 QC summaries,
    * mdio/stats.h:229-335. */
  def countInRange(spark: SparkSession, path: String, variable: String,
                   lo: Double, hi: Double,
                   maxScanChunks: Int = 512,
                   ranges: Map[String, (Long, Long)] = Map.empty,
                   windows: Seq[Map[String, (Long, Long)]] = Nil): CountInRange = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    // optional dim-index window (r18) or union of disjoint windows (r19):
    // count in-range cells of the window cells only — out-of-window
    // chunks are outside the domain, not "outside the range", and appear
    // in no counter
    val t = new QcVar(spark, path, variable, "countInRange",
      "count its index range instead", ranges, windows)
    // exact range membership in the column's own type — consistent with
    // the BigDecimal chunk triage (see rangePred)
    def filtered(df: DataFrame) =
      df.filter(rangePred(col(variable), df.schema(variable).dataType, lo, hi))
    def fullScan(): CountInRange =
      CountInRange(filtered(t.sliced(t.base)).count(), 0L, 0L, 0L, fallback = true)
    val (man, geo) = t.plan() match {
      case Right(p) => p
      case Left(_) => return fullScan()
    }
    val (loB, hiB) = (exactBig(lo), exactBig(hi))
    var metaCount = 0L
    var metaChunks = 0L
    var outside = 0L
    val straddlers = Seq.newBuilder[Seq[Long]]
    var nStraddle = 0
    // whole-shard answers from the manifest summary alone (the r15
    // cells/bounded fields): a complete shard whose bounds union lies
    // inside the range counts its `cells` finite cells whole (all-NaN
    // chunks there are outside — NaN matches no range), one disjoint
    // from the range proves every chunk empty, and an all-NaN shard
    // (no union, cells = 0 by construction) is proven zero. Anything
    // the summary cannot decide — including a shard the dim window
    // cuts — opens the shard for per-chunk triage.
    val within = walkShards(t.varDir, man, geo, qcEntryBudget) { (sid, sm) =>
      geo.shardGroup(sid, man.span).isDefined &&
        ((sm.lo, sm.hi) match {
          case (Some(l), Some(h)) if h < loB || l > hiB =>
            outside += sm.count; true
          case (Some(l), Some(h)) if l >= loB && h <= hiB &&
              sm.cells.isDefined && sm.bounded >= 0 =>
            metaCount += sm.cells.get
            metaChunks += sm.bounded
            outside += sm.count - sm.bounded
            true
          case (None, None) => outside += sm.count; true
          case _ => false
        })
    } { (cc, eOpt) =>
      if (geo.inBox(cc)) eOpt match {
        case Some(None) => outside += 1 // all-NaN: no cell can match
        case Some(Some(b)) if b.max < loB || b.min > hiB => outside += 1
        case Some(Some(b)) if b.min >= loB && b.max <= hiB &&
            b.moments.isDefined =>
          metaCount += b.moments.get.cnt
          metaChunks += 1
        case _ => // straddler, no entry, or no moments: scan it
          straddlers += cc
          nStraddle += 1
      }
    }
    if (!within || nStraddle > maxScanChunks) return fullScan()
    // ONE scan planning exactly the straddler chunks — a single plan node
    // no matter how many chunks the range boundary crosses
    val scanned: Long =
      if (nStraddle == 0) 0L else filtered(t.chunks(straddlers.result())).count()
    CountInRange(metaCount + scanned, metaChunks, outside,
      nStraddle.toLong, fallback = false)
  }

  /** [[kthSmallest]] result: `value` is the exact k-th smallest finite
    * cell; `jobs` counts the Spark scan jobs issued (0–2: the below-rank
    * recount when the bracket's lower edge straddles chunks, and the
    * window selection), `scannedChunks` the chunks those jobs read (each
    * job ONE allowlist scan node); `fallback` marks the exact full-scan
    * grouped-rank path. */
  final case class KthSmallest(value: Double, jobs: Int,
                               scannedChunks: Long, fallback: Boolean)

  private def anyToDouble(x: Any): Double = x match {
    case d: Double => d
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case bd: java.math.BigDecimal => bd.doubleValue() // u64 surface
    case other => throw new IllegalStateException(s"unrankable value $other")
  }

  /** Buckets per rank request in the rank pick: bounds each request's
    * final sort at one bucket's distinct values. */
  private val RankBuckets = 1024

  /** The driver-side pick's bound: while requests × [[RankBuckets]] fits
    * it, [[selectByRankMulti]] collects every request's bucket histogram
    * (≤ this many rows) and locates the buckets on the driver; past it
    * [[pickByRankBucketed]] locates them distributed, nothing collected. */
  private val RankPickRows = 1 << 20

  /** The EXACT binary value of a double as BigDecimal — scala's
    * `BigDecimal(d)` routes through `valueOf` (shortest decimal string),
    * which at magnitudes past 2^53 names a DIFFERENT real number than the
    * double the scan compares against (2^63.toDouble stringifies as
    * ...776E18, exact value ...775808). Every triage edge must be the
    * same number the scan predicate uses. */
  private[graft] def exactBig(d: Double): BigDecimal =
    BigDecimal(new java.math.BigDecimal(d))

  /** Scan-side literal for a SIDECAR-DERIVED edge (a chunk bound — always
    * a value of the column's domain): DECIMAL columns compare against the
    * exact decimal — the u64 surface past 2^53 must not round through
    * double, since the metadata side of the same comparison is exact and
    * a half-ulp disagreement misranks; integral columns against the exact
    * long (bounds of integral data are whole, and long-vs-long comparison
    * never promotes to double); float/double columns against the
    * double/float, which IS the value. */
  private[graft] def edgeLit(x: BigDecimal,
                             dt: DataType)
      : Column = {
    dt match {
      case _: DecimalType => lit(x.underlying)
      case LongType | IntegerType | ShortType | ByteType => lit(x.toLongExact)
      case FloatType => lit(x.toFloat)
      case _ => lit(x.toDouble)
    }
  }

  /** The Spark type sidecar edges take beside column type `dt` (what
    * [[edgeLit]] produces): decimals stay themselves, integrals widen to
    * long, floats/doubles stay. */
  private[graft] def edgeType(dt: DataType)
      : DataType = {
    dt match {
      case d: DecimalType => d
      case LongType | IntegerType | ShortType | ByteType => LongType
      case FloatType => FloatType
      case _ => DoubleType
    }
  }

  /** A sidecar edge as a PLAIN VALUE of [[edgeType]] (for broadcast-frame
    * rows, where [[edgeLit]]'s literal form can't be used). */
  private[graft] def edgeValue(x: BigDecimal,
                               dt: DataType): Any = {
    dt match {
      case _: DecimalType => x.underlying
      case LongType | IntegerType | ShortType | ByteType => Long.box(x.toLongExact)
      case FloatType => Float.box(x.toFloat)
      case _ => Double.box(x.toDouble)
    }
  }

  /** Closed-range predicate `lo ≤ v ≤ hi` with USER-SUPPLIED double edges,
    * evaluated consistently with the exact metadata triage: integral
    * columns (incl. the u64 decimal surface) snap the edges INWARD to the
    * nearest integers — for integral v, `v ≥ lo ⇔ v ≥ ⌈lo⌉` — so the
    * comparison runs in the column's own type and a value within half an
    * ulp of an edge can never be double-misclassified against the
    * BigDecimal arithmetic the chunk triage used. Float/double columns
    * compare in double, which is exact (the edges ARE doubles). Integral
    * edges beyond the Long range collapse to constant true/false. */
  private[graft] def rangePred(vcol: Column,
                               dt: DataType,
                               lo: Double, hi: Double): Column = {
    def snap(x: Double, up: Boolean): BigDecimal =
      exactBig(x).setScale(0,
        if (up) BigDecimal.RoundingMode.CEILING else BigDecimal.RoundingMode.FLOOR)
    dt match {
      case d: DecimalType =>
        // exact edges snapped INWARD at the column's own scale (for values
        // representable at scale s, v ≥ lo ⇔ v ≥ ⌈lo⌉_s) — the scale-0
        // u64 surface and any future scaled-decimal dtype both compare
        // against the same numbers the BigDecimal chunk triage used;
        // edges beyond the type's precision collapse to constants
        val l = exactBig(lo).setScale(d.scale, BigDecimal.RoundingMode.CEILING)
        val h = exactBig(hi).setScale(d.scale, BigDecimal.RoundingMode.FLOOR)
        val bound = BigDecimal(10).pow(d.precision - d.scale)
        val loP = if (l >= bound) lit(false)
          else if (l <= -bound) lit(true)
          else vcol >= lit(l.underlying)
        val hiP = if (h <= -bound) lit(false)
          else if (h >= bound) lit(true)
          else vcol <= lit(h.underlying)
        loP && hiP
      case LongType | IntegerType | ShortType | ByteType =>
        val l = snap(lo, up = true)
        val h = snap(hi, up = false)
        val loP = if (l > BigDecimal(Long.MaxValue)) lit(false)
          else if (l < BigDecimal(Long.MinValue)) lit(true)
          else vcol >= lit(l.toLongExact)
        val hiP = if (h < BigDecimal(Long.MinValue)) lit(false)
          else if (h > BigDecimal(Long.MaxValue)) lit(true)
          else vcol <= lit(h.toLongExact)
        loP && hiP
      case _ => vcol >= lit(lo) && vcol <= lit(hi)
    }
  }

  /** Locate the bucket holding the `rank`-th cell given per-bucket cell
    * counts (any order): (bucketId, cellsBeforeThatBucket). Pure Long
    * arithmetic — ranks past 2³¹ (a median at the 100 TB envelope is
    * k ≈ 10¹²) never truncate. Throws when the rank exceeds the total. */
  private[graft] def bucketForRank(perBucket: Seq[(Long, Long)],
                                   rank: Long): (Long, Long) = {
    require(rank >= 1, s"rank $rank out of range")
    var before = 0L
    val it = perBucket.sortBy(_._1).iterator
    while (it.hasNext) {
      val (b, c) = it.next()
      if (before + c >= rank) return (b, before)
      before += c
    }
    throw new IllegalArgumentException(s"rank $rank exceeds $before cells")
  }

  /** A rank request's bucket over columns `v` (any numeric), `blo`/`bw`
    * (doubles: the request's bucket origin and width — only determinism
    * matters, values outside clamp into the edge buckets). `coalesce`
    * makes it provably NON-NULL: a join on it would otherwise let the
    * optimizer infer an isnotnull constraint into ONE of two occurrences
    * of the same frame, and exchange reuse across them silently dies. */
  private def rankBucket: Column =
    coalesce(when(col("bw") <= 0, lit(0L)).otherwise(
      least(greatest(floor((col("v").cast("double") - col("blo")) / col("bw")),
        lit(0.0)), lit((RankBuckets - 1).toDouble)).cast("long")), lit(0L))

  /** Exact rank selection over per-(request, value) counts (`byR`: `_r`
    * the Int request id, `v` any numeric, `c` Long, `blo`/`bw` the
    * request's bucket parameters) with Long ranks end-to-end —
    * `residuals(r)` is request r's 1-based rank — the replacement for
    * `ORDER BY v OFFSET rank-1 LIMIT 1`, whose Int-typed offset silently
    * wraps past 2³¹ and whose global sort funnels every row through one
    * partition. TWO jobs for every request at once: job one collects each
    * request's ≤[[RankBuckets]]-row bucket histogram, the driver locates
    * each rank's bucket ([[bucketForRank]]), and job two picks every
    * value from its located bucket — passed back as literal arrays
    * indexed by `_r`, no join — with a cumulative-count window
    * PARTITIONED BY REQUEST (each partition sorts one bucket's distinct
    * values). Buckets are a pure function of the value (no sampling), so
    * re-evaluation cannot move rows across buckets; persist `byR` when it
    * derives from a scan. Returns the values in request order. */
  private[graft] def selectByRankMulti(byR: DataFrame, residuals: IndexedSeq[Long])
      : IndexedSeq[Double] = {
    import org.apache.spark.sql.expressions.Window
    val hist = byR.groupBy(col("_r"), rankBucket.as("_b")).agg(sum(col("c")))
      .collect().groupBy(_.getInt(0))
    val located = residuals.indices.map { r =>
      val (b, before) = bucketForRank(
        hist.getOrElse(r, Array.empty[Row]).map(x => (x.getLong(1), x.getLong(2))).toSeq,
        residuals(r))
      (b, residuals(r) - before)
    }
    val need = typedLit(located.map(_._2).toArray).getItem(col("_r"))
    val cum = Window.partitionBy(col("_r")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = byR.filter(rankBucket === typedLit(located.map(_._1).toArray).getItem(col("_r")))
      .withColumn("_cum", sum(col("c")).over(cum))
      .filter(col("_cum") >= need && col("_cum") - col("c") < need)
      .select(col("_r"), col("v"))
      .collect().map(r => r.getInt(0) -> anyToDouble(r.get(1))).toMap
    residuals.indices.map(r => out.getOrElse(r,
      throw new IllegalStateException(s"rank request $r selected no value")))
  }

  /** DISTRIBUTED bucketed rank pick over grouped distinct-value counts —
    * the twin of [[selectByRankMulti]] past [[RankPickRows]], with
    * NOTHING collected: `byKV` carries one row per (key-group, value)
    * with columns `keys`*, `v` (any numeric), `c` (Long count),
    * `residual` (the 1-based rank to select within the group, constant
    * per group), and `blo`/`bw` ([[rankBucket]]'s parameters).
    * Stage 1 aggregates per-(group, bucket) counts (≤[[RankBuckets]] rows
    * per group) and locates each group's rank-holding bucket with a
    * cumulative window ORDERED BY BUCKET — ≤1024 rows per window
    * partition, never the group's value set. Stage 2 joins the chosen
    * (bucket, in-bucket rank) back — BROADCAST, one row per group, the
    * documented O(groups) envelope — filters to that ONE bucket, and
    * picks with a cumulative window ordered by value whose partitions now
    * hold ~1/1024 of a group's distinct values. The degenerate all-overlap
    * store (every chunk interval spans the window — zero-centered
    * amplitudes) thus never sorts a whole group in one partition: the
    * r16 plan did, which at 100× meant a single-partition sort of ~10⁹
    * distinct values per depth slab. `byKV` is referenced by BOTH stages;
    * its aggregation exchange is identical on each side, so Spark's
    * exchange reuse executes the underlying scan once (pinned in
    * MdioValueStatsSpec via the chunk-read counter). Returns `byKV`'s
    * rows (all columns) filtered to each group's selected value. */
  private[graft] def pickByRankBucketed(byKV: DataFrame,
                                        keys: Seq[String])
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = byKV.withColumn("_bkt", rankBucket)
    val perB = withB
      .groupBy((keys :+ "residual").map(col) :+ col("_bkt"): _*)
      .agg(sum(col("c")).as("_bc"))
    val wB = Window.partitionBy(keys.map(col): _*).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chosen = perB.withColumn("_cumb", sum(col("_bc")).over(wB))
      .filter(col("_cumb") >= col("residual") &&
        col("_cumb") - col("_bc") < col("residual"))
      .select(keys.map(col) :+ col("_bkt").as("_cb") :+
        (col("residual") - col("_cumb") + col("_bc")).as("_need"): _*)
    val wV = Window.partitionBy(keys.map(col): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(chosen), keys)
      .filter(col("_bkt") === col("_cb"))
      .withColumn("_cum", sum(col("c")).over(wV))
      .filter(col("_cum") >= col("_need") && col("_cum") - col("c") < col("_need"))
  }

  /** The hierarchical item state every item-ranking QC operator triages
    * from, per group of `geo` (an ungrouped operator has one): FINE items
    * (opened per-chunk bounds) and COARSE items (unopened whole-shard
    * manifest summaries, one [lo, hi]×cells interval each), built by one
    * walk of the manifest. Chunks outside every box never count — a
    * chunk without an entry OUT of the window cannot trip `usable` — and
    * a shard rides coarse only when [[Geometry.shardGroup]] maps it whole
    * into one group; anything partial opens into fine items. `moments`
    * says whether items need finite-cell counts (ranks and group sizes
    * do; locating an extremum needs bounds only); `integral` cells are
    * never NaN, so their count is the in-domain capacity even where the
    * sidecar omits moments (exact sums that overflowed at write). `usable` drops on any
    * cell unaccounted for (missing entry, missing moments where needed,
    * torn shard) or when the walk or a refinement exceeds `entryBudget`
    * driver-side entries — callers then take their exact scan instead of
    * answering from incomplete items. [[openCoarse]] refines: coarse
    * shards the caller's predicate picks open into fine items. */
  private final class RankItems(varDir: VPath, man: MdioChunkStats.Manifest,
                                geo: Geometry, entryBudget: Long,
                                moments: Boolean = true, integral: Boolean = false) {
    private type Bounds = MdioChunkStats.Bounds
    private val fine = mutable.Map.empty[Seq[Long], mutable.ArrayBuffer[(Seq[Long], Bounds)]]
    // group -> sid -> (lo, hi, cells), sids ascending
    private val coarse = mutable.Map
      .empty[Seq[Long], mutable.SortedMap[Long, (BigDecimal, BigDecimal, Long)]]
    var usable = true
    /** A chunk's finite-cell count, when known. */
    def cellsOf(cc: Seq[Long], b: Bounds): Option[Long] =
      b.moments.map(_.cnt).orElse(if (integral) Some(geo.capacity(cc)) else None)
    private def intake(cc: Seq[Long], eOpt: Option[MdioChunkStats.Entry]): Unit =
      if (geo.inBox(cc)) eOpt match {
        case Some(Some(b)) if !moments || cellsOf(cc, b).isDefined =>
          fine.getOrElseUpdate(geo.groupOf(cc), mutable.ArrayBuffer.empty) += ((cc, b))
        case Some(None) => () // all-NaN chunk: never ranks or wins
        case _ => usable = false
      }
    if (!walkShards(varDir, man, geo, entryBudget) { (sid, sm) =>
      val cells = sm.cells.orElse(if (integral) Some(geo.shardCells(sid, man.span)) else None)
      (!moments || cells.isDefined) && geo.shardGroup(sid, man.span).exists { g =>
        (sm.lo, sm.hi) match {
          case (Some(l), Some(h)) =>
            coarse.getOrElseUpdate(g, mutable.SortedMap.empty)
              .update(sid, (l, h, cells.getOrElse(0L)))
            true
          case _ => cells.contains(0L) // all-NaN shard: proven no finite cell
        }
      }
    }(intake)) usable = false

    /** Groups holding at least one item, ascending. */
    def groups: Seq[Seq[Long]] = (fine.keySet ++ coarse.keySet).toSeq
      .sorted(Ordering.Implicits.seqOrdering[Seq, Long])
    def fineOf(g: Seq[Long]): Iterable[(Seq[Long], Bounds)] = fine.getOrElse(g, Nil)
    def coarseOf(g: Seq[Long]): Iterable[(BigDecimal, BigDecimal, Long)] =
      coarse.get(g).fold(Iterable.empty[(BigDecimal, BigDecimal, Long)])(_.values)
    /** A group's rank intervals over MIXED granularity — whole-shard
      * summaries and opened chunks are both just [lo, hi] intervals
      * carrying a finite-cell count (0 where moments were not asked for),
      * exactly what [[bracketItems]] consumes. */
    def items(g: Seq[Long]): IndexedSeq[(BigDecimal, BigDecimal, Long)] =
      (coarseOf(g).iterator ++ fineOf(g).iterator.map { case (cc, b) =>
        (b.min, b.max, cellsOf(cc, b).getOrElse(0L)) }).toIndexedSeq

    /** Open every coarse shard `touches(group, lo, hi)` picks into fine
      * items, groups ascending, shards ascending. The refinement shares
      * the walk's budget: exceeding it drops `usable`. */
    def openCoarse(touches: (Seq[Long], BigDecimal, BigDecimal) => Boolean): Unit = {
      val chunksPerLead = geo.grid.drop(1).product
      var openedKeys = 0L
      for {
        g <- groups
        sid <- coarse.get(g).toSeq.flatMap(_.collect { case (sid, (l, h, _)) if touches(g, l, h) => sid })
      } if (usable) {
        val leadHi = math.min((sid + 1) * man.span, geo.grid.head)
        openedKeys += (leadHi - sid * man.span) * chunksPerLead
        if (openedKeys > entryBudget) {
          log.warn(s"refinement of '$varDir' would parse $openedKeys+ chunk " +
            s"entries driver-side (budget $entryBudget) — falling back to the exact scan")
          usable = false
        } else {
          coarse(g) -= sid
          feedKeys(geo.grid, sid * man.span, leadHi,
            MdioChunkStats.readShard(varDir, sid, man.shards(sid).gen))(intake)
        }
      }
    }

    /** Each group's rank brackets ([[bracketItems]]) for its ranks `ks`,
      * after opening every coarse shard that intersects one of them — ONE
      * round suffices: finer detail only SHRINKS brackets, so a shard
      * touching a shrunk window touched the coarse one and is already
      * open; interior shards NEVER open (ShardMeta's O(manifest) promise).
      * None when the refinement left the items unusable. */
    def brackets(ks: Seq[(Seq[Long], Seq[Long])])
        : Option[Map[Seq[Long], Seq[(Option[BigDecimal], BigDecimal)]]] = {
      def bracket() = ks.map { case (g, gks) =>
        val its = items(g)
        g -> gks.map(bracketItems(its, _))
      }.toMap
      val coarseBrs = bracket()
      openCoarse((g, l, h) => coarseBrs.get(g).exists(_.exists(inWindow(l, h, _))))
      if (usable) Some(bracket()) else None
    }
  }

  /** Whether an interval [l, h] intersects a rank window (x0, x1]. */
  private def inWindow(l: BigDecimal, h: BigDecimal,
                       br: (Option[BigDecimal], BigDecimal)): Boolean =
    br._1.forall(h > _) && l <= br._2

  /** Metadata-only rank bracket over interval items (lo, hi, cnt) — each
    * a chunk's or a whole shard's [min, max]×finite-cells record. The
    * per-item counts give CERTAIN rank bounds without touching data:
    * `L(x) = Σ cnt(hi ≤ x)` cells certainly ≤ x, `U(x) = Σ cnt(lo ≤ x)`
    * cells possibly ≤ x. Binary searches over the sorted boundary values
    * return the tightest certain window (x0, x1] containing the k-th
    * smallest: `x1` = min boundary with L(x1) ≥ k (v* ≤ x1 certainly),
    * `x0` = max boundary with U(x0) < k (v* > x0 certainly; None when no
    * boundary's U is below k). Pure Long/BigDecimal arithmetic — ranks
    * past 2³¹ never truncate. */
  private[graft] def bracketItems(its: IndexedSeq[(BigDecimal, BigDecimal, Long)],
                                  k: Long): (Option[BigDecimal], BigDecimal) = {
    def rankL(x: BigDecimal): Long = its.iterator.collect {
      case (_, h, c) if h <= x => c }.sum
    def rankU(x: BigDecimal): Long = its.iterator.collect {
      case (l, _, c) if l <= x => c }.sum
    val boundaries = its.flatMap { case (l, h, _) => Seq(l, h) }
      .distinct.sorted
    var (lo1, hi1) = (0, boundaries.size - 1) // L(last) = n ≥ k always
    while (lo1 < hi1) {
      val mid = (lo1 + hi1) / 2
      if (rankL(boundaries(mid)) >= k) hi1 = mid else lo1 = mid + 1
    }
    val x1 = boundaries(lo1)
    val x0: Option[BigDecimal] = {
      var (a, b) = (-1, boundaries.size - 1)
      while (a < b) { // find the LAST boundary with U < k (-1 = none)
        val mid = (a + b + 1) / 2
        if (rankU(boundaries(mid)) < k) a = mid else b = mid - 1
      }
      if (a < 0) None else Some(boundaries(a))
    }
    (x0, x1)
  }

  /** EXACT k-th smallest finite cell value (1-indexed; the p-quantile is
    * `k = ceil(p·n)` — NaN cells never rank) by QUANTILE-BY-PRUNING:
    * the sidecar's per-chunk [min, max, cnt] gives CERTAIN rank bounds
    * without touching data — `L(x) = Σ cnt(max ≤ x)` cells certainly
    * ≤ x and `U(x) = Σ cnt(min ≤ x)` cells possibly ≤ x — so a
    * metadata-only search over the chunk boundary values brackets the
    * answer in a window (x0, x1] with `U(x0) < k ≤ L(x1)`, and at most
    * TWO scan jobs finish it: an exact `count(v ≤ x0)` over the chunks
    * straddling x0 (often none), and the residual-rank selection over
    * the chunks intersecting the window. The rank bounds are
    * HIERARCHICAL: whole shards ride the arithmetic as one manifest
    * summary interval ([lo, hi]×cells, [[graft.sources.MdioChunkStats.ShardMeta]]),
    * and only the shards intersecting the bracket window are opened for
    * chunk-level refinement. `ranges` (r18) restricts the rank to a
    * dim-index box (`dim -> [lo, hi)`), `windows` (r19) to a union of
    * disjoint boxes: chunk-aligned windows ride the same machinery over
    * their own chunks only, misaligned ones answer exactly through the
    * sliced fallback scan. The median of a 100 TB store thus reads
    * O(manifest) sidecar bytes plus only the chunks overlapping one
    * boundary window — a global sort must shuffle the full corpus.
    * Requires generation-current stats with full coverage and moments;
    * anything less falls back to the exact full-scan grouped-rank form
    * (`fallback = true`), as do more than `maxProbeChunks` chunks
    * straddling the bracket's lower edge. Ties are handled exactly: the
    * result equals `ORDER BY v LIMIT 1 OFFSET k-1` in any engine, with a
    * Long rank, never an Int-typed OFFSET. This is [[valuesAtRanks]] at
    * one rank: the one rank pass ([[rankPass]]) over one group. */
  def kthSmallest(spark: SparkSession, path: String, variable: String,
                  k: Long, maxProbeChunks: Int = 512,
                  ranges: Map[String, (Long, Long)] = Map.empty,
                  windows: Seq[Map[String, (Long, Long)]] = Nil): KthSmallest = {
    require(k >= 1, s"rank $k out of range")
    val q = wholeRanks(spark, path, variable, 1, _ => Seq(k), maxProbeChunks, ranges, windows)
    KthSmallest(q.values.head, q.jobs, q.scannedChunks, q.fallback)
  }

  /** [[quantilesOf]] result: `values(i)` is the exact `ks(i)`-th smallest
    * finite cell (the `ps(i)`-quantile, `ks(i) = ⌈ps(i)·n⌉` over the `n`
    * finite cells); `jobs`/`scannedChunks` count the CHUNK-scan jobs
    * issued (0–2 on the pruning path — the per-rank selections run over
    * one cached grouped-count frame, not the store) and the chunks they
    * read; `fallback` marks the exact one-scan grouped-rank path. */
  final case class Quantiles(values: Seq[Double], ks: Seq[Long], n: Long,
                             jobs: Int, scannedChunks: Long,
                             fallback: Boolean)

  /** EXACT quantile VECTOR in one boundary-window pass — the amplitude
    * clip-level readout (p01/p50/p99 of a survey for display gain/clip
    * QC; reference statsV1 QC anchor, mdio/stats.h:229-335): the one rank
    * pass ([[rankPass]]) over one group, sharing every stage across ALL
    * requested quantiles: ONE metadata bracket per rank over the same
    * hierarchical items (whole-shard manifest summaries + per-chunk
    * [min,max,cnt]; shards open only when they intersect SOME rank's
    * window), ONE `chunkKeys` probe scan recounting every bracket's lower
    * edge together (one conditional-count column per distinct edge), and
    * ONE window scan over the UNION of the rank windows whose cached
    * per-(rank, value) counts answer every rank via [[selectByRankMulti]]
    * (Long ranks; the selections re-read the cached frame, not the
    * store). Chunk I/O for the whole vector is the union of the boundary
    * windows — reading the store once per quantile, or sorting it, would
    * cost p×more or shuffle the corpus. `ks(i) = ⌈ps(i)·n⌉` evaluates in
    * BigDecimal (a median at the 100 TB envelope is k ≈ 10¹² — past
    * double-exact integer territory is still years off, but the ceil
    * must not wobble on the boundary). Stale/absent stats or more than
    * `maxProbeChunks` total straddlers fall back loudly to the exact
    * full-scan grouped-rank form over one scan. `ranges` (r18) restricts
    * the vector to a dim-index box, exactly as [[valuesAtRanks]]. */
  def quantilesOf(spark: SparkSession, path: String, variable: String,
                  ps: Seq[Double], maxProbeChunks: Int = 512,
                  ranges: Map[String, (Long, Long)] = Map.empty,
                  windows: Seq[Map[String, (Long, Long)]] = Nil): Quantiles = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantiles $ps must lie in (0, 1]")
    wholeRanks(spark, path, variable, ps.size, ceilRanks(ps),
      maxProbeChunks, ranges, windows)
  }

  /** EXACT values at EXPLICIT 1-based ranks through [[quantilesOf]]'s
    * one-bracket / one-probe / one-window pass, so several ranks of one
    * variable pay the bracket walk and the bounded scan jobs once per
    * vector, not once per rank. `ranges` restricts the ranking to a
    * dim-index BOX (`dim -> [lo, hi)`; r18 — the depth-window median): a
    * chunk-aligned box rides the same bracket machinery over its own
    * chunks only (disjoint shards never read), a misaligned one answers
    * exactly through the sliced full-scan fallback, whose residuals are
    * these ranks as literals. */
  def valuesAtRanks(spark: SparkSession, path: String, variable: String,
                    ks: Seq[Long], maxProbeChunks: Int = 512,
                    ranges: Map[String, (Long, Long)] = Map.empty,
                    windows: Seq[Map[String, (Long, Long)]] = Nil): Quantiles = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ranks $ks must be ≥ 1")
    wholeRanks(spark, path, variable, ks.size, _ => ks, maxProbeChunks, ranges, windows)
  }

  /** `⌈p·n⌉` per quantile in BigDecimal: exact at any n, and the same
    * number in the pruned pass and in either fallback. */
  private def ceilRanks(ps: Seq[Double]): Long => Seq[Long] = n =>
    ps.map(p => (BigDecimal(p) * n).setScale(0, BigDecimal.RoundingMode.CEILING).toLong)

  /** The ungrouped operators' reading of [[rankPass]] over ONE group
    * (every group size the whole extent): `slots` rank slots labelled by
    * their index, one result row per slot; no row means no finite cell. */
  private def wholeRanks(spark: SparkSession, path: String, variable: String,
                         slots: Int, mkKs: Long => Seq[Long], maxProbeChunks: Int,
                         ranges: Map[String, (Long, Long)],
                         windows: Seq[Map[String, (Long, Long)]]): Quantiles = {
    val labels = (0 until slots).map(_.toDouble)
    val r = rankPass(spark, path, variable, "rank vector", labels, mkKs, None,
      maxProbeChunks, Int.MaxValue, fallbackOk = true, ranges, windows)
    val rows = r.collect()
    require(rows.nonEmpty, s"no finite cells to rank in '$variable'")
    val n = rows.head.getLong(r.schema.fieldIndex("n"))
    val (p, q) = (r.schema.fieldIndex("p"), r.schema.fieldIndex("q"))
    val byLabel = rows.map(x => x.getDouble(p) -> x.getDouble(q)).toMap
    Quantiles(labels.map(byLabel), mkKs(n), n, r.jobs, r.scannedChunks, r.fallback)
  }

  /** [[extremaLocation]] result: `result` is one row — `v_min`, the
    * per-dim `min_<dim>` coordinates of its FIRST occurrence (smallest
    * dim tuple, so ties are deterministic), `v_max` and `max_<dim>`
    * likewise — or zero rows when the variable has no finite cell.
    * `scannedChunks` counts the candidate chunks the one location scan
    * read; `fallback` marks the full-scan path (stale/absent stats). */
  final case class ExtremaLocation(result: DataFrame,
                                   scannedChunks: Long, fallback: Boolean)

  /** WHERE the global extrema live — the peak/trough amplitude locator
    * (the volume-statistics argmax/argmin readout, reference
    * examples/seismic_reader/stats.hh:31-67 + main.cc:71-142, which
    * full-scans; here the scan prunes to the chunks that can WIN): the
    * sidecar bounds give the global finite MIN and MAX without touching
    * data, so the only chunks worth reading are those whose recorded
    * bounds EQUAL an extremum — everything else provably cannot contain
    * it. One `chunkKeys` scan over that candidate set locates both
    * extrema (first occurrence in dim order, so ties are deterministic
    * and the answer equals `ORDER BY dims LIMIT 1` over the matching
    * cells); coarse shards join the search as manifest intervals and
    * open only when their bounds union touches an extremum. The peak of
    * a 100 TB store is thus O(manifest) driver bytes + usually ONE chunk
    * read. NaN cells never win (bounds cover finite cells only) and an
    * all-NaN/empty variable returns zero rows, proven from metadata.
    * `ranges` (r18) restricts the hunt to a dim-index window — WHERE is
    * the peak of this crop — with candidacy decided by the box's own
    * chunk bounds (misaligned windows locate through the sliced scan);
    * `windows` (r19) hunts over a UNION of disjoint windows (the peak of
    * two depth slabs in one call), same walk, same candidate discipline.
    * Extremum equality compares in the column's NATIVE type (u64 stays
    * decimal-exact past 2^53); `v_min`/`v_max` surface as double.
    * Stale/absent stats fall back to one full scan (`fallback = true`,
    * same first-occurrence semantics). */
  def extremaLocation(spark: SparkSession, path: String,
                      variable: String,
                      ranges: Map[String, (Long, Long)] = Map.empty,
                      windows: Seq[Map[String, (Long, Long)]] = Nil): ExtremaLocation = {
    // optional dim-index window (r18) or union of disjoint windows (r19):
    // WHERE does the peak of this crop (or crop union) live
    val t = new QcVar(spark, path, variable, "extremaLocation",
      "its extrema are its ends", ranges, windows)
    val dims = t.dims
    val outSchema = StructType(
      Seq(StructField("v_min", DoubleType, nullable = false)) ++
        dims.map(d => StructField(s"min_$d", LongType, nullable = false)) ++
        Seq(StructField("v_max", DoubleType, nullable = false)) ++
        dims.map(d => StructField(s"max_$d", LongType, nullable = false)))
    def empty = ExtremaLocation(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema),
      0L, fallback = false)
    // ONE job locates both extrema over any source: first occurrence =
    // smallest dim-struct among the matching cells (struct ordering is
    // lexicographic over the dims in order); the native-typed edge
    // literal keeps the equality from rounding (u64 decimal bounds past
    // 2^53 must not route through double)
    def locate(src: DataFrame, vmin: BigDecimal, vmax: BigDecimal): DataFrame = {
      val dimStruct = struct(dims.map(col): _*)
      val r = src.agg(
        min(when(col(variable) === edgeLit(vmin, t.vt), dimStruct)).as("lmin"),
        min(when(col(variable) === edgeLit(vmax, t.vt), dimStruct)).as("lmax")).head
      val (lmin, lmax) = (r.getStruct(0), r.getStruct(1))
      require(lmin != null && lmax != null,
        s"extrema location scan found no matching cell — stale stats for '$variable'?")
      spark.createDataFrame(
        java.util.Collections.singletonList(Row.fromSeq(
          Seq(vmin.toDouble) ++ dims.indices.map(lmin.getLong) ++
            Seq(vmax.toDouble) ++ dims.indices.map(lmax.getLong))),
        outSchema)
    }
    def scanFallback(): ExtremaLocation = {
      val src = t.finite(t.sliced(t.base))
      val mm = src.agg(min(col(variable)).as("mn"), max(col(variable)).as("mx")).head
      if (mm.isNullAt(0)) return empty.copy(fallback = true)
      def bd(i: Int): BigDecimal = mm.get(i) match {
        case d: Double => BigDecimal(d)
        case f: Float => BigDecimal(f.toDouble)
        case l: Long => BigDecimal(l)
        case i2: Int => BigDecimal(i2)
        case s: Short => BigDecimal(s.toInt)
        case b: Byte => BigDecimal(b.toInt)
        case x: java.math.BigDecimal => BigDecimal(x)
        case other => throw new IllegalStateException(s"unorderable value $other")
      }
      ExtremaLocation(locate(src, bd(0), bd(1)), 0L, fallback = true)
    }

    val (man, geo) = t.plan() match {
      case Right(p) => p
      case Left(_) => return scanFallback()
    }
    // bounds only: a chunk can win without moments
    val ri = new RankItems(t.varDir, man, geo, qcEntryBudget, moments = false)
    if (!ri.usable) return scanFallback()
    val its = ri.items(geo.whole)
    if (its.isEmpty) return empty // every chunk all-NaN
    val gmin = its.iterator.map(_._1).min
    val gmax = its.iterator.map(_._2).max
    // open only the shards whose bounds union TOUCHES an extremum — the
    // candidates must be chunk-grained for the allowlist scan
    ri.openCoarse((_, l, h) => l == gmin || h == gmax)
    if (!ri.usable) return scanFallback()
    val candidates = ri.fineOf(geo.whole).collect {
      case (cc, b) if b.min == gmin || b.max == gmax => cc
    }.toSeq
    ExtremaLocation(locate(t.chunks(candidates), gmin, gmax),
      candidates.size.toLong, fallback = false)
  }

  /** [[extremaByBox]] result: one row per group with ≥1 finite cell —
    * per-dim group ordinals (`g_<dim>`), `v_min` with its
    * FIRST-occurrence `min_<dim>` coordinates, `v_max` with `max_<dim>`,
    * and `n` finite cells. `scannedChunks` counts the candidate chunks
    * the one location scan read; `fallback` marks the distributed
    * two-pass scan form. */
  final case class GroupedExtrema(result: DataFrame,
                                  scannedChunks: Long, fallback: Boolean)

  /** WHERE each box's extrema live — the per-slab / per-tile peak-and-
    * trough locator heat map (the grouped twin of [[extremaLocation]],
    * on the [[medianByBox]] group geometry; reference volume-statistics
    * argmax, examples/seismic_reader/stats.hh:31-67, which full-scans one
    * global answer): each group's MIN/MAX come EXACTLY from its chunks'
    * sidecar bounds — whole shards by manifest summary when they map
    * into one un-sliced group — and the only chunks READ are those whose
    * bounds equal their own group's extremum; one `chunkKeys` scan with
    * the per-group extrema riding a broadcast join answers every group's
    * first-occurrence locations together (ties resolve to the smallest
    * dim tuple, per group). `ranges` (r18) windows the heat map: group
    * ids stay ABSOLUTE and a slice-clipped box locates within its
    * surviving cells. Misaligned groups or windows, stale/absent stats,
    * more than `maxGroups` boxes (per-group extrema and the location
    * rows live on the driver) or more than `maxScanChunks` candidates
    * fall back LOUDLY to a fully distributed two-pass form — per-group
    * extrema by aggregation, locations by a grouped join — exact in
    * every case, nothing driver-held. */
  def extremaByBox(spark: SparkSession, path: String, variable: String,
                   groupSizes: Seq[Long],
                   maxScanChunks: Int = 512,
                   maxGroups: Int = 1 << 16,
                   ranges: Map[String, (Long, Long)] = Map.empty): GroupedExtrema = {
    val t = new QcVar(spark, path, variable, "extremaByBox",
      "its extrema are its ends", ranges, Nil)
    val gs = new QcGroups(t, groupSizes)
    val dims = t.dims
    val dimStruct = struct(dims.map(col): _*)
    val outCols = gs.out ++
      Seq(col("vmn").cast("double").as("v_min")) ++
      dims.map(d => col(s"lmin.$d").as(s"min_$d")) ++
      Seq(col("vmx").cast("double").as("v_max")) ++
      dims.map(d => col(s"lmax.$d").as(s"max_$d")) :+ col("n")
    def located(src: DataFrame): DataFrame =
      src.select(gs.cols ++ Seq(dimStruct.as("_loc"), col(variable).as("v")): _*)
    def scanFallback(): GroupedExtrema = {
      val src = located(t.finite(t.sliced(t.base)))
      val stats = src.groupBy(gs.names.map(col): _*)
        .agg(min(col("v")).as("vmn"), max(col("v")).as("vmx"),
          count(lit(1L)).as("n"))
      val loc = src.join(stats, gs.names)
        .groupBy(gs.names.map(col): _*)
        .agg(min(when(col("v") === col("vmn"), col("_loc"))).as("lmin"),
          min(when(col("v") === col("vmx"), col("_loc"))).as("lmax"),
          min(col("vmn")).as("vmn"), min(col("vmx")).as("vmx"),
          min(col("n")).as("n"))
      GroupedExtrema(loc.select(outCols: _*), 0L, fallback = true)
    }

    val (man, geo) = t.plan(groupSizes, maxGroups) match {
      case Right(p) => p
      case Left(_) => return scanFallback()
    }
    val ri = new RankItems(t.varDir, man, geo, qcEntryBudget)
    if (!ri.usable) return scanFallback()
    // per-group extrema + finite counts, exactly from metadata
    final case class GExt(n: Long, mn: BigDecimal, mx: BigDecimal)
    val exts: Map[Seq[Long], GExt] = ri.groups.flatMap { g =>
      val its = ri.items(g)
      val n = its.iterator.map(_._3).sum
      if (n == 0) None
      else Some(g -> GExt(n, its.iterator.map(_._1).min, its.iterator.map(_._2).max))
    }.toMap
    // open the coarse shards whose bounds union TOUCHES their own group's
    // extremum — only their chunk detail can be a candidate
    ri.openCoarse((g, l, h) => exts.get(g).exists(e => l == e.mn || h == e.mx))
    if (!ri.usable) return scanFallback() // torn shard or budget mid-refinement

    val outSchema = StructType(gs.fields ++
      Seq(StructField("v_min", DoubleType, nullable = false)) ++
      dims.map(d => StructField(s"min_$d", LongType, nullable = false)) ++
      Seq(StructField("v_max", DoubleType, nullable = false)) ++
      dims.map(d => StructField(s"max_$d", LongType, nullable = false)) :+
      StructField("n", LongType, nullable = false))
    if (exts.isEmpty) // every box all-NaN: proven-empty result
      return GroupedExtrema(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), outSchema), 0L, fallback = false)

    val candidates = exts.toSeq.flatMap { case (g, e) =>
      ri.fineOf(g).collect { case (cc, b) if b.min == e.mn || b.max == e.mx => cc }
    }
    if (candidates.size > maxScanChunks) {
      log.warn(s"extremaByBox($path, $variable): ${candidates.size} " +
        s"candidate chunks (cap $maxScanChunks) — using the distributed " +
        "two-pass scan form")
      return scanFallback()
    }
    // ONE location scan over every group's candidates: the per-group
    // extrema ride a broadcast join (native-typed, so u64/decimal
    // equality never rounds) and first occurrence = min dim-struct
    val bounds = gs.frame(spark,
      exts.toSeq.map { case (g, e) =>
        Row.fromSeq(g ++ Seq(edgeValue(e.mn, t.vt), edgeValue(e.mx, t.vt)))
      },
      Seq(StructField("vmn", edgeType(t.vt), nullable = false),
        StructField("vmx", edgeType(t.vt), nullable = false)))
    val nG = gs.names.size
    val locations = located(t.chunks(candidates))
      .join(broadcast(bounds), gs.names)
      .groupBy(gs.names.map(col): _*)
      .agg(min(when(col("v") === col("vmn"), col("_loc"))).as("lmin"),
        min(when(col("v") === col("vmx"), col("_loc"))).as("lmax"))
      .collect()
      .map(r => (gs.names.indices.map(r.getLong(_)): Seq[Long]) ->
        ((r.getStruct(nG), r.getStruct(nG + 1)))).toMap
    val rows = exts.toSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering[Seq, Long])
      .map { case (g, e) =>
        val (lmin, lmax) = locations.getOrElse(g.toIndexedSeq: Seq[Long],
          throw new IllegalStateException(
            s"extremaByBox location scan found no cell for group $g — " +
              s"stale stats for '$variable'?"))
        require(lmin != null && lmax != null,
          s"extremaByBox located no matching cell in group $g — stale stats?")
        Row.fromSeq(g ++ Seq(e.mn.toDouble) ++ dims.indices.map(lmin.getLong) ++
          Seq(e.mx.toDouble) ++ dims.indices.map(lmax.getLong) :+ e.n)
      }
    GroupedExtrema(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema),
      candidates.size.toLong, fallback = false)
  }

  /** [[histogramMeta]] result: `result` is one row per NON-EMPTY bin —
    * (`bin` 0-based, `center` = lo + (bin+0.5)·width, `cnt`), ordered by
    * bin; NaN cells never count. `metadataChunks` binned whole from the
    * sidecar (their stats interval fits one bin — proven by chunk entry
    * or whole-shard summary), `scannedChunks` straddle a bin edge and
    * were read; `fallback` marks the ordinary one-scan path. */
  final case class HistogramMeta(result: DataFrame,
                                 metadataChunks: Long, scannedChunks: Long,
                                 fallback: Boolean)

  /** EXACT uniform-bin histogram (the reference CenteredBinHistogram
    * shape, mdio/stats.h:109-161, same outlier clipping as
    * [[StatsV1Aggregator]]: values outside [lo, lo+nBins·width) land in
    * the edge bins) that reads ONLY the chunks whose stats interval
    * CROSSES a bin edge: a chunk whose [min, max] falls inside one bin
    * contributes its finite-cell `cnt` to that bin from metadata — and
    * whole SHARDS do the same from their manifest summary without being
    * opened — so the amplitude histogram of a 100 TB store pays chunk
    * I/O proportional to the BIN-EDGE SURFACE, not the volume (zero for
    * a store whose chunks align with the bins, e.g. depth-banded data;
    * everything for white noise — exactly the chunks a scan could never
    * skip). Straddlers resolve in ONE `chunkKeys` scan grouped by the
    * bin expression; binning computes in double on BOTH sides (the
    * driver triage and the scan) so the claim and the scan can never
    * disagree on a boundary value. Stale/absent stats or more than
    * `maxScanChunks` straddlers fall back to one full scan
    * (`fallback = true`) — exact in every case. `ranges` (r18) restricts
    * the histogram to a dim-index window (the crop's own amplitude
    * distribution); misaligned windows answer through the sliced scan;
    * `windows` (r19) bins a UNION of disjoint windows in one walk. */
  def histogramMeta(spark: SparkSession, path: String, variable: String,
                    lo: Double, width: Double, nBins: Int,
                    maxScanChunks: Int = 512,
                    ranges: Map[String, (Long, Long)] = Map.empty,
                    windows: Seq[Map[String, (Long, Long)]] = Nil): HistogramMeta = {
    require(width > 0 && nBins >= 1, s"bad bins: lo=$lo width=$width n=$nBins")
    // optional dim-index window (r18) or union of disjoint windows (r19)
    val t = new QcVar(spark, path, variable, "histogramMeta",
      "bin its index range instead", ranges, windows)
    def binD(v: Double): Int = { // the StatsV1Aggregator clip rule
      val b = math.floor((v - lo) / width).toInt
      if (b < 0) 0 else if (b >= nBins) nBins - 1 else b
    }
    val binCol = least(greatest(
      floor((col(variable).cast("double") - lit(lo)) / lit(width)), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("long").as("bin")
    def toResult(counts: Map[Long, Long]): DataFrame = {
      import spark.implicits._
      counts.toSeq.filter(_._2 > 0).sortBy(_._1)
        .map { case (b, c) => (b, lo + (b + 0.5) * width, c) }
        .toDF("bin", "center", "cnt")
    }
    def grouped(df: DataFrame): Map[Long, Long] =
      t.finite(df).groupBy(binCol).agg(count(lit(1L)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def scanFallback(): HistogramMeta =
      HistogramMeta(toResult(grouped(t.sliced(t.base))), 0L, 0L, fallback = true)
    val (man, geo) = t.plan() match {
      case Right(p) => p
      case Left(_) => return scanFallback()
    }

    val metaCounts = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var metaChunks = 0L
    val straddlers = Seq.newBuilder[Seq[Long]]
    var nStraddle = 0
    var usable = true
    val within = walkShards(t.varDir, man, geo, qcEntryBudget) { (sid, sm) =>
      geo.shardGroup(sid, man.span).isDefined &&
        ((sm.lo, sm.hi) match {
          case (Some(l), Some(h)) if sm.cells.isDefined &&
              binD(l.toDouble) == binD(h.toDouble) =>
            metaCounts(binD(l.toDouble).toLong) += sm.cells.get
            metaChunks += sm.bounded.max(0L)
            true
          case (None, None) => true // all-NaN shard: nothing to bin
          case _ => false // crosses a bin edge (or no summary): open it
        })
    } { (cc, eOpt) =>
      if (geo.inBox(cc)) eOpt match {
        case Some(None) => () // all-NaN chunk
        case Some(Some(b)) if b.moments.isDefined &&
            binD(b.min.toDouble) == binD(b.max.toDouble) =>
          metaCounts(binD(b.min.toDouble).toLong) += b.moments.get.cnt
          metaChunks += 1
        case Some(Some(_)) => straddlers += cc; nStraddle += 1
        case None => usable = false // uncovered chunk: stats incomplete
      }
    }
    if (!within || !usable || nStraddle > maxScanChunks) {
      if (within && usable) log.warn(s"histogramMeta($path, $variable): " +
        s"$nStraddle chunks cross bin edges (cap $maxScanChunks) — full scan")
      return scanFallback()
    }
    val scanCounts: Map[Long, Long] =
      if (nStraddle == 0) Map.empty
      else grouped(t.chunks(straddlers.result()))
    val merged = (metaCounts.keySet ++ scanCounts.keySet).map { b =>
      b -> (metaCounts(b) + scanCounts.getOrElse(b, 0L))
    }.toMap
    HistogramMeta(toResult(merged), metaChunks, nStraddle.toLong,
      fallback = false)
  }

  /** [[countInRangeByBox]] result: `result` has one row per group with at
    * least one finite cell — per-dim group ordinals (`g_<dim>`), `cnt` =
    * cells with `lo ≤ v ≤ hi` in the group (0 rows never drop: a box
    * whose count is zero still reports, since the heat-map's zeros ARE
    * the signal), `n` = the group's finite cells. `metadataChunks`/
    * `outsideChunks`/`scannedChunks` as in [[CountInRange]]; `fallback`
    * marks the one-scan path. */
  final case class GroupedCount(result: DataFrame,
                                metadataChunks: Long, outsideChunks: Long,
                                scannedChunks: Long, fallback: Boolean)

  /** Per-box exact COUNT of cells in `[lo, hi]` — the threshold-occupancy
    * heat map (net-pay / anomaly-fraction per slab or tile; the grouped
    * twin of [[countInRange]], on the [[medianByBox]] group geometry):
    * chunks fully inside the range add their finite-cell `cnt` to their
    * group from metadata, fully-outside (or all-NaN) chunks add zero, and
    * whole SHARDS do either from the manifest summary without opening —
    * all boxes resolve their straddlers together in ONE `chunkKeys` scan
    * grouped by the box ordinals, so chunk I/O is the range's boundary
    * surface regardless of how many boxes tile the store. `n` per box
    * (for the fraction readout) comes entirely from metadata. Group
    * sizes follow [[medianByBox]]'s rule (positive; per dim a chunk-size
    * multiple or ≥ the extent). Misalignment, stale/absent stats, or
    * more than `maxScanChunks` straddlers fall back loudly to ONE full
    * scan (`fallback = true`), exact in every case. `ranges` (r18)
    * restricts the heat map to a dim-index window: group ids stay
    * absolute, a slice-clipped box counts its surviving cells, and a
    * misaligned window answers through the sliced grouped scan. */
  def countInRangeByBox(spark: SparkSession, path: String, variable: String,
                        lo: Double, hi: Double, groupSizes: Seq[Long],
                        maxScanChunks: Int = 512,
                        maxGroups: Int = 1 << 16,
                        ranges: Map[String, (Long, Long)] = Map.empty): GroupedCount = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    // optional dim-index window (r18): the crop's own occupancy heat map
    val t = new QcVar(spark, path, variable, "countInRangeByBox",
      "count its index range instead", ranges, Nil)
    val gs = new QcGroups(t, groupSizes)
    // exact range membership in the column's own type — consistent with
    // the BigDecimal chunk triage (see rangePred)
    val inRange = rangePred(col(variable), t.vt, lo, hi)
    def scanFallback(): GroupedCount = {
      val sel = t.finite(t.sliced(t.base)).select(gs.cols :+ col(variable): _*)
        .groupBy(gs.names.map(col): _*)
        .agg(count(when(inRange, 1L)).as("cnt"), count(lit(1L)).as("n"))
        .select(gs.out ++ Seq(col("cnt"), col("n")): _*)
      GroupedCount(sel, 0L, 0L, 0L, fallback = true)
    }
    // the explicit O(groups) driver contract: the in/total maps and the
    // result rows live on the driver — past `maxGroups`, the distributed
    // one-scan form is the right plan, not a degraded one
    val (man, geo) = t.plan(groupSizes, maxGroups) match {
      case Right(p) => p
      case Left(_) => return scanFallback()
    }

    val (loB, hiB) = (exactBig(lo), exactBig(hi))
    val inCnt = mutable.Map.empty[Seq[Long], Long].withDefaultValue(0L)
    val total = mutable.Map.empty[Seq[Long], Long].withDefaultValue(0L)
    var metaChunks = 0L
    var outside = 0L
    val straddlers = Seq.newBuilder[Seq[Long]]
    var nStraddle = 0
    var usable = true
    val within = walkShards(t.varDir, man, geo, qcEntryBudget) { (sid, sm) =>
      // a whole shard decides from the manifest only when it maps into
      // ONE group inside the window and its bounds union settles the
      // range question for every chunk inside it
      sm.cells.isDefined && geo.shardGroup(sid, man.span).exists { g =>
        (sm.lo, sm.hi) match {
          case (Some(l), Some(h)) if h < loB || l > hiB =>
            total(g) += sm.cells.get; outside += sm.count; true
          case (Some(l), Some(h)) if l >= loB && h <= hiB && sm.bounded >= 0 =>
            inCnt(g) += sm.cells.get; total(g) += sm.cells.get
            metaChunks += sm.bounded; outside += sm.count - sm.bounded; true
          case (None, None) => outside += sm.count; true // all-NaN: n = 0 too
          case _ => false // straddles the range: open for chunk triage
        }
      }
    } { (cc, eOpt) =>
      if (geo.inBox(cc)) {
        val g = geo.groupOf(cc)
        eOpt match {
          case Some(None) => outside += 1 // all-NaN chunk
          case Some(Some(b)) if b.moments.isDefined =>
            total(g) += b.moments.get.cnt
            if (b.max < loB || b.min > hiB) outside += 1
            else if (b.min >= loB && b.max <= hiB) {
              inCnt(g) += b.moments.get.cnt; metaChunks += 1
            } else { straddlers += cc; nStraddle += 1 }
          case _ => usable = false // no entry or no moments: n unknowable
        }
      }
    }
    if (!within || !usable || nStraddle > maxScanChunks) {
      if (within && usable) log.warn(s"countInRangeByBox($path, $variable): " +
        s"$nStraddle straddlers (cap $maxScanChunks) — full scan")
      return scanFallback()
    }
    if (nStraddle > 0)
      t.chunks(straddlers.result()).select(gs.cols :+ col(variable): _*)
        .filter(inRange)
        .groupBy(gs.names.map(col): _*).agg(count(lit(1L)).as("c"))
        .collect().foreach { r =>
          inCnt(gs.names.indices.map(r.getLong(_))) += r.getLong(gs.names.size)
        }
    val rows = total.keySet.toSeq
      .sorted(Ordering.Implicits.seqOrdering[Seq, Long])
      .map(g => Row.fromSeq(g ++ Seq(inCnt(g), total(g))))
    GroupedCount(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(gs.fields ++ Seq(StructField("cnt", LongType, nullable = false),
        StructField("n", LongType, nullable = false)))),
      metaChunks, outside, nStraddle.toLong, fallback = false)
  }

  /** [[medianByBox]]/[[medianByLead]] result: `result` has one row per
    * group — the per-dim group ordinals (`g_<dim>` columns from
    * [[medianByBox]]; a single `slab` column from [[medianByLead]]),
    * `med` = the group's exact lower median, `n` = the group's
    * finite-cell count; groups with zero finite cells (all-NaN boxes)
    * emit no row. `jobs`/`scannedChunks` count the scan jobs issued (0–2
    * on the pruning path) and the chunks they read; `fallback` marks the
    * exact one-scan grouped-rank path. */
  final case class GroupedMedian(result: DataFrame,
                                 jobs: Int, scannedChunks: Long,
                                 fallback: Boolean)

  /** [[quantilesByBox]] result: `result` has one row per (group, p) —
    * per-dim group ordinals (`g_<dim>`), `p` the requested quantile, `q`
    * the group's exact `⌈p·n⌉`-th smallest finite cell, `n` the group's
    * finite-cell count; all-NaN groups emit no rows. `jobs`/
    * `scannedChunks` count the scan jobs issued (0–2 on the pruning path)
    * and the chunks they read; `fallback` marks the exact one-scan
    * grouped-rank path. */
  final case class GroupedQuantiles(result: DataFrame,
                                    jobs: Int, scannedChunks: Long,
                                    fallback: Boolean)

  /** EXACT quantile VECTOR per chunk-aligned dim box — the per-slab/tile
    * clip-level heat map (p01/p50/p99 per survey slab for display-gain
    * QC; the grouped form of [[quantilesOf]] on [[medianByBox]]'s group
    * geometry; reference statsV1 QC anchor, mdio/stats.h:229-335). Group
    * `d`'s ordinal is `⌊index_d / groupSizes(d)⌋` over ABSOLUTE dim
    * indices; each group's rank `⌈p·n_g⌉` is selected exactly for every
    * requested `p` by the one rank pass ([[rankPass]]), sharing every
    * stage across ALL groups AND all quantiles. Requirements: every
    * `groupSizes(d)` positive and a multiple of dim `d`'s chunk size or
    * ≥ the extent; distinct `ps` in (0, 1]; generation-current
    * full-coverage stats with moments. Anything less — or straddlers past
    * `maxProbeChunks`, or more than `maxGroups` boxes (the driver holds
    * per-group bracket state: slab/tile heat maps are small, but a
    * per-chunk-tile geometry at the 100 TB envelope is ~1.6 M groups) —
    * falls back LOUDLY to one exact full-scan grouped-rank selection
    * (`fallback = true`). `ranges` (r18) restricts the ranking to a
    * dim-index box (`dim -> [lo, hi)`): group ids stay ABSOLUTE and each
    * surviving slab ranks its in-box cells only — the per-slab clip
    * heat-map of a cropped survey; the box must be chunk-aligned or the
    * sliced fallback answers, and the group cap counts only the slabs the
    * slice touches. */
  def quantilesByBox(spark: SparkSession, path: String, variable: String,
                     ps: Seq[Double], groupSizes: Seq[Long],
                     maxProbeChunks: Int = 512,
                     maxGroups: Int = 1 << 16,
                     ranges: Map[String, (Long, Long)] = Map.empty): GroupedQuantiles = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantiles $ps must lie in (0, 1]")
    require(ps.distinct == ps, s"duplicate quantiles in $ps")
    rankPass(spark, path, variable, "quantilesByBox", ps, ceilRanks(ps), Some(groupSizes),
      maxProbeChunks, maxGroups, fallbackOk = true, ranges, Nil).grouped(spark)
  }

  /** Per-box values at EXPLICIT per-group ranks — `mkKs(n_g)` names each
    * group's rank list (constant arity; `labels` are the output `p`
    * column, one per rank slot) — the seam the percentile aggregate
    * pushdown batches through, grouped and ungrouped alike (ungrouped,
    * `groupSizes` is the variable's shape: one group). Pruned path ONLY:
    * the caller proved answerability (alignment, current sidecar,
    * NaN-free) at plan time, so any fallback condition here is a
    * plan/execution race and throws loudly — a stats race as the
    * retryable [[graft.sources.MdioAggScan.StatsRaceException]] —
    * instead of answering from a scan the plan did not choose. */
  private[graft] def boxRanks(spark: SparkSession, path: String, variable: String,
                              labels: Seq[Double], mkKs: Long => Seq[Long],
                              groupSizes: Seq[Long],
                              maxProbeChunks: Int = 512,
                              maxGroups: Int = Int.MaxValue,
                              ranges: Map[String, (Long, Long)] = Map.empty): RankAnswer = {
    require(labels.nonEmpty && labels.distinct == labels, s"bad rank labels $labels")
    rankPass(spark, path, variable, "boxRanks", labels, mkKs, Some(groupSizes),
      maxProbeChunks, maxGroups, fallbackOk = false, ranges, Nil)
  }

  /** One (group, slot) request of [[rankPass]]: the `residual`-th
    * smallest of group `g`'s finite cells in the window (x0, x1] (None =
    * no edge on that side), labelled `p`; `n` is the group's finite-cell
    * count, `blo`/`bw` the request's [[rankBucket]] parameters. Edges are
    * plain values of [[edgeType]], so window membership compares in the
    * value's native type — a u64 edge past 2^53 never rounds through
    * double. */
  /** [[rankPass]]'s answer: result rows (`g_<dim>`…, `p`, `q`, `n`) —
    * on the driver when the pick ran there, else the distributed pick's
    * frame — and the pass's counters. */
  private[graft] final case class RankAnswer(rows: Either[DataFrame, Seq[Row]],
                                             schema: StructType, jobs: Int,
                                             scannedChunks: Long, fallback: Boolean) {
    def collect(): Seq[Row] = rows.fold(_.collect().toSeq, identity)
    def grouped(spark: SparkSession): GroupedQuantiles = GroupedQuantiles(
      rows.fold(identity, rs => spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)),
      jobs, scannedChunks, fallback)
  }

  private final case class RankSlot(g: Seq[Long], p: Double, x0: Option[Any], x1: Option[Any],
                                    residual: Long, n: Long, blo: Double, bw: Double)

  /** THE rank pass behind every rank operator — [[kthSmallest]],
    * [[quantilesOf]] and [[valuesAtRanks]] as ONE group (every size the
    * whole extent), [[quantilesByBox]], [[medianByBox]], [[medianByLead]]
    * and [[boxRanks]] (the pushed percentile) per box. Result rows are
    * (`g_<dim>`…, `p` = the slot's label, `q`, `n`); groups without a
    * finite cell emit none.
    *
    * Pruned path: the brackets run DRIVER-SIDE from the stats sidecar
    * (hierarchical items — whole-shard manifest summaries ride as one
    * [lo,hi]×cells interval while their lead range sits inside one
    * group, opening only when they intersect one of their group's rank
    * windows; [[bracketItems]], Long ranks throughout), then at most TWO
    * scan jobs finish everything: ONE `chunkKeys` allowlist scan
    * recounting every (group, rank) bracket's lower edge — one
    * conditional-count column per edge over one group, a broadcast join
    * of the per-group edges over several — and ONE allowlist scan over
    * the union of all rank windows, aggregated to per-(group, value)
    * counts before each group's slot requests attach (a literal array
    * over one group, a broadcast join over several). The pick then runs
    * on those per-(request, value) counts: [[selectByRankMulti]]'s two
    * jobs over the persisted frame with every bucket located on the
    * driver while requests × [[RankBuckets]] fits [[RankPickRows]], the
    * distributed [[pickByRankBucketed]] past it — either way no window
    * partition sorts more than ~1/[[RankBuckets]] of a request's
    * distinct values, even when every chunk interval overlaps
    * (zero-centered amplitudes, the degenerate case). Chunk I/O is
    * Σ(per-group boundary windows) — each box pays its boundary surface,
    * never its volume, and the plan carries no per-chunk or per-group
    * node.
    *
    * Fallback (`fallbackOk`; otherwise it throws): one exact full scan of
    * the window's finite cells into per-(group, value) counts; per-group
    * totals and extents reach the driver while the window's groups fit
    * `maxGroups` — the pruned path's own O(groups) envelope — so ranks
    * enter as literal residuals and rank-past-n stays a driver-side
    * `IllegalArgumentException`; past it, `mkKs` runs inside the plan and
    * nothing is driver-held. `race = true` marks the manifest-side
    * triggers (pinned manifest vanished, shards read as torn) — the ONLY
    * failures a fresh manifest can heal, so without `fallbackOk` only
    * they wear the retryable StatsRaceException; geometry re-asserts
    * (alignment, group cap) throw plain and stay loud on first throw
    * (r19, ADVICE). */
  private def rankPass(spark: SparkSession, path: String, variable: String, op: String,
                       labels: Seq[Double], mkKs: Long => Seq[Long],
                       groupSizes: Option[Seq[Long]], maxProbeChunks: Int,
                       maxGroups: Int, fallbackOk: Boolean,
                       ranges: Map[String, (Long, Long)],
                       windows: Seq[Map[String, (Long, Long)]]): RankAnswer = {
    val t = new QcVar(spark, path, variable, op,
      "slice its index range instead", ranges, windows)
    val sizes = groupSizes.getOrElse(t.meta.shape)
    val gs = new QcGroups(t, sizes)
    lazy val vt = t.vt
    val out = gs.out ++ Seq(col("p"), col("v").cast("double").as("q"), col("n"))
    val schema = StructType(gs.fields ++ Seq(StructField("p", DoubleType, nullable = false),
      StructField("q", DoubleType, nullable = false),
      StructField("n", LongType, nullable = false)))
    def ranksOf(n: Long): Seq[Long] = {
      val ks = mkKs(n)
      require(ks.forall(k => k >= 1 && k <= n), s"ranks $ks exceed $n finite cells")
      ks
    }

    // the shared tail: attach each group's slot requests to its
    // per-(group, value) counts, then the one pick
    def finish(byGV: DataFrame, reqs: IndexedSeq[RankSlot]): Either[DataFrame, Seq[Row]] = {
      val et = edgeType(vt)
      def edge(x: Option[Any]) = x.fold(lit(null).cast(et))(lit(_).cast(et))
      val withReq =
        if (reqs.map(_.g).distinct.size == 1)
          byGV.withColumn("_q", explode(array(reqs.zipWithIndex.map { case (r, i) =>
            struct(lit(i).as("_r"), lit(r.p).as("p"), edge(r.x0).as("x0"),
              edge(r.x1).as("x1"), lit(r.residual).as("residual"), lit(r.n).as("n"),
              lit(r.blo).as("blo"), lit(r.bw).as("bw"))
          }: _*))).select(col("*"), col("_q.*")).drop("_q")
        else byGV.join(broadcast(gs.frame(spark,
          reqs.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.g ++ Seq[Any](i, r.p, r.x0.orNull, r.x1.orNull, r.residual, r.n, r.blo, r.bw))
          },
          Seq(StructField("_r", IntegerType, nullable = false),
            StructField("p", DoubleType, nullable = false),
            StructField("x0", et, nullable = true), StructField("x1", et, nullable = true),
            StructField("residual", LongType, nullable = false),
            StructField("n", LongType, nullable = false),
            StructField("blo", DoubleType, nullable = false),
            StructField("bw", DoubleType, nullable = false)))), gs.names)
      val byR = withReq.filter((col("x0").isNull || col("v") > col("x0")) &&
        (col("x1").isNull || col("v") <= col("x1")))
      if (reqs.size.toLong * RankBuckets > RankPickRows)
        Left(pickByRankBucketed(byR, gs.names :+ "p").select(out: _*))
      else {
        val picked = byR.select("_r", "v", "c", "blo", "bw").persist()
        val qs = try selectByRankMulti(picked, reqs.map(_.residual)) finally picked.unpersist()
        Right(reqs.indices.map(i => Row.fromSeq(reqs(i).g ++ Seq[Any](reqs(i).p, qs(i), reqs(i).n))))
      }
    }

    def scanFallback(race: Boolean): RankAnswer = {
      if (!fallbackOk) {
        val msg = s"$op for '$variable' lost " +
          "its pruned-path preconditions between planning and execution"
        if (race) throw new MdioAggScan.StatsRaceException(msg)
        else throw new IllegalStateException(msg)
      }
      // runtimeFiltering=false: the group-ordinal joins below cannot prune
      // this scan (every group survives the build side) but their
      // dynamic-pruning subqueries WOULD desync the shared aggregation
      // subtree and kill the exchange reuse that executes it once
      val full = t.sliced(spark.read.format("mdio")
        .option("runtimeFiltering", "false").load(path))
      val byGV = gs.counts(t.finite(full), variable)
      val stats = byGV.groupBy(gs.names.map(col): _*)
        .agg(sum(col("c")).as("n"),
          min(col("v").cast("double")).as("blo"),
          max(col("v").cast("double")).as("_vhi"))
      val groupsUpTo = (if (windows.nonEmpty) windows else Seq(ranges)).map(w =>
        t.dims.indices.map { d =>
          val (lo, hi) = w.getOrElse(t.dims(d), (0L, t.meta.shape(d)))
          val (l, h) = (math.max(lo, 0L), math.min(hi, t.meta.shape(d)))
          if (l >= h) BigInt(0) else BigInt((h - 1) / sizes(d) - l / sizes(d) + 1)
        }.product).sum
      val result =
        if (groupsUpTo <= maxGroups) {
          byGV.persist()
          try {
            val reqs = stats.collect().toIndexedSeq.flatMap { r =>
              val k = gs.names.size
              val (n, blo, hi) = (r.getLong(k), r.getDouble(k + 1), r.getDouble(k + 2))
              labels.zip(ranksOf(n)).map { case (p, rank) =>
                RankSlot(gs.names.indices.map(r.getLong), p, None, None, rank, n,
                  blo, (hi - blo) / RankBuckets)
              }
            }
            if (reqs.isEmpty) Right(Nil) else finish(byGV, reqs)
          } finally byGV.unpersist()
        } else {
          val ranks = udf((n: Long) => mkKs(n))
          val reqs = stats.select(gs.names.map(col) ++ Seq(col("n"), col("blo"),
              ((col("_vhi") - col("blo")) / lit(RankBuckets.toDouble)).as("bw"),
              posexplode(ranks(col("n")))): _*)
            .withColumn("p", typedLit(labels.toArray).getItem(col("pos")))
            .withColumnRenamed("col", "residual")
          Left(pickByRankBucketed(byGV.join(reqs, gs.names), gs.names :+ "p").select(out: _*))
        }
      RankAnswer(result, schema, 0, 0L, fallback = true)
    }

    val (man, geo) = t.plan(sizes, maxGroups) match {
      case Right(p) => p
      case Left(race) => return scanFallback(race)
    }
    // per-group rank items, mixed granularity. The direct API budgets its
    // driver-side triage like every QC operator; the pushdown execution
    // (fallbackOk = false) does NOT — its budget ran at PLAN time
    // (boxRankAnswerable's entry budget), and an accepted plan must
    // answer, not start declining mid-execution. So unusable items here
    // are a torn shard whenever they can throw.
    val ri = new RankItems(t.varDir, man, geo,
      if (fallbackOk) qcEntryBudget else Long.MaxValue, integral = !t.isFloat)
    if (!ri.usable) return scanFallback(race = true)
    val states = ri.groups.flatMap { g =>
      val n = ri.items(g).iterator.map(_._3).sum
      if (n == 0) None else Some((g, n, ranksOf(n)))
    }
    if (states.isEmpty) return RankAnswer(Right(Nil), schema, 0, 0L, fallback = false)
    val brs = ri.brackets(states.map { case (g, _, ks) => g -> ks })
      .getOrElse(return scanFallback(race = true))

    var scanned = 0L
    var jobs = 0
    // exact below-edge counts for ALL (group, edge) pairs in ONE allowlist
    // scan: each group's straddler set is the union over its ranks' lower
    // edges (a remaining coarse shard can never straddle one — it would
    // intersect that rank's window and be open). Every edge of a probed
    // group counts over ALL of its probed chunks, and the metadata side
    // below excludes probed chunks entirely, so nothing double-counts (a
    // chunk probed for one edge may sit fully below another).
    val straddlersOf: Map[Seq[Long], Seq[Seq[Long]]] = states.iterator.map { case (g, _, _) =>
      g -> brs(g).flatMap(_._1).distinct.flatMap { b0 =>
        ri.fineOf(g).collect { case (cc, b) if b.min <= b0 && b.max > b0 => cc }
      }.distinct
    }.toMap
    val probeChunks = straddlersOf.valuesIterator.flatten.toSeq.distinct
    if (probeChunks.size > maxProbeChunks) {
      log.warn(s"$op($path, $variable): ${probeChunks.size} " +
        s"chunks straddle bracket edges (cap $maxProbeChunks) — " +
        "falling back to the exact full-scan grouped-rank selection")
      return scanFallback(race = false)
    }
    val edges = states.flatMap { case (g, _, _) =>
      if (straddlersOf(g).isEmpty) Nil else brs(g).flatMap(_._1).distinct.map(g -> _)
    }
    val exactBelow: Map[(Seq[Long], BigDecimal), Long] =
      if (probeChunks.isEmpty) Map.empty
      else {
        scanned += probeChunks.size
        jobs += 1
        val probe = t.chunks(probeChunks)
        if (edges.map(_._1).distinct.size == 1) {
          val aggs = edges.map { case (_, e) => count(when(col(variable) <= edgeLit(e, vt), 1L)) }
          val row = probe.agg(aggs.head, aggs.tail: _*).head
          edges.indices.map(i => edges(i) -> row.getLong(i)).toMap
        } else {
          val ef = gs.frame(spark,
            edges.indices.map(i => Row.fromSeq(edges(i)._1 ++ Seq[Any](i, edgeValue(edges(i)._2, vt)))),
            Seq(StructField("_e", IntegerType, nullable = false),
              StructField("x0", edgeType(vt), nullable = false)))
          probe.select(gs.cols :+ col(variable).as("v"): _*)
            .join(broadcast(ef), gs.names)
            .filter(col("v") <= col("x0"))
            .groupBy(col("_e")).agg(count(lit(1L)))
            .collect().map(r => edges(r.getInt(0)) -> r.getLong(1)).toMap
        }
      }

    // one request per (group, slot): the residual rank inside its window
    val reqs = states.flatMap { case (g, n, ks) =>
      val probed = straddlersOf(g).toSet
      val lo0 = ri.items(g).iterator.map(_._1).min
      def belowAt(e: BigDecimal): Long =
        ri.coarseOf(g).iterator.collect { case (_, h, c) if h <= e => c }.sum +
          ri.fineOf(g).iterator.collect {
            case (cc, b) if !probed.contains(cc) && b.max <= e => ri.cellsOf(cc, b).get
          }.sum +
          exactBelow.getOrElse((g, e), 0L)
      labels.lazyZip(ks).lazyZip(brs(g)).map { case (p, k, (x0, x1)) =>
        val residual = k - x0.fold(0L)(belowAt)
        require(residual >= 1,
          s"rank window inconsistency in group $g: residual $residual")
        val blo = x0.getOrElse(lo0).toDouble
        RankSlot(g, p, x0.map(edgeValue(_, vt)), Some(edgeValue(x1, vt)), residual, n,
          blo, (x1.toDouble - blo) / RankBuckets)
      }
    }.toIndexedSeq
    // ONE allowlist scan over the union of every rank's window chunks;
    // over one group only cells inside some window reach the aggregation
    val windowChunks = states.flatMap { case (g, _, _) =>
      ri.fineOf(g).collect { case (cc, b) if brs(g).exists(inWindow(b.min, b.max, _)) => cc }
    }
    scanned += windowChunks.size
    jobs += 1
    val inAny =
      if (states.size > 1) lit(true)
      else brs(states.head._1).distinct.map { case (x0, x1) =>
        x0.fold(lit(true))(col(variable) > edgeLit(_, vt)) && col(variable) <= edgeLit(x1, vt)
      }.reduce(_ || _)
    val byGV = gs.counts(t.chunks(windowChunks).filter(inAny), variable)
    RankAnswer(finish(byGV, reqs), schema, jobs, scanned, fallback = false)
  }

  /** EXACT per-box lower median (`k = ⌈n/2⌉` per group, equal to
    * `ORDER BY v LIMIT 1 OFFSET (n+1)/2 - 1` within each group) over
    * chunk-aligned dim boxes — `groupSizes` of (leadSpan, wholeDim…)
    * gives depth slabs and (chunkLead, chunkTrail) the per-tile heat-map.
    * This IS [[quantilesByBox]] at `ps = [0.5]` (⌈n/2⌉ = (n+1)/2 for
    * every n) — one metadata bracket per group, at most two scan jobs for
    * all groups, the same bucketed pick, and the same loud fallbacks
    * — reshaped to the median readout (`med` instead of (p, q) rows). */
  def medianByBox(spark: SparkSession, path: String, variable: String,
                  groupSizes: Seq[Long],
                  maxProbeChunks: Int = 512,
                  maxGroups: Int = 1 << 16,
                  ranges: Map[String, (Long, Long)] = Map.empty): GroupedMedian = {
    val r = quantilesByBox(spark, path, variable, Seq(0.5), groupSizes,
      maxProbeChunks, maxGroups, ranges)
    GroupedMedian(r.result.drop("p").withColumnRenamed("q", "med"),
      r.jobs, r.scannedChunks, r.fallback)
  }

  /** EXACT per-slab lower median over lead-dimension slabs of
    * `leadPerGroup` ABSOLUTE indices — [[medianByBox]] with whole-extent
    * trailing groups (the depth-slab QC readout; result columns
    * `slab`/`med`/`n`). `leadPerGroup` must be a positive multiple of the
    * lead chunk size or the misaligned-group fallback fires. */
  def medianByLead(spark: SparkSession, path: String, variable: String,
                   leadPerGroup: Long,
                   maxProbeChunks: Int = 512,
                   ranges: Map[String, (Long, Long)] = Map.empty): GroupedMedian = {
    val t = new QcVar(spark, path, variable, "medianByLead",
      "slice its index range instead", ranges, Nil)
    val r = medianByBox(spark, path, variable,
      leadPerGroup +: t.meta.shape.tail, maxProbeChunks, ranges = ranges)
    r.copy(result = r.result.select(
      col(s"g_${t.dims.head}").as("slab"), col("med"), col("n")))
  }

  /** A3/S10 — persist computed stats into the variable's attributes with
    * the reference's statsV1 JSON shape, via the merge-patch commit. */
  def attach(path: String, variable: String, s: StatsV1): Unit = {
    val hist = s"""{"binCenters": [${s.histogram.binCenters.mkString(", ")}], """ +
      s""""counts": [${s.histogram.counts.mkString(", ")}]}"""
    graft.sources.MdioWriter.updateAttributes(path, variable,
      s"""{"statsV1": {"count": ${s.count}, "min": ${s.min}, "max": ${s.max},
         | "sum": ${s.sum}, "sumSquares": ${s.sumSquares},
         | "histogram": $hist}}""".stripMargin)
  }
}
