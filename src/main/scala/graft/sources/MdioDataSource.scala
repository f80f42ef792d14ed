package graft.sources

import graft.zarr.{ChunkCodec, HConf, VPath, ZarrMeta}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.{expressions => connector_expressions}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 connector `format("mdio")`: reads an MDIO/Zarr-v2 dataset
  * as a long-form DataFrame — one row per grid cell, integer dimension-index
  * columns followed by one column per data variable (SURVEY §1.1, §2.1 S1/S5).
  *
  * Layout read: consolidated `.zmetadata` (or directory listing fallback),
  * per-variable `.zarray` + `.zattrs` with the xarray `_ARRAY_DIMENSIONS`
  * convention the reference writes (mdio/variable.h labeled dims).
  *
  * Scale design:
  *  - partitions cover only chunks intersecting the pushed dim ranges —
  *    the Spark analog of the reference's "only chunks inside the slice are
  *    read" (USER_GUIDE.md Read; mdio/variable.h:1348-1351). Every
  *    partition is one [[MdioChunkRun]] read by one [[MdioChunkRunReader]];
  *    the plain full-scan path COALESCES C-order-adjacent chunks into
  *    per-task runs (~`spark.sql.files.maxPartitionBytes` each), so the
  *    driver plans O(bytes/target) partitions, never one control object
  *    per chunk;
  *  - `SupportsPushDownFilters`: per-dimension range predicates are absorbed
  *    entirely (chunk pruning + exact in-chunk ranges), so a 100 TB store
  *    sliced to one inline only ever opens that inline's chunk files;
  *  - `SupportsPushDownRequiredColumns`: unprojected variables' chunk files
  *    are never opened (per-variable stores = free column pruning,
  *    mdio/dataset.h:896-925);
  *  - planning streams chunk descriptors without materializing cells; the
  *    driver holds one small object per surviving chunk (SURVEY §7.4.6).
  */
class MdioDataSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "mdio"

  private def load(options: CaseInsensitiveStringMap): MdioTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("format(\"mdio\") requires .load(path)"))
    val wanted = Option(options.get("variables")).map(_.split(",").map(_.trim).toSeq)
    MdioTable(path, wanted)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    load(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    load(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

/** One MDIO dataset directory as a Spark Table, loaded by path or through
  * [[MdioCatalog]]. Writes take one route whichever way the table was
  * loaded: [[MdioWriteBuilder]] hands Spark's resolved frame to
  * [[MdioWriter.insertAligned]] (a V1 write, so `V1_BATCH_WRITE`;
  * `BATCH_WRITE` stays because `DataFrameWriter.save` plans a V2 append only
  * for tables that declare it). */
final case class MdioTable(path: String, wanted: Option[Seq[String]])
    extends Table with SupportsRead with SupportsWrite {

  // driver-side metadata read (S1): consolidated or listing
  private lazy val (groupAttrs, arrays) = ZarrMeta.readGroup(ZarrMeta.path(path))

  /** name -> (meta, dims): v3 `dimension_names`, else v2 `_ARRAY_DIMENSIONS`. */
  private lazy val labeled: Map[String, (ZarrMeta.ArrayMeta, Seq[String])] =
    arrays.flatMap { case (name, (meta, attrs)) =>
      meta.dimNames.orElse(attrs.flatMap(MdioTableUtil.arrayDimensions))
        .map(d => name -> (meta, d))
    }

  /** The table's dimension tuple = dims of the selected data variables
    * (all must agree, as in the reference's shared-domain model).
    * Explicitly-requested names may be ANY labeled array, including 1-D
    * dimension coordinates (so coordinate variables load through the same
    * connector, reference mdio/dataset.h:913-922); the default set is the
    * data variables only. */
  lazy val (dims: Seq[String], variables: Seq[String]) = {
    val dataVars = labeled.filter { case (name, (_, d)) => !(d.size == 1 && d.head == name) }
    val selected = wanted match {
      case Some(names) =>
        val missing = names.filterNot(labeled.contains)
        require(missing.isEmpty, s"unknown variables: ${missing.mkString(", ")}")
        names
      case None => dataVars.keys.toSeq.sorted
    }
    require(selected.nonEmpty, s"no data variables found in $path")
    val dimSets = selected.map(v => labeled(v)._2).distinct
    require(dimSets.size == 1,
      s"selected variables span different dimension tuples: ${dimSets.mkString(" vs ")}")
    val chunkSets = selected.map(v => labeled(v)._1.chunks).distinct
    require(chunkSets.size == 1,
      s"selected variables have different chunkShapes: ${chunkSets.mkString(" vs ")}")
    (dimSets.head, selected)
  }

  override def schema(): StructType = {
    val dimFields = dims.map(d => StructField(d, LongType, nullable = false))
    // a dimension coordinate's value column would collide with its own
    // dim-index column — surface it as `<name>__value`
    val varFields = variables.map { v =>
      val fieldName = if (dims.contains(v)) s"${v}__value" else v
      val m = labeled(v)._1
      val dt = m.fields match {
        case Some(fs) => StructType(fs.map { case (n, t) =>
          StructField(n, MdioTableUtil.sparkTypeOf(t)) })
        case None => MdioTableUtil.sparkTypeOf(m.dtype)
      }
      // typed unitsV1 surfaces as column metadata (F6) so downstream
      // DataFrame consumers see the units without re-reading .zattrs
      val fieldMeta = arrays.get(v).flatMap(_._2)
        .map(MdioTableUtil.unitsMetadata).getOrElse(Metadata.empty)
      StructField(fieldName, dt, nullable = true, metadata = fieldMeta)
    }
    StructType(dimFields ++ varFields)
  }

  override def name(): String = s"mdio:$path"
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MdioScanBuilder(path, dims, variables.map(v => v -> labeled(v)._1).toMap, schema(),
      chunkKeys = Option(options.get("chunkKeys"))
        .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty),
      runtimeFiltering = Option(options.get("runtimeFiltering"))
        .forall(_.toBoolean))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = MdioWriteBuilder(path)
}

object MdioTableUtil {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def arrayDimensions(zattrs: String): Option[Seq[String]] = {
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(zattrs) \ "_ARRAY_DIMENSIONS" match {
      case JArray(items) => Some(items.map(_.extract[String]))
      case _ => None
    }
  }

  /** unitsV1 pairs from a variable's .zattrs (nested under "metadata", as
    * [[MdioWriter.create]] serializes the spec's variable metadata). */
  def unitsAttr(zattrs: String): Seq[(String, String)] =
    graft.spec.UnitsV1.parse(JsonMethods.parse(zattrs) \ "metadata" \ "unitsV1")

  /** Spark column Metadata carrying the unitsV1 pairs (empty when none). */
  def unitsMetadata(zattrs: String): org.apache.spark.sql.types.Metadata = {
    val pairs = try unitsAttr(zattrs) catch { case _: IllegalArgumentException => Nil }
    if (pairs.isEmpty) org.apache.spark.sql.types.Metadata.empty
    else {
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      val ub = new org.apache.spark.sql.types.MetadataBuilder()
      pairs.foreach { case (cat, unit) => ub.putString(if (cat.isEmpty) "unit" else cat, unit) }
      mb.putMetadata("unitsV1", ub.build()).build()
    }
  }

  /** The space-separated `coordinates` attribute (xarray convention the
    * reference serializes, mdio/dataset_factory.h:611-626). */
  def coordinatesAttr(zattrs: String): Seq[String] = {
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(zattrs) \ "coordinates" match {
      case JString(s) => s.split("\\s+").toSeq.filter(_.nonEmpty)
      case JArray(items) => items.map(_.extract[String])
      case _ => Nil
    }
  }

  /** Connector dtype → Spark type (same widening policy as MdioSpec:
    * u64 → decimal(20,0); complex → struct(re, im)). */
  def sparkTypeOf(dtype: String): DataType = {
    if (ZarrMeta.isComplex(dtype)) {
      val half = if (dtype.endsWith("16")) DoubleType else FloatType
      return StructType(Seq(StructField("re", half), StructField("im", half)))
    }
    dtype.charAt(dtype.length - 2) match {
      case 'b' => BooleanType
      case 'f' => if (dtype.endsWith("2") || dtype.endsWith("4")) FloatType else DoubleType
      case 'i' => dtype.last match {
        case '1' => ByteType; case '2' => ShortType; case '4' => IntegerType; case _ => LongType
      }
      case 'u' => dtype.last match {
        case '1' => ShortType; case '2' => IntegerType; case '4' => LongType
        case _ => DecimalType(20, 0)
      }
      case k => throw new IllegalArgumentException(s"unsupported dtype kind '$k'")
    }
  }
}

object MdioScanBuilder {
  /** Spark's V2 names for the variance family → our metadata ops. */
  private[sources] val VarOps = Map(
    "VAR_POP" -> "vvarp", "VAR_SAMP" -> "vvars",
    "STDDEV_POP" -> "vstdp", "STDDEV_SAMP" -> "vstds")
}

/** Pushdown: absorbs per-dimension range filters; prunes variables; and
  * COMPLETELY answers an aggregation the metadata can answer as one
  * [[MdioAggScan]] of slab rows — an ungrouped aggregate is the one-slab
  * case of `GROUP BY FLOOR(dim/L)…`. Dim aggregates (COUNT, MIN/MAX/SUM
  * and COUNT(DISTINCT) of an index) come from the clamped chunk-grid
  * bounds, since the long-form grid is dense by construction (absent
  * chunks materialize fill); value aggregates come from the stats
  * sidecar ([[MdioAggScan.slabRows]]); percentiles from the rank
  * machinery. No chunk file is opened. */
final class MdioScanBuilder(path: String, dims: Seq[String],
                            metas: Map[String, ZarrMeta.ArrayMeta],
                            fullSchema: StructType,
                            chunkKeys: Option[Seq[String]] = None,
                            runtimeFiltering: Boolean = true)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private val dimSet = dims.toSet
  // label -> [lo, hi) accumulated from pushed filters
  private var ranges: Map[String, (Long, Long)] = Map.empty
  // variable -> conjunctive VALUE range from pushed filters (PARTIAL
  // pushdown: chunks whose stored [min, max] cannot satisfy the range are
  // pruned via the .mdio_stats.json sidecar when it is generation-current;
  // Spark always re-applies the row filter)
  private var valueRanges: Map[String, MdioValueRange] = Map.empty
  // label -> static IN-list values (PARTIAL pushdown: chunks containing
  // none of the values are pruned, Spark still applies the row filter —
  // chunk ranges cannot express value holes)
  private var inValues: Map[String, Array[Long]] = Map.empty
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = fullSchema
  // accepted metadata-answered aggregation: (op, dim or variable) pairs
  private var pushedAggs: Option[Seq[(String, String)]] = None
  private var pushedGroup: Option[Seq[(String, Long)]] = None // GROUP BY FLOOR(dim/L)…
  // LIMIT hint: enumerate only enough chunks to cover this many cells —
  // df.limit(k) on a 100 TB store plans a handful of partitions instead
  // of millions. Partial pushdown: Spark still applies the final limit.
  private var limitCells: Option[Int] = None

  override def pushLimit(limit: Int): Boolean = {
    limitCells = Some(limit)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  // TOP-N hint: ORDER BY <dims...> LIMIT k. Only complete slabs of the
  // LEADING sort dimension need planning — the leading key dominates the
  // lexicographic order, so every true top-k row lives in the first
  // slab(s) covering >= k cells (partial pushdown: Spark re-sorts the
  // reduced set). (dim asc-or-desc, leading key arbitrary dim.)
  private var topN: Option[(String, Boolean, Int)] = None // (dim, descending, k)
  // TOP-N on a VALUE column: ORDER BY v [DESC] LIMIT k with a
  // generation-current stats sidecar — the scan plans only chunks whose
  // bounds can reach the k-th extremum (partial pushdown; Spark re-sorts)
  private var topNValue: Option[(String, Boolean, Int)] = None // (var, descending, k)

  override def pushTopN(orders: Array[connector_expressions.SortOrder], limit: Int): Boolean = {
    if (orders.isEmpty) return false
    val lead = orders.head
    val leadName = lead.expression() match {
      case r: connector_expressions.NamedReference if r.fieldNames.length == 1 =>
        r.fieldNames.head
      case _ => return false
    }
    val desc = lead.direction() == connector_expressions.SortDirection.DESCENDING
    val dimsOnly = orders.forall(_.expression() match {
      case r: connector_expressions.NamedReference =>
        r.fieldNames.length == 1 && dimSet(r.fieldNames.head)
      case _ => false
    })
    if (dimsOnly) {
      topN = Some((leadName, desc, limit))
      true
    } else statVar(leadName) match {
      // the LEADING key alone decides soundness (it dominates the
      // lexicographic order, so a superset on it covers every tie-break);
      // trailing keys are Spark's to re-sort
      case Some(v) if MdioChunkStats.hasCurrent(ZarrMeta.path(path).resolve(v)) =>
        topNValue = Some((v, desc, limit))
        true
      case _ => false
    }
  }

  /** A pushed GROUP BY expression answerable per chunk-aligned SLAB:
    * `FLOOR(dim / L)` — Spark's V2 translation of floor-division over a
    * dim-index column (the analyzer's double casts are stripped) — with
    * `L` a positive integer; a bare dim reference is the L=1 case. The
    * chunk-multiple check lives in [[MdioAggScan.slabRows]], which also
    * validates the stats coverage. */
  private def slabGroup(e: connector_expressions.Expression): Option[(String, Long)] = {
    def dimOf(x: connector_expressions.Expression): Option[String] = x match {
      case r: connector_expressions.NamedReference
          if r.fieldNames.length == 1 && dimSet(r.fieldNames.head) =>
        Some(r.fieldNames.head)
      case c: connector_expressions.Cast => dimOf(c.expression())
      case _ => None
    }
    def litLong(x: connector_expressions.Expression): Option[Long] = x match {
      case l: connector_expressions.Literal[_] => l.value.asInstanceOf[Any] match {
        case d: java.lang.Double =>
          val bd = BigDecimal(d.doubleValue)
          if (bd.isWhole && bd.isValidLong) Some(bd.toLong) else None
        case f: java.lang.Float =>
          val bd = BigDecimal(f.floatValue.toDouble)
          if (bd.isWhole && bd.isValidLong) Some(bd.toLong) else None
        case i: java.lang.Integer => Some(i.toLong)
        case l2: java.lang.Long => Some(l2)
        case s: java.lang.Short => Some(s.toLong)
        case b: java.lang.Byte => Some(b.toLong)
        case _ => None
      }
      case c: connector_expressions.Cast => litLong(c.expression())
      case _ => None
    }
    e match {
      case g: connector_expressions.GeneralScalarExpression
          if g.name == "FLOOR" && g.children.length == 1 =>
        g.children()(0) match {
          case d: connector_expressions.GeneralScalarExpression
              if d.name == "/" && d.children.length == 2 =>
            for {
              dim <- dimOf(d.children()(0))
              l <- litLong(d.children()(1)) if l > 0
            } yield (dim, l)
          case _ => None
        }
      case other => dimOf(other).map(d => (d, 1L))
    }
  }

  private def translateAggs(agg: connector_expressions.aggregate.Aggregation)
      : Option[(Seq[(String, String)], Option[Seq[(String, Long)]])] = {
    val grouped: Option[Seq[(String, Long)]] =
      if (agg.groupByExpressions.isEmpty) None
      else {
        val gs = agg.groupByExpressions.toSeq.map(e =>
          slabGroup(e).getOrElse(return None))
        if (gs.map(_._1).distinct.size != gs.size) return None // dup dim
        Some(gs)
      }
    def named(e: connector_expressions.Expression): Option[String] = e match {
      case r: connector_expressions.NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val out = agg.aggregateExpressions.map {
      case _: connector_expressions.aggregate.CountStar => ("count", "")
      // COUNT(col): dense-grid semantics — every in-domain cell exists and
      // no column is ever null (fill values materialize, NaN is not null),
      // so the count of ANY known column equals the cell count
      case c: connector_expressions.aggregate.Count if !c.isDistinct =>
        named(c.column) match {
          case Some(a) if dimSet(a) || metas.contains(a.stripSuffix("__value")) =>
            ("count", "")
          case _ => return None
        }
      // COUNT(DISTINCT dim): dense-grid closed form — every index in the
      // clamped range exists, so the distinct count IS the range extent
      // (O(1) "how many inlines does this slice touch" on a 100 TB store)
      case c: connector_expressions.aggregate.Count if c.isDistinct =>
        named(c.column) match {
          case Some(a) if dimSet(a) && grouped.isEmpty => ("dcnt", a)
          case _ => return None
        }
      // MIN/MAX/SUM over a dim-index column (ungrouped only): the clamped
      // bounds and their closed-form index sum. Over a value column, the
      // sidecar's exact bounds and statsV1 moments (mdio/stats.h:229-335);
      // whether they answer is slabRows' call below
      case m: connector_expressions.aggregate.Min => named(m.column) match {
        case Some(a) if dimSet(a) && grouped.isEmpty => ("min", a)
        case a => ("vmin", a.flatMap(statVar).getOrElse(return None))
      }
      case m: connector_expressions.aggregate.Max => named(m.column) match {
        case Some(a) if dimSet(a) && grouped.isEmpty => ("max", a)
        case a => ("vmax", a.flatMap(statVar).getOrElse(return None))
      }
      case s: connector_expressions.aggregate.Sum if !s.isDistinct =>
        named(s.column) match {
          case Some(a) if dimSet(a) && grouped.isEmpty => ("dsum", a)
          case a => ("vsum", a.flatMap(statVar).getOrElse(return None))
        }
      // AVG over a value column: exact moment sum / dense-grid cell count,
      // one double division — same rounding story as vsum (exact real sum
      // rounded once), result DoubleType for every input dtype
      case a: connector_expressions.aggregate.Avg if !a.isDistinct =>
        ("vavg", named(a.column).flatMap(statVar).getOrElse(return None))
      // VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP over a value column: the
      // statsV1 moments carry exact Σx AND Σx² (the reference's stats.h
      // keeps sumSquares for precisely this), so the centered second
      // moment is exact and rounds once — the RMS/QC readout of a 100 TB
      // store answered from metadata alone. Spark wraps an integral
      // column in a cast to double first; that cast is exact on the
      // moments' side, so it pushes too
      case g: connector_expressions.aggregate.GeneralAggregateFunc
          if MdioScanBuilder.VarOps.contains(g.name()) && !g.isDistinct &&
            g.children().length == 1 =>
        val column = g.children()(0) match {
          case c: connector_expressions.Cast if c.dataType == DoubleType &&
              (c.expressionDataType match {
                case ByteType | ShortType | IntegerType | LongType => true
                case d: DecimalType => d.scale == 0
                case _ => false
              }) => c.expression
          case e => e
        }
        (MdioScanBuilder.VarOps(g.name()),
          named(column).flatMap(statVar).getOrElse(return None))
      // PERCENTILE_CONT / PERCENTILE_DISC over a value column (Spark's
      // `median(v)` analyzes to percentile_cont 0.5): complete pushdown
      // routes the ranks into the one rank pass at execution
      // ([[graft.operators.MdioStats.boxRanks]], ungrouped as its one
      // group) — O(manifest) metadata + at most two boundary-window
      // scans instead of Spark shuffling the corpus into its own
      // Percentile buffer; a stats race retries once, grouped or not.
      // Accepted over the full variable or a CHUNK-ALIGNED
      // dim slice — the depth-window median rides the same bracket
      // machinery restricted to the box; misaligned slices decline (a
      // straddling chunk's stats interval mixes in- and out-of-box
      // cells). Ascending, a scalar literal percentage, a
      // generation-current sidecar, and (for float dtypes) a sidecar
      // PROOF that no NaN exists over the ranked box: Spark ranks NaN
      // greatest while the rank machinery ranks finite cells, and a
      // pushdown must never change answers.
      case g: connector_expressions.aggregate.GeneralAggregateFunc
          if (g.name() == "PERCENTILE_CONT" || g.name() == "PERCENTILE_DISC") &&
            !g.isDistinct && g.children().length == 1 &&
            g.orderingWithinGroups().length == 1 =>
        val sv = g.orderingWithinGroups()(0)
        val vOpt = sv.expression match {
          case ref: connector_expressions.NamedReference =>
            statVar(ref.fieldNames.mkString("."))
          case _ => None
        }
        val pOpt = g.children()(0) match {
          case l: connector_expressions.Literal[_] => l.value match {
            case d: java.lang.Double => Some(d.doubleValue())
            case f: java.lang.Float => Some(f.doubleValue())
            case dec: org.apache.spark.sql.types.Decimal => Some(dec.toDouble)
            case _ => None
          }
          case _ => None
        }
        val disc = g.name() == "PERCENTILE_DISC"
        (vOpt, pOpt) match {
          case (Some(v), Some(p))
              if sv.direction == connector_expressions.SortDirection.ASCENDING &&
                p <= 1.0 && (if (disc) p > 0.0 else p >= 0.0) &&
                // ranks are ROW ranks: the variable must span the full
                // dim space (a narrower variable's cells would repeat per
                // row — its ranks differ), grouped and ungrouped alike
                metas(v).shape == metas.values.head.shape &&
                metas(v).fields.isEmpty &&
                // grouped form: the slabs must be chunk-aligned boxes of
                // the variable's own grid (the boxRanks geometry) and the
                // group COUNT under the driver-state cap — boxRanks holds
                // one bracket row per (group, p) on the driver, so a
                // per-chunk slab geometry at the 100 TB envelope (~1.6 M
                // groups) must DECLINE here and run through Spark's own
                // fully distributed aggregate. A dim slice composes: the
                // cap counts only the slabs the slice touches.
                grouped.forall(gs =>
                  gs.forall { case (d, l) =>
                    val di = dims.indexOf(d)
                    di >= 0 && (l % metas(v).chunks(di) == 0 || l >= metas(v).shape(di))
                  } &&
                  MdioAggScan.underGroupCap(metas(v), dims, ranges, gs,
                    s"grouped percentile on '$v'")) &&
                // full variable, or a chunk-aligned slice whose box proves
                // NaN-free on its own (r18) — grouped or not: per-slab
                // ranks rank each slab's SURVIVING cells
                MdioAggScan.boxRankAnswerable(path, v, metas(v), dims, ranges) =>
            (if (disc) s"vpctd:$p" else s"vpctc:$p", v)
          case _ => return None
        }
      case _ => return None
    }
    // every other op answers through slabRows, ungrouped as its one slab,
    // and this one call proves it: stats coverage and currency, chunk
    // alignment, moments, an integral SUM's Long fit, the group cap.
    // Percentile ops proved their rank answerability above.
    val stats = out.toSeq.filterNot(_._1.startsWith("vpct"))
    if (MdioAggScan.slabRows(path, dims, metas, ranges, stats, grouped.getOrElse(Nil)).isDefined)
      Some((out.toSeq, grouped))
    else None
  }

  // supportCompletePushDown and pushAggregation receive the same
  // Aggregation instance back-to-back, and translateAggs walks the stats
  // sidecar (manifest + intersecting shards) — memoize
  // per instance so the planner pays that I/O once. The LAST evaluation —
  // MdioAggScan.planInputPartitions at execution — stays deliberate: it is
  // the loud staleness check against a writer racing the fixed plan.
  private var aggMemo: (connector_expressions.aggregate.Aggregation,
    Option[(Seq[(String, String)], Option[Seq[(String, Long)]])]) = null

  private def translateAggsMemo(agg: connector_expressions.aggregate.Aggregation)
      : Option[(Seq[(String, String)], Option[Seq[(String, Long)]])] = {
    if (aggMemo == null || !(aggMemo._1 eq agg)) aggMemo = (agg, translateAggs(agg))
    aggMemo._2
  }

  // a chunk-key allowlist restricts the scan to an explicit chunk subset,
  // so grid-metadata aggregate answers (which cover the WHOLE clamped
  // box) would be wrong — refuse the pushdown outright
  override def supportCompletePushDown(
      agg: connector_expressions.aggregate.Aggregation): Boolean =
    chunkKeys.isEmpty && translateAggsMemo(agg).isDefined

  override def pushAggregation(
      agg: connector_expressions.aggregate.Aggregation): Boolean =
    if (chunkKeys.isDefined) false
    else translateAggsMemo(agg) match {
      case Some((t, g)) => pushedAggs = Some(t); pushedGroup = g; true
      case None => false
    }

  private def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  private def narrow(dim: String, lo: Long, hi: Long): Unit = {
    val (clo, chi) = ranges.getOrElse(dim, (Long.MinValue, Long.MaxValue))
    ranges = ranges.updated(dim, (math.max(clo, lo), math.min(chi, hi)))
  }

  // saturating successor: `Long.MaxValue + 1` would wrap to MinValue and
  // silently turn a no-op bound (`dim <= Long.MaxValue`) into an empty
  // scan, or `dim > Long.MaxValue` into a full scan — the one spot where
  // pushdown could change answers. Indices are always < Long.MaxValue
  // (max index = shape-1), so saturation is exact at the domain edge.
  private def satInc(x: Long): Long = if (x == Long.MaxValue) x else x + 1

  /** A filter we can absorb completely into chunk + cell ranges. */
  private def absorb(f: Filter): Boolean = f match {
    case EqualTo(a, v) if dimSet(a) => asLong(v).exists { x => narrow(a, x, satInc(x)); true }
    case GreaterThan(a, v) if dimSet(a) => asLong(v).exists { x => narrow(a, satInc(x), Long.MaxValue); true }
    case GreaterThanOrEqual(a, v) if dimSet(a) => asLong(v).exists { x => narrow(a, x, Long.MaxValue); true }
    case LessThan(a, v) if dimSet(a) => asLong(v).exists { x => narrow(a, Long.MinValue, x); true }
    case LessThanOrEqual(a, v) if dimSet(a) => asLong(v).exists { x => narrow(a, Long.MinValue, satInc(x)); true }
    case And(l, r) => // both sides must absorb; range narrowing is conjunctive
      val okL = absorb(l); val okR = absorb(r); okL && okR
    case _ => false
  }

  /** The variable a filter attribute addresses, when value-stat pruning can
    * apply: a non-dim column backed by a scalar variable ('__value'-suffixed
    * for dimension coordinates). u64 included — its sidecar bounds are
    * unsigned-exact BigDecimals (r13), so pruning and metadata MIN/MAX
    * cover the u64 coordinate case too. */
  private def statVar(a: String): Option[String] = {
    if (dimSet(a)) return None
    val v = a.stripSuffix("__value")
    metas.get(v).filter { m =>
      m.fields.isEmpty && !m.isComplex
    }.map(_ => v)
  }

  /** A pushed literal as an exact BigDecimal; None for NaN (no row ever
    * satisfies a range predicate against NaN — but leave that to Spark)
    * and for non-numeric types. */
  private def asBig(v: Any): Option[BigDecimal] = v match {
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case s: Short => Some(BigDecimal(s.toInt))
    case b: Byte => Some(BigDecimal(b.toInt))
    case f: Float => if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
    case d: Double => if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: BigDecimal => Some(d)
    case _ => None
  }

  private def narrowValue(v: String, lo: Option[(BigDecimal, Boolean)],
                          hi: Option[(BigDecimal, Boolean)]): Unit =
    valueRanges = valueRanges.updated(v,
      valueRanges.getOrElse(v, MdioValueRange(None, None)).narrow(lo, hi))

  /** Record a value-column range filter for chunk-stat pruning; returns
    * whether the filter was recorded (it stays with Spark either way). */
  private def absorbValue(f: Filter): Boolean = f match {
    case EqualTo(a, v) => statVar(a).exists(n => asBig(v).exists { x =>
      narrowValue(n, Some((x, true)), Some((x, true))); true })
    case GreaterThan(a, v) => statVar(a).exists(n => asBig(v).exists { x =>
      narrowValue(n, Some((x, false)), None); true })
    case GreaterThanOrEqual(a, v) => statVar(a).exists(n => asBig(v).exists { x =>
      narrowValue(n, Some((x, true)), None); true })
    case LessThan(a, v) => statVar(a).exists(n => asBig(v).exists { x =>
      narrowValue(n, None, Some((x, false))); true })
    case LessThanOrEqual(a, v) => statVar(a).exists(n => asBig(v).exists { x =>
      narrowValue(n, None, Some((x, true))); true })
    case And(l, r) => // conjunctive: record both sides independently
      val okL = absorbValue(l); val okR = absorbValue(r); okL || okR
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (abs, rest) = filters.partition(absorb)
    // static IN over a dim: prune chunks by value (partial pushdown —
    // the filter stays in `rest` so Spark re-filters rows inside the
    // surviving chunks). A 2-value IN over a billion-chunk store plans
    // 2 chunks instead of scanning the grid.
    rest.foreach {
      case In(a, vs) if dimSet(a) && vs.nonEmpty =>
        val longs = vs.flatMap(asLong)
        if (longs.length == vs.length) {
          val sorted = longs.distinct.sorted
          inValues = inValues.updatedWith(a) {
            case Some(prev) => Some(prev.intersect(sorted)) // conjunctive
            case None => Some(sorted)
          }
        }
      case _ => ()
    }
    // value-column ranges: partial pushdown against per-chunk min/max stats
    val valuePushed = rest.filter(absorbValue)
    pushed = abs ++ rest.collect {
      case f @ In(a, _) if inValues.contains(a) => f // partial: shown in EXPLAIN
    } ++ valuePushed
    rest // leftover for Spark to evaluate
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // keep dim columns needed plus requested variables; reader emits in
    // required order.
    requiredSchema = required
  }

  override def build(): Scan = {
    MdioScan.scanBuilds.incrementAndGet()
    pushedAggs match {
      case Some(aggs) => MdioAggScan(path, dims, metas, ranges, aggs, pushedGroup)
      case None =>
        MdioScan(path, dims, metas, requiredSchema, ranges, limitCells, topN, inValues,
          valueRanges, topNValue, chunkKeys, runtimeFiltering)
    }
  }
}

/** A conjunctive value-range predicate accumulated from pushed filters:
  * closed/open bounds, compared as exact BigDecimal against the per-chunk
  * [min, max] from [[MdioChunkStats]]. */
final case class MdioValueRange(lo: Option[(BigDecimal, Boolean)],
                                hi: Option[(BigDecimal, Boolean)]) {
  /** Conjunction with another pair of bounds (keep the tighter one; on a
    * tie an open bound beats a closed one). */
  def narrow(lo2: Option[(BigDecimal, Boolean)],
             hi2: Option[(BigDecimal, Boolean)]): MdioValueRange = {
    def tightLo(a: (BigDecimal, Boolean), b: (BigDecimal, Boolean)) =
      if (a._1 > b._1) a else if (b._1 > a._1) b
      else (a._1, a._2 && b._2)
    def tightHi(a: (BigDecimal, Boolean), b: (BigDecimal, Boolean)) =
      if (a._1 < b._1) a else if (b._1 < a._1) b
      else (a._1, a._2 && b._2)
    MdioValueRange(
      (lo, lo2) match {
        case (Some(a), Some(b)) => Some(tightLo(a, b))
        case (a, b) => a.orElse(b)
      },
      (hi, hi2) match {
        case (Some(a), Some(b)) => Some(tightHi(a, b))
        case (a, b) => a.orElse(b)
      })
  }

  /** Can any value in the closed chunk interval [mn, mx] satisfy this
    * range? (False ⇒ the chunk is safely prunable.) */
  def intersects(mn: BigDecimal, mx: BigDecimal): Boolean = {
    val okLo = lo.forall { case (v, inc) => mx > v || (inc && mx == v) }
    val okHi = hi.forall { case (v, inc) => mn < v || (inc && mn == v) }
    okLo && okHi
  }
}

/** Metadata-only scan for a completely pushed aggregation: one partition
  * of slab rows from [[MdioAggScan.slabRows]] — one row per slab tuple of
  * a `GROUP BY FLOOR(dim/L)…`, and exactly one row (empty box included)
  * for an ungrouped aggregate, its one slab. Dim ops come from the
  * clamped chunk-grid bounds (dense-grid semantics make this exact:
  * every in-domain cell exists, fill-materialized when its chunk file is
  * absent); value ops from a generation-current stats sidecar covering
  * the slab's chunks (the statsV1-attached-attributes use case,
  * mdio/stats.h — "what is the amplitude range of this 100 TB store"
  * without opening a chunk file); percentile columns from the rank
  * machinery. Float semantics match both engines' NaN-is-greatest
  * convention: MAX is NaN when any cell is NaN; MIN is the finite minimum
  * unless no finite cell exists. */
final case class MdioAggScan(path: String, dims: Seq[String],
                             metas: Map[String, ZarrMeta.ArrayMeta],
                             ranges: Map[String, (Long, Long)],
                             aggs: Seq[(String, String)],
                             group: Option[Seq[(String, Long)]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = {
    val aggFields = aggs.zipWithIndex.map { case ((f, d), i) =>
      val dt = f match {
        case "vmin" | "vmax" => MdioTableUtil.sparkTypeOf(metas(d).dtype)
        // Spark's Sum result types: double for float inputs, long for
        // integral (dim indices are long)
        case "vsum" => MdioTableUtil.sparkTypeOf(metas(d).dtype) match {
          case DoubleType | FloatType => DoubleType
          case _ => LongType
        }
        case "vavg" => DoubleType // Spark's Avg is double for every input
        case "vvarp" | "vvars" | "vstdp" | "vstds" => DoubleType
        case f2 if f2.startsWith("vpct") => DoubleType // PercentileBase is double
        case _ => LongType
      }
      StructField(if (f == "count") s"count_$i" else s"${f}_${d}_$i", dt,
        nullable = f != "count")
    }
    // grouped pushdown: Spark maps the scan output POSITIONALLY as
    // group-by columns first (in pushed order), then aggregate columns
    StructType(group.toSeq.flatten.map { case (d, l) =>
      StructField(s"slab_${d}_$l", LongType, nullable = false) } ++ aggFields)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"MdioAggScan(metadata-only: ${aggs.map { case (f, d) => s"$f($d)" }.mkString(",")}" +
      group.map(gs => " group by " +
        gs.map { case (d, l) => s"$d/$l" }.mkString(",")).getOrElse("") + ")"

  // Spark asks for the partitions more than once per execution; the
  // sidecar re-check and the rank pass run once
  @transient private lazy val partitions: Array[InputPartition] = {
    val gs = group.getOrElse(Nil)
    // the same call that accepted the plan, re-run: a writer racing
    // between planning and execution must fail LOUD (the plan is fixed
    // as metadata-only). Percentile columns fill in from the rank pass.
    val stats = aggs.filterNot(_._1.startsWith("vpct"))
    val rows0 = MdioAggScan.slabRows(path, dims, metas, ranges, stats, gs)
      .getOrElse(throw new IllegalStateException(
        s"${description()} went stale between planning and execution"))
    val rows =
      if (stats.size == aggs.size) rows0
      else {
        val pct = pctValues(gs)
        rows0.map { r =>
          val tuple: Seq[Long] = (0 until gs.size).map(i => r(i).asInstanceOf[Long])
          var j = gs.size // cursor into rows0's non-pct agg values
          val vals: Array[Any] = aggs.map {
            case (op, v) if op.startsWith("vpct") =>
              pct((op, v)).getOrElse(tuple,
                throw new IllegalStateException(
                  s"rank pass produced no value for slab $tuple"))
            case _ => val x = r(j); j += 1; x
          }.toArray
          r.take(gs.size) ++ vals
        }
      }
    Array(MdioAggRowsPartition(rows))
  }
  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Pushed PERCENTILE_CONT/PERCENTILE_DISC values, op → slab tuple
    * (pushed order; the empty tuple ungrouped) → value. All ranks of all
    * of a query's percentile aggregates over one variable batch into ONE
    * rank pass, launched from the driver like a dynamic-pruning subquery:
    * one metadata bracket walk, one probe, one window scan for the whole
    * slab × rank matrix — [[graft.operators.MdioStats.boxRanks]] over the
    * clamped box, ungrouped as its one group (the variable's shape as the
    * group sizes). The scan builder PROVED every ranked cell finite at plan
    * time — re-checked here, a racing writer must fail LOUD — so each
    * group's n is its dense cell count and Spark's NaN-is-greatest
    * ranking cannot diverge. Each op takes a CONSTANT number of rank
    * slots ([[MdioAggScan.pctRanks]]), so the label → slot mapping is
    * static while the ranks themselves are per-group functions of n_g;
    * O(slabs × slots) driver rows — the same order as the grouped result
    * Spark materializes anyway. A stats race throws the retryable
    * [[MdioAggScan.StatsRaceException]], grouped or not. */
  private def pctValues(gs: Seq[(String, Long)]): Map[(String, String), Map[Seq[Long], Any]] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val pct = aggs.filter(_._1.startsWith("vpct")).distinct
    pct.groupBy(_._2).flatMap { case (v, ops) =>
      MdioAggScan.retryStatsRace(s"pushed percentile on '$v'") {
        if (!MdioAggScan.boxRankAnswerable(path, v, metas(v), dims, ranges))
          throw new MdioAggScan.StatsRaceException(
            s"rank answerability for '$v' went stale between planning and execution")
        val m = metas(v)
        val groupSizes = dims.zipWithIndex.map { case (d, i) =>
          gs.find(_._1 == d).map(_._2).getOrElse(m.shape(i)) }
        val offsets = ops.map(o => MdioAggScan.pctRanks(o._1, 1L).size).scanLeft(0)(_ + _)
        val labels = (0 until offsets.last).map(_.toDouble)
        // maxGroups re-asserts the plan-time cap: translateAggs counted the
        // groups before accepting, so tripping it here means the store's
        // geometry changed under the plan — loud, not a driver OOM
        val q = graft.operators.MdioStats.boxRanks(spark, path, v, labels,
          n => ops.flatMap(o => MdioAggScan.pctRanks(o._1, n)), groupSizes,
          maxGroups = MdioAggScan.maxPushedGroups, ranges = ranges)
        val schema = q.schema.fieldNames
        val gIdx = gs.map { case (d, _) => schema.indexOf(s"g_$d") }
        val (lIdx, qIdx, nIdx) =
          (schema.indexOf("p"), schema.indexOf("q"), schema.indexOf("n"))
        val byKey = q.collect().groupBy(r => gIdx.map(r.getLong).toSeq)
        ops.zip(offsets).map { case ((op, _), off) =>
          (op, v) -> byKey.map { case (key, rs) =>
            val n = rs.head.getLong(nIdx)
            val byLabel = rs.map(r => r.getDouble(lIdx) -> r.getDouble(qIdx)).toMap
            key -> (MdioAggScan.pctValue(op, n,
              MdioAggScan.pctRanks(op, n).indices.map(i => byLabel((off + i).toDouble))): Any)
          }
        }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = MdioAggReaderFactory()
}

object MdioAggScan {
  private val log = org.slf4j.LoggerFactory.getLogger(MdioAggScan.getClass)

  /** Retries taken by [[retryStatsRace]] since JVM start (test pin). */
  private[graft] val statsRaceRetries = new java.util.concurrent.atomic.AtomicLong

  /** The benign plan/execution stats-race SIGNATURE (r19, ADVICE): thrown
    * only where a fresh manifest could heal the failure — the pinned
    * manifest went missing or its shards read as torn (a concurrent
    * republish is a generation bump, not a data mutation). Geometry
    * failures under a fixed plan (group-cap or alignment re-asserts) stay
    * plain IllegalStateException and must NOT wear this type: re-running
    * them doubles the cost of a query that can only fail again. */
  private[graft] final class StatsRaceException(msg: String)
      extends IllegalStateException(msg)

  /** One retry for the benign plan/execution stats race (r18): a
    * concurrent stats REPUBLISH (generation bump, same data) between a
    * rank path's manifest pin and its shard reads makes `readShard` see
    * the next generation — shards read as torn against the pinned
    * manifest and the pruned path throws its loud [[StatsRaceException]].
    * The FRESH manifest is self-consistent, so a single re-run answers;
    * a second failure (truly stale stats — a real data mutation) stays
    * loud, which is the project's discipline: any answer under concurrent
    * DATA mutation is a race, but a stats republish mutates no cell.
    * Only the tagged race signature retries (r19, ADVICE): every other
    * IllegalStateException — geometry changed under a fixed plan, stats
    * content genuinely mutated — propagates on first throw. */
  private[sources] def retryStatsRace[T](what: String)(body: => T): T =
    try body catch {
      case e: StatsRaceException =>
        statsRaceRetries.incrementAndGet()
        log.warn(s"$what hit a plan/execution stats race (${e.getMessage}) — " +
          "retrying once against the fresh manifest")
        body
    }

  /** ONE driver-state cap for every grouped pushdown (r18, verdict item):
    * both grouped forms materialize O(groups) on the driver —
    * [[slabRows]] one row per slab through `planInputPartitions`, the
    * grouped percentile one bracket row per (group, p) inside
    * [[graft.operators.MdioStats.boxRanks]] — so both must DECLINE past
    * the same bound and let Spark's fully distributed aggregate run.
    * Slab/tile heat-maps are small (hundreds of rows); a per-chunk slab
    * geometry at the 100 TB envelope is ~1.6 M groups — exactly what the
    * cap exists to refuse. Matches `quantilesByBox`'s own `maxGroups`
    * default; override (tests, unusual stores) via
    * `spark.graft.mdio.maxPushedGroups` on the session. */
  private[graft] def maxPushedGroups: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.conf.get("spark.graft.mdio.maxPushedGroups", (1 << 16).toString).toInt)
      .getOrElse(1 << 16)

  /** Number of slab tuples `GROUP BY FLOOR(dim/L)…` produces over the
    * clamped ranges — exact plan-time arithmetic from shape/chunk
    * metadata (BigInt: a malicious L=1 on a petascale dim must count,
    * not overflow). None when a grouped dim is unknown or L ≤ 0. */
  private[sources] def slabTupleCount(m: ZarrMeta.ArrayMeta, dims: Seq[String],
                                      ranges: Map[String, (Long, Long)],
                                      groups: Seq[(String, Long)]): Option[BigInt] =
    Some(groups.map { case (d, l) =>
      val i = dims.indexOf(d)
      if (i < 0 || l <= 0) return None
      val lo = math.max(ranges.get(d).map(_._1).getOrElse(0L), 0L)
      val hi = math.min(ranges.get(d).map(_._2).getOrElse(m.shape(i)), m.shape(i))
      if (lo >= hi) BigInt(0) else BigInt((hi - 1) / l - lo / l + 1)
    }.product)

  /** The shared plan-time gate: true when the grouped pushdown's slab
    * count clears [[maxPushedGroups]]; a refusal logs WHY once per plan
    * so the decline is visible, not silent. */
  private[sources] def underGroupCap(m: ZarrMeta.ArrayMeta, dims: Seq[String],
                                     ranges: Map[String, (Long, Long)],
                                     groups: Seq[(String, Long)],
                                     what: String): Boolean =
    slabTupleCount(m, dims, ranges, groups).exists { n =>
      val cap = maxPushedGroups
      val ok = n <= cap
      if (!ok) log.warn(s"$what declines the pushdown: $n groups exceed " +
        s"the driver-state cap $cap — Spark's distributed aggregate runs instead")
      ok
    }

  /** The chunk-index box a clamped dim-range slice covers, when the slice
    * is CHUNK-ALIGNED — every touched chunk fully inside the slice (lo on
    * a chunk boundary; hi on a boundary or the domain edge, where the
    * ragged last chunk is itself clamped to the domain). None when
    * misaligned or empty. */
  def alignedChunkBox(m: ZarrMeta.ArrayMeta, dims: Seq[String],
                      ranges: Map[String, (Long, Long)]): Option[Seq[(Long, Long)]] = {
    val out = dims.zipWithIndex.map { case (d, i) =>
      val shape = m.shape(i)
      val c = m.chunks(i)
      val (lo0, hi0) = ranges.getOrElse(d, (0L, shape))
      val lo = math.max(lo0, 0L)
      val hi = math.min(hi0, shape)
      if (lo >= hi) return None
      if (lo % c != 0 || (hi % c != 0 && hi != shape)) return None
      (lo / c, (hi + c - 1) / c)
    }
    Some(out)
  }

  /** Can a pushed rank (percentile) over the chunk-aligned dim-index BOX
    * of `ranges` — the whole variable when none is pushed, or a slice
    * (r18, `median(v) WHERE depth BETWEEN a AND b`) — be answered without
    * changing Spark's semantics? The slice must cover whole chunks
    * ([[alignedChunkBox]]), the sidecar must be generation-current (the
    * rank machinery's pruning contract), and for float dtypes a PROOF is
    * needed that every cell in the box is finite (finite-cell counts equal
    * the dense-grid capacity): Spark ranks NaN greatest while the rank
    * machinery ranks finite cells only, so possible-NaN declines, and a
    * NaN outside the box cannot change its ranks. The legacy monolith
    * proves from its entries, which ARE the manifest. Shards fully inside
    * a box that spans every trailing dim prove from their manifest
    * summary alone (O(manifest), ≤2 partial end-shards open); a box that
    * narrows a trailing dim must open every intersecting shard, so that
    * path is accepted only under a bounded entry budget
    * ([[maxPushedGroups]] entries) — past it the pushdown declines and
    * Spark's distributed Percentile runs. */
  private[sources] def boxRankAnswerable(path: String, v: String,
                                         m: ZarrMeta.ArrayMeta,
                                         dims: Seq[String],
                                         ranges: Map[String, (Long, Long)]): Boolean = {
    val boxOpt = alignedChunkBox(m, dims, ranges)
    if (boxOpt.isEmpty) return false
    val box = boxOpt.get
    val varDir = ZarrMeta.path(path).resolve(v)
    val isFloat = m.dtype.charAt(m.dtype.length - 2) == 'f'
    MdioChunkStats.currentManifest(varDir).exists { man =>
      !isFloat || {
        val grid = m.chunkGrid
        def capacity(cc: Seq[Long]): BigInt =
          cc.indices.map { d =>
            BigInt(math.min(m.chunks(d), m.shape(d) - cc(d) * m.chunks(d)))
          }.product
        def chunkOk(es: Map[String, MdioChunkStats.Entry])(key: String): Boolean =
          es.get(key).exists(_.exists(b => !b.hasNaN && b.moments.exists(mo =>
            BigInt(mo.cnt) == capacity(key.split("\\.").map(_.toLong).toSeq))))
        man.legacy match {
          case Some(es) => boxKeys(box).forall(chunkOk(es))
          case None =>
            val trailingFull =
              (1 until grid.size).forall(i => box(i)._1 == 0 && box(i)._2 == grid(i))
            val trailCells = m.shape.drop(1).map(BigInt(_)).product
            val chunksPerLead = grid.drop(1).product
            val sids = (box.head._1 / man.span) until
              ((box.head._2 + man.span - 1) / man.span)
            // the opened-entry budget: a trailing-narrowed box opens every
            // intersecting shard — bounded plan-time driver work or decline
            if (!trailingFull &&
                BigInt(sids.size) * man.span * chunksPerLead > maxPushedGroups) {
              log.warn(s"sliced percentile on '$v' declines the pushdown: " +
                s"proving the box NaN-free would parse ~${BigInt(sids.size) * man.span * chunksPerLead} " +
                s"sidecar entries (budget $maxPushedGroups)")
              return false
            }
            sids.forall { sid =>
              val leadLo = sid * man.span
              val leadHi = math.min((sid + 1) * man.span, grid.head)
              val whole = trailingFull && leadLo >= box.head._1 && leadHi <= box.head._2
              man.shards.get(sid).exists { sm =>
                if (whole)
                  sm.count == (leadHi - leadLo) * chunksPerLead &&
                    sm.cells.exists(BigInt(_) ==
                      BigInt(math.min(leadHi * m.chunks.head, m.shape.head) -
                        leadLo * m.chunks.head) * trailCells)
                else scala.util.Try {
                  val es = MdioChunkStats.readShard(varDir, sid, sm.gen)
                  val clamped = (math.max(leadLo, box.head._1),
                    math.min(leadHi, box.head._2)) +: box.tail
                  boxKeys(clamped).forall(chunkOk(es))
                }.getOrElse(false)
              }
            }
        }
      }
    }
  }

  /** The 1-based ranks a pushed percentile op (`vpctd:p` | `vpctc:p`)
    * reads over n ranked cells, in PercentileBase's arithmetic: DISC the
    * ⌈p·n⌉-th smallest (the smallest value whose cume_dist ≥ p); CONT the
    * two interpolation neighbours of position p·(n−1), repeated when the
    * position is whole, so each op's rank count is constant and the
    * grouped rank pass can map ranks to static slots. */
  private[sources] def pctRanks(op: String, n: Long): Seq[Long] =
    if (op.startsWith("vpctd"))
      Seq((BigDecimal(pOf(op)) * n).setScale(0, BigDecimal.RoundingMode.CEILING).toLong)
    else {
      val position = pOf(op) * (n - 1)
      Seq(math.floor(position).toLong + 1, math.ceil(position).toLong + 1)
    }

  private def pOf(op: String): Double = op.substring(op.indexOf(':') + 1).toDouble

  /** A pushed percentile op's answer from the values at its [[pctRanks]],
    * in order. The CONT interpolation replicates
    * PercentileBase.getPercentile's exact double arithmetic
    * (`lo·(⌈pos⌉−pos) + hi·(pos−⌊pos⌋)`), so the pushed answer is
    * bit-identical to the unpushed one. */
  private[sources] def pctValue(op: String, n: Long, at: Seq[Double]): Double =
    if (op.startsWith("vpctd")) at.head
    else {
      val position = pOf(op) * (n - 1)
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      if (higher == lower) at.head
      else at.head * (higher - position) + at(1) * (position - lower)
    }

  /** C-order chunk keys of a chunk-index box. */
  def boxKeys(box: Seq[(Long, Long)]): Iterator[String] =
    MdioScan.cartesian(box.map { case (lo, hi) => lo until hi }).map(ZarrMeta.chunkKey)

  /** One metadata aggregate answer over a set of chunk entries, or None
    * when the entries cannot answer it (missing moments; an integral SUM
    * that left the Long range — the scan fallback's own overflow
    * semantics then stand). NaN conventions match both engines: MAX is
    * NaN when any cell is NaN, MIN is the finite minimum unless no finite
    * cell exists, SUM is NaN-poisoned. */
  def answer(op: String, entries: Seq[MdioChunkStats.Entry],
             dt: DataType, isFloat: Boolean, cells: Long = 0L): Option[Any] = {
    val bounds = entries.flatten
    def cast(bd: BigDecimal): Any = dt match {
      case DoubleType => bd.toDouble
      case FloatType => bd.toFloat
      case LongType => bd.toLong
      case IntegerType => bd.toInt
      case ShortType => bd.toShort
      case ByteType => bd.toByte
      case BooleanType => bd.signum != 0
      case d: DecimalType => // u64 surfaces as decimal(20,0); bounds exact
        org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale)
      case other => throw new IllegalStateException(s"unexpected stats dtype $other")
    }
    def nan: Any = if (dt == FloatType) Float.NaN else Double.NaN
    val anyNaN = isFloat && entries.exists(e => e.isEmpty || e.exists(_.hasNaN))
    op match {
      case "vmin" =>
        if (bounds.nonEmpty) Some(cast(bounds.map(_.min).min))
        else if (anyNaN) Some(nan) // every cell NaN (all entries null)
        else None
      case "vmax" =>
        if (anyNaN) Some(nan)
        else if (bounds.nonEmpty) Some(cast(bounds.map(_.max).max))
        else None
      case "vsum" =>
        // exact Σ of the per-chunk exact moment sums; NaN poisons the sum
        // exactly as in a real scan. Result is DoubleType even for f4
        // (Spark sums floats as doubles), so the poison is a Double NaN
        if (anyNaN) Some(Double.NaN)
        else if (bounds.forall(_.moments.isDefined)) {
          val total = MdioChunkStats.exactTotal(bounds.map(_.moments.get.sum))
          if (isFloat) Some(total.toDouble)
          else if (total.isValidLong) Some(total.toLong)
          else None
        } else None
      case "vavg" =>
        // exact real sum rounded once, over the dense-grid cell count (no
        // NaN ⇒ every cell is finite and counted) — one double division,
        // matching SUM(exact)/COUNT(*) in any engine bit-for-bit
        if (anyNaN) Some(Double.NaN)
        else if (cells > 0 && bounds.forall(_.moments.isDefined))
          Some(MdioChunkStats.exactTotal(bounds.map(_.moments.get.sum)).toDouble
            / cells.toDouble)
        else None
      case "vvarp" | "vvars" | "vstdp" | "vstds" =>
        // exact centered second moment from the statsV1 moments: the
        // numerator n·Σx² − (Σx)² is computed EXACTLY (java.math — scala's
        // operators round at 34 significant digits, catastrophic under the
        // cancellation here), rounded ONCE to double, then divided by the
        // exactly-representable double n·n (population) or n·(n−1)
        // (sample); STDDEV takes the correctly-rounded sqrt. An oracle
        // computing the same identity over exact values rounds at the same
        // two points, so integer-valued stores compare bit-exact. NaN
        // cells poison the result as in a real scan; a sample variance
        // needs n ≥ 2 — Spark's VarianceSamp/StddevSamp answer NULL at
        // n == 1 under the DEFAULT spark.sql.legacy.statisticalAggregate
        // = false (nullOnDivideByZero = !legacy; verified empirically on
        // this Spark build and pinned by MdioValueStatsSpec's n==1 case),
        // so Some(null) here matches the unpushed plan bit-for-bit.
        if (anyNaN) Some(Double.NaN)
        else if (cells > 0 && bounds.forall(_.moments.exists(_.sumSq.isDefined))) {
          val samp = op == "vvars" || op == "vstds"
          if (samp && cells < 2) Some(null)
          else {
            val s1 = MdioChunkStats.exactTotal(bounds.map(_.moments.get.sum)).underlying
            val s2 = MdioChunkStats.exactTotal(bounds.flatMap(_.moments.get.sumSq)).underlying
            val num = new java.math.BigDecimal(cells).multiply(s2)
              .subtract(s1.multiply(s1))
            val denom = if (samp) cells.toDouble * (cells - 1).toDouble
                        else cells.toDouble * cells.toDouble
            val variance = num.doubleValue() / denom
            Some(if (op.startsWith("vstd")) math.sqrt(variance) else variance)
          }
        } else None
      case other => throw new IllegalStateException(s"unexpected stats op $other")
    }
  }

  /** Per-SLAB metadata aggregate rows for a pushed aggregation over
    * `GROUP BY FLOOR(dim1/L1)[, FLOOR(dim2/L2), …]` — the per-inline /
    * per-depth-slab / per-TILE QC pass (reference statsV1,
    * mdio/stats.h:229-335, generalized along one or more axes) — or, with
    * no `groups`, the ungrouped aggregate as its one slab, answered
    * entirely from metadata: each group is an `L1×L2×…` box of indices, a
    * whole number of chunks when every `Li % chunkSize(dimi) == 0`, so a
    * slab's value MIN/MAX/SUM/AVG/VAR is the exact union of its chunks'
    * sidecar entries, and its COUNT, COUNT(DISTINCT dim) and dim
    * MIN/MAX/SUM follow from the slab's clamped bounds — zero chunk files
    * opened however large the store. Returns one row per slab tuple
    * intersecting the pushed ranges, group values first in pushed order.
    * A grouped aggregate over an empty box has no rows; an ungrouped one
    * has exactly one, read from nothing (COUNT 0, COUNT(DISTINCT) 0, every
    * other op NULL, as Spark answers over zero rows). None when any
    * precondition fails (a value op over a misaligned slice,
    * stale or partial stats, an Li not chunk-aligned, a duplicate grouped
    * dim, a variable that is not a full-dimensional scalar, a sum that
    * leaves the Long range, more groups than the cap) — the caller then
    * declines the pushdown and a real scan runs. */
  def slabRows(path: String, dims: Seq[String],
               metas: Map[String, ZarrMeta.ArrayMeta],
               ranges: Map[String, (Long, Long)],
               aggs: Seq[(String, String)],
               groups: Seq[(String, Long)]): Option[Seq[Array[Any]]] = {
    val dis = groups.map { case (d, _) => dims.indexOf(d) }
    if (dis.exists(_ < 0) || dis.distinct.size != dis.size || groups.exists(_._2 <= 0))
      return None
    val anchor = metas.values.head
    // one driver row per slab rides planInputPartitions — the shared
    // group cap bounds it exactly like the grouped percentile's bracket
    // state (a per-chunk slab geometry at the envelope is ~1.6 M rows)
    if (!underGroupCap(anchor, dims, ranges, groups, "grouped stats slab pushdown"))
      return None
    val shape = anchor.shape
    val bounds = dims.zipWithIndex.map { case (d, i) =>
      val (lo, hi) = ranges.getOrElse(d, (0L, shape(i)))
      (math.max(lo, 0L), math.min(hi, shape(i)))
    }
    val empty = bounds.exists { case (lo, hi) => lo >= hi }
    if (empty && groups.nonEmpty) return Some(Seq.empty)
    // per-variable: every slab width must cover whole chunks and the stats
    // must cover the chunk-aligned scan box; an empty box reads nothing
    val vars = aggs.collect { case (op, v) if op.startsWith("v") => v }.distinct
    val perVar: Map[String, Map[String, MdioChunkStats.Entry]] =
      vars.map { v =>
        val m = metas.getOrElse(v, return None)
        if (m.shape != shape || m.fields.nonEmpty) return None
        if (groups.zip(dis).exists { case ((_, l), di) => l % m.chunks(di) != 0 })
          return None
        if (empty) v -> Map.empty[String, MdioChunkStats.Entry]
        else {
          val box = alignedChunkBox(m, dims, ranges).getOrElse(return None)
          val entries = MdioChunkStats.currentFor(ZarrMeta.path(path).resolve(v),
            box.head._1, box.head._2 - 1).getOrElse(return None)
          if (!boxKeys(box).forall(entries.contains)) return None
          v -> entries
        }
      }.toMap
    // enumerate slab tuples in pushed-group order (C-order nesting)
    val rows = MdioScan.cartesian(groups.zip(dis).map { case ((_, l), di) =>
      (bounds(di)._1 / l) to ((bounds(di)._2 - 1) / l)
    }).map { gs =>
      // the slab's clamped cell range per dim
      val slab = bounds.zipWithIndex.map { case ((lo, hi), i) =>
        dis.indexOf(i) match {
          case -1 => (lo, hi)
          case k =>
            val (l, g) = (groups(k)._2, gs(k))
            (math.max(lo, g * l), math.min(hi, (g + 1) * l))
        }
      }
      val cells = if (empty) 0L else slab.map { case (lo, hi) => hi - lo }.product
      def extent(d: String): (Long, Long) = slab(dims.indexOf(d))
      val values: Array[Any] = aggs.map {
        case ("count", _) => cells
        case ("dcnt", d) => if (empty) 0L else { val (lo, hi) = extent(d); hi - lo }
        case _ if empty => null
        case ("min", d) => extent(d)._1
        case ("max", d) => extent(d)._2 - 1
        case ("dsum", d) =>
          // Σ_{i∈[lo,hi)} i times the other dims' cell counts, exact in
          // BigInt; past Long, Spark's own Sum over the scan answers
          val (lo, hi) = extent(d)
          val total = (BigInt(lo) + (hi - 1)) * (hi - lo) / 2 * (cells / (hi - lo))
          if (total.isValidLong) total.toLong else return None
        case (op, v) =>
          val m = metas(v)
          val entries = perVar(v)
          val box = alignedChunkBox(m, dims, dims.zip(slab).toMap).getOrElse(return None)
          val es = boxKeys(box).map(k => entries.getOrElse(k, return None)).toSeq
          answer(op, es, MdioTableUtil.sparkTypeOf(m.dtype),
            m.dtype.charAt(m.dtype.length - 2) == 'f', cells).getOrElse(return None)
      }.toArray
      gs.map(g => g: Any).toArray ++ values
    }.toSeq
    Some(rows)
  }
}

/** The metadata partition: one row per slab of a pushed aggregation
  * (group values first, then the aggregates; one row ungrouped). */
final case class MdioAggRowsPartition(rows: Seq[Array[Any]]) extends InputPartition

final case class MdioAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it: Iterator[Array[Any]] = p match {
        case MdioAggRowsPartition(rows) => rows.iterator
        case other => throw new IllegalStateException(s"unexpected partition $other")
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = new GenericInternalRow(it.next()); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

/** The chunk scan. Every plan is an array of [[MdioChunkRun]]s; each
  * planning branch chooses its chunks and task count: the plain full scan
  * coalesces C-order ranges of the chunk box (pruned by value stats into
  * runs of survivors), keyed mode plans one keyed run per group box, and
  * the top-N, limit, IN-list (static or runtime) and allowlist plans emit
  * one-chunk runs. [[MdioChunkRunReader]] reads any run. */
final case class MdioScan(path: String, dims: Seq[String],
                          metas: Map[String, ZarrMeta.ArrayMeta],
                          requiredSchema: StructType,
                          ranges: Map[String, (Long, Long)],
                          limitCells: Option[Int] = None,
                          topN: Option[(String, Boolean, Int)] = None,
                          staticIn: Map[String, Array[Long]] = Map.empty,
                          valueRanges: Map[String, MdioValueRange] = Map.empty,
                          topNValue: Option[(String, Boolean, Int)] = None,
                          chunkKeys: Option[Seq[String]] = None,
                          runtimeFiltering: Boolean = true)
    extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics
    with SupportsReportPartitioning {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  /** A session setting read at planning time (active session, else the
    * default one). */
  private def sessionConf(key: String, default: String): String =
    MdioScan.session.map(_.conf.get(key, default)).getOrElse(default)

  /** STORAGE-PARTITIONED JOINS (opt-in session switch
    * `spark.graft.scan.keyedPartitions=true`): the scan plans one keyed
    * run per GROUP of chunks (one chunk per group at the default factor
    * 1), each carrying its group ordinals as a partition key, and reports
    * `KeyGroupedPartitioning` over the catalog `chunk_<size>(dim)`
    * transforms — so two CO-GRIDDED MDIO stores loaded through
    * [[MdioCatalog]] (whose FunctionCatalog resolves the transform) join
    * on their dims with ZERO shuffle under
    * `spark.sql.sources.v2.bucketing.enabled=true`: Spark zips the two
    * sides' key groups task-by-task, the attribute-merge pattern of
    * seismic cube fusion at 100 TB (neither cube is broadcastable and a
    * shuffle would move both corpora whole). The trade is O(groups)
    * driver-side partition objects instead of the coalesced
    * O(bytes/target) ranges — exactly why it is a per-session opt-in
    * rather than the default full-scan plan. Path-based loads (no
    * FunctionCatalog) fall back to unknown partitioning harmlessly. */
  private def keyedPartitions: Boolean =
    sessionConf("spark.graft.scan.keyedPartitions", "false").toBoolean

  /** Ceiling on keyed-mode partition count: an unbounded per-chunk keyed
    * scan of a 100 TB store would plan ~1.6 M InputPartitions per
    * variable. Past the ceiling the scan falls back LOUDLY to the
    * coalesced chunk-range plan — the join then shuffles instead of
    * zipping partitions, which is the correct trade when the alternative
    * is millions of driver-side control objects. Raise
    * `spark.graft.scan.keyedPartitions.max` deliberately if the driver is
    * sized for more. */
  private def keyedMaxPartitions: Long =
    sessionConf("spark.graft.scan.keyedPartitions.max", "65536").toLong

  /** GROUPED keys (`spark.graft.scan.keyedPartitions.groupFactor`): the
    * keyed scan coarsens partition keys to `chunk_<G_i·size_i>(dim_i)` and
    * plans one partition per aligned GROUP BOX of chunk ordinals — driver
    * partition objects divide by the factor product while the join stays
    * exchange-free (both sides must run under the same session conf, so
    * they coarsen identically; `SizedChunkBound`'s reducers keep divisible
    * grids compatible). Accepted forms:
    *  - a single integer `G` — coarsens the LEADING dim only (the common
    *    long-dim-leading geometry); `1`, the default, keys each chunk;
    *  - a comma list `g0,g1,…` — per-dim factors, the escape hatch for
    *    stores whose chunk count lives in TRAILING dims (e.g. 4×2048×2048
    *    chunks: `1,64,64` keeps the join under the ceiling);
    *  - `auto` — derive the smallest power-of-two per-dim factors that
    *    bring the group count under [[keyedMaxPartitions]], doubling the
    *    dim with the most groups first. Auto is PER-SCAN: two stores with
    *    equal chunk-grid geometry derive equal factors (an exchange-free
    *    join), but differently-shaped sides may not — set explicit factors
    *    when the join must zip.
    * The way to keep storage-partitioned joins live on stores whose chunk
    * count exceeds [[keyedMaxPartitions]]. */
  private def keyedGroupFactorConf: String =
    sessionConf("spark.graft.scan.keyedPartitions.groupFactor", "1")

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.connector.expressions.Expressions
    val planned = if (keyedPartitions) planInputPartitions() else Array.empty[InputPartition]
    // keys coarsen each dim's key size by the factors the planned runs
    // actually carry (consistent with the memoized plan, whatever the live
    // conf now says); a plan is keyed in every run or in none
    planned.headOption.collect { case r: MdioChunkRun if r.key != null => r.factors } match {
      case None => new UnknownPartitioning(planned.length)
      case Some(factors) =>
        val anchor = metas.values.head
        // the SIZED single-argument transform family: catalyst accepts only
        // one-argument transforms as partition keys, so the chunk size is
        // baked into the function name (join compatibility = equal names =
        // equal grids)
        new KeyGroupedPartitioning(
          dims.zipWithIndex.map { case (d, i) =>
            val size = anchor.chunks(i) * factors(i)
            Expressions.apply(s"chunk_$size", Expressions.column(d))
              : org.apache.spark.sql.connector.expressions.Expression
          }.toArray, planned.length)
    }
  }

  /** Exact statistics from the chunk-grid metadata (dense-grid semantics):
    * rows = clamped-bounds product, bytes = rows × projected row width.
    * Catalyst uses these for join-strategy choices — a sliced mdio table
    * under the broadcast threshold broadcasts instead of shuffling. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val shape = metas.values.head.shape
    private val rows: Long = {
      val bounds = dims.zipWithIndex.map { case (d, i) =>
        val (lo, hi) = ranges.getOrElse(d, (0L, shape(i)))
        (math.max(lo, 0L), math.min(hi, shape(i)))
      }
      if (bounds.exists { case (lo, hi) => lo >= hi }) 0L
      else bounds.map { case (lo, hi) => hi - lo }.product
    }
    private val rowBytes: Long = requiredSchema.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * math.max(rowBytes, 1L))
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }
  override def description(): String =
    s"MdioScan($path, ranges=${ranges.map { case (d, (a, b)) => s"$d:[$a,$b)" }.mkString(",")}" +
      (if (valueRanges.nonEmpty) s", valueStats=${valueRanges.keys.toSeq.sorted.mkString(",")}" else "") +
      (if (chunkKeys.nonEmpty) s", chunkKeys=${chunkKeys.get.size}" else "") + ")"

  // ---- runtime filtering (S/P dynamic pruning): when a dim column feeds a
  // selective join (e.g. sel's coordinate semi-join), Spark hands the built
  // side's IN-set here before partition planning; chunks containing none of
  // the values are skipped. Any superset is safe — the join re-filters rows.
  // Seeded with the STATIC IN-lists the scan builder absorbed partially
  // (same pruning mechanics; Spark re-filters rows either way).
  private var runtimeValues: Map[String, Array[Long]] = staticIn

  override def filterAttributes(): Array[connector_expressions.NamedReference] =
    // an allowlist scan is already exactly chunk-pruned — declaring its
    // dims runtime-filterable invites dynamic-pruning subqueries that
    // cannot prune further but DO break exchange reuse (the rank family's
    // two-stage pick references one allowlist-scan aggregation twice and
    // relies on Spark executing it once). `runtimeFiltering=false` is the
    // caller's form of the same statement for a full scan whose join keys
    // provably survive the build side whole (every group ordinal appears
    // in the rank fallback's pick side).
    if (chunkKeys.isDefined || !runtimeFiltering) Array.empty
    else dims.filter(requiredSchema.fieldNames.contains) // only dims this scan outputs
      .map(d => connector_expressions.Expressions.column(d)).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    plannedMemo = null // runtime IN-sets refine the plan: drop the memo
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        (p.children()(0), p.children().drop(1)) match {
          case (ref: connector_expressions.NamedReference, lits) if dims.contains(ref.fieldNames.mkString(".")) =>
            val dim = ref.fieldNames.mkString(".")
            val vals = lits.flatMap {
              case l: connector_expressions.Literal[_] => l.value match {
                case i: java.lang.Integer => Some(i.longValue())
                case l2: java.lang.Long => Some(l2.longValue())
                case s: java.lang.Short => Some(s.longValue())
                case _ => None
              }
              case _ => None
            }
            if (vals.length == lits.length && vals.nonEmpty) {
              val sorted = vals.distinct.sorted
              runtimeValues = runtimeValues.updatedWith(dim) {
                case Some(prev) => Some(prev.intersect(sorted)) // conjunctive with static INs
                case None => Some(sorted)
              }
            }
          case _ => ()
        }
      }
    }
  }

  /** Does any runtime value fall inside [lo, hi)? (sorted array probe) */
  private def anyValueIn(vals: Array[Long], lo: Long, hi: Long): Boolean = {
    var i = java.util.Arrays.binarySearch(vals, lo)
    if (i < 0) i = -i - 1
    i < vals.length && vals(i) < hi
  }

  // planning memo: outputPartitioning() (keyed mode) and Spark's own
  // planInputPartitions() call would otherwise each re-run the full
  // enumeration — including the sidecar manifest/shard reads (O(shards)
  // driver I/O per run). Runtime filtering invalidates the memo, so a plan
  // refined by a join's IN-set is never served stale.
  @transient private var plannedMemo: Array[InputPartition] = _

  override def planInputPartitions(): Array[InputPartition] = {
    if (plannedMemo == null) plannedMemo = planPartitions0()
    plannedMemo
  }

  private def planPartitions0(): Array[InputPartition] = {
    val anchor = metas.values.head
    val shape = anchor.shape
    val chunks = anchor.chunks
    // clamp pushed ranges into the domain (reference clamp semantics)
    val bounds: Seq[(Long, Long)] = dims.zipWithIndex.map { case (d, i) =>
      val (lo, hi) = ranges.getOrElse(d, (0L, shape(i)))
      (math.max(lo, 0L), math.min(hi, shape(i)))
    }
    if (bounds.exists { case (lo, hi) => lo >= hi }) return Array.empty

    // chunk-coordinate ranges intersecting the bounds, enumerated in C-order
    val chunkLo = bounds.zip(chunks).map { case ((lo, _), c) => lo / c }
    val chunkHi = bounds.zip(chunks).map { case ((_, hi), c) => (hi - 1) / c }
    val box: Seq[Seq[Long]] = dims.indices.map(i => chunkLo(i) to chunkHi(i))
    val extents: Seq[Long] = dims.indices.map(i => chunkHi(i) - chunkLo(i) + 1)
    val neededVars = requiredSchema.fieldNames
      .map(_.stripSuffix("__value")).distinct.filter(metas.contains)
    val (cellLo, cellHi) = (bounds.map(_._1).toArray, bounds.map(_._2).toArray)
    val (chunkShape, varMetas) = (chunks.toArray, neededVars.map(v => metas(v)))

    /** The run of flat indices `[start, end)` of the chunk box at `boxLo`. */
    def run(boxLo: Seq[Long], ext: Seq[Long], start: Long, end: Long,
            survivors: Array[Long] = null, key: Array[Long] = null,
            factors: Array[Long] = null): InputPartition =
      MdioChunkRun(path, boxLo.toArray, ext.toArray, start, end, survivors,
        cellLo, cellHi, chunkShape, neededVars, varMetas, key, factors)
    def one(cc: Seq[Long]): InputPartition = run(cc, cc.map(_ => 1L), 0L, 1L)

    // ---- value-statistics chunk pruning: for each variable with a pushed
    // value range, load its per-chunk [min, max] sidecar IF it is
    // generation-current (stale or absent stats silently disable pruning
    // for that variable; correctness never depends on the sidecar).
    // Driver-side metadata read of the manifest plus ONLY the shards the
    // scan's leading chunk range intersects AND whose manifest summary
    // cannot already prove them fully prunable — a selective value-only
    // predicate on a 100 TB store skips whole shards from the manifest's
    // per-shard bounds unions without opening them
    // (MdioChunkStats.currentForPruning). An explicit chunkKeys allowlist
    // reads no sidecar: its callers triaged its chunks from the sidecar
    // already, and pruning never decides correctness.
    val varStats: Map[String, (Long, Set[Long], Map[String, MdioChunkStats.Entry])] =
      if (valueRanges.isEmpty || chunkKeys.isDefined) Map.empty
      else valueRanges.flatMap { case (v, range) =>
        MdioChunkStats.currentForPruning(ZarrMeta.path(path).resolve(v),
          chunkLo.headOption.getOrElse(0L), chunkHi.headOption.getOrElse(0L),
          metas(v).chunkGrid, range.intersects).map(v -> _)
      }.toMap
    val statsActive = varStats.nonEmpty

    /** Can chunk `cc` hold any row satisfying every pushed value range?
      * A chunk whose stats shard was manifest-pruned is prunable outright;
      * otherwise: missing entry → keep (safe); `null` entry (all-NaN
      * chunk) → prune (NaN satisfies no range predicate). */
    def chunkSurvivesValues(cc: Seq[Long]): Boolean = {
      if (!statsActive) return true
      val key = ZarrMeta.chunkKey(cc)
      varStats.forall { case (v, (span, prunedShards, entries)) =>
        if (prunedShards.contains(cc.head / span)) false
        else entries.get(key) match {
          case None => true
          case Some(None) => false
          case Some(Some(b)) => valueRanges(v).intersects(b.min, b.max)
        }
      }
    }

    /** Cell range of chunk `cc` inside the bounds (global coords). */
    def cellsOf(cc: Seq[Long]): Seq[(Long, Long)] =
      cc.zipWithIndex.map { case (c, i) =>
        (math.max(bounds(i)._1, c * chunks(i)), math.min(bounds(i)._2, (c + 1) * chunks(i)))
      }
    def cellCount(cc: Seq[Long]): Long = cellsOf(cc).map { case (lo, hi) => hi - lo }.product

    // ---- value-ordered TOP-N chunk pruning: ORDER BY v [DESC] LIMIT k
    // with current stats. Soundness: every Some-entry chunk guarantees
    // `cells` values ranking at-or-beyond its min (DESC; NaN cells rank
    // highest, so they honor the guarantee too) / its max (ASC; hasNaN
    // chunks are left OUT of the guarantee there, since NaN ranks last).
    // Let M be the k-th best of that guaranteed multiset — then the true
    // k-th extremum τ* ranks at-or-beyond M, so a chunk strictly worse
    // than M on its best value (max < M for DESC / min > M for ASC)
    // cannot hold a top-k row, ties included. Entry-less chunks always
    // stay; if the guarantee can't reach k values, nothing prunes. Spark
    // re-sorts the surviving superset (partial pushdown).
    val topNPred: Option[Seq[Long] => Boolean] =
      topNValue.flatMap { case (v, desc, k) =>
        if (runtimeValues.nonEmpty) None
        else MdioChunkStats.currentFor(ZarrMeta.path(path).resolve(v),
            chunkLo.headOption.getOrElse(0L),
            chunkHi.headOption.getOrElse(0L)).flatMap { entries =>
          val guar = scala.collection.mutable.ArrayBuffer.empty[(BigDecimal, Long)]
          MdioScan.cartesian(box).foreach { cc =>
            entries.get(ZarrMeta.chunkKey(cc)).flatten.foreach { b =>
              if (desc || !b.hasNaN)
                guar += (((if (desc) b.min else b.max), cellCount(cc)))
            }
          }
          val ord = if (desc) Ordering[BigDecimal].reverse else Ordering[BigDecimal]
          val sorted = guar.sortBy(_._1)(ord)
          var cum = 0L
          var m: Option[BigDecimal] = None
          val it = sorted.iterator
          while (m.isEmpty && it.hasNext) {
            val (g, w) = it.next()
            cum += w
            if (cum >= k) m = Some(g)
          }
          m.map { thresh => (cc: Seq[Long]) =>
            entries.get(ZarrMeta.chunkKey(cc)) match {
              case None => true
              case Some(None) => desc // all-NaN ranks first under DESC, last under ASC
              case Some(Some(b)) =>
                if (desc) b.hasNaN || b.max >= thresh else b.min <= thresh
            }
          }
        }
      }
    val pruningActive = statsActive || topNPred.isDefined

    /** All driver-side chunk pruning in one predicate: pushed value ranges
      * AND the value-ordered top-N threshold. */
    def survives(cc: Seq[Long]): Boolean =
      chunkSurvivesValues(cc) && topNPred.forall(_(cc))

    /** Is chunk `cc` read? Runtime (join-driven) pruning skips chunks
      * holding none of the dynamically provided dim values; then the
      * value-stat and top-N pruning. */
    def kept(cc: Seq[Long]): Boolean =
      (runtimeValues.isEmpty || {
        val cell = cellsOf(cc)
        !dims.zipWithIndex.exists { case (d, i) =>
          runtimeValues.get(d).exists(vals => !anyValueIn(vals, cell(i)._1, cell(i)._2))
        }
      }) && survives(cc)

    /** Chunks of the box that are read, in C-order. Runtime IN-filters
      * narrow each filtered dim to the chunks containing provided values —
      * O(values) driver work, not an O(grid) sweep of a billion-chunk
      * store. */
    def candidates: Iterator[Vector[Long]] =
      MdioScan.cartesian(dims.zipWithIndex.map { case (d, i) =>
        runtimeValues.get(d) match {
          case Some(vals) =>
            vals.iterator.map(_ / chunks(i))
              .filter(c => c >= chunkLo(i) && c <= chunkHi(i))
              .toIndexedSeq.distinct.sorted
          case None => box(i)
        }
      }).filter(kept)

    /** One-chunk runs of `groups`, each group planned whole, until the
      * planned chunks cover `cells` cells. */
    def untilCells(groups: Iterator[Iterator[Vector[Long]]], cells: Long): Array[InputPartition] = {
      val out = Vector.newBuilder[InputPartition]
      var covered = 0L
      while (covered < cells && groups.hasNext)
        groups.next().foreach { cc => out += one(cc); covered += cellCount(cc) }
      out.result().toArray
    }

    /** The plain full-scan plan: one run per contiguous C-order RANGE of
      * chunks, sized to ~`spark.sql.files.maxPartitionBytes` of projected
      * output per task — a billion-chunk store plans O(bytes/target)
      * partitions, never one driver-side control object per chunk (SURVEY
      * §7.4.6; the reference iterates chunks inside the read,
      * mdio/variable.h:1078-1103, rather than materializing per-chunk
      * control structures on a coordinator). Small grids still fan out to
      * the cluster's parallelism, so correctness tests and small stores
      * keep their per-chunk behavior. */
    def coalescedPlan(): Array[InputPartition] = {
      val totalChunks = extents.product
      val totalCells = bounds.map { case (lo, hi) => hi - lo }.product
      val rowBytes =
        math.max(1L, requiredSchema.fields.map(_.dataType.defaultSize.toLong).sum)
      val targetBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        sessionConf("spark.sql.files.maxPartitionBytes", "128MB"))
      val targetCells = math.max(1L, targetBytes / rowBytes)
      val idealTasks = (totalCells + targetCells - 1) / targetCells
      val par = MdioScan.session.map(_.sparkContext.defaultParallelism.toLong).getOrElse(1L)
      val tasks = math.max(1L, math.min(totalChunks, math.max(idealTasks, par)))
      val chunksPerTask = (totalChunks + tasks - 1) / tasks
      if (!pruningActive)
        (0L until totalChunks by chunksPerTask).map { s =>
          run(chunkLo, extents, s, math.min(s + chunksPerTask, totalChunks))
        }.toArray
      else {
        // value-stat pruning over the full-scan path: test each chunk in
        // C-order against the sidecar bounds and coalesce runs of
        // SURVIVORS into range partitions (still capped at chunksPerTask).
        // Driver cost is O(chunks-in-box) — the same order as the stats
        // sidecar itself, i.e. the parquet-footer trade: chunk-level
        // stats are only ever as cheap as one entry per chunk.
        val out = Vector.newBuilder[InputPartition]
        var runStart = -1L
        var flat = 0L
        while (flat < totalChunks) {
          val ok = survives(ZarrMeta.unflatten(flat, extents).toSeq.zip(chunkLo)
            .map { case (c, lo) => c + lo })
          if (ok && runStart < 0) runStart = flat
          if (ok && flat - runStart + 1 == chunksPerTask) {
            out += run(chunkLo, extents, runStart, flat + 1); runStart = -1L
          } else if (!ok && runStart >= 0) {
            out += run(chunkLo, extents, runStart, flat); runStart = -1L
          }
          flat += 1
        }
        if (runStart >= 0) out += run(chunkLo, extents, runStart, totalChunks)
        out.result().toArray
      }
    }

    if (chunkKeys.isDefined)
      // ---- explicit chunk-key allowlist (the internal planning hint behind
      // countInRange/kthSmallest boundary probes): plan EXACTLY the listed
      // chunks in ONE scan node, where a per-chunk union of dim-boxed scans
      // would carry one plan leg each. Enumerates from the keys, not the
      // grid (O(keys) driver work, not O(box)) and reads no sidecar for
      // value-range pruning; static IN-filters still apply conjunctively;
      // keys outside the clamped bounds are skipped.
      chunkKeys.get.iterator
        .map(k => Vector(k.split("\\.").map(_.toLong): _*))
        .filter(cc => cc.size == dims.size && cc.indices.forall(i =>
          cc(i) >= chunkLo(i) && cc(i) <= chunkHi(i)))
        .toVector.distinct.sortBy(_.mkString("."))
        .filter(kept).map(one).toArray
    else if (runtimeValues.isEmpty && topN.isDefined) {
      // ORDER BY <dims> LIMIT k: plan complete slabs of the LEADING sort
      // dim (in its direction) until >= k cells are covered — the leading
      // key dominates, so the true top-k rows all live in those slabs.
      // Spark re-sorts the reduced set (partial pushdown).
      val (dim, desc, k) = topN.get
      val j = dims.indexOf(dim)
      val slabs = if (desc) box(j).reverse else box(j)
      untilCells(slabs.iterator.map(c =>
        MdioScan.cartesian(box.updated(j, Seq(c))).filter(kept)), k)
    }
    // runtime IN-filters re-filter rows inside chunks, so a cell-count cap
    // could under-deliver; plan everything then
    else if (runtimeValues.isEmpty && limitCells.isDefined)
      untilCells(MdioScan.cartesian(box).filter(kept).map(Iterator.single), limitCells.get)
    else if (keyedPartitions) {
      // keyed mode (storage-partitioned joins): one keyed run per aligned
      // GROUP BOX of chunk ordinals (factor 1 = one chunk per group).
      // BOUNDED: past the ceiling the scan falls back LOUDLY to the
      // coalesced plan (millions of driver-side partition objects are
      // worse than one shuffled join).
      val ceiling = keyedMaxPartitions
      val f = MdioScan.resolveGroupFactors(keyedGroupFactorConf, dims.size, extents, ceiling)
      /** The keyed run of group `g`: the aligned group box clamped to the
        * chunk box, reading `members` (null = the whole box). */
      def groupRun(g: Seq[Long], members: Seq[Seq[Long]]): InputPartition = {
        val mLo = dims.indices.map(i => math.max(g(i) * f(i), chunkLo(i)))
        val ext = dims.indices.map(i =>
          math.min((g(i) + 1) * f(i) - 1, chunkHi(i)) - mLo(i) + 1)
        val surv = if (members == null) null else members.map { cc =>
          dims.indices.foldLeft(0L)((flat, i) => flat * ext(i) + (cc(i) - mLo(i)))
        }.toArray
        run(mLo, ext, 0L, ext.product, surv, g.toArray, f)
      }
      val groups = dims.indices.map(i => (chunkLo(i) / f(i)) to (chunkHi(i) / f(i)))
      val groupCount = dims.indices.map(i => chunkHi(i) / f(i) - chunkLo(i) / f(i) + 1).product
      if (runtimeValues.isEmpty && groupCount > ceiling) {
        // (runtime replans stay keyed: `auto` factors derive from the
        // STATIC chunk box, which runtime IN-sets never change)
        MdioScan.log.warn(
          s"mdio keyed scan of $path: $groupCount keyed partitions " +
            s"(factors ${f.mkString("x")}) exceed " +
            s"spark.graft.scan.keyedPartitions.max=$ceiling — falling back " +
            "to coalesced chunk-range planning; the join will shuffle " +
            "instead of zipping storage partitions. Set " +
            "spark.graft.scan.keyedPartitions.groupFactor (or auto) to keep " +
            "the storage-partitioned join with coarsened keys, or raise the " +
            "ceiling only if the driver is sized for that many partition " +
            "objects.")
        coalescedPlan()
      } else if (runtimeValues.isEmpty && !pruningActive)
        // the common unpruned join plans O(rank) longs per group, no
        // member enumeration at all
        MdioScan.cartesian(groups).map(g => groupRun(g, null)).toArray
      else
        // pruned or runtime-filtered: surviving chunks regroup into their
        // aligned group boxes, so keys keep matching the reported transforms
        candidates.toSeq.groupBy(cc => cc.indices.map(i => cc(i) / f(i)))
          .toSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering[IndexedSeq, Long])
          .map { case (g, members) => groupRun(g, members) }.toArray
    }
    else if (runtimeValues.isEmpty) coalescedPlan()
    else candidates.map(one).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MdioReaderFactory(dims.toArray, requiredSchema, HConf.capture())

  // streaming read: tail newly appended chunk objects (MdioMicroBatchStream)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MdioMicroBatchStream(path, dims, metas, requiredSchema, ranges)
}

object MdioScan {
  private[sources] val log = org.slf4j.LoggerFactory.getLogger(classOf[MdioScan])

  /** TEST HOOK: Scan instances built since JVM start — a bounded-plan pin
    * counts the scan nodes an operator plans (e.g. kthSmallest must plan
    * ONE value-predicate scan, not one union leg per window chunk). */
  private[graft] val scanBuilds = new java.util.concurrent.atomic.AtomicLong

  /** The session planning runs under: the active one, else the default. */
  private[sources] def session: Option[org.apache.spark.sql.SparkSession] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)

  /** Every tuple of the per-dim ordinal `axes`, in C-order (last dim
    * fastest). */
  private[sources] def cartesian(axes: Seq[Seq[Long]]): Iterator[Vector[Long]] =
    axes.foldLeft(Iterator.single(Vector.empty[Long])) { (tuples, axis) =>
      tuples.flatMap(acc => axis.iterator.map(acc :+ _))
    }

  /** Resolve `spark.graft.scan.keyedPartitions.groupFactor` into per-dim
    * factors: a bare integer coarsens the leading dim, a comma list sets
    * each dim (missing tail entries default to 1), and `auto` doubles the
    * dim with the most groups until the group count fits the ceiling —
    * the smallest power-of-two coarsening for the scan's own chunk box. */
  private[sources] def resolveGroupFactors(raw: String, rank: Int,
                                           extents: Seq[Long],
                                           ceiling: Long): Array[Long] = {
    val t = raw.trim
    if (t.equalsIgnoreCase("auto")) {
      val f = Array.fill(rank)(1L)
      def groupsOf(i: Int): Long = (extents(i) + f(i) - 1) / f(i)
      def total: Long = (0 until rank).map(groupsOf).product
      while (total > math.max(ceiling, 1L)) {
        val i = (0 until rank).maxBy(groupsOf)
        f(i) *= 2
      }
      f
    } else if (t.contains(",")) {
      val parts = t.split(",").map(p => p.trim.toLong)
      require(parts.forall(_ >= 1),
        s"spark.graft.scan.keyedPartitions.groupFactor entries must be >= 1: '$t'")
      Array.tabulate(rank)(i => if (i < parts.length) parts(i) else 1L)
    } else {
      val g = math.max(1L, t.toLong)
      Array.tabulate(rank)(i => if (i == 0) g else 1L)
    }
  }
}

/** One chunk as [[MdioColumnarReader]] reads it: the chunk's ordinals and
  * its cell bounds clamped to the scan, cut from an [[MdioChunkRun]]. */
final case class MdioInputPartition(path: String, chunk: Array[Long],
                                    cellLo: Array[Long], cellHi: Array[Long],
                                    vars: Array[String],
                                    metas: Array[ZarrMeta.ArrayMeta])

/** The one chunk-reading scan partition: a RUN of chunks. The run reads
  * the flat C-order indices `[start, end)` of the chunk box
  * `[boxLo, boxLo + extents)`, or, when chunk pruning thinned the range,
  * only the flat indices in `survivors` (null = every chunk of the range).
  * Each chunk reads its own cells clamped to the scan's cell bounds
  * `[cellLo, cellHi)`. In keyed mode `key` holds the run's group
  * ordinals (`chunk_<factors_i·size_i>(dim_i)` of every row it yields);
  * outside keyed mode `key` and `factors` are null.
  *
  * The planner's shapes: the coalesced full scan plans ranges of the
  * scan's chunk box, a keyed scan one run per aligned group box, and
  * every other plan (top-N, limit, IN-lists, allowlists, streaming)
  * one-chunk runs. A run's driver footprint is O(rank) longs plus its
  * survivor list, however many chunks it reads. */
final case class MdioChunkRun(path: String,
                              boxLo: Array[Long], extents: Array[Long],
                              start: Long, end: Long, survivors: Array[Long],
                              cellLo: Array[Long], cellHi: Array[Long],
                              chunkShape: Array[Long],
                              vars: Array[String], metas: Array[ZarrMeta.ArrayMeta],
                              key: Array[Long] = null, factors: Array[Long] = null)
    extends InputPartition with HasPartitionKey {
  /** The group ordinals in keyed mode; null otherwise, where the scan
    * reports unknown partitioning and Spark never asks. */
  override def partitionKey(): InternalRow =
    if (key == null) null else new GenericInternalRow(key.map(c => c: Any))

  /** Chunks this run reads. */
  def chunkCount: Long = if (survivors != null) survivors.length.toLong else end - start

  /** The `i`-th chunk this run reads, `0 <= i < chunkCount`. */
  def chunk(i: Long): MdioInputPartition = {
    val cc = ZarrMeta.unflatten(if (survivors != null) survivors(i.toInt) else start + i, extents)
    val lo = new Array[Long](cc.length)
    val hi = new Array[Long](cc.length)
    var d = 0
    while (d < cc.length) {
      cc(d) += boxLo(d)
      lo(d) = math.max(cellLo(d), cc(d) * chunkShape(d))
      hi(d) = math.min(cellHi(d), (cc(d) + 1) * chunkShape(d))
      d += 1
    }
    MdioInputPartition(path, cc, lo, hi, vars, metas)
  }
}

final case class MdioReaderFactory(dims: Array[String], schema: StructType,
                                   hconf: HConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("mdio scans are columnar-only")

  // vectorized path: decoded chunks land directly in column vectors, so the
  // scan feeds whole-stage codegen batches instead of row-at-a-time
  // iterator calls (SURVEY "codegen-friendly": widen the codegen spans).
  // The columnar reader covers the full dtype matrix — primitives, complex
  // and record structs (child vectors), u64 (Decimal(20,0)) — so every
  // partition takes it.
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    VPath.install(hconf.value)
    new MdioChunkRunReader(p.asInstanceOf[MdioChunkRun], dims, schema)
  }
}
