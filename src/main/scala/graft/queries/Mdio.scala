package graft.queries

import graft.GraftSession.withConfs
import graft.operators.{CoordinateSelector, MdioDataset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2 operator inventory (P/O/A/SET/F families) exercised through
  * the [[graft.operators.MdioDataset]] API against the harness corpus.
  *
  * The corpus is relational, so the MDIO grid view is: `lineitem` as a 2-D
  * dataset over dims (l_orderkey, l_linenumber) whose data variables are
  * the measures, with `orders` providing 1-D coordinate variables over the
  * l_orderkey dimension (o_orderdate, o_totalprice, o_orderpriority) —
  * exactly the reference's dimension-coordinate shape (SURVEY §1.1).
  */
/** Cell row for [[Mdio.qSegyRoundtrip]]'s per-file assembly. */
case class SegyCell(tr: Long, t: Long, ai: Long)

object Mdio {

  /** lineitem as a labeled 2-D MDIO dataset. Domain upper bounds are "the
    * store's declared shape" — generous static bounds; isel clamps into
    * them (reference clamp semantics, mdio/variable.h:1211-1232). */
  def grid(s: SparkSession, d: String): MdioDataset = {
    val ords = orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey")
    MdioDataset(
      data = lineitem(s, d),
      dims = Seq("l_orderkey", "l_linenumber"),
      domain = Map("l_orderkey" -> (0L, 1L << 40), "l_linenumber" -> (0L, 1L << 40)),
      coords = Map(
        "o_orderdate"     -> (Seq("l_orderkey"), ords.select(col("l_orderkey"), col("o_orderdate"))),
        "o_totalprice"    -> (Seq("l_orderkey"), ords.select(col("l_orderkey"), col("o_totalprice"))),
        "o_orderpriority" -> (Seq("l_orderkey"), ords.select(col("l_orderkey"), col("o_orderpriority")))))
  }

  /** [[grid]]'s cell table spread by the lead dim for the CPU-heavy
    * cells-aggregation family (agc / smooth_dim / smooth_grid / gradient
    * / bandpass / despike): the single-split scan otherwise runs every
    * per-cell decimal aggregate on one core (r19 profile: ~0.8 s
    * one-effective-task stages). hash(l_orderkey) satisfies their
    * (l_orderkey, l_linenumber) grouping and the per-trace windows, so
    * the spread REPLACES the aggregation exchange rather than adding
    * one. No-op once the scan is parallel (real scale). Deliberately NOT
    * used by (a) the isel/sel operator queries, whose dim filters must
    * keep reaching the parquet scan (the spread barrier would block that
    * pushdown), and (b) the modulo-grouped cells queries (semblance /
    * nmo / velocity_stack / horizon_flatten / radon and friends), whose
    * (l_suppkey%k, l_orderkey%m) keys hash(l_orderkey) does not serve —
    * there the spread measured as a pure extra exchange (r19 bench). */
  private def gridCellsWide(s: SparkSession, d: String) =
    graft.functions.Spread.byKeyIfNarrow(grid(s, d).data, col("l_orderkey"))

  /** events as a 1-D MDIO dataset over event_id. */
  def eventsGrid(s: SparkSession, d: String): MdioDataset =
    MdioDataset(events(s, d), Seq("event_id"), Map("event_id" -> (0L, 1L << 40)))

  // P4/P5 — index slicing with clamping (upper bounds beyond the domain).
  val qIselSlice: Q = (s, d) =>
    grid(s, d)
      .isel("l_orderkey", 1000L, 3000L)
      .isel("l_linenumber", 0L, 4L)
      .isel("no_such_dim", 5L, 6L) // reference: unknown label = no-op
      .data
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val qIselSliceSql: String = s"""
    SELECT COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
    FROM lineitem
    WHERE l_orderkey >= 1000 AND l_orderkey < 3000
      AND l_linenumber >= 0 AND l_linenumber < 4"""

  // P6 — strided slice.
  val qIselStride: Q = (s, d) =>
    grid(s, d)
      .isel("l_orderkey", 0L, 1L << 40, step = 4L)
      .data
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))

  val qIselStrideSql: String = s"""
    SELECT COUNT(*) AS n, ${sqlDsum("l_extendedprice")} AS sum_price
    FROM lineitem WHERE l_orderkey % 4 = 0"""

  // SET1 — duplicate labels in one isel call = slice concat (union).
  val qIselConcat: Q = (s, d) =>
    grid(s, d)
      .isel(Seq(("l_orderkey", 100L, 600L), ("l_orderkey", 5000L, 5500L)))
      .data
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val qIselConcatSql: String = s"""
    SELECT COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
    FROM lineitem
    WHERE (l_orderkey >= 100 AND l_orderkey < 600)
       OR (l_orderkey >= 5000 AND l_orderkey < 5500)"""

  // P7 — sel by coordinate value (all occurrences; semi-join gather).
  val qSelValue: Q = (s, d) =>
    grid(s, d)
      .sel("o_orderpriority", lit("1-URGENT"))
      .data
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))

  val qSelValueSql: String = s"""
    SELECT COUNT(*) AS n, ${sqlDsum("l_extendedprice")} AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')"""

  // P8 — sel by value range, STOP-INCLUSIVE (reference mdio/dataset.h:872-876).
  val qSelRange: Q = (s, d) =>
    grid(s, d)
      .selRange("o_orderdate",
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
      .data
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))

  val qSelRangeSql: String = s"""
    SELECT COUNT(*) AS n, ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate <= TIMESTAMP '1996-12-31')"""

  // P9 — sel by list of values (Unimplemented in the reference; complete here).
  val qSelList: Q = (s, d) =>
    grid(s, d)
      .selList("o_orderpriority", Seq("1-URGENT", "5-LOW"))
      .withCoordinate("o_orderpriority")
      .data
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val qSelListSql: String = s"""
    SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    GROUP BY o_orderpriority"""

  // P1 — variable selection: project one variable + dims (column pruning).
  val qSelectVariable: Q = (s, d) =>
    grid(s, d).selectVariable("l_quantity").data

  val qSelectVariableSql: String =
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"

  // P3 — struct-field selection (nested pruning path).
  val qSelectField: Q = (s, d) => {
    val g = grid(s, d)
    val withHdr = g.copy(data = g.data.withColumn("hdr",
      struct(col("l_discount").as("discount"), col("l_tax").as("tax"))))
    withHdr.selectField("hdr", "tax")
      .agg(dsum(col("hdr_tax")).as("sum_tax"), count(lit(1)).as("n"))
  }

  val qSelectFieldSql: String = s"""
    SELECT ${sqlDsum("l_tax")} AS sum_tax, COUNT(*) AS n FROM lineitem"""

  // P2 — typed get with dtype cast.
  val qCastTyped: Q = (s, d) =>
    grid(s, d).getAs("l_quantity", "int")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty_int"), count(lit(1)).as("n"))

  val qCastTypedSql: String = """
    SELECT CAST(SUM(CAST(CAST(l_quantity AS INT) AS BIGINT)) AS BIGINT) AS sum_qty_int,
           COUNT(*) AS n
    FROM lineitem"""

  // P11 — interval/domain introspection: per-dim extents from the data.
  val qIntervals: Q = (s, d) =>
    grid(s, d).data.agg(
      min(col("l_orderkey")).as("orderkey_min"), max(col("l_orderkey")).as("orderkey_max"),
      min(col("l_linenumber")).cast("long").as("linenumber_min"),
      max(col("l_linenumber")).cast("long").as("linenumber_max"))

  val qIntervalsSql: String = """
    SELECT MIN(l_orderkey) AS orderkey_min, MAX(l_orderkey) AS orderkey_max,
           CAST(MIN(l_linenumber) AS BIGINT) AS linenumber_min,
           CAST(MAX(l_linenumber) AS BIGINT) AS linenumber_max
    FROM lineitem"""

  // A1 — statsV1 one-pass summary (count/min/max/sum/sumSquares).
  val qStatsV1: Q = (s, d) => grid(s, d).statsV1("l_quantity")

  val qStatsV1Sql: String = s"""
    SELECT COUNT(l_quantity) AS "count", MIN(l_quantity) AS "min", MAX(l_quantity) AS "max",
           ${sqlDsum("l_quantity")} AS "sum", ${sqlDsumsq("l_quantity")} AS "sumSquares"
    FROM lineitem"""

  // A1+A2 via the one-pass typed Aggregator (operators/MdioStats.scala):
  // the custom Aggregator's own output on the oracle gate. Only its
  // order-independent fields are compared (count/min/max/bin counts —
  // the double sums accumulate in partition order by design).
  val qStatsAggregator: Q = (s, d) => {
    import s.implicits._
    val stats = graft.operators.MdioStats.compute(
      s, grid(s, d), "l_quantity", histLo = 0.0, histWidth = 10.0, histBins = 6)
    Seq((stats.count, stats.min, stats.max,
      stats.histogram.counts(0), stats.histogram.counts(1), stats.histogram.counts(5)))
      .toDF("count", "min", "max", "bin0", "bin1", "bin5")
  }

  val qStatsAggregatorSql: String = """
    SELECT COUNT(l_quantity) AS "count", MIN(l_quantity) AS "min", MAX(l_quantity) AS "max",
           CAST(SUM(CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END) AS BIGINT) AS bin0,
           CAST(SUM(CASE WHEN l_quantity >= 10 AND l_quantity < 20 THEN 1 ELSE 0 END) AS BIGINT) AS bin1,
           CAST(SUM(CASE WHEN l_quantity >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS bin5
    FROM lineitem"""

  // A2 — centered-bin histogram (bin center spacing 5 on l_quantity).
  val qHistogramCentered: Q = (s, d) =>
    grid(s, d).data
      .select(floor(col("l_quantity") / lit(5.0) + lit(0.5)).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))

  val qHistogramCenteredSql: String = """
    SELECT CAST(FLOOR(l_quantity / 5.0 + 0.5) AS BIGINT) AS bin, COUNT(*) AS n
    FROM lineitem GROUP BY 1"""

  // A2 — EdgeDefinedHistogram with NON-uniform binEdges (the reference's
  // second histogram kind, mdio/stats.h:163-227): explicit edge list,
  // stop-inclusive last edge.
  val qHistogramEdges: Q = (s, d) => {
    val edges = Seq(1.0, 5.0, 15.0, 30.0, 51.0) // 4 bins, non-uniform widths
    val bin = edges.sliding(2).zipWithIndex.foldLeft(lit(-1L)) {
      case (acc, (Seq(lo, hi), i)) =>
        when(col("l_quantity") >= lo && col("l_quantity") < hi, i.toLong).otherwise(acc)
    }
    grid(s, d).data
      .select(bin.as("bin"))
      .filter(col("bin") >= 0)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  val qHistogramEdgesSql: String = """
    SELECT bin, COUNT(*) AS n FROM (
      SELECT CASE
        WHEN l_quantity >= 30.0 AND l_quantity < 51.0 THEN 3
        WHEN l_quantity >= 15.0 AND l_quantity < 30.0 THEN 2
        WHEN l_quantity >= 5.0  AND l_quantity < 15.0 THEN 1
        WHEN l_quantity >= 1.0  AND l_quantity < 5.0  THEN 0
        ELSE -1 END AS bin
      FROM lineitem) t
    WHERE bin >= 0 GROUP BY bin"""

  // F2 — fill-value materialization on missing cells (left join → fill).
  val qFillValue: Q = (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"),
        coalesce(col("o_totalprice"), lit(0.0)).as("filled_price"),
        when(col("o_orderkey").isNull, 1L).otherwise(0L).as("was_filled"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("filled_price")).as("sum_filled"), sum(col("was_filled")).as("n_filled"))

  val qFillValueSql: String = s"""
    SELECT c_mktsegment, ${sqlDsum("COALESCE(o_totalprice, 0.0)")} AS sum_filled,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment"""

  // S1-S9 — the Zarr connector exercised end-to-end against the corpus:
  // lineitem is folded onto a dense 32×8 grid (exact decimal cell sums),
  // written through the chunk-aligned writer, read back via format("mdio").

  private val builtGrids = scala.collection.concurrent.TrieMap[String, String]()

  /** Build (once per JVM per sfDir) a 32×8 MDIO dataset derived from
    * lineitem; returns its path. */
  def zarrGrid(s: SparkSession, d: String): String = builtGrids.getOrElseUpdate(d, {
    val path = s"/tmp/graft_zarr_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    val spec = graft.spec.MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "lineitem_grid", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 32}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 8}]},
        |    {"name": "image", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
        |     "compressor": {"name": "zstd"},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
        |  ]
        |}""".stripMargin)
    graft.sources.MdioWriter.delete0(path)
    graft.sources.MdioWriter.create(spec, path)
    val agg = lineitem(s, d)
      .groupBy((col("l_orderkey") % 32).as("inline"),
               (col("l_linenumber").cast("long") % 8).as("crossline"))
      .agg(sum(col("l_quantity").cast("decimal(27,6)")).cast("double").as("image"))
    val full = s.range(32).select(col("id").as("inline"))
      .crossJoin(s.range(8).select(col("id").as("crossline")))
    val cells = full.join(agg, Seq("inline", "crossline"), "left")
      .select(col("inline"), col("crossline"), coalesce(col("image"), lit(0.0)).as("image"))
    graft.sources.MdioWriter.writeVariable(s, cells, path, "image")
    // dimension-coordinate values: inline index i ↦ 1000 + 10·i (a realistic
    // survey numbering so value-based sel differs from index-based isel)
    graft.sources.MdioWriter.writeVariable(s,
      s.range(32).select(col("id").as("inline"), (lit(1000) + col("id") * 10).cast("double").as("inline__value")),
      path, "inline")
    graft.sources.MdioWriter.writeVariable(s,
      s.range(8).select(col("id").as("crossline"), col("id").cast("double").as("crossline__value")),
      path, "crossline")
    path
  })

  /** S2+S6+S1+S5 — create → chunked write → DSv2 read → aggregate. */
  val qZarrRoundtrip: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  /** Same gate through the Zarr v3 on-disk format (S8 version duality). */
  def zarrGridV3(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#v3", {
      val path = s"/tmp/graft_zarr3_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "lineitem_grid3", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 32}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 8}]},
          |    {"name": "image", "dataType": "float64",
          |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
          |     "compressor": {"name": "zstd"},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(path)
      graft.sources.MdioWriter.create(spec, path, version = 3)
      val agg = lineitem(s, d)
        .groupBy((col("l_orderkey") % 32).as("inline"),
                 (col("l_linenumber").cast("long") % 8).as("crossline"))
        .agg(sum(col("l_quantity").cast("decimal(27,6)")).cast("double").as("image"))
      val full = s.range(32).select(col("id").as("inline"))
        .crossJoin(s.range(8).select(col("id").as("crossline")))
      val cells = full.join(agg, Seq("inline", "crossline"), "left")
        .select(col("inline"), col("crossline"), coalesce(col("image"), lit(0.0)).as("image"))
      graft.sources.MdioWriter.writeVariable(s, cells, path, "image")
      path
    })

  val qZarrV3Roundtrip: Q = (s, d) =>
    s.read.format("mdio").load(zarrGridV3(s, d))
      .filter(col("inline") >= 8 && col("inline") < 24 && col("crossline") < 4)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  /** Same cells through a SHARDED v3 store (sharding_indexed: 16x8 shards
    * of 8x4 inner chunks — 4 shard objects instead of 8 chunk files);
    * pushdown prunes at inner-chunk granularity, reads are range-GETs
    * through the crc32c footer index. */
  def zarrGridSharded(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#shard", {
      val path = s"/tmp/graft_zarrsh_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "lineitem_grid_sh", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 32}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 8}]},
          |    {"name": "image", "dataType": "float64",
          |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
          |     "compressor": {"name": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 1},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration":
          |       {"chunkShape": [8, 4], "shardShape": [16, 8]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(path)
      graft.sources.MdioWriter.create(spec, path, version = 3)
      val agg = lineitem(s, d)
        .groupBy((col("l_orderkey") % 32).as("inline"),
                 (col("l_linenumber").cast("long") % 8).as("crossline"))
        .agg(sum(col("l_quantity").cast("decimal(27,6)")).cast("double").as("image"))
      val full = s.range(32).select(col("id").as("inline"))
        .crossJoin(s.range(8).select(col("id").as("crossline")))
      val cells = full.join(agg, Seq("inline", "crossline"), "left")
        .select(col("inline"), col("crossline"), coalesce(col("image"), lit(0.0)).as("image"))
      graft.sources.MdioWriter.writeVariable(s, cells, path, "image")
      path
    })

  val qZarrShardedRoundtrip: Q = (s, d) =>
    s.read.format("mdio").load(zarrGridSharded(s, d))
      .filter(col("inline") >= 8 && col("inline") < 24 && col("crossline") < 4)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  /** Metadata-only extents: COUNT(*)/MIN/MAX over dims push completely
    * into the connector (MdioAggScan) — no chunk file opened, the O(1)
    * path for "how big is this 100 TB store". */
  val qZarrExtents: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .filter(col("inline") >= 8 && col("inline") < 24)
      .agg(count(lit(1)).as("n"),
        min(col("inline")).as("min_inline"), max(col("inline")).as("max_inline"),
        min(col("crossline")).as("min_crossline"), max(col("crossline")).as("max_crossline"))

  val qZarrExtentsSql: String = """
    SELECT COUNT(*) AS n,
           MIN(i) AS min_inline, MAX(i) AS max_inline,
           MIN(j) AS min_crossline, MAX(j) AS max_crossline
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j)
    WHERE i >= 8 AND i < 24"""

  /** COUNT(DISTINCT dim) on the gate: the dense-grid closed form — every
    * index inside the clamped slice exists, so the distinct count IS the
    * range extent, answered from the chunk grid with zero chunk files
    * opened (MdioAggScan "dcnt", complete pushdown beside CountStar —
    * "how many inlines does this subvolume touch" as an O(1) metadata
    * probe on a 100 TB store). */
  val qZarrExtentsDistinct: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .filter(col("inline") >= 8 && col("inline") < 24)
      .agg(countDistinct(col("inline")).as("n_inline"),
        countDistinct(col("crossline")).as("n_crossline"),
        count(lit(1)).as("n"))

  val qZarrExtentsDistinctSql: String = """
    SELECT COUNT(DISTINCT i) AS n_inline, COUNT(DISTINCT j) AS n_crossline,
           COUNT(*) AS n
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j)
    WHERE i >= 8 AND i < 24"""

  /** Value-statistics chunk pruning on the oracle gate (SURVEY §2.2 P10;
    * reference statsV1 mdio/stats.h:229-335): the roundtrip store read back
    * through a range predicate on the DATA VALUE column — the per-chunk
    * [min, max] sidecar [[graft.sources.MdioChunkStats]] written by
    * writeVariable prunes chunks whose bounds cannot satisfy `image >= 1`,
    * and Spark re-filters rows inside the survivors (partial pushdown), so
    * the answer is bound to DuckDB regardless of how many chunks pruned. */
  val qZarrValuePruning: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .filter(col("image") >= 1.0)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  val qZarrValuePruningSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total, COUNT(*) AS n
    FROM cells WHERE image >= 1.0"""

  /** Metadata-only MIN/MAX over a VALUE column (the statsV1
    * attached-attributes use case, mdio/stats.h): with a generation-current
    * full-coverage stats sidecar the connector answers
    * `SELECT MIN(image), MAX(image), COUNT(*)` as a complete aggregate
    * pushdown — one metadata row, zero chunk files opened, the O(1)
    * "amplitude range of a 100 TB store" path (MdioAggScan "vmin"/"vmax";
    * plan-pinned in MdioValueStatsSpec). */
  val qZarrStatsMinmax: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .agg(min(col("image")).as("mn"), max(col("image")).as("mx"),
        count(lit(1)).as("n"))

  val qZarrStatsMinmaxSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT MIN(image) AS mn, MAX(image) AS mx, COUNT(*) AS n FROM cells"""

  /** Per-SLAB statsV1 on the gate (reference per-variable statsV1,
    * mdio/stats.h:229-335, generalized along an axis — the per-inline QC
    * pass a seismic survey actually runs): `GROUP BY FLOOR(inline/8)` with
    * MIN/MAX/SUM/AVG/COUNT of the value column pushes COMPLETELY into the
    * connector when the slab width is a chunk multiple and the stats
    * sidecar covers the scan — one metadata row per slab, zero chunk
    * files opened however large the store (MdioAggScan slabRows;
    * plan-pinned with its decline paths in MdioValueStatsSpec). SUM is
    * the exact per-slab real-number sum (Shewchuk moments) rounded once
    * to double, so it equals DuckDB's decimal-exact sum bit-for-bit. */
  val qZarrStatsBySlab: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .groupBy(floor(col("inline") / 8).as("slab"))
      .agg(min(col("image")).as("mn"), max(col("image")).as("mx"),
        sum(col("image")).as("total"), avg(col("image")).as("avg_img"),
        count(lit(1)).as("n"))
      .orderBy(col("slab"))

  val qZarrStatsBySlabSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT CAST(FLOOR(i / 8) AS BIGINT) AS slab,
           MIN(image) AS mn, MAX(image) AS mx,
           CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total,
           CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_img,
           COUNT(*) AS n
    FROM cells GROUP BY 1 ORDER BY slab"""

  /** uint64 store for the exact-u64 gate row: per-cell lineitem COUNT
    * offset past 2^63, on the zarrGrid geometry — every stored value is
    * outside both the Long range and the double-exact integer range, so
    * any sign-wrapped or double-routed handling of u64 anywhere in the
    * write path, the sidecar bounds, the pruning comparison, or the read
    * path shifts the answer and fails the hash. */
  def zarrGridU64(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#u64", {
      val path = s"/tmp/graft_zarru64_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "lineitem_u64", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 32}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 8}]},
          |    {"name": "amp", "dataType": "uint64",
          |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(path)
      graft.sources.MdioWriter.create(spec, path)
      val agg = lineitem(s, d)
        .groupBy((col("l_orderkey") % 32).as("inline"),
                 (col("l_linenumber").cast("long") % 8).as("crossline"))
        .agg(count(lit(1)).cast("decimal(21,0)").as("cnt"))
      val full = s.range(32).select(col("id").as("inline"))
        .crossJoin(s.range(8).select(col("id").as("crossline")))
      val cells = full.join(agg, Seq("inline", "crossline"), "left")
        .select(col("inline"), col("crossline"),
          (lit(BigDecimal("9223372036854775808")) +
            coalesce(col("cnt"), lit(BigDecimal(0)))).cast("decimal(20,0)").as("amp"))
      graft.sources.MdioWriter.writeVariable(s, cells, path, "amp")
      path
    })

  /** Exact uint64 on the gate (reference dtype matrix, mdio/impl.h — u64
    * is a first-class coordinate dtype): a value predicate strictly above
    * 2^63 filters the u64 column, pruning through the UNSIGNED-exact
    * sidecar bounds (r13), and MIN/MAX come back as full-precision decimal
    * — compared as strings so neither engine's numeric coercion can mask a
    * wrapped or double-rounded value. */
  val qZarrU64Pruning: Q = (s, d) =>
    s.read.format("mdio").load(zarrGridU64(s, d))
      .filter(col("amp") > lit(BigDecimal("9223372036854775808")))
      .agg(min(col("amp")).cast("string").as("mn"),
        max(col("amp")).cast("string").as("mx"),
        count(lit(1)).as("n"))

  val qZarrU64PruningSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT CAST(9223372036854775808 AS HUGEINT) + COALESCE(cnt, 0) AS amp
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT CAST(MIN(amp) AS VARCHAR) AS mn, CAST(MAX(amp) AS VARCHAR) AS mx,
           COUNT(*) AS n
    FROM cells WHERE amp > CAST(9223372036854775808 AS HUGEINT)"""

  /** A TRIMMED copy of the [[zarrGrid]] cells: same 32×8 store built fresh,
    * then `trim(inline → 20)` — mid-chunk, so chunk files past the keep
    * boundary are deleted, the ragged boundary chunk (inlines 16..19)
    * survives read-clamped, and (r13) the stats sidecar RETAINS exact
    * entries for the two whole surviving lead chunks. */
  def zarrGridTrimmed(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#trim", {
      val path = s"/tmp/graft_zarrtr_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "lineitem_grid_tr", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 32}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 8}]},
          |    {"name": "image", "dataType": "float64",
          |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
          |     "compressor": {"name": "zstd"},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(path)
      graft.sources.MdioWriter.create(spec, path)
      val agg = lineitem(s, d)
        .groupBy((col("l_orderkey") % 32).as("inline"),
                 (col("l_linenumber").cast("long") % 8).as("crossline"))
        .agg(sum(col("l_quantity").cast("decimal(27,6)")).cast("double").as("image"))
      val full = s.range(32).select(col("id").as("inline"))
        .crossJoin(s.range(8).select(col("id").as("crossline")))
      val cells = full.join(agg, Seq("inline", "crossline"), "left")
        .select(col("inline"), col("crossline"),
          coalesce(col("image"), lit(0.0)).as("image"))
      graft.sources.MdioWriter.writeVariable(s, cells, path, "image")
      graft.sources.MdioWriter.trim(path, "inline", 20)
      path
    })

  /** Trim on the gate (S11, reference mdio/utils/trim.h:45-117): the store
    * shrinks mid-chunk — deleted chunk files beyond the keep boundary, a
    * read-clamped ragged boundary chunk, and (r13) RETAINED stats pruning
    * the surviving whole chunks under a value predicate — all certified
    * against DuckDB recomputing the same cells with `i < 20`. */
  val qZarrTrimPruning: Q = (s, d) =>
    s.read.format("mdio").load(zarrGridTrimmed(s, d))
      .filter(col("image") >= 1.0)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"),
        max(col("inline")).as("max_inline"))

  val qZarrTrimPruningSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
      WHERE i < 20)
    SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total, COUNT(*) AS n,
           MAX(i) AS max_inline
    FROM cells WHERE image >= 1.0"""

  /** Second co-gridded store for the storage-partitioned-join row: per-cell
    * lineitem COUNT on the same 32×8 / chunks-[8,4] grid as [[zarrGrid]]. */
  def zarrGridWeight(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#weight", {
      val path = s"/tmp/graft_zarrw_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "lineitem_weight", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 32}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 8}]},
          |    {"name": "weight", "dataType": "float64",
          |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
          |     "compressor": {"name": "zstd"},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(path)
      graft.sources.MdioWriter.create(spec, path)
      val agg = lineitem(s, d)
        .groupBy((col("l_orderkey") % 32).as("inline"),
                 (col("l_linenumber").cast("long") % 8).as("crossline"))
        .agg(count(lit(1)).cast("double").as("weight"))
      val full = s.range(32).select(col("id").as("inline"))
        .crossJoin(s.range(8).select(col("id").as("crossline")))
      val cells = full.join(agg, Seq("inline", "crossline"), "left")
        .select(col("inline"), col("crossline"),
          coalesce(col("weight"), lit(0.0)).as("weight"))
      graft.sources.MdioWriter.writeVariable(s, cells, path, "weight")
      path
    })

  /** STORAGE-PARTITIONED JOIN on the gate (beyond-reference scale feature;
    * the seismic attribute-fusion pattern — two cubes on one survey grid,
    * neither broadcastable at 100 TB, a shuffle would move both corpora
    * whole): the two co-gridded stores load through [[MdioCatalog]] with
    * `spark.graft.scan.keyedPartitions` on, each scan reports
    * KeyGroupedPartitioning over the sized `chunk_<size>(dim)` transform,
    * and Spark's storage-partitioned join zips the chunk groups
    * task-by-task — the query REQUIRES zero exchanges in the join plan
    * (a regression to a shuffling plan fails the row, not just a spec)
    * and folds Σ image·weight, certified against DuckDB recomputing the
    * join from the raw table. Confs are set and restored inside the
    * closure, so the result is materialized within the window. */
  val qZarrSpjFusion: Q = (s, d) => {
    val a = zarrGrid(s, d)
    val b = zarrGridWeight(s, d)
    s.conf.set("spark.sql.catalog.graft_spj", "graft.sources.MdioCatalog")
    withConfs(s)(
      "spark.graft.scan.keyedPartitions" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = s.table(s"graft_spj.`$a`")
        .join(s.table(s"graft_spj.`$b`"), Seq("inline", "crossline"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"storage-partitioned join regressed to a shuffle:\n${plan.take(1200)}")
      val r = joined
        .agg(dsum(col("image") * col("weight")).as("wsum"), count(lit(1)).as("n"))
        .head
      import s.implicits._
      Seq((r.getDouble(0), r.getLong(1))).toDF("wsum", "n")
    }
  }

  /** GROUPED-KEY storage-partitioned join on the gate (r13): the fusion
    * fold of [[qZarrSpjFusion]] under
    * `spark.graft.scan.keyedPartitions.groupFactor=2` — each scan plans
    * one partition per ALIGNED PAIR of leading chunk ordinals, keyed by
    * the coarsened `chunk_16(inline)` transform, so driver partition
    * objects HALVE while the join still plans zero exchanges. This is the
    * plan shape that keeps storage-partitioned joins live on stores whose
    * chunk count exceeds the per-chunk ceiling (millions of chunks ÷ G
    * instead of a forced shuffle). The query REQUIRES both properties:
    * grouped partitions in the scan AND an exchange-free join plan. */
  val qZarrSpjGrouped: Q = (s, d) => {
    val a = zarrGrid(s, d)
    val b = zarrGridWeight(s, d)
    s.conf.set("spark.sql.catalog.graft_spj", "graft.sources.MdioCatalog")
    withConfs(s)(
      "spark.graft.scan.keyedPartitions" -> "true",
      "spark.graft.scan.keyedPartitions.groupFactor" -> "2",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the scans genuinely plan GROUPED partitions: 2 lead-groups × 2
      // crossline chunks = 4, not the per-chunk 8
      val parts = graft.sources.MdioTable(a, None)
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toBatch.planInputPartitions()
      require(parts.length == 4 && parts.forall {
        case r: graft.sources.MdioChunkRun => r.key != null && r.factors.toSeq == Seq(2L, 1L)
        case _ => false
      }, s"grouped keyed scan regressed: ${parts.length} partitions of " +
          parts.map(_.getClass.getSimpleName).distinct.mkString(","))
      val joined = s.table(s"graft_spj.`$a`")
        .join(s.table(s"graft_spj.`$b`"), Seq("inline", "crossline"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"grouped-key storage-partitioned join regressed to a shuffle:\n${plan.take(1200)}")
      val r = joined
        .agg(dsum(col("image") * col("weight")).as("wsum"), count(lit(1)).as("n"))
        .head
      import s.implicits._
      Seq((r.getDouble(0), r.getLong(1))).toDF("wsum", "n")
    }
  }

  /** Variance family from metadata (r14): VAR_POP/VAR_SAMP/STDDEV_POP/
    * STDDEV_SAMP over a value column answered ENTIRELY from the statsV1
    * moments (exact Σx + Σx² per chunk, reference mdio/stats.h:229-335 —
    * sumSquares exists precisely for this) — the RMS/QC readout of a
    * 100 TB store with zero chunk files opened. REQUIRES the
    * metadata-only plan in-query. The oracle recomputes the identity
    * (n·Σx² − (Σx)²) / n² over exact integers (the weight grid is
    * COUNT-valued), rounding at the same two points as the metadata
    * answer, so the compare is bit-exact. */
  val qZarrStatsVariance: Q = (s, d) => {
    val df = s.read.format("mdio").load(zarrGridWeight(s, d))
      .agg(var_pop(col("weight")).as("vp"), var_samp(col("weight")).as("vs"),
        stddev_pop(col("weight")).as("sp"), stddev_samp(col("weight")).as("ss"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    require(plan.contains("MdioAggScan"),
      s"variance did not answer from metadata:\n${plan.take(900)}")
    df
  }

  val qZarrStatsVarianceSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT CAST(COALESCE(weight, 0.0) AS HUGEINT) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    m AS (SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x*x) AS s2 FROM cells)
    SELECT CAST(n*s2 - s1*s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vp,
           CAST(n*s2 - s1*s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vs,
           SQRT(CAST(n*s2 - s1*s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sp,
           SQRT(CAST(n*s2 - s1*s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS ss
    FROM m"""

  /** Boundary-only filtered COUNT on the gate (r14):
    * [[graft.operators.MdioStats.countInRange]] answers `COUNT(v in
    * [lo,hi])` from the stats sidecar for every chunk fully inside or
    * fully outside the range and scans ONLY the straddlers — chunk I/O
    * proportional to the range boundary, not the range volume. Two
    * scale-free probes (anchored on the store's own metadata MIN/MAX so
    * the row is exact at every SF): cells AT the global minimum (most
    * chunks prove OUTSIDE from metadata) and the whole domain (every
    * chunk proves INSIDE — zero chunks scanned, pure metadata). The query
    * REQUIRES both I/O properties before folding the answer. */
  val qZarrCountInRange: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val mm = s.read.format("mdio").load(path)
      .agg(min(col("weight")), max(col("weight"))).head
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val rMin = graft.operators.MdioStats.countInRange(s, path, "weight", mn, mn)
    require(!rMin.fallback && rMin.scannedChunks < 8,
      s"count-at-min scanned ${rMin.scannedChunks} of 8 chunks (fallback=${rMin.fallback})")
    val rAll = graft.operators.MdioStats.countInRange(s, path, "weight", mn, mx)
    require(!rAll.fallback && rAll.scannedChunks == 0,
      s"whole-domain count must be pure metadata, scanned ${rAll.scannedChunks}")
    import s.implicits._
    Seq((rMin.count, rAll.count)).toDF("n_min", "n_all")
  }

  val qZarrCountInRangeSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j))
    SELECT CAST(COUNT(*) FILTER (WHERE x = (SELECT MIN(x) FROM cells)) AS BIGINT) AS n_min,
           COUNT(*) AS n_all
    FROM cells"""

  /** Exact MEDIAN by quantile-by-pruning on the gate (r14):
    * [[graft.operators.MdioStats.kthSmallest]] brackets the answer with a
    * METADATA-ONLY search over the chunk boundary values (certain rank
    * bounds L/U from per-chunk [min,max,cnt]) and finishes with at most
    * two scan jobs over the bracket's boundary chunks — the median of a
    * 100 TB store without a global sort; it is the one rank pass every
    * rank operator shares, over one group. k = 128 over the fixed 256-cell
    * grid; the oracle is the definitionally-identical ORDER BY … OFFSET
    * form. REQUIRES the pruning path in-query. */
  val qZarrKthSmallest: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.kthSmallest(s, path, "weight", 128L)
    require(!r.fallback, "kth-smallest fell back to a global sort")
    import s.implicits._
    Seq((r.value, 128L)).toDF("v_k", "k")
  }

  val qZarrKthSmallestSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j))
    SELECT x AS v_k, CAST(128 AS BIGINT) AS k
    FROM cells ORDER BY x LIMIT 1 OFFSET 127"""

  /** Per-TILE variance/stddev on the gate (r14): the grouped form of
    * [[qZarrStatsVariance]] — `GROUP BY FLOOR(inline/8), FLOOR(crossline/4)`
    * buckets the grid into its 4×2 chunk tiles and answers VAR_POP/
    * STDDEV_POP/COUNT per tile entirely from the sharded moments sidecar:
    * the amplitude-variability QC heat-map of a survey, one metadata row
    * per tile, zero chunk files opened. REQUIRES the metadata-only plan
    * in-query; compares bit-exact per tile (integer-valued weight grid,
    * same two-point rounding as the oracle identity). */
  val qZarrStddevByTile: Q = (s, d) => {
    val df = s.read.format("mdio").load(zarrGridWeight(s, d))
      .groupBy(floor(col("inline") / 8).as("ti"), floor(col("crossline") / 4).as("tj"))
      .agg(var_pop(col("weight")).as("vp"), stddev_pop(col("weight")).as("sp"),
        count(lit(1)).as("n"))
      .orderBy(col("ti"), col("tj"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    require(plan.contains("MdioAggScan"),
      s"per-tile variance did not answer from metadata:\n${plan.take(900)}")
    df
  }

  val qZarrStddevByTileSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, CAST(COALESCE(weight, 0.0) AS HUGEINT) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    t AS (
      SELECT CAST(FLOOR(i / 8) AS BIGINT) AS ti, CAST(FLOOR(j / 4) AS BIGINT) AS tj,
             COUNT(*) AS cnt, SUM(x) AS s1, SUM(x*x) AS s2
      FROM cells GROUP BY 1, 2)
    SELECT ti, tj,
           CAST(cnt*s2 - s1*s1 AS DOUBLE) / (CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)) AS vp,
           SQRT(CAST(cnt*s2 - s1*s1 AS DOUBLE) / (CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE))) AS sp,
           CAST(cnt AS BIGINT) AS n
    FROM t ORDER BY ti, tj"""

  /** Per-SLAB exact MEDIAN on the gate (r16): the grouped twin of
    * [[qZarrKthSmallest]] and the rank analog of [[qZarrStddevByTile]] —
    * [[graft.operators.MdioStats.medianByLead]] brackets EVERY slab's
    * lower median with the metadata-only rank bounds (per-chunk
    * [min,max,cnt] + whole-shard manifest summaries) and finishes ALL
    * slabs with at most two allowlist scans: the amplitude-median QC
    * heat-map of a survey, one row per depth slab, no global sort and no
    * per-slab jobs. Slabs are the store's 4 lead-chunk bands
    * (`FLOOR(inline/8)`, 64 cells each); the oracle is the
    * definitionally-identical per-group ROW_NUMBER pick at rank
    * (n+1)//2. REQUIRES the pruning path in-query: no fallback, ≤2 scan
    * jobs, and chunk I/O bounded by the store's 8 chunks even when every
    * bracket window straddles (probe + window each read a chunk at most
    * once). */
  val qZarrMedianBySlab: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.medianByLead(s, path, "weight", 8L)
    require(!r.fallback, "median-by-slab fell back to a full scan")
    require(r.jobs <= 2, s"median-by-slab issued ${r.jobs} scan jobs")
    require(r.scannedChunks <= 16,
      s"median-by-slab read ${r.scannedChunks} chunk-visits of a 8-chunk store")
    r.result.orderBy(col("slab"))
  }

  val qZarrMedianBySlabSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    r AS (
      SELECT CAST(FLOOR(i / 8) AS BIGINT) AS slab, x,
             COUNT(*) OVER (PARTITION BY FLOOR(i / 8)) AS n,
             ROW_NUMBER() OVER (PARTITION BY FLOOR(i / 8) ORDER BY x) AS rn
      FROM cells)
    SELECT slab, x AS med, n FROM r WHERE rn = (n + 1) // 2 ORDER BY slab"""

  /** Per-TILE exact MEDIAN on the gate (r16): [[qZarrMedianBySlab]]'s
    * 2-D form on the [[qZarrStddevByTile]] geometry —
    * [[graft.operators.MdioStats.medianByBox]] over the store's 4×2
    * one-chunk tiles (`FLOOR(inline/8), FLOOR(crossline/4)`, 32 cells
    * each). At this granularity each tile's window IS its chunk, so the
    * whole heat-map costs exactly ONE scan job over the 8 chunks (the
    * per-group boundary = the volume only when tiles are single chunks;
    * coarser boxes prune, as the slab row proves) — still no global sort,
    * no per-tile jobs, Long ranks. REQUIRES the pruning path in-query. */
  val qZarrMedianByTile: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.medianByBox(s, path, "weight", Seq(8L, 4L))
    require(!r.fallback, "median-by-tile fell back to a full scan")
    require(r.jobs == 1 && r.scannedChunks == 8,
      s"median-by-tile wants one 8-chunk scan, got ${r.jobs} jobs over ${r.scannedChunks}")
    r.result.select(col("g_inline").as("ti"), col("g_crossline").as("tj"),
      col("med"), col("n")).orderBy(col("ti"), col("tj"))
  }

  val qZarrMedianByTileSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    r AS (
      SELECT CAST(FLOOR(i / 8) AS BIGINT) AS ti, CAST(FLOOR(j / 4) AS BIGINT) AS tj, x,
             COUNT(*) OVER (PARTITION BY FLOOR(i / 8), FLOOR(j / 4)) AS n,
             ROW_NUMBER() OVER (PARTITION BY FLOOR(i / 8), FLOOR(j / 4) ORDER BY x) AS rn
      FROM cells)
    SELECT ti, tj, x AS med, n FROM r WHERE rn = (n + 1) // 2 ORDER BY ti, tj"""

  /** Quantile VECTOR on the gate (r16): the amplitude clip-level readout
    * — p01/p50/p99 in ONE boundary-window pass.
    * [[graft.operators.MdioStats.quantilesOf]] brackets every rank from
    * the same metadata items, recounts ALL bracket edges in one probe
    * scan (a conditional-count column per edge), and answers every rank
    * from ONE union-window scan's cached per-(rank, value) counts, the
    * rank-holding buckets located on the driver — three exact
    * quantiles for at most two chunk-scan jobs, where three kthSmallest
    * calls would pay the bracket I/O thrice and a sort would shuffle the
    * corpus. The oracle is the definitionally-identical ROW_NUMBER pick
    * at each ⌈p·n⌉. REQUIRES the pruning path in-query. */
  val qZarrQuantiles: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val ps = Seq(0.01, 0.5, 0.99)
    val r = graft.operators.MdioStats.quantilesOf(s, path, "weight", ps)
    require(!r.fallback, "quantile vector fell back to a full scan")
    require(r.jobs <= 2, s"quantile vector issued ${r.jobs} chunk-scan jobs")
    require(r.scannedChunks <= 16,
      s"quantile vector read ${r.scannedChunks} chunk-visits of a 8-chunk store")
    import s.implicits._
    ps.zip(r.ks).zip(r.values).map { case ((p, k), v) => (p, k, v) }
      .toDF("p", "k", "v_q").orderBy(col("p"))
  }

  val qZarrQuantilesSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    o AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn, COUNT(*) OVER () AS n
          FROM cells)
    SELECT CAST(0.01 AS DOUBLE) AS p, CAST(CEIL(0.01 * n) AS BIGINT) AS k, x AS v_q
    FROM o WHERE rn = CEIL(0.01 * n)
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE), CAST(CEIL(0.5 * n) AS BIGINT), x
    FROM o WHERE rn = CEIL(0.5 * n)
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE), CAST(CEIL(0.99 * n) AS BIGINT), x
    FROM o WHERE rn = CEIL(0.99 * n)
    ORDER BY p"""

  /** GROUPED quantile vector on the gate (r17): the per-slab p25/p75 clip
    * heat-map — [[qZarrQuantiles]]' vector on [[qZarrMedianBySlab]]'s slab
    * geometry, [[graft.operators.MdioStats.quantilesByBox]]. Every
    * (slab, p) rank brackets from the SAME hierarchical metadata items,
    * all lower edges recount in at most one probe scan, and one
    * union-window scan answers every rank through the bucketed pick,
    * buckets located on the driver (no window partition ever sorts more than ~1/1024 of a slab's
    * distinct values — the r17 fix for the r16 single-partition grouped
    * sort). Oracle: the definitionally-identical per-slab ROW_NUMBER pick
    * at each ⌈p·n⌉. REQUIRES the pruning path and ≤2 scan jobs in-query. */
  val qZarrQuantilesBySlab: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.quantilesByBox(
      s, path, "weight", Seq(0.25, 0.75), Seq(8L, 8L))
    require(!r.fallback, "quantiles-by-slab fell back to a full scan")
    require(r.jobs <= 2, s"quantiles-by-slab issued ${r.jobs} scan jobs")
    require(r.scannedChunks <= 16,
      s"quantiles-by-slab read ${r.scannedChunks} chunk-visits of a 8-chunk store")
    r.result.select(col("g_inline").as("slab"), col("p"), col("q"), col("n"))
      .orderBy(col("slab"), col("p"))
  }

  val qZarrQuantilesBySlabSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    r AS (
      SELECT CAST(FLOOR(i / 8) AS BIGINT) AS slab, x,
             COUNT(*) OVER (PARTITION BY FLOOR(i / 8)) AS n,
             ROW_NUMBER() OVER (PARTITION BY FLOOR(i / 8) ORDER BY x) AS rn
      FROM cells)
    SELECT slab, CAST(0.25 AS DOUBLE) AS p, x AS q, n FROM r WHERE rn = CEIL(0.25 * n)
    UNION ALL
    SELECT slab, CAST(0.75 AS DOUBLE), x, n FROM r WHERE rn = CEIL(0.75 * n)
    ORDER BY slab, p"""

  /** MEDIAN as a PLAIN DataFrame aggregate on the gate (r17): a user who
    * writes `median(weight)` (or a WITHIN-GROUP percentile) gets the rank
    * family's quantile-by-pruning automatically — the aggregate pushes
    * COMPLETELY into the scan (`vpctc`/`vpctd` ops on `MdioAggScan`,
    * answered at execution by [[graft.operators.MdioStats.boxRanks]] over
    * one group — the one rank pass: O(manifest) metadata +
    * boundary-window scans),
    * so the optimized plan carries NO Spark-side Aggregate and the corpus
    * never shuffles into a Percentile buffer. The CONT interpolation is
    * bit-identical to Spark's PercentileBase (pinned in
    * MdioPctPushdownSpec, with NaN/filter/group/DESC decline arms).
    * Oracle: the per-rank ROW_NUMBER picks (n = 256: median averages
    * ranks 128/129, discrete p90 is rank ⌈0.9·256⌉ = 231). REQUIRES the
    * complete pushdown in-query. */
  val qZarrMedianPushdown: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val df = s.read.format("mdio").load(path).agg(
      median(col("weight")).as("med"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY weight)").as("p90"))
    val plan = df.queryExecution.optimizedPlan.toString
    require(plan.contains("vpct") && !plan.contains("Aggregate"),
      s"median/percentile did not push down:\n${plan.take(500)}")
    df
  }

  val qZarrMedianPushdownSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    o AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM cells)
    SELECT
      (SELECT SUM(CASE WHEN rn = 128 THEN 0.5 * x WHEN rn = 129 THEN 0.5 * x END)
       FROM o) AS med,
      (SELECT x FROM o WHERE rn = 231) AS p90"""

  /** SLICED median/percentile on the gate (r18): the depth-window QC
    * readout — `median(weight)` + a discrete p90 under a CHUNK-ALIGNED
    * dim window (`inline ∈ [8, 24)`, chunks of 8) — pushes COMPLETELY:
    * the absorbed dim range routes the ranks into the same bracket
    * machinery restricted to the BOX
    * ([[graft.operators.MdioStats.boxRanks]] over in-box chunks only, one
    * group; disjoint shards never read; NaN-freeness proven over the box
    * alone), mixed with the closed-form COUNT. The optimized plan carries
    * NO Spark-side Aggregate — a misaligned window would decline to
    * Spark's distributed Percentile instead (pinned in
    * MdioPctPushdownSpec). Oracle: the per-rank ROW_NUMBER picks over the
    * sliced cells (n = 128: median averages ranks 64/65, discrete p90 is
    * rank ⌈0.9·128⌉ = 116). REQUIRES the complete pushdown in-query. */
  val qZarrMedianSliced: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val df = s.read.format("mdio").load(path)
      .filter(col("inline") >= 8 && col("inline") < 24)
      .agg(median(col("weight")).as("med"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY weight)").as("p90"),
        count(lit(1)).as("n"))
    val plan = df.queryExecution.optimizedPlan.toString
    require(plan.contains("vpct") && !plan.contains("Aggregate"),
      s"sliced median/percentile did not push down:\n${plan.take(500)}")
    df
  }

  val qZarrMedianSlicedSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)
      WHERE i >= 8 AND i < 24),
    o AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM cells)
    SELECT
      (SELECT SUM(CASE WHEN rn = 64 THEN 0.5 * x WHEN rn = 65 THEN 0.5 * x END)
       FROM o) AS med,
      (SELECT x FROM o WHERE rn = 116) AS p90,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n"""

  /** VALUE-based sel window median on the gate (r19): the window stated
    * in coordinate VALUES, the way a seismic user asks — `median(image)
    * WHERE inline-coordinate BETWEEN 1080 AND 1230` over [[zarrGrid]],
    * whose inline coordinate is 1000 + 10·i.
    * [[graft.operators.MdioStats.selWindow]] resolves the value window
    * to the index range [8, 24) in ONE distributed pass over the 1-D
    * coordinate (stop-inclusive P8 sel semantics, contiguity required,
    * nothing collected), and the resolved range rides the r18 sliced
    * pushdown untouched: the median + discrete p90 + count aggregate
    * pushes COMPLETELY (vpct ops, no Spark-side Aggregate), reading only
    * the box's chunks. A shuffled coordinate declines loudly instead
    * (pinned in MdioWindowedQcSpec). Oracle: the same value window
    * recomputed from the coordinate mapping (1000 + 10·i ∈ [1080, 1230]
    * ⇔ i ∈ [8, 23]); n = 128, median averages ranks 64/65, discrete p90
    * is rank ⌈0.9·128⌉ = 116. REQUIRES the exact resolution AND the
    * complete pushdown in-query. */
  val qZarrMedianSelWindow: Q = (s, d) => {
    val path = zarrGrid(s, d)
    val win = graft.operators.MdioStats.selWindow(s, path,
      Map("inline" -> (1080.0, 1230.0)))
    require(win == Map("inline" -> (8L, 24L)),
      s"sel window [1080, 1230] resolved to $win, not inline -> [8, 24)")
    val (lo, hi) = win("inline")
    val df = s.read.format("mdio").load(path)
      .filter(col("inline") >= lo && col("inline") < hi)
      .agg(median(col("image")).as("med"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY image)").as("p90"),
        count(lit(1)).as("n"))
    val plan = df.queryExecution.optimizedPlan.toString
    require(plan.contains("vpct") && !plan.contains("Aggregate"),
      s"sel-window median/percentile did not push down:\n${plan.take(500)}")
    df
  }

  val qZarrMedianSelWindowSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(image, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
      WHERE 1000 + 10 * i BETWEEN 1080 AND 1230),
    o AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM cells)
    SELECT
      (SELECT SUM(CASE WHEN rn = 64 THEN 0.5 * x WHEN rn = 65 THEN 0.5 * x END)
       FROM o) AS med,
      (SELECT x FROM o WHERE rn = 116) AS p90,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n"""

  /** OR-of-ranges (multi-window) quantiles on the gate (r19): the union
    * of two disjoint inline slabs — SET1's slice-concat algebra
    * (reference mdio/variable.h:1357-1396) applied to the QC rank
    * machinery: p50/p90 of `image WHERE inline ∈ [0,8) ∪ [16,24)` over
    * [[zarrGrid]] answers in ONE manifest walk + ONE probe/window pass
    * over the union's own chunks (disjoint and between-slab shards are
    * never read). REQUIRES the pruned path (no fallback), ≤ 2 scan jobs
    * and ≤ 8 scanned chunks in-query; overlapping unions decline loudly
    * and misaligned ones stay exact through the sliced-union scan
    * (pinned in MdioWindowedQcSpec). Oracle: the same discrete ranks
    * (⌈p·128⌉ = 64, 116) over the same 128 union cells. */
  val qZarrPctMultiWindow: Q = (s, d) => {
    val path = zarrGrid(s, d)
    val q = graft.operators.MdioStats.quantilesOf(s, path, "image", Seq(0.5, 0.9),
      windows = Seq(Map("inline" -> (0L, 8L)), Map("inline" -> (16L, 24L))))
    require(!q.fallback, "multi-window quantiles fell back")
    require(q.jobs <= 2 && q.scannedChunks <= 8,
      s"multi-window rank pass read too much: jobs=${q.jobs} chunks=${q.scannedChunks}")
    require(q.n == 128 && q.ks == Seq(64L, 116L), s"bad union rank state: $q")
    import s.implicits._
    Seq((q.values(0), q.values(1), q.n)).toDF("p50", "p90", "n")
  }

  val qZarrPctMultiWindowSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(image, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
      WHERE (i BETWEEN 0 AND 7) OR (i BETWEEN 16 AND 23)),
    o AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM cells)
    SELECT
      (SELECT x FROM o WHERE rn = 64) AS p50,
      (SELECT x FROM o WHERE rn = 116) AS p90,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n"""

  /** GROUPED percentiles over a CROPPED survey on the gate (r18): the
    * per-slab clip heat-map of a dim window — `GROUP BY FLOOR(inline/16)`
    * with `median(weight)` + a discrete p90 under `inline >= 8` — pushes
    * COMPLETELY: group ids stay ABSOLUTE, the slice-CLIPPED first slab
    * (inlines 8–15 of slab 0) ranks exactly its surviving cells, and the
    * whole slab × rank matrix still answers in one batched
    * [[graft.operators.MdioStats.boxRanks]] pass restricted to the box
    * (disjoint shards never read). Oracle: per-slab ROW_NUMBER picks over
    * the sliced cells (slab 0: n = 64, median ranks 32/33, p90 rank 58;
    * slab 1: n = 128, ranks 64/65 and 116). REQUIRES the complete
    * pushdown in-query. */
  val qZarrPctSlicedSlab: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val df = s.read.format("mdio").load(path)
      .filter(col("inline") >= 8)
      .groupBy(floor(col("inline") / 16).as("slab"))
      .agg(median(col("weight")).as("med"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY weight)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("slab"))
    val plan = df.queryExecution.optimizedPlan.toString
    require(plan.contains("vpct") && !plan.contains("Aggregate"),
      s"sliced grouped median/percentile did not push down:\n${plan.take(500)}")
    df
  }

  val qZarrPctSlicedSlabSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)
      WHERE i >= 8),
    r AS (
      SELECT CAST(FLOOR(i / 16) AS BIGINT) AS slab, x,
             COUNT(*) OVER (PARTITION BY FLOOR(i / 16)) AS n,
             ROW_NUMBER() OVER (PARTITION BY FLOOR(i / 16) ORDER BY x) AS rn
      FROM cells)
    SELECT slab,
           SUM(CASE WHEN rn * 2 = n THEN 0.5 * x
                    WHEN rn * 2 = n + 2 THEN 0.5 * x END) AS med,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN x END) AS p90,
           CAST(MAX(n) AS BIGINT) AS n
    FROM r GROUP BY slab ORDER BY slab"""

  /** GROUPED median/percentile as PLAIN SQL on the gate (r17): the
    * per-slab heat-map a user writes as `GROUP BY FLOOR(inline/8)` with
    * `median(weight)` + a discrete p90 — the whole Aggregate pushes into
    * the scan (grouped vpct ops: metadata slab rows merged with ONE
    * batched [[graft.operators.MdioStats.boxRanks]] pass answering every
    * slab's interpolation ranks together — one bracket walk, one probe,
    * one union-window scan for the slab × rank matrix, through the
    * bucketed pick), mixed freely with metadata-answered aggregates
    * (`max`, `count`). Oracle: per-slab ROW_NUMBER picks (n = 64 per
    * slab: median averages ranks 32/33, discrete p90 is rank
    * ⌈0.9·64⌉ = 58). REQUIRES the complete pushdown in-query. */
  val qZarrPctBySlab: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val df = s.read.format("mdio").load(path)
      .groupBy(floor(col("inline") / 8).as("slab"))
      .agg(median(col("weight")).as("med"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY weight)").as("p90"),
        max(col("weight")).as("mx"),
        count(lit(1)).as("n"))
      .orderBy(col("slab"))
    val plan = df.queryExecution.optimizedPlan.toString
    require(plan.contains("vpct") && !plan.contains("Aggregate"),
      s"grouped median/percentile did not push down:\n${plan.take(500)}")
    df
  }

  val qZarrPctBySlabSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    r AS (
      SELECT CAST(FLOOR(i / 8) AS BIGINT) AS slab, x,
             ROW_NUMBER() OVER (PARTITION BY FLOOR(i / 8) ORDER BY x) AS rn
      FROM cells)
    SELECT slab,
           SUM(CASE WHEN rn = 32 THEN 0.5 * x WHEN rn = 33 THEN 0.5 * x END) AS med,
           MAX(CASE WHEN rn = 58 THEN x END) AS p90,
           MAX(x) AS mx,
           COUNT(*) AS n
    FROM r GROUP BY slab ORDER BY slab"""

  /** Extrema LOCATION on the gate (r16): WHERE the peak and trough
    * amplitudes live — the volume-statistics argmax/argmin readout
    * (reference examples/seismic_reader/stats.hh:31-67 full-scans it;
    * [[graft.operators.MdioStats.extremaLocation]] reads ONLY the chunks
    * whose sidecar bounds EQUAL a global extremum, everything else
    * provably cannot win). First occurrence in dim order, so ties are
    * deterministic and the oracle is the ORDER BY dims LIMIT 1 pick over
    * the matching cells. REQUIRES the pruning path in-query. */
  val qZarrArgmaxLocation: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.extremaLocation(s, path, "weight")
    require(!r.fallback, "extrema location fell back to a full scan")
    require(r.scannedChunks >= 1 && r.scannedChunks <= 8,
      s"extrema location scanned ${r.scannedChunks} of the 8-chunk store")
    r.result
  }

  val qZarrArgmaxLocationSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    mn AS (SELECT x, i, j FROM cells WHERE x = (SELECT MIN(x) FROM cells)
           ORDER BY i, j LIMIT 1),
    mx AS (SELECT x, i, j FROM cells WHERE x = (SELECT MAX(x) FROM cells)
           ORDER BY i, j LIMIT 1)
    SELECT mn.x AS v_min, mn.i AS min_inline, mn.j AS min_crossline,
           mx.x AS v_max, mx.i AS max_inline, mx.j AS max_crossline
    FROM mn CROSS JOIN mx"""

  /** WINDOWED extrema location on the gate (r18): WHERE do the peak and
    * trough of a CROP live — [[qZarrArgmaxLocation]] restricted to a
    * chunk-aligned dim window (`inline ∈ [8, 24)`): candidacy is decided
    * by the box's own chunk bounds (the global extrema sit outside the
    * window and must not win), only bounds-winning IN-WINDOW chunks are
    * read, and the answer is the window's first-occurrence extrema.
    * REQUIRES the pruning path and an in-window candidate scan. */
  val qZarrArgmaxWindow: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.extremaLocation(s, path, "weight",
      ranges = Map("inline" -> (8L, 24L)))
    require(!r.fallback, "windowed extrema location fell back to a full scan")
    require(r.scannedChunks >= 1 && r.scannedChunks <= 4,
      s"windowed extrema scanned ${r.scannedChunks} of the 4 in-window chunks")
    r.result
  }

  val qZarrArgmaxWindowSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)
      WHERE i >= 8 AND i < 24),
    mn AS (SELECT x, i, j FROM cells WHERE x = (SELECT MIN(x) FROM cells)
           ORDER BY i, j LIMIT 1),
    mx AS (SELECT x, i, j FROM cells WHERE x = (SELECT MAX(x) FROM cells)
           ORDER BY i, j LIMIT 1)
    SELECT mn.x AS v_min, mn.i AS min_inline, mn.j AS min_crossline,
           mx.x AS v_max, mx.i AS max_inline, mx.j AS max_crossline
    FROM mn CROSS JOIN mx"""

  /** Per-slab extrema LOCATIONS on the gate (r18): WHERE each slab's peak
    * and trough live — [[graft.operators.MdioStats.extremaByBox]], the
    * grouped twin of [[qZarrArgmaxLocation]] on 8-inline slabs: every
    * slab's MIN/MAX come exactly from its chunks' sidecar bounds and the
    * one location scan reads ONLY the chunks whose bounds equal their own
    * slab's extremum (per-slab extrema ride a broadcast join; ties
    * resolve to the smallest dim tuple within the slab). Oracle: per-slab
    * window extrema + the first-occurrence (i, j) picks. REQUIRES the
    * pruning path and a bounded candidate scan in-query. */
  val qZarrArgmaxBySlab: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val r = graft.operators.MdioStats.extremaByBox(s, path, "weight", Seq(8L, 8L))
    require(!r.fallback, "per-slab extrema fell back to a full scan")
    require(r.scannedChunks >= 1 && r.scannedChunks <= 8,
      s"per-slab extrema scanned ${r.scannedChunks} of the 8-chunk store")
    // crossline groups span the whole extent: a single all-zero ordinal
    r.result.drop("g_crossline").orderBy(col("g_inline"))
  }

  val qZarrArgmaxBySlabSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    r AS (
      SELECT CAST(FLOOR(i / 8) AS BIGINT) AS g_inline, i, j, x,
             MIN(x) OVER (PARTITION BY FLOOR(i / 8)) AS vmn,
             MAX(x) OVER (PARTITION BY FLOOR(i / 8)) AS vmx,
             COUNT(*) OVER (PARTITION BY FLOOR(i / 8)) AS n
      FROM cells)
    SELECT g_inline,
           MIN(vmn) AS v_min,
           CAST(FLOOR(MIN(CASE WHEN x = vmn THEN i * 8 + j END) / 8) AS BIGINT) AS min_inline,
           CAST(MIN(CASE WHEN x = vmn THEN i * 8 + j END) % 8 AS BIGINT) AS min_crossline,
           MAX(vmx) AS v_max,
           CAST(FLOOR(MIN(CASE WHEN x = vmx THEN i * 8 + j END) / 8) AS BIGINT) AS max_inline,
           CAST(MIN(CASE WHEN x = vmx THEN i * 8 + j END) % 8 AS BIGINT) AS max_crossline,
           CAST(MAX(n) AS BIGINT) AS n
    FROM r GROUP BY g_inline ORDER BY g_inline"""

  /** Boundary-only exact HISTOGRAM on the gate (r16): the reference's
    * CenteredBin shape (mdio/stats.h:109-161, outliers clipped into the
    * edge bins) computed by
    * [[graft.operators.MdioStats.histogramMeta]] — chunks (and whole
    * manifest shards) whose stats interval fits one bin contribute their
    * finite-cell count from metadata; only chunks CROSSING a bin edge
    * scan, in one `chunkKeys` job. Bins here are the store's value range
    * split into 8 anchored at the metadata MIN (so the row is exact at
    * every SF); the oracle recomputes the identical clip rule. REQUIRES
    * the pruning path in-query (no fallback, ≤8 straddlers). */
  val qZarrHistogramMeta: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val mm = s.read.format("mdio").load(path)
      .agg(min(col("weight")), max(col("weight"))).head
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val width = math.max((mx - mn) / 8.0, 1.0)
    val r = graft.operators.MdioStats.histogramMeta(s, path, "weight", mn, width, 8)
    require(!r.fallback, "histogram fell back to a full scan")
    require(r.scannedChunks <= 8,
      s"histogram scanned ${r.scannedChunks} of the 8-chunk store")
    // bins are a pure function of (mn, width): embed them so the oracle
    // can recompute the same clip rule on the same constants
    r.result.withColumn("lo", lit(mn)).withColumn("width", lit(width))
      .orderBy(col("bin"))
  }

  val qZarrHistogramMetaSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    cfg AS (
      SELECT MIN(x) AS lo, GREATEST((MAX(x) - MIN(x)) / 8.0, 1.0) AS width
      FROM cells),
    binned AS (
      SELECT CAST(LEAST(GREATEST(FLOOR((x - lo) / width), 0), 7) AS BIGINT) AS bin,
             lo, width
      FROM cells CROSS JOIN cfg)
    SELECT bin, lo + (bin + 0.5) * width AS center, COUNT(*) AS cnt, lo, width
    FROM binned GROUP BY bin, lo, width ORDER BY bin"""

  /** Threshold-occupancy heat map on the gate (r16): per-slab exact
    * COUNT of cells in a value range —
    * [[graft.operators.MdioStats.countInRangeByBox]], the grouped twin of
    * [[qZarrCountInRange]] on the [[qZarrMedianBySlab]] slab geometry
    * (the net-pay / anomaly-fraction QC readout). Chunks fully
    * inside/outside the range decide from metadata per slab (whole
    * shards from the manifest), all slabs resolve their straddlers in
    * ONE `chunkKeys` scan, and `n` per slab is pure metadata. The range
    * is the lower half of the store's own [min, max] (SF-stable); zero
    * slabs still report — the heat-map's zeros are signal. REQUIRES the
    * pruning path in-query. */
  val qZarrRangeBySlab: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val mm = s.read.format("mdio").load(path)
      .agg(min(col("weight")), max(col("weight"))).head
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val mid = (mn + mx) / 2
    val r = graft.operators.MdioStats.countInRangeByBox(
      s, path, "weight", mn, mid, Seq(8L, 8L))
    require(!r.fallback, "range-by-slab fell back to a full scan")
    require(r.scannedChunks <= 8,
      s"range-by-slab scanned ${r.scannedChunks} of the 8-chunk store")
    r.result.select(col("g_inline").as("slab"), col("cnt"), col("n"))
      .orderBy(col("slab"))
  }

  val qZarrRangeBySlabSql: String = """
    WITH wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(weight, 0.0) AS x
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN wgt USING (i, j)),
    cfg AS (SELECT MIN(x) AS lo, (MIN(x) + MAX(x)) / 2 AS hi FROM cells)
    SELECT CAST(FLOOR(i / 8) AS BIGINT) AS slab,
           CAST(COUNT(*) FILTER (WHERE x >= lo AND x <= hi) AS BIGINT) AS cnt,
           COUNT(*) AS n
    FROM cells CROSS JOIN cfg GROUP BY 1 ORDER BY slab"""

  /** Store AUDIT on the gate (r16): [[graft.operators.MdioFsck]] — the
    * fsck of an MDIO store (metadata sanity, shard-manifest integrity
    * incl. the summary fields the rank-QC family rides on, a DISTRIBUTED
    * per-chunk stats recompute joined against the sidecar, and a chunk
    * inventory sweep). A clean store must audit clean with exact totals:
    * zero findings, all 8 chunks audited, all 256 cells accounted. The
    * corruption-detection arms are pinned in MdioFsckSpec (a tampered
    * sidecar, a beyond-grid chunk file, an orphan fragment, a stale
    * generation each produce their finding). */
  val qMdioFsck: Q = (s, d) => {
    val path = zarrGridWeight(s, d)
    val a = graft.operators.MdioFsck.check(s, path, "weight")
    val sevs = a.findings.agg(
      count(when(col("severity") === "error", 1)).as("errors"),
      count(when(col("severity") === "warning", 1)).as("warnings")).head
    import s.implicits._
    Seq((sevs.getLong(0), sevs.getLong(1), a.chunksAudited, a.cells))
      .toDF("errors", "warnings", "chunks_audited", "cells")
  }

  val qMdioFsckSql: String = """
    SELECT CAST(0 AS BIGINT) AS errors, CAST(0 AS BIGINT) AS warnings,
           CAST(8 AS BIGINT) AS chunks_audited, COUNT(*) AS cells
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j)"""

  /** Store REPAIR on the gate (r17): check-and-fix —
    * [[graft.operators.MdioFsck.repair]] over an injected sidecar
    * corruption (one tampered chunk bound, written at the current
    * generation). The repair recomputes ONLY the implicated chunk through
    * the writers' exact stat rules, republishes it by whole-shard
    * replacement, and the re-audit must come back CLEAN with the exact
    * totals — the query REQUIRES the repaired entries to equal the
    * writer's originals bit-for-bit, so the row is idempotent across
    * invocations and the shared gate store stays pristine for every
    * other row. The corruption-class arms (torn shard, corrupted key,
    * beyond-grid junk, stale no-op) are pinned in MdioFsckSpec. */
  val qMdioFsckRepair: Q = (s, d) => {
    import graft.sources.MdioChunkStats
    val path = zarrGridWeight(s, d)
    val varDir = graft.zarr.ZarrMeta.path(path).resolve("weight")
    val good = MdioChunkStats.current(varDir).get
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      good.updated("0.0", good("0.0").map(b => b.copy(max = b.max + 1000))),
      span = 2)
    val r = graft.operators.MdioFsck.repair(s, path, "weight")
    require(r.repairedChunks == 1, s"repaired ${r.repairedChunks} chunks, want 1")
    require(r.repaired == Seq("0.0"), // the rewritten keys are reviewable
      s"repair rewrote ${r.repaired}, want the tampered chunk 0.0 only")
    require(MdioChunkStats.current(varDir).get == good,
      "repair drifted from the writer's published entries")
    val errs = r.findings.agg(
      count(when(col("severity") === "error", 1))).head.getLong(0)
    import s.implicits._
    Seq((r.repairedChunks, errs, r.chunksAudited, r.cells))
      .toDF("repaired", "errors_after", "chunks_audited", "cells")
  }

  val qMdioFsckRepairSql: String = """
    SELECT CAST(1 AS BIGINT) AS repaired, CAST(0 AS BIGINT) AS errors_after,
           CAST(8 AS BIGINT) AS chunks_audited, COUNT(*) AS cells
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j)"""

  /** TRAILING-DIM grouped-key storage-partitioned join on the gate (r14):
    * the fusion fold under `groupFactor=1,2` — the PER-DIM form for stores
    * whose chunk count lives in trailing dims (e.g. 4×2048×2048 chunks,
    * where leading-only coarsening cannot get under the partition
    * ceiling). Each scan groups pairs of crossline chunk ordinals, keyed
    * by `chunk_8(inline), chunk_8(crossline)`: 4 lead chunks × 1 crossline
    * group = 4 partitions of a 1×2 member box each, and the join still
    * plans zero exchanges. The query REQUIRES the per-dim factors, the
    * grouped partition count, AND the exchange-free plan. */
  val qZarrSpjTrailing: Q = (s, d) => {
    val a = zarrGrid(s, d)
    val b = zarrGridWeight(s, d)
    s.conf.set("spark.sql.catalog.graft_spj", "graft.sources.MdioCatalog")
    withConfs(s)(
      "spark.graft.scan.keyedPartitions" -> "true",
      "spark.graft.scan.keyedPartitions.groupFactor" -> "1,2",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val parts = graft.sources.MdioTable(a, None)
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toBatch.planInputPartitions()
      require(parts.length == 4 && parts.forall {
        case r: graft.sources.MdioChunkRun => r.key != null && r.factors.toSeq == Seq(1L, 2L)
        case _ => false
      }, s"trailing-grouped keyed scan regressed: ${parts.length} partitions of " +
          parts.map(_.getClass.getSimpleName).distinct.mkString(","))
      val joined = s.table(s"graft_spj.`$a`")
        .join(s.table(s"graft_spj.`$b`"), Seq("inline", "crossline"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"trailing-grouped storage-partitioned join regressed to a shuffle:\n${plan.take(1200)}")
      val r = joined
        .agg(dsum(col("image") * col("weight")).as("wsum"), count(lit(1)).as("n"))
        .head
      import s.implicits._
      Seq((r.getDouble(0), r.getLong(1))).toDF("wsum", "n")
    }
  }

  /** Per-TILE statsV1 on the gate: the 2-D form of [[qZarrStatsBySlab]] —
    * `GROUP BY FLOOR(inline/8), FLOOR(crossline/4)` buckets the grid into
    * its 4×2 chunk tiles and answers MIN/MAX/SUM/COUNT per tile entirely
    * from the sharded stats sidecar (one metadata row per tile, zero
    * chunk files — the QC heat-map a survey review actually renders). */
  val qZarrStatsByTile: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .groupBy(floor(col("inline") / 8).as("ti"), floor(col("crossline") / 4).as("tj"))
      .agg(min(col("image")).as("mn"), max(col("image")).as("mx"),
        sum(col("image")).as("total"), count(lit(1)).as("n"))
      .orderBy(col("ti"), col("tj"))

  val qZarrStatsByTileSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT CAST(FLOOR(i / 8) AS BIGINT) AS ti, CAST(FLOOR(j / 4) AS BIGINT) AS tj,
           MIN(image) AS mn, MAX(image) AS mx,
           CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM cells GROUP BY 1, 2 ORDER BY ti, tj"""

  /** Third grid fixture: the per-cell count on a COARSER chunking ([16,8]
    * vs [[zarrGrid]]'s [8,4]) for the compatible-transform SPJ row. */
  def zarrGridWeightCoarse(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#weightc", {
      val path = s"/tmp/graft_zarrwc_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "lineitem_weight_c", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 32}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 8}]},
          |    {"name": "weight", "dataType": "float64",
          |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
          |     "compressor": {"name": "zstd"},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [16, 8]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(path)
      graft.sources.MdioWriter.create(spec, path)
      val agg = lineitem(s, d)
        .groupBy((col("l_orderkey") % 32).as("inline"),
                 (col("l_linenumber").cast("long") % 8).as("crossline"))
        .agg(count(lit(1)).cast("double").as("weight"))
      val full = s.range(32).select(col("id").as("inline"))
        .crossJoin(s.range(8).select(col("id").as("crossline")))
      val cells = full.join(agg, Seq("inline", "crossline"), "left")
        .select(col("inline"), col("crossline"),
          coalesce(col("weight"), lit(0.0)).as("weight"))
      graft.sources.MdioWriter.writeVariable(s, cells, path, "weight")
      path
    })

  /** COMPATIBLE-GRID storage-partitioned join on the gate: same fusion
    * fold as [[qZarrSpjFusion]] but the weight store is chunked [16,8]
    * against the image store's [8,4] — one grid a multiple of the other,
    * so [[graft.sources.SizedChunkBound]]'s ReducibleFunction maps the
    * finer ordinals onto the coarser grid and the join STILL plans zero
    * exchanges (the rechunked-attribute fusion: stores on one survey grid
    * rarely share a chunking in practice). Same DuckDB oracle shape. */
  val qZarrSpjCompat: Q = (s, d) => {
    val a = zarrGrid(s, d)
    val b = zarrGridWeightCoarse(s, d)
    s.conf.set("spark.sql.catalog.graft_spj", "graft.sources.MdioCatalog")
    withConfs(s)(
      "spark.graft.scan.keyedPartitions" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = s.table(s"graft_spj.`$a`")
        .join(s.table(s"graft_spj.`$b`"), Seq("inline", "crossline"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"compatible-grid storage-partitioned join regressed to a shuffle:\n${plan.take(1200)}")
      val r = joined
        .agg(dsum(col("image") * col("weight")).as("wsum"), count(lit(1)).as("n"))
        .head
      import s.implicits._
      Seq((r.getDouble(0), r.getLong(1))).toDF("wsum", "n")
    }
  }

  val qZarrSpjFusionSql: String = """
    WITH img AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    wgt AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(COUNT(*) AS DOUBLE) AS weight
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(img.image, 0.0) AS image, COALESCE(wgt.weight, 0.0) AS weight
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j)
        LEFT JOIN img USING (i, j) LEFT JOIN wgt USING (i, j))
    SELECT CAST(SUM(CAST(image * weight AS DECIMAL(27,6))) AS DOUBLE) AS wsum,
           COUNT(*) AS n
    FROM cells"""

  /** Value-ordered TOP-N on the gate: `ORDER BY image DESC LIMIT 10` with
    * dim tie-breaks. The stats sidecar proves which chunks can reach the
    * k-th largest value, so the scan plans only those (partial pushdown;
    * Spark re-sorts the surviving superset) — 'top-k amplitudes of a
    * 100 TB store' without a full scan (plan-pinned in
    * MdioValueStatsSpec). */
  val qZarrTopkValue: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .orderBy(col("image").desc, col("inline"), col("crossline"))
      .limit(10)

  val qZarrTopkValueSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2)
    SELECT i AS inline, j AS crossline, COALESCE(image, 0.0) AS image
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
    ORDER BY image DESC, inline, crossline LIMIT 10"""

  /** Metadata-only SUM/COUNT over the store (reference statsV1 moments,
    * mdio/stats.h:229-335): the per-chunk EXACT sum moments in the stats
    * sidecar make `SELECT SUM(image), COUNT(image), SUM(inline)` a
    * complete aggregate pushdown — one metadata row, zero chunk files
    * opened. SUM(image) is the exact real-number sum of the cells
    * (Shewchuk partials at write time) rounded once to double — the
    * "total amplitude of a 100 TB store" with a reproducibility guarantee
    * a parallel scan cannot give; SUM(inline) is the closed-form Σ over
    * the dim index; COUNT(col) is the dense-grid cell count (plan-pinned
    * in MdioValueStatsSpec). */
  val qZarrStatsMoments: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .agg(sum(col("image")).as("total"), count(col("image")).as("n"),
        sum(col("inline")).as("sum_inline"))

  val qZarrStatsMomentsSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total,
           COUNT(image) AS n,
           CAST(SUM(i) AS BIGINT) AS sum_inline
    FROM cells"""

  /** The full statsV1 summary (count/min/max/sum/sumSquares,
    * mdio/stats.h:229-335) computed WITHOUT a scan — driver-side from the
    * stats sidecar alone ([[graft.operators.MdioStats.summaryFromSidecar]]):
    * the reference attaches these numbers to a variable's metadata so
    * readers never recompute them; here the sidecar's exact per-chunk
    * moments reconstruct them in O(metadata) for any chunk-aligned store
    * state, certified against DuckDB recomputing from the raw table. */
  val qZarrStatsV1Meta: Q = (s, d) =>
    graft.operators.MdioStats.summaryFromSidecar(s, zarrGrid(s, d), "image")

  val qZarrStatsV1MetaSql: String = s"""
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j))
    SELECT COUNT(image) AS "count", MIN(image) AS "min", MAX(image) AS "max",
           ${sqlDsum("image")} AS "sum", ${sqlDsumsq("image")} AS "sumSquares"
    FROM cells"""

  val qZarrRoundtripSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2)
    SELECT CAST(SUM(CAST(COALESCE(image, 0.0) AS DECIMAL(27,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)"""

  /** The full reference read path against real storage on the gate:
    * MdioDataset.open → value-based selRange on the inline dimension
    * coordinate (values 1080..1230 ↦ indices 8..23, stop-inclusive) →
    * isel → aggregate. Same cells as zarr_pushdown, reached through
    * coordinate VALUES instead of indices. */
  val qMdioOpenSel: Q = (s, d) => {
    val ds = graft.operators.MdioDataset.open(s, zarrGrid(s, d))
    ds.selRange("inline", lit(1080L), lit(1230L))
      .isel("crossline", 0L, 4L)
      .data
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))
  }

  /** Chunk-pruned read: dim-range filters pushed into the connector select
    * 4 of 8 chunks (inline chunks 1-2 × crossline chunk 0). */
  val qZarrPushdown: Q = (s, d) =>
    s.read.format("mdio").load(zarrGrid(s, d))
      .filter(col("inline") >= 8 && col("inline") < 24 && col("crossline") < 4)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  val qZarrPushdownSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2)
    SELECT CAST(SUM(CAST(COALESCE(image, 0.0) AS DECIMAL(27,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
    WHERE i >= 8 AND i < 24 AND j < 4"""

  /** Rechunked twin of [[zarrGrid]] (built once per JVM per sfDir): the
    * 8×4-chunked store migrated to crossline-optimized 4×8 chunks via
    * [[graft.sources.MdioWriter.rechunk]] — full crossline extent per
    * chunk, the section-access layout. */
  def rechunkedGrid(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#rechunk", {
      val dst = zarrGrid(s, d) + "_rc"
      graft.sources.MdioWriter.rechunk(s, zarrGrid(s, d), dst,
        Map("image" -> Seq(4L, 8L)))
      dst
    })

  /** Chunk-grid migration on the gate: rechunk → filtered aggregate
    * THROUGH the migrated store, certified against lineitem directly —
    * any cell the shuffle misplaced, dropped, or double-wrote breaks the
    * sum or the count. The slice (inline 4..27, crossline 2..7) cuts
    * across both old and new chunk boundaries. */
  val qMdioRechunk: Q = (s, d) =>
    s.read.format("mdio").load(rechunkedGrid(s, d))
      .filter(col("inline") >= 4 && col("inline") < 28 && col("crossline") >= 2)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  val qMdioRechunkSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2)
    SELECT CAST(SUM(CAST(COALESCE(image, 0.0) AS DECIMAL(27,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
    WHERE i >= 4 AND i < 28 AND j >= 2"""

  /** Re-sharded twin of [[zarrGrid]]: the flat 8×4-chunked store migrated
    * to v3 `sharding_indexed` with 16×8 shards over the kept 8×4 inner
    * chunks via [[graft.sources.MdioWriter.rechunk]]'s `newShards` — the
    * flat→sharded direction of the object-count migration. */
  def reshardedGrid(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#reshard", {
      val dst = zarrGrid(s, d) + "_rs"
      graft.sources.MdioWriter.rechunk(s, zarrGrid(s, d), dst,
        Map.empty, version = 3, newShards = Map("image" -> Seq(16L, 8L)))
      dst
    })

  /** Un-sharded twin of [[zarrGridSharded]]: the 16×8-sharded v3 store
    * migrated back to flat chunks (`newShards` = empty Seq) — the
    * sharded→flat direction. */
  def unshardedGrid(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#unshard", {
      val dst = zarrGridSharded(s, d) + "_flat"
      graft.sources.MdioWriter.rechunk(s, zarrGridSharded(s, d), dst,
        Map.empty, version = 3, newShards = Map("image" -> Seq.empty))
      dst
    })

  /** Shard-grid migration on the gate, BOTH directions: flat→sharded and
    * sharded→flat stores each scanned through a filter that cuts across
    * the 16-inline shard seam, certified against lineitem directly — a
    * shard index pointing at the wrong inner chunk, or a cell dropped at
    * the seam, breaks a sum or a count. */
  val qMdioReshard: Q = (s, d) => {
    val sh = s.read.format("mdio").load(reshardedGrid(s, d))
      .filter(col("inline") >= 12 && col("inline") < 20)
      .agg(dsum(col("image")).as("sh_total"), count(lit(1)).as("sh_n"))
    val fl = s.read.format("mdio").load(unshardedGrid(s, d))
      .filter(col("crossline") >= 3)
      .agg(dsum(col("image")).as("flat_total"), count(lit(1)).as("flat_n"))
    sh.crossJoin(fl)
  }

  val qMdioReshardSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)),
    sh AS (
      SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS sh_total,
             CAST(COUNT(*) AS BIGINT) AS sh_n
      FROM cells WHERE i >= 12 AND i < 20),
    fl AS (
      SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS flat_total,
             CAST(COUNT(*) AS BIGINT) AS flat_n
      FROM cells WHERE j >= 3)
    SELECT sh_total, sh_n, flat_total, flat_n FROM sh, fl"""

  /** Subvolume twin of [[zarrGrid]] (built once per JVM per sfDir): the
    * inline 8..23 × crossline 2..7 subcube cut into a standalone store
    * via [[graft.sources.MdioWriter.extract]] — dims shrink to 16×6,
    * indices shift to zero-origin, coordinate values carry over. */
  def extractedGrid(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#extract", {
      val dst = zarrGrid(s, d) + "_ex"
      graft.sources.MdioWriter.extract(s, zarrGrid(s, d), dst,
        Map("inline" -> (8L, 24L), "crossline" -> (2L, 8L)))
      dst
    })

  /** Subvolume extraction on the gate: aggregate the WHOLE extracted
    * store (plus an interior slice in shifted coordinates) against the
    * lineitem oracle restricted to the original region — any off-by-one
    * in the cut or the shift breaks count or sum. */
  val qMdioExtract: Q = (s, d) => {
    val ex = s.read.format("mdio").load(extractedGrid(s, d))
    val whole = ex.agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))
    val interior = ex.filter(col("inline") >= 4 && col("crossline") >= 3)
      .agg(dsum(col("image")).as("inner_total"), count(lit(1)).as("inner_n"))
    whole.crossJoin(interior)
  }

  val qMdioExtractSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)
      WHERE i >= 8 AND i < 24 AND j >= 2),
    whole AS (
      SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total,
             CAST(COUNT(*) AS BIGINT) AS n FROM cells),
    inner_ AS (
      SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS inner_total,
             CAST(COUNT(*) AS BIGINT) AS inner_n
      FROM cells WHERE i - 8 >= 4 AND j - 2 >= 3)
    SELECT total, n, inner_total, inner_n FROM whole, inner_"""

  /** Transposed twin of [[zarrGrid]]: image storage order flipped to
    * (crossline, inline) — inline becomes the contiguous on-disk axis —
    * via [[graft.sources.MdioWriter.transpose]]. */
  def transposedGrid(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#transpose", {
      val dst = zarrGrid(s, d) + "_tp"
      graft.sources.MdioWriter.transpose(s, zarrGrid(s, d), dst,
        Map("image" -> Seq("crossline", "inline")))
      dst
    })

  /** Dimension transposition on the gate: the same filtered aggregate as
    * zarr_pushdown, read THROUGH the permuted-layout store — indices are
    * dimension-name-addressed, so results must be identical while the
    * on-disk chunk grid is flipped (spec-pinned). */
  val qMdioTranspose: Q = (s, d) =>
    s.read.format("mdio").load(transposedGrid(s, d))
      .filter(col("inline") >= 8 && col("inline") < 24 && col("crossline") < 4)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  /** Concatenated twin of [[zarrGrid]]: the store appended to itself
    * along inline (two "campaigns", one 64×8 survey) via
    * [[graft.sources.MdioWriter.concat]]. */
  def concatGrid(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#concat", {
      val dst = zarrGrid(s, d) + "_cc"
      graft.sources.MdioWriter.concat(s, zarrGrid(s, d), zarrGrid(s, d),
        dst, "inline")
      dst
    })

  /** Store concatenation on the gate: a slice straddling the seam
    * (inline 24..39 = tail of campaign A + head of campaign B) aggregated
    * THROUGH the merged store — a misplaced shift or a torn seam chunk
    * breaks count or sum against the lineitem oracle. */
  val qMdioConcat: Q = (s, d) =>
    s.read.format("mdio").load(concatGrid(s, d))
      .filter(col("inline") >= 24 && col("inline") < 40)
      .agg(dsum(col("image")).as("total"), count(lit(1)).as("n"))

  val qMdioConcatSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    cells AS (
      SELECT i, j, COALESCE(image, 0.0) AS image
      FROM range(32) r1(i) CROSS JOIN range(8) r2(j) LEFT JOIN agg USING (i, j)),
    sel AS (
      SELECT image FROM cells WHERE i >= 24
      UNION ALL
      SELECT image FROM cells WHERE i < 8)
    SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM sel"""

  // P10 + O1/O2 + SET2 — CoordinateSelector: filter, multi-key sort, gather.
  val qCoordSelector: Q = (s, d) =>
    CoordinateSelector(eventsGrid(s, d))
      .filterByCoordinate(col("event_type") === "purchase")
      .filterByCoordinate(col("user_id") >= 10 && col("user_id") < 60)
      .sortByKey(col("value").desc)
      .sortByKey(col("user_id"))
      .readSelection(Seq("user_id", "value"))
      .limit(50)

  // last-applied sort key (user_id) dominates — stable-sort chaining
  val qCoordSelectorSql: String = """
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND user_id >= 10 AND user_id < 60
    ORDER BY user_id, value DESC, event_id LIMIT 50"""

  // Dimension-wise smoothing: a centered 3-tap moving average along one
  // dimension per trace (the seismic filter-along-depth shape; the grid
  // analog of xarray's rolling mean). The corpus carries duplicate
  // (orderkey, linenumber) rows, so cells aggregate FIRST (the grid
  // semantic: one value per index — ROWS frames over tied order keys
  // would be nondeterministic); then one window per trace after a hash
  // shuffle on the partition dim — no global sort at any scale. All
  // accumulation decimal: sliding-frame float updates (sum + new − old)
  // are not reproducible across engines.
  val qSmoothDim: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(-1, 1)
    gridCellsWide(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(dsum(col("l_quantity")).as("q"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (sum(col("q").cast("decimal(27,6)")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double")).as("sm"))
      .agg(count(lit(1)).as("n"), dsum(col("sm")).as("sum_smoothed"),
           dsum(when(col("l_linenumber") === 1, col("sm")).otherwise(lit(0.0)))
             .as("sum_first_taps"))
  }

  val qSmoothDimSql: String = s"""
    WITH cells AS (
      SELECT l_orderkey, l_linenumber, ${sqlDsum("l_quantity")} AS q
      FROM lineitem GROUP BY 1, 2),
    sm AS (
      SELECT l_orderkey, l_linenumber,
             CAST(SUM(CAST(q AS DECIMAL(27,6))) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
             / CAST(COUNT(*) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS sm
      FROM cells)
    SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sqlDsum("sm")} AS sum_smoothed,
           ${sqlDsum("CASE WHEN l_linenumber = 1 THEN sm ELSE 0.0 END")} AS sum_first_taps
    FROM sm"""

  // Automatic gain control (AGC): the classic seismic trace-balancing
  // operator — each sample divided by the RMS of a sliding window around
  // it along the trace, so weak zones amplify and strong zones attenuate
  // to comparable energy. Same scale shape as the smoothing pass: cells
  // aggregate first, then ONE window per trace after a hash shuffle on
  // the partition dim. Cross-engine exactness: the window's
  // sum-of-squares accumulates in decimal (the dsumsq pattern), and the
  // remaining ops — double divide, IEEE-754 sqrt (correctly rounded by
  // both engines), GREATEST — are bit-deterministic on identical inputs,
  // so the oracle certifies actual AGC values, not a tolerance.
  val qAgc: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(-2, 2)
    gridCellsWide(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(dsum(col("l_quantity")).as("q"))
      .select(col("l_linenumber"),
        (col("q") / greatest(
          sqrt(sum((col("q") * col("q")).cast("decimal(30,6)")).over(w).cast("double") /
            count(lit(1)).over(w).cast("double")),
          lit(1e-300))).as("agc"))
      .agg(count(lit(1)).as("n"), dsum(col("agc")).as("sum_agc"),
           dsum(when(col("l_linenumber") === 1, col("agc")).otherwise(lit(0.0)))
             .as("sum_first_agc"))
  }

  val qAgcSql: String = s"""
    WITH cells AS (
      SELECT l_orderkey, l_linenumber, ${sqlDsum("l_quantity")} AS q
      FROM lineitem GROUP BY 1, 2),
    a AS (
      SELECT l_linenumber,
             q / GREATEST(sqrt(
               CAST(SUM(CAST((q*q) AS DECIMAL(30,6))) OVER (
                 PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)
               / CAST(COUNT(*) OVER (
                 PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)), 1e-300) AS agc
      FROM cells)
    SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sqlDsum("agc")} AS sum_agc,
           ${sqlDsum("CASE WHEN l_linenumber = 1 THEN agc ELSE 0.0 END")} AS sum_first_agc
    FROM a"""

  // Velocity-scan SEMBLANCE (Taner & Koehler): the velocity-analysis
  // operator — for each trial (velocity v, zero-offset time t0), stack
  // the gather along the hyperbolic moveout t(x) = √(t0² + x²/v²) and
  // score coherence S = (Σₓ a)² / (N·Σₓ a²) ∈ (0,1]. The gather derives
  // from lineitem cells (offset x = l_suppkey % 6 scaled ×8, time
  // t = l_orderkey % 64); moveout uses nearest-sample (floor) pickup so
  // every step is bit-deterministic: x²/v² and t0² are exact-rounded
  // double ops, sqrt is correctly rounded in both engines, floor is
  // exact — the oracle certifies semblance VALUES, no tolerance.
  //
  // Scale shape: the trial grid (|v|·|t0|·|x| rows — always KB-scale) is
  // a broadcast literal; moveout becomes a computed EQUI key (x, tm), so
  // the pickup is a broadcast hash join against the cell table — never a
  // theta join — and the stack is one partial-agg'd groupBy(v, t0). At
  // 100 TB the gather is additionally partitioned by CMP and the same
  // join runs per partition.
  val qSemblance: Q = (s, d) => {
    val cells = grid(s, d).data
      .groupBy((col("l_suppkey") % 6).as("x"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    // one flat range decodes to the (v, t0, x) trial grid — no cross join,
    // not even the benign literal-grid kind
    val scan = s.range(3L * 16 * 6)
      .select(element_at(array(lit(2.0), lit(3.0), lit(4.0)),
                (col("id") % 3 + 1).cast("int")).as("v"),
              expr("(id div 3) % 16").as("t0"),   // div: `/` on longs is double division
              expr("id div 48").as("sx"))
      .select(col("v"), col("t0"), col("sx"),
        floor(sqrt((col("t0") * 4).cast("double") * (col("t0") * 4).cast("double") +
          (col("sx") * 8).cast("double") * (col("sx") * 8).cast("double") /
            (col("v") * col("v")))).as("tm"))
    cells
      .join(broadcast(scan), col("x") === col("sx") && col("t") === col("tm"))
      .groupBy(col("v"), col("t0"))
      .agg(count(lit(1)).as("n_traces"),
           (dsum(col("a")) * dsum(col("a")) /
            (count(lit(1)).cast("double") * dsumsq(col("a")))).as("semb"))
      .orderBy(col("semb").desc, col("v"), col("t0"))
      .limit(10)
  }

  val qSemblanceSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 6 AS x, l_orderkey % 64 AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    scan AS (
      SELECT CAST(v AS DOUBLE) AS v, t0, sx,
             CAST(floor(sqrt(CAST(t0 * 4 AS DOUBLE) * CAST(t0 * 4 AS DOUBLE) +
               CAST(sx * 8 AS DOUBLE) * CAST(sx * 8 AS DOUBLE) /
                 (CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS BIGINT) AS tm
      FROM (VALUES (2.0), (3.0), (4.0)) vv(v), range(0, 16) r1(t0), range(0, 6) r2(sx))
    SELECT v, t0, CAST(COUNT(*) AS BIGINT) AS n_traces,
           ${sqlDsum("a")} * ${sqlDsum("a")} /
             (CAST(COUNT(*) AS DOUBLE) * ${sqlDsumsq("a")}) AS semb
    FROM cells JOIN scan ON x = sx AND t = tm
    GROUP BY v, t0
    ORDER BY semb DESC, v, t0 LIMIT 10"""

  // NMO CORRECTION (normal moveout): the APPLY step that pairs with
  // [[qSemblance]]'s velocity ANALYSIS — flatten each reflection
  // hyperbola t(x) = √(t0² + (x·dx/(v·dt))²) back to its zero-offset
  // time t0, then stack across offsets (the signal-to-noise workhorse of
  // seismic processing; reference scope is storage, this is the
  // first consumer workload above it). Spark-first shape: the moveout
  // table decodes from ONE flat range (no cross join), each output
  // sample explodes to its two source samples with LINEAR-INTERPOLATION
  // weights, and the correction is an equi join + one aggregation.
  // Portability: tm is IEEE double arithmetic + a correctly-rounded
  // sqrt, identical in both engines; interpolation weights quantize to
  // integer MICRO-WEIGHTS via floor(frac·1e6) — floor is exact, so the
  // weighted stack is pure BIGINT arithmetic and the oracle certifies
  // it hash-exact with no float-order risk. Samples whose interpolation
  // partner falls past the trace end are muted (the NMO stretch mute).
  val qNmo: Q = (s, d) => {
    val cells = grid(s, d).data
      .groupBy((col("l_suppkey") % 6).as("x"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).cast("bigint").as("ai"))
    val moveout = s.range(64L * 6)
      .select(expr("id div 6").as("t0"), (col("id") % 6).as("sx"))
      .select(col("t0"), col("sx"),
        sqrt((col("t0") * col("t0")).cast("double") +
          (col("sx").cast("double") * 8.0 / 12.0) *
          (col("sx").cast("double") * 8.0 / 12.0)).as("tm"))
      .select(col("t0"), col("sx"), floor(col("tm")).cast("long").as("lo"),
        floor((col("tm") - floor(col("tm"))) * 1000000.0).cast("long").as("wq"))
      .filter(col("lo") + 1 <= 63) // stretch mute: both samples must exist
      .select(col("t0"), col("sx"), explode(array(
        struct(col("lo").as("tsrc"), (lit(1000000L) - col("wq")).as("w")),
        struct((col("lo") + 1).as("tsrc"), col("wq").as("w")))).as("c"))
      .select(col("t0"), col("sx"), col("c.tsrc"), col("c.w"))
    cells
      .join(broadcast(moveout), col("x") === col("sx") && col("t") === col("tsrc"))
      .groupBy(col("t0"))
      .agg(count(lit(1)).as("n_contrib"),
           sum(col("ai") * col("w")).as("stack_micro"))
      .orderBy(col("t0"))
  }

  val qNmoSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 6 AS x, l_orderkey % 64 AS t,
             CAST(${sqlDsum("l_quantity")} AS BIGINT) AS ai
      FROM lineitem GROUP BY 1, 2),
    mv AS (
      SELECT t0, sx, CAST(floor(tm) AS BIGINT) AS lo,
             CAST(floor((tm - floor(tm)) * 1000000.0) AS BIGINT) AS wq
      FROM (
        SELECT t0, sx,
               sqrt(CAST(t0 * t0 AS DOUBLE) +
                 (CAST(sx AS DOUBLE) * 8.0 / 12.0) *
                 (CAST(sx AS DOUBLE) * 8.0 / 12.0)) AS tm
        FROM range(0, 64) r1(t0), range(0, 6) r2(sx))
      WHERE floor(tm) + 1 <= 63),
    contrib AS (
      SELECT t0, sx, lo AS tsrc, 1000000 - wq AS w FROM mv
      UNION ALL
      SELECT t0, sx, lo + 1 AS tsrc, wq AS w FROM mv)
    SELECT t0, CAST(COUNT(*) AS BIGINT) AS n_contrib,
           CAST(SUM(ai * w) AS BIGINT) AS stack_micro
    FROM cells JOIN contrib ON x = sx AND t = tsrc
    GROUP BY t0 ORDER BY t0"""

  // PARTIAL OVERWRITE (update-in-place) on the ORACLE gate: the store-side
  // UPSERT — a sub-region of an existing variable is rewritten through the
  // chunk-aligned writer's read-modify-write path (seam chunks merge new
  // cells with surviving old ones), previously pinned only by
  // MdioWritePathSpec. Built once per JVM: [[zarrGrid]] copies via the
  // same-grid rechunk pass, then an 8x4 patch (values inline·100 +
  // crossline, straddling chunk boundaries of the 8x4 chunk grid on
  // purpose) lands through writeVariable. The oracle rebuilds original +
  // patch cell-for-cell from lineitem.
  def zarrGridUpdated(s: SparkSession, d: String): String =
    builtGrids.getOrElseUpdate(d + "#upd", {
      val dst = zarrGrid(s, d) + "_upd"
      graft.sources.MdioWriter.rechunk(s, zarrGrid(s, d), dst, Map.empty)
      val patch = s.range(8L * 4)
        .select((col("id") % 8 + 8).as("inline"),
                (expr("id div 8") + 2).as("crossline"))
        .select(col("inline"), col("crossline"),
          (col("inline") * 100 + col("crossline")).cast("double").as("image"))
      graft.sources.MdioWriter.writeVariable(s, patch, dst, "image")
      dst
    })

  val qMdioUpdate: Q = (s, d) => {
    val inRegion = col("inline").between(8, 15) && col("crossline").between(2, 5)
    s.read.format("mdio").load(zarrGridUpdated(s, d))
      .agg(dsum(col("image")).as("total"),
           dsum(when(inRegion, col("image")).otherwise(lit(0.0))).as("region_sum"),
           dsum(when(!inRegion, col("image")).otherwise(lit(0.0))).as("outside_sum"),
           count(lit(1)).as("n"))
  }

  val qMdioUpdateSql: String = """
    WITH agg AS (
      SELECT l_orderkey % 32 AS i, l_linenumber % 8 AS j,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS image
      FROM lineitem GROUP BY 1, 2),
    dense AS (
      SELECT r1.i, r2.j, COALESCE(agg.image, 0.0) AS image
      FROM range(0, 32) r1(i) CROSS JOIN range(0, 8) r2(j)
      LEFT JOIN agg ON agg.i = r1.i AND agg.j = r2.j),
    upd AS (
      SELECT i, j,
             CASE WHEN i BETWEEN 8 AND 15 AND j BETWEEN 2 AND 5
                  THEN CAST(i * 100 + j AS DOUBLE) ELSE image END AS image,
             (i BETWEEN 8 AND 15 AND j BETWEEN 2 AND 5) AS in_region
      FROM dense)
    SELECT CAST(SUM(CAST(image AS DECIMAL(27,6))) AS DOUBLE) AS total,
           CAST(SUM(CAST(CASE WHEN in_region THEN image ELSE 0.0 END AS DECIMAL(27,6))) AS DOUBLE) AS region_sum,
           CAST(SUM(CAST(CASE WHEN NOT in_region THEN image ELSE 0.0 END AS DECIMAL(27,6))) AS DOUBLE) AS outside_sum,
           COUNT(*) AS n
    FROM upd"""

  // VELOCITY-ANALYSIS → PICK → NMO → STACK: the classic seismic processing
  // chain COMPOSED — [[qSemblance]]'s coherence scan picks the best trial
  // velocity per zero-offset time (max semblance, ties to the slowest
  // velocity), [[qNmo]]'s micro-weighted interpolation flattens each
  // gather with its PICKED velocity, and the flattened traces stack.
  // Everything chains lazily: cells aggregate once, the trial scan and
  // the picked moveout table are broadcast-scale derivations, and the
  // apply is the same equi join + one aggregation as qNmo. Determinism:
  // semblance ratios are IEEE doubles of decimal-exact sums (identical in
  // DuckDB), picks compare those doubles, weights quantize via floor — so
  // the full chain sits on the hash-exact oracle.
  val qVelocityStack: Q = (s, d) => {
    val cells = grid(s, d).data
      .groupBy((col("l_suppkey") % 6).as("x"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).as("a"), dsumsq(col("l_quantity")).as("a2"))
      .withColumn("ai", col("a").cast("bigint"))
    val scan = s.range(3L * 16 * 6)
      .select(element_at(array(lit(2.0), lit(3.0), lit(4.0)),
                (col("id") % 3 + 1).cast("int")).as("v"),
              expr("(id div 3) % 16").as("t0"),
              expr("id div 48").as("sx"))
      .select(col("v"), col("t0"), col("sx"),
        floor(sqrt((col("t0") * 4).cast("double") * (col("t0") * 4).cast("double") +
          (col("sx") * 8).cast("double") * (col("sx") * 8).cast("double") /
            (col("v") * col("v")))).as("tm"))
    val semb = cells
      .join(broadcast(scan), col("x") === col("sx") && col("t") === col("tm"))
      .groupBy(col("v"), col("t0"))
      .agg((dsum(col("a")) * dsum(col("a")) /
            (count(lit(1)).cast("double") * dsum(col("a2")))).as("semb"))
    val picked = semb.groupBy(col("t0"))
      .agg(max_by(col("v"), struct(col("semb"), lit(0.0) - col("v"))).as("v"))
    val contrib = picked
      .select(col("t0"), col("v"), explode(sequence(lit(0L), lit(5L))).as("sx"))
      .select(col("t0"), col("v"), col("sx"),
        sqrt((col("t0") * 4).cast("double") * (col("t0") * 4).cast("double") +
          (col("sx") * 8).cast("double") * (col("sx") * 8).cast("double") /
            (col("v") * col("v"))).as("tmf"))
      .select(col("t0"), col("v"), col("sx"),
        floor(col("tmf") / 4.0).cast("long").as("lo"),
        floor((col("tmf") / 4.0 - floor(col("tmf") / 4.0)) * 1000000.0)
          .cast("long").as("wq"))
      .filter(col("lo") + 1 <= 63)
      .select(col("t0"), col("v"), col("sx"), explode(array(
        struct(col("lo").as("tsrc"), (lit(1000000L) - col("wq")).as("w")),
        struct((col("lo") + 1).as("tsrc"), col("wq").as("w")))).as("c"))
      .select(col("t0"), col("v"), col("sx"), col("c.tsrc"), col("c.w"))
    cells
      .join(broadcast(contrib), col("x") === col("sx") && col("t") === col("tsrc"))
      .groupBy(col("t0"))
      .agg(max(col("v")).as("v_picked"), count(lit(1)).as("n_contrib"),
           sum(col("ai") * col("w")).as("stack_micro"))
      .orderBy(col("t0"))
  }

  val qVelocityStackSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 6 AS x, l_orderkey % 64 AS t,
             ${sqlDsum("l_quantity")} AS a, ${sqlDsumsq("l_quantity")} AS a2,
             CAST(${sqlDsum("l_quantity")} AS BIGINT) AS ai
      FROM lineitem GROUP BY 1, 2),
    scan AS (
      SELECT CAST(v AS DOUBLE) AS v, t0, sx,
             CAST(floor(sqrt(CAST(t0 * 4 AS DOUBLE) * CAST(t0 * 4 AS DOUBLE) +
               CAST(sx * 8 AS DOUBLE) * CAST(sx * 8 AS DOUBLE) /
                 (CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS BIGINT) AS tm
      FROM (VALUES (2.0), (3.0), (4.0)) vv(v), range(0, 16) r1(t0), range(0, 6) r2(sx)),
    semb AS (
      SELECT v, t0,
             CAST(SUM(CAST(a AS DECIMAL(27,6))) AS DOUBLE) *
             CAST(SUM(CAST(a AS DECIMAL(27,6))) AS DOUBLE) /
               (CAST(COUNT(*) AS DOUBLE) *
                CAST(SUM(CAST(a2 AS DECIMAL(27,6))) AS DOUBLE)) AS semb
      FROM cells JOIN scan ON x = sx AND t = tm
      GROUP BY v, t0),
    picked AS (
      SELECT t0, v FROM (
        SELECT t0, v,
               ROW_NUMBER() OVER (PARTITION BY t0 ORDER BY semb DESC, v) AS rn
        FROM semb) p WHERE rn = 1),
    mv AS (
      SELECT t0, v, sx,
             sqrt(CAST(t0 * 4 AS DOUBLE) * CAST(t0 * 4 AS DOUBLE) +
               CAST(sx * 8 AS DOUBLE) * CAST(sx * 8 AS DOUBLE) / (v * v)) AS tmf
      FROM picked, range(0, 6) r(sx)),
    mw AS (
      SELECT t0, v, sx, CAST(floor(tmf / 4.0) AS BIGINT) AS lo,
             CAST(floor((tmf / 4.0 - floor(tmf / 4.0)) * 1000000.0) AS BIGINT) AS wq
      FROM mv WHERE floor(tmf / 4.0) + 1 <= 63),
    contrib AS (
      SELECT t0, v, sx, lo AS tsrc, 1000000 - wq AS w FROM mw
      UNION ALL
      SELECT t0, v, sx, lo + 1 AS tsrc, wq AS w FROM mw)
    SELECT t0, MAX(v) AS v_picked, CAST(COUNT(*) AS BIGINT) AS n_contrib,
           CAST(SUM(ai * w) AS BIGINT) AS stack_micro
    FROM cells JOIN contrib ON x = sx AND t = tsrc
    GROUP BY t0 ORDER BY t0"""

  // HORIZON PICK + FLATTEN: the interpretation workflow after the
  // processing chain — pick the strongest reflector per trace (argmax
  // amplitude, ties to the shallowest sample) and shift each trace so the
  // picked horizon aligns at a datum, the move that turns a structural
  // cube into a stratal view. One cells aggregation, one per-trace argmax
  // (max_by — no self-join), one broadcast join-back for the shift; the
  // shifted time is pure integer arithmetic, so the flattened stack is
  // hash-exact. Samples shifted outside the trace window mute (drop).
  val qHorizonFlatten: Q = (s, d) => {
    val cells = grid(s, d).data
      .groupBy((col("l_suppkey") % 6).as("x"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    val horizon = cells.groupBy(col("x"))
      .agg(max_by(col("t"), struct(col("a"), lit(0L) - col("t"))).as("h"))
    cells.join(broadcast(horizon), Seq("x"))
      .select(col("x"), (col("t") - col("h") + 32).as("tf"), col("a"))
      .filter(col("tf") >= 0 && col("tf") <= 63)
      .groupBy(col("tf"))
      .agg(count(lit(1)).as("n_traces"), dsum(col("a")).as("stack"))
      .orderBy(col("tf"))
  }

  val qHorizonFlattenSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 6 AS x, l_orderkey % 64 AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    hz AS (
      SELECT x, t AS h FROM (
        SELECT x, t, ROW_NUMBER() OVER (
          PARTITION BY x ORDER BY a DESC, t) AS rn
        FROM cells) p WHERE rn = 1),
    f AS (
      SELECT cells.x, cells.t - hz.h + 32 AS tf, a
      FROM cells JOIN hz ON cells.x = hz.x)
    SELECT tf, CAST(COUNT(*) AS BIGINT) AS n_traces,
           CAST(SUM(CAST(a AS DECIMAL(27,6))) AS DOUBLE) AS stack
    FROM f WHERE tf >= 0 AND tf <= 63
    GROUP BY tf ORDER BY tf"""

  // SEG-Y ROUND-TRIP: the field-tape ingest edge. The reference ecosystem's
  // canonical input is SEG-Y (its regression suite reads the Teapot Dome
  // filt_mig.sgy); here a 16-trace x 64-sample survey derived from
  // lineitem is written as four 4-trace SEG-Y rev-1 files — EBCDIC
  // textual header, big-endian binary header, 240-byte trace headers with
  // rev-1 inline/crossline/CDP words, IBM hexadecimal float samples — and
  // parsed back by the from-scratch [[graft.multimodal.SegyCodec]]. The
  // oracle recomputes per-trace sums straight from lineitem, so the hash
  // match certifies the ENTIRE byte path (EBCDIC, header offsets, IBM
  // float encode AND decode) with no tolerance: cell sums are integers
  // below 2^21, where IBM round-trip is exact. Scale shape: one task per
  // file (bounded 4x64 cells each), encode+parse never leave the
  // executor, driver stays O(1).
  val qSegyRoundtrip: Q = (s, d) => {
    import s.implicits._
    val cells = grid(s, d).data
      .groupBy((col("l_suppkey") % 16).as("tr"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).cast("bigint").as("ai"))
    val full = s.range(16L * 64)
      .select((col("id") % 16).as("tr"), expr("id div 16").as("t"))
      .join(cells, Seq("tr", "t"), "left")
      .select(col("tr"), col("t"), coalesce(col("ai"), lit(0L)).as("ai"))
    val files = full
      .groupBy(expr("tr div 4").as("fid"))
      .agg(collect_list(struct(col("tr"), col("t"), col("ai"))).as("cs"))
      .as[(Long, Seq[SegyCell])]
    files.flatMap { case (fid, cs) =>
      val traces = cs.groupBy(_.tr).toSeq.sortBy(_._1).map { case (tr, rows) =>
        val samples = new Array[Double](64)
        rows.foreach(c => samples(c.t.toInt) = c.ai.toDouble)
        graft.multimodal.SegyCodec.Trace(inline = 1, crossline = tr.toInt,
          cdpX = 1000 + tr.toInt, cdpY = 2000, samples = samples)
      }
      val bytes = graft.multimodal.SegyCodec.write(
        s"C01 GRAFT SYNTHETIC SURVEY\nC02 FILE $fid OF 4", dtMicros = 4000,
        formatCode = 1, traces = traces)
      val sg = graft.multimodal.SegyCodec.read(bytes)
      require(sg.textual.startsWith("C01 GRAFT SYNTHETIC SURVEY"),
        "segy: textual header did not round-trip")
      sg.traces.map { p =>
        (p.crossline.toLong, p.samples.length.toLong,
          p.samples.sum.toLong, sg.dtMicros.toLong, bytes.length.toLong)
      }
    }.toDF("tr", "n_samples", "sum_amp", "dt_micros", "file_bytes")
      .orderBy(col("tr"))
  }

  val qSegyRoundtripSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 16 AS tr,
             CAST(${sqlDsum("l_quantity")} AS BIGINT) AS ai
      FROM lineitem GROUP BY l_suppkey % 16, l_orderkey % 64)
    SELECT r.tr, CAST(64 AS BIGINT) AS n_samples,
           CAST(COALESCE(SUM(ai), 0) AS BIGINT) AS sum_amp,
           CAST(4000 AS BIGINT) AS dt_micros,
           CAST(${3600 + 4 * (240 + 4 * 64)} AS BIGINT) AS file_bytes
    FROM range(16) r(tr) LEFT JOIN cells ON cells.tr = r.tr
    GROUP BY r.tr ORDER BY r.tr"""

  // SEG-Y → MDIO INGEST: the complete tape-to-cloud-store workflow the
  // reference ecosystem exists for. Built once per JVM per sfDir: the four
  // SEG-Y files from [[qSegyRoundtrip]]'s assembly land on disk, then the
  // DISTRIBUTED ingest reads them through Spark's binaryFile source, each
  // task parses its whole file with [[graft.multimodal.SegyCodec]] and
  // emits long-form (trace, twt, amplitude) rows keyed by the rev-1
  // crossline header word, and the chunk-aligned MDIO writer lands them
  // in a 16x64 store. At survey scale this is one task per tape file and
  // one writer task per store chunk — no driver materialization anywhere.
  // The query reads BACK through the mdio connector; the oracle recomputes
  // from lineitem, certifying tape bytes → store chunks → scan end to end.
  private val builtSegyStores = scala.collection.concurrent.TrieMap[String, String]()

  def segyStore(s: SparkSession, d: String): String =
    builtSegyStores.getOrElseUpdate(d, {
      import s.implicits._
      val base = s"/tmp/graft_segy_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val tapeDir = new java.io.File(base + "_tape")
      graft.sources.MdioWriter.delete0(tapeDir.toString)
      tapeDir.mkdirs()
      val cells = grid(s, d).data
        .groupBy((col("l_suppkey") % 16).as("tr"), (col("l_orderkey") % 64).as("t"))
        .agg(dsum(col("l_quantity")).cast("bigint").as("ai"))
      val full = s.range(16L * 64)
        .select((col("id") % 16).as("tr"), expr("id div 16").as("t"))
        .join(cells, Seq("tr", "t"), "left")
        .select(col("tr"), col("t"), coalesce(col("ai"), lit(0L)).as("ai"))
      full.groupBy(expr("tr div 4").as("fid"))
        .agg(collect_list(struct(col("tr"), col("t"), col("ai"))).as("cs"))
        .as[(Long, Seq[SegyCell])]
        .foreach { (row: (Long, Seq[SegyCell])) =>
          val (fid, cs) = row
          val traces = cs.groupBy(_.tr).toSeq.sortBy(_._1).map { case (tr, rows) =>
            val samples = new Array[Double](64)
            rows.foreach(c => samples(c.t.toInt) = c.ai.toDouble)
            graft.multimodal.SegyCodec.Trace(inline = 1, crossline = tr.toInt,
              cdpX = 1000 + tr.toInt, cdpY = 2000, samples = samples)
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$base" + s"_tape/line1_$fid.sgy"),
            graft.multimodal.SegyCodec.write(s"C01 GRAFT TAPE $fid", 4000, 1, traces))
          ()
        }
      val storePath = base + "_store"
      val spec = graft.spec.MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "segy_ingest", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "trace", "dataType": "int64",
          |     "dimensions": [{"name": "trace", "size": 16}]},
          |    {"name": "twt", "dataType": "int64",
          |     "dimensions": [{"name": "twt", "size": 64}]},
          |    {"name": "amplitude", "dataType": "float64",
          |     "dimensions": [{"name": "trace", "size": 16}, {"name": "twt", "size": 64}],
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 32]}}}}
          |  ]
          |}""".stripMargin)
      graft.sources.MdioWriter.delete0(storePath)
      graft.sources.MdioWriter.create(spec, storePath)
      // dimension-coordinate values: trace number and two-way time in ms
      graft.sources.MdioWriter.writeVariable(s,
        s.range(16).select(col("id").as("trace"), col("id").cast("double").as("trace__value")),
        storePath, "trace")
      graft.sources.MdioWriter.writeVariable(s,
        s.range(64).select(col("id").as("twt"), (col("id") * 4).cast("double").as("twt__value")),
        storePath, "twt")
      val parsed = s.read.format("binaryFile").load(tapeDir.toString + "/*.sgy")
        .select(col("content"))
        .flatMap { (r: org.apache.spark.sql.Row) =>
          val sg = graft.multimodal.SegyCodec.read(r.getAs[Array[Byte]](0))
          sg.traces.flatMap(t => t.samples.zipWithIndex.map { case (v, i) =>
            (t.crossline.toLong, i.toLong, v)
          })
        }.toDF("trace", "twt", "amplitude")
      graft.sources.MdioWriter.writeVariable(s, parsed, storePath, "amplitude")
      storePath
    })

  /** The SEG-Y tape directory behind [[segyStore]] (building the store —
    * and therefore the tapes — on first use): the landing directory a
    * LIVE acquisition would append to, tailed by `stream_segy_exec`. */
  def segyTape(s: SparkSession, d: String): String = {
    segyStore(s, d)
    s"/tmp/graft_segy_${d.replaceAll("[^A-Za-z0-9]", "_")}_tape"
  }

  val qSegyToMdio: Q = (s, d) =>
    s.read.format("mdio").load(segyStore(s, d))
      .groupBy(col("trace").as("tr"))
      .agg(count(lit(1)).as("n_samples"),
           sum(col("amplitude")).cast("bigint").as("sum_amp"))
      .orderBy(col("tr"))

  val qSegyToMdioSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 16 AS tr,
             CAST(${sqlDsum("l_quantity")} AS BIGINT) AS ai
      FROM lineitem GROUP BY l_suppkey % 16, l_orderkey % 64)
    SELECT r.tr, CAST(64 AS BIGINT) AS n_samples,
           CAST(COALESCE(SUM(ai), 0) AS BIGINT) AS sum_amp
    FROM range(16) r(tr) LEFT JOIN cells ON cells.tr = r.tr
    GROUP BY r.tr ORDER BY r.tr"""

  // Structural GRADIENT attribute (dip magnitude): first differences
  // along each grid dimension — the edge/fault-detection primitive that
  // complements smoothing (low-pass), AGC (gain) and semblance
  // (coherence). Two lag windows over PRESENT cells, one per dim (the
  // separable smooth_grid shuffle shape); magnitude = √(d₁²+d₂²) only
  // where both neighbors exist. Cells are decimal-exact, differences are
  // exact double subtractions, sqrt is correctly rounded — the oracle
  // certifies gradient values with no tolerance.
  val qGradient: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wIl = Window.partitionBy(col("l_linenumber")).orderBy(col("l_orderkey"))
    val wXl = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    gridCellsWide(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(dsum(col("l_quantity")).as("q"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("q") - lag(col("q"), 1).over(wIl)).as("d1"),
        (col("q") - lag(col("q"), 1).over(wXl)).as("d2"))
      .filter(col("d1").isNotNull && col("d2").isNotNull)
      .select(sqrt(col("d1") * col("d1") + col("d2") * col("d2")).as("mag"),
              col("l_linenumber"))
      .agg(count(lit(1)).as("n"), dsum(col("mag")).as("sum_mag"),
           dsum(when(col("l_linenumber") === 3, col("mag")).otherwise(lit(0.0)))
             .as("sum_line3_mag"))
  }

  val qGradientSql: String = s"""
    WITH cells AS (
      SELECT l_orderkey, l_linenumber, ${sqlDsum("l_quantity")} AS q
      FROM lineitem GROUP BY 1, 2),
    g AS (
      SELECT l_linenumber,
             q - LAG(q, 1) OVER (PARTITION BY l_linenumber ORDER BY l_orderkey) AS d1,
             q - LAG(q, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS d2
      FROM cells),
    m AS (
      SELECT l_linenumber, sqrt(d1 * d1 + d2 * d2) AS mag
      FROM g WHERE d1 IS NOT NULL AND d2 IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sqlDsum("mag")} AS sum_mag,
           ${sqlDsum("CASE WHEN l_linenumber = 3 THEN mag ELSE 0.0 END")} AS sum_line3_mag
    FROM m"""

  // 2-D grid smoothing: a SEPARABLE 3x3 boxcar = the 3-tap pass along
  // dim 2, then the 3-tap pass along dim 1 over the first pass's output
  // (the seismic lateral-smoothing / coherence-prep shape). Each pass is
  // one hash shuffle + one window over PRESENT cells in that dim's order;
  // the naive alternative — a 9-way neighborhood self-join — never
  // appears, and nothing global-sorts at any scale.
  //
  // Reported SCALED BY 36 in EXACT decimal arithmetic: edge taps divide
  // by 1/2/3, all of which divide 6, so multiplying each pass by
  // (6 / tap count) keeps every intermediate an exact decimal — dividing
  // and re-rounding computed doubles to decimals is NOT cross-engine
  // safe when a value lands on the 6th-decimal half-grid (Spark's exact
  // binary-expansion HALF_UP vs a scaled-double round can differ by
  // 1e-6; this query's first cut hit exactly that).
  val qSmoothGrid: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber")).rowsBetween(-1, 1)
    val w2 = Window.partitionBy(col("l_linenumber"))
      .orderBy(col("l_orderkey")).rowsBetween(-1, 1)
    def fac(c: org.apache.spark.sql.Column) =
      when(c === 1, lit(6L)).when(c === 2, lit(3L)).otherwise(lit(2L))
    gridCellsWide(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(dsum(col("l_quantity")).as("q"))
      .select(col("l_orderkey"), col("l_linenumber"),
        sum(col("q").cast("decimal(27,6)")).over(w1).as("num1"),
        count(lit(1)).over(w1).as("c1"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("num1") * fac(col("c1"))).cast("decimal(27,6)").as("sm1x6"))
      .select(col("l_orderkey"), col("l_linenumber"),
        sum(col("sm1x6")).over(w2).as("num2"),
        count(lit(1)).over(w2).as("c2"))
      .select(col("l_orderkey"),
        (col("num2") * fac(col("c2"))).cast("decimal(27,6)").as("sm2x36"))
      .agg(count(lit(1)).as("n"),
           sum(col("sm2x36")).cast("double").as("sum_smoothed2_x36"),
           sum(when(col("l_orderkey") % 7 === 0, col("sm2x36"))
             .otherwise(lit(0).cast("decimal(27,6)"))).cast("double").as("sum_band_x36"))
  }

  val qSmoothGridSql: String = s"""
    WITH cells AS (
      SELECT l_orderkey, l_linenumber, ${sqlDsum("l_quantity")} AS q
      FROM lineitem GROUP BY 1, 2),
    p1 AS (
      SELECT l_orderkey, l_linenumber,
             SUM(CAST(q AS DECIMAL(27,6))) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS num1,
             COUNT(*) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c1
      FROM cells),
    s1 AS (
      SELECT l_orderkey, l_linenumber,
             CAST(num1 * (CASE c1 WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END)
                  AS DECIMAL(27,6)) AS sm1x6
      FROM p1),
    p2 AS (
      SELECT l_orderkey, l_linenumber,
             SUM(sm1x6) OVER (
               PARTITION BY l_linenumber ORDER BY l_orderkey
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS num2,
             COUNT(*) OVER (
               PARTITION BY l_linenumber ORDER BY l_orderkey
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c2
      FROM s1),
    s2 AS (
      SELECT l_orderkey,
             CAST(num2 * (CASE c2 WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END)
                  AS DECIMAL(27,6)) AS sm2x36
      FROM p2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(sm2x36) AS DOUBLE) AS sum_smoothed2_x36,
           CAST(SUM(CASE WHEN l_orderkey % 7 = 0 THEN sm2x36
                         ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE) AS sum_band_x36
    FROM s2"""

  // FIR BANDPASS along the trace (time) dimension: the classic 5-tap
  // convolution filter of seismic processing, with integer taps
  // [-1, 2, 6, 2, -1] (a band-emphasis kernel: DC gain 8, Nyquist gain 6,
  // sharpened mid-band) so every multiply is exact. Shape: one hash
  // shuffle to cells, then lag/lead over the per-trace window — map-side
  // partial agg + a single ordered window pass, the same plan family as
  // mdio_smooth_dim. Edges use zero-padding (lag/lead default 0), the
  // convention of a zero-phase filter applied to a padded trace. All
  // adds are left-associated identically in both engines, so the doubles
  // are bit-identical.
  val qBandpass: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    gridCellsWide(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(dsum(col("l_quantity")).as("q"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (lag(col("q"), 2, 0.0).over(w) * -1.0 +
         lag(col("q"), 1, 0.0).over(w) * 2.0 +
         col("q") * 6.0 +
         lead(col("q"), 1, 0.0).over(w) * 2.0 +
         lead(col("q"), 2, 0.0).over(w) * -1.0).as("band"))
      .agg(count(lit(1)).as("n"),
           dsum(col("band")).as("sum_band"),
           dsum(abs(col("band"))).as("sum_abs_band"),
           sum(when(abs(col("band")) > 400.0, 1L).otherwise(0L)).as("n_peaks"))
  }

  val qBandpassSql: String = s"""
    WITH cells AS (
      SELECT l_orderkey, l_linenumber, ${sqlDsum("l_quantity")} AS q
      FROM lineitem GROUP BY 1, 2),
    f AS (
      SELECT lag(q, 2, 0.0) OVER w * -1.0 +
             lag(q, 1, 0.0) OVER w * 2.0 +
             q * 6.0 +
             lead(q, 1, 0.0) OVER w * 2.0 +
             lead(q, 2, 0.0) OVER w * -1.0 AS band
      FROM cells
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber))
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("band")} AS sum_band,
           ${sqlDsum("abs(band)")} AS sum_abs_band,
           CAST(SUM(CASE WHEN abs(band) > 400.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks
    FROM f"""

  // DESPIKE via rolling MEDIAN filter (the standard seismic spike
  // killer — a median is immune to a single wild sample where any linear
  // filter smears it). Interior samples only (full 5-sample frame), so
  // both engines see an odd-count window whose median is the exact
  // middle order statistic — no interpolation, engine-exact. Spark has
  // no exact windowed median, so the window collects its 5-row frame and
  // takes the 3rd order statistic (bounded: the frame is 5 rows by
  // construction); DuckDB's median over the same frame is the same
  // value. One shuffle, one ordered window pass.
  val qDespike: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(-2, 2)
    gridCellsWide(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(dsum(col("l_quantity")).as("q"))
      .select(col("q"),
        element_at(array_sort(collect_list(col("q")).over(w)), 3).as("med"),
        count(lit(1)).over(w).as("cnt"))
      .filter(col("cnt") === 5)
      .agg(count(lit(1)).as("n"),
           dsum(col("med")).as("sum_med"),
           dsum(abs(col("q") - col("med"))).as("sum_dev"),
           sum(when(abs(col("q") - col("med")) > 50.0, 1L).otherwise(0L)).as("n_spikes"))
  }

  val qDespikeSql: String = s"""
    WITH cells AS (
      SELECT l_orderkey, l_linenumber, ${sqlDsum("l_quantity")} AS q
      FROM lineitem GROUP BY 1, 2),
    m AS (
      SELECT q,
             median(q) OVER w AS med,
             COUNT(*) OVER w AS cnt
      FROM cells
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("med")} AS sum_med,
           ${sqlDsum("abs(q - med)")} AS sum_dev,
           CAST(SUM(CASE WHEN abs(q - med) > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
    FROM m WHERE cnt = 5"""

  // TRACE ALIGNMENT BY CROSS-CORRELATION — the statics-estimation move:
  // for each adjacent trace pair in the dense 16×64 gather (the SEG-Y
  // cell grid), score five integer lags by the cross-correlation
  // Σ_t a(tr,t)·a(tr+1,t+lag) and pick the argmax (ties → smallest
  // lag). Products are decimal-exact (cell amplitudes are scale-6
  // decimals by construction), so scores and the argmax are
  // engine-exact. Shape: the lag dimension EXPLODES the left side (5×,
  // a literal — no join), then ONE equi join on the computed key
  // (tr+1, t+lag) — correlation-as-equi-join, the same trick as
  // mdio_semblance's moveout key; no window over the raw corpus, one
  // row_number over the 80-row score table.
  val qXcorr: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_suppkey") % 16).as("tr"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    // micro-unit integers (amplitudes are scale-6 exact): products and
    // sums stay pure integers, the agg_linreg overflow discipline
    val micro = (c: org.apache.spark.sql.Column) =>
      (c.cast("decimal(27,6)") * 1000000).cast("decimal(38,0)")
    val left = cells
      .withColumn("lag", explode(array(lit(-2), lit(-1), lit(0), lit(1), lit(2))))
      .select(col("tr"), col("t"), col("lag"), micro(col("a")).as("a1"))
    val right = cells.select((col("tr") - 1).as("tr"), col("t").as("t2"),
      micro(col("a")).as("a2"))
    val scores = left.join(right,
        left("tr") === right("tr") && col("t2") === col("t") + col("lag"))
      .groupBy(left("tr").as("tr"), col("lag"))
      .agg(sum(col("a1") * col("a2")).as("score_u"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tr")).orderBy(col("score_u").desc, col("lag"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("tr"), col("lag").as("best_lag"),
        (col("score_u").cast("double") / 1e12).as("score"))
      .orderBy(col("tr"))
  }

  val qXcorrSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 16 AS tr, l_orderkey % 64 AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    lagged AS (
      SELECT tr, t, unnest([-2, -1, 0, 1, 2]) AS lag,
             CAST(CAST(a AS DECIMAL(27,6)) * 1000000 AS HUGEINT) AS a1
      FROM cells),
    sc AS (
      SELECT c1.tr, c1.lag,
             SUM(c1.a1 * CAST(CAST(c2.a AS DECIMAL(27,6)) * 1000000 AS HUGEINT)) AS score_u
      FROM lagged c1
      JOIN cells c2 ON c2.tr = c1.tr + 1 AND c2.t = c1.t + c1.lag
      GROUP BY 1, 2),
    best AS (
      SELECT tr, lag, score_u,
             row_number() OVER (PARTITION BY tr ORDER BY score_u DESC, lag) AS rn
      FROM sc)
    SELECT tr, lag AS best_lag, CAST(score_u AS DOUBLE) / 1e12 AS score
    FROM best WHERE rn = 1 ORDER BY tr"""

  val queries: Map[String, Q] = Map(
    "mdio_xcorr"            -> qXcorr,
    "mdio_bandpass"         -> qBandpass,
    "mdio_despike"          -> qDespike,
    "mdio_smooth_dim"       -> qSmoothDim,
    "mdio_smooth_grid"      -> qSmoothGrid,
    "mdio_agc"              -> qAgc,
    "mdio_semblance"        -> qSemblance,
    "mdio_nmo"              -> qNmo,
    "mdio_velocity_stack"   -> qVelocityStack,
    "mdio_horizon_flatten"  -> qHorizonFlatten,
    "mdio_update"           -> qMdioUpdate,
    "segy_roundtrip"        -> qSegyRoundtrip,
    "segy_to_mdio"          -> qSegyToMdio,
    "mdio_gradient"         -> qGradient,
    "mdio_isel_slice"       -> qIselSlice,
    "mdio_isel_stride"      -> qIselStride,
    "mdio_isel_concat"      -> qIselConcat,
    "mdio_sel_value"        -> qSelValue,
    "mdio_sel_range"        -> qSelRange,
    "mdio_sel_list"         -> qSelList,
    "mdio_select_variable"  -> qSelectVariable,
    "mdio_select_field"     -> qSelectField,
    "mdio_cast_typed"       -> qCastTyped,
    "mdio_intervals"        -> qIntervals,
    "mdio_stats_v1"         -> qStatsV1,
    "mdio_stats_aggregator" -> qStatsAggregator,
    "mdio_histogram_centered" -> qHistogramCentered,
    "mdio_histogram_edges"  -> qHistogramEdges,
    "mdio_fill_value"       -> qFillValue,
    "mdio_coordselector"    -> qCoordSelector,
    "zarr_roundtrip"        -> qZarrRoundtrip,
    "zarr_pushdown"         -> qZarrPushdown,
    "zarr_value_pruning"    -> qZarrValuePruning,
    "zarr_stats_minmax"     -> qZarrStatsMinmax,
    "zarr_stats_moments"    -> qZarrStatsMoments,
    "zarr_stats_v1_meta"    -> qZarrStatsV1Meta,
    "zarr_stats_by_slab"    -> qZarrStatsBySlab,
    "zarr_stats_by_tile"    -> qZarrStatsByTile,
    "zarr_spj_fusion"       -> qZarrSpjFusion,
    "zarr_spj_compat"       -> qZarrSpjCompat,
    "zarr_spj_grouped"      -> qZarrSpjGrouped,
    "zarr_spj_trailing"     -> qZarrSpjTrailing,
    "zarr_stats_variance"   -> qZarrStatsVariance,
    "zarr_stddev_by_tile"   -> qZarrStddevByTile,
    "zarr_count_in_range"   -> qZarrCountInRange,
    "zarr_kth_smallest"     -> qZarrKthSmallest,
    "zarr_median_by_slab"   -> qZarrMedianBySlab,
    "zarr_median_by_tile"   -> qZarrMedianByTile,
    "zarr_quantiles"        -> qZarrQuantiles,
    "zarr_quantiles_by_slab" -> qZarrQuantilesBySlab,
    "zarr_median_pushdown"  -> qZarrMedianPushdown,
    "zarr_median_sliced"    -> qZarrMedianSliced,
    "zarr_median_sel_window" -> qZarrMedianSelWindow,
    "zarr_pct_multi_window" -> qZarrPctMultiWindow,
    "zarr_pct_by_slab"      -> qZarrPctBySlab,
    "zarr_pct_sliced_slab"  -> qZarrPctSlicedSlab,
    "zarr_argmax_location"  -> qZarrArgmaxLocation,
    "zarr_argmax_window"    -> qZarrArgmaxWindow,
    "zarr_argmax_by_slab"   -> qZarrArgmaxBySlab,
    "zarr_histogram_meta"   -> qZarrHistogramMeta,
    "zarr_range_by_slab"    -> qZarrRangeBySlab,
    "mdio_fsck"             -> qMdioFsck,
    "mdio_fsck_repair"      -> qMdioFsckRepair,
    "zarr_topk_value"       -> qZarrTopkValue,
    "mdio_rechunk"          -> qMdioRechunk,
    "mdio_reshard"          -> qMdioReshard,
    "mdio_extract"          -> qMdioExtract,
    "mdio_transpose"        -> qMdioTranspose,
    "mdio_concat"           -> qMdioConcat,
    "zarr_v3_roundtrip"     -> qZarrV3Roundtrip,
    "zarr_sharded_roundtrip" -> qZarrShardedRoundtrip,
    "zarr_extents"          -> qZarrExtents,
    "zarr_extents_distinct" -> qZarrExtentsDistinct,
    "zarr_u64_pruning"      -> qZarrU64Pruning,
    "zarr_trim_pruning"     -> qZarrTrimPruning,
    "mdio_open_sel"         -> qMdioOpenSel,
  )

  val oracleSql: Map[String, String] = Map(
    "mdio_xcorr"            -> qXcorrSql,
    "mdio_bandpass"         -> qBandpassSql,
    "mdio_despike"          -> qDespikeSql,
    "mdio_smooth_dim"       -> qSmoothDimSql,
    "mdio_smooth_grid"      -> qSmoothGridSql,
    "mdio_agc"              -> qAgcSql,
    "mdio_semblance"        -> qSemblanceSql,
    "mdio_nmo"              -> qNmoSql,
    "mdio_velocity_stack"   -> qVelocityStackSql,
    "mdio_horizon_flatten"  -> qHorizonFlattenSql,
    "mdio_update"           -> qMdioUpdateSql,
    "segy_roundtrip"        -> qSegyRoundtripSql,
    "segy_to_mdio"          -> qSegyToMdioSql,
    "mdio_gradient"         -> qGradientSql,
    "mdio_isel_slice"       -> qIselSliceSql,
    "mdio_isel_stride"      -> qIselStrideSql,
    "mdio_isel_concat"      -> qIselConcatSql,
    "mdio_sel_value"        -> qSelValueSql,
    "mdio_sel_range"        -> qSelRangeSql,
    "mdio_sel_list"         -> qSelListSql,
    "mdio_select_variable"  -> qSelectVariableSql,
    "mdio_select_field"     -> qSelectFieldSql,
    "mdio_cast_typed"       -> qCastTypedSql,
    "mdio_intervals"        -> qIntervalsSql,
    "mdio_stats_v1"         -> qStatsV1Sql,
    "mdio_stats_aggregator" -> qStatsAggregatorSql,
    "mdio_histogram_centered" -> qHistogramCenteredSql,
    "mdio_histogram_edges"  -> qHistogramEdgesSql,
    "mdio_fill_value"       -> qFillValueSql,
    "mdio_coordselector"    -> qCoordSelectorSql,
    "zarr_roundtrip"        -> qZarrRoundtripSql,
    "zarr_pushdown"         -> qZarrPushdownSql,
    "zarr_value_pruning"    -> qZarrValuePruningSql,
    "zarr_stats_minmax"     -> qZarrStatsMinmaxSql,
    "zarr_stats_moments"    -> qZarrStatsMomentsSql,
    "zarr_stats_v1_meta"    -> qZarrStatsV1MetaSql,
    "zarr_stats_by_slab"    -> qZarrStatsBySlabSql,
    "zarr_stats_by_tile"    -> qZarrStatsByTileSql,
    "zarr_spj_fusion"       -> qZarrSpjFusionSql,
    "zarr_spj_compat"       -> qZarrSpjFusionSql, // same cells, coarser weight grid
    "zarr_spj_grouped"      -> qZarrSpjFusionSql, // same cells, coarsened keys
    "zarr_spj_trailing"     -> qZarrSpjFusionSql, // same cells, trailing-dim keys
    "zarr_stats_variance"   -> qZarrStatsVarianceSql,
    "zarr_stddev_by_tile"   -> qZarrStddevByTileSql,
    "zarr_count_in_range"   -> qZarrCountInRangeSql,
    "zarr_kth_smallest"     -> qZarrKthSmallestSql,
    "zarr_median_by_slab"   -> qZarrMedianBySlabSql,
    "zarr_median_by_tile"   -> qZarrMedianByTileSql,
    "zarr_quantiles"        -> qZarrQuantilesSql,
    "zarr_quantiles_by_slab" -> qZarrQuantilesBySlabSql,
    "zarr_median_pushdown"  -> qZarrMedianPushdownSql,
    "zarr_median_sliced"    -> qZarrMedianSlicedSql,
    "zarr_median_sel_window" -> qZarrMedianSelWindowSql,
    "zarr_pct_multi_window" -> qZarrPctMultiWindowSql,
    "zarr_pct_by_slab"      -> qZarrPctBySlabSql,
    "zarr_pct_sliced_slab"  -> qZarrPctSlicedSlabSql,
    "zarr_argmax_location"  -> qZarrArgmaxLocationSql,
    "zarr_argmax_window"    -> qZarrArgmaxWindowSql,
    "zarr_argmax_by_slab"   -> qZarrArgmaxBySlabSql,
    "zarr_histogram_meta"   -> qZarrHistogramMetaSql,
    "zarr_range_by_slab"    -> qZarrRangeBySlabSql,
    "mdio_fsck"             -> qMdioFsckSql,
    "mdio_fsck_repair"      -> qMdioFsckRepairSql,
    "zarr_topk_value"       -> qZarrTopkValueSql,
    "mdio_rechunk"          -> qMdioRechunkSql,
    "mdio_reshard"          -> qMdioReshardSql,
    "mdio_extract"          -> qMdioExtractSql,
    "mdio_transpose"        -> qZarrPushdownSql, // same cells, same slice, permuted layout
    "mdio_concat"           -> qMdioConcatSql,
    "zarr_v3_roundtrip"     -> qZarrPushdownSql, // same cells, same slice, v3 format
    "zarr_sharded_roundtrip" -> qZarrPushdownSql, // same slice through sharded storage
    "zarr_extents"          -> qZarrExtentsSql,
    "zarr_extents_distinct" -> qZarrExtentsDistinctSql,
    "zarr_u64_pruning"      -> qZarrU64PruningSql,
    "zarr_trim_pruning"     -> qZarrTrimPruningSql,
    "mdio_open_sel"         -> qZarrPushdownSql, // same cells via coordinate VALUES
  )
}
