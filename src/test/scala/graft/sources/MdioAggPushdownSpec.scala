package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Aggregate pushdown: COUNT(*)/MIN(dim)/MAX(dim) answered entirely from
  * chunk-grid metadata — exact under dense-grid semantics, zero chunk
  * files opened (the O(1) extents-of-a-100TB-store path) — and value
  * aggregates from the stats sidecar, ungrouped as the one-slab case of
  * the grouped answer. */
class MdioAggPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def create(): String = {
    val dir = Files.createTempDirectory("mdio_agg").resolve("a.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "a", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 32}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 8}]},
        |    {"name": "image", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
        |  ]
        |}""".stripMargin), dir)
    dir // NOTE: no chunk data written at all — metadata must suffice
  }

  test("count/min/max over dims come from metadata, even with zero chunk files") {
    val dir = create()
    val df = spark.read.format("mdio").load(dir)
    val r = df.agg(count(lit(1)).as("n"),
        min($"inline").as("mn"), max($"inline").as("mx"),
        max($"crossline").as("cx"))
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((256L, 0L, 31L, 7L)))
    // the plan is the metadata-only scan, not a cell scan
    val p = df.agg(count(lit(1))).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("MdioAggScan"), p.take(600))
    MdioWriter.delete(dir)
  }

  test("pushed dim-range filters narrow the metadata answer") {
    val dir = create()
    val df = spark.read.format("mdio").load(dir)
      .filter($"inline" >= 8 && $"inline" < 24 && $"crossline" < 4)
    val r = df.agg(count(lit(1)).as("n"), min($"inline").as("mn"), max($"inline").as("mx"))
      .as[(Long, Long, Long)].head()
    assert(r == ((64L, 8L, 23L)))
    // empty slice -> count 0, null extents
    val e = spark.read.format("mdio").load(dir)
      .filter($"inline" >= 100)
      .agg(count(lit(1)), min($"inline"))
      .collect()(0)
    assert(e.getLong(0) == 0L && e.isNullAt(1))
    MdioWriter.delete(dir)
  }

  test("connector reports exact metadata statistics; sliced scans broadcast") {
    val dir = create()
    val df = spark.read.format("mdio").load(dir).filter($"inline" < 8)
    // force planning so the scan's reported stats land in the optimized plan
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(64)), s"rowCount ${stats.rowCount}")
    // a small sliced mdio table joined against a big side must broadcast
    val big = spark.range(100000).select($"id".as("inline"))
    val p = big.join(df, Seq("inline")).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    MdioWriter.delete(dir)
  }

  test("limit pushdown plans a handful of chunks, not the whole grid") {
    val dir = create()
    val df = spark.read.format("mdio").load(dir)
    def scanPartitions(d: org.apache.spark.sql.DataFrame): Int = {
      val plan = d.queryExecution.executedPlan
      plan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }.sum
    }
    // full grid = 32 chunks of 8x4 = 256 cells; limit(5) needs one chunk
    val limited = df.limit(5)
    assert(limited.count() == 5)
    assert(scanPartitions(limited) == 1, s"limit(5) planned ${scanPartitions(limited)} chunks")
    // crossing a chunk boundary plans exactly as many chunks as needed
    val two = df.limit(40) // 32 cells/chunk -> 2 chunks
    assert(two.count() == 40 && scanPartitions(two) == 2)
    // no limit -> the full grid plans, coalesced into range partitions
    // capped at the cluster parallelism (sanity that the cap is real)
    assert(scanPartitions(df.filter($"inline" >= 0)) ==
      spark.sparkContext.defaultParallelism)
    MdioWriter.delete(dir)
  }

  test("topN pushdown: ORDER BY dim LIMIT k plans leading-dim slabs only") {
    val dir = create()
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x, (i * 8 + x).toDouble)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline", "image"), dir, "image")
    def scanPartitions(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }.sum
    val df = spark.read.format("mdio").load(dir)
    // ascending: first inline slab (8x4 chunks -> 2 chunks of the 8 total)
    val asc = df.orderBy($"inline", $"crossline").limit(5)
    assert(scanPartitions(asc) == 2, s"asc planned ${scanPartitions(asc)}")
    assert(asc.select("inline", "crossline", "image").as[(Long, Long, Double)].collect().toSeq ==
      (for { x <- 0L until 5L } yield (0L, x, x.toDouble)))
    // descending: LAST inline slab
    val desc = df.orderBy($"inline".desc, $"crossline".desc).limit(3)
    assert(scanPartitions(desc) == 2, s"desc planned ${scanPartitions(desc)}")
    assert(desc.select("inline", "crossline").as[(Long, Long)].collect().toSeq ==
      Seq((31L, 7L), (31L, 6L), (31L, 5L)))
    MdioWriter.delete(dir)
  }

  test("aggregates the metadata cannot answer still run on cells") {
    val dir = create()
    // write real data so the value aggregate has content
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x, (i + x).toDouble)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline", "image"), dir, "image")
    val df = spark.read.format("mdio").load(dir)
    def fmt(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // SUM over an EXPRESSION (not a bare column) is not metadata-answerable
    val se = df.agg(sum($"image" * 2))
    assert(!fmt(se).contains("MdioAggScan"))
    assert(se.as[Double].head() == cells.map(_._3 * 2).sum)
    // SUM DISTINCT needs the distinct value set -> normal scan
    val sd = df.agg(sum_distinct($"image"))
    assert(!fmt(sd).contains("MdioAggScan"))
    assert(sd.as[Double].head() == cells.map(_._3).distinct.sum)
    // plain SUM over the value column IS answerable (statsV1 moments) —
    // the exact metadata answer must equal the scan's
    val s = df.agg(sum($"image"))
    assert(fmt(s).contains("vsum(image)"), fmt(s).take(400))
    assert(s.as[Double].head() == cells.map(_._3).sum)
    MdioWriter.delete(dir)
  }

  test("MIN/MAX/SUM/AVG of one variable open each sidecar shard at most twice") {
    val dir = create()
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x, (i * 8 + x).toDouble)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline", "image"), dir, "image")
    // one lead chunk per shard: the 4 × 2 chunk grid files 4 shards
    val varDir = graft.zarr.ZarrMeta.path(dir).resolve("image")
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      MdioChunkStats.current(varDir).get, span = 1)
    // each intersecting shard opens once when the plan is proven and once
    // when the execution re-checks it, however many aggregates share it
    for ((slice, shards, in) <- Seq(
        (lit(true), 4, cells),
        ($"inline" >= 8 && $"inline" < 24, 2, cells.filter(c => c._1 >= 8 && c._1 < 24)))) {
      val s0 = MdioChunkStats.shardReadCount.get()
      val df = spark.read.format("mdio").load(dir).filter(slice)
        .agg(min($"image"), max($"image"), sum($"image"), avg($"image"))
      val r = df.collect().head
      val opens = MdioChunkStats.shardReadCount.get() - s0
      val vs = in.map(_._3)
      assert((0 until 4).map(r.getDouble) == Seq(vs.min, vs.max, vs.sum, vs.sum / vs.size))
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.exists(_.isInstanceOf[MdioAggScan]), df.queryExecution.optimizedPlan)
      assert(opens <= 2 * shards, s"$opens shard opens for $shards intersecting shards")
    }
    MdioWriter.delete(dir)
  }

  test("a NaN chunk answers SUM/AVG/VAR as NaN from a bounds-only sidecar, grouped or not") {
    val dir = create()
    val cells = for { i <- 0L until 32L; x <- 0L until 8L }
      yield (i, x, if (i % 16 == 3 && x == 1) Double.NaN else (i + x).toDouble)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline", "image"), dir, "image")
    // one NaN cell per 16-inline slab; strip every entry's moments (the
    // pre-moments sidecar format): NaN poisons the answer whatever the
    // moments would have said
    val varDir = graft.zarr.ZarrMeta.path(dir).resolve("image")
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      MdioChunkStats.current(varDir).get.map { case (k, e) => k -> e.map(_.copy(moments = None)) })
    val base = spark.read.format("mdio").load(dir)
    for (df <- Seq(base.agg(sum($"image"), avg($"image"), var_pop($"image")),
                   base.groupBy(floor($"inline" / 16)).agg(sum($"image"), avg($"image"),
                     var_pop($"image")))) {
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.exists(_.isInstanceOf[MdioAggScan]), df.queryExecution.optimizedPlan)
      val rows = df.collect()
      assert(rows.nonEmpty && rows.forall(r =>
        (r.size - 3 until r.size).forall(i => r.getDouble(i).isNaN)), rows.toSeq)
    }
    MdioWriter.delete(dir)
  }
}
