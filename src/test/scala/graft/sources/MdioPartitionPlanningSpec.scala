package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType, StructType}
import java.nio.file.Files

/** Chunk-range coalescing in partition planning (SURVEY §7.4.6): a
  * many-chunk store must NOT plan one driver-side InputPartition per chunk
  * on the full-scan path — ranges of C-order-adjacent chunks group into
  * ~`spark.sql.files.maxPartitionBytes` tasks, while filters, pruning, and results stay
  * exact. The reference never materializes per-chunk control structures on
  * a coordinator (mdio/variable.h:1078-1103 iterates chunks inside the
  * read). */
class MdioPartitionPlanningSpec extends SparkSpec {
  import spark.implicits._

  // 4096 cells in 1024 chunks of 4 — enough chunks that per-chunk
  // planning is visibly different from coalesced planning
  private val specJson =
    """{
      |  "metadata": {"name": "many", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
      |  "variables": [
      |    {"name": "trace", "dataType": "int64",
      |     "dimensions": [{"name": "trace", "size": 4096}]},
      |    {"name": "value", "dataType": "float32",
      |     "dimensions": [{"name": "trace", "size": 4096}],
      |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4]}}}}
      |  ]
      |}""".stripMargin

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("mdio_plan").resolve("many.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), dir)
    val df = (0L until 4096L).map(i => (i, i.toFloat)).toDF("trace", "value")
    MdioWriter.writeVariable(spark, df, dir, "value")
    dir
  }

  private def scanFor(dir: String, ranges: Map[String, (Long, Long)]) = {
    val meta = graft.zarr.ZarrMeta.readGroup(graft.zarr.ZarrMeta.path(dir))._2("value")._1
    MdioScan(dir, Seq("trace"), Map("value" -> meta),
      new StructType().add("trace", LongType).add("value", FloatType), ranges)
  }

  test("full scan coalesces 1024 chunks into ~defaultParallelism range partitions") {
    val dir = freshStore()
    val parts = scanFor(dir, Map.empty).planInputPartitions()
    val par = spark.sparkContext.defaultParallelism
    assert(parts.length == par, s"expected $par coalesced partitions, got ${parts.length}")
    // ranges of the whole box tile [0, 1024) without overlap
    val runs = parts.map(_.asInstanceOf[MdioChunkRun])
    assert(runs.forall(r => r.extents.toSeq == Seq(1024L) && r.survivors == null))
    val ranges = runs.map(p => (p.start, p.end)).sortBy(_._1)
    assert(ranges.head._1 == 0L && ranges.last._2 == 1024L)
    assert(ranges.sliding(2).forall { case Array((_, e), (s, _)) => e == s; case _ => true })
    MdioWriter.delete(dir)
  }

  test("coalesced full scan reads every cell exactly once") {
    val dir = freshStore()
    val df = spark.read.format("mdio").load(dir)
    val row = df.agg(count("*"), sum($"value".cast("double")),
      min($"value"), max($"value")).head
    assert(row.getLong(0) == 4096L)
    assert(row.getDouble(1) == 4096.0 * 4095.0 / 2.0)
    assert(row.getFloat(2) == 0f && row.getFloat(3) == 4095f)
    MdioWriter.delete(dir)
  }

  test("pushed ranges still prune before coalescing") {
    val dir = freshStore()
    // trace >= 4000 → only chunks 1000..1023 (24 chunks) → ≤ parallelism tasks
    val parts = scanFor(dir, Map("trace" -> (4000L, Long.MaxValue))).planInputPartitions()
    assert(parts.length <= spark.sparkContext.defaultParallelism)
    val covered = parts.map(_.asInstanceOf[MdioChunkRun].chunkCount).sum
    assert(covered == 24L)
    val got = spark.read.format("mdio").load(dir).filter($"trace" >= 4000)
    assert(got.count() == 96L)
    assert(got.agg(sum($"value".cast("double"))).head.getDouble(0) ==
      (4000 until 4096).map(_.toDouble).sum)
    MdioWriter.delete(dir)
  }

  test("domain-edge bounds saturate: <= Long.MaxValue is a no-op, not an empty scan") {
    val dir = freshStore()
    val df = spark.read.format("mdio").load(dir)
    // pre-fix, absorb computed MaxValue+1 → wrap → empty range → 0 rows
    assert(df.filter($"trace" <= Long.MaxValue).count() == 4096L)
    assert(df.filter($"trace" < Long.MaxValue).count() == 4096L)
    // and the dual: > MaxValue must be empty, not a full scan
    assert(df.filter($"trace" > Long.MaxValue).count() == 0L)
    MdioWriter.delete(dir)
  }

  test("runtime IN-filters plan O(values) partitions, not an O(grid) sweep") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val dir = freshStore()
    val scan = scanFor(dir, Map.empty)
    // a selective join hands 3 values over a 1024-chunk grid: exactly the
    // 3 containing chunks plan (values 8, 2000, 4090 → chunks 2, 500, 1022)
    scan.filter(Array(new Predicate("IN", Array(
      Expressions.column("trace"),
      Expressions.literal(8L), Expressions.literal(2000L), Expressions.literal(4090L)))))
    val parts = scan.planInputPartitions()
    assert(parts.length == 3, s"expected 3 value-derived chunks, got ${parts.length}")
    MdioWriter.delete(dir)
  }

  test("petacell store: planning O(target), O(1) extents, slice-only reads") {
    // 10^12 cells in 10^6 chunks — METADATA ONLY (no chunk files ever
    // written): the shapes a 100 TB deployment actually has. Everything
    // below must complete without enumerating, listing, or opening chunks.
    val dir = Files.createTempDirectory("mdio_peta").resolve("peta.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "peta", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 1000000}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 1000000}]},
        |    {"name": "image", "dataType": "float32",
        |     "dimensions": [{"name": "inline", "size": 1000000}, {"name": "crossline", "size": 1000000}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [1000, 1000]}}}}
        |  ]
        |}""".stripMargin), dir)
    val df = spark.read.format("mdio").load(dir)
    // metadata-only COUNT over a trillion cells: no chunk file exists,
    // none is needed (dense-grid semantics)
    assert(df.count() == 1000000000000L)
    // full-scan planning coalesces the 10^6-chunk grid into a bounded
    // partition array, and does it in O(tasks), not O(chunks)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 50).toString)
    try {
      val t0 = System.nanoTime()
      val parts = scanFor2(dir).planInputPartitions()
      val ms = (System.nanoTime() - t0) / 1e6
      assert(parts.length == spark.sparkContext.defaultParallelism)
      assert(ms < 5000, s"planning took $ms ms")
      val covered = parts.map(_.asInstanceOf[MdioChunkRun].chunkCount).sum
      assert(covered == 1000000L * 1000000L / (1000L * 1000L))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // a point slice plans exactly one chunk and materializes the fill
    val row = df.filter($"inline" === 123456L && $"crossline" === 654321L)
      .select("image").collect()
    assert(row.length == 1 && row(0).getFloat(0).isNaN)
    MdioWriter.delete(dir)
  }

  private def scanFor2(dir: String) = {
    val meta = graft.zarr.ZarrMeta.readGroup(graft.zarr.ZarrMeta.path(dir))._2("image")._1
    MdioScan(dir, Seq("inline", "crossline"), Map("image" -> meta),
      new StructType().add("inline", LongType).add("crossline", LongType)
        .add("image", org.apache.spark.sql.types.FloatType), Map.empty)
  }

  test("static IN-list filters prune chunks end to end (partial pushdown)") {
    val dir = freshStore()
    val df = spark.read.format("mdio").load(dir)
      .filter($"trace".isin(8L, 2000L, 4090L))
    // exactly the 3 containing chunks plan; Spark's residual filter trims
    // the chunk cells down to the 3 requested rows
    val parts = df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum
    assert(parts == 3, s"IN(3 values) planned $parts partitions")
    val got = df.select("trace", "value").as[(Long, Float)].collect().toSet
    assert(got == Set((8L, 8f), (2000L, 2000f), (4090L, 4090f)))
    MdioWriter.delete(dir)
  }

  test("targetPartitionBytes dials the partition count up to per-chunk") {
    // the target is Spark's own spark.sql.files.maxPartitionBytes
    val dir = freshStore()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val parts = scanFor(dir, Map.empty).planInputPartitions()
      assert(parts.length == 1024) // one chunk per task at the floor
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // and a mid-size target lands in between: projected row width is
    // 12 bytes (long dim + float value), so 512 cells/task → 8 tasks
    spark.conf.set("spark.sql.files.maxPartitionBytes", (512 * 12).toString)
    try {
      val parts = scanFor(dir, Map.empty).planInputPartitions()
      assert(parts.length == 8, s"got ${parts.length}")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    MdioWriter.delete(dir)
  }
}
