package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import java.nio.file.Files

/** [[MdioCatalog]]: store paths as catalog identifiers; a catalog write
  * (`writeTo(...).append()`) takes the sink's one route, the owner
  * shuffle. */
class MdioCatalogSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.mdio_cat", "graft.sources.MdioCatalog")

  private def create(): String = {
    val dir = Files.createTempDirectory("mdio_cat").resolve("c.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "c", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 8}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 6}]},
        |    {"name": "image", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 8}, {"name": "crossline", "size": 6}],
        |     "compressor": {"name": "zstd"},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 3]}}}},
        |    {"name": "mask", "dataType": "int32",
        |     "dimensions": [{"name": "inline", "size": 8}, {"name": "crossline", "size": 6}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 3]}}}}
        |  ]
        |}""".stripMargin), dir)
    dir
  }

  test("catalog read: spark.table over a store path identifier") {
    val dir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toDouble)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    val got = spark.table(s"mdio_cat.`$dir`")
      .select("inline", "crossline", "image").as[(Long, Long, Double)].collect().toSet
    assert(got == cells.toSet)
    MdioWriter.delete(dir)
  }

  test("bare catalog write is bit-identical to writeVariable") {
    val twinDir = create()
    val catDir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 3 + x).toDouble, ((i * x) % 3).toInt)
    val df = cells.toDF("inline", "crossline", "image", "mask").repartition(7)
    // twin: one writeVariable job per variable
    for (v <- Seq("image", "mask"))
      MdioWriter.writeVariable(spark, df.select($"inline", $"crossline", $"$v"), twinDir, v)
    // the bare catalog write: no option, no pre-repartition call
    df.writeTo(s"mdio_cat.`$catDir`").append()
    for (v <- Seq("image", "mask")) {
      val s = graft.zarr.ZarrMeta.path(twinDir).resolve(v)
      val c = graft.zarr.ZarrMeta.path(catDir).resolve(v)
      val chunkNames = s.list().map(_.name).filterNot(_.startsWith(".")).sorted
      assert(chunkNames.nonEmpty)
      for (ch <- chunkNames)
        assert(java.util.Arrays.equals(
          s.resolve(ch).readAllBytes(), c.resolve(ch).readAllBytes()),
          s"chunk $v/$ch differs between writeVariable and catalog writes")
    }
    MdioWriter.delete(twinDir)
    MdioWriter.delete(catDir)
  }

  test("bare catalog write of SHARDED variables: shard-granular ownership, bit-identical") {
    def createSharded(): String = {
      val dir = Files.createTempDirectory("mdio_cat_sh").resolve("s.mdio").toString
      MdioWriter.create(MdioSpec.fromJson(
        """{
          |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
          |  "variables": [
          |    {"name": "inline", "dataType": "int64",
          |     "dimensions": [{"name": "inline", "size": 8}]},
          |    {"name": "crossline", "dataType": "int64",
          |     "dimensions": [{"name": "crossline", "size": 6}]},
          |    {"name": "image", "dataType": "float32",
          |     "dimensions": [{"name": "inline", "size": 8}, {"name": "crossline", "size": 6}],
          |     "compressor": {"name": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 1},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration":
          |       {"chunkShape": [2, 3], "shardShape": [4, 6]}}}},
          |    {"name": "mask", "dataType": "int32",
          |     "dimensions": [{"name": "inline", "size": 8}, {"name": "crossline", "size": 6}],
          |     "compressor": {"name": "zstd"},
          |     "metadata": {"chunkGrid": {"name": "regular", "configuration":
          |       {"chunkShape": [2, 3], "shardShape": [4, 6]}}}}
          |  ]
          |}""".stripMargin), dir, version = 3)
      dir
    }
    val catDir = createSharded()
    val twinDir = createSharded()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 3 + x).toFloat, ((i * x) % 3).toInt)
    val df = cells.toDF("inline", "crossline", "image", "mask").repartition(7)
    // bare catalog write: the owner shuffle owns by the SHARD size
    // (ownership LCM), so each task assembles whole shard objects
    df.writeTo(s"mdio_cat.`$catDir`").append()
    MdioWriter.writeVariable(spark, df.select($"inline", $"crossline", $"image"), twinDir, "image")
    MdioWriter.writeVariable(spark, df.select($"inline", $"crossline", $"mask"), twinDir, "mask")
    for (v <- Seq("image", "mask")) {
      val c = graft.zarr.ZarrMeta.path(catDir).resolve(v).resolve("c")
      val t = graft.zarr.ZarrMeta.path(twinDir).resolve(v).resolve("c")
      val shards = t.listFilesRecursive().map(t.relativize).sorted
      assert(shards.nonEmpty)
      for (sh <- shards)
        assert(java.util.Arrays.equals(
          sh.split("/").foldLeft(c)(_.resolve(_)).readAllBytes(),
          sh.split("/").foldLeft(t)(_.resolve(_)).readAllBytes()),
          s"shard $v/c/$sh differs between catalog and writeVariable writes")
    }
    // the write published per-INNER-chunk stats through the shard write,
    // so value pruning works on the catalog-written store too
    val cur = MdioChunkStats.current(graft.zarr.ZarrMeta.path(catDir).resolve("image"))
    assert(cur.isDefined && cur.get.size == 8, cur.map(_.size).toString) // 4x2 inner grid
    MdioWriter.delete(catDir); MdioWriter.delete(twinDir)
  }

  test("absent store is table-not-found; present-but-broken is not masked") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.table("mdio_cat.`/tmp/graft_definitely/missing.mdio`").collect()
    }
  }

  test("catalog rejects unknown functions and unsupported DDL") {
    intercept[Exception] {
      spark.sql("SELECT mdio_cat.nope(1)").collect()
    }
    intercept[UnsupportedOperationException] {
      new MdioCatalog().createTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "/tmp/x"),
        new org.apache.spark.sql.types.StructType(), Array.empty,
        new java.util.HashMap[String, String]())
    }
  }
}
