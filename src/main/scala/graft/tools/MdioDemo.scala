package graft.tools

import graft.sources.MdioWriter
import graft.spec.MdioSpec

/** Writes a small demo MDIO/Zarr-v2 dataset to argv(0) (default
  * /tmp/mdio_demo) — used by the cross-implementation interop check
  * (tools/check_zarr_interop.py) that re-reads the chunks with numpy,
  * mirroring the reference's xarray-compatibility regression tests. */
object MdioDemo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/mdio_demo")
    val spark = graft.GraftSession.builder(2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val spec = MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "demo", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 6}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 4}]},
        |    {"name": "image", "dataType": "float32",
        |     "dimensions": [{"name": "inline", "size": 6}, {"name": "crossline", "size": 4}],
        |     "compressor": {"name": "zlib"},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [3, 2]}}}},
        |    {"name": "image_blosc", "dataType": "float32",
        |     "dimensions": [{"name": "inline", "size": 6}, {"name": "crossline", "size": 4}],
        |     "compressor": {"name": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [3, 2]}}}},
        |    {"name": "trace", "dataType": "int64",
        |     "dimensions": [{"name": "trace", "size": 32}]},
        |    {"name": "sample", "dataType": "int64",
        |     "dimensions": [{"name": "sample", "size": 64}]},
        |    {"name": "ampl_lz", "dataType": "float32",
        |     "dimensions": [{"name": "trace", "size": 32}, {"name": "sample", "size": 64}],
        |     "compressor": {"name": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 1},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [16, 64]}}}},
        |    {"name": "ampl_snappy", "dataType": "float32",
        |     "dimensions": [{"name": "trace", "size": 32}, {"name": "sample", "size": 64}],
        |     "compressor": {"name": "blosc", "cname": "snappy", "clevel": 5, "shuffle": 1},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [16, 64]}}}}
        |  ]
        |}""".stripMargin)
    MdioWriter.delete0(path)
    MdioWriter.create(spec, path)
    val cells = for { i <- 0L until 6L; x <- 0L until 4L } yield (i, x, (i * 100 + x).toFloat)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), path, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline", "image_blosc"), path, "image_blosc")
    // blosclz + snappy cnames on 4 KiB chunks (big enough that the LZ
    // backends actually engage): graft writes, python independently decodes
    val big = for { t <- 0L until 32L; sm <- 0L until 64L }
      yield (t, sm, ((t * 64 + sm) % 1000).toFloat / 4.0f)
    MdioWriter.writeVariable(spark, big.toDF("trace", "sample", "ampl_lz"), path, "ampl_lz")
    MdioWriter.writeVariable(spark, big.toDF("trace", "sample", "ampl_snappy"), path, "ampl_snappy")
    println(s"[demo] wrote $path")

    // v3 SHARDED twin for the cross-implementation check
    // (tools/check_zarr_v3_interop.py re-reads shards with numpy + stdlib)
    val path3 = path + "_v3sharded"
    val spec3 = MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "demo3", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 6}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 4}]},
        |    {"name": "image", "dataType": "float32",
        |     "dimensions": [{"name": "inline", "size": 6}, {"name": "crossline", "size": 4}],
        |     "compressor": {"name": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration":
        |       {"chunkShape": [3, 2], "shardShape": [6, 4]}}}}
        |  ]
        |}""".stripMargin)
    MdioWriter.delete0(path3)
    MdioWriter.create(spec3, path3, version = 3)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), path3, "image")
    println(s"[demo] wrote $path3")
    spark.stop()
  }
}
