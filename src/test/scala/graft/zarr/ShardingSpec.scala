package graft.zarr

import graft.SparkSpec
import graft.sources.MdioWriter
import graft.spec.MdioSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** zarr v3 `sharding_indexed` (beyond-reference scale extension): inner
  * chunks packed into shard objects with a crc32c-guarded footer index —
  * at 100 TB this keeps object counts sane (billions of inner chunks,
  * millions of shard objects) while reads stay range-GETs. */
class ShardingSpec extends SparkSpec {
  import spark.implicits._

  private def specJson =
    """{
      |  "metadata": {"name": "sh", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
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
      |}""".stripMargin

  test("shard index round-trips with crc32c and missing-chunk sentinels") {
    val tmp = VPath(Files.createTempDirectory("shard").resolve("s.bin").toString)
    val parts = Array[Array[Byte]](Array[Byte](1, 2, 3), null, Array[Byte](4, 5))
    tmp.write(ZarrMeta.buildShard(parts))
    val idx = ZarrMeta.readShardIndex(tmp, 3).get
    assert(idx(0) == (0L, 3L) && idx(1) == (-1L, -1L) && idx(2) == (3L, 2L))
    assert(tmp.readRange(idx(2)._1, idx(2)._2.toInt).toSeq == Seq[Byte](4, 5))
    // corrupt one index byte -> crc must catch it
    val bytes = tmp.readAllBytes()
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x1).toByte
    tmp.write(bytes)
    intercept[IllegalArgumentException](ZarrMeta.readShardIndex(tmp, 3))
  }

  test("sharded create/write/read round-trip with pushdown and fill") {
    val dir = Files.createTempDirectory("mdio_shard").resolve("sh.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), dir, version = 3)

    val root = ZarrMeta.path(dir)
    val zjson = root.resolve("image").resolve("zarr.json").readString()
    assert(zjson.contains("sharding_indexed") && zjson.contains("\"chunk_shape\": [2, 3]"))
    assert(zjson.contains("\"chunk_shape\": [4, 6]")) // outer grid = shard shape
    val (_, arrays) = ZarrMeta.readGroup(root)
    val m = arrays("image")._1
    assert(m.chunks == Seq(2L, 3L) && m.shard.contains(Seq(4L, 6L)))
    assert(m.innerPerShard == Seq(2L, 2L) && m.shardGrid == Seq(2L, 1L))

    // write only inlines 0..5 -> shard (1,0) has inner chunks with no data
    val cells = for { i <- 0L until 6L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toFloat)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    // integral sharded path: int32 mask through the same shard layout
    MdioWriter.writeVariable(spark,
      cells.map { case (i, x, _) => (i, x, ((i + x) % 7).toInt) }
        .toDF("inline", "crossline", "mask").select(col("inline"), col("crossline"),
          col("mask").cast("double").as("mask")), dir, "mask")

    // exactly 2 shard objects, not 8 chunk files
    val keys = root.resolve("image").resolve("c").listFilesRecursive()
      .map(p => root.resolve("image").resolve("c").relativize(p)).sorted
    assert(keys == Seq("0/0", "1/0"))

    val df = spark.read.format("mdio").load(dir)
    // full read: written cells exact, unwritten cells = fill (NaN / i32 max)
    val got = df.select("inline", "crossline", "image", "mask")
      .as[(Long, Long, Float, Int)].collect()
    assert(got.length == 48)
    got.foreach { case (i, x, v, m) =>
      if (i < 6) {
        assert(v == (i * 10 + x).toFloat, s"($i,$x)")
        assert(m == ((i + x) % 7).toInt, s"mask ($i,$x)")
      } else {
        assert(v.isNaN, s"($i,$x) should be fill")
        assert(m == Int.MaxValue, s"mask fill ($i,$x)")
      }
    }
    // pushdown still prunes at INNER-chunk granularity
    val p = df.filter($"inline" >= 2 && $"inline" < 4 && $"crossline" < 3)
    assert(p.count() == 6)
    assert(p.select(sum($"image".cast("double"))).as[Double].head() ==
      (for { i <- 2 until 4; x <- 0 until 3 } yield i * 10.0 + x).sum)
    MdioWriter.delete(dir)
  }

  test("sharded partial write read-modify-writes inner chunks and carries untouched bytes") {
    val dir = Files.createTempDirectory("mdio_shard_rmw").resolve("sh.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), dir, version = 3)
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toFloat)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    // patch one cell: only its inner chunk re-encodes; all other cells survive
    MdioWriter.writeVariable(spark,
      Seq((5L, 5L, -7.0f)).toDF("inline", "crossline", "image"), dir, "image")
    val got = spark.read.format("mdio").load(dir)
      .select("inline", "crossline", "image").as[(Long, Long, Float)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    for { i <- 0L until 8L; x <- 0L until 6L } {
      val want = if ((i, x) == (5L, 5L)) -7.0f else (i * 10 + x).toFloat
      assert(got((i, x)) == want, s"RMW at ($i,$x)")
    }
    MdioWriter.delete(dir)
  }

  test("trim on a sharded array deletes at shard granularity, reads clamp") {
    val dir = Files.createTempDirectory("mdio_shard_trim").resolve("sh.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), dir, version = 3)
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toFloat)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    val root = ZarrMeta.path(dir)
    assert(root.resolve("image").resolve("c").listFilesRecursive().size == 2)
    // trim inline 8 -> 6: shard 1 (inlines 4..7) still holds kept inlines
    // 4..5, so the shard file must SURVIVE; reads clamp inlines 6..7 away
    MdioWriter.trim(dir, "inline", 6L)
    assert(root.resolve("image").resolve("c").listFilesRecursive().size == 2)
    val df = spark.read.format("mdio").load(dir)
    assert(df.count() == 36)
    assert(df.agg(max($"inline")).as[Long].head() == 5L)
    // trim inline 6 -> 4: shard 1 is now fully orphaned and gets deleted
    MdioWriter.trim(dir, "inline", 4L)
    assert(root.resolve("image").resolve("c").listFilesRecursive()
      .map(p => root.resolve("image").resolve("c").relativize(p)).sorted == Seq("0/0"))
    assert(spark.read.format("mdio").load(dir).count() == 24)
    MdioWriter.delete(dir)
  }

  test("ShardCache opens each shard object at most once per task") {
    val dir = Files.createTempDirectory("mdio_shard_cache").resolve("sh.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), dir, version = 3)
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toFloat)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    val root = ZarrMeta.path(dir)
    val m = ZarrMeta.readGroup(root)._2("image")._1
    val file0 = m.chunkFile(root.resolve("image"), Seq(0L, 0L)) // shard (0,0)
    val file1 = m.chunkFile(root.resolve("image"), Seq(2L, 0L)) // shard (1,0)
    assert(file0.uri != file1.uri)
    val cache = new ShardCache
    try {
      // all 4 inner chunks of shard 0, then 4 of shard 1, then shard 0 again
      for (cc <- Seq(Seq(0L, 0L), Seq(0L, 1L), Seq(1L, 0L), Seq(1L, 1L)))
        assert(cache.readInnerChunk(file0, m, cc) != null)
      for (cc <- Seq(Seq(2L, 0L), Seq(2L, 1L), Seq(3L, 0L), Seq(3L, 1L)))
        assert(cache.readInnerChunk(file1, m, cc) != null)
      assert(cache.readInnerChunk(file0, m, Seq(0L, 0L)) != null)
      assert(cache.opens == 2, s"expected 2 opens (one per shard), got ${cache.opens}")
    } finally cache.close()
    // and the payloads match the one-shot read path byte for byte
    val oneShot = ZarrMeta.readInnerChunk(file0, m, Seq(0L, 1L))
    val cached = { val c = new ShardCache; try c.readInnerChunk(file0, m, Seq(0L, 1L)) finally c.close() }
    assert(java.util.Arrays.equals(oneShot, cached))
    MdioWriter.delete(dir)
  }

  /** Writes the full `image` variable, then points the footer entry of the
    * untouched inner chunk (0,1) of shard (0,0) at offset 0: the index
    * stays in bounds, only its crc32c no longer matches. */
  private def corruptedShardStore(prefix: String): (String, VPath) = {
    val dir = Files.createTempDirectory(prefix).resolve("sh.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), dir, version = 3)
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toFloat)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    val root = ZarrMeta.path(dir)
    val m = ZarrMeta.readGroup(root)._2("image")._1
    val shard = m.chunkFile(root.resolve("image"), Seq(0L, 0L))
    val bytes = shard.readAllBytes()
    val idxBase = bytes.length - (16 * 4 + 4)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getLong(idxBase + 16) > 0L)
    bb.putLong(idxBase + 16, 0L)
    shard.write(bytes)
    (dir, shard)
  }

  /** A partial write into inner chunk (1,1) of the corrupted shard must
    * refuse it, leaving the shard object byte-for-byte as it was. */
  private def assertCorruptShardRefused(shard: VPath)(write: => Unit): Unit = {
    val before = shard.readAllBytes()
    val e = intercept[Exception](write)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("shard index crc32c mismatch")), msgs.mkString(" | "))
    assert(java.util.Arrays.equals(shard.readAllBytes(), before), "shard object was rewritten")
  }

  test("sink partial write refuses a shard whose footer index fails its crc32c") {
    val (dir, shard) = corruptedShardStore("mdio_shard_crc_sink")
    assertCorruptShardRefused(shard) {
      MdioWriter.insertAligned(Seq((3L, 4L, -1.0f)).toDF("inline", "crossline", "image"), dir)
    }
    MdioWriter.delete(dir)
  }

  test("writeVariable partial write refuses a shard whose footer index fails its crc32c") {
    val (dir, shard) = corruptedShardStore("mdio_shard_crc_wv")
    assertCorruptShardRefused(shard) {
      MdioWriter.writeVariable(spark,
        Seq((3L, 4L, -1.0f)).toDF("inline", "crossline", "image"), dir, "image")
    }
    MdioWriter.delete(dir)
  }

  test("shard index entries pointing past the payload are rejected") {
    val parts = Array[Array[Byte]](Array[Byte](1, 2, 3), Array[Byte](4, 5))
    val shard = ZarrMeta.buildShard(parts)
    val bb = java.nio.ByteBuffer.wrap(shard).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(5 + 16, 4L) // second entry: (4, 2) ends past the 5 payload bytes
    val footer = java.util.Arrays.copyOfRange(shard, 5, shard.length)
    val e = intercept[IllegalArgumentException](
      ZarrMeta.parseShardIndex(footer, 2, crc = false, "mem", 5L))
    assert(e.getMessage.contains("out of bounds"))
  }

  test("oversized shard assembly fails with a clear message, not an array error") {
    // one 16 KB buffer referenced 135k times: summed lengths pass 2 GB
    // while the guard fires before any real allocation happens
    val shared = new Array[Byte](16000)
    val e = intercept[IllegalArgumentException] {
      ZarrMeta.buildShard(Array.fill(135000)(shared)) // ~2.16 GB declared
    }
    assert(e.getMessage.contains("shardShape"))
  }

  test("DSv2 sink writes sharded variables bit-identically to writeVariable") {
    val sinkDir = Files.createTempDirectory("mdio_shard_sink").resolve("sh.mdio").toString
    val twinDir = Files.createTempDirectory("mdio_shard_twin").resolve("sh.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(specJson), sinkDir, version = 3)
    MdioWriter.create(MdioSpec.fromJson(specJson), twinDir, version = 3)
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 3 + x).toFloat, ((i * x) % 3).toInt)
    val df = cells.toDF("inline", "crossline", "image", "mask").repartition(7)
    // the bare sink (single writer task owns every shard — safe) assembles
    // shard objects with the same packer the shard-shuffle write uses
    df.write.format("mdio").mode("append").save(sinkDir)
    MdioWriter.writeVariable(spark, df.select($"inline", $"crossline", $"image"), twinDir, "image")
    MdioWriter.writeVariable(spark, df.select($"inline", $"crossline", $"mask"), twinDir, "mask")
    for (v <- Seq("image", "mask")) {
      val s = ZarrMeta.path(sinkDir).resolve(v).resolve("c")
      val t = ZarrMeta.path(twinDir).resolve(v).resolve("c")
      val shards = t.listFilesRecursive().map(p => t.relativize(p)).sorted
      assert(shards.nonEmpty)
      for (sh <- shards) {
        val (a, b) = (s, t)
        assert(java.util.Arrays.equals(
          sh.split("/").foldLeft(a)(_.resolve(_)).readAllBytes(),
          sh.split("/").foldLeft(b)(_.resolve(_)).readAllBytes()),
          s"shard $v/c/$sh differs between sink and writeVariable")
      }
    }
    // and the sink's read-back is exact, incl. a partial RMW through the
    // sink: patch one inner chunk, every other cell must survive
    Seq((0L, 0L, 99.5f)).toDF("inline", "crossline", "image")
      .write.format("mdio").mode("append").save(sinkDir)
    val got = spark.read.format("mdio").load(sinkDir)
      .select("inline", "crossline", "image").as[(Long, Long, Float)].collect()
      .map { case (i, x, v) => (i, x) -> v }.toMap
    cells.foreach { case (i, x, img, _) =>
      val expect = if (i == 0 && x == 0) 99.5f else img
      assert(got((i, x)) == expect, s"cell ($i,$x)")
    }
    MdioWriter.delete(sinkDir); MdioWriter.delete(twinDir)
  }
}
