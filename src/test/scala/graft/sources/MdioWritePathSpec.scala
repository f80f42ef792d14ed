package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The write APIs — `writeVariable`, `insertAligned` and the DSv2 sink
  * (`df.write.format("mdio")`) — and the one owner shuffle behind them. */
class MdioWritePathSpec extends SparkSpec {
  import spark.implicits._

  private def create(): String = {
    val dir = Files.createTempDirectory("mdio_w").resolve("w.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "w", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
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

  /** Chunk file name -> bytes of variable `v` at `dir`. */
  private def chunkBytes(dir: String, v: String): Map[String, Seq[Byte]] =
    ZarrMeta.path(dir).resolve(v).list().filterNot(_.name.startsWith("."))
      .map(p => p.name -> p.readAllBytes().toSeq).toMap

  /** Writes each variable of `vars` from `df` with its own writeVariable job. */
  private def writeEach(df: DataFrame, dir: String, vars: String*): Unit =
    vars.foreach(v => MdioWriter.writeVariable(spark, df.select($"inline", $"crossline", col(v)), dir, v))

  test("bare sink append fans out and matches writeVariable's bytes") {
    val dir = create()
    val twin = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 10 + x).toDouble, ((i + x) % 2).toInt)
    val scrambled = cells.toDF("inline", "crossline", "image", "mask").repartition(7)
    val tasks = writerTasks(scrambled.write.format("mdio").mode("append").save(dir))
    assert(tasks > 1, s"the sink wrote in $tasks owner task(s)")
    val got = spark.read.format("mdio").load(dir)
      .select("inline", "crossline", "image", "mask")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == cells.toSet)
    writeEach(scrambled, twin, "image", "mask")
    for (v <- Seq("image", "mask")) {
      assert(chunkBytes(dir, v).keySet == Set("0.0", "0.1", "1.0", "1.1"))
      assert(chunkBytes(dir, v) == chunkBytes(twin, v), s"chunk files of $v differ from writeVariable's")
    }
    MdioWriter.delete(dir)
    MdioWriter.delete(twin)
  }

  test("partial writes read-modify-write: untouched cells survive (both paths)") {
    val dir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toDouble)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline", "image"), dir, "image")
    // 1) writeVariable path: overwrite ONLY the cells with crossline < 2
    //    (part of each chunk) — the rest must keep its old values, not
    //    collapse to fill (the reference's merging accessor writes)
    val patch = for { i <- 0L until 8L; x <- 0L until 2L } yield (i, x, 999.0)
    MdioWriter.writeVariable(spark,
      patch.toDF("inline", "crossline", "image"), dir, "image")
    def readAll(): Map[(Long, Long), Double] =
      spark.read.format("mdio").load(dir)
        .select("inline", "crossline", "image").as[(Long, Long, Double)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    val after1 = readAll()
    for { i <- 0L until 8L; x <- 0L until 6L } {
      val want = if (x < 2) 999.0 else (i * 10 + x).toDouble
      assert(after1((i, x)) == want, s"writeVariable RMW at ($i,$x)")
    }
    // 2) DSv2 sink path: patch a single cell through df.write
    Seq((3L, 5L, -1.0)).toDF("inline", "crossline", "image")
      .write.format("mdio").mode("append").save(dir)
    val after2 = readAll()
    for { i <- 0L until 8L; x <- 0L until 6L } {
      val want =
        if ((i, x) == (3L, 5L)) -1.0
        else if (x < 2) 999.0
        else (i * 10 + x).toDouble
      assert(after2((i, x)) == want, s"sink RMW at ($i,$x)")
    }
    MdioWriter.delete(dir)
  }

  test("writeVariable leaves a NULL cell untouched") {
    val dir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 10 + x).toDouble)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "image"), dir, "image")
    MdioWriter.writeVariable(spark,
      Seq[(Long, Long, Option[Double])]((2L, 2L, None), (2L, 1L, Some(-1.0)))
        .toDF("inline", "crossline", "image"), dir, "image")
    val got = spark.read.format("mdio").load(dir)
      .select("inline", "crossline", "image").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    cells.foreach { case (i, x, v) =>
      assert(got((i, x)) == (if ((i, x) == (2L, 1L)) -1.0 else v), s"cell ($i,$x)")
    }
    MdioWriter.delete(dir)
  }

  test("writeVariable fails on a NULL coordinate or a NULL inside a value and writes nothing") {
    // only a whole NULL value means "leave the cell"; a NULL coordinate would
    // otherwise land on coordinate 0, a NULL half or field would store 0
    val k = $"inline" * 6 + $"crossline"
    val grid = spark.range(48).select(($"id" / 6).cast("long").as("inline"),
      ($"id" % 6).as("crossline"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    def cplx(re: Column, im: Column) = struct(re.as("re"), im.as("im"))
    def rec(x: Column, e: Column) = struct(x.as("cdp-x"), e.as("elev"))
    val nullL = lit(null).cast("long")
    // (dtype, full value, bad rows: (inline, crossline, value), expected message)
    val cases = Seq(
      ("<f8", k * 0.5, Seq((nullL, lit(0L), lit(-1.0)), (lit(1L), lit(1L), lit(-1.0))),
        "NULL coordinate on dim 'inline'"),
      ("<f8", k * 0.5, Seq((lit(0L), nullL, lit(-1.0))), "NULL coordinate on dim 'crossline'"),
      ("<c16", cplx(k * 0.5, -k), Seq((lit(0L), lit(0L), cplx(lit(null).cast("double"), lit(4.0)))),
        "NULL re"),
      ("|V8", rec(k.cast("int"), k * 0.5), Seq((lit(0L), lit(0L), rec(lit(null).cast("int"), lit(2.0)))),
        "NULL field 'cdp-x'"))
    for ((dtype, full, bad, msg) <- cases) {
      val dir = createV(dtype, sharded = false)
      MdioWriter.writeVariable(spark, grid.select($"inline", $"crossline", full.as("v")), dir, "v")
      def readAll() = spark.read.format("mdio").load(dir)
        .select($"inline", $"crossline", $"v".cast("string")).collect().toSet
      val before = readAll()
      val badDf = bad.map { case (i, x, v) => spark.range(1).select(i.as("inline"), x.as("crossline"), v.as("v")) }
        .reduce(_ union _)
      val e = intercept[Exception](MdioWriter.writeVariable(spark, badDf, dir, "v"))
      assert(messages(e).contains(msg), s"$dtype: ${messages(e)}")
      assert(readAll() == before, s"$dtype: a failed write changed cells")
      MdioWriter.delete(dir)
    }
  }

  test("bare sink overwrite fans out and matches writeVariable's bytes") {
    val dir = create()
    val twin = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i - x) * 0.5, (i * x).toInt)
    val df = cells.toDF("inline", "crossline", "image", "mask").repartition(7)
    df.select($"inline", $"crossline", lit(1.0).as("image"), lit(1).as("mask"))
      .write.format("mdio").mode("append").save(dir)
    // overwrite rewrites whole chunks, as append does: no torn chunks
    val tasks = writerTasks(df.write.format("mdio").mode("overwrite").save(dir))
    assert(tasks > 1, s"the sink wrote in $tasks owner task(s)")
    assert(spark.read.format("mdio").load(dir).select("inline", "crossline", "image", "mask")
      .as[(Long, Long, Double, Int)].collect().toSet == cells.toSet)
    writeEach(df, twin, "image", "mask")
    for (v <- Seq("image", "mask"))
      assert(chunkBytes(dir, v) == chunkBytes(twin, v), s"chunk files of $v differ from writeVariable's")
    MdioWriter.delete(dir)
    MdioWriter.delete(twin)
  }

  test("insertAligned: one call, >1 writer task, bit-identical to the serial path") {
    val serialDir = create()
    val alignedDir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 3 + x).toDouble, ((i * x) % 3).toInt)
    val df = cells.toDF("inline", "crossline", "image", "mask").repartition(7)
    // serial twin: one writeVariable job per variable, one after the other
    writeEach(df, serialDir, "image", "mask")
    // pit-of-success call: every variable in one owner shuffle
    val tasks = writerTasks(MdioWriter.insertAligned(df, alignedDir))
    assert(tasks > 1, s"insertAligned wrote in $tasks owner task(s)")
    for (v <- Seq("image", "mask")) {
      assert(chunkBytes(serialDir, v).nonEmpty)
      assert(chunkBytes(alignedDir, v) == chunkBytes(serialDir, v),
        s"chunk files of $v differ between serial and aligned writes")
    }
    MdioWriter.delete(serialDir)
    MdioWriter.delete(alignedDir)
  }

  // inline(8) × crossline(6) with int64 coordinates and one variable `v`
  // of `dtype` (records: `recFields`) in 4×3 chunks, or 2×3 inner chunks in
  // 4×6 shards (v3, blosc) when sharded
  private val recFields = Seq("cdp-x" -> "<i4", "elev" -> "<f4")
  private def createV(dtype: String, sharded: Boolean): String = {
    val version = if (sharded) 3 else 2
    val root = ZarrMeta.path(Files.createTempDirectory("mdio_par").resolve("p.mdio").toString)
    ZarrMeta.writeGroup(root, Some("""{"name": "p"}"""), version)
    def attrs(ds: String*) = Some(ds.map(d => s""""$d"""").mkString("""{"_ARRAY_DIMENSIONS": [""", ", ", "]}"))
    for ((d, n) <- Seq("inline" -> 8L, "crossline" -> 6L))
      ZarrMeta.writeArray(root, d, ZarrMeta.ArrayMeta(Seq(n), Seq(n), "<i8", None, Some(0.0),
        version = version, dimNames = Some(Seq(d))), attrs(d))
    ZarrMeta.writeArray(root, "v", ZarrMeta.ArrayMeta(Seq(8L, 6L),
      if (sharded) Seq(2L, 3L) else Seq(4L, 3L), dtype,
      if (sharded) Some("blosc") else Some("zstd"),
      if (dtype.startsWith("|V")) None else Some(0.0),
      version = version, dimNames = Some(Seq("inline", "crossline")),
      fields = if (dtype.startsWith("|V")) Some(recFields) else None,
      blosc = if (sharded) Some(graft.zarr.ChunkCodec.Blosc("zstd", 5, 1)) else None,
      shard = if (sharded) Some(Seq(4L, 6L)) else None), attrs("inline", "crossline"))
    if (version == 2) ZarrMeta.consolidate(root)
    root.toString
  }

  test("writeVariable, insertAligned and the sink agree on every dtype") {
    // One chunk writer serves every write API: for each dtype, the same
    // cells written through writeVariable, insertAligned and the bare sink
    // leave byte-identical chunk/shard files and equal stats sidecars —
    // after a full write, and again after a partial read-modify-write patch
    // that also carries NULL (= untouched) cells.
    val k = $"inline" * 6 + $"crossline"
    def cplx(re: Column, im: Column) = struct(re.as("re"), im.as("im"))
    def rec(x: Column, e: Column) = struct(x.as("cdp-x"), e.as("elev"))
    // (label, zarr dtype, sharded, cell value, patch value)
    val cases = Seq(
      ("f2", "<f2", false, k * 0.1, lit(-2.5)),
      ("f4", "<f4", false, k * 0.1, lit(-2.5)),
      ("f8", "<f8", false, k * 0.1, lit(-2.5)),
      ("i1", "|i1", false, (k - 24).cast("int"), lit(-7)),
      ("u8", "<u8", false, lit(BigDecimal("9223372036854775808")) + k,
        lit(BigDecimal("18446744073709551615"))),
      ("bool", "|b1", false, k % 3 === 0, lit(true)),
      ("c8", "<c8", false, cplx(k * 0.1, -k * 0.3), cplx(lit(-2.5), lit(4.0))),
      ("c16", "<c16", false, cplx(k * 0.1, -k * 0.3), cplx(lit(-2.5), lit(4.0))),
      ("record", "|V8", false, rec((k * 100).cast("int"), k * 0.1), rec(lit(-7), lit(-2.5))),
      ("sharded f4", "<f4", true, k * 0.1, lit(-2.5)),
      ("sharded i4", "<i4", true, (k - 20).cast("int"), lit(-7)))
    val grid = spark.range(48).select(($"id" / 6).cast("long").as("inline"),
      ($"id" % 6).as("crossline")).repartition(7)

    def dataFiles(dir: String): Seq[(String, Seq[Byte])] = {
      val vd = ZarrMeta.path(dir).resolve("v")
      vd.listFilesRecursive().filterNot(p => p.name.startsWith(".") || p.name == "zarr.json")
        .map(p => vd.relativize(p) -> p.readAllBytes().toSeq).sortBy(_._1)
    }
    def read(dir: String): Map[(Long, Long), String] =
      spark.read.format("mdio").load(dir).select($"inline", $"crossline", $"v".cast("string"))
        .as[(Long, Long, String)].collect().map(r => (r._1, r._2) -> r._3).toMap

    for ((label, dtype, sharded, value, patch) <- cases) {
      val dirs = Seq.fill(3)(createV(dtype, sharded))
      def writeAll(df: DataFrame): Unit = {
        MdioWriter.writeVariable(spark, df, dirs(0), "v")
        MdioWriter.insertAligned(df, dirs(1))
        df.write.format("mdio").mode("append").save(dirs(2))
      }
      def assertSame(step: String): Unit = {
        val files = dirs.map(dataFiles)
        assert(files.head.nonEmpty, s"$label $step: no chunk files")
        dirs.indices.tail.foreach(i => assert(files(i) == files.head,
          s"$label $step: chunk files of ${dirs(i)} differ from writeVariable's"))
        val stats = dirs.map(d => MdioChunkStats.current(ZarrMeta.path(d).resolve("v")))
        assert(stats.head.isDefined == !(label.startsWith("c") || label == "record"),
          s"$label $step: stats ${stats.head}")
        assert(stats.forall(_ == stats.head), s"$label $step: stats differ: $stats")
      }
      val cells = grid.select($"inline", $"crossline", value.as("v"))
      writeAll(cells)
      assertSame("full write")
      val before = read(dirs(0))
      // patch: crossline 1 gets `patch`, crossline 4 gets NULL (untouched)
      val patchDf = grid.filter($"crossline" % 3 === 1).select($"inline", $"crossline",
        when($"crossline" === 1, patch).as("v"))
      writeAll(patchDf)
      assertSame("patch")
      val after = read(dirs(0))
      val readType = spark.read.format("mdio").load(dirs(0)).schema("v").dataType
      val patched = patch.cast(readType).cast("string")
      val want = spark.range(1).select(patched).head.getString(0)
      before.foreach { case ((i, x), old) =>
        assert(after((i, x)) == (if (x == 1) want else old), s"$label cell ($i,$x)")
      }
      dirs.foreach(MdioWriter.delete)
    }
  }

  test("a sharded variable elsewhere in the table does not block unsharded writes") {
    val dir = Files.createTempDirectory("mdio_shmix").resolve("mix.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "mix", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 8}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 6}]},
        |    {"name": "wave", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 8}, {"name": "crossline", "size": 6}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration":
        |       {"chunkShape": [4, 3], "shardShape": [8, 6]}}}},
        |    {"name": "mask", "dataType": "int32",
        |     "dimensions": [{"name": "inline", "size": 8}, {"name": "crossline", "size": 6}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 3]}}}}
        |  ]
        |}""".stripMargin), dir, version = 3)
    val cells = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, ((i + x) % 2).toInt)
    // write of the UNSHARDED variable must succeed…
    cells.toDF("inline", "crossline", "mask")
      .write.format("mdio").mode("append").save(dir)
    val got = spark.read.format("mdio").load(dir).select("inline", "crossline", "mask")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == cells.toSet)
    // …without touching the sharded peer (no shard objects materialize
    // for its null-expanded column)
    assert(graft.zarr.ZarrMeta.path(dir).resolve("wave").resolve("c")
      .listFilesRecursive().isEmpty)
    // …and a write carrying actual SHARDED data assembles shard objects
    // through the same sink (r11 verdict item 5 — the loud reject is gone)
    val waves = for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, (i * 6 + x).toDouble)
    waves.toDF("inline", "crossline", "wave")
      .write.format("mdio").mode("append").save(dir)
    assert(graft.zarr.ZarrMeta.path(dir).resolve("wave").resolve("c")
      .listFilesRecursive().nonEmpty, "shard objects must materialize")
    val gotW = spark.read.format("mdio").load(dir).select("inline", "crossline", "wave")
      .as[(Long, Long, Double)].collect().toSet
    assert(gotW == waves.toSet)
    MdioWriter.delete(dir)
  }

  test("sink partial-variable write leaves the unmentioned variable intact") {
    val dir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 10 + x).toDouble, ((i + x) % 2).toInt)
    cells.toDF("inline", "crossline", "image", "mask")
      .write.format("mdio").mode("append").save(dir)
    // a mask-only patch must not clobber image cells (Spark null-expands
    // the missing image column; null = leave untouched)
    (for { i <- 0L until 8L; x <- 0L until 6L } yield (i, x, 7))
      .toDF("inline", "crossline", "mask")
      .write.format("mdio").mode("append").save(dir)
    val got = spark.read.format("mdio").load(dir)
      .select("inline", "crossline", "image", "mask")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.forall { case (i, x, img, m) => img == (i * 10 + x).toDouble && m == 7 })
    MdioWriter.delete(dir)
  }

  test("a partial-variable sink write keeps the other's stats current") {
    // the sink writes every table variable; one the frame leaves NULL gets
    // no fragment, and its publish carries the prior stats shards over
    val dir = create()
    val cells = for { i <- 0L until 8L; x <- 0L until 6L }
      yield (i, x, (i * 10 + x).toDouble, ((i + x) % 2).toInt)
    MdioWriter.insertAligned(cells.toDF("inline", "crossline", "image", "mask"), dir)
    val maskDir = ZarrMeta.path(dir).resolve("mask")
    val maskStats = MdioChunkStats.current(maskDir)
    val maskBytes = chunkBytes(dir, "mask")
    assert(maskStats.exists(_.size == 4) && maskBytes.size == 4)
    cells.map { case (i, x, _, _) => (i, x, -1.0) }.toDF("inline", "crossline", "image")
      .write.format("mdio").mode("append").save(dir)
    assert(MdioChunkStats.current(maskDir) == maskStats, "mask's stats changed or went stale")
    assert(chunkBytes(dir, "mask") == maskBytes, "mask's chunk files changed")
    val imageStats = MdioChunkStats.current(ZarrMeta.path(dir).resolve("image"))
    assert(imageStats.exists(_.valuesIterator.forall(_.exists(b => b.min == -1 && b.max == -1))),
      s"image's stats do not describe the write: $imageStats")
    MdioWriter.delete(dir)
  }

  test("aligned parallel write at 100k cells keeps every chunk intact") {
    val dir = Files.createTempDirectory("mdio_big").resolve("big.mdio").toString
    val twin = Files.createTempDirectory("mdio_big").resolve("twin.mdio").toString
    for (d <- Seq(dir, twin)) MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "big", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 400}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 250}]},
        |    {"name": "image", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 400}, {"name": "crossline", "size": 250}],
        |     "compressor": {"name": "zstd"},
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [64, 64]}}}}
        |  ]
        |}""".stripMargin), d)
    val df = spark.range(100000).select(
      (col("id") / 250).cast("long").as("inline"),
      (col("id") % 250).as("crossline"),
      (col("id") * 0.5).as("image")).repartition(13) // deliberately scrambled
    val tasks = writerTasks(df.write.format("mdio").mode("append").save(dir))
    assert(tasks > 1, s"the sink wrote in $tasks owner task(s)")
    MdioWriter.writeVariable(spark, df, twin, "image")
    assert(chunkBytes(dir, "image").size == 28 && chunkBytes(dir, "image") == chunkBytes(twin, "image"))
    val back = spark.read.format("mdio").load(dir)
    assert(back.count() == 100000)
    // spot-exact: decimal sums match (order-independent)
    val sum = back.agg(org.apache.spark.sql.functions.sum(col("image").cast("decimal(27,6)")))
      .collect()(0).getDecimal(0)
    assert(sum == new java.math.BigDecimal("2499975000.0").setScale(6))
    MdioWriter.delete(dir)
    MdioWriter.delete(twin)
  }

  // an inline × crossline × time float32 volume `amplitude` (metadata only)
  private def createVolume(shape: Seq[Long], chunks: Seq[Long], dir: String): String = {
    val names = Seq("inline", "crossline", "time")
    val dims = names.zip(shape).map { case (n, s) => s"""{"name": "$n", "size": $s}""" }
    val coords = names.zip(dims).map { case (n, d) =>
      s"""{"name": "$n", "dataType": "int32", "dimensions": [$d]},""" }.mkString("\n")
    MdioWriter.create(MdioSpec.fromJson(
      s"""{"metadata": {"name": "vol", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
         | "variables": [$coords
         |  {"name": "amplitude", "dataType": "float32", "dimensions": [${dims.mkString(", ")}],
         |   "compressor": {"name": "blosc", "cname": "lz4", "clevel": 5, "shuffle": "shuffle"},
         |   "metadata": {"chunkGrid": {"name": "regular", "configuration":
         |     {"chunkShape": [${chunks.mkString(", ")}]}}}}]}""".stripMargin), dir)
    dir
  }

  test("the owner partitioner puts up to n owners in distinct tasks") {
    // 256×256×128 in 128³ chunks has 4 owners; a hash of the chunk-start
    // keys put (0,0,0) and (0,128,0) in one partition at 4 and at 8
    val dir = createVolume(Seq(256L, 256L, 128L), Seq(128L, 128L, 128L),
      Files.createTempDirectory("mdio_own").resolve("o.mdio").toString)
    val cells = for (i <- Seq(0L, 128L, 255L); x <- Seq(0L, 128L, 200L)) yield (i, x, 7L, 1.0f)
    val df = cells.toDF("inline", "crossline", "time", "amplitude")
    // the owner ids the map side packs these cells' fragments under
    val dims = Array("inline", "crossline", "time")
    val meta = ZarrMeta.readGroup(ZarrMeta.path(dir))._2("amplitude")._1
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val owners = new MdioDataWriter(dir, dims, df.schema, Array("amplitude" -> meta))
      .pack(rows.iterator).map(_._1).toSeq.distinct
    assert(owners.sorted == Seq(0L, 1L, 2L, 3L), owners)
    for (n <- Seq(4, 8)) {
      val partitioner = new MdioWriter.OwnerPartitioner(n)
      val placed = owners.map(o => partitioner.getPartition(o))
      assert(placed.distinct.length == 4, s"n=$n: owners share a partition: $placed")
    }
    // by default one task per owner, up to the cluster's parallelism
    assert(writerTasks(MdioWriter.insertAligned(df, dir)) == 4)
    MdioWriter.delete(dir)
  }

  /** Runs `body` with `listener` attached and returns once `listener` has
    * seen every event of `body`'s jobs. */
  private def listening(listener: org.apache.spark.scheduler.SparkListener)(body: => Unit): Unit = {
    import org.apache.spark.scheduler._
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "listener marker"))
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(marker)
    try {
      body
      // events reach the listeners in order: once the marker job's end
      // arrives, every event of `body` has been delivered
      spark.sparkContext.setJobDescription("listener marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job end never arrived")
    } finally {
      spark.sparkContext.removeSparkListener(marker)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Shuffle bytes the jobs of `body` wrote, read through a SparkListener. */
  private def shuffleWriteBytes(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(body)
    bytes.get
  }

  /** Tasks of the owner stages `body` runs — the stages reading the owner
    * shuffle (`partitionBy` in MdioWriter), one task per chunk writer. */
  private def writerTasks(body: => Unit): Int = {
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.callSite.startsWith("partitionBy at MdioWriter")))
          tasks.addAndGet(e.stageInfo.numTasks)
    })(body)
    tasks.get
  }

  test("insertAligned and writeVariable shuffle at most 1.2x the user bytes") {
    // 2 MiB of float32 in 32×32×64 chunks: the shuffle carries stored values
    // in chunk fragments, not one long-form row per cell
    val (ni, nx, nt) = (128L, 64L, 64L)
    val dir = createVolume(Seq(ni, nx, nt), Seq(32L, 32L, 64L),
      Files.createTempDirectory("mdio_shuf").resolve("s.mdio").toString)
    val cells = spark.range(0, ni * nx * nt, 1, 4).select(
      floor($"id" / (nx * nt)).as("inline"), (floor($"id" / nt) % nx).as("crossline"),
      ($"id" % nt).as("time"), sin($"id" * 0.37).cast("float").as("amplitude"))
    val userBytes = ni * nx * nt * 4
    for (api <- Seq("insertAligned", "writeVariable")) {
      val shuffled = shuffleWriteBytes {
        if (api == "insertAligned") MdioWriter.insertAligned(cells, dir)
        else MdioWriter.writeVariable(spark, cells, dir, "amplitude")
      }
      assert(shuffled > 0 && shuffled <= 1.2 * userBytes,
        s"$api shuffled $shuffled bytes for $userBytes user bytes")
    }
    val back = spark.read.format("mdio").load(dir)
    assert(back.count() == ni * nx * nt)
    assert(back.filter($"amplitude" =!= sin(($"inline" * nx * nt + $"crossline" * nt + $"time") * 0.37)
      .cast("float")).count() == 0)
    MdioWriter.delete(dir)
  }

  test("insertAligned failing at a chunk put: whole old or new chunks, stale stats, a rerun repairs") {
    // FaultFs fails the Nth chunk-file put; the job's other tasks are
    // interrupted mid-write, which must not truncate their chunks either
    val local = Files.createTempDirectory("mdio_fault")
    val ref = createVolume(Seq(16L, 16L, 16L), Seq(8L, 8L, 8L), local.resolve("ref.mdio").toString)
    def cells(scale: Double) = spark.range(0, 16 * 16 * 16, 1, 4).select(floor($"id" / 256).as("inline"),
      (floor($"id" / 16) % 16).as("crossline"), ($"id" % 16).as("time"),
      ($"id" * scale).cast("float").as("amplitude"))
    def chunkFiles(store: String): Map[String, Seq[Byte]] = {
      val vd = ZarrMeta.path(store).resolve("amplitude")
      vd.list().filterNot(_.name.startsWith(".")).map(p => p.name -> p.readAllBytes().toSeq).toMap
    }
    def hidden(store: String): Seq[String] =
      ZarrMeta.path(store).listFilesRecursive().map(_.name).filter(_.startsWith(".mdio_statfrag."))
    graft.GraftSession.withConfs(spark)("fs.faultfs.impl" -> classOf[FaultFs].getName) {
      val dir = createVolume(Seq(16L, 16L, 16L), Seq(8L, 8L, 8L), "faultfs:" + local.resolve("f.mdio"))
      val varDir = ZarrMeta.path(dir).resolve("amplitude")
      MdioWriter.insertAligned(cells(0.5), dir)
      val old = chunkFiles(dir)
      assert(old.size == 8 && MdioChunkStats.hasCurrent(varDir))
      MdioWriter.insertAligned(cells(-0.25), ref)
      val fresh = chunkFiles(ref)
      assert(fresh.keySet == old.keySet && fresh.forall { case (k, b) => b != old(k) })

      FaultFs.failChunkPut(3)
      val e = try intercept[Exception](MdioWriter.insertAligned(cells(-0.25), dir))
              finally FaultFs.failChunkPut(0)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected chunk put failure")), e)
      val after = chunkFiles(dir)
      assert(after.keySet == old.keySet)
      after.foreach { case (k, b) =>
        assert(b == old(k) || b == fresh(k), s"chunk $k holds neither the old nor the new bytes") }
      assert(!MdioChunkStats.hasCurrent(varDir), "stats read current after a failed write")
      assert(hidden(dir).isEmpty, s"stat fragments left behind: ${hidden(dir)}")

      MdioWriter.insertAligned(cells(-0.25), dir)
      assert(chunkFiles(dir) == fresh, "a rerun must leave the bytes of a clean write")
      assert(MdioChunkStats.current(varDir) == MdioChunkStats.current(ZarrMeta.path(ref).resolve("amplitude")))
      assert(hidden(dir).isEmpty)
      MdioWriter.delete(dir)
    }
    MdioWriter.delete(ref)
  }
}

/** Test-only local filesystem under the `faultfs:` scheme. Once armed it
  * fails the Nth put of chunk bytes before any byte is written — the create
  * of a chunk file (a name of dot-separated integers) or of a hidden
  * `.<chunk>.<suffix>` sibling renamed over it — and holds every other
  * chunk put open mid-write for a while, so the interrupts Spark sends the
  * failed job's running tasks land inside puts. */
class FaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  // plain statuses: the local ones load permissions through a file: URI
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize, s.getModificationTime, s.getPath)
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  private def put(f: Path)(create: => FSDataOutputStream): FSDataOutputStream =
    if (FaultFs.failAt.get == 0 || !f.getName.matches("\\.?[0-9]+(\\.[0-9]+)*(\\..+)?")) create
    else if (FaultFs.puts.incrementAndGet() == FaultFs.failAt.get)
      throw new java.io.IOException(s"injected chunk put failure at $f")
    else {
      val out = create
      new FSDataOutputStream(new java.io.OutputStream {
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          Thread.sleep(FaultFs.HoldMs) // an interrupt here lands mid-put
          out.write(b, off, len)
        }
        override def close(): Unit = out.close()
      }, null)
    }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    put(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    put(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
}

object FaultFs {
  private val HoldMs = 300L
  private val puts = new java.util.concurrent.atomic.AtomicInteger
  private val failAt = new java.util.concurrent.atomic.AtomicInteger

  /** Fail the `n`th chunk put from now on (0 disarms). */
  def failChunkPut(n: Int): Unit = { puts.set(0); failAt.set(n) }
}
