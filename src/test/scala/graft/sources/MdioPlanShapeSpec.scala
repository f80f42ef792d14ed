package graft.sources

import graft.{GraftSession, SparkSpec}
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, LessThanOrEqual}
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.Files

/** Plan-shape pins for every scan planning branch, through the public
  * reader surface only: each planned partition is drained through
  * `createReaderFactory().createColumnarReader(p)`, and the test pins the
  * partition count, the set of chunk ordinals each partition yields rows
  * from, and (in keyed mode) each partition's key. The pins name no
  * partition class, so they hold whatever shape the planner uses to carry
  * a chunk run.
  *
  * Store: inline 32 × crossline 16 in 4 × 4 chunks (an 8 × 4 chunk grid,
  * 32 chunks), `v = crossline * 100 + inline` with current value stats,
  * and an `inline` dimension coordinate `inline__value = 10 * inline`.
  * The test session runs at `defaultParallelism` 4. */
class MdioPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.mdio_spj", "graft.sources.MdioCatalog")

  private type Chunk = (Long, Long)
  /** One planned partition: the chunks its rows come from, and its key. */
  private type Shape = (Set[Chunk], Option[Seq[Long]])

  private lazy val dir: String = {
    val d = Files.createTempDirectory("mdio_shape").resolve("g.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "g", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 32}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 16}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 16}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 4]}}}}
        |  ]
        |}""".stripMargin), d)
    MdioWriter.writeVariable(spark,
      (0L until 32L).map(i => (i, 10.0 * i)).toDF("inline", "inline__value"), d, "inline")
    val cells = for { i <- 0L until 32L; x <- 0L until 16L } yield (i, x, (x * 100 + i).toDouble)
    MdioWriter.writeVariable(spark, cells.toDF("inline", "crossline", "v"), d, "v")
    d
  }

  private val dims = Seq("inline", "crossline")
  private val schema = new StructType()
    .add("inline", LongType).add("crossline", LongType).add("v", DoubleType)
  private def metas = Map("v" -> ZarrMeta.readGroup(ZarrMeta.path(dir))._2("v")._1)

  private def scan(ranges: Map[String, (Long, Long)] = Map.empty,
                   limitCells: Option[Int] = None,
                   topN: Option[(String, Boolean, Int)] = None,
                   staticIn: Map[String, Array[Long]] = Map.empty,
                   topNValue: Option[(String, Boolean, Int)] = None,
                   chunkKeys: Option[Seq[String]] = None): MdioScan =
    MdioScan(dir, dims, metas, schema, ranges, limitCells = limitCells, topN = topN,
      staticIn = staticIn, topNValue = topNValue, chunkKeys = chunkKeys)

  /** A scan built by the table's own builder with `filters` pushed. */
  private def built(filters: Array[Filter]): Scan = {
    val sb = MdioTable(dir, None).newScanBuilder(CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[MdioScanBuilder].pushFilters(filters)
    sb.build()
  }

  private def inIn(dim: String, vals: Long*): Array[Predicate] =
    Array(new Predicate("IN", (Expressions.column(dim) +:
      vals.map(v => Expressions.literal(v))).toArray))

  /** Drain every partition through the reader factory; per partition, the
    * chunk ordinals of the rows it yields and its partition key. */
  private def drain(parts: Array[InputPartition], factory: PartitionReaderFactory): Seq[Shape] =
    parts.toSeq.map { p =>
      val chunks = scala.collection.mutable.Set.empty[Chunk]
      val r = factory.createColumnarReader(p)
      try {
        while (r.next()) {
          val b = r.get()
          var i = 0
          while (i < b.numRows()) {
            chunks += ((b.column(0).getLong(i) / 4, b.column(1).getLong(i) / 4))
            i += 1
          }
        }
      } finally r.close()
      val key = p match {
        case k: HasPartitionKey => Option(k.partitionKey())
          .map(row => (0 until row.numFields).map(row.getLong))
        case _ => None
      }
      (chunks.toSet, key)
    }

  private def shapes(s: Scan): Seq[Shape] =
    drain(s.toBatch.planInputPartitions(), s.toBatch.createReaderFactory())

  private def keyed(s: Scan): Boolean =
    s.asInstanceOf[MdioScan].outputPartitioning().isInstanceOf[KeyGroupedPartitioning]

  private def box(r0: Long, r1: Long, c0: Long, c1: Long): Set[Chunk] =
    (for { r <- r0 to r1; c <- c0 to c1 } yield (r, c)).toSet

  /** Flat C-order chunks [s, e) of a box with `width` chunk columns. */
  private def flat(s: Int, e: Int, width: Int, r0: Long = 0L, c0: Long = 0L): Set[Chunk] =
    (s until e).map(f => (r0 + f / width, c0 + f % width)).toSet

  /** Unkeyed plans pin chunk sets only: a one-chunk partition may carry
    * its ordinals as a key whether or not the scan reports keys. */
  private def chunkSets(s: Scan): Seq[Set[Chunk]] = shapes(s).map(_._1)

  private def unkeyed(sets: Set[Chunk]*): Seq[Shape] = sets.map(s => (s, None))

  private def withKeyed[A](extra: (String, String)*)(body: => A): A =
    GraftSession.withConfs(spark)(
      (Seq("spark.graft.scan.keyedPartitions" -> "true") ++ extra): _*)(body)

  /** Keyed shapes compare as sets: a runtime regroup has no planned order. */
  private def sameKeyed(got: Seq[Shape], want: Seq[Shape]): Unit = {
    assert(got.size == want.size, s"${got.size} partitions, want ${want.size}: $got")
    assert(got.toSet == want.toSet, s"got $got\nwant $want")
  }

  test("full unpruned scan: defaultParallelism C-order ranges") {
    val s = scan()
    assert(!keyed(s))
    assert(chunkSets(s) == (0 until 4).map(k => flat(8 * k, 8 * k + 8, 4)))
  }

  test("dim slice: ranges over the clamped chunk box") {
    // inline [6, 21) -> chunk rows 1..5; crossline [2, 9) -> chunk cols 0..2:
    // 15 chunks, 4 per task
    val s = scan(Map("inline" -> (6L, 21L), "crossline" -> (2L, 9L)))
    assert(chunkSets(s) ==
      Seq(flat(0, 4, 3, 1), flat(4, 8, 3, 1), flat(8, 12, 3, 1), flat(12, 15, 3, 1)))
  }

  test("value-stat pruning: runs of surviving chunks") {
    // v <= 450 keeps chunk cols 0 and 1 (min 0 + 4r and 400 + 4r)
    val s = built(Array(LessThanOrEqual("v", 450.0)))
    assert(chunkSets(s) == (0L until 8L).map(r => box(r, r, 0, 1)))
  }

  test("dim top-N: whole slabs of the sort dim, one chunk per partition") {
    // ascending crossline, k = 40: chunk col 0 holds 8 x 16 = 128 cells
    assert(chunkSets(scan(topN = Some(("crossline", false, 40)))) ==
      (0L until 8L).map(r => box(r, r, 0, 0)))
    // descending inline, k = 100: slabs 7 then 6, 64 cells each
    assert(chunkSets(scan(topN = Some(("inline", true, 100)))) ==
      Seq(7L, 6L).flatMap(r => (0L until 4L).map(c => box(r, r, c, c))))
  }

  test("value top-N: chunks that can hold a top-k row") {
    // DESC k = 20: guaranteed minima of col 3 reach k at 1224; every col-3
    // chunk's max reaches it, no col-2 chunk's does
    assert(chunkSets(scan(topNValue = Some(("v", true, 20)))) ==
      (0L until 8L).map(r => box(r, r, 3, 3)))
  }

  test("limit: C-order chunks until the cell count is covered") {
    assert(chunkSets(scan(limitCells = Some(40))) ==
      Seq(box(0, 0, 0, 0), box(0, 0, 1, 1), box(0, 0, 2, 2)))
  }

  test("static IN: only the chunks holding the listed values") {
    assert(chunkSets(scan(staticIn = Map("inline" -> Array(5L, 30L)))) ==
      Seq(1L, 7L).flatMap(r => (0L until 4L).map(c => box(r, r, c, c))))
  }

  test("runtime IN via sel's semi-join: only the selected chunk row") {
    val df: DataFrame = graft.operators.MdioDataset.open(spark, dir)
      .sel("inline", lit(50.0)).data // inline__value 50 -> inline 5 -> chunk row 1
    assert(df.collect().length == 16)
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.readSchema().fieldNames.contains("v") => b.scan
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    assert(chunkSets(scans.head) == (0L until 4L).map(c => box(1, 1, c, c)))
  }

  test("chunkKeys allowlist: exactly the listed in-box chunks, key-sorted") {
    val s = scan(chunkKeys = Some(Seq("3.1", "0.2", "3.1", "9.9")))
    assert(chunkSets(s) == Seq(box(0, 0, 2, 2), box(3, 3, 1, 1)))
  }

  test("keyed per-chunk: one partition per chunk, keyed by its ordinals") {
    withKeyed() {
      val s = scan()
      assert(keyed(s))
      sameKeyed(shapes(s),
        box(0, 7, 0, 3).toSeq.map { case (r, c) => (Set((r, c)), Some(Seq(r, c))) })
    }
  }

  test("keyed groupFactor 2: leading-dim pairs under one key") {
    withKeyed("spark.graft.scan.keyedPartitions.groupFactor" -> "2") {
      val s = scan()
      assert(keyed(s))
      sameKeyed(shapes(s), (for { g <- 0L until 4L; c <- 0L until 4L } yield
        (box(2 * g, 2 * g + 1, c, c), Some(Seq(g, c)))))
    }
  }

  test("keyed groupFactor 1,2: trailing-dim pairs under one key") {
    withKeyed("spark.graft.scan.keyedPartitions.groupFactor" -> "1,2") {
      val s = scan()
      sameKeyed(shapes(s), (for { r <- 0L until 8L; g <- 0L until 2L } yield
        (box(r, r, 2 * g, 2 * g + 1), Some(Seq(r, g)))))
    }
  }

  test("keyed groupFactor auto: the smallest coarsening under the ceiling") {
    // 8 x 4 chunks over ceiling 8: inline doubles twice -> factors (4, 1)
    withKeyed("spark.graft.scan.keyedPartitions.groupFactor" -> "auto",
        "spark.graft.scan.keyedPartitions.max" -> "8") {
      val s = scan()
      assert(keyed(s))
      sameKeyed(shapes(s), (for { g <- 0L until 2L; c <- 0L until 4L } yield
        (box(4 * g, 4 * g + 3, c, c), Some(Seq(g, c)))))
    }
  }

  test("keyed grouped with pruning: groups keep only surviving members") {
    withKeyed("spark.graft.scan.keyedPartitions.groupFactor" -> "2") {
      val s = built(Array(LessThanOrEqual("v", 450.0)))
      assert(keyed(s))
      sameKeyed(shapes(s), (for { g <- 0L until 4L; c <- 0L until 2L } yield
        (box(2 * g, 2 * g + 1, c, c), Some(Seq(g, c)))))
    }
  }

  test("keyed over the ceiling: falls back to unkeyed ranges") {
    val ranges = unkeyed((0 until 4).map(k => flat(8 * k, 8 * k + 8, 4)): _*)
    withKeyed("spark.graft.scan.keyedPartitions.max" -> "4") {
      val s = scan()
      assert(!keyed(s))
      assert(shapes(s) == ranges)
    }
    withKeyed("spark.graft.scan.keyedPartitions.max" -> "4",
        "spark.graft.scan.keyedPartitions.groupFactor" -> "2") {
      val s = scan()
      assert(!keyed(s))
      assert(shapes(s) == ranges)
    }
  }

  test("keyed with runtime IN: survivors keep their key space") {
    withKeyed() {
      val s = scan()
      assert(keyed(s))
      s.filter(inIn("inline", 3L, 30L))
      sameKeyed(shapes(s), (for { r <- Seq(0L, 7L); c <- 0L until 4L } yield
        (Set((r, c)), Some(Seq(r, c)))))
    }
    withKeyed("spark.graft.scan.keyedPartitions.groupFactor" -> "2") {
      val s = scan()
      assert(keyed(s))
      s.filter(inIn("inline", 3L, 30L))
      // chunk rows 0 and 7 -> groups 0 and 3, one member chunk each
      sameKeyed(shapes(s), (for { r <- Seq(0L, 7L); c <- 0L until 4L } yield
        (Set((r, c)), Some(Seq(r / 2, c)))))
    }
  }

  test("one streaming micro-batch: one partition per present chunk") {
    val stream = new MdioMicroBatchStream(dir, dims, metas, schema,
      Map("crossline" -> (0L, 6L)))
    val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
    val got = drain(parts, stream.createReaderFactory()).map(_._1)
    assert(got == box(0, 7, 0, 1).toSeq.sorted.map(Set(_)))
  }
}
