package graft.sources

import graft.{GraftSession, SparkSpec}
import graft.spec.MdioSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** STORAGE-PARTITIONED JOINS between co-gridded MDIO stores (the seismic
  * attribute-fusion pattern at 100 TB: two cubes on one survey grid,
  * neither broadcastable, a shuffle would move both corpora whole): with
  * `spark.graft.scan.keyedPartitions=true` the scan plans one partition
  * per chunk carrying its chunk ordinals as the partition key and reports
  * `KeyGroupedPartitioning` over the catalog `chunk_<size>(dim)` transforms,
  * so Spark's storage-partitioned join zips the two sides' chunk groups
  * task-by-task — ZERO exchanges in the joined plan. */
class MdioCopartitionSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.mdio_spj", "graft.sources.MdioCatalog")

  private def create(valueVar: String): String = {
    val dir = Files.createTempDirectory("mdio_spj").resolve(s"$valueVar.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      s"""{
         |  "metadata": {"name": "$valueVar", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
         |  "variables": [
         |    {"name": "inline", "dataType": "int64",
         |     "dimensions": [{"name": "inline", "size": 32}]},
         |    {"name": "crossline", "dataType": "int64",
         |     "dimensions": [{"name": "crossline", "size": 8}]},
         |    {"name": "$valueVar", "dataType": "float64",
         |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
         |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
         |  ]
         |}""".stripMargin), dir)
    dir
  }

  private def withSpjConfs[A](body: => A): A =
    GraftSession.withConfs(spark)(
      "spark.graft.scan.keyedPartitions" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body) // -1: force a real join

  test("co-gridded catalog tables join with zero exchanges, exact results") {
    val dirA = create("image")
    val dirB = create("weight")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 8 + $"crossline"),
      dirA, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", ($"inline" + $"crossline") % 5),
      dirB, "weight")
    withSpjConfs {
      val a = spark.table(s"mdio_spj.`$dirA`")
      val b = spark.table(s"mdio_spj.`$dirB`")
      val joined = a.join(b, Seq("inline", "crossline"))
        .select($"inline", $"crossline", ($"image" * $"weight").as("iw"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must plan ZERO exchanges:\n${plan.take(1500)}")
      assert(plan.contains("Join"), plan.take(800))
      val got = joined.as[(Long, Long, Double)].collect()
      assert(got.length == 256)
      got.foreach { case (i, x, iw) =>
        assert(iw == (i * 8 + x).toDouble * ((i + x) % 5).toDouble, s"cell ($i,$x)")
      }
    }
    // same join WITHOUT the opt-in: answers identical, shuffles present —
    // the switch changes the plan, never the result
    val aOff = spark.table(s"mdio_spj.`$dirA`")
    val bOff = spark.table(s"mdio_spj.`$dirB`")
    val offJoin = aOff.join(bOff, Seq("inline", "crossline"))
      .select(sum($"image" * $"weight").cast("long").as("t"))
    val expected = cells.map { case (i, x) => (i * 8 + x) * ((i + x) % 5) }.sum
    assert(offJoin.head.getLong(0) == expected)
    MdioWriter.delete(dirA); MdioWriter.delete(dirB)
  }

  test("keyed mode makes full-dim-tuple aggregation shuffle-free (per-trace fold)") {
    val dir = create("image")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 2 + $"crossline"),
      dir, "image")
    withSpjConfs {
      // grouping on the FULL dim tuple: every group lives inside one chunk
      // partition (the keys functionally determine the chunk ordinals), so
      // the aggregation needs no exchange — the per-trace stacking fold
      val g = spark.table(s"mdio_spj.`$dir`")
        .groupBy($"inline", $"crossline").agg(sum($"image").as("t"))
      val plan = g.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1200))
      assert(g.count() == 256)
      // grouping on the LEADING dim alone does NOT satisfy the chunk keys
      // (crossline ordinal missing) — Spark must, and does, shuffle
      val g2 = spark.table(s"mdio_spj.`$dir`").groupBy($"inline").agg(sum($"image"))
      assert(g2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(g2.count() == 32)
    }
    MdioWriter.delete(dir)
  }

  test("keyed scan feeds a bare sink write (store-to-store ETL)") {
    val src = create("image")
    val dst = create("image")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 7 + $"crossline"),
      src, "image")
    // a keyed scan (one partition per chunk) straight into the sink: the
    // owner shuffle re-routes its cells, and every one lands
    withSpjConfs {
      spark.table(s"mdio_spj.`$src`").withColumn("image", $"image" + 1000.0)
        .write.format("mdio").mode("append").save(dst)
    }
    val got = spark.read.format("mdio").load(dst)
      .select("inline", "crossline", "image").as[(Long, Long, Double)].collect()
    assert(got.length == 256)
    got.foreach { case (i, x, v) => assert(v == (i * 7 + x + 1000).toDouble, s"($i,$x)") }
    MdioWriter.delete(src); MdioWriter.delete(dst)
  }

  test("compatible-but-different chunk grids join shuffle-free via chunk reducers") {
    // same 32×8 domain, DIFFERENT chunkings: [8,4] vs [16,8] — the finer
    // side's ordinals reduce onto the coarser grid (SizedChunkBound's
    // ReducibleFunction), so the join still plans zero exchanges
    def createChunked(valueVar: String, ci: Int, cx: Int): String = {
      val dir = Files.createTempDirectory("mdio_spjr").resolve(s"$valueVar.mdio").toString
      MdioWriter.create(MdioSpec.fromJson(
        s"""{
           |  "metadata": {"name": "$valueVar", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
           |  "variables": [
           |    {"name": "inline", "dataType": "int64",
           |     "dimensions": [{"name": "inline", "size": 32}]},
           |    {"name": "crossline", "dataType": "int64",
           |     "dimensions": [{"name": "crossline", "size": 8}]},
           |    {"name": "$valueVar", "dataType": "float64",
           |     "dimensions": [{"name": "inline", "size": 32}, {"name": "crossline", "size": 8}],
           |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [$ci, $cx]}}}}
           |  ]
           |}""".stripMargin), dir)
      dir
    }
    val fine = createChunked("image", 8, 4)
    val coarse = createChunked("weight", 16, 8)
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 8 + $"crossline"),
      fine, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", ($"inline" * $"crossline") % 7),
      coarse, "weight")
    withSpjConfs {
      spark.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      try {
        val joined = spark.table(s"mdio_spj.`$fine`")
          .join(spark.table(s"mdio_spj.`$coarse`"), Seq("inline", "crossline"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"compatible-grid join must plan zero exchanges:\n${plan.take(1500)}")
        val got = joined.select($"inline", $"crossline", ($"image" * $"weight").as("iw"))
          .as[(Long, Long, Double)].collect()
        assert(got.length == 256)
        got.foreach { case (i, x, iw) =>
          assert(iw == (i * 8 + x).toDouble * ((i * x) % 7).toDouble, s"($i,$x)") }
      } finally
        spark.conf.unset("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
    }
    MdioWriter.delete(fine); MdioWriter.delete(coarse)
  }

  test("keyed partition ceiling: over the cap the scan falls back to coalesced ranges") {
    val dirA = create("image")
    val dirB = create("weight")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 3 + $"crossline"),
      dirA, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", ($"inline" - $"crossline") % 4),
      dirB, "weight")
    def joinPlan(): (String, Long) = {
      val joined = spark.table(s"mdio_spj.`$dirA`")
        .join(spark.table(s"mdio_spj.`$dirB`"), Seq("inline", "crossline"))
      (joined.queryExecution.executedPlan.toString, joined.count())
    }
    withSpjConfs {
      // the 32×8 / [8,4] grid holds 8 chunks; cap at 4 → keyed mode must
      // decline LOUDLY into the coalesced plan: the join shuffles, the
      // driver never materializes one partition object per chunk
      spark.conf.set("spark.graft.scan.keyedPartitions.max", "4")
      try {
        import org.apache.spark.sql.util.CaseInsensitiveStringMap
        val parts = MdioTable(dirA, None)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toBatch.planInputPartitions()
        assert(parts.forall { case r: MdioChunkRun => r.key == null && r.extents.toSeq == Seq(4L, 2L) },
          s"over-ceiling keyed scan must plan unkeyed coalesced ranges, got " +
            parts.mkString(","))
        val (plan, n) = joinPlan()
        assert(plan.contains("Exchange"),
          "over-ceiling fallback should shuffle (coalesced ranges carry no keys)")
        assert(n == 256L) // the ceiling changes the plan, never the result
      } finally spark.conf.unset("spark.graft.scan.keyedPartitions.max")
      // at-or-under the ceiling the zero-exchange plan is untouched
      spark.conf.set("spark.graft.scan.keyedPartitions.max", "8")
      try {
        val (plan, n) = joinPlan()
        assert(!plan.contains("Exchange"), plan.take(1200))
        assert(n == 256L)
      } finally spark.conf.unset("spark.graft.scan.keyedPartitions.max")
    }
    MdioWriter.delete(dirA); MdioWriter.delete(dirB)
  }

  test("grouped keys keep the storage-partitioned join under the partition ceiling") {
    val dirA = create("image")
    val dirB = create("weight")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 5 + $"crossline"),
      dirA, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", ($"inline" + $"crossline" * 2) % 3),
      dirB, "weight")
    withSpjConfs {
      // 8 chunks > ceiling 4, but groupFactor 2 coarsens the leading key to
      // chunk_16(inline): 2 lead-groups × 2 crossline chunks = 4 partitions
      spark.conf.set("spark.graft.scan.keyedPartitions.max", "4")
      spark.conf.set("spark.graft.scan.keyedPartitions.groupFactor", "2")
      try {
        import org.apache.spark.sql.util.CaseInsensitiveStringMap
        val parts = MdioTable(dirA, None)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toBatch.planInputPartitions()
        assert(parts.length == 4, s"expected 4 grouped partitions, got ${parts.length}")
        assert(parts.forall { case r: MdioChunkRun => r.factors.toSeq == Seq(2L, 1L) },
          parts.mkString(","))
        // the grouped scan reads every cell exactly once
        val all = spark.read.format("mdio").load(dirA)
          .select($"inline", $"crossline", $"image").as[(Long, Long, Double)].collect()
        assert(all.length == 256)
        all.foreach { case (i, x, v) => assert(v == (i * 5 + x).toDouble, s"($i,$x)") }
        // and the join still plans ZERO exchanges on the coarsened keys
        val joined = spark.table(s"mdio_spj.`$dirA`")
          .join(spark.table(s"mdio_spj.`$dirB`"), Seq("inline", "crossline"))
          .select($"inline", $"crossline", ($"image" * $"weight").as("iw"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"grouped-key join must stay exchange-free:\n${plan.take(1500)}")
        val got = joined.as[(Long, Long, Double)].collect()
        assert(got.length == 256)
        got.foreach { case (i, x, iw) =>
          assert(iw == (i * 5 + x).toDouble * ((i + x * 2) % 3).toDouble, s"($i,$x)")
        }
        // runtime (join-driven) IN-filter replanning must stay in the SAME
        // coarsened key space: surviving chunks regroup into lead groups
        import org.apache.spark.sql.connector.expressions.Expressions
        import org.apache.spark.sql.connector.expressions.filter.Predicate
        val scan2 = MdioTable(dirA, None)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toBatch.asInstanceOf[MdioScan]
        scan2.filter(Array(new Predicate("IN", Array(
          Expressions.column("inline"),
          Expressions.literal(3L), Expressions.literal(30L)))))
        val parts2 = scan2.planInputPartitions()
        assert(parts2.forall { case r: MdioChunkRun => r.factors.toSeq == Seq(2L, 1L) },
          parts2.mkString(","))
        // inline 3 → chunk 0 (group 0); inline 30 → chunk 3 (group 1); × 2
        // crossline chunks each = 4 group partitions of one member chunk
        assert(parts2.length == 4, s"got ${parts2.length}")
        assert(parts2.map(_.asInstanceOf[MdioChunkRun].chunkCount).forall(_ == 1L))
      } finally {
        spark.conf.unset("spark.graft.scan.keyedPartitions.max")
        spark.conf.unset("spark.graft.scan.keyedPartitions.groupFactor")
      }
    }
    MdioWriter.delete(dirA); MdioWriter.delete(dirB)
  }

  test("trailing-dim group factors keep the join exchange-free under the ceiling") {
    // a store whose chunk count lives in the TRAILING dim (r13 verdict #3):
    // leading-only coarsening can't get under the ceiling, per-dim factors
    // can — groupFactor "1,2" groups crossline pairs: 4 × 1 = 4 partitions
    val dirA = create("image")
    val dirB = create("weight")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" * 3 + $"crossline"),
      dirA, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", ($"inline" * $"crossline") % 7),
      dirB, "weight")
    withSpjConfs {
      spark.conf.set("spark.graft.scan.keyedPartitions.max", "4")
      spark.conf.set("spark.graft.scan.keyedPartitions.groupFactor", "1,2")
      try {
        import org.apache.spark.sql.util.CaseInsensitiveStringMap
        val parts = MdioTable(dirA, None)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toBatch.planInputPartitions()
        assert(parts.length == 4, s"expected 4 trailing-grouped partitions, got ${parts.length}")
        assert(parts.forall { case r: MdioChunkRun => r.factors.toSeq == Seq(1L, 2L) },
          parts.mkString(","))
        // the grouped scan reads every cell exactly once
        val all = spark.read.format("mdio").load(dirA)
          .select($"inline", $"crossline", $"image").as[(Long, Long, Double)].collect()
        assert(all.length == 256)
        all.foreach { case (i, x, v) => assert(v == (i * 3 + x).toDouble, s"($i,$x)") }
        // and the join plans ZERO exchanges on chunk_8(inline), chunk_8(crossline)
        val joined = spark.table(s"mdio_spj.`$dirA`")
          .join(spark.table(s"mdio_spj.`$dirB`"), Seq("inline", "crossline"))
          .select($"inline", $"crossline", ($"image" * $"weight").as("iw"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"trailing-grouped join must stay exchange-free:\n${plan.take(1500)}")
        val got = joined.as[(Long, Long, Double)].collect()
        assert(got.length == 256)
        got.foreach { case (i, x, iw) =>
          assert(iw == (i * 3 + x).toDouble * ((i * x) % 7).toDouble, s"($i,$x)")
        }
      } finally {
        spark.conf.unset("spark.graft.scan.keyedPartitions.max")
        spark.conf.unset("spark.graft.scan.keyedPartitions.groupFactor")
      }
    }
    MdioWriter.delete(dirA); MdioWriter.delete(dirB)
  }

  test("groupFactor=auto derives the smallest coarsening that fits the ceiling") {
    val dirA = create("image")
    val dirB = create("weight")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" + $"crossline" * 2),
      dirA, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", ($"inline" - $"crossline") % 4),
      dirB, "weight")
    withSpjConfs {
      // 4×2 chunk grid over ceiling 4: auto doubles the dim with the most
      // groups (inline: 4) once → factors (2,1), 2×2 = 4 groups
      spark.conf.set("spark.graft.scan.keyedPartitions.max", "4")
      spark.conf.set("spark.graft.scan.keyedPartitions.groupFactor", "auto")
      try {
        import org.apache.spark.sql.util.CaseInsensitiveStringMap
        val parts = MdioTable(dirA, None)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toBatch.planInputPartitions()
        assert(parts.length == 4, s"got ${parts.length}")
        assert(parts.head.asInstanceOf[MdioChunkRun].factors.toSeq == Seq(2L, 1L))
        // equal-geometry sides derive equal factors: the join still zips
        val joined = spark.table(s"mdio_spj.`$dirA`")
          .join(spark.table(s"mdio_spj.`$dirB`"), Seq("inline", "crossline"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), plan.take(1500))
        assert(joined.count() == 256L)
      } finally {
        spark.conf.unset("spark.graft.scan.keyedPartitions.max")
        spark.conf.unset("spark.graft.scan.keyedPartitions.groupFactor")
      }
    }
    MdioWriter.delete(dirA); MdioWriter.delete(dirB)
  }

  test("auto factors survive runtime IN-filter replanning in the same key space") {
    // auto derives from the STATIC chunk box, which a runtime IN-set never
    // changes — so a join-driven replan must regroup survivors under the
    // SAME factors (different factors would silently break the declared
    // chunk_<G_i*size_i> transforms mid-query)
    val dirA = create("image")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" + $"crossline"),
      dirA, "image")
    withSpjConfs {
      spark.conf.set("spark.graft.scan.keyedPartitions.max", "4")
      spark.conf.set("spark.graft.scan.keyedPartitions.groupFactor", "auto")
      try {
        import org.apache.spark.sql.util.CaseInsensitiveStringMap
        import org.apache.spark.sql.connector.expressions.Expressions
        import org.apache.spark.sql.connector.expressions.filter.Predicate
        val scan = MdioTable(dirA, None)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toBatch.asInstanceOf[MdioScan]
        val factors0 = scan.planInputPartitions()
          .head.asInstanceOf[MdioChunkRun].factors.toSeq
        assert(factors0 == Seq(2L, 1L))
        scan.filter(Array(new Predicate("IN", Array(
          Expressions.column("inline"),
          Expressions.literal(3L), Expressions.literal(30L)))))
        val parts2 = scan.planInputPartitions()
        assert(parts2.nonEmpty && parts2.forall(_.asInstanceOf[MdioChunkRun].key != null))
        assert(parts2.map(_.asInstanceOf[MdioChunkRun].factors.toSeq)
          .forall(_ == factors0),
          "replanned factors drifted out of the declared key space")
        // inline 3 → chunk 0 (group 0); 30 → chunk 3 (group 1); ×2 crossline
        assert(parts2.length == 4)
        assert(parts2.map(_.asInstanceOf[MdioChunkRun].chunkCount).forall(_ == 1L))
      } finally {
        spark.conf.unset("spark.graft.scan.keyedPartitions.max")
        spark.conf.unset("spark.graft.scan.keyedPartitions.groupFactor")
      }
    }
    MdioWriter.delete(dirA)
  }

  test("keyed mode composes with pushed dim slices (matching boxes on both sides)") {
    val dirA = create("image")
    val dirB = create("weight")
    val cells = for { i <- 0L until 32L; x <- 0L until 8L } yield (i, x)
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("image", $"inline" + $"crossline"),
      dirA, "image")
    MdioWriter.writeVariable(spark,
      cells.toDF("inline", "crossline").withColumn("weight", $"inline" - $"crossline"),
      dirB, "weight")
    withSpjConfs {
      val a = spark.table(s"mdio_spj.`$dirA`").filter($"inline" >= 8 && $"inline" < 24)
      val b = spark.table(s"mdio_spj.`$dirB`").filter($"inline" >= 8 && $"inline" < 24)
      val joined = a.join(b, Seq("inline", "crossline"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1500))
      assert(joined.count() == 16L * 8L)
    }
    MdioWriter.delete(dirA); MdioWriter.delete(dirB)
  }
}
