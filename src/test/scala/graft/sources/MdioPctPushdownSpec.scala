package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** PERCENTILE_CONT / PERCENTILE_DISC aggregate pushdown (A-family
  * extension, r17): `median(v)` and the WITHIN-GROUP percentile forms
  * route into the exact quantile-by-pruning rank machinery
  * ([[graft.operators.MdioStats.kthSmallest]]) as a COMPLETE pushdown —
  * the optimized plan is a bare relation, no Spark-side aggregate, and
  * the answer must be BIT-identical to Spark's own Percentile (the CONT
  * interpolation replicates PercentileBase's double arithmetic). Every
  * semantics-risking shape must DECLINE: possible NaN (Spark ranks NaN
  * greatest; the rank machinery ranks finite cells), dim-range filters
  * (ranks are global), grouping, descending order, stale stats. */
class MdioPctPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def create(values: Long => Double, dtype: String = "float64"): String = {
    val dir = Files.createTempDirectory("mdio_pct").resolve("s.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      s"""{
         |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
         |  "variables": [
         |    {"name": "x", "dataType": "int64",
         |     "dimensions": [{"name": "x", "size": 64}]},
         |    {"name": "v", "dataType": "$dtype",
         |     "dimensions": [{"name": "x", "size": 64}],
         |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8]}}}}
         |  ]
         |}""".stripMargin), dir)
    val fn = udf(values.apply _)
    val vcol = if (dtype.startsWith("float")) fn($"id") else fn($"id").cast("long")
    MdioWriter.writeVariable(spark,
      spark.range(64).select($"id".as("x"), vcol.as("v")), dir, "v")
    dir
  }

  private def aggDF(dir: String): DataFrame =
    spark.read.format("mdio").load(dir).agg(
      median(col("v")).as("med"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90"),
      expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v)").as("p25"),
      expr("percentile_disc(1.0) WITHIN GROUP (ORDER BY v)").as("p100"))

  private def pushed(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan.toString
    plan.contains("vpct") && !plan.contains("Aggregate")
  }

  /** Seq equality where NaN == NaN (boxed-double == is numeric). */
  private def sameSeq(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
      case (x, y) => x == y
    }

  private def sparkSide(vs: Seq[Double]): Seq[Any] =
    vs.toDF("v").agg(
      median(col("v")),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)"),
      expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v)"),
      expr("percentile_disc(1.0) WITHIN GROUP (ORDER BY v)")).head.toSeq

  test("median/percentile push down completely and match Spark bit-for-bit") {
    // odd-ish distribution with ties across chunk boundaries
    val vals = (0 until 64).map(i => ((i * 7) % 13).toDouble)
    val dir = create(i => vals(i.toInt))
    val df = aggDF(dir)
    assert(pushed(df), df.queryExecution.optimizedPlan.toString)
    assert(df.head.toSeq == sparkSide(vals), "pushed percentile diverged")
    MdioWriter.delete(dir)
  }

  test("integral columns push down; result is double like Spark's") {
    val vals = (0 until 64).map(i => ((i * 11) % 17).toDouble)
    val dir = create(i => vals(i.toInt), dtype = "int32")
    val df = aggDF(dir)
    assert(pushed(df), df.queryExecution.optimizedPlan.toString)
    assert(df.head.toSeq ==
      vals.map(_.toLong).toDF("v").agg(
        median(col("v")),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)"),
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v)"),
        expr("percentile_disc(1.0) WITHIN GROUP (ORDER BY v)")).head.toSeq)
    MdioWriter.delete(dir)
  }

  test("possible NaN declines the pushdown; Spark's NaN-is-greatest answer stands") {
    val vals = (0 until 64).map(i => if (i % 9 == 4) Double.NaN else i.toDouble)
    val dir = create(i => vals(i.toInt))
    val df = aggDF(dir)
    assert(!pushed(df), df.queryExecution.optimizedPlan.toString)
    assert(sameSeq(df.head.toSeq, sparkSide(vals)))
    MdioWriter.delete(dir)
  }

  test("grouped (slab) percentiles push down and match Spark's groupBy") {
    val vals = (0 until 64).map(i => ((i * 7) % 13).toDouble)
    val dir = create(i => vals(i.toInt))
    val base = spark.read.format("mdio").load(dir)
    val df = base.groupBy(floor($"x" / 16).as("slab")).agg(
      median($"v").as("med"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90"),
      max($"v").as("mx")) // mixed with a metadata-answered agg
    assert(pushed(df), df.queryExecution.optimizedPlan.toString)
    val got = df.orderBy("slab").collect().map(_.toSeq).toSeq
    val want = vals.zipWithIndex.map { case (v, x) => (v, x.toLong) }
      .toDF("v", "x")
      .groupBy(floor($"x" / 16).as("slab")).agg(
        median($"v"), expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)"),
        max($"v"))
      .orderBy("slab").collect().map(_.toSeq).toSeq
    assert(got == want, s"got $got want $want")
    // a slab width that splits chunks declines (boxRanks needs whole
    // chunks per box) but stays correct through Spark's aggregate
    val dfm = base.groupBy(floor($"x" / 12).as("slab")).agg(median($"v").as("m"))
    assert(!pushed(dfm))
    assert(dfm.orderBy("slab").collect().map(_.toSeq).toSeq ==
      vals.zipWithIndex.map { case (v, x) => (v, x.toLong) }.toDF("v", "x")
        .groupBy(floor($"x" / 12).as("slab")).agg(median($"v"))
        .orderBy("slab").collect().map(_.toSeq).toSeq)
    MdioWriter.delete(dir)
  }

  test("u64 (decimal) columns push down; ranking stays decimal-exact past 2^63") {
    val dir = Files.createTempDirectory("mdio_pct").resolve("u.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "u", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "x", "dataType": "int64",
        |     "dimensions": [{"name": "x", "size": 64}]},
        |    {"name": "u", "dataType": "uint64",
        |     "dimensions": [{"name": "x", "size": 64}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8]}}}}
        |  ]
        |}""".stripMargin), dir)
    val twoTo63 = BigDecimal("9223372036854775808")
    MdioWriter.writeVariable(spark,
      spark.range(64).select($"id".as("x"),
        ($"id".cast("decimal(21,0)") + lit(twoTo63)).cast("decimal(20,0)").as("u")),
      dir, "u")
    val df = spark.read.format("mdio").load(dir).agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY u)").as("q1"),
      median(col("u")).as("med"))
    assert(pushed(df), df.queryExecution.optimizedPlan.toString)
    val plain = (0 until 64).map(i => (twoTo63 + i).underlying).toDF("u").agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY u)"),
      median(col("u"))).head
    assert(df.head.toSeq == plain.toSeq)
    MdioWriter.delete(dir)
  }

  test("2-D tile grouping pushes down: GROUP BY two slab dims") {
    val dir = Files.createTempDirectory("mdio_pct").resolve("t.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "t", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 16}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 8}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 16}, {"name": "crossline", "size": 8}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 4]}}}}
        |  ]
        |}""".stripMargin), dir)
    val cells = spark.range(16).select($"id".as("inline"))
      .crossJoin(spark.range(8).select($"id".as("crossline")))
      .select($"inline", $"crossline",
        (($"inline" * 3 + $"crossline" * 7) % 11).cast("double").as("v"))
    MdioWriter.writeVariable(spark, cells, dir, "v")
    val df = spark.read.format("mdio").load(dir)
      .groupBy(floor($"inline" / 8).as("ti"), floor($"crossline" / 4).as("tj"))
      .agg(median($"v").as("med"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)").as("p75"))
    assert(pushed(df), df.queryExecution.optimizedPlan.toString)
    val got = df.orderBy("ti", "tj").collect().map(_.toSeq).toSeq
    val want = cells
      .groupBy(floor($"inline" / 8).as("ti"), floor($"crossline" / 4).as("tj"))
      .agg(median($"v"), expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)"))
      .orderBy("ti", "tj").collect().map(_.toSeq).toSeq
    assert(got == want, s"got $got want $want")
    MdioWriter.delete(dir)
  }

  test("group counts past the driver-state cap decline; Spark's distributed aggregate answers") {
    val vals = (0 until 64).map(i => ((i * 5) % 19).toDouble)
    val dir = create(i => vals(i.toInt))
    val base = spark.read.format("mdio").load(dir)
    def slabbed(df: DataFrame) = df.groupBy(floor($"x" / 8).as("slab"))
      .agg(median($"v").as("med"), max($"v").as("mx"))
    val want = vals.zipWithIndex.map { case (v, x) => (v, x.toLong) }
      .toDF("v", "x")
      .groupBy(floor($"x" / 8).as("slab")).agg(median($"v"), max($"v"))
      .orderBy("slab").collect().map(_.toSeq).toSeq
    // 8 slabs clear the default cap: the whole Aggregate pushes
    val in = slabbed(base)
    assert(pushed(in), in.queryExecution.optimizedPlan.toString)
    assert(in.orderBy("slab").collect().map(_.toSeq).toSeq == want)
    // a cap below the slab count declines BOTH grouped pushdown forms
    // (percentile bracket state AND the metadata slab rows share the
    // driver-state bound) — and the answer is identical through Spark's
    // fully distributed aggregate
    spark.conf.set("spark.graft.mdio.maxPushedGroups", "7")
    try {
      val out = slabbed(base)
      assert(!pushed(out), out.queryExecution.optimizedPlan.toString)
      assert(out.orderBy("slab").collect().map(_.toSeq).toSeq == want)
      val stats = base.groupBy(floor($"x" / 8).as("slab")).agg(max($"v").as("mx"))
      assert(stats.queryExecution.optimizedPlan.toString.contains("Aggregate"),
        "slabRows ignored the shared group cap")
      assert(stats.orderBy("slab").collect().map(_.getDouble(1)).toSeq ==
        vals.grouped(8).map(_.max).toSeq)
    } finally spark.conf.unset("spark.graft.mdio.maxPushedGroups")
    // cap restored: the pushdown comes back
    assert(pushed(slabbed(base)))
    MdioWriter.delete(dir)
  }

  test("chunk-aligned dim slices push down; the ranks are the slice's own") {
    val vals = (0 until 64).map(i => ((i * 7) % 13).toDouble)
    val dir = create(i => vals(i.toInt))
    val base = spark.read.format("mdio").load(dir)
    def sliceAgg(df: DataFrame) = df.agg(
      median(col("v")).as("med"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90"),
      expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v)").as("p25"))
    def sparkSlice(lo: Int, hi: Int) = sliceAgg(
      vals.slice(lo, hi).toDF("v")).head.toSeq
    // one-sided and two-sided aligned slices (chunk size 8) push and
    // match Spark bit-for-bit over the sliced values
    val oneSided = sliceAgg(base.filter($"x" >= 8))
    assert(pushed(oneSided), oneSided.queryExecution.optimizedPlan.toString)
    assert(oneSided.head.toSeq == sparkSlice(8, 64), "sliced percentile diverged")
    val twoSided = sliceAgg(base.filter($"x" >= 16 && $"x" < 40))
    assert(pushed(twoSided), twoSided.queryExecution.optimizedPlan.toString)
    assert(twoSided.head.toSeq == sparkSlice(16, 40))
    // a misaligned slice declines (a straddling chunk's stats interval
    // mixes in- and out-of-box cells) but answers exactly through Spark
    val mis = sliceAgg(base.filter($"x" >= 5))
    assert(!pushed(mis), mis.queryExecution.optimizedPlan.toString)
    assert(mis.head.toSeq == sparkSlice(5, 64))
    MdioWriter.delete(dir)
  }

  test("a sliced pushed median reads only the box's chunks") {
    val vals = (0 until 64).map(i => ((i * 11) % 29).toDouble)
    val dir = create(i => vals(i.toInt))
    val df = spark.read.format("mdio").load(dir)
      .filter($"x" >= 16 && $"x" < 48)
      .agg(median($"v").as("med"))
    assert(pushed(df), df.queryExecution.optimizedPlan.toString)
    val before = MdioColumnarReader.chunkReads.get()
    assert(df.head.getDouble(0) ==
      vals.slice(16, 48).toDF("v").agg(median($"v")).head.getDouble(0))
    val reads = MdioColumnarReader.chunkReads.get() - before
    // the box is 4 of the 8 chunks; probe + window scans may each visit a
    // box chunk once — NEVER an out-of-box chunk (a full-variable pass
    // would cost up to 16 visits)
    assert(reads <= 8L, s"sliced pushed median read $reads chunk-visits")
    MdioWriter.delete(dir)
  }

  test("NaN-freeness for a sliced percentile need only hold over the box") {
    // NaN in chunk 0 only: the FULL-variable percentile must decline, a
    // chunk-aligned slice excluding chunk 0 still pushes — and both match
    // Spark's own answers
    val vals = (0 until 64).map(i => if (i == 2) Double.NaN else ((i * 3) % 11).toDouble)
    val dir = create(i => vals(i.toInt))
    val base = spark.read.format("mdio").load(dir)
    assert(!pushed(base.agg(median($"v").as("m"))))
    val boxed = base.filter($"x" >= 8).agg(median($"v").as("med"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90"))
    assert(pushed(boxed), boxed.queryExecution.optimizedPlan.toString)
    assert(boxed.head.toSeq ==
      vals.drop(8).toDF("v").agg(median($"v"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)")).head.toSeq)
    // a slice CONTAINING the NaN chunk declines; Spark's NaN-is-greatest
    // semantics stand
    val tainted = base.filter($"x" < 8).agg(median($"v").as("m"))
    assert(!pushed(tainted))
    assert(sameSeq(tainted.head.toSeq,
      Seq(vals.take(8).toDF("v").agg(median($"v")).head.get(0))))
    MdioWriter.delete(dir)
  }

  test("2-D slices: lead-dim windows and trailing-dim cuts both push down") {
    val dir = Files.createTempDirectory("mdio_pct").resolve("s2.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "s2", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "inline", "dataType": "int64",
        |     "dimensions": [{"name": "inline", "size": 16}]},
        |    {"name": "crossline", "dataType": "int64",
        |     "dimensions": [{"name": "crossline", "size": 8}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "inline", "size": 16}, {"name": "crossline", "size": 8}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [4, 4]}}}}
        |  ]
        |}""".stripMargin), dir)
    val cells = spark.range(16).select($"id".as("inline"))
      .crossJoin(spark.range(8).select($"id".as("crossline")))
      .select($"inline", $"crossline",
        (($"inline" * 5 + $"crossline" * 3) % 17).cast("double").as("v"))
    MdioWriter.writeVariable(spark, cells, dir, "v")
    val base = spark.read.format("mdio").load(dir)
    def agg2(df: DataFrame) = df.agg(median(col("v")).as("med"),
      expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY v)").as("p75"))
    // lead-dim window (trailing dims full): the O(manifest) proof path
    val lead = agg2(base.filter($"inline" >= 4 && $"inline" < 12))
    assert(pushed(lead), lead.queryExecution.optimizedPlan.toString)
    assert(lead.head.toSeq ==
      agg2(cells.filter($"inline" >= 4 && $"inline" < 12).select($"v")).head.toSeq)
    // trailing-dim cut: every intersecting shard opens (budgeted) — the
    // per-chunk box proof
    val trail = agg2(base.filter($"crossline" < 4))
    assert(pushed(trail), trail.queryExecution.optimizedPlan.toString)
    assert(trail.head.toSeq ==
      agg2(cells.filter($"crossline" < 4).select($"v")).head.toSeq)
    // both dims cut
    val both = agg2(base.filter($"inline" >= 8 && $"crossline" >= 4))
    assert(pushed(both), both.queryExecution.optimizedPlan.toString)
    assert(both.head.toSeq ==
      agg2(cells.filter($"inline" >= 8 && $"crossline" >= 4).select($"v")).head.toSeq)
    // grouped tiles over a cropped survey: both slabs are CLIPPED by the
    // slice and rank their surviving cells under absolute slab ids
    val tiles = base.filter($"inline" >= 4 && $"inline" < 12)
      .groupBy(floor($"inline" / 8).as("ti")).agg(median($"v").as("med"))
    assert(pushed(tiles), tiles.queryExecution.optimizedPlan.toString)
    assert(tiles.orderBy("ti").collect().map(_.toSeq).toSeq ==
      cells.filter($"inline" >= 4 && $"inline" < 12)
        .groupBy(floor($"inline" / 8).as("ti")).agg(median($"v"))
        .orderBy("ti").collect().map(_.toSeq).toSeq)
    MdioWriter.delete(dir)
  }

  test("a concurrent stats republish mid-query retries once and answers") {
    val vals = (0 until 64).map(i => ((i * 7) % 13).toDouble)
    val dir = create(i => vals(i.toInt))
    val base = spark.read.format("mdio").load(dir)
    val varDir = ZarrMeta.path(dir).resolve("v")
    // a pure generation bump: republish one EXISTING entry unchanged when
    // the rank path has already pinned its manifest — the shard file
    // rewrites at the next generation and reads as torn against the
    // pinned one, the IllegalStateException the retry absorbs (no cell
    // changed, so the fresh manifest answers identically)
    val entries = MdioChunkStats.current(varDir).get
    val k = entries.keys.min
    def armRace(): Unit =
      graft.operators.MdioStats.manifestRaceHook = () => {
        graft.operators.MdioStats.manifestRaceHook = () => ()
        MdioChunkStats.refresh(varDir, Map(k -> entries(k)))
      }
    val before = MdioAggScan.statsRaceRetries.get
    armRace()
    try {
      val df = base.groupBy(floor($"x" / 16).as("slab")).agg(median($"v").as("m"))
      assert(pushed(df), df.queryExecution.optimizedPlan.toString)
      val got = df.orderBy("slab").collect().map(_.toSeq).toSeq
      val want = vals.zipWithIndex.map { case (v, x) => (v, x.toLong) }
        .toDF("v", "x").groupBy(floor($"x" / 16).as("slab")).agg(median($"v"))
        .orderBy("slab").collect().map(_.toSeq).toSeq
      assert(got == want, s"got $got want $want")
      assert(MdioAggScan.statsRaceRetries.get == before + 1,
        "the grouped rank path did not retry against the fresh manifest")
    } finally graft.operators.MdioStats.manifestRaceHook = () => ()
    // the ungrouped path is the same rank pass over one group: the same
    // race throws and retries once against the fresh manifest
    armRace()
    try {
      val df = base.agg(median($"v").as("med"))
      assert(pushed(df), df.queryExecution.optimizedPlan.toString)
      assert(df.head.getDouble(0) ==
        vals.toDF("v").agg(median($"v")).head.getDouble(0))
      assert(MdioAggScan.statsRaceRetries.get == before + 2,
        "the ungrouped rank path did not retry against the fresh manifest")
    } finally graft.operators.MdioStats.manifestRaceHook = () => ()
    MdioWriter.delete(dir)
  }

  test("only the tagged race signature retries; other failures stay loud on first throw") {
    // a plain IllegalStateException (geometry re-assert, genuinely stale
    // stats) must propagate WITHOUT a second execution of the body —
    // retrying a query that can only fail again doubles its cost (r19)
    val before = MdioAggScan.statsRaceRetries.get
    var runs = 0
    val e = intercept[IllegalStateException] {
      MdioAggScan.retryStatsRace("plain failure") {
        runs += 1
        throw new IllegalStateException("geometry changed under the plan")
      }
    }
    assert(!e.isInstanceOf[MdioAggScan.StatsRaceException])
    assert(runs == 1, s"non-race failure re-executed ($runs runs)")
    assert(MdioAggScan.statsRaceRetries.get == before,
      "non-race failure counted as a stats-race retry")
    // the tagged signature retries exactly once, then stays loud
    var raceRuns = 0
    intercept[MdioAggScan.StatsRaceException] {
      MdioAggScan.retryStatsRace("persistent race") {
        raceRuns += 1
        throw new MdioAggScan.StatsRaceException("still torn")
      }
    }
    assert(raceRuns == 2, s"race signature should retry once ($raceRuns runs)")
    assert(MdioAggScan.statsRaceRetries.get == before + 1)
  }

  test("grouped percentiles over a chunk-aligned slice push down; group ids stay absolute") {
    val vals = (0 until 64).map(i => ((i * 7) % 13).toDouble)
    val dir = create(i => vals(i.toInt))
    val base = spark.read.format("mdio").load(dir)
    def want(lo: Int) = vals.zipWithIndex.drop(lo)
      .map { case (v, x) => (v, x.toLong) }.toDF("v", "x")
      .groupBy(floor($"x" / 16).as("g"))
      .agg(median($"v"), expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY v)"),
        max($"v"), count(lit(1)))
      .orderBy("g").collect().map(_.toSeq).toSeq
    // aligned slice + slab grouping: the whole Aggregate pushes —
    // percentiles through the boxed rank pass MIXED with metadata slab
    // aggregates (max/count over the clipped slabs); the FIRST slab is
    // clipped by the slice (x in [8,16) of slab 0) and must rank and
    // aggregate exactly its surviving cells under its ABSOLUTE group id
    val gs = base.filter($"x" >= 8).groupBy(floor($"x" / 16).as("g"))
      .agg(median($"v").as("m"),
        expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY v)").as("p80"),
        max($"v").as("mx"), count(lit(1)).as("n"))
    assert(pushed(gs), gs.queryExecution.optimizedPlan.toString)
    assert(gs.orderBy("g").collect().map(_.toSeq).toSeq == want(8))
    // a misaligned slice under the same grouping declines but stays right
    val mis = base.filter($"x" >= 5).groupBy(floor($"x" / 16).as("g"))
      .agg(median($"v").as("m"),
        expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY v)").as("p80"),
        max($"v").as("mx"), count(lit(1)).as("n"))
    assert(!pushed(mis), mis.queryExecution.optimizedPlan.toString)
    assert(mis.orderBy("g").collect().map(_.toSeq).toSeq == want(5))
    // the direct API composes the same way: per-slab quantiles of a slice
    val q = graft.operators.MdioStats.quantilesByBox(spark, dir, "v",
      Seq(0.5), Seq(16L), ranges = Map("x" -> (16L, 48L)))
    assert(!q.fallback, "sliced quantilesByBox fell back")
    val brute = vals.zipWithIndex.slice(16, 48).groupBy(_._2 / 16).map {
      case (g, cells) =>
        val sorted = cells.map(_._1).sorted
        (g.toLong, sorted((sorted.size + 1) / 2 - 1), sorted.size.toLong)
    }.toSeq.sortBy(_._1)
    assert(q.result.orderBy("g_x").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSeq == brute,
      q.result.collect().mkString("\n"))
    MdioWriter.delete(dir)
  }

  test("non-slab grouping, descending order, and stale stats all decline") {
    val dir = create(_.toDouble)
    val base = spark.read.format("mdio").load(dir)
    assert(!pushed(base.groupBy(($"x" % 2).as("g")).agg(median($"v").as("m"))))
    assert(!pushed(base.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v DESC)").as("m"))))
    MdioChunkStats.bump(ZarrMeta.path(dir).resolve("v")) // stale sidecar
    assert(!pushed(base.agg(median($"v").as("m"))))
    assert(base.agg(median($"v")).head.getDouble(0) == 31.5)
    assert(!pushed(base.filter($"x" >= 8).agg(median($"v").as("m"))))
    assert(base.filter($"x" >= 8).agg(median($"v")).head.getDouble(0) == 35.5)
    MdioWriter.delete(dir)
  }
}
