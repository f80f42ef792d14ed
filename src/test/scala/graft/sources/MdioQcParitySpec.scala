package graft.sources

import graft.SparkSpec
import graft.operators.MdioStats
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Parity pins for the direct QC operators over the fixtures the other
  * QC specs build: clean, NaN, stale, resharded `span = 1`, transposed
  * all-overlap, aligned window, misaligned window, union windows, over
  * the probe cap and over the entry budget. On each fixture:
  *   - `kthSmallest(k)` equals `valuesAtRanks(Seq(k))` in value, `jobs`,
  *     `scannedChunks` and `fallback`;
  *   - the shard-file opens (`MdioChunkStats.shardReadCount`) and scan
  *     nodes built (`MdioScan.scanBuilds`) of every other call are
  *     pinned, lazy result frames collected inside the count;
  *   - the whole result of `extremaLocation`, `extremaByBox`,
  *     `countInRangeByBox` and `quantilesByBox` is pinned, rows included.
  * The pinned text is one line per call, so a drift names its fixture
  * and operator. */
class MdioQcParitySpec extends SparkSpec {
  import spark.implicits._

  /** 1-D store: x of 64 cells in chunks of 8, v = f(x) as float64. */
  private def store(values: Long => Double): String = {
    val dir = Files.createTempDirectory("mdio_parity").resolve("s.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "x", "dataType": "int64",
        |     "dimensions": [{"name": "x", "size": 64}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "x", "size": 64}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8]}}}}
        |  ]
        |}""".stripMargin), dir)
    val fn = udf(values.apply _)
    MdioWriter.writeVariable(spark,
      spark.range(64).select($"id".as("x"), fn($"id").as("v")), dir, "v")
    dir
  }

  /** 2-D store: x 64 × y 16 in 8 × 8 chunks (an 8 × 2 chunk grid). */
  private def store2d(): String = {
    val dir = Files.createTempDirectory("mdio_parity").resolve("b.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "b", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "x", "dataType": "int64", "dimensions": [{"name": "x", "size": 64}]},
        |    {"name": "y", "dataType": "int64", "dimensions": [{"name": "y", "size": 16}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "x", "size": 64}, {"name": "y", "size": 16}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 8]}}}}
        |  ]
        |}""".stripMargin), dir)
    MdioWriter.writeVariable(spark,
      spark.range(64 * 16).select(($"id" / 16).cast("long").as("x"),
        ($"id" % 16).as("y"),
        ((($"id" / 16).cast("long") * 16 + $"id" % 16) * 7 % 23).cast("double").as("v")),
      dir, "v")
    dir
  }

  private def varDir(dir: String) = ZarrMeta.path(dir).resolve("v")

  private def respan(dir: String): String = {
    MdioChunkStats.write(varDir(dir), MdioChunkStats.generation(varDir(dir)),
      MdioChunkStats.current(varDir(dir)).get, span = 1)
    dir
  }

  private def rowsOf(df: DataFrame): String =
    df.columns.mkString(",") + " " +
      df.collect().map(_.toSeq.mkString("(", ",", ")")).sorted.mkString("")

  /** One call's pinned line: its rendered result, then the shard files it
    * opened and the scan nodes it built (result frames collected inside). */
  private def pin(label: String)(call: => String): String = {
    val s0 = MdioChunkStats.shardReadCount.get()
    val b0 = MdioScan.scanBuilds.get()
    val out = call
    s"$label $out shards=${MdioChunkStats.shardReadCount.get() - s0} " +
      s"scans=${MdioScan.scanBuilds.get() - b0}"
  }

  private def withBudget[T](budget: Option[Int])(body: => T): T = budget match {
    case None => body
    case Some(b) =>
      spark.conf.set("spark.graft.mdio.maxPushedGroups", b.toString)
      try body finally spark.conf.unset("spark.graft.mdio.maxPushedGroups")
  }

  /** A fixture's battery of calls. `groups` = None skips the grouped
    * operators (they take no union windows). */
  private final case class Battery(name: String, dir: String, k: Long,
                                   ranges: Map[String, (Long, Long)] = Map.empty,
                                   windows: Seq[Map[String, (Long, Long)]] = Nil,
                                   groups: Option[Seq[Long]] = Some(Seq(16L)),
                                   lo: Double = 4.0, hi: Double = 19.0,
                                   cap: Int = 512, maxGroups: Int = 1 << 16,
                                   budget: Option[Int] = None)

  private def run(b: Battery): Seq[String] = withBudget(b.budget) {
    import b._
    val kth = MdioStats.kthSmallest(spark, dir, "v", k, maxProbeChunks = cap,
      ranges = ranges, windows = windows)
    val q = MdioStats.valuesAtRanks(spark, dir, "v", Seq(k), maxProbeChunks = cap,
      ranges = ranges, windows = windows)
    assert(MdioStats.KthSmallest(q.values.head, q.jobs, q.scannedChunks, q.fallback) == kth,
      s"$name: kthSmallest($k) = $kth, valuesAtRanks = $q")
    val ungrouped = Seq(
      s"$name kth $kth",
      pin(s"$name ranks")(MdioStats.valuesAtRanks(spark, dir, "v", Seq(k),
        maxProbeChunks = cap, ranges = ranges, windows = windows).toString),
      pin(s"$name extremaLocation") {
        val r = MdioStats.extremaLocation(spark, dir, "v", ranges = ranges, windows = windows)
        s"${rowsOf(r.result)} scanned=${r.scannedChunks} fallback=${r.fallback}"
      })
    val grouped = groups.toSeq.flatMap { gs => Seq(
      pin(s"$name extremaByBox") {
        val r = MdioStats.extremaByBox(spark, dir, "v", gs, maxScanChunks = cap,
          maxGroups = maxGroups, ranges = ranges)
        s"${rowsOf(r.result)} scanned=${r.scannedChunks} fallback=${r.fallback}"
      },
      pin(s"$name countInRangeByBox") {
        val r = MdioStats.countInRangeByBox(spark, dir, "v", lo, hi, gs,
          maxScanChunks = cap, maxGroups = maxGroups, ranges = ranges)
        s"${rowsOf(r.result)} meta=${r.metadataChunks} outside=${r.outsideChunks} " +
          s"scanned=${r.scannedChunks} fallback=${r.fallback}"
      },
      pin(s"$name quantilesByBox") {
        val r = MdioStats.quantilesByBox(spark, dir, "v", Seq(0.25, 0.5, 1.0), gs,
          maxProbeChunks = cap, maxGroups = maxGroups, ranges = ranges)
        s"${rowsOf(r.result)} jobs=${r.jobs} scanned=${r.scannedChunks} fallback=${r.fallback}"
      })
    }
    ungrouped ++ grouped
  }

  private val transposed: Long => Double = x => ((x % 8) * 8 + x / 8).toDouble

  test("direct QC operators keep their results, counters and fallbacks on every fixture") {
    val clean = store(_.toDouble)
    val nan = store(x => if (x == 10) Double.NaN else x.toDouble)
    val stale = store(_.toDouble)
    MdioChunkStats.bump(varDir(stale))
    val span1 = respan(store(_.toDouble))
    val trans = store(transposed)
    val win = store(i => ((i * 11) % 23).toDouble)
    val union = store(i => ((i * 13) % 29).toDouble)
    val equal = respan(store(_ => 7.5))
    val twoD = store2d()
    val batteries = Seq(
      Battery("clean", clean, 21L),
      Battery("nan", nan, 21L),
      Battery("stale", stale, 21L),
      Battery("span1", span1, 21L),
      Battery("transposed", trans, 21L, lo = 2.0, hi = 40.0),
      Battery("aligned", win, 5L, ranges = Map("x" -> (16L, 48L)), lo = 5.0, hi = 15.0),
      Battery("misaligned", win, 5L, ranges = Map("x" -> (13L, 48L)), lo = 5.0, hi = 15.0),
      Battery("union", union, 5L,
        windows = Seq(Map("x" -> (0L, 16L)), Map("x" -> (32L, 48L))), groups = None),
      Battery("misgrouped", clean, 21L, groups = Some(Seq(12L))),
      Battery("probecap", trans, 21L, cap = 1, lo = 2.0, hi = 40.0),
      Battery("groupcap", clean, 21L, maxGroups = 1),
      Battery("walkbudget", twoD, 10L, ranges = Map("y" -> (0L, 8L)),
        groups = Some(Seq(16L, 16L)), lo = 5.0, hi = 15.0, budget = Some(8)),
      Battery("refinebudget", equal, 5L, groups = Some(Seq(64L)), lo = 7.0, hi = 8.0,
        budget = Some(4)))
    val got = batteries.flatMap(run).mkString("\n")
    Seq(clean, nan, stale, span1, trans, win, union, equal, twoD).foreach(MdioWriter.delete)
    assert(got == expected,
      s"parity drift:\n${got.split("\n").zipAll(expected.split("\n"), "", "")
        .collect { case (g, e) if g != e => s"  got  $g\n  want $e" }.mkString("\n")}")
  }

  private val expected: String =
    """clean kth KthSmallest(20.0,1,1,false)
    |clean ranks Quantiles(Vector(20.0),List(21),64,1,1,false) shards=1 scans=1
    |clean extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=1 scans=1
    |clean extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,15.0,15,16)(1,16.0,16,31.0,31,16)(2,32.0,32,47.0,47,16)(3,48.0,48,63.0,63,16) scanned=8 fallback=false shards=1 scans=1
    |clean countInRangeByBox g_x,cnt,n (0,12,16)(1,4,16)(2,0,16)(3,0,16) meta=1 outside=5 scanned=2 fallback=false shards=1 scans=1
    |clean quantilesByBox g_x,p,q,n (0,0.25,3.0,16)(0,0.5,7.0,16)(0,1.0,15.0,16)(1,0.25,19.0,16)(1,0.5,23.0,16)(1,1.0,31.0,16)(2,0.25,35.0,16)(2,0.5,39.0,16)(2,1.0,47.0,16)(3,0.25,51.0,16)(3,0.5,55.0,16)(3,1.0,63.0,16) jobs=1 scanned=8 fallback=false shards=1 scans=1
    |nan kth KthSmallest(21.0,1,1,false)
    |nan ranks Quantiles(Vector(21.0),List(21),63,1,1,false) shards=1 scans=1
    |nan extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=1 scans=1
    |nan extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,15.0,15,15)(1,16.0,16,31.0,31,16)(2,32.0,32,47.0,47,16)(3,48.0,48,63.0,63,16) scanned=8 fallback=false shards=1 scans=1
    |nan countInRangeByBox g_x,cnt,n (0,11,15)(1,4,16)(2,0,16)(3,0,16) meta=1 outside=5 scanned=2 fallback=false shards=1 scans=1
    |nan quantilesByBox g_x,p,q,n (0,0.25,3.0,15)(0,0.5,7.0,15)(0,1.0,15.0,15)(1,0.25,19.0,16)(1,0.5,23.0,16)(1,1.0,31.0,16)(2,0.25,35.0,16)(2,0.5,39.0,16)(2,1.0,47.0,16)(3,0.25,51.0,16)(3,0.5,55.0,16)(3,1.0,63.0,16) jobs=1 scanned=8 fallback=false shards=1 scans=1
    |stale kth KthSmallest(20.0,0,0,true)
    |stale ranks Quantiles(Vector(20.0),List(21),64,0,0,true) shards=0 scans=1
    |stale extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=0 fallback=true shards=0 scans=2
    |stale extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,15.0,15,16)(1,16.0,16,31.0,31,16)(2,32.0,32,47.0,47,16)(3,48.0,48,63.0,63,16) scanned=0 fallback=true shards=0 scans=2
    |stale countInRangeByBox g_x,cnt,n (0,12,16)(1,4,16)(2,0,16)(3,0,16) meta=0 outside=0 scanned=0 fallback=true shards=0 scans=1
    |stale quantilesByBox g_x,p,q,n (0,0.25,3.0,16)(0,0.5,7.0,16)(0,1.0,15.0,16)(1,0.25,19.0,16)(1,0.5,23.0,16)(1,1.0,31.0,16)(2,0.25,35.0,16)(2,0.5,39.0,16)(2,1.0,47.0,16)(3,0.25,51.0,16)(3,0.5,55.0,16)(3,1.0,63.0,16) jobs=0 scanned=0 fallback=true shards=0 scans=1
    |span1 kth KthSmallest(20.0,1,1,false)
    |span1 ranks Quantiles(Vector(20.0),List(21),64,1,1,false) shards=1 scans=1
    |span1 extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=2 scans=1
    |span1 extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,15.0,15,16)(1,16.0,16,31.0,31,16)(2,32.0,32,47.0,47,16)(3,48.0,48,63.0,63,16) scanned=8 fallback=false shards=8 scans=1
    |span1 countInRangeByBox g_x,cnt,n (0,12,16)(1,4,16)(2,0,16)(3,0,16) meta=1 outside=5 scanned=2 fallback=false shards=2 scans=1
    |span1 quantilesByBox g_x,p,q,n (0,0.25,3.0,16)(0,0.5,7.0,16)(0,1.0,15.0,16)(1,0.25,19.0,16)(1,0.5,23.0,16)(1,1.0,31.0,16)(2,0.25,35.0,16)(2,0.5,39.0,16)(2,1.0,47.0,16)(3,0.25,51.0,16)(3,0.5,55.0,16)(3,1.0,63.0,16) jobs=1 scanned=8 fallback=false shards=8 scans=1
    |transposed kth KthSmallest(20.0,2,10,false)
    |transposed ranks Quantiles(Vector(20.0),List(21),64,2,10,false) shards=1 scans=2
    |transposed extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=1 scans=1
    |transposed extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,57.0,15,16)(1,2.0,16,59.0,31,16)(2,4.0,32,61.0,47,16)(3,6.0,48,63.0,63,16) scanned=8 fallback=false shards=1 scans=1
    |transposed countInRangeByBox g_x,cnt,n (0,9,16)(1,10,16)(2,10,16)(3,10,16) meta=0 outside=0 scanned=8 fallback=false shards=1 scans=1
    |transposed quantilesByBox g_x,p,q,n (0,0.25,9.0,16)(0,0.5,25.0,16)(0,1.0,57.0,16)(1,0.25,11.0,16)(1,0.5,27.0,16)(1,1.0,59.0,16)(2,0.25,13.0,16)(2,0.5,29.0,16)(2,1.0,61.0,16)(3,0.25,15.0,16)(3,0.5,31.0,16)(3,1.0,63.0,16) jobs=2 scanned=12 fallback=false shards=1 scans=2
    |aligned kth KthSmallest(2.0,1,4,false)
    |aligned ranks Quantiles(Vector(2.0),List(5),32,1,4,false) shards=1 scans=1
    |aligned extremaLocation v_min,min_x,v_max,max_x (0.0,23,22.0,25) scanned=3 fallback=false shards=1 scans=1
    |aligned extremaByBox g_x,v_min,min_x,v_max,max_x,n (1,0.0,23,22.0,25,16)(2,0.0,46,18.0,33,16) scanned=4 fallback=false shards=1 scans=1
    |aligned countInRangeByBox g_x,cnt,n (1,8,16)(2,8,16) meta=0 outside=0 scanned=4 fallback=false shards=1 scans=1
    |aligned quantilesByBox g_x,p,q,n (1,0.25,3.0,16)(1,0.5,11.0,16)(1,1.0,22.0,16)(2,0.25,3.0,16)(2,0.5,7.0,16)(2,1.0,18.0,16) jobs=2 scanned=6 fallback=false shards=1 scans=2
    |misaligned kth KthSmallest(2.0,0,0,true)
    |misaligned ranks Quantiles(Vector(2.0),List(5),35,0,0,true) shards=0 scans=1
    |misaligned extremaLocation v_min,min_x,v_max,max_x (0.0,23,22.0,25) scanned=0 fallback=true shards=0 scans=2
    |misaligned extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,4.0,15,16.0,14,3)(1,0.0,23,22.0,25,16)(2,0.0,46,18.0,33,16) scanned=0 fallback=true shards=0 scans=2
    |misaligned countInRangeByBox g_x,cnt,n (0,1,3)(1,8,16)(2,8,16) meta=0 outside=0 scanned=0 fallback=true shards=0 scans=1
    |misaligned quantilesByBox g_x,p,q,n (0,0.25,4.0,3)(0,0.5,5.0,3)(0,1.0,16.0,3)(1,0.25,3.0,16)(1,0.5,11.0,16)(1,1.0,22.0,16)(2,0.25,3.0,16)(2,0.5,7.0,16)(2,1.0,18.0,16) jobs=0 scanned=0 fallback=true shards=0 scans=1
    |union kth KthSmallest(4.0,1,4,false)
    |union ranks Quantiles(Vector(4.0),List(5),32,1,4,false) shards=1 scans=1
    |union extremaLocation v_min,min_x,v_max,max_x (0.0,0,27.0,11) scanned=3 fallback=false shards=1 scans=1
    |misgrouped kth KthSmallest(20.0,1,1,false)
    |misgrouped ranks Quantiles(Vector(20.0),List(21),64,1,1,false) shards=1 scans=1
    |misgrouped extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=1 scans=1
    |misgrouped extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,11.0,11,12)(1,12.0,12,23.0,23,12)(2,24.0,24,35.0,35,12)(3,36.0,36,47.0,47,12)(4,48.0,48,59.0,59,12)(5,60.0,60,63.0,63,4) scanned=0 fallback=true shards=0 scans=2
    |misgrouped countInRangeByBox g_x,cnt,n (0,8,12)(1,8,12)(2,0,12)(3,0,12)(4,0,12)(5,0,4) meta=0 outside=0 scanned=0 fallback=true shards=0 scans=1
    |misgrouped quantilesByBox g_x,p,q,n (0,0.25,2.0,12)(0,0.5,5.0,12)(0,1.0,11.0,12)(1,0.25,14.0,12)(1,0.5,17.0,12)(1,1.0,23.0,12)(2,0.25,26.0,12)(2,0.5,29.0,12)(2,1.0,35.0,12)(3,0.25,38.0,12)(3,0.5,41.0,12)(3,1.0,47.0,12)(4,0.25,50.0,12)(4,0.5,53.0,12)(4,1.0,59.0,12)(5,0.25,60.0,4)(5,0.5,61.0,4)(5,1.0,63.0,4) jobs=0 scanned=0 fallback=true shards=0 scans=1
    |probecap kth KthSmallest(20.0,0,0,true)
    |probecap ranks Quantiles(Vector(20.0),List(21),64,0,0,true) shards=1 scans=1
    |probecap extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=1 scans=1
    |probecap extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,57.0,15,16)(1,2.0,16,59.0,31,16)(2,4.0,32,61.0,47,16)(3,6.0,48,63.0,63,16) scanned=0 fallback=true shards=1 scans=2
    |probecap countInRangeByBox g_x,cnt,n (0,9,16)(1,10,16)(2,10,16)(3,10,16) meta=0 outside=0 scanned=0 fallback=true shards=1 scans=1
    |probecap quantilesByBox g_x,p,q,n (0,0.25,9.0,16)(0,0.5,25.0,16)(0,1.0,57.0,16)(1,0.25,11.0,16)(1,0.5,27.0,16)(1,1.0,59.0,16)(2,0.25,13.0,16)(2,0.5,29.0,16)(2,1.0,61.0,16)(3,0.25,15.0,16)(3,0.5,31.0,16)(3,1.0,63.0,16) jobs=0 scanned=0 fallback=true shards=1 scans=1
    |groupcap kth KthSmallest(20.0,1,1,false)
    |groupcap ranks Quantiles(Vector(20.0),List(21),64,1,1,false) shards=1 scans=1
    |groupcap extremaLocation v_min,min_x,v_max,max_x (0.0,0,63.0,63) scanned=2 fallback=false shards=1 scans=1
    |groupcap extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,0.0,0,15.0,15,16)(1,16.0,16,31.0,31,16)(2,32.0,32,47.0,47,16)(3,48.0,48,63.0,63,16) scanned=0 fallback=true shards=0 scans=2
    |groupcap countInRangeByBox g_x,cnt,n (0,12,16)(1,4,16)(2,0,16)(3,0,16) meta=0 outside=0 scanned=0 fallback=true shards=0 scans=1
    |groupcap quantilesByBox g_x,p,q,n (0,0.25,3.0,16)(0,0.5,7.0,16)(0,1.0,15.0,16)(1,0.25,19.0,16)(1,0.5,23.0,16)(1,1.0,31.0,16)(2,0.25,35.0,16)(2,0.5,39.0,16)(2,1.0,47.0,16)(3,0.25,51.0,16)(3,0.5,55.0,16)(3,1.0,63.0,16) jobs=0 scanned=0 fallback=true shards=0 scans=4
    |walkbudget kth KthSmallest(0.0,0,0,true)
    |walkbudget ranks Quantiles(Vector(0.0),List(10),512,0,0,true) shards=0 scans=1
    |walkbudget extremaLocation v_min,min_x,min_y,v_max,max_x,max_y (0.0,0,0,22.0,2,4) scanned=0 fallback=true shards=0 scans=2
    |walkbudget extremaByBox g_x,g_y,v_min,min_x,min_y,v_max,max_x,max_y,n (0,0,0.0,0,0,22.0,2,4,128)(1,0,0.0,17,4,22.0,18,1,128)(2,0,0.0,33,1,22.0,32,7,128)(3,0,0.0,50,5,22.0,48,4,128) scanned=0 fallback=true shards=0 scans=2
    |walkbudget countInRangeByBox g_x,g_y,cnt,n (0,0,61,128)(1,0,61,128)(2,0,60,128)(3,0,61,128) meta=0 outside=0 scanned=0 fallback=true shards=0 scans=1
    |walkbudget quantilesByBox g_x,g_y,p,q,n (0,0,0.25,5.0,128)(0,0,0.5,11.0,128)(0,0,1.0,22.0,128)(1,0,0.25,5.0,128)(1,0,0.5,11.0,128)(1,0,1.0,22.0,128)(2,0,0.25,5.0,128)(2,0,0.5,11.0,128)(2,0,1.0,22.0,128)(3,0,0.25,5.0,128)(3,0,0.5,11.0,128)(3,0,1.0,22.0,128) jobs=0 scanned=0 fallback=true shards=0 scans=1
    |refinebudget kth KthSmallest(7.5,0,0,true)
    |refinebudget ranks Quantiles(Vector(7.5),List(5),64,0,0,true) shards=4 scans=1
    |refinebudget extremaLocation v_min,min_x,v_max,max_x (7.5,0,7.5,0) scanned=0 fallback=true shards=4 scans=2
    |refinebudget extremaByBox g_x,v_min,min_x,v_max,max_x,n (0,7.5,0,7.5,0,64) scanned=0 fallback=true shards=4 scans=2
    |refinebudget countInRangeByBox g_x,cnt,n (0,64,64) meta=8 outside=0 scanned=0 fallback=false shards=0 scans=0
    |refinebudget quantilesByBox g_x,p,q,n (0,0.25,7.5,64)(0,0.5,7.5,64)(0,1.0,7.5,64) jobs=0 scanned=0 fallback=true shards=4 scans=1""".stripMargin
}
