package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Parity pins for the metadata aggregate pushdown (`MdioAggScan`): on
  * int and float stores, sharded and legacy monolith sidecars, a NaN
  * chunk, a bounds-only (pre-moments) sidecar, a stale sidecar, an
  * integral SUM past Long, empty / chunk-aligned / misaligned slices and
  * a group-cap trip, every supported aggregate runs ungrouped and with
  * `GROUP BY FLOOR(x / 16)`. Each line pins whether `MdioAggScan` is in
  * the optimized plan and the result rows (sorted; an error renders as
  * its exception class), so a drift names its fixture, shape and
  * aggregate. */
class MdioAggParitySpec extends SparkSpec {
  import spark.implicits._

  /** 2-D store: x 32 × y 8 in 8 × 4 chunks (a 4 × 2 chunk grid), v of
    * `dtype` = f(x, y), its sidecar resharded to one lead per shard. */
  private def store(dtype: String, f: (Long, Long) => Double): String = {
    val dir = Files.createTempDirectory("mdio_aggparity").resolve("s.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      s"""{
        |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "x", "dataType": "int64", "dimensions": [{"name": "x", "size": 32}]},
        |    {"name": "y", "dataType": "int64", "dimensions": [{"name": "y", "size": 8}]},
        |    {"name": "v", "dataType": "$dtype",
        |     "dimensions": [{"name": "x", "size": 32}, {"name": "y", "size": 8}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 4]}}}}
        |  ]
        |}""".stripMargin), dir)
    val fn = udf((x: Long, y: Long) => f(x, y))
    val v = fn(($"id" / 8).cast("long"), $"id" % 8)
    MdioWriter.writeVariable(spark,
      spark.range(32 * 8).select(($"id" / 8).cast("long").as("x"), ($"id" % 8).as("y"),
        (if (dtype.startsWith("float")) v else v.cast(if (dtype == "int32") "int" else "long"))
          .as("v")),
      dir, "v")
    val vd = varDir(dir)
    MdioChunkStats.write(vd, MdioChunkStats.generation(vd), MdioChunkStats.current(vd).get,
      span = 1)
    dir
  }

  private def varDir(dir: String) = ZarrMeta.path(dir).resolve("v")

  /** The sidecar rewritten as a pre-shard monolith, moments kept. */
  private def monolith(dir: String): String = {
    val vd = varDir(dir)
    def num(b: BigDecimal) = b.underlying.toPlainString
    val body = MdioChunkStats.current(vd).get.toSeq.sortBy(_._1).map {
      case (k, None) => s""""$k": null"""
      case (k, Some(b)) =>
        val m = b.moments.get
        s""""$k": [${num(b.min)}, ${num(b.max)}, ${b.hasNaN}, ${m.cnt}, ${num(m.sum)}, """ +
          s"""${m.sumSq.map(num).getOrElse("null")}]"""
    }.mkString(", ")
    vd.resolve(MdioChunkStats.StatsFile).writeString(
      s"""{"generation": ${MdioChunkStats.generation(vd)}, "chunks": {$body}}""")
    dir
  }

  /** The sidecar with every entry's moments stripped (pre-moments format). */
  private def boundsOnly(dir: String): String = {
    val vd = varDir(dir)
    MdioChunkStats.write(vd, MdioChunkStats.generation(vd),
      MdioChunkStats.current(vd).get.map { case (k, e) => k -> e.map(_.copy(moments = None)) },
      span = 1)
    dir
  }

  private def stale(dir: String): String = { MdioChunkStats.bump(varDir(dir)); dir }

  private val aggs: Seq[(String, Seq[Column])] = Seq(
    "count(*)" -> Seq(count(lit(1))),
    "count(v)" -> Seq(count($"v")),
    "count(distinct y)" -> Seq(countDistinct($"y")),
    "min(x)" -> Seq(min($"x")),
    "max(x)" -> Seq(max($"x")),
    "sum(x)" -> Seq(sum($"x")),
    "min(v)" -> Seq(min($"v")),
    "max(v)" -> Seq(max($"v")),
    "sum(v)" -> Seq(sum($"v")),
    "avg(v)" -> Seq(avg($"v")),
    "var_pop(v)" -> Seq(var_pop($"v")),
    "var_samp(v)" -> Seq(var_samp($"v")),
    "stddev_pop(v)" -> Seq(stddev_pop($"v")),
    "stddev_samp(v)" -> Seq(stddev_samp($"v")),
    "median(v)" -> Seq(median($"v")),
    "percentile_disc(0.25)" -> Seq(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)")),
    "stats" -> Seq(count(lit(1)), min($"v"), max($"v"), sum($"v"), avg($"v")),
    "median+max" -> Seq(median($"v"), max($"v")))

  private def pushed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[MdioAggScan] => r
    }.isDefined

  private def rowsOf(df: DataFrame): String =
    try df.collect().map(_.toSeq.mkString("(", ",", ")")).sorted.mkString("")
    catch { case e: Exception => s"error=${e.getClass.getSimpleName}" }

  /** One fixture: a store, an optional slice, an optional group cap. */
  private final case class Fixture(name: String, dir: String, slice: Option[Column] = None,
                                   cap: Option[Int] = None)

  private def run(f: Fixture): Seq[String] = {
    f.cap.foreach(c => spark.conf.set("spark.graft.mdio.maxPushedGroups", c.toString))
    try {
      val base = f.slice.foldLeft(spark.read.format("mdio").load(f.dir))(_.filter(_))
      for ((label, cols) <- aggs; grouped <- Seq(false, true)) yield {
        val df =
          if (grouped) base.groupBy(floor($"x" / 16).as("g")).agg(cols.head, cols.tail: _*)
          else base.agg(cols.head, cols.tail: _*)
        s"${f.name} ${if (grouped) "grouped" else "ungrouped"} $label " +
          s"pushed=${pushed(df)} rows=${rowsOf(df)}"
      }
    } finally spark.conf.unset("spark.graft.mdio.maxPushedGroups")
  }

  test("metadata aggregates keep their pushdown and answers on every fixture") {
    val cell: (Long, Long) => Double = (x, y) => ((x * 8 + y) * 7 % 23 - 5).toDouble
    val quarter: (Long, Long) => Double = (x, y) => ((x * 8 + y) * 13 % 37) / 4.0 - 3.0
    val int = store("int32", cell)
    val float = store("float64", quarter)
    val nan = store("float64", (x, y) => if (x == 10 && y == 1) Double.NaN else quarter(x, y))
    val legacy = monolith(store("int64", cell))
    val bare = boundsOnly(store("float64", quarter))
    val old = stale(store("float64", quarter))
    val big = store("int64", (_, _) => (1L << 57).toDouble)
    val empty = $"x" >= 100
    val aligned = $"x" >= 8 && $"x" < 24
    val misaligned = $"x" >= 5 && $"x" < 24
    val fixtures = Seq(
      Fixture("int", int), Fixture("int-empty", int, Some(empty)),
      Fixture("int-aligned", int, Some(aligned)), Fixture("int-misaligned", int, Some(misaligned)),
      Fixture("float", float), Fixture("float-aligned", float, Some(aligned)),
      Fixture("float-misaligned", float, Some(misaligned)),
      Fixture("nan", nan), Fixture("nan-clean-slice", nan, Some($"x" >= 16 && $"x" < 32)),
      Fixture("legacy", legacy), Fixture("legacy-aligned", legacy, Some(aligned)),
      Fixture("bounds-only", bare), Fixture("stale", old), Fixture("sum-past-long", big),
      Fixture("group-cap", float, cap = Some(1)))
    val got = fixtures.flatMap(run).mkString("\n")
    Seq(int, float, nan, legacy, bare, old, big).foreach(MdioWriter.delete)
    assert(got == expected,
      s"parity drift:\n${got.split("\n").zipAll(expected.split("\n"), "", "")
        .collect { case (g, e) if g != e => s"  got  $g\n  want $e" }.mkString("\n")}")
  }

  private val expected: String =
    """int ungrouped count(*) pushed=true rows=(256)
    |int grouped count(*) pushed=true rows=(0,128)(1,128)
    |int ungrouped count(v) pushed=true rows=(256)
    |int grouped count(v) pushed=true rows=(0,128)(1,128)
    |int ungrouped count(distinct y) pushed=true rows=(8)
    |int grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |int ungrouped min(x) pushed=true rows=(0)
    |int grouped min(x) pushed=false rows=(0,0)(1,16)
    |int ungrouped max(x) pushed=true rows=(31)
    |int grouped max(x) pushed=false rows=(0,15)(1,31)
    |int ungrouped sum(x) pushed=true rows=(3968)
    |int grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |int ungrouped min(v) pushed=true rows=(-5)
    |int grouped min(v) pushed=true rows=(0,-5)(1,-5)
    |int ungrouped max(v) pushed=true rows=(17)
    |int grouped max(v) pushed=true rows=(0,17)(1,17)
    |int ungrouped sum(v) pushed=true rows=(1524)
    |int grouped sum(v) pushed=true rows=(0,757)(1,767)
    |int ungrouped avg(v) pushed=true rows=(5.953125)
    |int grouped avg(v) pushed=true rows=(0,5.9140625)(1,5.9921875)
    |int ungrouped var_pop(v) pushed=true rows=(44.052490234375)
    |int grouped var_pop(v) pushed=true rows=(0,44.00042724609375)(1,44.10150146484375)
    |int ungrouped var_samp(v) pushed=true rows=(44.22524509803922)
    |int grouped var_samp(v) pushed=true rows=(0,44.34688730314961)(1,44.44875738188976)
    |int ungrouped stddev_pop(v) pushed=true rows=(6.63720500168369)
    |int grouped stddev_pop(v) pushed=true rows=(0,6.63328178551867)(1,6.64089613417073)
    |int ungrouped stddev_samp(v) pushed=true rows=(6.650206395145884)
    |int grouped stddev_samp(v) pushed=true rows=(0,6.659345861505439)(1,6.666990129127968)
    |int ungrouped median(v) pushed=true rows=(6.0)
    |int grouped median(v) pushed=true rows=(0,6.0)(1,6.0)
    |int ungrouped percentile_disc(0.25) pushed=true rows=(0.0)
    |int grouped percentile_disc(0.25) pushed=true rows=(0,0.0)(1,0.0)
    |int ungrouped stats pushed=true rows=(256,-5,17,1524,5.953125)
    |int grouped stats pushed=true rows=(0,128,-5,17,757,5.9140625)(1,128,-5,17,767,5.9921875)
    |int ungrouped median+max pushed=true rows=(6.0,17)
    |int grouped median+max pushed=true rows=(0,6.0,17)(1,6.0,17)
    |int-empty ungrouped count(*) pushed=true rows=(0)
    |int-empty grouped count(*) pushed=true rows=
    |int-empty ungrouped count(v) pushed=true rows=(0)
    |int-empty grouped count(v) pushed=true rows=
    |int-empty ungrouped count(distinct y) pushed=true rows=(0)
    |int-empty grouped count(distinct y) pushed=false rows=
    |int-empty ungrouped min(x) pushed=true rows=(null)
    |int-empty grouped min(x) pushed=false rows=
    |int-empty ungrouped max(x) pushed=true rows=(null)
    |int-empty grouped max(x) pushed=false rows=
    |int-empty ungrouped sum(x) pushed=true rows=(null)
    |int-empty grouped sum(x) pushed=false rows=
    |int-empty ungrouped min(v) pushed=true rows=(null)
    |int-empty grouped min(v) pushed=true rows=
    |int-empty ungrouped max(v) pushed=true rows=(null)
    |int-empty grouped max(v) pushed=true rows=
    |int-empty ungrouped sum(v) pushed=true rows=(null)
    |int-empty grouped sum(v) pushed=true rows=
    |int-empty ungrouped avg(v) pushed=true rows=(null)
    |int-empty grouped avg(v) pushed=true rows=
    |int-empty ungrouped var_pop(v) pushed=true rows=(null)
    |int-empty grouped var_pop(v) pushed=true rows=
    |int-empty ungrouped var_samp(v) pushed=true rows=(null)
    |int-empty grouped var_samp(v) pushed=true rows=
    |int-empty ungrouped stddev_pop(v) pushed=true rows=(null)
    |int-empty grouped stddev_pop(v) pushed=true rows=
    |int-empty ungrouped stddev_samp(v) pushed=true rows=(null)
    |int-empty grouped stddev_samp(v) pushed=true rows=
    |int-empty ungrouped median(v) pushed=false rows=(null)
    |int-empty grouped median(v) pushed=false rows=
    |int-empty ungrouped percentile_disc(0.25) pushed=false rows=(null)
    |int-empty grouped percentile_disc(0.25) pushed=false rows=
    |int-empty ungrouped stats pushed=true rows=(0,null,null,null,null)
    |int-empty grouped stats pushed=true rows=
    |int-empty ungrouped median+max pushed=false rows=(null,null)
    |int-empty grouped median+max pushed=false rows=
    |int-aligned ungrouped count(*) pushed=true rows=(128)
    |int-aligned grouped count(*) pushed=true rows=(0,64)(1,64)
    |int-aligned ungrouped count(v) pushed=true rows=(128)
    |int-aligned grouped count(v) pushed=true rows=(0,64)(1,64)
    |int-aligned ungrouped count(distinct y) pushed=true rows=(8)
    |int-aligned grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |int-aligned ungrouped min(x) pushed=true rows=(8)
    |int-aligned grouped min(x) pushed=false rows=(0,8)(1,16)
    |int-aligned ungrouped max(x) pushed=true rows=(23)
    |int-aligned grouped max(x) pushed=false rows=(0,15)(1,23)
    |int-aligned ungrouped sum(x) pushed=true rows=(1984)
    |int-aligned grouped sum(x) pushed=false rows=(0,736)(1,1248)
    |int-aligned ungrouped min(v) pushed=true rows=(-5)
    |int-aligned grouped min(v) pushed=true rows=(0,-5)(1,-5)
    |int-aligned ungrouped max(v) pushed=true rows=(17)
    |int-aligned grouped max(v) pushed=true rows=(0,17)(1,17)
    |int-aligned ungrouped sum(v) pushed=true rows=(762)
    |int-aligned grouped sum(v) pushed=true rows=(0,374)(1,388)
    |int-aligned ungrouped avg(v) pushed=true rows=(5.953125)
    |int-aligned grouped avg(v) pushed=true rows=(0,5.84375)(1,6.0625)
    |int-aligned ungrouped var_pop(v) pushed=true rows=(43.982177734375)
    |int-aligned grouped var_pop(v) pushed=true rows=(0,43.0380859375)(1,44.90234375)
    |int-aligned ungrouped var_samp(v) pushed=true rows=(44.32849409448819)
    |int-aligned grouped var_samp(v) pushed=true rows=(0,43.72123015873016)(1,45.61507936507937)
    |int-aligned ungrouped stddev_pop(v) pushed=true rows=(6.631906040828308)
    |int-aligned grouped stddev_pop(v) pushed=true rows=(0,6.560341907057894)(1,6.700921112056163)
    |int-aligned ungrouped stddev_samp(v) pushed=true rows=(6.657964711117669)
    |int-aligned grouped stddev_samp(v) pushed=true rows=(0,6.612203124430628)(1,6.7538936447859)
    |int-aligned ungrouped median(v) pushed=true rows=(6.0)
    |int-aligned grouped median(v) pushed=true rows=(0,6.0)(1,6.0)
    |int-aligned ungrouped percentile_disc(0.25) pushed=true rows=(0.0)
    |int-aligned grouped percentile_disc(0.25) pushed=true rows=(0,0.0)(1,0.0)
    |int-aligned ungrouped stats pushed=true rows=(128,-5,17,762,5.953125)
    |int-aligned grouped stats pushed=true rows=(0,64,-5,17,374,5.84375)(1,64,-5,17,388,6.0625)
    |int-aligned ungrouped median+max pushed=true rows=(6.0,17)
    |int-aligned grouped median+max pushed=true rows=(0,6.0,17)(1,6.0,17)
    |int-misaligned ungrouped count(*) pushed=true rows=(152)
    |int-misaligned grouped count(*) pushed=true rows=(0,88)(1,64)
    |int-misaligned ungrouped count(v) pushed=true rows=(152)
    |int-misaligned grouped count(v) pushed=true rows=(0,88)(1,64)
    |int-misaligned ungrouped count(distinct y) pushed=true rows=(8)
    |int-misaligned grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |int-misaligned ungrouped min(x) pushed=true rows=(5)
    |int-misaligned grouped min(x) pushed=false rows=(0,5)(1,16)
    |int-misaligned ungrouped max(x) pushed=true rows=(23)
    |int-misaligned grouped max(x) pushed=false rows=(0,15)(1,23)
    |int-misaligned ungrouped sum(x) pushed=true rows=(2128)
    |int-misaligned grouped sum(x) pushed=false rows=(0,880)(1,1248)
    |int-misaligned ungrouped min(v) pushed=false rows=(-5)
    |int-misaligned grouped min(v) pushed=false rows=(0,-5)(1,-5)
    |int-misaligned ungrouped max(v) pushed=false rows=(17)
    |int-misaligned grouped max(v) pushed=false rows=(0,17)(1,17)
    |int-misaligned ungrouped sum(v) pushed=false rows=(899)
    |int-misaligned grouped sum(v) pushed=false rows=(0,511)(1,388)
    |int-misaligned ungrouped avg(v) pushed=false rows=(5.9144736842105265)
    |int-misaligned grouped avg(v) pushed=false rows=(0,5.806818181818182)(1,6.0625)
    |int-misaligned ungrouped var_pop(v) pushed=false rows=(44.01242209141274)
    |int-misaligned grouped var_pop(v) pushed=false rows=(0,43.337680785123965)(1,44.90234375)
    |int-misaligned ungrouped var_samp(v) pushed=false rows=(44.30389508539561)
    |int-misaligned grouped var_samp(v) pushed=false rows=(0,43.835815047021946)(1,45.61507936507937)
    |int-misaligned ungrouped stddev_pop(v) pushed=false rows=(6.634185865003538)
    |int-misaligned grouped stddev_pop(v) pushed=false rows=(0,6.58313609043015)(1,6.700921112056163)
    |int-misaligned ungrouped stddev_samp(v) pushed=false rows=(6.656117117764351)
    |int-misaligned grouped stddev_samp(v) pushed=false rows=(0,6.620862107537201)(1,6.7538936447859)
    |int-misaligned ungrouped median(v) pushed=false rows=(6.0)
    |int-misaligned grouped median(v) pushed=false rows=(0,6.0)(1,6.0)
    |int-misaligned ungrouped percentile_disc(0.25) pushed=false rows=(0.0)
    |int-misaligned grouped percentile_disc(0.25) pushed=false rows=(0,0.0)(1,0.0)
    |int-misaligned ungrouped stats pushed=false rows=(152,-5,17,899,5.9144736842105265)
    |int-misaligned grouped stats pushed=false rows=(0,88,-5,17,511,5.806818181818182)(1,64,-5,17,388,6.0625)
    |int-misaligned ungrouped median+max pushed=false rows=(6.0,17)
    |int-misaligned grouped median+max pushed=false rows=(0,6.0,17)(1,6.0,17)
    |float ungrouped count(*) pushed=true rows=(256)
    |float grouped count(*) pushed=true rows=(0,128)(1,128)
    |float ungrouped count(v) pushed=true rows=(256)
    |float grouped count(v) pushed=true rows=(0,128)(1,128)
    |float ungrouped count(distinct y) pushed=true rows=(8)
    |float grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |float ungrouped min(x) pushed=true rows=(0)
    |float grouped min(x) pushed=false rows=(0,0)(1,16)
    |float ungrouped max(x) pushed=true rows=(31)
    |float grouped max(x) pushed=false rows=(0,15)(1,31)
    |float ungrouped sum(x) pushed=true rows=(3968)
    |float grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |float ungrouped min(v) pushed=true rows=(-3.0)
    |float grouped min(v) pushed=true rows=(0,-3.0)(1,-3.0)
    |float ungrouped max(v) pushed=true rows=(6.0)
    |float grouped max(v) pushed=true rows=(0,6.0)(1,6.0)
    |float ungrouped sum(v) pushed=true rows=(380.0)
    |float grouped sum(v) pushed=true rows=(0,187.5)(1,192.5)
    |float ungrouped avg(v) pushed=true rows=(1.484375)
    |float grouped avg(v) pushed=true rows=(0,1.46484375)(1,1.50390625)
    |float ungrouped var_pop(v) pushed=true rows=(7.116943359375)
    |float grouped var_pop(v) pushed=true rows=(0,7.1120452880859375)(1,7.1210784912109375)
    |float ungrouped var_samp(v) pushed=true rows=(7.14485294117647)
    |float grouped var_samp(v) pushed=true rows=(0,7.16804564468504)(1,7.177149975393701)
    |float ungrouped stddev_pop(v) pushed=true rows=(2.6677599890872865)
    |float grouped stddev_pop(v) pushed=true rows=(0,2.6668418190972516)(1,2.6685348960077206)
    |float ungrouped stddev_samp(v) pushed=true rows=(2.6729857727224196)
    |float grouped stddev_samp(v) pushed=true rows=(0,2.6773206092444437)(1,2.679020338742075)
    |float ungrouped median(v) pushed=true rows=(1.5)
    |float grouped median(v) pushed=true rows=(0,1.5)(1,1.5)
    |float ungrouped percentile_disc(0.25) pushed=true rows=(-0.75)
    |float grouped percentile_disc(0.25) pushed=true rows=(0,-1.0)(1,-0.75)
    |float ungrouped stats pushed=true rows=(256,-3.0,6.0,380.0,1.484375)
    |float grouped stats pushed=true rows=(0,128,-3.0,6.0,187.5,1.46484375)(1,128,-3.0,6.0,192.5,1.50390625)
    |float ungrouped median+max pushed=true rows=(1.5,6.0)
    |float grouped median+max pushed=true rows=(0,1.5,6.0)(1,1.5,6.0)
    |float-aligned ungrouped count(*) pushed=true rows=(128)
    |float-aligned grouped count(*) pushed=true rows=(0,64)(1,64)
    |float-aligned ungrouped count(v) pushed=true rows=(128)
    |float-aligned grouped count(v) pushed=true rows=(0,64)(1,64)
    |float-aligned ungrouped count(distinct y) pushed=true rows=(8)
    |float-aligned grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |float-aligned ungrouped min(x) pushed=true rows=(8)
    |float-aligned grouped min(x) pushed=false rows=(0,8)(1,16)
    |float-aligned ungrouped max(x) pushed=true rows=(23)
    |float-aligned grouped max(x) pushed=false rows=(0,15)(1,23)
    |float-aligned ungrouped sum(x) pushed=true rows=(1984)
    |float-aligned grouped sum(x) pushed=false rows=(0,736)(1,1248)
    |float-aligned ungrouped min(v) pushed=true rows=(-3.0)
    |float-aligned grouped min(v) pushed=true rows=(0,-3.0)(1,-3.0)
    |float-aligned ungrouped max(v) pushed=true rows=(6.0)
    |float-aligned grouped max(v) pushed=true rows=(0,6.0)(1,6.0)
    |float-aligned ungrouped sum(v) pushed=true rows=(190.0)
    |float-aligned grouped sum(v) pushed=true rows=(0,99.0)(1,91.0)
    |float-aligned ungrouped avg(v) pushed=true rows=(1.484375)
    |float-aligned grouped avg(v) pushed=true rows=(0,1.546875)(1,1.421875)
    |float-aligned ungrouped var_pop(v) pushed=true rows=(7.137451171875)
    |float-aligned grouped var_pop(v) pushed=true rows=(0,6.952880859375)(1,7.314208984375)
    |float-aligned ungrouped var_samp(v) pushed=true rows=(7.19365157480315)
    |float-aligned grouped var_samp(v) pushed=true rows=(0,7.0632440476190474)(1,7.4303075396825395)
    |float-aligned ungrouped stddev_pop(v) pushed=true rows=(2.671600863129633)
    |float-aligned grouped stddev_pop(v) pushed=true rows=(0,2.636831594807488)(1,2.7044794294605015)
    |float-aligned ungrouped stddev_samp(v) pushed=true rows=(2.6820983529324853)
    |float-aligned grouped stddev_samp(v) pushed=true rows=(0,2.657676437721313)(1,2.725859046187557)
    |float-aligned ungrouped median(v) pushed=true rows=(1.5)
    |float-aligned grouped median(v) pushed=true rows=(0,1.625)(1,1.375)
    |float-aligned ungrouped percentile_disc(0.25) pushed=true rows=(-0.75)
    |float-aligned grouped percentile_disc(0.25) pushed=true rows=(0,-0.75)(1,-1.0)
    |float-aligned ungrouped stats pushed=true rows=(128,-3.0,6.0,190.0,1.484375)
    |float-aligned grouped stats pushed=true rows=(0,64,-3.0,6.0,99.0,1.546875)(1,64,-3.0,6.0,91.0,1.421875)
    |float-aligned ungrouped median+max pushed=true rows=(1.5,6.0)
    |float-aligned grouped median+max pushed=true rows=(0,1.625,6.0)(1,1.375,6.0)
    |float-misaligned ungrouped count(*) pushed=true rows=(152)
    |float-misaligned grouped count(*) pushed=true rows=(0,88)(1,64)
    |float-misaligned ungrouped count(v) pushed=true rows=(152)
    |float-misaligned grouped count(v) pushed=true rows=(0,88)(1,64)
    |float-misaligned ungrouped count(distinct y) pushed=true rows=(8)
    |float-misaligned grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |float-misaligned ungrouped min(x) pushed=true rows=(5)
    |float-misaligned grouped min(x) pushed=false rows=(0,5)(1,16)
    |float-misaligned ungrouped max(x) pushed=true rows=(23)
    |float-misaligned grouped max(x) pushed=false rows=(0,15)(1,23)
    |float-misaligned ungrouped sum(x) pushed=true rows=(2128)
    |float-misaligned grouped sum(x) pushed=false rows=(0,880)(1,1248)
    |float-misaligned ungrouped min(v) pushed=false rows=(-3.0)
    |float-misaligned grouped min(v) pushed=false rows=(0,-3.0)(1,-3.0)
    |float-misaligned ungrouped max(v) pushed=false rows=(6.0)
    |float-misaligned grouped max(v) pushed=false rows=(0,6.0)(1,6.0)
    |float-misaligned ungrouped sum(v) pushed=false rows=(222.25)
    |float-misaligned grouped sum(v) pushed=false rows=(0,131.25)(1,91.0)
    |float-misaligned ungrouped avg(v) pushed=false rows=(1.462171052631579)
    |float-misaligned grouped avg(v) pushed=false rows=(0,1.4914772727272727)(1,1.421875)
    |float-misaligned ungrouped var_pop(v) pushed=false rows=(7.166743312846258)
    |float-misaligned grouped var_pop(v) pushed=false rows=(0,7.057455772210742)(1,7.314208984374998)
    |float-misaligned ungrouped var_samp(v) pushed=false rows=(7.214205189090273)
    |float-misaligned grouped var_samp(v) pushed=false rows=(0,7.138575953500521)(1,7.430307539682538)
    |float-misaligned ungrouped stddev_pop(v) pushed=false rows=(2.677077382678031)
    |float-misaligned grouped stddev_pop(v) pushed=false rows=(0,2.6565872415960183)(1,2.704479429460501)
    |float-misaligned ungrouped stddev_samp(v) pushed=false rows=(2.685927249403876)
    |float-misaligned grouped stddev_samp(v) pushed=false rows=(0,2.671811361885513)(1,2.725859046187557)
    |float-misaligned ungrouped median(v) pushed=false rows=(1.5)
    |float-misaligned grouped median(v) pushed=false rows=(0,1.5)(1,1.375)
    |float-misaligned ungrouped percentile_disc(0.25) pushed=false rows=(-1.0)
    |float-misaligned grouped percentile_disc(0.25) pushed=false rows=(0,-1.0)(1,-1.0)
    |float-misaligned ungrouped stats pushed=false rows=(152,-3.0,6.0,222.25,1.462171052631579)
    |float-misaligned grouped stats pushed=false rows=(0,88,-3.0,6.0,131.25,1.4914772727272727)(1,64,-3.0,6.0,91.0,1.421875)
    |float-misaligned ungrouped median+max pushed=false rows=(1.5,6.0)
    |float-misaligned grouped median+max pushed=false rows=(0,1.5,6.0)(1,1.375,6.0)
    |nan ungrouped count(*) pushed=true rows=(256)
    |nan grouped count(*) pushed=true rows=(0,128)(1,128)
    |nan ungrouped count(v) pushed=true rows=(256)
    |nan grouped count(v) pushed=true rows=(0,128)(1,128)
    |nan ungrouped count(distinct y) pushed=true rows=(8)
    |nan grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |nan ungrouped min(x) pushed=true rows=(0)
    |nan grouped min(x) pushed=false rows=(0,0)(1,16)
    |nan ungrouped max(x) pushed=true rows=(31)
    |nan grouped max(x) pushed=false rows=(0,15)(1,31)
    |nan ungrouped sum(x) pushed=true rows=(3968)
    |nan grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |nan ungrouped min(v) pushed=true rows=(-3.0)
    |nan grouped min(v) pushed=true rows=(0,-3.0)(1,-3.0)
    |nan ungrouped max(v) pushed=true rows=(NaN)
    |nan grouped max(v) pushed=true rows=(0,NaN)(1,6.0)
    |nan ungrouped sum(v) pushed=true rows=(NaN)
    |nan grouped sum(v) pushed=true rows=(0,NaN)(1,192.5)
    |nan ungrouped avg(v) pushed=true rows=(NaN)
    |nan grouped avg(v) pushed=true rows=(0,NaN)(1,1.50390625)
    |nan ungrouped var_pop(v) pushed=true rows=(NaN)
    |nan grouped var_pop(v) pushed=true rows=(0,NaN)(1,7.1210784912109375)
    |nan ungrouped var_samp(v) pushed=true rows=(NaN)
    |nan grouped var_samp(v) pushed=true rows=(0,NaN)(1,7.177149975393701)
    |nan ungrouped stddev_pop(v) pushed=true rows=(NaN)
    |nan grouped stddev_pop(v) pushed=true rows=(0,NaN)(1,2.6685348960077206)
    |nan ungrouped stddev_samp(v) pushed=true rows=(NaN)
    |nan grouped stddev_samp(v) pushed=true rows=(0,NaN)(1,2.679020338742075)
    |nan ungrouped median(v) pushed=false rows=(1.5)
    |nan grouped median(v) pushed=false rows=(0,1.5)(1,1.5)
    |nan ungrouped percentile_disc(0.25) pushed=false rows=(-0.75)
    |nan grouped percentile_disc(0.25) pushed=false rows=(0,-1.0)(1,-0.75)
    |nan ungrouped stats pushed=true rows=(256,-3.0,NaN,NaN,NaN)
    |nan grouped stats pushed=true rows=(0,128,-3.0,NaN,NaN,NaN)(1,128,-3.0,6.0,192.5,1.50390625)
    |nan ungrouped median+max pushed=false rows=(1.5,NaN)
    |nan grouped median+max pushed=false rows=(0,1.5,NaN)(1,1.5,6.0)
    |nan-clean-slice ungrouped count(*) pushed=true rows=(128)
    |nan-clean-slice grouped count(*) pushed=true rows=(1,128)
    |nan-clean-slice ungrouped count(v) pushed=true rows=(128)
    |nan-clean-slice grouped count(v) pushed=true rows=(1,128)
    |nan-clean-slice ungrouped count(distinct y) pushed=true rows=(8)
    |nan-clean-slice grouped count(distinct y) pushed=false rows=(1,8)
    |nan-clean-slice ungrouped min(x) pushed=true rows=(16)
    |nan-clean-slice grouped min(x) pushed=false rows=(1,16)
    |nan-clean-slice ungrouped max(x) pushed=true rows=(31)
    |nan-clean-slice grouped max(x) pushed=false rows=(1,31)
    |nan-clean-slice ungrouped sum(x) pushed=true rows=(3008)
    |nan-clean-slice grouped sum(x) pushed=false rows=(1,3008)
    |nan-clean-slice ungrouped min(v) pushed=true rows=(-3.0)
    |nan-clean-slice grouped min(v) pushed=true rows=(1,-3.0)
    |nan-clean-slice ungrouped max(v) pushed=true rows=(6.0)
    |nan-clean-slice grouped max(v) pushed=true rows=(1,6.0)
    |nan-clean-slice ungrouped sum(v) pushed=true rows=(192.5)
    |nan-clean-slice grouped sum(v) pushed=true rows=(1,192.5)
    |nan-clean-slice ungrouped avg(v) pushed=true rows=(1.50390625)
    |nan-clean-slice grouped avg(v) pushed=true rows=(1,1.50390625)
    |nan-clean-slice ungrouped var_pop(v) pushed=true rows=(7.1210784912109375)
    |nan-clean-slice grouped var_pop(v) pushed=true rows=(1,7.1210784912109375)
    |nan-clean-slice ungrouped var_samp(v) pushed=true rows=(7.177149975393701)
    |nan-clean-slice grouped var_samp(v) pushed=true rows=(1,7.177149975393701)
    |nan-clean-slice ungrouped stddev_pop(v) pushed=true rows=(2.6685348960077206)
    |nan-clean-slice grouped stddev_pop(v) pushed=true rows=(1,2.6685348960077206)
    |nan-clean-slice ungrouped stddev_samp(v) pushed=true rows=(2.679020338742075)
    |nan-clean-slice grouped stddev_samp(v) pushed=true rows=(1,2.679020338742075)
    |nan-clean-slice ungrouped median(v) pushed=true rows=(1.5)
    |nan-clean-slice grouped median(v) pushed=true rows=(1,1.5)
    |nan-clean-slice ungrouped percentile_disc(0.25) pushed=true rows=(-0.75)
    |nan-clean-slice grouped percentile_disc(0.25) pushed=true rows=(1,-0.75)
    |nan-clean-slice ungrouped stats pushed=true rows=(128,-3.0,6.0,192.5,1.50390625)
    |nan-clean-slice grouped stats pushed=true rows=(1,128,-3.0,6.0,192.5,1.50390625)
    |nan-clean-slice ungrouped median+max pushed=true rows=(1.5,6.0)
    |nan-clean-slice grouped median+max pushed=true rows=(1,1.5,6.0)
    |legacy ungrouped count(*) pushed=true rows=(256)
    |legacy grouped count(*) pushed=true rows=(0,128)(1,128)
    |legacy ungrouped count(v) pushed=true rows=(256)
    |legacy grouped count(v) pushed=true rows=(0,128)(1,128)
    |legacy ungrouped count(distinct y) pushed=true rows=(8)
    |legacy grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |legacy ungrouped min(x) pushed=true rows=(0)
    |legacy grouped min(x) pushed=false rows=(0,0)(1,16)
    |legacy ungrouped max(x) pushed=true rows=(31)
    |legacy grouped max(x) pushed=false rows=(0,15)(1,31)
    |legacy ungrouped sum(x) pushed=true rows=(3968)
    |legacy grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |legacy ungrouped min(v) pushed=true rows=(-5)
    |legacy grouped min(v) pushed=true rows=(0,-5)(1,-5)
    |legacy ungrouped max(v) pushed=true rows=(17)
    |legacy grouped max(v) pushed=true rows=(0,17)(1,17)
    |legacy ungrouped sum(v) pushed=true rows=(1524)
    |legacy grouped sum(v) pushed=true rows=(0,757)(1,767)
    |legacy ungrouped avg(v) pushed=true rows=(5.953125)
    |legacy grouped avg(v) pushed=true rows=(0,5.9140625)(1,5.9921875)
    |legacy ungrouped var_pop(v) pushed=true rows=(44.052490234375)
    |legacy grouped var_pop(v) pushed=true rows=(0,44.00042724609375)(1,44.10150146484375)
    |legacy ungrouped var_samp(v) pushed=true rows=(44.22524509803922)
    |legacy grouped var_samp(v) pushed=true rows=(0,44.34688730314961)(1,44.44875738188976)
    |legacy ungrouped stddev_pop(v) pushed=true rows=(6.63720500168369)
    |legacy grouped stddev_pop(v) pushed=true rows=(0,6.63328178551867)(1,6.64089613417073)
    |legacy ungrouped stddev_samp(v) pushed=true rows=(6.650206395145884)
    |legacy grouped stddev_samp(v) pushed=true rows=(0,6.659345861505439)(1,6.666990129127968)
    |legacy ungrouped median(v) pushed=true rows=(6.0)
    |legacy grouped median(v) pushed=true rows=(0,6.0)(1,6.0)
    |legacy ungrouped percentile_disc(0.25) pushed=true rows=(0.0)
    |legacy grouped percentile_disc(0.25) pushed=true rows=(0,0.0)(1,0.0)
    |legacy ungrouped stats pushed=true rows=(256,-5,17,1524,5.953125)
    |legacy grouped stats pushed=true rows=(0,128,-5,17,757,5.9140625)(1,128,-5,17,767,5.9921875)
    |legacy ungrouped median+max pushed=true rows=(6.0,17)
    |legacy grouped median+max pushed=true rows=(0,6.0,17)(1,6.0,17)
    |legacy-aligned ungrouped count(*) pushed=true rows=(128)
    |legacy-aligned grouped count(*) pushed=true rows=(0,64)(1,64)
    |legacy-aligned ungrouped count(v) pushed=true rows=(128)
    |legacy-aligned grouped count(v) pushed=true rows=(0,64)(1,64)
    |legacy-aligned ungrouped count(distinct y) pushed=true rows=(8)
    |legacy-aligned grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |legacy-aligned ungrouped min(x) pushed=true rows=(8)
    |legacy-aligned grouped min(x) pushed=false rows=(0,8)(1,16)
    |legacy-aligned ungrouped max(x) pushed=true rows=(23)
    |legacy-aligned grouped max(x) pushed=false rows=(0,15)(1,23)
    |legacy-aligned ungrouped sum(x) pushed=true rows=(1984)
    |legacy-aligned grouped sum(x) pushed=false rows=(0,736)(1,1248)
    |legacy-aligned ungrouped min(v) pushed=true rows=(-5)
    |legacy-aligned grouped min(v) pushed=true rows=(0,-5)(1,-5)
    |legacy-aligned ungrouped max(v) pushed=true rows=(17)
    |legacy-aligned grouped max(v) pushed=true rows=(0,17)(1,17)
    |legacy-aligned ungrouped sum(v) pushed=true rows=(762)
    |legacy-aligned grouped sum(v) pushed=true rows=(0,374)(1,388)
    |legacy-aligned ungrouped avg(v) pushed=true rows=(5.953125)
    |legacy-aligned grouped avg(v) pushed=true rows=(0,5.84375)(1,6.0625)
    |legacy-aligned ungrouped var_pop(v) pushed=true rows=(43.982177734375)
    |legacy-aligned grouped var_pop(v) pushed=true rows=(0,43.0380859375)(1,44.90234375)
    |legacy-aligned ungrouped var_samp(v) pushed=true rows=(44.32849409448819)
    |legacy-aligned grouped var_samp(v) pushed=true rows=(0,43.72123015873016)(1,45.61507936507937)
    |legacy-aligned ungrouped stddev_pop(v) pushed=true rows=(6.631906040828308)
    |legacy-aligned grouped stddev_pop(v) pushed=true rows=(0,6.560341907057894)(1,6.700921112056163)
    |legacy-aligned ungrouped stddev_samp(v) pushed=true rows=(6.657964711117669)
    |legacy-aligned grouped stddev_samp(v) pushed=true rows=(0,6.612203124430628)(1,6.7538936447859)
    |legacy-aligned ungrouped median(v) pushed=true rows=(6.0)
    |legacy-aligned grouped median(v) pushed=true rows=(0,6.0)(1,6.0)
    |legacy-aligned ungrouped percentile_disc(0.25) pushed=true rows=(0.0)
    |legacy-aligned grouped percentile_disc(0.25) pushed=true rows=(0,0.0)(1,0.0)
    |legacy-aligned ungrouped stats pushed=true rows=(128,-5,17,762,5.953125)
    |legacy-aligned grouped stats pushed=true rows=(0,64,-5,17,374,5.84375)(1,64,-5,17,388,6.0625)
    |legacy-aligned ungrouped median+max pushed=true rows=(6.0,17)
    |legacy-aligned grouped median+max pushed=true rows=(0,6.0,17)(1,6.0,17)
    |bounds-only ungrouped count(*) pushed=true rows=(256)
    |bounds-only grouped count(*) pushed=true rows=(0,128)(1,128)
    |bounds-only ungrouped count(v) pushed=true rows=(256)
    |bounds-only grouped count(v) pushed=true rows=(0,128)(1,128)
    |bounds-only ungrouped count(distinct y) pushed=true rows=(8)
    |bounds-only grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |bounds-only ungrouped min(x) pushed=true rows=(0)
    |bounds-only grouped min(x) pushed=false rows=(0,0)(1,16)
    |bounds-only ungrouped max(x) pushed=true rows=(31)
    |bounds-only grouped max(x) pushed=false rows=(0,15)(1,31)
    |bounds-only ungrouped sum(x) pushed=true rows=(3968)
    |bounds-only grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |bounds-only ungrouped min(v) pushed=true rows=(-3.0)
    |bounds-only grouped min(v) pushed=true rows=(0,-3.0)(1,-3.0)
    |bounds-only ungrouped max(v) pushed=true rows=(6.0)
    |bounds-only grouped max(v) pushed=true rows=(0,6.0)(1,6.0)
    |bounds-only ungrouped sum(v) pushed=false rows=(380.0)
    |bounds-only grouped sum(v) pushed=false rows=(0,187.5)(1,192.5)
    |bounds-only ungrouped avg(v) pushed=false rows=(1.484375)
    |bounds-only grouped avg(v) pushed=false rows=(0,1.46484375)(1,1.50390625)
    |bounds-only ungrouped var_pop(v) pushed=false rows=(7.116943359374998)
    |bounds-only grouped var_pop(v) pushed=false rows=(0,7.112045288085936)(1,7.1210784912109375)
    |bounds-only ungrouped var_samp(v) pushed=false rows=(7.1448529411764685)
    |bounds-only grouped var_samp(v) pushed=false rows=(0,7.168045644685038)(1,7.177149975393701)
    |bounds-only ungrouped stddev_pop(v) pushed=false rows=(2.6677599890872865)
    |bounds-only grouped stddev_pop(v) pushed=false rows=(0,2.666841819097251)(1,2.6685348960077206)
    |bounds-only ungrouped stddev_samp(v) pushed=false rows=(2.672985772722419)
    |bounds-only grouped stddev_samp(v) pushed=false rows=(0,2.6773206092444433)(1,2.679020338742075)
    |bounds-only ungrouped median(v) pushed=false rows=(1.5)
    |bounds-only grouped median(v) pushed=false rows=(0,1.5)(1,1.5)
    |bounds-only ungrouped percentile_disc(0.25) pushed=false rows=(-0.75)
    |bounds-only grouped percentile_disc(0.25) pushed=false rows=(0,-1.0)(1,-0.75)
    |bounds-only ungrouped stats pushed=false rows=(256,-3.0,6.0,380.0,1.484375)
    |bounds-only grouped stats pushed=false rows=(0,128,-3.0,6.0,187.5,1.46484375)(1,128,-3.0,6.0,192.5,1.50390625)
    |bounds-only ungrouped median+max pushed=false rows=(1.5,6.0)
    |bounds-only grouped median+max pushed=false rows=(0,1.5,6.0)(1,1.5,6.0)
    |stale ungrouped count(*) pushed=true rows=(256)
    |stale grouped count(*) pushed=true rows=(0,128)(1,128)
    |stale ungrouped count(v) pushed=true rows=(256)
    |stale grouped count(v) pushed=true rows=(0,128)(1,128)
    |stale ungrouped count(distinct y) pushed=true rows=(8)
    |stale grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |stale ungrouped min(x) pushed=true rows=(0)
    |stale grouped min(x) pushed=false rows=(0,0)(1,16)
    |stale ungrouped max(x) pushed=true rows=(31)
    |stale grouped max(x) pushed=false rows=(0,15)(1,31)
    |stale ungrouped sum(x) pushed=true rows=(3968)
    |stale grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |stale ungrouped min(v) pushed=false rows=(-3.0)
    |stale grouped min(v) pushed=false rows=(0,-3.0)(1,-3.0)
    |stale ungrouped max(v) pushed=false rows=(6.0)
    |stale grouped max(v) pushed=false rows=(0,6.0)(1,6.0)
    |stale ungrouped sum(v) pushed=false rows=(380.0)
    |stale grouped sum(v) pushed=false rows=(0,187.5)(1,192.5)
    |stale ungrouped avg(v) pushed=false rows=(1.484375)
    |stale grouped avg(v) pushed=false rows=(0,1.46484375)(1,1.50390625)
    |stale ungrouped var_pop(v) pushed=false rows=(7.116943359374998)
    |stale grouped var_pop(v) pushed=false rows=(0,7.112045288085936)(1,7.1210784912109375)
    |stale ungrouped var_samp(v) pushed=false rows=(7.1448529411764685)
    |stale grouped var_samp(v) pushed=false rows=(0,7.168045644685038)(1,7.177149975393701)
    |stale ungrouped stddev_pop(v) pushed=false rows=(2.6677599890872865)
    |stale grouped stddev_pop(v) pushed=false rows=(0,2.666841819097251)(1,2.6685348960077206)
    |stale ungrouped stddev_samp(v) pushed=false rows=(2.672985772722419)
    |stale grouped stddev_samp(v) pushed=false rows=(0,2.6773206092444433)(1,2.679020338742075)
    |stale ungrouped median(v) pushed=false rows=(1.5)
    |stale grouped median(v) pushed=false rows=(0,1.5)(1,1.5)
    |stale ungrouped percentile_disc(0.25) pushed=false rows=(-0.75)
    |stale grouped percentile_disc(0.25) pushed=false rows=(0,-1.0)(1,-0.75)
    |stale ungrouped stats pushed=false rows=(256,-3.0,6.0,380.0,1.484375)
    |stale grouped stats pushed=false rows=(0,128,-3.0,6.0,187.5,1.46484375)(1,128,-3.0,6.0,192.5,1.50390625)
    |stale ungrouped median+max pushed=false rows=(1.5,6.0)
    |stale grouped median+max pushed=false rows=(0,1.5,6.0)(1,1.5,6.0)
    |sum-past-long ungrouped count(*) pushed=true rows=(256)
    |sum-past-long grouped count(*) pushed=true rows=(0,128)(1,128)
    |sum-past-long ungrouped count(v) pushed=true rows=(256)
    |sum-past-long grouped count(v) pushed=true rows=(0,128)(1,128)
    |sum-past-long ungrouped count(distinct y) pushed=true rows=(8)
    |sum-past-long grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |sum-past-long ungrouped min(x) pushed=true rows=(0)
    |sum-past-long grouped min(x) pushed=false rows=(0,0)(1,16)
    |sum-past-long ungrouped max(x) pushed=true rows=(31)
    |sum-past-long grouped max(x) pushed=false rows=(0,15)(1,31)
    |sum-past-long ungrouped sum(x) pushed=true rows=(3968)
    |sum-past-long grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |sum-past-long ungrouped min(v) pushed=true rows=(144115188075855872)
    |sum-past-long grouped min(v) pushed=true rows=(0,144115188075855872)(1,144115188075855872)
    |sum-past-long ungrouped max(v) pushed=true rows=(144115188075855872)
    |sum-past-long grouped max(v) pushed=true rows=(0,144115188075855872)(1,144115188075855872)
    |sum-past-long ungrouped sum(v) pushed=false rows=error=SparkArithmeticException
    |sum-past-long grouped sum(v) pushed=false rows=error=SparkArithmeticException
    |sum-past-long ungrouped avg(v) pushed=true rows=(1.44115188075855872E17)
    |sum-past-long grouped avg(v) pushed=true rows=(0,1.44115188075855872E17)(1,1.44115188075855872E17)
    |sum-past-long ungrouped var_pop(v) pushed=false rows=(0.0)
    |sum-past-long grouped var_pop(v) pushed=false rows=(0,0.0)(1,0.0)
    |sum-past-long ungrouped var_samp(v) pushed=false rows=(0.0)
    |sum-past-long grouped var_samp(v) pushed=false rows=(0,0.0)(1,0.0)
    |sum-past-long ungrouped stddev_pop(v) pushed=false rows=(0.0)
    |sum-past-long grouped stddev_pop(v) pushed=false rows=(0,0.0)(1,0.0)
    |sum-past-long ungrouped stddev_samp(v) pushed=false rows=(0.0)
    |sum-past-long grouped stddev_samp(v) pushed=false rows=(0,0.0)(1,0.0)
    |sum-past-long ungrouped median(v) pushed=true rows=(1.44115188075855872E17)
    |sum-past-long grouped median(v) pushed=true rows=(0,1.44115188075855872E17)(1,1.44115188075855872E17)
    |sum-past-long ungrouped percentile_disc(0.25) pushed=true rows=(1.44115188075855872E17)
    |sum-past-long grouped percentile_disc(0.25) pushed=true rows=(0,1.44115188075855872E17)(1,1.44115188075855872E17)
    |sum-past-long ungrouped stats pushed=false rows=error=SparkArithmeticException
    |sum-past-long grouped stats pushed=false rows=error=SparkArithmeticException
    |sum-past-long ungrouped median+max pushed=true rows=(1.44115188075855872E17,144115188075855872)
    |sum-past-long grouped median+max pushed=true rows=(0,1.44115188075855872E17,144115188075855872)(1,1.44115188075855872E17,144115188075855872)
    |group-cap ungrouped count(*) pushed=true rows=(256)
    |group-cap grouped count(*) pushed=false rows=(0,128)(1,128)
    |group-cap ungrouped count(v) pushed=true rows=(256)
    |group-cap grouped count(v) pushed=false rows=(0,128)(1,128)
    |group-cap ungrouped count(distinct y) pushed=true rows=(8)
    |group-cap grouped count(distinct y) pushed=false rows=(0,8)(1,8)
    |group-cap ungrouped min(x) pushed=true rows=(0)
    |group-cap grouped min(x) pushed=false rows=(0,0)(1,16)
    |group-cap ungrouped max(x) pushed=true rows=(31)
    |group-cap grouped max(x) pushed=false rows=(0,15)(1,31)
    |group-cap ungrouped sum(x) pushed=true rows=(3968)
    |group-cap grouped sum(x) pushed=false rows=(0,960)(1,3008)
    |group-cap ungrouped min(v) pushed=true rows=(-3.0)
    |group-cap grouped min(v) pushed=false rows=(0,-3.0)(1,-3.0)
    |group-cap ungrouped max(v) pushed=true rows=(6.0)
    |group-cap grouped max(v) pushed=false rows=(0,6.0)(1,6.0)
    |group-cap ungrouped sum(v) pushed=true rows=(380.0)
    |group-cap grouped sum(v) pushed=false rows=(0,187.5)(1,192.5)
    |group-cap ungrouped avg(v) pushed=true rows=(1.484375)
    |group-cap grouped avg(v) pushed=false rows=(0,1.46484375)(1,1.50390625)
    |group-cap ungrouped var_pop(v) pushed=true rows=(7.116943359375)
    |group-cap grouped var_pop(v) pushed=false rows=(0,7.112045288085936)(1,7.1210784912109375)
    |group-cap ungrouped var_samp(v) pushed=true rows=(7.14485294117647)
    |group-cap grouped var_samp(v) pushed=false rows=(0,7.168045644685038)(1,7.177149975393701)
    |group-cap ungrouped stddev_pop(v) pushed=true rows=(2.6677599890872865)
    |group-cap grouped stddev_pop(v) pushed=false rows=(0,2.666841819097251)(1,2.6685348960077206)
    |group-cap ungrouped stddev_samp(v) pushed=true rows=(2.6729857727224196)
    |group-cap grouped stddev_samp(v) pushed=false rows=(0,2.6773206092444433)(1,2.679020338742075)
    |group-cap ungrouped median(v) pushed=true rows=(1.5)
    |group-cap grouped median(v) pushed=false rows=(0,1.5)(1,1.5)
    |group-cap ungrouped percentile_disc(0.25) pushed=true rows=(-0.75)
    |group-cap grouped percentile_disc(0.25) pushed=false rows=(0,-1.0)(1,-0.75)
    |group-cap ungrouped stats pushed=true rows=(256,-3.0,6.0,380.0,1.484375)
    |group-cap grouped stats pushed=false rows=(0,128,-3.0,6.0,187.5,1.46484375)(1,128,-3.0,6.0,192.5,1.50390625)
    |group-cap ungrouped median+max pushed=true rows=(1.5,6.0)
    |group-cap grouped median+max pushed=false rows=(0,1.5,6.0)(1,1.5,6.0)""".stripMargin
}
