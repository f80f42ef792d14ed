package perfbench

import graft.operators.{CoordinateSelector, MdioDataset}
import graft.sources.MdioWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One client in a closed loop cutting small selections out of a zarr v3
  * sharded copy of the volume: driver planning, chunk pruning and shard
  * index reads dominate; the write path is not touched. */
final class SliceMix(h: Harness) extends Workload {
  private val spark = h.spark
  private val g = if (h.args.smoke) Grid.smoke else Grid.full
  private val path = s"${h.args.work}/volume_v3.mdio"
  private val rnd = new scala.util.Random(h.args.seed ^ 0x5EEDL)
  private var ds: MdioDataset = _
  private var ceiling: Map[String, Double] = Map.empty
  private val openMs = scala.collection.mutable.ArrayBuffer[Double]()

  import SliceMix.Window
  private val wWidth = 2
  private val windows: IndexedSeq[Window] = IndexedSeq.fill(8) {
    val lo = (rnd.nextInt(16) - 8) / 8.0f
    Window(rnd.nextInt(g.ni - wWidth + 1), lo, lo + 0.25f + rnd.nextInt(4) / 4.0f)
  }
  private var windowCounts: IndexedSeq[Long] = _
  private val selWidth = math.min(4, g.ni)
  private val boxX = math.min(16, g.nx)

  def setup(): Unit = {
    // the store build's input pass also counts each value_range window
    val (cells, sums) = Wavefield.observed(Wavefield.cells(spark, g, h.args.seed),
      windows.map(w => col("inline") >= w.i0 && col("inline") < w.i0 + wWidth &&
        col("amplitude") >= w.lo && col("amplitude") < w.hi))
    h.phase("v3 store build") {
      MdioWriter.delete0(path)
      MdioWriter.create(Store.spec(g, 3), path, version = 3)
      Store.writeCoords(spark, g, path)
      MdioWriter.insertAligned(cells, path)
    }
    val (want, counts) = sums()
    windowCounts = counts.toIndexedSeq
    val (n, c) = h.phase("v3 store check")(Store.drain(
      spark.read.format("mdio").option("variables", "amplitude").load(path), checksum = true))
    // the v3 copy holds exactly the generator's cells, as the v2 store does
    h.setupCheck("v3 copy", n == want.count && c == want.check,
      s"count/checksum $n/$c != generator ${want.count}/${want.check}")
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      ds = MdioDataset.open(spark, path)
      openMs += (System.nanoTime() - t0) / 1e6
    }
    // warm-up: one untimed cycle of every kind
    h.phase("warm-up cycle")(cycle())
    h.ops.clear()
  }

  private def sel(kind: String, want: Long)(df: => DataFrame): Unit =
    h.op(kind)(Store.drain(df, checksum = false)._1)(
      n => if (n != want) Some(s"rows $n != expected $want") else None, _ * 4L)

  private def one(kind: String): Unit = kind match {
    case "inline" =>
      val i = rnd.nextInt(g.ni)
      sel(kind, g.nx.toLong * g.nt)(ds.isel("inline", i, i + 1).data)
    case "crossline" =>
      val x = rnd.nextInt(g.nx)
      sel(kind, g.ni.toLong * g.nt)(ds.isel("crossline", x, x + 1).data)
    case "timeslice" =>
      val t = rnd.nextInt(g.nt)
      sel(kind, g.ni.toLong * g.nx)(ds.isel("time", t, t + 1).data)
    case "sel_range" =>
      val i = rnd.nextInt(g.ni - selWidth + 1)
      val (a, b) = (Store.coordValue("inline", i), Store.coordValue("inline", i + selWidth - 1))
      sel(kind, selWidth.toLong * g.nx * g.nt)(ds.selRange("inline", lit(a), lit(b)).data)
    case "value_range" =>
      val k = rnd.nextInt(windows.size)
      val w = windows(k)
      sel(kind, windowCounts(k))(ds.isel("inline", w.i0, w.i0 + wWidth).data
        .filter(col("amplitude") >= w.lo && col("amplitude") < w.hi))
    case "coord_select" =>
      val i = rnd.nextInt(g.ni - selWidth + 1)
      val x = rnd.nextInt(g.nx - boxX + 1)
      sel(kind, selWidth.toLong * boxX * g.nt)(CoordinateSelector(ds)
        .filterByCoordinate(col("inline").between(i, i + selWidth - 1))
        .filterByCoordinate(col("crossline").between(x, x + boxX - 1))
        .sortByKey(col("amplitude").desc)
        .readSelection(Seq("amplitude")))
  }

  def cycle(): Unit = {
    rnd.shuffle(Metrics.sliceKinds).foreach(one)
  }

  override def afterTimed(): Unit = if (h.tracer.isDefined) ceiling = CodecCeiling.run(path)

  private def lat(kinds: String*) = h.ofKind(kinds: _*).map(_.ms)

  def named(): Map[String, (Double, String)] = Map(
    "slice_p50_ms" -> (Stats.pct(lat(Metrics.sliceKinds: _*), 0.5), "ms"),
    "slice_p90_ms" -> (Stats.pct(lat(Metrics.sliceKinds: _*), 0.9), "ms"),
    "slice_ops" -> (h.ops.size.toDouble, "count"))

  def layers(): Map[String, Double] =
    Metrics.sliceKinds.map(k => s"operators.${k}_p50_ms" -> Stats.pct(lat(k), 0.5)).toMap ++ Map(
      "operators.open_ms" -> Stats.pct(openMs.toSeq, 0.5),
      "sources.scan_tasks" -> Stats.pct(h.ops.map(_.layer.getOrElse("tasks", 0.0)).toSeq, 0.5),
      "zarr.stored_bytes" -> Store.storedBytes(path).toDouble) ++
      ceiling.filter(_._1.startsWith("zarr."))
}

object SliceMix {
  /** value_range parameter set: an inline block and an amplitude window;
    * its row count is computed once in set-up from the generator. */
  final case class Window(i0: Int, lo: Float, hi: Float)
}
