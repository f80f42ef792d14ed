package perfbench

import graft.operators.{MdioDataset, MdioStats}
import graft.sources.MdioWriter
import graft.spec.MdioSpec
import graft.zarr.{ChunkCodec, VPath, ZarrMeta}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The survey grid: inline × crossline × time cells of float32 amplitude. */
final case class Grid(ni: Int, nx: Int, nt: Int, chunk: Seq[Int], traceChunk: Seq[Int],
                      shard: Seq[Int]) {
  def cells: Long = ni.toLong * nx * nt
  def userBytes: Long = cells * 4
  def dims: Seq[(String, Int)] = Seq("inline" -> ni, "crossline" -> nx, "time" -> nt)
}

object Grid {
  /** 32 MiB of float32: 128³ chunks give four full chunks, one wave of
    * writer tasks on 4 cores; the sharded copy has 16×16×nt trace chunks
    * in 64×128×nt shards (eight shards of 32 chunks). */
  val full: Grid = Grid(256, 256, 128, Seq(128, 128, 128), Seq(16, 16, 128), Seq(64, 128, 128))
  val smoke: Grid = Grid(16, 32, 24, Seq(8, 8, 8), Seq(4, 4, 24), Seq(8, 16, 24))
}

/** Seeded synthetic wavefield: dipping Ricker reflectors plus hashed noise,
  * quantized to multiples of 2^-16 so every value is an exact float32 and
  * the checksum `sum(amplitude * 65536)` is an exact integer. */
object Wavefield {
  val Scale = 65536.0

  def cells(spark: SparkSession, g: Grid, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val reflectors = Seq.fill(5) {
      (rnd.nextDouble() * g.nt, (rnd.nextDouble() - 0.5) * 0.3, (rnd.nextDouble() - 0.5) * 0.3,
        (0.5 + rnd.nextDouble() * 1.5) * (if (rnd.nextBoolean()) 1 else -1))
    }
    val il = expr(s"id div ${g.nx.toLong * g.nt}")
    val xl = expr(s"(id div ${g.nt}) % ${g.nx}")
    val t = expr(s"id % ${g.nt}")
    val pf = math.Pi * 0.06
    val signal = reflectors.map { case (t0, di, dx, a) =>
      val u = (t - (il * di + xl * dx + t0)) * pf
      lit(a) * (lit(1.0) - u * u * 2.0) * exp(-(u * u))
    }.reduce(_ + _)
    val noise = (pmod(xxhash64(col("id"), lit(seed)), lit(4001L)) - 2000) / 40000.0
    spark.range(0, g.cells, 1, math.max(8, Runtime.getRuntime.availableProcessors() * 2))
      .select(il.as("inline"), xl.as("crossline"), t.as("time"),
        (round((signal + noise) * Scale) / Scale).cast("float").as("amplitude"))
  }

  /** count, exact checksum, min, max, double sum and absolute sum. */
  final case class Sums(count: Long, check: Long, min: Float, max: Float, sum: Double, abs: Double)

  def checksumCols = Seq(count(lit(1)).as("n"),
    sum((col("amplitude") * Scale).cast("long")).as("check"))

  /** `df` observed for its [[Sums]] and for the `extra` conditional
    * counts, so the pass that writes the store also yields its oracle. */
  def observed(df: DataFrame, extra: Seq[org.apache.spark.sql.Column] = Nil): (DataFrame, () => (Sums, Seq[Long])) = {
    val obs = Observation()
    val a = col("amplitude")
    val cols = checksumCols ++ Seq(min(a).as("min"), max(a).as("max"),
      sum(a.cast("double")).as("sum"), sum(abs(a.cast("double"))).as("abs")) ++
      extra.zipWithIndex.map { case (c, i) => count(when(c, 1)).as(s"x$i") }
    (df.observe(obs, cols.head, cols.tail: _*), () => {
      val m = obs.get
      (Sums(m("n").asInstanceOf[Long], m("check").asInstanceOf[Long], m("min").asInstanceOf[Float],
        m("max").asInstanceOf[Float], m("sum").asInstanceOf[Double], m("abs").asInstanceOf[Double]),
        extra.indices.map(i => m(s"x$i").asInstanceOf[Long]))
    })
  }
}

object Store {
  def spec(g: Grid, version: Int): MdioSpec.Dataset = {
    val dimsJson = g.dims.map { case (n, s) => s"""{"name": "$n", "size": $s}""" }.mkString(", ")
    val grid =
      if (version == 3) s""""chunkShape": [${g.traceChunk.mkString(", ")}],
                           | "shardShape": [${g.shard.mkString(", ")}]""".stripMargin
      else s""""chunkShape": [${g.chunk.mkString(", ")}]"""
    val coords = g.dims.map { case (n, s) =>
      s"""{"name": "$n", "dataType": "int32", "dimensions": [{"name": "$n", "size": $s}]},"""
    }.mkString("\n")
    MdioSpec.fromJson(
      s"""{"metadata": {"name": "survey", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
         | "variables": [$coords
         |  {"name": "amplitude", "dataType": "float32", "dimensions": [$dimsJson],
         |   "compressor": {"name": "blosc", "cname": "lz4", "clevel": 5, "shuffle": "shuffle"},
         |   "metadata": {"chunkGrid": {"name": "regular", "configuration": {$grid}}}}]}""".stripMargin)
  }

  /** Dimension-coordinate values: inline numbers 1000 + 2i, crossline
    * numbers 2000 + x, time 4t ms. */
  def coordValue(dim: String, i: Long): Long = dim match {
    case "inline" => 1000 + 2 * i
    case "crossline" => 2000 + i
    case _ => 4 * i
  }

  def writeCoords(spark: SparkSession, g: Grid, path: String): Unit = {
    import spark.implicits._
    g.dims.foreach { case (n, s) =>
      MdioWriter.writeVariable(spark,
        (0L until s).map(i => (i, coordValue(n, i).toInt)).toDF(n, s"${n}__value"), path, n)
    }
  }

  /** Bytes of every file under `path` as stored on disk, checksum files
    * included; with `metaOnly`, of every file that is not a chunk or shard
    * (chunk keys are dot- or slash-separated integers). */
  def storedBytes(path: String, metaOnly: Boolean = false): Long = {
    val chunk = "\\.?[0-9]+(\\.[0-9]+)*(\\.crc)?".r
    val s = Files.walk(Paths.get(path))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => !metaOnly || !chunk.matches(p.getFileName.toString))
      .map(Files.size(_: Path)).sum
    finally s.close()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Analysis time of the last drained DataFrame: Dataset analysis is
    * eager, so the sink's own query execution reports none. */
  @volatile var lastAnalysisMs = 0.0

  /** Write `df` to the noop sink, observing its row count and (when it
    * carries amplitude) the exact checksum. */
  def drain(df: DataFrame, checksum: Boolean): (Long, Long) = {
    val obs = Observation()
    val cols = if (checksum) Wavefield.checksumCols else Seq(count(lit(1)).as("n"))
    lastAnalysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble)
      .getOrElse(0.0)
    noop(df.observe(obs, cols.head, cols.tail: _*))
    val m = obs.get
    (m("n").asInstanceOf[Long], if (checksum) m("check").asInstanceOf[Long] else 0L)
  }
}

/** Single-thread codec ceiling over a store's own amplitude chunk files,
  * no Spark: fetch (VPath), decompress and decode (ChunkCodec), then the
  * write direction, encode and compress. Runs twice after the timed ops
  * and reports the second, warm pass. */
object CodecCeiling {
  def run(path: String): Map[String, Double] = { pass(path); pass(path) }

  private def pass(path: String): Map[String, Double] = {
    val (_, arrays) = ZarrMeta.readGroup(ZarrMeta.path(path))
    val meta = arrays("amplitude")._1
    val dir = VPath(path).resolve("amplitude")
    val files = dir.listFilesRecursive().filterNot(f => f.name.startsWith(".") || f.name == "zarr.json")
    val rawSize = meta.chunks.product.toInt * 4
    var fetchNs, decompNs, decodeNs, encodeNs, compNs = 0L
    var stored, raw = 0L
    def timed[A](f: => A): (A, Long) = { val t = System.nanoTime(); val r = f; (r, System.nanoTime() - t) }
    val inner = meta.shard.map(_ => meta.innerPerShard.product.toInt)
    files.foreach { f =>
      val (bytes, tf) = timed(f.readAllBytes())
      fetchNs += tf
      stored += bytes.length
      val parts: Seq[Array[Byte]] = inner match {
        case None => Seq(bytes)
        case Some(n) =>
          val (idx, ti) = timed(ZarrMeta.readShardIndex(f, n).getOrElse(Array.empty[(Long, Long)]))
          fetchNs += ti
          idx.toSeq.filter(_._1 >= 0).map { case (off, len) =>
            java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
          }
      }
      parts.foreach { p =>
        val (r, td) = timed(ChunkCodec.decompress(p, meta.compressor, rawSize))
        decompNs += td
        raw += r.length
        val (vals, tdec) = timed(ChunkCodec.decodeDoubles(r, meta.dtype))
        decodeNs += tdec
        val (enc, tenc) = timed(ChunkCodec.encodeDoubles(vals, meta.dtype))
        encodeNs += tenc
        val (_, tc) = timed(ChunkCodec.compress(enc, meta.compressor, 4, meta.blosc))
        compNs += tc
      }
    }
    val rawMiB = raw / Stats.MiB
    def rate(mib: Double, ns: Long) = Stats.ratio(mib, ns / 1e9)
    Map(
      "zarr.fetch_MBps" -> rate(stored / Stats.MiB, fetchNs),
      "zarr.decompress_MBps" -> rate(rawMiB, decompNs),
      "zarr.decode_MBps" -> rate(rawMiB, decodeNs),
      "zarr.encode_MBps" -> rate(rawMiB, encodeNs),
      "zarr.compress_MBps" -> rate(rawMiB, compNs),
      "zarr.ceiling_MiB" -> rawMiB,
      "ceiling.read_s" -> (fetchNs + decompNs + decodeNs) / 1e9)
  }
}

/** Write a volume, scan it, compute and attach its stats — bytes dominate. */
final class VolumeRw(h: Harness) extends Workload {
  private val spark = h.spark
  private val g = if (h.args.smoke) Grid.smoke else Grid.full
  private val path = s"${h.args.work}/volume_v2.mdio"
  private val scansPerCycle = 5
  private var want: Wavefield.Sums = _
  private var ceiling: Map[String, Double] = Map.empty
  private val createMs = scala.collection.mutable.ArrayBuffer[Double]()
  private val openMs = scala.collection.mutable.ArrayBuffer[Double]()
  private val attachMs = scala.collection.mutable.ArrayBuffer[Double]()
  private val computeS = scala.collection.mutable.ArrayBuffer[Double]()

  def setup(): Unit = {
    // warm-up: JIT and first-touch costs land in set-up, not in ops. A
    // quarter-size volume with half-size chunks runs every code path on
    // every core first (a first write takes about twice a warm one); the
    // full-size write then also yields the generator's sums, the checks'
    // oracle.
    val small = g.copy(ni = math.max(1, g.ni / 2), nx = math.max(1, g.nx / 2),
      chunk = g.chunk.map(c => math.max(1, c / 2)))
    h.phase("warm-up cycle, quarter volume") {
      val (cells, sums) = Wavefield.observed(Wavefield.cells(spark, small, h.args.seed))
      write(small, cells)
      want = sums()._1
      scan(); scan(); stats()
    }
    val (cells, sums) = Wavefield.observed(Wavefield.cells(spark, g, h.args.seed))
    h.phase("warm-up write")(write(g, cells))
    want = sums()._1
    h.phase("warm-up scan")(scan())
    h.phase("warm-up stats")(stats())
    h.ops.clear()
    createMs.clear(); openMs.clear(); attachMs.clear(); computeS.clear()
  }

  private def write(grid: Grid, cells: => DataFrame): Unit = {
    MdioWriter.delete0(path)
    h.op("write") {
      val t0 = System.nanoTime()
      MdioWriter.create(Store.spec(grid, 2), path)
      createMs += (System.nanoTime() - t0) / 1e6
      MdioWriter.insertAligned(cells, path)
    }(_ => {
      // every stored byte was written by this op, and only metadata (group
      // and array attributes, stats sidecar) is written more than once
      val written = h.current.fs.bytesWritten
      val (all, meta) = (stored, Store.storedBytes(path, metaOnly = true))
      if (written < all || written > all + meta)
        Some(s"bytes written $written outside [stored $all, stored + metadata ${all + meta}]")
      else None
    })
  }

  private def scan(): Unit =
    h.op("scan")(Store.drain(spark.read.format("mdio").load(path), checksum = true))(
      { case (n, c) =>
        if (n != want.count || c != want.check)
          Some(s"scan count/checksum $n/$c != generator ${want.count}/${want.check}")
        else None
      }, _._1 * 4)

  private def stats(): Unit =
    h.op("stats") {
      val t0 = System.nanoTime()
      val ds = MdioDataset.open(spark, path)
      val t1 = System.nanoTime()
      val s = MdioStats.compute(spark, ds, "amplitude", -4.0, 0.25, 32)
      val t2 = System.nanoTime()
      MdioStats.attach(path, "amplitude", s)
      openMs += (t1 - t0) / 1e6
      computeS += (t2 - t1) / 1e9
      attachMs += (System.nanoTime() - t2) / 1e6
      s
    }(s =>
      if (s.count != want.count || s.min != want.min || s.max != want.max ||
          math.abs(s.sum - want.sum) > 1e-9 * want.abs)
        Some(s"stats (${s.count}, ${s.min}, ${s.max}, ${s.sum}) != generator " +
          s"(${want.count}, ${want.min}, ${want.max}, ${want.sum})")
      else None)

  def cycle(): Unit = {
    write(g, Wavefield.cells(spark, g, h.args.seed))
    (1 to scansPerCycle).foreach(_ => scan())
    stats()
  }

  override def afterTimed(): Unit = if (h.tracer.isDefined) ceiling = CodecCeiling.run(path)

  private def med(xs: Seq[Double]) = Stats.pct(xs, 0.5)
  private def writes = h.ofKind("write")
  private def userMiB = g.userBytes / Stats.MiB

  def named(): Map[String, (Double, String)] = Map(
    "write_MBps" -> (userMiB / (med(writes.map(_.ms)) / 1e3), "MiB/s"),
    "scan_MBps" -> (userMiB / (med(h.ofKind("scan").map(_.ms)) / 1e3), "MiB/s"),
    "stats_s" -> (med(h.ofKind("stats").map(_.ms)) / 1e3, "s"),
    "space_amp" -> (stored.toDouble / g.userBytes, "ratio"),
    "user_bytes" -> (g.userBytes.toDouble, "bytes"))

  private def stored: Long = Store.storedBytes(path)

  def layers(): Map[String, Double] = {
    val scanS = med(h.ofKind("scan").map(_.ms)) / 1e3
    Map(
      "spec.create_ms" -> med(createMs.toSeq),
      "zarr.bytes_written" -> med(writes.map(_.fs.bytesWritten.toDouble)),
      "zarr.stored_bytes" -> stored.toDouble,
      "zarr.write_amp" -> Stats.ratio(med(writes.map(_.fs.bytesWritten.toDouble)), stored.toDouble),
      "sources.scan_tasks" -> med(h.ofKind("scan").map(_.layer.getOrElse("tasks", 0.0))),
      "sources.scan_beyond_codec_s" -> (scanS - ceiling.getOrElse("ceiling.read_s", 0.0) / h.cores),
      "sources.write_shuffle_MiB" -> med(writes.map(_.layer.getOrElse("shuffle_write_bytes", 0.0))) / Stats.MiB,
      "sources.write_commit_ms" -> med(writes.flatMap(o =>
        h.tracer.flatMap(_.lastTaskEndOf(o.id)).map(t => (o.endMs - t).toDouble))),
      "operators.open_ms" -> med(openMs.toSeq),
      "operators.stats_compute_s" -> med(computeS.toSeq),
      "operators.stats_attach_ms" -> med(attachMs.toSeq)) ++ ceiling
  }
}
