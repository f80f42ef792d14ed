package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Store-and-query benchmark driver (see perfbench/README.md).
  *
  * Usage: perfbench.Main --workload <volume_rw|slice_mix|query_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--tables <dir>]
  *   [--smoke 1] [--pre-setup-s <s>] [--out <dir>]
  *
  * Prints one line `PERFBENCH <json>` with the run's op accounting and
  * every metric it measured; `run.py` turns it into the result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val jvmUp = ManagementFactory.getRuntimeMXBean.getUptime
    val t0 = System.nanoTime()
    val spark = session(a.work)
    System.err.println(f"[perfbench] set-up jvm ${jvmUp / 1e3}%.2f s, session ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a.trace) Some(Tracer.install(spark)) else None
    val h = new Harness(spark, a, tracer)
    val wl: Workload = a.workload match {
      case "volume_rw" => new VolumeRw(h)
      case "slice_mix" => new SliceMix(h)
      case "query_mix" => new QueryMix(h)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    try {
      wl.setup()
      h.setupDone()
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      do h.cycle(wl.cycle()) while (System.nanoTime() < deadline)
      wl.afterTimed()
      println("PERFBENCH " + Json.obj(h.result(wl)))
      tracer.foreach(t => h.writeTrace(t.spans))
    } finally spark.stop()
  }

  /** The engine's bench session: AQE and coalescing on, 64 MiB broadcast
    * threshold, InferFiltersFromGenerate excluded, shuffle partitions =
    * cores, every local directory inside the work dir. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, tables: String, smoke: Boolean, preSetupS: Double,
                      out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), m.getOrElse("tables", ""), m.get("smoke").contains("1"),
      m.getOrElse("pre-setup-s", "0").toDouble, m.getOrElse("out", req("work")))
  }
}

/** One timed call into the engine. `wallNs` is its wall time; a failed
  * call or a failed output check sets `error`. */
final class OpRec(val id: Int, val kind: String) {
  var startMs = 0L
  var endMs = 0L
  var wallNs = 0L
  var error: String = ""
  var fs: FsCounters = FsCounters(0, 0, 0)
  var returnedBytes = 0L
  var layer: Map[String, Double] = Map.empty
  def ok: Boolean = error.isEmpty
  def ms: Double = if (ok) wallNs / 1e6 else Double.PositiveInfinity
}

/** A workload: untimed set-up, then cycles of timed ops until time is up. */
trait Workload {
  def setup(): Unit
  /** One cycle of ops; returns after the last op of the cycle. */
  def cycle(): Unit
  /** This workload's own end-to-end metrics under the names of
    * perfbench/README.md (printed on the line before the result), and its
    * per-layer metrics. */
  def named(): Map[String, (Double, String)]
  def layers(): Map[String, Double]
  /** Untimed work after the last cycle (the traced run's codec ceiling). */
  def afterTimed(): Unit = ()
}

final class Harness(val spark: SparkSession, val args: Args, val tracer: Option[Tracer]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val ops = mutable.ArrayBuffer[OpRec]()
  val cycleMs = mutable.ArrayBuffer[Double]()
  private var setupS = 0.0
  private var nextId = 0

  /** Set-up time: JVM start to the first timed op, plus the time the
    * launcher spent generating inputs before the JVM started. */
  def setupDone(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    setupS = (System.currentTimeMillis() - jvmStart) / 1e3 + args.preSetupS
  }

  def cycle(body: => Unit): Unit = {
    val n0 = ops.size
    val t0 = System.nanoTime()
    body
    val failed = ops.drop(n0).exists(!_.ok)
    cycleMs += (if (failed) Double.PositiveInfinity else (System.nanoTime() - t0) / 1e6)
  }

  /** Time one set-up step; the breakdown goes to stderr (the run's log). */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] set-up $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** The op being run; its counters are final when `check` runs. */
  var current: OpRec = _

  /** Run one timed op. `check` inspects the result and returns an error
    * message when the output is wrong; `returned` gives the user bytes
    * the op returned (the base of read amplification). */
  def op[A](kind: String)(body: => A)(check: A => Option[String],
                                      returned: A => Long = (_: A) => 0L): Option[A] = {
    // ids stay unique across set-up and timed ops: the trace keys on them
    val o = new OpRec(nextId, kind)
    nextId += 1
    current = o
    tracer.foreach(_.beginOp(o.id))
    val fs0 = FsCounters.sample()
    Store.lastAnalysisMs = 0.0
    o.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    o.wallNs = System.nanoTime() - t0
    o.endMs = System.currentTimeMillis()
    o.fs = FsCounters.sample() - fs0
    tracer.foreach { t =>
      t.addPhases(o.id, Map("analysis" -> Store.lastAnalysisMs))
      t.endOp(o.id, kind, o.startMs, o.endMs)
      o.layer = t.opCounts(o.id, o.startMs, o.endMs)
    }
    r match {
      case Left(e) => o.error = s"$kind failed: $e"
      case Right(v) =>
        check(v).foreach(m => o.error = s"$kind check: $m")
        o.returnedBytes = returned(v)
    }
    System.err.println(f"[perfbench] op ${o.id}%d $kind%s ${o.wallNs / 1e6}%.1f ms ${o.error}%s")
    ops += o
    r.toOption.filter(_ => o.ok)
  }

  /** Untimed step whose failure fails the run's set-up checks. */
  val setupErrors = mutable.ArrayBuffer[String]()
  def setupCheck(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) setupErrors.synchronized {
      setupErrors += s"$what: $detail"
      System.err.println(s"[perfbench] set-up $what: $detail")
    }

  def ofKind(k: String*): Seq[OpRec] = ops.filter(o => k.contains(o.kind)).toSeq

  def peakRssMiB(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Median latency of each op kind, failed ops counting as +∞. */
  def kindMedians: Map[String, Double] =
    ops.groupBy(_.kind).map { case (k, os) => k -> Stats.pct(os.map(_.ms).toSeq, 0.5) }

  def e2e(): Map[String, (Double, String)] = {
    val kinds = kindMedians.values.toSeq
    Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.pct(cycleMs.toSeq, 0.5) / 1e3, "s"),
      "kind_p50_ms" -> (Stats.gmean(kinds), "ms"),
      "peak_rss_MiB" -> (peakRssMiB(), "MiB"))
  }

  /** Layer metrics every workload reports: FS counters per op, driver and
    * executor costs per op (trace only), error accounting. */
  def commonLayers(): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    def mean(f: OpRec => Double) = ops.map(f).sum / n
    def lay(k: String) = mean(_.layer.getOrElse(k, 0.0))
    val wallMs = ops.map(_.wallNs / 1e6).sum
    val runMs = ops.map(_.layer.getOrElse("run_ms", 0.0)).sum
    val readOps = ops.filter(_.returnedBytes > 0)
    Map(
      "zarr.bytes_read" -> Stats.pct(readOps.map(_.fs.bytesRead.toDouble).toSeq, 0.5),
      "zarr.read_ops" -> Stats.pct(readOps.map(_.fs.readOps.toDouble).toSeq, 0.5),
      "zarr.bytes_returned" -> Stats.pct(readOps.map(_.returnedBytes.toDouble).toSeq, 0.5),
      "zarr.read_amp" -> Stats.ratio(readOps.map(_.fs.bytesRead.toDouble).sum,
        readOps.map(_.returnedBytes.toDouble).sum),
      "driver.analysis_ms" -> lay("analysis_ms"),
      "driver.optimization_ms" -> lay("optimization_ms"),
      "driver.planning_ms" -> lay("planning_ms"),
      "driver.jobs" -> lay("jobs"),
      "driver.gap_ms" -> lay("gap_ms"),
      "exec.stages" -> lay("stages"),
      "exec.tasks" -> lay("tasks"),
      "exec.run_s" -> lay("run_ms") / 1e3,
      "exec.cpu_s" -> lay("cpu_ms") / 1e3,
      "exec.gc_s" -> lay("gc_ms") / 1e3,
      "exec.core_util" -> Stats.ratio(runMs, wallMs * cores),
      "exec.shuffle_read_MiB" -> lay("shuffle_read_bytes") / Stats.MiB,
      "exec.shuffle_write_MiB" -> lay("shuffle_write_bytes") / Stats.MiB,
      "exec.spill_MiB" -> lay("spill_bytes") / Stats.MiB,
      "error_rate" -> errorRate)
  }

  def attempted: Int = ops.size + setupErrors.size
  def failed: Int = ops.count(!_.ok) + setupErrors.size
  def errorRate: Double = failed.toDouble / math.max(attempted, 1)

  def result(wl: Workload): Seq[(String, Any)] = {
    val e2eM = e2e()
    val metrics: Map[String, (Double, String)] =
      if (!args.trace) e2eM
      else {
        val layers = commonLayers() ++ wl.layers()
        Metrics.perLayer.map { case (name, unit) =>
          name -> (layers.getOrElse(name, e2eM.get(name.stripPrefix("traced.")).map(_._1)
            .getOrElse(0.0)), unit)
        }.toMap
      }
    Seq(
      "workload" -> args.workload,
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> (setupErrors ++ ops.filter(!_.ok).map(_.error)).take(20).toSeq,
      "ops" -> ops.size,
      "op_counts" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "cycles" -> cycleMs.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.metric(v, u) },
      "named" -> (if (args.trace) Map.empty[String, Any]
                  else (wl.named() ++ Map("error_rate" -> (errorRate, "ratio"),
                    "setup_s" -> e2eM("setup_s"), "peak_rss_MiB" -> e2eM("peak_rss_MiB")))
                    .map { case (k, (v, u)) => k -> Json.metric(v, u) }))
  }

  /** Spans with self times, one JSON object a line, into the `--out`
    * directory (kept after the run). */
  def writeTrace(spans: Seq[Span]): Unit = {
    val self = Tracer.selfTimes(spans)
    val out = Paths.get(args.out)
    Files.createDirectories(out)
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.dur,
        "self_ms" -> self(s.id), "counts" -> s.counts))
    }
    Files.write(out.resolve(s"trace-${args.workload}-${args.seed}.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Stats {
  val MiB: Double = 1024.0 * 1024.0

  /** Linear-interpolated percentile; +∞ entries (failed ops) sort last. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    if (lo == hi || s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Geometric mean: every kind weighs the same however long it runs. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Json {
  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isPosInfinity) "Infinity" else if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
