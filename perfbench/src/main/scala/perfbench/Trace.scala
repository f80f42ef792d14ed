package perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Hadoop `FileSystem` counters, summed over every scheme of this JVM
  * (local-mode executors share it), with `readOps` the files opened for
  * reading. Sampled around each op. */
final case class FsCounters(bytesRead: Long, readOps: Long, bytesWritten: Long) {
  def -(o: FsCounters): FsCounters =
    FsCounters(bytesRead - o.bytesRead, readOps - o.readOps, bytesWritten - o.bytesWritten)
}

object FsCounters {
  @annotation.nowarn("cat=deprecation")
  def sample(): FsCounters = {
    val all = FileSystem.getAllStatistics.asScala
    FsCounters(all.map(_.getBytesRead).sum, CountingLocalFileSystem.opens.get(),
      all.map(_.getBytesWritten).sum)
  }
}

/** One span of the trace: an op, a query execution, a job or a stage.
  * Times are epoch milliseconds; `op` is the id every span of one op
  * shares, `parent` the span id of the causing span. */
final case class Span(id: String, parent: String, op: Int, kind: String, name: String,
                      start: Long, end: Long, counts: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

object Span {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Records spans op → query execution → job → stage from Spark's listener
  * bus, with task metrics summed per stage. Everything stays in memory;
  * [[spans]] is read once the run ends. Events are attributed to the op
  * that is current while the bus delivers them: [[endOp]] drains the bus,
  * so no event of one op is delivered while the next op is current. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var cur = -1

  final class Job(val op: Int, val id: Int, val start: Long, val exec: Long,
                  val stages: Seq[Int]) { var end: Long = start }
  final class Stage(val op: Int, val id: Int, val name: String, val start: Long,
                    val end: Long, val counts: Map[String, Double])
  final class Exec(val op: Int, val id: Long, val name: String, val start: Long) {
    var end: Long = start
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val lastTaskEnd = mutable.Map[Int, Long]()
  private val ops = mutable.ArrayBuffer[Span]()
  private val opPhases = mutable.Map[Int, Map[String, Double]]()

  def beginOp(id: Int): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
    cur = id
  }

  def endOp(id: Int, name: String, start: Long, end: Long): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized { ops += Span(s"op$id", "", id, "op", name, start, end) }
    cur = -1
    spark.sparkContext.setLocalProperty("perfbench.op", null)
  }

  /** Epoch ms at which the op's last task ended (write-commit tail base). */
  def lastTaskEndOf(op: Int): Option[Long] = synchronized(lastTaskEnd.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(cur, e.jobId, e.time, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (cur >= 0 && e.taskInfo != null)
      lastTaskEnd(cur) = math.max(lastTaskEnd.getOrElse(cur, 0L), e.taskInfo.finishTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val tm = i.taskMetrics
    val counts =
      if (tm == null) Map("tasks" -> i.numTasks.toDouble)
      else Map(
        "tasks" -> i.numTasks.toDouble,
        "run_ms" -> tm.executorRunTime.toDouble,
        "cpu_ms" -> tm.executorCpuTime / 1e6,
        "gc_ms" -> tm.jvmGCTime.toDouble,
        "shuffle_read_bytes" -> (tm.shuffleReadMetrics.remoteBytesRead +
          tm.shuffleReadMetrics.localBytesRead).toDouble,
        "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble,
        "input_bytes" -> tm.inputMetrics.bytesRead.toDouble)
    stages += new Stage(cur, i.stageId, i.name, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), counts)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = new Exec(cur, s.executionId, s.description, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  private def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }.toMap

  /** Adds planning-phase times of the current op (`QueryPlanningTracker`);
    * the harness adds the eager analysis of the op's final DataFrame. */
  def addPhases(op: Int, p: Map[String, Double]): Unit = synchronized {
    if (op >= 0) opPhases(op) = (opPhases.getOrElse(op, Map.empty[String, Double]).toSeq ++ p.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(cur, phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Per-op layer counts: driver phases and job gaps, and task metrics
    * summed over the op's stages. `wallMs` is the op's own wall time. */
  def opCounts(op: Int, start: Long, end: Long): Map[String, Double] = synchronized {
    val js = jobs.values.filter(_.op == op).toSeq
    val ss = stages.filter(_.op == op)
    def phase(p: String) = opPhases.get(op).flatMap(_.get(p)).getOrElse(0.0)
    def stageSum(k: String) = ss.map(_.counts.getOrElse(k, 0.0)).sum
    Map(
      "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "jobs" -> js.size.toDouble,
      "gap_ms" -> ((end - start) - Span.covered(js.map(j => (j.start, j.end)), start, end)).toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> stageSum("tasks"),
      "run_ms" -> stageSum("run_ms"),
      "cpu_ms" -> stageSum("cpu_ms"),
      "gc_ms" -> stageSum("gc_ms"),
      "shuffle_read_bytes" -> stageSum("shuffle_read_bytes"),
      "shuffle_write_bytes" -> stageSum("shuffle_write_bytes"),
      "spill_bytes" -> stageSum("spill_bytes"))
  }

  /** All spans recorded, each op's children linked to it. */
  def spans: Seq[Span] = synchronized {
    val stageSpan = stages.map(s => s.id -> s).toMap
    val out = mutable.ArrayBuffer[Span]()
    out ++= ops
    execs.values.filter(_.op >= 0).foreach { x =>
      out += Span(s"exec${x.id}", s"op${x.op}", x.op, "exec", x.name, x.start, x.end)
    }
    val emitted = mutable.Set[Int]()
    jobs.values.filter(_.op >= 0).foreach { j =>
      val parent = if (execs.contains(j.exec)) s"exec${j.exec}" else s"op${j.op}"
      out += Span(s"job${j.id}", parent, j.op, "job", s"job ${j.id}", j.start, j.end)
      // a reused shuffle stage is listed by later jobs too; it ran once
      j.stages.filter(emitted.add).flatMap(stageSpan.get).foreach { s =>
        out += Span(s"stage${s.id}", s"job${j.id}", j.op, "stage", s.name, s.start, s.end, s.counts)
      }
    }
    out.toSeq
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - Span.covered(iv, s.start, s.end))
    }.toMap
  }
}
