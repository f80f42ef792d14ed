package graft.tools

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Warm-then-time profile of SparkEntry queries at bench conditions:
  * `runMain graft.tools.Profile [--conf key=valA,valB] <query...>`, with
  * the sf dir and cpus from SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS and
  * Bench's defaults.
  *
  * Per query: one untimed warm-up per arm, then 3 timed reps alternating
  * between the arms, each through the noop sink; prints every arm's reps
  * and their min. With `--conf` the two arms are child sessions
  * (`newSession()`) of one context with `key` set to valA and valB — same
  * JIT, same page cache. Every job carries the description
  * "<query> <arm> rep <i>" (rep 0 is the warm-up). Without `--conf` there
  * is one arm, and the jobs of its last rep are printed with their SQL
  * execution id and their stages of 50 ms or more. The executed
  * (post-AQE) plan of each arm's last rep goes to
  * /tmp/graft_exec_plans/<query>.txt. */
object Profile {
  private val Reps = 3
  private val PlanDir = "/tmp/graft_exec_plans"

  /** One session under test, remembering the executed plan of its last
    * successful action. */
  private final class Arm(val label: String, val session: SparkSession) {
    @volatile var lastPlan = ""
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastPlan = qe.executedPlan.toString
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private final case class Job(id: Int, desc: String, exec: String, var ms: Long = -1,
                               stages: mutable.Buffer[(Int, String, Long, Int)] = mutable.Buffer())

  /** Jobs and their completed stages while `capture` is on. */
  private final class JobLog extends SparkListener {
    @volatile var capture = false
    val jobs = mutable.LinkedHashMap[Int, Job]()
    private val starts = mutable.Map[Int, Long]()
    private val stageJob = mutable.Map[Int, Int]()
    def clear(): Unit = synchronized { jobs.clear(); starts.clear(); stageJob.clear() }
    override def onJobStart(js: SparkListenerJobStart): Unit = if (capture) synchronized {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs(js.jobId) = Job(js.jobId, prop("spark.job.description"), prop("spark.sql.execution.id"))
      starts(js.jobId) = js.time
      js.stageIds.foreach(stageJob(_) = js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (capture) synchronized {
      jobs.get(je.jobId).foreach(_.ms = je.time - starts.getOrElse(je.jobId, je.time))
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (capture) synchronized {
      val si = sc.stageInfo
      val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid))
        j.stages += ((si.stageId, si.name.takeWhile(_ != '\n'), ms, si.numTasks))
    }
  }

  def main(args: Array[String]): Unit = {
    val (ab, queries) = args.toList match {
      case "--conf" :: spec :: rest =>
        val (key, vals) = spec.split("=", 2) match {
          case Array(k, v) => (k, v.split(",", -1))
          case _ => (spec, Array.empty[String])
        }
        require(vals.length == 2, s"--conf wants key=valA,valB, got '$spec'")
        (Some((key, vals(0), vals(1))), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val root = GraftSession.builder(cpus).getOrCreate()
    root.sparkContext.setLogLevel("ERROR")
    val arms = ab match {
      case Some((key, a, b)) => Seq(a, b).map { v =>
        val s = root.newSession()
        s.conf.set(key, v)
        new Arm(s"$key=$v", s)
      }
      case None => Seq(new Arm("", root))
    }
    val log = new JobLog
    root.sparkContext.addSparkListener(log)
    Files.createDirectories(Paths.get(PlanDir))

    queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(arm: Arm, rep: Int): Double = {
        val sc = arm.session.sparkContext
        sc.setJobDescription(Seq(name, arm.label, s"rep $rep").filter(_.nonEmpty).mkString(" "))
        val t0 = System.nanoTime()
        try fn(arm.session, sfDir).write.format("noop").mode("overwrite").save()
        finally sc.setJobDescription(null)
        (System.nanoTime() - t0) / 1e9
      }
      arms.foreach(run(_, 0))
      val reps = Array.ofDim[Double](arms.size, Reps)
      for (i <- 0 until Reps; (arm, j) <- arms.zipWithIndex) {
        if (arms.size == 1 && i == Reps - 1) { log.clear(); log.capture = true }
        reps(j)(i) = run(arm, i + 1)
      }
      Thread.sleep(500) // let the listener bus drain
      log.capture = false
      arms.zip(reps).foreach { case (arm, rs) =>
        val tag = Seq(name, arm.label).filter(_.nonEmpty).mkString(" ")
        println(f"[profile] $tag reps=${rs.map(r => f"$r%.3f").mkString(",")} min=${rs.min}%.3f")
      }
      if (arms.size == 1) log.synchronized {
        log.jobs.values.foreach { j =>
          println(f"  job ${j.id}%3d ${j.ms}%6d ms  exec ${j.exec}%4s  ${j.desc.take(80)}")
          j.stages.sortBy(-_._3).filter(_._3 >= 50).foreach { case (sid, nm, ms, nt) =>
            println(f"      stage $sid%4d $ms%6d ms $nt%4d tasks  ${nm.take(70)}")
          }
        }
      }
      val plan = Paths.get(s"$PlanDir/$name.txt")
      Files.writeString(plan, arms.map { a =>
        (if (arms.size > 1) s"== ${a.label} ==\n" else "") + a.lastPlan
      }.mkString("\n"))
      println(s"  executed plan -> $plan")
    }
    root.stop()
  }
}
