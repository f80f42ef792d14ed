package perfbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** One pass over four registry queries in seeded order, each into the
  * noop sink: shuffles, joins and iterative driver re-planning dominate.
  * Set-up runs each query once and keeps its result for the DuckDB
  * oracle check that run.py makes after the JVM exits. */
final class QueryMix(h: Harness) extends Workload {
  private val spark = h.spark
  private val names = if (h.args.smoke) Metrics.smokeQueries else Metrics.queries
  private val rnd = new scala.util.Random(h.args.seed ^ 0x9E3779B9L)
  private val dir = h.args.tables
  private val rows = scala.collection.mutable.Map[String, Long]()

  def setup(): Unit = {
    require(dir.nonEmpty, "query_mix needs --tables")
    val out = s"${h.args.work}/oracle"
    // the set-up pass runs the queries two at a time: it only warms the
    // JVM and keeps each result for the oracle, so its order is free
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try names.map { q =>
      pool.submit(new Runnable {
        def run(): Unit =
          try h.phase(s"warm-up $q") {
            SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
            val n = spark.read.parquet(s"$out/$q").count()
            rows.synchronized(rows(q) = n)
          } catch { case e: Throwable => h.setupCheck(s"query $q", ok = false, e.toString) }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    // oracle SQL is read after the queries ran: trained entries of the
    // registry embed literals learned by the run
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.flatMap(q => sql.get(q).map(q -> _))))
  }

  def cycle(): Unit =
    rnd.shuffle(names).foreach { q =>
      h.op(q)(Store.drain(SparkEntry.queries(q)(spark, dir), checksum = false)._1)(
        n => if (!rows.get(q).contains(n)) Some(s"rows $n != set-up rows ${rows.get(q)}") else None)
    }

  def named(): Map[String, (Double, String)] =
    Map("query_mix_s" -> (Stats.pct(h.cycleMs.toSeq, 0.5) / 1e3, "s"))

  def layers(): Map[String, Double] =
    names.map(q => s"queries.${q}_s" -> Stats.pct(h.ofKind(q).map(_.ms), 0.5) / 1e3).toMap
}
