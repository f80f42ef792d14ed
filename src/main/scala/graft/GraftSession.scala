package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session configuration: Bench, Verify, the tools, the
  * demos and the test session all build from [[builder]], so the oracle
  * and the tests certify the same plans the bench times. Callers add only
  * deployment settings (app name, warehouse dir). AQE and its partition
  * coalescing are Spark's defaults and are not restated here. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      // InferFiltersFromGenerate re-evaluates the generator input under the
      // inferred size()>0 filter; every generator in this engine is a
      // computed kernel column (shingles/fingerprints/segments), so the
      // inference only ever re-runs kernels single-task below the spread
      // exchange — never prunes a stored column (r20 A/B: dedup family
      // −0.2..−0.45 s each, no query slower beyond noise). Same posture at
      // cluster scale; the conf is the engine's recommended session config.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")

  /** Runs `body` with `confs` set on the session, then puts back each key's
    * earlier value, or unsets a key that had none — also when `body`
    * throws. A result that must see the confs has to be materialized
    * inside `body`. */
  def withConfs[A](spark: SparkSession)(confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
