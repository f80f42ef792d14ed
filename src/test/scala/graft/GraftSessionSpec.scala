package graft

/** The shared test session is built by [[GraftSession.builder]], so the
  * suite plans under the engine's settings, and [[GraftSession.withConfs]]
  * leaves the session as it found it. */
class GraftSessionSpec extends SparkSpec {
  test("the test session carries the engine's session settings") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") ==
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    assert(spark.sessionState.conf.sessionLocalTimeZone == "UTC")
    assert(spark.sessionState.conf.numShufflePartitions == 4)
    // the builder leaves AQE and its coalescing to Spark's defaults
    assert(spark.sessionState.conf.adaptiveExecutionEnabled)
    assert(spark.sessionState.conf.coalesceShufflePartitionsEnabled)
  }

  test("withConfs restores a set key, unsets an absent one, also on a throw") {
    val set = "spark.sql.autoBroadcastJoinThreshold"
    val absent = "spark.graft.test.withConfsAbsent"
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(absent).isEmpty)
    val seen = GraftSession.withConfs(spark)(set -> "-1", absent -> "x") {
      (spark.conf.get(set), spark.conf.get(absent))
    }
    assert(seen == ("-1", "x"))
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(absent).isEmpty)

    val e = intercept[IllegalStateException] {
      GraftSession.withConfs(spark)(set -> "-1", absent -> "x") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(absent).isEmpty)
  }
}
