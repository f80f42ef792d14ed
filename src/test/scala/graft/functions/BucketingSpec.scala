package graft.functions

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables co-locate: the join plans with zero Exchange") {
    val a = (1 to 5000).map(i => (i.toLong % 97, i)).toDF("k", "va")
    val b = (1 to 3000).map(i => (i.toLong % 97, i * 2)).toDF("k", "vb")
    Bucketing.writeBucketed(a, "k", 8, "graft_bucket_a")
    Bucketing.writeBucketed(b, "k", 8, "graft_bucket_b")
    // disable auto-broadcast so the test sees the SMJ path a big-big join takes
    try GraftSession.withConfs(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Bucketing.cojoin(spark, "graft_bucket_a", "graft_bucket_b", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and the result matches the plain join
      val expected = a.join(b, Seq("k")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }
}
