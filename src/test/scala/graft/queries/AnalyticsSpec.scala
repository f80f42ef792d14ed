package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the round-6 analytics additions: incremental-merge losslessness,
  * the k-core cascade's fixpoint property, inverted-index positional math, and
  * cross-correlation pick determinism. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("pipeline_incremental: base ⊎ delta merge equals the full recompute") {
    val merged = Relational5.qPipelineIncremental(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    val full = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
           min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("event_type"))
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(merged == full, "merge algebra must be lossless")
  }

  test("graph_kcore: a stable cascade keeps every core node at degree >= k") {
    // the registered cascade's k: 1.5x the lower-median degree of the
    // bipartite customer<->supplier trade graph, recomputed here
    val e0 = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b")).distinct()
    val degrees = e0.select(col("a")).unionAll(e0.select(col("b")))
      .groupBy(col("a")).count().as[(Long, Long)].collect().map(_._2).sorted
    val k = 15 * degrees((degrees.length + 1) / 2 - 1) / 10
    val rows = Relational8.qGraphKcore(spark, sf).as[(Long, Long, Long)].collect().sortBy(_._1)
    val (_, nodes, edges) = rows.last
    // a round that removes no node is the fixpoint: the cascade pads the
    // rest with it, so the last two rounds agree
    assert(rows(rows.length - 2)._2 == nodes, s"no fixpoint within 8 rounds: ${rows.toSeq}")
    // handshake bound: every surviving node has >= k core neighbors
    assert(2 * edges >= k * nodes, s"core of $nodes nodes needs >= ${k * nodes} endpoints, got ${2 * edges}")
    assert(edges >= 0 && nodes >= 0)
  }

  test("text_inverted_index: df <= cf, positional mass consistent") {
    val rows = Relational5.qTextInvertedIndex(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length > 0 && rows.length <= 15)
    rows.foreach { case (term, df, cf, sumPos, first, last) =>
      assert(term.nonEmpty)
      assert(df <= cf, s"$term: df $df > cf $cf")
      assert(sumPos >= 0)
      assert(first <= last)
    }
    // sorted by df desc then term
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq)
  }

  test("mdio_xcorr: one pick per adjacent pair, lags in band, ties break low") {
    val rows = Mdio.qXcorr(spark, sf)
      .as[(Long, Int, Double)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "one pick per pair")
    rows.foreach { case (tr, lag, score) =>
      assert(lag >= -2 && lag <= 2, s"pair $tr lag $lag out of band")
      assert(!score.isNaN)
    }
    // determinism: a rerun picks identical lags
    val again = Mdio.qXcorr(spark, sf).as[(Long, Int, Double)].collect()
    assert(rows.toSeq == again.toSeq)
  }
}
