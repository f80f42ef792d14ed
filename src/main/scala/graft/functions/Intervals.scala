package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-overlap join WITHOUT an equi key.
  *
  * Two large interval tables joined on `a.start <= b.end AND b.start <=
  * a.end` have no equality predicate, so Spark's only built-in plan is a
  * broadcast-nested-loop / cartesian — quadratic and undistributable at
  * 100 TB. The standard fix is BUCKETIZATION: explode every interval into
  * the coarse time buckets it spans, equi-join on the bucket id (a hash
  * shuffle), then apply the exact overlap predicate and dedupe pairs that
  * met in several buckets. Join cost becomes Σ per-bucket |A_b|·|B_b| —
  * local densities, never |A|·|B| — and the bucket width is the knob:
  * ~the median interval length keeps the explode factor small AND the
  * buckets selective.
  */
object Intervals {

  /** Overlapping (aId, bId) pairs from interval tables `a` and `b`
    * (bounds in the same integer unit, inclusive ends). `bucket` is the
    * bucket width in those units. Exact: bucketization only routes
    * candidates; the overlap predicate decides. Both sides are renamed
    * internally before the join, so callers may use identical column
    * names on the two tables (or self-join a table with itself — when
    * the two id columns share one name, outputs are suffixed `_a`/`_b`). */
  def overlapJoin(a: DataFrame, aId: String, aStart: String, aEnd: String,
                  b: DataFrame, bId: String, bStart: String, bEnd: String,
                  bucket: Long): DataFrame = {
    // double division can lose ulps at epoch-micro magnitudes, but value →
    // double → /bucket → floor is MONOTONE, so an overlapping pair's bucket
    // ranges still intersect (both contain bk(max(starts))) — routing stays
    // complete; the exact predicate below decides membership.
    def explodeBuckets(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn("__bk",
        explode(sequence(floor(col(s).cast("double") / bucket).cast("long"),
                         floor(col(e).cast("double") / bucket).cast("long"),
                         lit(1L))))
    val ab = explodeBuckets(
      a.select(col(aId).as("__a_id"), col(aStart).as("__a_start"), col(aEnd).as("__a_end")),
      "__a_start", "__a_end")
    val bb = explodeBuckets(
      b.select(col(bId).as("__b_id"), col(bStart).as("__b_start"), col(bEnd).as("__b_end")),
      "__b_start", "__b_end")
    val (outA, outB) = if (aId == bId) (s"${aId}_a", s"${bId}_b") else (aId, bId)
    ab.join(bb, Seq("__bk"))
      .filter(col("__a_start") <= col("__b_end") && col("__b_start") <= col("__a_end"))
      .select(col("__a_id").as(outA), col("__b_id").as(outB)).distinct()
  }
}
