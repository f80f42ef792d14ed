package graft.queries

import org.apache.spark.sql.expressions.Window
import graft.functions.LineageCut.CutOps
import org.apache.spark.sql.functions._

/** Second tranche of the general surface: remaining window-function forms,
  * outer/cross joins, exact percentiles, covariance/correlation from
  * decimal-exact sums, and the array/map/json scalar families
  * (SURVEY §2.5/§2.7 "absent in reference → Spark built-ins").
  */
object Relational2 {

  // ---- windows: value-offset + frame varieties ----------------------------

  /** first/last/nth value over a partitioned ordered frame. */
  val qWindowFirstLast: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(s, d)
      .withColumn("first_type", first(col("event_type")).over(w))
      .withColumn("last_type", last(col("event_type")).over(w))
      .withColumn("second_value", nth_value(col("value"), 2).over(w))
      .groupBy(col("first_type"), col("last_type"))
      .agg(count(lit(1)).as("n"), dsum(col("second_value")).as("sum_second"))
  }

  val qWindowFirstLastSql: String = s"""
    SELECT first_type, last_type, COUNT(*) AS n, ${sqlDsum("second_value")} AS sum_second
    FROM (
      SELECT user_id,
             FIRST_VALUE(event_type) OVER w AS first_type,
             LAST_VALUE(event_type)  OVER w AS last_type,
             NTH_VALUE(value, 2)     OVER w AS second_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) t
    GROUP BY first_type, last_type"""

  /** RANGE frame: orders within ±5000 of each order's price, windowed PER
    * PRIORITY — a partitioned range frame shuffles once on the partition
    * key; a global one would single-partition at scale. */
  val qWindowRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice")).rangeBetween(-5000L, 5000L)
    // explicit repartition on the window key: the range-frame count is
    // CPU-heavy per row and AQE's byte-based coalescing was collapsing
    // the window exchange to 1-2 tasks (A/B r19: 0.49 s vs 1.36 s); an
    // explicit count is exempt from coalescing and the window reuses it
    orders(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions, col("o_orderpriority"))
      .withColumn("nearby", count(lit(1)).over(w))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("nearby")).as("max_nearby"), count(lit(1)).as("n"))
  }

  val qWindowRangeFrameSql: String = """
    SELECT o_orderpriority, MAX(nearby) AS max_nearby, COUNT(*) AS n FROM (
      SELECT o_orderpriority, COUNT(*) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS nearby
      FROM orders) t
    GROUP BY o_orderpriority"""

  /** rank + dense_rank + lead (gap detection on ranks). */
  val qWindowRanks: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .filter(col("rnk") <= 5)
      .groupBy(col("o_orderpriority"))
      .agg(max(col("rnk")).as("max_rnk"), max(col("drnk")).as("max_drnk"),
           dsum(col("next_price")).as("sum_next"))
  }

  val qWindowRanksSql: String = s"""
    SELECT o_orderpriority, MAX(rnk) AS max_rnk, MAX(drnk) AS max_drnk,
           ${sqlDsum("next_price")} AS sum_next
    FROM (
      SELECT o_orderpriority,
             RANK()       OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             LEAD(o_totalprice, 1) OVER w AS next_price
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)) t
    WHERE rnk <= 5
    GROUP BY o_orderpriority"""

  /** GAPS-AND-ISLANDS: maximal runs of consecutive same-type events per
    * user — the classic run-detection idiom (two row_numbers whose
    * difference is constant within a run), executed as two window passes
    * over ONE shuffle on user_id. Output folds islands per type:
    * run counts and length extremes, all integer-exact. */
  val qWindowIslands: Q = (s, d) => {
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wTyp = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("grp", row_number().over(wAll) - row_number().over(wTyp))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_islands"),
           max(col("len")).as("max_len"),
           sum(col("len")).as("n_events"))
      .orderBy(col("event_type"))
  }

  val qWindowIslandsSql: String = """
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) -
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
      FROM events),
    runs AS (
      SELECT user_id, event_type, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM r GROUP BY 1, 2, 3)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_islands,
           MAX(len) AS max_len, CAST(SUM(len) AS BIGINT) AS n_events
    FROM runs GROUP BY 1 ORDER BY 1"""

  // ---- joins: outer + cross ------------------------------------------------

  /** FULL OUTER join between two aggregate sides. */
  val qJoinFullOuter: Q = (s, d) => {
    val bySupp = lineitem(s, d).filter(col("l_returnflag") === "R")
      .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("n_returned"))
    val byPart = lineitem(s, d).filter(col("l_quantity") > 45)
      .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("n_bulk"))
    bySupp.join(byPart, Seq("k"), "full_outer")
      .agg(count(lit(1)).as("n_keys"),
           sum(when(col("n_returned").isNull, 1L).otherwise(0L)).as("only_bulk"),
           sum(when(col("n_bulk").isNull, 1L).otherwise(0L)).as("only_returned"))
  }

  val qJoinFullOuterSql: String = """
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(CASE WHEN n_returned IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_bulk,
           CAST(SUM(CASE WHEN n_bulk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_returned
    FROM (SELECT l_suppkey AS k, COUNT(*) AS n_returned FROM lineitem
          WHERE l_returnflag = 'R' GROUP BY 1) a
    FULL OUTER JOIN (SELECT l_suppkey AS k, COUNT(*) AS n_bulk FROM lineitem
          WHERE l_quantity > 45 GROUP BY 1) b USING (k)"""

  /** Cross join of two tiny dimensions (explicitly declared). */
  val qJoinCross: Q = (s, d) =>
    region(s, d).select(col("r_name"))
      .crossJoin(nation(s, d).select(col("n_name")))
      .agg(count(lit(1)).as("n"), min(concat(col("r_name"), lit("|"), col("n_name"))).as("first_pair"))

  val qJoinCrossSql: String = """
    SELECT COUNT(*) AS n, MIN(r_name || '|' || n_name) AS first_pair
    FROM region CROSS JOIN nation"""

  /** EXACT distinct counting via mergeable BITMAPS — the warehouse
    * technique for dense integer key domains (user ids): each
    * (group, 64-key word) holds one BIT_OR'd long, so the per-group
    * distinct count is SUM(bit_count(word)). Unlike count_distinct, the
    * word table is SUM/OR-mergeable — pre-aggregate it per day/partition
    * and roll it up forever without rescanning inputs — and unlike HLL
    * it is exact; state is keyspace/64 longs, not per-observed-value.
    * Pure integer ops, hash-exact in any engine. */
  val qAggBitmapDistinct: Q = (s, d) =>
    events(s, d)
      .groupBy(col("event_type"), expr("user_id div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 64 as int)))").as("bits"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("n_users"),
           count(lit(1)).as("n_words"))
      .orderBy(col("event_type"))

  val qAggBitmapDistinctSql: String = """
    WITH w AS (
      SELECT event_type, user_id // 64 AS w,
             bit_or(1::UBIGINT << CAST(user_id % 64 AS INT)) AS bits
      FROM events GROUP BY 1, 2)
    SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM w GROUP BY 1 ORDER BY 1"""

  /** First-order MARKOV TRANSITION MATRIX over each user's event
    * sequence — the behavior-modeling fold (what follows what). One lead
    * window per user (single shuffle on user_id), then pair counts;
    * transition probabilities ship as exact PARTS-PER-MILLION integers
    * (n·1e6 DIV row_total — the [[qGraphPagerank]] integer-probability
    * discipline), so the matrix is hash-exact in any engine. */
  val qEventsMarkov: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_total"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 div row_total").as("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val qEventsMarkovSql: String = """
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    totals AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
      FROM pairs GROUP BY 1)
    SELECT from_type, to_type, n,
           CAST(n * 1000000 // row_total AS BIGINT) AS p_ppm
    FROM pairs JOIN totals USING (from_type)
    ORDER BY from_type, to_type"""

  // ---- aggregates: percentiles, corr/covar from exact sums ----------------

  /** Exact percentiles (linear interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the definition). */
  val qAggPercentile: Q = (s, d) =>
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, array(0.25, 0.75))").as("p_arr"))
      .select(col("l_returnflag"), col("p50"),
        col("p_arr")(0).as("p25"), col("p_arr")(1).as("p75"))

  val qAggPercentileSql: String = """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag"""

  /** Pearson correlation & covariance assembled from decimal-exact sums —
    * order-independent, engine-exact (built-in corr() accumulates doubles
    * in partition order, which is not reproducible across engines).
    * Columns chosen so every per-row product's double ULP stays below the
    * decimal(…,6) quantum — the engine-portability boundary. */
  val qAggCorr: Q = (s, d) =>
    // spread the single-split scan: the six decimal sufficient-statistic
    // sums are CPU-heavy per row and ran on one core (r19 profile: ~2 s
    // in a one-effective-task stage); no-op once the scan is parallel
    graft.functions.Spread.byKeyIfNarrow(
        lineitem(s, d).select(col("l_returnflag"), col("l_quantity"),
          col("l_discount"), col("l_orderkey")),
        col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_discount")).as("sy"),
        dsumsq(col("l_quantity")).as("sxx"),
        sum((col("l_quantity") * col("l_discount")).cast("decimal(30,6)")).cast("double").as("sxy"),
        sum((col("l_discount") * col("l_discount")).cast("decimal(30,6)")).cast("double").as("syy"))
      .select(col("l_returnflag"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)).as("covar_samp"))

  val qAggCorrSql: String = s"""
    SELECT l_returnflag,
           (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr,
           (sxy - sx * sy / n) / (n - 1) AS covar_samp
    FROM (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             ${sqlDsum("l_quantity")} AS sx,
             ${sqlDsum("l_discount")} AS sy,
             ${sqlDsumsq("l_quantity")} AS sxx,
             CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag) t"""

  /** PIVOT: order totals per priority, one column per status (explicit
    * value list keeps the schema static — the scale-safe pivot form). */
  val qAggPivot: Q = (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))

  val qAggPivotSql: String = s"""
    SELECT o_orderpriority,
           ${sqlDsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F,
           ${sqlDsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O,
           ${sqlDsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P
    FROM orders GROUP BY o_orderpriority"""

  /** Conditional aggregation: count_if / any / every. */
  val qAggConditional: Q = (s, d) =>
    orders(s, d).groupBy(col("o_orderpriority"))
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        some(col("o_orderstatus") === "F").as("has_f"),
        every(col("o_totalprice") > 0).as("all_positive"))

  val qAggConditionalSql: String = """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_or(o_orderstatus = 'F') AS has_f,
           bool_and(o_totalprice > 0) AS all_positive
    FROM orders GROUP BY o_orderpriority"""

  // ---- scalar families: array / json / datetime ---------------------------

  /** Array functions: collect + sort + slice + aggregate over groups.
    * sort_array gives deterministic order before joining. */
  val qFnArray: Q = (s, d) =>
    lineitem(s, d).filter(col("l_orderkey") < 100)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber").cast("long"))).as("lines"))
      .select(col("l_orderkey"),
        size(col("lines")).cast("long").as("n_lines"),
        col("lines")(0).as("first_line"),
        array_join(transform(col("lines"), x => x.cast("string")), ",").as("lines_csv"))

  val qFnArraySql: String = """
    SELECT l_orderkey,
           CAST(len(lines) AS BIGINT) AS n_lines,
           lines[1] AS first_line,
           array_to_string(lines, ',') AS lines_csv
    FROM (SELECT l_orderkey, list_sort(list(CAST(l_linenumber AS BIGINT))) AS lines
          FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey) t"""

  /** JSON extraction from the props column (get_json_object path syntax
    * matches DuckDB's json_extract_string ->> semantics). */
  val qFnJson: Q = (s, d) =>
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.source").as("src"))
      .groupBy(col("event_type"), col("src"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))

  val qFnJsonSql: String = """
    SELECT event_type, props ->> '$.source' AS src, COUNT(*) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY 1, 2"""

  /** Datetime arithmetic: add_months / last_day / extract dow. */
  val qFnDatetime: Q = (s, d) =>
    orders(s, d)
      .select(
        add_months(col("o_orderdate"), 3).cast("timestamp").as("plus3m"),
        last_day(col("o_orderdate")).cast("timestamp").as("eom"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), min(col("plus3m")).as("min_plus3m"), max(col("eom")).as("max_eom"))

  val qFnDatetimeSql: String = """
    SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow, COUNT(*) AS n,
           MIN(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)) AS min_plus3m,
           MAX(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)) AS max_eom
    FROM orders GROUP BY 1"""

  /** Map functions: build a status→count map per priority from collected
    * entries, then element_at lookups (missing key → null on both sides). */
  val qFnMap: Q = (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("o_orderstatus"), col("cnt")))))
        .as("m"))
      .select(col("o_orderpriority"),
        element_at(col("m"), "F").as("n_f"),
        element_at(col("m"), "O").as("n_o"),
        size(map_keys(col("m"))).cast("long").as("n_statuses"))

  val qFnMapSql: String = """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority"""

  /** String edit-distance + phonetics-free similarity (levenshtein shares
    * its definition across engines). */
  val qFnLevenshtein: Q = (s, d) =>
    nation(s, d)
      .select(col("n_name"), levenshtein(col("n_name"), lit("UNITED STATES")).cast("long").as("dist"))
      .orderBy(col("dist"), col("n_name")).limit(5)

  val qFnLevenshteinSql: String = """
    SELECT n_name, CAST(levenshtein(n_name, 'UNITED STATES') AS BIGINT) AS dist
    FROM nation ORDER BY dist, n_name LIMIT 5"""

  // ---- approximate aggregates (scale path) -------------------------------

  /** HLL distinct + approximate percentile: the 100 TB path where exact
    * distinct/percentile shuffles would dominate. Sketch internals differ
    * across engines by design, so the oracle row can't carry the estimate
    * itself — instead the query emits the EXACT distinct count (which
    * DuckDB re-derives) plus 0/1 verdicts that each estimate sits inside
    * its published error bound, and the oracle asserts the verdicts:
    *  - approx_count_distinct(rsd=0.02): |est − exact| ≤ 3·rsd·exact
    *    (HLL++'s relative standard deviation, three-sigma band);
    *  - percentile_approx(accuracy=1000): guaranteed rank error ≤
    *    N/accuracy, so the estimate's exact rank window [count(<est),
    *    count(≤est)] must intersect [0.49, 0.51]·N (10x the 0.001
    *    guarantee). Checked by a second conditional-aggregation pass with
    *    the 3-row estimate table broadcast — RANK counting, not an exact
    *    percentile: no sort, no per-group value map, two scans total,
    *    which is the shape that still runs at 100 TB (an exact
    *    `percentile()` comparison benched 5.8 s vs this plan's ~1 s).
    * A sketch regression past its bound flips a verdict to 0 and fails
    * the hash — a full rows+schema+hash gate, not a rows-only check. */
  val qAggApprox: Q = (s, d) => {
    // spread once; BOTH consumers (sketch aggregates and the rank pass)
    // reuse the one exchange (ReusedExchange), each running on all cores
    // instead of the scan's lone split
    val li = graft.functions.Spread.byKeyIfNarrow(
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_partkey"), col("l_extendedprice")),
      col("l_partkey"))
    val est = li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("am"))
    val ranks = li
      .join(broadcast(est.select(col("l_returnflag").as("rf"), col("am"))),
        col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("l_extendedprice") < col("am"), 1L).otherwise(0L)).as("n_lt"),
           sum(when(col("l_extendedprice") <= col("am"), 1L).otherwise(0L)).as("n_le"))
    est.join(ranks, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("ap") - col("exact_parts"))
          <= col("exact_parts") * lit(0.06)).cast("bigint").as("hll_in_3sigma"),
        (col("n_lt").cast("double") <= lit(0.51) * col("n").cast("double") &&
         col("n_le").cast("double") >= lit(0.49) * col("n").cast("double"))
          .cast("bigint").as("pctl_in_band"))
      .orderBy(col("l_returnflag"))
  }

  val qAggApproxSql: String = """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(1 AS BIGINT) AS hll_in_3sigma,
           CAST(1 AS BIGINT) AS pctl_in_band
    FROM lineitem GROUP BY 1 ORDER BY 1"""

  /** The same distinct-cardinality problem solved with graft's PORTABLE
    * HLL ([[graft.functions.Sketches.hllDistinct]]): identical sketch
    * arithmetic recomputed independently by the DuckDB oracle, so unlike
    * `approx_count_distinct` the approximate answer itself hash-matches
    * cross-engine. Same 100 TB shape — fixed 2^p state per group,
    * map-side combine, mergeable registers. */
  val qAggHllPortable: Q = (s, d) =>
    graft.functions.Sketches.hllDistinct(
      lineitem(s, d), Seq("l_returnflag"), col("l_partkey"))

  val qAggHllPortableSql: String =
    graft.functions.Sketches.hllDistinctSql("lineitem", Seq("l_returnflag"), "l_partkey")

  /** HLL SKETCH ALGEBRA: |A ∩ B| for two audience sets (high-value
    * clickers vs high-value purchasers) by inclusion–exclusion over
    * MERGED REGISTERS — the union estimate comes from register-wise MAX
    * of the two standing sketches, NOT from rescanning the inputs, which
    * is the whole point of mergeable sketch state at 100 TB (audiences
    * intersect in O(m) register work at serving time). Every register and
    * every estimate is re-derived from scratch by the oracle. */
  val qAggHllIntersect: Q = (s, d) => {
    import graft.functions.Sketches
    val ev = events(s, d)
    val a = ev.filter(col("event_type") === "click" && col("value") >= 90.0)
      .select(col("user_id"))
    val b = ev.filter(col("event_type") === "purchase" && col("value") >= 90.0)
      .select(col("user_id"))
    val ra = Sketches.hllRegisters(a, Seq.empty, col("user_id"))
    val rb = Sketches.hllRegisters(b, Seq.empty, col("user_id"))
    val ru = ra.unionAll(rb).groupBy(col("__bucket")).agg(max(col("__maxl")).as("__maxl"))
    val ea = Sketches.hllFinalize(ra, Seq.empty, out = "est_a")
    val eb = Sketches.hllFinalize(rb, Seq.empty, out = "est_b")
    val eu = Sketches.hllFinalize(ru, Seq.empty, out = "est_union")
    ea.crossJoin(eb).crossJoin(eu)
      .select(col("est_a"), col("est_b"), col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 4).as("est_intersect"),
        round((col("est_a") + col("est_b") - col("est_union")) / col("est_union"), 6)
          .as("jaccard_est"))
  }

  val qAggHllIntersectSql: String = {
    // keyless twin of Sketches.hllDistinctSql (p=8, m=256), built per set;
    // the union estimate folds MAX-merged registers, mirroring the Spark
    // side's register algebra
    def regs(pred: String) = s"""
      SELECT h % 256 AS bucket,
             MAX(CASE WHEN (h >> 8) = 0 THEN ${1L << 23}
                      ELSE (h >> 8) & (-(h >> 8)) END) AS maxl
      FROM (SELECT xor(c, c >> 13) AS h FROM (
            SELECT (CAST(1013904223 AS BIGINT) * xor(a, a >> 15) + 390451572) % 2147483647 AS c
            FROM (SELECT ((CAST(1103515245 AS BIGINT) * ((user_id) % 2147483647) + 12345) % 2147483647) AS a
                  FROM events WHERE $pred)))
      GROUP BY bucket"""
    def est(regsName: String, out: String) = s"""
      SELECT ROUND(CASE WHEN raw <= 640.0e0 AND zeros > 0
                        THEN 256e0 * LN(256e0 / zeros) ELSE raw END, 4) AS $out
      FROM (SELECT (0.7213e0 / (1.0e0 + 1.079e0 / 256e0)) * 65536e0 / (sump + (256 - present)) AS raw,
                   256 - present AS zeros
            FROM (SELECT COUNT(*) AS present,
                         SUM(CAST(1.0 AS DOUBLE) / (CAST(2.0 AS DOUBLE) * maxl)) AS sump
                  FROM $regsName))"""
    s"""
    WITH ra AS (${regs("event_type = 'click' AND value >= 90.0")}),
    rb AS (${regs("event_type = 'purchase' AND value >= 90.0")}),
    ru AS (SELECT bucket, MAX(maxl) AS maxl
           FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY bucket),
    ea AS (${est("ra", "est_a")}),
    eb AS (${est("rb", "est_b")}),
    eu AS (${est("ru", "est_union")})
    SELECT est_a, est_b, est_union,
           ROUND(est_a + est_b - est_union, 4) AS est_intersect,
           ROUND((est_a + est_b - est_union) / est_union, 6) AS jaccard_est
    FROM ea, eb, eu"""
  }

  /** ITERATIVE GRAPH ANALYTICS: 5 damped PageRank iterations over the
    * bipartite customer↔supplier trade graph (distinct order edges, made
    * undirected; node id = 2·custkey / 2·suppkey+1). Each iteration is
    * the honest distributed shape — contributions flow along edges via an
    * equi join, fold with ONE groupBy(dst) shuffle, and the damping is a
    * scalar broadcast — so five iterations are five bounded shuffle
    * rounds, the same lineage discipline as the pointer-doubling
    * connected components. Cross-engine exactness: scores live in INTEGER
    * parts-per-billion with floor division at every step — no float op
    * anywhere, so the result is bit-exact in any 64-bit-integer engine
    * (a first cut through decimal-quantized doubles hit the documented
    * half-grid cast divergence — one contribution in ~220k rounded
    * differently; integers close that class of bug entirely). */
  val qGraphPagerank: Q = (s, d) => {
    val e0 = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // materialize the edge and degree tables once (localCheckpoint — the
    // dedup_components lineage-cut discipline): five iterations re-read
    // them instead of re-deriving the lineitem⋈orders distinct each round.
    // Edges are pre-partitioned by the join key src so the checkpoint's
    // preserved partitioning serves all five per-round joins with ONE
    // exchange total (guide §2.4); outdeg is FOLDED INTO the edge table
    // up front, removing the per-round pr⋈deg join outright.
    val shufPart = s.sessionState.conf.numShufflePartitions
    // outdeg folded in with a WINDOW over the same src partitioning the
    // round joins need: the explicit repartition + sortWithinPartitions
    // satisfy the window's distribution AND ordering, so outdeg costs no
    // extra exchange or sort — one checkpointed table replaces the r19
    // edges→deg→join→edgesW chain (three cuts and a join collapse to one
    // cut; identical integer counts per (src) group)
    val wOut = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val edgesW = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(shufPart, col("src")).sortWithinPartitions("src")
      .withColumn("outdeg", count(lit(1)).over(wOut))
      .lineageCut
    val nodes = edgesW.select(col("src").as("node")).distinct().lineageCut
    // node count as a driver scalar (one O(nodes) count over the
    // checkpointed node table) instead of a re-broadcast one-row
    // aggregate in every iteration's plan: same integer arithmetic,
    // six fewer broadcast jobs.
    // max(n,1): an empty edge set must yield the empty result (the old
    // per-row SQL div over an empty table), not a plan-time div-by-zero —
    // with nodes empty the literal's value is never observed by any row
    val n = math.max(nodes.count(), 1L)
    var pr = nodes.select(col("node"), lit(1000000000L / n).as("score_ppb"))
    for (_ <- 1 to 5) {
      val contrib = pr
        .join(edgesW, col("node") === col("src"))
        .select(col("dst"), expr("score_ppb div outdeg").as("c"))
      pr = contrib.groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("sc"))
        .select(col("node"),
          (lit(150000000L / n) + expr("(85 * sc) div 100")).as("score_ppb"))
        // LAZY cut per iteration (keeps the tree O(1) per round): there is
        // no convergence action here, so every round's cut is materialized
        // by the single terminal full-scan action (the final TakeOrdered),
        // which satisfies the LineageCut.cutAtNextAction full-partition
        // contract. Five dedicated materialization jobs removed (guide §1.2)
        .lineageCutLazy
    }
    pr.orderBy(col("score_ppb").desc, col("node")).limit(10)
      .select(col("node"), col("score_ppb"))
  }

  /** TRIANGLE COUNTING on the co-purchase supplier graph (suppliers
    * linked when they serve the same order; one nation's subgraph — the
    * corpus's co-purchase relation is near-complete, so the nation cut
    * keeps the demo graph honest). The scale shape is DEGREE-ORIENTED
    * wedge counting: every edge orients from its lower- to its
    * higher-(degree, id) endpoint, which on real (sparse) graphs bounds
    * out-degrees by the graph's arboricity, so wedge volume is
    * O(m·arboricity), never the hub blow-up of naive wedge counting.
    * Each triangle then has EXACTLY ONE wedge — at its
    * orientation-minimal vertex — closed by one oriented edge, counted
    * by an equi semi join. The oracle counts the same triangles with the
    * order-free u<v<w three-way join. */
  val qGraphTriangles: Q = (s, d) => {
    import graft.functions.LineageCut.CutOps
    val supp = supplier(s, d)
      .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("sk"))
    val li = lineitem(s, d).join(broadcast(supp), col("l_suppkey") === col("sk"))
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("n"))
    // the distinct edge set feeds the degree build, the orientation, and
    // the final edge count; materialize the pair expansion once
    val und = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b")).distinct().lineageCut
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val out = und
      .join(deg.select(col("n").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("dg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        (col("da") * 1000000L + col("a")).as("ka"),
        (col("db") * 1000000L + col("b")).as("kb"))
      .select(when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
              when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("v"),
              greatest(col("ka"), col("kb")).as("kv"))
      // three consumers (both wedge sides + the closing semi join)
      .lineageCut
    val wedges = out.as("e1").join(out.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      .select(col("e1.v").as("x1"), col("e2.v").as("x2"))
    val tri = wedges.join(
      out.select(col("u").as("x1"), col("v").as("x2")), Seq("x1", "x2"), "left_semi")
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  val qGraphTrianglesSql: String = """
    WITH supp AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'),
    li AS (
      SELECT l_orderkey AS o, l_suppkey AS n FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM supp)),
    e AS (
      SELECT DISTINCT x.n AS a, y.n AS b
      FROM li x JOIN li y ON x.o = y.o AND x.n < y.n),
    nodes AS (SELECT a AS n FROM e UNION SELECT b AS n FROM e),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri"""

  val qGraphPagerankSql: String = """
    WITH RECURSIVE
    e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr AS (
      SELECT 0 AS iter, node, 1000000000 // (SELECT n FROM nn) AS score_ppb FROM deg
      UNION ALL
      SELECT pr.iter + 1, d2.node,
             150000000 // (SELECT n FROM nn) +
               (85 * CAST(SUM(pr.score_ppb // d1.outdeg) AS BIGINT)) // 100
      FROM pr
      JOIN deg d1 ON pr.node = d1.node
      JOIN edges ON pr.node = edges.src
      JOIN deg d2 ON edges.dst = d2.node
      WHERE pr.iter < 5
      GROUP BY pr.iter, d2.node
    )
    SELECT node, CAST(score_ppb AS BIGINT) AS score_ppb
    FROM pr WHERE iter = 5 ORDER BY score_ppb DESC, node LIMIT 10"""

  /** Portable histogram-CDF quantiles: the `percentile_approx` problem
    * with engine-portable state ([[graft.functions.Sketches.histQuantiles]]
    * — integer bucket counting + one shared IEEE edge expression), so the
    * approximate answers themselves hash-match the oracle. Fixed
    * bins-per-group state, SUM-mergeable. */
  val qAggQuantilePortable: Q = (s, d) =>
    graft.functions.Sketches.histQuantiles(
      lineitem(s, d), Seq("l_returnflag"), col("l_extendedprice"),
      lo = 900.0, width = 1024.0, bins = 128, qs = Seq(0.25, 0.5, 0.9))

  val qAggQuantilePortableSql: String =
    graft.functions.Sketches.histQuantilesSql("lineitem", Seq("l_returnflag"),
      "l_extendedprice", lo = 900.0, width = 1024.0, bins = 128,
      qs = Seq(0.25, 0.5, 0.9))

  /** Portable count-min sketch: supplier-frequency estimates for a fixed
    * probe set, sketch built then point-queried
    * ([[graft.functions.Sketches.countMin]]/[[Sketches.cmEstimate]]).
    * Pure integer arithmetic → the DuckDB oracle recomputes sketch AND
    * estimates bit-for-bit. 100 TB shape: depth·width counters per
    * group, SUM-mergeable across partitions/days/runs. */
  val qAggCmsPortable: Q = (s, d) => {
    val sk = graft.functions.Sketches.countMin(
      lineitem(s, d), Nil, col("l_suppkey"), depth = 4, width = 256)
    graft.functions.Sketches.cmEstimate(
      sk, Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L), depth = 4, width = 256)
  }

  val qAggCmsPortableSql: String =
    graft.functions.Sketches.cmEstimateSql("lineitem", "l_suppkey",
      Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L), depth = 4, width = 256)

  // ---- bitwise scalar family ----------------------------------------------

  /** Bitwise ops (&, |, xor, shifts, bit_count) — exact integer semantics
    * shared by both engines. Keys fold to a small bucket space; the
    * aggregate pins every operator's output. */
  val qFnBitwise: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"))
      .select(
        (col("k").bitwiseAND(lit(63L))).as("lo"),
        (col("k").bitwiseOR(col("c")).bitwiseAND(lit(255L))).as("mix"),
        (col("k").bitwiseXOR(col("c")).bitwiseAND(lit(255L))).as("x"),
        shiftleft(col("k").bitwiseAND(lit(7L)), 2).as("shl"),
        shiftright(col("k"), 3).bitwiseAND(lit(15L)).as("shr"),
        bit_count(col("k").bitwiseAND(lit(1023L))).cast("long").as("pop"))
      .groupBy((col("lo") % lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("mix")).as("sum_mix"),
           sum(col("x")).as("sum_xor"), sum(col("shl")).as("sum_shl"),
           sum(col("shr")).as("sum_shr"), sum(col("pop")).as("sum_pop"))

  val qFnBitwiseSql: String = """
    WITH t AS (
      SELECT o_orderkey & 63 AS lo,
             (o_orderkey | o_custkey) & 255 AS mix,
             xor(o_orderkey, o_custkey) & 255 AS x,
             (o_orderkey & 7) << 2 AS shl,
             (o_orderkey >> 3) & 15 AS shr,
             bit_count(CAST(o_orderkey & 1023 AS BIT)) AS pop
      FROM orders)
    SELECT lo % 8 AS bucket, COUNT(*) AS n,
           CAST(SUM(mix) AS BIGINT) AS sum_mix,
           CAST(SUM(x) AS BIGINT) AS sum_xor,
           CAST(SUM(shl) AS BIGINT) AS sum_shl,
           CAST(SUM(shr) AS BIGINT) AS sum_shr,
           CAST(SUM(pop) AS BIGINT) AS sum_pop
    FROM t GROUP BY 1"""

  // ---- portable higher moments --------------------------------------------

  /** Skewness/kurtosis from EXACT power sums: Spark's built-in
    * `skewness`/`kurtosis` accumulate doubles in partition order
    * (nondeterministic, engine-private); here the four power sums are
    * decimal-exact, and the moment formulas after them are single-valued
    * IEEE arithmetic (+,-,*,/,sqrt) — so the estimates are bit-identical
    * across engines AND runs. One codegen hash aggregate. */
  val qAggMoments: Q = (s, d) => {
    val x = col("l_quantity").cast("double")
    // spread the single-split scan: four decimal power sums per row are
    // the heavy stage (no-op once the scan is parallel)
    graft.functions.Spread.byKeyIfNarrow(
        lineitem(s, d).select(col("l_returnflag"), col("l_quantity"), col("l_orderkey")),
        col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x.cast("decimal(27,6)")).cast("double").as("s1"),
        sum((x * x).cast("decimal(30,6)")).cast("double").as("s2"),
        sum((x * x * x).cast("decimal(33,6)")).cast("double").as("s3"),
        sum((x * x * x * x).cast("decimal(38,6)")).cast("double").as("s4"))
      .select(col("l_returnflag"),
        (col("s1") / col("n")).as("mean"), col("n").as("n_rows"),
        col("s2"), col("s3"), col("s4"))
      .withColumn("m2", col("s2") / col("n_rows") - col("mean") * col("mean"))
      .withColumn("skew",
        (col("s3") / col("n_rows") - lit(3.0) * col("mean") * (col("s2") / col("n_rows"))
          + lit(2.0) * col("mean") * col("mean") * col("mean"))
          / (col("m2") * sqrt(col("m2"))))
      .withColumn("kurt",
        (col("s4") / col("n_rows")
          - lit(4.0) * col("mean") * (col("s3") / col("n_rows"))
          + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n_rows"))
          - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
          / (col("m2") * col("m2")) - lit(3.0))
      .select(col("l_returnflag"), col("mean"), col("skew"), col("kurt"))
  }

  val qAggMomentsSql: String = """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST((CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS DECIMAL(30,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST((CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS DECIMAL(33,6))) AS DOUBLE) AS s3,
             CAST(SUM(CAST((CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY 1),
    m AS (
      SELECT l_returnflag, s1 / n AS mean, n, s2, s3, s4,
             s2 / n - (s1 / n) * (s1 / n) AS m2
      FROM s)
    SELECT l_returnflag, mean,
           (s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean)
             / (m2 * sqrt(m2)) AS skew,
           (s4 / n - 4.0 * mean * (s3 / n) + 6.0 * mean * mean * (s2 / n)
             - 3.0 * mean * mean * mean * mean) / (m2 * m2) - 3.0 AS kurt
    FROM m"""

  // ---- cohort retention ---------------------------------------------------

  /** Classic cohort retention: users grouped by first-activity day, then
    * distinct active users per (cohort, day-offset). Two aggregations +
    * one broadcast of the (small) per-user cohort table — the events
    * table never self-joins. */
  /** The SALTED join on the oracle gate: the heavy-hitter mitigation
    * ([[graft.functions.Skew.saltedJoin]] — big side scatters to one of
    * 8 salt sub-keys, small side replicates to all 8) must be EXACTLY
    * result-equivalent to the plain equi join, and this query pins that
    * equivalence end to end: revenue per supplier nation through the
    * salted path, certified against DuckDB's plain join. (The salt
    * scatter uses a nondeterministic row id, but the aggregate is
    * invariant to how rows scatter — that invariance is the point.) */
  val qJoinSalted: Q = (s, d) => {
    val big = lineitem(s, d).select(col("l_suppkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val small = supplier(s, d)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.functions.Skew.saltedJoin(big, small, "l_suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("rev")).as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  val qJoinSaltedSql: String = s"""
    SELECT s_nationkey, COUNT(*) AS n_items,
           ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey ORDER BY s_nationkey"""

  /** Modal value per group (the `mode()` aggregate Spark lacks as a
    * built-in): two-level aggregation — value histogram, then the top
    * count with a deterministic tie-break (lowest value wins). Both
    * levels partial-agg; the tie-break makes the answer engine-stable. */
  val qAggMode: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity"))
    lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy(col("l_returnflag"))
  }

  val qAggModeSql: String = """
    SELECT l_returnflag, l_quantity AS mode_qty, cnt
    FROM (SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS cnt,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY COUNT(*) DESC, l_quantity) AS rn
          FROM lineitem GROUP BY l_returnflag, l_quantity)
    WHERE rn = 1 ORDER BY l_returnflag"""

  /** Rolling z-score anomaly detection — the monitoring staple: each
    * event's value against the mean/σ of its type's 20 preceding events
    * (warm-up gated at 10). One hash shuffle on the type, one ordered
    * window; rolling moments use decimal window sums (order-exact), σ is
    * one correctly-rounded sqrt over a clamped variance, and the
    * flag verdicts are integer-exact — so the oracle certifies the
    * anomaly COUNTS and the flagged-value sums, not a tolerance. */
  val qEventsAnomaly: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-20, -1)
    // each DISTINCT window aggregate evaluated ONCE, derived arithmetic in
    // a separate projection: inlining mu/ex2/sd into one select extracted
    // NINE window buffers (count ×5, sum ×3, sumsq ×1) where three
    // suffice — ~3x the rolling-frame work per row for identical IEEE
    // results (r19). The explicit spread on the window key is REUSED by
    // the window's exchange and, being an explicit count, is exempt from
    // AQE's byte-based coalescing, which had collapsed the ~5 key groups
    // onto 2 tasks (r20 profile: two ~0.5 s window stages on 2 tasks)
    graft.functions.Spread.byKey(events(s, d), col("event_type"))
      .select(col("event_type"), col("value"),
        count(lit(1)).over(w).cast("double").as("nw"),
        sum(col("value").cast("decimal(27,6)")).over(w).cast("double").as("s1"),
        sum((col("value") * col("value")).cast("decimal(30,6)")).over(w)
          .cast("double").as("s2"))
      .select(col("event_type"), col("value"), col("nw"),
        (col("s1") / col("nw")).as("mu"),
        sqrt(greatest(col("s2") / col("nw") -
          (col("s1") / col("nw")) * (col("s1") / col("nw")), lit(0.0))).as("sd"))
      .select(col("event_type"), col("value"),
        (col("nw") >= 10.0 && col("sd") > 1e-9 &&
         abs(col("value") - col("mu")) > lit(3.0) * col("sd")).as("flagged"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           count(when(col("flagged"), 1)).as("n_anomalies"),
           dsum(when(col("flagged"), col("value")).otherwise(lit(0.0))).as("sum_anomal_value"))
      .orderBy(col("event_type"))
  }

  val qEventsAnomalySql: String = s"""
    WITH z AS (
      SELECT event_type, value,
             CAST(COUNT(*) OVER w AS DOUBLE) AS nw,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) /
               CAST(COUNT(*) OVER w AS DOUBLE) AS mu,
             CAST(SUM(CAST((value * value) AS DECIMAL(30,6))) OVER w AS DOUBLE) /
               CAST(COUNT(*) OVER w AS DOUBLE) AS ex2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    f AS (
      SELECT event_type, value,
             (nw >= 10.0 AND sqrt(GREATEST(ex2 - mu * mu, 0.0)) > 1e-9 AND
              abs(value - mu) > 3.0 * sqrt(GREATEST(ex2 - mu * mu, 0.0))) AS flagged
      FROM z)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(count_if(flagged) AS BIGINT) AS n_anomalies,
           ${sqlDsum("CASE WHEN flagged THEN value ELSE 0.0 END")} AS sum_anomal_value
    FROM f GROUP BY event_type ORDER BY event_type"""

  /** Hourly RESAMPLE with forward fill (LOCF — last observation carried
    * forward): the time-series alignment step every metrics/feature
    * pipeline runs before modeling. Per-user hourly sums, then each
    * observation explodes across the gap up to (not including) the next
    * observation's hour — one window pass + one bounded explode (gap
    * length is bounded by the corpus time span, not by data volume; at
    * scale the span is a config constant). Values stay decimal-exact
    * through the fill, so the oracle certifies the interpolation
    * hash-exact. */
  val qEventsResample: Q = (s, d) => {
    // one explicit exchange on user_id serves the hourly aggregation AND
    // the per-user window (hash(user_id) satisfies both), runs the
    // decimal aggregation at full parallelism off the single-split scan,
    // and is exempt from AQE byte-based coalescing (A/B r19: 0.74 s vs
    // 1.49 s with the coalesced plan)
    val hourly = graft.functions.Spread.byKeyIfNarrow(
        events(s, d).select(col("user_id"), col("ts"), col("value")),
        col("user_id"))
      .groupBy(col("user_id"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(dsum(col("value")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
    hourly
      .withColumn("nh", lead(col("h"), 1).over(w))
      .select(col("user_id"), col("h"), col("v"),
        explode(sequence(col("h"), coalesce(col("nh") - 1, col("h")))).as("hour"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_hours"),
           sum(when(col("hour") > col("h"), 1L).otherwise(0L)).as("n_filled"),
           dsum(col("v")).as("sum_filled"))
      .orderBy(col("user_id"))
  }

  val qEventsResampleSql: String = s"""
    WITH hourly AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
             ${sqlDsum("value")} AS v
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT user_id, h, v,
             LEAD(h) OVER (PARTITION BY user_id ORDER BY h) AS nh
      FROM hourly),
    f AS (
      SELECT user_id, h, v, unnest(range(h, COALESCE(nh, h + 1))) AS hour
      FROM w)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(count_if(hour > h) AS BIGINT) AS n_filled,
           ${sqlDsum("v")} AS sum_filled
    FROM f GROUP BY user_id ORDER BY user_id"""

  /** SCD TYPE-2 dimension build (slowly-changing dimension): orders as a
    * change stream of each customer's priority attribute — every change
    * becomes a version row [valid_from, valid_to), the open version has
    * NULL valid_to. ONE window pass (lead over the per-customer change
    * sequence), no self-join — the warehouse-dimension shape that scales
    * as a single shuffle on the business key. Durations are exact
    * microsecond integers. */
  val qPipelineScd2: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_versions"),
           sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
           sum(when(col("valid_to").isNotNull,
               expr("unix_micros(cast(valid_to as timestamp)) - unix_micros(cast(o_orderdate as timestamp))"))
             .otherwise(0L)).as("sum_duration_us"))
      .orderBy(col("o_orderpriority"))
  }

  val qPipelineScd2Sql: String = """
    WITH h AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM orders)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(count_if(valid_to IS NULL) AS BIGINT) AS n_current,
           CAST(COALESCE(SUM(CASE WHEN valid_to IS NOT NULL
             THEN epoch_us(CAST(valid_to AS TIMESTAMP)) -
                  epoch_us(CAST(o_orderdate AS TIMESTAMP)) ELSE 0 END), 0) AS BIGINT)
             AS sum_duration_us
    FROM h GROUP BY 1 ORDER BY 1"""

  /** BAD-RECORD QUARANTINE routing — the ingest-hygiene stage: parse a
    * JSON payload against a declared schema, route unparseable records to
    * quarantine counts, salvage the parsed field from the rest. Malformed
    * payloads derive deterministically (every 7th record gets a LEADING
    * brace — head corruption, because permissive Jackson parsing salvages
    * a valid prefix and would ignore trailing garbage), so both engines
    * see the same dirt. Spark's permissive from_json yields a struct of
    * NULL FIELDS (not a null struct) for a record it cannot parse; k is
    * never null in clean records, so field-null IS the quarantine
    * marker, matching DuckDB's json_valid gate row for row. Map-only +
    * one aggregation. */
  val qPipelineQuarantine: Q = (s, d) => {
    val dirty = events(s, d).withColumn("praw",
      when(col("event_id") % 7 === 0, concat(lit("{"), col("props")))
        .otherwise(col("props")))
    dirty
      .withColumn("p", from_json(col("praw"), "k BIGINT", Map.empty[String, String]))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
           sum(when(col("p.k").isNull, 1L).otherwise(0L)).as("n_quarantined"),
           sum(coalesce(col("p.k"), lit(0L))).as("sum_k"))
      .orderBy(col("event_type"))
  }

  val qPipelineQuarantineSql: String = """
    WITH d AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN '{' || props ELSE props END AS praw
      FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(count_if(NOT json_valid(praw)) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN json_valid(praw)
             THEN CAST(json_extract(praw, '$.k') AS BIGINT) ELSE 0 END) AS BIGINT)
             AS sum_k
    FROM d GROUP BY 1 ORDER BY 1"""

  // ---- interval-overlap join (no equi key) --------------------------------

  /** Overlap join between per-(user, day) activity spans and per-(type,
    * day) event spans — NO equality predicate exists, so the naive plan
    * is a nested loop; [[graft.functions.Intervals.overlapJoin]]
    * bucketizes both sides into hour buckets and equi-joins on the
    * bucket id instead (exact: the overlap predicate decides, buckets
    * only route). The oracle runs the naive quadratic definition. */
  val qJoinInterval: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("us"), to_date(col("ts")).as("day"))
    val a = ev.groupBy(col("user_id"), col("day"))
      .agg(min(col("us")).as("a_start"), max(col("us")).as("a_end"))
      .select(concat_ws("|", col("user_id"), col("day")).as("a_id"),
        col("a_start"), col("a_end"))
    val b = ev.groupBy(col("event_type"), col("day"))
      .agg(min(col("us")).as("b_start"), max(col("us")).as("b_end"))
      .select(concat_ws("|", col("event_type"), col("day")).as("b_id"),
        col("b_start"), col("b_end"))
    graft.functions.Intervals.overlapJoin(
      a, "a_id", "a_start", "a_end", b, "b_id", "b_start", "b_end",
      bucket = 3600L * 1000000L)
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("a_id")).as("n_user_days"),
           countDistinct(col("b_id")).as("n_type_days"))
  }

  val qJoinIntervalSql: String = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    a AS (
      SELECT CAST(user_id AS VARCHAR) || '|' || CAST(day AS VARCHAR) AS a_id,
             MIN(us) AS a_start, MAX(us) AS a_end
      FROM ev GROUP BY user_id, day),
    b AS (
      SELECT event_type || '|' || CAST(day AS VARCHAR) AS b_id,
             MIN(us) AS b_start, MAX(us) AS b_end
      FROM ev GROUP BY event_type, day),
    p AS (
      SELECT a_id, b_id FROM a JOIN b
      ON a_start <= b_end AND b_start <= a_end)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_user_days,
           CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_type_days
    FROM p"""

  val queries: Map[String, Q] = Map(
    "join_interval"      -> qJoinInterval,
    "events_resample"    -> qEventsResample,
    "pipeline_scd2"      -> qPipelineScd2,
    "pipeline_quarantine" -> qPipelineQuarantine,
    "events_anomaly"     -> qEventsAnomaly,
    "agg_mode"           -> qAggMode,
    "join_salted"        -> qJoinSalted,
    "agg_moments"        -> qAggMoments,
    "fn_bitwise"         -> qFnBitwise,
    "window_first_last"  -> qWindowFirstLast,
    "window_range_frame" -> qWindowRangeFrame,
    "window_ranks"       -> qWindowRanks,
    "join_full_outer"    -> qJoinFullOuter,
    "join_cross"         -> qJoinCross,
    "agg_percentile"     -> qAggPercentile,
    "agg_pivot"          -> qAggPivot,
    "agg_corr"           -> qAggCorr,
    "agg_conditional"    -> qAggConditional,
    "agg_approx"         -> qAggApprox,
    "agg_hll_portable"   -> qAggHllPortable,
    "agg_hll_intersect"  -> qAggHllIntersect,
    "graph_pagerank"     -> qGraphPagerank,
    "graph_triangles"    -> qGraphTriangles,
    "agg_bitmap_distinct" -> qAggBitmapDistinct,
    "events_markov"      -> qEventsMarkov,
    "window_islands"     -> qWindowIslands,
    "agg_cms_portable"   -> qAggCmsPortable,
    "agg_quantile_portable" -> qAggQuantilePortable,
    "fn_array"           -> qFnArray,
    "fn_json"            -> qFnJson,
    "fn_datetime"        -> qFnDatetime,
    "fn_map"             -> qFnMap,
    "fn_levenshtein"     -> qFnLevenshtein,
  )

  val oracleSql: Map[String, String] = Map(
    "agg_approx"         -> qAggApproxSql,
    "join_interval"      -> qJoinIntervalSql,
    "events_resample"    -> qEventsResampleSql,
    "pipeline_scd2"      -> qPipelineScd2Sql,
    "pipeline_quarantine" -> qPipelineQuarantineSql,
    "events_anomaly"     -> qEventsAnomalySql,
    "agg_mode"           -> qAggModeSql,
    "join_salted"        -> qJoinSaltedSql,
    "agg_moments"        -> qAggMomentsSql,
    "fn_bitwise"         -> qFnBitwiseSql,
    "window_first_last"  -> qWindowFirstLastSql,
    "window_range_frame" -> qWindowRangeFrameSql,
    "window_ranks"       -> qWindowRanksSql,
    "join_full_outer"    -> qJoinFullOuterSql,
    "join_cross"         -> qJoinCrossSql,
    "agg_percentile"     -> qAggPercentileSql,
    "agg_pivot"          -> qAggPivotSql,
    "agg_corr"           -> qAggCorrSql,
    "agg_conditional"    -> qAggConditionalSql,
    "agg_hll_portable"   -> qAggHllPortableSql,
    "agg_hll_intersect"  -> qAggHllIntersectSql,
    "graph_pagerank"     -> qGraphPagerankSql,
    "graph_triangles"    -> qGraphTrianglesSql,
    "agg_bitmap_distinct" -> qAggBitmapDistinctSql,
    "events_markov"      -> qEventsMarkovSql,
    "window_islands"     -> qWindowIslandsSql,
    "agg_cms_portable"   -> qAggCmsPortableSql,
    "agg_quantile_portable" -> qAggQuantilePortableSql,
    "fn_array"           -> qFnArraySql,
    "fn_json"            -> qFnJsonSql,
    "fn_datetime"        -> qFnDatetimeSql,
    "fn_map"             -> qFnMapSql,
    "fn_levenshtein"     -> qFnLevenshteinSql,
  )
}
