package graft.queries

import org.apache.spark.sql.expressions.Window
import graft.functions.LineageCut.CutOps
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Round-6 widening: graph distances, exact regression, data-quality
  * expectations, feature binning, and collocation mining — the analytics a
  * training-data pipeline runs AROUND its corpus (validate it, profile it,
  * mine it) rather than on the documents themselves.
  *
  * Numeric discipline is the package standard: every cross-engine number
  * is either pure integer arithmetic (counts, floor division, micro/cent
  * quantization) or the decimal-sum-cast-double pattern, so the DuckDB
  * oracle matches bit-for-bit.
  */
object Relational5 {

  // ---------------------------------------------------------------------
  // BFS shortest-path distances over the customer↔supplier trade graph —
  // the iterative-graph sibling of graph_pagerank (same bipartite node
  // encoding: customers = 2k, suppliers = 2k+1). Frontier expansion is
  // the scale-correct BFS on Spark: each round is one join + distinct +
  // anti-join against the visited set, lineage-cut per round
  // (localCheckpoint — the dedup_components discipline), so round k costs
  // O(frontier_k · avg_degree) and the whole walk is bounded by 6 rounds.
  // A node's dist is the round that FIRST reached it = the true hop
  // distance. The oracle re-derives min-hop distances with a bounded
  // recursive CTE.
  // ---------------------------------------------------------------------

  val qGraphBfs: Q = (s, d) => {
    val e0 = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // pre-partition the static edge table by the probe key src: the
    // checkpoint preserves the partitioning, so all six frontier joins
    // reuse ONE edge exchange (guide §2.4)
    val edges = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(s.sessionState.conf.numShufflePartitions, col("src"))
      .sortWithinPartitions("src").lineageCut
    // deterministic seed: the smallest node id present in the graph
    val seed = edges.agg(min(col("src")).as("node"))
      .select(col("node"), lit(0).as("dist"))
    var dist = seed.lineageCut
    var frontier = dist
    for (k <- 1 to 6) {
      val next = frontier
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select(col("node").as("seen")), col("node") === col("seen"), "left_anti")
        .select(col("node"), lit(k).as("dist"))
        // LAZY cut: no per-round action runs, so every round's cut is
        // materialized by the single terminal full-scan action (the final
        // groupBy), which satisfies the cutAtNextAction full-partition
        // contract. Six dedicated materialization jobs removed.
        .lineageCutLazy
      // no cut on the union: it only stacks already-checkpointed rounds
      // (a linear tree of checkpoint scans — re-planning is O(rounds),
      // and the old per-round cut was one materialization job each)
      dist = dist.unionAll(next)
      frontier = next
    }
    dist.groupBy(col("dist")).agg(count(lit(1)).as("n_nodes")).orderBy(col("dist"))
  }

  val qGraphBfsSql: String = """
    WITH RECURSIVE eb AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT src, dst FROM eb UNION ALL SELECT dst AS src, src AS dst FROM eb),
    walk(node, dist) AS (
      SELECT (SELECT min(src) FROM e), 0
      UNION
      SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.node = e.src
      WHERE w.dist < 6),
    md AS (SELECT node, min(dist) AS dist FROM walk GROUP BY 1)
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM md GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------------
  // Per-group ordinary-least-squares fit, engine-exact: inputs are
  // cent-quantized (the decimal(18,2) cast is bit-identical across
  // engines), all five sufficient statistics are exact integer sums, and
  // slope/intercept are formed by ONE IEEE divide of exactly-converted
  // decimals. Everything is partial-agg friendly — one shuffle of five
  // longs per group, the canonical distributed-regression shape (the
  // closed-form normal equations, not an iterative solver). Bounds: cent
  // products stay under 5e10/row, the decimal(38,0) sums are good past
  // 1e27 rows.
  // ---------------------------------------------------------------------

  val qAggLinreg: Q = (s, d) => {
    val xc = (col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
    val yc = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    lineitem(s, d)
      .select(col("l_returnflag").as("flag"), xc.as("xc"), yc.as("yc"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("xc"))).as("sx"),
           sum(dec(col("yc"))).as("sy"),
           sum(dec(col("xc")) * col("yc")).as("sxy"),
           sum(dec(col("xc")) * col("xc")).as("sxx"))
      .select(col("flag"), col("n"),
        ((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
         (dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")).as("slope"),
        ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
         ((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double") * 100.0)).as("intercept"))
      .orderBy(col("flag"))
  }

  // intercept units: numerator is cents² (y·x²), denominator cents²·rows;
  // the quotient is y in cents → /100 in double (exact: both factors of
  // the one extra multiply are IEEE-exact conversions).
  val qAggLinregSql: String = """
    WITH q AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
      FROM lineitem),
    st AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(xc AS HUGEINT)) AS sx, SUM(CAST(yc AS HUGEINT)) AS sy,
             SUM(CAST(xc AS HUGEINT) * yc) AS sxy,
             SUM(CAST(xc AS HUGEINT) * xc) AS sxx
      FROM q GROUP BY 1)
    SELECT flag, n,
           CAST(n * sxy - sx * sy AS DOUBLE) /
           CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           CAST(sy * sxx - sx * sxy AS DOUBLE) /
           (CAST(n * sxx - sx * sx AS DOUBLE) * 100.0) AS intercept
    FROM st ORDER BY flag"""

  // ---------------------------------------------------------------------
  // Data-quality EXPECTATIONS report (the deequ/great-expectations move):
  // declarative rules over the star schema, evaluated in ONE conditional-
  // aggregation pass per table (stack() unpivots the single agg row into
  // per-rule rows — no per-rule rescans) plus one real join per
  // referential rule. At 100 TB each table contributes exactly one
  // partial-agg scan; the referential checks are honest equi joins that
  // AQE plans (orders→lineitem shuffles on the join key; customer→events
  // broadcasts). The report carries both passing rules and a genuinely
  // failing one (tax ≤ 5% — the corpus goes to 8%), so the `pass` verdict
  // column is exercised in both directions.
  // ---------------------------------------------------------------------

  val qPipelineExpectations: Q = (s, d) => {
    val one = (c: org.apache.spark.sql.Column) => sum(when(c, 1L).otherwise(0L))
    val li = lineitem(s, d).agg(
      count(lit(1)).as("n"),
      one(not(col("l_quantity").between(1.0, 50.0))).as("v_qty"),
      one(not(col("l_discount").between(0.0, 0.1))).as("v_disc"),
      one(col("l_shipdate").isNull).as("v_ship"),
      one(col("l_tax") > 0.05).as("v_tax"))
      .selectExpr("""stack(4,
        'lineitem', 'quantity_in_1_50',   n, v_qty,
        'lineitem', 'discount_in_0_01',   n, v_disc,
        'lineitem', 'shipdate_not_null',  n, v_ship,
        'lineitem', 'tax_le_005',         n, v_tax) AS (tab, rule, checked, violations)""")
    val ord = orders(s, d).agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
      one(col("o_totalprice") <= 0.0).as("v_price"))
      .selectExpr("""stack(2,
        'orders', 'orderkey_unique',     n, v_uniq,
        'orders', 'totalprice_positive', n, v_price) AS (tab, rule, checked, violations)""")
    val cust = customer(s, d).agg(
      count(lit(1)).as("n"),
      one(not(col("c_acctbal").between(-1000.0, 10000.0))).as("v_bal"))
      .selectExpr("stack(1, 'customer', 'acctbal_in_range', n, v_bal) AS (tab, rule, checked, violations)")
    val refLi = lineitem(s, d).select(col("l_orderkey"))
      .join(orders(s, d).select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("checked"), one(col("o_orderkey").isNull).as("violations"))
      .select(lit("lineitem").as("tab"), lit("orderkey_in_orders").as("rule"),
              col("checked"), col("violations"))
    val refEv = events(s, d).select(col("user_id"))
      .join(broadcast(customer(s, d).select(col("c_custkey"))),
            col("user_id") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("checked"), one(col("c_custkey").isNull).as("violations"))
      .select(lit("events").as("tab"), lit("userid_in_customer").as("rule"),
              col("checked"), col("violations"))
    li.unionAll(ord).unionAll(cust).unionAll(refLi).unionAll(refEv)
      .withColumn("pass", (col("violations") === 0L).cast("long"))
      .orderBy(col("tab"), col("rule"))
  }

  val qPipelineExpectationsSql: String = """
    WITH li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
             CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
             CAST(SUM(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS v_tax
      FROM lineitem),
    ord AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_uniq,
             CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price
      FROM orders),
    cust AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN NOT (c_acctbal BETWEEN -1000.0 AND 10000.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_bal
      FROM customer),
    refli AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS checked,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
    refev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS checked,
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey),
    rows_ AS (
      SELECT 'lineitem' AS tab, 'quantity_in_1_50' AS rule, n AS checked, v_qty AS violations FROM li
      UNION ALL SELECT 'lineitem', 'discount_in_0_01',  n, v_disc FROM li
      UNION ALL SELECT 'lineitem', 'shipdate_not_null', n, v_ship FROM li
      UNION ALL SELECT 'lineitem', 'tax_le_005',        n, v_tax FROM li
      UNION ALL SELECT 'orders', 'orderkey_unique',     n, v_uniq FROM ord
      UNION ALL SELECT 'orders', 'totalprice_positive', n, v_price FROM ord
      UNION ALL SELECT 'customer', 'acctbal_in_range',  n, v_bal FROM cust
      UNION ALL SELECT 'lineitem', 'orderkey_in_orders', checked, violations FROM refli
      UNION ALL SELECT 'events', 'userid_in_customer',  checked, violations FROM refev)
    SELECT tab, rule, checked, violations,
           CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
    FROM rows_ ORDER BY tab, rule"""

  // ---------------------------------------------------------------------
  // Equal-frequency FEATURE BINNING (quantile bucketing for ML feature
  // engineering): ntile(5) of account balance within each market segment,
  // tie-broken by key so the assignment is total-order deterministic.
  // The window is PARTITIONED by segment, so segments bin in parallel;
  // at 100 TB the exact-ntile spec stays per-group-bounded — for a
  // single giant group the production path is the mergeable quantile
  // sketch (pipeline_stats) → broadcast boundaries → map-only bucketing,
  // with this exact form as its correctness oracle at test scale.
  // ---------------------------------------------------------------------

  val qPipelineBinning: Q = (s, d) => {
    val w = Window.partitionBy(col("segment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    customer(s, d)
      .select(col("c_mktsegment").as("segment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("bin", ntile(5).over(w))
      .groupBy(col("segment"), col("bin"))
      .agg(count(lit(1)).as("n"),
           min(col("c_acctbal")).as("lo"),
           max(col("c_acctbal")).as("hi"),
           dsum(col("c_acctbal")).as("mass"))
      .orderBy(col("segment"), col("bin"))
  }

  val qPipelineBinningSql: String = s"""
    WITH b AS (
      SELECT c_mktsegment AS segment, c_acctbal,
             ntile(5) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS bin
      FROM customer)
    SELECT segment, bin, CAST(COUNT(*) AS BIGINT) AS n,
           min(c_acctbal) AS lo, max(c_acctbal) AS hi,
           ${sqlDsum("c_acctbal")} AS mass
    FROM b GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------------
  // COLLOCATION MINING: bigrams that stick together, ranked by the Dice
  // coefficient in exact parts-per-million (2e6·n_xy // (n_x + n_y) —
  // log-free integer arithmetic, so ranking and scores are engine-exact;
  // the same reason text_tfidf and text_perplexity use rational scores).
  // Shape: one bigram count + one unigram count (both partial-agg'd),
  // then two joins of the bigram table against the unigram table — the
  // bigram side shrinks to distinct grams before joining, and a df floor
  // (n_xy ≥ 5) cuts the long tail before the joins.
  // ---------------------------------------------------------------------

  val qTextCollocations: Q = (s, d) => {
    graft.GraftFunctions.register(s)
    val toks = TF.tokens(col("text"))
    val grams = documents(s, d)
      .filter(size(toks) >= 2)
      .select(explode(call_function("word_ngrams", toks, lit(2))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 5)
    val uni = documents(s, d)
      .select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
    grams
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      .withColumn("w2", substring_index(col("gram"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("nw").as("n1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("nw").as("n2")), Seq("w2"))
      .select(col("gram"), col("n_xy"),
        expr("(2000000 * n_xy) div (n1 + n2)").as("dice_ppm"))
      .orderBy(col("dice_ppm").desc, col("gram")).limit(20)
  }

  val qTextCollocationsSql: String = """
    WITH t AS (SELECT string_split(trim(text), ' ') AS w FROM documents),
    g AS (SELECT unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1])) AS gram
          FROM t WHERE len(w) >= 2),
    gc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_xy FROM g
           GROUP BY 1 HAVING COUNT(*) >= 5),
    u AS (SELECT unnest(w) AS word FROM t),
    uc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS nw FROM u GROUP BY 1)
    SELECT gram, n_xy,
           (2000000 * n_xy) // (u1.nw + u2.nw) AS dice_ppm
    FROM gc
    JOIN uc u1 ON u1.word = string_split(gram, ' ')[1]
    JOIN uc u2 ON u2.word = string_split(gram, ' ')[2]
    ORDER BY dice_ppm DESC, gram LIMIT 20"""

  // ---------------------------------------------------------------------
  // INCREMENTAL AGGREGATE MAINTENANCE — the nightly-pipeline move: the
  // running per-type stats table is NOT recomputed from history; the
  // base partition (everything before the latest day) and the delta
  // partition (the latest day) are aggregated separately and MERGED by
  // the aggregates' own algebra (counts add, decimal sums add, min/max
  // fold). The oracle recomputes from the full corpus — equality IS the
  // proof that the merge algebra is lossless, so at 100 TB the daily
  // cost is O(delta), not O(history). The day cut is data-derived (one
  // broadcast scalar), so the query stays deterministic on any corpus.
  // ---------------------------------------------------------------------

  val qPipelineIncremental: Q = (s, d) => {
    val ev = events(s, d)
    val cut = ev.agg(date_trunc("DAY", max(col("ts"))).as("cut"))
    val tagged = ev.crossJoin(broadcast(cut))
    def stats(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(27,6)")).as("sv"),
           min(col("value")).as("lo"),
           max(col("value")).as("hi"))
    val base  = stats(tagged.filter(col("ts") <  col("cut")))
    val delta = stats(tagged.filter(col("ts") >= col("cut")))
    base.select(col("event_type"), col("n").as("nb"), col("sv").as("svb"),
        col("lo").as("lob"), col("hi").as("hib"))
      .join(delta.select(col("event_type"), col("n").as("nd"), col("sv").as("svd"),
        col("lo").as("lod"), col("hi").as("hid")), Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("nb"), lit(0L)) + coalesce(col("nd"), lit(0L))).as("n"),
        (coalesce(col("svb"), lit(0).cast("decimal(27,6)")) +
         coalesce(col("svd"), lit(0).cast("decimal(27,6)"))).cast("double").as("sum_value"),
        least(col("lob"), col("lod")).as("lo"),
        greatest(col("hib"), col("hid")).as("hi"))
      .orderBy(col("event_type"))
  }

  // The oracle aggregates the WHOLE corpus in one pass — matching it
  // certifies the base ⊎ delta merge loses nothing.
  val qPipelineIncrementalSql: String = s"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("value")} AS sum_value,
           min(value) AS lo, max(value) AS hi
    FROM events GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------------
  // POSITIONAL INVERTED INDEX: the retrieval-side build (text_bm25 ranks
  // with it; this materializes it) — per term: document frequency,
  // collection frequency, the position mass (sum of 0-based token
  // offsets — proof the index is positional, what phrase queries need),
  // and the posting-list span. One posexplode + one partial-agg'd
  // groupBy; at 100 TB this is the canonical map-side-combine shape
  // (terms collapse within each partition before the shuffle).
  // ---------------------------------------------------------------------

  val qTextInvertedIndex: Q = (s, d) => {
    val toks = TF.tokens(col("text"))
    documents(s, d)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "term")))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"),
           count(lit(1)).as("cf"),
           sum(col("pos").cast("long")).as("sum_pos"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("df").desc, col("term")).limit(15)
  }

  val qTextInvertedIndexSql: String = """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    p AS (SELECT doc_id,
                 unnest(list_transform(range(0, len(w)),
                   i -> {'pos': i, 'term': w[i + 1]})) AS s
          FROM t),
    f AS (SELECT doc_id, s.pos AS pos, s.term AS term FROM p)
    SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS cf,
           CAST(SUM(pos) AS BIGINT) AS sum_pos,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM f GROUP BY 1 ORDER BY df DESC, term LIMIT 15"""

  val queries: Map[String, Q] = Map(
    "pipeline_incremental"  -> qPipelineIncremental,
    "text_inverted_index"   -> qTextInvertedIndex,
    "graph_bfs"             -> qGraphBfs,
    "agg_linreg"            -> qAggLinreg,
    "pipeline_expectations" -> qPipelineExpectations,
    "pipeline_binning"      -> qPipelineBinning,
    "text_collocations"     -> qTextCollocations,
  )

  val oracleSql: Map[String, String] = Map(
    "pipeline_incremental"  -> qPipelineIncrementalSql,
    "text_inverted_index"   -> qTextInvertedIndexSql,
    "graph_bfs"             -> qGraphBfsSql,
    "agg_linreg"            -> qAggLinregSql,
    "pipeline_expectations" -> qPipelineExpectationsSql,
    "pipeline_binning"      -> qPipelineBinningSql,
    "text_collocations"     -> qTextCollocationsSql,
  )
}
