package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.functions.LineageCut.CutOps

/** Round-6 continuation: spectral trace attributes (Hilbert envelope),
  * iterative clustering (Lloyd k-means, synchronous label propagation),
  * MERGE upsert semantics, and a real subword tokenizer pass — the
  * remaining workloads a production corpus pipeline layers over the
  * engine (signal attributes, unsupervised structure, mutation, and
  * tokenization).
  *
  * Numeric discipline is the package standard (see [[queries]] scaladoc):
  * integer arithmetic, literal-table lookups, and decimal-sum-cast-double
  * accumulation only, so every query sits on the DuckDB hash oracle.
  * Where trig constants are needed (DFT twiddles) they are computed ONCE
  * in Scala and embedded as double literals in BOTH engines' plans —
  * Double.toString round-trips, so the engines agree bit-for-bit without
  * ever calling the engines' (non-portable) cos/sin.
  */
object Relational6 {

  /** Order-independent, cross-engine-exact sum of COMPUTED doubles via
    * floor-quantization: q = floor(x·scale + 0.5) (round-half-up in fixed
    * point), summed as exact integers. The [[queries.dsum]] decimal cast
    * is bit-portable only for source-data-derived values that land ON the
    * decimal grid (prices, quantities); for arbitrary computed doubles,
    * DuckDB casts by rounding a double-multiplied APPROXIMATION of
    * x·10^s where Spark rounds the exact value — near-tie inputs flip
    * (measured: ~1e-7 per term at 6 dp, real mismatches at DFT volumes).
    * floor(x·s + 0.5) sidesteps the divergence entirely: the multiply
    * and add are single IEEE exact-rounded ops producing the SAME double
    * in both engines, and floor is exact on that double — zero flip
    * probability by construction, not just a small one. Callers keep
    * |x·scale| ≲ 2^50 so products stay in the exact-integer range. */
  private def qsum(c: org.apache.spark.sql.Column, scale: Double): org.apache.spark.sql.Column =
    sum(floor(c * scale + 0.5)).cast("double") / scale
  private def sqlQsum(e: String, scale: String): String =
    s"CAST(SUM(CAST(floor(($e) * $scale + 0.5) AS BIGINT)) AS DOUBLE) / $scale"

  // ---------------------------------------------------------------------
  // HILBERT ENVELOPE (instantaneous amplitude) — the first seismic
  // ATTRIBUTE computed from any processed volume (reference stores the
  // traces; envelope/phase attributes are the standard consumer).
  // Analytic signal via the frequency domain: forward DFT per trace,
  // zero the negative frequencies (gain 2 on positive, 1 on DC/Nyquist),
  // inverse DFT, magnitude. N = 32 samples per trace.
  //
  // Spark-first shape: both transforms are equi-expansions against a
  // 32-row broadcast range with twiddle factors looked up from a
  // 32-entry LITERAL table by exact integer index (f·k mod N), then
  // partial-aggregated groupBys keyed (trace, f) / (trace, n) — fully
  // trace-parallel, shuffle volume bounded by grid × N. At 100 TB the
  // same plan holds per gather partition; an O(N log N) FFT kernel over
  // array-packed traces is the constant-factor upgrade, not a different
  // distribution shape (N is the fixed per-window trace length).
  //
  // Cross-engine exactness: twiddles are shared double literals; each
  // product/difference is one IEEE exact-rounded op; every sum of
  // computed doubles runs through the floor-quantized pattern ([[qsum]],
  // micro-precision fixed point — order-independent AND cast-divergence-
  // free); /32 is exact (power of two); sqrt is correctly rounded. The
  // oracle certifies envelope VALUES, no tolerance.
  // ---------------------------------------------------------------------

  private val envN = 32
  private val cosT: Seq[Double] = (0 until envN).map(j => math.cos(2.0 * math.Pi * j / envN))
  private val sinT: Seq[Double] = (0 until envN).map(j => math.sin(2.0 * math.Pi * j / envN))

  val qMdioEnvelope: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 512).as("tr"), (col("l_orderkey") % envN).as("k"))
      .agg(dsum(col("l_quantity")).as("a"))
    val cosL = typedlit(cosT)
    val sinL = typedlit(sinT)
    // grid expansion by EXPLODING a literal index array — stays inside
    // one codegen stage with no join node at all (a crossJoin against
    // even a broadcast range plans a nested-loop join)
    val idxL = typedlit((0 until envN).map(_.toLong))
    def twiddle(tab: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      element_at(tab, (i % envN + 1).cast("int"))
    val spec = cells.withColumn("f", explode(idxL))
      .select(col("tr"), col("f"),
        (col("a") * twiddle(cosL, col("f") * col("k"))).as("re"),
        (-(col("a") * twiddle(sinL, col("f") * col("k")))).as("im"))
      .groupBy(col("tr"), col("f"))
      .agg(qsum(col("re"), 1e6).as("xre"), qsum(col("im"), 1e6).as("xim"))
    val gain = when(col("f") === 0 || col("f") === envN / 2, lit(1.0)).otherwise(lit(2.0))
    val z = spec.filter(col("f") <= envN / 2).withColumn("n", explode(idxL))
      .select(col("tr"), col("n"),
        (gain * (col("xre") * twiddle(cosL, col("f") * col("n")) -
                 col("xim") * twiddle(sinL, col("f") * col("n")))).as("zr"),
        (gain * (col("xre") * twiddle(sinL, col("f") * col("n")) +
                 col("xim") * twiddle(cosL, col("f") * col("n")))).as("zi"))
      .groupBy(col("tr"), col("n"))
      .agg((qsum(col("zr"), 1e6) / envN).as("zre"), (qsum(col("zi"), 1e6) / envN).as("zim"))
    z.select(col("n"), sqrt(col("zre") * col("zre") + col("zim") * col("zim")).as("env"))
      .agg(count(lit(1)).as("n_samples"), qsum(col("env"), 1e6).as("sum_env"),
           qsum(when(col("n") === 0, col("env")).otherwise(lit(0.0)), 1e6).as("sum_env0"))
  }

  private def sqlVecD(v: Seq[Double]): String = v.mkString("[", ", ", "]")

  val qMdioEnvelopeSql: String = s"""
    WITH tw AS (SELECT ${sqlVecD(cosT)}::DOUBLE[] AS c, ${sqlVecD(sinT)}::DOUBLE[] AS sn),
    cells AS (
      SELECT l_partkey % 512 AS tr, l_orderkey % $envN AS k,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    spec AS (
      SELECT tr, f,
             ${sqlQsum(s"a * c[(f*k) % $envN + 1]", "1e6")} AS xre,
             ${sqlQsum(s"-(a * sn[(f*k) % $envN + 1])", "1e6")} AS xim
      FROM cells, range(0, $envN) t(f), tw GROUP BY 1, 2),
    z AS (
      SELECT tr, n,
             ${sqlQsum(s"g * (xre * c[(f*n) % $envN + 1] - xim * sn[(f*n) % $envN + 1])", "1e6")} / $envN AS zre,
             ${sqlQsum(s"g * (xre * sn[(f*n) % $envN + 1] + xim * c[(f*n) % $envN + 1])", "1e6")} / $envN AS zim
      FROM (SELECT *, CASE WHEN f = 0 OR f = ${envN / 2} THEN 1.0 ELSE 2.0 END AS g
            FROM spec WHERE f <= ${envN / 2}),
           range(0, $envN) t(n), tw
      GROUP BY 1, 2),
    e AS (SELECT n, sqrt(zre * zre + zim * zim) AS env FROM z)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_samples, ${sqlQsum("env", "1e6")} AS sum_env,
           ${sqlQsum("CASE WHEN n = 0 THEN env ELSE 0.0 END", "1e6")} AS sum_env0
    FROM e"""

  // ---------------------------------------------------------------------
  // LLOYD K-MEANS over the embedding corpus, two synchronous iterations
  // unrolled — the unsupervised-structure pass every corpus curation
  // stack runs (topic buckets, domain mixing, IVF coarse quantizer
  // training all reduce to it). K = 4 literal seed centroids from an
  // integer formula both engines evaluate exactly.
  //
  // Spark-first shape: vectors live EXPLODED as (vec_id, dim, x) — one
  // row per coordinate — so assignment is a broadcast join against the
  // K×D centroid relation on dim plus one partial-aggregated groupBy
  // (vec_id, k), and the update step is one groupBy (k, dim) mean. No
  // driver loop, no collect: each Lloyd round is a fixed two-shuffle
  // dataflow, and at 100 TB the centroid relation stays KB-sized
  // broadcast state while the corpus streams through map-side joins.
  // (The column-form twin keeps vectors packed and uses the dot_vec
  // kernel — functions/Vectors.scala; the exploded form is the one whose
  // decimal sums the oracle reproduces bit-for-bit.)
  //
  // Determinism: distances and coordinate sums accumulate through the
  // floor-quantized fixed-point pattern ([[qsum]], nano-precision —
  // order-free and immune to the engines' divergent double→decimal
  // casts), argmin ties break on cluster id, means are exact integer
  // sums over exactly-counted members divided in a fixed op order, and
  // an emptied cluster simply drops out of the centroid relation
  // (documented, deterministic).
  // ---------------------------------------------------------------------

  private val kmK = 4
  private val kmD = 64

  /** Two-round Lloyd assignment (vec_id, ck) over the embedding corpus —
    * the deterministic clustering both [[qEmbeddingKmeans]] and
    * [[graft.queries.Pipeline.qPipelineSemdedup]] build on. */
  /** Two-round Lloyd assignment (vec_id, ck) over the embeddings table.
    * `k` defaults to the oracle's 4 literal seed centroids; at 100 TB
    * callers scale K with the corpus (SemDeDup's argument: per-cluster
    * work stays bounded when K ∝ N/cluster-budget) — the seed formula,
    * assignment and update steps are all K-generic, and centroid state
    * stays a broadcast-size K×64 table. */
  private[queries] def kmeansAssignments(s: org.apache.spark.sql.SparkSession, d: String,
                                         k: Int = kmK): DataFrame = {
    val e = kmeansExploded(s, d)
    val c0 = s.range(k.toLong * kmD)
      .select(expr(s"id div $kmD").as("ck"), (col("id") % kmD).as("cd"))
      .select(col("ck"), col("cd"),
        (((col("ck") * 37 + col("cd") * 17) % 21).cast("double") / 10.0 - 1.0).as("c"))
    def assign(cTab: DataFrame): DataFrame =
      e.join(broadcast(cTab), col("dim") === col("cd"))
        .groupBy(col("vec_id"), col("ck"))
        // nano-quantized squared distance, kept in integer units — the
        // scale cancels in the argmin, so no divide at all
        .agg(sum(floor((col("x") - col("c")) * (col("x") - col("c")) * 1e9 + 0.5)).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("ck"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("ck"))
    def update(a: DataFrame): DataFrame =
      e.join(a, "vec_id")
        .groupBy(col("ck"), col("dim"))
        .agg((sum(floor(col("x") * 1e9 + 0.5)).cast("double") / 1e9 /
              count(lit(1)).cast("double")).as("c"))
        .select(col("ck"), col("dim").as("cd"), col("c"))
    assign(update(assign(c0)))
  }

  private def kmeansExploded(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))

  val qEmbeddingKmeans: Q = (s, d) => {
    val e = kmeansExploded(s, d)
    val a2 = kmeansAssignments(s, d)
    e.join(a2, "vec_id")
      .groupBy(col("ck"))
      .agg(countDistinct(col("vec_id")).as("n_members"), qsum(col("x"), 1e9).as("mass"))
      .orderBy(col("ck"))
  }

  /** The CTE chain producing `e` (exploded vectors) and `a2` (final
    * assignments) — shared with the SemDeDup oracle. Heavy CTEs are
    * MATERIALIZED: downstream queries reference them repeatedly and
    * DuckDB re-evaluates plain CTEs per reference. */
  private[queries] val kmeansAssignSqlCtes: String = {
    def assignSql(cTab: String) = s"""(
      SELECT vec_id, ck FROM (
        SELECT vec_id, ck,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ck) AS rn
        FROM (
          SELECT vec_id, ck,
                 SUM(CAST(floor((x - c) * (x - c) * 1e9 + 0.5) AS BIGINT)) AS d2
          FROM e JOIN $cTab ON dim = cd GROUP BY 1, 2) dd) rr
      WHERE rn = 1)"""
    s"""e AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings),
    c0 AS (
      SELECT (i // $kmD) AS ck, (i % $kmD) AS cd,
             CAST(((i // $kmD) * 37 + (i % $kmD) * 17) % 21 AS DOUBLE) / 10.0 - 1.0 AS c
      FROM range(0, ${kmK * kmD}) t(i)),
    a1 AS ${assignSql("c0")},
    c1 AS (
      SELECT ck, dim AS cd,
             CAST(SUM(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM e JOIN a1 USING (vec_id) GROUP BY 1, 2),
    a2 AS MATERIALIZED ${assignSql("c1")}"""
  }

  val qEmbeddingKmeansSql: String = {
    s"""
    WITH $kmeansAssignSqlCtes
    SELECT ck, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_members,
           ${sqlQsum("x", "1e9")} AS mass
    FROM e JOIN a2 USING (vec_id) GROUP BY 1 ORDER BY 1"""
  }

  // ---------------------------------------------------------------------
  // SYNCHRONOUS LABEL PROPAGATION (community detection) on the bipartite
  // customer↔supplier trade graph (graph_bfs's node encoding) — the
  // clusterer that finds trading communities rather than mere
  // connectivity (dedup_components): each round every node adopts its
  // neighborhood's PLURALITY label (most frequent; ties to the smallest
  // label), three rounds unrolled.
  //
  // Spark-first shape: one round = join labels to edges on src + one
  // partial-aggregated groupBy (dst, label) + one groupBy argmax
  // (max_by over (cnt, −label): plurality, ties to the smallest label)
  // — two shuffles keyed by node id. The r06 row_number window this
  // replaced shuffled and sorted EVERY (dst, label) count row; max_by
  // PARTIAL-aggregates map-side (struct buffer → SortAggregate, but the
  // partial phase shrinks the shuffle to one row per mapper per dst —
  // 3.7 s → 2.9 s warm at sf0.1, and the gap widens with node fan-in).
  // Lineage-cut per round (the dedup_components discipline). Hub skew
  // is absorbed by the map-side partial counts (the (dst,label) key
  // fans a hub's updates across reducers). Deterministic: counts are
  // exact and the max_by ordering struct is a total order, so the
  // oracle re-derives the identical label state round by round.
  // ---------------------------------------------------------------------

  val qGraphLabelprop: Q = (s, d) => {
    val e0 = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // pre-partition by the probe key src: one edge exchange serves all
    // three rounds' joins (checkpoint preserves partitioning, guide §2.4)
    val edges = e0.unionAll(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(s.sessionState.conf.numShufflePartitions, col("src"))
      .sortWithinPartitions("src").lineageCut
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab")).lineageCut
    for (_ <- 1 to 3) {
      labels = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max_by(col("lab"), struct(col("cnt"), (-col("lab")).as("neg"))).as("lab"))
        .select(col("dst").as("node"), col("lab"))
        // LAZY cut: no per-round action runs, so every round's cut is
        // materialized by the single terminal full-scan action (the final
        // community groupBy), which satisfies the cutAtNextAction
        // full-partition contract. Three dedicated materialization jobs
        // removed.
        .lineageCutLazy
    }
    labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("community"))
      .limit(20)
  }

  val qGraphLabelpropSql: String = {
    def stepSql(prev: String) = s"""(
      SELECT dst AS node, lab FROM (
        SELECT dst, lab,
               ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, lab) AS rn
        FROM (
          SELECT e.dst, p.lab, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM e JOIN $prev p ON e.src = p.node GROUP BY 1, 2) g) r
      WHERE rn = 1)"""
    s"""
    WITH eb AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT src, dst FROM eb UNION ALL SELECT dst, src FROM eb),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
    l1 AS ${stepSql("l0")},
    l2 AS ${stepSql("l1")},
    l3 AS ${stepSql("l2")}
    SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS size
    FROM l3 GROUP BY 1 ORDER BY size DESC, community LIMIT 20"""
  }

  // ---------------------------------------------------------------------
  // MERGE UPSERT — the three-way MERGE INTO (update / delete / insert in
  // ONE pass) that maintains any curated table from a change feed. The
  // change set derives deterministically from the base (keys ≡ 0..2 mod
  // 10; op by key mod 3), so both engines build the identical feed.
  //
  // Spark-first shape: MERGE = one left join base→changes (broadcast
  // when the feed is small, hash otherwise — here the optimizer's
  // choice) with delete-filter and update-overlay fused into the
  // projection, plus a union of the insert slice: ONE scan of the base,
  // no read-modify-write of unaffected rows. That is exactly the shape a
  // lakehouse MERGE compiles to at 100 TB; pair with partition pruning
  // on the join key to touch only affected files.
  // ---------------------------------------------------------------------

  val qPipelineMergeUpsert: Q = (s, d) => {
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val changes = base.filter(col("o_orderkey") % 10 < 3)
      .select(col("o_orderkey").as("u_key"),
        when(col("o_orderkey") % 3 === 0, lit("D"))
          .when(col("o_orderkey") % 3 === 1, lit("U"))
          .otherwise(lit("I")).as("op"),
        (col("price") + lit(100).cast("decimal(18,2)")).as("u_price"))
    val merged = base
      .join(changes, col("o_orderkey") === col("u_key"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op") === "U", col("u_price")).otherwise(col("price")).as("price"),
        col("o_orderstatus"))
      .unionAll(changes.filter(col("op") === "I")
        .select((col("u_key") + 100000000L).as("o_orderkey"),
          col("u_price").as("price"), lit("N").as("o_orderstatus")))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val qPipelineMergeUpsertSql: String = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders),
    changes AS (
      SELECT o_orderkey AS u_key,
             CASE o_orderkey % 3 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op,
             price + CAST(100 AS DECIMAL(18,2)) AS u_price
      FROM base WHERE o_orderkey % 10 < 3),
    merged AS (
      SELECT b.o_orderkey,
             CASE WHEN c.op = 'U' THEN c.u_price ELSE b.price END AS price,
             b.o_orderstatus
      FROM base b LEFT JOIN changes c ON b.o_orderkey = c.u_key
      WHERE c.op IS NULL OR c.op <> 'D'
      UNION ALL
      SELECT u_key + 100000000, u_price, 'N'
      FROM changes WHERE op = 'I')
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(price) AS DOUBLE) AS sum_price
    FROM merged GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------------
  // WORDPIECE SUBWORD TOKENIZATION — a REAL tokenizer pass (greedy
  // longest-match-first against a fixed vocabulary, the WordPiece
  // inference algorithm), not the length heuristic of text_tokens: the
  // exact token stream a training pipeline feeds to the model, so token
  // counting, packing, and contamination checks can all run on true
  // subword units. The vocab is a literal (KB-scale broadcast state);
  // the pass is map-only inside whole-stage codegen via the native
  // `wordpiece` kernel — 100 TB costs one scan, no shuffle before the
  // final count. The oracle re-derives the same greedy walk with a
  // recursive CTE over the corpus's DISTINCT words (tokenization is a
  // pure word-level function, so distinct-word × instance-count
  // reproduces the full stream's counts).
  // ---------------------------------------------------------------------

  private[graft] val wpVocab: Seq[String] = Seq(
    "the", "sc", "an", "col", "umn", "win", "dow", "or", "der", "so", "rt",
    "pa", "val", "ue", "lin", "ke", "y", "jo", "in", "mer", "ge", "gro",
    "up", "que", "ry", "vec", "tor", "ha", "sh", "slo", "w", "str", "eam",
    "fil", "ter", "fa", "st", "spark", "bat", "ch", "ta", "ble", "sma",
    "ll", "da", "big", "cus", "tom", "er", "ro", "agg", "du", "p")

  val qTextWordpiece: Q = (s, d) => {
    graft.GraftFunctions.register(s)
    documents(s, d)
      .select(explode(call_function("wordpiece",
        TF.tokens(col("text")), typedlit(wpVocab))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(30)
  }

  val qTextWordpieceSql: String = {
    val vocabRows = wpVocab.map(v => s"('$v')").mkString(", ")
    s"""
    WITH RECURSIVE v(tok) AS (VALUES $vocabRows),
    words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
      GROUP BY 1),
    r(word, cnt, pos, tok) AS (
      SELECT word, cnt, 1, CAST(NULL AS VARCHAR) FROM words
      UNION ALL
      SELECT word, cnt, pos + length(t), t FROM (
        SELECT word, cnt, pos,
          COALESCE(
            (SELECT v.tok FROM v
             WHERE length(v.tok) = (SELECT MAX(length(v2.tok)) FROM v v2
                                    WHERE substr(word, pos, length(v2.tok)) = v2.tok)
               AND substr(word, pos, length(v.tok)) = v.tok LIMIT 1),
            substr(word, pos, 1)) AS t
        FROM r WHERE pos <= length(word)) s)
    SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n
    FROM r WHERE tok IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, tok LIMIT 30"""
  }

  // ---------------------------------------------------------------------
  // FK (frequency–wavenumber) DIP FILTER — the 2-D spectral cousin of
  // [[qMdioEnvelope]] and the classic coherent-noise suppressor (ground
  // roll / linear events live at high |k|/|ω|): 2-D DFT per gather over
  // (offset, time), zero the high-dip wedge, inverse transform. Grid:
  // 64 gathers × 8 offsets × 32 samples; pass-band keeps
  // 2·min(kx, 8−kx) ≤ min(f, 32−f) — an exact integer condition.
  //
  // Both transforms reuse the 32-entry twiddle literals: the 2-D angle
  // 2π(kx·x/8 + f·t/32) = 2π·((4·kx·x + f·t) mod 32)/32, so every lookup
  // is an exact integer index into the shared table. Same scale shape as
  // the envelope: broadcast literal grids, partial-aggregated groupBys
  // keyed (gather, kx, f) / (gather, x, t), fully gather-parallel; all
  // sums floor-quantized ([[qsum]]), /256 exact (2^8). The mask is a
  // FILTER on the spectrum relation — at 100 TB the inverse only reads
  // the kept coefficients, which is the whole point of dip filtering.
  // ---------------------------------------------------------------------

  val qMdioFkFilter: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 64).as("g"), (col("l_suppkey") % 8).as("x"),
        (col("l_orderkey") % envN).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    val cosL = typedlit(cosT)
    val sinL = typedlit(sinT)
    def tw(tab: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      element_at(tab, (i % envN + 1).cast("int"))
    // literal-array explodes for the (kx, f) / (x, t) grids — the
    // envelope's no-join expansion, twice per transform
    val kxL = typedlit((0L until 8L).toSeq)
    val idxL = typedlit((0 until envN).map(_.toLong))
    val fwdIdx = (col("kx") * col("x") * 4 + col("f") * col("t"))
    val spec = cells
      .withColumn("kx", explode(kxL)).withColumn("f", explode(idxL))
      .select(col("g"), col("kx"), col("f"),
        (col("a") * tw(cosL, fwdIdx)).as("re"),
        (-(col("a") * tw(sinL, fwdIdx))).as("im"))
      .groupBy(col("g"), col("kx"), col("f"))
      .agg(qsum(col("re"), 1e6).as("xre"), qsum(col("im"), 1e6).as("xim"))
    val kept = spec.filter(
      least(col("kx"), lit(8) - col("kx")) * 2 <= least(col("f"), lit(envN) - col("f")))
    val invIdx = (col("kx") * col("x2") * 4 + col("f") * col("t2"))
    val y = kept
      .withColumn("x2", explode(kxL)).withColumn("t2", explode(idxL))
      .select(col("g"), col("x2"), col("t2"),
        (col("xre") * tw(cosL, invIdx) - col("xim") * tw(sinL, invIdx)).as("yr"))
      .groupBy(col("g"), col("x2"), col("t2"))
      .agg((qsum(col("yr"), 1e6) / 256).as("y"))
    y.select(col("t2"), abs(col("y")).as("ay"))
      .agg(count(lit(1)).as("n_cells"), qsum(col("ay"), 1e6).as("sum_abs"),
           qsum(when(col("t2") === 0, col("ay")).otherwise(lit(0.0)), 1e6).as("sum_abs0"))
  }

  val qMdioFkFilterSql: String = s"""
    WITH tw AS (SELECT ${sqlVecD(cosT)}::DOUBLE[] AS c, ${sqlVecD(sinT)}::DOUBLE[] AS sn),
    cells AS (
      SELECT l_partkey % 64 AS g, l_suppkey % 8 AS x, l_orderkey % $envN AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2, 3),
    spec AS (
      SELECT g, kx, f,
             ${sqlQsum(s"a * c[(kx*x*4 + f*t) % $envN + 1]", "1e6")} AS xre,
             ${sqlQsum(s"-(a * sn[(kx*x*4 + f*t) % $envN + 1])", "1e6")} AS xim
      FROM cells, range(0, 8) kk(kx), range(0, $envN) ff(f), tw
      GROUP BY 1, 2, 3),
    kept AS (
      SELECT * FROM spec
      WHERE LEAST(kx, 8 - kx) * 2 <= LEAST(f, $envN - f)),
    y AS (
      SELECT g, x2, t2,
             ${sqlQsum(s"xre * c[(kx*x2*4 + f*t2) % $envN + 1] - xim * sn[(kx*x2*4 + f*t2) % $envN + 1]", "1e6")} / 256 AS y
      FROM kept, range(0, 8) xx(x2), range(0, $envN) tt(t2), tw
      GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ${sqlQsum("abs(y)", "1e6")} AS sum_abs,
           ${sqlQsum("CASE WHEN t2 = 0 THEN abs(y) ELSE 0.0 END", "1e6")} AS sum_abs0
    FROM y"""

  // ---------------------------------------------------------------------
  // POWER-ITERATION PCA — the top principal direction of the embedding
  // corpus via two unrolled iterations of v ← normalize(Aᵀ(Av)): the
  // covariance-free distributed PCA (Aᵀ A is never materialized — each
  // half-iteration is one broadcast join + one partial-aggregated
  // groupBy, the classic two-matvec shape that scales to any corpus
  // with D-sized broadcast state). Seed v₀ is an exact integer formula.
  //
  // Determinism: every inner product runs through [[qsum]] fixed point
  // (u at nano, the D-sized reductions at 1e8/1e4 to respect the 2^53
  // exact-integer budget at corpus scale), norms via one exact sqrt,
  // divides exact-rounded in fixed order. Output: the dominant
  // eigenvalue estimate λ = ‖Aᵀ(Av₁)‖ and the first 8 loadings of the
  // normalized component.
  // ---------------------------------------------------------------------

  val qEmbeddingPca: Q = (s, d) => {
    val e = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
    val v0 = s.range(kmD.toLong)
      .select(col("id").as("vd"), (((col("id") * 31) % 17 - 8).cast("double") / 8.0).as("v"))
    def halfIter(v: DataFrame): DataFrame = {
      // u = A v (per-vector inner product), then w = Aᵀ u (per-dim), then
      // normalize — returns the next unit v as a (vd, v) relation
      val u = e.join(broadcast(v), col("dim") === col("vd"))
        .groupBy(col("vec_id")).agg(qsum(col("x") * col("v"), 1e9).as("u"))
      val w = e.join(broadcast(u), "vec_id")
        .groupBy(col("dim")).agg(qsum(col("x") * col("u"), 1e8).as("w"))
      val norm = w.agg(sqrt(qsum(col("w") * col("w"), 1e4)).as("nrm"))
      w.crossJoin(broadcast(norm))
        .select(col("dim").as("vd"), (col("w") / col("nrm")).as("v"))
    }
    val v1 = halfIter(v0)
    // final un-normalized image: λ = ‖Aᵀ(A v₁)‖, loadings = that image/λ
    val u2 = e.join(broadcast(v1), col("dim") === col("vd"))
      .groupBy(col("vec_id")).agg(qsum(col("x") * col("v"), 1e9).as("u"))
    val w2 = e.join(broadcast(u2), "vec_id")
      .groupBy(col("dim")).agg(qsum(col("x") * col("u"), 1e8).as("w"))
    val lam = w2.agg(sqrt(qsum(col("w") * col("w"), 1e4)).as("lambda"))
    w2.crossJoin(broadcast(lam))
      .filter(col("dim") < 8)
      .select(col("dim"), (col("w") / col("lambda")).as("loading"), col("lambda"))
      .orderBy(col("dim"))
  }

  val qEmbeddingPcaSql: String = {
    def uSql(vTab: String) = s"""(
      SELECT vec_id, ${sqlQsum("x * v", "1e9")} AS u
      FROM e JOIN $vTab ON dim = vd GROUP BY 1)"""
    def wSql(uTab: String) = s"""(
      SELECT dim, ${sqlQsum("x * u", "1e8")} AS w
      FROM e JOIN $uTab USING (vec_id) GROUP BY 1)"""
    s"""
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings),
    v0 AS (
      SELECT i AS vd, CAST((i * 31) % 17 - 8 AS DOUBLE) / 8.0 AS v
      FROM range(0, $kmD) t(i)),
    u1 AS ${uSql("v0")},
    w1 AS ${wSql("u1")},
    n1 AS (SELECT sqrt(${sqlQsum("w * w", "1e4")}) AS nrm FROM w1),
    v1 AS (SELECT dim AS vd, w / nrm AS v FROM w1, n1),
    u2 AS ${uSql("v1")},
    w2 AS ${wSql("u2")},
    n2 AS (SELECT sqrt(${sqlQsum("w * w", "1e4")}) AS lambda FROM w2)
    SELECT dim, w / lambda AS loading, lambda
    FROM w2, n2 WHERE dim < 8 ORDER BY dim"""
  }

  // ---------------------------------------------------------------------
  // BPE MERGE TRAINING — the first three byte-pair-encoding merges
  // learned from the corpus, distributed: count adjacent symbol pairs
  // (weighted by word frequency), adopt the most frequent pair as a
  // merge, apply it left-to-right non-overlapping, repeat. This is the
  // actual tokenizer-training inner loop (the apply side is
  // [[qTextWordpiece]]'s kernel), run as three unrolled dataflow rounds.
  //
  // Spark-first shape: the corpus contracts FIRST to (distinct word,
  // count) — the standard word-dict trick every real BPE trainer uses
  // (Zipf: the dict is tiny next to the corpus; at 100 TB the contraction
  // is the only corpus-scale pass, one partial-agg'd groupBy). Each round
  // is then: one windowed lead() for pairs, one partial-agg'd pair count,
  // a one-row broadcast of the winning pair, and the word-local
  // left-to-right application via the islands-and-alternation trick —
  // runs of consecutive matches merge at even offsets (row 3 of "aaaa"
  // must merge, row 2 of "aaa" must not), a pure window composition both
  // engines execute identically. Everything is integer/string exact.
  // ---------------------------------------------------------------------

  val qTextBpeTrain: Q = (s, d) => {
    // no lineage cut here, deliberately: the three rounds reuse s0's
    // subtree many times, but it all stays ONE action, and Spark's
    // ReusedExchange dedupes the identical corpus-contraction subplan
    // across the branches — measured: eager localCheckpoint at every
    // round ran 1.7x SLOWER (seven serial job launches to save a scan
    // the engine wasn't repeating). The checkpoint discipline is for
    // LOOPS OF ACTIONS (dedup_components, graph_bfs), not for one plan.
    val words = documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val s0 = words
      .select(col("w"), col("cnt"), posexplode(split(col("w"), "")).as(Seq("p", "sym")))
      .select(col("w"), col("cnt"), (col("p") + 1).cast("long").as("pos"), col("sym"))
    val byPos = Window.partitionBy(col("w")).orderBy(col("pos"))
    def round(syms: DataFrame): (DataFrame, DataFrame) = {
      val p = syms.withColumn("nxt", lead(col("sym"), 1).over(byPos))
      val top = p.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("tsym"), col("nxt").as("tnxt"))
        .agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("tsym"), col("tnxt")).limit(1)
      val m = p.crossJoin(broadcast(top))
        .withColumn("marked",
          coalesce(col("sym") === col("tsym") && col("nxt") === col("tnxt"), lit(false)))
        .withColumn("rn", row_number().over(byPos))
        .withColumn("rnm", row_number().over(
          Window.partitionBy(col("w"), col("marked")).orderBy(col("pos"))))
        .withColumn("grp", col("rn") - col("rnm"))
      val o = m.withColumn("ismerge", col("marked") &&
          (row_number().over(Window.partitionBy(col("w"), col("marked"), col("grp"))
            .orderBy(col("pos"))) - 1) % 2 === 0)
        .withColumn("consumed",
          coalesce(lag(col("ismerge"), 1).over(byPos), lit(false)))
      val next = o.filter(!col("consumed"))
        .select(col("w"), col("cnt"), col("pos"),
          when(col("ismerge"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
      (next, top)
    }
    val (s1, t1) = round(s0)
    val (s2, t2) = round(s1)
    val (_, t3) = round(s2)
    t1.select(lit(1L).as("round"), col("tsym"), col("tnxt"), col("total"))
      .unionAll(t2.select(lit(2L).as("round"), col("tsym"), col("tnxt"), col("total")))
      .unionAll(t3.select(lit(3L).as("round"), col("tsym"), col("tnxt"), col("total")))
      .orderBy(col("round"))
  }

  val qTextBpeTrainSql: String = {
    def roundSql(i: Int, prev: String): String = s"""
    p$i AS (SELECT w, cnt, pos, sym,
                   LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
            FROM $prev),
    t$i AS (SELECT sym AS tsym, nxt AS tnxt, CAST(SUM(cnt) AS BIGINT) AS total
            FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2
            ORDER BY total DESC, tsym, tnxt LIMIT 1),
    m$i AS (SELECT p.*, COALESCE(p.sym = t.tsym AND p.nxt = t.tnxt, FALSE) AS marked
            FROM p$i p, t$i t),
    r$i AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos)
                      - ROW_NUMBER() OVER (PARTITION BY w, marked ORDER BY pos) AS grp
            FROM m$i),
    o$i AS (SELECT *, marked AND
                      (ROW_NUMBER() OVER (PARTITION BY w, marked, grp ORDER BY pos) - 1) % 2 = 0
                      AS ismerge
            FROM r$i),
    s$i AS (SELECT w, cnt, pos,
                   CASE WHEN ismerge THEN sym || nxt ELSE sym END AS sym
            FROM (SELECT *, COALESCE(LAG(ismerge) OVER (PARTITION BY w ORDER BY pos), FALSE)
                            AS consumed
                  FROM o$i) q
            WHERE NOT consumed)"""
    s"""
    WITH words AS (
      SELECT word AS w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
      GROUP BY 1),
    s0 AS (
      SELECT w, cnt, pos, substr(w, CAST(pos AS INTEGER), 1) AS sym FROM (
        SELECT w, cnt, unnest(range(1, length(w) + 1)) AS pos FROM words) q),
    ${roundSql(1, "s0")},
    ${roundSql(2, "s1")},
    ${roundSql(3, "s2")}
    SELECT CAST(1 AS BIGINT) AS round, tsym, tnxt, total FROM t1
    UNION ALL SELECT 2, tsym, tnxt, total FROM t2
    UNION ALL SELECT 3, tsym, tnxt, total FROM t3
    ORDER BY round"""
  }

  // ---------------------------------------------------------------------
  // DOMINANT-FREQUENCY SPECTRUM via the native dft_mag_q kernel — the
  // constant-factor upgrade the envelope/FK docstrings promise, and its
  // certification: the kernel computes each trace's quantized DFT
  // magnitudes in ONE codegen'd JVM loop over the array-packed trace
  // (no grid explosion at all — traces pack with collect_list + map
  // fill, one shuffle), while the ORACLE re-derives the same spectrum
  // through the join-expansion form. They agree bit-for-bit by
  // construction: quantized integer terms are order-free and the twiddle
  // doubles come from the same JVM cos/sin op sequence the join form
  // embeds as literals. Output: trace count and total magnitude per
  // dominant frequency bin (f 1..16, ties to the lower bin).
  // ---------------------------------------------------------------------

  val qMdioSpectrum: Q = (s, d) => {
    graft.GraftFunctions.register(s)
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 512).as("tr"), (col("l_orderkey") % envN).as("k"))
      .agg(dsum(col("l_quantity")).as("a"))
    val traces = cells.groupBy(col("tr"))
      .agg(map_from_entries(collect_list(
        struct(col("k").cast("int").as("key"), col("a").as("value")))).as("m"))
      .select(col("tr"), transform(sequence(lit(0), lit(envN - 1)),
        i => coalesce(element_at(col("m"), i), lit(0.0))).as("vals"))
    val mags = traces
      .select(col("tr"), posexplode(call_function("dft_mag_q", col("vals"))).as(Seq("f", "mag")))
      .filter(col("f").between(1, envN / 2))
    mags.withColumn("rn", row_number().over(
        Window.partitionBy(col("tr")).orderBy(col("mag").desc, col("f"))))
      .filter(col("rn") === 1)
      .groupBy(col("f").cast("long").as("dom_f"))
      .agg(count(lit(1)).as("n_traces"), qsum(col("mag"), 1e6).as("sum_mag"))
      .orderBy(col("dom_f"))
  }

  val qMdioSpectrumSql: String = s"""
    WITH tw AS (SELECT ${sqlVecD(cosT)}::DOUBLE[] AS c, ${sqlVecD(sinT)}::DOUBLE[] AS sn),
    cells AS (
      SELECT l_partkey % 512 AS tr, l_orderkey % $envN AS k,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    spec AS (
      SELECT tr, f,
             ${sqlQsum(s"a * c[(f*k) % $envN + 1]", "1e6")} AS xre,
             ${sqlQsum(s"-(a * sn[(f*k) % $envN + 1])", "1e6")} AS xim
      FROM cells, range(0, $envN) t(f), tw GROUP BY 1, 2),
    mag AS (
      SELECT tr, f, sqrt(xre * xre + xim * xim) AS mag
      FROM spec WHERE f BETWEEN 1 AND ${envN / 2}),
    dom AS (
      SELECT tr, f, mag,
             ROW_NUMBER() OVER (PARTITION BY tr ORDER BY mag DESC, f) AS rn
      FROM mag)
    SELECT f AS dom_f, CAST(COUNT(*) AS BIGINT) AS n_traces,
           ${sqlQsum("mag", "1e6")} AS sum_mag
    FROM dom WHERE rn = 1 GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------------
  // BAND-LIMITED 2× TRACE RESAMPLE (spectral / sinc interpolation) — the
  // standard seismic upsample: forward DFT, then evaluate the inverse at
  // 64 half-sample positions (zero-padding the spectrum IS sinc
  // interpolation; even positions reproduce the original samples, odd
  // positions are the new band-limited values). Same no-join explode
  // shape as the envelope; the half-step angles index a 64-entry twiddle
  // table by the exact integer (f·n₂) mod 64.
  // ---------------------------------------------------------------------

  private val cosT64: Seq[Double] = (0 until 2 * envN).map(j => math.cos(2.0 * math.Pi * j / (2 * envN)))
  private val sinT64: Seq[Double] = (0 until 2 * envN).map(j => math.sin(2.0 * math.Pi * j / (2 * envN)))

  val qMdioResample: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 512).as("tr"), (col("l_orderkey") % envN).as("k"))
      .agg(dsum(col("l_quantity")).as("a"))
    val cosL = typedlit(cosT)
    val sinL = typedlit(sinT)
    val cos2L = typedlit(cosT64)
    val sin2L = typedlit(sinT64)
    val idxL = typedlit((0 until envN).map(_.toLong))
    val idx2L = typedlit((0 until 2 * envN).map(_.toLong))
    val spec = cells.withColumn("f", explode(idxL))
      .select(col("tr"), col("f"),
        (col("a") * element_at(cosL, (col("f") * col("k") % envN + 1).cast("int"))).as("re"),
        (-(col("a") * element_at(sinL, (col("f") * col("k") % envN + 1).cast("int")))).as("im"))
      .groupBy(col("tr"), col("f"))
      .agg(qsum(col("re"), 1e6).as("xre"), qsum(col("im"), 1e6).as("xim"))
    val gain = when(col("f") === 0 || col("f") === envN / 2, lit(1.0)).otherwise(lit(2.0))
    val j2 = (col("f") * col("n2")) % (2 * envN) + 1
    val y = spec.filter(col("f") <= envN / 2).withColumn("n2", explode(idx2L))
      .select(col("tr"), col("n2"),
        (gain * (col("xre") * element_at(cos2L, j2.cast("int")) -
                 col("xim") * element_at(sin2L, j2.cast("int")))).as("yr"))
      .groupBy(col("tr"), col("n2"))
      .agg((qsum(col("yr"), 1e6) / envN).as("y"))
    y.select(col("n2"), col("y"))
      .agg(count(lit(1)).as("n_samples"), qsum(col("y"), 1e6).as("sum_y"),
           qsum(when(col("n2") % 2 === 1, col("y")).otherwise(lit(0.0)), 1e6).as("sum_interp"))
  }

  val qMdioResampleSql: String = s"""
    WITH tw AS (SELECT ${sqlVecD(cosT)}::DOUBLE[] AS c, ${sqlVecD(sinT)}::DOUBLE[] AS sn,
                       ${sqlVecD(cosT64)}::DOUBLE[] AS c2, ${sqlVecD(sinT64)}::DOUBLE[] AS sn2),
    cells AS (
      SELECT l_partkey % 512 AS tr, l_orderkey % $envN AS k,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    spec AS (
      SELECT tr, f,
             ${sqlQsum(s"a * c[(f*k) % $envN + 1]", "1e6")} AS xre,
             ${sqlQsum(s"-(a * sn[(f*k) % $envN + 1])", "1e6")} AS xim
      FROM cells, range(0, $envN) t(f), tw GROUP BY 1, 2),
    y AS (
      SELECT tr, n2,
             ${sqlQsum(s"g * (xre * c2[(f*n2) % ${2 * envN} + 1] - xim * sn2[(f*n2) % ${2 * envN} + 1])", "1e6")} / $envN AS y
      FROM (SELECT *, CASE WHEN f = 0 OR f = ${envN / 2} THEN 1.0 ELSE 2.0 END AS g
            FROM spec WHERE f <= ${envN / 2}),
           range(0, ${2 * envN}) t(n2), tw
      GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_samples, ${sqlQsum("y", "1e6")} AS sum_y,
           ${sqlQsum("CASE WHEN n2 % 2 = 1 THEN y ELSE 0.0 END", "1e6")} AS sum_interp
    FROM y"""

  // ---------------------------------------------------------------------
  // CUSUM CHANGE-POINT DETECTION over the event stream — the classic
  // drift detector (Page's cumulative sum): per event type, accumulate
  // deviations from the type's mean rate and alarm when the running
  // excursion exceeds a threshold. The recursive textbook form
  // S_t = max(0, S_{t−1} + x_t − k) has the closed form
  // S_t = P_t − min(0, min_{j≤t} P_j) with P the prefix sum of (x−k) —
  // which turns a sequential recurrence into ONE window pass (running
  // sum + running min over the same frame), the transformation that
  // makes CUSUM distributable: one hash shuffle by type, no iteration,
  // no state machine. At 100 TB, partition by (type, day) with per-day
  // baselines and the same window runs embarrassingly parallel.
  //
  // Exactness: values are cent-quantized (exact), the drift k is an
  // integer division of exact sums, and everything downstream is integer
  // window arithmetic — no floats anywhere.
  // ---------------------------------------------------------------------

  val qEventsCusum: Q = (s, d) => {
    val ev = events(s, d).select(col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("xc"))
    val drift = ev.groupBy(col("event_type"))
      .agg(expr("sum(xc) div count(1)").as("k"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    val scored = ev.join(broadcast(drift), "event_type")
      .withColumn("p", sum(col("xc") - col("k")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
    scored.groupBy(col("event_type"))
      .agg(count(when(col("s") > 20000L, 1)).as("n_alarms"),
           max(col("s")).as("max_s"),
           min(when(col("s") > 20000L, col("event_id"))).as("first_alarm"))
      .orderBy(col("event_type"))
  }

  val qEventsCusumSql: String = """
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
      FROM events),
    drift AS (
      SELECT event_type, CAST(SUM(xc) // COUNT(*) AS BIGINT) AS k
      FROM ev GROUP BY 1),
    pfx AS (
      SELECT event_type, event_id,
             CAST(SUM(xc - k) OVER (PARTITION BY event_type ORDER BY event_id) AS BIGINT) AS p
      FROM ev JOIN drift USING (event_type)),
    scored AS (
      SELECT event_type, event_id,
             p - LEAST(MIN(p) OVER (PARTITION BY event_type ORDER BY event_id), 0) AS s
      FROM pfx)
    SELECT event_type, CAST(COUNT(CASE WHEN s > 20000 THEN 1 END) AS BIGINT) AS n_alarms,
           CAST(MAX(s) AS BIGINT) AS max_s,
           MIN(CASE WHEN s > 20000 THEN event_id END) AS first_alarm
    FROM scored GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------------
  // HAAR WAVELET BAND DECOMPOSITION — three levels of the discrete Haar
  // transform per trace (the compression/denoising workhorse: approx =
  // (a+b)/2, detail = (a−b)/2 per sample pair, recursed on the approx),
  // reporting coefficient count and total |detail| per band. EXACT with
  // no quantization at all: averaging adjacent values halves by a power
  // of two (exact in IEEE), so every coefficient is bit-identical across
  // engines by pure arithmetic; only the final band sums go through
  // [[qsum]]. Each level is ONE partial-aggregated groupBy on
  // (trace, k div 2) — missing grid cells enter as exact zeros via
  // conditional sums, and the three levels chain without any join.
  // ---------------------------------------------------------------------

  val qMdioWavelet: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 512).as("tr"), (col("l_orderkey") % envN).as("k"))
      .agg(dsum(col("l_quantity")).as("a"))
    // one Haar level: (tr, k, a) -> approx (tr, k/2, (even+odd)/2) and a
    // band summary of the details (even−odd)/2
    def level(src: DataFrame): (DataFrame, DataFrame) = {
      val paired = src.groupBy(col("tr"), expr("k div 2").as("k"))
        .agg(coalesce(sum(when(col("k") % 2 === 0, col("a"))), lit(0.0)).as("ev"),
             coalesce(sum(when(col("k") % 2 === 1, col("a"))), lit(0.0)).as("od"))
      val approx = paired.select(col("tr"), col("k"), ((col("ev") + col("od")) / 2).as("a"))
      val detail = paired.select((abs((col("ev") - col("od")) / 2)).as("ad"))
        .agg(count(lit(1)).as("n"), qsum(col("ad"), 1e6).as("sum_abs"))
      (approx, detail)
    }
    val (a1, d1) = level(cells)
    val (a2, d2) = level(a1)
    val (a3, d3) = level(a2)
    val tail = a3.select(abs(col("a")).as("ad"))
      .agg(count(lit(1)).as("n"), qsum(col("ad"), 1e6).as("sum_abs"))
    d1.select(lit(1L).as("level"), col("n"), col("sum_abs"))
      .unionAll(d2.select(lit(2L).as("level"), col("n"), col("sum_abs")))
      .unionAll(d3.select(lit(3L).as("level"), col("n"), col("sum_abs")))
      .unionAll(tail.select(lit(4L).as("level"), col("n"), col("sum_abs")))
      .orderBy(col("level"))
  }

  val qMdioWaveletSql: String = {
    def levelSql(i: Int, prev: String) = s"""
    p$i AS (
      SELECT tr, k // 2 AS k,
             COALESCE(SUM(CASE WHEN k % 2 = 0 THEN a END), 0.0) AS ev,
             COALESCE(SUM(CASE WHEN k % 2 = 1 THEN a END), 0.0) AS od
      FROM $prev GROUP BY 1, 2),
    a$i AS (SELECT tr, k, (ev + od) / 2 AS a FROM p$i),
    d$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   ${sqlQsum("abs((ev - od) / 2)", "1e6")} AS sum_abs
            FROM p$i)"""
    s"""
    WITH cells AS (
      SELECT l_partkey % 512 AS tr, l_orderkey % $envN AS k,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    ${levelSql(1, "cells")},
    ${levelSql(2, "a1")},
    ${levelSql(3, "a2")},
    tl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sqlQsum("abs(a)", "1e6")} AS sum_abs
           FROM a3)
    SELECT CAST(1 AS BIGINT) AS level, n, sum_abs FROM d1
    UNION ALL SELECT 2, n, sum_abs FROM d2
    UNION ALL SELECT 3, n, sum_abs FROM d3
    UNION ALL SELECT 4, n, sum_abs FROM tl
    ORDER BY level"""
  }

  // ---------------------------------------------------------------------
  // KIRCHHOFF-STYLE TIME MIGRATION (post-stack, constant velocity) — the
  // IMAGING step after [[Mdio]]'s velocity analysis / NMO chain: each
  // image point (xi, t0) stacks input amplitude along its diffraction
  // hyperbola t(x) = √(t0² + ((x−xi)·dx/v)²). The semblance discipline
  // makes it a pure equi join: the (xi, t0, x) trial grid decodes from
  // ONE flat broadcast range (no cross join) with the travel time as an
  // exact floor() pickup key, so the migration is broadcast-join +
  // partial-agg'd groupBy — at 100 TB the image grid tiles and each tile
  // joins only its traveltime-reachable input partition (aperture
  // limiting), the standard distributed-Kirchhoff shape.
  // ---------------------------------------------------------------------

  val qMdioMigrate: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_suppkey") % 16).as("x"), (col("l_orderkey") % envN).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    // flat decode: id = ((xi*16) + t0)*16 + sx over 16x16x16 trials
    val scan = s.range(16L * 16 * 16)
      .select(expr("id div 256").as("xi"), expr("(id div 16) % 16").as("t0"),
        (col("id") % 16).as("sx"))
      .select(col("xi"), col("t0"), col("sx"),
        floor(sqrt((col("t0") * 4).cast("double") * (col("t0") * 4).cast("double") +
          ((col("sx") - col("xi")) * 8).cast("double") * ((col("sx") - col("xi")) * 8).cast("double") /
            4.0)).as("tm"))
    cells.join(broadcast(scan), col("x") === col("sx") && col("t") === col("tm"))
      .groupBy(col("xi"), col("t0"))
      .agg(count(lit(1)).as("n_in"), dsum(col("a")).as("img"))
      .orderBy(abs(col("img")).desc, col("xi"), col("t0"))
      .limit(10)
  }

  val qMdioMigrateSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 16 AS x, l_orderkey % $envN AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    scan AS (
      SELECT xi, t0, sx,
             CAST(floor(sqrt(CAST(t0 * 4 AS DOUBLE) * CAST(t0 * 4 AS DOUBLE) +
               CAST((sx - xi) * 8 AS DOUBLE) * CAST((sx - xi) * 8 AS DOUBLE) / 4.0))
               AS BIGINT) AS tm
      FROM range(0, 16) a(xi), range(0, 16) b(t0), range(0, 16) c(sx))
    SELECT xi, t0, CAST(COUNT(*) AS BIGINT) AS n_in, ${sqlDsum("a")} AS img
    FROM cells JOIN scan ON x = sx AND t = tm
    GROUP BY 1, 2
    ORDER BY abs(img) DESC, xi, t0 LIMIT 10"""

  // ---------------------------------------------------------------------
  // LAST-TOUCH ATTRIBUTION — credit each purchase to the user's most
  // recent PRIOR non-purchase event (the standard marketing-attribution
  // pass over a product event stream). One window computes the crediting
  // event id (running MAX over the prefix frame — no self-join over
  // time), then one equi join back fetches its type; purchases with no
  // prior touch land in the 'none' bucket. Event ids order the stream
  // deterministically; revenue stays cent-exact.
  // ---------------------------------------------------------------------

  val qEventsAttribution: Q = (s, d) => {
    val ev = events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val credited = ev
      .withColumn("touch_id",
        max(when(col("event_type") =!= "purchase", col("event_id"))).over(w))
      .filter(col("event_type") === "purchase")
    credited.join(
        ev.select(col("event_id").as("touch_id"), col("event_type").as("touch_type")),
        Seq("touch_id"), "left")
      .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
           (sum(col("vc")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("touch_type"))
  }

  val qEventsAttributionSql: String = """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      FROM events),
    credited AS (
      SELECT event_id, vc, touch_id FROM (
        SELECT event_id, event_type, vc,
               MAX(CASE WHEN event_type <> 'purchase' THEN event_id END)
                 OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_id
        FROM ev) q
      WHERE event_type = 'purchase')
    SELECT COALESCE(t.event_type, 'none') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(c.vc) AS DOUBLE) / 100.0 AS revenue
    FROM credited c LEFT JOIN ev t ON c.touch_id = t.event_id
    GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------------
  // TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST — the distribution-drift check a
  // data pipeline runs between slices (train vs eval, this week vs last):
  // D = max over the merged support of |F̂₁(v) − F̂₂(v)|. INTEGER-EXACT
  // throughout: the statistic compares cross-multiplied cumulative
  // counts |c₁(v)·N₂ − c₂(v)·N₁| (no division until the one final
  // exact-rounded quotient), so the argmax and the statistic are pure
  // integer arithmetic both engines reproduce identically.
  //
  // Scale shape: the stream contracts FIRST to per-value conditional
  // counts (one partial-agg'd groupBy over the corpus — the only
  // corpus-scale pass); the cumulative sweep then runs over the DISTINCT
  // VALUE DOMAIN (here ≤ 50 quantity levels; bounded by value
  // cardinality, not rows), where a single-partition window is the
  // correct plan, not a bottleneck. Same posture as the BPE word-dict
  // contraction.
  // ---------------------------------------------------------------------

  val qAggKsTest: Q = (s, d) => {
    val counts = lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "A"))
      .select((col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("v"),
        (col("l_returnflag") === "R").as("s1"))
      .groupBy(col("v"))
      .agg(count(when(col("s1"), 1)).as("c1"), count(when(!col("s1"), 1)).as("c2"))
    val cumW = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    val allW = Window.partitionBy()
    counts
      .select(col("v"),
        sum(col("c1")).over(cumW).as("cum1"), sum(col("c2")).over(cumW).as("cum2"),
        sum(col("c1")).over(allW).as("n1"), sum(col("c2")).over(allW).as("n2"))
      .select(col("v"), col("n1"), col("n2"),
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("d_num"))
      .orderBy(col("d_num").desc, col("v"))
      .limit(1)
      .select(col("v"), col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double")).as("d"))
  }

  val qAggKsTestSql: String = """
    WITH counts AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS c1,
             CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT) AS c2
      FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
    cum AS (
      SELECT v,
             CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c2) OVER () AS BIGINT) AS n2
      FROM counts)
    SELECT v, n1, n2, abs(cum1 * n2 - cum2 * n1) AS d_num,
           CAST(abs(cum1 * n2 - cum2 * n1) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE) AS d
    FROM cum ORDER BY d_num DESC, v LIMIT 1"""

  // ---------------------------------------------------------------------
  // CHI-SQUARE TEST OF INDEPENDENCE — the categorical sibling of
  // [[qAggKsTest]] (drift between two categorical columns: does line
  // status depend on return status?). χ² = Σ (O·N − R·C)² / (R·C·N) over
  // the contingency cells. The corpus contracts to the contingency table
  // in ONE partial-agg'd groupBy; marginals come from windows over the
  // ~21-cell table (bounded by category cardinalities, not rows). Each
  // cell's numerator (O·N − R·C) is an exact long; the one conversion to
  // double, the squaring, the fixed-order R·C·N product, and the divide
  // are each single exact-rounded IEEE ops, and the cell sum goes
  // through [[qsum]] — deterministic end to end.
  // ---------------------------------------------------------------------

  val qAggChi2: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("sm"))
      .agg(count(lit(1)).as("o"))
    val rW = Window.partitionBy(col("rf"))
    val cW = Window.partitionBy(col("sm"))
    val nW = Window.partitionBy()
    val terms = cells
      .select(col("rf"), col("sm"), col("o"),
        sum(col("o")).over(rW).as("r"),
        sum(col("o")).over(cW).as("c"),
        sum(col("o")).over(nW).as("n"))
      .select(
        ((col("o") * col("n") - col("r") * col("c")).cast("double") *
         (col("o") * col("n") - col("r") * col("c")).cast("double") /
         (col("r").cast("double") * col("c").cast("double") * col("n").cast("double")))
          .as("term"),
        col("rf"), col("sm"))
    terms.agg(count(lit(1)).as("n_cells"),
        qsum(col("term"), 1e6).as("chi2"),
        countDistinct(col("rf")).as("n_rows"),
        countDistinct(col("sm")).as("n_cols"))
      .select(col("n_cells"), col("chi2"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"))
  }

  val qAggChi2Sql: String = s"""
    WITH cells AS (
      SELECT l_returnflag AS rf, l_linestatus AS sm,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM lineitem GROUP BY 1, 2),
    m AS (
      SELECT rf, sm, o,
             CAST(SUM(o) OVER (PARTITION BY rf) AS BIGINT) AS r,
             CAST(SUM(o) OVER (PARTITION BY sm) AS BIGINT) AS c,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells),
    t AS (
      SELECT rf, sm,
             CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
               / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) AS term
      FROM m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ${sqlQsum("term", "1e6")} AS chi2,
           CAST(COUNT(DISTINCT rf) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT sm) AS BIGINT) AS n_cols,
           CAST((COUNT(DISTINCT rf) - 1) * (COUNT(DISTINCT sm) - 1) AS BIGINT) AS dof
    FROM t"""

  // ---------------------------------------------------------------------
  // PREDICTIVE DECONVOLUTION (spiking decon, order-2 Wiener prediction
  // filter) — the signal-compression step run before stacking: per
  // trace, estimate autocorrelation lags r₀..r₂, solve the 2×2 Toeplitz
  // normal equations in closed form (Cramer), and output the
  // prediction-ERROR series e_k = a_k − w₁·a_{k−1} − w₂·a_{k−2} (the
  // "spiked" trace with the predictable reverberation removed).
  //
  // Spark-first shape: autocorrelation lags and the filter application
  // are per-trace EQUI self-joins on (tr, k±l) — absent grid cells
  // contribute exact zeros (the sparse-correct formulation a window
  // lead() over present-only rows would get wrong), each join
  // partial-aggregates, all of it trace-parallel. Determinism: lag sums
  // through [[qsum]], the closed-form solve is a fixed sequence of
  // exact-rounded ops on identical inputs (denominator guarded against
  // the dead-trace zero), and the output sums re-quantize.
  // ---------------------------------------------------------------------

  val qMdioDeconvolve: Q = (s, d) => {
    import graft.functions.LineageCut.CutOps
    // the cell table feeds SEVEN consumers (three lag self-joins, two
    // sides each is deduped by exchange reuse only up to the exchange —
    // the reduce-side aggregation re-ran per consumer, r20 profile:
    // seven ~400 ms stages); materialize it once (guide §2.4/§5)
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 512).as("tr"), (col("l_orderkey") % envN).as("k"))
      .agg(dsum(col("l_quantity")).as("a")).lineageCut
    def lagged(l: Int): DataFrame = cells
      .join(cells.select(col("tr").as("tr2"), (col("k") - l).as("k2"), col("a").as("a2")),
        col("tr") === col("tr2") && col("k") === col("k2"))
      .groupBy(col("tr")).agg(qsum(col("a") * col("a2"), 1e6).as(s"r$l"))
    val rr = lagged(0).join(lagged(1), Seq("tr"), "left").join(lagged(2), Seq("tr"), "left")
      .select(col("tr"), col("r0"),
        coalesce(col("r1"), lit(0.0)).as("r1"), coalesce(col("r2"), lit(0.0)).as("r2"))
    val w = rr.select(col("tr"),
      ((col("r1") * col("r0") - col("r2") * col("r1")) /
       greatest(col("r0") * col("r0") - col("r1") * col("r1"), lit(1e-300))).as("w1"),
      ((col("r2") * col("r0") - col("r1") * col("r1")) /
       greatest(col("r0") * col("r0") - col("r1") * col("r1"), lit(1e-300))).as("w2"))
    val e = cells
      .join(cells.select(col("tr").as("t1"), (col("k") + 1).as("k1"), col("a").as("am1")),
        col("tr") === col("t1") && col("k") === col("k1"), "left")
      .join(cells.select(col("tr").as("t2"), (col("k") + 2).as("k22"), col("a").as("am2")),
        col("tr") === col("t2") && col("k") === col("k22"), "left")
      .join(w, Seq("tr"))
      .select(col("tr"),
        (col("a") - col("w1") * coalesce(col("am1"), lit(0.0))
                  - col("w2") * coalesce(col("am2"), lit(0.0))).as("e"),
        col("a"))
    e.agg(count(lit(1)).as("n"),
      qsum(abs(col("e")), 1e6).as("sum_abs_err"),
      qsum(abs(col("a")), 1e6).as("sum_abs_in"))
  }

  val qMdioDeconvolveSql: String = s"""
    WITH cells AS (
      SELECT l_partkey % 512 AS tr, l_orderkey % $envN AS k,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    r0t AS (SELECT c1.tr, ${sqlQsum("c1.a * c2.a", "1e6")} AS r0
            FROM cells c1 JOIN cells c2 ON c1.tr = c2.tr AND c1.k = c2.k
            GROUP BY 1),
    r1t AS (SELECT c1.tr, ${sqlQsum("c1.a * c2.a", "1e6")} AS r1
            FROM cells c1 JOIN cells c2 ON c1.tr = c2.tr AND c1.k = c2.k - 1
            GROUP BY 1),
    r2t AS (SELECT c1.tr, ${sqlQsum("c1.a * c2.a", "1e6")} AS r2
            FROM cells c1 JOIN cells c2 ON c1.tr = c2.tr AND c1.k = c2.k - 2
            GROUP BY 1),
    rr AS (
      SELECT r0t.tr, r0, COALESCE(r1, 0.0) AS r1, COALESCE(r2, 0.0) AS r2
      FROM r0t LEFT JOIN r1t ON r0t.tr = r1t.tr LEFT JOIN r2t ON r0t.tr = r2t.tr),
    w AS (
      SELECT tr,
             (r1 * r0 - r2 * r1) / GREATEST(r0 * r0 - r1 * r1, 1e-300) AS w1,
             (r2 * r0 - r1 * r1) / GREATEST(r0 * r0 - r1 * r1, 1e-300) AS w2
      FROM rr),
    e AS (
      SELECT c.tr,
             c.a - w.w1 * COALESCE(p1.a, 0.0) - w.w2 * COALESCE(p2.a, 0.0) AS e,
             c.a
      FROM cells c
      LEFT JOIN cells p1 ON c.tr = p1.tr AND c.k = p1.k + 1
      LEFT JOIN cells p2 ON c.tr = p2.tr AND c.k = p2.k + 2
      JOIN w ON c.tr = w.tr)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlQsum("abs(e)", "1e6")} AS sum_abs_err,
           ${sqlQsum("abs(a)", "1e6")} AS sum_abs_in
    FROM e"""

  // ---------------------------------------------------------------------
  // HILBERT vs Z-ORDER LOCALITY — orders the same 2-D point set along
  // both space-filling curves and measures each ordering's locality
  // (total Manhattan distance between curve-consecutive points within
  // 4096-index curve segments — the file/row-group granularity a
  // clustered write would produce). The Hilbert walk is 10 chained
  // narrow projections ([[graft.functions.ZOrder.hilbertD]] — a single
  // Column expression would blow up 4^order), the Morton key one bit
  // interleave; both integer-exact, segment windows hash-partition so
  // nothing funnels through one task. The Hilbert sum coming out LOWER
  // is the demonstrable claim behind choosing it for layout.
  // ---------------------------------------------------------------------

  val qSortHilbert: Q = (s, d) => {
    import graft.functions.ZOrder
    val shufPart = s.sessionState.conf.numShufflePartitions
    // spread the single-split scan so the 10-projection Hilbert walk runs
    // on all cores, and give each window an EXPLICIT exchange on its own
    // segment key: AQE's byte-based coalescing was collapsing these
    // CPU-heavy, byte-light window sorts to 3 tasks (r19 profile: 4.3 s
    // in one 3-task stage; explicit counts are exempt from coalescing)
    val pts = graft.functions.Spread.byKeyIfNarrow(
      lineitem(s, d).select(
        pmod(col("l_partkey"), lit(1024)).cast("long").as("x"),
        pmod(col("l_suppkey"), lit(1024)).cast("long").as("y")),
      col("x"))
    val keyed = ZOrder.hilbertD(pts, col("x"), col("y"), 10)
      .withColumn("zd", ZOrder.zvalue(Seq(col("x"), col("y")), 10))
    val wH = Window.partitionBy(expr("hd div 4096")).orderBy(col("hd"))
    val wZ = Window.partitionBy(expr("zd div 4096")).orderBy(col("zd"))
    keyed
      .repartition(shufPart, expr("hd div 4096"))
      .withColumn("dh",
        coalesce(abs(col("x") - lag(col("x"), 1).over(wH)) +
                 abs(col("y") - lag(col("y"), 1).over(wH)), lit(0L)))
      .repartition(shufPart, expr("zd div 4096"))
      .withColumn("dz",
        coalesce(abs(col("x") - lag(col("x"), 1).over(wZ)) +
                 abs(col("y") - lag(col("y"), 1).over(wZ)), lit(0L)))
      .agg(count(lit(1)).as("n"),
           sum(col("dh")).as("hilbert_locality"),
           sum(col("dz")).as("zorder_locality"))
  }

  val qSortHilbertSql: String = {
    import graft.functions.ZOrder
    val (ctes, last) = ZOrder.hilbertSql("pts", Seq("x", "y"), 10)
    s"""
    WITH pts AS (
      SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
             l_partkey % 1024 AS hx, l_suppkey % 1024 AS hy,
             CAST(0 AS BIGINT) AS hd
      FROM lineitem),
    $ctes,
    k AS (
      SELECT x, y, hd,
             ${ZOrder.zvalueSql(Seq("x", "y"), 10)} AS zd
      FROM $last),
    dd AS (
      SELECT COALESCE(abs(x - LAG(x) OVER wh) + abs(y - LAG(y) OVER wh), 0) AS dh,
             COALESCE(abs(x - LAG(x) OVER wz) + abs(y - LAG(y) OVER wz), 0) AS dz
      FROM k
      WINDOW wh AS (PARTITION BY hd // 4096 ORDER BY hd),
             wz AS (PARTITION BY zd // 4096 ORDER BY zd))
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dh) AS BIGINT) AS hilbert_locality,
           CAST(SUM(dz) AS BIGINT) AS zorder_locality
    FROM dd"""
  }

  // ---------------------------------------------------------------------
  // INCREMENTAL JOIN-VIEW MAINTENANCE — the delta algebra that keeps a
  // JOIN view fresh without recomputing it: for V = A ⋈ B,
  // ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB. The query derives deterministic "new
  // arrival" slices from both sides (orders ≡ 0 mod 7, lineitem order
  // keys ≡ 0 mod 11), maintains the revenue-by-priority view BOTH ways —
  // full recompute vs base + three delta joins — and emits them side by
  // side with an exact-decimal equality verdict, so the oracle certifies
  // the ALGEBRA, not just one number. At 100 TB the deltas are the small
  // side: the three maintenance joins broadcast Δ against the base and
  // cost O(Δ), which is the entire point of maintaining instead of
  // recomputing. (The aggregate-view sibling is pipeline_incremental.)
  // ---------------------------------------------------------------------

  val qPipelineIncrementalJoin: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey").as("ok"),
      col("o_orderpriority").as("prio"), (col("o_orderkey") % 7 === 0).as("onew"))
    val l = lineitem(s, d).select(col("l_orderkey").as("lk"),
      col("l_extendedprice").cast("decimal(18,2)").as("price"),
      (col("l_orderkey") % 11 === 0).as("lnew"))
    def view(os: DataFrame, ls: DataFrame): DataFrame =
      os.join(ls, col("ok") === col("lk"))
        .groupBy(col("prio")).agg(sum(col("price")).as("v"), count(lit(1)).as("c"))
    val full = view(o, l)
    val incr = view(o.filter(!col("onew")), l.filter(!col("lnew")))
      .unionAll(view(o.filter(col("onew")), l.filter(!col("lnew"))))
      .unionAll(view(o.filter(!col("onew")), l.filter(col("lnew"))))
      .unionAll(view(o.filter(col("onew")), l.filter(col("lnew"))))
      .groupBy(col("prio")).agg(sum(col("v")).as("iv"), sum(col("c")).as("ic"))
    full.join(incr, Seq("prio"))
      .select(col("prio"), col("c").as("n_rows"),
        col("v").cast("double").as("full_sum"),
        col("iv").cast("double").as("incr_sum"),
        (col("v") === col("iv") && col("c") === col("ic")).as("algebra_holds"))
      .orderBy(col("prio"))
  }

  val qPipelineIncrementalJoinSql: String = """
    WITH o AS (
      SELECT o_orderkey AS ok, o_orderpriority AS prio,
             o_orderkey % 7 = 0 AS onew
      FROM orders),
    l AS (
      SELECT l_orderkey AS lk, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             l_orderkey % 11 = 0 AS lnew
      FROM lineitem),
    full_v AS (
      SELECT prio, SUM(price) AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM o JOIN l ON ok = lk GROUP BY 1),
    parts AS (
      SELECT prio, SUM(price) AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM o JOIN l ON ok = lk WHERE NOT onew AND NOT lnew GROUP BY 1
      UNION ALL
      SELECT prio, SUM(price), CAST(COUNT(*) AS BIGINT)
        FROM o JOIN l ON ok = lk WHERE onew AND NOT lnew GROUP BY 1
      UNION ALL
      SELECT prio, SUM(price), CAST(COUNT(*) AS BIGINT)
        FROM o JOIN l ON ok = lk WHERE NOT onew AND lnew GROUP BY 1
      UNION ALL
      SELECT prio, SUM(price), CAST(COUNT(*) AS BIGINT)
        FROM o JOIN l ON ok = lk WHERE onew AND lnew GROUP BY 1),
    incr AS (
      SELECT prio, SUM(v) AS iv, CAST(SUM(c) AS BIGINT) AS ic
      FROM parts GROUP BY 1)
    SELECT prio, c AS n_rows,
           CAST(v AS DOUBLE) AS full_sum,
           CAST(iv AS DOUBLE) AS incr_sum,
           v = iv AND c = ic AS algebra_holds
    FROM full_v JOIN incr USING (prio) ORDER BY prio"""

  // ---------------------------------------------------------------------
  // LINEAR RADON (tau–p / slant-stack) TRANSFORM — the demultiple /
  // plane-wave decomposition transform: stack the gather along every
  // line t = tau + p·x of a (slowness p, intercept tau) scan. With
  // integer slownesses the moveout key is PURE INTEGER arithmetic — the
  // cleanest member of the computed-equi-key family (semblance:
  // hyperbolic; migration: diffraction) — so the whole transform is one
  // broadcast join + one partial-agg'd groupBy, certifiable with no
  // float pickup at all. Output: the 10 strongest (p, tau) events by
  // stacked energy.
  // ---------------------------------------------------------------------

  val qMdioRadon: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_suppkey") % 6).as("x"), (col("l_orderkey") % 64).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    val scan = s.range(5L * 48 * 6)
      .select((expr("id div 288") - 2).as("p"), expr("(id div 6) % 48").as("tau"),
        (col("id") % 6).as("sx"))
      .select(col("p"), col("tau"), col("sx"),
        (col("tau") + col("p") * col("sx")).as("tm"))
      .filter(col("tm") >= 0 && col("tm") <= 63)
    cells.join(broadcast(scan), col("x") === col("sx") && col("t") === col("tm"))
      .groupBy(col("p"), col("tau"))
      .agg(count(lit(1)).as("n_traces"), dsum(col("a")).as("stack"))
      .select(col("p"), col("tau"), col("n_traces"),
        (col("stack") * col("stack")).as("energy"))
      .orderBy(col("energy").desc, col("p"), col("tau"))
      .limit(10)
  }

  val qMdioRadonSql: String = s"""
    WITH cells AS (
      SELECT l_suppkey % 6 AS x, l_orderkey % 64 AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2),
    scan AS (
      SELECT p, tau, sx, tau + p * sx AS tm
      FROM range(-2, 3) pp(p), range(0, 48) tt(tau), range(0, 6) xx(sx)
      WHERE tau + p * sx BETWEEN 0 AND 63)
    SELECT p, tau, CAST(COUNT(*) AS BIGINT) AS n_traces,
           ${sqlDsum("a")} * ${sqlDsum("a")} AS energy
    FROM cells JOIN scan ON x = sx AND t = tm
    GROUP BY 1, 2
    ORDER BY energy DESC, p, tau LIMIT 10"""

  // ---------------------------------------------------------------------
  // COMPOSED PROCESSING CHAIN — the classic post-acquisition sequence
  // gain → moveout → stack → attribute run as ONE lazy dataflow on ONE
  // oracle (the seismic sibling of pipeline_dedup_recipe): AGC balances
  // each trace (rolling decimal RMS), constant-velocity NMO flattens the
  // hyperbolas (floor pickup on a flat-decoded broadcast scan), stacking
  // sums offsets per gather (floor-quantized — post-AGC amplitudes are
  // computed doubles), and the Hilbert envelope of the STACKED section
  // is the delivered attribute (N=16 transform indexing the shared
  // 32-entry twiddle tables at doubled stride). Nothing materializes
  // between stages; every stage is the already-certified engine-exact
  // pattern, so the oracle certifies the COMPOSITION.
  // ---------------------------------------------------------------------

  val qMdioProcessingChain: Q = (s, d) => {
    val cells = lineitem(s, d)
      .groupBy((col("l_partkey") % 64).as("g"), (col("l_suppkey") % 6).as("x"),
        (col("l_orderkey") % envN).as("t"))
      .agg(dsum(col("l_quantity")).as("a"))
    // stage 1: AGC (the qAgc discipline — decimal window RMS, exact)
    val wT = Window.partitionBy(col("g"), col("x")).orderBy(col("t")).rowsBetween(-2, 2)
    val agc = cells.select(col("g"), col("x"), col("t"),
      (col("a") / greatest(
        sqrt(sum((col("a") * col("a")).cast("decimal(30,6)")).over(wT).cast("double") /
          count(lit(1)).over(wT).cast("double")),
        lit(1e-300))).as("ag"))
    // stage 2+3: NMO flatten (v = 4 ⇒ tm = 2·√(t0² + x²), nearest sample)
    // + per-gather stack over offsets
    val moveout = s.range(16L * 6)
      .select(expr("id div 6").as("t0"), (col("id") % 6).as("sx"))
      .select(col("t0"), col("sx"),
        floor(sqrt((col("t0") * col("t0") * 4 + col("sx") * col("sx") * 4)
          .cast("double"))).as("tm"))
      .filter(col("tm") <= envN - 1)
    val stacked = agc.join(broadcast(moveout), col("x") === col("sx") && col("t") === col("tm"))
      .groupBy(col("g"), col("t0"))
      .agg(qsum(col("ag"), 1e6).as("sv"))
    // stage 4: Hilbert envelope of the stacked section, N = 16 (twiddle
    // j16 = 2·j32 into the shared 32-entry tables)
    val cosL = typedlit(cosT)
    val sinL = typedlit(sinT)
    val idx16 = typedlit((0L until 16L).toSeq)
    def tw16(tab: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      element_at(tab, ((i * 2) % envN + 1).cast("int"))
    val spec = stacked.withColumn("f", explode(idx16))
      .select(col("g"), col("f"),
        (col("sv") * tw16(cosL, col("f") * col("t0"))).as("re"),
        (-(col("sv") * tw16(sinL, col("f") * col("t0")))).as("im"))
      .groupBy(col("g"), col("f"))
      .agg(qsum(col("re"), 1e6).as("xre"), qsum(col("im"), 1e6).as("xim"))
    val gain = when(col("f") === 0 || col("f") === 8, lit(1.0)).otherwise(lit(2.0))
    val z = spec.filter(col("f") <= 8).withColumn("n", explode(idx16))
      .select(col("g"), col("n"),
        (gain * (col("xre") * tw16(cosL, col("f") * col("n")) -
                 col("xim") * tw16(sinL, col("f") * col("n")))).as("zr"),
        (gain * (col("xre") * tw16(sinL, col("f") * col("n")) +
                 col("xim") * tw16(cosL, col("f") * col("n")))).as("zi"))
      .groupBy(col("g"), col("n"))
      .agg((qsum(col("zr"), 1e6) / 16).as("zre"), (qsum(col("zi"), 1e6) / 16).as("zim"))
    z.select(col("n"), sqrt(col("zre") * col("zre") + col("zim") * col("zim")).as("env"))
      .agg(count(lit(1)).as("n_samples"), qsum(col("env"), 1e6).as("sum_env"),
           qsum(when(col("n") === 0, col("env")).otherwise(lit(0.0)), 1e6).as("sum_env0"))
  }

  val qMdioProcessingChainSql: String = s"""
    WITH tw AS (SELECT ${sqlVecD(cosT)}::DOUBLE[] AS c, ${sqlVecD(sinT)}::DOUBLE[] AS sn),
    cells AS (
      SELECT l_partkey % 64 AS g, l_suppkey % 6 AS x, l_orderkey % $envN AS t,
             ${sqlDsum("l_quantity")} AS a
      FROM lineitem GROUP BY 1, 2, 3),
    agc AS (
      SELECT g, x, t,
             a / GREATEST(sqrt(
               CAST(SUM(CAST((a*a) AS DECIMAL(30,6))) OVER (
                 PARTITION BY g, x ORDER BY t
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)
               / CAST(COUNT(*) OVER (
                 PARTITION BY g, x ORDER BY t
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)), 1e-300) AS ag
      FROM cells),
    mv AS (
      SELECT t0, sx,
             CAST(floor(sqrt(CAST(t0 * t0 * 4 + sx * sx * 4 AS DOUBLE))) AS BIGINT) AS tm
      FROM range(0, 16) tt(t0), range(0, 6) xx(sx)
      WHERE CAST(floor(sqrt(CAST(t0 * t0 * 4 + sx * sx * 4 AS DOUBLE))) AS BIGINT)
              <= ${envN - 1}),
    stacked AS (
      SELECT g, t0, ${sqlQsum("ag", "1e6")} AS sv
      FROM agc JOIN mv ON x = sx AND t = tm
      GROUP BY 1, 2),
    spec AS (
      SELECT g, f,
             ${sqlQsum(s"sv * c[(f*t0*2) % $envN + 1]", "1e6")} AS xre,
             ${sqlQsum(s"-(sv * sn[(f*t0*2) % $envN + 1])", "1e6")} AS xim
      FROM stacked, range(0, 16) ff(f), tw GROUP BY 1, 2),
    z AS (
      SELECT g, n,
             ${sqlQsum(s"gg * (xre * c[(f*n*2) % $envN + 1] - xim * sn[(f*n*2) % $envN + 1])", "1e6")} / 16 AS zre,
             ${sqlQsum(s"gg * (xre * sn[(f*n*2) % $envN + 1] + xim * c[(f*n*2) % $envN + 1])", "1e6")} / 16 AS zim
      FROM (SELECT *, CASE WHEN f = 0 OR f = 8 THEN 1.0 ELSE 2.0 END AS gg
            FROM spec WHERE f <= 8),
           range(0, 16) nn(n), tw
      GROUP BY 1, 2),
    e AS (SELECT n, sqrt(zre * zre + zim * zim) AS env FROM z)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_samples, ${sqlQsum("env", "1e6")} AS sum_env,
           ${sqlQsum("CASE WHEN n = 0 THEN env ELSE 0.0 END", "1e6")} AS sum_env0
    FROM e"""

  val queries: Map[String, Q] = Map(
    "mdio_envelope"         -> qMdioEnvelope,
    "embedding_kmeans"      -> qEmbeddingKmeans,
    "graph_labelprop"       -> qGraphLabelprop,
    "pipeline_merge_upsert" -> qPipelineMergeUpsert,
    "text_wordpiece"        -> qTextWordpiece,
    "mdio_fk_filter"        -> qMdioFkFilter,
    "embedding_pca"         -> qEmbeddingPca,
    "text_bpe_train"        -> qTextBpeTrain,
    "mdio_spectrum"         -> qMdioSpectrum,
    "mdio_resample"         -> qMdioResample,
    "events_cusum"          -> qEventsCusum,
    "mdio_wavelet"          -> qMdioWavelet,
    "mdio_migrate"          -> qMdioMigrate,
    "events_attribution"    -> qEventsAttribution,
    "agg_ks_test"           -> qAggKsTest,
    "agg_chi2"              -> qAggChi2,
    "mdio_deconvolve"       -> qMdioDeconvolve,
    "sort_hilbert"          -> qSortHilbert,
    "pipeline_incremental_join" -> qPipelineIncrementalJoin,
    "mdio_radon"            -> qMdioRadon,
    "mdio_processing_chain" -> qMdioProcessingChain,
  )

  val oracleSql: Map[String, String] = Map(
    "mdio_envelope"         -> qMdioEnvelopeSql,
    "embedding_kmeans"      -> qEmbeddingKmeansSql,
    "graph_labelprop"       -> qGraphLabelpropSql,
    "pipeline_merge_upsert" -> qPipelineMergeUpsertSql,
    "text_wordpiece"        -> qTextWordpieceSql,
    "mdio_fk_filter"        -> qMdioFkFilterSql,
    "embedding_pca"         -> qEmbeddingPcaSql,
    "text_bpe_train"        -> qTextBpeTrainSql,
    "mdio_spectrum"         -> qMdioSpectrumSql,
    "mdio_resample"         -> qMdioResampleSql,
    "events_cusum"          -> qEventsCusumSql,
    "mdio_wavelet"          -> qMdioWaveletSql,
    "mdio_migrate"          -> qMdioMigrateSql,
    "events_attribution"    -> qEventsAttributionSql,
    "agg_ks_test"           -> qAggKsTestSql,
    "agg_chi2"              -> qAggChi2Sql,
    "mdio_deconvolve"       -> qMdioDeconvolveSql,
    "sort_hilbert"          -> qSortHilbertSql,
    "pipeline_incremental_join" -> qPipelineIncrementalJoinSql,
    "mdio_radon"            -> qMdioRadonSql,
    "mdio_processing_chain" -> qMdioProcessingChainSql,
  )
}
