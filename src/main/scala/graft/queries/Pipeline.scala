package graft.queries

import graft.functions.{Curation, Dedup, TextFunctions => TF, Vectors}
import graft.functions.LineageCut.CutOps
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` and `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * cosine), similarity search (brute force + LSH + IVF), text analysis,
  * multimodal plumbing.
  *
  * Queries whose semantics are SQL-expressible carry a DuckDB oracle;
  * signature-based ops (minhash/simhash/LSH — xxhash64 has no DuckDB
  * equivalent) are declared without oracle → the driver records the
  * weaker rows-only check, and ScalaTest pins their exact behavior.
  */
object Pipeline {

  /** documents() spread to session parallelism for the per-row TEXT
    * kernels (tokenize/ngram/regex/hash per document): the single-split
    * corpus scan otherwise runs them on one core; no-op once the scan is
    * parallel. Dedup queries do NOT use this — their operators spread
    * internally (a second exchange here would be pure overhead). */
  private def docsWide(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.functions.Spread.byKeyIfNarrow(documents(s, d), col("doc_id"))

  // ---- dedup ---------------------------------------------------------------

  val qDedupExact: Q = (s, d) =>
    Dedup.exact(documents(s, d), "doc_id", "text")

  val qDedupExactSql: String = """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1"""

  /** MinHash+LSH near-dup pairs — ORACLE-CHECKED: signatures come from
    * the portable polynomial hash family, band keys are raw signature
    * slices, and verification is exact Jaccard — every step integer
    * arithmetic DuckDB reproduces bit-for-bit. */
  val qDedupMinhashLsh: Q = (s, d) =>
    Dedup.minhashLsh(documents(s, d), "doc_id", "text",
      numHashes = 16, bands = 8, shingleK = 2, threshold = 0.4)
      .agg(count(lit(1)).as("n_pairs"),
           coalesce(min(col("id_a")), lit(-1L)).as("min_id"))

  /** Portable polynomial hash of a string expr (chars → codepoints →
    * h·131+cp mod 2^31−1) as DuckDB SQL — the [[graft.expressions
    * .TextKernels.polyHash]] twin. Empty strings filter to the empty fold
    * (DuckDB's unicode('') is −1, the kernel's empty loop is 0). */
  private def sqlPolyHash(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(list_filter(string_split($e, ''), c -> c <> ''),
       |    c -> CAST(unicode(c) AS BIGINT))),
       |  (acc, x) -> (acc * 131 + x) % 2147483647)""".stripMargin

  /** word_ngrams(toks, 2) twin: len≥2 → the len−1 bigrams; shorter → one
    * gram of all tokens (the kernel's contract). */
  private val sqlBigrams: String =
    """CASE WHEN len(toks) >= 2
      |  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  val qDedupMinhashLshSql: String = s"""
    WITH t AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    sh AS (
      SELECT id, list_distinct($sqlBigrams) AS grams FROM t),
    sg AS (
      SELECT id, grams,
             list_transform(range(0, 16), j ->
               list_min(list_transform(
                 list_transform(grams, g -> ${sqlPolyHash("g")}),
                 h -> ((2*j+1)*h + j*1013904223) % 2147483647))) AS sig
      FROM sh WHERE len(grams) >= 1),
    b AS (
      SELECT id, bd.b AS band, list_slice(sig, 2*bd.b + 1, 2*bd.b + 2) AS bucket
      FROM sg, (SELECT unnest(range(0, 8)) AS b) bd),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    v AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
             GREATEST(CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 1.0) AS j
      FROM cand JOIN sh ga ON ga.id = cand.id_a JOIN sh gb ON gb.id = cand.id_b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           COALESCE(MIN(id_a), -1) AS min_id
    FROM v WHERE j >= 0.4"""

  /** DEDUP QUALITY EVALUATION — the governance harness every production
    * dedup pipeline runs before trusting an approximate method: MinHash
    * band candidates (16 hashes x 8 bands, bigram shingles) scored as
    * PRECISION/RECALL against the exact Jaccard >= 0.4 ground truth from
    * the lossless posting-join sweep, within language blocks (both sides
    * see the same scope). Counts are integers and the ratios ship as
    * parts-per-million via DIV, so the evaluation itself sits hash-exact
    * on the oracle — which re-derives BOTH pipelines (signatures, bands,
    * candidates, exact truth) from scratch in SQL. */
  val qDedupEval: Q = (s, d) => {
    val docs = documents(s, d)
    val sh = Dedup.minhashSignatures(docs, "doc_id", "text",
      numHashes = 16, shingleK = 2)
    val langs = docs.select(col("doc_id").as("id"), col("lang"))
    val cand0 = Dedup.candidatePairs(Dedup.minhashBanded(sh, 16, 8))
    val cand = cand0
      .join(langs.select(col("id").as("id_a"), col("lang").as("la")), Seq("id_a"))
      .join(langs.select(col("id").as("id_b"), col("lang").as("lb")), Seq("id_b"))
      .filter(col("la") === col("lb")).select(col("id_a"), col("id_b"))
    val truth = Dedup.ngramJaccardDups(docs, "doc_id", "text",
        blockCol = col("lang"), shingleK = 2, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    val hit = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
    hit.agg(count(lit(1)).as("n_hit"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("n_cand"), col("n_true"), col("n_hit"),
        expr("n_hit * 1000000 div greatest(n_cand, 1)").as("precision_ppm"),
        expr("n_hit * 1000000 div greatest(n_true, 1)").as("recall_ppm"))
  }

  val qDedupEvalSql: String = s"""
    WITH t AS (
      SELECT doc_id AS id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    sh AS (
      SELECT id, lang, list_distinct($sqlBigrams) AS grams FROM t),
    sg AS (
      SELECT id, lang, grams,
             list_transform(range(0, 16), j ->
               list_min(list_transform(
                 list_transform(grams, g -> ${sqlPolyHash("g")}),
                 h -> ((2*j+1)*h + j*1013904223) % 2147483647))) AS sig
      FROM sh WHERE len(grams) >= 1),
    b AS (
      SELECT id, bd.b AS band, list_slice(sig, 2*bd.b + 1, 2*bd.b + 2) AS bucket
      FROM sg, (SELECT unnest(range(0, 8)) AS b) bd),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    candl AS (
      SELECT id_a, id_b FROM cand
      JOIN sh sa ON sa.id = cand.id_a JOIN sh sb ON sb.id = cand.id_b
      WHERE sa.lang = sb.lang),
    truth AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.id < b.id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
            GREATEST(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0) >= 0.4),
    hit AS (SELECT id_a, id_b FROM candl INTERSECT SELECT id_a, id_b FROM truth)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM candl) AS n_cand,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
           CAST((SELECT COUNT(*) FROM hit) * 1000000 //
                GREATEST((SELECT COUNT(*) FROM candl), 1) AS BIGINT) AS precision_ppm,
           CAST((SELECT COUNT(*) FROM hit) * 1000000 //
                GREATEST((SELECT COUNT(*) FROM truth), 1) AS BIGINT) AS recall_ppm"""

  /** SAMPLED-BLOCK dedup evaluation — the 100 TB form of [[qDedupEval]].
    * The full eval re-derives the exact posting-join ground truth over
    * the whole corpus (its cost floor; the one stage that cannot run at
    * 100 TB). Here the EVAL SCOPE is cut deterministically first: a doc
    * survives iff `(doc_id * 2654435761) % 1000 < 250` (Knuth
    * multiplicative hash, portable integer arithmetic both engines
    * compute identically — no sampling seed to drift), and BOTH the LSH
    * candidate pipeline and the exact ground truth run inside that same
    * 25% scope, so precision/recall remain exact ratios of the
    * sub-corpus. Pairs survive iff both ends do (~1/16 of the quadratic
    * truth cost — the knob that scales: at 100 TB run ppm-scale blocks).
    * The estimator is unbiased for any pair-population property under
    * block sampling because block membership is independent of content;
    * its variance shrinks as O(1/sampled_pairs). The output row ships the
    * scope (`sample_ppm`) AND the bound itself: `precision_se_ppm` /
    * `recall_se_ppm` = floor(1e6 * sqrt(p(1-p)/n)) — the binomial
    * standard error of each ppm ratio at its own denominator, so
    * downstream governance reads ±1.96·se as the 95% band without
    * re-deriving n. (Pinned against the closed form and the 1/sqrt(n)
    * shrink in DedupEvalSampledSpec.) */
  val qDedupEvalSampled: Q = (s, d) => {
    val docs = documents(s, d)
      .filter((col("doc_id") * lit(2654435761L)) % lit(1000L) < lit(250L))
    val sh = Dedup.minhashSignatures(docs, "doc_id", "text",
      numHashes = 16, shingleK = 2)
    val langs = docs.select(col("doc_id").as("id"), col("lang"))
    val cand0 = Dedup.candidatePairs(Dedup.minhashBanded(sh, 16, 8))
    val cand = cand0
      .join(langs.select(col("id").as("id_a"), col("lang").as("la")), Seq("id_a"))
      .join(langs.select(col("id").as("id_b"), col("lang").as("lb")), Seq("id_b"))
      .filter(col("la") === col("lb")).select(col("id_a"), col("id_b"))
    val truth = Dedup.ngramJaccardDups(docs, "doc_id", "text",
        blockCol = col("lang"), shingleK = 2, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    val hit = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
    hit.agg(count(lit(1)).as("n_hit"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("n_cand"), col("n_true"), col("n_hit"),
        expr("n_hit * 1000000 div greatest(n_cand, 1)").as("precision_ppm"),
        expr("n_hit * 1000000 div greatest(n_true, 1)").as("recall_ppm"),
        // binomial SE of each ratio, in ppm — identical double-op order
        // to the oracle SQL so floor() agrees bit-exactly
        expr("cast(floor(1000000 * sqrt((n_hit / greatest(n_cand, 1)) * " +
          "(1 - n_hit / greatest(n_cand, 1)) / greatest(n_cand, 1))) as bigint)")
          .as("precision_se_ppm"),
        expr("cast(floor(1000000 * sqrt((n_hit / greatest(n_true, 1)) * " +
          "(1 - n_hit / greatest(n_true, 1)) / greatest(n_true, 1))) as bigint)")
          .as("recall_se_ppm"),
        lit(250000L).as("sample_ppm"))
  }

  val qDedupEvalSampledSql: String = s"""
    WITH t AS (
      SELECT doc_id AS id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE (doc_id * 2654435761) % 1000 < 250),
    sh AS (
      SELECT id, lang, list_distinct($sqlBigrams) AS grams FROM t),
    sg AS (
      SELECT id, lang, grams,
             list_transform(range(0, 16), j ->
               list_min(list_transform(
                 list_transform(grams, g -> ${sqlPolyHash("g")}),
                 h -> ((2*j+1)*h + j*1013904223) % 2147483647))) AS sig
      FROM sh WHERE len(grams) >= 1),
    b AS (
      SELECT id, bd.b AS band, list_slice(sig, 2*bd.b + 1, 2*bd.b + 2) AS bucket
      FROM sg, (SELECT unnest(range(0, 8)) AS b) bd),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    candl AS (
      SELECT id_a, id_b FROM cand
      JOIN sh sa ON sa.id = cand.id_a JOIN sh sb ON sb.id = cand.id_b
      WHERE sa.lang = sb.lang),
    truth AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.id < b.id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
            GREATEST(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0) >= 0.4),
    hit AS (SELECT id_a, id_b FROM candl INTERSECT SELECT id_a, id_b FROM truth)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM candl) AS n_cand,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
           CAST((SELECT COUNT(*) FROM hit) * 1000000 //
                GREATEST((SELECT COUNT(*) FROM candl), 1) AS BIGINT) AS precision_ppm,
           CAST((SELECT COUNT(*) FROM hit) * 1000000 //
                GREATEST((SELECT COUNT(*) FROM truth), 1) AS BIGINT) AS recall_ppm,
           CAST(FLOOR(1000000 * sqrt(((SELECT COUNT(*) FROM hit) / GREATEST((SELECT COUNT(*) FROM candl), 1)) *
                (1 - (SELECT COUNT(*) FROM hit) / GREATEST((SELECT COUNT(*) FROM candl), 1)) /
                GREATEST((SELECT COUNT(*) FROM candl), 1))) AS BIGINT) AS precision_se_ppm,
           CAST(FLOOR(1000000 * sqrt(((SELECT COUNT(*) FROM hit) / GREATEST((SELECT COUNT(*) FROM truth), 1)) *
                (1 - (SELECT COUNT(*) FROM hit) / GREATEST((SELECT COUNT(*) FROM truth), 1)) /
                GREATEST((SELECT COUNT(*) FROM truth), 1))) AS BIGINT) AS recall_se_ppm,
           CAST(250000 AS BIGINT) AS sample_ppm"""

  /** Cascade dedup: minhash-band candidates verified by EMBEDDING cosine
    * (doc_id ≡ vec_id on this corpus). The synthetic embeddings are
    * uncorrelated with text similarity, so the gate sits at 0.3 where
    * the corpus has mass — the operator's production default is 0.9; the
    * semantics (lexical recall, semantic precision) are pinned on
    * constructed data in DedupSpec. Ids-only output. */
  val qDedupCascade: Q = (s, d) =>
    Dedup.cascadeDups(documents(s, d), embeddings(s, d),
      "doc_id", "text", "vec_id", "embedding", minCos = 0.3)
      .agg(count(lit(1)).as("n_pairs"),
           coalesce(sum(col("id_a") * lit(100003L) + col("id_b")), lit(0L))
             .as("pair_checksum"))

  val qDedupCascadeSql: String = s"""
    WITH t AS (
      SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    sh AS (
      SELECT id, list_distinct($sqlBigrams) AS grams FROM t),
    sg AS (
      SELECT id, list_transform(range(0, 16), j ->
               list_min(list_transform(
                 list_transform(grams, g -> ${sqlPolyHash("g")}),
                 h -> ((2*j+1)*h + j*1013904223) % 2147483647))) AS sig
      FROM sh WHERE len(grams) >= 1),
    b AS (
      SELECT id, bd.b AS band, list_slice(sig, 2*bd.b + 1, 2*bd.b + 2) AS bucket
      FROM sg, (SELECT unnest(range(0, 8)) AS b) bd),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    v AS (
      SELECT id_a, id_b, ${sqlCos("ea.v", "eb.v")} AS cos
      FROM cand JOIN e ea ON ea.vec_id = cand.id_a
                JOIN e eb ON eb.vec_id = cand.id_b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           COALESCE(CAST(SUM(id_a * 100003 + id_b) AS BIGINT), 0) AS pair_checksum
    FROM v WHERE cos >= 0.3"""

  /** The COMPOSED dedup recipe — the family end to end as one pipeline:
    * exact dedup (min id per content hash) → line/passage dedup (w=3
    * windows, df>=3 stripped) → minhash-LSH near-dup on the CLEANED text
    * → connected components → keep each cluster's min id. The oracle
    * re-derives all four stages in one recursive-CTE SQL, so a drift
    * anywhere in the chain — not just in one operator — breaks the gate.
    * Each stage keeps its scale shape; nothing materializes between. */
  val qPipelineDedupRecipe: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val exact = documents(s, d)
      .withColumn("__keep", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("__keep"))
      .select(col("doc_id"), col("text"))
    // materialize the cleaned corpus ONCE (lineage cut, the iterative-op
    // discipline): the recipe consumes it from THREE separate executions
    // — minhash banding (eager candidate generation), the CC edge cut's
    // verification join, and the final keep-aggregate — and exchange
    // reuse cannot cross executions, so the whole exact-dedup window +
    // lineDedup pipeline re-ran per consumer (r20 profile: the md5
    // window subtree appears 3x in the final plan alone; the recipe was
    // the suite's slowest query at 9.7 s). One pass computes it, every
    // consumer reads the checkpointed blocks.
    val cleaned = Curation.lineDedup(exact, "doc_id",
        Curation.tokenWindows(col("text"), 3), minDf = 3L)
      .select(col("id").as("doc_id"), col("text_clean"))
      .lineageCut
    val pairs = Dedup.minhashLsh(cleaned, "doc_id", "text_clean",
      numHashes = 16, bands = 8, shingleK = 2, threshold = 0.4)
    val dropped = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    cleaned.join(dropped, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_kept"),
           sum(TF.tokenCount(col("text_clean"))).as("kept_tokens"),
           coalesce(sum(col("doc_id")), lit(0L)).as("id_checksum"))
  }

  val qPipelineDedupRecipeSql: String = s"""
    WITH RECURSIVE ex AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
        FROM documents) WHERE doc_id = keep),
    t0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM ex),
    s0 AS (SELECT doc_id, unnest(range(0, ((len(toks)-1)//3)+1)) AS pos, toks FROM t0),
    seg AS (SELECT doc_id, pos,
              array_to_string(list_slice(toks, pos*3+1, pos*3+3), ' ') AS seg FROM s0),
    fr AS (SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM seg)
           GROUP BY seg HAVING COUNT(*) >= 3),
    ks AS (SELECT s.doc_id, s.pos, s.seg FROM seg s ANTI JOIN fr USING (seg)),
    re AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM ks GROUP BY doc_id),
    cl AS (SELECT t0.doc_id, COALESCE(re.text_clean, '') AS text_clean
           FROM t0 LEFT JOIN re USING (doc_id)),
    t AS (SELECT doc_id AS id, regexp_split_to_array(trim(text_clean), '\\s+') AS toks
          FROM cl),
    sh AS (SELECT id, list_distinct($sqlBigrams) AS grams FROM t),
    sg AS (
      SELECT id, list_transform(range(0, 16), j ->
               list_min(list_transform(
                 list_transform(grams, g -> ${sqlPolyHash("g")}),
                 h -> ((2*j+1)*h + j*1013904223) % 2147483647))) AS sig
      FROM sh WHERE len(grams) >= 1),
    b AS (
      SELECT id, bd.b AS band, list_slice(sig, 2*bd.b + 1, 2*bd.b + 2) AS bucket
      FROM sg, (SELECT unnest(range(0, 8)) AS b) bd),
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    prs AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
               GREATEST(CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 1.0) AS j
        FROM cand JOIN sh ga ON ga.id = cand.id_a JOIN sh gb ON gb.id = cand.id_b)
      WHERE j >= 0.4),
    edges AS (SELECT id_a AS u, id_b AS v FROM prs
              UNION SELECT id_b AS u, id_a AS v FROM prs),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    r(id, x) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.v FROM r JOIN edges e ON r.x = e.u),
    comp AS (SELECT id, MIN(x) AS label FROM r GROUP BY id),
    dropped AS (SELECT id FROM comp WHERE id <> label),
    kept AS (SELECT cl.doc_id, cl.text_clean
             FROM cl ANTI JOIN dropped ON cl.doc_id = dropped.id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(len(regexp_split_to_array(trim(text_clean), '\\s+'))) AS BIGINT)
             AS kept_tokens,
           COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) AS id_checksum
    FROM kept"""

  /** SimHash duplicate groups — ORACLE-CHECKED (62-bit portable simhash,
    * reproduced in SQL with nested lambdas and bit shifts). */
  val qDedupSimhash: Q = (s, d) =>
    Dedup.simhashDups(documents(s, d), "doc_id", "text")
      .agg(count(lit(1)).as("n_groups"),
           coalesce(sum(col("n_docs")), lit(0L)).as("n_docs_in_groups"))

  val qDedupSimhashSql: String = s"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    h AS (
      SELECT doc_id, list_transform(toks, tk -> ${sqlPolyHash("tk")}) AS hs
      FROM t),
    s AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 62), j ->
               CASE WHEN list_sum(list_transform(hs, hh ->
                      CASE WHEN ((2*j+1)*hh + j*1013904223) % 2147483647 >= 1073741823
                           THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS sig
      FROM h),
    g AS (SELECT sig, COUNT(*) AS n_docs FROM s GROUP BY 1 HAVING COUNT(*) > 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           COALESCE(CAST(SUM(n_docs) AS BIGINT), 0) AS n_docs_in_groups
    FROM g"""

  /** Exact n-gram Jaccard near-dups, blocked by language. */
  val qDedupNgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardDups(documents(s, d), "doc_id", "text",
      blockCol = col("lang"), shingleK = 2, threshold = 0.25)
      .agg(count(lit(1)).as("n_pairs"))

  val qDedupNgramJaccardSql: String = """
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 0),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1])) AS grams
      FROM documents)
    SELECT COUNT(*) AS n_pairs
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          GREATEST(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0) >= 0.25"""

  /** Pairs → clusters: connected components over the exact n-gram
    * Jaccard pairs ([[graft.functions.Dedup.connectedComponents]],
    * iterative min-label propagation), per-component membership counts.
    * The oracle recomputes the closure independently with a RECURSIVE
    * CTE — transitive reachability min, the same deterministic labels. */
  val qDedupComponents: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardDups(documents(s, d), "doc_id", "text",
      blockCol = col("lang"), shingleK = 2, threshold = 0.25)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"))
  }

  val qDedupComponentsSql: String = """
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 0),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1])) AS grams
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
            GREATEST(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0) >= 0.25),
    edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    r(id, x) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.v FROM r JOIN edges e ON r.x = e.u),
    comp AS (SELECT id, MIN(x) AS label FROM r GROUP BY id)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp GROUP BY label"""

  /** Asymmetric containment sweep: ordered (contained, container) pairs
    * with |A∩B|/|A| >= 0.5 over word trigrams, blocked by language — the
    * doc-in-doc / quotation detection symmetric Jaccard misses when
    * |B| >> |A|. Exact vs the quadratic definition (the oracle computes
    * it directly). */
  val qDedupContainment: Q = (s, d) =>
    Dedup.containmentDups(documents(s, d), "doc_id", "text",
      blockCol = col("lang"), shingleK = 3, threshold = 0.5)
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("id_a")).as("n_contained"),
           coalesce(sum(col("id_a") * lit(100003L) + col("id_b")), lit(0L))
             .as("pair_checksum"))

  val qDedupContainmentSql: String = """
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM t),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             GREATEST(CAST(len(a.grams) AS DOUBLE), 1.0) AS c
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_contained,
           COALESCE(CAST(SUM(id_a * 100003 + id_b) AS BIGINT), 0) AS pair_checksum
    FROM p WHERE c >= 0.5"""

  /** Character-level shared-substring near-dups via WINNOWING (MOSS)
    * fingerprints: distinct sliding-window minima of 8-gram rolling
    * hashes over the codepoint stream — any shared substring of length
    * ≥ 11 chars contributes a shared fingerprint. The df cap (64) cuts
    * corpus-common boilerplate fingerprints; pairs need ≥ 2 shared. The
    * oracle recomputes every k-gram hash, every window minimum, and the
    * full posting join independently in DuckDB — fingerprint SETS must
    * match bit-for-bit for any of the three aggregates to agree. */
  val qDedupWinnow: Q = (s, d) =>
    Dedup.winnowDups(documents(s, d), "doc_id", "text",
      k = 8, window = 4, minShared = 2, maxDf = 64)
      .agg(count(lit(1)).as("n_pairs"),
           coalesce(sum(col("shared_fps")), lit(0L)).as("sum_shared"),
           coalesce(sum(col("id_a") * lit(100003L) + col("id_b")), lit(0L))
             .as("pair_checksum"))

  val qDedupWinnowSql: String = """
    WITH norm AS (
      SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
      FROM documents),
    cps AS (
      SELECT doc_id,
             list_transform(list_filter(string_split(t, ''), c -> c <> ''),
               c -> CAST(unicode(c) AS BIGINT)) AS cp
      FROM norm),
    hs AS (
      SELECT doc_id,
             CASE WHEN len(cp) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(cp) < 8 THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), cp),
                         (a, x) -> (a * 131 + x) % 2147483647)]
                  ELSE list_transform(range(0, len(cp) - 7),
                         i -> list_reduce(list_prepend(CAST(0 AS BIGINT), cp[i+1:i+8]),
                                (a, x) -> (a * 131 + x) % 2147483647))
             END AS h
      FROM cps),
    fps AS (
      SELECT doc_id,
             CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(h) <= 4 THEN [list_min(h)]
                  ELSE list_distinct(list_transform(range(0, len(h) - 3),
                         j -> list_min(h[j+1:j+4])))
             END AS fp
      FROM hs),
    post AS (
      SELECT DISTINCT doc_id, f
      FROM (SELECT doc_id, UNNEST(fp) AS f FROM fps) t),
    keep AS (SELECT f FROM post GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 64),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM post a JOIN post b ON a.f = b.f AND a.doc_id < b.doc_id
      JOIN keep kk ON kk.f = a.f
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           COALESCE(CAST(SUM(shared) AS BIGINT), 0) AS sum_shared,
           COALESCE(CAST(SUM(id_a * 100003 + id_b) AS BIGINT), 0) AS pair_checksum
    FROM pairs"""

  /** Clusters → keep decisions by QUALITY: the same n-gram Jaccard
    * components, resolved by keeping each cluster's highest
    * [[TextFunctions.qualityScore]] member (ties by min id) instead of
    * blindly keeping the min id — the production dedup policy. The score
    * is IEEE-exact portable arithmetic, so DuckDB recomputes the closure
    * (recursive CTE), the scores, and the per-cluster argmax identically. */
  val qDedupKeepBest: Q = (s, d) => {
    val docs = documents(s, d)
    val pairs = Dedup.ngramJaccardDups(docs, "doc_id", "text",
      blockCol = col("lang"), shingleK = 2, threshold = 0.25)
    Dedup.keepBest(pairs, "id_a", "id_b", docs, "doc_id",
      TF.qualityScore(col("text")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
           max(when(col("keep"), col("id"))).as("keep_id"))
  }

  val qDedupKeepBestSql: String = """
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 0),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1])) AS grams
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
            GREATEST(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0) >= 0.25),
    edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    r(id, x) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.v FROM r JOIN edges e ON r.x = e.u),
    comp AS (SELECT id, MIN(x) AS label FROM r GROUP BY id),
    tq AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    q AS (
      SELECT doc_id,
             (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0
                   WHEN len(toks) >= 5 THEN 0.5 ELSE 0.0 END) * 0.4
             + (CAST(len(list_distinct(toks)) AS DOUBLE) /
                GREATEST(CAST(len(toks) AS DOUBLE), 1.0)) * 0.4
             + (CASE WHEN CAST(len(list_filter(toks, t -> list_contains(
                      ['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) /
                      GREATEST(CAST(len(toks) AS DOUBLE), 1.0) BETWEEN 0.05 AND 0.6
                     THEN 1.0 ELSE 0.25 END) * 0.2 AS score
      FROM tq),
    best AS (
      SELECT comp.id, comp.label,
             ROW_NUMBER() OVER (PARTITION BY comp.label
                                ORDER BY q.score DESC, comp.id ASC) AS rnk
      FROM comp JOIN q ON q.doc_id = comp.id)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(CASE WHEN rnk = 1 THEN id END) AS keep_id
    FROM best GROUP BY label"""

  /** Embedding-cosine near-dup pairs via banded hyperplane LSH: 8 bands ×
    * 8 bits — per-band buckets of ~N/256 (sub-quadratic verification) at
    * ~0.94 recall for cos ≥ 0.9 pairs. ORACLE-CHECKED: the hyperplanes
    * are deterministic literals and every step (sign of a sequential dot
    * product, bucket equality, exact cosine verification) is IEEE
    * arithmetic DuckDB reproduces bit-for-bit. */
  val qDedupEmbedding: Q = (s, d) =>
    Dedup.embeddingCosineDups(embeddings(s, d), "vec_id", "embedding",
      bands = 8, bitsPerBand = 8, threshold = 0.9)
      .agg(count(lit(1)).as("n_pairs"))

  /** `[d0, d1, ...]` double-literal list (Double.toString round-trips). */
  private[queries] def sqlVec(v: Seq[Double]): String = v.mkString("[", ", ", "]")

  /** Sign-LSH bucket as SQL: bit j set when v · plane_j >= 0 (sequential
    * list_dot_product = the kernels' left-to-right fold). */
  private def sqlBucket(vExpr: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($vExpr, ${sqlVec(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private[queries] def sqlCos(a: String, b: String): String =
    s"list_dot_product($a, $b) / GREATEST(sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b)), 1e-300)"

  val qDedupEmbeddingSql: String = {
    val bandSelects = (0 until 8).map { bnd =>
      val planes = Vectors.hyperplanes(64, 8, seed = 42L + 7919L * bnd)
      s"SELECT vec_id, $bnd AS band, ${sqlBucket("v", planes)} AS bucket FROM e"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    b AS (
      $bandSelects),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
        AND l.vec_id < r.vec_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE ${sqlCos("ea.v", "eb.v")} >= 0.9"""
  }

  /** SEMANTIC DEDUPLICATION (SemDeDup, Abbas et al. 2023, arXiv
    * 2303.09540): k-means clusters scope the embedding near-dup pass —
    * only near-duplicates INSIDE a semantic cluster are redundant; a
    * cross-cluster cosine match is context-distinct and kept. Composed
    * entirely from certified parts: the two-round Lloyd assignment
    * ([[Relational6.kmeansAssignments]], literal seed centroids), banded
    * hyperplane LSH + exact cosine verification
    * ([[graft.functions.Dedup.embeddingCosineDups]]), and
    * pointer-doubling connected components keeping each duplicate
    * group's min id. 100 TB shape: centroids are KB-scale broadcast
    * state, the cluster id joins INTO the LSH bucket key
    * ([[graft.functions.Dedup.embeddingCosineDupsScoped]]) so
    * cross-topic candidates are never materialized, and at scale K
    * grows with the corpus ([[Relational6.kmeansAssignments]] takes K;
    * per-cluster pair work is additionally cappable via the scoped
    * pass's `maxBucketSize`) so per-cluster work stays bounded (the
    * paper's argument); here K = 4 literal centroids keep the oracle
    * exact, and the scoped pass provably equals the
    * generate-globally-then-filter formulation the oracle SQL uses. */
  val qPipelineSemdedup: Q = (s, d) => {
    import graft.functions.LineageCut.CutOps
    // materialize the assignment once: it feeds the scoped bucket key and
    // the final per-cluster rollup, and re-deriving the two-round Lloyd
    // chain per consumer would triple the dominant cost
    val a2 = Relational6.kmeansAssignments(s, d).lineageCut // (vec_id, ck)
    val within = Dedup.embeddingCosineDupsScoped(embeddings(s, d), "vec_id", "embedding",
      scope = a2, scopeIdCol = "vec_id", scopeCol = "ck",
      bands = 8, bitsPerBand = 7, threshold = 0.45)
      .select("id_a", "id_b")
    val dropped = Dedup.connectedComponents(within, "id_a", "id_b")
      .filter(col("id") =!= col("label"))
      .select(col("id").as("vec_id"), lit(1L).as("drp"))
    a2.join(dropped, Seq("vec_id"), "left")
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("n_members"),
           sum(when(col("drp").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
           sum(when(col("drp").isNull, col("vec_id")).otherwise(0L)).as("kept_checksum"))
      .orderBy(col("ck"))
  }

  val qPipelineSemdedupSql: String = {
    val bandSelects = (0 until 8).map { bnd =>
      val planes = Vectors.hyperplanes(64, 7, seed = 42L + 7919L * bnd)
      s"SELECT vec_id, $bnd AS band, ${sqlBucket("v", planes)} AS bucket FROM ev"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH RECURSIVE ${Relational6.kmeansAssignSqlCtes},
    ev AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    b AS (
      $bandSelects),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
        AND l.vec_id < r.vec_id),
    prs AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN ev ea ON ea.vec_id = c.id_a
      JOIN ev eb ON eb.vec_id = c.id_b
      JOIN a2 ka ON ka.vec_id = c.id_a
      JOIN a2 kb ON kb.vec_id = c.id_b
      WHERE ka.ck = kb.ck AND ${sqlCos("ea.v", "eb.v")} >= 0.45),
    edges AS (SELECT id_a AS u, id_b AS v FROM prs
              UNION SELECT id_b AS u, id_a AS v FROM prs),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    rr(id, x) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT rr.id, e2.v FROM rr JOIN edges e2 ON rr.x = e2.u),
    comp AS (SELECT id, MIN(x) AS label FROM rr GROUP BY id),
    dropped AS (SELECT id FROM comp WHERE id <> label)
    SELECT a2.ck,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(count_if(dropped.id IS NOT NULL) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN dropped.id IS NULL THEN a2.vec_id ELSE 0 END)
                AS BIGINT) AS kept_checksum
    FROM a2 LEFT JOIN dropped ON dropped.id = a2.vec_id
    GROUP BY 1 ORDER BY 1"""
  }

  // ---- similarity search ---------------------------------------------------

  /** Deterministic 64-d query vector for ANN queries (unit basis blend). */
  val annQuery: Seq[Double] = (0 until 64).map(i => math.sin(i + 1).abs / 8.0 + 0.01)

  /** Brute-force exact cosine top-k — the ANN correctness baseline. */
  val qAnnBruteForce: Q = (s, d) =>
    Vectors.bruteForceTopK(embeddings(s, d), "vec_id", "embedding", annQuery, 20)
      .select(col("vec_id")) // ids only: float-sum scores are not engine-portable

  val qAnnBruteForceSql: String = {
    val q = annQuery.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""
    SELECT vec_id FROM (
      SELECT vec_id,
        list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $q) /
        GREATEST(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(embedding, x -> CAST(x AS DOUBLE))))
                 * sqrt(list_dot_product($q, $q)), 1e-300) AS cos
      FROM embeddings
      ORDER BY cos DESC, vec_id LIMIT 20) t"""
  }

  /** LSH-bucketed approximate top-k — ORACLE-CHECKED: hyperplane literals,
    * sign-bit buckets, the shared Hamming-1 probe set, and the exact
    * cosine re-rank are all IEEE arithmetic DuckDB reproduces exactly. */
  val qAnnLsh: Q = (s, d) =>
    Vectors.lshTopK(embeddings(s, d), "vec_id", "embedding", annQuery,
      k = 20, planes = 4).select(col("vec_id"))

  val qAnnLshSql: String = {
    val planes = Vectors.hyperplanes(annQuery.size, 4)
    val probes = Vectors.lshProbes(annQuery, 4).mkString(", ")
    val q = annQuery.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    b AS (SELECT vec_id, v, ${sqlBucket("v", planes)} AS bucket FROM e)
    SELECT vec_id FROM (
      SELECT vec_id, ${sqlCos("v", q)} AS cos
      FROM b WHERE bucket IN ($probes)
      ORDER BY cos DESC, vec_id LIMIT 20) t"""
  }

  /** Three deterministic probe vectors for the batched ANN query: the
    * base query, its reverse, and an alternating-sign variant (exact
    * element reuse — no new float arithmetic). */
  val annBatchQueries: Seq[Seq[Double]] = Seq(
    annQuery, annQuery.reverse,
    annQuery.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v else -v })

  /** Batched exact top-k: many probes, ONE corpus scan
    * ([[Vectors.batchTopK]] — probes attach as an exploded literal, a
    * per-query window ranks). ORACLE-CHECKED per probe (ids only; ranking
    * ties break on vec_id in both engines). */
  val qAnnBatch: Q = (s, d) =>
    Vectors.batchTopK(embeddings(s, d), "vec_id", "embedding",
      annBatchQueries, k = 20)
      .select(col("qid"), col("vec_id"))

  val qAnnBatchSql: String = {
    val subs = annBatchQueries.zipWithIndex.map { case (q, i) =>
      val ql = q.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
      s"""
      SELECT qid, vec_id FROM (
        SELECT $i AS qid, vec_id,
               ROW_NUMBER() OVER (ORDER BY ${sqlCos("list_transform(embedding, x -> CAST(x AS DOUBLE))", ql)} DESC, vec_id) AS rk
        FROM embeddings) t
      WHERE rk <= 20"""
    }
    subs.mkString("\n      UNION ALL ")
  }

  /** Faceted ANN: each label's 5 nearest neighbors to the probe — one
    * corpus scan + one grouped window, no per-category rescans. Ids and
    * ranks only; ties break on vec_id in both engines. */
  val qAnnGrouped: Q = (s, d) =>
    Vectors.groupedTopK(embeddings(s, d), "vec_id", "embedding", "label",
      annQuery, k = 5)

  val qAnnGroupedSql: String = {
    val q = annQuery.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""
    SELECT label, vec_id, rank FROM (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (PARTITION BY label
               ORDER BY ${sqlCos("list_transform(embedding, x -> CAST(x AS DOUBLE))", q)} DESC, vec_id)
               AS rank
      FROM embeddings) t
    WHERE rank <= 5"""
  }

  /** int8-quantized brute-force top-k — the 4x-smaller storage path for
    * 100 TB similarity search, ORACLE-CHECKED: quantization and quantized
    * cosine are pure IEEE arithmetic (round-half-away, integer dots, sqrt,
    * division), bit-identical in DuckDB. */
  val qAnnInt8: Q = (s, d) =>
    Vectors.int8TopK(embeddings(s, d), "vec_id", "embedding", annQuery, 20)
      .select(col("vec_id"))

  val qAnnInt8Sql: String = {
    val qq = Vectors.quantizeInt8Local(annQuery)
    val qlit = qq.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    val qnorm = math.sqrt(qq.map(x => x * x).sum)
    s"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CASE WHEN m = 0 THEN CAST(x AS DOUBLE)
               ELSE round(CAST(x AS DOUBLE) * 127 / m) END) AS qv
      FROM (SELECT vec_id, embedding,
              list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS m
            FROM embeddings))
    SELECT vec_id FROM (
      SELECT vec_id,
             list_dot_product(qv, $qlit) /
             GREATEST(sqrt(list_dot_product(qv, qv)) * $qnorm, 1e-300) AS qcos
      FROM q ORDER BY qcos DESC, vec_id LIMIT 20) t"""
  }

  /** Real IVF search: coarse quantizer trained by deterministic sampled
    * spherical k-means (64 cells), then an nprobe=16 probe (~25% scan on
    * this corpus). Recall ≥0.9 at a 1/8 scan is gated in VectorsSpec on
    * clustered data — the corpus embeddings are ~uniform, where recall ≈
    * scan fraction is the ceiling for any quantizer.
    *
    * ORACLE-CHECKED via centroid literals: training is deterministic per
    * corpus but data-dependent, so the trained centroids are stashed here
    * and [[oracleSql]] (a def, re-read by Verify AFTER all queries ran in
    * the same JVM) embeds them as SQL literals — the same pattern
    * [[qDedupEmbeddingSql]] uses for its hyperplanes. The oracle then
    * independently reproduces cell assignment (argmax cosine, ties to the
    * highest cell), the nprobe cell filter, and the exact cosine re-rank. */
  val qAnnIvf: Q = (s, d) => {
    val emb = embeddings(s, d)
    val centroids = Vectors.trainIvfCentroids(emb, "vec_id", "embedding", cells = 64)
    ivfTrained = Some(centroids)
    Vectors.ivfTopK(emb, "vec_id", "embedding", annQuery, k = 20,
      centroids, nprobe = 16)
      .select("vec_id")
  }

  /** Centroids trained by the last [[qAnnIvf]] run in this JVM (one Verify
    * invocation runs all queries against one corpus, then dumps SQL). */
  @volatile private var ivfTrained: Option[Seq[Seq[Double]]] = None

  /** IVF at the STORAGE layer: the corpus written once per JVM per sfDir
    * as a Parquet store PARTITIONED by trained cell id
    * ([[Vectors.writeIvfIndex]]), then probed with
    * [[Vectors.ivfTopKPruned]] — the nprobe filter prunes partition
    * directories at planning time, so the 16/64-cell probe is an I/O
    * fraction, not a row filter (PlanQualitySpec pins the partition
    * count). Training is the same deterministic sampled k-means as
    * [[qAnnIvf]], so results and oracle are identical — the oracle
    * re-derives assignment + probe + re-rank from centroid literals. */
  val qAnnIvfPruned: Q = (s, d) => {
    val (path, centroids) = builtIvfIndexes.getOrElseUpdate(d, {
      val emb = embeddings(s, d)
      val cents = Vectors.trainIvfCentroids(emb, "vec_id", "embedding", cells = 64)
      val p = s"/tmp/graft_ivf_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Vectors.writeIvfIndex(emb, "vec_id", "embedding", cents, p)
      (p, cents)
    })
    ivfPrunedTrained = Some(centroids)
    Vectors.ivfTopKPruned(s, path, "vec_id", "embedding", annQuery, k = 20,
      centroids, nprobe = 16)
      .select("vec_id")
  }

  private val builtIvfIndexes =
    scala.collection.concurrent.TrieMap[String, (String, Seq[Seq[Double]])]()
  @volatile private var ivfPrunedTrained: Option[Seq[Seq[Double]]] = None

  /** IVF search re-spelled in DuckDB over literal centroids: score every
    * (vector, cell) pair with the shared IEEE cosine form, keep each
    * vector's argmax cell (score DESC, cell DESC = array_max on
    * (score, cell) structs in [[Vectors.ivfAssignNative]]), filter to the
    * Scala-computed nprobe probe cells, exact-cosine re-rank. */
  private def qAnnIvfSql(cents: Seq[Seq[Double]]): String = {
    val probes = Vectors.nearestCells(cents, annQuery, 16).mkString(", ")
    val q = annQuery.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    val centRows = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlVec(c)})" }.mkString(",\n      ")
    s"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    cents(cell, c) AS (VALUES
      $centRows),
    assigned AS (
      SELECT vec_id, v, cell
      FROM (SELECT e.vec_id, e.v, cents.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${sqlCos("e.v", "cents.c")} DESC, cents.cell DESC) AS rn
            FROM e CROSS JOIN cents)
      WHERE rn = 1)
    SELECT vec_id FROM (
      SELECT vec_id, ${sqlCos("v", q)} AS cos
      FROM assigned WHERE cell IN ($probes)
      ORDER BY cos DESC, vec_id LIMIT 20) t"""
  }

  /** PRODUCT-QUANTIZATION ANN on the oracle: deterministic per-subspace
    * L2 k-means codebooks trained on the bounded driver sample
    * ([[Vectors.trainPqCodebooks]]), corpus encoded to m=8 codes of 4
    * bits' worth each (16x smaller than 64 f32 dims), searched by ADC
    * table lookups with an exact-cosine re-rank of the shortlist — the
    * compressed-corpus ANN path at 100 TB. Same trained-literal oracle
    * pattern as [[qAnnIvf]]: DuckDB re-derives the argmin code
    * assignment, the ADC distance from the same LUT literals, the
    * shortlist, and the re-rank. */
  val qAnnPq: Q = (s, d) => {
    val emb = embeddings(s, d)
    val books = Vectors.trainPqCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16)
    pqTrained = Some(books)
    Vectors.pqTopK(emb, "vec_id", "embedding", annQuery, k = 20, books, shortlist = 200)
      .select("vec_id")
  }

  /** Codebooks trained by the last [[qAnnPq]] run in this JVM. */
  @volatile private var pqTrained: Option[Seq[Seq[Seq[Double]]]] = None

  /** IVF-PQ (IVFADC) on the oracle: both trained artifacts — the coarse
    * quantizer's centroids and the per-subspace codebooks — dump as SQL
    * literals, and DuckDB independently re-derives cell assignment, the
    * nprobe filter, the argmin code assignment ON THE PROBED SUBSET, the
    * ADC shortlist, and the exact-cosine re-rank. */
  val qAnnIvfPq: Q = (s, d) => {
    val emb = embeddings(s, d)
    val centroids = Vectors.trainIvfCentroids(emb, "vec_id", "embedding", cells = 64)
    val books = Vectors.trainPqCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16)
    ivfPqTrained = Some((centroids, books))
    Vectors.ivfPqTopK(emb, "vec_id", "embedding", annQuery, k = 20,
      centroids, books, nprobe = 16, shortlist = 100)
      .select("vec_id")
  }

  @volatile private var ivfPqTrained: Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] = None

  private def qAnnIvfPqSql(cents: Seq[Seq[Double]],
                           books: Seq[Seq[Seq[Double]]]): String = {
    val probes = Vectors.nearestCells(cents, annQuery, 16).mkString(", ")
    val q = annQuery.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    val centRows = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlVec(c)})" }.mkString(",\n      ")
    val m = books.size
    val sub = books.head.head.size
    val lut = Vectors.pqLut(books, annQuery)
    val bookRows = (for { j <- 0 until m; (c, i) <- books(j).zipWithIndex }
      yield s"($j, $i, ${sqlVec(c)}, ${c.map(x => x * x).sum})").mkString(",\n      ")
    val codeCols = (0 until m)
      .map(j => s"MAX(CASE WHEN j = $j THEN code END) AS c$j")
      .mkString(",\n             ")
    val adistExpr = (0 until m)
      .map(j => s"list_extract(${sqlVec(lut(j))}, c$j + 1)").mkString(" + ")
    s"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    cents(cell, c) AS (VALUES
      $centRows),
    assigned AS (
      SELECT vec_id, v, cell
      FROM (SELECT e.vec_id, e.v, cents.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${sqlCos("e.v", "cents.c")} DESC, cents.cell DESC) AS rn
            FROM e CROSS JOIN cents)
      WHERE rn = 1),
    probed AS (SELECT vec_id, v FROM assigned WHERE cell IN ($probes)),
    books(j, code, c, cc) AS (VALUES
      $bookRows),
    scored AS (
      SELECT probed.vec_id, books.j, books.code,
             ROW_NUMBER() OVER (PARTITION BY probed.vec_id, books.j
               ORDER BY books.cc - 2.0 * list_dot_product(
                          list_slice(probed.v, books.j * $sub + 1, books.j * $sub + $sub),
                          books.c) ASC,
                        books.code ASC) AS rn
      FROM probed CROSS JOIN books),
    codes AS (
      SELECT vec_id,
             $codeCols
      FROM scored WHERE rn = 1 GROUP BY vec_id),
    short AS (
      SELECT vec_id FROM (
        SELECT vec_id, $adistExpr AS adist
        FROM codes ORDER BY adist ASC, vec_id LIMIT 100) t)
    SELECT vec_id FROM (
      SELECT probed.vec_id, ${sqlCos("probed.v", q)} AS cos
      FROM probed JOIN short USING (vec_id)
      ORDER BY cos DESC, vec_id LIMIT 20) t2"""
  }

  private def qAnnPqSql(books: Seq[Seq[Seq[Double]]]): String = {
    val m = books.size
    val sub = books.head.head.size
    val lut = Vectors.pqLut(books, annQuery)
    val q = annQuery.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    val bookRows = (for { j <- 0 until m; (c, i) <- books(j).zipWithIndex }
      yield s"($j, $i, ${sqlVec(c)}, ${c.map(x => x * x).sum})").mkString(",\n      ")
    val codeCols = (0 until m)
      .map(j => s"MAX(CASE WHEN j = $j THEN code END) AS c$j")
      .mkString(",\n             ")
    val adistExpr = (0 until m)
      .map(j => s"list_extract(${sqlVec(lut(j))}, c$j + 1)").mkString(" + ")
    s"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    books(j, code, c, cc) AS (VALUES
      $bookRows),
    scored AS (
      SELECT e.vec_id, books.j, books.code,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, books.j
               ORDER BY books.cc - 2.0 * list_dot_product(
                          list_slice(e.v, books.j * $sub + 1, books.j * $sub + $sub),
                          books.c) ASC,
                        books.code ASC) AS rn
      FROM e CROSS JOIN books),
    codes AS (
      SELECT vec_id,
             $codeCols
      FROM scored WHERE rn = 1 GROUP BY vec_id),
    short AS (
      SELECT vec_id FROM (
        SELECT vec_id, $adistExpr AS adist
        FROM codes ORDER BY adist ASC, vec_id LIMIT 200) t)
    SELECT vec_id FROM (
      SELECT e.vec_id, ${sqlCos("e.v", q)} AS cos
      FROM e JOIN short USING (vec_id)
      ORDER BY cos DESC, vec_id LIMIT 20) t2"""
  }

  /** Deterministic train/val/test assignment by id hash
    * ([[graft.functions.Sampling.assignSplit]]): a pure map — no rand(),
    * no shuffle, stable under re-runs/resumes/engines — and the oracle
    * recomputes every assignment bit-for-bit (portable mix). */
  val qPipelineSplit: Q = (s, d) =>
    graft.functions.Sampling.assignSplit(documents(s, d), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))

  val qPipelineSplitSql: String = {
    val case_ = graft.functions.Sampling.splitSql("doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    s"""
    SELECT $case_ AS split, lang, COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2"""
  }

  /** Deterministic epoch shuffle: the corpus in training order for epochs
    * 0 and 1. The positional fold over the first 20 rows pins the EXACT
    * order (not just the key set) cross-engine; the overlap count shows
    * the two epochs' prefixes are decorrelated. */
  val qPipelineShuffle: Q = (s, d) => {
    val docs = documents(s, d)
    def top(e: Long) = graft.functions.Sampling
      .shuffled(docs, col("doc_id"), epoch = e)
      .select(col("doc_id"), col("shuffle_key")).limit(20)
    def orderFold = aggregate(
      transform(array_sort(collect_list(struct(col("shuffle_key"), col("doc_id")))),
        x => x("doc_id")),
      lit(0L), (acc, x) => (acc * lit(31L) + x) % lit(2147483647L))
    val tot = docs
      .select(graft.functions.Sampling.shuffleKey(col("doc_id"), 0L).as("k"))
      .agg(count(lit(1)).as("n_docs"), sum(col("k")).as("key_sum"))
    val f0 = top(0).agg(orderFold.as("order_fold_e0"))
    val f1 = top(1).agg(orderFold.as("order_fold_e1"))
    val ov = top(0).select("doc_id").join(top(1).select("doc_id"), "doc_id")
      .agg(count(lit(1)).as("overlap_01"))
    tot.crossJoin(f0).crossJoin(f1).crossJoin(ov)
  }

  val qPipelineShuffleSql: String = {
    def key(e: Long) = graft.functions.Sampling.shuffleKeySql("doc_id", e)
    s"""
    WITH k0 AS (SELECT doc_id, ${key(0)} AS k FROM documents),
    k1 AS (SELECT doc_id, ${key(1)} AS k FROM documents),
    t0 AS (SELECT doc_id, k FROM k0 ORDER BY k, doc_id LIMIT 20),
    t1 AS (SELECT doc_id, k FROM k1 ORDER BY k, doc_id LIMIT 20),
    f0 AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
             list(doc_id ORDER BY k, doc_id)),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS order_fold_e0 FROM t0),
    f1 AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
             list(doc_id ORDER BY k, doc_id)),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS order_fold_e1 FROM t1),
    ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS overlap_01 FROM t0 JOIN t1 USING (doc_id)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(k) AS BIGINT) AS key_sum FROM k0)
    SELECT n_docs, key_sum, order_fold_e0, order_fold_e1, overlap_01
    FROM tot, f0, f1, ov"""
  }

  // ---- text analysis -------------------------------------------------------

  val qTextTokens: Q = (s, d) =>
    documents(s, d)
      .select(col("lang"), TF.tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
           max(col("n_tokens")).as("max_tokens"))

  val qTextTokensSql: String = """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(MAX(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS max_tokens
    FROM documents GROUP BY lang"""

  /** Quality-scoring components per language, INTEGER-exact so the DuckDB
    * oracle certifies them bit-for-bit: length-band membership, stopword-
    * density band (the double ratio compares identically in any IEEE
    * engine; only the integer verdict is aggregated), lexical diversity
    * numerators. The blended [0,1] score itself (TF.qualityScore) is the
    * same expressions weighted — pinned in TextFunctionsSpec. */
  val qTextQuality: Q = (s, d) => {
    val toks = TF.tokens(col("text"))
    val n = size(toks)
    val stopRatio = TF.stopwordRatio(col("text"), "en")
    docsWide(s, d)
      .select(col("lang"), n.as("n"), size(array_distinct(toks)).as("nd"),
        when(stopRatio >= 0.05 && stopRatio <= 0.6, 1L).otherwise(0L).as("stop_ok"),
        when(n >= 20 && n <= 1000, 1L).otherwise(0L).as("len_ok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len_ok")).as("n_len_good"),
        sum(col("stop_ok")).as("n_stop_good"),
        sum(col("nd").cast("long")).as("sum_distinct_toks"),
        sum(col("n").cast("long")).as("sum_toks"))
  }

  val qTextQualitySql: String = """
    WITH t AS (
      SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
    u AS (
      SELECT lang, len(toks) AS n, len(list_distinct(toks)) AS nd,
             len(list_filter(toks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t))) AS ns
      FROM t)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(count_if(n >= 20 AND n <= 1000) AS BIGINT) AS n_len_good,
           CAST(count_if(CAST(ns AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1.0) >= 0.05
                AND CAST(ns AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1.0) <= 0.6) AS BIGINT) AS n_stop_good,
           CAST(SUM(nd) AS BIGINT) AS sum_distinct_toks,
           CAST(SUM(n) AS BIGINT) AS sum_toks
    FROM u GROUP BY lang"""

  /** Language-ID heuristic vs the labeled lang column (confusion counts).
    * Oracle-checked: the stopword tables are embedded in the SQL, and the
    * argmax tie-break (max score, then lexicographically LARGEST language
    * code — struct-max semantics) is reproduced by the CASE ladder. */
  val qTextLangId: Q = (s, d) =>
    docsWide(s, d)
      .select(col("lang").as("labeled"), TF.langId(col("text")).as("predicted"))
      .groupBy(col("labeled"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  val qTextLangIdSql: String = """
    WITH t AS (
      SELECT lang AS labeled, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    sc AS (
      SELECT labeled,
        len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','los','se','no'], x))) AS s_es,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','zu','den','nicht','von'], x))) AS s_de,
        len(list_filter(toks, x -> list_contains(['le','la','les','de','et','un','est','que','pour','dans'], x))) AS s_fr,
        len(list_filter(toks, x -> list_contains(['的','是','不','了','在','人','有','我','他','这'], x))) AS s_zh
      FROM t)
    SELECT labeled,
      CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
           WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
           WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
           WHEN s_en >= s_de THEN 'en'
           ELSE 'de' END AS predicted,
      COUNT(*) AS n
    FROM sc GROUP BY 1, 2"""

  /** Order-insensitive fingerprint dedup (token-bag md5). */
  val qTextFingerprint: Q = (s, d) =>
    documents(s, d)
      .select(TF.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_distinct_fp"), max(col("n")).as("max_group"))

  val qTextFingerprintSql: String = """
    SELECT COUNT(*) AS n_distinct_fp, MAX(n) AS max_group FROM (
      SELECT md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp,
             COUNT(*) AS n
      FROM documents GROUP BY 1) t"""

  /** Rolling-hash (order-sensitive) fingerprint — oracle-certified: the
    * Rabin–Karp polynomial is plain integer arithmetic over codepoints,
    * reproduced exactly by DuckDB's list_reduce. */
  val qTextRollingHash: Q = (s, d) =>
    documents(s, d)
      .select(TF.rollingHash(col("text")).as("rh"))
      .agg(countDistinct(col("rh")).as("n_distinct"), count(lit(1)).as("n_docs"),
           min(col("rh")).as("min_rh"), max(col("rh")).as("max_rh"),
           sum(col("rh")).as("sum_rh"))

  val qTextRollingHashSql: String = """
    WITH h AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(
                     string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ''),
                     c -> c <> ''),
                   c -> CAST(unicode(c) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647) AS rh
      FROM documents)
    SELECT CAST(COUNT(DISTINCT rh) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(rh) AS min_rh, MAX(rh) AS max_rh,
           CAST(SUM(rh) AS BIGINT) AS sum_rh
    FROM h"""

  /** Global top-10 bigrams with counts — the n-gram frequency sweep
    * (non-distinct grams: counting, unlike dedup's set semantics). */
  val qTextTopNgrams: Q = (s, d) => {
    graft.GraftFunctions.register(s)
    val toks = TF.tokens(col("text"))
    documents(s, d)
      .filter(size(toks) >= 2)
      .select(explode(call_function("word_ngrams", toks, lit(2))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(10)
  }

  val qTextTopNgramsSql: String = """
    WITH t AS (SELECT string_split(trim(text), ' ') AS w FROM documents
               WHERE len(string_split(trim(text), ' ')) >= 2),
    g AS (SELECT unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1])) AS gram FROM t)
    SELECT gram, COUNT(*) AS n
    FROM g GROUP BY 1 ORDER BY n DESC, gram LIMIT 10"""

  /** Rational TF-IDF (score = tf · N / df — log-free so the arithmetic is
    * integer-derived and engine-exact): top term per language by summed
    * score, ignoring high-document-frequency stop terms. */
  val qTextTfidf: Q = (s, d) => {
    val docs = documents(s, d)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(TF.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n))
      .filter(col("df") * 4 < col("n_docs")) // drop stop-terms (df >= 25%)
      .select(col("lang"), col("tok"),
        (col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double")).as("score"))
      .groupBy(col("lang"))
      .agg(max_by(col("tok"), struct(col("score"), col("tok"))).as("top_term"),
           max(col("score")).as("top_score"))
  }

  val qTextTfidfSql: String = """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents),
    tf AS (SELECT lang, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT lang, tok,
             CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
      WHERE df * 4 < n_docs)
    SELECT lang, tok AS top_term, score AS top_score FROM (
      SELECT lang, tok, score,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, tok DESC) AS rn
      FROM scored) t
    WHERE rn = 1"""

  /** BM25 ranked retrieval (Okapi k1=1.2, b=0.75) for a fixed query over
    * the corpus — the retrieval-scoring complement to [[qTextTfidf]]'s
    * corpus statistics. Log-free RATIONAL idf ((N−df+½)/(df+½), a
    * monotone surrogate for the usual log of it) keeps the arithmetic
    * free of libm, and each per-term score quantizes to integer
    * MICRO-UNITS via floor(score·1e6) before the per-doc sum — floor is
    * exact and BIGINT addition is order-independent, so the ranking is
    * hash-exact across engines with no float-order risk. Scale shape:
    * doc lengths and term postings are two aggregations of one token
    * explode; the 4-term posting table and the one-row (N, avgdl)
    * aggregate broadcast; nothing is quadratic in the corpus. */
  val qTextBm25: Q = (s, d) => {
    val terms = Seq("vector", "window", "merge", "sort")
    val docs = documents(s, d)
    val toks = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        floor(((col("n_docs") - col("df")).cast("double") + 0.5) / (col("df").cast("double") + 0.5) *
          ((col("tf").cast("double") * 2.2) /
           (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
          * 1000000.0).cast("long").as("smicro"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("smicro")).as("bm25_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(10)
  }

  val qTextBm25Sql: String = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('vector', 'window', 'merge', 'sort')
      GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) *
               ((CAST(tf AS DOUBLE) * 2.2) /
                (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
               * 1000000.0) AS BIGINT) AS smicro
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
    SELECT doc_id, CAST(SUM(smicro) AS BIGINT) AS bm25_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id LIMIT 10"""

  /** RAKE KEYPHRASE EXTRACTION — candidate phrases are maximal stopword-
    * delimited token runs (built by a stopword → '|' boundary rewrite,
    * applied twice because adjacent stopwords share their delimiting
    * space — same trick, identical result, in both engines), scored by
    * the classic degree/frequency word statistics summed per phrase.
    * Word scores quantize to integer micro-units (floor(deg·1e6/freq)),
    * so the ranking is hash-exact. Map + two aggregations + one
    * broadcast-scale join-back; nothing quadratic. */
  val qTextKeyphrases: Q = (s, d) => {
    val stop = "(the|a|of|and|to|in|is|it|that|for)"
    val bounded = regexp_replace(
      regexp_replace(concat(lit(" "), trim(col("text")), lit(" ")),
        s" $stop ", " | "), s" $stop ", " | ")
    val ph = documents(s, d).select(explode(split(bounded, "\\|")).as("p0"))
      .select(trim(col("p0")).as("phrase"))
      .filter(col("phrase") =!= "" && size(split(col("phrase"), " ")) <= 3)
      .withColumn("len", size(split(col("phrase"), " ")).cast("long"))
    val wstats = ph.select(explode(split(col("phrase"), " ")).as("w"), col("len"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    val phr = ph.groupBy(col("phrase")).agg(count(lit(1)).as("n_occur"))
    phr.select(col("phrase"), col("n_occur"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wstats, Seq("w"))
      .groupBy(col("phrase"), col("n_occur"))
      .agg(sum(expr("deg * 1000000 div freq")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(10)
  }

  val qTextKeyphrasesSql: String = """
    WITH ph0 AS (
      SELECT unnest(string_split(
        regexp_replace(regexp_replace(' ' || trim(text) || ' ',
          ' (the|a|of|and|to|in|is|it|that|for) ', ' | ', 'g'),
          ' (the|a|of|and|to|in|is|it|that|for) ', ' | ', 'g'), '|')) AS p0
      FROM documents),
    ph AS (
      SELECT trim(p0) AS phrase, CAST(len(string_split(trim(p0), ' ')) AS BIGINT) AS l
      FROM ph0
      WHERE trim(p0) <> '' AND len(string_split(trim(p0), ' ')) <= 3),
    ws AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, CAST(SUM(l) AS BIGINT) AS deg
      FROM (SELECT unnest(string_split(phrase, ' ')) AS w, l FROM ph) t
      GROUP BY 1),
    phr AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur FROM ph GROUP BY 1),
    pw AS (
      SELECT phrase, n_occur, unnest(string_split(phrase, ' ')) AS w FROM phr)
    SELECT phrase, n_occur,
           CAST(SUM(deg * 1000000 // freq) AS BIGINT) AS score_micro
    FROM pw JOIN ws USING (w)
    GROUP BY 1, 2 ORDER BY score_micro DESC, phrase LIMIT 10"""

  /** URL canonicalization + dedup accounting — the crawl frontier's first
    * dedup key ([[Curation.canonicalizeUrl]]: lowercase scheme/host,
    * default-port strip, fragment drop, sorted non-utm query params,
    * trailing-slash strip). The corpus has no URL column, so messy URLs
    * derive deterministically from doc_id (mixed-case schemes/hosts,
    * default and non-default ports, tracking params, fragments — the
    * [[qTextPii]] fixture discipline), and the oracle re-derives AND
    * re-canonicalizes them step-for-step in SQL. Map-only + one
    * aggregation; at crawl scale this is the pure-map stage ahead of the
    * frontier's hash-dedup. */
  val qTextUrlCanonical: Q = (s, d) => {
    val idx3 = (col("doc_id") % 3 + 1).cast("int")
    val url = concat(
      element_at(array(lit("HTTP"), lit("https"), lit("Http")), idx3),
      lit("://"), lit("WWW.Site"), col("doc_id") % 7, lit(".COM"),
      element_at(array(lit(":80"), lit(""), lit(":443")), idx3),
      lit("/Docs/"), col("doc_id") % 50,
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("?utm_source=feed&b=2&a=1"))
        .otherwise(lit("?z=9&utm_campaign=x&a=1")),
      when(col("doc_id") % 5 === 0, lit("#section2")).otherwise(lit("")))
    documents(s, d)
      .select(col("source"), Curation.canonicalizeUrl(url).as("canon"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("canon")).as("n_canonical"),
           min(col("canon")).as("min_canon"),
           max(col("canon")).as("max_canon"))
      .orderBy(col("source"))
  }

  val qTextUrlCanonicalSql: String = """
    WITH u AS (
      SELECT source,
        ['HTTP','https','Http'][CAST(doc_id % 3 + 1 AS INT)] ||
        '://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
        [':80','',':443'][CAST(doc_id % 3 + 1 AS INT)] ||
        '/Docs/' || CAST(doc_id % 50 AS VARCHAR) ||
        CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
             ELSE '?z=9&utm_campaign=x&a=1' END ||
        CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END AS url
      FROM documents),
    s1 AS (
      SELECT source,
             lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_replace(regexp_replace(url, '#.*$', ''), '^[A-Za-z]+://', '') AS rest
      FROM u),
    s2 AS (
      SELECT source, scheme,
             lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
             regexp_replace(rest, '^[^/?]+', '') AS pathq
      FROM s1),
    s3 AS (
      SELECT source, scheme, pathq,
             CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS stripped,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
               p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&') AS qs
      FROM s2),
    c AS (
      SELECT source,
             scheme || '://' || host ||
             CASE WHEN stripped = '' THEN '/' ELSE stripped END ||
             CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon
      FROM s3)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
           MIN(canon) AS min_canon, MAX(canon) AS max_canon
    FROM c GROUP BY source ORDER BY source"""

  // ---- multimodal ----------------------------------------------------------

  /** Binary-column plumbing: payload size oracle-checked; decode features
    * themselves come from the stub (tested in MultimodalSpec). */
  val qMultimodalBytes: Q = (s, d) =>
    Multimodal.attachPayload(documents(s, d))
      .select(col("doc_id"), length(col("payload")).cast("long").as("n_bytes"))

  val qMultimodalBytesSql: String = """
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents"""

  /** Feature extraction over the MIXED-FORMAT corpus: doc_id % 5 routes
    * each document through a different REAL decoder (BMP / PNG / GIF /
    * JPEG through the JDK's ImageIO behind `Images`, WAV through
    * `WavCodec`) inside one extractFeatures pass — certifying the
    * per-row format dispatch itself, which the single-format twins never
    * exercise. The StubDecoder is UNREACHABLE from every oracle query
    * (pinned by StubUnreachabilitySpec); DuckDB recomputes each branch's
    * decoded features with that branch's closed form. */
  val qMultimodalFeatures: Q = (s, d) =>
    Multimodal.extractFeatures(s, Multimodal.attachMixedPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"), dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalFeaturesSql: String = s"""
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             list_transform(range(0, octet_length(encode(text))),
               i -> abs(CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT) - 128)) AS absb
      FROM documents),
    g AS (
      SELECT doc_id, len, bytes, absb, doc_id % 5 AS br,
             (doc_id % 64 + 16) AS iw, (doc_id % 48 + 16) AS ih,
             (doc_id % 8) * 8 + 16 AS jw, (doc_id % 6) * 8 + 16 AS jh
      FROM f),
    e AS (
      SELECT br,
        CASE
          WHEN br <= 2 THEN -- BMP/PNG/GIF: pixel i = byte (i mod len)
            CASE WHEN len = 0 THEN 0.0
                 ELSE CAST((iw * ih // len) * list_sum(bytes) +
                      COALESCE(list_sum(list_slice(bytes, 1, (iw * ih) % len)), 0)
                      AS DOUBLE) / CAST(iw * ih AS DOUBLE) / 255.0 END
          WHEN br = 3 THEN -- JPEG: 8x8 block k = byte (k mod len), DC-only
            CASE WHEN len = 0 THEN 0.0
                 ELSE CAST(((jw // 8) * (jh // 8) // len) * list_sum(bytes) +
                      COALESCE(list_sum(list_slice(bytes, 1, ((jw // 8) * (jh // 8)) % len)), 0)
                      AS DOUBLE) / CAST((jw // 8) * (jh // 8) AS DOUBLE) / 255.0 END
          ELSE -- WAV: sample i = (byte(i mod len) - 128) * 256, mean |.|
            CASE WHEN len = 0 THEN 0.0
                 ELSE CAST(256 * ((2048 // len) * list_sum(absb) +
                      COALESCE(list_sum(list_slice(absb, 1, 2048 % len)), 0))
                      AS DOUBLE) / 2048.0 / 32768.0 END
        END AS intensity,
        CASE WHEN br <= 2 THEN iw // 2 WHEN br = 3 THEN jw // 2 ELSE 2048 END AS d1,
        CASE WHEN br <= 2 THEN ih // 2 WHEN br = 3 THEN jh // 2 ELSE 8000 END AS d2
      FROM g)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("intensity")} AS sum_luma,
           CAST(SUM(d1) AS BIGINT) AS sum_thumb_w,
           CAST(SUM(d2) AS BIGINT) AS sum_thumb_h
    FROM e"""

  // ---- geodetic (F7) -------------------------------------------------------

  /** UTM → lat/lon corner math over deterministic survey-corner points
    * (the reference seismic_reader example's workflow, utm.hh:82-147,
    * corrected to the Snyder form — see [[graft.functions.Geo.utmToGeo]]).
    * Rounded to 5 decimals (~1 m) so last-ulp libm trig differences
    * between engines cannot flip the comparison. */
  val qGeoUtm: Q = (s, d) => {
    val pts = graft.Tables.events(s, d)
      .select(col("user_id")).filter(col("user_id") < 5).distinct()
      .withColumn("e", lit(350000.0) + col("user_id") * lit(50000.0))
      .withColumn("n", lit(7600000.0) + col("user_id") * lit(200000.0))
    pts.select(col("user_id"), graft.functions.Geo.utmToGeo(col("e"), col("n")).as("g"))
      .select(col("user_id"),
        round(col("g.lat"), 5).as("lat"), round(col("g.lon"), 5).as("lon"))
  }

  val qGeoUtmSql: String = {
    import graft.functions.Geo.{mgaZone51 => z}
    val e2 = z.e2; val ep2 = z.ePrime2
    val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val muDen = z.a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256)
    val j1 = 3 * e1 / 2 - 27 * e1 * e1 * e1 / 32
    val j2 = 21 * e1 * e1 / 16 - 55 * e1 * e1 * e1 * e1 / 32
    val j3 = 151 * e1 * e1 * e1 / 96
    val j4 = 1097 * e1 * e1 * e1 * e1 / 512
    s"""
    WITH pts AS (
      SELECT DISTINCT user_id,
             350000.0 + user_id * 50000.0 AS e,
             7600000.0 + user_id * 200000.0 AS n
      FROM events WHERE user_id < 5),
    s3 AS (
      SELECT user_id, e - ${z.falseEasting} AS x,
             ((n - ${z.falseNorthing}) / ${z.k0}) / $muDen AS mu
      FROM pts),
    s4 AS (
      SELECT user_id, x,
             mu + $j1*sin(2*mu) + $j2*sin(4*mu) + $j3*sin(6*mu) + $j4*sin(8*mu) AS fp
      FROM s3),
    s5 AS (
      SELECT user_id, x, fp, cos(fp) AS cosfp, sin(fp) AS sinfp, tan(fp) AS tanfp
      FROM s4),
    s6 AS (
      SELECT user_id, x, fp, cosfp, tanfp,
             $ep2 * cosfp * cosfp AS c1, tanfp * tanfp AS t1,
             ${z.a * (1 - e2)} / pow(1 - $e2 * sinfp * sinfp, 1.5) AS r1,
             ${z.a} / sqrt(1 - $e2 * sinfp * sinfp) AS n1
      FROM s5),
    s7 AS (SELECT *, x / (n1 * ${z.k0}) AS dd FROM s6),
    s8 AS (
      SELECT user_id,
             fp - (n1 * tanfp / r1) * (
               dd*dd/2
               - (5 + 3*t1 + 10*c1 - 4*c1*c1 - ${9 * ep2}) * pow(dd, 4) / 24
               + (61 + 90*t1 + 298*c1 + 45*t1*t1 - ${252 * ep2} - 3*c1*c1) * pow(dd, 6) / 720
             ) AS latrad,
             ${math.toRadians(z.centralMeridianDeg)} + (
               dd
               - (1 + 2*t1 + c1) * pow(dd, 3) / 6
               + (5 - 2*c1 + 28*t1 - 3*c1*c1 + ${8 * ep2} + 24*t1*t1) * pow(dd, 5) / 120
             ) / cosfp AS lonrad
      FROM s7)
    SELECT user_id, ROUND(degrees(latrad), 5) AS lat, ROUND(degrees(lonrad), 5) AS lon
    FROM s8"""
  }

  /** The composed training-data pipeline in one plan — quality gate →
    * exact dedup (keep smallest id per content hash) → per-language token
    * accounting. This is the shape a 100 TB curation job runs: two narrow
    * map stages, one dedup groupBy, one broadcast-able semi-join on the
    * keeper set, one final aggregation — no self-joins, nothing quadratic. */
  val qPipelineCompose: Q = (s, d) => {
    val toks = TF.tokens(col("text"))
    val n = size(toks)
    val stopRatio = TF.stopwordRatio(col("text"), "en")
    val gated = documents(s, d)
      .filter(n >= 5 && n <= 1000 && stopRatio <= 0.6)
      .select(col("doc_id"), col("lang"), col("text"), n.cast("long").as("n_toks"))
    val keepers = gated
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    gated.join(keepers, gated("doc_id") === keepers("keep_id"), "left_semi")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
  }

  val qPipelineComposeSql: String = """
    WITH gated AS (
      SELECT doc_id, lang, text,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_toks,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE)
               / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0) AS sr
      FROM documents),
    g2 AS (SELECT * FROM gated WHERE n_toks >= 5 AND n_toks <= 1000 AND sr <= 0.6),
    keepers AS (SELECT MIN(doc_id) AS keep_id FROM g2 GROUP BY md5(text))
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS sum_toks
    FROM g2 WHERE doc_id IN (SELECT keep_id FROM keepers)
    GROUP BY lang"""

  val queries: Map[String, Q] = Map(
    "geo_utm"              -> qGeoUtm,
    "pipeline_compose"     -> qPipelineCompose,
    "pipeline_split"       -> qPipelineSplit,
    "pipeline_shuffle"     -> qPipelineShuffle,
    "dedup_exact"          -> qDedupExact,
    "dedup_minhash_lsh"    -> qDedupMinhashLsh,
    "dedup_eval"           -> qDedupEval,
    "dedup_eval_sampled"   -> qDedupEvalSampled,
    "dedup_simhash"        -> qDedupSimhash,
    "dedup_ngram_jaccard"  -> qDedupNgramJaccard,
    "dedup_components"     -> qDedupComponents,
    "dedup_keep_best"      -> qDedupKeepBest,
    "dedup_containment"    -> qDedupContainment,
    "dedup_winnow"         -> qDedupWinnow,
    "dedup_cascade"        -> qDedupCascade,
    "dedup_embedding"      -> qDedupEmbedding,
    "pipeline_semdedup"    -> qPipelineSemdedup,
    "ann_brute_force"      -> qAnnBruteForce,
    "ann_lsh"              -> qAnnLsh,
    "ann_ivf"              -> qAnnIvf,
    "ann_ivf_pruned"       -> qAnnIvfPruned,
    "ann_pq"               -> qAnnPq,
    "ann_ivf_pq"           -> qAnnIvfPq,
    "ann_grouped"          -> qAnnGrouped,
    "pipeline_dedup_recipe" -> qPipelineDedupRecipe,
    "ann_int8"             -> qAnnInt8,
    "ann_batch"            -> qAnnBatch,
    "text_tokens"          -> qTextTokens,
    "text_quality"         -> qTextQuality,
    "text_langid"          -> qTextLangId,
    "text_fingerprint"     -> qTextFingerprint,
    "text_rolling_hash"    -> qTextRollingHash,
    "text_top_ngrams"      -> qTextTopNgrams,
    "text_tfidf"           -> qTextTfidf,
    "text_bm25"            -> qTextBm25,
    "text_url_canonical"   -> qTextUrlCanonical,
    "text_keyphrases"      -> qTextKeyphrases,
    "multimodal_bytes"     -> qMultimodalBytes,
    "multimodal_features"  -> qMultimodalFeatures,
  )

  /** A def, not a val: the `ann_ivf`/`ann_pq` entries exist only once
    * their queries have trained in this JVM (Verify runs queries, THEN
    * dumps). */
  def oracleSql: Map[String, String] =
    staticOracleSql ++ ivfTrained.map(c => "ann_ivf" -> qAnnIvfSql(c)) ++
      ivfPrunedTrained.map(c => "ann_ivf_pruned" -> qAnnIvfSql(c)) ++
      pqTrained.map(b => "ann_pq" -> qAnnPqSql(b)) ++
      ivfPqTrained.map { case (c, b) => "ann_ivf_pq" -> qAnnIvfPqSql(c, b) }

  private val staticOracleSql: Map[String, String] = Map(
    "geo_utm"             -> qGeoUtmSql,
    "pipeline_compose"    -> qPipelineComposeSql,
    "pipeline_split"      -> qPipelineSplitSql,
    "pipeline_shuffle"    -> qPipelineShuffleSql,
    "text_quality"        -> qTextQualitySql,
    "text_langid"         -> qTextLangIdSql,
    "dedup_exact"         -> qDedupExactSql,
    "dedup_ngram_jaccard" -> qDedupNgramJaccardSql,
    "dedup_components"    -> qDedupComponentsSql,
    "dedup_keep_best"     -> qDedupKeepBestSql,
    "dedup_containment"   -> qDedupContainmentSql,
    "dedup_winnow"        -> qDedupWinnowSql,
    "dedup_cascade"       -> qDedupCascadeSql,
    "ann_grouped"         -> qAnnGroupedSql,
    "pipeline_dedup_recipe" -> qPipelineDedupRecipeSql,
    "ann_brute_force"     -> qAnnBruteForceSql,
    "ann_int8"            -> qAnnInt8Sql,
    "ann_batch"           -> qAnnBatchSql,
    "ann_lsh"             -> qAnnLshSql,
    "dedup_embedding"     -> qDedupEmbeddingSql,
    "pipeline_semdedup"   -> qPipelineSemdedupSql,
    "dedup_minhash_lsh"   -> qDedupMinhashLshSql,
    "dedup_eval"          -> qDedupEvalSql,
    "dedup_eval_sampled"  -> qDedupEvalSampledSql,
    "dedup_simhash"       -> qDedupSimhashSql,
    "text_tokens"         -> qTextTokensSql,
    "text_fingerprint"    -> qTextFingerprintSql,
    "text_rolling_hash"   -> qTextRollingHashSql,
    "text_top_ngrams"     -> qTextTopNgramsSql,
    "text_tfidf"          -> qTextTfidfSql,
    "text_bm25"           -> qTextBm25Sql,
    "text_url_canonical"  -> qTextUrlCanonicalSql,
    "text_keyphrases"     -> qTextKeyphrasesSql,
    "multimodal_bytes"    -> qMultimodalBytesSql,
    "multimodal_features" -> qMultimodalFeaturesSql,
  )
}
