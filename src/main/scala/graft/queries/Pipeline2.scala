package graft.queries

import graft.functions.{Curation, Sketches, Vectors, TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Corpus-curation queries (the [[graft.functions.Curation]] family):
  * decontamination, repetition gating, sequence packing, weighted
  * sampling — the passes a pretraining-data recipe runs after dedup.
  *
  * Every query here is oracle-checked: the operators are built from
  * engine-portable arithmetic (polynomial folds, IEEE-exact doubles,
  * integer window sums), so DuckDB reproduces them bit-for-bit.
  */
object Pipeline2 {

  /** documents() spread to session parallelism for per-row text kernels
    * (see Pipeline.docsWide): no-op once the scan is parallel. */
  private def docsWide(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.functions.Spread.byKeyIfNarrow(documents(s, d), col("doc_id"))

  // ---- decontamination -----------------------------------------------------

  /** Benchmark contamination sweep: documents sharing ≥3 distinct word
    * trigrams with the held-out benchmark slice (doc_id ≡ 0 mod 97 stands
    * in for an eval suite). Broadcast the benchmark gram set; one
    * map-side join over the corpus. */
  val qTextDecontaminate: Q = (s, d) => {
    val docs = documents(s, d)
    Curation.decontaminate(
      train = docs.filter(col("doc_id") % 97 =!= 0),
      eval = docs.filter(col("doc_id") % 97 === 0),
      idCol = "doc_id", textCol = "text", k = 3, minOverlap = 3L)
      .agg(count(lit(1)).as("n_contaminated"),
           coalesce(sum(col("n_shared")), lit(0L)).as("total_shared"),
           coalesce(min(col("doc_id")), lit(-1L)).as("first_doc"))
  }

  /** word_ngrams(toks, 3) twin: len≥3 → the len−2 trigrams; shorter →
    * one gram of all tokens (the kernel's contract). */
  private val sqlTrigrams: String =
    """CASE WHEN len(toks) >= 3
      |  THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  val qTextDecontaminateSql: String = s"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct($sqlTrigrams)) AS gram FROM t),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
    ov AS (
      SELECT doc_id, COUNT(DISTINCT gram) AS n_shared
      FROM tr JOIN ev USING (gram)
      GROUP BY 1 HAVING COUNT(DISTINCT gram) >= 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_contaminated,
           COALESCE(CAST(SUM(n_shared) AS BIGINT), 0) AS total_shared,
           COALESCE(MIN(doc_id), -1) AS first_doc
    FROM ov"""

  /** Bloom-gated contamination sweep — the bounded-broadcast form: the
    * benchmark gram set compresses into a 2^16-bit Bloom filter (two
    * portable polynomial hashes), and the corpus probe is a pure MAP (no
    * join). Flags a deterministic superset of the exact sweep; DuckDB
    * rebuilds the identical filter — false positives included — so the
    * oracle certifies it bit-for-bit. */
  val qTextDecontaminateBloom: Q = (s, d) => {
    val docs = documents(s, d)
    Curation.decontaminateBloom(
      train = docs.filter(col("doc_id") % 97 =!= 0),
      eval = docs.filter(col("doc_id") % 97 === 0),
      idCol = "doc_id", textCol = "text", k = 3, minOverlap = 3L)
      .agg(count(lit(1)).as("n_flagged"),
           coalesce(sum(col("n_hits")), lit(0L)).as("total_hits"),
           coalesce(min(col("doc_id")), lit(-1L)).as("first_doc"))
  }

  /** The portable polynomial gram hash, DuckDB spelling (sampleWeighted's
    * digit-fold pattern, over the gram's codepoints). */
  private def sqlGramHash(base: Int): String = s"""
    |list_reduce(list_prepend(CAST(0 AS BIGINT),
    |  list_transform(list_filter(string_split(gram, ''), c -> c <> ''),
    |    c -> CAST(unicode(c) AS BIGINT))),
    |  (acc, x) -> (acc * $base + x) % 2147483647)""".stripMargin

  val qTextDecontaminateBloomSql: String = {
    val m = 1 << 16
    // DuckDB's << range-checks BIGINT shifts, so bit 63 (the sign bit)
    // needs the (1<<62)*-2 spelling of Long.MinValue
    def mask(p: String) =
      s"""CASE WHEN $p % 64 = 63 THEN (CAST(1 AS BIGINT) << 62) * -2
         |     ELSE CAST(1 AS BIGINT) << CAST($p % 64 AS INT) END""".stripMargin
    s"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct($sqlTrigrams)) AS gram FROM t),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    evp AS (
      SELECT unnest([${sqlGramHash(131)} % $m, ${sqlGramHash(137)} % $m]) AS p
      FROM ev),
    bloom AS (
      SELECT p // 64 AS w, bit_or(${mask("p")}) AS bits
      FROM evp GROUP BY 1),
    tr AS (
      SELECT doc_id, gram,
             ${sqlGramHash(131)} % $m AS p1,
             ${sqlGramHash(137)} % $m AS p2
      FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM tr
      JOIN bloom b1 ON b1.w = tr.p1 // 64
        AND (b1.bits & (${mask("tr.p1")})) <> 0
      JOIN bloom b2 ON b2.w = tr.p2 // 64
        AND (b2.bits & (${mask("tr.p2")})) <> 0
      GROUP BY 1 HAVING COUNT(*) >= 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged,
           COALESCE(CAST(SUM(n_hits) AS BIGINT), 0) AS total_hits,
           COALESCE(MIN(doc_id), -1) AS first_doc
    FROM hits"""
  }

  // ---- repetition gate -----------------------------------------------------

  /** Distribution of the intra-document repetition ratio (1 − distinct/
    * total tokens), bucketed into deciles — the Gopher-style repetition
    * quality gate as a map + one aggregation. */
  // NOT registered: superseded in the registry by Pipeline3's line/ngram
  // repetition profile. Kept as the simple decile form for comparison.
  val qTextRepetition: Q = (s, d) =>
    documents(s, d)
      .select(least(floor(Curation.repetitionRatio(col("text")) * lit(10.0))
        .cast("long"), lit(9L)).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n"))

  val qTextRepetitionSql: String = """
    WITH r AS (
      SELECT 1.0 - CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
                 / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0) AS rep
      FROM documents)
    SELECT LEAST(CAST(FLOOR(rep * 10.0) AS BIGINT), 9) AS decile,
           COUNT(*) AS n
    FROM r GROUP BY 1"""

  // ---- learned quality scoring ---------------------------------------------

  /** Deterministic 512-bucket weight table standing in for an offline-
    * trained model (the engine applies models; it doesn't train them). */
  private val classifierWeights: Seq[Double] =
    (0 until 512).map(i => math.sin(3.0 * i + 1.0) / 2.0)

  /** Fasttext-style learned quality filter: hashed unigram+bigram linear
    * scoring via the native `weight_sum` kernel (map-only, broadcast
    * model), reported as a decile histogram + exact score mass. DuckDB
    * re-derives every bucket lookup and the same left-to-right IEEE fold
    * from the weight literals, so the oracle certifies the MODEL APPLY
    * bit-for-bit — deciles and sums both. */
  val qTextClassify: Q = (s, d) => {
    val scored = Curation.classifyLinear(documents(s, d), "text", classifierWeights)
    scored
      .select(least(greatest(floor((col("quality_score") + lit(0.5)) * lit(10.0)), lit(0L)),
        lit(9L)).cast("long").as("decile"),
        col("quality_score"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), dsum(col("quality_score")).as("score_mass"))
  }

  val qTextClassifySql: String = {
    val w = classifierWeights.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    def hashOf(v: String) = s"""
      |list_reduce(list_prepend(CAST(0 AS BIGINT),
      |  list_transform(list_filter(string_split($v, ''), c -> c <> ''),
      |    c -> CAST(unicode(c) AS BIGINT))),
      |  (acc, x) -> (acc * 131 + x) % 2147483647)""".stripMargin
    s"""
    WITH wt AS (SELECT $w AS ws),
    t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])
               ELSE [array_to_string(toks, ' ')] END AS bigrams
      FROM t),
    sc AS (
      SELECT doc_id,
             (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(toks, tk -> ws[(${hashOf("tk")}) % 512 + 1])),
                (a, x) -> a + x)
              + list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(bigrams, bg -> ws[(${hashOf("bg")}) % 512 + 1])),
                (a, x) -> a + x))
             / CAST(len(toks) + len(bigrams) AS DOUBLE) AS score
      FROM g CROSS JOIN wt)
    SELECT LEAST(GREATEST(CAST(FLOOR((score + 0.5) * 10.0) AS BIGINT), 0), 9) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("score")} AS score_mass
    FROM sc GROUP BY 1"""
  }

  // ---- sequence packing ----------------------------------------------------

  /** Greedy sequence packing into ~512-token training windows within
    * (lang, source) groups, reported per language: bins used, documents
    * and tokens packed. Bin ids are nondecreasing per group, so
    * n_bins = Σ(max+1) is an upper bound on bins actually used; it equals
    * the exact count when no document exceeds 2× targetTokens (a longer
    * doc makes bin = floor(cum_before/target) skip indices). The oracle
    * computes the identical formula, so the gate is exact either way. */
  val qPipelinePack: Q = (s, d) => {
    val packed = Curation.packSequences(documents(s, d),
      textCol = "text", orderCol = "doc_id",
      partCols = Seq("lang", "source"), targetTokens = 512L)
    packed
      .groupBy(col("lang"), col("source"))
      .agg((max(col("bin")) + lit(1L)).as("nb"),
           count(lit(1)).as("nd"), sum(col("n_tok")).as("tt"))
      .groupBy(col("lang"))
      .agg(sum(col("nb")).as("n_bins"), sum(col("nd")).as("n_docs"),
           sum(col("tt")).as("total_tokens"))
  }

  val qPipelinePackSql: String = """
    WITH t AS (
      SELECT lang, source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents),
    p AS (
      SELECT lang, source, n_tok,
             CAST(FLOOR(CAST(SUM(n_tok) OVER (
                 PARTITION BY lang, source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS DOUBLE) / 512.0) AS BIGINT) AS bin
      FROM t),
    g AS (
      SELECT lang, source, MAX(bin) + 1 AS nb, COUNT(*) AS nd, SUM(n_tok) AS tt
      FROM p GROUP BY 1, 2)
    SELECT lang, CAST(SUM(nb) AS BIGINT) AS n_bins,
           CAST(SUM(nd) AS BIGINT) AS n_docs,
           CAST(SUM(tt) AS BIGINT) AS total_tokens
    FROM g GROUP BY lang"""

  // ---- weighted sampling ---------------------------------------------------

  /** Deterministic domain-mixing sample: per-source keep rates (src0 keep
    * all, src1 half, src2 quarter, rest 10%), membership decided by the
    * portable digit-fold hash of doc_id — reproducible across engines
    * and corpus growth. */
  val qPipelineSampleWeighted: Q = (s, d) =>
    Curation.sampleWeighted(documents(s, d), idCol = "doc_id",
      categoryCol = "source",
      ratesPermille = Map("src0" -> 1000, "src1" -> 500, "src2" -> 250),
      defaultPermille = 100)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))

  val qPipelineSampleWeightedSql: String = """
    WITH h AS (
      SELECT source, n_chars,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split(CAST(doc_id AS VARCHAR), ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647) % 1000 AS hh,
             CASE WHEN source = 'src0' THEN 1000
                  WHEN source = 'src1' THEN 500
                  WHEN source = 'src2' THEN 250
                  ELSE 100 END AS rate
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM h WHERE hh < rate GROUP BY source"""

  // ---- token-budget quota --------------------------------------------------

  /** Cap every source at 20k tokens, kept in hash-priority order:
    * per-source kept docs / kept tokens / last-kept priority. The window
    * runs per source after a hash shuffle (no global sort); the filter is
    * keep-while-under-budget, so each source contributes ≤ the cap. */
  val qPipelineQuota: Q = (s, d) =>
    Curation.quotaCap(documents(s, d), idCol = "doc_id",
      categoryCol = "source", textCol = "text", budgetTokens = 20000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tokens_kept"),
           max(col("priority")).as("last_priority"))

  val qPipelineQuotaSql: String = """
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split(CAST(doc_id AS VARCHAR), ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647) AS priority
      FROM documents),
    c AS (
      SELECT source, n_tok, priority,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY priority, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
      FROM t)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
           MAX(priority) AS last_priority
    FROM c WHERE cum_tok <= 20000 GROUP BY source"""

  // ---- document chunking ---------------------------------------------------

  /** 64-token chunks with 16-token overlap over every document: chunk
    * counts, boundary arithmetic, and an order-sensitive fold over the
    * first chunk's text certify the chunk CONTENT, not just the counts. */
  val qTextChunk: Q = (s, d) =>
    Curation.chunkDocuments(docsWide(s, d), textCol = "text",
      chunkTokens = 64, overlap = 16)
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("doc_id")).as("n_docs"),
           sum(col("chunk_tokens").cast("long")).as("sum_chunk_tokens"),
           max(col("chunk_idx")).cast("long").as("max_chunk_idx"),
           sum(when(col("chunk_idx") === 0,
             TF.rollingHash(col("chunk_text"))).otherwise(lit(0L))).as("first_chunk_hash_sum"))

  val qTextChunkSql: String = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, len(toks) AS n, unnest(range(0, len(toks), 48)) AS start, toks
      FROM t),
    ch AS (
      SELECT doc_id, start // 48 AS chunk_idx,
             LEAST(n - start, 64) AS chunk_tokens,
             array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text
      FROM c)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
           CAST(MAX(chunk_idx) AS BIGINT) AS max_chunk_idx,
           CAST(SUM(CASE WHEN chunk_idx = 0 THEN
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split(regexp_replace(trim(chunk_text), '\s+', ' ', 'g'), ''), cc -> cc <> ''),
                 cc -> CAST(unicode(cc) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647)
             ELSE 0 END) AS BIGINT) AS first_chunk_hash_sum
    FROM ch"""

  /** Line-level dedup (C4-style duplicated-passage removal): drop every
    * non-overlapping 3-token window that appears in >= 3 distinct
    * documents, reassemble the survivors in order, and pin the full
    * reassembled corpus through the portable rolling hash. The oracle
    * re-derives segmentation, df counting, the anti join, and ordered
    * reassembly independently. */
  val qTextLineDedup: Q = (s, d) =>
    Curation.lineDedup(documents(s, d), "doc_id",
        segsCol = Curation.tokenWindows(col("text"), 3), minDf = 3L)
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_kept") < col("n_total"), lit(1L)).otherwise(lit(0L)))
             .as("n_modified"),
           sum(col("n_total") - col("n_kept")).as("segs_removed"),
           coalesce(sum(TF.rollingHash(col("text_clean"))), lit(0L))
             .as("clean_hash_sum"))

  val qTextLineDedupSql: String = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    s0 AS (
      SELECT doc_id, unnest(range(0, ((len(toks) - 1) // 3) + 1)) AS pos, toks
      FROM t),
    seg AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(toks, pos*3 + 1, pos*3 + 3), ' ') AS seg
      FROM s0),
    fr AS (
      SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM seg)
      GROUP BY seg HAVING COUNT(*) >= 3),
    kept AS (SELECT s.doc_id, s.pos, s.seg FROM seg s ANTI JOIN fr USING (seg)),
    re AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id),
    tot AS (
      SELECT t.doc_id, ((len(t.toks) - 1) // 3) + 1 AS n_total,
             COALESCE(re.n_kept, 0) AS n_kept,
             COALESCE(re.text_clean, '') AS text_clean
      FROM t LEFT JOIN re USING (doc_id))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_kept < n_total THEN 1 ELSE 0 END) AS BIGINT)
             AS n_modified,
           CAST(SUM(n_total - n_kept) AS BIGINT) AS segs_removed,
           CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split(regexp_replace(trim(text_clean), '\s+', ' ', 'g'), ''), cc -> cc <> ''),
                 cc -> CAST(unicode(cc) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647)) AS BIGINT)
             AS clean_hash_sum
    FROM tot"""

  /** PII sweep: detection counts + redaction over a contact blob derived
    * deterministically from the customer table (name-derived email,
    * 2-3-3-4 phone, custkey-derived IPv4 — the corpus itself carries no
    * PII, so the fixture manufactures it identically in both engines).
    * The redacted text is pinned through the rolling hash, so a single
    * mis-replaced character anywhere in the corpus breaks the gate. */
  val qTextPii: Q = (s, d) => {
    val email = when(col("c_custkey") % 3 =!= 0,
      concat(lower(regexp_replace(col("c_name"), "#", ".")), lit("@example.com")))
      .otherwise(lit("unlisted"))
    val phone = when(col("c_custkey") % 2 === 0,
      concat((col("c_custkey") % 90 + 10).cast("string"), lit("-"),
             (col("c_custkey") % 900 + 100).cast("string"), lit("-"),
             ((col("c_custkey") * 7) % 900 + 100).cast("string"), lit("-"),
             (col("c_custkey") % 9000 + 1000).cast("string")))
      .otherwise(lit("n/a"))
    val ip = concat(lit("10."), (col("c_custkey") % 256).cast("string"), lit("."),
                    (col("c_custkey") % 97).cast("string"), lit("."),
                    (col("c_custkey") % 13).cast("string"))
    val blob = concat_ws(" ", lit("contact"), email, lit("tel"), phone, lit("host"), ip)
    customer(s, d)
      .withColumn("pii", TF.piiCounts(blob))
      .withColumn("red", TF.piiRedact(blob))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           sum(col("pii.n_emails")).as("n_emails"),
           sum(col("pii.n_ipv4")).as("n_ipv4"),
           sum(col("pii.n_phones")).as("n_phones"),
           sum(TF.rollingHash(col("red"))).as("redacted_hash_sum"))
  }

  val qTextPiiSql: String = """
    WITH b AS (
      SELECT c_mktsegment,
        'contact ' ||
        CASE WHEN c_custkey % 3 <> 0
             THEN lower(replace(c_name, '#', '.')) || '@example.com'
             ELSE 'unlisted' END ||
        ' tel ' ||
        CASE WHEN c_custkey % 2 = 0 THEN
          CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' ||
          CAST(c_custkey % 900 + 100 AS VARCHAR) || '-' ||
          CAST((c_custkey * 7) % 900 + 100 AS VARCHAR) || '-' ||
          CAST(c_custkey % 9000 + 1000 AS VARCHAR)
        ELSE 'n/a' END ||
        ' host 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        CAST(c_custkey % 97 AS VARCHAR) || '.' || CAST(c_custkey % 13 AS VARCHAR)
        AS blob
      FROM customer),
    p AS (
      SELECT c_mktsegment,
        len(regexp_extract_all(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        len(regexp_extract_all(blob, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
        len(regexp_extract_all(blob, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS np,
        regexp_replace(regexp_replace(regexp_replace(blob,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
          '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS red
      FROM b)
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(ne) AS BIGINT) AS n_emails,
           CAST(SUM(ni) AS BIGINT) AS n_ipv4,
           CAST(SUM(np) AS BIGINT) AS n_phones,
           CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split(regexp_replace(trim(red), '\s+', ' ', 'g'), ''), cc -> cc <> ''),
                 cc -> CAST(unicode(cc) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647)) AS BIGINT)
             AS redacted_hash_sum
    FROM p GROUP BY 1"""

  /** COMPACTION PLANNER: the small-file maintenance chore of any large
    * table — group a partition's files into target-size output bins so a
    * rewrite job has one task per bin. Documents stand in as the file
    * inventory (doc_id = file, octet length = size, source = table
    * partition); the plan is ONE window pass per partition: exclusive
    * running size, bin = floor(running / target) — deterministic greedy
    * boundary packing, no driver-side planning loop, integer-exact. */
  val qPipelineCompact: Q = (s, d) => {
    val target = 4096L
    documents(s, d)
      .select(col("source"), col("doc_id"),
        octet_length(col("text")).cast("long").as("bytes"))
      .withColumn("bin",
        expr(s"CAST((sum(bytes) OVER (PARTITION BY source ORDER BY doc_id " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes) DIV $target AS BIGINT)"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"))
      .groupBy(col("source"))
      .agg(sum(col("n_files")).as("n_files"),
           count(lit(1)).as("n_bins"),
           sum(col("bin_bytes")).as("total_bytes"),
           max(col("bin_bytes")).as("max_bin_bytes"))
      .orderBy(col("source"))
  }

  val qPipelineCompactSql: String = """
    WITH f AS (
      SELECT source, doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bytes
      FROM documents),
    b AS (
      SELECT source, bytes,
             (CAST(SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - bytes) // 4096 AS bin
      FROM f),
    g AS (
      SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(bytes) AS BIGINT) AS bin_bytes
      FROM b GROUP BY 1, 2)
    SELECT source, CAST(SUM(n_files) AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
           MAX(bin_bytes) AS max_bin_bytes
    FROM g GROUP BY source ORDER BY source"""

  /** Corpus report card: the per-language profile a pipeline publishes
    * after every ingest — exact counts plus token-length and
    * quality-score quantiles from the portable histogram-CDF sketch
    * ([[Sketches.histQuantiles]]: fixed bucket counts, SUM-mergeable
    * across days/partitions, so the same report rolls up incrementally at
    * 100 TB). Everything, including the approximate quantiles themselves,
    * reproduces bit-for-bit in DuckDB. */
  val qPipelineStats: Q = (s, d) => {
    val docs = documents(s, d).withColumn("__nt", TF.tokenCount(col("text")))
    val tq = Sketches.histQuantiles(docs, Seq("lang"), col("__nt"),
        lo = 0.0, width = 2.0, bins = 128, qs = Seq(0.5, 0.9, 0.99))
      .groupBy(col("lang"))
      .agg(max(when(col("__q") === 0.5, col("q_est"))).as("tok_p50"),
           max(when(col("__q") === 0.9, col("q_est"))).as("tok_p90"),
           max(when(col("__q") === 0.99, col("q_est"))).as("tok_p99"))
    val qq = Sketches.histQuantiles(docs, Seq("lang"),
        TF.qualityScore(col("text")),
        lo = 0.0, width = 0.01, bins = 100, qs = Seq(0.5, 0.9))
      .groupBy(col("lang"))
      .agg(max(when(col("__q") === 0.5, col("q_est"))).as("qual_p50"),
           max(when(col("__q") === 0.9, col("q_est"))).as("qual_p90"))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
      .join(tq, Seq("lang")).join(qq, Seq("lang"))
  }

  val qPipelineStatsSql: String = {
    val qualityExpr = """
      (CASE WHEN n >= 20 AND n <= 1000 THEN 1.0 WHEN n >= 5 THEN 0.5 ELSE 0.0 END * 0.4)
      + ((CAST(nd AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1.0)) * 0.4)
      + (CASE WHEN sr >= 0.05 AND sr <= 0.6 THEN 1.0 ELSE 0.25 END * 0.2)"""
    val docsSub = """(
      SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS nt
      FROM documents) dsub"""
    val qualSub = s"""(
      SELECT lang, $qualityExpr AS ql FROM (
        SELECT lang, len(toks) AS n, len(list_distinct(toks)) AS nd,
               CAST(len(list_filter(toks, t -> list_contains(
                 ['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) /
               GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS sr
        FROM (SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents) t0) t1) qsub"""
    val tokQ = Sketches.histQuantilesSql(docsSub, Seq("lang"), "nt",
      0.0, 2.0, 128, Seq(0.5, 0.9, 0.99))
    val qualQ = Sketches.histQuantilesSql(qualSub, Seq("lang"), "ql",
      0.0, 0.01, 100, Seq(0.5, 0.9))
    s"""
    WITH tq AS (
      SELECT lang,
             MAX(CASE WHEN __q = 0.5 THEN q_est END) AS tok_p50,
             MAX(CASE WHEN __q = 0.9 THEN q_est END) AS tok_p90,
             MAX(CASE WHEN __q = 0.99 THEN q_est END) AS tok_p99
      FROM ($tokQ) x GROUP BY lang),
    qq AS (
      SELECT lang,
             MAX(CASE WHEN __q = 0.5 THEN q_est END) AS qual_p50,
             MAX(CASE WHEN __q = 0.9 THEN q_est END) AS qual_p90
      FROM ($qualQ) y GROUP BY lang),
    base AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens
      FROM $docsSub GROUP BY lang)
    SELECT base.lang, n_docs, total_tokens, tok_p50, tok_p90, tok_p99,
           qual_p50, qual_p90
    FROM base JOIN tq ON base.lang = tq.lang JOIN qq ON base.lang = qq.lang"""
  }

  // ---- embedding centroids -------------------------------------------------

  /** Per-label embedding centroids (first 8 dimensions): the class-
    * prototype / cluster-analysis aggregation, shuffle bounded by
    * labels × dims, means decimal-exact across engines. */
  val qAggEmbeddingCentroid: Q = (s, d) =>
    Vectors.centroids(embeddings(s, d), groupCol = "label", vecCol = "embedding")
      .filter(col("pos") < 8)
      .select(col("group").cast("long").as("label"),
        col("pos").cast("long").as("pos"), col("mean"))

  val qAggEmbeddingCentroidSql: String = """
    SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS pos,
           CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean
    FROM embeddings, (SELECT unnest(range(1, 9)) AS i) idx
    GROUP BY label, i"""

  // ---- embedding standardization -------------------------------------------

  /** Per-dimension z-score standardization of the embedding corpus — the
    * feature-prep pass before distance-based ops (un-normalized dims
    * dominate cosine/L2). Two passes, both distributed: per-dim mean and
    * E[x²] as decimal-exact aggregates (64 groups, map-side combined),
    * broadcast back, then z = (x−μ)/σ per element and a per-dim summary.
    * Every step is engine-deterministic: float→double is exact, μ and
    * E[x²] derive from exact decimal sums, σ = sqrt (correctly rounded),
    * the z threshold verdicts are integer-exact, and Σz goes through the
    * dsum discipline — the oracle certifies the standardization itself,
    * no tolerance. */
  val qEmbeddingNormalize: Q = (s, d) => {
    val el = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("pos").cast("long").as("pos"), col("xf").cast("double").as("x"))
    val stats = el.groupBy(col("pos"))
      .agg(davg(col("x")).as("mu"),
           (dsumsq(col("x")) / count(lit(1)).cast("double")).as("ex2"))
      .select(col("pos"), col("mu"),
        sqrt(col("ex2") - col("mu") * col("mu")).as("sigma"))
    el.join(broadcast(stats), Seq("pos"))
      .select(col("pos"), ((col("x") - col("mu")) / col("sigma")).as("z"))
      .groupBy(col("pos"))
      .agg(count(when(col("z") > 2.0, 1)).as("n_hi"),
           count(when(col("z") < -2.0, 1)).as("n_lo"),
           dsum(col("z")).as("sum_z"))
      .orderBy(col("pos"))
  }

  val qEmbeddingNormalizeSql: String = s"""
    WITH el AS (
      SELECT CAST(i - 1 AS BIGINT) AS pos, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx),
    st AS (
      SELECT pos,
             ${sqlDavg("x")} AS mu,
             ${sqlDsumsq("x")} / CAST(COUNT(*) AS DOUBLE) AS ex2
      FROM el GROUP BY pos),
    zt AS (
      SELECT el.pos AS pos, (x - mu) / sqrt(ex2 - mu * mu) AS z
      FROM el JOIN st ON el.pos = st.pos)
    SELECT pos, CAST(count_if(z > 2.0) AS BIGINT) AS n_hi,
           CAST(count_if(z < -2.0) AS BIGINT) AS n_lo,
           ${sqlDsum("z")} AS sum_z
    FROM zt GROUP BY pos ORDER BY pos"""

  // ---- curriculum interleave -----------------------------------------------

  /** Curriculum ordering: documents assigned to STATIC difficulty bands
    * (n_chars ranges — fixed thresholds, no global statistics and no
    * global sort), shuffled deterministically within each band (the
    * epoch-shuffle key), then interleaved round-robin across bands — the
    * training-order recipe that feeds a model a stable easy↔hard mix
    * instead of all-easy-then-all-hard. Plan shape: band assignment is a
    * pure map, the per-band window is hash-partitioned on the band, and
    * the final head is a top-k (TakeOrderedAndProject), so nothing
    * global-sorts at any corpus size. */
  val qPipelineCurriculum: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val band = least(floor(col("n_chars").cast("double") / 150.0), lit(3.0)).cast("long")
    val key = graft.functions.Sampling.shuffleKey(col("doc_id"))
    val w = Window.partitionBy(col("band")).orderBy(col("k"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), band.as("band"), key.as("k"))
      .withColumn("pos", (row_number().over(w).cast("long") - 1L) * 4L + col("band"))
      .select(col("pos"), col("band"), col("doc_id"))
      .orderBy(col("pos"))
      .limit(20)
  }

  val qPipelineCurriculumSql: String = {
    val key = graft.functions.Sampling.shuffleKeySql("doc_id", 0L)
    s"""
    WITH b AS (
      SELECT doc_id,
             CAST(LEAST(floor(CAST(n_chars AS DOUBLE) / 150.0), 3.0) AS BIGINT) AS band,
             $key AS k
      FROM documents),
    r AS (
      SELECT doc_id, band,
             (ROW_NUMBER() OVER (PARTITION BY band ORDER BY k, doc_id) - 1) * 4
               + band AS pos
      FROM b)
    SELECT pos, band, doc_id FROM r ORDER BY pos LIMIT 20"""
  }

  // ---- boilerplate detection -----------------------------------------------

  /** Boilerplate prefixes: identical first-2-token prefixes shared by ≥2
    * documents of one source — the repeated-header/template sweep run
    * before near-dup dedup (boilerplate inflates shingle similarity).
    * Map + one aggregation; the prefix key bounds state at |distinct
    * prefixes|, never pairwise. (Production runs use longer prefixes;
    * the synthetic corpus has no real templates, so the query pins the
    * short-prefix operating point that has signal.) */
  val qTextBoilerplate: Q = (s, d) =>
    documents(s, d)
      .select(col("source"),
        array_join(slice(TF.tokens(col("text")), 1, 2), " ").as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_boilerplate_prefixes"),
           sum(col("n_docs")).as("n_docs_affected"),
           max(col("n_docs")).as("worst"))

  val qTextBoilerplateSql: String = """
    WITH p AS (
      SELECT source,
             array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 2), ' ') AS prefix
      FROM documents),
    g AS (
      SELECT source, prefix, COUNT(*) AS n_docs
      FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_boilerplate_prefixes,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs_affected,
           CAST(MAX(n_docs) AS BIGINT) AS worst
    FROM g GROUP BY source"""

  // ---- fluency score -------------------------------------------------------

  /** Distribution of the unigram-fluency score (mean corpus relative
    * frequency per document), bucketed at 1/1000 resolution. */
  val qTextFluency: Q = (s, d) =>
    Curation.unigramScore(documents(s, d), idCol = "doc_id", textCol = "text")
      .select(floor(col("score") * lit(1000.0)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  val qTextFluencySql: String = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents),
    cnts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_total FROM toks),
    per AS (
      SELECT doc_id,
             CAST(SUM(CAST(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS DECIMAL(27,18))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS score
      FROM toks JOIN cnts USING (tok) CROSS JOIN tot
      GROUP BY doc_id)
    SELECT CAST(FLOOR(score * 1000.0) AS BIGINT) AS bucket, COUNT(*) AS n
    FROM per GROUP BY 1"""

  // ---- stratified sampling -------------------------------------------------

  /** Exactly 15 documents per source by hash priority — the exact-count
    * stratified sample ("n docs per domain"), vs the rate-based
    * pipeline_sample_weighted. */
  val qPipelineSampleStratified: Q = (s, d) =>
    graft.functions.Sampling.sampleStratified(documents(s, d),
      id = col("doc_id"), categoryCol = "source", n = 15)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
           sum(col("n_chars")).as("sum_chars"))

  val qPipelineSampleStratifiedSql: String = {
    val mix = graft.functions.Sampling.mixSql("doc_id")
    s"""
    WITH r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY $mix, doc_id) AS rn
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM r WHERE rn <= 15 GROUP BY source"""
  }

  /** Temperature-reweighted DOMAIN MIXTURE — the data-recipe knob of
    * multi-domain pretraining: per-source target ∝ count^0.5 (T = 2
    * flattening, rare domains over-represented relative to size), half
    * the corpus kept, selection by portable-hash priority
    * ([[graft.functions.Sampling.temperatureTargets]] /
    * [[graft.functions.Sampling.mixture]]). Targets are deterministic
    * driver-side integer arithmetic on the exact per-source counts, so
    * the oracle (a def — same trained-literal pattern as ann_ivf) embeds
    * them as a VALUES table and re-derives the per-domain selection with
    * its own window; kept counts, id sums, and char sums must all agree. */
  val qPipelineMix: Q = (s, d) => {
    val docs = documents(s, d)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val total = counts.map(_._2).sum
    val targets = graft.functions.Sampling.temperatureTargets(
      counts, total / 2, alpha = 0.5)
    mixTargets = Some(targets)
    graft.functions.Sampling.mixture(docs, col("doc_id"), "source", targets)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
           sum(col("n_chars")).as("sum_chars"))
  }

  /** Targets trained by the last [[qPipelineMix]] run in this JVM. */
  @volatile private var mixTargets: Option[Seq[(String, Long)]] = None

  private def qPipelineMixSql(targets: Seq[(String, Long)]): String = {
    val mix = graft.functions.Sampling.mixSql("doc_id")
    val rows = targets.map { case (n, t) => s"('$n', $t)" }.mkString(",\n      ")
    s"""
    WITH t(source, tgt) AS (VALUES
      $rows),
    r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY $mix, doc_id) AS rn
      FROM documents)
    SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM r JOIN t ON r.source = t.source
    WHERE r.rn <= t.tgt GROUP BY r.source"""
  }

  // ---- embedding outliers --------------------------------------------------

  /** Per-label embedding outliers: the 3 vectors of each label farthest
    * (lowest cosine) from their label centroid — the mislabeled/junk
    * embedding sweep. Ids only: raw float-fold cosines are not
    * engine-portable (the ann_brute_force discipline); the kept SET is
    * stable because distinct random vectors never tie within an ulp. */
  val qEmbeddingOutliers: Q = (s, d) =>
    Vectors.embeddingOutliers(embeddings(s, d), idCol = "vec_id",
      vecCol = "embedding", groupCol = "label", k = 3, dim = 64)
      .select(col("label").cast("long").as("label"), col("vec_id"))

  val qEmbeddingOutliersSql: String = {
    val means = (1 to 64).map(i =>
      s"CAST(SUM(CAST(CAST(embedding[$i] AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE)" +
        " / CAST(COUNT(*) AS DOUBLE)").mkString(", ")
    s"""
    WITH c AS (
      SELECT label, [$means] AS centroid
      FROM embeddings GROUP BY label),
    e AS (
      SELECT label, vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    s AS (
      SELECT e.label, e.vec_id,
             list_dot_product(v, centroid) /
             GREATEST(sqrt(list_dot_product(v, v)) *
                      sqrt(list_dot_product(centroid, centroid)), 1e-300) AS cos
      FROM e JOIN c ON e.label = c.label),
    r AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos ASC, vec_id ASC) AS rnk
      FROM s)
    SELECT CAST(label AS BIGINT) AS label, vec_id FROM r WHERE rnk <= 3"""
  }

  // ---- real-codec multimodal decode ----------------------------------------

  /** REAL image decode on the oracle: documents render to deterministic
    * grayscale 24-bpp BMPs (pixel i = UTF-8 byte i mod len), the pipeline
    * decodes them through [[graft.multimodal.Images]] (the JDK's ImageIO
    * reader behind the loud-failure contract), and DuckDB certifies the
    * decoded features: file size from BMP geometry, mean luma from cycle
    * arithmetic (full-cycles × byte-sum + prefix). */
  val qMultimodalBmp: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachBmpPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           sum(col("n_bytes")).as("total_bytes"),
           dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalBmpSql: String = s"""
    WITH f AS (
      SELECT doc_id,
             octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 64 + 16) AS w, (doc_id % 48 + 16) AS h
      FROM documents),
    g AS (
      SELECT doc_id, w, h, len, w * h AS n,
             CASE WHEN len = 0 THEN 0
                  ELSE (w * h // len) * list_sum(bytes) +
                       COALESCE(list_sum(list_slice(bytes, 1, (w * h) % len)), 0)
             END AS pix_sum
      FROM f),
    e AS (
      SELECT w, h,
             54 + (3 * w + (4 - (3 * w) % 4) % 4) * h AS n_bytes,
             CASE WHEN len = 0 THEN 0.0
                  ELSE CAST(pix_sum AS DOUBLE) / CAST(n AS DOUBLE) / 255.0
             END AS luma
      FROM g)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           ${sqlDsum("luma")} AS sum_luma,
           CAST(SUM(w // 2) AS BIGINT) AS sum_thumb_w,
           CAST(SUM(h // 2) AS BIGINT) AS sum_thumb_h
    FROM e"""

  /** REAL compressed-image decode on the oracle: the same deterministic
    * grayscale pixels as the BMP twin, but PNG-encoded (zlib + per-row
    * filters) and decoded through [[graft.multimodal.Images]] (inflate,
    * unfilter — the JDK's ImageIO reader, loud on malformed input). The
    * file size is compression-dependent, so the oracle certifies the
    * decoded pixels (mean luma via cycle arithmetic) and geometry — which
    * only match if inflate + all five unfilters are byte-exact. */
  val qMultimodalPng: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachPngPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalPngSql: String = s"""
    WITH f AS (
      SELECT doc_id,
             octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 64 + 16) AS w, (doc_id % 48 + 16) AS h
      FROM documents),
    g AS (
      SELECT doc_id, w, h, len, w * h AS n,
             CASE WHEN len = 0 THEN 0
                  ELSE (w * h // len) * list_sum(bytes) +
                       COALESCE(list_sum(list_slice(bytes, 1, (w * h) % len)), 0)
             END AS pix_sum
      FROM f),
    e AS (
      SELECT w, h,
             CASE WHEN len = 0 THEN 0.0
                  ELSE CAST(pix_sum AS DOUBLE) / CAST(n AS DOUBLE) / 255.0
             END AS luma
      FROM g)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("luma")} AS sum_luma,
           CAST(SUM(w // 2) AS BIGINT) AS sum_thumb_w,
           CAST(SUM(h // 2) AS BIGINT) AS sum_thumb_h
    FROM e"""

  /** REAL LZW-image decode on the oracle: the same deterministic grayscale
    * pixels as the PNG twin, but GIF89a-encoded (variable-width LZW with
    * width growth, table-full clears, and the KwKwK special case — run-heavy
    * document text hits it constantly) and decoded through
    * [[graft.multimodal.Images]], which reads the raw palette indices and
    * rejects one outside the table. File size is compression-dependent, so
    * the oracle certifies decoded pixels (mean luma via cycle arithmetic)
    * and geometry — exact only if every LZW code expands byte-exactly. */
  val qMultimodalGif: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachGifPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalGifSql: String = qMultimodalPngSql

  /** REAL DCT-image decode on the oracle: block-constant grayscale images
    * (8×8 block k = UTF-8 byte k mod len; dims are multiples of 8) encoded
    * as baseline JPEG at quality 1.0 and decoded through
    * [[graft.multimodal.Images]] (the JDK's Huffman decode, dequant, IDCT;
    * the Y plane read raw).
    * Block-constant content is DC-only and survives the LOSSY format
    * exactly under all-ones quantization, so DuckDB certifies the decoded
    * mean luma with cycle arithmetic over blocks — which only matches if
    * the entropy decode and IDCT reconstruct every block's value exactly.
    * File size is entropy-coded, so n_bytes stays out of the aggregate
    * (the PNG twin's discipline). */
  val qMultimodalJpeg: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachJpegPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalJpegSql: String = s"""
    WITH f AS (
      SELECT doc_id,
             octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 8) * 8 + 16 AS w, (doc_id % 6) * 8 + 16 AS h
      FROM documents),
    g AS (
      SELECT doc_id, w, h, len, (w // 8) * (h // 8) AS nblocks
      FROM f),
    e AS (
      SELECT g.w, g.h,
             CASE WHEN f.len = 0 THEN 0.0
                  ELSE CAST((g.nblocks // f.len) * list_sum(f.bytes) +
                       COALESCE(list_sum(list_slice(f.bytes, 1, g.nblocks % f.len)), 0)
                       AS DOUBLE) / CAST(g.nblocks AS DOUBLE) / 255.0
             END AS luma
      FROM g JOIN f ON g.doc_id = f.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("luma")} AS sum_luma,
           CAST(SUM(w // 2) AS BIGINT) AS sum_thumb_w,
           CAST(SUM(h // 2) AS BIGINT) AS sum_thumb_h
    FROM e"""

  /** PROGRESSIVE DCT decode on the oracle: the same block-constant images
    * as `multimodal_jpeg`, wire-encoded as progressive SOF2 (the JDK
    * writer's scan script: spectral selection plus successive
    * approximation) and decoded through the full successive-approximation
    * path, after [[graft.multimodal.Images]] has checked that the scans
    * refine every coefficient to Al = 0. Decoded pixels are identical
    * to the baseline twin's, so the SAME cycle arithmetic certifies the
    * progressive protocol end to end. */
  val qMultimodalJpegProgressive: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachJpegProgressivePayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalJpegProgressiveSql: String = qMultimodalJpegSql

  /** COLOR DCT round-trip on the oracle: macroblock-constant RGB images
    * (16×16 macroblock k carries text bytes 3k/3k+1/3k+2 as R/G/B) encoded
    * as baseline 4:2:0 YCbCr JPEG by
    * [[graft.multimodal.Images.encodeJpegColor]] and decoded through the
    * full interleaved-scan path (4 luma + 2 chroma blocks per MCU, three
    * DC predictors). The fixed-point luma conversion
    * ([[graft.multimodal.Images.lumaOf]]) is reproduced digit-for-digit
    * in SQL, so DuckDB certifies the decoded mean luma of a color image
    * over the lossy wire format — which only matches if chroma blocks are
    * entropy-decoded in exact sync and every Y block reconstructs. */
  val qMultimodalJpegColor: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachJpegColorPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           dsum(col("intensity")).as("sum_luma"),
           sum(col("dim1").cast("long")).as("sum_thumb_w"),
           sum(col("dim2").cast("long")).as("sum_thumb_h"))

  val qMultimodalJpegColorSql: String = s"""
    WITH f AS (
      SELECT doc_id,
             octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bytes,
             (doc_id % 4) * 16 + 16 AS w, (doc_id % 3) * 16 + 16 AS h
      FROM documents),
    e AS (
      SELECT w, h,
             CASE WHEN len = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(range(0, (w // 16) * (h // 16)),
                    k -> (77 * bytes[(3*k) % len + 1] + 150 * bytes[(3*k+1) % len + 1]
                          + 29 * bytes[(3*k+2) % len + 1] + 128) // 256))
                    AS DOUBLE) / CAST((w // 16) * (h // 16) AS DOUBLE) / 255.0
             END AS luma
      FROM f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ${sqlDsum("luma")} AS sum_luma,
           CAST(SUM(w // 2) AS BIGINT) AS sum_thumb_w,
           CAST(SUM(h // 2) AS BIGINT) AS sum_thumb_h
    FROM e"""

  /** REAL audio decode on the oracle: deterministic 16-bit PCM WAVs
    * rendered from document bytes, decoded by the pure-JVM
    * [[graft.multimodal.WavCodec]] RIFF parser; DuckDB certifies sample
    * counts, file sizes, and the normalized mean absolute amplitude via
    * the same cycle arithmetic as the BMP twin. */
  val qMultimodalWav: Q = (s, d) =>
    graft.multimodal.Multimodal.extractFeatures(s,
      graft.multimodal.Multimodal.attachWavPayload(documents(s, d)))
      .toDF()
      .agg(count(lit(1)).as("n"),
           sum(col("n_bytes")).as("total_bytes"),
           dsum(col("intensity")).as("sum_amp"),
           sum(col("dim1").cast("long")).as("total_samples"),
           max(col("dim2")).cast("long").as("sample_rate"))

  val qMultimodalWavSql: String = s"""
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(0, octet_length(encode(text))),
               i -> abs(CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT) - 128)) AS absb
      FROM documents),
    g AS (
      SELECT len,
             CASE WHEN len = 0 THEN 0
                  ELSE (2048 // len) * list_sum(absb) +
                       COALESCE(list_sum(list_slice(absb, 1, 2048 % len)), 0)
             END AS abs_sum
      FROM f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 4140 AS BIGINT) AS total_bytes,
           ${sqlDsum("CASE WHEN len = 0 THEN 0.0 ELSE CAST(256 * abs_sum AS DOUBLE) / 2048.0 / 32768.0 END")} AS sum_amp,
           CAST(COUNT(*) * 2048 AS BIGINT) AS total_samples,
           CAST(8000 AS BIGINT) AS sample_rate
    FROM g"""

  // ---- composed curation recipe --------------------------------------------

  /** The full curation recipe as ONE flow — weighted domain sampling →
    * per-domain token quota → sequence packing — reported per language:
    * documents and tokens that made the cut, training windows produced.
    * Each stage keeps its scale shape (map filter → per-category window →
    * per-group window); nothing materializes between stages. */
  val qPipelineRecipe: Q = (s, d) => {
    val sampled = Curation.sampleWeighted(documents(s, d), idCol = "doc_id",
      categoryCol = "source",
      ratesPermille = Map("src0" -> 1000, "src1" -> 500, "src2" -> 250),
      defaultPermille = 100)
    val capped = Curation.quotaCap(sampled, idCol = "doc_id",
      categoryCol = "source", textCol = "text", budgetTokens = 15000L)
      .drop("n_tok", "priority", "cum_tok")
    val packed = Curation.packSequences(capped, textCol = "text",
      orderCol = "doc_id", partCols = Seq("lang", "source"),
      targetTokens = 512L)
    packed
      .groupBy(col("lang"), col("source"))
      .agg((max(col("bin")) + lit(1L)).as("nb"),
           count(lit(1)).as("nd"), sum(col("n_tok")).as("tt"))
      .groupBy(col("lang"))
      .agg(sum(col("nb")).as("n_bins"), sum(col("nd")).as("n_docs"),
           sum(col("tt")).as("total_tokens"))
  }

  val qPipelineRecipeSql: String = """
    WITH t AS (
      SELECT doc_id, lang, source, text,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split(CAST(doc_id AS VARCHAR), ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647) AS h
      FROM documents),
    sampled AS (
      SELECT * FROM t
      WHERE h % 1000 < CASE WHEN source = 'src0' THEN 1000
                            WHEN source = 'src1' THEN 500
                            WHEN source = 'src2' THEN 250
                            ELSE 100 END),
    capped AS (
      SELECT doc_id, lang, source, n_tok FROM (
        SELECT doc_id, lang, source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        FROM sampled) c
      WHERE cum_tok <= 15000),
    packed AS (
      SELECT lang, source, n_tok,
             CAST(FLOOR(CAST(SUM(n_tok) OVER (
                 PARTITION BY lang, source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS DOUBLE) / 512.0) AS BIGINT) AS bin
      FROM capped),
    g AS (
      SELECT lang, source, MAX(bin) + 1 AS nb, COUNT(*) AS nd, SUM(n_tok) AS tt
      FROM packed GROUP BY 1, 2)
    SELECT lang, CAST(SUM(nb) AS BIGINT) AS n_bins,
           CAST(SUM(nd) AS BIGINT) AS n_docs,
           CAST(SUM(tt) AS BIGINT) AS total_tokens
    FROM g GROUP BY lang"""

  val queries: Map[String, Q] = Map(
    "text_chunk"               -> qTextChunk,
    "text_line_dedup"          -> qTextLineDedup,
    "text_pii"                 -> qTextPii,
    "pipeline_stats"           -> qPipelineStats,
    "pipeline_compact"         -> qPipelineCompact,
    "agg_embedding_centroid"   -> qAggEmbeddingCentroid,
    "embedding_outliers"       -> qEmbeddingOutliers,
    "embedding_normalize"      -> qEmbeddingNormalize,
    "pipeline_curriculum"      -> qPipelineCurriculum,
    "text_fluency"             -> qTextFluency,
    "text_boilerplate"         -> qTextBoilerplate,
    "text_classify"            -> qTextClassify,
    "multimodal_bmp"           -> qMultimodalBmp,
    "multimodal_png"           -> qMultimodalPng,
    "multimodal_gif"           -> qMultimodalGif,
    "multimodal_jpeg"          -> qMultimodalJpeg,
    "multimodal_jpeg_progressive" -> qMultimodalJpegProgressive,
    "multimodal_jpeg_color"    -> qMultimodalJpegColor,
    "multimodal_wav"           -> qMultimodalWav,
    "pipeline_sample_stratified" -> qPipelineSampleStratified,
    "pipeline_mix"             -> qPipelineMix,
    "pipeline_recipe"          -> qPipelineRecipe,
    "pipeline_quota"           -> qPipelineQuota,
    "text_decontaminate"       -> qTextDecontaminate,
    "text_decontaminate_bloom" -> qTextDecontaminateBloom,
    "pipeline_pack"            -> qPipelinePack,
    "pipeline_sample_weighted" -> qPipelineSampleWeighted,
  )

  /** A def: the `pipeline_mix` entry exists only once its query has
    * trained its targets in this JVM (the ann_ivf discipline). */
  def oracleSql: Map[String, String] =
    staticOracleSql ++ mixTargets.map(t => "pipeline_mix" -> qPipelineMixSql(t))

  private val staticOracleSql: Map[String, String] = Map(
    "text_chunk"               -> qTextChunkSql,
    "text_line_dedup"          -> qTextLineDedupSql,
    "text_pii"                 -> qTextPiiSql,
    "pipeline_stats"           -> qPipelineStatsSql,
    "pipeline_compact"         -> qPipelineCompactSql,
    "agg_embedding_centroid"   -> qAggEmbeddingCentroidSql,
    "embedding_outliers"       -> qEmbeddingOutliersSql,
    "embedding_normalize"      -> qEmbeddingNormalizeSql,
    "pipeline_curriculum"      -> qPipelineCurriculumSql,
    "text_fluency"             -> qTextFluencySql,
    "text_boilerplate"         -> qTextBoilerplateSql,
    "text_classify"            -> qTextClassifySql,
    "multimodal_bmp"           -> qMultimodalBmpSql,
    "multimodal_png"           -> qMultimodalPngSql,
    "multimodal_gif"           -> qMultimodalGifSql,
    "multimodal_jpeg"          -> qMultimodalJpegSql,
    "multimodal_jpeg_progressive" -> qMultimodalJpegProgressiveSql,
    "multimodal_jpeg_color"    -> qMultimodalJpegColorSql,
    "multimodal_wav"           -> qMultimodalWavSql,
    "pipeline_sample_stratified" -> qPipelineSampleStratifiedSql,
    "pipeline_recipe"          -> qPipelineRecipeSql,
    "pipeline_quota"           -> qPipelineQuotaSql,
    "text_decontaminate"       -> qTextDecontaminateSql,
    "text_decontaminate_bloom" -> qTextDecontaminateBloomSql,
    "pipeline_pack"            -> qPipelinePackSql,
    "pipeline_sample_weighted" -> qPipelineSampleWeightedSql,
  )
}
