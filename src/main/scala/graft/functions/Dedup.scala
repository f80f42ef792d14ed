package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.LineageCut.CutOps

/** Deduplication operators for training-data pipelines, all expressed as
  * shuffle-minimal DataFrame transforms:
  *
  *  - exact: one hash-groupBy (map-side partial agg, single shuffle);
  *  - MinHash+LSH: shingle → minhash signature (map-only) → band buckets
  *    (one shuffle on band key) → candidate pairs verified by true Jaccard.
  *    At 100 TB only the (band, hash) buckets shuffle — never N² pairs;
  *  - SimHash: 64-bit signature, map-only; near-dup = same signature bucket
  *    (or Hamming-adjacent probes);
  *  - n-gram Jaccard: exact verification used inside LSH buckets, also
  *    exposed standalone with a blocking key to bound the quadratic term.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id (stable
    * canonical representative). Returns (keep_id, n_dups). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** k-token shingles of a text column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextFunctions.tokens(text)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
  }

  /** MinHash signature: for each of `n` hash families, the min of
    * xxhash64(seed_j, shingle). Pure column expression, map-only. */
  def minhashSignature(shinglesCol: Column, n: Int): Column =
    array((0 until n).map { j =>
      array_min(transform(shinglesCol, sh => xxhash64(lit(j), sh)))
    }: _*)

  /** Exact Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)).cast("double"), lit(1.0))

  /** MinHash+LSH near-duplicate pairs: returns (id_a, id_b, jaccard) with
    * id_a < id_b and true Jaccard >= threshold.
    *
    * Plan shape at scale: one map stage (shingle+sign), one explode, one
    * shuffle on (band, bucket), a self-join confined to same-bucket rows
    * (bucket cardinality is bounded), then exact verification. Candidate
    * pairs are DEDUPED BEFORE verification — a pair colliding in many
    * bands is verified once, not once per band — and a size-ratio
    * prefilter drops pairs that provably cannot reach the threshold
    * (J(A,B) >= t implies |A| >= t|B| and |B| >= t|A|).
    *
    * NOTE: constructing this DataFrame runs the candidate-generation job
    * EAGERLY (banding self-join → small materialized candidate set via
    * localCheckpoint) so the cached banded table can be released
    * immediately — the deliberate trade against leaking a
    * session-lifetime cache entry per invocation. */
  /** (id, band, bucket) banding of minhash signatures: band key = the raw
    * signature slice (portable; no re-hash needed — array equality is the
    * bucket identity in Spark and DuckDB alike). `sh` must carry (id, sig).
    * private[graft] so DedupSpec can count candidates at two corpus sizes
    * — the empirical sub-quadratic gate. */
  private[graft] def minhashBanded(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sh.withColumn("band", explode(array((0 until bands).map(lit(_)): _*)))
      .withColumn("bucket", slice(col("sig"), col("band") * rows + 1, lit(rows)))
      .select(col("id"), col("band"), col("bucket"))
  }

  /** (id, sig) minhash signatures over distinct word shingles; docs with
    * no shingles are excluded up front (both engines). */
  private[graft] def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                                       numHashes: Int, shingleK: Int): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    // spread BEFORE the shingle/signature kernels: the corpus scan is a
    // single split, and without the exchange the whole per-row pipeline
    // (tokenize, n-grams, 16 minhash families) runs on one core.
    //
    // The no-shingle exclusion is written as `__text IS NOT NULL` BELOW
    // the spread, not `size(sh) >= 1` above it: the two are exactly
    // equivalent — split() of ANY non-null string returns >= 1 token
    // (even "" gives [""]), the ngram kernel emits max(len-k+1, 1) grams
    // for a non-empty token array, and array_distinct preserves
    // non-emptiness, so sh is empty-or-null iff __text is null — and the
    // size(sh) form sank below the repartition under predicate pushdown
    // with the WHOLE kernel substituted in, re-running shingling
    // single-task in the scan stage (r19's known residue). IsNotNull
    // reaches the parquet scan as a pushed filter instead.
    Spread.byKey(df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .filter(col("__text").isNotNull), col("id"))
      .select(col("id"),
        array_distinct(call_function("word_ngrams",
          TextFunctions.tokens(col("__text")), lit(shingleK))).as("sh"))
      .withColumn("sig", call_function("minhash_poly", col("sh"), lit(numHashes)))
  }

  /** Deduped same-(band, bucket) candidate pairs (id_a < id_b) from an
    * (id, band, bucket) table. The banded table persists for the
    * two-sided self-join, the (small by construction) candidate set
    * materializes eagerly (localCheckpoint), and the cache releases
    * immediately — the deliberate trade against leaking a
    * session-lifetime cache entry per invocation. */
  private[graft] def candidatePairs(banded0: DataFrame): DataFrame =
    candidatePairsKeyed(banded0, Seq("band", "bucket"))

  /** [[candidatePairs]] generalized to an arbitrary bucket key (e.g.
    * scope+band+bucket for cluster-scoped passes) with an optional
    * per-bucket population cap: a bucket larger than `maxBucketSize`
    * contributes O(bucket²) candidate pairs, so at scale a hot bucket
    * (all-zero embeddings, a template cluster) is dropped whole rather
    * than detonating the self-join — the same posting-skew bound as
    * `maxShingleDf` on the Jaccard path. Default = no cap (exact). */
  private[graft] def candidatePairsKeyed(banded0: DataFrame, keys: Seq[String],
                                         maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded = banded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kcols = keys.map(col)
    val bounded =
      if (maxBucketSize == Int.MaxValue) banded
      else banded.join(
        banded.groupBy(kcols: _*).agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz"),
        keys)
    val cand = bounded.select(kcols :+ col("id").as("id_a"): _*)
      .join(bounded.select(kcols :+ col("id").as("id_b"): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .lineageCut
    banded.unpersist()
    cand
  }

  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, bands: Int = 4,
                 shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    // minhash_poly = the PORTABLE polynomial hash family (not xxhash64),
    // so the whole pipeline — signatures, band keys, verified pairs — is
    // reproducible in DuckDB SQL and sits on the oracle
    val sh = minhashSignatures(df, idCol, textCol, numHashes, shingleK)
    val cand = candidatePairs(minhashBanded(sh, numHashes, bands))
    val sets = sh.select(col("id"), col("sh"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .filter(size(col("sh_a")) >= lit(threshold) * size(col("sh_b")) &&
              size(col("sh_b")) >= lit(threshold) * size(col("sh_a")))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash-LSH: near-dup pairs introduced by a NEW batch —
    * new-vs-existing and new-vs-new — without re-banding or re-verifying
    * the existing corpus against itself. `existing` carries (id, sh, sig)
    * rows as produced by [[minhashSignatures]] (persist that projection
    * from prior runs; signatures are deterministic, so stored and fresh
    * ones agree). This is the nightly-crawl shape at 100 TB: each
    * increment costs O(new + touched buckets), not O(corpus²) — the
    * existing side is only ever probed through the banded equi-join, and
    * only existing docs sharing a bucket with a new doc are verified.
    * Returns (id_new, id_other, jaccard) with true Jaccard >= threshold;
    * for new-vs-new pairs id_new < id_other. */
  def minhashLshIncremental(newDf: DataFrame, idCol: String, textCol: String,
                            existing: DataFrame,
                            numHashes: Int = 16, bands: Int = 4,
                            shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    val shNew = minhashSignatures(newDf, idCol, textCol, numHashes, shingleK)
    val bandedNew = minhashBanded(shNew, numHashes, bands)
    val bandedOld = minhashBanded(existing.select(col("id"), col("sig")), numHashes, bands)
      .withColumn("is_new", lit(false))
    val probe = bandedNew.withColumn("is_new", lit(true)).unionByName(bandedOld)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one banded equi-join, anchored on the new side: new-new pairs once
    // (id <), new-old pairs in (new, old) orientation
    val cand = probe.filter(col("is_new"))
      .select(col("band"), col("bucket"), col("id").as("id_new"))
      .join(probe.select(col("band"), col("bucket"), col("id").as("id_other"),
        col("is_new").as("other_new")), Seq("band", "bucket"))
      .filter(!col("other_new") || col("id_new") < col("id_other"))
      .select("id_new", "id_other").distinct()
      .lineageCut
    probe.unpersist()
    val newSets = shNew.select(col("id"), col("sh"))
    val allSets = newSets.unionByName(existing.select(col("id"), col("sh")))
    cand
      .join(newSets.select(col("id").as("id_new"), col("sh").as("sh_a")), Seq("id_new"))
      .join(allSets.select(col("id").as("id_other"), col("sh").as("sh_b")), Seq("id_other"))
      .filter(size(col("sh_a")) >= lit(threshold) * size(col("sh_b")) &&
              size(col("sh_b")) >= lit(threshold) * size(col("sh_a")))
      .select(col("id_new"), col("id_other"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-dup pairs: the step that turns
    * pairwise dedup output into KEEP/DROP decisions (all transitively
    * linked docs form one cluster; keep the min id). Each round combines
    * min-label propagation (every node takes the min of its own and its
    * neighbors' labels) with a POINTER-DOUBLING shortcut
    * (`label(u) := label(label(u))` — label values are node ids, so the
    * label table self-joins): propagation alone needs O(component
    * diameter) synchronous rounds, which a high-diameter graph (10M-node
    * path) turns into thousands; the shortcut halves remaining label-tree
    * depth each round, giving O(log diameter) convergence — the
    * hash-to-min bound — so maxIter=25 covers any graph below 2^25
    * diameter. Shortcutting preserves both invariants propagation relies
    * on: label(u) stays within u's component, and labels only decrease
    * (label(u)=w implies label(w) <= w). Each round is two joins + one
    * aggregate; `localCheckpoint` cuts the growing lineage (the standard
    * Spark iterative-algorithm discipline). Deterministic: labels are min
    * ids, independent of partitioning and iteration internals. Throws if
    * `maxIter` rounds don't reach the fixpoint — loud, never silently
    * wrong.
    *
    * Returns (id, label) for every id appearing in `pairs`, where label
    * = the component's minimum id. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    val shufPart = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    // pre-partition the (static) symmetric edge table by the PROBE key v:
    // the checkpoint preserves the partitioning, so every round's
    // neighbor join reuses it instead of re-shuffling the edges — the
    // "two operations keyed the same way share one exchange" rule
    // (optimization guide §2.4), applied across all O(log d) rounds.
    // The round partition count is the fixed session width `shufPart`:
    // an explicit repartition is exempt from AQE coalescing, so even a
    // small dedup graph runs every round at full width.
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().repartition(shufPart, col("v")).sortWithinPartitions("v").lineageCut
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")).lineageCut
    var converged = false
    var iter = 0
    // coalesce to 0: an EMPTY pair set (legal — e.g. a cluster-scoped
    // dedup pass that found nothing) must converge immediately, not NPE
    def checksum(l: DataFrame): java.math.BigDecimal =
      l.agg(coalesce(sum(col("label")), lit(0L)).cast("decimal(38,0)")).head.getDecimal(0)
    var sumNow = checksum(labels)
    while (!converged && iter < maxIter) {
      // min-label propagation as ONE aggregation: every node's own label
      // rides the union, so groupBy-min == the old left-join + least()
      // (identical labels, one fewer join per round — guide §2.4)
      val propagated = sym
        .join(labels.select(col("id").as("v"), col("label").as("vl")), Seq("v"))
        .select(col("u"), col("vl"))
        .unionByName(labels.select(col("id").as("u"), col("label").as("vl")))
        .groupBy(col("u")).agg(min(col("vl")).as("label"))
        .select(col("u").as("id"), col("label"))
      // pointer doubling: label := label(label). Every label value is a
      // node id present in the table, so the left join always matches;
      // coalesce is belt-and-braces.
      val next = propagated
        .join(propagated.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
        .lineageCutLazy
      // labels only ever decrease, so an unchanged sum IS the fixpoint.
      // The checksum action ALSO materializes the lazy checkpoint — one
      // job per round, not a checkpoint job plus a checksum job.
      val sumNext = checksum(next)
      converged = sumNext.compareTo(sumNow) == 0
      sumNow = sumNext
      labels = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — label-tree " +
        "depth exceeds maxIter (log2 of component diameter); raise it")
    labels
  }

  /** Asymmetric CONTAINMENT near-dups: ordered pairs (a, b) where
    * C(A,B) = |A∩B| / |A| >= threshold — document A's shingles mostly
    * appear in B (quotation, excerpting, doc-in-doc), which symmetric
    * Jaccard misses whenever |B| >> |A| (the union term drowns the
    * overlap). The detection RefinedWeb-style pipelines run alongside
    * symmetric dedup.
    *
    * Same inverted-index shape as [[ngramJaccardDups]]' dense branch:
    * postings join on (block, shingle), |A∩B| from the group-by, with the
    * size prune |B| >= t·|A| folded into the join (C >= t is impossible
    * below it, since |A∩B| <= |B|). Exact vs the quadratic definition;
    * emits (id_a, id_b, containment) ordered pairs, both directions when
    * both hold. */
  def containmentDups(df: DataFrame, idCol: String, textCol: String,
                      blockCol: Column, shingleK: Int = 3,
                      threshold: Double = 0.5): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    // spread BEFORE shingling: the posting self-join otherwise rides the
    // single-split corpus scan — probe + pair aggregation on one core
    val base = Spread.byKey(
        df.select(col(idCol).as("id"), blockCol.as("block"), col(textCol).as("__text")),
        col("id"))
      .select(col("id"), col("block"),
        array_distinct(call_function("word_ngrams",
          TextFunctions.tokens(col("__text")), lit(shingleK))).as("sh"))
      .withColumn("sz", size(col("sh")))
    val posting = base.select(col("block"), col("id"), col("sz"), explode(col("sh")).as("g"))
    posting.alias("a")
      .join(posting.alias("b"),
        col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
          col("a.id") =!= col("b.id") &&
          col("b.sz").cast("double") >= lit(threshold) * col("a.sz").cast("double"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.sz").as("sz_a"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          greatest(col("sz_a").cast("double"), lit(1.0))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Shared-SUBSTRING near-dups via WINNOWING fingerprints (the MOSS
    * local-sampling scheme): each doc contributes the distinct minima of
    * every `window` consecutive k-gram rolling hashes of its character
    * stream — a bounded sample with the guarantee that any shared
    * substring of length ≥ window+k−1 yields at least one shared
    * fingerprint. This is the character-level exact-substring detector
    * (copied passages, boilerplate runs, license blocks) that token-level
    * Jaccard/minhash miss when the copy is a small fraction of the doc.
    *
    * Scale shape: fingerprinting is map-only (one O(n) codegen kernel per
    * doc, [[graft.expressions.TextKernels.winnow]]); candidate generation
    * is a posting self-join on the fingerprint key, bounded by `maxDf` —
    * fingerprints seen in more than `maxDf` docs are corpus-common
    * boilerplate (" the ", headers) and are cut loud-ly by the df filter,
    * the same skew cap as [[ngramJaccardDups]]. Pairs must share at least
    * `minShared` fingerprints, cutting chance collisions. Never N²: the
    * join fan-out is ≤ maxDf² per fingerprint. Emits (id_a, id_b,
    * shared_fps) with id_a < id_b. */
  def winnowDups(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, window: Int = 4, minShared: Int = 2,
                 maxDf: Int = 64): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    val norm = regexp_replace(trim(col("__text")), "\\s+", " ")
    // kernel output is already distinct per doc — no per-doc dedup shuffle.
    // spread first: the rolling-hash fingerprint kernel is the hot loop
    // and otherwise runs on the corpus scan's single split
    val post = Spread.byKey(
        df.select(col(idCol).as("id"), col(textCol).as("__text")), col("id"))
      .select(col("id"),
        explode(call_function("winnow_fps", norm, lit(k), lit(window))).as("fp"))
    val keep = post.groupBy(col("fp"))
      .agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") >= 2 && col("df_cnt") <= maxDf)
      .select(col("fp"))
    val p = post.join(keep, Seq("fp"))
    p.alias("a")
      .join(p.alias("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** CASCADE near-dup detection: cheap lexical candidate generation,
    * SEMANTIC verification — candidate pairs come from the minhash bands
    * (recall; never quadratic), and only pairs whose EMBEDDINGS agree
    * (exact cosine >= minCos) survive (precision). The production
    * pattern when lexical overlap alone over-triggers: boilerplate/
    * template pages share tokens while meaning differs, and the
    * embedding gate is what tells them apart.
    *
    * Scale shape: banding is the [[minhashLsh]] machinery (candidates ~
    * linear on clustered corpora, spec-gated); the embedding attach is
    * two keyed joins; cosine is the codegen'd `cosine_vec` kernel on
    * only the candidate pairs. Emits (id_a, id_b, cos), id_a < id_b. */
  def cascadeDups(docs: DataFrame, embeddings: DataFrame,
                  idCol: String, textCol: String,
                  vecIdCol: String, vecCol: String,
                  numHashes: Int = 16, bands: Int = 8, shingleK: Int = 2,
                  minCos: Double = 0.9): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val cand = candidatePairs(minhashBanded(
      minhashSignatures(docs, idCol, textCol, numHashes, shingleK),
      numHashes, bands))
    val vecs = embeddings.select(col(vecIdCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    cand
      .join(vecs.select(col("vid").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("cosine_vec", col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Pairs + a quality score → per-document KEEP/DROP decisions: cluster
    * with [[connectedComponents]], then keep the HIGHEST-quality member
    * of each cluster (ties by min id) — the pick-the-best-copy dedup
    * policy. Min-id keep (the [[exactDups]] convention) discards
    * better-written duplicates whenever the best copy happens to carry a
    * larger id; production pipelines resolve clusters by quality.
    *
    * Returns (id, label, keep) for every id appearing in `pairs`
    * (documents in no pair are trivially kept and not emitted).
    *
    * Scale shape: the label table only holds documents that occur in
    * dup pairs (a small fraction of the corpus); one equi-join attaches
    * scores, one window per cluster picks the keeper — no corpus-wide
    * shuffle beyond the join on id. */
  def keepBest(pairs: DataFrame, aCol: String, bCol: String,
               docs: DataFrame, idCol: String, score: Column,
               maxIter: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = connectedComponents(pairs, aCol, bCol, maxIter)
    val scored = labels.join(
      docs.select(col(idCol).cast("long").as("id"), score.as("__score")), Seq("id"))
    scored
      .withColumn("keep", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("__score").desc, col("id").asc)) === 1)
      .select(col("id"), col("label"), col("keep"))
  }

  /** 64-bit SimHash of the token stream: bit j is the sign of
    * sum_i(+1/-1 by bit j of xxhash64(token_i)). Single pass, map-only:
    * one aggregate per bit over the hashed-token array. */
  def simhash(text: Column): Column = {
    val hashes = transform(TextFunctions.tokens(text), t => xxhash64(t))
    (0 until 64).map { j =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** SimHash near-dup groups: documents sharing an identical signature.
    * Uses the native single-pass `simhash64` Catalyst expression
    * ([[graft.expressions.SimHash64]]) — one JVM loop per row instead of
    * 64 interpreted lambda aggregates, inside whole-stage codegen.
    * (Hamming-distance-1 probing = 64 extra bucket keys per doc; not
    * needed for the corpus, same plan shape.) */
  def simhashDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    // simhash_poly = the portable polynomial family (62-bit), so the
    // signature — and therefore the groups — reproduce in DuckDB SQL
    df.select(col(idCol).as("id"),
        call_function("simhash_poly", TextFunctions.tokens(col(textCol))).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keep_id"))
      .filter(col("n_docs") > 1)
  }

  /** Exact n-gram Jaccard near-dups within a blocking key, via an INVERTED
    * INDEX instead of a quadratic block self-join: explode each document's
    * distinct shingles into postings, join postings on (block, shingle),
    * and count co-occurrences — |A∩B| arrives from the group-by, and
    * |A∪B| = |A|+|B|-|A∩B|, so no per-pair array intersection ever runs
    * and only pairs sharing at least one shingle materialize at all.
    *
    * At 100 TB this is the standard exact-verification shape: the posting
    * join shuffles on (block, shingle) — skew on ultra-common shingles is
    * the known hazard, handled by AQE skew-join splitting; results are
    * identical to the naive quadratic definition. */
  def ngramJaccardDups(df: DataFrame, idCol: String, textCol: String,
                       blockCol: Column, shingleK: Int = 3,
                       threshold: Double = 0.5,
                       maxShingleDf: Int = 0): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    // spread BEFORE shingling: the posting self-join otherwise rides the
    // single-split corpus scan — probe + pair aggregation on one core
    // (r19 profile: 8.8 s of dedup_ngram_jaccard's 10.7 s in that 1-task
    // stage)
    val base = Spread.byKey(
        df.select(col(idCol).as("id"), blockCol.as("block"), col(textCol).as("__text")),
        col("id"))
      .select(col("id"), col("block"),
        array_distinct(call_function("word_ngrams",
          TextFunctions.tokens(col("__text")), lit(shingleK))).as("sh"))
      .withColumn("sz", size(col("sh")))
    val allPostings = base.select(col("block"), col("id"), col("sz"), explode(col("sh")).as("g"))
    val dfTab = allPostings.groupBy(col("block"), col("g")).agg(count(lit(1)).as("df"))
    // optional document-frequency cap (`maxShingleDf` > 0): drop grams
    // appearing in more than that many documents of a block — the
    // standard stop-shingle filter. BOUNDS the worst-case posting join
    // (a gram's join contribution is df², so the cap caps per-key work
    // at maxShingleDf² regardless of corpus skew). Results are IDENTICAL
    // to the exact definition when no gram exceeds the cap; when one
    // does, pairs sharing only ultra-common grams are dropped and capped
    // shared grams leave the intersection count (documented
    // approximation, the usual trade at 100 TB).
    if (threshold >= 0.5 && maxShingleDf <= 0) {
      // SELECTIVE regime — AllPairs/PPJoin PREFIX filtering (Bayardo et
      // al. 2007): under the global (df, gram) order, a pair with J >= t
      // must share a gram within BOTH docs' first (sz - ceil(t*sz) + 1)
      // grams, so only those (the doc's RAREST grams) are indexed — the
      // df² hot keys of the posting self-join largely vanish from the
      // index while results stay exact (equivalence with the naive
      // definition is spec-pinned). The 1e-9 guard rounds ceil's argument
      // DOWN at float boundaries — a longer prefix is always safe, a
      // shorter one is not. Below t=0.5 the prefix keeps most postings
      // and candidate density dominates anyway, so the posting-count
      // branch below is the faster EXACT plan there (measured).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("block"), col("id")).orderBy(col("df"), col("g"))
      val prefix = allPostings.join(dfTab, Seq("block", "g"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <=
          col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)).cast("int") + 1)
        .select(col("block"), col("g"), col("id"), col("sz"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // size-ratio prefilter inside the join: J >= t forces t*|B| <= |A|
      val cand = prefix.alias("a")
        .join(prefix.alias("b"),
          col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
            col("a.id") < col("b.id") &&
            col("a.sz") >= lit(threshold) * col("b.sz") &&
            col("b.sz") >= lit(threshold) * col("a.sz"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
        .lineageCut
      prefix.unpersist()
      // exact verification on the full shingle arrays (deduped candidates:
      // one array intersection per pair, not one per shared gram)
      val sets = base.select(col("id"), col("sh"))
      cand
        .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            greatest((size(col("sh_a")) + size(col("sh_b")) -
              size(array_intersect(col("sh_a"), col("sh_b")))).cast("double"), lit(1.0)))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      // DENSE regime (low threshold, where most pairs are candidates
      // anyway) and capped runs: count shared grams directly in the
      // posting-join aggregation — |A∩B| from the group-by, |A∪B| =
      // |A|+|B|-|A∩B|, no per-pair array intersection, no second pass.
      val posting =
        if (maxShingleDf <= 0) allPostings
        else allPostings.join(dfTab.filter(col("df") <= maxShingleDf)
          .select("block", "g"), Seq("block", "g"), "left_semi")
      posting.alias("a")
        .join(posting.alias("b"),
          col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
            col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
                 col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("inter"))
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") /
            greatest((col("sz_a") + col("sz_b") - col("inter")).cast("double"), lit(1.0)))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Embedding-cosine near-duplicates via BANDED hyperplane signatures —
    * the same blocking shape as [[minhashLsh]]: each band hashes the
    * vector with its own independent set of `bitsPerBand` hyperplanes,
    * candidates are pairs colliding in ANY band, deduped before the
    * (expensive) exact cosine verification.
    *
    * Scale math: one band of b bits partitions N vectors into 2^b buckets,
    * so the within-bucket join is ~N²/2^b — banding lets b grow (small
    * buckets, sub-quadratic) while `bands` independent probes restore
    * recall (miss probability (1-p^b)^bands for per-bit agreement p).
    * A single wide bucket key would trade recall for nothing: this is the
    * standard sign-LSH banding from the MinHash literature applied to
    * random hyperplanes. Like [[minhashLsh]], CONSTRUCTION eagerly
    * materializes the (small) candidate set so the cached banded table
    * releases immediately instead of leaking for the session. */
  /** (id, band, bucket) sign-LSH banding of an (id, v) embedding table:
    * independent hyperplane family per band (seed offset), one explode. */
  private[graft] def embeddingBanded(base: DataFrame, bands: Int,
                                     bitsPerBand: Int, dim: Int): DataFrame =
    base.withColumn("bb", explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          Vectors.lshBucketNative(col("v"), bitsPerBand, dim,
            seed = 42L + 7919L * bnd).as("bucket"))
      }: _*)))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  def embeddingCosineDups(df: DataFrame, idCol: String, vecCol: String,
                          bands: Int = 8, bitsPerBand: Int = 12,
                          threshold: Double = 0.95, dim: Int = 64): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    candidatePairs(embeddingBanded(base, bands, bitsPerBand, dim))
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("cosine_vec", col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** [[embeddingCosineDups]] SCOPED by a partition assignment (the
    * SemDeDup shape: only near-dups inside a semantic cluster are
    * redundant). `scope` is an (idCol → scopeCol) assignment table; the
    * scope id joins INTO the LSH bucket key, so cross-scope pairs are
    * pruned at candidate GENERATION — identical output to generating
    * globally and post-filtering on scope equality (a same-scope LSH
    * collision is in the same scoped bucket by construction), but the
    * self-join never materializes cross-scope candidates. At 100 TB that
    * is the difference between buckets of N/2^b and buckets of
    * N/(K·2^b): scaling K with the corpus keeps per-bucket work constant.
    * `maxBucketSize` additionally caps any single scoped bucket's
    * population (hot-cluster/degenerate-embedding skew bound); the
    * default is exact. */
  def embeddingCosineDupsScoped(df: DataFrame, idCol: String, vecCol: String,
                                scope: DataFrame, scopeIdCol: String, scopeCol: String,
                                bands: Int = 8, bitsPerBand: Int = 12,
                                threshold: Double = 0.95, dim: Int = 64,
                                maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val scoped = embeddingBanded(base, bands, bitsPerBand, dim)
      .join(scope.select(col(scopeIdCol).as("id"), col(scopeCol).as("scope")), Seq("id"))
    candidatePairsKeyed(scoped, Seq("scope", "band", "bucket"), maxBucketSize)
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("cosine_vec", col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
