package graft.sources

import graft.zarr.VPath
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-chunk value statistics (min/max) for one MDIO variable — the
  * connector-side analog of the reference's statsV1 summaries
  * (mdio/stats.h:229-335) and of the CoordinateSelector's value-run pruning
  * (mdio/coordinate_selector.h:302-407), generalized to every chunk of
  * every scalar variable: with current stats on disk, a range predicate on
  * a DATA/COORDINATE VALUE column prunes chunks exactly the way a
  * dimension-index predicate already does, so a `sel`-style value query on
  * a 100 TB store opens only the chunks whose [min, max] can satisfy it
  * (SURVEY §2.2 P10's "chunk-level min/max stats give the same pruning
  * effect").
  *
  * On-disk layout, per variable directory (hidden keys — invisible to
  * zarr readers, excluded from consolidation and from the v2 chunk-file
  * namespace, which never starts with '.'):
  *
  *  - `.mdio_wgen` — the variable's DATA write generation: a plain integer
  *    every data write bumps: the owner shuffle behind
  *    [[MdioWriter.writeVariable]], [[MdioWriter.insertAligned]] and the
  *    DSv2 sink (the one chunk writer, [[MdioDataWriter]]), and trim.
  *  - `.mdio_stats.json` — the MANIFEST: `{"generation": G, "span": S,
  *    "shards": {"0": {"g": g0, "n": n0, "lo": …, "hi": …}, …}}`. Entries
  *    are SHARDED by the chunk key's LEADING dimension index: chunk
  *    `"i.j.k"` lives in shard `i / S`, so a dim-range scan (which prunes
  *    on leading dims first) reads only the shards its leading chunk-index
  *    range intersects, and a write touching one chunk range rewrites
  *    O(range) bytes — at the 100 TB envelope (~1.6 M chunks / variable)
  *    the manifest stays tens of KB and each shard holds
  *    ~[[ShardTargetEntries]] entries. Each shard record carries the
  *    generation at which that shard file was LAST REWRITTEN (`g_s ≤ G`,
  *    the torn-write detector below) plus a content summary — entry count
  *    `n` and bounds union `[lo, hi]` — so a VALUE-predicate scan can skip
  *    whole shards from the manifest alone ([[ShardMeta]]); pre-summary
  *    manifests (bare `"0": g0` numbers) still parse, with the summary
  *    absent.
  *  - `.mdio_stats.s<N>.json` — one shard: `{"generation": g_N, "chunks":
  *    {"0.1": [min,max], "2.0": null, …}}` — per-chunk closed bounds keyed
  *    by the v2-style C-order chunk key; `null` marks an all-NaN chunk (no
  *    finite value — prunable under ANY range predicate, since NaN
  *    satisfies none).
  *  - Legacy monolithic sidecars (`{"generation": G, "chunks": {…}}` in
  *    `.mdio_stats.json` itself) still read; the next [[refresh]] migrates
  *    them to the sharded layout.
  *
  * The generation check is the staleness contract (same optimistic shape
  * as the S10 metadata commit, mdio/variable.h:1522): stats are used for
  * pruning ONLY when `manifest.generation == .mdio_wgen`, and a shard's
  * entries ONLY when the shard file's own generation matches the gen the
  * manifest recorded for it (an interrupted shard rewrite reads as a
  * mismatch, dropping exactly that shard's chunks from pruning — never
  * the others). Write paths that compute fresh stats (the scalar
  * chunk-shuffle write, whose tasks hold each final post-RMW chunk buffer
  * and so know exact bounds for free) publish touched shards THEN the
  * manifest at the new generation — the manifest write is the commit
  * point, so a crash anywhere earlier leaves `manifest.gen < .mdio_wgen`
  * and everything reads as stale; every other mutation path
  * (record/complex writes, trim, external writers that at least bump the
  * generation) leaves the stats behind the generation, and the scan
  * silently falls back to unpruned planning — stale stats can lose
  * pruning, never correctness. Shard files a new manifest no longer lists
  * are dead bytes readers never open; publishers GC them after the
  * manifest commit ([[gcShards]]).
  *
  * Bounds are JSON numbers compared as BigDecimal on the read side, so
  * integral stats stay exact past 2^53 and float stats keep full double
  * precision; non-finite bounds are never written (a chunk whose finite
  * values are absent writes `null`, a chunk holding ±Inf simply omits its
  * entry and stays unprunable — safe).
  *
  * Scale envelope: the sidecar carries one entry per chunk — the same
  * information density as parquet footers. At 100 TB with 64 MB chunks
  * that is ~1.6 M entries (~50 MB) per variable, split across ~400 shards
  * of ~[[ShardTargetEntries]] entries (~128 KB) each: a scan reads the KB
  * manifest plus only the shards its leading dim-range intersects
  * ([[currentFor]]), and a write refreshing one chunk range rewrites only
  * the touched shards plus the manifest ([[refresh]]) — O(range), not
  * O(store). Writers follow the store's existing
  * single-writer-per-variable discipline (concurrent writers to one
  * variable are already torn-chunk UB before stats enter the picture);
  * the generation files make any violation fail SAFE here — last writer
  * wins and anything inconsistent reads as stale. */
object MdioChunkStats {

  val StatsFile = ".mdio_stats.json"
  val GenFile = ".mdio_wgen"

  /** Target entries per shard file when [[write]] derives the span itself:
    * ~4096 entries ≈ 128 KB of JSON — big enough that a 1.6 M-chunk
    * variable is ~400 files, small enough that one shard rewrite is
    * trivially cheap. */
  val ShardTargetEntries = 4096L

  /** An incremental [[refresh]] keeps the manifest's span; once any merged
    * shard drifts past this multiple of [[ShardTargetEntries]] (a store
    * first published small pinned a tiny-lead-derived span and then grew),
    * the refresh re-derives the span with a full republish — restoring the
    * O(range) rewrite guarantee instead of eroding back to a monolith. */
  val SpanDriftFactor = 4L

  /** Shard file name for shard id `s`. */
  def shardFile(s: Long): String = s".mdio_stats.s$s.json"

  /** Leading-dimension chunk index of a v2-style C-order chunk key. */
  private[sources] def leadIdx(key: String): Long = {
    val dot = key.indexOf('.')
    (if (dot < 0) key else key.substring(0, dot)).toLong
  }

  private[sources] def shardOf(key: String, span: Long): Long = leadIdx(key) / span

  /** One shard's manifest record: the generation at which the shard file
    * was last rewritten (the torn-write detector), plus a summary captured
    * at that write — entry `count` and the bounds UNION [lo, hi] over the
    * bounded entries (None when every entry is all-NaN). The summary lets a
    * value-predicate scan prune a WHOLE shard from the manifest alone: when
    * `count` proves full coverage of the shard's lead range and the union
    * cannot satisfy the predicate, none of its chunks can — zero shard
    * files opened. `count = -1` marks a pre-summary manifest (never proves
    * coverage, so manifest-level pruning simply never fires).
    *
    * `cells` (r15) is the Σ of the bounded entries' finite-cell counts
    * (`moments.cnt`), present only when EVERY bounded entry carries
    * moments, and `bounded` the number of bounded (non-all-NaN) entries
    * (-1 on pre-r15 manifests). Together with [lo, hi] they let RANK and
    * RANGE-COUNT questions answer per shard from the manifest alone — the
    * live consumers are [[graft.operators.MdioStats.countInRange]] (a
    * shard whose union lies inside the count range contributes `cells`
    * matching cells without being opened) and the rank family's shared
    * item walk (`MdioStats.RankItems`: the rank bounds L(x)/U(x) of the
    * one rank pass — behind `kthSmallest`, `quantilesOf`,
    * `valuesAtRanks`, the per-box ranks and the percentile pushdown —
    * accumulate whole shards as one [lo,hi]×cells interval, opening only
    * the shards intersecting the final bracket window) — O(manifest)
    * driver bytes for a 100 TB store's median instead of O(chunk
    * entries). Absent fields degrade to opening the shard. A shard whose
    * every entry is all-NaN carries `cells = Some(0)`, `bounded = 0` with
    * no [lo, hi]: PROVEN-ZERO finite cells (consumers must treat it as
    * such), not a coverage anomaly. */
  private[graft] final case class ShardMeta(gen: Long, count: Long,
                                            lo: Option[BigDecimal],
                                            hi: Option[BigDecimal],
                                            cells: Option[Long] = None,
                                            bounded: Long = -1L)

  /** Parsed manifest: generation, shard span, per-shard records.
    * `legacy` carries the chunk map of a pre-shard monolithic sidecar. */
  private[graft] final case class Manifest(gen: Long, span: Long,
                                           shards: Map[Long, ShardMeta],
                                           legacy: Option[Map[String, Entry]])

  /** The remaining statsV1 moments (reference SummaryStats,
    * mdio/stats.h:229-335: count/sum/sumSquares beside min/max) over a
    * chunk's FINITE values, kept EXACT: `sum` is the exact real-number sum
    * of the cells' binary values (Shewchuk partials at write time, see
    * [[ExactSum]]), `sumSq` the exact sum of their exact squares, so
    * merging chunk moments is plain BigDecimal addition — order-free and
    * reproducible, which is what lets SUM/statsV1 over a 100 TB store be
    * answered from metadata without a numerical-reproducibility caveat.
    * Integral chunks whose exact sums overflow the fast path simply omit
    * moments (bounds survive; the SUM pushdown falls back to a scan). */
  final case class Moments(cnt: Long, sum: BigDecimal, sumSq: Option[BigDecimal])

  /** Exact Σ of BigDecimals. scala.math.BigDecimal's `+` rounds every
    * intermediate to its MathContext (34 significant digits by default) —
    * catastrophic under cancellation of large chunk sums — so all moment
    * arithmetic goes through java.math.BigDecimal.add, which is exact. */
  def exactTotal(xs: IterableOnce[BigDecimal]): BigDecimal =
    BigDecimal(xs.iterator.foldLeft(java.math.BigDecimal.ZERO)((a, b) => a.add(b.underlying)))

  /** Bounds over a chunk's FINITE values; `hasNaN` records whether any
    * cell is NaN — irrelevant to range-predicate pruning (NaN satisfies no
    * range) but load-bearing for the metadata MIN/MAX answer, where both
    * engines treat NaN as the greatest double (MAX returns NaN when any
    * cell is NaN; MIN still returns the finite minimum). `moments`, when
    * present, carries the chunk's exact statsV1 moments. */
  final case class Bounds(min: BigDecimal, max: BigDecimal, hasNaN: Boolean = false,
                          moments: Option[Moments] = None)

  /** One chunk's value bounds: None = no finite value in the chunk. */
  type Entry = Option[Bounds]

  /** Current data-write generation of a variable directory (0 = never
    * stamped; pre-stats stores read as generation 0 with no stats file,
    * i.e. never pruned). */
  def generation(varDir: VPath): Long = {
    val f = varDir.resolve(GenFile)
    val bytes = f.readBytesOrNull()
    if (bytes == null) 0L
    else new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** Bump the variable's data generation WITHOUT refreshing stats — the
    * invalidation hook for write paths that do not compute bounds. Any
    * existing stats file is left at its old generation and thereby
    * disabled. Returns the new generation. */
  def bump(varDir: VPath): Long = {
    val next = generation(varDir) + 1
    varDir.resolve(GenFile).writeString(next.toString)
    next
  }

  /** Parse a `"chunks"` object's entry map (shared by shard files and
    * legacy monolithic sidecars). */
  private def parseChunks(j: JValue): Map[String, Entry] = (j \ "chunks") match {
    case JObject(fields) => fields.map { case (k, v) =>
      k -> (v match {
        case JNull => None
        case JArray(List(a, b)) => Some(Bounds(num(a), num(b)))
        case JArray(List(a, b, JBool(n))) => Some(Bounds(num(a), num(b), n))
        case JArray(List(a, b, JBool(n), c, s, s2)) =>
          Some(Bounds(num(a), num(b), n,
            Some(Moments(num(c).toLongExact, num(s),
              if (s2 == JNull) None else Some(num(s2))))))
        case other => throw new IllegalArgumentException(s"bad stats entry $other")
      })
    }.toMap
    case _ => Map.empty[String, Entry]
  }

  private def parseGen(j: JValue): Option[Long] = (j \ "generation") match {
    case JInt(i) => Some(i.toLong)
    case JLong(l) => Some(l)
    case _ => None
  }

  /** Parse a sidecar JSON file with exact decimals (moment sums can carry
    * full binary expansions a double-routed parse would destroy). */
  private def parseFile(f: VPath): Option[JValue] = {
    val bytes = f.readBytesOrNull()
    if (bytes == null) None
    else try Some(JsonMethods.parse(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
      useBigDecimalForDouble = true))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def parseShardGen(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => throw new IllegalArgumentException(s"bad shard gen $other")
  }

  /** Read + validate the manifest (regardless of `.mdio_wgen`). */
  private[graft] def readManifest(varDir: VPath): Option[Manifest] =
    parseFile(varDir.resolve(StatsFile)).flatMap { j =>
      try parseGen(j).map { gen =>
        (j \ "shards") match {
          case JObject(fields) =>
            val span = (j \ "span") match {
              case JInt(i) => i.toLong
              case JLong(l) => l
              case other => throw new IllegalArgumentException(s"bad span $other")
            }
            val metas = fields.map { case (k, v) => k.toLong -> (v match {
              // pre-summary manifests recorded a bare generation
              case JInt(_) | JLong(_) => ShardMeta(parseShardGen(v), -1L, None, None)
              case o: JObject =>
                val n = (o \ "n") match {
                  case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L
                }
                val lo = (o \ "lo") match { case JNothing => None; case x => Some(num(x)) }
                val hi = (o \ "hi") match { case JNothing => None; case x => Some(num(x)) }
                val cells = (o \ "c") match {
                  case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
                  case _ => None
                }
                val nb = (o \ "b") match {
                  case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L
                }
                ShardMeta(parseShardGen(o \ "g"), n, lo, hi, cells, nb)
              case other => throw new IllegalArgumentException(s"bad shard entry $other")
            })}.toMap
            Manifest(gen, math.max(span, 1L), metas, None)
          case _ => // legacy monolith: entries live in the manifest itself
            Manifest(gen, 1L, Map.empty, Some(parseChunks(j)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** TEST HOOK: shard-file reads since JVM start — manifest-level pruning
    * pins that a coverage-proven disjoint-bounds shard is never opened. */
  private[sources] val shardReadCount = new java.util.concurrent.atomic.AtomicLong

  /** Read one shard's entries, validated against the generation the
    * manifest recorded for it — a mismatch (torn/interrupted rewrite)
    * reads as absent, dropping only that shard's chunks. */
  private[graft] def readShard(varDir: VPath, s: Long, expectGen: Long): Map[String, Entry] = {
    shardReadCount.incrementAndGet()
    parseFile(varDir.resolve(shardFile(s))).flatMap { j =>
      try parseGen(j).filter(_ == expectGen).map(_ => parseChunks(j))
      catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(Map.empty)
  }

  /** Read ALL stats regardless of generation: (generation, entries).
    * None when absent or unparseable; torn shards contribute nothing. */
  def read(varDir: VPath): Option[(Long, Map[String, Entry])] =
    readManifest(varDir).map { m =>
      m.gen -> m.legacy.getOrElse(
        m.shards.iterator.flatMap { case (s, sm) => readShard(varDir, s, sm.gen) }.toMap)
    }

  private def num(j: JValue): BigDecimal = j match {
    case JInt(i) => BigDecimal(i)
    case JLong(l) => BigDecimal(l)
    case JDouble(d) => BigDecimal(d)
    case JDecimal(d) => d
    case other => throw new IllegalArgumentException(s"bad stats number $other")
  }

  /** Entries usable for pruning RIGHT NOW: present and generation-current.
    * None ⇒ plan without value pruning. Loads EVERY shard — metadata-only
    * answers (statsV1, MIN/MAX/SUM) need full coverage anyway; range-scoped
    * planning should use [[currentFor]]. */
  def current(varDir: VPath): Option[Map[String, Entry]] =
    read(varDir).filter(_._1 == generation(varDir)).map(_._2)

  /** Are generation-current stats available at all? Manifest-only check —
    * no shard is opened (the planning-time capability probe). */
  def hasCurrent(varDir: VPath): Boolean =
    readManifest(varDir).exists(_.gen == generation(varDir))

  /** The generation-current manifest, or None when stats are stale or
    * absent — the entry point for consumers that resolve shards
    * themselves from the per-shard summaries ([[ShardMeta]]), opening
    * shard files only when the summary cannot decide
    * (countInRange/kthSmallest in [[graft.operators.MdioStats]]). */
  private[graft] def currentManifest(varDir: VPath): Option[Manifest] =
    readManifest(varDir).filter(_.gen == generation(varDir))

  /** Entries usable for pruning RIGHT NOW whose chunks' LEADING dimension
    * chunk index falls in `[leadLo, leadHi]` (inclusive): reads the
    * manifest plus only the intersecting shards — the O(scanned range)
    * read path a dim-sliced scan of a 100 TB variable takes. The returned
    * map may omit chunks outside the range; callers already treat a
    * missing entry as unprunable/uncovered. None ⇒ stats stale or absent. */
  def currentFor(varDir: VPath, leadLo: Long, leadHi: Long): Option[Map[String, Entry]] =
    readManifest(varDir).filter(_.gen == generation(varDir)).map { m =>
      m.legacy.getOrElse {
        val (sLo, sHi) = (leadLo / m.span, leadHi / m.span)
        m.shards.iterator.filter { case (s, _) => s >= sLo && s <= sHi }
          .flatMap { case (s, sm) => readShard(varDir, s, sm.gen) }.toMap
      }
    }

  /** [[currentFor]] with MANIFEST-LEVEL shard pruning for a value
    * predicate: a shard whose summary proves (a) FULL COVERAGE of its lead
    * range — `count` equals `leads-in-range × chunks-per-lead` from the
    * chunk grid — and (b) a bounds union that cannot satisfy `canSatisfy`
    * joins the pruned set WITHOUT being opened: under (a) every chunk
    * filed there has an entry, and under (b) each is either all-NaN
    * (prunable under any range) or bounded inside the union (prunable
    * because the predicate is monotone under interval inclusion). Shards
    * failing either proof load as usual; chunks with no entry anywhere
    * stay unprunable (the caller's missing-entry rule). Returns
    * `(span, prunedShardIds, entries)`; None ⇒ stats stale or absent.
    * This is what keeps a VALUE-ONLY scan of a 100 TB store at O(manifest)
    * sidecar bytes when the predicate is selective — the r12 verdict's
    * "value-predicate scan reads every shard" fix. */
  def currentForPruning(varDir: VPath, leadLo: Long, leadHi: Long,
                        grid: Seq[Long],
                        canSatisfy: (BigDecimal, BigDecimal) => Boolean)
      : Option[(Long, Set[Long], Map[String, Entry])] =
    readManifest(varDir).filter(_.gen == generation(varDir)).map { m =>
      m.legacy match {
        case Some(es) => (1L, Set.empty[Long], es)
        case None =>
          val chunksPerLead = grid.drop(1).product
          val (sLo, sHi) = (leadLo / m.span, leadHi / m.span)
          val pruned = Set.newBuilder[Long]
          val entries = Map.newBuilder[String, Entry]
          m.shards.foreach { case (s, sm) =>
            if (s >= sLo && s <= sHi) {
              val leads = math.min((s + 1) * m.span, grid.head) - s * m.span
              val complete = sm.count >= 0 && leads > 0 &&
                sm.count == leads * chunksPerLead
              val disjoint = (sm.lo, sm.hi) match {
                case (Some(lo), Some(hi)) => !canSatisfy(lo, hi)
                case _ => sm.count > 0 // no bounded entry: every chunk all-NaN
              }
              if (complete && disjoint) pruned += s
              else entries ++= readShard(varDir, s, sm.gen)
            }
          }
          (m.span, pruned.result(), entries.result())
      }
    }

  private def chunksJson(entries: Map[String, Entry]): String = {
    val body = entries.toSeq.sortBy(_._1).map {
      case (k, None) => s""""$k": null"""
      case (k, Some(Bounds(mn, mx, nan, mom))) =>
        val tail = mom match {
          case Some(Moments(c, s, s2)) =>
            val sq = s2.map(_.underlying.toPlainString).getOrElse("null")
            s", $nan, $c, ${s.underlying.toPlainString}, $sq"
          case None => if (nan) ", true" else ""
        }
        s""""$k": [${mn.underlying.toPlainString}, ${mx.underlying.toPlainString}$tail]"""
    }.mkString(", ")
    s"""{$body}"""
  }

  /** Write one shard file and return its manifest record (entry count +
    * bounds union captured from what was just written). */
  private[sources] def writeShardFile(varDir: VPath, s: Long, gen: Long,
                                      entries: Map[String, Entry]): ShardMeta = {
    varDir.resolve(shardFile(s)).writeString(
      s"""{"generation": $gen, "chunks": ${chunksJson(entries)}}""")
    shardMetaOf(gen, entries)
  }

  /** The manifest record summarizing `entries` at write generation `gen`. */
  private[sources] def shardMetaOf(gen: Long, entries: Map[String, Entry]): ShardMeta = {
    var lo: BigDecimal = null
    var hi: BigDecimal = null
    var nb = 0L
    var cells = 0L
    var allMoments = true
    entries.valuesIterator.flatten.foreach { b =>
      if (lo == null || b.min < lo) lo = b.min
      if (hi == null || b.max > hi) hi = b.max
      nb += 1
      b.moments match {
        case Some(m) => cells += m.cnt
        case None => allMoments = false
      }
    }
    ShardMeta(gen, entries.size, Option(lo), Option(hi),
      if (allMoments) Some(cells) else None, nb)
  }

  private[sources] def writeManifest(varDir: VPath, gen: Long, span: Long,
                                     shards: Map[Long, ShardMeta]): Unit = {
    val body = shards.toSeq.sortBy(_._1).map { case (s, sm) =>
      val b = new StringBuilder(s""""$s": {"g": ${sm.gen}""")
      if (sm.count >= 0) b ++= s""", "n": ${sm.count}"""
      sm.lo.foreach(v => b ++= s""", "lo": ${v.underlying.toPlainString}""")
      sm.hi.foreach(v => b ++= s""", "hi": ${v.underlying.toPlainString}""")
      sm.cells.foreach(c => b ++= s""", "c": $c""")
      if (sm.bounded >= 0) b ++= s""", "b": ${sm.bounded}"""
      b ++= "}"
      b.result()
    }.mkString(", ")
    varDir.resolve(StatsFile).writeString(
      s"""{"generation": $gen, "span": $span, "shards": {$body}}""")
  }

  /** Delete shard files a just-committed manifest no longer lists — dead
    * bytes readers would never open, but object stores bill for them. Runs
    * AFTER the manifest write (the commit point), so a crash mid-GC leaves
    * only unreferenced files behind. */
  private[sources] def gcShards(varDir: VPath, prior: Set[Long], kept: Set[Long]): Unit =
    (prior -- kept).foreach { s =>
      try varDir.resolve(shardFile(s)).delete()
      catch { case scala.util.control.NonFatal(_) => () } // best-effort
    }

  /** Shard span targeting ~[[ShardTargetEntries]] entries per shard:
    * entries distribute ~evenly over leading indices `0..maxLead`, so
    * `span ≈ target / (entries per lead)`, clamped to one shard minimum. */
  private[sources] def deriveSpan(merged: Map[String, Entry]): Long = {
    if (merged.isEmpty) return 1L
    deriveSpanOf(merged.size.toLong, merged.keysIterator.map(leadIdx).max)
  }

  /** [[deriveSpan]] from the two scalars it actually needs — the form a
    * DISTRIBUTED publish computes with one aggregate instead of a
    * materialized map ([[MdioStatsPublish]]). */
  private[sources] def deriveSpanOf(entryCount: Long, maxLead: Long): Long = {
    if (entryCount <= 0) return 1L
    val perLead = entryCount.toDouble / (maxLead + 1).toDouble
    math.max(1L, math.ceil(ShardTargetEntries / math.max(perLead, 1.0)).toLong)
  }

  /** Publish stats at generation `gen` (the caller bumped `.mdio_wgen` to
    * `gen` FIRST — a crash between the two leaves stats stale, never
    * wrongly current). `entries` override `prior` per chunk key; every
    * shard of the merged set is rewritten (the full-publish path — partial
    * rewrites go through [[refresh]]). `span` of 0 derives a target-sized
    * span. `gcPrior` lists shard files a superseded manifest referenced;
    * any of them the new manifest does not re-list is deleted after the
    * commit. */
  def write(varDir: VPath, gen: Long, entries: Map[String, Entry],
            prior: Map[String, Entry] = Map.empty, span: Long = 0L,
            gcPrior: Set[Long] = Set.empty): Unit = {
    val merged = prior ++ entries
    val sp = if (span > 0) span else deriveSpan(merged)
    val byShard = merged.groupBy { case (k, _) => shardOf(k, sp) }
    val metas = byShard.map { case (s, ch) => s -> writeShardFile(varDir, s, gen, ch) }
    writeManifest(varDir, gen, sp, metas)
    gcShards(varDir, gcPrior, metas.keySet)
  }

  /** Publish EXACTLY `entries` at a new generation, carrying nothing over —
    * the retention path for mutations that SHRINK the chunk set (trim):
    * surviving chunks keep their exact bounds, dropped/clipped chunks'
    * entries disappear rather than overlay, and shard files the new
    * manifest no longer lists are GC'd. */
  def replace(varDir: VPath, entries: Map[String, Entry], span: Long = 0L): Unit = {
    val g = generation(varDir)
    val prior = readManifest(varDir)
    val next = g + 1
    varDir.resolve(GenFile).writeString(next.toString)
    write(varDir, next, entries, Map.empty, span,
      prior.map(_.shards.keySet).getOrElse(Set.empty))
  }

  /** S11 stat retention for a LEADING-dim trim by MANIFEST SURGERY —
    * O(1) shard I/O instead of [[replace]]'s O(entries) read + O(shards)
    * rewrite. Shards are keyed by the chunk key's leading index over
    * `span` leads each, and a leading-dim trim keeps exactly the chunks
    * with `lead < chunkKeep`, so the boundary cuts the SHARD ID SPACE:
    * shards wholly below it carry into the new manifest BY REFERENCE
    * (old file, old recorded generation, old summary — all still exact,
    * since their entries are untouched), shards wholly past it drop from
    * the manifest and GC, and only the single shard straddling the
    * boundary is read, filtered, and rewritten. A trim of a 100 TB
    * variable (~400 shards) thus opens ONE shard file. Legacy monolithic
    * sidecars filter in place (they are one file by construction); stale
    * or absent stats just bump — today's invalidation.
    * Reference analog: trim republishes metadata, mdio/utils/trim.h:45-117. */
  def trimLeadSurgery(varDir: VPath, chunkKeep: Long): Unit = {
    val g = generation(varDir)
    readManifest(varDir) match {
      case Some(m) if m.gen == g && m.legacy.isEmpty =>
        val next = bump(varDir)
        val kept = Map.newBuilder[Long, ShardMeta]
        m.shards.foreach { case (s, sm) =>
          val lo = s * m.span
          val hiEx = (s + 1) * m.span
          if (hiEx <= chunkKeep) kept += s -> sm // wholly surviving: by reference
          else if (lo < chunkKeep) { // THE boundary shard: filter + rewrite
            val entries = readShard(varDir, s, sm.gen)
              .filter { case (k, _) => leadIdx(k) < chunkKeep }
            if (entries.nonEmpty) kept += s -> writeShardFile(varDir, s, next, entries)
          } // else wholly past the boundary: dropped (then GC'd)
        }
        val metas = kept.result()
        writeManifest(varDir, next, m.span, metas)
        gcShards(varDir, m.shards.keySet, metas.keySet)
      case Some(m) if m.gen == g => // legacy monolith: one file either way
        replace(varDir, m.legacy.get.filter { case (k, _) => leadIdx(k) < chunkKeep })
      case _ => bump(varDir) // stale/absent: invalidate only
    }
  }

  /** The refresh used by stats-aware writers: bump the generation, carry
    * over prior entries IF they were current (untouched chunks keep exact
    * bounds across an RMW pass), overlay the fresh entries, publish.
    * Against a current sharded sidecar this rewrites ONLY the shards the
    * fresh entries touch plus the manifest — O(touched range) bytes;
    * untouched shard files are carried by reference (their recorded
    * generations AND content summaries survive in the new manifest) —
    * unless a merged shard has drifted past [[SpanDriftFactor]]× the
    * target size, in which case the span re-derives with a full republish.
    * Stale/absent/legacy prior states fall back to a full sharded publish
    * (whose GC then deletes any shard files the dead manifest listed). */
  /** REPLACE whole shards with corrected content — the fsck repair's
    * publish: each touched shard's content is given IN FULL (so junk or
    * beyond-grid entries the merge-based [[refresh]] would carry forward
    * are gone), untouched shards carry by reference with their recorded
    * generations and summaries, and the generation bumps so the repaired
    * sidecar is current. Requires a generation-current sharded manifest
    * (legacy monoliths are small — rewrite the variable instead). */
  private[graft] def replaceShards(varDir: VPath,
                                   touched: Map[Long, Map[String, Entry]]): Unit = {
    val g = generation(varDir)
    val m = readManifest(varDir).getOrElse(
      throw new IllegalStateException(s"no stats manifest to repair at $varDir"))
    require(m.gen == g && m.legacy.isEmpty,
      "repair publish requires a generation-current sharded manifest")
    val next = g + 1
    varDir.resolve(GenFile).writeString(next.toString)
    val newMetas = touched.map { case (s, es) => s -> writeShardFile(varDir, s, next, es) }
    writeManifest(varDir, next, m.span, m.shards ++ newMetas)
  }

  def refresh(varDir: VPath, entries: Map[String, Entry], span: Long = 0L): Unit = {
    val g = generation(varDir)
    val mOpt = readManifest(varDir)
    val next = g + 1
    varDir.resolve(GenFile).writeString(next.toString)
    mOpt match {
      case Some(m) if m.gen == g && m.legacy.isEmpty && (span <= 0 || span == m.span) =>
        val touched = entries.groupBy { case (k, _) => shardOf(k, m.span) }
        val merged = touched.map { case (s, es) =>
          val priorShard = m.shards.get(s)
            .map(sm => readShard(varDir, s, sm.gen)).getOrElse(Map.empty[String, Entry])
          s -> (priorShard ++ es)
        }
        if (merged.valuesIterator.exists(_.size > SpanDriftFactor * ShardTargetEntries)) {
          // span drift: re-derive and fully republish (ADVICE r12)
          val priorAll = m.shards.iterator
            .flatMap { case (s, sm) => readShard(varDir, s, sm.gen) }.toMap
          write(varDir, next, entries, priorAll, 0L, m.shards.keySet)
        } else {
          val newMetas = merged.map { case (s, es) => s -> writeShardFile(varDir, s, next, es) }
          writeManifest(varDir, next, m.span, m.shards ++ newMetas)
        }
      case Some(m) if m.gen == g => // legacy monolith (or span change): full republish
        write(varDir, next, entries, m.legacy.getOrElse(
          m.shards.iterator.flatMap { case (s, sm) => readShard(varDir, s, sm.gen) }.toMap),
          span, m.shards.keySet)
      case prior => // stale or absent prior: nothing carries over
        write(varDir, next, entries, Map.empty, span,
          prior.map(_.shards.keySet).getOrElse(Set.empty))
    }
  }

  /** The exact binary expansion of a double as a BigDecimal (NOT the
    * shortest round-trip form `BigDecimal(d)` gives — moment arithmetic
    * needs the true value). */
  def exactBD(d: Double): BigDecimal = BigDecimal(new java.math.BigDecimal(d))

  /** Exactly-rounded streaming sum of doubles via Shewchuk's non-overlapping
    * partials (the msum/fsum algorithm, "Adaptive Precision Floating-Point
    * Arithmetic and Fast Robust Geometric Predicates", Shewchuk 1997 —
    * the same algorithm behind Python's `math.fsum`): after any sequence of
    * `add`s the partials sum EXACTLY (as real numbers) to the running total,
    * so `toBigDecimal` is the exact real-number sum of every input in any
    * order — ~2-3 flops per element, a handful of live partials. Finite
    * inputs only (callers skip NaN and abandon stats on ±Inf). */
  final class ExactSum {
    private var partials = new Array[Double](8)
    private var n = 0

    def add(v: Double): Unit = {
      var x = v
      var i = 0
      var j = 0
      while (j < n) {
        var y = partials(j)
        if (math.abs(x) < math.abs(y)) { val t = x; x = y; y = t }
        val hi = x + y
        val lo = y - (hi - x) // exact: |x| >= |y| ⇒ Dekker fast-two-sum
        if (lo != 0.0) {
          if (i >= partials.length)
            partials = java.util.Arrays.copyOf(partials, partials.length * 2)
          partials(i) = lo
          i += 1
        }
        x = hi
        j += 1
      }
      if (i >= partials.length)
        partials = java.util.Arrays.copyOf(partials, partials.length * 2)
      partials(i) = x
      n = i + 1
    }

    /** Add the EXACT square of `v`: Dekker/FMA two-product splits v*v into
      * a rounded head and its exact residual, both fed to the partials. */
    def addSquare(v: Double): Unit = {
      val hi = v * v
      val lo = Math.fma(v, v, -hi) // exact residual of the product
      add(hi)
      if (lo != 0.0) add(lo)
    }

    /** False when accumulation overflowed double range (a partial hit ±Inf
      * or NaN) — the exact sum is unrepresentable and must be discarded. */
    def valid: Boolean = {
      var j = 0
      while (j < n) {
        val p = partials(j)
        if (p.isInfinite || p.isNaN) return false
        j += 1
      }
      true
    }

    /** The exact real-number sum of everything added so far. */
    def toBigDecimal: BigDecimal = {
      var s = java.math.BigDecimal.ZERO
      var j = 0
      while (j < n) {
        if (partials(j) != 0.0) s = s.add(new java.math.BigDecimal(partials(j)))
        j += 1
      }
      BigDecimal(s)
    }
  }
}
