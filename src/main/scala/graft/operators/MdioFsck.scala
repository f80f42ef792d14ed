package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Store audit — the `fsck` of an MDIO store (reference analog: the
  * spec-level checks of `mdio/dataset_validator.h`, extended to the parts
  * a RUNNING store can corrupt: the stats sidecar, the shard manifest,
  * and the chunk inventory). Every storage engine needs one; at 100 TB it
  * must audit without funneling data OR metadata through the driver: the
  * sidecar's shard files parse EXECUTOR-SIDE (one task per batch of shard
  * ids — the per-shard summary checks, per-entry checks, and the expected
  * side of the stats recompute all derive from that distributed parse),
  * the expensive recompute arm joins two distributed frames, and only
  * FINDINGS come back. Driver memory stays at O(manifest + findings) —
  * never the ~1.6 M chunk entries of the envelope (the legacy monolithic
  * sidecar is the one exception: its entries ARE the manifest).
  *
  * Checks, per variable:
  *  1. metadata sanity: dimension names resolve, chunk grid positive.
  *  2. sidecar audit (distributed over shard files): manifest parses
  *     (driver, O(shards)); every shard file loads at its recorded
  *     generation (a torn shard is an ERROR); every entry's key parses,
  *     lies within the chunk grid, and within its shard's lead range;
  *     bounds are ordered (min ≤ max); moment counts fit the chunk's cell
  *     capacity; each shard's summary equals what its entries derive
  *     (count, bounds union — exact BigDecimal, `bounded`, `cells`) — the
  *     r15/r16 manifest fields are load-bearing for the rank-QC family,
  *     so their integrity is audited explicitly.
  *  3. stats recompute (distributed, `recompute = true`): one scan
  *     re-derives every chunk's finite-cell count, min, max, and hasNaN
  *     and joins them against the distributed expected entries; any
  *     disagreement is an ERROR naming the chunk. Comparison is in double
  *     on both sides (identical rounding of identical values ⇒ only real
  *     corruption differs).
  *  4. inventory: chunk files whose key parses but lies outside the grid
  *     (ERROR — data no scan will ever read; v2 dot-keys at the variable
  *     root and v3 nested `c/…` paths, against the shard grid when the
  *     array is `sharding_indexed`), shard files the manifest does not
  *     list at their generation (WARNING — GC candidates),
  *     `.mdio_statfrag.*` files an earlier sink version left (WARNING —
  *     safe to delete), and the hidden `.<name>.<uuid>.tmp` sibling a
  *     crash inside a chunk put (`VPath.replace`) leaves, at the variable
  *     root or under `c/` (WARNING — safe to delete).
  *
  * A stale sidecar (data generation moved past it) downgrades checks 2–3
  * to a single WARNING — stale stats are a legal state (scans fall back),
  * not corruption. */
object MdioFsck {

  private val findingSchema = StructType(Seq(
    StructField("severity", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("variable", StringType, nullable = false),
    StructField("subject", StringType, nullable = false),
    StructField("detail", StringType, nullable = false)))

  /** One row out of the distributed shard parse: a FINDING (`sev` set,
    * from the executor-side shard/entry checks) or an ENTRY row (`key`
    * set) carrying the sidecar's expected per-chunk stats for the
    * recompute join plus the audited/cells tallies. */
  private[operators] final case class ShardRow(
      sev: String, kind: String, subject: String, detail: String,
      key: String, emin: Option[Double], emax: Option[Double],
      ecnt: Option[Long], enan: Boolean, inGrid: Boolean, cells: Long)

  final case class Audit(findings: DataFrame, chunksAudited: Long, cells: Long)

  /** Audit EVERY variable of a store (coordinates included — they are
    * chunked arrays too): the per-variable audits union into one findings
    * frame, totals sum. The expensive recompute arm still runs as one
    * scan per variable; nothing beyond findings reaches the driver. */
  def checkAll(spark: SparkSession, path: String,
               recompute: Boolean = true): Audit = {
    import graft.zarr.ZarrMeta
    val vars = ZarrMeta.readGroup(ZarrMeta.path(path))._2.keys.toSeq.sorted
    require(vars.nonEmpty, s"no variables in $path")
    vars.map(check(spark, path, _, recompute)).reduce { (a, b) =>
      Audit(a.findings.union(b.findings),
        a.chunksAudited + b.chunksAudited, a.cells + b.cells)
    }
  }

  /** Parse + audit ONE shard file (runs on executors): shard-level
    * summary checks, per-entry checks, and one [[ShardRow]] entry row per
    * sidecar entry. Static — captures nothing beyond its arguments. */
  private def auditShard(varDir: graft.zarr.VPath, sid: Long,
                         sm: graft.sources.MdioChunkStats.ShardMeta,
                         span: Long, grid: Seq[Long],
                         chunks: Seq[Long], shape: Seq[Long]): Iterator[ShardRow] = {
    import graft.sources.MdioChunkStats
    val out = scala.collection.mutable.ArrayBuffer.empty[ShardRow]
    def finding(kind: String, subject: String, detail: String): Unit =
      out += ShardRow("error", kind, subject, detail, null, None, None, None,
        enan = false, inGrid = false, cells = 0L)
    def capacity(cc: Seq[Long]): Long =
      cc.indices.map { d =>
        math.min(chunks(d), shape(d) - cc(d) * chunks(d))
      }.product
    val esOpt =
      try Some(MdioChunkStats.readShard(varDir, sid, sm.gen))
      catch { case e: Throwable =>
        finding("shard", s"s$sid", s"unreadable shard: ${e.getMessage}")
        None
      }
    // readShard returns EMPTY (never throws) on garbage content or a
    // generation mismatch; a written shard is never empty, so empty
    // against a non-zero (or pre-summary, -1) recorded count IS torn
    esOpt.filter { es =>
      if (es.isEmpty && sm.count != 0)
        finding("shard", s"s$sid", "torn shard: file unreadable or generation-mismatched")
      es.nonEmpty
    }.foreach { es =>
      if (sm.count >= 0 && sm.count != es.size)
        finding("shard", s"s$sid", s"summary count ${sm.count} != ${es.size} entries")
      val bounded = es.valuesIterator.flatten.toSeq
      if (sm.bounded >= 0 && sm.bounded != bounded.size)
        finding("shard", s"s$sid", s"summary bounded ${sm.bounded} != ${bounded.size}")
      val (lo, hi) =
        if (bounded.isEmpty) (None, None)
        else (Some(bounded.map(_.min).min), Some(bounded.map(_.max).max))
      if (sm.lo != lo || sm.hi != hi)
        finding("shard", s"s$sid", s"summary bounds (${sm.lo}, ${sm.hi}) != derived ($lo, $hi)")
      sm.cells.foreach { c =>
        if (bounded.forall(_.moments.isDefined)) {
          val derived = bounded.flatMap(_.moments).map(_.cnt).sum
          if (c != derived)
            finding("shard", s"s$sid", s"summary cells $c != derived $derived")
        }
      }
      es.foreach { case (key, e) =>
        scala.util.Try(key.takeWhile(_ != '.').toLong).toOption.foreach { lead =>
          if (lead < sid * span || lead >= (sid + 1) * span)
            finding("shard", s"s$sid", s"entry $key outside shard lead range")
        }
        val cc = try Some(key.split("\\.").map(_.toLong).toSeq)
        catch { case _: Throwable => finding("entry", key, "unparseable key"); None }
        var inGrid = false
        cc.foreach { c =>
          if (c.size != grid.size || c.zip(grid).exists { case (x, g) => x < 0 || x >= g })
            finding("entry", key, s"outside the ${grid.mkString("x")} chunk grid")
          else {
            inGrid = true
            e.foreach { b =>
              if (b.min > b.max)
                finding("entry", key, s"bounds inverted: ${b.min} > ${b.max}")
              b.moments.foreach { m =>
                if (m.cnt < 0 || m.cnt > capacity(c))
                  finding("entry", key,
                    s"moment count ${m.cnt} exceeds chunk capacity ${capacity(c)}")
              }
            }
          }
        }
        out += ShardRow(null, null, null, null, key,
          e.map(_.min.toDouble), e.map(_.max.toDouble),
          if (e.isEmpty) Some(0L) else e.flatMap(_.moments).map(_.cnt),
          e.exists(_.hasNaN) || e.isEmpty,
          inGrid,
          if (inGrid) e.flatMap(_.moments).map(_.cnt).getOrElse(0L) else 0L)
      }
    }
    out.iterator
  }

  /** Audit one variable (the data variables of a store audit one by one;
    * dimension coordinates carry no chunk payload worth recomputing). */
  def check(spark: SparkSession, path: String, variable: String,
            recompute: Boolean = true): Audit = {
    import graft.sources.MdioChunkStats
    import graft.zarr.ZarrMeta
    val root = ZarrMeta.path(path)
    val (meta, attrs) = ZarrMeta.readGroup(root)._2.getOrElse(variable,
      throw new IllegalArgumentException(s"no variable '$variable' in $path"))
    val varDir = root.resolve(variable)
    val driver = Seq.newBuilder[Row]
    def add(sev: String, kind: String, subject: String, detail: String): Unit =
      driver += Row(sev, kind, variable, subject, detail)

    // 1. metadata sanity
    val dimsOpt = meta.dimNames.orElse(attrs.flatMap(graft.sources.MdioTableUtil.arrayDimensions))
    if (dimsOpt.isEmpty) add("error", "metadata", variable, "no dimension names")
    val grid = meta.chunkGrid
    if (grid.exists(_ <= 0)) add("error", "metadata", variable, s"bad chunk grid ${grid.mkString("x")}")

    // in-domain cell capacity of a chunk (ragged edges clip)
    def capacity(cc: Seq[Long]): Long =
      cc.indices.map { d =>
        math.min(meta.chunks(d), meta.shape(d) - cc(d) * meta.chunks(d))
      }.product

    // 2. sidecar audit — distributed over shard files; the legacy
    // monolithic sidecar (entries live in the manifest itself) audits on
    // the driver, where they already are
    var audited = 0L
    var cells = 0L
    var expectedDF: Option[DataFrame] = None
    var distFindings: Option[DataFrame] = None
    val manOpt = MdioChunkStats.currentManifest(varDir)
    val stale = manOpt.isEmpty &&
      (varDir.resolve(MdioChunkStats.StatsFile).exists ||
        varDir.listIterator().exists(_.name.startsWith(".mdio_stats")))
    if (stale)
      add("warning", "stats", variable,
        "stats sidecar is stale or unreadable — scans fall back; rewrite to refresh")
    manOpt.foreach { man =>
      man.legacy match {
        case Some(es) =>
          es.foreach { case (key, e) =>
            val cc = try Some(key.split("\\.").map(_.toLong).toSeq)
            catch { case _: Throwable => add("error", "entry", key, "unparseable key"); None }
            cc.foreach { c =>
              if (c.size != grid.size || c.zip(grid).exists { case (x, g) => x < 0 || x >= g })
                add("error", "entry", key, s"outside the ${grid.mkString("x")} chunk grid")
              else {
                audited += 1
                e.foreach { b =>
                  if (b.min > b.max) add("error", "entry", key, s"bounds inverted: ${b.min} > ${b.max}")
                  b.moments.foreach { m =>
                    cells += m.cnt
                    if (m.cnt < 0 || m.cnt > capacity(c))
                      add("error", "entry", key,
                        s"moment count ${m.cnt} exceeds chunk capacity ${capacity(c)}")
                  }
                }
              }
            }
          }
          if (es.nonEmpty)
            expectedDF = Some(spark.createDataFrame(
              java.util.Arrays.asList(es.toSeq.map { case (key, e) =>
                Row(key,
                  e.map(b => Double.box(b.min.toDouble)).orNull,
                  e.map(b => Double.box(b.max.toDouble)).orNull,
                  if (e.isEmpty) Long.box(0L)
                  else e.flatMap(_.moments).map(m => Long.box(m.cnt)).orNull,
                  Boolean.box(e.exists(_.hasNaN) || e.isEmpty))
              }: _*), expectedSchema))
        case None if man.shards.nonEmpty =>
          // distributed shard parse: shard ids fan out, each task reads
          // its shard files and emits findings + expected-entry rows; the
          // driver sees the manifest (O(shards)) and the tallies only.
          // The frame is cheap to RE-derive (small JSON metadata files),
          // so the findings stay lazy with no persist — the one eager job
          // here is the audited/cells tally.
          val shardMetas = man.shards
          val uri = varDir.uri
          val span = man.span
          val chunksL = meta.chunks
          val shapeL = meta.shape
          val hconf = graft.zarr.HConf.capture()
          val rows = spark.createDataset(shardMetas.keys.toSeq.sorted)(Encoders.scalaLong)
            .mapPartitions { sids =>
              graft.zarr.VPath.install(hconf.value) // executor JVMs have no session
              val vd = graft.zarr.VPath(uri)
              sids.flatMap(sid =>
                auditShard(vd, sid, shardMetas(sid), span, grid, chunksL, shapeL))
            }(Encoders.product[ShardRow])
            .toDF()
          val t = rows.agg(
            count(when(col("sev").isNull && col("inGrid"), 1L)),
            coalesce(sum(when(col("sev").isNull, col("cells"))), lit(0L)),
            count(when(col("sev").isNull, 1L))).head
          audited = t.getLong(0)
          cells = t.getLong(1)
          distFindings = Some(rows.filter(col("sev").isNotNull)
            .select(col("sev").as("severity"), col("kind"),
              lit(variable).as("variable"), col("subject"), col("detail")))
          if (t.getLong(2) > 0)
            expectedDF = Some(rows.filter(col("sev").isNull)
              .select(col("key"), col("emin"), col("emax"), col("ecnt"), col("enan")))
        case None => ()
      }
    }

    // 4. inventory: beyond-grid chunk files, unlisted shard files, orphan
    // fragments — the listing drains LAZILY (Hadoop pages under the
    // iterator), so the driver holds one name at a time, not the ~1.6 M
    // chunk names of the 100 TB envelope
    val keyRe = "^\\d+(\\.\\d+)*$".r
    val putTmpRe = "^\\..+\\.[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\\.tmp$".r
    def putTmp(subject: String): Unit =
      add("warning", "inventory", subject, "interrupted chunk put; safe to delete")
    varDir.listIterator().foreach { p =>
      val n = p.name
      if (putTmpRe.matches(n)) putTmp(n)
      else if (keyRe.findFirstIn(n).isDefined && meta.version == 2) {
        val cc = n.split("\\.").map(_.toLong).toSeq
        if (cc.size != grid.size || cc.zip(grid).exists { case (x, g) => x >= g })
          add("error", "inventory", n, "chunk file outside the grid — unreachable data")
      } else if (n.startsWith(".mdio_statfrag")) {
        add("warning", "inventory", n,
          "stat fragment an earlier sink version left behind — nothing reads it, safe to delete")
      } else if (n.startsWith(".mdio_stats.s")) {
        val sid = try Some(n.stripPrefix(".mdio_stats.s").stripSuffix(".json").toLong)
        catch { case _: Throwable => None }
        if (manOpt.isDefined && manOpt.get.legacy.isEmpty &&
            !sid.exists(manOpt.get.shards.contains))
          add("warning", "inventory", n, "shard file not in the manifest — GC candidate")
      }
    }
    // v3 nested chunk layout: files live under c/<i>/<j>/… — against the
    // SHARD grid when the array is sharding_indexed (one storage object
    // per shard; the inner-chunk grid never appears on disk)
    if (meta.version == 3) {
      val fileGrid = meta.shard match {
        case Some(sh) => meta.shape.zip(sh).map { case (s, c) => (s + c - 1) / c }
        case None => grid
      }
      val cdir = varDir.resolve("c")
      cdir.listFilesRecursiveIterator().foreach { f =>
        val rel = cdir.relativize(f)
        val parts = rel.split("/")
        if (parts.nonEmpty && parts.forall(_.matches("\\d+"))) {
          val cc = parts.map(_.toLong).toSeq
          if (cc.size != fileGrid.size || cc.zip(fileGrid).exists { case (x, g) => x >= g })
            add("error", "inventory", s"c/$rel", "chunk file outside the grid — unreachable data")
        } else if (putTmpRe.matches(f.name)) putTmp(s"c/$rel")
      }
    }

    val driverDF = spark.createDataFrame(
      java.util.Arrays.asList(driver.result(): _*), findingSchema)

    // 3. distributed recompute vs the (distributed) expected entries
    val recomputeDF: Option[DataFrame] =
      if (!recompute || expectedDF.isEmpty || dimsOpt.isEmpty) None
      else {
        val dims = dimsOpt.get
        val isFloat = meta.dtype.charAt(meta.dtype.length - 2) == 'f'
        val expected = expectedDF.get
        val keyCol = concat_ws(".",
          dims.zipWithIndex.map { case (d, i) =>
            floor(col(d) / meta.chunks(i)).cast("long").cast("string") }: _*)
        val v = col(variable)
        val finite = if (isFloat) !isnan(v) else lit(true)
        val actual = spark.read.format("mdio").load(path)
          .groupBy(keyCol.as("key"))
          .agg(count(when(finite, 1L)).as("acnt"),
            min(when(finite, v)).cast("double").as("amin"),
            max(when(finite, v)).cast("double").as("amax"),
            (if (isFloat) max(when(isnan(v), true).otherwise(false))
             else lit(false)).as("anan"))
        val joined = actual.join(expected, Seq("key"), "full_outer")
        Some(joined.filter( // null-safe: a one-sided null IS a finding
          !(col("enan") <=> col("anan")) ||
            !(col("emin") <=> col("amin")) ||
            !(col("emax") <=> col("amax")) ||
            (col("ecnt").isNotNull &&
              !(col("ecnt") <=> coalesce(col("acnt"), lit(0L)))))
          .select(lit("error").as("severity"), lit("recompute").as("kind"),
            lit(variable).as("variable"), col("key").as("subject"),
            concat(lit("sidecar (cnt,min,max,nan)=("),
              concat_ws(",", col("ecnt"), col("emin"), col("emax"), col("enan")),
              lit(") != data ("),
              concat_ws(",", col("acnt"), col("amin"), col("amax"), col("anan")),
              lit(")")).as("detail")))
      }
    val found = Seq(Some(driverDF), distFindings, recomputeDF).flatten.reduce(_.union(_))
    Audit(found, audited, cells)
  }

  private val expectedSchema = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("emin", DoubleType, nullable = true),
    StructField("emax", DoubleType, nullable = true),
    StructField("ecnt", LongType, nullable = true),
    StructField("enan", BooleanType, nullable = false)))

  private val log = org.slf4j.LoggerFactory.getLogger(MdioFsck.getClass)

  /** [[repair]] result: `findings` is the RE-AUDIT after the repair,
    * `repaired` the chunk keys whose sidecar entries were recomputed and
    * republished — REVIEW THEM: repair treats the chunk DATA as ground
    * truth, so a decodable-but-corrupted chunk is indistinguishable from
    * sidecar tampering and its recomputed entry blesses the data as it
    * now stands (the re-audit comes back clean either way; only an
    * UNDECODABLE chunk keeps failing loudly there). `repairedChunks`
    * counts `repaired`; `chunksAudited`/`cells` are the re-audit's
    * totals. */
  final case class Repair(findings: DataFrame, repairedChunks: Long,
                          chunksAudited: Long, cells: Long,
                          repaired: Seq[String] = Seq.empty)

  /** Check-and-FIX: audit the variable, recompute a CORRECT sidecar entry
    * for every chunk the audit implicates — recompute/entry findings name
    * chunks directly; shard-level findings (torn, unreadable, summary
    * mismatch) implicate their whole lead range — and republish them
    * through a whole-shard replacement (junk and beyond-grid entries drop;
    * untouched shards carry by reference; generation bumps, so the
    * repaired sidecar is CURRENT and pruning resumes). The recompute runs
    * as ONE `chunkKeys` scan whose per-chunk groups accumulate through the
    * SAME exact rules the writers use ([[graft.sources.MdioWriter.floatStatEach]] /
    * `longStatEach`: ExactSum moments, the underflow/overflow drop rules;
    * unsigned-exact u64 bounds) — a repaired entry is bit-identical to
    * what a full rewrite would have published, at the cost of the
    * implicated chunks only. Driver memory: O(findings + repaired entries
    * + touched-shard entries + manifest). Not repaired (by design): a
    * STALE sidecar (legal state — rewriting the variable refreshes),
    * legacy monolithic sidecars (small — rewrite instead), and
    * unparseable junk keys inside otherwise-clean shards (no finding
    * locates their shard; the re-audit keeps flagging them). Chunk DATA
    * is treated as GROUND TRUTH: a decodable chunk whose bytes were
    * corrupted recomputes to an entry matching the corrupt data (review
    * `Repair.repaired` before trusting a repaired store); only
    * undecodable chunks keep failing loudly. Reference analog: the
    * check-only validator, mdio/dataset_validator.h — at 100 TB the fix
    * must not be a full stats rewrite. */
  def repair(spark: SparkSession, path: String, variable: String): Repair = {
    import graft.sources.{MdioChunkStats, MdioWriter}
    import graft.zarr.ZarrMeta
    val before = check(spark, path, variable, recompute = true)
    val fRows = before.findings.collect() // O(findings): the audit contract
    def done(a: Audit, n: Long) = Repair(a.findings, n, a.chunksAudited, a.cells)
    if (fRows.isEmpty) return done(before, 0L)
    val root = ZarrMeta.path(path)
    val (meta, attrs) = ZarrMeta.readGroup(root)._2(variable)
    val dims = meta.dimNames
      .orElse(attrs.flatMap(graft.sources.MdioTableUtil.arrayDimensions))
      .getOrElse(return done(before, 0L)) // metadata findings: unrepairable
    val varDir = root.resolve(variable)
    val manOpt = MdioChunkStats.currentManifest(varDir)
    if (manOpt.isEmpty || manOpt.get.legacy.isDefined) {
      log.warn(s"repair($path, $variable): no generation-current sharded " +
        "manifest — stale/legacy sidecars refresh by rewriting the variable")
      return done(before, 0L)
    }
    val man = manOpt.get
    val grid = meta.chunkGrid
    def parseKey(key: String): Option[Seq[Long]] =
      scala.util.Try(key.split("\\.").map(_.toLong).toSeq).toOption
    def inGrid(key: String): Boolean = parseKey(key).exists(cc =>
      cc.size == grid.size && cc.zip(grid).forall { case (x, g) => x >= 0 && x < g })
    def sidOf(key: String): Option[Long] =
      scala.util.Try(key.takeWhile(_ != '.').toLong).toOption.map(_ / man.span)
    val recompute = scala.collection.mutable.LinkedHashSet.empty[String]
    val touchedSids = scala.collection.mutable.LinkedHashSet.empty[Long]
    fRows.foreach { r =>
      (r.getString(1), r.getString(3)) match {
        case (("recompute" | "entry"), subject) =>
          // in-grid keys recompute; a parseable beyond-grid key still
          // locates its shard so the junk entry drops on rewrite
          if (inGrid(subject)) recompute += subject
          sidOf(subject).foreach(touchedSids += _)
        case ("shard", subject) if subject.startsWith("s") =>
          subject.drop(1).toLongOption.foreach { sid =>
            touchedSids += sid
            graft.sources.MdioAggScan.boxKeys(
              (sid * man.span, math.min((sid + 1) * man.span, grid.head)) +:
                grid.drop(1).map(g => (0L, g))).foreach(recompute += _)
          }
        case _ => ()
      }
    }
    if (touchedSids.isEmpty) return done(before, 0L)
    val dt = meta.dtype
    val kind = dt.charAt(dt.length - 2)
    require(meta.fields.isEmpty && (kind == 'f' || kind == 'i' || kind == 'u'),
      s"repair supports scalar numeric dtypes; '$variable' is $dt")
    val isU64 = kind == 'u' && dt.endsWith("8")
    import spark.implicits._
    val srs: Seq[(String, MdioWriter.ChunkStatRow)] =
      if (recompute.isEmpty) Seq.empty
      else {
        val keyCol = concat_ws(".", dims.zipWithIndex.map { case (d, i) =>
          floor(col(d) / meta.chunks(i)).cast("long").cast("string") }: _*)
        val src = spark.read.format("mdio")
          .option("chunkKeys", recompute.mkString(","))
          .load(path)
          .select(keyCol.as("k"), col(variable).as("v"))
        if (kind == 'f')
          src.select($"k", $"v".cast("double")).as[(String, Double)]
            .groupByKey(_._1)
            .mapGroups((k, it) =>
              (k, MdioWriter.floatStatEach(0L)(f => it.foreach(t => f(t._2)))))
            .collect().toSeq
        else if (isU64)
          src.as[(String, java.math.BigDecimal)]
            .groupByKey(_._1)
            .mapGroups { (k, it) =>
              var mn: java.math.BigDecimal = null
              var mx: java.math.BigDecimal = null
              it.foreach { case (_, v) =>
                if (mn == null || v.compareTo(mn) < 0) mn = v
                if (mx == null || v.compareTo(mx) > 0) mx = v
              }
              val two64 = new java.math.BigDecimal(
                java.math.BigInteger.ONE.shiftLeft(64))
              val lmax = new java.math.BigDecimal(Long.MaxValue)
              def wrap(x: java.math.BigDecimal): Long =
                if (x.compareTo(lmax) > 0) x.subtract(two64).longValueExact()
                else x.longValueExact()
              (k, MdioWriter.ChunkStatRow(0L, isFloat = false, 0.0, 0.0,
                wrap(mn), wrap(mx), empty = false, u64 = true))
            }.collect().toSeq
        else
          src.select($"k", $"v".cast("long")).as[(String, Long)]
            .groupByKey(_._1)
            .mapGroups((k, it) =>
              (k, MdioWriter.longStatEach(0L)(f => it.foreach(t => f(t._2)))))
            .collect().toSeq
      }
    // statEntry None (±Inf cells) = unprunable chunk: the key is OMITTED,
    // exactly as the writers publish it
    val fixed: Map[String, MdioChunkStats.Entry] =
      srs.flatMap { case (k, sr) => MdioWriter.statEntry(sr).map(k -> _) }.toMap
    val touched: Map[Long, Map[String, MdioChunkStats.Entry]] =
      touchedSids.iterator.map { sid =>
        val prior = man.shards.get(sid)
          .map(sm => MdioChunkStats.readShard(varDir, sid, sm.gen))
          .getOrElse(Map.empty[String, MdioChunkStats.Entry])
        val kept = prior.filter { case (k, _) => inGrid(k) && sidOf(k).contains(sid) }
        val mine = fixed.filter { case (k, _) => sidOf(k).contains(sid) }
        sid -> (kept ++ mine)
      }.toMap
    MdioChunkStats.replaceShards(varDir, touched)
    val after = check(spark, path, variable, recompute = true)
    Repair(after.findings, fixed.size.toLong, after.chunksAudited, after.cells,
      // grid order, not lexicographic — "10.0" must follow "2.0" in the
      // review list (ADVICE r19)
      fixed.keys.toSeq.sortBy(_.split('.').map(_.toLong).toSeq)(
        Ordering.Implicits.seqOrdering[Seq, Long]))
  }
}
