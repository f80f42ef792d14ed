package graft.sources

import graft.zarr.{ChunkCodec, ChunkSource, ZarrMeta}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DSv2 write path: `df.write.format("mdio").mode("append").save(path)`.
  *
  * Chunk alignment contract: the ideal declaration — clustering on
  * `dim - (dim % chunkSize)` — is not expressible to Spark 4.1's write
  * planner (`V2ExpressionUtils.toCatalyst` translates references/
  * transforms only, not GeneralScalarExpression arithmetic). So the
  * contract inverts the reference's: where the reference makes misaligned
  * writes UNDEFINED BEHAVIOR (USER_GUIDE.md "Efficient Assignment"), here
  * the DEFAULT write is safe-but-serial (`requiredNumPartitions = 1`; one
  * task owns every chunk), and the parallel path is explicit:
  *
  * {{{
  *   MdioWriter.repartitionByChunk(df, path)
  *     .write.format("mdio").option("aligned", "true").save(path)
  * }}}
  *
  * With `aligned=true` the writer trusts the caller's partitioning; lying
  * reproduces the reference's UB (a chunk written by two tasks —
  * last-writer-wins). [[MdioWriter.insertAligned]] and
  * [[MdioWriter.writeVariable]] do not come through here: they run the same
  * chunk writer ([[MdioDataWriter]]) behind their owner shuffle of chunk
  * fragments, and this sink keeps the row path — serial, `aligned` and
  * catalog writes.
  *
  * Cell-level merge semantics match the reference's accessor writes:
  * partial-chunk writes READ-MODIFY-WRITE — an existing chunk's
  * untouched cells are preserved (seeded from the decoded chunk), and
  * only absent chunks are fill-initialized.
  *
  * NULL values mean "leave this cell untouched". Spark's DSv2 append
  * resolution expands the input to the full table schema with nulls for
  * columns the DataFrame doesn't carry, so partial-VARIABLE writes are
  * the normal case — the null-skip is what keeps the unmentioned
  * variables' data intact.
  */
final case class MdioWriteBuilder(path: String, dims: Seq[String],
                                  metas: Map[String, ZarrMeta.ArrayMeta],
                                  schema: StructType,
                                  aligned: Boolean,
                                  chunkTransform: Boolean = false) extends WriteBuilder
    with SupportsTruncate {

  override def truncate(): WriteBuilder = this // whole-chunk rewrite either way

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    if (!aligned && !chunkTransform) MdioWriteBuilder.log.warn(
      s"mdio sink at $path: writing SERIALLY (one task owns every chunk). " +
        "For a parallel write use MdioWriter.insertAligned(df, path), " +
        "MdioWriter.repartitionByChunk(df, path) with .option(\"aligned\", \"true\"), " +
        "or write through the mdio catalog (spark.sql.catalog.<name>) for " +
        "parallel-aligned-by-default.")
    // aligned=true trusts the CALLER's partitioning, and for a
    // `sharding_indexed` target the required granularity is the SHARD, not
    // the chunk: a chunk-granular feed (e.g. a keyed scan's per-chunk
    // partitions) can have two tasks assemble the same shard object from
    // stale carryover — last-writer-wins, silently dropping inner chunks.
    // MdioWriter.repartitionByChunk clusters at shard granularity for
    // sharded targets; anything else must do the same.
    if (aligned && metas.values.exists(_.shard.isDefined)) MdioWriteBuilder.log.warn(
      s"mdio sink at $path: aligned=true targets a store with sharding_indexed " +
        "variables — the caller's partitioning MUST be SHARD-granular (one task " +
        "owns every whole shard object, as MdioWriter.repartitionByChunk " +
        "produces); a chunk-granular feed loses inner chunks (last-writer-wins). " +
        "A multi-task shard assembly is detected at commit and FAILS the job.")
    override def requiredDistribution(): Distribution =
      if (chunkTransform) {
        // loaded via MdioCatalog: its FunctionCatalog resolves the `chunk`
        // transform, so declare true ownership — Spark's shuffle IS the
        // alignment (each cluster's rows meet in exactly one task). All
        // selected variables share one chunkShape (enforced at load);
        // `sharding_indexed` variables need SHARD-granular ownership (a
        // shard object is written whole), so the cluster size per dim is
        // the LCM of every variable's shard-or-chunk size — whole shards
        // of each sharded variable AND whole chunks of each unsharded one.
        val ownSizes = MdioWriteBuilder.ownershipSizes(metas.values.toSeq)
        import org.apache.spark.sql.connector.expressions.Expressions
        // NB: Spark materializes a required write distribution as an
        // unconditional REPARTITION_BY_COL exchange — it is never elided
        // even when the input already satisfies it, so a co-gridded
        // read→write pipeline that wants to skip the shuffle goes through
        // `.option("aligned", "true")` fed by a keyed scan instead
        // (pinned in MdioCopartitionSpec).
        Distributions.clustered(dims.zip(ownSizes).map { case (d, cs) =>
          Expressions.apply("chunk", Expressions.column(d), Expressions.literal(cs))
            : org.apache.spark.sql.connector.expressions.Expression
        }.toArray)
      }
      else if (aligned) Distributions.unspecified()
      // constant clustering key + 1 partition = every chunk owned by the
      // single writer (numPartitions cannot pair with `unspecified`)
      else Distributions.clustered(Array(
        org.apache.spark.sql.connector.expressions.Expressions.literal(1)))
    override def requiredNumPartitions(): Int = if (aligned || chunkTransform) 0 else 1
    override def requiredOrdering(): Array[SortOrder] = Array.empty
    override def toBatch: BatchWrite = MdioBatchWrite(path, dims, metas, schema)
  }
}

object MdioWriteBuilder {
  private[sources] val log = org.slf4j.LoggerFactory.getLogger(classOf[MdioWriteBuilder])

  /** Per-dim task-ownership sizes for a parallel write: the LCM over the
    * written variables of their shard size (sharded) or chunk size
    * (unsharded) along each dim — a cluster then covers whole shard
    * objects and whole chunk files of every variable. Shard shapes are
    * chunk multiples by construction, so this stays the shared chunk
    * shape on unsharded stores. */
  private[sources] def ownershipSizes(ms: Seq[ZarrMeta.ArrayMeta]): Seq[Long] = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b
    val rank = ms.head.rank
    (0 until rank).map { i =>
      ms.foldLeft(1L)((acc, m) => lcm(acc, m.shard.map(_(i)).getOrElse(m.chunks(i))))
    }
  }
}

object MdioBatchWrite {
  /** Per-variable stat rows a sink task keeps INLINE in its commit message;
    * past this it spills a `.mdio_statfrag.<job>.<uuid>` file to the
    * variable directory and the message carries only the name — each commit
    * message stays small however many chunks the task owned. The COMMIT
    * side additionally routes through the distributed publisher whenever
    * the inline union across tasks exceeds this cap (many small tasks sum
    * to O(chunks) even when none spills individually). Overridable per
    * session via `spark.graft.sink.inlineStatRows` (captured ONCE at write
    * planning on the driver — the same captured value governs both the
    * writer-side spill threshold and the commit-side routing); `0` forces
    * always-spill — the strictest driver envelope for full-store ETL
    * writes. */
  val InlineStatRows = 4096

  /** Default age (ms) past which an unreferenced `.mdio_statfrag.*` file
    * is swept as a crash orphan (24 h). Overridable via
    * `spark.graft.sink.fragGraceMs`.
    *
    * CONTRACT for concurrent writers: the sweep distinguishes a crash
    * orphan from a live job's in-flight fragment ONLY by mtime age, so a
    * concurrent write job must reach its own commit within `fragGraceMs`
    * of spilling its FIRST fragment — a straggler/retry-ridden job that
    * spills at hour 0 and commits at hour 25 can lose that fragment to
    * another job's commit-time sweep (its publish then fails loudly or
    * under-counts stats). Deployments running multi-day concurrent ETL
    * writes against one store must raise `spark.graft.sink.fragGraceMs`
    * above their worst-case spill-to-commit span; the alternative
    * (heartbeat/lease stamping of fragments) is deliberately not paid —
    * fragments are already job-token-namespaced and the same-store
    * concurrent-write regime is RMW on disjoint chunk sets, rare enough
    * that a documented tunable beats a per-fragment lease protocol. */
  val FragGraceMs = 24L * 3600 * 1000
}

final case class MdioBatchWrite(path: String, dims: Seq[String],
                                metas: Map[String, ZarrMeta.ArrayMeta],
                                schema: StructType) extends BatchWrite {
  // session knobs, captured ONCE at write planning on the driver (this
  // object is constructed there) so the writer factory and the driver-side
  // commit can never disagree about the configured values
  private val sessionConf = org.apache.spark.sql.SparkSession.getActiveSession
    .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.conf)
  private val inlineStatRows: Int = sessionConf
    .map(_.get("spark.graft.sink.inlineStatRows",
      MdioBatchWrite.InlineStatRows.toString).toInt)
    .getOrElse(MdioBatchWrite.InlineStatRows)
  private val fragGraceMs: Long = sessionConf
    .map(_.get("spark.graft.sink.fragGraceMs",
      MdioBatchWrite.FragGraceMs.toString).toLong)
    .getOrElse(MdioBatchWrite.FragGraceMs)
  /** This write job's fragment namespace: every fragment a task of THIS
    * job spills is named `.mdio_statfrag.<jobToken>.<uuid>`, so the
    * orphan sweep can tell its own in-flight fragments from a crashed
    * predecessor's leftovers without any coordination. */
  private val jobToken: String = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    MdioDataWriterFactory(path, dims.toArray, schema,
      schema.fieldNames.filter(metas.contains).map(v => v -> metas(v)),
      graft.zarr.HConf.capture(), inlineStatRows, jobToken)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // all tasks succeeded; (v2) refresh consolidated metadata on the driver
    // — the WaitAllFuture-then-publish shape. Each task's commit message
    // carries the exact post-RMW bounds of the chunks it owned (one task
    // per chunk under the clustering contract) — inline when few, as a
    // spilled fragment file past InlineStatRows — so the stats sidecar
    // refreshes here without an O(chunks) driver stage: fragment-bearing
    // commits route through MdioStatsPublish (executor-side shard writes,
    // driver writes only the manifest). Variables the sink cannot bound
    // (complex/record) bump-invalidate instead, and variables no task
    // touched (null-expanded columns) are left alone — their data did not
    // change, so their stats stay current.
    val root = ZarrMeta.path(path)
    val stats = messages.collect { case m: MdioStatsCommit => m }
    // sharding_indexed ownership check (upgrades the plan-time warning to a
    // hard failure): a shard OBJECT is assembled whole by exactly one task —
    // two tasks reporting inner chunks of the same shard means the feed was
    // chunk-granular under aligned=true, and whichever task wrote last
    // silently dropped the other's inner chunks. The per-task shard-id sets
    // are shard-granular (the FILE unit), so this stays O(shard files) on
    // the driver — and failing here, after the data writes, is the honest
    // outcome: the store HAS lost chunks and those shards need a rewrite
    // from a shard-granular feed (MdioWriter.repartitionByChunk).
    val shardOwners = scala.collection.mutable.Map[(String, Long), Int]()
    stats.foreach(_.shards.foreach { case (v, sids) =>
      sids.foreach { sid =>
        shardOwners.updateWith((v, sid))(c => Some(c.getOrElse(0) + 1))
      }
    })
    val collided = shardOwners.collect { case ((v, sid), n) if n > 1 => s"$v/shard$sid" }
    if (collided.nonEmpty) throw new IllegalStateException(
      s"mdio sink at $path: shard objects assembled by MULTIPLE tasks " +
        s"(last-writer-wins dropped inner chunks): ${collided.take(8).mkString(", ")}" +
        (if (collided.size > 8) s" … (${collided.size} total)" else "") +
        ". The aligned=true feed must be SHARD-granular for sharding_indexed " +
        "variables — use MdioWriter.repartitionByChunk(df, path) and rewrite " +
        "the listed shards.")
    val touched: Set[String] = stats.iterator.flatMap(_.touched).toSet
    touched.foreach { v =>
      val m = metas(v)
      val varDir = root.resolve(v)
      val capable = m.fields.isEmpty && !m.isComplex
      if (!capable) MdioChunkStats.bump(varDir)
      else {
        val grid = m.chunkGrid.toArray
        val inline: Seq[MdioWriter.ChunkStatRow] = stats.toSeq
          .flatMap(_.stats.getOrElse(v, Array.empty[MdioWriter.ChunkStatRow]).toSeq)
        val frags: Seq[String] = stats.toSeq.flatMap(_.frags.getOrElse(v, Nil))
        val session = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        // distributed publish when ANY task spilled OR the inline union
        // itself is past the cap (many small tasks each under the per-task
        // cap still sum to O(chunks) — the rows already arrived in the
        // commit messages, but their merge, JSON encode, and shard writes
        // must not run single-threaded on the driver). The per-task spill
        // bounds message SIZE; `spark.graft.sink.inlineStatRows=0` forces
        // always-spill for the strictest driver envelope.
        if (session.isDefined &&
            (frags.nonEmpty || inline.size > inlineStatRows)) {
          val sc = session.get.sparkContext
          val hc = graft.zarr.HConf.capture()
          val varDirStr = varDir.toString
          val fragRdd = sc
            .parallelize(frags, math.max(1, math.min(math.max(frags.size, 1), sc.defaultParallelism)))
            .flatMap { f =>
              graft.zarr.VPath.install(hc.value)
              MdioStatsPublish.readFragment(graft.zarr.VPath(varDirStr).resolve(f))
            }
          val rows = if (inline.isEmpty) fragRdd
                     else fragRdd.union(sc.parallelize(inline,
                       math.max(1, math.min(
                         inline.size / MdioBatchWrite.InlineStatRows + 1,
                         sc.defaultParallelism))))
          MdioStatsPublish.publishRows(session.get, hc, Seq(varDirStr -> grid), rows.map(0 -> _))
        } else {
          // small write (or no session to run a job): driver-side refresh
          val rows = inline ++ frags.flatMap(f =>
            MdioStatsPublish.readFragment(varDir.resolve(f)))
          val entries = rows.iterator.flatMap { sr =>
            MdioWriter.statEntry(sr).map(ZarrMeta.chunkKey(m.chunkCoords(sr.cid).toSeq) -> _)
          }.toMap
          MdioChunkStats.refresh(varDir, entries)
        }
        frags.foreach(f => varDir.resolve(f).delete()) // after the manifest commit
        // ORPHAN SWEEP (r13 verdict #2): a driver crash between a task's
        // commit and the job's commit/abort leaves `.mdio_statfrag.*` files
        // no code path would ever delete — hidden dead bytes object stores
        // bill for. Any fragment here that is NOT this job's (the jobToken
        // in its name) and is older than the grace window is such a
        // leftover; the grace window keeps a genuinely concurrent job's
        // in-flight fragments safe. Scoped to fragment-bearing commits so
        // the always-inline regime never pays the directory LIST.
        if (frags.nonEmpty) sweepOrphanFragments(varDir)
      }
    }
    if (ZarrMeta.detectVersion(root) == 2) ZarrMeta.consolidate(root)
  }

  private def sweepOrphanFragments(varDir: graft.zarr.VPath): Unit = {
    val cutoff = System.currentTimeMillis() - fragGraceMs
    val own = s".mdio_statfrag.$jobToken."
    varDir.list().foreach { p =>
      if (p.isFile && p.name.startsWith(".mdio_statfrag.") && !p.name.startsWith(own))
        try { if (p.mtime <= cutoff) p.delete() }
        catch { case scala.util.control.NonFatal(_) => () } // best-effort
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = ZarrMeta.path(path)
    val delivered = messages.collect { case m: MdioStatsCommit => m }
    // A failed job has ALREADY mutated chunk files: task commits write the
    // store in place (the RMW contract), so any variable a delivered
    // message touched now holds post-write bytes while the stats sidecar
    // still reads generation-CURRENT with pre-write bounds — a later
    // value-pruned scan would answer from stale bounds. Bump the data
    // generation for every touched variable so those stats read stale
    // (pruning silently disables; the next stats-aware write republishes).
    // Spark calls abort() whenever commit() is not reached or throws —
    // including the sharding collision rejection above.
    delivered.iterator.flatMap(_.touched).toSet.foreach { (v: String) =>
      try MdioChunkStats.bump(root.resolve(v))
      catch { case scala.util.control.NonFatal(_) => () } // best-effort
    }
    // tasks may have spilled stat fragments before the job died — GC them
    delivered.foreach { m =>
      m.frags.foreach { case (v, fs) =>
        fs.foreach { f =>
          try root.resolve(v).resolve(f).delete()
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
  }
}

final case class MdioDataWriterFactory(path: String, dims: Array[String],
                                       schema: StructType,
                                       vars: Array[(String, ZarrMeta.ArrayMeta)],
                                       hconf: graft.zarr.HConf,
                                       inlineStatRows: Int = MdioBatchWrite.InlineStatRows,
                                       jobToken: String = "")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    graft.zarr.VPath.install(hconf.value) // executor JVMs have no SparkSession
    new MdioDataWriter(path, dims, schema, vars, inlineStatRows, jobToken)
  }
}

/** Per-task commit payload: the variables this task wrote at least one
  * cell of, and — for boundable dtypes — the exact bounds of each FINAL
  * chunk buffer it owned (clustering guarantees single ownership, so the
  * union is conflict-free): inline rows when few, spilled
  * `.mdio_statfrag.*` file names per variable when the task owned more
  * than [[MdioBatchWrite.InlineStatRows]] chunks. `shards` lists, per
  * sharding_indexed variable, the shard OBJECTS this task assembled —
  * shard-granular (the file unit), so it stays small however many inner
  * chunks the task owned; the driver commit cross-checks single ownership
  * and fails loudly on a collision. */
private final case class MdioStatsCommit(
    touched: Set[String],
    stats: Map[String, Array[MdioWriter.ChunkStatRow]],
    frags: Map[String, Seq[String]] = Map.empty,
    shards: Map[String, Array[Long]] = Map.empty) extends WriterCommitMessage

/** Buffers every owned chunk per variable; flushes chunk files on commit.
  * Thanks to the declared clustering, a chunk is owned by exactly one
  * task — no cross-task merge is ever needed. This is the one chunk
  * writer: the DSv2 sink creates one per task through
  * [[MdioDataWriterFactory]] and feeds it rows ([[write]]); the owner
  * shuffle of [[MdioWriter.writeVariable]] and [[MdioWriter.insertAligned]]
  * packs cells into chunk fragments with one ([[pack]]) on the map side and
  * merges them into another ([[merge]]) in each owner task. Both paths
  * fill the same seeded buffers with the same stored values. */
final class MdioDataWriter(path: String, dims: Array[String], schema: StructType,
                           vars: Array[(String, ZarrMeta.ArrayMeta)],
                           inlineStatRows: Int = MdioBatchWrite.InlineStatRows,
                           jobToken: String = "")
    extends DataWriter[InternalRow] {

  // fragment files THIS attempt spilled — deleted on task abort so a failed
  // or speculation-raced attempt never leaks hidden bytes (job-level abort
  // only sees fragments named in DELIVERED commit messages)
  private val spilledFrags = scala.collection.mutable.ArrayBuffer[graft.zarr.VPath]()

  private val rank = dims.length
  private val dimIdx: Array[Int] = dims.map(schema.fieldIndex)
  private val varIdx: Array[Int] = vars.map { case (v, _) =>
    val fieldName = if (dims.contains(v)) s"${v}__value" else v
    schema.fieldIndex(fieldName)
  }
  private val anchor = vars.head._2
  private val chunks: Array[Long] = anchor.chunks.toArray
  private val shape: Array[Long] = anchor.shape.toArray
  private val grid: Array[Long] = anchor.chunkGrid.toArray
  private val chunkLen = chunks.product.toInt

  // per variable: chunkId -> buffer (doubles cover f/c; longs cover i/u/b;
  // packed little-endian bytes cover record dtypes, zero-filled like the
  // reference's struct fill)
  private val bufD = Array.fill(vars.length)(scala.collection.mutable.Map[Long, Array[Double]]())
  private val bufL = Array.fill(vars.length)(scala.collection.mutable.Map[Long, Array[Long]]())
  private val bufB = Array.fill(vars.length)(scala.collection.mutable.Map[Long, Array[Byte]]())

  // ---- per-variable dispatch, fixed for the task: write() runs per cell
  private val kinds: Array[Char] = vars.map(v => MdioDataWriter.kindOf(v._2))
  private val valueTypes: Array[DataType] = varIdx.map(schema.fields(_).dataType)
  private val isU64: Array[Boolean] = vars.map { case (_, m) =>
    m.dtype.charAt(m.dtype.length - 2) == 'u' && m.dtype.endsWith("8") }
  // the value (for complex: each half) is read as a float, not a double
  private val floatIn: Array[Boolean] = Array.tabulate(vars.length) { v =>
    if (kinds(v) == 'c') !vars(v)._2.dtype.endsWith("16") else valueTypes(v) == FloatType }
  // float values round to the stored width BEFORE they are buffered, so the
  // chunk stats describe the stored values (encoding leaves them unchanged);
  // 8 = nothing to round (float64, or a float value bound for float32)
  private val roundWidth: Array[Int] = Array.tabulate(vars.length) { v =>
    val es = vars(v)._2.elemSize
    if (kinds(v) != 'f' || (es == 4 && floatIn(v))) 8 else es }
  private val fills: Array[Double] = Array.tabulate(vars.length) { v =>
    MdioDataWriter.round(vars(v)._2.fillValue.getOrElse(Double.NaN), roundWidth(v)) }
  private val longFills: Array[Long] = Array.tabulate(vars.length) { v =>
    if (isU64(v) && fills(v) > 9.2e18) -1L // u64 max fill, two's complement
    else if (fills(v).isNaN) 0L else fills(v).toLong }
  // sharded (sharding_indexed) variables take float/integral dtypes only:
  // complex/record shard assembly is not wired
  private val shardUnsupported: Array[Boolean] = vars.map { case (_, m) =>
    m.shard.isDefined && (m.fields.isDefined || m.isComplex) }

  private def varDir(v: Int) = ZarrMeta.path(path).resolve(vars(v)._1)

  // ---- sharding_indexed geometry per variable: a sharded variable's
  // chunk FILES are shard objects holding `innerCount` inner chunks behind
  // a footer index; the task owns whole shards (ownershipSizes), buffers
  // inner chunks exactly like plain chunks, and assembles shard objects
  // at commit with untouched inner chunks carried over byte-for-byte.
  private def shardIdOf(m: ZarrMeta.ArrayMeta, cc: Array[Long]): Long = {
    val ips = m.innerPerShard
    val sGrid = m.shardGrid
    var sid = 0L
    var i = 0
    while (i < rank) { sid = sid * sGrid(i) + cc(i) / ips(i); i += 1 }
    sid
  }
  private def shardVPath(v: Int, sid: Long) = {
    val m = vars(v)._2
    m.chunkFile(varDir(v), m.shardCoords(sid).toSeq.zip(m.innerPerShard).map { case (c, ips) => c * ips })
  }

  // read-modify-write seeds: a partial write preserves the untouched cells
  // of an existing chunk (fill only where no chunk file exists), matching
  // the reference's merging accessor writes. A sharded variable's shard
  // object is read once and serves both the seeds and the carried-over
  // inner chunks.
  private lazy val source = new ChunkSource(wholeShards = true)
  private def existing(v: Int, cid: Long): Array[Byte] =
    source.fetch(vars(v)._2, varDir(v), anchor.chunkCoords(cid).toSeq)

  // (java.util.Arrays.fill: Scala's generic Array.fill boxes every cell)
  private def seedD(v: Int, cid: Long, width: Int): Array[Double] = {
    val bytes = existing(v, cid)
    if (bytes == null) { val a = new Array[Double](chunkLen * width); java.util.Arrays.fill(a, fills(v)); a }
    else ChunkSource.decode(vars(v)._2, bytes).asInstanceOf[Array[Double]]
  }

  private def seedL(v: Int, cid: Long): Array[Long] = {
    val bytes = existing(v, cid)
    if (bytes == null) { val a = new Array[Long](chunkLen); java.util.Arrays.fill(a, longFills(v)); a }
    else ChunkSource.decode(vars(v)._2, bytes).asInstanceOf[Array[Long]]
  }

  private def seedB(v: Int, cid: Long, recSize: Int): Array[Byte] = {
    val bytes = existing(v, cid)
    if (bytes == null) new Array[Byte](chunkLen * recSize)
    else ChunkSource.decompress(vars(v)._2, bytes)
  }

  private def bufferD(v: Int, cid: Long): Array[Double] =
    bufD(v).getOrElseUpdate(cid, seedD(v, cid, if (kinds(v) == 'c') 2 else 1))
  private def bufferL(v: Int, cid: Long): Array[Long] = bufL(v).getOrElseUpdate(cid, seedL(v, cid))
  private def bufferB(v: Int, cid: Long): Array[Byte] =
    bufB(v).getOrElseUpdate(cid, seedB(v, cid, recSizes(v)))

  // record-dtype layout per variable (null when not a record dtype)
  private val recFields: Array[Seq[(String, String)]] = vars.map(_._2.fields.orNull)
  private val recSizes: Array[Int] = vars.map { case (_, m) =>
    m.fields.map(_.map(f => ChunkCodec.elemSize(f._2)).sum).getOrElse(0)
  }

  // ---- one cell: where it lands and what it stores, shared by write()
  // (the row path) and pack() (the fragment path)
  private var cellOff = 0
  private var cellCid = 0L
  // per dim: the last coordinate seen and its chunk index and in-chunk
  // position — rows mostly arrive in C order, so the outer dims repeat and
  // the inner one steps by one, and neither needs a division
  private val lastCoord = Array.fill(rank)(-2L)
  private val lastQ = new Array[Long](rank)
  private val lastR = new Array[Long](rank)

  /** Sets [[cellOff]] (C-order offset in its chunk) and [[cellCid]]. */
  private def locate(row: InternalRow): Unit = {
    var off = 0L
    var cid = 0L
    var stride = 1L
    var gstride = 1L
    var i = rank - 1
    while (i >= 0) {
      val coord = row.getLong(dimIdx(i))
      if (coord != lastCoord(i)) {
        require(coord >= 0 && coord < shape(i),
          s"coordinate $coord out of domain [0, ${shape(i)}) on dim ${dims(i)}")
        if (coord == lastCoord(i) + 1 && lastR(i) + 1 < chunks(i)) lastR(i) += 1
        else { lastQ(i) = coord / chunks(i); lastR(i) = coord % chunks(i) }
        lastCoord(i) = coord
      }
      off += lastR(i) * stride
      stride *= chunks(i)
      cid += lastQ(i) * gstride
      gstride *= grid(i)
      i -= 1
    }
    cellOff = off.toInt
    cellCid = cid
  }

  /** Whether variable `v` carries a value in `row`. NULL means "leave this
    * cell untouched": Spark's append resolution null-expands table columns
    * the input DataFrame doesn't carry, so a partial-VARIABLE write arrives
    * with the other variables all-null — skipping nulls is what keeps those
    * variables' data intact. */
  private def present(v: Int, row: InternalRow): Boolean =
    !row.isNullAt(varIdx(v)) && {
      // checked on the first actual value, so a sharded variable merely
      // PRESENT in the table (null-expanded) never blocks its unsharded peers
      require(!shardUnsupported(v),
        s"sharded write supports float/integral dtypes, not '${vars(v)._2.dtype}' " +
          s"(variable '${vars(v)._1}')")
      true
    }

  private def doubleAt(v: Int, row: InternalRow): Double = {
    val d = if (floatIn(v)) row.getFloat(varIdx(v)).toDouble else row.getDouble(varIdx(v))
    MdioDataWriter.round(d, roundWidth(v))
  }

  /** An integral value as the stored width keeps it, so the chunk stats
    * describe what a reader gets back. */
  private def longAt(v: Int, row: InternalRow): Long = {
    val vi = varIdx(v)
    val l = valueTypes(v) match {
      case LongType => row.getLong(vi)
      case IntegerType => row.getInt(vi).toLong
      case ShortType => row.getShort(vi).toLong
      case ByteType => row.getByte(vi).toLong
      case BooleanType => if (row.getBoolean(vi)) 1L else 0L
      case dt: DecimalType => // u64 two's-complement wrap
        row.getDecimal(vi, dt.precision, dt.scale).toJavaBigDecimal.toBigInteger.longValue()
      case _ => row.getLong(vi)
    }
    MdioDataWriter.narrow(l, kinds(v), vars(v)._2.elemSize)
  }

  private def complexAt(v: Int, row: InternalRow, buf: Array[Double], at: Int): Unit = {
    val s = row.getStruct(varIdx(v), 2)
    buf(at) = if (floatIn(v)) s.getFloat(0).toDouble else s.getDouble(0)
    buf(at + 1) = if (floatIn(v)) s.getFloat(1).toDouble else s.getDouble(1)
  }

  /** Packs a record value's struct fields little-endian at `buf(base)`. */
  private def recordAt(v: Int, row: InternalRow, buf: Array[Byte], base0: Int): Unit = {
    val fs = recFields(v)
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val s = row.getStruct(varIdx(v), fs.size)
    val sdt = valueTypes(v).asInstanceOf[StructType]
    var base = base0
    var k = 0
    while (k < fs.size) {
      val ft = fs(k)._2
      val es = ChunkCodec.elemSize(ft)
      if (ft.charAt(ft.length - 2) == 'f') {
        val d = sdt.fields(k).dataType match {
          case FloatType => s.getFloat(k).toDouble
          case _ => s.getDouble(k)
        }
        es match {
          case 2 => bb.putShort(base, ChunkCodec.floatToHalf(d.toFloat))
          case 4 => bb.putFloat(base, d.toFloat)
          case _ => bb.putDouble(base, d)
        }
      } else {
        val l = sdt.fields(k).dataType match {
          case LongType => s.getLong(k)
          case IntegerType => s.getInt(k).toLong
          case ShortType => s.getShort(k).toLong
          case ByteType => s.getByte(k).toLong
          case BooleanType => if (s.getBoolean(k)) 1L else 0L
          case _ => s.getLong(k)
        }
        es match {
          case 1 => bb.put(base, l.toByte)
          case 2 => bb.putShort(base, l.toShort)
          case 4 => bb.putInt(base, l.toInt)
          case _ => bb.putLong(base, l)
        }
      }
      base += es
      k += 1
    }
  }

  override def write(row: InternalRow): Unit = {
    locate(row)
    val off = cellOff
    val cid = cellCid
    var v = 0
    while (v < vars.length) {
      if (present(v, row)) kinds(v) match {
        case 'f' => bufferD(v, cid)(off) = doubleAt(v, row)
        case 'c' => complexAt(v, row, bufferD(v, cid), off * 2)
        case 'V' => recordAt(v, row, bufferB(v, cid), off * recSizes(v))
        case _ => bufferL(v, cid)(off) = longAt(v, row)
      }
      v += 1
    }
  }

  // ---- the fragment path: map tasks pack() their cells into per-chunk
  // fragments, the owner shuffle routes each to the task owning its chunk
  // (shard) file, and that task merge()s them into the same seeded buffers
  // write() fills
  private val ownSizes: Array[Long] = MdioWriteBuilder.ownershipSizes(vars.map(_._2).toSeq).toArray
  private val ownStrides: Array[Long] = MdioWriter.ownerStrides(shape, ownSizes)

  /** Owner id of chunk `cid`: the linear id of the ownership unit (whole
    * shard or chunk of every variable) holding it. */
  private def ownerOf(cid: Long): Long = {
    val cc = anchor.chunkCoords(cid)
    var o = 0L
    var i = 0
    while (i < rank) { o += cc(i) * chunks(i) / ownSizes(i) * ownStrides(i); i += 1 }
    o
  }

  /** Map side of the owner shuffle: packs the non-NULL cells of `rows` into
    * one [[MdioDataWriter.Fragment]] per (variable, chunk) and emits each as
    * `(owner id, bytes)` — every pending fragment once
    * [[MdioDataWriter.FragmentBudget]] bytes are held, and the rest when the
    * input ends, so a task touching many chunks stays bounded. */
  private[sources] def pack(rows: Iterator[InternalRow]): Iterator[(Long, Array[Byte])] =
    new Iterator[(Long, Array[Byte])] {
      private val pending = Array.fill(vars.length)(scala.collection.mutable.LongMap.empty[MdioDataWriter.Fragment])
      private val last = new Array[MdioDataWriter.Fragment](vars.length) // the last one hit, per variable
      private val ready = scala.collection.mutable.Queue[MdioDataWriter.Fragment]()
      private var held = 0L

      private def fragment(v: Int): MdioDataWriter.Fragment = {
        if (last(v) == null || last(v).cid != cellCid)
          last(v) = pending(v).getOrElseUpdate(cellCid,
            new MdioDataWriter.Fragment(v, cellCid, kinds(v), if (kinds(v) == 'V') recSizes(v) else 1))
        last(v)
      }

      private def add(row: InternalRow): Unit = {
        locate(row)
        var v = 0
        while (v < vars.length) {
          if (present(v, row)) {
            val f = fragment(v)
            held += f.add(cellOff)
            val at = f.n - 1
            kinds(v) match {
              case 'f' => f.d(at) = doubleAt(v, row)
              case 'c' => complexAt(v, row, f.d, at * 2)
              case 'V' => recordAt(v, row, f.b, at * recSizes(v))
              case _ => f.l(at) = longAt(v, row)
            }
          }
          v += 1
        }
      }

      override def hasNext: Boolean = {
        while (ready.isEmpty && rows.hasNext) {
          while (held < MdioDataWriter.FragmentBudget && rows.hasNext) add(rows.next())
          pending.foreach { p => ready ++= p.valuesIterator; p.clear() }
          last.indices.foreach(last(_) = null)
          held = 0L
        }
        ready.nonEmpty
      }

      override def next(): (Long, Array[Byte]) = {
        val f = ready.dequeue()
        ownerOf(f.cid) -> f.toBytes(vars(f.v)._2)
      }
    }

  /** Reduce side of the owner shuffle: writes one packed fragment's cells
    * into the chunk buffer they belong to, seeded as for [[write]]. */
  private[sources] def merge(fragment: Array[Byte]): Unit = {
    val bb = java.nio.ByteBuffer.wrap(fragment)
    val v = bb.getInt()
    val cid = bb.getLong()
    val runs = bb.getInt()
    val starts = Array.fill(runs)(bb.getInt())
    val lens = Array.fill(runs)(bb.getInt())
    val raw = java.util.Arrays.copyOfRange(fragment, bb.position(), fragment.length)
    val dtype = vars(v)._2.dtype
    def scatter(src: AnyRef, dst: AnyRef, width: Int): Unit = {
      var pos = 0
      var r = 0
      while (r < runs) {
        System.arraycopy(src, pos * width, dst, starts(r) * width, lens(r) * width)
        pos += lens(r)
        r += 1
      }
    }
    kinds(v) match {
      case 'f' => scatter(ChunkCodec.decodeDoubles(raw, dtype), bufferD(v, cid), 1)
      case 'c' => scatter(ChunkCodec.decodeComplex(raw, dtype), bufferD(v, cid), 2)
      case 'V' => scatter(raw, bufferB(v, cid), recSizes(v))
      case _ => scatter(ChunkCodec.decodeLongs(raw, dtype), bufferL(v, cid), 1)
    }
  }

  override def commit(): WriterCommitMessage = {
    val touched = Set.newBuilder[String]
    val stats = Map.newBuilder[String, Array[MdioWriter.ChunkStatRow]]
    val frags = Map.newBuilder[String, Seq[String]]
    val shardIds = Map.newBuilder[String, Array[Long]]
    // inline small row sets; spill big ones to a fragment file in the
    // variable directory (the commit-message stream must stay O(tasks))
    def emit(name: String, rows: Array[MdioWriter.ChunkStatRow]): Unit =
      if (rows.length <= inlineStatRows) stats += name -> rows
      else {
        // the job token namespaces the fragment so the driver commit's
        // orphan sweep can tell in-flight fragments from crash leftovers
        val tok = if (jobToken.isEmpty) "" else s"$jobToken."
        val frag = s".mdio_statfrag.$tok${java.util.UUID.randomUUID()}"
        val fp = ZarrMeta.path(path).resolve(name).resolve(frag)
        MdioStatsPublish.writeFragment(fp, rows)
        spilledFrags += fp
        frags += name -> Seq(frag)
      }
    var v = 0
    while (v < vars.length) {
      val (name, m) = vars(v)
      val kind = kinds(v)
      val isC = kind == 'c'
      def encoded(cid: Long): Array[Byte] = {
        val raw = bufD(v).get(cid)
          .map(b => if (isC) ChunkCodec.encodeComplex(b, m.dtype)
                    else ChunkCodec.encodeDoubles(b, m.dtype))
          .orElse(bufL(v).get(cid).map(ChunkCodec.encodeLongs(_, m.dtype)))
          .orElse(bufB(v).get(cid))
          .get
        ChunkCodec.compress(raw, m.compressor, m.elemSize, m.blosc)
      }
      val cids = (bufD(v).keysIterator ++ bufL(v).keysIterator ++ bufB(v).keysIterator).toSet
      if (m.shard.isEmpty) {
        cids.foreach(cid => m.chunkFile(varDir(v), anchor.chunkCoords(cid).toSeq).replace(encoded(cid)))
      } else {
        // sharded: assemble each owned shard object whole — touched inner
        // chunks from the buffers, untouched ones carried over
        // byte-for-byte from the existing shard
        val innerCount = m.innerPerShard.product.toInt
        val bySid = cids.groupBy(cid => shardIdOf(m, anchor.chunkCoords(cid)))
        bySid.foreach { case (sid, owned) =>
          val file = shardVPath(v, sid)
          val byIdx = owned.iterator.map(cid => m.innerIndex(anchor.chunkCoords(cid).toSeq) -> cid).toMap
          val parts = Array.tabulate(innerCount) { idx =>
            byIdx.get(idx).map(encoded).getOrElse(source.innerChunk(m, file, idx))
          }
          file.replace(ZarrMeta.buildShard(parts))
        }
        if (bySid.nonEmpty) shardIds += name -> bySid.keysIterator.toArray
      }
      if (cids.nonEmpty) touched += name
      def validOf(cid: Long): Array[Int] =
        MdioWriter.validExtents(anchor.chunkCoords(cid), chunks, shape)
      if (kind == 'f')
        emit(name, bufD(v).iterator.map { case (cid, buf) =>
          MdioWriter.floatStat(cid, buf, chunks, validOf(cid)) }.toArray)
      else if (kind != 'c' && kind != 'V')
        emit(name, bufL(v).iterator.map { case (cid, buf) =>
          if (isU64(v)) MdioWriter.u64Stat(cid, buf, chunks, validOf(cid))
          else MdioWriter.longStat(cid, buf, chunks, validOf(cid)) }.toArray)
      v += 1
    }
    MdioStatsCommit(touched.result(), stats.result(), frags.result(), shardIds.result())
  }

  override def abort(): Unit =
    // a failed (or speculation-raced) attempt deletes its own spilled
    // fragments — the job-level abort only sees DELIVERED commit messages
    spilledFrags.foreach { p =>
      try p.delete() catch { case scala.util.control.NonFatal(_) => () }
    }
  override def close(): Unit = source.close()
}

object MdioDataWriter {
  /** Value family of a variable: 'V' record, 'c' complex, else the dtype's
    * kind character ('f', 'i', 'u', 'b'). */
  private[sources] def kindOf(m: ZarrMeta.ArrayMeta): Char =
    if (m.fields.isDefined) 'V'
    else if (m.isComplex) 'c'
    else m.dtype.charAt(m.dtype.length - 2)

  /** `d` as a float of `width` bytes stores it (float16 through the codec's
    * own conversion); any other width leaves it as is. */
  private def round(d: Double, width: Int): Double = width match {
    case 4 => d.toFloat.toDouble
    case 2 => ChunkCodec.halfToFloat(ChunkCodec.floatToHalf(d.toFloat)).toDouble
    case _ => d
  }

  /** `l` as an integral `kind` of `width` bytes stores it: truncated to the
    * width, unsigned kinds zero-extended, bool as 0/1 — what
    * [[ChunkCodec.decodeLongs]] returns for [[ChunkCodec.encodeLongs]]. */
  private def narrow(l: Long, kind: Char, width: Int): Long =
    if (kind == 'b') { if (l != 0L) 1L else 0L }
    else if (kind == 'i') width match {
      case 1 => l.toByte.toLong
      case 2 => l.toShort.toLong
      case 4 => l.toInt.toLong
      case _ => l
    } else width match {
      case 1 => l & 0xffL
      case 2 => l & 0xffffL
      case 4 => l & 0xffffffffL
      case _ => l
    }

  /** Bytes of packed cells a map task holds before it emits its fragments. */
  private[sources] val FragmentBudget: Long = 16L << 20

  /** A map task's pending cells of one chunk of variable `v`: C-order offset
    * runs over the chunk, plus the values in cell order — doubles for float
    * (one per cell) and complex (two), longs for integral kinds, packed
    * record bytes (`width` per cell). [[toBytes]] stores the values in the
    * variable's dtype, so the shuffle carries stored bytes, not cells. */
  private[sources] final class Fragment(val v: Int, val cid: Long, kind: Char, width: Int) {
    private val perCell = if (kind == 'c') 2 else 1
    private val cellBytes = if (kind == 'V') width else 8 * perCell
    private var starts = new Array[Int](4)
    private var lens = new Array[Int](4)
    private var runs = 0
    private var end = -1
    var n = 0
    var d: Array[Double] = if (kind == 'f' || kind == 'c') new Array[Double](16 * perCell) else null
    var b: Array[Byte] = if (kind == 'V') new Array[Byte](16 * width) else null
    var l: Array[Long] = if (d == null && b == null) new Array[Long](16) else null

    /** Appends the cell at chunk offset `off`, whose value goes in slot
      * `n - 1`; returns the bytes this adds. */
    def add(off: Int): Long = {
      var added = cellBytes.toLong
      if (runs > 0 && off == end) lens(runs - 1) += 1
      else {
        if (runs == starts.length) {
          starts = java.util.Arrays.copyOf(starts, runs * 2)
          lens = java.util.Arrays.copyOf(lens, runs * 2)
        }
        starts(runs) = off
        lens(runs) = 1
        runs += 1
        added += 8
      }
      end = off + 1
      n += 1
      if (d != null && n * perCell > d.length) d = java.util.Arrays.copyOf(d, d.length * 2)
      if (b != null && n * width > b.length) b = java.util.Arrays.copyOf(b, b.length * 2)
      if (l != null && n > l.length) l = java.util.Arrays.copyOf(l, l.length * 2)
      added
    }

    /** `[v][cid][runs][run starts][run lengths][values in m's dtype]`, the
      * layout [[MdioDataWriter.merge]] reads. */
    def toBytes(m: ZarrMeta.ArrayMeta): Array[Byte] = {
      val values = kind match {
        case 'f' => ChunkCodec.encodeDoubles(java.util.Arrays.copyOf(d, n), m.dtype)
        case 'c' => ChunkCodec.encodeComplex(java.util.Arrays.copyOf(d, 2 * n), m.dtype)
        case 'V' => java.util.Arrays.copyOf(b, n * width)
        case _ => ChunkCodec.encodeLongs(java.util.Arrays.copyOf(l, n), m.dtype)
      }
      val bb = java.nio.ByteBuffer.allocate(16 + 8 * runs + values.length)
      bb.putInt(v).putLong(cid).putInt(runs)
      var r = 0
      while (r < runs) { bb.putInt(starts(r)); r += 1 }
      r = 0
      while (r < runs) { bb.putInt(lens(r)); r += 1 }
      bb.put(values).array()
    }
  }
}
