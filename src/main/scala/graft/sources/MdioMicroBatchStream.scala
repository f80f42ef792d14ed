package graft.sources

import graft.zarr.ZarrMeta
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import scala.math.Ordering.Implicits._

/** Streaming offset: the MAXIMUM chunk key (lexicographic coordinate
  * tuple) delivered so far; empty = nothing delivered. Keyed — not a
  * count — so a chunk appearing BELOW the boundary (backfill, append on a
  * non-leading dimension) cannot shift indices and silently re-deliver or
  * skip chunks: below-boundary arrivals are ignored (the documented
  * append-only contract), above-boundary chunks deliver exactly once. */
final case class MdioStreamOffset(key: Vector[Long]) extends Offset {
  override def json(): String = s"""{"key": [${key.mkString(", ")}]}"""
}

/** Micro-batch STREAMING SOURCE over a growing MDIO store — the read twin
  * of the chunk-aligned streaming sink: an ingest job appends chunks
  * (trace-by-trace along the leading dimension, the reference's SEG-Y
  * ingest shape), and `spark.readStream.format("mdio")` tails them.
  *
  * Offsets carry the MAX DELIVERED CHUNK KEY of the anchor variable (see
  * [[MdioStreamOffset]]), so the append-only contract is: new chunks must
  * sort after already-present ones (appends along the leading dimension
  * do); keys arriving below the boundary are ignored, never index-shifted
  * into duplicates or skips. Each micro-batch plans exactly the newly
  * appeared chunks as one-chunk [[MdioChunkRun]]s, the batch scan's own
  * partition — pushed dim-range filters still prune, and rewritten chunks
  * are NOT re-emitted (each chunk is delivered once).
  * Sharded arrays enumerate the inner chunks of newly appeared shard
  * objects.
  *
  * LONG-LIVED TAILS: prefer ZARR V3 stores. The per-trigger listing is
  * floor-pruned on both formats (the parse/plan set stays O(new data)),
  * but v2's flat chunk namespace makes the LIST RPC itself return the
  * whole directory every trigger — inherent to the layout — while v3's
  * hierarchical `c/<i>/…` layout lets the tail skip below-floor subtrees
  * before any inner listing: per-trigger listing cost O(new subtrees),
  * pinned by [[MdioMicroBatchStream.lastSubtreesListed]]. A stream that
  * will run for months over a growing 100 TB store should be a v3 store
  * for this reason alone. */
/** Listing-cost observability (the ShardCache.opens pattern): how many
  * names the last store listing returned vs how many survived the
  * committed-floor prune — specs pin that long-lived tails keep the
  * driver-side planning set O(new data), not O(history). Test-only
  * counters; last-writer-wins under concurrent streams is acceptable. */
object MdioMicroBatchStream {
  @volatile private[sources] var lastListed: Int = 0
  @volatile private[sources] var lastRetained: Int = 0
  /** v3 only: leading-dim subtrees RECURSIVELY listed by the last trigger
    * (below-floor subtrees are skipped before any inner LIST). -1 = the
    * last listing was a v2 flat namespace, where one LIST RPC necessarily
    * returns the whole directory however good the parse-time floor prune —
    * which is why ZARR V3 IS THE LONG-TAIL STREAMING FORMAT OF RECORD:
    * a v3 tail's per-trigger listing cost is O(new subtrees), a v2 tail's
    * is O(store) names on the wire (parse/plan still O(new data)). */
  @volatile private[sources] var lastSubtreesListed: Int = -1
}

final class MdioMicroBatchStream(path: String, dims: Seq[String],
                                 metas: Map[String, ZarrMeta.ArrayMeta],
                                 requiredSchema: org.apache.spark.sql.types.StructType,
                                 ranges: Map[String, (Long, Long)])
    extends MicroBatchStream {

  private val neededVars = requiredSchema.fieldNames
    .map(_.stripSuffix("__value")).distinct.filter(metas.contains)
  private val anchorVar = neededVars.headOption.getOrElse(metas.keys.min)
  private val anchorMeta = metas(anchorVar)

  // floor for listing-time pruning: once a batch commits, no key at or
  // below its max can ever be planned again, so subtrees entirely below
  // it need not even be LISTED (object-store listing is the per-batch
  // cost at scale; a 10^8-chunk store must not re-list its history)
  @volatile private var committedFloor: Vector[Long] = Vector.empty

  /** Present chunk coordinates of the anchor variable, sorted
    * lexicographically (= C-order). Shard objects expand to their inner
    * chunks, clamped to the chunk grid. `floorKey` (a chunk key) prunes
    * the v3 hierarchical listing: leading-dimension directories whose
    * whole subtree sorts strictly below it are skipped — the append
    * pattern (new chunks along the leading dim) makes the per-batch
    * listing O(new data), not O(history). v2 chunk keys are a flat
    * namespace (`i.j` files): one LIST RPC still covers the directory
    * (there is no hierarchy to skip), but the same leading-component
    * floor drops below-floor names at parse, so the driver-side
    * parse/sort/plan set is O(new data) on a long-lived tail too. */
  private def presentCoords(floorKey: Vector[Long]): IndexedSeq[Vector[Long]] = {
    val arrayDir = ZarrMeta.path(path).resolve(anchorVar)
    val rank = dims.size
    val fileCoords: Seq[Vector[Long]] =
      if (anchorMeta.version == 3) {
        val cDir = arrayDir.resolve("c")
        // leading file-coord floor: shard units divide out (a shard dir
        // s0 holds chunk coords [s0*ips0, (s0+1)*ips0))
        val unit0 = anchorMeta.shard.map(_ => anchorMeta.innerPerShard.head).getOrElse(1L)
        val floor0 = if (floorKey.isEmpty) Long.MinValue else floorKey.head / unit0
        // a name must be nonempty digits: `forall(_.isDigit)` alone is
        // vacuously true for "" (e.g. a stray FILE named c/7 in a rank-2
        // store relativizes to "" and must be skipped, not crash)
        def numeric(s: String): Boolean = s.nonEmpty && s.forall(_.isDigit)
        val all = cDir.list().filter(p => numeric(p.name))
        MdioMicroBatchStream.lastListed = all.size
        val tops = all.filter(_.name.toLong >= floor0)
        MdioMicroBatchStream.lastSubtreesListed = if (rank == 1) 0 else tops.size
        val coords =
          if (rank == 1) tops.map(p => Vector(p.name.toLong))
          else tops.flatMap { top =>
            top.listFilesRecursive()
              .map(p => top.name +: top.relativize(p).split("/").toVector)
              .collect { case parts if parts.length == rank && parts.forall(numeric) =>
                parts.map(_.toLong)
              }
          }
        MdioMicroBatchStream.lastRetained = coords.size
        coords
      } else {
        // v2 floor is in chunk units directly (no shards in v2): a name
        // whose first component is below the floor's head names a key
        // strictly below the floor — below-floor keys can never plan
        // again, so drop them before sort. Within the head slab
        // (first component == floor head) the SECOND component prunes
        // the same way: (f0, x, ...) sorts below (f0, f1, ...) whenever
        // x < f1 — so an append storm inside the current leading slab
        // keeps the retained set O(new data) too, not O(slab history).
        val floor0 = if (floorKey.isEmpty) Long.MinValue else floorKey.head
        val floor1 = if (floorKey.size >= 2) floorKey(1) else Long.MinValue
        val names = arrayDir.list().filter(p => p.isFile && !p.name.startsWith("."))
        MdioMicroBatchStream.lastListed = names.size
        MdioMicroBatchStream.lastSubtreesListed = -1 // flat namespace: n/a
        val coords = names
          .map(_.name.split("\\.").toVector)
          .collect { case parts if parts.length == rank && parts.forall(_.forall(_.isDigit)) =>
            parts.map(_.toLong)
          }
          .filter(c => c.head > floor0 ||
            (c.head == floor0 && (rank < 2 || c(1) >= floor1)))
        MdioMicroBatchStream.lastRetained = coords.size
        coords
      }
    val chunkCoords: Seq[Vector[Long]] = anchorMeta.shard match {
      case None => fileCoords
      case Some(_) =>
        val ips = anchorMeta.innerPerShard
        val grid = anchorMeta.chunkGrid
        fileCoords.flatMap { sc =>
          def expand(i: Int, acc: Vector[Long]): Seq[Vector[Long]] =
            if (i == rank) Seq(acc)
            else (0L until ips(i)).flatMap { k =>
              val c = sc(i) * ips(i) + k
              if (c < grid(i)) expand(i + 1, acc :+ c) else Nil
            }
          expand(0, Vector.empty)
        }
    }
    chunkCoords.sorted.toIndexedSeq
  }

  override def initialOffset(): Offset = MdioStreamOffset(Vector.empty)
  override def latestOffset(): Offset = {
    val coords = presentCoords(committedFloor)
    if (coords.isEmpty) MdioStreamOffset(committedFloor)
    else MdioStreamOffset(Seq(committedFloor, coords.last).max) // lexicographic max
  }
  override def deserializeOffset(json: String): Offset = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    (parsed \ "key") match {
      case org.json4s.JNothing =>
        // pre-key (count-based) checkpoint: fail loudly — silently mapping
        // a count to a key would re-deliver or skip chunks
        throw new IllegalStateException(
          s"unsupported mdio stream offset $json (count-format checkpoint from " +
            "an older version); restart the stream from a fresh checkpoint")
      case key => MdioStreamOffset(key.extract[Vector[Long]])
    }
  }
  override def commit(end: Offset): Unit =
    committedFloor = end.asInstanceOf[MdioStreamOffset].key
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MdioStreamOffset].key
    val e = end.asInstanceOf[MdioStreamOffset].key
    if (e.isEmpty) return Array.empty
    val shape = anchorMeta.shape
    val chunks = anchorMeta.chunks
    val bounds: Seq[(Long, Long)] = dims.zipWithIndex.map { case (d, i) =>
      val (lo, hi) = ranges.getOrElse(d, (0L, shape(i)))
      (math.max(lo, 0L), math.min(hi, shape(i)))
    }
    // exactly the keys in (start, end] — key-ranged, immune to index shift
    presentCoords(s)
      .filter(cc => (s.isEmpty || cc > s) && cc <= e)
      .filter(cc => cc.indices.forall(i => // chunks outside the pushed ranges prune
        math.max(bounds(i)._1, cc(i) * chunks(i)) < math.min(bounds(i)._2, (cc(i) + 1) * chunks(i))))
      .map(cc => MdioChunkRun(path, cc.toArray, Array.fill(cc.size)(1L), 0L, 1L, null,
        bounds.map(_._1).toArray, bounds.map(_._2).toArray, chunks.toArray,
        neededVars, neededVars.map(v => metas(v))): InputPartition)
      .toArray
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    MdioReaderFactory(dims.toArray, requiredSchema, graft.zarr.HConf.capture())
}
