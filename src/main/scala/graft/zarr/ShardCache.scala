package graft.zarr

import org.apache.hadoop.fs.FSDataInputStream
import scala.collection.mutable

/** Partition-scoped cache of open shard handles: one `FSDataInputStream`
  * and one parsed footer index per shard OBJECT, reused across all inner
  * chunks a task reads from that shard.
  *
  * Without it every inner-chunk read re-opens the same object twice (index
  * + payload) — cheap locally, but each open is a HEAD/auth round-trip on
  * object stores, and a C-order chunk range crosses the same shard many
  * times. One reader owns one cache (created by the reader factory, closed
  * with the reader); at most [[ShardCache.MaxOpen]] handles stay open, LRU
  * evicted.
  */
final class ShardCache extends AutoCloseable {

  private final class Entry(val in: FSDataInputStream, val index: Array[(Long, Long)])

  // insertion-ordered; moved-to-back on hit => head is LRU
  private val entries = mutable.LinkedHashMap[String, Entry]()
  /** Stream opens performed (test observability: ≤ 1 per shard per task). */
  var opens: Int = 0

  private def entryFor(file: VPath, n: Int): Entry =
    entries.remove(file.uri) match {
      case Some(e) => entries.update(file.uri, e); e // refresh LRU position
      case None =>
        val e = load(file, n)
        if (entries.size >= ShardCache.MaxOpen) {
          val (_, evicted) = entries.head
          entries.remove(entries.head._1)
          if (evicted != null && evicted.in != null) evicted.in.close()
        }
        entries.update(file.uri, e)
        e
    }

  private def load(file: VPath, n: Int): Entry = {
    val len = file.length()
    if (len < 0) return null // absent shard: cached as a null entry
    val idxBytes = 16L * n + 4 // crc32c footer (always written by this engine)
    require(len >= idxBytes, s"shard ${file.uri} shorter than its index")
    opens += 1
    val in = file.openStream()
    try {
      val raw = new Array[Byte](idxBytes.toInt)
      in.readFully(len - idxBytes, raw)
      new Entry(in, ZarrMeta.parseShardIndex(raw, n, crc = true, file.uri, len - idxBytes))
    } catch {
      // a truncated/corrupt index must not leak the open handle (each
      // task retry would otherwise leak one connection on object stores)
      case t: Throwable => in.close(); throw t
    }
  }

  /** Read one inner chunk's compressed payload out of a shard object;
    * null when the shard or the inner chunk is absent. Reuses the open
    * handle + parsed index across calls for the same shard. */
  def readInnerChunk(file: VPath, meta: ZarrMeta.ArrayMeta, coords: Seq[Long]): Array[Byte] = {
    val n = meta.innerPerShard.product.toInt
    val e = entryFor(file, n)
    if (e == null) return null
    val (off, nbytes) = e.index(meta.innerIndex(coords))
    if (off == -1L && nbytes == -1L) null
    else {
      require(nbytes <= Int.MaxValue,
        s"inner chunk of ${file.uri} exceeds the 2 GB JVM array limit; reduce chunkShape")
      val buf = new Array[Byte](nbytes.toInt)
      e.in.readFully(off, buf)
      buf
    }
  }

  override def close(): Unit = {
    entries.valuesIterator.foreach(e => if (e != null && e.in != null) e.in.close())
    entries.clear()
  }
}

object ShardCache {
  /** Max simultaneously open shard handles per task. */
  val MaxOpen: Int = 8
}
