package graft.zarr

import scala.collection.mutable

/** The one chunk read path: fetch → decompress → decode, shared by the scan
  * and every read-modify-write seed of the writers (the reference reads every
  * chunk through one TensorStore driver, mdio/variable.h:1078-1103).
  *
  * Fetch reads a plain chunk file whole, or one inner chunk of a sharded v3
  * array. Scans range-read inner chunks through a [[ShardCache]] (one open
  * handle per shard). Writers pass `wholeShards`: they read each shard object
  * once and slice inner chunks out of it, because they carry most of them
  * over into the rewritten shard. Both ways parse the footer index through
  * the crc32c- and bounds-checked [[ZarrMeta.parseShardIndex]].
  *
  * One instance per task; closing it closes the shard handles it opened. */
final class ChunkSource(wholeShards: Boolean = false) extends AutoCloseable {

  private val handles = new ShardCache
  // wholeShards: shard uri -> (object bytes, footer index); null = absent
  private val objects = mutable.Map[String, (Array[Byte], Array[(Long, Long)])]()

  /** Compressed bytes of chunk `coords` of the array stored in `arrayDir`;
    * null when the chunk (or its shard) is absent. */
  def fetch(meta: ZarrMeta.ArrayMeta, arrayDir: VPath, coords: Seq[Long]): Array[Byte] = {
    val file = meta.chunkFile(arrayDir, coords)
    if (meta.shard.isEmpty) file.readBytesOrNull()
    else if (wholeShards) innerChunk(meta, file, meta.innerIndex(coords))
    else handles.readInnerChunk(file, meta, coords)
  }

  /** Inner chunk `idx` (C-order within the shard) of the shard object
    * `file`, sliced out of one whole-object read; null when absent. */
  def innerChunk(meta: ZarrMeta.ArrayMeta, file: VPath, idx: Int): Array[Byte] = {
    val obj = objects.getOrElseUpdate(file.uri, {
      val bytes = file.readBytesOrNull()
      if (bytes == null) null
      else (bytes, ZarrMeta.parseShardFooter(bytes, meta.innerPerShard.product.toInt, file.uri))
    })
    if (obj == null) return null
    val (off, nbytes) = obj._2(idx)
    if (off == -1L && nbytes == -1L) null
    else java.util.Arrays.copyOfRange(obj._1, off.toInt, (off + nbytes).toInt)
  }

  /** Fetch and decode chunk `coords` (see [[ChunkSource.decode]]); null when absent. */
  def load(meta: ZarrMeta.ArrayMeta, arrayDir: VPath, coords: Seq[Long]): AnyRef = {
    val bytes = fetch(meta, arrayDir, coords)
    if (bytes == null) null else ChunkSource.decode(meta, bytes)
  }

  override def close(): Unit = handles.close()
}

object ChunkSource {

  /** Raw (decompressed) bytes of one whole chunk. */
  def decompress(meta: ZarrMeta.ArrayMeta, compressed: Array[Byte]): Array[Byte] =
    ChunkCodec.decompress(compressed, meta.compressor, (meta.chunks.product * meta.elemSize).toInt)

  /** Decompress and decode one chunk by dtype: record → per-field arrays
    * (`Array[AnyRef]`), complex → interleaved re/im `Array[Double]`, float →
    * `Array[Double]`, every other dtype → `Array[Long]`. */
  def decode(meta: ZarrMeta.ArrayMeta, compressed: Array[Byte]): AnyRef = {
    val raw = decompress(meta, compressed)
    meta.fields match {
      case Some(fs) => ChunkCodec.decodeFields(raw, fs)
      case None =>
        if (meta.isComplex) ChunkCodec.decodeComplex(raw, meta.dtype)
        else if (meta.dtype.charAt(meta.dtype.length - 2) == 'f') ChunkCodec.decodeDoubles(raw, meta.dtype)
        else ChunkCodec.decodeLongs(raw, meta.dtype)
    }
  }
}
