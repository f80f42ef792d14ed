package graft.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CommonPathCapabilities, FileSystem, Path => HPath}
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

/** URI-addressed storage path backed by the Hadoop `FileSystem` API — the
  * S7 storage-driver layer. Scheme selection mirrors the reference's driver
  * inference from the path (mdio/zarr/zarr_driver.h:225-231: no scheme /
  * `file://` → local, `s3://` → S3, `gs://` → GCS): Hadoop resolves the
  * concrete FileSystem from the URI scheme (`file:`, `s3a:`, `gs:`, `hdfs:`,
  * …) and the active Spark session's Hadoop configuration, so cloud
  * credentials configured via `spark.hadoop.*` flow through untouched.
  *
  * Serializable by construction: only the URI string crosses the
  * driver→executor boundary; the `FileSystem` handle is resolved lazily per
  * JVM (Hadoop caches instances per scheme+authority, so this is cheap).
  */
final class VPath private (val uri: String) extends Serializable {
  @transient private lazy val hp: HPath = new HPath(uri)
  @transient private lazy val fs: FileSystem = hp.getFileSystem(VPath.conf)

  def resolve(child: String): VPath = new VPath(new HPath(hp, child).toString)
  def parent: VPath = new VPath(hp.getParent.toString)
  def name: String = hp.getName

  def exists: Boolean = fs.exists(hp)
  def isDirectory: Boolean =
    try fs.getFileStatus(hp).isDirectory catch { case _: FileNotFoundException => false }
  def isFile: Boolean =
    try fs.getFileStatus(hp).isFile catch { case _: FileNotFoundException => false }

  /** Read the whole file; null when absent — one round-trip for the hot
    * chunk-read path (no separate exists() probe per chunk). */
  def readBytesOrNull(): Array[Byte] =
    try {
      val len = fs.getFileStatus(hp).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(hp)
      try in.readFully(0, buf) finally in.close()
      buf
    } catch { case _: FileNotFoundException => null }

  def readAllBytes(): Array[Byte] = {
    val b = readBytesOrNull()
    if (b == null) throw new FileNotFoundException(uri)
    b
  }

  /** File length; -1 when absent. */
  def length(): Long =
    try fs.getFileStatus(hp).getLen catch { case _: FileNotFoundException => -1L }

  /** Positioned range read — the object-store access pattern for shard
    * indexes and inner chunks (S3/GCS range GETs via the Hadoop
    * connectors; plain seek locally). One-shot open/close; readers that
    * revisit the same object should hold a [[ShardCache]] handle instead. */
  def readRange(offset: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    val in = fs.open(hp)
    try in.readFully(offset, buf) finally in.close()
    buf
  }

  /** Open a positioned-read stream the CALLER owns (must close). Throws
    * FileNotFoundException when absent — probe with [[length]] first. */
  private[graft] def openStream(): org.apache.hadoop.fs.FSDataInputStream = fs.open(hp)

  def readString(): String = new String(readAllBytes(), StandardCharsets.UTF_8)

  /** Create/overwrite (parent directories are created implicitly). */
  def write(bytes: Array[Byte]): Unit = {
    val out = fs.create(hp, true)
    try out.write(bytes) finally out.close()
  }
  def writeString(s: String): Unit = write(s.getBytes(StandardCharsets.UTF_8))

  /** [[write]] as one step: a reader, a crash or a cancelled task (Spark
    * interrupts the running tasks of a failed job) sees the whole old bytes
    * or the whole new ones, never a truncated file. Stores whose output
    * streams publish on close (object stores) put whole objects already;
    * elsewhere the bytes go to a hidden sibling that is renamed over the
    * file. */
  def replace(bytes: Array[Byte]): Unit =
    if (fs.hasPathCapability(hp, CommonPathCapabilities.ABORTABLE_STREAM)) write(bytes)
    else {
      val tmp = new HPath(hp.getParent, s".${hp.getName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        // a POSIX rename replaces the target in place; where the filesystem
        // refuses an existing target, the target goes first — delete and
        // rename ignore interrupts, so only a crash between the two leaves
        // it absent, never truncated
        if (!fs.rename(tmp, hp) && !(fs.delete(hp, false) && fs.rename(tmp, hp)))
          throw new java.io.IOException(s"could not move $tmp over $hp")
      } catch {
        case t: Throwable =>
          try fs.delete(tmp, false) catch { case _: Throwable => () }
          throw t
      }
    }

  def mkdirs(): Unit = fs.mkdirs(hp)

  /** Immediate children (empty when absent). */
  def list(): Seq[VPath] =
    try fs.listStatus(hp).toSeq.map(st => new VPath(st.getPath.toString))
    catch { case _: FileNotFoundException => Nil }

  /** All regular files under this path, recursively (empty when absent). */
  def listFilesRecursive(): Seq[VPath] =
    listFilesRecursiveIterator().toSeq

  /** Immediate children as a LAZY iterator (empty when absent): the
    * object-store paged-listing form (`listStatusIterator` pulls one
    * LIST page at a time on S3A/GCS), so a caller draining in batches
    * holds O(page + batch) names, never the directory. */
  def listIterator(): Iterator[VPath] =
    try {
      val it = fs.listStatusIterator(hp)
      new Iterator[VPath] {
        def hasNext: Boolean = it.hasNext
        def next(): VPath = new VPath(it.next().getPath.toString)
      }
    } catch { case _: FileNotFoundException => Iterator.empty }

  /** [[listFilesRecursive]] as a LAZY iterator (empty when absent) — the
    * form trim's many-chunk deletes drain in bounded driver batches. */
  def listFilesRecursiveIterator(): Iterator[VPath] =
    try {
      val it = fs.listFiles(hp, true)
      new Iterator[VPath] {
        def hasNext: Boolean = it.hasNext
        def next(): VPath = new VPath(it.next().getPath.toString)
      }
    } catch { case _: FileNotFoundException => Iterator.empty }

  /** Path of `descendant` relative to this path, '/'-separated. */
  def relativize(descendant: VPath): String = {
    val base = hp.toUri.getPath.stripSuffix("/")
    val other = descendant.hp.toUri.getPath
    other.stripPrefix(base).stripPrefix("/")
  }

  def delete(): Unit = fs.delete(hp, false)
  def deleteRecursive(): Unit = fs.delete(hp, true)

  override def toString: String = uri
  override def equals(o: Any): Boolean = o match {
    case v: VPath => v.uri == uri
    case _ => false
  }
  override def hashCode(): Int = uri.hashCode
}

object VPath {
  def apply(s: String): VPath = new VPath(s)

  // driver-captured configuration installed by task-side readers/writers
  // (see HConf): on a real cluster executors have no SparkSession, and a
  // bare `new Configuration()` would lose every spark.hadoop.* override
  @volatile private var installedConf: Configuration = null

  /** Install a driver-captured configuration as this JVM's fallback for
    * all subsequent VPath filesystem resolution (idempotent; called from
    * reader/writer factories before any task-side I/O). */
  private[graft] def install(c: Configuration): Unit =
    if (c != null) installedConf = c

  /** Hadoop conf: the active/default Spark session's (carries
    * `spark.hadoop.*` overrides — cloud creds, endpoints); else a
    * driver-captured [[install]]ed conf (executors of a real cluster);
    * else a plain `Configuration` off the classpath (bare JVM tools). */
  private[graft] def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse {
        val c = installedConf
        if (c != null) c else new Configuration()
      }
}
