package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

import java.util.concurrent.atomic.AtomicLong

/** The local `file:` filesystem with a count of files opened for reading:
  * Hadoop's own statistics count bytes but no read operations for local
  * files. Installed through `spark.hadoop.fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFileSystem.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val opens = new AtomicLong()
}
