package graft.zarr

import org.apache.hadoop.conf.Configuration
import java.io.{ObjectInputStream, ObjectOutputStream}

/** Java-serializable Hadoop `Configuration` carrier.
  *
  * On a real cluster executor JVMs have no `SparkSession`, so resolving the
  * Hadoop configuration lazily there (as [[VPath.conf]] must for bare-JVM
  * tools) would silently drop every `spark.hadoop.*` override — S3/GCS
  * credentials and endpoints configured on the session would never reach
  * task-side chunk I/O. The standard connector pattern applies instead:
  * capture the driver's resolved configuration once at plan/write time
  * ([[HConf.capture]]), ship it inside the reader factory or the write
  * job's task closures (one copy per stage, not per partition), and
  * [[VPath.install]] it before any
  * task-side filesystem access.
  */
final class HConf(@transient private var c: Configuration) extends Serializable {
  def value: Configuration = c

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    c.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    c = new Configuration(false)
    c.readFields(in)
  }
}

object HConf {
  /** Driver-side capture of the session's resolved Hadoop configuration. */
  def capture(): HConf = new HConf(VPath.conf)
}
