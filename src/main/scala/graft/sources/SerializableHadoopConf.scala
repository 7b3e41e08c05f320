package graft.sources

import org.apache.hadoop.conf.Configuration

/** Java-serializable carrier for the SESSION's Hadoop configuration.
  *
  * DSv2 writer factories are serialized to executors; a
  * `new Configuration()` built there silently drops every
  * `spark.hadoop.*` session setting (s3a credentials, endpoints,
  * filesystem overrides), so the connector would work on `file://`
  * but mis-authenticate on any store configured through the Spark
  * session. The writers instead ship the job configuration
  * [[LakeParquetSink]] prepares from the session on the driver,
  * wrapped in this class — the same discipline the rest of
  * [[graft.ops.Versioned]] follows by always deriving filesystems
  * from the session conf. Hadoop's `Configuration` is `Writable` but
  * not `Serializable`, hence the custom hooks.
  */
final class SerializableHadoopConf(@transient private var conf: Configuration)
  extends Serializable {

  def value: Configuration = conf

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
