package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source/sink with the reference's exact options, plus the
  * explicit-schema fast path this engine prefers.
  *
  * Reference source (ref `controller/script.py:22-27`): header=true,
  * inferSchema=true, sep=",". Inference costs a full extra scan of the
  * input — tolerable at 6.5k rows, not at 100 TB — so production paths
  * pass a declared [[StructType]] and skip it. [[readInferred]] runs
  * it once per unchanged input: the inferred schema is remembered by
  * everything it depends on, and later reads declare it.
  *
  * Reference sink (ref `controller/script.py:52-65`): coalesce(1),
  * mode=overwrite, header=true — single part file by contract (the
  * reference's controller errors on >1 part file,
  * ref `controller/app.py:479-480`). [[writeSingle]] preserves that;
  * [[write]] is the scale path (one file per partition, parallel).
  */
object Csv {

  /** What an inferred schema depends on: the path and separator, the
    * (name, length, modification time) of each data file, and the
    * session's SQL confs (time zone, timestamp type, parser policy …).
    * Plain values, so the memo keeps no session alive. */
  private final case class InferKey(path: String, sep: String,
      files: Seq[(String, Long, Long)], confs: Map[String, String])

  private val inferMemoSize = 64

  // least recently used entry evicted past inferMemoSize
  private val inferred =
    new java.util.LinkedHashMap[InferKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[InferKey, StructType]): Boolean =
        size > inferMemoSize
    }

  /** Parity reader: schema inference, exactly the reference's options.
    * The schema is inferred on the first read of an input and declared
    * on every later read of the same, unchanged input. */
  def readInferred(spark: SparkSession, path: String, sep: String = ","): DataFrame = {
    val key = InferKey(path, sep, dataFiles(spark, path),
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))
    val schema = inferred.synchronized(Option(inferred.get(key))).getOrElse {
      val s = spark.read.format("csv")
        .option("header", true).option("inferSchema", true).option("sep", sep)
        .load(path).schema
      inferred.synchronized(inferred.put(key, s))
      s
    }
    read(spark, path, schema, sep)
  }

  /** (name, length, modification time) of the files Spark reads for
    * `path`: the files it names, and under the directories it names the
    * leaf files without a hidden (`_`, `.`) name. */
  private def dataFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(leaves)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
  }

  /** Fast path: declared schema, no inference scan. */
  def read(spark: SparkSession, path: String, schema: StructType,
           sep: String = ","): DataFrame =
    spark.read.format("csv")
      .option("header", true).option("sep", sep)
      .schema(schema).load(path)

  /** Parity sink: exactly one part file (single-task write — small data
    * only, by design). */
  def writeSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", true).csv(path)

  /** Scale sink: parallel write, one file per partition. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", true).csv(path)
}
