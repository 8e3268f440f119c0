package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet footer schemas, inferred once per set of files. A file
  * source without a schema infers it with a Spark job (a footer scan)
  * every time a plan reads it; [[read]] runs that job once per
  * [[schemaKey]] and hands the schema to later reads. The map is
  * process-wide and only grows by one entry per distinct key, which
  * changes only when files or inference confs change.
  */
object ParquetSchemas {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The session confs that change what parquet schema inference
    * returns for the same files.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** `spark.read.parquet(path)`, passing the schema explicitly once it
    * is known, as `Catalog.load` does with its declared schema. The
    * plan is the one inference builds: the same data columns, then the
    * partition columns, with the same types, and the same partition
    * pruning.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark's own error
      case Some(key) =>
        val known = schemas.get(key)
        val schema = if (known != null) known else {
          val inferred = spark.read.parquet(path).schema
          schemas.putIfAbsent(key, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }

  /** What an inferred schema depends on: the qualified path, the name,
    * size and mtime of every file under it (so an appended partition
    * file or a rewritten table is a new key), and the values of
    * [[inferenceConfs]]. None when the path does not exist.
    */
  private def schemaKey(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val root = fs.makeQualified(p)
      val files = fs.listFiles(root, true)
      val b = new StringBuilder(root.toString)
      while (files.hasNext) {
        val f = files.next()
        b.append('|').append(f.getPath.toString.stripPrefix(root.toString))
          .append(':').append(f.getLen).append(':').append(f.getModificationTime)
      }
      inferenceConfs.foreach(c => b.append('|').append(spark.conf.getOption(c).orNull))
      Some(b.toString)
    }
  }
}
