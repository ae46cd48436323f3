package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed lake tables; the loaders
  * keep the read declarative (`spark.read.parquet`) so Catalyst pushes
  * filters and prunes columns into the scan for every downstream operator.
  *
  * Schemas are resolved once per path, as a Hive metastore keeps them:
  * the first load infers the schema from the parquet footer (one Spark
  * job), every later load passes it to `spark.read.schema` and runs no
  * job — the read still lists the path's files on the driver. The memo
  * is keyed by the qualified path and the session's parquet
  * schema-conversion confs and stamped with the path's modification time
  * and length, so a rewritten table (Spark's writers touch the path on
  * every write) or a load under other confs infers again, and every load
  * returns what plain `spark.read.parquet` would. Each load still builds
  * a fresh relation, so self-joins keep distinct expression IDs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (qualified path, schema confs) -> (modification time, length, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[Boolean]), (Long, Long, StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(path) // raises PATH_NOT_FOUND
      case Some(st) =>
        // every SQLConf input of ParquetToSparkSchemaConverter, plus the
        // two that choose which footers inference reads
        val c = spark.sessionState.conf
        val key = (st.getPath.toString, Seq(
          c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
          c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
          c.legacyParquetNanosAsLong, c.parquetFieldIdReadEnabled,
          c.parquetIgnoreVariantAnnotation,
          c.parquetReaderRespectUnknownTypeAnnotation,
          c.isParquetSchemaMergingEnabled, c.isParquetSchemaRespectSummaries))
        val known = schemas.get(key)
        val schema =
          if (known != null && known._1 == st.getModificationTime && known._2 == st.getLen)
            known._3
          else {
            val inferred = spark.read.parquet(path).schema
            schemas.put(key, (st.getModificationTime, st.getLen, inferred))
            inferred
          }
        spark.read.schema(schema).parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(MICROS); under any reader conf
    * [[graft.operators.Events.withTs]] normalizes it to µs
    * TimestampType. The load reads with the caller's confs and changes
    * none of them. */
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
