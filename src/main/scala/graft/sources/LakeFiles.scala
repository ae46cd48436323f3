package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Whole-file UTF-8 metadata I/O for the lake's small text artifacts
  * (snapshot manifests, view definitions, the function registry,
  * linear-model files): one `FileSystem` lookup, one read, one write.
  * Header checks, exclusive creates and temp-then-rename stay with
  * each caller. */
private[graft] object LakeFiles {

  /** The `FileSystem` serving `path` under the session's Hadoop conf. */
  def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def fs(spark: SparkSession, path: String): FileSystem = fs(spark, new Path(path))

  /** The whole file at `p`, decoded as UTF-8. */
  def read(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Create `p` (failing if it exists unless `overwrite`) holding
    * `body` as UTF-8. */
  def write(f: FileSystem, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = f.create(p, overwrite)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
