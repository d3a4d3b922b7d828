package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graft.FooterBridge
import org.apache.spark.sql.types.StructType

/** The engine's one parquet read whose schema no writer pins. A plain
  * `spark.read.parquet(path)` launches one Spark job only to read a
  * footer (about 120 ms warm, each time); on the serial chains of tiny
  * jobs this engine runs, that job was a fixed floor on every table
  * read, scratch read-back and staged-stream head. Here the footer is
  * read on the driver instead, with Spark's own footer reader and
  * schema converter, so the pinned schema is exactly what inference
  * would have returned (`nanosAsLong` and `inferTimestampNTZ`
  * included). Every other parquet read in `src/main` pins its writer's
  * schema with `.schema(...)` (a structure test in `TablesSpec` holds
  * both rules).
  *
  * A path that is a file, or a directory of data files, reads the
  * footer of one data file (the first by name): with `mergeSchema` off
  * (the default, never set here) inference too reads a single footer
  * and takes every file to agree. A directory with subdirectories
  * (partition discovery), or with no data file, falls back to
  * inference.
  */
object Parquet {

  /** `spark.read.parquet(path)` with the footer's schema pinned. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** `spark.read.parquet(path).schema`, without the inference job. */
  def schema(spark: SparkSession, path: String): StructType =
    footerSchema(spark, path).getOrElse(spark.read.parquet(path).schema)

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path falls back too, so Spark raises its own error
    val status = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val first = status.toSeq.flatMap { st =>
      if (st.isFile) Seq(st)
      else {
        val (dirs, files) = fs.listStatus(p).toSeq
          .filterNot { f => val n = f.getPath.getName; n.startsWith("_") || n.startsWith(".") }
          .partition(_.isDirectory)
        if (dirs.nonEmpty) Nil else files.sortBy(_.getPath.getName).take(1)
      }
    }
    if (first.isEmpty) None else FooterBridge.readSchema(spark, first)
  }
}
