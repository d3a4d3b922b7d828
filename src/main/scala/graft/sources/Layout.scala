package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright}

/** Physical-layout operators — the file hygiene a 100 TB warehouse
  * lives or dies by:
  *
  *  - [[compact]]: incremental appends (the covid pipeline writes one
  *    file per batch per partition) accumulate small files until
  *    listing and task-scheduling dominate query time; compaction
  *    rewrites a table at a target file count/size.
  *  - [[writeSorted]]: range-partition + sort within partitions on a
  *    filter column so parquet row-group min/max statistics become
  *    selective — the poor man's clustered index (the engine's answer
  *    to the reference's b-tree indexes beyond date partition pruning).
  *
  * Both are rewrite jobs: at scale run them per-partition (compact
  * only partitions whose file count exceeds threshold), never
  * table-wide in one go.
  */
object Layout {

  /** Rewrite a parquet directory to `targetFiles` files (per run —
    * pair with `maxRecordsPerFile` for a size-based cap instead).
    * Rewrites through a temp dir: the table stays readable until the
    * swap, and a crash leaves the original intact.
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): Unit = {
    val tmp = dir.stripSuffix("/") + "_compacting"
    graft.util.Parquet.read(spark, dir).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "_old")
    if (fs.exists(bak)) fs.delete(bak, true) // stale backup from a crashed run
    require(fs.rename(p, bak), s"compact: rename $p -> $bak failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), p)) {
      fs.rename(bak, p) // restore the original before surfacing
      throw new java.io.IOException(s"compact: swap-in of $tmp failed; original restored")
    }
    fs.delete(bak, true)
    // NOTE: a hard crash between the two renames leaves `dir` absent
    // with the data intact at `<dir>_old` — directory renames can't
    // overwrite atomically, so run compaction in maintenance windows.
  }

  /** Write sorted-by-range on `sortCol`: ranges across files, sorted
    * inside each file → every file covers a narrow min/max band and
    * point/range filters skip whole files and row groups.
    */
  def writeSorted(df: DataFrame, dir: String, sortCol: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Number of data files currently backing a parquet directory. */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Morton (Z-order) interleave of two 16-bit bucket columns: bit i
    * of `a` lands at position 2i, bit i of `b` at 2i+1. Pure bitwise
    * column arithmetic — codegen'd, no UDF.
    */
  def zValue(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-order clustered write on two numeric dimensions — the
    * multi-dimensional generalization of [[writeSorted]]: range-
    * partitioning + sorting on the Morton interleave of the two
    * bucketed dimensions gives every file a narrow min/max band in
    * BOTH columns, so parquet stats skip files/row-groups for
    * predicates on either dimension or both (what Delta/Iceberg
    * OPTIMIZE ZORDER BY does). Buckets here are min/max-normalized
    * 16-bit values (one tiny agg, broadcast) — right for uniform-ish
    * keys; for skewed production columns substitute a range-rank
    * bucketing pass. Like all Layout ops this is a rewrite job: run
    * it per partition in maintenance windows, never table-wide.
    */
  def writeZOrdered(df: DataFrame, dir: String, c1: String, c2: String,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{broadcast, floor, lit, max, min}
    val stats = df.agg(
      min(col(c1)).as("mn1"), max(col(c1)).as("mx1"),
      min(col(c2)).as("mn2"), max(col(c2)).as("mx2"))
    def bucket(c: String, mn: Column, mx: Column): Column =
      floor((col(c) - mn).cast("double") / (mx - mn + lit(1)) * lit(65536.0))
        .cast("int")
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zValue(
        bucket(c1, col("mn1"), col("mx1")), bucket(c2, col("mn2"), col("mx2"))))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "mn1", "mx1", "mn2", "mx2")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }
}
