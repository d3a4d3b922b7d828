package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables (TESTDATA.md /
  * FIXTURES.md §3). One parquet file per table under `\$dir/`.
  *
  * All engine queries read through here so the scan options (and any
  * future source abstraction — bucketed layout, partitioned warehouse)
  * have a single seam.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeNtz(readRaw(spark, dir, name), name)

  /** Boundary normalization applied to EVERY table: any TIMESTAMP_NTZ
    * column (what Spark 4 infers for parquet micros written without
    * the UTC-adjusted flag, when `inferTimestampNTZ` is on) becomes
    * session-TZ TIMESTAMP. Sessions run UTC, so the cast relabels the
    * same micros — identical to DuckDB's naive-timestamp view of the
    * file. events.ts caused round 3's silent 8-operator outage;
    * orders.o_orderdate and lineitem.l_shipdate carry the same parquet
    * type and would drift identically, so the fix is table-generic.
    */
  private def normalizeNtz(raw: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val out = raw.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(raw)((df, f) => df.withColumn(f.name,
        org.apache.spark.sql.functions.col(f.name).cast(TimestampType)))
    // Loud boundary guard: a future type drift must fail HERE, not as
    // operators silently vanishing from the correctness run.
    if (name == "events")
      require(out.schema("ts").dataType == TimestampType,
        s"events.ts normalization failed: ${out.schema("ts").dataType}")
    out
  }

  private def readRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as three different parquet physical types
      // across testdata generations: TIMESTAMP(NANOS) (rejected by the
      // vectorized reader — read as long via the session's nanosAsLong,
      // set by GraftSession.create, and truncate),
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark 4 infers
      // TIMESTAMP_NTZ when inferTimestampNTZ is on), and plain
      // TIMESTAMP(MICROS). Normalize ALL of them to session-TZ
      // TimestampType here, the single read seam, so every downstream
      // operator (`unix_micros`, watermarks, typed Timestamp encoders)
      // sees one type regardless of the file generation or the NTZ
      // inference flag. Sessions run UTC, so the NTZ→TZ cast is a
      // value-preserving relabel of the same micros — identical to what
      // DuckDB's micro-precision naive TIMESTAMP gives the oracle.
      val raw = graft.util.Parquet.read(spark, s"$dir/$name.parquet")
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      else raw
    } else graft.util.Parquet.read(spark, s"$dir/$name.parquet")
  }

  /** Spread a narrow scan across the cluster before an explode-style
    * fan-out. A small parquet file (one row group) scans as a single
    * partition, which would serialize everything downstream of it; a
    * 100 TB input already has thousands of splits, in which case this
    * is a no-op — the condition, not the repartition, is the contract.
    * The shuffle moves only the pre-explode rows (docs, not shingles),
    * which is the cheap side of the amplification.
    */
  def fanout(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
