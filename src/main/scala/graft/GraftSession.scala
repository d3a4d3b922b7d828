package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one call wires everything a
  * graft deployment needs — the `SparkSessionExtensions` hook, the
  * only way the engine enters a session (every native SQL function
  * in `graft.functions.Registry`, the top-1-per-group optimizer rule,
  * the AQE runtime rule that sorts a small result in one partition,
  * the native as-of join strategy) plus the scale defaults every
  * operator's plan shape assumes (AQE on, UTC session time, explicit
  * shuffle parallelism, parquet timestamps as TIMESTAMP, TIMESTAMP(NANOS)
  * parquet columns read as longs, and the JVM's case mapping for
  * `initcap`/`lower`/`upper` instead of ICU's — the one difference is a
  * few one-to-many title-case mappings such as `ß`, which now follow
  * the JVM). A session built any other way lacks the native functions
  * and fails at analysis on the first query that calls one.
  *
  * Equivalent spark-submit form (README "Deploying"):
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftSession {

  def create(
      master: String,
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // withExtensions applies even when a SparkContext already exists;
      // do NOT also set the spark.sql.extensions conf here — on a fresh
      // context that would apply GraftExtensions twice (rule/strategy
      // consulted twice per query), and on an existing one it's ignored
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Parquet timestamps without the UTC-adjusted flag read as plain
      // TIMESTAMP, not TIMESTAMP_NTZ — watermarks and unix_micros
      // require it, and [[Tables]] normalizes either way (this default
      // just keeps direct spark.read callers on the same type).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // TIMESTAMP(NANOS) parquet columns, which the vectorized reader
      // rejects, read as longs; [[Tables]] and the events stream
      // truncate them to micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // UTF8_BINARY initcap/lower/upper use the JVM's case mapping (as
      // in Spark 3.x), not ICU's: the first ICU call in a JVM builds a
      // title-case table over all 1,114,112 code points on one task
      // thread while the others wait. The two agree on ASCII.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .getOrCreate()
}
