package graft.covid

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The whole reference pipeline, Spark-first.
  *
  * Reference shape (SURVEY.md §3): CSV → Elasticsearch staging
  * (batched HTTP, offset checkpoint) → hourly Airflow ETL → per-row
  * INSERT into Postgres. Here each stage is a DataFrame expression and
  * the only process boundaries left are shuffle exchanges (this is a
  * map-only pipeline — there are none).
  *
  * Scale notes:
  *  - ingest never materializes the file (the reference holds the
  *    whole CSV in RAM, ingest_csv_to_elastic.py:78-81); Spark streams
  *    partitions of the file in parallel.
  *  - the warehouse is parquet partitioned by date: the dashboard's
  *    date filters prune partitions, replacing the reference's b-tree
  *    indexes (scripts/postgres_db_scripts.sql:17-19).
  *  - incremental extract pushes `date > watermark` into the scan.
  *  - the reference's rate limits (100 rows/s ingest, 1000 rows/hour
  *    ETL) are protection artifacts, not semantics — dropped; the
  *    per-run row cap survives as an optional `limit`.
  */
object CovidPipeline {

  /** S1/S5–S7: CSV → parquet staging (full refresh: overwrite ≡ the
    * reference's delete-by-query + re-ingest, ingest_csv_to_elastic.py:58-70).
    * Returns the rows staged, counted on the write (one job).
    */
  def ingest(spark: SparkSession, csvPath: String, stagingDir: String): Long =
    countedWrite(readCsv(spark, csvPath))(_.write.mode(SaveMode.Overwrite).parquet(stagingDir))

  /** S7 physical parity: stage as newline-delimited JSON documents —
    * the reference's ES bulk NDJSON (ingest_csv_to_elastic.py:104-113).
    * Unlike the CSV edge, JSON staging REPRESENTS empty strings, so the
    * full int-coercion triad (missing→0, ""→drop) survives physically
    * end-to-end. Pass stagingFormat="json" to etlOnce to consume it.
    */
  def ingestJson(spark: SparkSession, csvPath: String, stagingDir: String): Long =
    countedWrite(readCsv(spark, csvPath))(_.write.mode(SaveMode.Overwrite).json(stagingDir))

  private def readCsv(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", "true")
      // CSV-edge semantics note: the parser yields null for BOTH
      // empty fields and missing trailing fields (zero-length values
      // are null regardless of the nullValue option), so at this edge
      // the transform's missing→0 default also absorbs the
      // reference's int("")-raises drop (dags/ETL.py:100-105). The
      // distinction is honored wherever "" is representable
      // (parquet/JSON staging, DataFrame inputs) — pinned in
      // TransformSpec; documented divergence at the CSV edge only.
      .schema(CovidSchema.csvSchema)
      .csv(csvPath)

  /** `write` run over `df`, returning the rows it wrote: an observation
    * counts them in the write's own job instead of a re-read.
    */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  private def readStaging(spark: SparkSession, stagingDir: String,
      format: String) = format match {
    case "parquet" => spark.read.schema(CovidSchema.csvSchema).parquet(stagingDir)
    case "json" => spark.read.schema(CovidSchema.csvSchema).json(stagingDir)
    case other => throw new IllegalArgumentException(s"staging format: $other")
  }

  /** One incremental ETL run (the hourly DAG body, dags/ETL.py:37-154):
    * watermark → strict-`>` range extract (+ optional row cap) →
    * transform → append to warehouse → persist max-date watermark.
    * Returns rows appended (0 ⇒ caught up).
    *
    * Jobs: one row-cap probe (none with `limit = None`), then the
    * append, which observes its own counts and max date — 2 jobs for
    * a capped run that loads, 1 for a caught-up one.
    */
  def etlOnce(spark: SparkSession, stagingDir: String, warehouseDir: String,
      stateDir: String, limit: Option[Int] = Some(1000),
      stagingFormat: String = "parquet"): Long = {
    val wm = new Watermark(spark, stateDir)
    val cursor = wm.load().getOrElse("1970-01-01") // default, dags/ETL.py:71
    // Compare the TRIMMED date against the cursor: the cursor is saved
    // from the parsed (trimmed) date, so an untrimmed comparison would
    // re-extract whitespace-padded rows forever ('2022-01-20 ' >
    // '2022-01-20') or never extract them (' 2022-01-20' < '1970-...').
    val next = readStaging(spark, stagingDir, stagingFormat)
      .withColumn("REPORT_DATE", trim(col("REPORT_DATE")))
      .filter(col("REPORT_DATE") > lit(cursor))
    // Row cap widened to WHOLE dates: a date is either fully in this
    // batch or not at all. A plain orderBy(date).limit(n) can cut
    // mid-date; the strict-`>` cursor then skips that date's remaining
    // rows forever — the reference has exactly this loss (row-capped
    // unsorted batch + batch[-1] cursor, dags/ETL.py:75,141-143). Found
    // by the golden e2e test; closing the date "partition" fixes it
    // while keeping batches ≈ limit (overshoot ≤ one date's rows).
    val extracted = limit match {
      case Some(n) =>
        val head = next.orderBy(col("REPORT_DATE")).limit(n)
        val maxD = head.agg(max(col("REPORT_DATE"))).head()
        if (maxD.isNullAt(0)) None
        else Some(next.filter(col("REPORT_DATE") <= lit(maxD.getString(0))))
      case None => Some(next)
    }
    extracted match {
      case None => // caught up: nothing to write
        writeMetrics(spark, stateDir, 0L, 0L)
        0L
      case Some(rows) =>
        // P4 observability: malformed-row drops are invisible in a
        // declarative filter — two observations on the one append count
        // the rows extracted (before Transform's drop filter) and the
        // rows loaded with their max date, reported after the write's
        // single job (dags/ETL.py logs the same via print, :104-106).
        // An append with no rows left writes only `_SUCCESS`.
        val extractedObs, loadedObs = Observation()
        Transform(rows.observe(extractedObs, count(lit(1)).as("extracted")))
          .observe(loadedObs, count(lit(1)).as("loaded"), max(col("date")).as("max_date"))
          .write.mode(SaveMode.Append).partitionBy("date").parquet(warehouseDir)
        val loaded = loadedObs.get
        val n = loaded("loaded").asInstanceOf[Long]
        // data first, then the metrics line (its counts come from the
        // write, so a failed append logs none), then cursor (at-least-once)
        writeMetrics(spark, stateDir, extractedObs.get("extracted").asInstanceOf[Long], n)
        if (n > 0) wm.save(loaded("max_date").toString)
        n
    }
  }

  /** S10/S11 EXECUTED warehouse-sink parity: the reference's actual
    * load is row-batched INSERTs into Postgres after running the DDL
    * bootstrap script every ETL cycle (dags/ETL.py:124-148;
    * scripts/postgres_db_scripts.sql CREATE TABLE IF NOT EXISTS).
    * `df.write.jdbc` in Append mode has exactly those semantics —
    * create-when-missing (S11), then JDBC-batched inserts (S10;
    * `batchsize` mirrors the reference's batch_size=100, though at
    * scale you'd raise it to thousands) — with one improvement: each
    * executor partition opens its own connection and writes in
    * parallel, so the sink scales out instead of single-cursor
    * serializing. The reference's secondary indexes
    * (postgres_db_scripts.sql idx_*) have no JDBC-write equivalent and
    * are replaced architecturally by parquet date partitioning (see
    * class scaladoc); when the target really is an RDBMS they belong
    * to the DBA-side DDL, as in the reference.
    *
    * Round-trip (write → [[readWarehouseJdbc]] → equality vs the
    * parquet warehouse) is executed against embedded Derby in
    * CovidPipelineSpec — same DriverManager/JDBC surface as Postgres,
    * no server needed in the sandbox.
    */
  def loadWarehouseJdbc(df: DataFrame, url: String,
      table: String = "covid_cases", batchSize: Int = 100): Unit =
    df.select(col("date"), col("state"), col("county"),
        col("new_cases"), col("new_deaths"))
      .write.mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, new java.util.Properties)

  /** Read side of the JDBC warehouse (dashboard-over-RDBMS parity). */
  def readWarehouseJdbc(spark: SparkSession, url: String,
      table: String = "covid_cases"): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties)

  /** Per-run pipeline metrics, appended as JSONL beside the watermark
    * (overwrite would erase the interesting runs — a caught-up run's
    * 0/0/0 is the last one to execute).
    */
  private def writeMetrics(spark: SparkSession, stateDir: String,
      extracted: Long, loaded: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(stateDir, "metrics.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior =
      if (!fs.exists(p)) ""
      else {
        val in = fs.open(p)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      }
    val out = fs.create(p, true)
    try out.write((prior +
      s"""{"extracted": $extracted, "loaded": $loaded, "dropped": ${extracted - loaded}}\n""")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Drain the staging area: run incremental batches until caught up. */
  def runToCompletion(spark: SparkSession, stagingDir: String,
      warehouseDir: String, stateDir: String,
      limit: Option[Int] = Some(1000), maxRuns: Int = 10000,
      stagingFormat: String = "parquet"): Long = {
    var total = 0L
    var runs = 0
    var n = -1L
    while (n != 0 && runs < maxRuns) {
      n = etlOnce(spark, stagingDir, warehouseDir, stateDir, limit, stagingFormat)
      total += n
      runs += 1
    }
    total
  }

  /** The streaming form: same transform over a file-source stream,
    * exactly-once via checkpointLocation, Trigger.AvailableNow ≡ the
    * reference's catch-up-then-stop hourly schedule.
    */
  def streamingEtl(spark: SparkSession, stagingDir: String,
      warehouseDir: String, checkpointDir: String): StreamingQuery = {
    val stream = spark.readStream
      .schema(CovidSchema.csvSchema)
      .parquet(stagingDir)
    Transform(stream).writeStream
      .format("parquet")
      .option("path", warehouseDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("date")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The warehouse with its writer's schema pinned (no footer-inference
    * job): [[CovidSchema.warehouseSchema]] with the `date` partition
    * column last, where partition discovery puts it.
    */
  private[covid] def readWarehouse(spark: SparkSession,
      warehouseDir: String): DataFrame = {
    val (part, data) = CovidSchema.warehouseSchema.partition(_.name == "date")
    spark.read.schema(org.apache.spark.sql.types.StructType(data ++ part))
      .parquet(warehouseDir)
  }

  /** The five Metabase dashboard cards (SURVEY.md §2.4 A1–A5), each a
    * query over the warehouse.
    */
  private val cardQueries = scala.collection.immutable.ListMap[String, DataFrame => DataFrame](
    "total_records" -> (_.agg(count(lit(1)).as("cnt"))),
    "latest_record" -> (_.agg(max(col("date")).as("max_date"))),
    "overview" -> (_.select("date", "state", "county", "new_cases", "new_deaths")
      .orderBy(col("date"), col("state"), col("county")).limit(2000)),
    "cases_per_county" -> (_.groupBy(col("county"))
      .agg(sum(col("new_cases")).as("total_cases"))
      .orderBy(col("total_cases").desc, col("county"))),
    "deaths_per_state" -> (_.groupBy(col("state"))
      .agg(sum(col("new_deaths")).as("total_deaths"))
      .orderBy(col("total_deaths"), col("state"))))

  /** The dashboard card names, in card order. */
  val dashboardCards: Seq[String] = cardQueries.keys.toSeq

  /** The dashboard over the warehouse: each call reads the warehouse
    * and builds only the card it names (one listing, one plan), so a
    * refresh that shows every card analyzes five plans, not 25.
    */
  def dashboard(spark: SparkSession, warehouseDir: String): String => DataFrame = card => {
    val query = cardQueries.getOrElse(card, throw new IllegalArgumentException(
      s"unknown dashboard card '$card' (cards: ${dashboardCards.mkString(", ")})"))
    query(readWarehouse(spark, warehouseDir))
  }
}
