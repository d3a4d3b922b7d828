package graft.covid

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Golden e2e over a deterministic synthetic fixture (FIXTURES.md §2):
  * CSV → staging → incremental warehouse → dashboard, plus
  * resume-equivalence, strict-`>` late-data loss, and batch≡streaming.
  */
class CovidPipelineSpec extends AnyFunSuite with SparkSpec {

  private val header = CovidSchema.csvSchema.fieldNames.mkString(",")

  /** 4 states × 3 counties × 15 dates = 180 clean rows, plus edge rows:
    * whitespace/case cleaning, missing counts (→0), malformed counts
    * (→dropped), malformed date (→dropped), duplicate row.
    */
  private def fixtureCsv: String = {
    val states = Seq("arkansas", " TEXAS ", "new york", "o'hio")
    val counties = Seq("bradley", " o'brien ", "MADISON")
    val dates = (1 to 15).map(d => f"2022-01-$d%02d")
    val clean = for {
      (st, si) <- states.zipWithIndex
      (co, ci) <- counties.zipWithIndex
      (dt, di) <- dates.zipWithIndex
    } yield s"$dt,$st,$co,${si + ci + di},${(si + di) % 3}"
    val pad = ",x" * CovidSchema.passthroughColumns.size
    val edge = Seq(
      "2022-01-16,arkansas,bradley,,2" + pad,    // empty count: null at the CSV edge -> 0
      "2022-01-16,arkansas,bradley,abc,2" + pad, // malformed -> dropped
      "bogus-date,arkansas,bradley,1,1" + pad,   // bad date -> dropped
      "2022-01-16,arkansas,bradley",             // missing trailing fields -> counts 0
      "2022-01-16,arkansas,bradley,9,9" + pad,
      "2022-01-16,arkansas,bradley,9,9" + pad)   // duplicate survives (append semantics)
    (header +: (clean.map(_ + pad) ++ edge)).mkString("\n")
  }

  private val expectedRows = 180 + 4 // clean + (empty-count, missing-fields, dup pair)

  private def tmp(): Path = Files.createTempDirectory("covid")

  test("golden e2e: ingest -> incremental etl -> dashboard") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val staging = s"$dir/staging"
    val wh = s"$dir/warehouse"
    val ingested = CovidPipeline.ingest(spark, csv.toString, staging)
    assert(ingested == 186) // all rows land in staging untouched

    val total = CovidPipeline.runToCompletion(spark, staging, wh, s"$dir/state",
      limit = Some(50))
    assert(total == expectedRows)

    val cards = CovidPipeline.dashboard(spark, wh)
    assert(cards("total_records").head().getLong(0) == expectedRows)
    assert(cards("latest_record").head().getDate(0).toString == "2022-01-16")
    assert(cards("deaths_per_state").count() == 4)
    assert(cards("cases_per_county").count() == 3)
    val states = cards("deaths_per_state").collect().map(_.getString(0)).toSet
    assert(states == Set("Arkansas", "Texas", "New York", "O'hio"))

    // watermark persisted the max processed date
    assert(new Watermark(spark, s"$dir/state").load().contains("2022-01-16"))

    // caught up: further runs are no-ops
    assert(CovidPipeline.etlOnce(spark, staging, wh, s"$dir/state") == 0)
  }

  test("staging and warehouse reads pin the inferred schema; the dashboard runs no job to build") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val (staging, wh) = (s"$dir/staging", s"$dir/warehouse")
    CovidPipeline.ingest(spark, csv.toString, staging)
    assert(spark.read.parquet(staging).schema == CovidSchema.csvSchema)
    assert(CovidPipeline.etlOnce(spark, staging, wh, s"$dir/state", limit = None) ==
      expectedRows)
    // the date partition column stays a DATE, last
    assert(CovidPipeline.readWarehouse(spark, wh).schema == spark.read.parquet(wh).schema)
    val dashboard = CovidPipeline.dashboard(spark, wh)
    assert(CovidPipeline.dashboardCards == Seq("total_records", "latest_record", "overview",
      "cases_per_county", "deaths_per_state"))
    val cards = CovidPipeline.dashboardCards.map { name =>
      val (card, jobs) = jobsDuring(dashboard(name))
      assert(jobs == 0, s"building the $name card ran $jobs job(s)")
      name -> card
    }.toMap
    assert(cards("total_records").head().getLong(0) == expectedRows)
    val unknown = intercept[IllegalArgumentException](dashboard("no_such_card"))
    assert(unknown.getMessage.contains("no_such_card"), unknown.getMessage)
  }

  test("job counts: ingest 1, a capped loading run 2, a caught-up run 1, an uncapped run 1") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    // without the bogus date, which sorts after every cursor and is
    // re-extracted (and dropped) by every later run
    Files.writeString(csv, fixtureCsv.linesIterator.filterNot(_.startsWith("bogus-date"))
      .mkString("\n"))
    val (staging, wh, st) = (s"$dir/staging", s"$dir/warehouse", s"$dir/state")
    // the staged row count is observed on the write, not re-read
    val (ingested, ingestJobs) = jobsDuring(CovidPipeline.ingest(spark, csv.toString, staging))
    assert(ingested == 185)
    assert(ingestJobs == 1, s"ingest ran $ingestJobs jobs")
    // the row-cap probe, then one observed append
    val (loaded, loadJobs) = jobsDuring(CovidPipeline.etlOnce(spark, staging, wh, st, Some(50)))
    assert(loaded > 0)
    assert(loadJobs == 2, s"a capped loading run ran $loadJobs jobs")
    CovidPipeline.runToCompletion(spark, staging, wh, st, Some(50))
    // caught up: the probe finds nothing and nothing is written
    val (none, caughtUpJobs) = jobsDuring(CovidPipeline.etlOnce(spark, staging, wh, st, Some(50)))
    assert(none == 0)
    assert(caughtUpJobs == 1, s"a caught-up run ran $caughtUpJobs jobs")
    // uncapped: no probe, just the append
    val (all, uncappedJobs) = jobsDuring(
      CovidPipeline.etlOnce(spark, staging, s"$dir/wh2", s"$dir/st2", None))
    assert(all == expectedRows)
    assert(uncappedJobs == 1, s"an uncapped run ran $uncappedJobs jobs")
    // an uncapped caught-up run appends no rows and adds no data file
    def dataFiles = Files.walk(java.nio.file.Paths.get(s"$dir/wh2")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles
    assert(CovidPipeline.etlOnce(spark, staging, s"$dir/wh2", s"$dir/st2", None) == 0)
    assert(dataFiles == before)
  }

  test("job counts on the full fixture: a caught-up run re-extracts the bogus date, 2 jobs") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val (staging, wh, st) = (s"$dir/staging", s"$dir/warehouse", s"$dir/state")
    CovidPipeline.ingest(spark, csv.toString, staging)
    CovidPipeline.runToCompletion(spark, staging, wh, st, Some(50))
    // The cursor moves only when a run loads rows, so the bogus date,
    // which sorts after every cursor and is dropped by Transform, is
    // probed and appended (empty) by every run after the last load.
    // Advancing the cursor past a fully dropped batch makes this 1.
    val (none, caughtUpJobs) = jobsDuring(CovidPipeline.etlOnce(spark, staging, wh, st, Some(50)))
    assert(none == 0)
    assert(caughtUpJobs == 2, s"a caught-up run ran $caughtUpJobs jobs")
  }

  test("S10/S11 executed: JDBC warehouse round-trip equals the parquet warehouse") {
    // The reference's real sink is batched INSERTs into Postgres behind
    // a CREATE TABLE IF NOT EXISTS bootstrap (dags/ETL.py:124-148).
    // Embedded Derby exercises the identical Spark JDBC surface with no
    // server: first Append CREATES the table (S11), second APPENDS
    // (S10) — then the read-back must equal the parquet warehouse
    // row-for-row.
    val dir = tmp()
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val staging = s"$dir/staging"
    val wh = s"$dir/warehouse"
    CovidPipeline.ingest(spark, csv.toString, staging)
    CovidPipeline.runToCompletion(spark, staging, wh, s"$dir/state")
    val parquetWh = spark.read.parquet(wh)

    val url = s"jdbc:derby:$dir/derbydb;create=true"
    // two incremental loads, split like two ETL cycles
    val cut = "2022-01-08"
    CovidPipeline.loadWarehouseJdbc(
      parquetWh.filter(col("date") <= lit(cut)), url)       // bootstrap + load
    CovidPipeline.loadWarehouseJdbc(
      parquetWh.filter(col("date") > lit(cut)), url)        // append to existing
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("date").cast("string"), col("state"), col("county"),
        col("new_cases"), col("new_deaths"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val back = CovidPipeline.readWarehouseJdbc(spark, url)
    assert(back.count() == expectedRows)
    assert(key(back) == key(parquetWh)) // multiset equality incl. the dup pair
  }

  test("P4 observability: dropped-row metrics persisted beside the watermark") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    CovidPipeline.ingest(spark, csv.toString, s"$dir/staging")
    CovidPipeline.etlOnce(spark, s"$dir/staging", s"$dir/wh", s"$dir/st", limit = None)
    val metrics = Files.readString(java.nio.file.Paths.get(s"$dir/st/metrics.json"))
    // 186 staged; malformed count + bogus date dropped
    assert(metrics.contains("\"extracted\": 186"))
    assert(metrics.contains("\"loaded\": 184"))
    assert(metrics.contains("\"dropped\": 2"))
  }

  test("warehouse partition pruning: date filter prunes to one partition") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    CovidPipeline.ingest(spark, csv.toString, s"$dir/staging")
    CovidPipeline.runToCompletion(spark, s"$dir/staging", s"$dir/wh", s"$dir/st", None)
    val q = spark.read.parquet(s"$dir/wh")
      .filter(col("date") === lit("2022-01-07").cast("date"))
      .groupBy("state").agg(sum("new_cases"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: ["), scan)
    assert(scan.contains("(date"), "date filter not in PartitionFilters:\n" + scan)
    // 16 date partitions exist; the pruned scan must read exactly 1
    val root = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val parts = root.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(parts.contains(1), s"expected 1 pruned partition, got $parts")
  }

  test("resume equivalence: interrupt + resume == single uncapped run") {
    val dirA = tmp(); val dirB = tmp()
    val csv = dirA.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    CovidPipeline.ingest(spark, csv.toString, s"$dirA/staging")
    CovidPipeline.ingest(spark, csv.toString, s"$dirB/staging")

    // A: two small runs (a "crash" between them), then drain.
    CovidPipeline.etlOnce(spark, s"$dirA/staging", s"$dirA/wh", s"$dirA/st", Some(30))
    CovidPipeline.etlOnce(spark, s"$dirA/staging", s"$dirA/wh", s"$dirA/st", Some(30))
    CovidPipeline.runToCompletion(spark, s"$dirA/staging", s"$dirA/wh", s"$dirA/st", Some(30))
    // B: one uncapped run.
    CovidPipeline.runToCompletion(spark, s"$dirB/staging", s"$dirB/wh", s"$dirB/st", None)

    val a = spark.read.parquet(s"$dirA/wh")
      .groupBy("state").agg(sum("new_cases").as("c"), count(lit(1)).as("n"))
      .orderBy("state").collect().toSeq
    val b = spark.read.parquet(s"$dirB/wh")
      .groupBy("state").agg(sum("new_cases").as("c"), count(lit(1)).as("n"))
      .orderBy("state").collect().toSeq
    assert(a == b)
  }

  test("strict-> watermark drops late data (reference parity, SURVEY §2.8)") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val staging = s"$dir/staging"
    CovidPipeline.ingest(spark, csv.toString, staging)
    CovidPipeline.runToCompletion(spark, staging, s"$dir/wh", s"$dir/st", None)

    // a late row with an already-watermarked date arrives in staging
    import spark.implicits._
    Seq(("2022-01-10", "late", "late", "100", "100"))
      .toDF("REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
        "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT")
      .select(CovidSchema.csvSchema.fieldNames.map(n =>
        if (Seq("REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
          "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT").contains(n)) col(n)
        else lit("x").as(n)): _*)
      .write.mode("append").parquet(staging)

    assert(CovidPipeline.etlOnce(spark, staging, s"$dir/wh", s"$dir/st") == 0)
  }

  test("json (NDJSON) staging pipeline produces the same warehouse as parquet staging") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    CovidPipeline.ingest(spark, csv.toString, s"$dir/stagingP")
    CovidPipeline.ingestJson(spark, csv.toString, s"$dir/stagingJ")
    CovidPipeline.runToCompletion(spark, s"$dir/stagingP", s"$dir/whP", s"$dir/stP", Some(50))
    CovidPipeline.runToCompletion(spark, s"$dir/stagingJ", s"$dir/whJ", s"$dir/stJ", Some(50),
      stagingFormat = "json")
    def snap(wh: String) = spark.read.parquet(wh)
      .select("date", "state", "county", "new_cases", "new_deaths")
      .orderBy("date", "state", "county", "new_cases", "new_deaths").collect().toSeq
    assert(snap(s"$dir/whP") == snap(s"$dir/whJ"))
  }

  test("ES-like JSON docs keep the full triad: '' drops, missing key -> 0") {
    val dir = tmp()
    import spark.implicits._
    // staged documents as the reference's ES index holds them — raw
    // JSON objects of string fields (ingest_csv_to_elastic.py:104-108)
    val docs = Seq(
      """{"REPORT_DATE":"2022-02-01","PROVINCE_STATE_NAME":"texas","COUNTY_NAME":"kent","PEOPLE_POSITIVE_NEW_CASES_COUNT":"5","PEOPLE_DEATH_NEW_COUNT":"1"}""",
      """{"REPORT_DATE":"2022-02-01","PROVINCE_STATE_NAME":"texas","COUNTY_NAME":"kent","PEOPLE_POSITIVE_NEW_CASES_COUNT":"","PEOPLE_DEATH_NEW_COUNT":"1"}""",
      """{"REPORT_DATE":"2022-02-01","PROVINCE_STATE_NAME":"texas","COUNTY_NAME":"kent","PEOPLE_DEATH_NEW_COUNT":"2"}""")
    docs.toDF("value").coalesce(1).write.text(s"$dir/staging")
    val n = CovidPipeline.runToCompletion(spark, s"$dir/staging", s"$dir/wh",
      s"$dir/st", None, stagingFormat = "json")
    assert(n == 2) // "" row dropped (int('') raises in the reference)
    val cases = spark.read.parquet(s"$dir/wh").orderBy("new_cases")
      .collect().map(_.getAs[Int]("new_cases")).toSeq
    assert(cases == Seq(0, 5)) // missing key defaulted, numeric parsed
  }

  test("whitespace-padded staging dates neither loop nor get skipped") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val staging = s"$dir/staging"
    CovidPipeline.ingest(spark, csv.toString, staging)
    CovidPipeline.runToCompletion(spark, staging, s"$dir/wh", s"$dir/st", None)

    // padded dates arrive in staging (parquet path — the CSV reader
    // trims, but JSON/parquet staging or other writers may not)
    import spark.implicits._
    Seq(("2022-01-18 ", "pad", "pad", "1", "1"), (" 2022-01-19", "pad", "pad", "2", "2"))
      .toDF("REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
        "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT")
      .select(CovidSchema.csvSchema.fieldNames.map(n =>
        if (Seq("REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
          "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT").contains(n)) col(n)
        else lit("x").as(n)): _*)
      .write.mode("append").parquet(staging)

    // both rows extracted exactly once (an untrimmed comparison would
    // re-extract '2022-01-18 ' forever and never see ' 2022-01-19')
    assert(CovidPipeline.etlOnce(spark, staging, s"$dir/wh", s"$dir/st", None) == 2)
    assert(CovidPipeline.etlOnce(spark, staging, s"$dir/wh", s"$dir/st", None) == 0)
  }

  test("streaming etl produces the same warehouse as batch") {
    val dir = tmp()
    val csv = dir.resolve("covid.csv")
    Files.writeString(csv, fixtureCsv)
    val staging = s"$dir/staging"
    CovidPipeline.ingest(spark, csv.toString, staging)

    CovidPipeline.runToCompletion(spark, staging, s"$dir/whBatch", s"$dir/st", Some(50))
    val q = CovidPipeline.streamingEtl(spark, staging, s"$dir/whStream", s"$dir/ckpt")
    q.awaitTermination()

    val batch = spark.read.parquet(s"$dir/whBatch")
      .select("date", "state", "county", "new_cases", "new_deaths")
      .orderBy("date", "state", "county", "new_cases", "new_deaths").collect().toSeq
    val stream = spark.read.parquet(s"$dir/whStream")
      .select("date", "state", "county", "new_cases", "new_deaths")
      .orderBy("date", "state", "county", "new_cases", "new_deaths").collect().toSeq
    assert(batch.size == expectedRows)
    assert(batch == stream)
  }
}
