package graft.covid

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the reference's row-level edge semantics (SURVEY.md §7.3). */
class TransformSpec extends AnyFunSuite with SparkSpec {

  private def raw(rows: (String, String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
      "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT")
  }

  test("P1/P2: project, rename, trim, titlecase") {
    val out = Transform(raw(("2022-01-01", "  arkansas ", " bradley ", "5", "1"))).head()
    assert(out.getAs[java.sql.Date]("date").toString == "2022-01-01")
    assert(out.getAs[String]("state") == "Arkansas")
    assert(out.getAs[String]("county") == "Bradley")
    assert(out.getAs[Int]("new_cases") == 5)
  }

  test("P3 triad: missing -> 0; numeric -> parsed; unparseable -> row dropped") {
    val out = Transform(raw(
      ("2022-01-01", "a", "b", null, "1"),   // missing -> 0
      ("2022-01-02", "a", "b", "12", null),  // missing -> 0
      ("2022-01-03", "a", "b", "", "1"),     // int("") raises -> drop
      ("2022-01-04", "a", "b", "abc", "1"),  // int("abc") raises -> drop
      ("2022-01-05", "a", "b", "7", "2")))
    val rows = out.orderBy("date").collect()
    assert(rows.map(_.getAs[java.sql.Date]("date").toString).toSeq ==
      Seq("2022-01-01", "2022-01-02", "2022-01-05"))
    assert(rows(0).getAs[Int]("new_cases") == 0)
    assert(rows(1).getAs[Int]("new_deaths") == 0)
  }

  test("P3: non-integral numeric string is dropped (int('12.5') raises in the reference)") {
    assert(Transform(raw(("2022-01-01", "a", "b", "12.5", "1"))).count() == 0)
  }

  test("P4: unparseable date drops the row") {
    assert(Transform(raw(("not-a-date", "a", "b", "1", "1"))).count() == 0)
  }

  test("python str.title() parity mode vs engine initcap") {
    val r = raw(("2022-01-01", "o'brien county", "mc-donald 3rd", "1", "1"))
    val eng = Transform(r).head()
    assert(eng.getAs[String]("state") == "O'brien County") // initcap
    val par = Transform(r, pythonTitleParity = true).head()
    assert(par.getAs[String]("state") == "O'Brien County") // Python .title()
    assert(par.getAs[String]("county") == "Mc-Donald 3Rd")
    assert(Transform.pythonTitle("o'brien county") == "O'Brien County")
  }

  test("initcap, lower and upper agree with ICU case mappings on and off") {
    // sessions map case through the JVM (GraftSession.create); on the
    // pipeline's inputs that must change nothing against ICU's mapping
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val icu = "spark.sql.icu.caseMappings.enabled"
    val names = Seq("arkansas", " TEXAS ", "new york", "o'hio", "bradley",
      " o'brien ", "MADISON", "  arkansas ", "mc-donald 3rd")
    val in = names.toDF("s").unionByName(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents").select(col("text").as("s")))
    def mapped(on: Boolean, df: DataFrame): Seq[String] = {
      spark.conf.set(icu, on.toString)
      df.select(col("s"), initcap(col("s")), initcap(trim(col("s"))),
          lower(col("s")), upper(col("s")))
        .collect().map(_.toString).toSeq.sorted
    }
    try {
      assert(mapped(on = true, in) == mapped(on = false, in))
      // the setting takes effect: the mappings differ off ASCII
      val eszett = Seq("ßa").toDF("s")
      assert(mapped(on = true, eszett) != mapped(on = false, eszett))
    } finally spark.conf.set(icu, "false")
  }
}
