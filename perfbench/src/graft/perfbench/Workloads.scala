package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.covid.{CovidPipeline, CovidSchema}

/** A workload: a warm-up call for set-up, one pass of timed layer
  * calls, and the outputs the correctness check reads afterwards.
  * `facts` holds per-pass numbers that are not call timings (JSON
  * values, already rendered).
  */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, calls: Calls, p: Int): Unit
  /** Write the collected results the oracle checks under `out`; returns
    * their query names. */
  def dump(spark: SparkSession, out: Path): Seq[String]
  val facts = mutable.ArrayBuffer.empty[String]
}

object Workload {
  def apply(name: String, seed: Long, data: Path, work: Path): Workload = name match {
    case "covid_analytics" => new Sequence(Seq(new CovidEtl(data, work), new AnalyticsMix(seed, data)))
    case "corpus_prep" => new CorpusPrep(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def collect(df: DataFrame): (StructType, Array[Row]) = (df.schema, df.collect())

  /** Re-create collected rows as a parquet file the oracle can read. */
  def writeRows(spark: SparkSession, out: Path, name: String,
      result: (StructType, Array[Row])): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(result._2.toSeq.asJava, result._1).coalesce(1)
      .write.mode("overwrite").parquet(out.resolve(name).toString)
  }

  /** Writes the results concurrently: each is a tiny job, run outside
    * the timed window. */
  def writeAll(spark: SparkSession, out: Path,
      results: collection.Map[String, (StructType, Array[Row])]): Seq[String] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(results.toSeq) { case (q, r) =>
      Future(writeRows(spark, out, q, r))
    }, Duration.Inf)
    finally pool.shutdown()
    results.keys.toSeq
  }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Several workloads run one after the other in every pass. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  def warmUp(spark: SparkSession): Unit = parts.foreach(_.warmUp(spark))
  def pass(spark: SparkSession, calls: Calls, p: Int): Unit = {
    parts.foreach(_.pass(spark, calls, p))
    parts.foreach { w => facts ++= w.facts; w.facts.clear() }
  }
  def dump(spark: SparkSession, out: Path): Seq[String] = parts.flatMap(_.dump(spark, out))
}

/** The paper's pipeline: CSV ingest, then `etlOnce(limit = 1000)` until
  * it returns 0, refreshing the five dashboard cards after every run
  * that appended rows. Every pass starts from empty staging, warehouse
  * and state directories.
  */
final class CovidEtl(data: Path, work: Path) extends Workload {
  private val csv = data.resolve("covid.csv").toString
  private var lastCards = Map.empty[String, (StructType, Array[Row])]

  def warmUp(spark: SparkSession): Unit =
    spark.read.option("header", "true").schema(CovidSchema.csvSchema).csv(csv).count()

  def pass(spark: SparkSession, calls: Calls, p: Int): Unit = {
    val dir = work.resolve(s"covid/p$p")
    val (staging, warehouse, state) =
      (dir.resolve("staging").toString, dir.resolve("warehouse").toString, dir.resolve("state").toString)
    calls("covid.ingest", "csv", p)(CovidPipeline.ingest(spark, csv, staging))
    var runs, empty = 0
    var n = -1L
    while (n != 0 && runs < 200) {
      runs += 1
      n = calls("covid.etl_once", s"run$runs", p)(
        CovidPipeline.etlOnce(spark, staging, warehouse, state, Some(1000))).getOrElse(0L)
      if (n == 0) empty += 1
      else for (card <- CovidCards.names)
        calls("covid.dashboard", card, p)(
          Workload.collect(CovidPipeline.dashboard(spark, warehouse)(card)))
          .foreach(r => lastCards += card -> r)
    }
    val metrics = Files.readAllLines(Paths.get(state, "metrics.json")).toArray.map(_.toString)
    def field(k: String) = metrics.map(l => s""""$k": (\\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
    facts += s"""{"pass":$p,"etl_runs":$runs,"empty_runs":$empty,""" +
      s""""extracted":${field("extracted")},"loaded":${field("loaded")},""" +
      s""""warehouse_files":${Io.files(Paths.get(warehouse)).count(_.toString.endsWith(".parquet"))},""" +
      s""""warehouse_bytes":${Io.bytes(Paths.get(warehouse))},""" +
      s""""cards":${CovidCards.render(lastCards)}}"""
  }

  def dump(spark: SparkSession, out: Path): Seq[String] = Nil
}

object CovidCards {
  val names = Seq("total_records", "latest_record", "overview", "cases_per_county",
    "deaths_per_state")

  /** The card results as JSON, in the shapes the generator's tallies use. */
  def render(cards: Map[String, (StructType, Array[Row])]): String = {
    def rows(c: String) = cards.get(c).map(_._2.toSeq).getOrElse(Nil)
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s"${Workload.json(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "total_records" -> rows("total_records").map(_.getLong(0).toString).headOption.getOrElse("null"),
      "latest_record" -> rows("latest_record").map(r => Workload.json(r.get(0).toString)).headOption.getOrElse("null"),
      "overview_keys" -> rows("overview").map(r =>
        Workload.json(s"${r.get(0)}|${r.getString(1)}|${r.getString(2)}")).mkString("[", ",", "]"),
      "cases_per_county" -> obj(rows("cases_per_county").map(r => r.getString(0) -> r.get(1).toString)),
      "deaths_per_state" -> obj(rows("deaths_per_state").map(r => r.getString(0) -> r.get(1).toString))))
  }
}

/** The relational/temporal query stream: every pass runs the same
  * operators in a seeded order, each result collected by the client.
  */
final class AnalyticsMix(seed: Long, data: Path) extends Workload {
  private val dir = data.toString
  private val results = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  def warmUp(spark: SparkSession): Unit = Tables(spark, dir, "lineitem").count()

  def pass(spark: SparkSession, calls: Calls, p: Int): Unit =
    for (q <- new scala.util.Random(seed * 7919 + p).shuffle(AnalyticsMix.queries))
      calls("analytics.query", q, p)(Workload.collect(SparkEntry.queries(q)(spark, dir)))
        .foreach(results(q) = _)

  def dump(spark: SparkSession, out: Path): Seq[String] =
    Workload.writeAll(spark, out, results)
}

object AnalyticsMix {
  val queries: Seq[String] = Seq(
    "q_count_total", "q_sum_by_state", "q_agg_pricing", "q_rollup", "q_join_inner",
    "q_join_semi", "q_asof_join", "q_window_rank", "q_quantiles", "q_stream_tumbling")
}

/** LLM data prep over a corpus. Every pass reads the tables through a
  * fresh directory of links, so every session memo keyed by directory
  * misses: the shared builds really build, their consumers hit them.
  */
final class CorpusPrep(data: Path, work: Path) extends Workload {
  private val results = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  def warmUp(spark: SparkSession): Unit = Tables(spark, data.toString, "documents").count()

  def pass(spark: SparkSession, calls: Calls, p: Int): Unit = {
    val d = work.resolve(s"corpus/p$p")
    Files.createDirectories(d)
    for (t <- Tables.all)
      Files.createSymbolicLink(d.resolve(s"$t.parquet"), data.resolve(s"$t.parquet").toAbsolutePath)
    val dir = d.toString
    val roots = Seq(work.resolve("tmp"), work.resolve("scratch"))
    val built = mutable.ArrayBuffer.empty[String]
    def build(kind: String, name: String)(df: => DataFrame): Unit = {
      val files = MemoGuard.newFiles(roots)(
        calls(kind, name, p)(df.write.format("noop").mode("overwrite").save()))
      built += s"${Workload.json(name)}:$files"
    }
    def query(kind: String, q: String): Unit =
      calls(kind, q, p)(Workload.collect(SparkEntry.queries(q)(spark, dir))).foreach(results(q) = _)
    val scratch0 = roots.map(Io.bytes).sum
    build("ops.shared_build", "shingle_postings")(graft.ops.Dedup.sharedShinglePostings(spark, dir))
    build("ops.shared_build", "minhash_pairs")(graft.ops.Dedup.sharedMinhashEstPairs(spark, dir))
    query("ops.dedup", "q_dedup_minhash")
    query("streaming.twins", "q_stream_minhash")
    build("ops.ann", "ivf_probed")(graft.ops.Similarity.sharedIvfProbed(spark, dir))
    build("ops.ann", "ivf_cand")(graft.ops.Similarity.sharedIvfCand(spark, dir))
    query("ops.ann", "q_ann_graph2")
    val scratch = roots.map(Io.bytes).sum - scratch0
    facts += s"""{"pass":$p,"scratch_bytes":$scratch,"built_files":${built.mkString("{", ",", "}")}}"""
  }

  def dump(spark: SparkSession, out: Path): Seq[String] =
    Workload.writeAll(spark, out, results)
}

/** Memo-miss guard. A shared builder that really builds writes its
  * parquet under a scratch root; one that serves a session memo hit only
  * returns a reader over files written before, so the call adds none.
  */
object MemoGuard {
  /** Parquet files `body` added under `roots`. */
  def newFiles(roots: Seq[Path])(body: => Any): Int = {
    def parquet = roots.flatMap(Io.files).filter(_.toString.endsWith(".parquet")).toSet
    val before = parquet
    body
    (parquet -- before).size
  }
}

object Io {
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum
}
