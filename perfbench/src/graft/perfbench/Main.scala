package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{GraftSession, SparkEntry}

/** The benchmark process for one run of one workload:
  *
  *   1. set-up: create the session through `GraftSession.create` at
  *      `local[<cores>]` and make one warm-up call. It is timed from the
  *      JVM's start, so it holds everything a fresh process pays before
  *      its first timed call;
  *   2. whole passes of the workload until `--seconds` have passed (at
  *      least one), one client in a closed loop;
  *   3. outside the timed window: drain the listener bus, run the
  *      checks that need the session, and dump results for the oracle.
  *
  * Writes `run.json` (and `spans.jsonl` when traced) to `--out`;
  * `perfbench/run.py` turns them into the reported metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out DIR
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workDir = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(a("workload"), a("seed").toLong, Paths.get(a("data")), workDir)

    val spark = GraftSession.create(s"local[$cores]", "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    wl.warmUp(spark)
    val setupMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streams)
    }
    val calls = new Calls(spark)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val cpu0 = Host.procStat()
    val gc0 = Host.gcMillis()
    val w0 = System.nanoTime()
    var p = 0
    while (p == 0 || System.nanoTime() - w0 < a("seconds").toLong * 1000000000L) {
      p += 1
      val (startMs, t0) = (System.currentTimeMillis(), System.nanoTime())
      try wl.pass(spark, calls, p)
      catch {
        case NonFatal(e) =>
          calls.failed("workload.pass", s"pass$p", p, "", startMs, (System.nanoTime() - t0) / 1e6, e)
      }
      passes += Pass(p, startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6)
    }
    val gcMs = Host.gcMillis() - gc0
    val stealPct = Host.stealPct(cpu0, Host.procStat())

    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    if (traced) {
      spark.sparkContext.removeSparkListener(tracer)
      spark.streams.removeListener(tracer.streams)
    }
    val dumpT0 = System.nanoTime()
    val results = out.resolve("results")
    val dumped = wl.dump(spark, results)
    if (dumped.nonEmpty) Files.writeString(results.resolve("oracle_sql.json"),
      dumped.map(q => s"${Workload.json(q)}:${Workload.json(SparkEntry.oracleSql.getOrElse(q, ""))}")
        .mkString("{", ",", "}"))
    spark.stop()
    System.err.println(f"[perfbench] setup ${setupMs / 1000.0}%.1f s, window " +
      f"${(dumpT0 - w0) / 1e9}%.1f s, dump ${(System.nanoTime() - dumpT0) / 1e9}%.1f s")

    val j = new StringBuilder
    j ++= s"""{"workload":${Workload.json(a("workload"))},"cores":$cores,"traced":$traced,"""
    j ++= s""""setup_ms":$setupMs,"""
    j ++= s""""passes":${passes.map(p =>
      s"""{"pass":${p.n},"start_ms":${p.startMs},"end_ms":${p.endMs},""" +
        s""""wall_ms":${p.wallMs}}""").mkString("[", ",", "]")},"""
    j ++= s""""calls":${calls.all.map(c =>
      s"""{"kind":"${c.kind}","name":${Workload.json(c.name)},"pass":${c.pass},""" +
        s""""wall_ms":${c.wallMs},"ok":${c.ok},"error":${Workload.json(c.error)}}""")
      .mkString("[", ",", "]")},"""
    j ++= s""""facts":${wl.facts.mkString("[", ",", "]")},"""
    j ++= s""""host":{"cores":$cores,"steal_pct":$stealPct,"peak_rss_mb":${Host.peakRssMb()},"gc_ms":$gcMs}"""
    if (traced) j ++= "," + Layers.report(tracer, calls.all.toSeq, passes.toSeq, cores, out)
    j ++= "}"
    Files.createDirectories(out)
    Files.writeString(out.resolve("run.json"), j.toString)
  }
}

/** One timed pass. */
final case class Pass(n: Int, startMs: Long, endMs: Long, wallMs: Double)

object Host {

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def procStat(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }
  }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
  }
}
