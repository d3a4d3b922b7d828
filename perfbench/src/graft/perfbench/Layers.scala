package graft.perfbench

import java.nio.file.{Files, Path}

/** Per-layer numbers of a traced run, from the calls the benchmark made
  * and the listener's per-tag totals. Every count is per pass, so runs
  * with different pass counts compare.
  */
object Layers {
  /** The layer calls, `<layer>.<call>`, each reported with [[Counters]]. */
  val Kinds = Seq("covid.ingest", "covid.etl_once", "covid.dashboard", "analytics.query",
    "ops.shared_build", "ops.dedup", "ops.ann", "streaming.twins")
  val Counters = Seq("calls", "wall_ms", "driver_ms", "jobs", "tasks", "task_cpu_ms",
    "gc_ms", "shuffle_mb", "written_mb", "slot_util")
  /** Trigger duration keys of `StreamingQueryProgress.durationMs`. */
  val TriggerParts = Seq("latestOffset" -> "latest_offset_ms",
    "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
    "walCommit" -> "wal_commit_ms")

  def report(t: Tracer, calls: Seq[Call], passSpans: Seq[Pass], cores: Int,
      out: Path): String = {
    val passes = passSpans.size
    val jobsByTag = t.jobs.values.groupBy(_.tag)
    def covered(c: Call): Long =
      Tracer.covered(c.startMs, c.endMs,
        jobsByTag.getOrElse(c.tag, Nil).map(j => (j.start, j.end)).toSeq)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (k <- Kinds) {
      val cs = calls.filter(_.kind == k)
      val aggs = cs.flatMap(c => t.byTag.get(c.tag))
      val cov = cs.map(covered).sum
      val run = aggs.map(_.runMs).sum
      def per(v: Double) = v / passes
      m(s"$k.calls") = per(cs.size)
      m(s"$k.wall_ms") = per(cs.map(_.wallMs).sum)
      m(s"$k.driver_ms") = per(cs.map(c => math.max(0.0, c.wallMs - covered(c))).sum)
      m(s"$k.jobs") = per(aggs.map(_.jobs).sum)
      m(s"$k.tasks") = per(aggs.map(_.tasks).sum)
      m(s"$k.task_cpu_ms") = per(aggs.map(_.cpuNs).sum / 1e6)
      m(s"$k.gc_ms") = per(aggs.map(_.gcMs).sum)
      m(s"$k.shuffle_mb") = per(aggs.map(_.shuffleBytes).sum / 1e6)
      m(s"$k.written_mb") = per(aggs.map(_.writtenBytes).sum / 1e6)
      m(s"$k.slot_util") = if (cov == 0) 0.0 else run.toDouble / (cov * cores)
    }
    val twinTags = calls.filter(_.kind == "streaming.twins").map(_.tag).toSet
    val trig = t.triggers.filter(tr => twinTags(tr.tag))
    m("streaming.trigger.count") = trig.size.toDouble / passes
    m("streaming.trigger.jobs_per_trigger") =
      if (trig.isEmpty) 0.0 else m("streaming.twins.jobs") * passes / trig.size
    for ((key, name) <- TriggerParts)
      m(s"streaming.trigger.$name") = trig.map(_.durations.getOrElse(key, 0L)).sum.toDouble / passes
    m("spark.untagged_jobs") = t.untaggedJobs.toDouble

    // Attribution check: the per-call sums must equal the run-wide totals.
    val tags = calls.map(_.tag).toSet
    val sum = new t.Agg
    t.byTag.filter { case (tag, _) => tags(tag) }.values.foreach(sum.add)
    val mismatches = Seq(
      "jobs" -> (sum.jobs, t.total.jobs), "tasks" -> (sum.tasks, t.total.tasks),
      "run_ms" -> (sum.runMs, t.total.runMs), "cpu_ns" -> (sum.cpuNs, t.total.cpuNs),
      "gc_ms" -> (sum.gcMs, t.total.gcMs), "shuffle_bytes" -> (sum.shuffleBytes, t.total.shuffleBytes),
      "written_bytes" -> (sum.writtenBytes, t.total.writtenBytes))
      .filter { case (_, (a, b)) => a != b }
      .map { case (k, (a, b)) => s""""$k":[$a,$b]""" }
    val attributionOk = mismatches.isEmpty && t.untaggedJobs == 0 && t.unmatchedTriggers == 0

    writeSpans(t, calls, passSpans, out)
    s""""layers":${m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
      s""""attribution":{"ok":$attributionOk,"untagged_jobs":${t.untaggedJobs},""" +
      s""""unmatched_triggers":${t.unmatchedTriggers},"total_jobs":${t.total.jobs},""" +
      s""""total_tasks":${t.total.tasks},"mismatches":${mismatches.mkString("{", ",", "}")}}"""
  }

  /** Spans, one JSON object a line: workload → pass → call → job / trigger. */
  private def writeSpans(t: Tracer, calls: Seq[Call], passSpans: Seq[Pass], out: Path): Unit = {
    def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long) =
      s"""{"span":"$id","parent":"$parent","kind":"$kind","name":${Workload.json(name)},""" +
        s""""start_ms":$s,"end_ms":$e}"""
    val lines = Seq(span("run", "", "workload", "run", passSpans.head.startMs, passSpans.last.endMs)) ++
      passSpans.map(p => span(s"pass${p.n}", "run", "pass", s"pass ${p.n}", p.startMs, p.endMs)) ++
      calls.map(c => span(c.tag, s"pass${c.pass}", c.kind, c.name, c.startMs, c.endMs)) ++
      t.jobs.values.map(j => span(s"job${j.id}", j.tag, "spark.job", s"job ${j.id}", j.start, j.end)) ++
      t.triggers.zipWithIndex.map { case (tr, i) =>
        span(s"trigger$i", tr.tag, "streaming.trigger", "trigger",
          tr.end - tr.durations.getOrElse("triggerExecution", 0L), tr.end)
      }
    Files.createDirectories(out)
    Files.writeString(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
