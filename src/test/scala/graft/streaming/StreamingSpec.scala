package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.analytics.Temporal

/** Streaming ≡ batch equivalence on the driver testdata. */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Write `df` as ONE parquet file named `name.parquet` under `dir`
    * with the given mtime (the file source orders batches by mtime).
    */
  private def stageFile(df: org.apache.spark.sql.DataFrame, dir: java.nio.file.Path,
      name: String, mtime: Long = System.currentTimeMillis()): Unit = {
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolveSibling(s"${dir.getFileName}_${name}_tmp").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = dir.resolve(s"$name.parquet")
    java.nio.file.Files.move(part.toPath, dst)
    // every finite-drain harness orders micro-batches by mtime — a
    // silently failed write (e.g. a filesystem without mtime support)
    // would reorder batches and break the event-time-ordered-batches
    // precondition with no signal, so fail loudly instead
    require(dst.toFile.setLastModified(mtime),
      s"could not set mtime on $dst — batch ordering would be undefined")
  }

  test("streaming tumbling windows == batch q_stream_tumbling") {
    val stream = Streams.tumblingToTable(spark, dir, "stream_tumbling")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = Temporal.queries("q_stream_tumbling")(spark, dir)
      .collect().toSeq
    assert(stream == batch)
  }

  test("flatMapGroupsWithState sessionization == batch session_window") {
    val stream = Streams.sessionsToTable(spark, dir, "stream_sessions")
      .select("sess_start", "sess_end", "user_id", "n")
      .orderBy("user_id", "sess_start").collect().toSeq
    val batch = Temporal.queries("q_stream_session")(spark, dir)
      .select("sess_start", "sess_end", "user_id", "n")
      .collect().toSeq
    assert(stream.size == batch.size)
    assert(stream == batch)
  }

  test("dropDuplicatesWithinWatermark == exact dedup when delay spans the data") {
    // 40-day delay > the 30-day event span, so no state expires and
    // the horizon-bounded dedup must return exactly the distinct keys
    val stream = Streams.dedupWithinWatermarkToTable(
        spark, dir, "stream_dedup_wm", "40 days")
      .select("user_id", "event_type").orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batch = graft.Tables(spark, dir, "events")
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(stream == batch)
  }

  test("streaming pii scrub == batch scrub projection (append mode, stateless)") {
    val stream = Streams.piiToTable(spark, dir, "stream_pii_spec")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.ops.TextAnalysis
      .piiScrub(graft.Tables(spark, dir, "documents"))
      .orderBy("doc_id").collect().toSeq
    assert(stream.nonEmpty && stream == batch)
  }

  test("streaming watermark census == batch census (foreachBatch partials)") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_wm_spec").toString
    val stream = Streams.watermarkIngest(spark, dir, work)
      .orderBy("source").collect().toSeq
    val batch = graft.ops.TextAnalysis.watermarkFromPartials(
        graft.ops.TextAnalysis.watermarkPartials(
          graft.Tables(spark, dir, "documents")
            .select("doc_id", "source", "text")))
      .orderBy("source").collect().toSeq
    assert(stream.nonEmpty && stream == batch)
  }

  test("mapGroupsWithState per-user totals == batch groupBy") {
    val stream = Streams.userTotalsToTable(spark, dir, "stream_users")
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.Tables(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stream == batch)
  }

  test("foreachBatch MV maintenance: three genuine micro-batches, merged == recompute") {
    val work = java.nio.file.Files.createTempDirectory("graft_smv_spec").toString
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getDecimal(2).stripTrailingZeros, r.getDouble(3), r.getDouble(4))
    val mv = Streams.mvMergeIngest(spark, dir, work)
      .select(col("event_type"), col("n"),
        col("total").cast("decimal(28,2)").as("total"), col("mn"), col("mx"))
      .orderBy("event_type").collect().map(key).toSeq
    // one versioned MV per micro-batch — proves merging actually
    // crossed batch boundaries instead of one batch seeing everything
    assert((0 until 3).forall(i => new java.io.File(s"$work/mv_v$i").exists()))
    val batch = graft.Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.util.Exact.dec(col("value"))).cast("decimal(28,2)").as("total"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .orderBy("event_type").collect().map(key).toSeq
    assert(mv.nonEmpty && mv == batch)
  }

  test("foreachBatch MV: kill after 2 of 3 batches, restart from checkpoint == recompute") {
    // The restart failure mode the disk-derived version chain exists
    // for: drain a 2-shard prefix, "crash" (the query object is gone),
    // stage the third shard, and resume against the SAME
    // checkpointLocation. The source skips the committed batches; the
    // chain must continue from their on-disk MV — a driver-side var
    // would reset to None and silently drop their contribution.
    val work = java.nio.file.Files.createTempDirectory("graft_smv_resume").toString
    val ev = graft.Tables(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
    Streams.stageShards(ev, work, 3, upTo = Some(2))
    Streams.mvMergeRun(spark, work)                     // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/mv_v1").exists())
    Streams.stageShards(ev, work, 3)                    // shard 2 appears
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getDecimal(2).stripTrailingZeros, r.getDouble(3), r.getDouble(4))
    val mv = Streams.mvMergeRun(spark, work)            // run 2: resumes, only batch 2
      .select(col("event_type"), col("n"),
        col("total").cast("decimal(28,2)").as("total"), col("mn"), col("mx"))
      .orderBy("event_type").collect().map(key).toSeq
    // the resumed run processed ONLY the new shard (one new version)
    assert(new java.io.File(s"$work/mv_v2").exists())
    assert(!new java.io.File(s"$work/mv_v3").exists())
    val batch = ev
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.util.Exact.dec(col("value"))).cast("decimal(28,2)").as("total"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .orderBy("event_type").collect().map(key).toSeq
    assert(mv.nonEmpty && mv == batch)
  }

  test("foreachBatch upsert: restart from checkpoint == batch last-row-per-key") {
    val work = java.nio.file.Files.createTempDirectory("graft_sup_resume").toString
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    Streams.stageShards(ev, work, 3, upTo = Some(2))
    Streams.upsertRun(spark, work)
    Streams.stageShards(ev, work, 3)
    val up = Streams.upsertRun(spark, work)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      .toSeq
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(up.nonEmpty && up == batch)
  }

  test("EventTimeTimeout sessionization == batch session_window (evicted tail)") {
    // the bounded-state sessionizer: open-session-only state, sessions
    // closed by watermark timeout — must equal the batch session_window
    // result including the final sessions (flushed via sentinel shards)
    val stream = Streams.sessionizeTimeoutToTable(spark, dir, "stream_sess_to_spec")
      .select("sess_start", "sess_end", "user_id", "n")
      .orderBy("user_id", "sess_start").collect().toSeq
    val batch = Temporal.queries("q_stream_session")(spark, dir)
      .select("sess_start", "sess_end", "user_id", "n")
      .collect().toSeq
    assert(stream.size == batch.size)
    assert(stream == batch)
  }

  test("mapGroupsWithState totals survive multi-batch arrival (maxFilesPerTrigger=1)") {
    // stage events as TWO shard files so the update-mode memory sink
    // receives two emissions for users present in both shards — the
    // final-row reduction must still equal the batch groupBy
    val work = java.nio.file.Files.createTempDirectory("graft_multibatch")
    val ev = graft.Tables(spark, dir, "events")
    stageFile(ev.where(col("event_id") % 2 === 0), work, "events")
    stageFile(ev.where(col("event_id") % 2 === 1), work, "events_b")
    val stream = Streams.userTotalsToTable(
        spark, work.toString, "stream_users_mb", maxFilesPerTrigger = Some(1))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("transformWithState stats survive multi-batch arrival (maxFilesPerTrigger=1)") {
    // same robustness contract for the q_stream_user_stats path: the
    // max_by(batch-final) reduction must hold when the source arrives
    // as two micro-batches instead of one
    val work = java.nio.file.Files.createTempDirectory("graft_multibatch_tws")
    val ev = graft.Tables(spark, dir, "events")
    stageFile(ev.where(col("event_id") % 2 === 0), work, "events")
    stageFile(ev.where(col("event_id") % 2 === 1), work, "events_b")
    val stream = Streams.userStatsTwsToTable(
        spark, work.toString, "tws_users_mb", maxFilesPerTrigger = Some(1))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = ev.select(col("user_id"),
        (graft.util.Exact.dec(col("value")) * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("transformWithState per-user stats == batch groupBy (RocksDB store)") {
    // the Spark 4 arbitrary-state successor to mapGroupsWithState:
    // named ValueState handle, RocksDB-backed store, update mode
    val stream = Streams.userStatsTwsToTable(spark, dir, "tws_users")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.Tables(spark, dir, "events")
      .select(col("user_id"),
        (graft.util.Exact.dec(col("value")) * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("left-outer stream-stream join == batch left join, nulls flushed by watermark") {
    val stream = Streams.leftOuterIntervalJoinToTable(spark, dir, "loj_sink")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    val ev = graft.Tables(spark, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
    val batch = views.join(buys,
        expr("user_id = b_user AND b_ts >= v_ts AND b_ts <= v_ts + interval 1 hour"),
        "leftOuter")
      .select(col("view_id"), col("buy_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(stream == batch && stream.nonEmpty)
    assert(stream.exists(_._2 == -1L), "expected unmatched views (null flushes)")
  }

  test("flatMapGroupsWithState transitions == batch lead() window") {
    val stream = Temporal.queries("q_stream_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.analytics.Behavioral.queries("q_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("stateful streaming funnel == batch q_funnel counts") {
    val stream = Temporal.queries("q_stream_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.analytics.Behavioral.queries("q_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream == batch)
    // the funnel must be strictly narrowing and non-trivial on testdata
    val (v, c, p) = stream.head
    assert(v >= c && c >= p && v > 0)
  }

  test("checkpointed stateful stream: dedup state survives restart, idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckptresume").toString
    val src = s"$root/src"; val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    // start a FRESH query each time against the same checkpoint — this
    // is a process restart as the engine sees it: offsets + state store
    // must restore, not recompute
    def run(): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema).parquet(src)
        .dropDuplicates("k")
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").format("parquet").option("path", sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    Seq((1L, "a"), (2L, "b"), (1L, "dup-in-batch")).toDF("k", "v")
      .repartition(1).write.mode("append").parquet(src)
    run()
    // k=2 recurs across the restart boundary: only restored state can drop it
    Seq((2L, "dup-across-restart"), (3L, "c"), (3L, "dup-in-batch")).toDF("k", "v")
      .repartition(1).write.mode("append").parquet(src)
    run()
    run() // no new data: a third restart must add nothing (idempotent)
    val out = spark.read.parquet(sink).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("foreachBatch minhash dedup: streamed kept set == batch banded predicate") {
    // the sketch-dedup pairing: the streamed "no smaller id with
    // est >= theta" kept set must equal the same predicate computed in
    // one batch pass over the full corpus (shared signature helpers,
    // so only the cross-batch store logic is under test)
    import graft.ops.Dedup
    val work = java.nio.file.Files.createTempDirectory("graft_smh_spec").toString
    val kept = Streams.minhashDedupIngest(spark, dir, work)
      .collect().map(_.getLong(0)).toSet
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val vec = Dedup.minhashSignatures(docs).cache()
    // replay the CAPPED pipeline: both minhashDedupIngest's store
    // probe and the q_dedup_minhash batch predicate route bands
    // through minhashLiveBands, so the batch-side twin must too —
    // otherwise this equality silently stops mirroring the pipeline
    // the first time a fixture bucket crosses MinhashBandCap
    val bands = Dedup.minhashLiveBands(Dedup.minhashBands(vec))
    val dropped = bands.select(col("band"), col("sig"), col("doc_id").as("doc1"))
      .join(bands.select(col("band"), col("sig"), col("doc_id").as("doc2")),
        Seq("band", "sig"))
      .where(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
      .join(vec.select(col("doc_id").as("doc1"), col("v").as("v1")), Seq("doc1"))
      .join(vec.select(col("doc_id").as("doc2"), col("v").as("v2")), Seq("doc2"))
      .where(Dedup.minhashEst(col("v1"), col("v2")) >= Dedup.StreamDupThreshold)
      .select("doc2").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    vec.unpersist()
    assert(kept == (all -- dropped) && kept.nonEmpty && dropped.nonEmpty)
  }

  test("foreachBatch minhash dedup: a replayed last batch rewrites its own stores, kept ids unchanged") {
    val work = java.nio.file.Files.createTempDirectory("graft_smh_retry").toString
    val first = Streams.minhashDedupIngest(spark, dir, work)
      .collect().map(_.getLong(0)).toSeq
    // a crash after the last batch's sink writes but before its commit:
    // the restart replays that batch under the same bid
    val commits = new java.io.File(s"$work/ckpt/commits")
    val last = commits.listFiles().flatMap(_.getName.toLongOption).max
    assert(last == 2L)
    new java.io.File(commits, last.toString).delete()
    new java.io.File(commits, s".$last.crc").delete()
    val again = Streams.minhashDedupIngest(spark, dir, work)
      .collect().map(_.getLong(0)).toSeq
    assert(new java.io.File(commits, last.toString).exists(),
      "the restart did not replay the uncommitted batch")
    assert(again.distinct.size == again.size, "the replayed batch wrote its kept ids twice")
    assert(first.nonEmpty && again.sorted == first.sorted)
  }

  test("minhash stop-band saturating mid-stream: drained kept-set ⊆ batch kept-set") {
    // exercises the documented divergence direction of the
    // MinhashBandCap stop-band (Streams.minhashDedupIngest): 70
    // identical docs saturate every band bucket at the FULL corpus
    // (70 > cap 64) so the batch predicate kills the bucket and drops
    // nothing, while the stream's first two shards see sub-cap store
    // occupancy (24, 48) and still drop their duplicates — drained
    // must come out a strict SUBSET of the batch kept-set, never a
    // superset
    import spark.implicits._
    import graft.ops.Dedup
    val a = "the quick brown fox jumps over the lazy dog while the rain falls on the quiet town and the river runs south past the old mill"
    val rows = (1L to 70L).map(_ -> a) ++ Seq(
      71L -> "completely unrelated text about spark engines and columnar execution at scale with vectorized parquet readers",
      72L -> "another standalone document discussing broadcast joins adaptive execution and shuffle partition coalescing in depth",
      73L -> "a third free-standing passage on watermarks stateful operators and exactly once sinks in structured streaming")
    val fdir = java.nio.file.Files.createTempDirectory("smh_sat_docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$fdir/documents.parquet")
    val docs = graft.Tables(spark, fdir, "documents")
      .select(col("doc_id"), col("text"))
    val vec = Dedup.minhashSignatures(docs).cache()
    // premise: the full corpus really saturates (the test is vacuous
    // if the fixture ever shrinks below the cap)
    val occ = Dedup.minhashBands(vec).groupBy("band", "sig").count()
      .agg(max("count")).head().getLong(0)
    assert(occ > Dedup.MinhashBandCap, s"fixture must saturate: $occ")
    // batch predicate = the capped pipeline over the final corpus
    val bands = Dedup.minhashLiveBands(Dedup.minhashBands(vec))
    val dropped = bands.select(col("band"), col("sig"), col("doc_id").as("doc1"))
      .join(bands.select(col("band"), col("sig"), col("doc_id").as("doc2")),
        Seq("band", "sig"))
      .where(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
      .join(vec.select(col("doc_id").as("doc1"), col("v").as("v1")), Seq("doc1"))
      .join(vec.select(col("doc_id").as("doc2"), col("v").as("v2")), Seq("doc2"))
      .where(Dedup.minhashEst(col("v1"), col("v2")) >= Dedup.StreamDupThreshold)
      .select("doc2").collect().map(_.getLong(0)).toSet
    vec.unpersist()
    val batchKept = (1L to 73L).toSet -- dropped
    // final-corpus cap kills the whole bucket: batch drops nothing
    assert(dropped.isEmpty, s"saturated bucket must yield no batch pairs: $dropped")
    val work = java.nio.file.Files.createTempDirectory("graft_smh_sat").toString
    val kept = Streams.minhashDedupIngest(spark, fdir, work)
      .collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(batchKept), "drained kept-set must be ⊆ batch kept-set")
    assert(kept != batchKept, "mid-stream sub-cap batches must have dropped dups")
    // shape: the first copy survives shard 1's within-batch election,
    // later sub-cap shards drop theirs, the distinct docs all survive
    assert(kept.contains(1L) && !kept.contains(2L))
    assert(Set(71L, 72L, 73L).subsetOf(kept))
  }

  test("foreachBatch incremental dedup: one survivor per text across micro-batches") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("incdedup").toString
    val src = s"$root/src"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(src)
    // two files -> two micro-batches (maxFilesPerTrigger=1); batch
    // order follows file mtime, but the assertions are order-free
    write(Seq(1L -> "alpha text", 2L -> "alpha text", 3L -> "beta text"))
    Thread.sleep(1100)
    write(Seq(4L -> "alpha text", 5L -> "gamma text"))
    val kept = Streams.incrementalDedupIngest(spark, src, s"$root/work")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // exactly one survivor per distinct text, and it's a real source row
    assert(kept.map(_._2).sorted == Seq("alpha text", "beta text", "gamma text"))
    val all = Map(1L -> "alpha text", 2L -> "alpha text", 3L -> "beta text",
      4L -> "alpha text", 5L -> "gamma text")
    assert(kept.forall { case (id, t) => all(id) == t })
    // within-batch election is min doc_id: doc 2 can never survive
    assert(!kept.exists(_._1 == 2L))
    // the index holds one hash per distinct text
    assert(spark.read.parquet(s"$root/work/hash_index[0-9]*").distinct().count() == 3)
  }

  test("staged-shard cache: twins sharing a source symlink one staged directory") {
    // two documents-family twins in one session must resolve their
    // workDir/stream to the SAME shared staged directory (the round-8
    // amortization), while their checkpoints stay private
    val w1 = java.nio.file.Files.createTempDirectory("stage_a").toString
    val w2 = java.nio.file.Files.createTempDirectory("stage_b").toString
    Streams.watermarkIngest(spark, dir, w1)
    Streams.doremiIngest(spark, dir, w2)
    val l1 = java.nio.file.Paths.get(w1, "stream")
    val l2 = java.nio.file.Paths.get(w2, "stream")
    assert(java.nio.file.Files.isSymbolicLink(l1))
    assert(java.nio.file.Files.isSymbolicLink(l2))
    assert(java.nio.file.Files.readSymbolicLink(l1) ==
      java.nio.file.Files.readSymbolicLink(l2),
      "both twins must ride the one staged shard set")
    // and the shared files exist exactly once, with the staged naming
    val files = java.nio.file.Files.list(l1)
    val n = try files.count() finally files.close()
    assert(n == 3, "three staged shards")
    // private checkpoints: each twin drained through its own
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(w1, "ckpt")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(w2, "ckpt")))
  }

  test("ivf retrain: the store update replaces exactly the moved vectors' rows") {
    import graft.ops.Similarity
    val work = java.nio.file.Files.createTempDirectory("graft_ivf_rt").toString
    Streams.ivfRetrainIngest(spark, dir, work)
    val before = spark.read.parquet(s"$work/postings_b*")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = spark.read.parquet(s"$work/postings_r1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val moved = Similarity.queries("q_ivf_retrain")(spark, dir).collect()
      .filter(_.getBoolean(3)).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(moved.nonEmpty, "fixture premise: the response must move vectors")
    val movedIds = moved.map(_._1)
    // moved vectors: all old posting rows gone, exactly the one new row
    assert(after.filter(p => movedIds(p._1)) == moved)
    // unmoved vectors: postings byte-identical to the drained store
    assert(after.filterNot(p => movedIds(p._1)) ==
      before.filterNot(p => movedIds(p._1)))
  }

  test("foreachBatch ivf ingest: streamed postings == batch assignment row-for-row") {
    val work = java.nio.file.Files.createTempDirectory("graft_sivf_spec").toString
    val census = Streams.ivfIngest(spark, dir, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the drained store itself must equal the batch two-level
    // assignment as a SET of (vec_id, anchor_id) postings
    val streamed = spark.read.parquet(s"$work/postings_b*")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = {
      import graft.ops.Similarity
      val (c, fb) = Similarity.ivfQuantizer(spark, dir)
      Similarity.ivfAssign(Similarity.embeddings(spark, dir), c, fb)
        .select("vec_id", "anchor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(streamed == probed, "streamed postings diverge from batch assignment")
    assert(census.nonEmpty && census.toSeq.map(_._2).sum == streamed.size)
  }

  test("foreachBatch contamination guard: streamed flags == batch scan") {
    val work = java.nio.file.Files.createTempDirectory("graft_contam_spec").toString
    val streamed = Streams.contaminationIngest(spark, dir, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Dedup.queries("q_contamination")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // every micro-batch wrote its own idempotent flag directory
    val dirs = new java.io.File(work).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("flag_b"))
    assert(dirs.length == 3)
  }

  test("foreachBatch ivf ingest: kill after 2 of 3 batches, restart == batch assignment") {
    // the round-5 trio's restart gap (round-5 verdict item #4): the
    // bid-keyed idempotent postings must survive a checkpoint resume —
    // drain a 2-shard prefix, "crash", stage the third, resume, and
    // the drained store must STILL equal the batch assignment.
    import graft.ops.Similarity
    val work = java.nio.file.Files.createTempDirectory("graft_sivf_resume").toString
    val emb = Similarity.embeddings(spark, dir)
    Streams.stageShards(emb, work, 3, upTo = Some(2), keyCol = "vec_id")
    Streams.ivfRun(spark, dir, work)             // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/postings_b1").exists())
    Streams.stageShards(emb, work, 3, keyCol = "vec_id") // shard 2 appears
    val census = Streams.ivfRun(spark, dir, work) // run 2: resumes, only batch 2
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(new java.io.File(s"$work/postings_b2").exists())
    assert(!new java.io.File(s"$work/postings_b3").exists(),
      "resumed run must process ONLY the new shard")
    val streamed = spark.read.parquet(s"$work/postings_b*")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = {
      val (c, fb) = Similarity.ivfQuantizer(spark, dir)
      Similarity.ivfAssign(emb, c, fb)
        .select("vec_id", "anchor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(streamed == probed, "resumed postings diverge from batch assignment")
    assert(census.nonEmpty && census.toSeq.map(_._2).sum == streamed.size)
  }

  test("foreachBatch doremi monitor: kill after 2 of 3 batches, restart == batch step") {
    // per-bid DECIMAL partials must survive a checkpoint resume: drain
    // a 2-shard prefix, "crash", stage the third, resume — the folded
    // mixture weights must STILL equal the batch q_doremi_step row set
    val work = java.nio.file.Files.createTempDirectory("graft_doremi_resume").toString
    Streams.doremiStage(spark, dir, work, upTo = Some(2))
    Streams.doremiRun(spark, work)               // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/per_b1").exists())
    Streams.doremiStage(spark, dir, work)     // shard 2 appears
    val streamed = Streams.doremiRun(spark, work) // run 2: resumes, batch 2 only
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(new java.io.File(s"$work/per_b2").exists())
    assert(!new java.io.File(s"$work/per_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.TextAnalysis.queries("q_doremi_step")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch watermark census: kill after 2 of 3 batches, restart == batch census") {
    val work = java.nio.file.Files.createTempDirectory("graft_wm_resume").toString
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source", "text")
    Streams.stageShards(docs, work, 3, upTo = Some(2), keyCol = "doc_id")
    Streams.watermarkRun(spark, work)             // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/per_b1").exists())
    Streams.stageShards(docs, work, 3, keyCol = "doc_id") // shard 2 appears
    val streamed = Streams.watermarkRun(spark, work)      // resumes, batch 2 only
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(new java.io.File(s"$work/per_b2").exists())
    assert(!new java.io.File(s"$work/per_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.TextAnalysis.queries("q_watermark_detect")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch theta monitor: drained sketch merge == batch sketch") {
    val work = java.nio.file.Files.createTempDirectory("graft_theta_spec").toString
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getInt(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getDouble(3),
      r.getLong(4), r.getDouble(5))
    val streamed = Streams.thetaIngest(spark, dir, work)
      .collect().map(key).toSet
    val batch = graft.ops.Govern.queries("q_theta_sketch")(spark, dir)
      .collect().map(key).toSet
    // the KMV merge of per-batch partials must equal the one-pass
    // batch sketch EXACTLY — associativity, not approximation
    assert(streamed == batch && streamed.nonEmpty)
    val dirs = new java.io.File(work).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("sk_b"))
    assert(dirs.length == 3)
  }

  test("foreachBatch theta monitor: kill after 2 of 3 batches, restart == batch sketch") {
    val work = java.nio.file.Files.createTempDirectory("graft_theta_resume").toString
    Streams.thetaStage(spark, dir, work, upTo = Some(2))
    Streams.thetaRun(spark, dir, work)   // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/sk_b1").exists())
    Streams.thetaStage(spark, dir, work)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getInt(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getDouble(3),
      r.getLong(4), r.getDouble(5))
    val streamed = Streams.thetaRun(spark, dir, work).collect().map(key).toSet
    assert(new java.io.File(s"$work/sk_b2").exists())
    assert(!new java.io.File(s"$work/sk_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.Govern.queries("q_theta_sketch")(spark, dir)
      .collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch ngram-theta monitor: drained sketch merge == batch census") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_ngt_spec").toString
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getInt(1),
      r.getLong(2), r.getInt(3),
      if (r.isNullAt(4)) -1L else r.getLong(4), r.getDouble(5),
      r.getLong(6), r.getDouble(7))
    val streamed = Streams.ngramThetaIngest(spark, dir, work)
      .collect().map(key).toSet
    val batch = graft.ops.TextAnalysis
      .queries("q_distinct_ngrams_theta")(spark, dir)
      .collect().map(key).toSet
    // per-(source, n) totals are additive and the KMV merge of the
    // per-batch minima re-ranks to the one-pass sketch EXACTLY
    assert(streamed == batch && streamed.nonEmpty)
    val dirs = new java.io.File(work).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ngsk_b"))
    assert(dirs.length == 3)
  }

  test("foreachBatch ngram-theta monitor: kill after 2 of 3 batches, restart == batch census") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_ngt_resume").toString
    Streams.thetaStage(spark, dir, work, upTo = Some(2))
    Streams.ngramThetaRun(spark, dir, work) // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/ngsk_b1").exists())
    Streams.thetaStage(spark, dir, work)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getInt(1),
      r.getLong(2), r.getInt(3),
      if (r.isNullAt(4)) -1L else r.getLong(4), r.getDouble(5),
      r.getLong(6), r.getDouble(7))
    val streamed = Streams.ngramThetaRun(spark, dir, work)
      .collect().map(key).toSet
    assert(new java.io.File(s"$work/ngsk_b2").exists())
    assert(!new java.io.File(s"$work/ngsk_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.TextAnalysis
      .queries("q_distinct_ngrams_theta")(spark, dir)
      .collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch pca monitor: drained integer partials == batch iterate") {
    val work = java.nio.file.Files.createTempDirectory("graft_pca_spec").toString
    val streamed = Streams.pcaIngest(spark, dir, work)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Similarity.queries("q_pca_step")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // exact-integer partials: the fold must equal the one-pass sum
    // EXACTLY, not approximately
    assert(streamed == batch && streamed.nonEmpty)
    val dirs = new java.io.File(work).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pca_b"))
    assert(dirs.length == 3)
  }

  test("foreachBatch pca monitor: kill after 2 of 3 batches, restart == batch iterate") {
    val work = java.nio.file.Files.createTempDirectory("graft_pca_resume").toString
    Streams.pcaStage(spark, dir, work, upTo = Some(2))
    Streams.pcaRun(spark, work)   // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/pca_b1").exists())
    Streams.pcaStage(spark, dir, work)
    val streamed = Streams.pcaRun(spark, work)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(new java.io.File(s"$work/pca_b2").exists())
    assert(!new java.io.File(s"$work/pca_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.Similarity.queries("q_pca_step")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch theta-delta monitor: kill after 2 of 3 batches, restart == batch census") {
    // the cross-release novelty monitor resumes from its checkpoint:
    // v1's staged sketch + postings stores are deterministic (kept),
    // the committed batches' partials are on disk, and the resumed
    // run processes ONLY the new shard — drained census == the batch
    // q_theta_delta row-for-row (shared projection + shared oracle)
    val work = java.nio.file.Files
      .createTempDirectory("graft_tdelta_resume").toString
    Streams.thetaDeltaStage(spark, dir, work, upTo = Some(2))
    Streams.thetaDeltaRun(spark, dir, work) // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/dsk_b1").exists())
    assert(new java.io.File(s"$work/v1_theta").exists(),
      "the release must ship its governance sketch artifact")
    Streams.thetaDeltaStage(spark, dir, work)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0),
      r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4), r.getLong(5))
    val streamed = Streams.thetaDeltaRun(spark, dir, work)
      .collect().map(key).toSet
    assert(new java.io.File(s"$work/dsk_b2").exists())
    assert(!new java.io.File(s"$work/dsk_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.Govern.queries("q_theta_delta")(spark, dir)
      .collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch contamination guard: kill after 2 of 3 batches, restart == batch scan") {
    val work = java.nio.file.Files.createTempDirectory("graft_contam_resume").toString
    Streams.contaminationStage(spark, dir, work, upTo = Some(2))
    Streams.contaminationRun(spark, dir, work)   // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/flag_b1").exists())
    Streams.contaminationStage(spark, dir, work)
    val streamed = Streams.contaminationRun(spark, dir, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(new java.io.File(s"$work/flag_b2").exists())
    assert(!new java.io.File(s"$work/flag_b3").exists(),
      "resumed run must process ONLY the new shard")
    val batch = graft.ops.Dedup.queries("q_contamination")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch RTBF guard: streamed audit == batch events leg, restart-safe") {
    // the drained partial-fold must equal q_forget's events row; then
    // the checkpoint-restart form: 2-shard prefix, "crash", stage the
    // third, resume — per-bid partials make the fold exact anyway
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val batchEvents = graft.ops.Prep.queries("q_forget")(spark, dir)
      .where(org.apache.spark.sql.functions.col("tbl") === "events")
      .collect().map(key).toSeq
    val work = java.nio.file.Files.createTempDirectory("graft_sfg_spec").toString
    val streamed = Streams.forgetIngest(spark, dir, work)
      .collect().map(key).toSeq
    assert(streamed == batchEvents && streamed.head._3 > 0)
    assert(streamed.head._2 > 0, "deletion list hit no events — guard vacuous")
    val work2 = java.nio.file.Files.createTempDirectory("graft_sfg_resume").toString
    Streams.forgetStage(spark, dir, work2, upTo = Some(2))
    Streams.forgetRun(spark, dir, work2)         // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work2/audit_b1").exists())
    Streams.forgetStage(spark, dir, work2)
    val resumed = Streams.forgetRun(spark, dir, work2)
      .collect().map(key).toSeq
    assert(new java.io.File(s"$work2/audit_b2").exists())
    assert(!new java.io.File(s"$work2/audit_b3").exists(),
      "resumed run must process ONLY the new shard")
    assert(resumed == batchEvents)
  }

  test("foreachBatch coverage guard: streamed outlier flags == batch, restart-safe") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
    val batch = graft.ops.Similarity.queries("q_semantic_outliers")(spark, dir)
      .collect().map(key).toSeq
    val work = java.nio.file.Files.createTempDirectory("graft_sso_spec").toString
    val streamed = Streams.outliersIngest(spark, dir, work)
      .collect().map(key).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    val work2 = java.nio.file.Files.createTempDirectory("graft_sso_resume").toString
    Streams.outliersStage(spark, dir, work2, upTo = Some(2))
    Streams.outliersRun(spark, dir, work2)       // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work2/flags_b1").exists())
    Streams.outliersStage(spark, dir, work2)
    val resumed = Streams.outliersRun(spark, dir, work2)
      .collect().map(key).toSeq
    assert(new java.io.File(s"$work2/flags_b2").exists())
    assert(!new java.io.File(s"$work2/flags_b3").exists(),
      "resumed run must process ONLY the new shard")
    assert(resumed == batch)
  }

  test("staging cache honors spark.graft.stagingDir: shards land under the configured root") {
    // the cluster seam's staging half (round-9): with the conf set,
    // the shared staged-shard directory lives under the CONFIGURED
    // POSIX root and each twin's workDir/stream symlinks into it
    val root = java.nio.file.Files
      .createTempDirectory("graft_staging_conf").toString
    spark.conf.set(Streams.StagingDirConf, root)
    try {
      val work = java.nio.file.Files
        .createTempDirectory("graft_staging_wk").toString
      val ev = graft.Tables(spark, dir, "events")
        .select(col("user_id"), col("event_id")).limit(200)
      val staged = Streams.stageShards(ev, work, 2, keyCol = "event_id",
        cacheKey = Some("conf-root-probe"))
      val link = java.nio.file.Paths.get(work, "stream")
      assert(java.nio.file.Files.isSymbolicLink(link))
      val target = java.nio.file.Files.readSymbolicLink(link).toString
      assert(target.startsWith(root), s"$target not under $root")
      assert(spark.read.parquet(staged).count() == 200)
    } finally spark.conf.unset(Streams.StagingDirConf)
  }

  test("staging root contract: object-store URI refused, POSIX root probed") {
    // the POSIX-only contract is ENFORCED (round-10): a URI-schemed
    // root fails at resolution with the conf named, and a real path
    // root passes the rename/mtime/symlink probe
    spark.conf.set(Streams.StagingDirConf, "s3a://bucket/stage")
    try {
      val e = intercept[IllegalArgumentException](Streams.stageRoot(spark))
      assert(e.getMessage.contains(Streams.StagingDirConf) &&
        e.getMessage.contains("POSIX"), e.getMessage)
    } finally spark.conf.unset(Streams.StagingDirConf)
    val good = java.nio.file.Files
      .createTempDirectory("graft_stage_probe").toString
    spark.conf.set(Streams.StagingDirConf, good)
    try {
      assert(Streams.stageRoot(spark).toString == good)
      // the probe cleans up after itself
      assert(new java.io.File(good).listFiles().isEmpty)
    } finally spark.conf.unset(Streams.StagingDirConf)
  }

  test("release store ships the governance sketch: v1_theta merged with the batch half == full recompute") {
    // KMV sketches are mergeable state: min-k of a union is the min-k
    // of the per-part min-k sets. So the release store's v1_theta
    // artifact folds with a fresh sketch of the arriving half by
    // re-aggregating the union of minima — NO rescan of v1 — and the
    // result must be BIT-IDENTICAL to the full-corpus artifact
    // (graft.ops.Govern.sharedThetaSketches). This is the loop the
    // governance family and the release store close.
    import graft.ops.{Dedup, Govern}
    val work = java.nio.file.Files
      .createTempDirectory("graft_v1theta").toString
    Streams.releaseStage(spark, dir, work)
    val v1Sk = spark.read.schema("source STRING, mins ARRAY<BIGINT>")
      .parquet(s"$work/v1_theta")
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val half = docs.where(col("doc_id") % 4 === 0)
    val halfSk = Dedup.shingleHashes(half.select(col("doc_id"), col("text")))
      .join(half.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
        .as("mins"))
    val merged = v1Sk.select(col("source"), explode(col("mins")).as("h"))
      .unionByName(halfSk.select(col("source"), explode(col("mins")).as("h")))
      .groupBy(col("source"))
      .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
        .as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val full = Govern.sharedThetaSketches(spark, dir)
      .select(col("source"), col("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(full.nonEmpty && merged.keySet == full.keySet)
    full.foreach { case (src, mins) =>
      assert(merged(src) == mins, s"$src: store-merge diverged from recompute")
    }
  }

  test("foreachBatch release admission: drained census == q_release_delta, restart-safe") {
    // the ingest-time extension must reproduce the batch extension's
    // per-source census exactly (shared flags projection + shared
    // associative census — the oracle grades both), then the
    // checkpoint-restart form: 2-shard prefix, "crash", stage the
    // third, resume from the same checkpoint
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val batch = rows(graft.ops.Prep.queries("q_release_delta")(spark, dir))
    val work = java.nio.file.Files.createTempDirectory("graft_rel_spec").toString
    val streamed = rows(Streams.releaseIngest(spark, dir, work))
    assert(streamed == batch && streamed.nonEmpty)
    // non-vacuous: docs were admitted AND the cascade dropped some
    assert(streamed.map(_(9).asInstanceOf[Long]).sum > 0, "nothing admitted")
    assert(streamed.map(r => (2 to 8).map(i => r(i).asInstanceOf[Long]).sum)
      .sum > 0, "no stage dropped anything — cascade vacuous")
    val work2 = java.nio.file.Files.createTempDirectory("graft_rel_resume").toString
    Streams.releaseStage(spark, dir, work2, upTo = Some(2))
    Streams.releaseRun(spark, dir, work2)        // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work2/census_b1").exists())
    Streams.releaseStage(spark, dir, work2)
    val resumed = rows(Streams.releaseRun(spark, dir, work2))
    assert(new java.io.File(s"$work2/census_b2").exists())
    assert(!new java.io.File(s"$work2/census_b3").exists(),
      "resumed run must process ONLY the new shard")
    assert(resumed == batch)
  }

  test("foreachBatch crossmodal guard: streamed census == batch, restart-safe") {
    // drain == batch on a fresh stream, then the checkpoint-restart
    // form: 2-shard prefix, "crash", stage the third, resume — the
    // per-bid pair/feature stores must give the same census
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
    val batch = graft.ops.Multimodal.queries("q_crossmodal_dedup")(spark, dir)
      .collect().map(key).toSeq
    val work = java.nio.file.Files.createTempDirectory("graft_xm_spec").toString
    val streamed = Streams.crossmodalIngest(spark, dir, work)
      .collect().map(key).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    val work2 = java.nio.file.Files.createTempDirectory("graft_xm_resume").toString
    Streams.crossmodalStage(spark, dir, work2, upTo = Some(2))
    Streams.crossmodalRun(spark, dir, work2)     // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work2/pairs_b1").exists())
    Streams.crossmodalStage(spark, dir, work2)
    val resumed = Streams.crossmodalRun(spark, dir, work2)
      .collect().map(key).toSeq
    assert(new java.io.File(s"$work2/pairs_b2").exists())
    assert(!new java.io.File(s"$work2/pairs_b3").exists(),
      "resumed run must process ONLY the new shard")
    assert(resumed == batch)
  }

  test("foreachBatch drift monitor: kill after 2 of 3 batches, restart == full replay") {
    val work = java.nio.file.Files.createTempDirectory("graft_drift_resume").toString
    Streams.driftStage(spark, dir, work, upTo = Some(2))
    Streams.driftRun(spark, work)                // run 1: batches 0,1 commit
    assert(new java.io.File(s"$work/cur_v1").exists())
    Streams.driftStage(spark, dir, work)
    val resumed = Streams.driftRun(spark, work)  // run 2: resumes, only batch 2
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(new java.io.File(s"$work/cur_v2").exists())
    assert(!new java.io.File(s"$work/cur_v3").exists(),
      "resumed run must process ONLY the new shard")
    // the resumed fold must equal an unbroken one-session drain
    val oneShot = Streams.driftIngest(spark, dir,
      java.nio.file.Files.createTempDirectory("graft_drift_oneshot").toString)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(resumed.nonEmpty && resumed == oneShot)
  }

  test("foreachBatch drift monitor: streamed counts == ts-split batch replay, O(bins) state") {
    val work = java.nio.file.Files.createTempDirectory("graft_drift_spec").toString
    val counts = Streams.driftIngest(spark, dir, work)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch replay of the same ts-range split + reference-fixed edges
    val ev = graft.Tables(spark, dir, "events")
      .select(expr("unix_micros(ts)").as("us"), col("value"))
    val b = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi")).head()
    val (lo, hi1) = (b.getLong(0), b.getLong(1) + 1)
    val cut = lo + math.max(1L, hi1 - lo) / 3
    val ref = ev.where(col("us") < cut)
    val e = ref.agg(min(col("value")), max(col("value"))).head()
    val (mn, mx) = (e.getDouble(0), e.getDouble(1))
    def bin(c: org.apache.spark.sql.Column) =
      greatest(lit(0L), least(lit(9L), floor((c - mn) / (mx - mn) * 10))).cast("int")
    val refC = ref.groupBy(bin(col("value")).as("bin")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val curC = ev.where(col("us") >= cut)
      .groupBy(bin(col("value")).as("bin")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.nonEmpty)
    counts.foreach { case (k, (nr, nc)) =>
      assert(nr == refC.getOrElse(k, 0L), s"ref bin $k")
      assert(nc == curC.getOrElse(k, 0L), s"cur bin $k")
    }
    // the accumulated state really is O(bins): every version <= 10 rows
    val versions = new java.io.File(work).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cur_v"))
    assert(versions.nonEmpty)
    versions.foreach { v =>
      assert(spark.read.parquet(v.getPath).count() <= 10, s"${v.getName}")
    }
  }

  test("typed store: a write whose column type differs from the declaration fails naming the store") {
    val work = java.nio.file.Files.createTempDirectory("graft_store_spec").toString
    val store = Streams.Store("typed_b", "doc_id BIGINT, h BIGINT")
    val e = intercept[IllegalArgumentException] {
      store.write(spark.range(3)
        .select(col("id").as("doc_id"), col("id").cast("int").as("h")), work, 0L)
    }
    assert(e.getMessage.contains("typed_b"))
    assert(!new java.io.File(s"$work/typed_b0").exists())
    // the declared names and types write (nullability aside) and read
    // back under the pinned schema; the listing is strictly below a bid
    store.write(spark.range(3)
      .select(col("id").as("doc_id"), (col("id") * 2).as("h")), work, 1L)
    assert(store.below(spark, work, 1L).isEmpty)
    assert(store.latestBelow(spark, work, 2L).map(_.count()).contains(3L))
    assert(store.all(spark, work).schema == store.schema)
  }

  test("Streams drains through one helper and reads stores only through Store") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala"))
    def at(s: String): Seq[Int] =
      Iterator.iterate(src.indexOf(s))(i => src.indexOf(s, i + 1))
        .takeWhile(_ >= 0).toSeq
    assert(at("spark.read.schema(\"").isEmpty, "inline store schema string")
    assert(at("_b*").isEmpty, "per-bid glob read")
    // one staging route: every replayed stream stages through
    // stageIntoBy, range shards through the one rangeShard helper
    assert(at("stageFile(").isEmpty, "per-shard single-file staging")
    assert(at("graftstage").isEmpty && at("ManifestCached").isEmpty,
      "manifest staging route")
    assert(at("* span / shards").size == 1,
      "range-shard boundary arithmetic outside rangeShard")
    // the checkpoint and the foreachBatch sink live in the drain helper
    // that drainStaged wraps — no twin sets up its own drain
    val drainAt = src.indexOf("def drain(")
    val drainEnd = src.indexOf("private def drainStaged(")
    assert(drainAt >= 0 && drainEnd > drainAt)
    for (s <- Seq("\"$workDir/ckpt\"", ".foreachBatch(")) {
      val hits = at(s)
      assert(hits.size == 1 && hits.forall(i => i > drainAt && i < drainEnd),
        s"$s outside the drain helper at offsets $hits")
    }
  }

  /** Streams.scala with its comments removed (string literals kept). */
  private def streamsCode(): String = {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala"))
    val out = new StringBuilder
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        i = src.indexOf("*/", i + 2) + 2
      } else if (src(i) == '"') {
        val end = Iterator.from(i + 1)
          .find(j => src(j) == '"' && src(j - 1) != '\\').get
        out ++= src.substring(i, end + 1); i = end + 1
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("the two runners are the only code that sets a streaming query's conf") {
    val code = streamsCode()
    def at(s: String): Seq[Int] =
      Iterator.iterate(code.indexOf(s))(i => code.indexOf(s, i + 1))
        .takeWhile(_ >= 0).toSeq
    assert(at("withStatePartitions").isEmpty)
    // a member of object Streams runs from its definition to the next
    // one at the same indentation
    val members = "(?m)^  \\S".r.findAllMatchIn(code).map(_.start).toSeq :+
      code.length
    def span(name: String): (Int, Int) = {
      val from = s"def $name[\\[(]".r.findFirstMatchIn(code)
        .getOrElse(fail(s"no def $name")).start
      (from, members.find(_ > from).get)
    }
    val runners = Seq("withConfs", "drain", "toMemory").map(span)
    for (s <- Seq("withConfs(", "conf.set(")) {
      val hits = at(s)
      assert(hits.nonEmpty)
      val outside = hits.filterNot(i => runners.exists { case (a, b) => i > a && i < b })
      assert(outside.isEmpty, s"$s outside withConfs/drain/toMemory at offsets $outside")
    }
    // the replay shard count is a constant: no twin takes it
    val takesShards = "def (\\w+)(\\[[^\\]]*\\])?\\(([^)]*)\\)".r
      .findAllMatchIn(code)
      .filter(m => "\\bshards\\s*:".r.findFirstIn(m.group(3)).isDefined)
      .map(_.group(1)).toSet
    assert(takesShards == Set("rangeShard"), s"shards parameters on $takesShards")
  }

  test("drain runs its body at the state partitions (AQE off on request) and restores the caller's conf") {
    val parts = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getAll
    // caller values that differ from every value a runner sets
    spark.conf.set(parts, "7")
    spark.conf.set(aqe, "true")
    spark.conf.set(Streams.StatePartitionsConf, "2")
    def callers(): Unit = {
      assert(spark.conf.get(parts) == "7")
      assert(spark.conf.get(aqe) == "true")
      assert(!spark.conf.getAll.contains(noData))
    }
    try {
      val src = java.nio.file.Files.createTempDirectory("graft_drain_src")
      stageFile(spark.range(5).toDF("id"), src, "a")
      val stream = spark.readStream.schema("id BIGINT").parquet(src.toString)
      def drained(aqeOff: Boolean): Seq[(String, String, String, String)] = {
        val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
        val work = java.nio.file.Files.createTempDirectory("graft_drain_wk").toString
        Streams.drain(stream, work, aqeOff) { (batch, _) =>
          seen += ((spark.conf.get(parts), spark.conf.get(aqe),
            batch.sparkSession.conf.get(parts), batch.sparkSession.conf.get(aqe)))
          ()
        }
        seen.toSeq
      }
      assert(drained(aqeOff = false) == Seq(("2", "true", "2", "true")))
      callers()
      assert(drained(aqeOff = true) == Seq(("2", "false", "2", "false")))
      callers()
      // a body that throws fails the query, and the caller's values are back
      val work = java.nio.file.Files.createTempDirectory("graft_drain_err").toString
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.drain(stream, work, aqeOff = true) { (_, _) =>
          throw new IllegalStateException("body failed")
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("body failed")), e)
      callers()
      // and after twins return: a foreachBatch one, an AQE-off one, and
      // a memory-sink one with an extra conf
      Streams.pcaIngest(spark, dir,
        java.nio.file.Files.createTempDirectory("graft_drain_pca").toString)
      callers()
      Streams.crossmodalIngest(spark, dir,
        java.nio.file.Files.createTempDirectory("graft_drain_xm").toString)
      callers()
      Streams.leftOuterIntervalJoinToTable(spark, dir, "loj_conf_spec")
      callers()
    } finally {
      for (k <- Seq(parts, aqe, Streams.StatePartitionsConf))
        before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
