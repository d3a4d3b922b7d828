package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.util.Exact._

case class UserTotal(user_id: Long, n: Long)

case class UserStat(user_id: Long, n: Long, total_cents: Long)

/** Per-user running stats on the arbitrary-state API (Spark 4.x
  * `transformWithState`) — the successor surface to
  * mapGroupsWithState: explicit named state handles with their own
  * encoders and TTL, timers, and a RocksDB-backed store. State is a
  * typed ValueState[(n, cents)]; totals accumulate in integer CENTS
  * (the util.Exact money discipline) so they are order-free exact and
  * comparable bit-for-bit to the batch aggregate in StreamingSpec.
  */
class UserStatProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), UserStat] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("stat",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStat] = {
    var (n, tot) = if (st.exists()) st.get() else (0L, 0L)
    rows.foreach { case (_, cents) => n += 1; tot += cents }
    st.update((n, tot))
    Iterator.single(UserStat(key, n, tot))
  }
}

case class TransPair(from_type: String, to_type: String)

case class FunnelProbe(user_id: Long, has_view: Boolean,
    has_click: Boolean, has_purchase: Boolean)

case class SessionOut(user_id: Long, sess_start: java.sql.Timestamp,
    sess_end: java.sql.Timestamp, n: Long)

/** SURVEY.md §2.8 — genuinely-streaming execution of the window
  * semantics that Temporal exposes in batch form (the two are asserted
  * equal in StreamingSpec). File-source streams drained synchronously
  * into a memory sink; in production the same plans run continuously
  * with a checkpointLocation and a real sink.
  *
  * events.ts arrives in whatever parquet timestamp flavor the testdata
  * generation used (nanos, NTZ micros, adjusted micros) — the stream
  * normalizes to session-TZ TIMESTAMP, same as [[graft.Tables]].
  */
object Streams {

  /** Conf override for [[StatePartitions]], the shuffle (and so
    * state-store) partition count of every streaming twin's query.
    * Stateful micro-batch drains pay a per-partition state-store cost
    * every trigger (one store instance per shuffle partition), so a
    * test-scale stream with 32 shuffle partitions spends more time
    * opening/committing stores than processing rows. Production sizes
    * this to stream volume (a stateful query pins it into its
    * checkpoint at first start anyway).
    */
  val StatePartitionsConf = "spark.graft.streaming.statePartitions"

  private val StatePartitions = 4

  /** Micro-batches every staged twin replays its source as. */
  private val Shards = 3

  /** [[sessionizeTimeoutToTable]]'s data shards; its two sentinel
    * batches are the shard ids after them.
    */
  private val SessionShards = 4

  /** Largest micro-batch shingle-posting table (rows, two BIGINTs
    * each) the crossmodal ingest guard will broadcast as the probe
    * side; larger batches fall back to a shuffle hash join so a big
    * ingest burst can never blow the driver/executor broadcast limit.
    */
  private val CrossmodalBroadcastMaxRows = 2000000L

  /** The session conf a streaming query starts and runs under:
    * [[StatePartitionsConf]] shuffle partitions, and AQE on unless
    * `aqeOff`.
    */
  private def queryConfs(spark: SparkSession,
      aqeOff: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" ->
      spark.conf.get(StatePartitionsConf, StatePartitions.toString),
    "spark.sql.adaptive.enabled" -> (!aqeOff).toString)

  /** Run `body` with `confs` set on the session, then put every key
    * back: its prior value where it had one set, unset where it had
    * none. Only the two runners, [[drain]] and [[toMemory]], call it,
    * so a twin changes session conf only while its query runs.
    */
  private def withConfs[T](spark: SparkSession,
      confs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Finite-drain runner for the foreachBatch twins (round-9 drain-
    * floor result, BENCH_SCALING "Round-9 drain floor"): `stream` runs
    * `body(batch, bid)` per micro-batch under the checkpoint
    * `workDir/ckpt`, and `Trigger.AvailableNow` + awaitTermination
    * plans the whole backlog up front (one listing; batches still split
    * by maxFilesPerTrigger, so batch composition and bids are
    * unchanged) and terminates itself, skipping the idle progress-poll
    * cycle `processAllAvailable` pays per drain — measured −0.2 s/twin
    * on both a near-zero-work twin (forget 1.80→1.59 s) and a
    * real-work one (watermark 2.02→1.83 s) at sf0.1. The memory-sink
    * twins never come here and deliberately KEEP processAllAvailable
    * ([[toMemory]]) — the stateful-window ones' final-eviction
    * semantics depend on the default trigger's extra cycle.
    *
    * The query starts and runs inside [[queryConfs]]'s window, so the
    * batch queries of `body` see the state-partition count and, where
    * the twin passes `aqeOff = true`, AQE disabled; the caller's values
    * are back once the drain returns or throws. Work a twin runs
    * before or after its drain runs at the session's own settings.
    *
    * AQE history (measure, don't assume): round 8 tried AQE OFF
    * globally here and REVERTED it (q_stream_crossmodal regressed
    * 7.6 → 11.5 s on its then-current plan). Round 13 re-measured
    * per-twin with an interleaved A/B (fresh work dir per rep,
    * staging untimed): the release drain is 2.4 s FASTER with AQE off
    * (median 8.2 vs 10.6 s — its per-trigger plan has 10+ tiny
    * exchanges and each AQE stage materialization is an extra
    * sequentially-scheduled job), crossmodal is now neutral-to-
    * positive (7.5 vs 7.9 s — the r8 plan changed: pinned schemas,
    * broadcast probe), and the theta twins are within noise. So the
    * per-twin choice is fixed at each call site: AQE off for the
    * release and crossmodal drains, on for every other twin.
    */
  private[streaming] def drain(stream: DataFrame, workDir: String,
      aqeOff: Boolean = false)(body: (DataFrame, Long) => Unit): Unit = {
    val spark = stream.sparkSession
    withConfs(spark, queryConfs(spark, aqeOff): _*) {
      val q = stream.writeStream
        .option("checkpointLocation", s"$workDir/ckpt")
        .foreachBatch(body)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); () } finally q.stop()
    }
  }

  /** [[drain]] over the shards staged in `srcDir` ([[stageShards]]),
    * one staged file per micro-batch (`maxFilesPerTrigger=1`) — the
    * head every staged foreachBatch twin shares.
    */
  private def drainStaged(spark: SparkSession, srcDir: String,
      workDir: String, aqeOff: Boolean = false)(
      body: (DataFrame, Long) => Unit): Unit =
    drain(spark.readStream.schema(graft.util.Parquet.schema(spark, srcDir))
      .option("maxFilesPerTrigger", "1").parquet(srcDir), workDir, aqeOff)(body)

  /** A foreachBatch twin's standing store: the parquet directory
    * `workDir/<prefix>`, or one `workDir/<prefix><bid>` directory per
    * micro-batch. The declared schema is the writer's: every write
    * asserts the frame carries it (names and types; nullability is
    * ignored) and fails naming the store, and every read pins it, so no
    * read runs a footer-inference job (one extra Spark job per store
    * per batch — these drains are job-bound) and a writer that drifts
    * fails at its write instead of at some later read.
    *
    * The per-bid listing is the twins' one retry rule: a micro-batch
    * overwrites its own `<prefix><bid>` directory and reads only the
    * directories STRICTLY below its bid ([[below]], [[latestBelow]]),
    * so a replayed batch recomputes from the same pre-batch state (sum/
    * count partials are not idempotent under re-merge), and a restart
    * from the checkpoint resumes from the committed batches' on-disk
    * output, never from driver-side state.
    */
  private[streaming] final case class Store(prefix: String,
      schema: org.apache.spark.sql.types.StructType) {
    def exists(workDir: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(workDir, prefix))
    def write(df: DataFrame, workDir: String): Unit =
      put(df, s"$workDir/$prefix")
    def write(df: DataFrame, workDir: String, bid: Long): Unit =
      put(df, s"$workDir/$prefix$bid")
    def read(spark: SparkSession, workDir: String): DataFrame =
      spark.read.schema(schema).parquet(s"$workDir/$prefix")
    /** Every per-bid directory with bid < `bid`, read as one frame. */
    def below(spark: SparkSession, workDir: String,
        bid: Long = Long.MaxValue): Option[DataFrame] = {
      val dirs = bids(workDir, bid).map(_._2)
      if (dirs.isEmpty) None
      else Some(spark.read.schema(schema).parquet(dirs: _*))
    }
    /** Every per-bid directory; at least one must exist. */
    def all(spark: SparkSession, workDir: String): DataFrame =
      below(spark, workDir).getOrElse(throw new IllegalStateException(
        s"no $prefix<bid> store under $workDir — no micro-batch ran"))
    /** The newest per-bid directory with bid < `bid`. */
    def latestBelow(spark: SparkSession, workDir: String,
        bid: Long = Long.MaxValue): Option[DataFrame] =
      bids(workDir, bid).lastOption
        .map(d => spark.read.schema(schema).parquet(d._2))
    private def bids(workDir: String, below: Long): Seq[(Long, String)] =
      Option(new java.io.File(workDir).listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .flatMap(f => f.getName.stripPrefix(prefix).toLongOption
          .filter(_ < below).map(_ -> f.getPath))
        .sortBy(_._1)
    private def put(df: DataFrame, path: String): Unit = {
      require(df.schema.catalogString == schema.catalogString,
        s"store $prefix: the frame's schema ${df.schema.catalogString} " +
          s"differs from the declared ${schema.catalogString}")
      df.write.mode("overwrite").parquet(path)
    }
  }

  private[streaming] object Store {
    def apply(prefix: String, ddl: String): Store =
      Store(prefix, org.apache.spark.sql.types.StructType.fromDDL(ddl))
  }

  // row shapes several twins' stores share: MinHash signatures and
  // bands, per-source KMV sketches and distinct (source, h) postings
  private val SigDdl = "doc_id BIGINT, v ARRAY<BIGINT>"
  private val BandDdl = "doc_id BIGINT, band INT, sig STRING"
  private val SketchDdl = "source STRING, mins ARRAY<BIGINT>"
  private val PostingsDdl = "source STRING, h BIGINT"

  /** Run a memory-sink twin's query to completion and return its sink
    * table: `df` streams in `outputMode` to the memory table `table`,
    * `processAllAvailable` (not [[drain]]'s AvailableNow — the
    * stateful-window twins' final eviction depends on the default
    * trigger's extra cycle), then stop. The query starts and runs
    * inside [[queryConfs]]'s window (AQE on) plus the twin's `extra`
    * confs; the caller's values are back once it returns or throws.
    */
  private def toMemory(df: DataFrame, outputMode: String, table: String,
      extra: (String, String)*): DataFrame = {
    val spark = df.sparkSession
    withConfs(spark, queryConfs(spark, aqeOff = false) ++ extra: _*) {
      val q = df.writeStream.outputMode(outputMode)
        .format("memory").queryName(table).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(table)
  }

  private def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = graft.util.Parquet.schema(spark, s"$dir/events.parquet")
    // file-source basePath must be a directory; glob-filter the table.
    // The WIDE glob (events*.parquet, admitting staged events_* shards
    // for genuine multi-batch drains) is tied to maxFilesPerTrigger:
    // only the multi-batch callers opt in. Single-drain consumers whose
    // cross-batch folds assume event-time-ordered arrival
    // (attributionToTable, transitionsToTable, funnel) read ONLY the
    // canonical events.parquet — a stray shard file beside it can
    // never silently join their stream out of order.
    val glob = if (maxFilesPerTrigger.isDefined) "events*.parquet"
               else "events.parquet"
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(dir)
    // same type normalization as Tables.apply — nanos-as-long gets
    // truncated to micros, TIMESTAMP_NTZ (inferred when the parquet
    // micros lack the UTC-adjusted flag and the NTZ flag is on) gets
    // relabeled to session-TZ TIMESTAMP (UTC sessions: same micros).
    // Watermarks reject NTZ outright, so the stream MUST normalize.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  private def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.util.Parquet.schema(spark, s"$dir/documents.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** Streaming corpus quality gate: the batch Gopher-rule predicate
    * ([[graft.ops.TextAnalysis.gopherFlags]] — the same Column tree,
    * so batch and stream cannot drift) applied to a document stream,
    * with per-language kept-counts in complete mode. This is the
    * "filter at ingest" deployment of the curation rules: documents
    * are scored the moment they land, and only survivors reach the
    * expensive dedup/embedding stages downstream.
    */
  def qualityCountsToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val agg = graft.ops.TextAnalysis.gopherFlags(docsStream(spark, dir))
      .where(col("keep"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    toMemory(agg, "complete", table)
  }

  /** Streaming PII redaction gate: the batch scrub projection
    * ([[graft.ops.TextAnalysis.piiScrub]] — the same Column tree, so
    * batch and stream cannot drift) applied to a document stream in
    * APPEND mode — each arriving document is redacted the moment it
    * lands, before any downstream stage can persist raw text (the
    * compliance deployment: the unscrubbed form never reaches the
    * lake). Stateless map-only transform — no state store, no
    * watermark; at any scale the stream plans exactly like the batch
    * scan. Restart safety is the file-source's own exactly-once
    * contract (a re-delivered file re-emits identical rows — the
    * scrub is deterministic, so a downstream idempotent sink
    * converges).
    */
  def piiToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val scrubbed = graft.ops.TextAnalysis.piiScrub(docsStream(spark, dir))
    toMemory(scrubbed, "append", table)
  }

  /** Streaming watermark-detection census — the foreachBatch
    * deployment of the green-list z-test: each micro-batch of arriving
    * documents is scored with the SAME
    * [[graft.ops.TextAnalysis.watermarkPartials]] explode+aggregate
    * tree the batch op uses (docs never straddle id shards, so per-doc
    * z is exact within its batch), folded to a ≤|sources|-row
    * (n_docs, n_flagged, Σzd DECIMAL) partial written per batch id —
    * count/sum/decimal-sum are associative with identity 0, so the
    * drained fold through the SHARED watermarkFromPartials equals
    * q_watermark_detect exactly, and a retried batch overwrites its
    * own idempotent per-bid partial (at-least-once safe). One oracle
    * text grades both forms.
    */
  def watermarkIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    // the CANONICAL documents staging projection — watermark, doremi,
    // crossmodal and contamination all stage this exact frame, so the
    // staging cache key coincides and the shard files are built once per
    // session for the whole documents-twin family
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    stageShards(docs, workDir, Shards, keyCol = "doc_id",
      cacheKey = Some(s"$dir|documents"))
    watermarkRun(spark, workDir)
  }

  private val WatermarkPartials = Store("per_b",
    "source STRING, n_docs BIGINT, n_flagged BIGINT, zds DECIMAL(38,6)")

  /** Drain staged doc shards past the watermark monitor — separated
    * from the staging so a restart test can resume mid-stream (the
    * doremiRun shape).
    */
  private[streaming] def watermarkRun(spark: SparkSession,
      workDir: String): DataFrame = {
    import graft.ops.TextAnalysis
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      // one staged file = one partition — spread the bigram explode
      WatermarkPartials.write(TextAnalysis.watermarkPartials(
          batch.repartition(spark.sparkContext.defaultParallelism))
        .coalesce(1), workDir, bid)
    }
    val folded = WatermarkPartials.all(spark, workDir)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_flagged")).as("n_flagged"), sum(col("zds")).as("zds"))
    TextAnalysis.watermarkFromPartials(folded)
  }

  /** Stream-static enrichment join: the event stream joined to the
    * static customer dimension (broadcast — the dim is planned per
    * micro-batch with the usual batch strategies, so a small dim
    * broadcasts and a huge one sort-merges), then per-segment counts
    * in complete mode. This is the canonical streaming enrichment
    * deployment: facts land as a stream, reference data stays a
    * table, and no state store is involved because the static side
    * never changes mid-query. At 100 TB/day the same plan runs with
    * the dim refreshed per batch via a Delta/parquet snapshot path.
    */
  def enrichToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val dim = broadcast(graft.Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    val agg = eventsStream(spark, dir)
      .join(dim, col("user_id") === col("c_custkey")) // stream-static inner
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
    toMemory(agg, "complete", table)
  }

  /** Streaming tumbling 1-hour aggregation with a 1-hour watermark,
    * drained to a memory table.
    */
  def tumblingToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
    toMemory(agg, "complete", table)
  }

  /** Custom sessionization via flatMapGroupsWithState — the
    * hand-rolled form of `session_window`, demonstrating arbitrary
    * keyed state (the reference's checkpoint-cursor logic generalized
    * to per-key state machines). With AvailableNow the whole history
    * arrives as one batch per key, so sessions are computed by a
    * gap-scan over the sorted timestamps; in continuous operation the
    * open session would live in `state` across triggers and emit on
    * EventTimeTimeout. Asserted equal to the batch session_window
    * query in StreamingSpec.
    */
  def sessionsToTable(spark: SparkSession, dir: String, table: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val perUser = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         _: org.apache.spark.sql.streaming.GroupState[Long]) =>
          // sort and diff in MICROS — getTime alone floors to millis
          // and the batch session_window is microsecond-precise
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          val ts = rows.map(_._2).toArray.sortBy(micros)
          val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var start = 0
          for (i <- 1 to ts.length) {
            // STRICTLY > gap splits — session_window merges an event
            // at exactly prev+gap (see BehavioralProperties)
            val gapExceeded = i == ts.length ||
              micros(ts(i)) - micros(ts(i - 1)) > gapMicros
            if (gapExceeded && i > start) {
              val last = ts(i - 1)
              val end = new java.sql.Timestamp(last.getTime + gapMinutes * 60000L)
              end.setNanos(last.getNanos) // keep the µs fraction
              sessions += SessionOut(user, ts(start), end, i - start)
              start = i
            }
          }
          sessions.iterator
      }
    toMemory(perUser.toDF(), "append", table)
  }

  /** Timeout-closed streaming sessionization — the form of
    * [[sessionsToTable]] that survives an UNBOUNDED stream: per-user
    * state holds only the OPEN session (start, last, count — O(1) per
    * active user), sessions that close inside a batch emit immediately,
    * and a session with no follow-up activity is closed by an
    * EventTimeTimeout when the watermark passes `last + gap` — state
    * EVICTION is the emission trigger, exactly the mechanism that keeps
    * state bounded forever. The batch `session_window` form re-scans
    * per-key history each trigger; this one never revisits a closed
    * session.
    *
    * Finite-drain harness: events are staged as time-ranged shard files
    * (`maxFilesPerTrigger=1`, increasing mtimes) so micro-batches
    * arrive in event-time order — the precondition for the cross-batch
    * fold, met in production by watermark-gated ingestion. Two
    * far-future sentinel shards flush the tail ([[
    * leftOuterIntervalJoinToTable]]'s trick): sentinel 1 advances the
    * watermark that the batch reading sentinel 2 applies, timing out
    * every remaining real open session. Output equals the batch
    * gaps-and-islands sessionizer row-for-row (oracle-gated as
    * q_stream_sessionize; session end = last event + gap, the
    * session_window convention).
    */
  def sessionizeTimeoutToTable(spark: SparkSession, dir: String,
      table: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    val bounds = ev.agg(expr("min(unix_micros(ts))"), expr("max(unix_micros(ts))")).head()
    // loud guard: on an empty events table the min/max are null (an
    // opaque NPE below) and the limit(1)-derived sentinels would be
    // empty frames, so the tail flush silently never fires
    require(!bounds.isNullAt(0), "events table is empty — nothing to sessionize")
    val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
    val work = java.nio.file.Paths.get(graft.util.WorkDirs.temp("graft_sess_to"))
    val streamDir = work.resolve("stream")
    def sentinel(uid: Long, daysAfter: Int): DataFrame =
      ev.limit(1).select(lit(uid).as("user_id"),
        (expr(s"timestamp_micros($maxUs)") + expr(s"interval $daysAfter days")).as("ts"),
        lit(uid).as("event_id"))
    // one staging pass: the ts-range shards, then the two sentinels
    // as the shard ids after them
    stageIntoBy(ev.unionByName(sentinel(-1L, 2)).unionByName(sentinel(-2L, 4)),
      streamDir, SessionShards + 2, None,
      when(col("user_id") === -1L, SessionShards)
        .when(col("user_id") === -2L, SessionShards + 1)
        .otherwise(rangeShard(expr("unix_micros(ts)"), minUs, maxUs + 1,
          SessionShards)))
    val schema = graft.util.Parquet.schema(spark, streamDir.toString)
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .withWatermark("ts", "0 seconds")
    val sessions = raw
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long)]) =>
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          def toTs(us: Long): java.sql.Timestamp = {
            val t = new java.sql.Timestamp(us / 1000000L * 1000)
            t.setNanos(((us % 1000000L) * 1000).toInt)
            t
          }
          def closed(s: (Long, Long, Long)): SessionOut =
            SessionOut(user, toTs(s._1), toTs(s._2 + gapUs), s._3)
          if (state.hasTimedOut) {
            // no activity before last+gap — the watermark closed it
            val s = state.get; state.remove()
            Iterator.single(closed(s))
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            // batch iterators arrive in partition order — time order
            // inside the batch is this operator's job
            val sorted = rows.toArray.sortBy(r => (micros(r._2), r._3))
            for ((_, t, _) <- sorted) {
              val us = micros(t)
              cur match {
                // <= gap merges (STRICTLY > splits — session_window's
                // convention, shared with the batch sessionizer)
                case Some(s) if us - s._2 <= gapUs =>
                  cur = Some((s._1, math.max(s._2, us), s._3 + 1))
                case Some(s) =>
                  out += closed(s); cur = Some((us, us, 1L))
                case None => cur = Some((us, us, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // ms ceiling (+1) so a µs-precision event at EXACTLY
              // last+gap in a later batch always arrives before the
              // timeout can fire
              state.setTimeoutTimestamp(s._2 / 1000 + gapMinutes * 60000L + 1)
            }
            out.iterator
          }
      }
    toMemory(sessions.toDF()
      .where(col("user_id") >= 0), // sentinels are harness plumbing
      "append", table)
  }

  /** Streaming exact deduplication: first-seen row per
    * (user_id, event_type), state-backed `dropDuplicates` — the
    * streaming member of the dedup family. Exact-forever semantics
    * keep one state row per distinct key (bounded by key cardinality,
    * not stream length); when the key space itself is unbounded,
    * production swaps in `dropDuplicatesWithinWatermark`, trading a
    * dedup horizon (the watermark delay) for hard-bounded state.
    * Which row is first-seen depends on arrival order, so only the
    * KEY SET is deterministic — q_stream_dedup projects keys only.
    */
  def dedupToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    toMemory(eventsStream(spark, dir)
      .dropDuplicates("user_id", "event_type"), "append", table)
  }

  /** Horizon-bounded streaming dedup — `dropDuplicatesWithinWatermark`,
    * the production form of [[dedupToTable]] when the KEY SPACE is
    * unbounded: state rows expire once the watermark passes their
    * event time + delay, trading a dedup horizon for hard-bounded
    * state. With a delay covering the whole testdata span it must
    * equal exact dedup (asserted in StreamingSpec); in production the
    * delay is the replay/late-arrival horizon (hours), so state holds
    * only that window regardless of corpus size.
    */
  def dedupWithinWatermarkToTable(spark: SparkSession, dir: String,
      table: String, delay: String): DataFrame = {
    toMemory(eventsStream(spark, dir)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type"),
      "append", table)
  }

  /** Watermarked stream-stream interval join: views matched to the
    * purchases that follow within one hour for the same user. Both
    * sides carry a 1-hour watermark and the join condition bounds
    * `b_ts` to `[v_ts, v_ts + 1h]`, so each side's state store holds
    * at most two hours of events — the state-cleanup contract that
    * makes the join runnable forever. Inner-join output is the full
    * matching pair set regardless of arrival interleaving, so the
    * result is deterministic and oracle-checkable (unlike the
    * first-seen row of [[dedupToTable]]).
    */
  def intervalJoinToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val views = eventsStream(spark, dir)
      .where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val buys = eventsStream(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = views.join(buys,
      expr("user_id = b_user AND b_ts >= v_ts AND b_ts <= v_ts + interval 1 hour"))
    toMemory(joined.select(col("view_id"), col("buy_id")), "append", table)
  }

  /** LEFT OUTER watermarked stream-stream join — the semantics the
    * inner form above can't show: a view with NO purchase inside its
    * one-hour window emits exactly once, null-padded, when the global
    * watermark passes `v_ts + 1h` — state EVICTION is the emission
    * trigger. A finite drain never flushes the tail on its own:
    * eviction only runs inside a micro-batch, and the watermark
    * trails one batch behind the data, so the harness stages two
    * far-future sentinel rows as their own micro-batches
    * (`maxFilesPerTrigger=1`) — sentinel 1 advances the watermark the
    * batch that reads sentinel 2 applies, and that pass evicts and
    * emits every remaining unmatched real view. A production stream
    * needs no sentinels — the next hour's data plays their role
    * continuously. Output is the exact left-outer interval-join pair
    * set, asserted row-for-row against the batch join in
    * StreamingSpec.
    */
  def leftOuterIntervalJoinToTable(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    // only the two participating event types and the four columns the
    // join touches are staged — anything else would be pruned
    // in-stream anyway, so the harness skips writing and re-reading it
    // (60% of rows, half the bytes at sf0.1)
    val ev = graft.Tables(spark, dir, "events") // ts normalized to micros
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val work = java.nio.file.Paths.get(graft.util.WorkDirs.temp("graft_loj"))
    val streamDir = work.resolve("stream")
    // NTZ-tolerant row access: Tables normalizes ts to TIMESTAMP, but a
    // LocalDateTime here (future drift) should degrade to a clear value,
    // not a ClassCastException deep inside the sentinel harness.
    val maxTs = ev.agg(max(col("ts"))).head().getAs[Any](0) match {
      case t: java.sql.Timestamp => t
      case l: java.time.LocalDateTime =>
        java.sql.Timestamp.valueOf(l) // UTC sessions: same wall-clock
      case other => throw new IllegalStateException(
        s"max(ts) returned unsupported type ${other.getClass}")
    }
    // Each watermark operator tracks only the rows that REACH it, and
    // the query's global watermark is the min across operators — so a
    // sentinel must advance BOTH branches: one 'view' row and one
    // 'purchase' row per file (distinct negative users: they can match
    // nothing, including each other).
    def sentinel(id: Long, daysAfter: Int): DataFrame =
      ev.limit(1).select(explode(array(
          struct(lit(-2 * id).as("event_id"), lit(-2 * id).as("user_id"),
            lit("view").as("event_type")),
          struct(lit(-2 * id - 1).as("event_id"), lit(-2 * id - 1).as("user_id"),
            lit("purchase").as("event_type")))).as("s"))
        .select(col("s.event_id").as("event_id"),
          (lit(maxTs) + expr(s"interval $daysAfter days")).as("ts"),
          col("s.user_id").as("user_id"),
          col("s.event_type").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
        .select(ev.columns.map(col): _*) // keep the exact column order
    // one staging pass: the data as shard 0, then sentinel 1 (ids -2,
    // -3) and sentinel 2 (ids -4, -5) as shards 1 and 2
    stageIntoBy(ev.unionByName(sentinel(1, 2)).unionByName(sentinel(2, 4)),
      streamDir, 3, None,
      when(col("event_id") >= 0, 0).when(col("event_id") >= -3, 1).otherwise(2))
    val schema = graft.util.Parquet.schema(spark, streamDir.toString)
    // ONE watermark node, assigned upstream of the branch split — the
    // metadata rides the renamed columns into both join inputs.
    // Measured on this exact harness: declaring withWatermark
    // per-branch (two nodes over the same source) freezes the global
    // watermark at its batch-0 value — min-policy tracking never
    // advances and unmatched rows never flush. Since both sides ARE
    // the same stream, the single node is also the honest declaration.
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .withWatermark("ts", "1 hour")
    val views = raw.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
    val buys = raw.where(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
    val joined = views.join(buys,
      expr("user_id = b_user AND b_ts >= v_ts AND b_ts <= v_ts + interval 1 hour"),
      "leftOuter")
    // The sentinel-2 micro-batch already applies sentinel-1's
    // watermark and evicts every remaining real view; the default
    // no-data micro-batch would only re-apply sentinel-2's watermark
    // to evict the sentinels themselves (filtered out below) — skip
    // that fourth stateful batch for the finite drain.
    toMemory(joined.select(col("view_id"), col("buy_id"))
        .where(col("view_id") >= 0), // sentinels are harness plumbing
      "append", table,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
  }

  /** Streaming incremental exact-dedup ingest — the foreachBatch
    * deployment of q_dedup_incremental: each micro-batch of documents
    * elects its within-batch first occurrence per content hash
    * (min doc_id — a partial+final agg, deterministic regardless of
    * partitioning), anti-joins the survivors against the accumulated
    * on-disk hash index, appends the fresh docs to the corpus sink and
    * their hashes to the index. foreachBatch is the door Structured
    * Streaming offers for sinks that need read-modify-write against
    * their own history; `maxFilesPerTrigger=1` makes every input file
    * its own micro-batch so cross-batch state is genuinely exercised.
    * At production scale the index is a bucketed table (or Delta
    * MERGE) so the anti-join shuffles only the new batch. Both sinks
    * are per-bid [[Store]]s, so a retried micro-batch overwrites its
    * own output instead of appending it twice. Returns the surviving
    * corpus.
    */
  def incrementalDedupIngest(spark: SparkSession, srcDir: String,
      workDir: String): DataFrame = {
    // the kept rows are the staged source's own rows
    val kept = Store("kept", graft.util.Parquet.schema(spark, srcDir))
    drainStaged(spark, srcDir, workDir) { (batch, bid) =>
      val hashed = batch.withColumn("h", md5(col("text")))
      val firsts = hashed.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(hashed, Seq("h", "doc_id"))
      val fresh = HashIndex.below(spark, workDir, bid)
        .map(firsts.join(_, Seq("h"), "left_anti")).getOrElse(firsts)
      // cache: consumed by both writes; without it the anti-join
      // against the (growing) index would run twice per batch
      fresh.cache()
      try {
        kept.write(fresh.select(batch.columns.map(col): _*), workDir, bid)
        HashIndex.write(fresh.select(col("h")), workDir, bid)
      } finally { fresh.unpersist(); () }
    }
    kept.all(spark, workDir)
  }

  private val HashIndex = Store("hash_index", "h STRING")

  /** Streaming SKETCH-based near-dup ingest — the foreachBatch
    * deployment of the MinHash/LSH family: documents stream in doc_id
    * order (range-staged shards, the watermark-gated-ingestion stand-in
    * shared with [[sessionizeTimeoutToTable]]); each micro-batch
    * computes its K-hash signatures ([[graft.ops.Dedup.minhashSignatures]]
    * — the identical md5 family as the batch query, shared code so they
    * cannot drift), banded-joins its docs against the accumulated
    * signature store ∪ the batch itself (candidates only from shared
    * LSH buckets — never the pair space), drops docs whose estimate
    * vs any SMALLER id reaches [[graft.ops.Dedup.StreamDupThreshold]],
    * writes survivors to the kept sink and ALL signatures to the
    * store, each as its own per-bid [[Store]] directory (a retried
    * batch overwrites its own output). The predicate "∃ smaller-id doc with est ≥ θ" is
    * order-free, so the drained kept set equals the batch form exactly
    * (q_stream_minhash's oracle replays it in SQL). State is the
    * signature store: K longs per doc (~0.3 KB) regardless of corpus
    * size — this is how near-dup dedup runs on an UNBOUNDED crawl
    * feed, where the batch pair-join would re-scan the whole corpus
    * per refresh; at production scale the store is a bucketed table
    * co-located on the band keys so each batch's candidate join
    * shuffles only the batch.
    */
  def minhashDedupIngest(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Dedup
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(!bounds.isNullAt(0), "documents table is empty — nothing to ingest")
    val srcDir = java.nio.file.Paths.get(workDir, "stream")
    stageIntoBy(docs, srcDir, Shards, None, rangeShard(col("doc_id"),
      bounds.getLong(0), bounds.getLong(1) + 1, Shards))
    drainStaged(spark, srcDir.toString, workDir) { (batch, bid) =>
      // cache: consumed by bands, the estimate join, and the store
      // write — without it the shingle+hash pipeline runs per use
      val vec = Dedup.minhashSignatures(batch).cache()
      // the batch's band table: the probe side AND this trigger's
      // band-store append (r14 — the release twin's staged-index
      // discipline applied here: banding is a per-row map, so
      // bands(store ∪ batch) ≡ stored bands ∪ bands(batch), and the
      // store is no longer re-band-exploded every trigger)
      val vecBands = Dedup.minhashBands(vec).cache()
      try {
        val allVec = SigStore.below(spark, workDir, bid)
          .map(_.unionByName(vec)).getOrElse(vec)
        val allBands = BandStore.below(spark, workDir, bid)
          .map(_.unionByName(vecBands)).getOrElse(vecBands)
        // the BATCH side broadcasts (it is the small one by
        // construction); the accumulated store is only scanned and
        // probed, never shuffled — at production scale the store is
        // additionally bucketed on the band key so the probe prunes
        // to matching buckets. The store side goes through the
        // MinhashBandCap stop-band (arrival-time occupancy): a
        // saturated store bucket would otherwise make EVERY later
        // probe pay |bucket|. At the oracle-gated SFs the cap never
        // fires (measured maxima 4/10 vs 64) so drained ≡ batch
        // stays hash-exact. On a corpus that saturates mid-stream
        // the divergence direction is: early batches still see a
        // sub-cap bucket and emit its pairs (dropping docs), while
        // the batch oracle's FINAL-corpus cap kills the whole
        // bucket's candidates — so the drained kept-set is a SUBSET
        // of the batch one, never a superset. The stop-band trade,
        // stated rather than hidden.
        val cand = broadcast(vecBands
            .select(col("band"), col("sig"), col("doc_id").as("doc1")))
          .join(Dedup.minhashLiveBands(allBands)
            .select(col("band"), col("sig"), col("doc_id").as("doc2")),
            Seq("band", "sig"))
          .where(col("doc2") < col("doc1"))
          .select("doc1", "doc2").distinct()
        val dropped = cand
          .join(vec.select(col("doc_id").as("doc1"), col("v").as("v1")),
            Seq("doc1"))
          .join(allVec.select(col("doc_id").as("doc2"), col("v").as("v2")),
            Seq("doc2"))
          .where(Dedup.minhashEst(col("v1"), col("v2")) >=
            Dedup.StreamDupThreshold)
          .select(col("doc1").as("doc_id")).distinct()
        MinhashKept.write(batch.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id")), workDir, bid)
        // ALL signatures join the store (kept or dropped): the
        // order-free predicate compares against every smaller id,
        // and a dropped doc can still be the nearest neighbor that
        // kills a later duplicate. Both store writes run AFTER the
        // kept write (which reads the stores) — the documented
        // read-write hazard that keeps these sinks sequential.
        SigStore.write(vec, workDir, bid)
        BandStore.write(vecBands, workDir, bid)
      } finally { vec.unpersist(); vecBands.unpersist(); () }
    }
    MinhashKept.all(spark, workDir)
  }

  private val SigStore = Store("sig_store", SigDdl)
  private val BandStore = Store("band_store", BandDdl)
  private val MinhashKept = Store("kept", "doc_id BIGINT")

  /** Streaming drift monitor — the foreachBatch deployment of
    * q_drift_psi (graft.analytics.Stats): events stage as ts-range
    * shards (shard 0 = the earliest third); micro-batch 1 FIXES the
    * reference histogram and its bin edges (min/max of the reference
    * batch — a real monitor pins edges from the baseline, not the
    * future), every later batch folds its clamped-bin counts into an
    * accumulated 10-row versioned state. That 10-row table is the
    * ENTIRE streaming state, regardless of stream length — O(bins),
    * the PSI analogue of mv_merge's O(groups). Returns the merged
    * (bin, n_ref, n_cur) counts; Stats.psiFrame turns them into the
    * audited output, and the oracle replays the ts split + ref-edge
    * binning in SQL, so streaming ≡ batch is hash-checked. State
    * derivation follows the [[Store]] restart/retry discipline
    * (previous version from DISK, strictly below the current bid).
    * Degenerate streams (timestamp span < [[Shards]] µs, so the first
    * ts-range shard stages empty) fail LOUDLY at the
    * reference require below rather than monitoring drift against a
    * smoothing-only baseline — the sessionizeTimeoutToTable
    * empty-input convention.
    */
  def driftIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    driftStage(spark, dir, workDir)
    driftRun(spark, workDir)
  }

  /** Stage the events table as [[Shards]] ts-range shards (shard 0 = the
    * earliest third — the reference period). `upTo` stages only a
    * prefix; shards already on disk are kept (deterministic staging,
    * the [[stageIntoBy]] crash-resume convention), so the restart test
    * can stage 2, drain, "crash", stage the third, and resume.
    */
  private[streaming] def driftStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    val ev = graft.Tables(spark, dir, "events")
      .select(expr("unix_micros(ts)").as("us"), col("value"))
    val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi")).head()
    require(!bounds.isNullAt(0), "events table is empty — nothing to monitor")
    stageIntoBy(ev, java.nio.file.Paths.get(workDir, "stream"), Shards, upTo,
      rangeShard(col("us"), bounds.getLong(0), bounds.getLong(1) + 1, Shards))
    ()
  }

  /** Drain whatever drift shards are staged under `workDir/stream` —
    * separated from [[driftStage]] so the checkpoint-restart test can
    * resume mid-stream; the reference edges/histogram and the
    * versioned current state all live on DISK, so a resumed run
    * continues the fold exactly where the committed batches left it.
    */
  private[streaming] def driftRun(spark: SparkSession,
      workDir: String): DataFrame = {
    // bins clamped to [0, 9]: CURRENT values may fall outside the
    // reference-fixed edge range
    def binCol(mn: Double, mx: Double): org.apache.spark.sql.Column =
      if (mx > mn)
        greatest(lit(0L), least(lit(9L),
          floor((col("value") - mn) / (mx - mn) * 10))).cast("int")
      else lit(0)
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      // the reference branch keys on the BATCH ID (deterministic and
      // stable across restart/retry), not on ref_hist's existence — a
      // retried batch 0 just overwrites its own idempotent output
      // instead of double-counting itself into the current state
      if (bid == 0L) {
        val e = batch.agg(min(col("value")).as("mn"),
          max(col("value")).as("mx")).head()
        require(!e.isNullAt(0),
          "reference micro-batch is empty — no baseline to fix edges from")
        val (mn, mx) = (e.getDouble(0), e.getDouble(1))
        RefEdges.write(
          spark.range(1).select(lit(mn).as("mn"), lit(mx).as("mx")), workDir)
        RefHist.write(batch.select(binCol(mn, mx).as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n")), workDir)
      } else {
        val edge = RefEdges.read(spark, workDir).head()
        val (mn, mx) = (edge.getDouble(0), edge.getDouble(1))
        val batchCounts = batch.select(binCol(mn, mx).as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n"))
        CurV.write(CurV.latestBelow(spark, workDir, bid)
          .map(_.unionByName(batchCounts)
            .groupBy("bin").agg(sum(col("n")).as("n")))
          .getOrElse(batchCounts), workDir, bid)
      }
    }
    val ref = RefHist.read(spark, workDir)
      .select(col("bin"), col("n").as("n_ref"))
    val cur = CurV.latestBelow(spark, workDir)
      .getOrElse(spark.emptyDataFrame
        .select(lit(0).as("bin"), lit(0L).as("n")).limit(0))
      .select(col("bin"), col("n").as("n_cur"))
    ref.join(cur, Seq("bin"), "full")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
  }

  private val RefEdges = Store("ref_edges", "mn DOUBLE, mx DOUBLE") // 1 row
  private val RefHist = Store("ref_hist", "bin INT, n BIGINT") // ≤10 rows
  private val CurV = Store("cur_v", "bin INT, n BIGINT")

  /** Stage the domain-mixture monitor: train the bigram LM OFFLINE on
    * the full corpus (the ivfQuantizer offline-train discipline — the
    * model is fixed before the stream starts, exactly how a production
    * mixture monitor deploys) and stage the documents as id shards.
    * `upTo` stages a prefix for the checkpoint-restart test; the LM
    * table is written once and kept (deterministic).
    */
  private[streaming] def doremiStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    if (!Lm.exists(workDir))
      Lm.write(graft.ops.TextAnalysis.lmProbs(graft.ops.TextAnalysis
        .docBigrams(graft.Tables(spark, dir, "documents"))), workDir)
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    stageShards(docs, workDir, Shards, upTo, keyCol = "doc_id",
      cacheKey = Some(s"$dir|documents"))
    ()
  }

  /** Drain whatever doc shards are staged past the mixture monitor —
    * separated from [[doremiStage]] so the restart test can resume
    * mid-stream. Per micro-batch: per-doc cross-entropy against the
    * broadcast offline LM via the SAME TextAnalysis.scoreBigrams code
    * the batch path uses (docs never straddle id shards, so per-doc
    * ce is exact within its batch), folded to a ≤|sources|-row
    * (n_docs, Σn_bg, Σce·n_bg DECIMAL) partial written per bid —
    * count/sum/decimal-sum are associative with identity 0, so the
    * drained fold through the SHARED TextAnalysis.doremiWeights
    * equals q_doremi_step exactly, and a retried batch just
    * overwrites its own idempotent partial.
    */
  private[streaming] def doremiRun(spark: SparkSession,
      workDir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val lm = Lm.read(spark, workDir)
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      // a micro-batch arrives as ONE staged file = one partition —
      // spread it so the bigram explode uses every core (the
      // crossmodal lesson)
      val bdf = batch.repartition(spark.sparkContext.defaultParallelism)
      DoremiPartials.write(
        TextAnalysis.scoreBigrams(TextAnalysis.docBigrams(bdf), lm)
          .join(bdf.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_bg")).as("n_bg"),
            sum((col("cross_entropy") * col("n_bg")).cast("decimal(28,20)"))
              .as("ces"))
          .coalesce(1), workDir, bid)
    }
    val folded = DoremiPartials.all(spark, workDir)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_bg")).as("n_bg"),
        sum(col("ces")).as("ces"))
    TextAnalysis.doremiWeights(folded)
  }

  private val Lm = Store("lm", "bg STRING, p DOUBLE")
  private val DoremiPartials = Store("per_b",
    "source STRING, n_docs BIGINT, n_bg BIGINT, ces DECIMAL(38,20)")

  /** Stage + drain in one call — the q_stream_doremi entry point. */
  def doremiIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    doremiStage(spark, dir, workDir)
    doremiRun(spark, workDir)
  }

  /** EXECUTES on the streaming engine: the power-iterate monitor at
    * ingest — each arriving micro-batch of vectors writes its own
    * Dim-row integer partial (the SAME
    * [[graft.ops.Similarity.pcaPartial]] projection the batch
    * q_pca_step hash-gates); the drain sums partials per dimension.
    * Every partial is an exact BIGINT, so the fold is associative and
    * batch-order-free: the drained iterate equals the one-pass batch
    * step bit-for-bit, and the twin shares its oracle verbatim.
    * Standing state is Dim longs per committed batch — nothing
    * corpus-sized, nothing rescanned per trigger.
    */
  def pcaIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    pcaStage(spark, dir, workDir)
    pcaRun(spark, workDir)
  }

  private[streaming] def pcaStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    val emb = graft.ops.Similarity.embeddings(spark, dir)
    require(emb.limit(1).count() > 0,
      "embeddings table is empty — nothing to iterate")
    stageShards(emb, workDir, Shards, upTo, keyCol = "vec_id",
      cacheKey = Some(s"$dir|embeddings"))
    ()
  }

  /** Drain whatever vector shards are staged — everything the fold
    * needs lives under `workDir` (the doremiRun signature rule: no
    * corpus dir, so a caller can't believe the drain rescans it).
    */
  private[streaming] def pcaRun(spark: SparkSession,
      workDir: String): DataFrame = {
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      // per-bid overwrite: foreachBatch is at-least-once, the
      // overwrite makes a replayed batch idempotent (the [[Store]]
      // retry discipline)
      PcaPartials.write(graft.ops.Similarity.pcaPartial(batch), workDir, bid)
    }
    PcaPartials.all(spark, workDir)
      .groupBy(col("dim")).agg(sum(col("u")).as("u"))
      .orderBy(col("dim"))
  }

  private val PcaPartials = Store("pca_b", "dim INT, u BIGINT")

  /** Streaming vector-index ingest — the foreachBatch deployment of
    * the two-level IVF quantizer: the quantizer is trained OFFLINE
    * (graft.ops.Similarity.ivfQuantizer — anchors fixed before the
    * stream starts, exactly how production vector stores run), then
    * each micro-batch of arriving vectors routes coarse→fine with the
    * SAME [[graft.ops.Similarity.ivfAssign]] code the batch path uses
    * and appends its (vec_id, anchor_id) postings to the index store.
    * Assignment is per-vector independent, so the drained store equals
    * the batch ivfProbed assignment row-for-row — the returned
    * per-anchor census (member count + order-free bit_xor of member
    * ids) is replayed by the oracle from the batch CTE chain, making
    * streaming ≡ batch hash-checked. Per batch the work is
    * |batch|·(c + p·m/c) cosines against broadcast anchor tables;
    * state is the append-only postings store (the index itself), never
    * rescanned during ingest.
    */
  def ivfIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    import graft.ops.Similarity
    // the canonical batch-side projection — shared, so the input frame
    // cannot drift between the pair
    val emb = Similarity.embeddings(spark, dir)
    require(emb.limit(1).count() > 0,
      "embeddings table is empty — nothing to index")
    stageShards(emb, workDir, Shards, keyCol = "vec_id",
      cacheKey = Some(s"$dir|embeddings"))
    ivfRun(spark, dir, workDir)
  }

  /** Drain whatever vector shards are staged under `workDir/stream`
    * into the postings store — separated from the staging so the
    * checkpoint-restart test can drain a prefix, "crash", stage the
    * rest, and resume. The quantizer is retrained here on restart, but
    * training is deterministic (fixed anchors by vec_id + cosine
    * tie-breaks), so a resumed run assigns against the IDENTICAL index
    * the committed batches used.
    */
  private[streaming] def ivfRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Similarity
    // train the quantizer ONCE, before the stream starts — cache +
    // materialize both tiny (≤√n-row) tables so the per-batch
    // foreachBatch plans reuse them instead of re-running the
    // training scans and the m×c routing crossJoin every batch
    val (coarse0, fineBucket0) = Similarity.ivfQuantizer(spark, dir)
    val coarse = coarse0.cache()
    val fineBucket = fineBucket0.cache()
    try {
      coarse.count(); fineBucket.count()
      drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
        // one OVERWRITTEN directory per batch id: foreachBatch is
        // at-least-once, so a blind append would double-write a
        // retried/replayed batch and silently break the
        // streaming ≡ batch row-for-row claim — the per-bid
        // overwrite makes the retry idempotent (the [[Store]] retry
        // discipline)
        IvfPostings.write(Similarity.ivfAssign(batch, coarse, fineBucket)
          .select(col("vec_id"), col("anchor_id")), workDir, bid)
      }
    } finally { coarse.unpersist(); fineBucket.unpersist(); () }
    IvfPostings.all(spark, workDir)
      .groupBy(col("anchor_id"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("member_xor"))
      .orderBy(col("anchor_id"))
  }

  /** EXECUTE the re-train response on the streaming index store:
    * [[ivfIngest]] drains the postings store, then the coverage audit
    * + one-round re-train ([[graft.ops.Similarity.retrainMerged]] —
    * the SAME frames the batch q_ivf_retrain hash-gates) rewrite the
    * store IN PLACE: every moved vector's posting rows are replaced by
    * its single new-anchor posting, written as the next store
    * generation `postings_r1` (a re-run overwrites its own generation
    * — the versioned-state retry discipline; readers take the highest
    * generation). Returns the per-anchor census of the UPDATED store;
    * the oracle replays probed − moved + new from scratch. At scale
    * the rewrite touches only the moved vectors' rows — the anti-join
    * rides the store scan, the moved list is the bounded re-train
    * output.
    */
  def ivfRetrainIngest(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Similarity
    ivfIngest(spark, dir, workDir)
    val moved = Similarity.retrainMerged(spark, dir)
      .where(col("reassigned")).select(col("vec_id"), col("anchor_id"))
    IvfPostingsR1.write(IvfPostings.all(spark, workDir)
      .join(moved.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(moved), workDir)
    IvfPostingsR1.read(spark, workDir)
      .groupBy(col("anchor_id"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("member_xor"))
      .orderBy(col("anchor_id"))
  }

  private val IvfPostings = Store("postings_b", "vec_id BIGINT, anchor_id BIGINT")
  private val IvfPostingsR1 = IvfPostings.copy(prefix = "postings_r1")

  /** Streaming coverage-audit guard — the foreachBatch deployment of
    * q_semantic_outliers: the quantizer and the √n anchor table are
    * fixed before the stream starts (trained offline, broadcast);
    * every arriving vector micro-batch assigns itself with the SAME
    * Similarity.ivfAssign the batch path uses and scores its own
    * best-anchor cosine with the SAME Similarity.outlierScore
    * projection, writing flags to one overwritten per-bid directory
    * (the ivfIngest retry discipline). Assignment and scoring are
    * per-vector independent, so the drained union equals the batch
    * query row-for-row — q_stream_outliers SHARES its oracle
    * verbatim. At 100 TB the probe is broadcast-only; per batch the
    * only exchange is the batch-local rank-1 window.
    */
  def outliersIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    outliersStage(spark, dir, workDir)
    outliersRun(spark, dir, workDir)
  }

  /** Stage the embeddings as id shards; `upTo` stages a prefix for
    * the checkpoint-restart test.
    */
  private[streaming] def outliersStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    val emb = graft.ops.Similarity.embeddings(spark, dir)
    stageShards(emb, workDir, Shards, upTo, keyCol = "vec_id",
      cacheKey = Some(s"$dir|embeddings"))
    ()
  }

  /** Drain whatever vector shards are staged under `workDir/stream`
    * past the coverage guard — separated from [[outliersStage]] so
    * the checkpoint-restart test can resume mid-stream; quantizer and
    * anchors derive deterministically from the static table, so a
    * resumed run scores against the IDENTICAL index.
    */
  private[streaming] def outliersRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Similarity
    val (coarse0, fineBucket0) = Similarity.ivfQuantizer(spark, dir)
    val coarse = coarse0.cache()
    val fineBucket = fineBucket0.cache()
    // the anchor vectors ARE the fine rows the quantizer already
    // holds — reuse the cached table instead of a second embeddings
    // count + broadcast build (one definition of the anchor set)
    val anchors = broadcast(fineBucket
      .select(col("fine_id").as("anchor_id"), col("fv").as("av")))
    try {
      coarse.count(); fineBucket.count()
      drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
        // a micro-batch arrives as ONE staged file = one partition —
        // spread it so the assignment cosines use every core (the
        // crossmodalRun lesson; the shuffle moves only the batch)
        val bdf = batch.repartition(spark.sparkContext.defaultParallelism)
        OutlierFlags.write(Similarity.outlierScore(
          Similarity.ivfAssign(bdf, coarse, fineBucket), anchors), workDir, bid)
      }
    } finally { coarse.unpersist(); fineBucket.unpersist(); () }
    OutlierFlags.all(spark, workDir).orderBy(col("vec_id"))
  }

  private val OutlierFlags = Store("flags_b", "vec_id BIGINT, " +
    "best_anchor BIGINT, best_cos DOUBLE, is_outlier BOOLEAN")

  /** Streaming benchmark-contamination guard — the foreachBatch
    * deployment of q_contamination: the EVAL shingle index is fixed
    * before the stream starts (the benchmark suite is a static
    * artifact; cached + materialized, ~corpus/50 rows), then every
    * arriving micro-batch of training docs shingles itself with the
    * SAME Dedup.shingleHashes projection the batch path uses, probes
    * the broadcast index, and writes its flagged docs to one
    * overwritten per-batch-id directory (the at-least-once retry
    * discipline of ivfIngest). Docs never straddle micro-batches
    * (id-sharded staging), so the per-batch per-doc aggregate equals
    * the batch query's — the drained union is replayed verbatim by
    * q_contamination's own oracle, streaming ≡ batch hash-checked.
    * At 100 TB no JOIN ever shuffles the corpus side — the probe is
    * against the broadcast eval index; the per-batch exchanges are the
    * shingle distinct and the final per-doc count-distinct, both over
    * the batch's own rows only.
    */
  def contaminationIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    contaminationStage(spark, dir, workDir)
    contaminationRun(spark, dir, workDir)
  }

  /** Stage the TRAINING side (docs outside the eval sample) as id
    * shards; `upTo` stages a prefix for the checkpoint-restart test.
    */
  private[streaming] def contaminationStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    // canonical documents staging projection, UNFILTERED — the train
    // slice (doc_id % 50 <> 0) is applied by contaminationRun's batch
    // body instead, so this family member shares the one staged
    // shard set; per-batch train content is identical either way
    // (shard membership is doc_id % n, independent of the filter)
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    stageShards(docs, workDir, Shards, upTo, keyCol = "doc_id",
      cacheKey = Some(s"$dir|documents"))
    ()
  }

  /** Drain whatever doc shards are staged under `workDir/stream` past
    * the eval-shingle index — separated from [[contaminationStage]] so
    * the checkpoint-restart test can resume mid-stream; the eval index
    * is rebuilt on restart, but it derives deterministically from the
    * static eval sample, so a resumed run probes the IDENTICAL index
    * the committed batches did.
    */
  private[streaming] def contaminationRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Dedup
    // r14: the static eval index is the session-materialized corpus
    // postings table filtered to the eval slice (the doc_id filter
    // commutes with shingleHashes' per-(doc_id, h) distinct) — a
    // parquet scan instead of a tokenize of the eval sample.
    val evalIx = Dedup.sharedShinglePostings(spark, dir)
      .where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("h")).cache()
    try {
      evalIx.count() // materialize the static index once, pre-stream
      drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
        // the train-slice predicate lives HERE (stateless, so every
        // batch keeps the same rows as a stream-side filter), not in
        // the staging — the staged shards are the shared canonical
        // corpus; idempotent when a test stages a pre-filtered prefix
        ContaminationFlags.write(
          Dedup.shingleHashes(batch.where(col("doc_id") % 50 =!= 0))
            .join(broadcast(evalIx), Seq("h"))
            .groupBy(col("doc_id"))
            .agg(countDistinct(col("h")).as("n_shared"),
              countDistinct(col("eval_id")).as("n_eval_docs")),
          workDir, bid)
      }
    } finally { evalIx.unpersist(); () }
    ContaminationFlags.all(spark, workDir).orderBy(col("doc_id"))
  }

  private val ContaminationFlags = Store("flag_b",
    "doc_id BIGINT, n_shared BIGINT, n_eval_docs BIGINT")

  /** Streaming per-source cardinality monitor — the foreachBatch
    * deployment of q_theta_sketch: every arriving micro-batch of docs
    * computes its own per-source KMV sketch partial (the SAME
    * kmv_min_k aggregate as the batch path, O(k) longs per source)
    * plus its distinct postings slice (the exact-audit store), each
    * written to one overwritten per-bid directory (the at-least-once
    * retry discipline). KMV merge is associative/commutative and
    * insensitive to batch order — the k smallest distinct hashes of a
    * union are contained in the union of per-batch k-min sets — so
    * the drained merge of sketch partials equals the batch sketch
    * EXACTLY and the census shares q_theta_sketch's oracle verbatim.
    * At 100 TB this is the production monitor shape: per trigger the
    * batch shuffles only its own postings; the standing state a
    * release would keep is sources × k longs (the sketch partials) —
    * the exact-audit postings store is the harness's truth column,
    * not something a monitor ships.
    */
  def thetaIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    thetaStage(spark, dir, workDir)
    thetaRun(spark, dir, workDir)
  }

  /** The canonical staged documents shard set (shared family staging —
    * same projection and cache key as the contamination twin).
    */
  private[streaming] def thetaStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit =
    contaminationStage(spark, dir, workDir, upTo)

  private[streaming] def thetaRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Govern
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      sketchAndPostings(batch, workDir, bid, ThetaSketches, ThetaPostings)
    }
    // drain-time census: merge the per-bid sketch partials (explode +
    // re-aggregate — the KMV merge), exact audit over the accumulated
    // postings store, SAME census projection as the batch path
    val merged = ThetaSketches.all(spark, workDir)
      .select(col("source"), explode(col("mins")).as("h"))
      .groupBy(col("source"))
      .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
        .as("mins"))
    val exact = ThetaPostings.all(spark, workDir)
      .groupBy(col("source"))
      .agg(countDistinct(col("h")).as("exact_distinct"))
    Govern.thetaCensus(merged.join(exact, Seq("source")))
      .orderBy(col("source"))
  }

  private val ThetaSketches = Store("sk_b", SketchDdl)
  private val ThetaPostings = Store("ph_b", PostingsDdl)

  /** One docs micro-batch's per-source KMV sketch partial and distinct
    * (source, h) postings slice, each to its own per-bid store — the
    * theta and theta-delta twins' shared batch body.
    */
  private def sketchAndPostings(batch: DataFrame, workDir: String,
      bid: Long, sketches: Store, postings: Store): Unit = {
    import graft.ops.{Dedup, Govern}
    val posts = Dedup.shingleHashes(batch.select(col("doc_id"), col("text")))
      .join(batch.select(col("doc_id"), col("source")), Seq("doc_id"))
      .cache()
    try {
      sketches.write(posts.groupBy(col("source"))
        .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
          .as("mins")), workDir, bid)
      postings.write(posts.select(col("source"), col("h")).distinct(),
        workDir, bid)
    } finally { posts.unpersist(); () }
  }

  /** EXECUTES on the streaming engine: the distinct-n diversity
    * monitor at ingest (q_stream_ngram_theta) — per-micro-batch
    * per-(source, n) KMV partials + instance counts, drained by the
    * KMV merge (associative, batch-order-free), census via the SAME
    * [[graft.ops.TextAnalysis.ngramThetaCensus]] projection and
    * graded by q_distinct_ngrams_theta's oracle verbatim. Standing
    * state per trigger is 3·|sources| groups × (k longs + one count);
    * the exact audit reads the accumulated per-bid distinct-hash
    * slices at drain — the gated-SF harness truth a production
    * monitor drops.
    */
  def ngramThetaIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    thetaStage(spark, dir, workDir)
    ngramThetaRun(spark, dir, workDir)
  }

  private[streaming] def ngramThetaRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.{Govern, TextAnalysis}
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      val g = TextAnalysis.ngramHashes(
        batch.select(col("source"), col("text"))).cache()
      try {
        NgramSketches.write(g.groupBy(col("source"), col("n"))
          .agg(count(lit(1)).as("total"),
            call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
              .as("mins")), workDir, bid)
        NgramPostings.write(g.select(col("source"), col("n"), col("h"))
          .distinct(), workDir, bid)
      } finally { g.unpersist(); () }
    }
    // drain census: totals are additive, minima re-rank (the KMV
    // merge), the exact audit counts the accumulated distinct slices
    val parts = NgramSketches.all(spark, workDir)
    val tot = parts.groupBy(col("source"), col("n"))
      .agg(sum(col("total")).as("total"))
    val mins = parts
      .select(col("source"), col("n"), explode(col("mins")).as("h"))
      .groupBy(col("source"), col("n"))
      .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
        .as("mins"))
    val exact = NgramPostings.all(spark, workDir)
      .groupBy(col("source"), col("n"))
      .agg(countDistinct(col("h")).as("exact_distinct"))
    TextAnalysis.ngramThetaCensus(tot
      .join(mins, Seq("source", "n"))
      .join(exact, Seq("source", "n")))
  }

  private val NgramSketches = Store("ngsk_b",
    "source STRING, n INT, total BIGINT, mins ARRAY<BIGINT>")
  private val NgramPostings = Store("ngph_b", "source STRING, n INT, h BIGINT")

  /** EXECUTES on the streaming engine: the CROSS-RELEASE novelty
    * monitor at ingest — the q_theta_delta question ("how much of the
    * arriving release is new per source?") answered while the release
    * streams in. v1's governance stores stage ONCE (the `v1_theta`
    * release-artifact discipline: per-source KMV sketch + the
    * distinct-postings exact-audit store, deterministic, kept on
    * restart); each arriving micro-batch writes its own per-bid
    * sketch partial and postings slice; the drain census merges
    * v1_theta ⊕ the arrival partials per source — k longs each, v1 is
    * NEVER rescanned per trigger — and computes the exact audit
    * against the static v1 store. Census via the SAME
    * [[graft.ops.Govern.thetaDeltaCensus]] projection, graded by
    * q_theta_delta's oracle verbatim (KMV merge is associative and
    * batch-order-free). At 100 TB the monitor's standing state is
    * sources × k longs plus the v1 postings store the exact audit
    * reads at drain.
    */
  def thetaDeltaIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    thetaDeltaStage(spark, dir, workDir)
    thetaDeltaRun(spark, dir, workDir)
  }

  /** v1's standing governance stores (sketch + distinct postings —
    * built once, kept on restart) + the arriving release half
    * (doc_id % 4 == 0, releaseStage's split) staged as doc shards.
    */
  private[streaming] def thetaDeltaStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    import graft.ops.{Dedup, Govern}
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val v1 = docs.where(col("doc_id") % 4 =!= 0)
    // both v1 stores start from the same shingle pass over 3/4 of the
    // corpus — r14: that pass IS the session-materialized corpus
    // postings table ([[graft.ops.Dedup.sharedShinglePostings]])
    // filtered to the v1 slice (the doc_id filter commutes with the
    // per-(doc_id, h) distinct), so the store build is a parquet
    // scan + filter instead of a re-tokenize; the sketch still
    // derives from the store's read-back (guide §1.2: one pass).
    // Bit-identical: the KMV aggregate dedups inserts, so kmv_min_k
    // over the distinct (source, h) store equals kmv_min_k over the
    // raw per-doc posting stream.
    if (!V1Postings.exists(workDir))
      V1Postings.write(Dedup.sharedShinglePostings(spark, dir)
        .where(col("doc_id") % 4 =!= 0)
        .join(v1.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("h")).distinct(), workDir)
    if (!V1Theta.exists(workDir))
      V1Theta.write(V1Postings.read(spark, workDir)
        .groupBy(col("source"))
        .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
          .as("mins")), workDir)
    stageShards(docs.where(col("doc_id") % 4 === 0), workDir, Shards,
      upTo, keyCol = "doc_id",
      cacheKey = if (upTo.isEmpty) Some(s"$dir|documents_rel4") else None)
    ()
  }

  private[streaming] def thetaDeltaRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.Govern
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      sketchAndPostings(batch, workDir, bid, DeltaSketches, DeltaPostings)
    }
    // drain census: staged v1 sketch ⊕ per-bid arrival partials (the
    // KMV merge), exact audit against the static v1 postings store —
    // the SAME census projection as the batch query
    val v1Sk = V1Theta.read(spark, workDir)
      .select(col("source"), col("mins").as("mins_v1"))
    val merged = v1Sk.select(col("source"), explode(col("mins_v1")).as("h"))
      .unionByName(DeltaSketches.all(spark, workDir)
        .select(col("source"), explode(col("mins")).as("h")))
      .groupBy(col("source"))
      .agg(call_function("kmv_min_k", col("h"), lit(Govern.ThetaK))
        .as("mins_full"))
    val exV1 = V1Postings.read(spark, workDir)
    val exactV1 = exV1.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_v1"))
    val exactNew = DeltaPostings.all(spark, workDir).distinct()
      .join(exV1, Seq("source", "h"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("exact_new"))
    Govern.thetaDeltaCensus(v1Sk, merged, exactV1, exactNew)
  }

  private val V1Theta = Store("v1_theta", SketchDdl)
  private val V1Postings = Store("v1_ph", PostingsDdl)
  private val DeltaSketches = Store("dsk_b", SketchDdl)
  private val DeltaPostings = Store("dph_b", PostingsDdl)

  /** Streaming right-to-be-forgotten guard — the foreachBatch
    * deployment of q_forget's events leg (purge-at-ingest): the
    * deletion list is fixed before the stream starts (a regulatory
    * request — small by nature, hence static + broadcast), then every
    * arriving micro-batch of events probes it AT INGEST — purged rows
    * are counted and dropped, kept rows fold their key hash into a
    * per-batch bit_xor partial — and writes its 1-row
    * (n_purged, n_kept, kept_xor) partial to one overwritten per-bid
    * directory (the at-least-once retry discipline: a replayed batch
    * rewrites its own partial, never double-counts). Counts and
    * bit_xor are associative/commutative with identity 0, so the
    * drained fold of partials equals the batch audit EXACTLY —
    * q_stream_forget's single row is checked by the events slice of
    * q_forget's own oracle. At 100 TB this is the production
    * purge-at-ingest shape: the deletion probe is a broadcast hash
    * join riding the arriving batch (no shuffle, no accumulated
    * state beyond three longs per batch).
    */
  def forgetIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    forgetStage(spark, dir, workDir)
    forgetRun(spark, dir, workDir)
  }

  /** Stage the events stream as id shards; `upTo` stages a prefix for
    * the checkpoint-restart test.
    */
  private[streaming] def forgetStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    // the CANONICAL events staging projection — forget, upsert and
    // mv_merge share one staged shard set; each run projects by name
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    stageShards(ev, workDir, Shards, upTo,
      cacheKey = Some(s"$dir|events"))
    ()
  }

  /** Drain whatever event shards are staged under `workDir/stream`
    * past the RTBF guard — separated from [[forgetStage]] so the
    * checkpoint-restart test can resume mid-stream; the deletion list
    * derives deterministically from the static customer table, so a
    * resumed run probes the IDENTICAL list the committed batches did.
    */
  private[streaming] def forgetRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.TextFns.h60
    // the ONE deletion-list definition, shared with the batch audit
    // and the physical delete
    val del = broadcast(graft.ops.Prep.deletionList(spark, dir)
      .withColumn("hit", lit(1)))
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      ForgetAudit.write(batch
        .select(col("user_id").as("k"),
          h60(concat(lit("e:"), col("event_id").cast("string"))).as("h"))
        .join(del, Seq("k"), "left")
        .agg(
          coalesce(sum(when(col("hit") === 1, 1L).otherwise(0L)), lit(0L))
            .as("n_purged"),
          coalesce(sum(when(col("hit").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_kept"),
          coalesce(expr("bit_xor(CASE WHEN hit IS NULL THEN h " +
            "ELSE CAST(0 AS BIGINT) END)"), lit(0L)).as("kept_xor")),
        workDir, bid)
    }
    ForgetAudit.all(spark, workDir)
      .agg(coalesce(sum(col("n_purged")), lit(0L)).as("n_purged"),
        coalesce(sum(col("n_kept")), lit(0L)).as("n_kept"),
        coalesce(expr("bit_xor(kept_xor)"), lit(0L)).as("kept_checksum"))
      .select(lit("events").as("tbl"), col("n_purged"), col("n_kept"),
        col("kept_checksum"))
  }

  private val ForgetAudit = Store("audit_b",
    "n_purged BIGINT, n_kept BIGINT, kept_xor BIGINT")

  /** Streaming release admission — the foreachBatch deployment of
    * q_release_delta (the ingest-time extension of a shipped corpus
    * release): v1's standing stores are FIXED before the stream starts
    * (content-hash index + MinHash signature store — exactly what a
    * release ships alongside its corpus so extensions never re-scan
    * v1's text), then every arriving crawl micro-batch (range-staged
    * so arrival order is doc_id order, the minhashDedupIngest
    * convention) decides each doc's admission first-signal-wins:
    *
    *   - batch-local signals via the SHARED
    *     [[graft.ops.Prep.deltaLocalFlags]] projection (forget/eval
    *     mods, Gopher quality, language — the same Column trees as the
    *     batch census, so the two surfaces cannot drift);
    *   - exact-vs-v1: the 16-byte content key probed against the v1
    *     index;
    *   - exact-in-batch: key seen in an EARLIER micro-batch (versioned
    *     hash store) or on a smaller id in THIS one — with id-ordered
    *     arrival this is exactly the batch census's min-id keeper rule;
    *   - near-vs-store: banded MinHash candidates against v1 ∪ already-
    *     arrived ∪ smaller in-batch ids at est ≥
    *     [[graft.ops.Dedup.StreamDupThreshold]] — the q_stream_minhash
    *     arrival-order predicate with v1 as the pre-existing store.
    *     The store side goes through the minhashLiveBands stop-band at
    *     ARRIVAL-TIME occupancy, recomposed from STAGED index
    *     artifacts: v1's band table, per-bucket counts and
    *     already-saturated bucket list ship with the release (built
    *     once in [[releaseStage]]), so each trigger band-explodes only
    *     its own arrivals and merges the small delta counts with v1's
    *     fixed counts — the saturated set is identical to the full
    *     minhashBands(v1 ∪ arrived ∪ batch) census without ever
    *     re-exploding or reshuffling v1. At the oracle-gated SFs the
    *     cap never fires (measured maxima 4/10 vs 64), so drained ≡
    *     batch stays hash-exact. On a corpus that saturates mid-stream the
    *     divergence direction is the minhashDedupIngest one: early
    *     batches still see a sub-cap bucket and emit its pairs
    *     (blocking docs) while the batch census's final-corpus cap
    *     kills the whole bucket's candidates — so the drained admitted
    *     set is a SUBSET of the batch one, never a superset. The
    *     stop-band trade, stated rather than hidden.
    *
    * Every signal is arrival-frozen — v1 is static and both backward-
    * looking rules only consult smaller ids — so per-doc flags computed
    * at arrival equal the batch census's, and the per-bid
    * [[graft.ops.Prep.deltaCensus]] partials (counts + bit_xor —
    * associative/commutative with identity 0) drain to q_release_delta
    * ROW-FOR-ROW: q_stream_release shares the batch oracle verbatim.
    * Retry/restart safety is the versioned-store discipline: probes
    * read stores STRICTLY below the current bid and each batch
    * overwrites its own idempotent outputs (kill/resume exercised in
    * StreamingSpec). At production scale the hash/signature stores are
    * bucketed tables co-located on their keys; per trigger only the
    * batch's own rows shuffle — v1 is scanned and probed, never
    * reshuffled.
    */
  def releaseIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    releaseStage(spark, dir, workDir)
    releaseRun(spark, dir, workDir)
  }

  /** Build v1's standing stores (once — deterministic, kept on
    * restart) and stage the crawl batch as doc_id-RANGE shards; `upTo`
    * stages a prefix for the checkpoint-restart test.
    */
  private[streaming] def releaseStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    import graft.ops.Dedup
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val v1 = docs.where(col("doc_id") % 4 =!= 0)
    // Three independent store-build chains — the content-hash index,
    // the shingle-derived sig/theta/bands chain, and the crawl-shard
    // staging — each writing its own directories under its own
    // existence guard. Running them concurrently measured a tie with
    // running them in order (release median 14.0 vs 13.8 s), so they
    // run in order.
    buildV1Hash(spark, workDir, v1)
    buildV1ShingleStores(spark, dir, workDir, v1)
    stageCrawlShards(spark, workDir, docs, upTo)
  }

  private def buildV1Hash(spark: SparkSession, workDir: String,
      v1: DataFrame): Unit = {
    if (!V1Hash.exists(workDir))
      V1Hash.write(v1.select(md5(col("text")).as("ch")).distinct(), workDir)
  }

  private def buildV1ShingleStores(spark: SparkSession, dir: String,
      workDir: String, v1: DataFrame): Unit = {
    import graft.ops.Dedup
    // v1_sig and v1_theta both start from shingleHashes(v1). r13 fused
    // the two builds onto one cached shingle pass; r14 goes one step
    // further (guide §1.2 / §6): v1's postings are EXACTLY the
    // session-materialized corpus postings table
    // ([[graft.ops.Dedup.sharedShinglePostings]] — distinct
    // (doc_id, h), the standing index a production release reads)
    // filtered to the v1 slice, so the build is a parquet scan +
    // filter instead of re-tokenizing 3/4 of the corpus per
    // invocation. Bit-identical: shingleHashes is distinct per
    // (doc_id, h), so the doc_id filter commutes with it; the minhash
    // min-aggregate and the KMV insert-dedup are row-order-free.
    val needSig = !V1Sig.exists(workDir)
    val needTheta = !V1Theta.exists(workDir)
    if (needSig || needTheta) {
      val sh = Dedup.sharedShinglePostings(spark, dir)
        .where(col("doc_id") % 4 =!= 0)
      if (needSig)
        V1Sig.write(Dedup.minhashSignaturesOfHashes(sh), workDir)
      // the release also ships its GOVERNANCE sketch: v1's per-source
      // KMV minima (k longs per source — mergeable state, so the next
      // release's sketch folds in by re-aggregating the union of
      // minima instead of rescanning v1; StreamingSpec proves
      // store-merge ≡ full recompute against
      // graft.ops.Govern.sharedThetaSketches)
      if (needTheta) {
        V1Theta.write(
          sh.join(v1.select(col("doc_id"), col("source")), Seq("doc_id"))
            .groupBy(col("source"))
            .agg(call_function("kmv_min_k", col("h"),
              lit(graft.ops.Govern.ThetaK)).as("mins")), workDir)
      }
    }
    // a release ships its index artifacts: v1's band table, the
    // per-bucket occupancy counts, and the already-saturated bucket
    // list are staged ONCE (derived from the v1_sig store so the two
    // can't drift) instead of re-deriving minhashBands(v1) every
    // micro-batch — the round-9 perf-weak seam. The per-trigger
    // occupancy census then merges these fixed counts with the small
    // delta (arrivals-only) counts and reproduces the exact same
    // saturated set, so the drained census stays hash-equal to
    // q_release_delta.
    if (!V1Bands.exists(workDir)) {
      V1BandsTmp.write(Dedup.minhashBands(V1Sig.read(spark, workDir)), workDir)
      val cnt = V1BandsTmp.read(spark, workDir).groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("c_v1"))
      V1BandCounts.write(cnt, workDir)
      V1Saturated.write(cnt.where(col("c_v1") > Dedup.MinhashBandCap)
        .select(col("band"), col("sig")).coalesce(1), workDir)
      // publish last so a crash mid-stage re-derives everything
      java.nio.file.Files.move(
        java.nio.file.Paths.get(workDir, V1BandsTmp.prefix),
        java.nio.file.Paths.get(workDir, V1Bands.prefix))
      ()
    }
  }

  // v1's standing release stores (built once by releaseStage, kept on
  // restart) and the release drain's per-bid stores
  private val V1Hash = Store("v1_hash", "ch STRING")
  private val V1Sig = Store("v1_sig", SigDdl)
  private val V1Bands = Store("v1_bands", BandDdl)
  private val V1BandsTmp = Store("v1_bands_tmp", BandDdl)
  private val V1BandCounts = Store("v1_bcnt", "band INT, sig STRING, c_v1 BIGINT")
  private val V1Saturated = Store("v1_sat", "band INT, sig STRING")
  private val ReleaseCensus = Store("census_b", "source STRING, " +
    "n_batch BIGINT, d_forget BIGINT, d_eval BIGINT, d_quality BIGINT, " +
    "d_lang BIGINT, d_exact_v1 BIGINT, d_exact_batch BIGINT, d_near BIGINT, " +
    "n_admitted BIGINT, admitted_checksum BIGINT")
  private val BatchSig = Store("bsig_b", SigDdl)
  private val BatchBands = Store("bband_b", BandDdl)
  private val BatchHash = Store("bhash_b", "ch STRING")

  private def stageCrawlShards(spark: SparkSession, workDir: String,
      docs: DataFrame, upTo: Option[Int]): Unit = {
    // both backward-looking rules (in-batch keeper, smaller-id near
    // neighbor) need arrival order == id order, so the batch stages as
    // range shards ([[rangeShard]])
    val batch = docs.where(col("doc_id") % 4 === 0)
    val bounds = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(!bounds.isNullAt(0), "empty crawl batch — nothing to admit")
    stageIntoBy(batch, java.nio.file.Paths.get(workDir, "stream"), Shards,
      upTo, rangeShard(col("doc_id"), bounds.getLong(0), bounds.getLong(1) + 1,
        Shards))
    ()
  }

  /** Drain whatever crawl shards are staged under `workDir/stream`
    * through the admission cascade — separated from [[releaseStage]]
    * so the checkpoint-restart test can resume mid-stream; v1's stores
    * and all per-bid state live on DISK.
    */
  private[streaming] def releaseRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.{Dedup, Prep}
    val v1Hash = V1Hash.read(spark, workDir).withColumn("v1_hit", lit(1))
    val v1Sig = V1Sig.read(spark, workDir)
    drainStaged(spark, s"$workDir/stream", workDir, aqeOff = true) {
      (batch, bid) =>
      // one staged file = one partition — spread the shingle work
      val bdf = batch.repartition(spark.sparkContext.defaultParallelism)
      // cached: local flags feed the keeper agg, the flag joins and
      // the hash-store append; vec feeds bands, two estimate joins
      // and the signature-store append
      val local = Prep.deltaLocalFlags(bdf).cache()
      val vec = Dedup.minhashSignatures(
        bdf.select(col("doc_id"), col("text"))).cache()
      // cached: feeds the live filter, the probe side, the store-side
      // union and the per-bid bband append
      val batchBands = Dedup.minhashBands(vec).cache()
      try {
        val mbKeeper = local.groupBy(col("ch"))
          .agg(min(col("doc_id")).as("mb_keeper"))
        val prevHash = BatchHash.below(spark, workDir, bid)
          .map(_.distinct().withColumn("prev_hit", lit(1)))
        val allVec = BatchSig.below(spark, workDir, bid)
          .foldLeft(v1Sig.unionByName(vec))(_ unionByName _)
        // arrival-time occupancy census, recomposed over the STAGED
        // v1 index artifacts: saturated = (bucket already over cap
        // in v1 alone — the staged v1_sat list) ∪ (v1 count + delta
        // count over cap, where delta = prev-arrived ∪ this batch).
        // Only the delta bands shuffle for their counts; v1's staged
        // per-bucket counts are semi-probed by the delta's bucket
        // keys and its band table is scanned + anti-filtered — v1 is
        // never re-exploded or reshuffled per trigger (the round-9
        // perf seam). The saturated set is provably identical to
        // minhashLiveBands(minhashBands(v1 ∪ arrived ∪ batch)), so
        // the drained census stays hash-equal to q_release_delta.
        // (v1_sat buckets that also appear in delta emit twice; the
        // anti joins below are duplicate-key-insensitive.)
        val prevBands = BatchBands.below(spark, workDir, bid)
        val deltaBands =
          prevBands.foldLeft(batchBands.toDF())(_ unionByName _)
        val deltaCnt = deltaBands.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("c_d"))
        val v1InDelta = V1BandCounts.read(spark, workDir)
          .join(broadcast(deltaCnt.select(col("band"), col("sig"))),
            Seq("band", "sig"), "left_semi")
        val saturated = V1Saturated.read(spark, workDir)
          .unionByName(deltaCnt
            .join(broadcast(v1InDelta), Seq("band", "sig"), "left")
            .where(coalesce(col("c_v1"), lit(0L)) + col("c_d") >
              Dedup.MinhashBandCap)
            .select(col("band"), col("sig")))
        val satB = broadcast(saturated)
        val batchLive =
          batchBands.join(satB, Seq("band", "sig"), "left_anti")
        val accBands = prevBands.foldLeft(
            V1Bands.read(spark, workDir).unionByName(batchBands))(_ unionByName _)
        val accLive = accBands.join(satB, Seq("band", "sig"), "left_anti")
        // probe side = this batch's own live bands — small by
        // construction, so it broadcasts (the minhashDedupIngest
        // shape); the accumulated side is only scanned and probed
        val cand = broadcast(batchLive
            .select(col("band"), col("sig"), col("doc_id").as("doc1")))
          .join(accLive
            .select(col("band"), col("sig"), col("doc_id").as("doc2")),
            Seq("band", "sig"))
          // a v1 neighbor blocks regardless of id (it arrived with
          // the release); a batch neighbor blocks only from below
          .where(col("doc2") % 4 =!= 0 || col("doc2") < col("doc1"))
          .select("doc1", "doc2").distinct()
        val near = cand
          .join(vec.select(col("doc_id").as("doc1"), col("v").as("vp")),
            Seq("doc1"))
          .join(allVec.select(col("doc_id").as("doc2"), col("v").as("vo")),
            Seq("doc2"))
          .where(Dedup.minhashEst(col("vp"), col("vo")) >=
            Dedup.StreamDupThreshold)
          .select(col("doc1").as("doc_id")).distinct()
          .withColumn("nr_hit", lit(1))
        val joined = local
          .join(v1Hash, Seq("ch"), "left")
          .join(mbKeeper, Seq("ch"))
          .join(near, Seq("doc_id"), "left")
        val flags = prevHash
          .map(p => joined.join(p, Seq("ch"), "left"))
          .getOrElse(joined.withColumn("prev_hit", lit(null).cast("int")))
          .select(col("doc_id"), col("source"), col("h"),
            col("fg"), col("ev"), col("bq"), col("bl"),
            col("v1_hit").isNotNull.as("xv"),
            (col("prev_hit").isNotNull ||
              col("doc_id") =!= col("mb_keeper")).as("xb"),
            col("nr_hit").isNotNull.as("nr"))
        // per-bid idempotent outputs: the census partial (the SHARED
        // aggregate — associative folds only) + both store appends.
        // The four sinks are independent (distinct per-bid dirs, all
        // reading the cached frames) and run one after another —
        // overlapping them was the r13 regression at local[32]
        // (3-4 concurrent 32-task jobs per tiny trigger thrash the
        // scheduler and heap; release 12.2 → 50.9 s).
        ReleaseCensus.write(Prep.deltaCensus(flags).coalesce(1), workDir, bid)
        BatchSig.write(vec.coalesce(4), workDir, bid)
        BatchBands.write(batchBands.coalesce(4), workDir, bid)
        BatchHash.write(local.select(col("ch")).distinct().coalesce(1),
          workDir, bid)
      } finally {
        local.unpersist(); vec.unpersist(); batchBands.unpersist(); ()
      }
    }
    ReleaseCensus.all(spark, workDir).groupBy(col("source"))
      .agg(sum(col("n_batch")).as("n_batch"),
        sum(col("d_forget")).as("d_forget"),
        sum(col("d_eval")).as("d_eval"),
        sum(col("d_quality")).as("d_quality"),
        sum(col("d_lang")).as("d_lang"),
        sum(col("d_exact_v1")).as("d_exact_v1"),
        sum(col("d_exact_batch")).as("d_exact_batch"),
        sum(col("d_near")).as("d_near"),
        sum(col("n_admitted")).as("n_admitted"),
        expr("bit_xor(admitted_checksum)").as("admitted_checksum"))
      .orderBy(col("source"))
  }

  /** Streaming cross-modal dedup guard — the foreachBatch deployment
    * of q_crossmodal_dedup (the LAION ingest shape): documents stream
    * as id shards; each micro-batch computes its own text postings
    * (the SAME [[graft.ops.Dedup.shingleHashes]] projection as batch)
    * and image hashes (the SAME [[graft.ops.Multimodal.extractPhash]]
    * decode over [[graft.ops.Multimodal.asPngMediaOf]] payloads),
    * probes the accumulated feature stores ∪ itself for pairs that
    * collide in BOTH modalities (text Jaccard ≥ 0.6 verified against
    * exact sizes, image hamming ≤ CrossmodalHammingMax), and writes
    * pairs + its feature additions to per-bid overwritten directories
    * (the driftIngest versioned-state discipline: a retried batch
    * re-reads only stores STRICTLY below its bid and rewrites its own
    * idempotent outputs). An unordered qualifying pair is found when
    * its later member arrives — postings share ≥ 1 hash whenever
    * Jaccard > 0, so the probe can't miss — and the drained symmetric
    * census therefore equals the batch query exactly: q_stream_crossmodal
    * SHARES q_crossmodal_dedup's oracle verbatim. State is the feature
    * store (60-bit shingle hashes + 16-byte phash + one size per doc);
    * per batch no join ever shuffles the accumulated store on content —
    * at production scale the postings store is bucketed on h so the
    * batch-side probe prunes to matching buckets.
    */
  def crossmodalIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    crossmodalStage(spark, dir, workDir)
    crossmodalRun(spark, dir, workDir)
  }

  /** Stage the documents as id shards; `upTo` stages a prefix for the
    * checkpoint-restart test.
    */
  private[streaming] def crossmodalStage(spark: SparkSession, dir: String,
      workDir: String, upTo: Option[Int] = None): Unit = {
    // canonical documents staging projection (see watermarkIngest) —
    // the run side only touches doc_id/text by name
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    stageShards(docs, workDir, Shards, upTo, keyCol = "doc_id",
      cacheKey = Some(s"$dir|documents"))
    ()
  }

  /** Drain whatever doc shards are staged under `workDir/stream` past
    * the crossmodal guard — separated from [[crossmodalStage]] so the
    * checkpoint-restart test can resume mid-stream; all state is
    * per-bid on disk.
    */
  private[streaming] def crossmodalRun(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    import graft.ops.{Dedup, Multimodal}
    drainStaged(spark, s"$workDir/stream", workDir, aqeOff = true) {
      (batch, bid) =>
      import spark.implicits._
      // a micro-batch arrives as ONE staged file = one partition —
      // spread it so the shingle explode and the image decode use
      // every core (the shuffle moves only the batch's own rows)
      val bdf = batch.repartition(spark.sparkContext.defaultParallelism)
      // cached: postings feed the doc metadata + the probe + the
      // store append; meta (size + phash, ONE row per doc) feeds
      // both pair predicates and its own store append
      val post = Dedup.shingleHashes(bdf).cache()
      val meta = post.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        .join(Multimodal.extractPhash(Multimodal.asPngMediaOf(
          bdf.select(col("doc_id")).as[Long])).toDF(), Seq("doc_id"))
        .cache()
      try {
        val allPost = CrossPostings.below(spark, workDir, bid)
          .map(_.unionByName(post)).getOrElse(post)
        val allMeta = CrossMeta.below(spark, workDir, bid)
          .map(_.unionByName(meta)).getOrElse(meta)
        // text candidates: batch postings probe the accumulated
        // postings (∪ batch, for within-batch pairs) on the hash.
        // The BATCH side broadcasts — but measured, not assumed: in
        // this harness a batch is a third of the corpus, so the
        // posting table is only "small by construction" up to a
        // point. post is already cached (meta forced it), so the
        // count is a cache scan; above the cap (2M × 16-byte rows
        // ≈ 32 MB, safely under executor broadcast budgets) the
        // probe falls back to the ordinary shuffle hash join — same
        // rows, one extra exchange on h.
        val batchPost = post.select(col("doc_id").as("doc1"), col("h"))
        val probe = if (post.count() <= CrossmodalBroadcastMaxRows)
          broadcast(batchPost) else batchPost
        // Both verify predicates (exact Jaccard from sizes, exact
        // hamming from the 16-byte hashes) apply in ONE pass over
        // the candidate pairs via the fused per-doc metadata row.
        val inter = probe
          .join(allPost.select(col("doc_id").as("doc2"), col("h")), Seq("h"))
          .where(col("doc1") =!= col("doc2"))
          .groupBy(col("doc1"), col("doc2")).agg(count(lit(1)).as("i"))
        val pairs = inter
          .join(broadcast(meta.select(col("doc_id").as("doc1"),
            col("sz").as("sz1"), col("phash_hi").as("h1"),
            col("phash_lo").as("l1"))), Seq("doc1"))
          .join(allMeta.select(col("doc_id").as("doc2"),
            col("sz").as("sz2"), col("phash_hi").as("h2"),
            col("phash_lo").as("l2")), Seq("doc2"))
          .where(col("i").cast("double") /
            (col("sz1") + col("sz2") - col("i")) >= 0.6 &&
            expr("bit_count(h1 ^ h2) + bit_count(l1 ^ l2)")
              <= Multimodal.CrossmodalHammingMax)
          .select(col("doc1"), col("doc2"))
        // per-bid stores are batch-sized (hashes + sizes, no text) —
        // coalesce so the writes don't pay 32 task launches each; at
        // production scale these are bucketed table appends. The
        // three sinks are independent (distinct dirs, cached
        // inputs) and run one after another, like the release
        // drain's.
        CrossPairs.write(pairs.coalesce(4), workDir, bid)
        CrossPostings.write(post.coalesce(4), workDir, bid)
        CrossMeta.write(meta.coalesce(1), workDir, bid)
      } finally { post.unpersist(); meta.unpersist(); () }
    }
    // drain: symmetric per-doc census over the full spine — the exact
    // output shape (and oracle) of the batch q_crossmodal_dedup
    val pairs = CrossPairs.below(spark, workDir)
      .map(_.distinct())
      .getOrElse(spark.range(0)
        .select(col("id").as("doc1"), col("id").as("doc2")))
    val sym = pairs.select(col("doc1").as("doc_id"), col("doc2").as("nb"))
      .unionByName(pairs.select(col("doc2").as("doc_id"), col("doc1").as("nb")))
      .distinct()
    val census = sym.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cross"), min(col("nb")).as("mn"))
    graft.Tables(spark, dir, "documents").select(col("doc_id"))
      .join(census, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cross"), lit(0L)).as("n_cross"),
        least(col("doc_id"), coalesce(col("mn"), col("doc_id"))).as("canon"))
      .withColumn("drop_doc", (col("canon") < col("doc_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  private val CrossPairs = Store("pairs_b", "doc1 BIGINT, doc2 BIGINT")
  private val CrossPostings = Store("post_b", "doc_id BIGINT, h BIGINT")
  private val CrossMeta = Store("meta_b",
    "doc_id BIGINT, sz BIGINT, phash_hi BIGINT, phash_lo BIGINT")

  /** Resolved staging roots, keyed by the conf value. The
    * staged-shard cache itself is [[graft.ops.Scratch.once]] under
    * these roots: 8 of the 10 slowest bench entries were foreachBatch
    * twins whose wall was dominated by staging + drain machinery, and
    * twins sharing a source re-staged the same deterministic shard
    * files per query. The staged directory is built once per (session,
    * root, caller key, n, keyCol, schema) and every later twin reads
    * it — per-query checkpoints stay private, only the immutable source
    * files are shared.
    */
  private val stageRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** Conf key naming the shared staging root. The staging protocol
    * is POSIX-ONLY BY CONTRACT — and the contract is ENFORCED, not
    * just documented: single-file shard promotion needs atomic
    * rename, micro-batch ordering needs settable mtimes, and the
    * shared-shard cache needs symlinks, so on a cluster this must be
    * a shared POSIX mount (e.g. NFS) visible to driver and executors.
    * A URI-schemed root (object store) is refused loudly at
    * resolution, and a path root is PROBED for all three primitives
    * before first use instead of failing undefined mid-stream.
    * Unset, a driver-local temp dir deleted on JVM exit — correct at
    * local[*].
    */
  val StagingDirConf = "spark.graft.stagingDir"

  private[streaming] def stageRoot(spark: SparkSession): java.nio.file.Path =
    stageRoots.getOrElseUpdate(spark.conf.get(StagingDirConf, ""), {
      spark.conf.get(StagingDirConf, "") match {
        case "" =>
          java.nio.file.Paths.get(graft.util.WorkDirs.temp("graft-stage-"))
        case configured =>
          require(!configured.contains("://") ||
              configured.startsWith("file://"),
            s"$StagingDirConf=$configured: the staging protocol needs " +
              "rename/mtime/symlink semantics — a URI-schemed (object " +
              "store) root cannot host it; use a shared POSIX mount")
          val d =
            if (configured.startsWith("file://"))
              java.nio.file.Paths.get(java.net.URI.create(configured))
            else java.nio.file.Paths.get(configured)
          java.nio.file.Files.createDirectories(d)
          probeStagingRoot(d)
          d
      }
    })

  /** Fail loudly if `d` lacks any of the three POSIX primitives the
    * staging protocol builds on (see [[StagingDirConf]]). Runs once
    * per configured root, before any shard is staged.
    */
  private[streaming] def probeStagingRoot(d: java.nio.file.Path): Unit = {
    val probe = java.nio.file.Files.createTempFile(d, "_graft_probe", ".tmp")
    val moved = d.resolve(
      s"_graft_probe_moved_${java.util.UUID.randomUUID()}")
    val link = d.resolve(
      s"_graft_probe_link_${java.util.UUID.randomUUID()}")
    try {
      val t = 1700000000000L // whole seconds: FAT-style mtime rounding ok
      require(probe.toFile.setLastModified(t) &&
          probe.toFile.lastModified() == t,
        s"$StagingDirConf=$d cannot set mtimes — micro-batch ordering " +
          "would be undefined")
      try java.nio.file.Files.move(probe, moved,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"$StagingDirConf=$d cannot rename atomically — shard " +
            "promotion would be non-atomic", e)
      }
      try java.nio.file.Files.createSymbolicLink(link, moved)
      catch {
        case e @ (_: UnsupportedOperationException |
                  _: java.io.IOException) =>
          throw new IllegalStateException(
            s"$StagingDirConf=$d cannot create symlinks — the shared " +
              "staged-shard cache needs them", e)
      }
    } finally {
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.deleteIfExists(moved)
      java.nio.file.Files.deleteIfExists(probe)
      ()
    }
  }

  /** Stage a frame as `n` deterministic single-file shards (split by
    * `keyCol % n`, [[stageIntoBy]]) under `workDir/stream`, so a
    * file-source stream with `maxFilesPerTrigger=1` replays it as n
    * genuine micro-batches. `upTo` stages only the first `upTo` shards
    * (same shard boundaries) — the checkpoint-resume test stages a
    * prefix, drains, then stages the rest and resumes from the same
    * checkpoint.
    *
    * `cacheKey` (production twins only) routes a FULL stage through
    * [[graft.ops.Scratch.once]]: the shards are built once per
    * (session, key) and `workDir/stream` becomes a symlink to the
    * shared directory.
    * Prefix stages (`upTo`) and workDirs whose stream dir already
    * exists (the crash-resume tests' incremental convention) keep the
    * private in-place path — arrival-order control stays with the
    * test.
    */
  private[streaming] def stageShards(df: DataFrame, workDir: String, n: Int,
      upTo: Option[Int] = None, keyCol: String = "event_id",
      cacheKey: Option[String] = None): String = {
    val link = java.nio.file.Paths.get(workDir, "stream")
    cacheKey match {
      case Some(k) if upTo.isEmpty && !java.nio.file.Files.exists(link) =>
        // the staged files' schema is part of the identity (two twins
        // may stage the same table under different projections); any
        // row-level filter must be in the caller's key
        val shared = graft.ops.Scratch.once(df.sparkSession,
          stageRoot(df.sparkSession).toString,
          s"$k|$n|$keyCol|${df.schema.catalogString}")(p =>
          stageInto(df, java.nio.file.Paths.get(p), n, None, keyCol))
        java.nio.file.Files.createDirectories(link.getParent)
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(shared))
        link.toString
      case _ => stageInto(df, link, n, upTo, keyCol)
    }
  }

  private def stageInto(df: DataFrame, srcDir: java.nio.file.Path, n: Int,
      upTo: Option[Int], keyCol: String): String =
    stageIntoBy(df, srcDir, n, upTo, col(keyCol) % n)

  /** The one staging pass every replayed stream goes through: `df`
    * split by `shardOf` (must produce 0..n-1) into single-file shards
    * `srcDir/shard_<i>.parquet` whose mtimes rise with i, so a file
    * source with `maxFilesPerTrigger=1` replays shard i as micro-batch
    * i. The mod form above is the common case; the ordered replays
    * pass a [[rangeShard]] id, and the sentinel harnesses
    * ([[sessionizeTimeoutToTable]], [[leftOuterIntervalJoinToTable]])
    * route their sentinel rows to the ids after the data shards.
    * `upTo` stages only the shards below it.
    */
  private def stageIntoBy(df: DataFrame, srcDir: java.nio.file.Path, n: Int,
      upTo: Option[Int], shardOf: Column): String = {
    // staging is deterministic, so shards already on disk (a prior
    // prefix-stage before a simulated crash) are simply kept
    val missing = (0 until math.min(n, upTo.getOrElse(n)))
      .filterNot(i => java.nio.file.Files.exists(
        srcDir.resolve(s"shard_$i.parquet")))
    if (missing.nonEmpty) {
      // ONE source pass for all shards (was one full scan + one
      // single-task write PER shard — ~1.5 s × shards of pure staging
      // billed to every streaming bench entry): partitionBy splits the
      // rows by shard directory, and repartition on the shard key puts
      // each shard in exactly one task, so each directory holds
      // exactly one part file to promote.
      val tmp = srcDir.resolveSibling(
        s"${srcDir.getFileName}_stage_tmp").toString
      df.withColumn("__shard", shardOf)
        .where(col("__shard").isin(missing.map(i => Long.box(i.toLong)): _*))
        .repartition(n, col("__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(tmp)
      java.nio.file.Files.createDirectories(srcDir)
      val t0 = System.currentTimeMillis() - 600000
      for (i <- missing) {
        val parts = Option(new java.io.File(s"$tmp/__shard=$i").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
        require(parts.length <= 1,
          s"shard $i staged as ${parts.length} files — mtime ordering " +
            "needs exactly one")
        val part = parts.headOption.getOrElse {
          // no rows landed in this shard (small/filtered corpus, or a
          // range narrower than the shard count) — partitionBy never
          // created the directory, so stage an empty single-file shard
          // instead: the stream must still see exactly n micro-batches.
          // partitionBy strips __shard from the data files, so the
          // empty file's schema is df's own.
          val emptyDir = s"$tmp/__empty_$i"
          df.limit(0).coalesce(1).write.mode("overwrite").parquet(emptyDir)
          new java.io.File(emptyDir).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
        }
        val dst = srcDir.resolve(s"shard_$i.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        // the file source orders micro-batches by mtime — a silently
        // failed set (a filesystem without mtime support) would reorder
        // batches with no signal, so fail loudly instead
        require(dst.toFile.setLastModified(t0 + i * 10000L),
          s"could not set mtime on $dst — batch ordering would be undefined")
      }
    }
    srcDir.toString
  }

  /** Range-shard id of `c` over [lo, hi): shard i starts at
    * lo + i·span/shards, span = max(1, hi − lo), in Long integer
    * division evaluated on the driver — so an event-time- or
    * id-ordered replay arrives in order, one range per micro-batch.
    * For [[stageIntoBy]].
    */
  private def rangeShard(c: Column, lo: Long, hi: Long, shards: Int): Column = {
    val span = math.max(1L, hi - lo)
    (1 until shards).foldLeft(lit(0)) { (acc, i) =>
      when(c >= lo + i * span / shards, lit(i)).otherwise(acc)
    }
  }

  /** Streaming keyed upsert (CDC apply / SCD-type-1 maintenance): the
    * stored table keeps ONE row per user — the latest event by
    * (ts, event_id) — and each micro-batch merges its own per-key
    * argmax into it via foreachBatch, the same versioned
    * write-then-swap as [[mvMergeIngest]]. The argmax is a plain
    * `max(struct(ts, event_id, payload...))` — struct ordering
    * compares field-by-field, and event_id is unique, so the payload
    * fields never decide — which makes the merge associative and
    * commutative: the final table is arrival-order invariant and
    * equals the batch last-row-per-key window query exactly. This is
    * the changelog→table materialization every warehouse ingest needs
    * (Delta MERGE's keep-latest special case) running with O(keys)
    * stored state and O(batch) work per trigger.
    */
  def upsertIngest(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    stageShards(ev, workDir, Shards, cacheKey = Some(s"$dir|events"))
    upsertRun(spark, workDir)
  }

  /** Drain whatever is staged under `workDir/stream` into the upsert
    * chain and return the current table. Separated from the staging so
    * the checkpoint-resume test can drain, "crash", stage more, and
    * call this again — the chain continues from the on-disk versions
    * ([[Store.latestBelow]]), not from any driver-side state.
    */
  private[streaming] def upsertRun(spark: SparkSession,
      workDir: String): DataFrame = {
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      val part = batch.groupBy(col("user_id")).agg(max(struct(col("ts"),
        col("event_id"), col("event_type"), col("value"))).as("s"))
      UpsertTable.write(UpsertTable.latestBelow(spark, workDir, bid)
        .map(_.unionByName(part)
          .groupBy(col("user_id")).agg(max(col("s")).as("s")))
        .getOrElse(part), workDir, bid)
    }
    UpsertTable.latestBelow(spark, workDir).getOrElse(
      throw new IllegalStateException("no micro-batch ran — empty source?"))
      .select(col("user_id"), col("s.ts").as("last_ts"),
        col("s.event_type").as("last_type"), col("s.value").as("last_value"))
  }

  private val UpsertTable = Store("tbl_v", "user_id BIGINT, " +
    "s STRUCT<ts: TIMESTAMP, event_id: BIGINT, event_type: STRING, value: DOUBLE>")

  /** Streaming as-of enrichment — the feature-store lookup pattern:
    * each event is joined to the LATEST order of its customer at or
    * before the event time, against a static dimension. Structured
    * Streaming has no as-of join type, so foreachBatch is the door:
    * every micro-batch runs the native broadcast as-of operator
    * ([[graft.plans.AsOfJoin]] — O(log m) probe per event, zero
    * shuffle of the event side) and appends the enriched rows.
    * Enrichment is row-local against an immutable dim, so the result
    * is arrival-order invariant and equals the batch as-of join
    * exactly — q_stream_asof shares q_asof_join's oracle. At 100 TB/
    * day the same plan runs per trigger with the dim refreshed from a
    * warehouse snapshot between batches; the per-bid store keeps the
    * writes idempotent under micro-batch retry.
    */
  def asofEnrichIngest(spark: SparkSession, dir: String,
      workDir: String): DataFrame = {
    val ords = graft.Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      // date <= timestamp coerces date → midnight; make the cast
      // explicit for the native operator's time key (as q_asof_native)
      .withColumn("o_ts", col("o_orderdate").cast("timestamp"))
    drain(eventsStream(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id")), workDir) {
      (batch, bid) =>
        Enriched.write(graft.plans.AsOfJoin.broadcastAsOf(batch, ords,
            Seq("user_id"), Seq("o_custkey"), "ts", "o_ts", Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("o_orderkey").as("asof_orderkey"),
            col("o_orderdate").as("asof_date")), workDir, bid)
    }
    Enriched.all(spark, workDir)
  }

  private val Enriched = Store("enriched", "event_id BIGINT, " +
    "user_id BIGINT, ts TIMESTAMP, asof_orderkey BIGINT, asof_date TIMESTAMP")

  /** Streaming incremental materialized-view maintenance — the
    * foreachBatch deployment of q_mv_merge: the stored MV is a per-key
    * table of ALGEBRAIC partials (n, decimal total, min, max); each
    * micro-batch aggregates itself once, merges with the stored
    * partials by sum/sum/min/max, and writes the refreshed MV to a
    * batch-id-versioned path (write-new-then-swap, so a reader never
    * sees a half-written view and a micro-batch retry just rewrites
    * its own version). No batch ever re-reads base facts — the daily
    * 100 TB full-table aggregate becomes an O(delta) job per trigger.
    * count/sum/min/max merge commutatively and the money sum rides a
    * decimal, so the final MV equals the full recompute bit-for-bit
    * regardless of how the source files batched up — exactly what the
    * shared q_mv_merge-style oracle asserts. Events are staged as
    * three shards (`maxFilesPerTrigger=1`) so cross-batch merging is
    * genuinely exercised.
    */
  def mvMergeIngest(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    // canonical events staging projection (see forgetStage)
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    stageShards(ev, workDir, Shards, cacheKey = Some(s"$dir|events"))
    mvMergeRun(spark, workDir)
  }

  /** Drain whatever is staged under `workDir/stream` into the MV chain
    * and return the current view — see [[upsertRun]] for why the
    * previous version comes from disk ([[Store.latestBelow]]) rather
    * than driver state: it is what makes restart-from-checkpoint and
    * micro-batch retry both land on exactly-once output.
    */
  private[streaming] def mvMergeRun(spark: SparkSession,
      workDir: String): DataFrame = {
    drainStaged(spark, s"$workDir/stream", workDir) { (batch, bid) =>
      val partial = batch.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("total"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
      // the merge aggregate runs on the first version too, so every
      // version carries the merged type (sum widens total's decimal)
      MvTable.write(MvTable.latestBelow(spark, workDir, bid)
          .fold(partial)(_.unionByName(partial))
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("total")).as("total"),
            min(col("mn")).as("mn"), max(col("mx")).as("mx")),
        workDir, bid)
    }
    MvTable.latestBelow(spark, workDir).getOrElse(
      throw new IllegalStateException("no micro-batch ran — empty source?"))
  }

  private val MvTable = Store("mv_v", "event_type STRING, n BIGINT, " +
    "total DECIMAL(38,2), mn DOUBLE, mx DOUBLE")

  /** Streaming event-transition pairs — the stateful-streaming form of
    * q_transitions: per-user keyed state carries the LAST event type
    * across micro-batches, each batch's rows are ordered (ts,
    * event_id) inside the group (micro-batch iterators arrive in
    * partition order, not time order — the sort is the operator's
    * job), and every consecutive pair is emitted. State is O(1) per
    * user forever — this is the pattern for computing sequence
    * statistics over an unbounded stream, where the batch lead()
    * window would need the whole history. Emitted pairs equal the
    * batch window form row-for-row (asserted in StreamingSpec), so
    * q_stream_transitions shares q_transitions' oracle.
    */
  def transitionsToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    val pairs = ev.groupByKey(_._1)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[String]) =>
          val sorted = rows.toSeq
            .sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          val types = state.getOption.toSeq ++ sorted.map(_._4)
          if (sorted.nonEmpty) state.update(sorted.last._4)
          types.sliding(2).collect { case Seq(a, b) => TransPair(a, b) }
      }
    toMemory(pairs.toDF(), "append", table)
  }

  /** Streaming top-k: complete-mode aggregation with sort+limit INSIDE
    * the streaming query (legal only in complete mode, where every
    * trigger re-emits the full result — the leaderboard deployment).
    * Deterministic tie-break on the key keeps the k-th row stable.
    */
  def topkToTable(spark: SparkSession, dir: String, table: String,
      k: Int): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type")).limit(k)
    toMemory(agg, "complete", table)
  }

  /** Streaming strict-order funnel (view → click → purchase) — the
    * stateful-streaming form of q_funnel: per-user state is three
    * optional stage timestamps (first view, first click after that
    * view, first purchase after that click) — O(1) per user forever,
    * where the batch form re-aggregates the whole history. Each
    * batch's rows fold in (ts, event_id) order; the fold is exact
    * under in-order processing because each stage's candidate events
    * can only qualify against stage times that are already final
    * (a future view/click has ts ≥ the current event, so it can never
    * retroactively lower a min the current event compared against).
    * Like [[transitionsToTable]], cross-batch correctness assumes
    * batches arrive in event-time order (AvailableNow drains history
    * as one batch; continuous operation gates on the watermark).
    * Emits one presence-flag row per user per batch; flags are
    * monotone, so the drained table ORs per user before counting.
    */
  def funnelToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    val probes = ev.groupByKey(_._1)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[
           (Option[Long], Option[Long], Option[Long])]) =>
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          var (tv, tc, tp) = state.getOption.getOrElse(
            (Option.empty[Long], Option.empty[Long], Option.empty[Long]))
          val sorted = rows.toSeq.sortBy(r => (micros(r._2), r._3))
          for ((_, ts, _, typ) <- sorted) {
            val us = micros(ts)
            typ match {
              // strict-> at every stage; ties on ts can't qualify
              case "view" => if (tv.forall(us < _)) tv = Some(us)
              case "click" =>
                if (tv.exists(us > _) && tc.forall(us < _)) tc = Some(us)
              case "purchase" =>
                if (tc.exists(us > _) && tp.forall(us < _)) tp = Some(us)
              case _ =>
            }
          }
          state.update((tv, tc, tp))
          Iterator.single(FunnelProbe(user, tv.isDefined, tc.isDefined, tp.isDefined))
      }
    toMemory(probes.toDF(), "append", table)
  }

  /** Streaming last-touch attribution — the stateful-streaming form of
    * q_attribution: per-user state is just the latest view/click seen
    * (type + micros, O(1) per user forever, where the batch form's
    * LOCF window re-scans history); each purchase emits one credited
    * row the moment it arrives. Like [[transitionsToTable]], rows fold
    * in (ts, event_id) order inside the batch and cross-batch
    * correctness assumes event-time-ordered batches (AvailableNow
    * drains history as one batch). The emitted per-purchase rows
    * aggregate to exactly the batch attribution table, so
    * q_stream_attribution shares q_attribution's oracle.
    */
  def attributionToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
    val credited = ev.groupByKey(_._1)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(String, Long)]) =>
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          var touch = state.getOption
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Double, Option[Long])]
          for ((_, ts, _, typ, value) <-
               rows.toSeq.sortBy(r => (micros(r._2), r._3))) typ match {
            case "view" | "click" => touch = Some((typ, micros(ts)))
            case "purchase" => out += ((touch.map(_._1).getOrElse("direct"),
              value, touch.map(t => micros(ts) - t._2)))
            case _ =>
          }
          touch.foreach(state.update)
          out.iterator
      }
    toMemory(credited.toDF("touch_type", "value", "wait_us"), "append", table)
  }

  /** Custom keyed state via mapGroupsWithState: per-user running event
    * totals (the KeyValueGroupedDataset stateful surface).
    */
  def userTotalsToTable(spark: SparkSession, dir: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val perUser = eventsStream(spark, dir, maxFilesPerTrigger)
      .select(col("user_id").cast("long"))
      .as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserTotal(user, n)
      }
    // The update-mode memory sink keeps one row per user per
    // micro-batch; reduce to the FINAL update per user (n is a running
    // total, strictly increasing across a user's emissions) so the
    // result is correct however the source files batch up — same
    // robustness contract as [[userStatsTwsToTable]].
    toMemory(perUser.toDF(), "update", table)
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n"))
  }

  /** [[UserStatProcessor]] driven over the event stream: the
    * transformWithState execution path (requires the RocksDB state
    * store provider — virtual-column-family state layout). The
    * provider swap and the checkpoint root are scoped to this query's
    * run ([[toMemory]]); a production job sets them once in the
    * session conf.
    */
  def userStatsTwsToTable(spark: SparkSession, dir: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val perUser = eventsStream(spark, dir, maxFilesPerTrigger)
      .select(col("user_id").cast("long"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserStatProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    val sink = toMemory(perUser.toDF(), "update", table,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.checkpointLocation" ->
        graft.util.WorkDirs.temp("graft_tws"))
    // The update-mode memory sink accumulates one row per user per
    // micro-batch; reduce to each user's FINAL update so the result
    // doesn't depend on the source arriving as exactly one batch
    // (extra files / maxFilesPerTrigger would otherwise duplicate
    // users). n strictly increases across a user's updates — every
    // emission follows ≥1 new event — so max_by(…, n) is the last
    // one.
    sink.groupBy(col("user_id"))
      .agg(max_by(struct(col("n"), col("total_cents")), col("n")).as("s"))
      .select(col("user_id"), col("s.n").as("n"),
        col("s.total_cents").as("total_cents"))
  }
}
