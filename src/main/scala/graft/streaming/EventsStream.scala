package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface. The reference has NO streaming — its
  * cron-driven file-landing + MySQL status ledger (main.py:33-49, 318-334)
  * is a hand-rolled micro-batch loop. The Spark-native subsumption is
  * exactly this module: `readStream` + `Trigger.AvailableNow` +
  * checkpointing replaces the ledger (exactly-once file tracking comes
  * from the checkpoint log), and watermarked event-time windows replace
  * nothing the reference has — they are the beyond-parity streaming
  * capability (SURVEY.md §2.10).
  *
  * Scale notes: windowed aggregation state is keyed by (window, type) —
  * bounded by watermark eviction; sessionization state is per-user and
  * evicted on timeout, so state size tracks ACTIVE keys, not history.
  */
object EventsStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserSession(user_id: Long, session_start: Timestamp,
                         session_end: Timestamp, n_events: Long, total_value: Double)

  /** File-source streaming read of an events directory (parquet). With
    * `Trigger.AvailableNow` this is the ledger-replacement batch-ingest:
    * each file is processed exactly once per checkpoint.
    */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // file streams need an explicit schema; take it from a batch read of
    // the already-landed directory so it tracks whatever ts encoding the
    // testdata generation shipped (nanos-as-long, naive micros, …) and
    // let the shared normalizer produce the UTC-instant TimestampType
    // every downstream watermark/window expects. If NO file has landed
    // yet (a stream defined ahead of its producer), parquet inference
    // throws — fall back to the canonical Event schema, which the shared
    // normalizer passes through unchanged.
    val schema =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("infer schema") ||
               e.getMessage.contains("Path does not exist") =>
          org.apache.spark.sql.Encoders.product[Event].schema
      }
    val reader = spark.readStream.schema(schema)
    // maxFilesPerTrigger splits an AvailableNow run into MULTIPLE
    // micro-batches — the knob that turns "one big batch" into a real
    // cross-batch state-store exercise (q56)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeTs(reader.parquet(dir), "ts")
  }

  /** Watermarked tumbling-window aggregation: hourly event counts and
    * exact value sums per type; late data beyond 30 minutes dropped. */
  def hourlyAggregates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based sessionization with explicit per-user state
    * (flatMapGroupsWithState): a session closes when `gapMinutes` pass
    * with no event (processing-time timeout in streaming; end-of-group in
    * batch tests). Emits one row per closed session.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMinutes: Int = 30): Dataset[UserSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    // full microsecond precision for BOTH ordering and the gap test:
    // getTime alone truncates to millis, which would disagree with an
    // engine comparing exact timestamps when a gap straddles the
    // threshold within a millisecond
    def micros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val gapUs = gapMs * 1000L

    def close(userId: Long, evs: Seq[Event]): Seq[UserSession] = {
      if (evs.isEmpty) Nil
      else {
        val sorted = evs.sortBy(e => micros(e.ts))
        val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[Event]]
        var current = scala.collection.mutable.ArrayBuffer(sorted.head)
        sorted.tail.foreach { e =>
          if (micros(e.ts) - micros(current.last.ts) > gapUs) {
            sessions += current.toSeq
            current = scala.collection.mutable.ArrayBuffer(e)
          } else current += e
        }
        sessions += current.toSeq
        sessions.map { s =>
          // exact decimal accumulation: double-sum order would perturb low
          // bits and break cross-engine value parity
          val total = s.map(e => BigDecimal.valueOf(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
          UserSession(userId, s.head.ts, s.last.ts, s.size.toLong, total.toDouble)
        }.toSeq
      }
    }

    events.groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout()) {
      (userId: Long, it: Iterator[Event], state: GroupState[Seq[Event]]) =>
        val all = state.getOption.getOrElse(Seq.empty) ++ it
        // batch mode: group is complete, close all sessions now.
        // streaming mode would buffer in state and flush on timeout;
        // NoTimeout + full flush keeps the same observable output per batch.
        state.remove()
        close(userId, all).iterator
    }
  }

  /** Streaming-correct gap sessionization with EVENT-TIME timeouts — the
    * contract [[sessionize]]'s NoTimeout close-all form cannot give: a
    * user's history may arrive across MANY micro-batches, and a session
    * is emitted exactly when the watermark proves it complete (watermark
    * > session end + gap, so any would-be member event is by then
    * guaranteed dropped as late). Open sessions stay in per-user state;
    * users idle in a batch are closed by the state-store timeout
    * (`setTimeoutTimestamp` at open-end + gap), not by data arrival.
    *
    * Scale notes: state per user is the OPEN suffix of their event
    * stream only — closed sessions leave state immediately, so state
    * size tracks concurrently-active users × open-session length, not
    * history. Emission is monotone in the watermark: sessions ending
    * more than (delay + gap) before the max event time seen are always
    * out, which is the determinism window q58's oracle filter uses. */
  def sessionizeEventTime(spark: SparkSession, events: Dataset[Event],
                          gapMinutes: Int = 30,
                          delayMinutes: Int = 30): Dataset[UserSession] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def micros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000

    def toSessions(evs: Seq[Event]): Seq[Seq[Event]] = {
      val sorted = evs.sortBy(e => micros(e.ts))
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Event]]
      var cur = scala.collection.mutable.ArrayBuffer(sorted.head)
      sorted.tail.foreach { e =>
        if (micros(e.ts) - micros(cur.last.ts) > gapUs) {
          out += cur.toSeq
          cur = scala.collection.mutable.ArrayBuffer(e)
        } else cur += e
      }
      out += cur.toSeq
      out.toSeq
    }

    def emit(userId: Long, s: Seq[Event]): UserSession = {
      val total = s.map(e => BigDecimal.valueOf(e.value)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      UserSession(userId, s.head.ts, s.last.ts, s.size.toLong, total.toDouble)
    }

    events.withWatermark("ts", s"$delayMinutes minutes")
      .groupByKey(_.user_id).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[Seq[Event]]) =>
          val buf = state.getOption.getOrElse(Seq.empty) ++ it
          if (buf.isEmpty) { state.remove(); Iterator.empty }
          else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val sessions = toSessions(buf)
            // a session can still gain a member while end + gap >= wm
            // (a joining event has ts <= end + gap, and only ts < wm is
            // guaranteed dropped). Spark's late filter actually drops
            // ts <= wm (boundary equality is late — pinned empirically
            // in StreamingSpec), so this close predicate is one notch
            // conservative: a session with end + gap == wm stays open
            // one more batch and closes via timeout. Correct under
            // either filter semantics. Session ends ascend, so the
            // closed set is a prefix
            val closed = sessions.takeWhile(s => micros(s.last.ts) + gapUs < wmUs)
            val open = sessions.drop(closed.length)
            if (open.isEmpty) state.remove()
            else {
              state.update(open.flatten)
              // fire when the watermark passes the FIRST open session's
              // close horizon; must be strictly beyond the current
              // watermark or the state store rejects it
              val fireMs = (micros(open.head.last.ts) + gapUs) / 1000L + 1L
              state.setTimeoutTimestamp(
                math.max(fireMs, state.getCurrentWatermarkMs() + 1L))
            }
            closed.iterator.map(emit(userId, _))
          }
      }
  }

  /** Streaming deduplication on event_id with watermark-bounded state:
    * duplicates arriving within the watermark horizon are dropped, state
    * for ids older than the watermark is evicted (without the watermark
    * the dedup map grows unboundedly — the difference between a demo and
    * something that survives a month of uptime). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Keyed streaming dedup on arbitrary columns with a caller-chosen
    * watermark horizon. Same state-store operator as [[dedupEvents]];
    * the horizon is the state-size/recall trade: duplicates arriving
    * within `delay` of the first occurrence are guaranteed dropped,
    * state older than the watermark is evicted. A `delay` longer than
    * the dataset's time span makes the streaming result EXACTLY equal
    * to batch `SELECT DISTINCT keys` — the property q56's oracle
    * checks; production picks a real horizon and accepts bounded
    * re-admission instead (unit-tested in StreamingSpec). */
  def dedupEventsByKey(events: DataFrame, keys: Seq[String],
                       delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: each "click" joined to the same user's
    * "view" events within the following `windowMinutes`. Both sides carry
    * watermarks so the join state for expired intervals is evicted —
    * the state-bounding contract that makes a stream-stream join runnable
    * indefinitely. */
  def clickToViewJoin(events: DataFrame, windowMinutes: Int = 10,
                      delay: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    clicks.join(views,
      col("user_id") === col("v_user_id") &&
      col("view_ts") >= col("click_ts") &&
      col("view_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("click_ts"), col("view_ts"))
  }

  /** Run the hourly aggregate over a static directory via AvailableNow —
    * the exactly-once batch-ingest entry (ledger subsumption). */
  def runAvailableNow(spark: SparkSession, dir: String, checkpoint: String,
                      outDir: String,
                      statePartitions: Option[Int] = None): Unit =
    runAvailableNowTo(hourlyAggregates(readEventsStream(spark, dir)),
      checkpoint, outDir, statePartitions)

  /** Session confs [[runAvailableNowTo]] pins around every run (and
    * restores after) — exposed so StreamingSpec can assert the exact
    * state-store contract the production path ships with:
    *
    *  - RocksDB provider: at 100x state the heap-backed default holds
    *    every state row ON HEAP — the scale-killer watermark eviction
    *    cannot fix, because the bound is live keys, not history; RocksDB
    *    keeps state off-heap, so state capacity tracks local disk, not
    *    executor heap. Part of the checkpoint contract: chosen before
    *    the first batch and kept for the checkpoint's life.
    *  - Changelog checkpointing: per-batch DELTAS instead of a full
    *    RocksDB snapshot per store per micro-batch, so snapshot cost
    *    amortizes across batches instead of being the per-commit
    *    constant. Part of the checkpoint contract — must not flip
    *    mid-checkpoint.
    *  - Bounded native memory: block cache + write buffers for EVERY
    *    state store in the JVM come from one shared budget
    *    (`maxMemoryUsageMB`, default 512, env-overridable via
    *    `SPARK_GRAFT_ROCKSDB_MEM_MB`) instead of per-store defaults
    *    that scale with however many stores (streams x partitions) one
    *    executor hosts. Without the cap, state-store native memory is
    *    open-ended — invisible to the JVM heap but very visible to the
    *    OS. The budget is a deliberate capacity decision, like
    *    statePartitions. */
  /** The shared RocksDB native-memory budget, validated LOUDLY: this is
    * the exact knob whose silent misconfiguration caused the round-11
    * bench drift, so an unparsable or sub-64MB override is an error, not
    * a quiet fall-through to the default — the operator asked for a
    * specific capacity and must learn they did not get it. */
  private[graft] def rocksDbMemMb: Int =
    parseRocksDbMemMb(sys.env.get("SPARK_GRAFT_ROCKSDB_MEM_MB"))
  private[graft] def parseRocksDbMemMb(raw: Option[String]): Int =
    raw.fold(512) { r =>
      val parsed = r.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_ROCKSDB_MEM_MB='$r' is not an integer"))
      require(parsed >= 64,
        s"SPARK_GRAFT_ROCKSDB_MEM_MB=$parsed is below the 64 MB floor " +
          "(a budget that small thrashes every state store in the JVM)")
      parsed
    }

  private[graft] def streamingRunConfs(
      statePartitions: Option[Int]): Seq[(String, String)] = {
    val rocksPrefix = "spark.sql.streaming.stateStore.rocksdb."
    statePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq ++
      Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        rocksPrefix + "changelogCheckpointing.enabled" -> "true",
        rocksPrefix + "boundedMemoryUsage" -> "true",
        rocksPrefix + "maxMemoryUsageMB" -> rocksDbMemMb.toString)
  }

  /** Drain any streaming Dataset to a parquet sink under
    * `Trigger.AvailableNow` (append mode) and block until done — the
    * shared exactly-once runner behind q54/q56-q59: the checkpoint's
    * file-source log is the ledger, so a re-run against the same
    * checkpoint processes only files it has not seen.
    *
    * `statePartitions` sizes the stateful-operator partition count for
    * THIS query (set as spark.sql.shuffle.partitions around start, then
    * restored): state partitioning is a per-stream capacity decision the
    * first batch locks into the checkpoint forever, so it must be chosen
    * deliberately — a state store per partition pays fixed commit/
    * snapshot I/O EVERY micro-batch whether or not it holds keys, which
    * is pure overhead when the keyspace is small, and a too-small count
    * caps stateful parallelism forever when it is not. Size it to
    * expected state volume (keys x bytes / executor memory), not to the
    * session's batch-shuffle default. None inherits the session conf.
    *
    * Returns the per-micro-batch [[StreamingQueryProgress]] history —
    * the observability surface a ledger-replacement pipeline alerts on
    * (rows dropped as late, state rows, batch durations); see
    * [[progressSummary]] for the DataFrame form. */
  def runAvailableNowTo(ds: Dataset[_], checkpoint: String,
                        outDir: String,
                        statePartitions: Option[Int] = None)
      : Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val spark = ds.sparkSession
    graft.Sessions.withConf(spark, streamingRunConfs(statePartitions): _*) {
      // collect per-batch progress through a listener, NOT q.recentProgress:
      // recentProgress is a ring buffer capped by
      // spark.sql.streaming.numRecentProgressUpdates (default 100), so a
      // run with more micro-batches would silently truncate the history
      // q60 hash-checks as its metrics contract. Events are filtered by
      // runId AFTER termination (not inside the callback) because the
      // first batch of a tiny fixture can complete before start() returns.
      // Completeness: the listener bus is FIFO per listener and the
      // terminated event is posted after the last progress event, so once
      // we have seen OUR terminated event the progress list is provably
      // the whole run.
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val progressEvents =
        new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.streaming.StreamingQueryProgress]()
      val terminatedRuns =
        java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          progressEvents.add(e.progress); ()
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
          terminatedRuns.add(e.runId); ()
        }
      }
      spark.streams.addListener(listener)
      try {
        val q = ds.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!terminatedRuns.contains(q.runId) && System.nanoTime() < deadline)
          Thread.sleep(10)
        require(terminatedRuns.contains(q.runId),
          s"listener never saw termination of run ${q.runId} — progress history incomplete")
        import scala.jdk.CollectionConverters._
        progressEvents.iterator().asScala
          .filter(_.runId == q.runId).toArray
          .sortBy(_.batchId)
      } finally spark.streams.removeListener(listener)
    }
  }

  /** The streaming observability surface as a small DataFrame: one row
    * per micro-batch with the numbers a production pipeline alerts on —
    * input volume, rows the watermark dropped as late, state-store row
    * counts and update churn, batch duration. Aggregated from the
    * engine's own [[StreamingQueryProgress]]; a one-batch-per-row frame
    * is driver-sized by construction (micro-batch counts, not data). */
  def progressSummary(spark: SparkSession,
                      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : DataFrame = {
    import spark.implicits._
    progress.map { p =>
      val st = p.stateOperators
      (p.batchId, p.numInputRows,
        st.map(_.numRowsDroppedByWatermark).sum,
        st.map(_.numRowsTotal).sum,
        st.map(_.numRowsUpdated).sum,
        p.batchDuration)
    }.toDF("batch_id", "num_input_rows", "rows_dropped_by_watermark",
      "state_rows_total", "state_rows_updated", "batch_duration_ms")
  }
}
