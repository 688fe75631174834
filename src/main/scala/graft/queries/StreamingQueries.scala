package graft.queries

import graft.{Sessions, Tables}
import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog rows that run the ACTUAL Structured Streaming engine — not a
  * batch analogue — and hash-compare its output against a batch DuckDB
  * oracle. StreamingSpec unit-tests the stateful operators; these rows
  * make the streaming runtime itself driver-visible: a regression in the
  * file source, watermark bookkeeping, state-store aggregation/dedup,
  * flatMapGroupsWithState plumbing, or the AvailableNow trigger breaks a
  * CORRECTNESS row, not just a unit test.
  *
  * q54: windowed aggregation state. q56: dropDuplicatesWithinWatermark
  * state, exercised ACROSS micro-batches. q57: flatMapGroupsWithState
  * sessionization. Together the three cover every stateful shape the
  * streaming module ships.
  */
object StreamingQueries {

  /** State-store partition count for the catalog's streaming rows. Every
    * state partition pays fixed commit + maintenance I/O per micro-batch
    * whether or not it holds keys; the fixtures' stateful keyspaces are
    * thousands of keys, where the session default (32, sized for batch
    * shuffles) is ~4x pure per-batch overhead — measured, it is most of
    * q59's wall time. 8 still exercises real multi-partition state
    * (store lookups cross partitions, HashPartitioner routing, per-
    * partition commits). At production volume this number is a capacity
    * decision — state bytes / executor memory — made per stream and
    * locked into the checkpoint by the first batch; see
    * EventsStream.runAvailableNowTo. */
  private val statePartitions: Option[Int] = Some(8)

  /** Copy the events fixture into a landing directory as-is (one part
    * file per fixture part, deterministic names). Idempotent:
    * REPLACE_EXISTING keeps names stable, so a re-run lands no NEW files
    * and a checkpointed stream over the directory is a no-op — which is
    * what makes multi-rep benching measure a warm, idempotent pipeline.
    */
  private def landFixture(dir: String, landing: String): Unit = {
    new java.io.File(landing).mkdirs()
    // fixture today is a single parquet file; if it ever becomes a
    // directory-style dataset, copy every part file rather than silently
    // landing an empty dir (the stream would emit nothing and the
    // failure would only surface at oracle-compare time)
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val parts: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isRegularFile(src)) Seq(src)
      else if (java.nio.file.Files.isDirectory(src)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(src).iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p))
          .toSeq.sortBy(_.getFileName.toString)
      } else sys.error(s"streaming fixture $src is neither a file nor a directory")
    require(parts.nonEmpty, s"no parquet part files under $src")
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p,
        java.nio.file.Paths.get(landing, f"events_$i%05d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Land the events fixture split into `nFiles` ts-range part files —
    * the multi-micro-batch landing for q56. Guarded on a terminal
    * marker, not on "any parquet present": a driver killed mid-landing
    * leaves a partial fixture that an any-file guard would accept
    * forever, surfacing as an oracle mismatch instead of a re-land
    * (TempPaths.isComplete). The guard matters doubly here because a
    * range-partitioned rewrite generates fresh task-UUID file names
    * every call — re-landing under new names would make the file source
    * reprocess everything each rep. */
  private def landFixtureSplit(spark: SparkSession, dir: String,
                               landing: String, nFiles: Int): Unit = {
    if (!graft.io.TempPaths.isComplete(landing)) {
      // raw read (ts stays a nanos long) so the landed schema matches
      // what readEventsStream declares
      spark.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(nFiles, col("ts"))
        .write.mode("overwrite").parquet(landing)
      // the file source orders batches by MODIFICATION TIME, and the
      // range write's parallel tasks finish in arbitrary order — without
      // explicit ascending modTimes a later-ts part could batch before
      // an earlier-ts one, advance the watermark, and get the earlier
      // part's rows dropped as late (range part index N = ts range N,
      // so name order is time order)
      val parts = Option(new java.io.File(landing).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 10000L
      parts.zipWithIndex.foreach { case (f, i) =>
        // fail LOUDLY if the filesystem refuses the mtime: without the
        // ascending-modTime guarantee a later-ts part could batch first,
        // advance the watermark, and silently drop earlier rows as late —
        // a nondeterministic oracle mismatch instead of a setup error
        require(f.setLastModified(base + i * 10000L),
          s"failed to set mtime on $f — cannot guarantee batch order")
      }
      graft.io.TempPaths.markComplete(landing)
    }
  }

  /** q54 — watermarked hourly aggregation executed by the streaming
    * engine under `Trigger.AvailableNow` (the exactly-once ledger
    * subsumption path: file source + checkpoint), read back from the
    * parquet sink.
    *
    * Append mode emits exactly the windows whose end fell at-or-below
    * the final watermark (max event time - 30 min; the closed-window
    * set StreamingSpec pins). To keep the oracle free of the eviction
    * boundary's <=-vs-< fine print, BOTH sides filter one full window
    * stricter — end <= watermark - 1 hour. Window ends are exactly one
    * hour apart, so every window passing the stricter filter is
    * unambiguously emitted, and the filtered stream output must equal
    * the filtered batch aggregate bit-for-bit (counts and exact-decimal
    * value sums are arrival-order-free, so multi-batch state merging
    * cannot perturb them).
    *
    * Scale notes: state is (window, type)-keyed and watermark-evicted;
    * the sink is an ordinary partitionable parquet write; the read-back
    * filter needs max(ts), computed as a one-row broadcast — no
    * collect. Re-running against the same checkpoint is a no-op (the
    * file source records processed files), so bench repetitions measure
    * a warm, idempotent pipeline. */
  def q54StreamingHourly(spark: SparkSession, dir: String): DataFrame = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q54_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q54_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q54_out", dir)
    landFixture(dir, landing)
    EventsStream.runAvailableNow(spark, landing, ckpt, out, statePartitions)
    val mx = Tables.events(spark, dir)
      .agg(max(unix_millis(col("ts"))).as("mx_ms"))
    spark.read.parquet(out)
      .crossJoin(broadcast(mx))
      .filter(unix_millis(col("hour")) + 3600000L <=
        col("mx_ms") - 1800000L - 3600000L)
      .select(substring(col("hour").cast("string"), 1, 13).as("hour"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  val q54Sql: String =
    """WITH m AS (SELECT epoch_ms(MAX(ts)) AS mx_ms FROM events),
      |h AS (
      |  SELECT date_trunc('hour', ts) AS hr, event_type,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1, 2)
      |SELECT substring(CAST(hr AS VARCHAR), 1, 13) AS hour, event_type,
      |  n_events, total_value
      |FROM h, m
      |WHERE epoch_ms(hr) + 3600000 <= mx_ms - 1800000 - 3600000""".stripMargin

  /** q56 — streaming keyed dedup (`dropDuplicatesWithinWatermark`)
    * executed ACROSS micro-batches: the fixture lands as four ts-range
    * files and `maxFilesPerTrigger=1` forces AvailableNow to run four
    * batches, so a duplicate of a key first seen in batch 1 is dropped
    * by a state-store lookup in batch 3 — the cross-batch path a
    * single-batch run would never touch. Key is (hour, user, type),
    * the same survivor-key set as batch q41.
    *
    * The watermark horizon (90 days) exceeds the fixture's 30-day span,
    * so no state is evicted mid-run and the streaming output is exactly
    * batch `SELECT DISTINCT` — what the oracle checks. Only the key
    * columns are emitted: WHICH physical row survives is arrival-order
    * nondeterminism the contract deliberately does not expose.
    * Production picks a real horizon (state tracks the active window,
    * not history) and accepts re-admission beyond it; that eviction
    * fine print is unit-tested in StreamingSpec. */
  def q56StreamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q56_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q56_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q56_out", dir)
    landFixtureSplit(spark, dir, landing, nFiles = 4)
    val keyed = EventsStream
      .readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
      .withColumn("hour",
        substring(date_trunc("hour", col("ts")).cast("string"), 1, 13))
    val deduped = EventsStream
      .dedupEventsByKey(keyed, Seq("hour", "user_id", "event_type"), "90 days")
      .select(col("hour"), col("user_id"), col("event_type"))
    EventsStream.runAvailableNowTo(deduped, ckpt, out, statePartitions)
    spark.read.parquet(out)
      .select(col("hour"), col("user_id"), col("event_type"))
  }

  val q56Sql: String =
    """SELECT DISTINCT
      |  substring(CAST(date_trunc('hour', ts) AS VARCHAR), 1, 13) AS hour,
      |  user_id, event_type
      |FROM events""".stripMargin

  /** q57 — gap-based sessionization (`flatMapGroupsWithState`) executed
    * by the streaming engine: per-user GroupState is created, read and
    * removed by the real state-store plumbing, and the emitted sessions
    * must hash-match the p15 relational oracle (lag/cumulative-sum
    * sessionization in SQL).
    *
    * Lands as ONE file → one micro-batch: the NoTimeout close-all
    * contract sessionize documents (flush complete groups per batch)
    * only equals the batch answer when each user's history arrives in
    * one batch. That is exactly the AvailableNow ledger-ingest shape —
    * a nightly landing processed whole. The continuous multi-batch
    * variant needs event-time timeouts and is a different contract;
    * the single-batch row pins the engine-side plumbing (group
    * iteration, state lifecycle, encoder round-trip, append sink). */
  def q57StreamingSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q57_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q57_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q57_out", dir)
    landFixture(dir, landing)
    val ev = EventsStream.readEventsStream(spark, landing)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventsStream.Event]
    val sessions = EventsStream.sessionize(spark, ev, gapMinutes = 30)
    EventsStream.runAvailableNowTo(sessions, ckpt, out, statePartitions)
    spark.read.parquet(out).select(col("user_id"),
      unix_micros(col("session_start")).as("session_start_us"),
      unix_micros(col("session_end")).as("session_end_us"),
      col("n_events"), col("total_value"))
  }

  /** q58 — sessionization under the STREAMING contract: event-time
    * timeouts + watermark-proved completion, run across four
    * micro-batches (ts-range landing with ascending modTimes +
    * `maxFilesPerTrigger=1`). Unlike q57's one-batch NoTimeout form,
    * per-user state here genuinely persists across batches: a session
    * begun in batch 1 can be extended in batch 2 and is emitted either
    * when a later batch's data closes it or when the state-store
    * timeout fires after the watermark passes its end + gap (including
    * the post-final-batch timeout round AvailableNow runs when the last
    * batch advanced the watermark).
    *
    * Only sessions the watermark PROVABLY completed are emitted, so both
    * sides filter to session_end <= max(ts) - (delay + gap + one extra
    * gap of margin): every such session is unambiguously closed by the
    * final watermark, keeping the oracle free of the <=-vs-< eviction
    * fine print (the q54 device). */
  def q58StreamingSessionizeEventTime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q58_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q58_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q58_out", dir)
    landFixtureSplit(spark, dir, landing, nFiles = 4)
    val ev = EventsStream.readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventsStream.Event]
    val sessions = EventsStream.sessionizeEventTime(spark, ev,
      gapMinutes = 30, delayMinutes = 30)
    EventsStream.runAvailableNowTo(sessions, ckpt, out, statePartitions)
    val mx = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts"))).as("mx_us"))
    spark.read.parquet(out)
      .crossJoin(broadcast(mx))
      .filter(unix_micros(col("session_end")) <= col("mx_us") - lit(5400000000L))
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("total_value"))
  }

  val q58Sql: String =
    """WITH m AS (SELECT epoch_us(MAX(ts)) AS mx_us FROM events),
      |e AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e),
      |g AS (
      |  SELECT user_id,
      |    epoch_us(min(ts)) AS session_start_us,
      |    epoch_us(max(ts)) AS session_end_us,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM s GROUP BY user_id, sid)
      |SELECT user_id, session_start_us, session_end_us, n_events, total_value
      |FROM g, m WHERE session_end_us <= mx_us - 5400000000""".stripMargin

  /** q59 — STREAM-STREAM interval join executed by the real engine
    * across four micro-batches: clicks joined to the same user's views
    * within 10 minutes, both sides watermarked, join state carried in
    * the state store — a click landing in batch k is matched by a view
    * arriving in batch k+1 via a state lookup. The watermark horizon
    * (90 days) exceeds the fixture span so no join state is evicted
    * mid-run and the streaming output is exactly the batch interval
    * join (the p27 oracle); production picks a real horizon, bounding
    * state to the active window (eviction fine print unit-tested in
    * StreamingSpec). Completes the driver-visible streaming surface:
    * windowed agg (q54), keyed dedup (q56), sessionization (q57/q58),
    * stream-stream join (q59). */
  def q59StreamingIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedEventsModuloLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q59_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q59_out", dir)
    val joined = EventsStream.clickToViewJoin(
      EventsStream.readEventsStream(spark, landing, maxFilesPerTrigger = Some(1)),
      windowMinutes = 10, delay = "90 days")
    EventsStream.runAvailableNowTo(joined, ckpt, out, statePartitions)
    spark.read.parquet(out)
      .select(col("click_id"), col("view_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("view_ts")).as("view_us"))
  }

  /** Land the events fixture split into `nFiles` part files by
    * `event_id % nFiles` — the DETERMINISTIC split q60 needs: its
    * output hashes PER-BATCH numbers, so each batch's contents must be
    * engine-replayable (a ts-range split's boundaries come from range
    * sampling, which the oracle cannot replay). Ascending modTimes pin
    * batch order = index order; ts values interleave across files, which
    * is harmless here because the watermark horizon exceeds the fixture
    * span (nothing is ever late). */
  private def landFixtureModulo(spark: SparkSession, dir: String,
                                landing: String, nFiles: Int): Unit = {
    // terminal-marker guard (TempPaths.isComplete): a kill after 2 of 4
    // moves must re-land, not hand the stream a partial fixture
    if (!graft.io.TempPaths.isComplete(landing)) {
      new java.io.File(landing).mkdirs()
      // TempPaths-owned staging (appId in the name + exit-hook cleanup):
      // a bare createTempDirectory here strands an anonymous dir on a
      // mid-land kill that only the 2h idle sweep can reclaim
      val staging = java.nio.file.Paths.get(
        graft.io.TempPaths.uniqueScratchDir(spark, "graft_q60_stage", landing))
      java.nio.file.Files.createDirectories(staging)
      // ONE write job for all slices (the landSlices device, r21): the
      // per-slice filter+coalesce loop paid one scan + job round-trip
      // per slice inside the timed row. The modulo tag routes each
      // slice to one task, so each __slice=i directory holds exactly
      // one part file and the partition column never enters the files.
      spark.read.parquet(s"$dir/events.parquet")
        .withColumn("__slice", col("event_id") % nFiles)
        .repartition(nFiles, col("__slice"))
        .write.mode("overwrite").partitionBy("__slice")
        .parquet(staging.toString)
      (0 until nFiles).foreach { i =>
        // an EMPTY slice legally produces no __slice=i directory under
        // the dynamic-partition write (a skewed or tiny scale factor
        // where a modulo slice selects nothing — ADVICE r21); skip it
        // instead of NPE-ing on .get/.head. Batch ordering compresses,
        // which the downstream stream handles like any absent file.
        Option(staging.resolve(s"__slice=$i").toFile.listFiles()).toSeq
          .flatten.filter(_.getName.endsWith(".parquet")).headOption
          .foreach { part =>
            java.nio.file.Files.move(part.toPath,
              java.nio.file.Paths.get(landing, f"events_$i%05d.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      val parts = Option(new java.io.File(landing).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 10000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 10000L),
          s"failed to set mtime on $f — cannot guarantee batch order")
      }
      graft.io.TempPaths.markComplete(landing)
    }
  }

  /** The SHARED events modulo landing (optimization r22, VERDICT r21
    * item 4 — the q68/q70/q73 shared-landing device applied to the
    * events fixture): q59, q60, q61 and q65 all consume the SAME
    * deterministic `event_id % 4` split of one fixture, so they land it
    * under ONE path — any epoch-0 context running several of these rows
    * (Verify, tests, ad-hoc sessions) pays one landing instead of four.
    * q59 previously landed a ts-range split; its output is
    * split-independent (the 90-day horizon exceeds the fixture span, so
    * the inner interval join emits exactly the batch join whatever the
    * batching — q65 already runs the identical operator over this
    * modulo landing and hash-pins its state accounting). Scratch
    * lifecycles stay isolated: only the LANDING is shared; each row
    * keeps its own checkpoint/sink/metrics dirs. Locked like every
    * shared landing — concurrent callers must not interleave part-file
    * moves / mtime stamping. */
  private def sharedEventsModuloLanding(spark: SparkSession,
                                        dir: String): String = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_evmod_in", dir)
    graft.io.TempPaths.withLandingLock(landing) {
      landFixtureModulo(spark, dir, landing, nFiles = 4)
    }
    landing
  }

  /** q60 — the STREAMING ENGINE'S OWN METRICS as a hash-checked row:
    * the keyed dedup of q56 runs across four deterministic micro-batches
    * (event_id % 4 file split, maxFilesPerTrigger=1), and the row emits
    * the engine's per-batch StreamingQueryProgress numbers — input rows,
    * rows dropped by the watermark, state-store rows after the batch.
    * The oracle recomputes what those numbers MUST be from the data:
    * batch k's input is the modulo-k slice, nothing is droppable under
    * the 90-day horizon, and the state row count after batch k is the
    * cumulative distinct-key count over slices 0..k. A hash mismatch
    * here means the observability surface lies about the state store —
    * the failure mode that makes production alerting worthless.
    *
    * Metrics are persisted next to the sink on first run and read back,
    * so a checkpoint-resumed re-run (no new files → no new batches →
    * empty progress) stays idempotent like every other streaming row. */
  def q60StreamingMetrics(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedEventsModuloLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q60_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q60_out", dir)
    val metricsDir = graft.io.TempPaths.scratchDir(spark, "graft_q60_metrics", dir)
    if (!graft.io.TempPaths.isComplete(metricsDir)) {
      val keyed = EventsStream
        .readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
        .withColumn("hour",
          substring(date_trunc("hour", col("ts")).cast("string"), 1, 13))
      val deduped = EventsStream
        .dedupEventsByKey(keyed, Seq("hour", "user_id", "event_type"), "90 days")
        .select(col("hour"), col("user_id"), col("event_type"))
      val progress =
        EventsStream.runAvailableNowTo(deduped, ckpt, out, statePartitions)
      EventsStream.progressSummary(spark, progress.toSeq)
        .filter(col("num_input_rows") > 0)
        .select(col("batch_id"), col("num_input_rows"),
          col("rows_dropped_by_watermark"), col("state_rows_total"))
        .coalesce(1).write.mode("overwrite").parquet(metricsDir)
      graft.io.TempPaths.markComplete(metricsDir)
    }
    spark.read.parquet(metricsDir)
  }

  val q60Sql: String =
    """WITH b AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS batch_id,
      |    substring(CAST(date_trunc('hour', ts) AS VARCHAR), 1, 13) AS hour,
      |    user_id, event_type
      |  FROM events),
      |per AS (
      |  SELECT batch_id, COUNT(*) AS num_input_rows FROM b GROUP BY batch_id),
      |first_seen AS (
      |  SELECT hour, user_id, event_type, MIN(batch_id) AS fb
      |  FROM b GROUP BY hour, user_id, event_type)
      |SELECT p.batch_id, p.num_input_rows,
      |  CAST(0 AS BIGINT) AS rows_dropped_by_watermark,
      |  (SELECT COUNT(*) FROM first_seen f WHERE f.fb <= p.batch_id)
      |    AS state_rows_total
      |FROM per p""".stripMargin

  /** q61 — streaming keyed UPSERT through `foreachBatch`: four
    * micro-batches MERGE into a bucket-partitioned parquet table
    * holding the latest row per (user_id, event_type) — the
    * ledger/mart maintenance shape for sinks without a transactional
    * streaming log (the reference's JDBC mart upserts). "Latest" =
    * highest event_id, a unique per-key version, so the final table is
    * split-independent and the oracle is one argmax over the raw
    * events. Each batch rewrites ONLY its affected bucket partitions
    * (merge-on-affected-partitions + dynamic partition overwrite);
    * idempotence of the merge — not sink transactionality — is what
    * makes WAL replay exactly-once (proved under a mid-batch crash in
    * RecoverySpec, and by replaying a committed batch in
    * StreamingSpec). */
  def q61StreamingUpsert(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedEventsModuloLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q61_ckpt", dir)
    val target = graft.io.TempPaths.scratchDir(spark, "graft_q61_tbl", dir)
    graft.streaming.UpsertSink.runUpsertLatest(
      EventsStream.readEventsStream(spark, landing,
        maxFilesPerTrigger = Some(1)),
      ckpt, target, nBuckets = 16)
    spark.read.parquet(target)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
  }

  /** q65 — STREAM-STREAM JOIN STATE metrics as a hash-checked row,
    * extending q60's device (deterministic event_id % 4 batch split +
    * oracle-recomputed progress) to the join state an operator actually
    * alerts on at 100x scale: q59's click→view interval join runs
    * across four micro-batches and the row emits the engine's per-batch
    * StreamingQueryProgress numbers. Under the 90-day horizon nothing
    * is dropped as late and no join state is evicted, so the numbers
    * are fully determined by the data: batch k's input is the modulo-k
    * slice, drops are zero, and the symmetric-hash-join state after
    * batch k holds EXACTLY the click and view rows of slices 0..k
    * (both sides buffer every input row until the watermark passes its
    * match window). A mismatch means the join's state accounting — the
    * number that tells production "your join state stopped being
    * watermark-bounded" — lies.
    *
    * Input accounting fine print the oracle encodes: the click and view
    * branches are two filtered reads of the SAME file source, and the
    * engine's numInputRows counts each side's scan — so batch k reports
    * 2x the slice's row count (verified: 2 x 2500 at sf0.01). An
    * operator reading this metric on a self-join stream must know that,
    * which is exactly why the row pins it. */
  def q65StreamingJoinMetrics(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedEventsModuloLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q65_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q65_out", dir)
    val metricsDir = graft.io.TempPaths.scratchDir(spark, "graft_q65_metrics", dir)
    if (!graft.io.TempPaths.isComplete(metricsDir)) {
      val joined = EventsStream.clickToViewJoin(
        EventsStream.readEventsStream(spark, landing, maxFilesPerTrigger = Some(1)),
        windowMinutes = 10, delay = "90 days")
      val progress =
        EventsStream.runAvailableNowTo(joined, ckpt, out, statePartitions)
      EventsStream.progressSummary(spark, progress.toSeq)
        .filter(col("num_input_rows") > 0)
        .select(col("batch_id"), col("num_input_rows"),
          col("rows_dropped_by_watermark"), col("state_rows_total"))
        .coalesce(1).write.mode("overwrite").parquet(metricsDir)
      graft.io.TempPaths.markComplete(metricsDir)
    }
    spark.read.parquet(metricsDir)
  }

  val q65Sql: String =
    """WITH b AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS batch_id, event_type
      |  FROM events),
      |per AS (
      |  -- the join's two branches each scan the shared source: input
      |  -- accounting is 2x the slice (see scaladoc)
      |  SELECT batch_id, CAST(COUNT(*) * 2 AS BIGINT) AS num_input_rows,
      |    COUNT(*) FILTER (WHERE event_type IN ('click','view')) AS n_cv
      |  FROM b GROUP BY batch_id)
      |SELECT p.batch_id, p.num_input_rows,
      |  CAST(0 AS BIGINT) AS rows_dropped_by_watermark,
      |  CAST((SELECT SUM(q.n_cv) FROM per q WHERE q.batch_id <= p.batch_id)
      |    AS BIGINT) AS state_rows_total
      |FROM per p""".stripMargin

  /** Land the events fixture split into `nFiles` part files by
    * DETERMINISTIC time quartiles — boundaries t_i = min_us +
    * (span * i) / nFiles in exact integer microsecond arithmetic, so
    * the oracle can replay the split bit-for-bit (unlike
    * repartitionByRange's SAMPLED boundaries). File i holds
    * ts ∈ [t_i, t_{i+1}); ascending modTimes pin batch order = time
    * order, so each batch advances the watermark past the previous
    * range and nothing is ever late. */
  private def landFixtureTimeQuarters(spark: SparkSession, dir: String,
                                      landing: String, nFiles: Int): Unit = {
    if (!graft.io.TempPaths.isComplete(landing)) {
      new java.io.File(landing).mkdirs()
      val raw = spark.read.parquet(s"$dir/events.parquet")
      // exact microseconds regardless of the fixture's ts encoding
      // (nanos-as-long vs timestamp; the oracle replays epoch_us(ts))
      val tsUs = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => unix_micros(col("ts").cast("timestamp"))
      }
      val bounds = raw.agg(min(tsUs).as("mn"), max(tsUs).as("mx"))
        .collect().head
      val (mnUs, mxUs) = (bounds.getLong(0), bounds.getLong(1))
      val span = mxUs - mnUs + 1
      def bound(i: Int): Long = mnUs + span * i / nFiles
      // TempPaths-owned staging — same rationale as landFixtureModulo
      val staging = java.nio.file.Paths.get(
        graft.io.TempPaths.uniqueScratchDir(spark, "graft_quarters_stage", landing))
      java.nio.file.Files.createDirectories(staging)
      // ONE write job for all slices (the landSlices device, r21): the
      // per-slice filter+coalesce loop paid one scan + job round-trip
      // per quartile. The slice tag mirrors the bound() windows
      // EXACTLY — derived by comparing against the same integer-
      // division boundary literals, NOT by re-deriving floor((ts-mn)*
      // n/span), whose integer rounding disagrees with bound() at
      // boundary microseconds.
      val sliceCol = (1 until nFiles).foldRight(lit(nFiles - 1): org.apache.spark.sql.Column) {
        (i, rest) => when(tsUs < bound(i), i - 1).otherwise(rest)
      }
      spark.read.parquet(s"$dir/events.parquet")
        .withColumn("__slice", sliceCol)
        .repartition(nFiles, col("__slice"))
        .write.mode("overwrite").partitionBy("__slice")
        .parquet(staging.toString)
      (0 until nFiles).foreach { i =>
        // empty quartile ⇒ no __slice=i directory (ADVICE r21): skip,
        // don't NPE — see landFixtureModulo
        Option(staging.resolve(s"__slice=$i").toFile.listFiles()).toSeq
          .flatten.filter(_.getName.endsWith(".parquet")).headOption
          .foreach { part =>
            java.nio.file.Files.move(part.toPath,
              java.nio.file.Paths.get(landing, f"events_$i%05d.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      val parts = Option(new java.io.File(landing).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 10000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 10000L),
          s"failed to set mtime on $f — cannot guarantee batch order")
      }
      graft.io.TempPaths.markComplete(landing)
    }
  }

  /** q66 — SESSIONIZER STATE metrics as a hash-checked row: the
    * event-time sessionizer (q58's operator) runs across four
    * deterministic time-quartile micro-batches and the row emits the
    * engine's per-batch progress. The oracle recomputes every number
    * from the data alone:
    *
    *  - input: quartile slice counts (integer-arithmetic boundaries,
    *    replayed exactly in SQL);
    *  - drops: zero by construction — batches ascend in time, so the
    *    watermark (prev batches' max minus 30 min) always trails the
    *    current batch's range;
    *  - state rows after batch k: users whose OPEN session the
    *    watermark has not yet proven complete. The reduction that makes
    *    this SQL-expressible: a user's LAST gap-session ends at their
    *    max event ts, and sessionizeEventTime keeps a user in state
    *    exactly while last_end + gap >= watermark (close predicate
    *    end + gap < wm; timeouts chase the close horizon, so any user
    *    whose horizon passed is processed — and removed — in that very
    *    batch). So state_k = #{u seen <= k : max_us(u) + gap >=
    *    wm_k_us}, wm_k in engine MILLISECOND granularity from batches
    *    0..k-1.
    *
    * Together with q60 (dedup state) and q65 (join state) this
    * hash-verifies the progress surface for every stateful-operator
    * family the engine ships. */
  def q66StreamingSessionMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q66_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q66_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q66_out", dir)
    val metricsDir = graft.io.TempPaths.scratchDir(spark, "graft_q66_metrics", dir)
    landFixtureTimeQuarters(spark, dir, landing, nFiles = 4)
    if (!graft.io.TempPaths.isComplete(metricsDir)) {
      val ev = EventsStream
        .readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventsStream.Event]
      val sessions = EventsStream.sessionizeEventTime(spark, ev,
        gapMinutes = 30, delayMinutes = 30)
      val progress =
        EventsStream.runAvailableNowTo(sessions, ckpt, out, statePartitions)
      EventsStream.progressSummary(spark, progress.toSeq)
        .filter(col("num_input_rows") > 0)
        .select(col("batch_id"), col("num_input_rows"),
          col("rows_dropped_by_watermark"), col("state_rows_total"))
        .coalesce(1).write.mode("overwrite").parquet(metricsDir)
      graft.io.TempPaths.markComplete(metricsDir)
    }
    spark.read.parquet(metricsDir)
  }

  /** Oracle: replays the quartile boundaries in the same integer
    * arithmetic, then for each batch k counts users whose open-session
    * horizon (max event ts + 30 min gap) is at-or-beyond the engine
    * watermark (prev-prefix max, MILLISECOND-truncated, minus 30 min
    * delay; batch 0 has no watermark yet, so every batch-0 user is in
    * state). */
  val q66Sql: String =
    """WITH bounds AS (
      |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx,
      |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) + 1 AS span
      |  FROM events),
      |b AS (
      |  SELECT user_id, epoch_us(e.ts) AS ts_us,
      |    CAST(CASE
      |      WHEN epoch_us(e.ts) < mn + span * 1 // 4 THEN 0
      |      WHEN epoch_us(e.ts) < mn + span * 2 // 4 THEN 1
      |      WHEN epoch_us(e.ts) < mn + span * 3 // 4 THEN 2
      |      ELSE 3 END AS BIGINT) AS batch_id
      |  FROM events e, bounds),
      |per AS (
      |  SELECT batch_id, COUNT(*) AS num_input_rows FROM b GROUP BY batch_id),
      |wm AS (
      |  SELECT p.batch_id,
      |    CASE WHEN p.batch_id = 0 THEN -1
      |      ELSE ((SELECT MAX(ts_us) FROM b WHERE b.batch_id < p.batch_id)
      |            // 1000 - 1800000) * 1000 END AS wm_us
      |  FROM per p),
      |st AS (
      |  SELECT w.batch_id, COUNT(*) AS state_rows_total FROM wm w,
      |    LATERAL (
      |      SELECT user_id, MAX(ts_us) AS mx_us FROM b
      |      WHERE b.batch_id <= w.batch_id GROUP BY user_id) u
      |  WHERE u.mx_us + 1800000000 >= w.wm_us
      |  GROUP BY w.batch_id)
      |SELECT p.batch_id, p.num_input_rows,
      |  CAST(0 AS BIGINT) AS rows_dropped_by_watermark,
      |  s.state_rows_total
      |FROM per p JOIN st s ON s.batch_id = p.batch_id""".stripMargin

  /** q67 — WINDOWED-AGGREGATION STATE metrics as a hash-checked row:
    * q54's operator (watermarked hourly tumbling windows) runs across
    * four deterministic time-quartile micro-batches and the row emits
    * the engine's per-batch progress, completing the observability
    * matrix: q60 covers dedup state, q65 join state, q66 sessionizer
    * state, and this row the most common production stateful shape of
    * all. The oracle recomputes every number from the data alone:
    *
    *  - input: quartile slice counts (integer-arithmetic boundaries,
    *    replayed exactly in SQL);
    *  - drops: zero by construction — batches ascend in time, so the
    *    watermark always trails the current batch's range;
    *  - state rows after batch k: OPEN (hour-window, event_type)
    *    groups. Append mode finalizes (emits + evicts) a window
    *    exactly when its end falls at-or-below the batch's eviction
    *    watermark (the boundary StreamingSpec pins for q54), so
    *    state_k = #{distinct (hour, type) in slices 0..k :
    *    hour_end_ms > wm_k_ms}, wm_k in engine MILLISECOND granularity
    *    from batches 0..k-1 (batch 0 has no watermark yet). */
  def q67StreamingAggMetrics(spark: SparkSession, dir: String): DataFrame = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q67_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q67_ckpt", dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q67_out", dir)
    val metricsDir = graft.io.TempPaths.scratchDir(spark, "graft_q67_metrics", dir)
    landFixtureTimeQuarters(spark, dir, landing, nFiles = 4)
    if (!graft.io.TempPaths.isComplete(metricsDir)) {
      val ev = EventsStream
        .readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
      val agg = EventsStream.hourlyAggregates(ev)
      val progress =
        EventsStream.runAvailableNowTo(agg, ckpt, out, statePartitions)
      EventsStream.progressSummary(spark, progress.toSeq)
        .filter(col("num_input_rows") > 0)
        .select(col("batch_id"), col("num_input_rows"),
          col("rows_dropped_by_watermark"), col("state_rows_total"))
        .coalesce(1).write.mode("overwrite").parquet(metricsDir)
      graft.io.TempPaths.markComplete(metricsDir)
    }
    spark.read.parquet(metricsDir)
  }

  /** Oracle: replays the quartile boundaries in the same integer
    * arithmetic, then for each batch k counts the distinct
    * (hour-window, type) groups whose window END is strictly beyond
    * the engine watermark (prev-prefix max ts, MILLISECOND-truncated,
    * minus the 30 min delay; batch 0 has no watermark, sentinel -1
    * keeps every group). */
  val q67Sql: String =
    """WITH bounds AS (
      |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx,
      |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) + 1 AS span
      |  FROM events),
      |b AS (
      |  SELECT epoch_ms(date_trunc('hour', e.ts)) AS win_ms, event_type,
      |    epoch_us(e.ts) AS ts_us,
      |    CAST(CASE
      |      WHEN epoch_us(e.ts) < mn + span * 1 // 4 THEN 0
      |      WHEN epoch_us(e.ts) < mn + span * 2 // 4 THEN 1
      |      WHEN epoch_us(e.ts) < mn + span * 3 // 4 THEN 2
      |      ELSE 3 END AS BIGINT) AS batch_id
      |  FROM events e, bounds),
      |per AS (
      |  SELECT batch_id, COUNT(*) AS num_input_rows FROM b GROUP BY batch_id),
      |wm AS (
      |  SELECT p.batch_id,
      |    CASE WHEN p.batch_id = 0 THEN -1
      |      ELSE (SELECT MAX(ts_us) FROM b WHERE b.batch_id < p.batch_id)
      |           // 1000 - 1800000 END AS wm_ms
      |  FROM per p),
      |st AS (
      |  SELECT w.batch_id, COUNT(*) AS state_rows_total FROM wm w,
      |    LATERAL (
      |      SELECT win_ms, event_type FROM b
      |      WHERE b.batch_id <= w.batch_id GROUP BY win_ms, event_type) g
      |  WHERE g.win_ms + 3600000 > w.wm_ms
      |  GROUP BY w.batch_id)
      |SELECT p.batch_id, p.num_input_rows,
      |  CAST(0 AS BIGINT) AS rows_dropped_by_watermark,
      |  s.state_rows_total
      |FROM per p JOIN st s ON s.batch_id = p.batch_id""".stripMargin

  val q61Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, event_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
      |FROM r WHERE rn = 1""".stripMargin

  /** The corpus/delta split EVERY streamed index family maintains its
    * index over (the p63 convention): doc_id % 5 != 0 is the indexed
    * corpus, doc_id % 5 == 0 the probed delta. Owned here, next to the
    * landing, so a landing built under one predicate can never be
    * probed under another. */
  private[graft] val CorpusSplitModulus = 5
  private[graft] def corpusSide(c: org.apache.spark.sql.Column) =
    c % CorpusSplitModulus =!= 0
  private[graft] def deltaSide(c: org.apache.spark.sql.Column) =
    c % CorpusSplitModulus === 0

  /** The SHARED corpus landing q68 (line-df) and q70 (bm25-df) both
    * maintain their streamed index from: one prefix, one split, one
    * lock — lands once per app, concurrent callers serialize on the
    * landing-dir lock. Returns the landing path. */
  private def sharedCorpusLanding(spark: SparkSession, dir: String): String = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q68_in", dir)
    landDocsCorpusModulo(spark, dir, landing, nFiles = 4)
    landing
  }

  /** Land the CORPUS side of the line-dedup split ([[corpusSide]], the
    * p63 convention) into `nFiles` part files keyed on doc_id modulo —
    * any deterministic DISJOINT split works, because the index the
    * stream maintains is split-independent (partial dfs sum to the
    * global df whatever the batching). Ascending mtimes pin batch order
    * for reproducible batch ids. The whole isComplete/build/markComplete
    * sequence runs under the per-path landing lock: the dir is shared
    * (q68 + q70), and two concurrent callers must not both see
    * `!isComplete` and interleave part-file moves / mtime stamping. */
  private def landDocsCorpusModulo(spark: SparkSession, dir: String,
                                   landing: String, nFiles: Int): Unit =
    landSlicedModulo(spark, dir, landing,
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(corpusSide(col("doc_id"))), "doc_id", nFiles)

  /** Generic modulo landing: split `rows` (any side-filtered fixture
    * slice) into `nFiles` part files keyed on `idCol` modulo and land
    * them with ascending mtimes — the device every streamed-index row
    * shares. Locked + completion-markered exactly like
    * [[landDocsCorpusModulo]] (which delegates here). */
  private def landSlicedModulo(spark: SparkSession, dir: String,
                               landing: String, rows: DataFrame,
                               idCol: String, nFiles: Int): Unit =
    landSlices(spark, dir, landing, (0 until nFiles).map(i =>
      rows.filter(pmod(col(idCol), lit(nFiles)) === i)))

  /** EXPLICIT-slice landing: write each frame of `slices` as one
    * ordered part file (ascending mtimes pin batch ids). The general
    * form [[landSlicedModulo]] delegates to — q81 needs it because its
    * batch sequence is not a modulo split (a RETRACTION batch rides
    * between append batches). Same lock + completion discipline.
    *
    * Contract (ADVICE r21, inherited from the one-job landing): all
    * slices must share ONE schema (they are unioned by name into the
    * single tagged write), `slices` must be non-empty, and row order
    * WITHIN a landed file is not defined (the repartition's exchange
    * replaces the old coalesce(1)'s scan order) — fine for the
    * order-insensitive streamed consumers here; a future row-hashing
    * consumer must sort. */
  private def landSlices(spark: SparkSession, dir: String,
                         landing: String, slices: Seq[DataFrame]): Unit =
    graft.io.TempPaths.withLandingLock(landing) {
    require(slices.nonEmpty, "landSlices needs at least one slice — an " +
      "empty landing would mark itself complete and starve the stream")
    if (!graft.io.TempPaths.isComplete(landing)) {
      new java.io.File(landing).mkdirs()
      // staging through TempPaths: owned by this app (sweepStale can
      // reclaim it if we crash mid-landing) and removed on exit
      val staging = java.nio.file.Paths.get(
        graft.io.TempPaths.uniqueScratchDir(spark, "graft_land_stage", dir))
      java.nio.file.Files.createDirectories(staging)
      // ONE write job for all slices (optimization r21, guide §1.2
      // step 1): the per-slice `coalesce(1).write` loop paid one full
      // scan + job round-trip PER slice inside the timed row — 4-5
      // sequential jobs for what is one pass of data. Tag each slice
      // with its index, union, and dynamic-partition the single write:
      // repartition on the tag routes every slice to exactly one task,
      // so each __slice=i directory holds exactly one part file (the
      // coalesce(1) guarantee, kept), and the partition column is
      // directory-encoded so the landed files keep the original schema.
      val tagged = slices.zipWithIndex.map { case (s, i) =>
        s.withColumn("__slice", lit(i)) }.reduce(_.unionByName(_))
      tagged.repartition(slices.size, col("__slice"))
        .write.mode("overwrite").partitionBy("__slice")
        .parquet(staging.toString)
      slices.indices.foreach { i =>
        // an EMPTY slice can legally produce no partition directory (a
        // scale factor where a modulo slice selects nothing); skip it
        // rather than NPE — the downstream foreachBatch loops all guard
        // empty batches, and batch ordering simply compresses
        Option(staging.resolve(s"__slice=$i").toFile.listFiles()).toSeq
          .flatten.filter(_.getName.endsWith(".parquet")).headOption
          .foreach { part =>
            java.nio.file.Files.move(part.toPath,
              java.nio.file.Paths.get(landing, f"docs_$i%05d.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      val parts = Option(new java.io.File(landing).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 10000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 10000L),
          s"failed to set mtime on $f — cannot guarantee batch order")
      }
      graft.io.TempPaths.markComplete(landing)
    }
  }

  /** q68 — STREAMING INDEX MAINTENANCE: the line-df dedup index (p63's
    * corpus side) built by the STREAMING engine instead of one batch
    * job. The corpus lands as four files; `foreachBatch` under
    * `Trigger.AvailableNow` lands each micro-batch's PARTIAL document
    * frequencies as its own batch_id partition of the bucketed index
    * table (replay — the at-least-once window of a non-transactional
    * sink, q61's device applied to index maintenance — is IDEMPOTENT:
    * each attempt dynamic-partition-overwrites exactly its own
    * partition, healing even a torn job commit). Batches carry disjoint doc
    * sets, so partial dfs SUM to the global df whatever the batching —
    * maintenance is commutative and associative over micro-batches.
    * The row then runs the p63 probe against the streamed index and
    * shares p63's oracle verbatim: a hash match proves
    * stream-maintained and batch-built indexes are interchangeable —
    * the continuous-ingest dedup shape a 100 TB pipeline actually
    * runs, where the corpus index is kept current by the ingest stream
    * and every delta is gated against it without ever re-reading
    * history. */
  def q68StreamingLineIndex(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedCorpusLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q68_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q68_linedf", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.TextAnalysis.appendLineDfPartial(spark, b, idxTbl, id)
    }
    val delta = Tables.documents(spark, dir).filter(deltaSide(col("doc_id")))
    Sessions.withoutBroadcast(spark) {
      graft.ops.TextAnalysis.lineDedupIncremental(spark, delta, idxTbl)
    }
  }

  /** q69 — STREAMING INDEX MAINTENANCE for the window-df (passage
    * removal) family: q68's device applied to p71's index. The corpus
    * lands as four files; `foreachBatch` under `Trigger.AvailableNow`
    * lands each micro-batch's PARTIAL window counts as its own
    * batch_id partition (idempotent replay — each attempt overwrites
    * exactly its own partition, healing torn commits); partials SUM to
    * the global counts because batches carry disjoint docs. The row
    * then runs the p71 probe against the streamed index and shares
    * p71's oracle verbatim: a hash match proves stream-maintained and
    * batch-built window-df indexes are interchangeable — so the
    * passage-removal gate, like the line-dedup gate, can ride a
    * continuously-ingesting corpus without ever re-reading history. */
  def q69StreamingWindowIndex(spark: SparkSession, dir: String): DataFrame = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q69_in", dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q69_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q69_windf", dir)
    landDocsCorpusModulo(spark, dir, landing, nFiles = 4)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.Dedup.appendWindowDfPartial(spark, b, idxTbl, id, k = 8)
    }
    val delta = Tables.documents(spark, dir).filter(deltaSide(col("doc_id")))
    Sessions.withoutBroadcast(spark) {
      graft.ops.Dedup.substringRemoveIncremental(spark, delta, idxTbl, k = 8)
    }
  }

  /** q70 — STREAMING INDEX MAINTENANCE for the BM25 df family: q68's
    * device applied to p91's index. The corpus lands as four files;
    * `foreachBatch` under `Trigger.AvailableNow` lands each
    * micro-batch's PARTIAL term document-frequencies — and, as two
    * sentinel terms in the SAME partition, its additive corpus stats —
    * as its own batch_id partition (idempotent replay: each attempt
    * overwrites exactly its own partition; single-table maintenance
    * means df rows and stats can never tear apart). Partials SUM to
    * the global dfs/stats because batches carry disjoint docs. The row
    * then runs the index probe against the fixed query set
    * and shares p91's oracle verbatim: a hash match proves
    * stream-maintained and batch-built BM25 indexes are
    * interchangeable — continuous-ingest decontamination screening
    * where the index rides the ingest stream and no day ever re-reads
    * history. */
  def q70StreamingBm25Index(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedCorpusLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q70_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q70_bm25df", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.TextAnalysis.appendBm25DfPartial(spark, b, idxTbl, id)
    }
    val docs = Tables.documents(spark, dir)
    graft.ops.TextAnalysis.bm25TopKIncremental(spark,
      docs.filter(deltaSide(col("doc_id"))),
      graft.ops.TextAnalysis.bm25QuerySet(docs), idxTbl)
  }

  /** The shared engine step of every streamed-index row: an
    * AvailableNow maintenance stream over `landing`, one file per
    * micro-batch, `append` landing each batch as its own idempotent
    * batch_id partition. Guarded by a ckpt completion marker — a
    * crashed maintenance stream must RESUME from its checkpoint (WAL
    * skips committed batches; replays overwrite their own partition),
    * not probe a partial index a tableExists guard would accept.
    * Refreshes `tables` in the caller's session afterwards (appends ran
    * through the micro-batch's cloned session).
    *
    * MAINTENANCE CADENCE: after each append, every
    * maintained table runs [[graft.io.Bucketing.maintainIndex]] — once
    * `compactEvery` new batch partitions have accumulated, their file
    * waves are compacted (or, for the additive-df families, folded)
    * through the crash-safe rewrite protocol, ON BY DEFAULT, so a
    * long-lived streamed index no longer fragments without bound. At
    * the fixture's 4-file landing the policy fires exactly once (after
    * batch 3), so every q68–q80 CORRECTNESS row also certifies that a
    * mid-maintenance auto-compaction preserves the probe hash. */
  private[graft] val CompactEveryDefault = 4
  /** The purge cadence of a tombstone-carrying family needs no step
    * here: it is a step of every [[graft.io.Tombstones.retract]], so a
    * batch that lands a retraction also folds the pending ones once the
    * family's `purgeEvery` batches have accumulated. */
  private def runIndexMaintenance(spark: SparkSession, landing: String,
                                  ckpt: String, tables: Seq[String],
                                  compactEvery: Int = CompactEveryDefault,
                                  mergeFraction: Double = 0.25)(
      append: (DataFrame, Long) => Unit): Unit = {
    if (!graft.io.TempPaths.isComplete(ckpt)) {
      val schema = spark.read.parquet(landing).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      val q = stream.writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => {
          append(b.toDF(), id)
          // one cadence dispatch per table per batch: additive-df
          // tables fold INSTEAD of compacting (a fold subsumes a
          // compaction and is the only rewrite that physically removes
          // retracted keys' (+df, −df) row pairs)
          tables.foreach(t =>
            graft.io.Bucketing.maintainIndex(spark, t, compactEvery,
              mergeFraction))
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      tables.foreach { t =>
        if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
      }
      graft.io.TempPaths.markComplete(ckpt)
    }
  }

  /** q71 — STREAMING INDEX MAINTENANCE for the embedding vector-index
    * family (p57): the corpus-side embeddings land as four files; each
    * micro-batch's sign-LSH postings and verify payloads land as their
    * own batch_id partitions of the two bucketed index tables. The
    * banding geometry (8 tables x adaptive bits) is PINNED once from
    * the corpus count before the stream starts — the provisioning
    * decision a production vector index makes, since per-batch adaptive
    * sizing would band early and late batches under different bucket
    * widths. Postings are per-vector independent, so partitioned
    * partials ARE the index; the probe (p57's, verbatim) derives the
    * same bits from the stored count and shares p57's oracle, so a hash
    * match proves stream-maintained and batch-built vector indexes are
    * interchangeable. */
  def q71StreamingVectorIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q71_in", dir)
    landSlicedModulo(spark, dir, landing,
      emb.filter(corpusSide(col("vec_id"))), "vec_id", nFiles = 4)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q71_ckpt", dir)
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q71_vbands", dir)
    val vecsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q71_vecs", dir)
    val bits = graft.ops.Similarity.adaptiveBitsPerTable(
      spark.read.parquet(landing).count())
    runIndexMaintenance(spark, landing, ckpt, Seq(bandsTbl, vecsTbl)) {
      (b, id) =>
        graft.ops.Similarity.appendVectorIndexPartial(spark, b, bandsTbl,
          vecsTbl, id, tables = 8, bitsPerTable = bits)
    }
    Sessions.withoutBroadcast(spark) {
      graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(spark,
          emb.filter(deltaSide(col("vec_id"))), bandsTbl, vecsTbl,
          threshold = 0.45)
    }
  }

  /** q72 — STREAMING INDEX MAINTENANCE for the benchmark-gram
    * decontamination family (p65), for the regime where the EVAL SUITE
    * grows over time: each suite addition lands as a micro-batch whose
    * distinct 8-grams become their own batch_id partition, and starts
    * gating ingest immediately, with no suite-wide rebuild. The probe
    * folds the per-batch distinct sets back to the global set (a
    * distinct on the bucketed gram key — no index-side exchange) and
    * shares p65's oracle verbatim. */
  def q72StreamingGramIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q72_in", dir)
    landSlicedModulo(spark, dir, landing,
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", nFiles = 4)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q72_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q72_grams", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.TextAnalysis.appendBenchGramPartial(spark, b, idxTbl, id)
    }
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
      pmod(col("doc_id"), lit(4)) === 1)
    Sessions.withoutBroadcast(spark) {
      graft.ops.TextAnalysis.decontaminationAgainstIndex(spark, delta, idxTbl)
    }
  }

  /** q73 — STREAMING INDEX MAINTENANCE for the minhash corpus-index
    * family (p54): the SAME shared corpus landing as q68/q70 (one more
    * family riding one ingest stream — the point of the shared-landing
    * device), each micro-batch signed and banded once, landing band
    * postings and signature payloads as batch_id partitions of the two
    * bucketed tables. Signatures are per-document independent, so
    * partitioned partials ARE the index; the probe (p54's, verbatim)
    * shares p52's exact all-pairs oracle, so a hash match proves the
    * stream-maintained index is indistinguishable from the batch
    * build. */
  def q73StreamingMinhashIndex(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedCorpusLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q73_ckpt", dir)
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q73_bands", dir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q73_sigs", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(bandsTbl, sigsTbl)) {
      (b, id) =>
        graft.ops.Dedup.appendCorpusIndexPartial(spark, b, bandsTbl,
          sigsTbl, id)
    }
    val docs = Tables.documents(spark, dir)
    Sessions.withoutBroadcast(spark) {
      graft.ops.Dedup.incrementalVerdictsAgainstIndex(spark,
          docs.filter(deltaSide(col("doc_id"))), bandsTbl, sigsTbl,
          bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
    }
  }

  /** q74 — STREAMING INDEX MAINTENANCE for the IVF family (p56): the
    * coarse quantizer's centroid set is trained ONCE and persisted (the
    * provisioning-time artifact — production IVF retrains offline,
    * never per batch), then every landed micro-batch is argmax-assigned
    * against the pinned centroids and lands as its own batch_id
    * partition of the cell-bucketed assignment table. Assignments are
    * per-vector independent, so partitioned partials ARE the index; the
    * probe (p56's, verbatim) shares p16's oracle, so a hash match
    * proves an IVF index that rode continuous ingest returns
    * bit-identical neighbors to the batch build. */
  def q74StreamingIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q74_in", dir)
    landSlicedModulo(spark, dir, landing, emb, "vec_id", nFiles = 4)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q74_ckpt", dir)
    val centTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q74_cents", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q74_ivf", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, centTbl, 0L))
      graft.ops.Similarity.buildIvfCentroids(emb, centTbl)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.Similarity.appendIvfAssignPartial(spark, b, centTbl,
        idxTbl, id)
    }
    graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, idxTbl)
  }

  /** q75 — STREAMING maintenance for the PROFILING surface: each landed
    * micro-batch contributes its per-language bottom-k KMV partial
    * (k longs per language — bounded whatever the batch size) as its
    * own batch_id partition, and the probe folds the partials back to
    * the monolithic sketch. The fold is EXACT (the k smallest distinct
    * hashes of a union are contained in the union of per-batch
    * k-smallest), so the row shares p94's oracle verbatim: a hash match
    * certifies that a corpus profile maintained by the ingest stream
    * equals the one a from-scratch scan computes — the
    * "describe-the-corpus dashboard that is never stale" shape. The
    * exact-count baseline column stays a labeled one-shot pass, by the
    * p94 contract. */
  /** The FULL-documents landing q75/q76/q77/q78 share (the profiling
    * sketches and the vocabulary counts all ride the same ingest
    * stream) — the sharedCorpusLanding device with no side split. */
  private def sharedDocsLanding(spark: SparkSession, dir: String): String = {
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q75_in", dir)
    landSlicedModulo(spark, dir, landing, Tables.documents(spark, dir),
      "doc_id", nFiles = 4)
    landing
  }

  def q75StreamingProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val landing = sharedDocsLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q75_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q75_kmv", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.Sketches.appendKmvPartial(spark, b, idxTbl, id)
    }
    graft.ops.Sketches.kmvProfileFromStreamedIndex(spark, docs, idxTbl)
  }

  /** q76 — STREAMING count-min maintenance + heavy-hitter audit: each
    * landed micro-batch's depth×width sketch lands as its own batch_id
    * partition; the fold is EXACT (count-min merge is elementwise
    * addition), and the probe checks the exact per-language top-k
    * bigram counts (the p95 pass, the labeled exact baseline) against
    * the folded sketch's estimates. Output follows the q24/q43
    * sketch contract — exact values plus checked error-bound booleans
    * (`est_dominates` is mathematically guaranteed; `est_within_eps`
    * is the 4e·N/width envelope) — because seeded xxhash64 is the one
    * sketch primitive DuckDB cannot replay. This closes the count-min
    * surface into the driver-checked catalog with the same streamed
    * maintenance story as every other bounded-state artifact. */
  def q76StreamingCountMin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val landing = sharedDocsLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q76_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q76_cm", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.Sketches.appendCountMinPartial(spark, b, idxTbl, id)
    }
    graft.ops.Sketches.countMinHeavyHitterAudit(spark, docs, idxTbl)
  }

  /** q77 — STREAMING log2-histogram maintenance: the third profiling
    * sketch on the shared ingest stream, and the one whose fold IS the
    * complete answer (counts are exactly additive and log2 bin edges
    * are absolute, so no corpus re-scan and no baseline column — see
    * [[graft.ops.Sketches.appendLog2HistogramPartial]]). Full hash
    * oracle: the bin is integer base-2 digit-count arithmetic, which
    * DuckDB replays verbatim (`length(printf('%b', v)) - 1`) — no
    * float-at-power-of-two boundary, no sketch tolerance contract
    * needed. */
  def q77StreamingLog2Hist(spark: SparkSession, dir: String): DataFrame = {
    val landing = sharedDocsLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q77_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q77_hist", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.Sketches.appendLog2HistogramPartial(spark, b, idxTbl, id)
    }
    graft.ops.Sketches.log2HistogramFromStreamedIndex(spark, idxTbl)
  }

  val log2HistogramSql: String =
    """WITH v AS (
      |  SELECT lang,
      |    GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS v
      |  FROM documents),
      |b AS (
      |  SELECT lang, CAST(length(printf('%b', v)) - 1 AS BIGINT) AS bin,
      |    COUNT(*) AS cnt
      |  FROM v GROUP BY 1, 2)
      |SELECT lang, bin, cnt,
      |  CAST(POWER(2.0, bin) AS BIGINT) AS bin_lo,
      |  CAST(POWER(2.0, bin + 1) AS BIGINT) - 1 AS bin_hi
      |FROM b""".stripMargin

  /** q78 — STREAMING vocabulary-count maintenance: the p99 tokenizer
    * audit against a token-count index that rode ingest instead of a
    * from-scratch corpus count. Counts fold exactly on the bucketed
    * token key, so the folded top-V vocabulary — and therefore the
    * whole coverage audit — is bit-identical to the batch build: the
    * row shares p99's oracle verbatim. The vocabulary joins the
    * q68–q77 family as the eighth maintained-artifact shape. */
  def q78StreamingVocab(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val landing = sharedDocsLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q78_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q78_vocab", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.TextAnalysis.appendTokenCountPartial(spark, b, idxTbl, id)
    }
    graft.ops.TextAnalysis.vocabCoverageFromStreamedIndex(spark, docs, idxTbl,
      vocabSize = 16)
  }

  /** q79 — STREAMING shingle-df index maintenance: the p110 novelty
    * probe against a shingle-df index that rode the SHARED corpus
    * ingest stream (the q68/q70/q73 landing — a fourth family on one
    * ingest). Per-batch (h, df_corpus) partials land as batch_id
    * partitions bucketed on the shingle hash; dfs of doc-disjoint
    * batches fold by plain addition, so the streamed index is
    * bit-identical to the batch build and the row shares p110's
    * oracle verbatim (itself p109's global computation restricted to
    * the delta). The ninth maintained-artifact family. */
  def q79StreamingNoveltyIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val landing = sharedCorpusLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q79_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q79_shdf", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.Dedup.appendShingleDfPartial(spark, b, idxTbl, id)
    }
    graft.ops.Dedup.noveltyIncremental(spark,
      docs.filter(deltaSide(col("doc_id"))), idxTbl)
  }

  /** q80 — STREAMING corpus-token-count maintenance + LM-quality probe:
    * the p112 unigram-logprob ingest gate against a token-count index
    * that rode the SHARED corpus landing (a fifth family on the
    * q68/q70/q73/q79 ingest): per-batch (tok, cnt) partials fold
    * exactly, counts AND totals merge additively with the delta, so the
    * delta's scores are bit-identical to the full-corpus computation —
    * the row shares p112's oracle verbatim. One maintained artifact now
    * serves THREE streamed gates (vocab coverage q78, drift p102,
    * quality scoring here). */
  def q80StreamingLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val landing = sharedCorpusLanding(spark, dir)
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q80_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q80_tok", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      graft.ops.TextAnalysis.appendTokenCountPartial(spark, b, idxTbl, id)
    }
    graft.ops.TextAnalysis.unigramLogProbIncremental(spark,
      docs.filter(deltaSide(col("doc_id"))), idxTbl)
  }

  /** q81 — STREAMED RETRACTION: a right-to-be-forgotten batch rides
    * the ingest stream BETWEEN append batches, through the same
    * `foreachBatch` maintenance loop (VERDICT r16 item 7 — the full
    * lifecycle build → append → stream → auto-compact → retract for
    * the shingle-df family under the driver's hash gate). The landing
    * is five ordered files: corpus quarters 0 and 1 (appends), then a
    * RETRACTION of the already-landed docs with doc_id % 7 == 1
    * (p113's negated-partial device as micro-batch 2), then quarters
    * 2 and 3 (appends continue after the deletion). Each batch kind is
    * carried by a `retract` flag column; replay of either kind
    * idempotently overwrites its own batch_id partition, and the
    * default auto-compaction cadence fires mid-stream (after batch 3)
    * folding positive AND negated partials through the crash-safe
    * swap. Oracle: the global novelty computation over
    * documents-minus-retired restricted to the delta — the maintained
    * index must converge to the rebuild-without while the stream keeps
    * appending. */
  def q81StreamingRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(corpusSide(col("doc_id")))
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q81_in", dir)
    val quarter = (i: Int) => corpus.filter(pmod(col("doc_id"), lit(4)) === i)
    landSlices(spark, dir, landing, Seq(
      quarter(0).withColumn("retract", lit(false)),
      quarter(1).withColumn("retract", lit(false)),
      corpus.filter(pmod(col("doc_id"), lit(4)) < 2 &&
          col("doc_id") % 7 === 1)
        .withColumn("retract", lit(true)),
      quarter(2).withColumn("retract", lit(false)),
      quarter(3).withColumn("retract", lit(false))))
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q81_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q81_shdf", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      // empty-batch guard (ADVICE r17): max over zero rows is null — a
      // scale factor whose landed slice is empty must skip the batch
      // entirely, not NPE on the flag read
      if (!b.isEmpty) {
        val isRetract = b.select(max(col("retract"))).head.getBoolean(0)
        val docsB = b.drop("retract")
        if (isRetract) graft.ops.Dedup.retractShingleDfPartial(spark, docsB, idxTbl, id)
        else graft.ops.Dedup.appendShingleDfPartial(spark, docsB, idxTbl, id)
      }
    }
    graft.ops.Dedup.noveltyIncremental(spark,
      docs.filter(deltaSide(col("doc_id"))), idxTbl)
  }

  /** q83 — the RUN-LEVEL FOLD under the driver's hash gate, in a
    * streamed row (VERDICT r20 item 5): q81's exact data and oracle,
    * with the cadence arranged so a mid-stream fold takes
    * [[graft.io.Bucketing.tieredFold]]'s O(run + delta) run-level path
    * instead of the base merge. q81's fixture fires one fold and a
    * fresh table's first fold has no base to tier against, so until
    * this row the run-level path's correctness rested on
    * TieredFoldSpec/AqeSpec alone — every other lifecycle stage got a
    * driver-gated row when it shipped. Cadence 2 fires TWICE: after
    * batch 1 (quarters 0+1 → the BASE, no base existed yet), and after
    * batch 3 (the retraction batch + quarter 2 → a RUN fold, forced
    * down the run path by a mergeFraction the run mass can never
    * exceed). The retraction batch cancels keys resident in the BASE,
    * so the folded run carries exactly the pending-negative rows the
    * run-level contract says probes must sum before any sign check.
    * Batches carry disjoint docs and partial dfs are additive, so the
    * final index content is IDENTICAL to q81's whatever the batching —
    * the row shares q81's oracle verbatim, and a hash match certifies
    * the run-level fold (pending negatives included) is invisible to
    * the probe. */
  def q83StreamingRunFold(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(corpusSide(col("doc_id")))
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q83_in", dir)
    val quarter = (i: Int) => corpus.filter(pmod(col("doc_id"), lit(4)) === i)
    landSlices(spark, dir, landing, Seq(
      quarter(0).withColumn("retract", lit(false)),
      quarter(1).withColumn("retract", lit(false)),
      corpus.filter(pmod(col("doc_id"), lit(4)) < 2 &&
          col("doc_id") % 7 === 1)
        .withColumn("retract", lit(true)),
      quarter(2).withColumn("retract", lit(false)),
      quarter(3).withColumn("retract", lit(false))))
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q83_ckpt", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q83_shdf", dir)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl),
      compactEvery = 2, mergeFraction = 1e9) { (b, id) =>
      if (!b.isEmpty) {
        val isRetract = b.select(max(col("retract"))).head.getBoolean(0)
        val docsB = b.drop("retract")
        if (isRetract) graft.ops.Dedup.retractShingleDfPartial(spark, docsB, idxTbl, id)
        else graft.ops.Dedup.appendShingleDfPartial(spark, docsB, idxTbl, id)
      }
    }
    graft.ops.Dedup.noveltyIncremental(spark,
      docs.filter(deltaSide(col("doc_id"))), idxTbl)
  }

  /** q82 — STREAMED TOMBSTONE RETRACTION + AUTO-PURGE CADENCE: q81's
    * lifecycle on the POSTING-LIST side of the retraction protocol
    * (VERDICT r17 item 1 made observable under the driver's hash
    * gate). The IVF assignment index rides ingest as four ordered
    * batches: corpus half 0 (append), poison twins of every stride
    * query — vec_id + 10M, embedding verbatim, a cosine-1.0 twin of
    * each probe vector (append), a RETRACTION of the poison batch
    * ([[graft.io.Tombstones.retract]] inside the maintenance loop),
    * then corpus half 1 (appends continue after the deletion). The
    * retraction's purge cadence fires MID-STREAM right after the
    * tombstones land — cadence 1 here (the family's `purgeEvery`) so
    * the fixture's single retraction batch crosses the threshold
    * deterministically (production keeps
    * [[graft.io.Tombstones.PurgeEveryDefault]]);
    * the poison rows are physically purged through the crash-safe swap
    * and the tombstone table is dropped while batch 3 still appends
    * behind it. The probe then runs with NO tombstone gate: a hash
    * match against p16's oracle certifies the post-purge streamed
    * index is bit-equivalent to a build that never contained the
    * poison — any surviving twin assignment would outrank its query's
    * true neighbors at cosine 1.0 and flip the row. Centroids are
    * PINNED from the corpus before the stream (the q74 provisioning
    * doctrine). */
  def q82StreamingIvfRetraction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val poison = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    val landing = graft.io.TempPaths.scratchDir(spark, "graft_q82_in", dir)
    landSlices(spark, dir, landing, Seq(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0).withColumn("retract", lit(false)),
      poison.withColumn("retract", lit(false)),
      poison.withColumn("retract", lit(true)),
      emb.filter(pmod(col("vec_id"), lit(2)) === 1).withColumn("retract", lit(false))))
    val ckpt = graft.io.TempPaths.scratchDir(spark, "graft_q82_ckpt", dir)
    val centsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q82_cents", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q82_ivf", dir)
    val tombsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_q82_tombs", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, centsTbl, 0L))
      graft.ops.Similarity.buildIvfCentroids(emb, centsTbl)
    val tombs = graft.io.Tombstones.ivf(idxTbl, tombsTbl).copy(purgeEvery = 1)
    runIndexMaintenance(spark, landing, ckpt, Seq(idxTbl)) { (b, id) =>
      if (!b.isEmpty) {
        val isRetract = b.select(max(col("retract"))).head.getBoolean(0)
        val vecs = b.drop("retract")
        if (isRetract) graft.io.Tombstones.retract(spark, tombs, vecs, id)
        else
          graft.ops.Similarity.appendIvfAssignPartial(spark, vecs, centsTbl,
            idxTbl, id)
      }
    }
    graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, idxTbl)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_streaming_run_fold" -> (q83StreamingRunFold _),
    "q82_streaming_ivf_retraction" -> (q82StreamingIvfRetraction _),
    "q81_streaming_retraction" -> (q81StreamingRetraction _),
    "q80_streaming_logprob" -> (q80StreamingLogprob _),
    "q79_streaming_novelty_index" -> (q79StreamingNoveltyIndex _),
    "q78_streaming_vocab" -> (q78StreamingVocab _),
    "q77_streaming_log2_hist" -> (q77StreamingLog2Hist _),
    "q76_streaming_countmin" -> (q76StreamingCountMin _),
    "q75_streaming_profile" -> (q75StreamingProfile _),
    "q71_streaming_vector_index" -> (q71StreamingVectorIndex _),
    "q72_streaming_gram_index" -> (q72StreamingGramIndex _),
    "q73_streaming_minhash_index" -> (q73StreamingMinhashIndex _),
    "q74_streaming_ivf_index" -> (q74StreamingIvfIndex _),
    "q70_streaming_bm25_index" -> (q70StreamingBm25Index _),
    "q69_streaming_window_index" -> (q69StreamingWindowIndex _),
    "q54_streaming_hourly" -> (q54StreamingHourly _),
    "q56_streaming_dedup" -> (q56StreamingDedup _),
    "q57_streaming_sessionize" -> (q57StreamingSessionize _),
    "q58_streaming_session_eventtime" -> (q58StreamingSessionizeEventTime _),
    "q59_streaming_interval_join" -> (q59StreamingIntervalJoin _),
    "q60_streaming_metrics" -> (q60StreamingMetrics _),
    "q61_streaming_upsert" -> (q61StreamingUpsert _),
    "q65_streaming_join_metrics" -> (q65StreamingJoinMetrics _),
    "q66_streaming_session_metrics" -> (q66StreamingSessionMetrics _),
    "q67_streaming_agg_metrics" -> (q67StreamingAggMetrics _),
    "q68_streaming_line_index" -> (q68StreamingLineIndex _))

  val oracles: Map[String, String] = Map(
    "q54_streaming_hourly" -> q54Sql,
    "q56_streaming_dedup" -> q56Sql,
    "q57_streaming_sessionize" -> PipelineQueries.eventsSessionizeSql,
    "q58_streaming_session_eventtime" -> q58Sql,
    "q59_streaming_interval_join" -> PipelineQueries.eventsIntervalJoinSql,
    "q60_streaming_metrics" -> q60Sql,
    "q61_streaming_upsert" -> q61Sql,
    "q65_streaming_join_metrics" -> q65Sql,
    "q66_streaming_session_metrics" -> q66Sql,
    "q67_streaming_agg_metrics" -> q67Sql,
    // the streamed index must be interchangeable with the batch-built
    // one, so the row shares p63's global-rewrite-restricted oracle
    "q68_streaming_line_index" -> PipelineQueries.lineDedupIncrementalSql,
    // streamed and batch-built window-df indexes must be
    // interchangeable: q69 shares p71's oracle verbatim
    "q69_streaming_window_index" -> SelectionQueries.substringRemovalIncrementalSql,
    // streamed and batch-built BM25 df indexes must be
    // interchangeable: q70 shares p91's oracle verbatim
    "q70_streaming_bm25_index" -> PipelineQueries.bm25TopKIncrSql,
    // each streamed index must be interchangeable with its batch-built
    // sibling, so each row shares that family's oracle verbatim
    "q71_streaming_vector_index" -> RecallQueries.embDedupIncrementalSql,
    "q72_streaming_gram_index" -> PipelineQueries.textDecontaminationIncrementalSql,
    "q73_streaming_minhash_index" -> PipelineQueries.dedupIncrementalSql,
    "q74_streaming_ivf_index" -> RecallQueries.annIvfTopKSql,
    "q75_streaming_profile" -> ProfilingQueries.kmvDistinctSql,
    // p95's exact ranking + the two contract booleans the sketch path
    // must certify (the q24/q43 device)
    "q76_streaming_countmin" -> (
      "WITH base AS (" + ProfilingQueries.heavyHittersSql + ")\n" +
      "SELECT lang, rank, gram, cnt, TRUE AS est_dominates, " +
      "TRUE AS est_within_eps FROM base"),
    "q77_streaming_log2_hist" -> log2HistogramSql,
    // streamed fold ≡ batch vocab build — p99's oracle verbatim
    "q78_streaming_vocab" -> CurationQueries.vocabCoverageSql,
    // streamed and batch-built shingle-df indexes must be
    // interchangeable: q79 shares p110's oracle verbatim
    "q79_streaming_novelty_index" -> EvalQueries.noveltyIncrementalSql,
    // streamed corpus token counts must score the delta bit-identically
    // to the batch-landed index: q80 shares p112's oracle verbatim
    "q80_streaming_logprob" -> EvalQueries.logprobIncrementalSql,
    // the stream-maintained index with a mid-stream retraction must
    // converge to the rebuild WITHOUT the retired docs (p113's
    // equivalence, streamed): global novelty over documents minus the
    // retired set, restricted to the delta
    "q81_streaming_retraction" -> EvalQueries.noveltyStreamedRetractionSql,
    // poison twins appended, tombstoned, and cadence-PURGED mid-stream:
    // the post-purge index probed with NO gate must be bit-equivalent
    // to a build that never contained them — p16's oracle verbatim
    "q82_streaming_ivf_retraction" -> RecallQueries.annIvfTopKSql,
    // q81's data and oracle VERBATIM: batches carry disjoint docs and
    // partial dfs are additive, so the run-level fold's layout (base +
    // run with pending negatives + fresh tail) must probe identically
    // to q81's base-merge layout — the run-level path's driver gate
    "q83_streaming_run_fold" -> EvalQueries.noveltyStreamedRetractionSql)
}
