package graft

import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.file.Files

/** Poison gate for failure injection: while armed, processing the marker
  * row throws — crashing the micro-batch that contains it partway
  * through (earlier rows of the batch have already flowed through the
  * operator chain; the batch is NOT committed). Local mode runs
  * executors in this JVM, so the UDF closure sees these fields live. */
object PoisonGate {
  @volatile var armed = false
  @volatile var markerId = -1L
}

/** Crash-recovery: the stronger half of the exactly-once claim the
  * checkpoint-as-ledger design (SURVEY §2.10) rests on. Clean-shutdown
  * resume is covered in StreamingSpec ("exactly once per checkpoint");
  * these tests kill a multi-batch AvailableNow run MID-BATCH via an
  * injected task failure, restart from the same checkpoint, and assert
  * the recovered output equals an uninterrupted run's — no duplicate,
  * no lost row, for both stateful shapes where recovery is interesting:
  * keyed dedup (q56) and event-time sessionization (q58). */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  // passes every row; throws on the marker row while armed
  private val poison = udf((id: Long) => {
    if (PoisonGate.armed && id == PoisonGate.markerId)
      throw new RuntimeException("injected mid-batch crash")
    true
  })

  /** Land the sf events fixture as `n` ts-range part files with
    * ascending modification times (file-source batch order follows
    * modTime; see StreamingQueries.landFixtureSplit for why). */
  private def landSplit(n: Int): String = {
    val landing = Files.createTempDirectory("graft_recovery_in").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .repartitionByRange(n, col("ts"))
      .write.mode("overwrite").parquet(landing)
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    landing
  }

  /** Marker id: the LAST event_id (in file row order) of the middle part
    * file — so when batch 2 crashes, earlier rows of that batch have
    * already been processed, i.e. the failure is genuinely mid-batch. */
  private def middleFileMarker(landing: String): Long = {
    val mid = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).apply(1)
    spark.read.parquet(mid.getAbsolutePath)
      .select(col("event_id")).collect().last.getLong(0)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("mid-batch crash + restart: keyed dedup loses nothing, duplicates nothing") {
    val landing = landSplit(3)
    PoisonGate.markerId = middleFileMarker(landing)
    val ckpt = tmp("graft_rec_dedup_ckpt")
    val out = tmp("graft_rec_dedup_out")
    def pipeline: DataFrame = {
      val keyed = EventsStream
        .readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
        .filter(poison(col("event_id")))
        .withColumn("hour",
          substring(date_trunc("hour", col("ts")).cast("string"), 1, 13))
      EventsStream
        .dedupEventsByKey(keyed, Seq("hour", "user_id", "event_type"), "90 days")
        .select(col("hour"), col("user_id"), col("event_type"))
    }
    PoisonGate.armed = true
    try intercept[StreamingQueryException] {
      EventsStream.runAvailableNowTo(pipeline, ckpt, out)
    } finally PoisonGate.armed = false
    // batch 1 committed, batch 2 aborted: the sink's metadata log must
    // expose a PROPER PREFIX of the final output — failed-task files in
    // the out dir are invisible to readers (exactly-once sink contract)
    val partial = spark.read.parquet(out).count()
    val expected = Tables.events(spark, sfDir)
      .select(
        substring(date_trunc("hour", col("ts")).cast("string"), 1, 13).as("hour"),
        col("user_id"), col("event_type"))
      .distinct()
    val expectedN = expected.count()
    assert(partial > 0 && partial < expectedN,
      s"crash should land between batches: got $partial of $expectedN")
    // restart from the SAME checkpoint: the WAL replays the failed batch,
    // then drains the rest
    EventsStream.runAvailableNowTo(pipeline, ckpt, out)
    val got = spark.read.parquet(out)
    assert(got.count() === expectedN)                    // no lost key
    assert(got.distinct().count() === expectedN)         // no duplicate
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("mid-batch crash + restart: event-time sessionize equals the uninterrupted run") {
    val landing = landSplit(3)
    PoisonGate.markerId = middleFileMarker(landing)
    def pipeline = {
      val ev = EventsStream
        .readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
        .filter(poison(col("event_id")))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event]
      EventsStream.sessionizeEventTime(spark, ev, gapMinutes = 30,
        delayMinutes = 30)
    }
    def sessions(out: String): Set[(Long, Long, Long, Long, Double)] =
      spark.read.parquet(out).select(col("user_id"),
          unix_micros(col("session_start")), unix_micros(col("session_end")),
          col("n_events"), col("total_value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
    // reference: the same pipeline run uninterrupted on its own checkpoint
    PoisonGate.armed = false
    val refOut = tmp("graft_rec_sess_ref_out")
    EventsStream.runAvailableNowTo(pipeline, tmp("graft_rec_sess_ref_ckpt"), refOut)
    val reference = sessions(refOut)
    assert(reference.nonEmpty)
    // crash run: batch 2 dies mid-task, restart resumes the same checkpoint
    val ckpt = tmp("graft_rec_sess_ckpt")
    val out = tmp("graft_rec_sess_out")
    PoisonGate.armed = true
    try intercept[StreamingQueryException] {
      EventsStream.runAvailableNowTo(pipeline, ckpt, out)
    } finally PoisonGate.armed = false
    EventsStream.runAvailableNowTo(pipeline, ckpt, out)
    // per-user session state recovered from the state store: the session
    // set must be IDENTICAL — a lost state row would split or drop a
    // session, a replayed batch would double-count n_events/total_value
    assert(sessions(out) === reference)
  }

  test("mid-batch crash + restart: foreachBatch upsert converges to the batch answer") {
    val landing = landSplit(3)
    PoisonGate.markerId = middleFileMarker(landing)
    val ckpt = tmp("graft_rec_upsert_ckpt")
    val target = tmp("graft_rec_upsert_tbl")
    def run(): Unit = graft.streaming.UpsertSink.runUpsertLatest(
      EventsStream.readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
        .filter(poison(col("event_id"))),
      ckpt, target, nBuckets = 8)
    PoisonGate.armed = true
    try intercept[StreamingQueryException] { run() }
    finally PoisonGate.armed = false
    // restart replays the failed batch through the same merge — the
    // idempotent argmax repairs whatever the crash left behind
    run()
    val got = spark.read.parquet(target)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id").desc)
    val expected = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"))
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "recovered upsert table must equal the batch argmax")
  }

  test("mid-batch crash + restart: foreachBatch JDBC upsert equals the batch answer") {
    // the reference's actual flow — a pipeline maintaining a keyed
    // relational mart (main.py:282-288) — killed mid-batch and resumed:
    // the checkpoint WAL replays the failed batch into
    // Sinks.upsertLatestJdbc, whose idempotent staging-swap merge
    // converges on the same Derby table an uninterrupted run produces
    val landing = landSplit(3)
    PoisonGate.markerId = middleFileMarker(landing)
    val ckpt = tmp("graft_rec_jdbc_ckpt")
    val url = "jdbc:derby:memory:graftrecdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val table = "mart_stream_upsert"
    def run(): Unit = graft.streaming.UpsertSink.runUpsertLatestJdbc(
      EventsStream.readEventsStream(spark, landing, maxFilesPerTrigger = Some(1))
        .filter(poison(col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value")),
      ckpt, url, table, keys = Seq("user_id", "event_type"),
      versionCol = "event_id", props)
    PoisonGate.armed = true
    try intercept[StreamingQueryException] { run() }
    finally PoisonGate.armed = false
    run()
    val got = graft.io.Sinks.readJdbc(spark, url, table, props)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id").desc)
    val expected = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "recovered JDBC mart must equal the batch argmax")
  }

  test("mid-batch crash + restart: streamed line-df index equals the batch-built one") {
    // q68's maintenance claim under failure: the crashed append commits
    // nothing (FileFormatWriter job atomicity), the checkpoint WAL
    // replays that batch, the batch_id guard makes any replay of a
    // COMMITTED batch a no-op — so the recovered index folds to exactly
    // the document frequencies a one-shot batch build produces
    val landing = Files.createTempDirectory("graft_rec_linedf_in").toString
    val docs = Tables.documents(spark, sfDir)
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    PoisonGate.markerId = spark.read.parquet(parts(1).getAbsolutePath)
      .select(col("doc_id")).collect().last.getLong(0)
    val ckpt = tmp("graft_rec_linedf_ckpt")
    val streamedTbl = "rec_q68_streamed"
    val batchTbl = "rec_q68_batch"
    graft.io.Bucketing.dropTable(spark, streamedTbl)
    graft.io.Bucketing.dropTable(spark, batchTbl)
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .filter(poison(col("doc_id")))
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
          { graft.ops.TextAnalysis.appendLineDfPartial(spark, b.toDF(),
            streamedTbl, id); () })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    PoisonGate.armed = true
    try intercept[StreamingQueryException] { run() }
    finally PoisonGate.armed = false
    run()
    spark.catalog.refreshTable(streamedTbl)
    graft.ops.TextAnalysis.buildLineDfIndex(docs, batchTbl)
    val folded = spark.table(streamedTbl).groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val want = spark.table(batchTbl).drop("batch_id")
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "recovered streamed index must fold to the batch-built dfs")
    graft.io.Bucketing.dropTable(spark, streamedTbl)
    graft.io.Bucketing.dropTable(spark, batchTbl)
  }

  test("mid-batch crash + restart: streamed window-df index equals the batch-built one") {
    // q69's maintenance claim under the same failure: kill the stream
    // mid-batch, resume from the checkpoint, and the recovered
    // window-count index must fold to a one-shot batch build
    val landing = Files.createTempDirectory("graft_rec_windf_in").toString
    val docs = Tables.documents(spark, sfDir)
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    PoisonGate.markerId = spark.read.parquet(parts(1).getAbsolutePath)
      .select(col("doc_id")).collect().last.getLong(0)
    val ckpt = tmp("graft_rec_windf_ckpt")
    val streamedTbl = "rec_q69_streamed"
    val batchTbl = "rec_q69_batch"
    graft.io.Bucketing.dropTable(spark, streamedTbl)
    graft.io.Bucketing.dropTable(spark, batchTbl)
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .filter(poison(col("doc_id")))
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
          { graft.ops.Dedup.appendWindowDfPartial(spark, b.toDF(),
            streamedTbl, id, k = 8); () })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    PoisonGate.armed = true
    try intercept[StreamingQueryException] { run() }
    finally PoisonGate.armed = false
    run()
    spark.catalog.refreshTable(streamedTbl)
    graft.ops.Dedup.buildWindowDfIndex(docs, batchTbl, k = 8)
    val folded = spark.table(streamedTbl).groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val want = spark.table(batchTbl).drop("batch_id")
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "recovered streamed window index must fold to the batch-built counts")
    graft.io.Bucketing.dropTable(spark, streamedTbl)
    graft.io.Bucketing.dropTable(spark, batchTbl)
  }

  test("mid-batch crash + restart: streamed IVF index probes like the batch-built one") {
    // q74's maintenance claim under failure: assignments ride the same
    // batch_id-overwrite replay discipline, and the pinned-centroid
    // artifact guarantees the replayed batch re-assigns to the SAME
    // cells the crashed attempt would have
    val landing = Files.createTempDirectory("graft_rec_ivf_in").toString
    val emb = Tables.embeddings(spark, sfDir)
    emb.repartitionByRange(3, col("vec_id"))
      .write.mode("overwrite").parquet(landing)
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    PoisonGate.markerId = spark.read.parquet(parts(1).getAbsolutePath)
      .select(col("vec_id")).collect().last.getLong(0)
    val ckpt = tmp("graft_rec_ivf_ckpt")
    val centTbl = "rec_q74_cents"; val streamedTbl = "rec_q74_streamed"
    val batchTbl = "rec_q74_batch"
    Seq(centTbl, streamedTbl, batchTbl)
      .foreach(graft.io.Bucketing.dropTable(spark, _))
    graft.ops.Similarity.buildIvfCentroids(emb, centTbl)
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .filter(poison(col("vec_id")))
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
          graft.ops.Similarity.appendIvfAssignPartial(spark, b.toDF(),
            centTbl, streamedTbl, id))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    PoisonGate.armed = true
    try intercept[StreamingQueryException] { run() }
    finally PoisonGate.armed = false
    run()
    spark.catalog.refreshTable(streamedTbl)
    graft.ops.Similarity.buildIvfIndex(emb, batchTbl)
    val got = graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, streamedTbl)
    val want = graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, batchTbl)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "recovered streamed IVF index must probe identically to the batch build")
    Seq(centTbl, streamedTbl, batchTbl)
      .foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("mid-batch crash + restart: streamed shingle-df index probes like the batch-built one") {
    // q79's maintenance claim under failure: the crashed batch's partial
    // is replayed into its own batch_id partition (dynamic-partition
    // overwrite), so the additive df fold — and therefore every novelty
    // verdict — equals the batch build after recovery
    val landing = Files.createTempDirectory("graft_rec_shdf_in").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    corpus.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    PoisonGate.markerId = spark.read.parquet(parts(1).getAbsolutePath)
      .select(col("doc_id")).collect().last.getLong(0)
    val ckpt = tmp("graft_rec_shdf_ckpt")
    val streamedTbl = "rec_q79_streamed"; val batchTbl = "rec_q79_batch"
    Seq(streamedTbl, batchTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .filter(poison(col("doc_id")))
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
          { graft.ops.Dedup.appendShingleDfPartial(spark, b.toDF(),
            streamedTbl, id); () })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    PoisonGate.armed = true
    try intercept[StreamingQueryException] { run() }
    finally PoisonGate.armed = false
    run()
    spark.catalog.refreshTable(streamedTbl)
    graft.ops.Dedup.buildShingleDfIndex(corpus, batchTbl)
    val got = graft.ops.Dedup.noveltyIncremental(spark, delta, streamedTbl)
    val want = graft.ops.Dedup.noveltyIncremental(spark, delta, batchTbl)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "recovered streamed shingle-df index must probe identically to the batch build")
    Seq(streamedTbl, batchTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("crash AFTER the cadence purge, BEFORE the checkpoint commit: the retraction batch replays past the purge and no-ops") {
    // the exact window ADVICE r17 flagged: the purge is durable (index
    // rewritten, watermark stamped, tombstones dropped) but the stream
    // dies before the micro-batch commit, so on restart the WAL replays
    // the RETRACTION batch verbatim — its ids are gone from the index
    // and the tombstone table no longer exists. The watermark must
    // recognize the replay and no-op; the old orphan guard would have
    // failed it loudly as 'history corruption' and wedged the stream.
    val emb = Tables.embeddings(spark, sfDir)
    val poisonDf = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    val landing = Files.createTempDirectory("graft_rec_q82_in").toString
    val slices = Seq(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0).withColumn("retract", lit(false)),
      poisonDf.withColumn("retract", lit(false)),
      poisonDf.withColumn("retract", lit(true)),
      emb.filter(pmod(col("vec_id"), lit(2)) === 1).withColumn("retract", lit(false)))
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = s"$landing/stage_$i"
      s.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Option(new java.io.File(stage).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, f"vecs_$i%05d.parquet"))
    }
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    val ckpt = tmp("graft_rec_q82_ckpt")
    val cents = "rec_q82_cents"; val idx = "rec_q82_ivf"
    val tombs = "rec_q82_tombs"; val clean = "rec_q82_clean"
    Seq(cents, idx, tombs, clean).foreach(graft.io.Bucketing.dropTable(spark, _))
    graft.ops.Similarity.buildIvfCentroids(emb, cents)
    val family = graft.io.Tombstones.ivf(idx, tombs).copy(purgeEvery = 1)
    var crashAfterPurge = true
    var purgeFiredBeforeCrash = false
    var retractReplayLanded = true
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => {
          if (!b.isEmpty) {
            val isRetract = b.select(max(col("retract"))).head.getBoolean(0)
            val vecs = b.drop("retract")
            if (isRetract) {
              retractReplayLanded =
                graft.io.Tombstones.retract(spark, family, vecs, id)
              // the cadence purge, a step of retract, drops the gate
              val fired = !spark.catalog.tableExists(tombs)
              if (crashAfterPurge) {
                crashAfterPurge = false
                purgeFiredBeforeCrash = fired
                throw new RuntimeException(
                  "injected crash after purge, before checkpoint commit")
              }
            } else {
              graft.ops.Similarity.appendIvfAssignPartial(spark, vecs,
                cents, idx, id)
            }
          }
          ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[StreamingQueryException] { run() }
    assert(purgeFiredBeforeCrash,
      "fixture must crash AFTER the cadence purge actually ran")
    run() // restart: batch 2 replays — must take the watermark no-op path
    assert(!retractReplayLanded,
      "the post-purge replay must be recognized as already folded (land() false)")
    spark.catalog.refreshTable(idx)
    assert(!spark.catalog.tableExists(tombs),
      "the replay must not resurrect the tombstone table")
    graft.ops.Similarity.appendIvfAssignPartial(spark, emb, cents, clean, 0L)
    val got = graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, idx)
    val want = graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, clean)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "recovered stream must converge to a build that never held the poison")
    Seq(cents, idx, tombs, clean).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("crash AFTER the cadence fold, BEFORE the checkpoint commit: the absorbed batch replays past the fold and no-ops") {
    // the fold-purge twin of the purge-replay window above (VERDICT r18
    // item 1): the fold is durable (index rewritten as summed rows,
    // foldedThrough watermark stamped atomically with the swap) but the
    // stream dies before the micro-batch commit, so on restart the WAL
    // replays the last batch verbatim — a batch whose per-partition
    // identity the fold destroyed. The watermark must recognize it
    // (landed = false); without it the replayed retraction would land a
    // SECOND negated partial and drive folded dfs negative.
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poisonDf = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val landing = Files.createTempDirectory("graft_rec_fold_in").toString
    val slices = Seq(
      corpus.filter(col("doc_id") % 2 === 0).withColumn("retract", lit(false)),
      corpus.filter(col("doc_id") % 2 === 1).withColumn("retract", lit(false)),
      poisonDf.withColumn("retract", lit(false)),
      poisonDf.withColumn("retract", lit(true)))
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = s"$landing/stage_$i"
      s.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Option(new java.io.File(stage).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, f"docs_$i%05d.parquet"))
    }
    val parts = Option(new java.io.File(landing).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(base + i * 10000L), s"cannot set mtime on $f")
    }
    val ckpt = tmp("graft_rec_fold_ckpt")
    val tbl = "rec_fold_shdf"; val clean = "rec_fold_clean"
    Seq(tbl, clean).foreach(graft.io.Bucketing.dropTable(spark, _))
    var crashAfterFold = true
    var foldFiredBeforeCrash = false
    var replayLanded = true
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => {
          if (!b.isEmpty) {
            val isRetract = b.select(max(col("retract"))).head.getBoolean(0)
            val d = b.drop("retract")
            replayLanded =
              if (isRetract)
                graft.ops.Dedup.retractShingleDfPartial(spark, d, tbl, id)
              else graft.ops.Dedup.appendShingleDfPartial(spark, d, tbl, id)
            val fired = graft.io.Bucketing.maintainIndex(spark, tbl)
            if (fired && crashAfterFold) {
              crashAfterFold = false
              foldFiredBeforeCrash = true
              throw new RuntimeException(
                "injected crash after fold, before checkpoint commit")
            }
          }
          ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[StreamingQueryException] { run() }
    assert(foldFiredBeforeCrash,
      "fixture must crash AFTER the cadence fold actually ran")
    run() // restart: the retraction batch the fold absorbed replays
    assert(!replayLanded,
      "the post-fold replay must be recognized as already folded (landed = false)")
    spark.catalog.refreshTable(tbl)
    graft.ops.Dedup.appendShingleDfPartial(spark, corpus, clean, 0L)
    val got = graft.ops.Dedup.noveltyIncremental(spark, delta, tbl)
    val want = graft.ops.Dedup.noveltyIncremental(spark, delta, clean)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "recovered stream must converge to a build that never held the poison")
    assert(spark.table(tbl).filter(col("df_corpus") <= 0).count() === 0L,
      "no cancelled pair may survive — the fold physically removed the poison")
    Seq(tbl, clean).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("compaction swap killed mid-rename: repair restores the index, re-compact succeeds") {
    import graft.io.Bucketing
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val tbl = "graft_rec_compact_tbl"
    Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
      .foreach(Bucketing.dropTable(spark, _))
    // one landing spread over several write tasks -> fragmented
    // buckets, the state compaction fixes
    def land(rows: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      Bucketing.landPartial(spark, rows.repartition(3), tbl, "compact-spec",
        Seq("doc_id"), buckets = 4, batchId)
    def live = spark.table(tbl).drop("batch_id")
    land(docs, 0L)
    // kill in the only window where the table name does not resolve:
    // between rename-out (original -> _precompact) and rename-in
    intercept[IllegalStateException] {
      Bucketing.withFailpoint(tbl, "rename-into-place") {
        Bucketing.compactBucketed(spark, tbl)
      }
    }
    assert(!spark.catalog.tableExists(tbl),
      "a kill before rename-into-place must leave the window state: " +
        "table name unresolved")
    // repair: the _precompact backup is the complete original — restore
    // it; nothing was lost because nothing was dropped before rename-in
    assert(Bucketing.repairCompaction(spark, tbl), "repair must restore the table")
    val restored = live
    assert(restored.count() === docs.count())
    assert(restored.exceptAll(docs).isEmpty && docs.exceptAll(restored).isEmpty,
      "restored table must be the full pre-compaction content")
    // compaction is idempotent: re-running after repair completes the job
    val files = Bucketing.compactBucketed(spark, tbl)
    assert(files <= 4, s"expected <=1 file per bucket, got $files")
    val got = live
    assert(got.exceptAll(docs).isEmpty && docs.exceptAll(got).isEmpty)
    // kill AFTER the swap (before backup cleanup): table is live and
    // compacted; the next maintenance entry just sweeps the straggler
    land(docs.limit(50), 1L)
    intercept[IllegalStateException] {
      Bucketing.withFailpoint(tbl, "drop-leftover") {
        Bucketing.compactBucketed(spark, tbl)
      }
    }
    assert(spark.catalog.tableExists(tbl) &&
      spark.catalog.tableExists(s"${tbl}_precompact"))
    assert(Bucketing.repairCompaction(spark, tbl))
    assert(!spark.catalog.tableExists(s"${tbl}_precompact"),
      "repair must sweep the straggler backup")
    // the index stays probe-able after the whole ordeal: bucket spec
    // intact and the bucket-key aggregate still plans exchange-free
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
    assert(spec.exists(s => s.numBuckets == 4 &&
      s.bucketColumnNames == Seq("doc_id")), s"bucket spec lost: $spec")
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.table(tbl).groupBy(col("doc_id")).count()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-key groupBy must stay exchange-free after repair:\n$plan")
    }
    Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
      .foreach(Bucketing.dropTable(spark, _))
  }

  test("p59 compaction killed at recover-partitions: the rerun probes the repaired index") {
    import graft.io.Bucketing
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p59_bands", sfDir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p59_sigs", sfDir)
    def dropAll(): Unit =
      Seq(bandsTbl, sigsTbl).flatMap(t => Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))
    def p59() = graft.queries.PipelineQueries.dedupIndexCompact(spark, sfDir)
    dropAll()
    val want = p59().collect().toSeq
    assert(want.nonEmpty, "fixture must probe some verdicts")
    dropAll()
    // kill the band table's compaction after rename-into-place, before
    // the partition recover: the table resolves and lists its landed
    // partitions (so the build-if-absent guard caches it), while the
    // partition locations still name the pre-rename directory
    intercept[IllegalStateException] {
      Bucketing.withFailpoint(bandsTbl, "recover-partitions")(p59())
    }
    assert(Bucketing.hasLandedBatch(spark, bandsTbl, 1L) &&
      Bucketing.hasLandedBatch(spark, sigsTbl, 1L),
      "the kill window must pass p59's build-if-absent guard")
    assert(spark.table(bandsTbl).count() === 0L,
      "the kill window must read empty until the recover runs")
    val got = p59().collect().toSeq
    assert(got.sortBy(_.toString) === want.sortBy(_.toString),
      "the rerun must probe the repaired index, not the empty window")
    assert(Bucketing.tableProperty(spark, bandsTbl,
      Bucketing.NeedsRecoverProperty).isEmpty)
    dropAll()
  }
}
