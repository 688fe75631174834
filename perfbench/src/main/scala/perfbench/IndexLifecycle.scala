package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.io.Bucketing
import graft.ops.Dedup

/** `index_lifecycle`: the streamed minhash index, written and then read.
  * Each iteration, on a fresh landing zone, checkpoint and index:
  *
  *  1. ingest — a seeded corpus (about 10% near-duplicate edits) landed as
  *     parquet files is drained by an AvailableNow stream, one file per
  *     micro-batch, whose foreachBatch appends the batch to the index
  *     (`Dedup.appendCorpusIndexPartial`) and runs its maintenance cadence
  *     (`Bucketing.maintainIndex`; compaction fires at the 4th batch);
  *  2. serve — a fixed cycle of SQL statements on a GraftExtensions
  *     session: PROBE a seeded delta (30% near-duplicates, some of
  *     documents retracted earlier in the cycle), RETRACT, PROBE, COMPACT
  *     INDEX, PROBE, PURGE RETRACTIONS.
  *
  * The write side and the read side share the `io.Bucketing` tables, so a
  * gain for ingest that costs probes shows in the same run. */
final class IndexLifecycle extends Workload {
  private val Batches = 4
  private val DocsPerBatch = 400
  private val DupShare = 0.1
  private val DeltaDocs = 200
  private val DeltaDupShare = 0.3
  private val Deltas = 8
  private val RetractDocs = 20
  private val Cycle = Vector("probe", "retract", "probe", "compact", "probe", "purge")
  // the warm-up runs each statement kind once
  private val WarmCycle = Vector("probe", "retract", "compact", "purge")

  private var pristine: Path = _
  private var corpusPath: String = _
  private var deltasPath: String = _
  private var corpusIds: Vector[Long] = Vector.empty
  private var iteration = 0
  private var nextDelta = 0
  private var lastTables: Seq[String] = Nil

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Gen(ctx.opts.seed)
    val (corpus, pairs) = g.corpus(Batches * DocsPerBatch, 1L, DupShare)
    corpusIds = corpus.map(_.doc_id)
    pristine = ctx.opts.work.resolve("inputs/landing")
    Gen.writeParquetSlices(spark, corpus.grouped(DocsPerBatch).toSeq, pristine)
    corpusPath = ctx.opts.work.resolve("inputs/corpus").toString
    corpus.toDS().write.parquet(corpusPath)
    val deltas = (0 until Deltas).map(i =>
      g.corpus(DeltaDocs, 10000000L + i * 1000L, DeltaDupShare, corpus))
    deltasPath = ctx.opts.work.resolve("inputs/deltas").toString
    deltas.zipWithIndex.flatMap { case ((docs, _), i) => docs.map(d => (i, d.doc_id, d.text)) }
      .toDF("delta_id", "doc_id", "text").write.partitionBy("delta_id").parquet(deltasPath)
    ctx.inputs ++= Seq("docs" -> corpus.size, "files" -> Batches, "batches" -> Batches,
      "near_dup_share" -> pairs.size.toDouble / corpus.size,
      "bytes_landed" -> Gen.treeBytes(pristine), "delta_docs" -> DeltaDocs,
      "delta_near_dup_share" -> deltas.map(_._2.size).sum.toDouble / (Deltas * DeltaDocs),
      "retract_docs" -> RetractDocs, "cycle" -> Cycle.mkString(","))
    ctx.warmUp(lifecycle(ctx, warm = true, "warm"))
  }

  def iterate(ctx: Ctx): Unit = {
    ctx.dropTables(lastTables: _*)
    iteration += 1
    lifecycle(ctx, warm = false, s"$iteration")
  }

  private def delta(ctx: Ctx, i: Int): DataFrame =
    ctx.spark.read.parquet(deltasPath).where(col("delta_id") === i % Deltas)
      .select("doc_id", "text")

  /** One ingest, then one statement cycle, on tables suffixed `tag`. */
  private def lifecycle(ctx: Ctx, warm: Boolean, tag: String): Unit = {
    val spark = ctx.spark
    val (bands, sigs, tombs, out) =
      (s"idx_bands_$tag", s"idx_sigs_$tag", s"idx_tombs_$tag", s"idx_out_$tag")
    val dir = ctx.freshDir("index")
    val ingested = ingest(ctx, warm, dir, bands, sigs)
    if (!warm) lastTables = Seq(bands, sigs, tombs, out)
    if (ingested) {
      val retracted = mutable.LinkedHashSet[Long]()
      val rnd = new scala.util.Random(ctx.opts.seed * 1000 + iteration)
      var batch = 0L
      var probes = 0
      (if (warm) WarmCycle else Cycle).foreach { kind =>
        val deltaId = nextDelta
        val sql = kind match {
          case "probe" =>
            delta(ctx, deltaId).createOrReplaceTempView(s"delta_$tag")
            s"PROBE minhash INDEX $bands, $sigs TOMBSTONES $tombs INTO $out " +
              s"AS SELECT doc_id, text FROM delta_$tag"
          case "retract" =>
            val ids = rnd.shuffle(corpusIds.filterNot(retracted.contains)).take(RetractDocs)
            spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")
              .createOrReplaceTempView(s"retract_$tag")
            retracted ++= ids
            batch += 1
            s"RETRACT FROM minhash INDEX $bands, $sigs TOMBSTONES $tombs BATCH $batch " +
              s"AS SELECT doc_id FROM retract_$tag"
          case "compact" => s"COMPACT INDEX $bands"
          case "purge" => s"PURGE RETRACTIONS FROM minhash INDEX $bands, $sigs TOMBSTONES $tombs"
        }
        if (ctx.tracer.enabled) {
          ctx.tracer.span("sql.parse")(spark.sessionState.sqlParser.parsePlan(sql))
          if (kind == "probe")
            ctx.sample("index_files",
              (Bucketing.dataFileCount(spark, bands) + Bucketing.dataFileCount(spark, sigs)).toDouble)
        }
        val res =
          if (warm) Some((spark.sql(sql).collect(), 0.0))
          else ctx.op(s"op.$kind")(spark.sql(sql).collect())
        res.foreach { case (rows, secs) =>
          if (!warm) ctx.sample(if (kind == "probe") "op" else "mutation", secs)
          if (!warm && ctx.tracer.enabled) ctx.sample(kind, secs)
          kind match {
            case "probe" =>
              if (!warm) nextDelta += 1
              probes += 1
              ctx.check("probe rows")(rows.head.getLong(2) == DeltaDocs)
              // the twin check runs on the 3rd probe: it reads what the
              // stream wrote, through the tombstone gate of a pending
              // retraction, after a compaction
              if (!warm && probes == 3) verifyProbe(ctx, out, deltaId, corpusIds.filterNot(retracted))
            case "retract" => ctx.check("retraction landed")(rows.head.getBoolean(3))
            case "purge" => ctx.check("purge ran")(rows.head.getBoolean(1))
            case "compact" => ctx.check("compaction wrote files")(rows.head.getLong(2) > 0)
          }
        }
      }
      if (!warm) verifyIndex(ctx, sigs, tombs, corpusIds.filterNot(retracted).toSet)
    }
    ctx.isolate()
    if (warm) ctx.dropTables(bands, sigs, tombs, out)
    ctx.deleteTree(dir)
  }

  /** Drain the landing zone into a fresh index with one AvailableNow
    * stream; false when the stream failed. */
  private def ingest(ctx: Ctx, warm: Boolean, dir: Path, bands: String, sigs: String): Boolean = {
    val spark = ctx.spark
    val t = ctx.tracer
    val landing = dir.resolve("landing")
    Gen.copyFiles(pristine, landing)
    val schema = spark.read.parquet(landing.toString).schema
    val batchFailures = mutable.ArrayBuffer[String]()
    var rewrites = 0
    def stream(): org.apache.spark.sql.streaming.StreamingQuery = {
      val streamSpan = t.current
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          t.span("streaming.batch", parent = streamSpan) {
            try {
              t.span("ops.dedup.append_partial")(
                Dedup.appendCorpusIndexPartial(spark, b.toDF(), bands, sigs, id))
              t.span("io.bucketing.maintain") {
                Seq(bands, sigs).foreach(tb => if (Bucketing.maintainIndex(spark, tb)) rewrites += 1)
              }
            } catch {
              case e: Exception =>
                batchFailures += s"batch $id: ${e.getClass.getSimpleName}: ${e.getMessage}"
                throw e
            }
          }
          ()
        }
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    if (warm) { stream(); return true }
    ctx.op("op.ingest")(stream()) match {
      case Some((q, secs)) =>
        val progress = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        progress.foreach { p =>
          ctx.countOp(ok = true, "")
          ctx.sample("batch", p.durationMs.get("triggerExecution") / 1000.0)
        }
        ctx.sample("ingest_s", secs)
        ctx.sample("rewrites", rewrites.toDouble)
        ctx.sample("index_bytes",
          (Bucketing.dataFileBytes(spark, bands) + Bucketing.dataFileBytes(spark, sigs)).toDouble)
        ctx.check("one micro-batch per landed file")(progress.length == Batches,
          s"${progress.length} batches")
        if (t.enabled) t.span("functions.minhash_signature") {
          spark.read.parquet(corpusPath).select(Dedup.minhashSignature(col("text"), 128, 3))
            .write.format("noop").mode("overwrite").save()
        }
        true
      case None =>
        batchFailures.foreach(f => ctx.countOp(ok = false, f))
        false
    }
  }

  /** PROBE verdicts equal the index-free twin over the live corpus. */
  private def verifyProbe(ctx: Ctx, out: String, deltaId: Int, live: Seq[Long]): Unit =
    ctx.verifying {
      val spark = ctx.spark
      val probed = Verdicts.collect(spark.table(out))
      val liveDf = spark.read.parquet(corpusPath).filter(col("doc_id").isin(live: _*))
      val twin = Verdicts.collect(Dedup.incrementalMinhashVerdicts(liveDf, delta(ctx, deltaId)))
      ctx.check("probe verdicts equal the twin over the live corpus")(probed == twin,
        Verdicts.diff(probed, twin))
      ctx.check("probe finds near-dups")(twin.exists(_._2), "no delta doc matched")
    }

  /** After the cycle, the index minus pending tombstones holds exactly the
    * live corpus, each document once. */
  private def verifyIndex(ctx: Ctx, sigs: String, tombs: String, live: Set[Long]): Unit =
    ctx.verifying {
      val spark = ctx.spark
      val ids = spark.table(sigs).select("doc_id").collect().map(_.getLong(0))
      val pending =
        if (spark.catalog.tableExists(tombs))
          spark.table(tombs).select("doc_id").collect().map(_.getLong(0)).toSet
        else Set.empty[Long]
      ctx.check("index holds the live corpus once")(
        ids.distinct.length == ids.length && ids.toSet -- pending == live,
        s"${ids.length} rows, ${ids.distinct.length} distinct, ${live.size} live")
    }

  def endToEnd(ctx: Ctx): Map[String, Double] = Map(
    "op_p50_s" -> Stats.median(ctx.samplesOf("op")),
    "aux_op_p50_s" -> Stats.median(ctx.samplesOf("mutation")),
    "items_per_s" -> corpusIds.size / Stats.median(ctx.samplesOf("ingest_s")),
    "stored_bytes_per_item" -> Stats.median(ctx.samplesOf("index_bytes")) / corpusIds.size)

  def perLayer(ctx: Ctx, t: Trace): Map[String, Double] = {
    val batches = t.named("streaming.batch")
    val ingests = t.named("op.ingest")
    val probes = t.named("op.probe")
    val protocol = t.progress.filter(_.durationMs.containsKey("addBatch")).map(p =>
      (p.durationMs.get("triggerExecution") - p.durationMs.get("addBatch")) / 1000.0)
    def traced(name: String) = Stats.median(ctx.samplesOf(name, "traced"))
    Map(
      "ingest_batch_p50_s" -> traced("batch"),
      "ingest_docs_per_s" -> corpusIds.size / Stats.median(ingests.map(_.seconds)),
      "index_bytes_per_doc" -> traced("index_bytes") / corpusIds.size,
      "ops.dedup.append_partial_s" -> Stats.median(t.named("ops.dedup.append_partial").map(_.seconds)),
      "streaming.protocol_s" -> Stats.median(protocol),
      "io.bucketing.metastore_calls_per_batch" -> Stats.mean(batches.map(_.metastoreCalls.toDouble)),
      "io.bucketing.maintain_s" ->
        Stats.median(ingests.map(s => t.secondsUnder(s.id, "io.bucketing.maintain"))),
      "io.bucketing.rewrites" -> traced("rewrites"),
      "io.bucketing.index_files" -> traced("index_files"),
      "functions.minhash_signature_s" ->
        Stats.median(t.named("functions.minhash_signature").map(_.seconds)),
      "serve_probe_p50_s" -> traced("probe"),
      "serve_mutation_p50_s" -> traced("mutation"),
      "ops.dedup.probe_tasks" -> Stats.median(probes.map(p => t.total(p.id).tasks.toDouble)),
      "ops.dedup.probe_shuffle_bytes" ->
        Stats.median(probes.map(p => t.total(p.id).shuffleWriteBytes.toDouble)),
      "ops.dedup.probe_jobs" -> Stats.median(probes.map(p => t.total(p.id).jobs.toDouble)),
      "sql.parse_s" -> Stats.median(t.named("sql.parse").map(_.seconds)),
      "io.tombstones.retract_s" -> traced("retract"),
      "io.tombstones.purge_s" -> traced("purge"),
      "io.bucketing.compact_s" -> traced("compact"))
  }
}

/** Probe verdict rows (doc_id, is_dup, dup_of, jaccard), collected sorted. */
object Verdicts {
  type V = (Long, Boolean, Option[Long], Option[Double])

  def collect(df: DataFrame): Vector[V] =
    df.select("doc_id", "is_dup", "dup_of", "jaccard").collect().map { r =>
      (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.toVector.sortBy(_._1)

  def diff(a: Vector[V], b: Vector[V]): String = {
    val (sa, sb) = (a.toSet, b.toSet)
    s"${a.size} vs ${b.size} rows; only left: ${(sa -- sb).take(5)}; only right: ${(sb -- sa).take(5)}"
  }
}
