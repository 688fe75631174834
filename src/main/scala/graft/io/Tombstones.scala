package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Tombstone-based RETRACTION for posting-list index families (minhash
  * bands/sigs, vector bands/payloads) — the right-to-be-forgotten path
  * the additive-df families solve with negated partials
  * (Dedup.retractShingleDfPartial) but posting lists cannot: a posting
  * row is a fact about one document, not a count, so deletion must
  * REMOVE rows, and rewriting a 100 TB index per deletion request is
  * not an option.
  *
  * The protocol, mirroring the append side's economics:
  *
  *  1. [[land]] — record the retired ids as their own batch_id
  *     partition of a tiny tombstone table: O(|removed|) write, same
  *     idempotent-replay discipline as every append partial (a torn
  *     retraction batch re-lands over itself).
  *  2. probe-side filtering — probes broadcast-anti-join the tombstone
  *     ids against the index scans (a map-side gate on the corpus
  *     side, no added exchange), so a retired document STOPS MATCHING
  *     the instant the tombstone lands, long before any rewrite.
  *  3. [[purge]] — at maintenance cadence, fold the tombstones into
  *     the index for real via the crash-safe layout-preserving
  *     [[Bucketing.purgeBucketed]] swap, then drop the tombstone
  *     table: the index is again byte-equivalent to a rebuild without
  *     the retired documents, and the probe-side filter becomes a
  *     no-op it no longer needs.
  *
  * Guards (the negative-df analogue for posting lists): retracting a
  * document the index never contained fails loudly (orphan guard), as
  * does retracting the same document twice across batches — both are
  * history corruption a silent accept would bake into every future
  * probe. A REPLAY of the same batch (same batch_id) is not a double
  * retraction and stays idempotent — INCLUDING a replay that arrives
  * after [[purge]] already folded the batch (the at-least-once window
  * does not end at purge): purge stamps its high-water batch_id on
  * every family table, and [[land]] no-ops a batch at or below that
  * watermark instead of tripping the orphan guard on ids the purge
  * legitimately removed. The watermark contract is that retraction
  * batch ids are MONOTONICALLY increasing per tombstone table (every
  * caller's ids are stream micro-batch ids or a 0,1,2… sequence), so
  * one O(1) property — not an ever-growing purged-id set — covers the
  * whole replay history.
  */
object Tombstones {

  /** Table property stamped on every family table by its [[purge]]
    * swap: the highest retraction batch_id the purge folded. [[land]]
    * reads it from `sigsTable` (the last table a purge rewrites) to
    * recognize a post-purge replay. */
  val PurgedThroughProperty = "graft.retraction.purgedThrough"

  private def purgedThrough(spark: SparkSession, table: String): Long =
    spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get(PurgedThroughProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)

  /** Land `ids` (single id column named `idCol`) as retraction batch
    * `batchId` of `tombstonesTable`. `sigsTable` is the family table
    * that carries one row per indexed document under the same id
    * column — the orphan guard checks membership against it. Returns
    * false (and does nothing) when `batchId` was already purged — the
    * post-purge replay of the at-least-once window; true when the
    * batch landed (first time or idempotent re-land). */
  def land(spark: SparkSession, ids: DataFrame, idCol: String,
           tombstonesTable: String, kind: String, batchId: Long,
           sigsTable: String): Boolean = {
    // post-purge replay: this batch's tombstones were already folded
    // into the index and dropped — its ids are gone from sigsTable by
    // design, so re-running the orphan guard would misread a legal
    // replay as history corruption. No-op; the forget already happened.
    // BUT distinguish a true replay from a REUSED low batch id (ADVICE
    // r18): a genuinely purged batch's ids are absent from sigsTable by
    // construction, so any id still LIVE there means this is a fresh
    // right-to-be-forgotten request wearing an already-purged id —
    // silently dropping it would leave the operator believing data was
    // forgotten while it stays indexed. One retraction-sized semi-join
    // on the (rare) watermark path, fail-loudly like every other
    // history guard in this file.
    if (batchId <= purgedThrough(spark, sigsTable)) {
      val live = ids.select(col(idCol)).distinct()
        .join(spark.table(sigsTable).select(col(idCol)), Seq(idCol),
          "left_semi").count()
      require(live == 0L,
        s"retraction batch $batchId is at/below $sigsTable's purge " +
          s"watermark, but $live of its id(s) are still live in the " +
          "index — a reused batch id would silently drop a live " +
          "retraction; use a batch id above the watermark")
      return false
    }
    val distinctIds = ids.select(col(idCol)).distinct().localCheckpoint()
    // orphan guard: a retraction can only retire documents the index
    // actually contains — a typo'd id list silently "succeeding" would
    // leave the operator believing data was forgotten when nothing was.
    // Ids already in the tombstone table are exempt: a replay landing
    // in the window AFTER purgeBucketed removed them from sigsTable but
    // BEFORE the tombstone table was dropped is the crash-recovery path,
    // not an orphan (the double-retract guard below still rejects the
    // same id under a DIFFERENT batch).
    val known = spark.table(sigsTable).select(col(idCol))
    val knownOrPending =
      if (spark.catalog.tableExists(tombstonesTable))
        known.union(spark.table(tombstonesTable).select(col(idCol)))
      else known
    val orphans = distinctIds.join(knownOrPending, Seq(idCol), "left_anti")
      .count()
    require(orphans == 0L,
      s"retraction names $orphans document(s) absent from $sigsTable — " +
        "retracting a never-indexed document is history corruption; " +
        "check the id list")
    if (spark.catalog.tableExists(tombstonesTable)) {
      Bucketing.requireKind(spark, tombstonesTable, kind)
      // double-retraction guard — but a REPLAY of this same batch_id
      // (the at-least-once window) must pass and idempotently overwrite
      // its own partition
      val dup = distinctIds.join(
          spark.table(tombstonesTable).filter(col("batch_id") =!= batchId)
            .select(col(idCol)),
          Seq(idCol), "left_semi")
        .count()
      require(dup == 0L,
        s"$dup document(s) already retracted in an earlier batch of " +
          s"$tombstonesTable — a double retraction is history corruption")
      Bucketing.overwritePartitions(
        distinctIds.withColumn("batch_id", lit(batchId)), tombstonesTable)
    } else {
      Bucketing.dropTable(spark, tombstonesTable)
      distinctIds.withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id").format("parquet")
        .saveAsTable(tombstonesTable)
      Bucketing.stampKind(spark, tombstonesTable, kind)
    }
    true
  }

  /** Probe-side gate: drop tombstoned ids from an index scan. The
    * tombstone set broadcasts (it is retraction-sized), so the gate is
    * map-side on the index scan — no exchange is added and the scan's
    * bucketed output partitioning survives for the probe join. No-op
    * when no tombstone table exists (nothing retracted yet, or already
    * purged). */
  def filterRetracted(spark: SparkSession, indexRows: DataFrame,
                      idCol: String, tombstonesTable: Option[String],
                      kind: String): DataFrame =
    tombstonesTable.filter(spark.catalog.tableExists) match {
      case None => indexRows
      case Some(tt) =>
        Bucketing.requireKind(spark, tt, kind)
        indexRows.join(
          broadcast(spark.table(tt).select(col(idCol))), Seq(idCol),
          "left_anti")
    }

  /** Fold the tombstones into the index for real: purge every family
    * table (crash-safe layout-preserving swap), then drop the
    * tombstone table. Ordering makes every crash window safe: until
    * the final drop, probes still filter by the tombstones (filtering
    * an already-purged id is a no-op); after it, the index itself is
    * the rebuild-without. Returns true when a purge ran. */
  def purge(spark: SparkSession, tombstonesTable: String, idCol: String,
            kind: String, tables: Seq[String]): Boolean = {
    if (!spark.catalog.tableExists(tombstonesTable)) return false
    Bucketing.requireKind(spark, tombstonesTable, kind)
    val pending = spark.table(tombstonesTable)
    val maxBatchRow = pending.agg(
      org.apache.spark.sql.functions.max(col("batch_id"))).head
    if (maxBatchRow.isNullAt(0)) {
      // a zero-row retraction batch can leave an EXISTING but empty
      // tombstone table (partitionBy of an empty frame writes no
      // partition): nothing to fold, no watermark to stamp — just
      // remove the empty gate
      Bucketing.dropTable(spark, tombstonesTable)
      return false
    }
    val ids = pending.select(col(idCol)).distinct().localCheckpoint()
    // the watermark rides each table's purge swap, so it goes live
    // together with that table's purged rows, and every table is stamped
    // BEFORE the drop: every crash window is replay-safe — until the last
    // table's swap, land() (which reads the last table) sees no watermark,
    // the tombstone table still exists so a replay passes the
    // tombstone-membership exemption, and a re-run purge is an idempotent
    // rewrite; after it but before the drop, replays of folded batches
    // no-op on the watermark while the leftover gate filters
    // already-absent ids (a no-op) until the next purge drops it
    val watermark = Map(PurgedThroughProperty -> maxBatchRow.getLong(0).toString)
    tables.foreach(t => Bucketing.purgeBucketed(spark, t, ids, idCol, watermark))
    Bucketing.dropTable(spark, tombstonesTable)
    true
  }

  /** One tombstone-carrying index family under cadence maintenance:
    * everything [[maybePurge]] needs to fold its pending retractions. */
  final case class PurgeSpec(tombstonesTable: String, idCol: String,
                             kind: String, tables: Seq[String],
                             everyBatches: Int = PurgeEveryDefault)

  /** Default purge cadence (pending retraction BATCHES before a fold),
    * mirroring [[Bucketing.maintainIndex]]'s compaction cadence: a purge
    * rewrites the whole index (O(index/N) amortized at cadence N), so it
    * runs every few retraction batches, not per batch — while the
    * unpurged window stays bounded at `everyBatches` batches' worth of
    * broadcast gate. */
  val PurgeEveryDefault: Int = 4

  /** AUTO-PURGE CADENCE — the tombstone analogue of
    * [[Bucketing.maintainIndex]]'s compaction cadence, closing the one unbounded-growth path
    * left in the index lifecycle (VERDICT r17 item 1): without it,
    * steady right-to-be-forgotten traffic grows the probe-side
    * broadcast gate and the tombstone table without bound, and physical
    * deletion waits on an operator remembering to call [[purge]]. Once
    * `everyBatches` retraction batches are pending, the purge runs
    * through the same crash-safe swap and drops the gate. Wired into
    * `runIndexMaintenance` next to the compaction cadence, so streamed
    * index families get it by default. Returns true when a purge ran. */
  def maybePurge(spark: SparkSession, spec: PurgeSpec): Boolean = {
    if (spec.everyBatches <= 0) return false
    if (!spark.catalog.tableExists(spec.tombstonesTable)) return false
    val pendingBatches = spark.sessionState.catalog.listPartitionNames(
      org.apache.spark.sql.catalyst.TableIdentifier(spec.tombstonesTable))
      .flatMap(_.stripPrefix("batch_id=").toLongOption).distinct.size
    if (pendingBatches < spec.everyBatches) false
    else purge(spark, spec.tombstonesTable, spec.idCol, spec.kind,
      spec.tables)
  }
}
