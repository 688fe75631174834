package graft.io

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Tombstone-based RETRACTION for posting-list index families (minhash
  * bands/sigs, vector bands/payloads, ivf assignments) — the
  * right-to-be-forgotten path the additive-df families solve with
  * negated partials (Dedup.retractShingleDfPartial) but posting lists
  * cannot: a posting row is a fact about one document, not a count, so
  * deletion must REMOVE rows, and rewriting a 100 TB index per deletion
  * request is not an option.
  *
  * Each family is one [[Family]] value ([[minhash]], [[vector]],
  * [[ivf]]), and each verb has one entry point. The protocol, mirroring
  * the append side's economics:
  *
  *  1. [[retract]] — record the retired ids as their own batch_id
  *     partition of a tiny tombstone table, landed through
  *     [[Bucketing.landPartial]] like every streamed index partial: one
  *     kind-stamped `CREATE` on the first batch, then the guarded
  *     dynamic overwrite, so a torn retraction batch re-lands over
  *     itself. O(|removed|) write.
  *  2. probe-side filtering — probes broadcast-anti-join the tombstone
  *     ids against the index scans ([[filterRetracted]], a map-side gate
  *     on the corpus side, no added exchange), so a retired document
  *     STOPS MATCHING the instant the tombstone lands, long before any
  *     rewrite.
  *  3. [[purge]] — at the family's cadence (a step of [[retract]]) or
  *     on demand, fold the tombstones into the index for real via the
  *     crash-safe layout-preserving [[Bucketing.purgeBucketed]] swap,
  *     then drop the tombstone table: the index is again
  *     byte-equivalent to a rebuild without the retired documents, and
  *     the probe-side filter becomes a no-op it no longer needs.
  *
  * Guards (the negative-df analogue for posting lists): retracting a
  * document the index never contained fails loudly (orphan guard), as
  * does retracting the same document twice across batches — both are
  * history corruption a silent accept would bake into every future
  * probe. A REPLAY of the same batch (same batch_id) is not a double
  * retraction and stays idempotent — INCLUDING a replay that arrives
  * after [[purge]] already folded the batch (the at-least-once window
  * does not end at purge): purge stamps its high-water batch_id on
  * every family table, and [[retract]] no-ops a batch at or below that
  * watermark instead of tripping the orphan guard on ids the purge
  * legitimately removed. The watermark contract is that retraction
  * batch ids are MONOTONICALLY increasing per tombstone table (every
  * caller's ids are stream micro-batch ids or a 0,1,2… sequence), so
  * one O(1) property — not an ever-growing purged-id set — covers the
  * whole replay history.
  *
  * Size contract: a retraction batch, and so the whole pending tombstone
  * set (at most `purgeEvery` batches), is RETRACTION-SIZED, which here
  * means DRIVER-SIZED. Every probe already imposes this bound:
  * [[filterRetracted]] broadcasts the whole pending table, and a
  * broadcast is collected to the driver first. So [[retract]] and
  * [[purge]] hold the ids on the driver: RETRACT collects the batch's
  * distinct ids once, answers every guard from one collect of a
  * bucket-pruned scan, and lands the tombstone partition from a local
  * relation of those ids; PURGE collects the pending (id, batch_id) once
  * for its watermark and keys, and hands [[Bucketing.purgeBucketed]] a
  * local relation to broadcast. A batch too large for the driver is too
  * large for the probe gate as well.
  */
object Tombstones {

  /** Table property stamped on every family table by its [[purge]]
    * swap: the highest retraction batch_id the purge folded. [[retract]]
    * reads it from the family's payload table (the last table a purge
    * rewrites) to recognize a post-purge replay. */
  val PurgedThroughProperty = "graft.retraction.purgedThrough"

  /** Default purge cadence (pending retraction BATCHES before a fold),
    * mirroring [[Bucketing.maintainIndex]]'s compaction cadence: a purge
    * rewrites the whole index (O(index/N) amortized at cadence N), so it
    * runs every few retraction batches, not per batch — while the
    * unpurged window stays bounded at `purgeEvery` batches' worth of
    * broadcast gate. */
  val PurgeEveryDefault: Int = 4

  /** Bucket count of a tombstone table. The tombstone set is
    * driver-sized (the size contract above) and always read whole —
    * broadcast by the probe gate, collected by [[purge]] — so no join
    * ever uses its bucketing; one bucket, landed by one task, keeps each
    * retraction batch one file. */
  private val TombstoneBuckets = 1

  /** One tombstone-carrying index family: its tombstone table and
    * `kind`, the id column stored in the index and tombstone tables
    * (`idCol`) and the one a retraction source returns (`sourceIdCol`),
    * the index `tables` with their kinds — purged in order, the last
    * being the payload table with one row per indexed id — and the
    * purge cadence [[retract]] applies (pending batches; 0 = never). */
  final case class Family(kind: String, idCol: String, sourceIdCol: String,
                          tables: Seq[(String, String)], tombstones: String,
                          purgeEvery: Int = PurgeEveryDefault) {
    /** The table the orphan guard and the purge watermark read. */
    def payload: String = tables.last._1
  }

  /** The minhash corpus index: band postings and signatures by doc_id. */
  def minhash(bands: String, sigs: String, tombstones: String): Family =
    Family("minhash-tombs", "doc_id", "doc_id",
      Seq(bands -> "minhash-bands", sigs -> "minhash-sigs"), tombstones)

  /** The vector index: LSH postings and verify payloads, stored by
    * corpus_id and retired by the source's vec_id. */
  def vector(bands: String, vecs: String, tombstones: String): Family =
    Family("vec-tombs", "corpus_id", "vec_id",
      Seq(bands -> "vec-bands", vecs -> "vec-payload"), tombstones)

  /** The IVF assignment index, by vec_id. */
  def ivf(assign: String, tombstones: String): Family =
    Family("ivf-tombs", "vec_id", "vec_id", Seq(assign -> "ivf-assign"),
      tombstones)

  private def purgedThrough(spark: SparkSession, table: String): Long =
    Bucketing.tableProperty(spark, table, PurgedThroughProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)

  /** RETRACT the rows of `removed` (by the family's `sourceIdCol`) as
    * retraction batch `batchId`: after it lands, probes passing the
    * tombstone table no longer see the retired ids. Then the AUTO-PURGE
    * CADENCE: once `purgeEvery` retraction batches are pending, [[purge]]
    * folds them — without it steady right-to-be-forgotten traffic would
    * grow the probe-side gate and the tombstone table without bound, and
    * physical deletion would wait on an operator remembering to purge.
    * Returns false (and lands nothing) when `batchId` was already purged
    * — the post-purge replay of the at-least-once window; true when the
    * batch landed (first time or idempotent re-land). `removed` must be
    * driver-sized (the size contract above): its ids are collected. */
  def retract(spark: SparkSession, family: Family, removed: DataFrame,
              batchId: Long): Boolean = {
    val names = family.tables.map(_._1)
    require(names.forall(spark.catalog.tableExists),
      s"${names.mkString("/")} must exist — a retraction can only follow " +
        "an index build")
    family.tables.foreach { case (t, k) => Bucketing.requireKind(spark, t, k) }
    val landed = land(spark, family,
      removed.select(col(family.sourceIdCol).as(family.idCol)), batchId)
    val tt = family.tombstones
    if (family.purgeEvery > 0 && spark.catalog.tableExists(tt)) {
      val pending = spark.sessionState.catalog.listPartitionNames(
        org.apache.spark.sql.catalyst.TableIdentifier(tt))
        .flatMap(_.stripPrefix("batch_id=").toLongOption).distinct.size
      if (pending >= family.purgeEvery) purge(spark, family)
    }
    landed
  }

  private def land(spark: SparkSession, family: Family, ids: DataFrame,
                   batchId: Long): Boolean = {
    val (idCol, tt, payload) = (family.idCol, family.tombstones, family.payload)
    // the batch's distinct ids on the driver (retraction-sized), cast to
    // the payload's id type first, so set membership below means what
    // a join's equality on the stored ids means
    val idField = spark.table(payload).schema(idCol)
    val batch = ids.select(col(idCol).cast(idField.dataType)).collect()
      .map(_.get(0)).distinct.toSeq
    val keys = batch.filter(_ != null)
    // ONE scan answers every guard: where the batch's ids stand in the
    // payload (batch_id null) and in the pending tombstones. The `isin`
    // on the bucket column prunes each scan to the buckets the ids hash
    // to and adds no exchange.
    def found(table: String, batchCol: Column): DataFrame =
      spark.table(table).filter(col(idCol).isin(keys: _*))
        .select(col(idCol), batchCol.cast(LongType).as("batch_id"))
    val scan = found(payload, lit(null))
    val (live, tombed) = (if (spark.catalog.tableExists(tt))
        scan.unionByName(found(tt, col("batch_id"))) else scan)
      .collect().partition(_.isNullAt(1))
    val liveIds = live.map(_.get(0)).toSet
    // post-purge replay: this batch's tombstones were already folded
    // into the index and dropped — its ids are gone from the payload by
    // design, so running the orphan guard would misread a legal replay
    // as history corruption. No-op; the forget already happened.
    // BUT distinguish a true replay from a REUSED low batch id (ADVICE
    // r18): a genuinely purged batch's ids are absent from the payload
    // by construction, so any id still LIVE there means this is a fresh
    // right-to-be-forgotten request wearing an already-purged id —
    // silently dropping it would leave the operator believing data was
    // forgotten while it stays indexed. Fail loudly, like every other
    // history guard in this file.
    if (batchId <= purgedThrough(spark, payload)) {
      require(liveIds.isEmpty,
        s"retraction batch $batchId is at/below $payload's purge " +
          s"watermark, but ${liveIds.size} of its id(s) are still live in " +
          "the index — a reused batch id would silently drop a live " +
          "retraction; use a batch id above the watermark")
      return false
    }
    // orphan guard: a retraction can only retire documents the index
    // actually contains — a typo'd id list silently "succeeding" would
    // leave the operator believing data was forgotten when nothing was.
    // A null id matches nothing, so it is an orphan. Ids already in the
    // tombstone table are exempt: a replay landing in the window AFTER
    // purgeBucketed removed them from the payload but BEFORE the
    // tombstone table was dropped is the crash-recovery path, not an
    // orphan (the double-retract guard below still rejects the same id
    // under a DIFFERENT batch).
    val known = liveIds ++ tombed.map(_.get(0))
    val orphans = batch.count(id => id == null || !known.contains(id))
    require(orphans == 0,
      s"retraction names $orphans document(s) absent from $payload — " +
        "retracting a never-indexed document is history corruption; " +
        "check the id list")
    // double-retraction guard — but a REPLAY of this same batch_id (the
    // at-least-once window) must pass and idempotently overwrite its own
    // partition
    val dup = tombed.filter(_.getLong(1) != batchId).map(_.get(0)).distinct
    require(dup.isEmpty,
      s"${dup.length} document(s) already retracted in an earlier batch " +
        s"of $tt — a double retraction is history corruption")
    // the kind, the batch_id-partitioned layout and the replay
    // discipline are the index landing's own guards; one task lands the
    // batch as one file
    Bucketing.landPartial(spark, localIds(spark, idField, keys).coalesce(1),
      tt, family.kind, Seq(idCol), TombstoneBuckets, batchId)
  }

  /** A local relation of driver-held ids: scans, broadcasts and writes
    * of it read no RDD. */
  private def localIds(spark: SparkSession, field: StructField,
                       ids: Seq[Any]): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava, StructType(Seq(field)))

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
    * tombstone table. The pending set is collected once (driver-sized,
    * the size contract above), so the rewrites broadcast a local
    * relation. Ordering makes every crash window safe: until
    * the final drop, probes still filter by the tombstones (filtering
    * an already-purged id is a no-op); after it, the index itself is
    * the rebuild-without. Returns true when a purge ran. */
  def purge(spark: SparkSession, family: Family): Boolean = {
    val tt = family.tombstones
    if (!spark.catalog.tableExists(tt)) return false
    Bucketing.requireKind(spark, tt, family.kind)
    // ONE collect of the pending (id, batch_id) gives both the
    // watermark and the purge keys
    val pending = spark.table(tt).select(col(family.idCol), col("batch_id"))
    val rows = pending.collect()
    if (rows.isEmpty) {
      // a zero-row retraction batch leaves an EXISTING but empty
      // tombstone table (the create ran, the empty overwrite wrote no
      // partition): nothing to fold, no watermark to stamp — just
      // remove the empty gate
      Bucketing.dropTable(spark, tt)
      return false
    }
    val ids = localIds(spark, pending.schema(family.idCol),
      rows.map(_.get(0)).distinct.toSeq)
    // the watermark rides each table's purge swap, so it goes live
    // together with that table's purged rows, and every table is stamped
    // BEFORE the drop: every crash window is replay-safe — until the last
    // table's swap, retract() (which reads the last table) sees no
    // watermark, the tombstone table still exists so a replay passes the
    // tombstone-membership exemption, and a re-run purge is an idempotent
    // rewrite; after it but before the drop, replays of folded batches
    // no-op on the watermark while the leftover gate filters
    // already-absent ids (a no-op) until the next purge drops it
    val watermark = Map(PurgedThroughProperty -> rows.map(_.getLong(1)).max.toString)
    family.tables.foreach { case (t, _) =>
      Bucketing.purgeBucketed(spark, t, ids, family.idCol, watermark) }
    Bucketing.dropTable(spark, tt)
    true
  }
}
