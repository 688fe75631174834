package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{broadcast, col, concat, lit, raise_error, sum, when}
import org.apache.spark.sql.types.StructType

/** Bucketed-table support: pre-shuffle once at write time so repeated
  * equi-joins and aggregations on the bucket key run with NO exchange.
  * This is the canonical 100 TB pattern for a fact table joined on the
  * same key by many downstream queries — pay one shuffle at ingest,
  * amortize it over every join after.
  *
  * Spark bucketing requires the table catalog (`saveAsTable`); bucket
  * info lives in catalog metadata, not parquet files.
  */
object Bucketing {

  /** Drop a managed table AND its leftover warehouse directory. A fresh
    * metastore with a stale warehouse dir (prior JVM wrote the files, this
    * one never registered the table) makes plain DROP TABLE a no-op while
    * saveAsTable still fails with LOCATION_ALREADY_EXISTS.
    *
    * Partitioned tables get their partition entries dropped METADATA-ONLY
    * first (`retainData = true`): after an ALTER TABLE RENAME the
    * catalog's per-partition locations still point at the PRE-rename
    * directory, and a plain DROP follows those stale pointers — deleting
    * whatever lives there NOW (in the compaction swap, the freshly
    * compacted live table; caught by ChaosSpec). The table's real data
    * sits under its own location and is removed with the table itself. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(ident) &&
        cat.getTableMetadata(ident).partitionColumnNames.nonEmpty) {
      val specs = cat.listPartitions(ident).map(_.spec)
      if (specs.nonEmpty)
        cat.dropPartitions(ident, specs, ignoreIfNotExists = true,
          purge = false, retainData = true)
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$wh/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Table-property key distinguishing persisted index FAMILIES that
    * share a column layout. The line-df index (md5 segment digests) and
    * the window-df index (xxhash64 window hashes) are both
    * `(h, df_corpus, batch_id)`, so a column-set guard alone cannot
    * tell them apart — and probing a destructive rewrite against the
    * wrong family's counts is precisely the failure the guards exist
    * to prevent. [[landPartial]] stamps the kind in the one CREATE;
    * probes check it with [[requireKind]]. */
  val KindProperty = "graft.index.kind"

  def tableKind(spark: SparkSession, table: String): Option[String] =
    tableProperty(spark, table, KindProperty)

  /** Read one table property (None when unset). */
  def tableProperty(spark: SparkSession, table: String,
                    key: String): Option[String] =
    spark.sessionState.catalog.getTableMetadata(identOf(table)).properties.get(key)

  /** GEOMETRY STAMPS (VERDICT r19 item 3): the banding / quantizer
    * parameters an index is provisioned with, persisted as table
    * properties at build time so the SQL surface can re-read them at
    * APPEND/PROBE instead of trusting an operator to repeat them — the
    * q71 pinning doctrine moved into metadata. All `graft.*`-prefixed,
    * so every compaction/purge swap carries them automatically. */
  val LshTablesProperty = "graft.index.lshTables"
  val LshBitsProperty = "graft.index.lshBits"
  val CentroidsProperty = "graft.index.centroids"
  val CentroidsTableProperty = "graft.index.centroidsTable"

  /** Stamp a set of graft.* properties in ONE metastore round-trip. */
  def stampProperties(spark: SparkSession, table: String,
                      props: Map[String, String]): Unit =
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")

  /** Fail loudly unless `table` is an `expected`-kind index in the one
    * index layout (see [[requireLayout]]). */
  def requireKind(spark: SparkSession, table: String, expected: String): Unit =
    requireLayout(table,
      spark.sessionState.catalog.getTableMetadata(identOf(table)), Some(expected))

  /** THE PROBE ENTRY of an index table: repair, check, read. The repair
    * comes first because a compaction swap killed mid-swap leaves the
    * index resolvable only under a swap name, or — between
    * rename-into-place and the partition recover — resolving, partition
    * names listed, while every scan reads empty; probed unrepaired, that
    * table silently matches nothing. Returns the live rows. */
  def openIndex(spark: SparkSession, table: String, kind: String): DataFrame = {
    repairCompaction(spark, table)
    requireKind(spark, table, kind)
    spark.table(table)
  }

  /** Bucket count of an [[openIndex]] frame, read from the relation its
    * plan resolved (no metastore call): a frame repartitioned on the
    * bucket key to this count joins the scan with no exchange on the
    * index side. */
  def bucketCount(rows: DataFrame): Int =
    rows.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.bucketSpec
    }.flatten.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException("not a bucketed table scan"))

  /** THE LAYOUT CHECK probes ([[requireKind]]), appends
    * ([[appendPartialInto]]) and rewrites ([[repairedMeta]]) share: the
    * table is batch_id-partitioned and carries a kind stamp (`expected`,
    * when given) — true of every table [[landPartial]] creates. An
    * unpartitioned index (a warehouse written before builds landed as
    * batch 0) would be TRUNCATED by APPEND's dynamic overwrite and break
    * COMPACT's partition recover mid-swap, so both refuse it up front. */
  private def requireLayout(table: String, meta: CatalogTable,
                            expected: Option[String]): Unit = {
    require(meta.partitionColumnNames == Seq("batch_id"),
      s"$table is not batch_id-partitioned — a batch-built index from " +
        "before every build landed as batch 0, or a foreign table; APPEND " +
        "would truncate it and COMPACT cannot swap it. Rebuild it through " +
        "its family's builder")
    val kind = meta.properties.get(KindProperty)
    require(kind.isDefined,
      s"$table carries no index-kind stamp ($KindProperty) — it was not " +
        "landed by an index builder; rebuild it through its family's builder")
    expected.foreach(e => require(kind.get == e,
      s"$table is a '${kind.get}' index, not the '$e' index this call " +
        "expects — same column layout, different hash family; joining it " +
        "would silently resolve against unrelated hashes"))
  }

  /** Write `df` as a bucketed, sorted table on `key` — the layout of the
    * plain bucketed-join tables (q34), which are not indexes. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** A BATCH BUILD: replace `table` with `rows` landed as its batch 0 —
    * the first increment of the layout every later batch lands into.
    * Swap leftovers of the old index go too: the create's repair would
    * otherwise restore one and land batch 0 into the OLD rows. */
  def landBuild(spark: SparkSession, rows: DataFrame, table: String,
                kind: String, keys: Seq[String], buckets: Int,
                stamps: Map[String, String] = Map.empty): Unit = {
    (table +: swapLeftovers(table)).foreach(dropTable(spark, _))
    landPartial(spark, rows, table, kind, keys, buckets, 0L, stamps)
  }

  /** The names a whole-table swap of `table` can leave behind (backup,
    * side): with `table` absent, [[repairCompaction]] restores or
    * promotes one, so a fresh index under that name must not start while
    * one exists. */
  private[graft] def swapLeftovers(table: String): Seq[String] =
    Seq(BackupSuffix, SwapSideSuffix).map(table + _)

  /** True when `table` holds its `batch_id = batchId` partition: the
    * build-if-absent guard of a cached index. Table existence is not
    * enough — create-then-land leaves an EMPTY stamped table after a
    * kill at `append`, and a multi-batch build killed between batches
    * leaves a partial one; a guard must name the LAST batch its build
    * lands. A partition is registered only after its job committed. */
  def hasLandedBatch(spark: SparkSession, table: String, batchId: Long): Boolean = {
    val cat = spark.sessionState.catalog
    cat.tableExists(identOf(table)) &&
      cat.getTableMetadata(identOf(table)).partitionColumnNames == Seq("batch_id") &&
      cat.listPartitionNames(identOf(table),
        Some(Map("batch_id" -> batchId.toString))).nonEmpty
  }

  /** THE LANDING PATH of every index table — a batch build is its
    * batch 0 ([[landBuild]]), a streamed batch or a [[Tombstones]]
    * retraction batch any later one: land `rows` as the
    * `batch_id = batchId` partition of `table`, creating the table first
    * when it does not resolve. Returns false when the batch no-opped at
    * the fold watermark (see [[appendPartialInto]]).
    *
    * Layout: directory-partitioned on `batch_id` (per-batch maintenance
    * is a DIRECTORY operation — overwrite one partition, prune to one
    * directory) AND bucketed + sorted on the full `keys` sequence within
    * every partition. Spark's bucketed scan folds bucket i's files ACROSS
    * partitions into task i, so the probe-side joins/aggregations on
    * `keys` stay exchange-free whatever the batch count; every cluster
    * key is in the layout because a co-partitioned join needs all of them:
    * `spark.sql.requireAllClusterKeysForCoPartition` (default true)
    * rejects a partial-key bucket layout, so a table bucketed on a key
    * SUBSET would be silently re-shuffled.
    *
    * Create-then-land, like a table declared once in DDL: the table is
    * created EMPTY by one `CREATE TABLE` (step `create`) that carries the
    * kind stamp and `stamps` in its TBLPROPERTIES, so no kill window
    * leaves an unstamped table behind — the replay of a batch killed
    * after the create finds its table stamped. Every batch, the first
    * included, then lands through the same dynamic-partition overwrite
    * (step `append`). The repair runs first: a compaction swap killed
    * mid-rename leaves the index resolvable only under its backup name,
    * and creating a fresh table there would orphan every earlier batch.
    * A warehouse directory without a catalog entry (a prior JVM's files
    * under a fresh metastore) would fail the CREATE on
    * LOCATION_ALREADY_EXISTS, so the create sweeps the location first.
    *
    * `stamps` (geometry) is evaluated only when the table is created. */
  def landPartial(spark: SparkSession, rows: DataFrame, table: String,
                  kind: String, keys: Seq[String], buckets: Int, batchId: Long,
                  stamps: => Map[String, String] = Map.empty): Boolean = {
    val partial = rows.withColumn("batch_id", lit(batchId))
    val created = !repairCompaction(spark, table)
    if (created) step(table, "create") {
      dropTable(spark, table)
      // nullable columns, as saveAsTable stores them
      val cols = StructType(partial.schema.map(_.copy(nullable = true)))
      val cluster = keys.map(k => s"`$k`").mkString(", ")
      val props = (Map(KindProperty -> kind) ++ stamps)
        .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      spark.sql(s"CREATE TABLE $table (${cols.toDDL}) USING parquet " +
        s"PARTITIONED BY (batch_id) CLUSTERED BY ($cluster) " +
        s"SORTED BY ($cluster) INTO $buckets BUCKETS TBLPROPERTIES ($props)")
    }
    appendPartialInto(spark, partial, table, kind, batchId, created)
  }

  /** Land a NEGATED partial of an additive family (the retraction twin of
    * [[landPartial]]): the same guarded overwrite, but into an existing
    * table only. */
  def retractPartial(spark: SparkSession, rows: DataFrame, table: String,
                     kind: String, batchId: Long): Boolean = {
    require(repairCompaction(spark, table),
      s"$table does not exist — a retraction can only follow appends")
    appendPartialInto(spark, rows.withColumn("batch_id", lit(batchId)),
      table, kind, batchId, created = false)
  }

  /** Overwrite EXACTLY the partitions present in `df` (dynamic partition
    * overwrite), leaving every other partition untouched. This is the
    * idempotent-replay primitive for per-batch index maintenance: a
    * replayed batch rewrites its own partition with identical content,
    * and a TORN partition (a crash during the previous attempt's job
    * commit — FileFormatWriter moves task files one by one, so a partial
    * batch CAN persist) is healed by the rewrite rather than trusted by
    * a presence check. Runs under the DataFrame's OWN session (inside
    * foreachBatch that is the micro-batch's cloned session, whose conf
    * is what the insert actually reads). */
  private[graft] def overwritePartitions(df: DataFrame, table: String): Unit =
    withDynamicOverwrite(df.sparkSession) {
      df.write.mode(SaveMode.Overwrite).insertInto(table)
    }

  /** Pin `partitionOverwriteMode=dynamic` on the session for the scope
    * of `body`, REFERENCE-COUNTED per session: two [[concurrently]]
    * writers on one session both need the pin, and a naive set/restore
    * pair races — the first writer's restore could flip the sibling's
    * still-planning insert back to static, which TRUNCATES its target
    * (caught live by MetastoreBudgetSpec when a per-write option was
    * tried instead: `insertInto` ignores writer options, the session
    * conf is the only channel). The first pinner captures the previous
    * value, the last restores it; bookkeeping is under one JVM lock
    * (two threads per batch — contention is nil) and weak-keyed so
    * per-micro-batch session clones don't accumulate. */
  private val dynPinLock = new Object
  private val dynPinCounts =
    new java.util.WeakHashMap[SparkSession, (Int, String)]()
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    dynPinLock.synchronized {
      val (n, prev) = Option(dynPinCounts.get(spark)).getOrElse((0, ""))
      val p = if (n == 0) {
        val pv = spark.conf.get(key); spark.conf.set(key, "dynamic"); pv
      } else prev
      dynPinCounts.put(spark, (n + 1, p))
    }
    try body
    finally dynPinLock.synchronized {
      val (n, prev) = dynPinCounts.get(spark)
      if (n == 1) { spark.conf.set(key, prev); dynPinCounts.remove(spark) }
      else dynPinCounts.put(spark, (n - 1, prev))
    }
  }

  /** Run two INDEPENDENT write actions concurrently on one session
    * (guide §2.6 — overlap independent jobs): Spark's scheduler happily
    * runs several jobs at once inside one application; the two-table
    * index writers (bands + payload / bands + sigs) called their writes
    * sequentially only because the code did, leaving the cluster idle
    * through each job's scheduling and commit tail. `b` runs on a FRESH
    * thread (job submission is thread-safe; Spark's local properties
    * are an InheritableThreadLocal, so a thread created HERE inherits
    * the caller's job group/description — a pooled executor would not),
    * `a` on the caller's; both complete before return, and the first
    * failure propagates only after both finished, so no caller ever
    * leaks a still-running sibling job.
    *
    * Caller contract: the two actions must touch DIFFERENT tables and
    * must not mutate session conf themselves — the only conf change
    * allowed inside is the reference-counted [[withDynamicOverwrite]]
    * pin (what [[overwritePartitions]] takes), because a plain
    * set/restore pair on the shared session races the sibling's
    * planning. */
  def concurrently(a: => Unit, b: => Unit): Unit = {
    @volatile var bErr: Throwable = null
    val t = new Thread(() => try b catch { case e: Throwable => bErr = e })
    t.setName(s"graft-concurrent-write-${t.getId}")
    t.setDaemon(true)
    t.start()
    val aErr = try { a; null } catch { case e: Throwable => e }
    t.join()
    if (aErr != null) throw aErr
    if (bErr != null) throw bErr
  }

  /** Table-property key recording the max batch_id the last cadence
    * compaction covered — [[maintainIndex]]'s compaction cursor. It rides
    * the compaction's side-table stamp, so it goes live atomically with
    * the compacted rows; a crash before the swap only means the next
    * cadence entry re-compacts (idempotent rewrite, never wrong). */
  val CompactedAtProperty = "graft.index.compactedAt"

  /** Table-property key stamped by the additive folds: the highest
    * batch_id whose partial was FOLDED into the index's summed rows —
    * the replay watermark for the additive-df families (the
    * [[Tombstones.PurgedThroughProperty]] device applied to partials).
    * A fold destroys per-batch partition identity (every folded
    * batch's rows merge into one summed partition), so a replayed
    * partial at/below this watermark can no longer idempotently
    * overwrite "its own" partition — landing it would double-count
    * counts the fold already absorbed. [[appendPartialInto]] therefore
    * no-ops any batch at/below the watermark. Batch ids are
    * monotonically increasing per table (stream micro-batch ids or a
    * 0,1,2… sequence — the [[Tombstones]] contract), so one O(1)
    * property covers the whole replay history. A base merge stamps it on
    * the REPLACEMENT table before the swap and a run fold advances it
    * under the fold journal, so no crash window shows folded rows
    * without the watermark that protects them. */
  val FoldedThroughProperty = "graft.index.foldedThrough"

  /** The five additive-df index kinds whose per-batch partials sum to
    * the global counts — the families [[foldBucketed]] may rewrite.
    * (`bench-grams` is additive too but rebuild-only by ADR, SURVEY
    * §2.25: set semantics, no retraction partials, nothing to fold.) */
  val AdditiveKinds: Set[String] =
    Set("shingle-df", "line-df", "window-df", "tok-counts", "bm25-df")

  /** TIERED-FOLD level markers. The additive-df index is physically a
    * set of batch_id partitions; the tiered fold organizes them into
    * LSM-style levels WITHOUT changing what a probe reads (probes sum
    * every partition regardless):
    *
    *  - BASE: the one partition holding the long-term folded mass,
    *    at `batch_id = baseAt`.
    *  - RUN: one bounded partition holding everything folded since the
    *    last base merge, at `batch_id = runAt` (absent = no run).
    *  - FRESH: per-batch partials above the [[FoldedThroughProperty]]
    *    watermark.
    *
    * Invariant: baseAt < runAt <= foldedThrough < every fresh id.
    * The run level may carry NEGATIVE sums (a retraction of a key that
    * lives in base stays pending in the run until the base merge);
    * probes are safe because they sum base + run before any sign
    * check. Zero sums are dropped at both levels; a negative TOTAL is
    * corruption and still fails loudly — in the probe (which checks
    * the summed value) and in the base merge (raise_error). */
  val BaseAtProperty = "graft.index.baseAt"
  val RunAtProperty = "graft.index.runAt"

  /** Row count of the base partition, stamped with the base merge's
    * replacement table — the merge is the only event that changes it, so
    * the stamp goes live atomically with the new base. [[tieredFold]]'s
    * run-vs-merge decision reads this stamp instead of counting the base
    * partition: `count()` is footer-only in bytes but still lists and
    * opens every base data file's footer, an O(base files) filesystem
    * pass per cadence window — the very dependence on index size the
    * tiered fold exists to remove. A table without the stamp falls back
    * to counting. */
  val BaseMassProperty = "graft.index.baseMass"

  /** Crash journal of the run-level fold: `<newRunId>|<id,id,...>` (the
    * partition the folded run lands in, and the source partitions — old
    * run + fresh — it replaces). Stamped on the live table once the
    * folded rows are durable in the `<table>_runfold` side table and
    * BEFORE any partition is dropped; cleared after the landing.
    * [[repairCompaction]] replays a pending journal, so no crash point
    * exposes a half-replaced partition set to a probe. */
  val FoldJournalProperty = "graft.index.foldJournal"

  /** Stamped on a partitioned table BEFORE it is renamed into place (a
    * rewrite's side table, or the backup/side a recovery restores) and
    * unset only after the post-rename `RECOVER PARTITIONS`: renaming a
    * managed partitioned table moves its directory but leaves the
    * catalog's per-partition locations at the old path, so the table
    * resolves while every scan reads empty. A crash anywhere between the
    * rename and the unset — mid-recover included — leaves the stamp set,
    * and [[repairCompaction]] re-runs the recover: an O(1) property read
    * on the hot path instead of a sweep of partition locations. */
  val NeedsRecoverProperty = "graft.index.needsRecover"

  /** Count of metastore round-trips issued by this object's catalog
    * READS on the maintenance/probe paths (metadata fetches, existence
    * checks, partition listings) — the instrument behind the per-batch
    * metastore budget MetastoreBudgetSpec pins (at fixture scale these
    * calls are sub-10 ms driver work, at 100 TB they are metastore QPS).
    * Monotone; tests snapshot around a unit of work and assert the
    * delta. */
  val metastoreCalls = new java.util.concurrent.atomic.AtomicLong(0)

  private def identOf(table: String) =
    org.apache.spark.sql.catalyst.TableIdentifier(table)

  private def countedExists(spark: SparkSession, table: String): Boolean = {
    metastoreCalls.incrementAndGet()
    spark.sessionState.catalog.tableExists(identOf(table))
  }

  private def countedMeta(spark: SparkSession, table: String): CatalogTable = {
    metastoreCalls.incrementAndGet()
    spark.sessionState.catalog.getTableMetadata(identOf(table))
  }

  /** Existence check and metadata fetch in ONE round-trip: the absent
    * case surfaces as NoSuchTableException instead of a separate
    * tableExists probe. */
  private def countedMetaOption(spark: SparkSession,
                                table: String): Option[CatalogTable] = {
    metastoreCalls.incrementAndGet()
    try Some(spark.sessionState.catalog.getTableMetadata(identOf(table)))
    catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => None
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException => None
    }
  }

  private def countedListPartitionNames(spark: SparkSession,
                                        table: String): Seq[String] = {
    metastoreCalls.incrementAndGet()
    spark.sessionState.catalog.listPartitionNames(identOf(table))
  }

  private def batchIds(partitionNames: Seq[String]): Seq[Long] =
    partitionNames.flatMap(_.stripPrefix("batch_id=").toLongOption)

  private def partitionIds(spark: SparkSession, table: String): Seq[Long] =
    batchIds(spark.sessionState.catalog.listPartitionNames(identOf(table)))

  private def longProperty(meta: CatalogTable, key: String): Option[Long] =
    meta.properties.get(key).flatMap(_.toLongOption)

  def foldedThrough(spark: SparkSession, table: String): Long =
    longProperty(spark.sessionState.catalog.getTableMetadata(identOf(table)),
      FoldedThroughProperty).getOrElse(Long.MinValue)

  /** MAINTENANCE CADENCE — the one entry per maintained table per batch.
    * One metadata fetch decides: once `everyBatches` batch_id partitions
    * have landed above the table's cursor, an additive-df family runs the
    * [[tieredFold]] (cursor [[FoldedThroughProperty]]: a fold subsumes a
    * compaction and is the only rewrite that physically drops retracted
    * keys' cancelled row pairs, so the two never both run), and any other
    * index runs the [[compactBucketed]] rewrite (cursor
    * [[CompactedAtProperty]]). Absent and unpartitioned (foreign) tables
    * are no-ops, and a one-batch artifact — the pinned IVF centroid
    * table, a build nobody appends to — never reaches the cadence.
    *
    * Why on a cadence: each append fans one wave of files into every
    * bucket, and accumulated waves double streamed-probe cost by the
    * ~80x index point (compaction took the q73 probe 1.36 -> 0.63 s,
    * q71 1.75 -> 0.81 s); at cadence N every streamed family pays
    * O(index/N) amortized rewrite per batch instead of unbounded
    * fragmentation. Safe under the streaming replay contract: a batch
    * replayed after a compaction idempotently overwrites its own
    * partition (compaction preserves content), and one at/below a fold
    * watermark no-ops (see [[appendPartialInto]]). Returns true when a
    * rewrite ran. */
  def maintainIndex(spark: SparkSession, table: String,
                    everyBatches: Int = 4,
                    mergeFraction: Double = 0.25): Boolean = {
    if (everyBatches <= 0) return false
    countedMetaOption(spark, table) match {
      case Some(meta) if meta.partitionColumnNames == Seq("batch_id") =>
        val additive = meta.properties.get(KindProperty).exists(AdditiveKinds)
        val cursor = longProperty(meta,
          if (additive) FoldedThroughProperty else CompactedAtProperty)
          .getOrElse(Long.MinValue)
        val parts = batchIds(countedListPartitionNames(spark, table))
        if (parts.count(_ > cursor) < everyBatches) false
        else {
          if (additive) tieredFold(spark, table, mergeFraction)
          else rewriteTable(spark, table, identity,
            Map(CompactedAtProperty -> parts.max.toString))
          true
        }
      case _ => false
    }
  }

  /** The guarded landing [[landPartial]] and [[retractPartial]] share:
    * refresh the caller's cached relation (an earlier batch may have run
    * through another cloned session), verify the existing table is the
    * expected index FAMILY, then land the partial as its own idempotent
    * batch_id partition. A table this call's own `create` just made
    * passes every guard by construction, so the first batch skips the
    * metadata read. The [[requireLayout]] check fails the very first
    * append into a DIFFERENT family of the same column layout (e.g. a
    * shingle-df partial into a line-df index) instead of mixing them.
    *
    * FOLD WATERMARK: a batch at/below the table's
    * [[FoldedThroughProperty]] already had its partial absorbed by a
    * fold — its per-batch partition no longer exists, so the
    * overwrite-own-partition idempotence that makes replays safe is
    * gone, and landing it would DOUBLE-COUNT. Such a batch no-ops, and
    * the method returns false so callers (and the SQL surface's
    * `landed` column) can see the drop. Batch ids are monotone per
    * table (the [[Tombstones]] contract), so a sub-watermark id IS a
    * replay; an operator reusing a low id after a fold sees
    * `landed = false` instead of a silent partial loss. */
  private def appendPartialInto(spark: SparkSession, partial: DataFrame,
                                table: String, kind: String, batchId: Long,
                                created: Boolean): Boolean = {
    if (!created) {
      spark.catalog.refreshTable(table)
      // ONE metadata fetch serves both guards (layout, fold watermark)
      // — each is a property of the same snapshot
      val meta = countedMeta(spark, table)
      requireLayout(table, meta, Some(kind))
      if (batchId <= longProperty(meta, FoldedThroughProperty)
          .getOrElse(Long.MinValue)) return false
    }
    step(table, "append")(overwritePartitions(partial, table))
    true
  }

  /** Compact an index back to one file per (batch, bucket) — the
    * companion to per-batch appends, each of which can land several file
    * waves into the buckets until the scan's file-open count (not its
    * bytes) is the bottleneck. Plain [[graft.io.Sinks.compactParquet]]
    * would lose the catalog bucket spec; this repartitions on the bucket
    * keys — hashed exactly like the bucket layout, so each output task
    * holds one bucket — and installs the result through the crash-safe
    * [[rewrite]] protocol. Returns the data file count after compaction. */
  def compactBucketed(spark: SparkSession, table: String): Int =
    rewriteTable(spark, table, identity)

  /** PHYSICAL PURGE of tombstoned keys from a bucketed index table —
    * the deletion companion to [[compactBucketed]]: the same
    * layout-preserving [[rewrite]], but dropping every row whose
    * `keyCol` appears in `removeKeys` (broadcast anti-join; the scan
    * side streams). `removeKeys` is driver-sized, per the size contract
    * of [[Tombstones]] that the probe gate's broadcast imposes;
    * [[Tombstones.purge]] passes a local relation, so the broadcast runs
    * no job. After a purge the rows are GONE from disk, not merely
    * filtered at probe time: the right-to-be-forgotten end state for a
    * posting-list index whose rows (unlike the additive-df families)
    * cannot be cancelled by a negated partial. `stamps` ride the replacement table's stamp,
    * so they go live together with the purged rows. Returns the data
    * file count after the rewrite. */
  def purgeBucketed(spark: SparkSession, table: String,
                    removeKeys: DataFrame, keyCol: String,
                    stamps: Map[String, String] = Map.empty): Int = {
    val ids = removeKeys.select(removeKeys(keyCol))
    rewriteTable(spark, table,
      _.join(broadcast(ids), Seq(keyCol), "left_anti"), stamps)
  }

  /** FOLD-PURGE for the additive-df index families — the negated-partial
    * twin of [[Tombstones.purge]]: retraction lands as a NEGATED
    * partial, so after enough retractions a key lives on as (h, +df) /
    * (h, −df) row pairs that [[compactBucketed]] (an identity rewrite)
    * carries forever — under steady right-to-be-forgotten traffic the
    * index's ROW count grows with total retraction history even though
    * the folded answer stays correct. This BASE MERGE performs the fold
    * physically: group by the bucket key, SUM the count column, DROP
    * keys that fold to zero (absent, exactly as a rebuild-without would
    * have it — the documented probe semantics of all five families),
    * FAIL LOUDLY on a negative fold (double retraction / never-appended
    * doc — baking corrupted history into the index is worse than
    * aborting the maintenance window), and land the result as ONE
    * summed partition under the highest folded batch_id.
    *
    * Replay safety: the [[FoldedThroughProperty]] watermark rides the
    * replacement table's stamp, so folded content and its watermark go
    * live atomically; [[appendPartialInto]] no-ops any partial at/below
    * it. A crash before the swap leaves the original table (partials
    * intact, replays idempotent as ever).
    *
    * Scale shape: the groupBy runs ON the bucketed scan, so the fold is
    * exchange-free on the index side and each task drains one bucket
    * into one summed file: O(index) once per cadence window, O(index/N)
    * amortized per batch. Returns the data file count after the fold. */
  def foldBucketed(spark: SparkSession, table: String): Int = {
    baseMerge(spark, table, repairedMeta(spark, table), partitionIds(spark, table))
    dataFileCount(spark, table)
  }

  /** TIERED FOLD — the cadence action that decouples maintenance cost
    * from index size. A base merge rewrites the ENTIRE table: O(index)
    * once per cadence window, an amortized per-batch cost that grows
    * linearly with index size while the batches stay delta-sized. The
    * LSM answer, two levels:
    *
    *  1. RUN-LEVEL FOLD (the common case): (old run ∪ fresh partials)
    *     fold into ONE new run partition — cost O(run + delta), the
    *     base partition's files are never read or written. Zero sums
    *     drop; NEGATIVE sums stay (a retraction of a base-resident key
    *     is pending until the merge; probes sum base + run before any
    *     sign check, so correctness is unchanged).
    *  2. BASE MERGE (rare): when the run would outgrow `mergeFraction`
    *     x base mass, everything folds into a new base (the
    *     [[foldBucketed]] rewrite) — O(index), but amortized O(delta)
    *     per batch because it runs only after the run accumulated a
    *     constant fraction of the base.
    *
    * Both levels go through the one [[rewrite]] protocol. Returns true
    * when the base-merge path ran (the expensive one). */
  def tieredFold(spark: SparkSession, table: String,
                 mergeFraction: Double = 0.25): Boolean = {
    val meta = repairedMeta(spark, table)
    additiveLayout(table, meta) // layout guards before any decision
    val folded = longProperty(meta, FoldedThroughProperty)
      .getOrElse(Long.MinValue)
    val baseAt = longProperty(meta, BaseAtProperty)
    val runAt = longProperty(meta, RunAtProperty)
    val parts = partitionIds(spark, table)
    val fresh = parts.filter(_ > folded)
    if (fresh.isEmpty) return false
    def mass(ids: Seq[Long]): Long =
      if (ids.isEmpty) 0L
      else spark.table(table)
        .filter(col("batch_id").isin(ids: _*)).count() // footer-only scan
    // the base only changes at a merge, so its stamp is authoritative
    val baseMass = longProperty(meta, BaseMassProperty)
      .getOrElse(mass(baseAt.toSeq))
    // no base yet (first fold), or the run would outgrow its bound:
    // merge everything into a new base
    if (baseAt.isEmpty ||
        mass(runAt.toSeq ++ fresh) > mergeFraction * baseMass) {
      baseMerge(spark, table, meta, parts)
      true
    } else {
      runFold(spark, table, meta, runAt, fresh)
      false
    }
  }

  /** THE REWRITE ENTRY: repair `table`, then fetch its metadata once and
    * check its layout before any rewrite decision. */
  private def repairedMeta(spark: SparkSession, table: String): CatalogTable = {
    repairCompaction(spark, table)
    val meta = spark.sessionState.catalog.getTableMetadata(identOf(table))
    requireLayout(table, meta, None)
    meta
  }

  /** Whole-table [[rewrite]] of `transform(table)`, after a repair.
    * Returns the data file count after the rewrite. */
  private def rewriteTable(spark: SparkSession, table: String,
                           transform: DataFrame => DataFrame,
                           props: Map[String, String] = Map.empty): Int = {
    val meta = repairedMeta(spark, table)
    rewrite(spark, table, meta, transform(spark.table(table)), WholeTable,
      props)
    dataFileCount(spark, table)
  }

  /** Layout guard of the fold paths, past [[requireLayout]]: `table`
    * must be a bucketed additive-df index with exactly one summable
    * value column. Returns (bucket keys, the value field). */
  private def additiveLayout(table: String, meta: CatalogTable)
      : (Seq[String], org.apache.spark.sql.types.StructField) = {
    require(meta.properties.get(KindProperty).exists(AdditiveKinds),
      s"$table is not an additive-df index family " +
        s"(${AdditiveKinds.toSeq.sorted.mkString(", ")}) — folding a " +
        "posting-list table would sum rows that are facts, not counts")
    val keys = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed"))
      .bucketColumnNames
    val dataCols = meta.schema.fields
      .filterNot(f => keys.contains(f.name) || f.name == "batch_id")
    require(dataCols.length == 1,
      s"$table carries ${dataCols.length} non-key columns — the " +
        "additive-df layout is (key, count, batch_id); refusing to " +
        "guess which columns sum")
    (keys, dataCols.head)
  }

  /** Per-key sums of `df`'s value column, typed like the value column. */
  private def keySums(df: DataFrame, keys: Seq[String],
                      value: org.apache.spark.sql.types.StructField): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(value.name)).cast(value.dataType).as(value.name))

  /** Fold every partition in `parts` into one base partition. */
  private def baseMerge(spark: SparkSession, table: String, meta: CatalogTable,
                        parts: Seq[Long]): Unit = {
    val (keys, value) = additiveLayout(table, meta)
    if (parts.isEmpty) return
    val maxBatch = parts.max.toString
    FoldEvents.record(table, "base-merge", parts.size)
    rewrite(spark, table, meta,
      keySums(spark.table(table), keys, value)
        // zero folds become ABSENT (row-presence is the predicate for
        // these families); negative folds are history corruption and
        // must abort the rewrite, not persist
        .filter(when(col(value.name) < 0,
            raise_error(concat(
              lit(s"$table folds a negative ${value.name} — double "),
              lit("retraction or retraction of a never-appended doc"))))
          .otherwise(col(value.name)) =!= 0)
        .withColumn("batch_id", lit(parts.max)),
      WholeTable,
      // watermark + cadence cursor + base marker + base mass ride the
      // swap atomically: the fold subsumes a compaction, and everything
      // now lives in the single base partition — the run level is consumed
      props = Map(FoldedThroughProperty -> maxBatch,
        CompactedAtProperty -> maxBatch, BaseAtProperty -> maxBatch),
      dropProps = Set(RunAtProperty),
      countAs = Some(BaseMassProperty),
      // the aggregate on the bucket keys keeps the bucketed scan and runs
      // exchange-free on it; the scan pin would force the shuffle
      pinBucketedScanOff = false)
  }

  /** The O(run + delta) half of [[tieredFold]]: fold (old run ∪ fresh)
    * into one new run partition at `batch_id = max(fresh)` without
    * touching the base partition. */
  private def runFold(spark: SparkSession, table: String, meta: CatalogTable,
                      runAt: Option[Long], fresh: Seq[Long]): Unit = {
    val (keys, value) = additiveLayout(table, meta)
    val sources = runAt.toSeq ++ fresh
    FoldEvents.record(table, "run-fold", sources.size)
    // the scan prunes to the run + fresh directories and the groupBy runs
    // on the bucketed scan; base files are never opened
    rewrite(spark, table, meta,
      keySums(spark.table(table).filter(col("batch_id").isin(sources: _*)),
        keys, value)
        // zeros drop (fully cancelled inside the run); negatives STAY —
        // they are pending cancellations against base-resident keys
        .filter(col(value.name) =!= 0)
        .withColumn("batch_id", lit(fresh.max)),
      RunFold(fresh.max, sources))
  }

  private val BackupSuffix = "_precompact"
  private val SwapSideSuffix = "_compacting"
  private val RunSideSuffix = "_runfold"

  /** How a [[rewrite]]'s side table replaces the live rows; `side` is the
    * side table's name suffix. */
  private sealed abstract class Install(val side: String)
  /** The whole table, by the two-name swap: live table renamed to
    * `<table>_precompact`, side table renamed into its place, backup
    * dropped last — the original's data files are never destroyed until
    * the replacement is live under the real name. */
  private case object WholeTable extends Install(SwapSideSuffix)
  /** The `sources` partitions, by drop-then-land of the side table's one
    * partition at `runId` (the run-level fold). */
  private final case class RunFold(runId: Long, sources: Seq[Long])
      extends Install(RunSideSuffix) {
    def journal: String = s"$runId|${sources.mkString(",")}"
  }

  /** THE REWRITE PROTOCOL every index rewrite goes through — compaction,
    * purge, base merge and run fold — as a fixed order of named steps:
    *
    *  1. `write-side`: the replacement lands in a side table; the live
    *     table is untouched.
    *  2. `stamp`: what makes the rest redoable goes durable BEFORE any
    *     rename or drop — for a whole-table swap the side table's carried
    *     `graft.*` properties plus [[NeedsRecoverProperty]], for a run
    *     fold the [[FoldJournalProperty]] on the live table.
    *  3. install: `rename-to-backup` + `rename-into-place` (whole
    *     table), or `drop-sources` + `land` + `advance-markers` (run
    *     fold).
    *  4. `recover-partitions` (whole-table swap).
    *  5. `clear-stamp`.
    *  6. `drop-leftover`: the backup, or the run fold's side table.
    *
    * Each step is one catalog or filesystem mutation and replaying any of
    * them is idempotent; [[repairCompaction]] resumes — or, between the
    * two renames, rolls back — whatever prefix a crash left durable, so
    * no kill point loses data or exposes a half-installed table. The
    * caller has repaired `table` and fetched `meta`. */
  private def rewrite(spark: SparkSession, table: String, meta: CatalogTable,
                      replacement: DataFrame, install: Install,
                      props: Map[String, String] = Map.empty,
                      dropProps: Set[String] = Set.empty,
                      countAs: Option[String] = None,
                      pinBucketedScanOff: Boolean = true): Unit = {
    val side = table + install.side
    step(table, "write-side") {
      dropTable(spark, side)
      install match {
        case WholeTable =>
          writeLayout(spark, replacement, table, side, meta, pinBucketedScanOff)
        case _: RunFold =>
          // mirror the target's resolved column order (data cols, then the
          // partition col) so the positional insertInto of `land` cannot
          // mis-map
          replacement.select(spark.table(table).columns.toSeq.map(col): _*)
            .write.format("parquet").saveAsTable(side)
      }
    }
    install match {
      case WholeTable =>
        // carry graft.* table properties (kind and geometry stamps)
        // through the rewrite in one ALTER — saveAsTable starts from a
        // blank property map, and losing the kind stamp would fail
        // requireKind after every compaction
        val stamps = meta.properties.filter(_._1.startsWith("graft.")) --
          dropProps ++ props ++
          countAs.map(_ -> spark.table(side).count().toString) +
          (NeedsRecoverProperty -> "true")
        step(table, "stamp")(stampProperties(spark, side, stamps))
        step(table, "rename-to-backup")(
          spark.sql(s"ALTER TABLE $table RENAME TO ${table + BackupSuffix}"))
        renameIntoPlace(spark, table, side, leftover = table + BackupSuffix)
      case fold: RunFold =>
        step(table, "stamp")(stampProperties(spark, table,
          Map(FoldJournalProperty -> fold.journal)))
        replayRunFold(spark, table, fold.journal)
    }
  }

  /** Write `df` into `side` with `meta`'s bucket spec, sorted on the
    * bucket keys and partitioned on batch_id — the [[landPartial]]
    * layout. */
  private def writeLayout(spark: SparkSession, df: DataFrame, table: String,
                          side: String, meta: CatalogTable,
                          pinBucketedScanOff: Boolean): Unit = {
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed"))
    val keys = spec.bucketColumnNames
    // pin the bucketed scan ON for the rewrite: the explicit repartition
    // is elided against the scan's bucket partitioning (zero-shuffle
    // compaction — each task drains one bucket's file wave into one
    // file), but WITHOUT the pin the planner can elide the shuffle AND
    // then demote the scan to a plain file-split read
    // (DisableUnnecessaryBucketedScan sees no join/agg caring), leaving
    // rows bucket-misaligned across tasks — one file per (task, bucket)
    // instead of one per bucket, silently re-fragmenting the table.
    // A transform that aggregates on the bucket keys opts out
    // (pinBucketedScanOff = false): the aggregate keeps the bucketed scan
    // and the pin would FORCE the shuffle it exists to prevent
    val pin = "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false"
    graft.Sessions.withConf(spark, Seq(pin).filter(_ => pinBucketedScanOff): _*) {
      // preserve the partition layout too: a rewrite that silently
      // dropped batch_id would not just lose directory pruning — the NEXT
      // dynamic-partition-overwrite append would see an unpartitioned
      // target and truncate the whole index
      df.repartition(spec.numBuckets, keys.map(col): _*).write
        .partitionBy("batch_id")
        .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet")
        .saveAsTable(side)
    }
  }

  /** Install steps shared by a whole-table swap and its recovery: rename
    * the (already stamped) `from` into place, re-sync its partition
    * locations, drop `leftover`. */
  private def renameIntoPlace(spark: SparkSession, table: String, from: String,
                              leftover: String): Unit = {
    step(table, "rename-into-place")(
      spark.sql(s"ALTER TABLE $from RENAME TO $table"))
    recoverPartitions(spark, table)
    // partition-safe drop: never follows the backup's stale paths
    step(table, "drop-leftover")(dropTable(spark, leftover))
  }

  /** Re-register the partition locations from the filesystem, then retire
    * the [[NeedsRecoverProperty]] stamp that demanded it. */
  private def recoverPartitions(spark: SparkSession, table: String): Unit = {
    step(table, "recover-partitions") {
      spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
      spark.catalog.refreshTable(table)
    }
    step(table, "clear-stamp")(unsetProperties(spark, table,
      Seq(NeedsRecoverProperty)))
  }

  /** Install steps of a run fold from its journal — run right after the
    * stamp, and again by [[repairCompaction]] for any pending journal.
    * Idempotent: partition drops skip absences, the landing overwrites
    * exactly its own partition, the marker stamps re-stamp the same
    * values, and the side table is dropped only after the journal is
    * cleared. */
  private def replayRunFold(spark: SparkSession, table: String,
                            journal: String): Unit = {
    val cat = spark.sessionState.catalog
    val Array(runId, sourcesS) = journal.split('|')
    val sources = sourcesS.split(',').map(_.trim).filter(_.nonEmpty)
    val side = table + RunSideSuffix
    require(cat.tableExists(identOf(side)),
      s"$table carries a run-fold journal but $side is missing — the " +
        "journal is only ever stamped after the side table committed; " +
        "this table was tampered with outside the maintenance protocol")
    step(table, "drop-sources") {
      // ONE partition listing up front, not one per journal entry
      val existing = cat.listPartitions(identOf(table)).map(_.spec).toSet
      val specs = sources.toSeq.map(id => Map("batch_id" -> id))
        .filter(existing)
      if (specs.nonEmpty)
        cat.dropPartitions(identOf(table), specs, ignoreIfNotExists = true,
          purge = false, retainData = false)
    }
    // when run + fresh fully cancelled, the side table is EMPTY and a
    // dynamic-partition overwrite of an empty frame writes no partition:
    // the watermark and cadence cursor still advance, but the run marker
    // is UNSET rather than pointed at a partition that does not exist
    val landed = !spark.table(side).isEmpty
    step(table, "land")(if (landed) overwritePartitions(spark.table(side), table))
    step(table, "advance-markers")(stampProperties(spark, table,
      Map(FoldedThroughProperty -> runId, CompactedAtProperty -> runId) ++
        (if (landed) Map(RunAtProperty -> runId) else Map.empty)))
    step(table, "clear-stamp")(unsetProperties(spark, table,
      FoldJournalProperty +: (if (landed) Nil else Seq(RunAtProperty))))
    step(table, "drop-leftover")(dropTable(spark, side))
    spark.catalog.refreshTable(table)
  }

  private def unsetProperties(spark: SparkSession, table: String,
                              keys: Seq[String]): Unit =
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS (" +
      keys.map(k => s"'$k'").mkString(", ") + ")")

  /** THE RECOVER ENTRY POINT, and the only one: every rewrite, append
    * and probe runs it first, so whatever prefix of [[rewrite]]'s steps
    * a crash left durable is completed or rolled back before anything
    * reads the table. One metadata fetch decides on the hot path:
    *
    *  - `table` resolves: drop a straggler backup (a kill after the swap,
    *    before its cleanup — one existence check; a probe-only workload
    *    would otherwise carry the doubled storage forever), re-run the
    *    partition recover while [[NeedsRecoverProperty]] is set, and
    *    replay a pending [[FoldJournalProperty]].
    *  - `table` is gone (a kill between the two renames): restore the
    *    `_precompact` backup — always safe, it is the complete
    *    pre-rewrite table — or else promote the `_compacting` side, which
    *    was complete before any rename began. Like every rename of the
    *    protocol, the restore or promote is stamped with
    *    [[NeedsRecoverProperty]] first, so a kill between it and the
    *    partition recover leaves a table the next call recovers, never
    *    one whose partitions silently read empty.
    *
    * Its own mutations are named steps too, so a crash inside recovery is
    * resumed by the next call. Returns true if `table` resolves on exit. */
  def repairCompaction(spark: SparkSession, table: String): Boolean = {
    val backup = table + BackupSuffix
    val side = table + SwapSideSuffix
    countedMetaOption(spark, table) match {
      case Some(meta) =>
        if (countedExists(spark, backup))
          step(table, "drop-leftover")(dropTable(spark, backup))
        if (meta.properties.contains(NeedsRecoverProperty))
          recoverPartitions(spark, table)
        meta.properties.get(FoldJournalProperty)
          .foreach(replayRunFold(spark, table, _))
        true
      case None =>
        Seq(backup -> side, side -> backup)
          .find { case (from, _) => countedExists(spark, from) } match {
          case Some((from, leftover)) =>
            step(table, "stamp")(stampProperties(spark, from,
              Map(NeedsRecoverProperty -> "true")))
            renameIntoPlace(spark, table, from, leftover)
            true
          case None => false
        }
    }
  }

  /** Thrown by an armed failpoint: the state a kill just before `step`
    * leaves behind. */
  private[graft] final class InjectedCrash(step: String)
      extends IllegalStateException(s"injected crash before step $step")

  private val stepHooks =
    new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()

  /** Crash-test hook: run `body` with `hook` called on the name of every
    * protocol step reached on `table`, just before the step's mutation.
    * A hook that throws is a kill at that step; one that records traces
    * the path a rewrite or recovery takes. */
  private[graft] def withStepHook[T](table: String)(hook: String => Unit)(
      body: => T): T = {
    val key = table.toLowerCase
    stepHooks.put(key, hook)
    try body finally stepHooks.remove(key)
  }

  /** Arm the failpoint of `step` on `table` for the scope of `body`: the
    * first time that step is reached it throws [[InjectedCrash]] instead
    * of mutating. One-shot, so the recovery that follows runs unarmed
    * unless a test arms it. */
  private[graft] def withFailpoint[T](table: String, step: String)(body: => T): T = {
    var armed = true
    withStepHook(table) { reached =>
      if (armed && reached == step) { armed = false; throw new InjectedCrash(step) }
    }(body)
  }

  /** One named mutation of the rewrite protocol. */
  private def step(table: String, name: String)(mutation: => Unit): Unit = {
    if (!stepHooks.isEmpty)
      Option(stepHooks.get(table.toLowerCase)).foreach(_(name))
    mutation
  }

  /** Total bytes of a managed table's parquet data files — the probe
    * sweep's bytes axis (VERDICT r19 item 5): these probes scan the
    * whole index side, so on-disk index bytes IS the bytes-scanned
    * normalizer for seconds-per-GB. */
  def dataFileBytes(spark: SparkSession, table: String): Long =
    dataFiles(spark, table).map(_.getLen).sum

  /** Count the data files of a managed table (parquet parts, not logs). */
  def dataFileCount(spark: SparkSession, table: String): Int =
    dataFiles(spark, table).size

  /** A managed table's parquet data files, recursing through partition
    * directories. */
  private def dataFiles(spark: SparkSession,
                        table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(identOf(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
      }
    walk(loc)
  }
}
