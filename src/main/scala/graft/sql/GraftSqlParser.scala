package graft.sql

import graft.io.Tombstones
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructType}

/** SQL surface for the persisted-index LIFECYCLE (VERDICT r17 item 7
  * brought the retraction half; r18 item 4 the rest): every stage an
  * operator needs — build, maintain, compact/fold, probe, retract,
  * purge — callable without Scala, via `spark.sql(...)` on a session
  * built with [[graft.GraftExtensions]] (which injects this parser in
  * front of the session parser).
  *
  * {{{
  * CREATE <family> INDEX <t1>[, <t2>] [K <k>] [BUCKETS <b>]
  *   [TABLES <n> BITS <b>] [CENTROIDS <c>] AS <select>
  * APPEND TO <family> INDEX <t1>[, <t2>] BATCH <n> [K <k>] [BUCKETS <b>]
  *   [TABLES <n> BITS <b>] [CENTROIDS <c>] AS <select>
  * COMPACT INDEX <t>
  * PROBE <family> INDEX <t1>[, <t2>] [K <k>] [TOMBSTONES <tt>]
  *   [QUERIES <query_table>] INTO <out_table> AS <select>
  * RETRACT FROM <family> INDEX <t1>[, <t2>] [TOMBSTONES <tt>]
  *   BATCH <n> [K <k>] AS <select returning the retired rows>
  * PURGE RETRACTIONS FROM <family> INDEX <t1>[, <t2>] TOMBSTONES <tt>
  * }}}
  *
  * Families: `minhash` (INDEX bands, sigs — TOMBSTONES required on
  * RETRACT), `vector` (INDEX bands, vecs), `ivf` (INDEX assign) retire
  * by id through the tombstone protocol ([[graft.io.Tombstones.retract]]
  * and [[graft.io.Tombstones.purge]] over the family's
  * [[graft.io.Tombstones.Family]]), so the RETRACT source returns the
  * family's `sourceIdCol` (doc_id / vec_id / vec_id). `shingle_df`,
  * `line_df`, `window_df` (optional K, default 8), `token_count`,
  * `bm25_df` retract by negated partial, so the source returns the
  * retired DOCUMENTS (doc_id, text). CREATE/APPEND route through the
  * same per-batch partial path the streamed maintenance uses (CREATE =
  * batch 0 of a table that must not exist yet) and now cover ALL
  * families (VERDICT r19 item 3): `vector` pins its sign-LSH banding
  * with an explicit `TABLES <n> BITS <b>` clause and `ivf` its coarse
  * quantizer with `CENTROIDS <c>` (trained from the CREATE source into
  * `<t>_centroids`, the pinned artifact streamed maintenance reads) —
  * REQUIRED at CREATE (geometry is a provisioning decision the
  * statement must state, the q71 doctrine), persisted as `graft.index.*`
  * table properties, re-read at APPEND/PROBE, and require-matched when
  * the operator repeats the clause. COMPACT INDEX applies the table's own maintenance
  * policy: the zero-sum-dropping FOLD for additive-df tables, the
  * identity compaction otherwise. PROBE runs the family's incremental
  * probe over the source rows and writes the result INTO a table —
  * results stay distributed; the command returns only the row count.
  * `minhash` probes take an optional `TOMBSTONES <tt>` naming a
  * pending (unpurged) gate — retired docs stop matching before any
  * physical purge; `bm25_df` probes name their fixed query set with
  * `QUERIES <table-or-view>` (resolved in the command's session).
  *
  * Table names are UNQUALIFIED (session default database) by design:
  * the index maintenance machinery addresses warehouse directories by
  * table name, and a half-supported `db.t` would fail deep inside a
  * rewrite instead of at the parser (ADVICE r18) — a dotted name is
  * rejected here with the grammar.
  *
  * Every guard of the Scala surface fires unchanged (orphan,
  * double-retract, negative-fold, kind stamps, purge + fold
  * watermarks): this is a parser front-end, not a second
  * implementation. A retraction/append swallowed by a replay
  * watermark reports `landed = false` in the command output (ADVICE
  * r18) — the SQL operator sees the no-op.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseGraftStatement(sqlText)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** family -> (expected INDEX table count, the tombstone family over
    * (INDEX tables, TOMBSTONES table), or None for the negated-partial
    * families) */
  private type Tombs = (Seq[String], String) => Tombstones.Family
  private val families: Map[String, (Int, Option[Tombs])] = Map(
    "minhash" -> (2, Some[Tombs]((t, tt) => Tombstones.minhash(t(0), t(1), tt))),
    "vector" -> (2, Some[Tombs]((t, tt) => Tombstones.vector(t(0), t(1), tt))),
    "ivf" -> (1, Some[Tombs]((t, tt) => Tombstones.ivf(t(0), tt))),
    "shingle_df" -> (1, None),
    "line_df" -> (1, None),
    "window_df" -> (1, None),
    "token_count" -> (1, None),
    "bm25_df" -> (1, None))

  /** The tombstone family a validated RETRACT/PURGE statement names. */
  private[sql] def tombstoneFamily(family: String, tables: Seq[String],
                                   tombstones: String): Tombstones.Family =
    families(family)._2.get(tables, tombstones)

  // unqualified (\w+) table names only — see the class doc
  private val Tbls = """\w+(?:\s*,\s*\w+)*"""
  private val RetractRe =
    (s"""(?is)\\s*RETRACT\\s+FROM\\s+(\\w+)\\s+INDEX\\s+($Tbls)""" +
      """(?:\s+TOMBSTONES\s+(\w+))?\s+BATCH\s+(\d+)(?:\s+K\s+(\d+))?""" +
      """\s+AS\s+(.+?)\s*;?\s*""").r
  private val PurgeRe =
    (s"""(?is)\\s*PURGE\\s+RETRACTIONS\\s+FROM\\s+(\\w+)\\s+INDEX\\s+""" +
      s"""($Tbls)\\s+TOMBSTONES\\s+(\\w+)\\s*;?\\s*""").r
  // the optional geometry clauses (TABLES/BITS for vector, CENTROIDS
  // for ivf) sit after the layout knobs, in this order — the near-miss
  // usage text states the full clause order
  private val Geom =
    """(?:\s+TABLES\s+(\d+))?(?:\s+BITS\s+(\d+))?(?:\s+CENTROIDS\s+(\d+))?"""
  private val CreateRe =
    (s"""(?is)\\s*CREATE\\s+(\\w+)\\s+INDEX\\s+($Tbls)""" +
      s"""(?:\\s+K\\s+(\\d+))?(?:\\s+BUCKETS\\s+(\\d+))?$Geom""" +
      """\s+AS\s+(.+?)\s*;?\s*""").r
  private val AppendRe =
    (s"""(?is)\\s*APPEND\\s+TO\\s+(\\w+)\\s+INDEX\\s+($Tbls)""" +
      s"""\\s+BATCH\\s+(\\d+)(?:\\s+K\\s+(\\d+))?(?:\\s+BUCKETS\\s+(\\d+))?$Geom""" +
      """\s+AS\s+(.+?)\s*;?\s*""").r
  private val CompactRe =
    """(?is)\s*COMPACT\s+INDEX\s+(\w+)\s*;?\s*""".r
  private val ProbeRe =
    (s"""(?is)\\s*PROBE\\s+(\\w+)\\s+INDEX\\s+($Tbls)""" +
      """(?:\s+K\s+(\d+))?(?:\s+TOMBSTONES\s+(\w+))?(?:\s+QUERIES\s+(\w+))?""" +
      """\s+INTO\s+(\w+)\s+AS\s+(.+?)\s*;?\s*""").r

  private def known(family: String): Boolean =
    families.contains(family.toLowerCase(java.util.Locale.ROOT))

  private[graft] def parseGraftStatement(sqlText: String): Option[LogicalPlan] = {
    val plan: Option[LogicalPlan] = sqlText match {
      case RetractRe(family, tables, tombs, batch, k, source) =>
        Some(RetractIndexCommand(validate(family, tables, Option(tombs)),
          splitTables(tables), Option(tombs), batch.toLong,
          Option(k).map(_.toInt), source))
      case PurgeRe(family, tables, tombs) =>
        val f = validate(family, tables, Some(tombs))
        require(families(f)._2.isDefined,
          s"PURGE RETRACTIONS applies to the tombstone families " +
            s"(${families.filter(_._2._2.isDefined).keys.toSeq.sorted.mkString(", ")}); " +
            s"'$f' retracts by negated partial and has nothing to purge")
        Some(PurgeRetractionsCommand(f, splitTables(tables), tombs))
      case CreateRe(family, tables, k, buckets, lshT, lshB, cents, source)
          if known(family) =>
        val geom = Geometry(Option(lshT).map(_.toInt),
          Option(lshB).map(_.toInt), Option(cents).map(_.toInt))
        Some(AppendIndexCommand(
          validateBuild(family, tables, geom, create = true),
          splitTables(tables), batchId = 0L, Option(k).map(_.toInt),
          Option(buckets).map(_.toInt), geom, source, create = true))
      case AppendRe(family, tables, batch, k, buckets, lshT, lshB, cents,
          source) if known(family) =>
        val geom = Geometry(Option(lshT).map(_.toInt),
          Option(lshB).map(_.toInt), Option(cents).map(_.toInt))
        Some(AppendIndexCommand(
          validateBuild(family, tables, geom, create = false),
          splitTables(tables), batch.toLong, Option(k).map(_.toInt),
          Option(buckets).map(_.toInt), geom, source, create = false))
      case CompactRe(table) =>
        Some(CompactIndexCommand(table))
      case ProbeRe(family, tables, k, tombs, queries, out, source)
          if known(family) =>
        val f = family.toLowerCase(java.util.Locale.ROOT)
        require(splitTables(tables).size == families(f)._1,
          s"family '$f' takes ${families(f)._1} INDEX table(s), got '$tables'")
        require(tombs == null || families(f)._2.isDefined,
          s"family '$f' retracts by negated partial — its probe has no " +
            "TOMBSTONES gate (retractions are already folded into the dfs)")
        if (f == "bm25_df")
          require(queries != null,
            "the bm25_df probe scores a fixed query set — name it with " +
              "QUERIES <table-or-view>")
        else
          require(queries == null,
            s"QUERIES applies to the bm25_df probe only; '$f' probes " +
              "take one source")
        Some(ProbeIndexCommand(f, splitTables(tables),
          Option(k).map(_.toInt), Option(tombs), Option(queries), out,
          source))
      case _ => None
    }
    // near-miss diagnostics (ADVICE r18): a statement that is
    // unambiguously graft syntax but failed the grammar must raise the
    // grammar, not fall through to an unrelated Spark ParseException
    if (plan.isEmpty) requireNotNearMiss(sqlText)
    plan
  }

  private val GraftLead =
    ("""(?is)\s*(RETRACT\s+FROM|PURGE\s+RETRACTIONS|APPEND\s+TO\s+\w+\s+INDEX|""" +
      """COMPACT\s+INDEX|PROBE\s+\w+\s+INDEX).*""").r
  private val CreateLead = """(?is)\s*CREATE\s+(\w+)\s+INDEX\b.*""".r

  private def requireNotNearMiss(sqlText: String): Unit = {
    val claimed = sqlText match {
      case GraftLead(_) => true
      // CREATE only belongs to graft when the family word is known —
      // CREATE TABLE/VIEW/INDEX must reach the Spark parser untouched
      case CreateLead(family) => known(family)
      case _ => false
    }
    require(!claimed,
      "malformed graft statement; expected one of:\n" +
        "  CREATE <family> INDEX <t1>[, <t2>] [K <k>] [BUCKETS <b>] [TABLES <n> BITS <b>] [CENTROIDS <c>] AS <select>\n" +
        "  APPEND TO <family> INDEX <t1>[, <t2>] BATCH <n> [K <k>] [BUCKETS <b>] [TABLES <n> BITS <b>] [CENTROIDS <c>] AS <select>\n" +
        "  COMPACT INDEX <t>\n" +
        "  PROBE <family> INDEX <t1>[, <t2>] [K <k>] [TOMBSTONES <tt>] [QUERIES <q>] INTO <out_table> AS <select>\n" +
        "  RETRACT FROM <family> INDEX <t1>[, <t2>] [TOMBSTONES <tt>] BATCH <n> [K <k>] AS <select>\n" +
        "  PURGE RETRACTIONS FROM <family> INDEX <t1>[, <t2>] TOMBSTONES <tt>\n" +
        "(table names must be unqualified — statements run against the " +
        "session default database)\ngot: " + sqlText.trim.take(200))
  }

  private def splitTables(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Evaluate a command's AS query exactly ONCE (ADVICE r19): APPEND
    * and RETRACT report `n_source_rows` AND hand the rows to the family
    * path, and two separate evaluations mean a non-deterministic
    * source (rand(), LIMIT without ORDER BY) can land rows that differ
    * from the reported count — and every command pays a double source
    * scan. localCheckpoint materializes the batch before any use
    * (command batches are delta-sized by design), and an Observation on
    * that same pass counts every source row, duplicates and null ids
    * included: `f` gets the batch and a read of that count, which runs
    * no job. The observation is delivered through the listener bus, so
    * `f` reads it after its own work, and PROBE never waits on it. The
    * checkpoint blocks are released when `f` returns so a long SQL
    * session does not accumulate dead block-manager state across
    * statements. */
  private[sql] def withSourceOnce[T](spark: SparkSession, sourceSql: String)(
      f: (DataFrame, () => Long) => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Observation("n_source_rows")
    val batch = spark.sql(sourceSql).observe(rows, count(lit(1)).as("n"))
      .localCheckpoint()
    try f(batch, () => rows.get("n").asInstanceOf[Long])
    finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(false))
  }

  /** Re-read a provisioned geometry property, require-matching the
    * operator's repeated clause when present. */
  private[sql] def pinned(spark: SparkSession, table: String, prop: String,
                          clause: Option[Int], what: String): Int = {
    val stored = graft.io.Bucketing.tableProperty(spark, table, prop)
      .flatMap(_.toIntOption)
    require(stored.isDefined,
      s"$table carries no $what stamp ($prop) — it was not provisioned " +
        "through CREATE/the Scala builders; rebuild it")
    clause.foreach(v => require(v == stored.get,
      s"$what $v does not match $table's provisioned ${stored.get} — " +
        "an index probes correctly only under its build geometry"))
    stored.get
  }

  private def validate(familyRaw: String, tables: String,
                       tombs: Option[String]): String = {
    val family = familyRaw.toLowerCase(java.util.Locale.ROOT)
    require(families.contains(family),
      s"unknown index family '$family' — expected one of " +
        families.keys.toSeq.sorted.mkString(", "))
    val (nTables, idCol) = families(family)
    val given = splitTables(tables).size
    require(given == nTables,
      s"family '$family' takes $nTables INDEX table(s), got $given")
    if (idCol.isDefined)
      require(tombs.isDefined,
        s"family '$family' retires ids through the tombstone protocol — " +
          "a TOMBSTONES table is required")
    else
      require(tombs.isEmpty,
        s"family '$family' retracts by negated partial — it has no " +
          "TOMBSTONES table (the retraction lands as a negative batch)")
    family
  }

  /** The optional geometry clauses of CREATE/APPEND. */
  case class Geometry(lshTables: Option[Int], lshBits: Option[Int],
                      centroids: Option[Int]) {
    def any: Boolean =
      lshTables.isDefined || lshBits.isDefined || centroids.isDefined
  }

  private def validateBuild(familyRaw: String, tables: String,
                            geom: Geometry, create: Boolean): String = {
    val family = familyRaw.toLowerCase(java.util.Locale.ROOT)
    val given = splitTables(tables).size
    require(given == families(family)._1,
      s"family '$family' takes ${families(family)._1} INDEX table(s), " +
        s"got $given")
    family match {
      case "vector" =>
        require(geom.centroids.isEmpty,
          "CENTROIDS is the ivf quantizer clause; a vector index is " +
            "provisioned with TABLES <n> BITS <b>")
        if (create)
          require(geom.lshTables.isDefined && geom.lshBits.isDefined,
            "CREATE vector INDEX must state its banding geometry — " +
              "TABLES <n> BITS <b> — explicitly: the sign-LSH width is a " +
              "provisioning decision (sized for the expected corpus " +
              "scale) that per-batch re-derivation would drift; it is " +
              "persisted as table properties and re-read by APPEND/PROBE")
      case "ivf" =>
        require(geom.lshTables.isEmpty && geom.lshBits.isEmpty,
          "TABLES/BITS are the vector banding clauses; an ivf index is " +
            "provisioned with CENTROIDS <c>")
        if (create)
          require(geom.centroids.isDefined,
            "CREATE ivf INDEX must state CENTROIDS <c> explicitly: the " +
              "coarse quantizer is trained once from the CREATE source " +
              "(into <t>_centroids, the pinned artifact every later " +
              "batch scores against) and its size is a provisioning " +
              "decision, persisted as table properties")
      case _ =>
        require(!geom.any,
          s"family '$family' has no geometry clauses — TABLES/BITS " +
            "provision a vector index, CENTROIDS an ivf index")
    }
    family
  }
}

/** `CREATE <family> INDEX` / `APPEND TO <family> INDEX` — lands one
  * batch through the family's per-batch partial path (the exact code
  * streamed maintenance runs). CREATE is APPEND of batch 0 into a
  * table that must not exist yet, nor its swap leftovers — refusing to
  * silently append into a prior index is the create-vs-maintain
  * distinction an operator expects from the keyword. `landed` is false
  * when the batch was swallowed by the fold watermark (a post-fold
  * replay).
  *
  * vector/ivf (VERDICT r19 item 3): CREATE states the geometry
  * (TABLES/BITS, CENTROIDS) explicitly; the partial paths persist it
  * as table properties (`graft.index.lshTables/lshBits/centroids/
  * centroidsTable`), APPEND re-reads it from metadata and
  * require-matches any repeated clause — the q71 pinning doctrine
  * moved into the catalog, so a fat-fingered second batch cannot band
  * under a different bucket width or score against a different
  * quantizer. ivf CREATE additionally trains the pinned centroid
  * artifact into `<t>_centroids` from the CREATE source. */
case class AppendIndexCommand(family: String, tables: Seq[String],
                              batchId: Long, k: Option[Int],
                              buckets: Option[Int],
                              geom: GraftSqlParser.Geometry,
                              sourceSql: String, create: Boolean)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("family", StringType, nullable = false)(),
    AttributeReference("batch_id", LongType, nullable = false)(),
    AttributeReference("n_source_rows", LongType, nullable = false)(),
    AttributeReference("landed", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    if (create) tables.foreach { t =>
      require(!spark.catalog.tableExists(t),
        s"$t already exists — APPEND TO it (maintenance) or drop it " +
          "first (rebuild); CREATE never silently extends a prior index")
      graft.io.Bucketing.swapLeftovers(t).find(spark.catalog.tableExists)
        .foreach { leftover =>
          throw new IllegalArgumentException(s"$leftover is left over " +
            s"from an interrupted rewrite of an earlier $t; CREATE would " +
            "restore it and land batch 0 into its old rows — drop it first")
        }
    }
    GraftSqlParser.withSourceOnce(spark, sourceSql) { (batch, n) =>
    val b = buckets.getOrElse(8)
    val landed = family match {
      case "minhash" =>
        graft.ops.Dedup.appendCorpusIndexPartial(spark, batch, tables(0),
          tables(1), batchId, buckets = b)
        true // posting-list partials have no fold watermark
      case "vector" =>
        val (lshT, lshB) =
          if (create) (geom.lshTables.get, geom.lshBits.get)
          else (GraftSqlParser.pinned(spark, tables(0),
              graft.io.Bucketing.LshTablesProperty, geom.lshTables, "TABLES"),
            GraftSqlParser.pinned(spark, tables(0),
              graft.io.Bucketing.LshBitsProperty, geom.lshBits, "BITS"))
        graft.ops.Similarity.appendVectorIndexPartial(spark, batch,
          tables(0), tables(1), batchId, tables = lshT, bitsPerTable = lshB,
          buckets = b)
        true // posting-list partials have no fold watermark
      case "ivf" =>
        val centsTbl =
          if (create) {
            val t = s"${tables(0)}_centroids"
            graft.ops.Similarity.buildIvfCentroids(batch, t,
              nCentroids = geom.centroids.get)
            t
          } else {
            GraftSqlParser.pinned(spark, tables(0),
              graft.io.Bucketing.CentroidsProperty, geom.centroids,
              "CENTROIDS")
            graft.io.Bucketing.tableProperty(spark, tables(0),
              graft.io.Bucketing.CentroidsTableProperty).getOrElse(
              throw new IllegalArgumentException(
                s"${tables(0)} carries no centroid-artifact stamp — it " +
                  "was not provisioned through CREATE/the streamed " +
                  "builder; rebuild it through CREATE ivf INDEX"))
          }
        graft.ops.Similarity.appendIvfAssignPartial(spark, batch, centsTbl,
          tables(0), batchId, buckets = b)
        true // posting-list partials have no fold watermark
      case "shingle_df" =>
        graft.ops.Dedup.appendShingleDfPartial(spark, batch, tables(0),
          batchId, buckets = b)
      case "line_df" =>
        graft.ops.TextAnalysis.appendLineDfPartial(spark, batch, tables(0),
          batchId, buckets = b)
      case "window_df" =>
        graft.ops.Dedup.appendWindowDfPartial(spark, batch, tables(0),
          batchId, k = k.getOrElse(8), buckets = b)
      case "token_count" =>
        graft.ops.TextAnalysis.appendTokenCountPartial(spark, batch,
          tables(0), batchId, buckets = b)
      case "bm25_df" =>
        graft.ops.TextAnalysis.appendBm25DfPartial(spark, batch, tables(0),
          batchId, buckets = b)
    }
    Seq(Row(family, batchId, n(), landed))
    }
  }
}

/** `COMPACT INDEX <t>` — the table's own maintenance rewrite through
  * the crash-safe two-name swap: the zero-sum-dropping FOLD for
  * additive-df tables (`folded = true`; retracted keys' cancelled row
  * pairs leave the disk and the replay watermark advances), the
  * identity compaction for everything else. `files` is the data file
  * count after the rewrite (one per bucket). */
case class CompactIndexCommand(table: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("folded", BooleanType, nullable = false)(),
    AttributeReference("files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    require(spark.catalog.tableExists(table) ||
        spark.catalog.tableExists(s"${table}_precompact") ||
        spark.catalog.tableExists(s"${table}_compacting"),
      s"$table does not exist — nothing to compact")
    // repair BEFORE reading the kind: after a crash that left only
    // _precompact/_compacting (states the guard above accepts), the main
    // name does not resolve until the repair restores it — deciding
    // first would give an additive-df table an identity compaction
    // instead of the requested fold
    graft.io.Bucketing.repairCompaction(spark, table)
    val additive = graft.io.Bucketing.tableKind(spark, table)
      .exists(graft.io.Bucketing.AdditiveKinds)
    val files =
      if (additive) graft.io.Bucketing.foldBucketed(spark, table)
      else graft.io.Bucketing.compactBucketed(spark, table)
    Seq(Row(table, additive, files.toLong))
  }
}

/** `PROBE <family> INDEX <t> INTO <out> AS <select>` — runs the
  * family's incremental probe (the p54/p63/p71/p99-class delta-sized
  * computation) over the source rows against the persisted index and
  * writes the result INTO `outTable` — the probe result stays a
  * distributed table; only its row count returns through the command.
  * Every probe-side guard (kind stamp, layout, negative-fold) fires
  * unchanged. */
case class ProbeIndexCommand(family: String, tables: Seq[String],
                             k: Option[Int], tombstones: Option[String],
                             queriesTable: Option[String],
                             outTable: String, sourceSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("family", StringType, nullable = false)(),
    AttributeReference("out_table", StringType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // materialize the source once: the family probes read the delta
    // more than once internally (noveltyIncremental folds grams twice),
    // and a non-deterministic AS query must probe one consistent batch
    GraftSqlParser.withSourceOnce(spark, sourceSql) { (source, _) =>
    val result = family match {
      case "minhash" =>
        // probes through the LIVE tombstone gate when TOMBSTONES names
        // a pending (unpurged) table — retired docs stop matching the
        // instant their retraction lands, before any physical purge
        graft.ops.Dedup.incrementalVerdictsAgainstIndex(spark, source,
          tables(0), tables(1), tombstonesTable = tombstones)
      case "vector" =>
        // banding geometry re-read from the stamps every vec-bands table
        // carries from its one CREATE (build or streamed batch alike),
        // after the probe-side repair: a swap killed mid-rename leaves no
        // table under the name to read them from
        graft.io.Bucketing.openIndex(spark, tables(0), "vec-bands")
        val lshT = GraftSqlParser.pinned(spark, tables(0),
          graft.io.Bucketing.LshTablesProperty, None, "TABLES")
        val lshB = GraftSqlParser.pinned(spark, tables(0),
          graft.io.Bucketing.LshBitsProperty, None, "BITS")
        graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(spark,
          source, tables(0), tables(1), tables = lshT, bitsPerTable = lshB,
          tombstonesTable = tombstones)
      case "ivf" =>
        // K is the probe's top-k. Probes score against the CREATE-time
        // PINNED quantizer artifact (ADVICE r20, high): the previous
        // path re-trained the quantizer from the AS source, which
        // derives a different centroid set whenever the probe source
        // differs from the CREATE source (a delta, or the corpus after
        // APPENDs — the natural incremental usage every other family
        // supports), making the probed cells silently miss the index's
        // stored cells. An unstamped table is an error, not a fallback:
        // an index cannot be scored against a different quantizer.
        graft.io.Bucketing.openIndex(spark, tables(0), "ivf-assign")
        val centsTbl = graft.io.Bucketing.tableProperty(spark, tables(0),
          graft.io.Bucketing.CentroidsTableProperty).getOrElse(
          throw new IllegalArgumentException(
            s"${tables(0)} carries no centroid-artifact stamp " +
              s"(${graft.io.Bucketing.CentroidsTableProperty}) — it was " +
              "not provisioned through CREATE ivf INDEX/the streamed " +
              "builder; a probe cannot score against a different " +
              "quantizer"))
        graft.ops.Similarity.ivfTopKAgainstIndexWithCentroids(spark,
          source, tables(0), centsTbl, k = k.getOrElse(10),
          tombstonesTable = tombstones)
      case "shingle_df" =>
        graft.ops.Dedup.noveltyIncremental(spark, source, tables(0))
      case "line_df" =>
        graft.ops.TextAnalysis.lineDedupIncremental(spark, source, tables(0))
      case "window_df" =>
        graft.ops.Dedup.substringRemoveIncremental(spark, source, tables(0),
          k = k.getOrElse(8))
      case "token_count" =>
        graft.ops.TextAnalysis.vocabCoverageFromStreamedIndex(spark, source,
          tables(0))
      case "bm25_df" =>
        graft.ops.TextAnalysis.bm25TopKIncremental(spark, source,
          spark.table(queriesTable.get), tables(0))
    }
    graft.io.Bucketing.dropTable(spark, outTable)
    // the written rows counted as they pass, not by a re-scan of outTable
    val written = Observation("n_rows")
    result.observe(written, count(lit(1)).as("n")).write.format("parquet")
      .saveAsTable(outTable)
    Seq(Row(family, outTable, written.get("n").asInstanceOf[Long]))
    }
  }
}

/** `RETRACT FROM ...` — lands one retraction batch through the exact
  * Scala path of the named family. The AS query runs in the command's
  * session; `n_source_rows` reports the rows it returned (the family
  * dedups ids internally where applicable). `landed` is false when the
  * batch was swallowed by a replay watermark — the purge watermark for
  * the tombstone families, the fold watermark for the negated-partial
  * families (ADVICE r18: the SQL operator must SEE the no-op). */
case class RetractIndexCommand(family: String, tables: Seq[String],
                               tombstones: Option[String], batchId: Long,
                               k: Option[Int], sourceSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("family", StringType, nullable = false)(),
    AttributeReference("batch_id", LongType, nullable = false)(),
    AttributeReference("n_source_rows", LongType, nullable = false)(),
    AttributeReference("landed", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.withSourceOnce(spark, sourceSql) { (removed, n) =>
    val landed = family match {
      case _ if tombstones.isDefined =>
        Tombstones.retract(spark,
          GraftSqlParser.tombstoneFamily(family, tables, tombstones.get),
          removed, batchId)
      case "shingle_df" =>
        graft.ops.Dedup.retractShingleDfPartial(spark, removed, tables(0),
          batchId)
      case "line_df" =>
        graft.ops.TextAnalysis.retractLineDfPartial(spark, removed,
          tables(0), batchId)
      case "window_df" =>
        graft.ops.Dedup.retractWindowDfPartial(spark, removed, tables(0),
          batchId, k = k.getOrElse(8))
      case "token_count" =>
        graft.ops.TextAnalysis.retractTokenCountPartial(spark, removed,
          tables(0), batchId)
      case "bm25_df" =>
        graft.ops.TextAnalysis.retractBm25DfPartial(spark, removed,
          tables(0), batchId)
    }
    Seq(Row(family, batchId, n(), landed))
    }
  }
}

/** `PURGE RETRACTIONS FROM ...` — folds every pending tombstone batch
  * into the family tables through the crash-safe swap and drops the
  * gate ([[graft.io.Tombstones.purge]], watermark included).
  * `purged` is false when there was nothing pending. */
case class PurgeRetractionsCommand(family: String, tables: Seq[String],
                                   tombstonesTable: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("family", StringType, nullable = false)(),
    AttributeReference("purged", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val purged = Tombstones.purge(spark,
      GraftSqlParser.tombstoneFamily(family, tables, tombstonesTable))
    Seq(Row(family, purged))
  }
}
