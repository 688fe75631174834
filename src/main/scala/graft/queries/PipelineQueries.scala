package graft.queries

import graft.{Sessions, Tables}
import graft.ops.{Audio, Dedup, Multimodal, Quantize, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline query catalog: dedup, similarity search, text
  * analysis, multimodal plumbing — over the `documents` / `embeddings`
  * fixture tables. Every entry carries a DuckDB oracle (same column
  * names, bit-identical value policy). The formerly rows-only seeded-
  * hash ops are closed out too: p02 verifies its pair set + exact
  * Jaccard + an estimator error-bound contract (banding recall 1.0 is
  * p26's contract), and p03/p04 run the md5-hashed replayable simhash
  * variant whose 60-bit signatures replay as plain SQL.
  */
object PipelineQueries {

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** 16 bands x 8 rows (k=128): collision threshold (1/16)^(1/8) ~= 0.71,
    * over word TRIGRAM shingles. The loose defaults (bigrams, 4-row
    * bands) collide ~30% of ALL pairs on this small shared vocabulary
    * (1.7M candidates at sf0.1); trigrams + 8-row bands keep the
    * candidate set proportional to true near-dups.
    *
    * Fully oracle-checked via the same contract stack as p26: the
    * banding finds every true >= 0.7 pair on the verification corpus
    * (p26 asserts recall 1.0 for exactly these parameters), emitted
    * pairs are filtered on the EXACT word-3-shingle Jaccard (which
    * replays in SQL), and the MinHash estimate — the one seeded-hash
    * quantity DuckDB cannot recompute — is exported as a checked
    * error-bound flag (k=128 => sigma <= 0.044; 0.15 ~ 3.4 sigma) the
    * oracle expects TRUE. A banding recall drop, a verify-threshold
    * drift, or an estimator regression each breaks this row loudly. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(spark, dir),
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      .select(col("left_id"), col("right_id"),
        round(col("jaccard"), 6).as("jaccard"),
        (abs(col("est_jaccard") - col("jaccard")) <= 0.15)
          .as("est_within_bound"))

  val dedupMinhashSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [text]
      |      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |        for i in range(1, len(w) - 1)]) END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |p AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id,
      |    CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
      |    (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) AS j
      |  FROM t l JOIN t r ON l.doc_id < r.doc_id)
      |SELECT left_id, right_id, round(j, 6) AS jaccard,
      |  TRUE AS est_within_bound
      |FROM p WHERE j >= 0.7""".stripMargin

  /** p52 — incremental (delta-vs-corpus) dedup: every fifth document
    * plays the freshly-ingested delta, the rest the existing corpus;
    * each delta doc gets an is_dup/dup_of/jaccard verdict against the
    * corpus only (daily-ingest shape — corpus×corpus work is never
    * redone). The oracle is the exact all-pairs delta×corpus truth at
    * the same threshold: a full hash match certifies the banded path
    * has FULL recall on the fixture, same device as p02. Tie-break and
    * rounding are replayed exactly (round to 6 before the argmax). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.incrementalMinhashVerdicts(
      corpus = docs.filter(col("doc_id") % 5 =!= 0),
      delta = docs.filter(col("doc_id") % 5 === 0),
      bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
  }

  val dedupIncrementalSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [text]
      |      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |        for i in range(1, len(w) - 1)]) END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |d AS (SELECT * FROM t WHERE doc_id % 5 = 0),
      |c AS (SELECT * FROM t WHERE doc_id % 5 <> 0),
      |p AS (SELECT d.doc_id AS doc_id, c.doc_id AS cid,
      |    CAST(len(list_intersect(d.sh, c.sh)) AS DOUBLE) /
      |    (len(d.sh) + len(c.sh) - len(list_intersect(d.sh, c.sh))) AS j
      |  FROM d, c),
      |m AS (SELECT doc_id, cid, round(j, 6) AS j,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY round(j, 6) DESC, cid) AS rn
      |  FROM p WHERE j >= 0.7)
      |SELECT dd.doc_id, (m.cid IS NOT NULL) AS is_dup,
      |  m.cid AS dup_of, m.j AS jaccard
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) dd
      |LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)""".stripMargin

  /** p54 — incremental dedup against the PERSISTED corpus index: same
    * split and semantics as p52, but the corpus side is built ONCE as
    * two bucketed tables (band index on band_hash, signatures on
    * doc_id) and the delta probes them — the production daily-ingest
    * shape where only the delta ever shuffles (corpus-side scans
    * asserted exchange-free in ExplainSpec). The oracle is p52's exact
    * all-pairs truth, so a hash match certifies the persisted-index
    * path loses nothing vs the inline one.
    *
    * Index tables are cached per (application, input dir, scratch
    * epoch) exactly like q34's bucket layout: benchmark reps bump the
    * epoch and time the FULL operator (index build + probe), while
    * repeated calls at one epoch pay the build once — the amortization
    * the index exists for. Broadcast is disabled around the probe
    * because at fixture scale the planner would broadcast the delta and
    * skip the bucket layout this row exists to exercise. */
  def dedupIncrementalIndexed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p54_bands", dir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p54_sigs", dir)
    if (!Seq(bandsTbl, sigsTbl)
        .forall(graft.io.Bucketing.hasLandedBatch(spark, _, 0L)))
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") % 5 =!= 0),
        bandsTbl, sigsTbl, bands = 16, rowsPerBand = 8, shingleN = 3,
        buckets = 8)
    Sessions.withoutBroadcast(spark) {
      Dedup.incrementalVerdictsAgainstIndex(spark,
          docs.filter(col("doc_id") % 5 === 0), bandsTbl, sigsTbl,
          bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
    }
  }

  /** p116 — index RETRACTION for the minhash near-dup family, the
    * right-to-be-forgotten lifecycle step (VERDICT r16 item 3): the
    * corpus index is built from the %5<>0 corpus, then POISONED by
    * appending every delta document re-keyed (doc_id + 10M, text
    * verbatim — an exact near-dup twin of each probe document), then
    * the poison batch is RETRACTED via the tombstone protocol
    * (graft.io.Tombstones: O(|removed|) landing, orphan/double-retract
    * guards) and the delta probes the index through the tombstone
    * gate. The oracle is p52's exact all-pairs truth over the clean
    * corpus, so the hash is a LEAK DETECTOR by construction: any
    * retired posting or signature still matching would pair a delta
    * doc with its jaccard-1.0 twin and flip its verdict — retraction
    * must be indistinguishable from a rebuild without the retired
    * docs, certified row by row. (The physical-purge half of the
    * protocol is p117's device and spec-covered for this family in
    * DedupSpec.) */
  def dedupRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p116_bands", dir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p116_sigs", dir)
    val tombsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p116_tombs", dir)
    // completion MARKER, not tableExists: a crash between the poison
    // append and the retraction would otherwise cache a poisoned index
    // as "built" for the rest of the epoch
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p116_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      Seq(bandsTbl, sigsTbl, tombsTbl)
        .foreach(graft.io.Bucketing.dropTable(spark, _))
      Dedup.buildCorpusIndex(corpus, bandsTbl, sigsTbl,
        bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
      Dedup.appendCorpusIndexPartial(spark, poison, bandsTbl, sigsTbl,
        batchId = 1L, bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
      graft.io.Tombstones.retract(spark,
        graft.io.Tombstones.minhash(bandsTbl, sigsTbl, tombsTbl), poison,
        batchId = 0L)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    Sessions.withoutBroadcast(spark) {
      Dedup.incrementalVerdictsAgainstIndex(spark, delta, bandsTbl, sigsTbl,
          bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7,
          tombstonesTable = Some(tombsTbl))
    }
  }

  /** p123 — the retraction lifecycle routed through the SQL SURFACE
    * (VERDICT r17 item 7): p116's minhash build+poison, but the
    * retraction lands via `RETRACT FROM minhash INDEX ... TOMBSTONES
    * ... BATCH ... AS SELECT ...` and the physical fold via `PURGE
    * RETRACTIONS FROM ...` — the graft.sql.GraftSqlParser statements a
    * right-to-be-forgotten operator issues without touching Scala.
    * The probe then runs with NO gate: a hash match against p52's
    * oracle certifies the SQL-driven retract+purge is bit-equivalent
    * to a build that never contained the poison — same leak-detector
    * construction as p116/p117, now exercising the parser, the command
    * dispatch, AND the underlying protocol in one hash-gated row. The
    * statements run on the caller's session: every graft session
    * carries [[graft.GraftExtensions]] ([[graft.Sessions.local]]), so
    * the tables the SQL builds and the probe reads share one catalog. */
  def dedupRetractionSql(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p123_bands", dir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p123_sigs", dir)
    val tombsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p123_tombs", dir)
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p123_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      Seq(bandsTbl, sigsTbl, tombsTbl)
        .foreach(graft.io.Bucketing.dropTable(spark, _))
      Dedup.buildCorpusIndex(corpus, bandsTbl, sigsTbl,
        bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
      Dedup.appendCorpusIndexPartial(spark, poison, bandsTbl, sigsTbl,
        batchId = 1L, bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
      spark.sql(
        s"""RETRACT FROM minhash INDEX $bandsTbl, $sigsTbl
           |TOMBSTONES $tombsTbl BATCH 0 AS
           |SELECT doc_id + 10000000 AS doc_id
           |FROM parquet.`$dir/documents.parquet`
           |WHERE doc_id % 5 = 0""".stripMargin).collect()
      spark.sql(s"PURGE RETRACTIONS FROM minhash INDEX $bandsTbl, " +
        s"$sigsTbl TOMBSTONES $tombsTbl").collect()
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    Sessions.withoutBroadcast(spark) {
      Dedup.incrementalVerdictsAgainstIndex(spark, delta, bandsTbl, sigsTbl,
          bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
    }
  }

  /** p124 — an ENTIRE index lifecycle routed through the SQL surface
    * (VERDICT r18 item 4): where p123 proved the retraction statements,
    * this row proves the rest of the grammar on the shingle-df family —
    * CREATE (batch 0 of half the corpus), APPEND (the other half, then
    * a poison batch of re-keyed delta twins that inflates every delta
    * shingle's df), RETRACT (the negated partial cancelling the
    * poison), COMPACT (the FOLD rewrite — the poison's cancelled
    * (+df, −df) pairs physically leave the disk and the replay
    * watermark advances), and PROBE ... INTO (the incremental novelty
    * audit written to a result table, distributed end to end). The
    * probe shares p110's oracle verbatim, so the hash certifies the
    * SQL-driven build+maintain+fold+probe is bit-equivalent to the
    * Scala batch build over the clean corpus — any leaked poison df
    * would lower a delta doc's uniqueness and flip its row. */
  def sqlIndexLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p124_shdf", dir)
    val outTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p124_out", dir)
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p124_done", dir)
    val docsSql = s"parquet.`$dir/documents.parquet`"
    if (!graft.io.TempPaths.isComplete(done)) {
      Seq(idxTbl, outTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
      spark.sql(s"""CREATE shingle_df INDEX $idxTbl AS
                   |SELECT doc_id, text FROM $docsSql
                   |WHERE doc_id % 5 <> 0 AND doc_id % 2 = 0""".stripMargin)
        .collect()
      spark.sql(s"""APPEND TO shingle_df INDEX $idxTbl BATCH 1 AS
                   |SELECT doc_id, text FROM $docsSql
                   |WHERE doc_id % 5 <> 0 AND doc_id % 2 = 1""".stripMargin)
        .collect()
      spark.sql(s"""APPEND TO shingle_df INDEX $idxTbl BATCH 2 AS
                   |SELECT doc_id + 10000000 AS doc_id, text FROM $docsSql
                   |WHERE doc_id % 5 = 0""".stripMargin).collect()
      spark.sql(s"""RETRACT FROM shingle_df INDEX $idxTbl BATCH 3 AS
                   |SELECT doc_id + 10000000 AS doc_id, text FROM $docsSql
                   |WHERE doc_id % 5 = 0""".stripMargin).collect()
      spark.sql(s"COMPACT INDEX $idxTbl").collect()
      spark.sql(s"""PROBE shingle_df INDEX $idxTbl INTO $outTbl AS
                   |SELECT doc_id, text FROM $docsSql
                   |WHERE doc_id % 5 = 0""".stripMargin).collect()
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    spark.table(outTbl)
  }

  /** p126 — the VECTOR-index lifecycle routed through the SQL surface
    * (VERDICT r19 item 3): p124's pattern on the TOMBSTONE layout.
    * `CREATE vector INDEX ... TABLES 8 BITS <b>` states the banding
    * geometry explicitly (the q71 pinning doctrine as grammar — bits
    * are computed ONCE from the build input's scale and persisted as
    * table properties at CREATE), APPEND lands a poison batch of
    * re-keyed delta twins (cosine-1.0 neighbors of every probe
    * vector), RETRACT tombstones them, PURGE rewrites both tables
    * through the crash-safe swap, and PROBE ... INTO runs the
    * incremental cosine audit — re-reading the pinned geometry from
    * metadata, so the post-purge probe CANNOT re-derive different bits
    * from the shrunken store (the drift p117 pins by hand). The probe
    * shares p57's oracle verbatim: any surviving twin posting flips
    * its probe vector's verdict to the cosine-1.0 twin, so the hash
    * certifies the SQL-provisioned, SQL-retracted index is
    * bit-equivalent to a Scala batch build over the clean corpus. */
  def sqlVectorLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p126_vbands", dir)
    val vecsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p126_vecs", dir)
    val tombsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p126_tombs", dir)
    val outTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p126_out", dir)
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p126_done", dir)
    val embSql = s"parquet.`$dir/embeddings.parquet`"
    if (!graft.io.TempPaths.isComplete(done)) {
      Seq(bandsTbl, vecsTbl, tombsTbl, outTbl)
        .foreach(graft.io.Bucketing.dropTable(spark, _))
      // the provisioning decision the CREATE clause states: bits sized
      // from the full build input (corpus + poison), exactly p117's pin
      val emb = Tables.embeddings(spark, dir)
      val bits = Similarity.adaptiveBitsPerTable(emb.count())
      spark.sql(s"""CREATE vector INDEX $bandsTbl, $vecsTbl
                   |TABLES 8 BITS $bits AS
                   |SELECT vec_id, embedding FROM $embSql
                   |WHERE vec_id % 5 <> 0""".stripMargin).collect()
      spark.sql(s"""APPEND TO vector INDEX $bandsTbl, $vecsTbl BATCH 1 AS
                   |SELECT vec_id + 10000000 AS vec_id, embedding
                   |FROM $embSql WHERE vec_id % 5 = 0""".stripMargin).collect()
      spark.sql(s"""RETRACT FROM vector INDEX $bandsTbl, $vecsTbl
                   |TOMBSTONES $tombsTbl BATCH 0 AS
                   |SELECT vec_id + 10000000 AS vec_id
                   |FROM $embSql WHERE vec_id % 5 = 0""".stripMargin).collect()
      spark.sql(s"PURGE RETRACTIONS FROM vector INDEX $bandsTbl, " +
        s"$vecsTbl TOMBSTONES $tombsTbl").collect()
      // the p57 plan discipline: the probe shuffles only the delta
      Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        spark.sql(s"""PROBE vector INDEX $bandsTbl, $vecsTbl INTO $outTbl AS
                     |SELECT vec_id, embedding FROM $embSql
                     |WHERE vec_id % 5 = 0""".stripMargin).collect()
      }
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    spark.table(outTbl)
  }

  /** p58 — index MAINTENANCE: the persisted corpus index is built from
    * only 60% of the corpus (doc_id % 5 in 2..4), day-one's delta
    * (doc_id % 5 = 1) is APPENDED into it — only the delta is signed
    * and written, the corpus untouched — and day-two's delta
    * (doc_id % 5 = 0) probes the combined index. The oracle is p52's
    * exact all-pairs truth over the FULL %5<>0 corpus, so a hash match
    * certifies the appended index is indistinguishable from a
    * monolithic rebuild: the O(|delta|)-per-day upkeep loop loses
    * nothing. Build+append are cached per (application, input, scratch
    * epoch) as one guarded unit, so the append is never replayed into
    * an already-appended index within an epoch (reps bump the epoch and
    * pay the full build+append+probe). */
  def dedupIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p58_bands", dir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p58_sigs", dir)
    if (!Seq(bandsTbl, sigsTbl)
        .forall(graft.io.Bucketing.hasLandedBatch(spark, _, 1L))) {
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") % 5 >= 2),
        bandsTbl, sigsTbl, bands = 16, rowsPerBand = 8, shingleN = 3,
        buckets = 8)
      Dedup.appendCorpusIndexPartial(spark,
        docs.filter(col("doc_id") % 5 === 1), bandsTbl, sigsTbl,
        batchId = 1L, bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
    }
    Sessions.withoutBroadcast(spark) {
      Dedup.incrementalVerdictsAgainstIndex(spark,
          docs.filter(col("doc_id") % 5 === 0), bandsTbl, sigsTbl,
          bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
    }
  }

  /** p59 — the full index MAINTENANCE lifecycle: build (60%) → append
    * (20%) → COMPACT → probe (20%). Append-mode ingestion fragments the
    * bucket layout one file wave per day; compaction folds each
    * bucket's waves back into one file as a ZERO-SHUFFLE rewrite (the
    * bucketed scan already delivers bucket-aligned tasks —
    * Bucketing.compactBucketed), preserving the spec the probe plan
    * depends on. Oracle = p52's exact truth: the hash certifies the
    * compacted index is still indistinguishable from a monolithic
    * build; ExplainSpec/BucketingSpec assert the file count and the
    * still-bucketed still-one-exchange probe plan. */
  def dedupIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p59_bands", dir)
    val sigsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p59_sigs", dir)
    if (!Seq(bandsTbl, sigsTbl)
        .forall(graft.io.Bucketing.hasLandedBatch(spark, _, 1L))) {
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") % 5 >= 2),
        bandsTbl, sigsTbl, bands = 16, rowsPerBand = 8, shingleN = 3,
        buckets = 8)
      Dedup.appendCorpusIndexPartial(spark,
        docs.filter(col("doc_id") % 5 === 1), bandsTbl, sigsTbl,
        batchId = 1L, bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
      graft.io.Bucketing.compactBucketed(spark, bandsTbl)
      graft.io.Bucketing.compactBucketed(spark, sigsTbl)
    }
    Sessions.withoutBroadcast(spark) {
      Dedup.incrementalVerdictsAgainstIndex(spark,
          docs.filter(col("doc_id") % 5 === 0), bandsTbl, sigsTbl,
          bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
    }
  }

  /** The catalog entries run the md5-hashed `replayable` simhash variant
    * (60-bit signature, 4 x 15-bit pigeonhole chunks): identical vote /
    * banding / hamming-verify machinery to the xxhash64 default, but
    * every intermediate is plain SQL arithmetic, so the signatures AND
    * the banded pair set get full DuckDB hash oracles instead of the
    * rows-only checks seeded xxhash64 forces. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashSignatures(Tables.documents(spark, dir), replayable = true)
      .select("doc_id", "simhash")

  val dedupSimhashSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |h AS (SELECT doc_id,
      |    CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
      |v AS (SELECT doc_id, j,
      |    SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h, range(60) r(j) GROUP BY doc_id, j)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
      |           ELSE 0 END) AS BIGINT) AS simhash
      |FROM v GROUP BY doc_id""".stripMargin

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 8,
        replayable = true)
      .select(col("left_id"), col("right_id"),
        col("hamming").cast("long").as("hamming"))

  val dedupSimhashPairsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |h AS (SELECT doc_id,
      |    CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
      |v AS (SELECT doc_id, j,
      |    SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h, range(60) r(j) GROUP BY doc_id, j),
      |s AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
      |             ELSE 0 END) AS BIGINT) AS simhash
      |  FROM v GROUP BY doc_id),
      |cc AS (SELECT doc_id, simhash, cid,
      |    (simhash >> (15 * cid)) & 32767 AS cv
      |  FROM s, range(4) t(cid)),
      |cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
      |    l.simhash AS ls, r.simhash AS rs
      |  FROM cc l JOIN cc r ON l.cid = r.cid AND l.cv = r.cv
      |    AND l.doc_id < r.doc_id)
      |SELECT left_id, right_id,
      |  CAST(bit_count(xor(ls, rs)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ls, rs)) <= 8""".stripMargin

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardConsecutive(Tables.documents(spark, dir), n = 3)

  val dedupNgramJaccardSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_distinct([substring(text, i, 3)
      |                   for i in range(1, greatest(length(text)-1, 2))]) AS grams
      |  FROM documents)
      |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
      |  CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) /
      |    len(list_distinct(list_concat(l.grams, r.grams))) AS jaccard
      |FROM g l JOIN g r ON r.doc_id = l.doc_id + 1""".stripMargin

  def textTokenStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(spark, dir))

  val textTokenStatsSql: String =
    """SELECT doc_id, length(text) AS n_chars_calc,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]', 0)) AS n_bpe_tokens
      |FROM documents""".stripMargin

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(spark, dir))

  val textQualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','of','and','to','is'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_uniq_tokens, n_stop,
      |  CAST(n_uniq_tokens AS DOUBLE) / n_tokens AS uniq_ratio,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
      |  0.4 * (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) +
      |  0.3 * (CAST(n_stop AS DOUBLE) / n_tokens) +
      |  0.3 * least((CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0)
      |    AS quality_score
      |FROM t""".stripMargin

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(Tables.documents(spark, dir))

  val textLangIdSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text,' '),
      |        x -> x IN ('the','a','of','and','to','is'))) AS s_en,
      |    len(list_filter(string_split(text,' '),
      |        x -> x IN ('el','la','de','que','y','en'))) AS s_es,
      |    len(list_filter(string_split(text,' '),
      |        x -> x IN ('der','die','und','das','ist','von'))) AS s_de
      |  FROM documents)
      |SELECT doc_id, s_en, s_es, s_de,
      |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
      |       WHEN s_es >= s_de AND s_es > 0 THEN 'es'
      |       WHEN s_de > 0 THEN 'de'
      |       ELSE 'und' END AS lang_pred
      |FROM s""".stripMargin

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(Tables.documents(spark, dir))

  val textFingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp_md5,
      |  string_split(text, ' ')[1] AS first_token,
      |  string_split(text, ' ')[-1] AS last_token,
      |  len(string_split(text, ' ')) AS n_tokens
      |FROM documents""".stripMargin

  def annCosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir))

  val annCosineTopKSql: String =
    """WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |p AS (
      |  SELECT q_id, e.vec_id AS c_id,
      |    round(
      |      list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
      |                for i in range(1, 65)]) /
      |      (sqrt(list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)
      |                      for i in range(1, 65)])) *
      |       sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
      |                      for i in range(1, 65)]))), 6) AS cos_sim
      |  FROM embeddings e, q WHERE e.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY cos_sim DESC, c_id) AS rn FROM p)
      |SELECT q_id, c_id, cos_sim FROM r WHERE rn <= 10""".stripMargin

  def annNearestNeighbor(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearestNeighbor(Tables.embeddings(spark, dir))

  val annNearestNeighborSql: String =
    """WITH p AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
      |    round(
      |      list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |                for i in range(1, 65)]) /
      |      (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
      |                      for i in range(1, 65)])) *
      |       sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |                      for i in range(1, 65)]))), 6) AS cos_sim
      |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY cos_sim DESC, c_id) AS rn FROM p)
      |SELECT q_id, c_id AS nn_id, cos_sim FROM r WHERE rn = 1""".stripMargin

  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir))

  def annIvfTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, dir))

  /** p56 — IVF top-k against the PERSISTED assignment index: same
    * geometry and output as p16, but the O(n x nCentroids) cell
    * assignment is built ONCE as a bucketed table and each query batch
    * probes it — the production vector-index shape (build once, query
    * forever). Cached per (application, input dir, scratch epoch) like
    * q34/p54, so bench reps time the full build+probe while repeated
    * same-epoch calls pay the probe only. Oracle = p16's, certifying
    * the indexed path returns bit-identical neighbors. */
  def annIvfTopKIndexed(spark: SparkSession, dir: String): DataFrame = {
    val tbl = graft.io.TempPaths.scratchTableName(spark, "graft_p56_ivf", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, tbl, 0L))
      Similarity.buildIvfIndex(Tables.embeddings(spark, dir), tbl)
    Similarity.ivfTopKAgainstIndex(spark, Tables.embeddings(spark, dir), tbl)
  }

  /** Threshold 0.45 sits just under the fixture's max neighbor cosine
    * (~0.51, random vectors), so the verdict set is non-trivial — a 0.9
    * threshold on this corpus finds nothing and the oracle would only
    * check the all-false path. */
  def embCosineDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineDedupVerdicts(Tables.embeddings(spark, dir), threshold = 0.45)

  /** Stateful sessionization (flatMapGroupsWithState) in batch form:
    * gap-based user sessions over the events table. Oracle replays the
    * same semantics as a lag/cumulative-sum window pipeline — the classic
    * SQL sessionization — proving the stateful operator agrees with the
    * relational formulation. */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.EventsStream.Event]
    graft.streaming.EventsStream.sessionize(spark, ev, gapMinutes = 30).toDF()
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("total_value"))
  }

  val eventsSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** p14 — REAL image decode: per-doc PNG test patterns (pixel values a
    * documented function of (x, y, doc_id)) are encoded with
    * javax.imageio executor-side, then decoded back and measured FROM
    * THE RASTER. The oracle replays only the generator arithmetic, so a
    * hash match proves the encode → PNG container → decode path
    * recovered exactly the written pixels (PNG is lossless; any codec
    * defect breaks the sums). */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractImageFeatures(spark,
      Multimodal.syntheticImages(spark, Tables.documents(spark, dir))).toDF()

  val multimodalFeaturesSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS width, doc_id % 7 + 3 AS height
      |  FROM documents)
      |SELECT doc_id, width, height, CAST(3 AS BIGINT) AS n_channels,
      |  CAST(SUM((x.v*7  + y.v*13 + doc_id)    % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM((x.v*3  + y.v*5  + doc_id*11) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM((x.v*17 + y.v*2  + doc_id*3)  % 256) AS BIGINT) AS sum_b
      |FROM d, unnest(range(width)) AS x(v), unnest(range(height)) AS y(v)
      |GROUP BY doc_id, width, height""".stripMargin

  /** p17 — real image TRANSFORM: decode → stride-2 downsample on the
    * raster (out(x,y) = in(2x,2y), the one resampler with exactly
    * replayable arithmetic) → re-encode → decode again → sums. The
    * reported stats come from the re-decoded resized PNG, certifying
    * the write path as well as the read path. Oracle: the generator
    * arithmetic sampled at even coordinates. */
  def multimodalTransform(spark: SparkSession, dir: String): DataFrame =
    Multimodal.transformImages(spark,
      Multimodal.syntheticImages(spark, Tables.documents(spark, dir))).toDF()

  val multimodalTransformSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS width, doc_id % 7 + 3 AS height,
      |    (doc_id % 13 + 4 + 1) // 2 AS resized_width,
      |    (doc_id % 7 + 3 + 1) // 2 AS resized_height
      |  FROM documents)
      |SELECT doc_id, width, height, resized_width, resized_height,
      |  CAST(SUM((2*x.v*7  + 2*y.v*13 + doc_id)    % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM((2*x.v*3  + 2*y.v*5  + doc_id*11) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM((2*x.v*17 + 2*y.v*2  + doc_id*3)  % 256) AS BIGINT) AS sum_b
      |FROM d, unnest(range(resized_width)) AS x(v),
      |  unnest(range(resized_height)) AS y(v)
      |GROUP BY doc_id, width, height, resized_width, resized_height""".stripMargin

  /** p66 — real audio DECODE: deterministic 16-bit PCM clips encoded as
    * actual WAV containers executor-side, decoded back through
    * javax.sound.sampled, stats (abs-sum, peak, zero crossings) computed
    * from the decoded sample stream. Oracle replays the waveform
    * generator arithmetic — a hash match proves the container round
    * trip recovered every sample exactly. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame =
    Audio.extractAudioFeatures(spark,
      Audio.syntheticAudio(spark, Tables.documents(spark, dir))).toDF()

  val audioFeaturesSql: String =
    """WITH d AS (
      |  SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sample_rate,
      |    160 + (doc_id % 7) * 40 AS n_samples
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, sample_rate, n_samples, x.v AS i,
      |    (x.v*x.v*31 + x.v*17 + doc_id*101) % 65536 - 32768 AS samp
      |  FROM d, unnest(range(n_samples)) AS x(v)),
      |l AS (
      |  SELECT *, LAG(samp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      |  FROM s)
      |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
      |  CAST(n_samples AS BIGINT) AS n_samples,
      |  CAST(SUM(ABS(samp)) AS BIGINT) AS sum_abs,
      |  CAST(MAX(ABS(samp)) AS BIGINT) AS peak,
      |  CAST(SUM(CASE WHEN prev * samp < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_crossings
      |FROM l GROUP BY doc_id, sample_rate, n_samples""".stripMargin

  /** p67 — real audio TRANSFORM: decode → decimate by 2 (out(i) =
    * in(2i), the one resampler with exactly replayable arithmetic) →
    * re-encode WAV at the halved rate → decode again → stats. The
    * reported stats come from the re-decoded resampled clip, certifying
    * the write path as well as the read path. Oracle: the generator
    * sampled at even indices. */
  def audioTransform(spark: SparkSession, dir: String): DataFrame =
    Audio.transformAudio(spark,
      Audio.syntheticAudio(spark, Tables.documents(spark, dir))).toDF()

  val audioTransformSql: String =
    """WITH d AS (
      |  SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sample_rate,
      |    (8000 + (doc_id % 3) * 4000) // 2 AS out_rate,
      |    160 + (doc_id % 7) * 40 AS n_samples,
      |    (160 + (doc_id % 7) * 40 + 1) // 2 AS out_samples
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, sample_rate, out_rate, n_samples, out_samples,
      |    (4*x.v*x.v*31 + 2*x.v*17 + doc_id*101) % 65536 - 32768 AS samp
      |  FROM d, unnest(range(out_samples)) AS x(v))
      |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
      |  CAST(out_rate AS BIGINT) AS out_rate,
      |  CAST(n_samples AS BIGINT) AS n_samples,
      |  CAST(out_samples AS BIGINT) AS out_samples,
      |  CAST(SUM(ABS(samp)) AS BIGINT) AS sum_abs,
      |  CAST(MAX(ABS(samp)) AS BIGINT) AS peak
      |FROM s
      |GROUP BY doc_id, sample_rate, out_rate, n_samples, out_samples"""
      .stripMargin

  /** p75 — image perceptual hash (aHash) from the DECODED rasters:
    * exact-integer luma, 8×8 stride sampling, integer-mean threshold —
    * the image near-dup signal, split into two longs so the oracle can
    * replay all 64 bits without signed-shift games. */
  def imageAHash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imageAHash(spark,
      Multimodal.syntheticImages(spark, Tables.documents(spark, dir))).toDF()

  val imageAHashSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 3 AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, j.v * 8 + i.v AS k,
      |    (((i.v * w) // 8 * 7  + (j.v * h) // 8 * 13 + doc_id)      % 256 * 299
      |   + ((i.v * w) // 8 * 3  + (j.v * h) // 8 * 5  + doc_id * 11) % 256 * 587
      |   + ((i.v * w) // 8 * 17 + (j.v * h) // 8 * 2  + doc_id * 3)  % 256 * 114)
      |      // 1000 AS g
      |  FROM d, unnest(range(8)) AS i(v), unnest(range(8)) AS j(v)),
      |m AS (SELECT *, SUM(g) OVER (PARTITION BY doc_id) // 64 AS mean FROM s)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN g > mean AND k < 32
      |    THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS ahash_lo,
      |  CAST(SUM(CASE WHEN g > mean AND k >= 32
      |    THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
      |FROM m GROUP BY doc_id""".stripMargin

  /** p76 — image near-dup pairs from the aHashes: Spark runs the
    * banded (4×16-bit pigeonhole) self-join — candidates only, never
    * all pairs — while the oracle computes EVERY pair directly, so the
    * hash match proves the banding lost nothing its ≤3-hamming
    * guarantee promises. The fixture genuinely contains near-dups:
    * docs 91 apart share dims and differ by a constant channel shift. */
  def imageNearDups(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDupPairs(Multimodal.imageAHash(spark,
      Multimodal.syntheticImages(spark, Tables.documents(spark, dir))).toDF())

  val imageNearDupsSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 3 AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, j.v * 8 + i.v AS k,
      |    (((i.v * w) // 8 * 7  + (j.v * h) // 8 * 13 + doc_id)      % 256 * 299
      |   + ((i.v * w) // 8 * 3  + (j.v * h) // 8 * 5  + doc_id * 11) % 256 * 587
      |   + ((i.v * w) // 8 * 17 + (j.v * h) // 8 * 2  + doc_id * 3)  % 256 * 114)
      |      // 1000 AS g
      |  FROM d, unnest(range(8)) AS i(v), unnest(range(8)) AS j(v)),
      |m AS (SELECT *, SUM(g) OVER (PARTITION BY doc_id) // 64 AS mean FROM s),
      |hsh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN g > mean AND k < 32
      |      THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(SUM(CASE WHEN g > mean AND k >= 32
      |      THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS hi
      |  FROM m GROUP BY doc_id)
      |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
      |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
      |    AS BIGINT) AS hamming
      |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""
      .stripMargin

  /** p81 — image near-dup pairs over DISTINCT signatures: the scale
    * path the sf0.8 amplified sweep prescribed for signature-
    * concentrated corpora (7 299 distinct hashes carried 40 000 images
    * there; doc-level pair output went quadratic — slope 1.46, all of
    * it output volume). Dedup to distinct aHashes first (rep = min
    * doc_id, multiplicity), band over distinct signatures only, emit
    * one row per near signature pair with `n_pairs` = the doc-pair
    * count it stands for. Oracle computes every distinct-signature
    * pair directly. */
  def imageNearDupGroups(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDupDistinctPairs(Multimodal.imageAHash(spark,
      Multimodal.syntheticImages(spark, Tables.documents(spark, dir))).toDF())

  val imageNearDupGroupsSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 3 AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, j.v * 8 + i.v AS k,
      |    (((i.v * w) // 8 * 7  + (j.v * h) // 8 * 13 + doc_id)      % 256 * 299
      |   + ((i.v * w) // 8 * 3  + (j.v * h) // 8 * 5  + doc_id * 11) % 256 * 587
      |   + ((i.v * w) // 8 * 17 + (j.v * h) // 8 * 2  + doc_id * 3)  % 256 * 114)
      |      // 1000 AS g
      |  FROM d, unnest(range(8)) AS i(v), unnest(range(8)) AS j(v)),
      |m AS (SELECT *, SUM(g) OVER (PARTITION BY doc_id) // 64 AS mean FROM s),
      |hsh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN g > mean AND k < 32
      |      THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(SUM(CASE WHEN g > mean AND k >= 32
      |      THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS hi
      |  FROM m GROUP BY doc_id),
      |grp AS (
      |  SELECT lo, hi, CAST(MIN(doc_id) AS BIGINT) AS rep_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM hsh GROUP BY lo, hi)
      |SELECT a.rep_id AS left_id, b.rep_id AS right_id,
      |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
      |    AS BIGINT) AS hamming,
      |  a.n_docs * b.n_docs AS n_pairs
      |FROM grp a JOIN grp b ON a.rep_id < b.rep_id
      |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""
      .stripMargin

  /** p82 — transitive image dedup groups: the media half of the dedup
    * loop closed the way the text side closes it (p19/p23/p43) —
    * connected components over the p76 hamming-≤3 edges via the
    * hybrid driver-union-find / distributed label-propagation device,
    * one keeper per component. If image A ≈ B and B ≈ C, pairwise
    * keep-first would retain both A and C; components collapse the
    * whole cluster. Oracle: the same recursive min-label CTE as the
    * p19 oracle, over the exact all-pairs ≤3 edge set from the p75
    * hash replay. */
  def imageDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hashes = Multimodal.imageAHash(spark,
      Multimodal.syntheticImages(spark, docs)).toDF()
    Dedup.dedupGroups(docs, Multimodal.imageNearDupPairs(hashes))
  }

  val imageDedupGroupsSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 3 AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, j.v * 8 + i.v AS k,
      |    (((i.v * w) // 8 * 7  + (j.v * h) // 8 * 13 + doc_id)      % 256 * 299
      |   + ((i.v * w) // 8 * 3  + (j.v * h) // 8 * 5  + doc_id * 11) % 256 * 587
      |   + ((i.v * w) // 8 * 17 + (j.v * h) // 8 * 2  + doc_id * 3)  % 256 * 114)
      |      // 1000 AS g
      |  FROM d, unnest(range(8)) AS i(v), unnest(range(8)) AS j(v)),
      |m AS (SELECT *, SUM(g) OVER (PARTITION BY doc_id) // 64 AS mean FROM s),
      |hsh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN g > mean AND k < 32
      |      THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(SUM(CASE WHEN g > mean AND k >= 32
      |      THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS hi
      |  FROM m GROUP BY doc_id),
      |e AS (
      |  SELECT a.doc_id AS x, b.doc_id AS y
      |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
      |es AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
      |reach(id, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT es.y, reach.root FROM reach JOIN es ON es.x = reach.id)
      |SELECT id AS doc_id, MIN(root) AS group_id, (MIN(root) = id) AS is_keeper
      |FROM reach GROUP BY id""".stripMargin

  /** p84 — transitive AUDIO dedup groups: p82's device on the p78/p79
    * family — connected components over the audio fingerprint
    * hamming-≤3 edges, one keeper per component. The variant fixture
    * makes the truth legible: each even/odd doc pair sits at hamming
    * ≤ 2 by construction, so components are (at least) the planted
    * pairs plus whatever accidental near-fingerprints link them.
    * Oracle: recursive min-label CTE over the exact all-pairs edge set
    * from the p78 fingerprint replay. */
  def audioDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fps = Audio.audioFingerprints(spark,
      Audio.syntheticAudioVariants(spark, docs)).toDF()
    Dedup.dedupGroups(docs, Audio.audioNearDupPairs(fps))
  }

  val audioDedupGroupsSql: String =
    "WITH RECURSIVE " + audioFpCtes.stripPrefix("WITH ") + """,
      |ed AS (
      |  SELECT a.doc_id AS x, b.doc_id AS y
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.fp_lo, b.fp_lo)) +
      |        bit_count(xor(a.fp_hi, b.fp_hi)) <= 3),
      |eds AS (SELECT x, y FROM ed UNION ALL SELECT y AS x, x AS y FROM ed),
      |reach(id, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT eds.y, reach.root FROM reach JOIN eds ON eds.x = reach.id)
      |SELECT id AS doc_id, MIN(root) AS group_id, (MIN(root) = id) AS is_keeper
      |FROM reach GROUP BY id""".stripMargin

  /** Pre-land the near-dup VARIANT video fixture once per application
    * (the shared [[graft.io.TempPaths.landOnce]] device, own landing
    * dir): three catalog rows (p85/p86/p87) share one deterministic
    * 65-frame-GIF corpus, and the GIF *writer* is the costliest codec
    * in the catalog — re-encoding it per row/rep would time the
    * fixture, not the operator. */
  private def landedVideoVariants(spark: SparkSession, dir: String): DataFrame =
    graft.io.TempPaths.landOnce(spark, "graft_p85_gif", dir)(
      Multimodal.syntheticVideoVariants(spark, Tables.documents(spark, dir)))

  /** Untimed shared-fixture prep for the bench warmup (VERDICT r20
    * item 7): land both GIF corpora once per application OUTSIDE any
    * timed row, so no catalog row's rep1 carries another row's
    * one-time encode — the GIF *writer* is the costliest codec in the
    * catalog, and whichever of p85/p86/p87 (or p68) ran first used to
    * pay it inside its first timed rep (p85 rep1 ~43 s vs ~5 s steady
    * at sf0.1; the sf0.8 spot-bench read the same one-time cost as a
    * phantom 40x on p86). landOnce is eager and idempotent, so this is
    * a pure hoist: same work, same per-application scratch, paid
    * before timing starts; the rows keep their own guards. */
  def landSharedMediaFixtures(spark: SparkSession, dir: String): Unit = {
    landedVideoVariants(spark, dir)
    graft.io.TempPaths.landOnce(spark, "graft_p68_gif", dir)(
      Multimodal.syntheticVideos(spark, Tables.documents(spark, dir)))
    ()
  }

  /** p85 — VIDEO perceptual fingerprint from the DECODED frames: the
    * temporal brightness-delta sign device (65 real GIF frames, per-
    * frame gray sums from the decoded rasters, bit f = S(f+1) > S(f))
    * over the near-dup variant fixture — doc pairs share one frame
    * sequence up to a 3-frame +5-gray perturbation, the replayable
    * stand-in for a levels-drifted re-encoded copy. Completes the
    * modality × fingerprint matrix: image aHash (p75) is SPATIAL,
    * audio energy-delta (p78) is TEMPORAL-1D, this is TEMPORAL over
    * decoded 2-D frames. Oracle replays generator, gray sums and delta
    * bits in SQL; a hash match certifies the whole 65-frame container
    * round trip in order. */
  def videoFingerprint(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoFingerprints(spark, landedVideoVariants(spark, dir)).toDF()

  // lazy: referenced by videoDedupGroupsSql below via string reuse
  private lazy val videoFpCtes: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 2 AS grp,
      |    (doc_id // 2) % 5 + 4 AS w, (doc_id // 2) % 3 + 3 AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, f.v AS f,
      |    SUM(CASE WHEN doc_id % 2 = 1 AND f.v < 3
      |      THEN ((x.v*7 + y.v*13 + f.v*f.v*(19 + grp % 23)
      |             + f.v*(11 + grp % 17) + grp*101) % 256 + 5) % 256
      |      ELSE (x.v*7 + y.v*13 + f.v*f.v*(19 + grp % 23)
      |            + f.v*(11 + grp % 17) + grp*101) % 256
      |    END) AS gsum
      |  FROM d, unnest(range(65)) AS f(v), unnest(range(w)) AS x(v),
      |    unnest(range(h)) AS y(v)
      |  GROUP BY doc_id, f.v),
      |lg AS (
      |  SELECT doc_id, f, gsum,
      |    LEAD(gsum) OVER (PARTITION BY doc_id ORDER BY f) AS nexts
      |  FROM s),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(SUM(CASE WHEN nexts > gsum AND f < 32
      |      THEN (CAST(1 AS BIGINT) << f) END), 0) AS BIGINT) AS fp_lo,
      |    CAST(COALESCE(SUM(CASE WHEN nexts > gsum AND f >= 32 AND f < 64
      |      THEN (CAST(1 AS BIGINT) << (f - 32)) END), 0) AS BIGINT) AS fp_hi
      |  FROM lg GROUP BY doc_id)""".stripMargin

  val videoFingerprintSql: String =
    videoFpCtes + "\nSELECT doc_id, fp_lo, fp_hi FROM fp"

  /** p86 — video near-dup pairs from the fingerprints: Spark runs the
    * shared banded (4×16-bit pigeonhole) self-join — candidates only —
    * while the oracle computes EVERY pair directly, so the hash match
    * proves the banding lost nothing its ≤3-hamming guarantee
    * promises. The variant fixture plants each doc pair at hamming ≤ 3
    * structurally (only fingerprint bits 0–2 can flip). */
  def videoNearDups(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDupPairs(Multimodal.videoFingerprints(spark,
      landedVideoVariants(spark, dir)).toDF())

  val videoNearDupsSql: String =
    videoFpCtes + """
      |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
      |  CAST(bit_count(xor(a.fp_lo, b.fp_lo)) +
      |       bit_count(xor(a.fp_hi, b.fp_hi)) AS BIGINT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp_lo, b.fp_lo)) +
      |      bit_count(xor(a.fp_hi, b.fp_hi)) <= 3""".stripMargin

  /** p87 — transitive VIDEO dedup groups: the p82/p84 device on the
    * p85/p86 family — connected components over the video fingerprint
    * hamming-≤3 edges, one keeper per component. Closes the dedup
    * lifecycle for the third and last media modality: every modality
    * now runs fingerprint → banded pairs → transitive groups. Oracle:
    * recursive min-label CTE over the exact all-pairs edge set from
    * the p85 fingerprint replay. */
  def videoDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fps = Multimodal.videoFingerprints(spark,
      landedVideoVariants(spark, dir)).toDF()
    Dedup.dedupGroups(docs, Multimodal.videoNearDupPairs(fps))
  }

  val videoDedupGroupsSql: String =
    "WITH RECURSIVE " + videoFpCtes.stripPrefix("WITH ") + """,
      |ed AS (
      |  SELECT a.doc_id AS x, b.doc_id AS y
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.fp_lo, b.fp_lo)) +
      |        bit_count(xor(a.fp_hi, b.fp_hi)) <= 3),
      |eds AS (SELECT x, y FROM ed UNION ALL SELECT y AS x, x AS y FROM ed),
      |reach(id, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT eds.y, reach.root FROM reach JOIN eds ON eds.x = reach.id)
      |SELECT id AS doc_id, MIN(root) AS group_id, (MIN(root) = id) AS is_keeper
      |FROM reach GROUP BY id""".stripMargin

  /** p73 — STEREO audio decode: 2-channel WAV containers with
    * interleaved 4-byte frames, deinterleaved from the decoded stream;
    * per-channel stats plus the exact integer cross-channel dot
    * product — the statistic that catches a deinterleave defect
    * (swapped or shifted channels) that per-channel sums would miss.
    * Oracle replays both channel generators. */
  def audioStereoFeatures(spark: SparkSession, dir: String): DataFrame =
    Audio.extractStereoFeatures(spark,
      Audio.syntheticStereo(spark, Tables.documents(spark, dir))).toDF()

  val audioStereoFeaturesSql: String =
    """WITH d AS (
      |  SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sample_rate,
      |    160 + (doc_id % 7) * 40 AS n_frames
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, sample_rate, n_frames,
      |    (x.v*x.v*31 + x.v*17 + doc_id*101) % 65536 - 32768 AS l,
      |    (x.v*x.v*13 + x.v*29 + doc_id*211) % 65536 - 32768 AS r
      |  FROM d, unnest(range(n_frames)) AS x(v))
      |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
      |  CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(SUM(ABS(l)) AS BIGINT) AS sum_abs_l,
      |  CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs_r,
      |  CAST(MAX(ABS(l)) AS BIGINT) AS peak_l,
      |  CAST(MAX(ABS(r)) AS BIGINT) AS peak_r,
      |  CAST(SUM(l * r) AS BIGINT) AS dot_lr
      |FROM s GROUP BY doc_id, sample_rate, n_frames""".stripMargin

  /** p78 — audio perceptual fingerprint from the DECODED PCM: the
    * Shazam-shape energy-delta sign device with exact integer
    * semantics (65 frames by `i·65 div n`, |sample| energies, bit f =
    * E(f+1) > E(f)) over the near-dup VARIANT fixture — doc pairs
    * share one waveform up to a 4-sample wrap perturbation, the
    * replayable stand-in for a level-shifted re-encoded copy. Oracle
    * replays generator, framing, energies and bits in SQL; a hash
    * match certifies the whole decode → frame → delta-sign path. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame =
    Audio.audioFingerprints(spark,
      Audio.syntheticAudioVariants(spark, Tables.documents(spark, dir))).toDF()

  // lazy: referenced by audioDedupGroupsSql, which is declared earlier
  // in the object than this definition
  private lazy val audioFpCtes: String =
    """WITH p AS (
      |  SELECT doc_id, doc_id // 2 AS grp,
      |    160 + ((doc_id // 2) % 7) * 40 AS n
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n, x.v AS i,
      |    CASE WHEN doc_id % 2 = 1 AND x.v < 4
      |      THEN (((x.v*x.v*(31 + grp % 29) + x.v*(17 + grp % 19)
      |              + grp*101) % 65536 - 32768) + 32775) % 65536 - 32768
      |      ELSE (x.v*x.v*(31 + grp % 29) + x.v*(17 + grp % 19)
      |            + grp*101) % 65536 - 32768
      |    END AS samp,
      |    (x.v * 65) // n AS f
      |  FROM p, unnest(range(n)) AS x(v)),
      |e AS (
      |  SELECT doc_id, f, SUM(ABS(samp)) AS energy
      |  FROM s GROUP BY doc_id, f),
      |lg AS (
      |  SELECT doc_id, f, energy,
      |    LEAD(energy) OVER (PARTITION BY doc_id ORDER BY f) AS nexte
      |  FROM e),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(SUM(CASE WHEN nexte > energy AND f < 32
      |      THEN (CAST(1 AS BIGINT) << f) END), 0) AS BIGINT) AS fp_lo,
      |    CAST(COALESCE(SUM(CASE WHEN nexte > energy AND f >= 32 AND f < 64
      |      THEN (CAST(1 AS BIGINT) << (f - 32)) END), 0) AS BIGINT) AS fp_hi
      |  FROM lg GROUP BY doc_id)""".stripMargin

  val audioFingerprintSql: String =
    audioFpCtes + "\nSELECT doc_id, fp_lo, fp_hi FROM fp"

  /** p79 — audio near-dup pairs from the fingerprints: Spark runs the
    * shared banded (4×16-bit pigeonhole) self-join — candidates only —
    * while the oracle computes EVERY pair directly, so the hash match
    * proves the banding lost nothing its ≤3-hamming guarantee
    * promises. The variant fixture plants each doc pair at hamming ≤ 2
    * structurally (only frames 0–1 can differ). */
  def audioNearDups(spark: SparkSession, dir: String): DataFrame =
    Audio.audioNearDupPairs(Audio.audioFingerprints(spark,
      Audio.syntheticAudioVariants(spark, Tables.documents(spark, dir))).toDF())

  val audioNearDupsSql: String =
    audioFpCtes + """
      |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
      |  CAST(bit_count(xor(a.fp_lo, b.fp_lo)) +
      |       bit_count(xor(a.fp_hi, b.fp_hi)) AS BIGINT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp_lo, b.fp_lo)) +
      |      bit_count(xor(a.fp_hi, b.fp_hi)) <= 3""".stripMargin

  /** p68 — real VIDEO frame sampling: deterministic 3–6-frame clips
    * encoded as actual animated GIF containers (indexed 256-gray
    * palette ⇒ lossless), decoded through javax.imageio's sequence
    * reader, every 2nd frame kept, per-frame gray sums read from the
    * decoded rasters. One row per sampled frame. Oracle replays the
    * frame generator arithmetic — a hash match proves frame COUNT,
    * frame ORDER and every pixel survived the container round trip. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame =
    // pre-land the synthesized GIF payloads once per application (the
    // shared landOnce device): the payload is a pure function of
    // (dir, doc_id) — re-encoding it per bench rep would re-time the
    // GIF *writer* (the costliest codec in the catalog), not the
    // sampling operator this row measures.
    Multimodal.sampleVideoFrames(spark,
      graft.io.TempPaths.landOnce(spark, "graft_p68_gif", dir)(
        Multimodal.syntheticVideos(spark, Tables.documents(spark, dir)))).toDF()

  val videoFramesSql: String =
    """WITH d AS (
      |  SELECT doc_id, 3 + doc_id % 4 AS n_frames,
      |    4 + doc_id % 9 AS width, 3 + doc_id % 5 AS height
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, fr.v AS frame_idx, n_frames, width, height
      |  FROM d, unnest(range(0, n_frames, 2)) AS fr(v))
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
      |  CAST(SUM((x.v*7 + y.v*13 + frame_idx*29 + doc_id) % 256) AS BIGINT)
      |    AS sum_gray
      |FROM f, unnest(range(width)) AS x(v), unnest(range(height)) AS y(v)
      |GROUP BY doc_id, frame_idx, n_frames, width, height""".stripMargin

  /** As-of join: each click enriched with the same user's nearest prior
    * view. Oracle is DuckDB's native ASOF LEFT JOIN — our composed
    * range-join + argmax must agree with a purpose-built implementation. */
  def eventsAsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    graft.ops.AsOfJoin.nearestPrior(clicks, views, leftId = "click_id",
      key = "user_id", leftTs = "click_ts", rightTs = "view_ts", payload = Seq("view_id"))
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        col("view_id"),
        unix_micros(col("view_ts")).as("view_us"))
  }

  val eventsAsOfJoinSql: String =
    """WITH clicks AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT event_id AS view_id, user_id AS v_user_id, ts AS view_ts
      |  FROM events WHERE event_type = 'view')
      |SELECT click_id, user_id,
      |  epoch_us(click_ts) AS click_us,
      |  view_id,
      |  epoch_us(view_ts) AS view_us
      |FROM clicks ASOF LEFT JOIN views
      |  ON clicks.user_id = views.v_user_id AND clicks.click_ts >= views.view_ts""".stripMargin

  /** Transitive dedup groups over the minhash near-dup pairs: connected
    * components collapse whole similarity clusters to one keeper (a pair
    * list alone under-deduplicates chains A~B~C). Rows-only: iterative
    * label propagation is not single-statement SQL; invariants in
    * DedupSpec cover transitivity. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(docs, bands = 16, rowsPerBand = 8,
      shingleN = 3, threshold = 0.7)
    Dedup.dedupGroups(docs, pairs)
  }

  /** TF-IDF top-5 terms per document. Oracle replays the same formula
    * with ROW_NUMBER over (score desc, term) — the bounded top-k
    * aggregator must agree with the SQL window formulation. */
  def textTfIdf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(Tables.documents(spark, dir), k = 5)

  val textTfIdfSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.token AS term, COUNT(*) AS tf
      |  FROM documents, unnest(string_split(text, ' ')) AS t(token)
      |  GROUP BY doc_id, t.token),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |           ORDER BY score DESC, term ASC) AS rn
      |  FROM scored)
      |SELECT doc_id, term, score FROM ranked WHERE rn <= 5""".stripMargin

  /** Content-keyed train/test split: stable across reruns/repartitions,
    * reproducible in any engine with md5. */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.trainTestSplit(Tables.documents(spark, dir), col("text"))
      .select(col("doc_id"), col("bucket"), col("split"))

  val trainTestSplitSql: String =
    """SELECT doc_id,
      |  CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100 AS INTEGER)
      |    AS bucket,
      |  CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100 < 80
      |       THEN 'train' ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** Int8 quantization quality over the embeddings. Oracle-checkable:
    * both engines round doubles half away from zero, divisions and the
    * error fold are identical op-order double arithmetic. */
  def quantizeReport(spark: SparkSession, dir: String): DataFrame =
    Quantize.qualityReport(Tables.embeddings(spark, dir))

  val quantizeReportSql: String =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127.0 AS scale
      |  FROM embeddings),
      |r AS (
      |  SELECT vec_id, scale,
      |    [CAST(CASE WHEN scale = 0.0 THEN 0
      |               ELSE round(CAST(x AS DOUBLE) / scale) END AS DOUBLE) * scale
      |     for x in embedding] AS recon,
      |    [CAST(x AS DOUBLE) for x in embedding] AS orig
      |  FROM q),
      |e AS (
      |  SELECT vec_id, scale,
      |    [(orig[i] - recon[i]) * (orig[i] - recon[i])
      |     for i in range(1, len(orig) + 1)] AS err
      |  FROM r)
      |SELECT vec_id, scale,
      |  list_sum(err) / len(err) AS mse,
      |  sqrt(list_max(err)) AS max_abs_err
      |FROM e""".stripMargin

  /** Stream-stream interval join (clicks to following views) run in batch
    * mode over the same events table — watermarks are no-ops in batch, so
    * this pins the JOIN semantics the streaming path executes
    * incrementally (StreamingSpec covers the stateful/watermarked run;
    * this row makes the semantics driver-verified against plain SQL). */
  def eventsIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.clickToViewJoin(Tables.events(spark, dir))
      .select(col("click_id"), col("view_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("view_ts")).as("view_us"))

  val eventsIntervalJoinSql: String =
    """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
      |  epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us
      |FROM events c JOIN events v
      |  ON c.event_type = 'click' AND v.event_type = 'view'
      |  AND v.user_id = c.user_id
      |  AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE""".stripMargin

  /** Token-window chunking (64-token chunks, 16 overlap) — chunk
    * boundaries, text, and counts all SQL-replayable. */
  def docChunking(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(Tables.documents(spark, dir))

  /** Line-level corpus dedup: rewrite docs by deleting 12-word segments
    * that appear in more than one document (the C4 line-dedup shape;
    * segments stand in for lines — the fixture has no newlines). */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lineDedup(Tables.documents(spark, dir))

  /** The oracle replays the whole rewrite: segmentation, corpus doc
    * frequency, the df<=1 gate, and in-order reassembly (string_agg
    * ORDER BY seg_idx ≡ array_join of the seg_idx-sorted collect_list).
    * It groups on segment TEXT where Spark groups on md5(segment) — equal
    * absent an md5 collision, the same contract p01 already relies on. */
  val lineDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_seg
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_seg, k AS seg_idx,
      |    array_to_string(toks[(k*12+1):(k*12+12)], ' ') AS seg
      |  FROM t, unnest(range(0, n_seg)) AS u(k)),
      |f AS (
      |  SELECT seg, count(DISTINCT doc_id) AS df FROM s GROUP BY seg),
      |r AS (
      |  SELECT s.doc_id,
      |    string_agg(s.seg, ' ' ORDER BY s.seg_idx) AS kept_text,
      |    count(*) AS n_kept
      |  FROM s JOIN f USING (seg) WHERE f.df <= 1
      |  GROUP BY s.doc_id)
      |SELECT t.doc_id,
      |  coalesce(r.kept_text, '') AS text_clean,
      |  t.n_seg AS n_segments,
      |  t.n_seg - coalesce(r.n_kept, 0) AS n_removed
      |FROM t LEFT JOIN r USING (doc_id)""".stripMargin

  /** Line-level dedup in PRODUCTION mode — the `split(text, '\n')`
    * segmenter over text that actually contains newlines. The fixture
    * corpus is newline-free, so the row assembles a realistic page
    * in-query from existing columns: a corpus-wide header, a per-source
    * tag line, the document body, an empty line, and a corpus-wide
    * footer, all '\n'-joined. The df<=1 gate must then strip every
    * boilerplate line (header/footer/empty shared by all 500 docs, the
    * tag shared within each source, bodies of exact-duplicate docs) and
    * keep exactly the unique bodies — both engines replay the identical
    * construction, so the newline segmentation, empty-segment handling,
    * and newline-joined reassembly are what is being checked. */
  def lineDedupNewlines(spark: SparkSession, dir: String): DataFrame = {
    val aug = Tables.documents(spark, dir).select(col("doc_id"),
      concat_ws("\n",
        lit("Subscribe to our newsletter for updates"),
        concat(lit("source: "), col("source")),
        col("text"),
        lit(""),
        lit("(c) Example Corp. All rights reserved.")).as("text"))
    TextAnalysis.lineDedup(aug, byLines = true)
  }

  /** DuckDB replays the same page construction, splits on chr(10)
    * (string_split keeps empty segments, matching Spark's limit=-1
    * split), counts corpus doc-frequency per line, and reassembles the
    * df<=1 survivors in order with chr(10). Groups on line TEXT where
    * Spark groups on md5(line) — equal absent an md5 collision, the
    * contract p01/p60 already rely on. */
  val lineDedupNewlinesSql: String =
    """WITH a AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    'Subscribe to our newsletter for updates',
      |    'source: ' || source,
      |    text,
      |    '',
      |    '(c) Example Corp. All rights reserved.') AS text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS segs,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_seg
      |  FROM a),
      |s AS (
      |  SELECT doc_id, n_seg, k AS seg_idx, segs[k + 1] AS seg
      |  FROM t, unnest(range(0, n_seg)) AS u(k)),
      |f AS (
      |  SELECT seg, count(DISTINCT doc_id) AS df FROM s GROUP BY seg),
      |r AS (
      |  SELECT s.doc_id,
      |    string_agg(s.seg, chr(10) ORDER BY s.seg_idx) AS kept_text,
      |    count(*) AS n_kept
      |  FROM s JOIN f USING (seg) WHERE f.df <= 1
      |  GROUP BY s.doc_id)
      |SELECT t.doc_id,
      |  coalesce(r.kept_text, '') AS text_clean,
      |  t.n_seg AS n_segments,
      |  t.n_seg - coalesce(r.n_kept, 0) AS n_removed
      |FROM t LEFT JOIN r USING (doc_id)""".stripMargin

  /** p63 — incremental line dedup against the PERSISTED line-df index:
    * the daily-ingest shape of the C4 line-dedup family. Every fifth
    * document plays the freshly-ingested delta, the rest the existing
    * corpus whose per-segment document frequencies are built ONCE as a
    * bucketed (h, df_corpus) table — 32-byte digests and counts, never
    * text — and each delta segment is gated on corpus df + delta df.
    * The oracle is full-corpus line dedup restricted to the delta rows,
    * so a hash match certifies the incremental path rewrites a new doc
    * EXACTLY as a from-scratch global pass would, without re-counting
    * history. Index cached per (application, dir, scratch epoch) like
    * p54; broadcast disabled around the probe so the bucket layout is
    * what runs at fixture scale, as it would at 100 TB. */
  def lineDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p63_linedf", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 0L))
      TextAnalysis.buildLineDfIndex(docs.filter(col("doc_id") % 5 =!= 0),
        idxTbl, buckets = 8)
    Sessions.withoutBroadcast(spark) {
      TextAnalysis.lineDedupIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), idxTbl)
    }
  }

  /** p118 — RETRACTION for the line-df family via the negated-df
    * device (p113's mechanism on a SECOND additive family, under the
    * driver's hash gate): the corpus lands as an appended partial,
    * POISON segment-duplicates of every delta doc (doc_id + 10M, text
    * verbatim) land as a second batch — pushing each delta segment's
    * df past the keep gate — and a retraction batch
    * (TextAnalysis.retractLineDfPartial) cancels them exactly. The
    * probe then shares p63's oracle: any leaked poison df would flip
    * kept segments to removed, so the hash is a leak detector per
    * segment. (The minhash/vector posting-list families retract via
    * tombstones — p116/p117; the additive families all share this
    * negated-partial path: shingle-df p113, line-df here, window-df /
    * token-count / bm25-df spec-certified in StreamedIndexSpec.) */
  def lineDedupRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p118_linedf", dir)
    // completion MARKER: a crash between the poison append and the
    // retraction must rebuild, never probe a poisoned index (the
    // p116/p117 discipline)
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p118_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      TextAnalysis.appendLineDfPartial(spark, corpus, idxTbl, 0L, buckets = 8)
      TextAnalysis.appendLineDfPartial(spark, poison, idxTbl, 1L, buckets = 8)
      TextAnalysis.retractLineDfPartial(spark, poison, idxTbl, 2L)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    Sessions.withoutBroadcast(spark) {
      TextAnalysis.lineDedupIncremental(spark, delta, idxTbl)
    }
  }

  /** The oracle replays the GLOBAL rewrite (p60's device: segment →
    * corpus-wide df → df<=1 gate → in-order reassembly) and keeps only
    * the delta docs — the equivalence the incremental path must hit. */
  val lineDedupIncrementalSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_seg
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_seg, k AS seg_idx,
      |    array_to_string(toks[(k*12+1):(k*12+12)], ' ') AS seg
      |  FROM t, unnest(range(0, n_seg)) AS u(k)),
      |f AS (
      |  SELECT seg, count(DISTINCT doc_id) AS df FROM s GROUP BY seg),
      |r AS (
      |  SELECT s.doc_id,
      |    string_agg(s.seg, ' ' ORDER BY s.seg_idx) AS kept_text,
      |    count(*) AS n_kept
      |  FROM s JOIN f USING (seg) WHERE f.df <= 1 AND s.doc_id % 5 = 0
      |  GROUP BY s.doc_id)
      |SELECT t.doc_id,
      |  coalesce(r.kept_text, '') AS text_clean,
      |  t.n_seg AS n_segments,
      |  t.n_seg - coalesce(r.n_kept, 0) AS n_removed
      |FROM t LEFT JOIN r USING (doc_id)
      |WHERE t.doc_id % 5 = 0""".stripMargin

  /** p65 — incremental decontamination against the PERSISTED
    * benchmark-gram index: the eval suite's distinct 8-grams are built
    * once as a table bucketed on the gram; the day's corpus delta
    * (every fourth train doc here) probes it without recomputing the
    * suite — the last index family (after minhash p54, embeddings p57,
    * line-df p63/q68) to gain an incremental probe. The oracle is p33's
    * exact scoring restricted to the delta, so a hash match certifies
    * the indexed path scores new docs exactly as the from-scratch pass
    * would. Broadcast disabled for the same reason as p54/p63: at
    * fixture scale the planner would broadcast the index and skip the
    * bucket layout the row exists to exercise. */
  def textDecontaminationIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p65_grams", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 0L))
      TextAnalysis.buildBenchGramIndex(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), idxTbl)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
      pmod(col("doc_id"), lit(4)) === 1)
    Sessions.withoutBroadcast(spark) {
      TextAnalysis.decontaminationAgainstIndex(spark, delta, idxTbl)
    }
  }

  /** p33's oracle with the train side restricted to the delta slice. */
  val textDecontaminationIncrementalSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 10 = 0 AS is_bench,
      |    list_distinct([array_to_string(toks[i:i+7], ' ')
      |      for i in range(1, greatest(len(toks) - 7, 1) + 1)]) AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |bg AS (SELECT DISTINCT u.gram FROM g, unnest(grams) AS u(gram)
      |       WHERE is_bench),
      |tr AS (SELECT doc_id, grams FROM g
      |       WHERE NOT is_bench AND doc_id % 4 = 1),
      |hit AS (
      |  SELECT doc_id, COUNT(*) AS n_contaminated
      |  FROM tr, unnest(grams) AS u(gram) JOIN bg USING (gram)
      |  GROUP BY doc_id)
      |SELECT tr.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
      |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / len(grams), 6)
      |    AS contamination_ratio
      |FROM tr LEFT JOIN hit ON tr.doc_id = hit.doc_id""".stripMargin

  /** Hashed-feature linear quality score: fastText-shaped feature-hash →
    * weight-lookup → integer linear fold → keep gate, zero shuffles. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedLinearQuality(Tables.documents(spark, dir))

  /** Bucket and weight both come from the first 4 md5 hex chars (the
    * p21 engine-portable hash idiom); list_sum is HUGEINT in DuckDB so
    * the sum is cast back to BIGINT for schema parity. */
  val qualityClassifierSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    [(CAST(('0x' || substring(md5(CAST(
      |        CAST(('0x' || substring(md5(t), 1, 4)) AS INTEGER) % 4096
      |      AS VARCHAR)), 1, 4)) AS INTEGER) % 1001) - 500
      |     for t in string_split(text, ' ')] AS ws,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT doc_id, CAST(list_sum(ws) AS BIGINT) AS score_raw, n_tokens,
      |  (list_sum(ws) > 0) AS keep
      |FROM w""".stripMargin

  /** p88 — logistic-regression TRAINING over hashed token counts: the
    * training half of the p61 classifier story. Four full-batch
    * gradient steps, D=8 hashed dims + a scaled intercept, balanced
    * median-split labels, exact fixed-point weights (1e-6-scaled
    * longs, sigmoid re-quantized per step, truncating integer division
    * by 128N — the η at which the fixture's training loss falls
    * monotonically: 0.626 → 0.567 → 0.526 → 0.476 and the final
    * classifier is genuinely non-trivial, see p89) — see
    * [[graft.ops.TextAnalysis.trainHashedLogReg]]. The oracle unrolls
    * all four steps in SQL, so a hash match certifies the entire
    * weight trajectory, not just the final vector. */
  def classifierTrain(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainHashedLogReg(Tables.documents(spark, dir))

  // shared by the p88 trajectory oracle and the p89 eval oracle
  private lazy val logRegCtes: String =
    """WITH fl AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) > 55
      |      THEN 1000000 ELSE 0 END AS y6,
      |    CAST(('0x' || substring(md5(t.tok), 1, 4)) AS INTEGER) % 8 AS d,
      |    LEAST(COUNT(*), 1000) AS x
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |  GROUP BY doc_id, y6, d
      |  UNION ALL
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) > 55
      |      THEN 1000000 ELSE 0 END AS y6,
      |    8 AS d, 25 AS x
      |  FROM documents),
      |n AS (SELECT 128 * COUNT(*) AS etai FROM documents),
      |dims AS (SELECT CAST(r.range AS INTEGER) AS d FROM range(9) r),
      |g1 AS (SELECT d, SUM((500000 - y6) * x) AS g FROM fl GROUP BY d),
      |w1 AS (SELECT dims.d, 0 - (COALESCE(g, 0) // etai) AS w
      |       FROM dims LEFT JOIN g1 USING (d) CROSS JOIN n),
      |m2 AS (SELECT fl.doc_id, MAX(fl.y6) AS y6, SUM(w1.w * fl.x) AS m6
      |       FROM fl JOIN w1 USING (d) GROUP BY fl.doc_id),
      |r2 AS (SELECT doc_id, y6,
      |       CAST(round(1000000/(1 + exp(-(m6/1000000.0))), 0) AS BIGINT) AS r6
      |       FROM m2),
      |g2 AS (SELECT fl.d, SUM((r2.r6 - fl.y6) * fl.x) AS g
      |       FROM fl JOIN r2 USING (doc_id) GROUP BY fl.d),
      |w2 AS (SELECT w1.d, w1.w - (COALESCE(g, 0) // etai) AS w
      |       FROM w1 LEFT JOIN g2 USING (d) CROSS JOIN n),
      |m3 AS (SELECT fl.doc_id, MAX(fl.y6) AS y6, SUM(w2.w * fl.x) AS m6
      |       FROM fl JOIN w2 USING (d) GROUP BY fl.doc_id),
      |r3 AS (SELECT doc_id, y6,
      |       CAST(round(1000000/(1 + exp(-(m6/1000000.0))), 0) AS BIGINT) AS r6
      |       FROM m3),
      |g3 AS (SELECT fl.d, SUM((r3.r6 - fl.y6) * fl.x) AS g
      |       FROM fl JOIN r3 USING (doc_id) GROUP BY fl.d),
      |w3 AS (SELECT w2.d, w2.w - (COALESCE(g, 0) // etai) AS w
      |       FROM w2 LEFT JOIN g3 USING (d) CROSS JOIN n),
      |m4 AS (SELECT fl.doc_id, MAX(fl.y6) AS y6, SUM(w3.w * fl.x) AS m6
      |       FROM fl JOIN w3 USING (d) GROUP BY fl.doc_id),
      |r4 AS (SELECT doc_id, y6,
      |       CAST(round(1000000/(1 + exp(-(m6/1000000.0))), 0) AS BIGINT) AS r6
      |       FROM m4),
      |g4 AS (SELECT fl.d, SUM((r4.r6 - fl.y6) * fl.x) AS g
      |       FROM fl JOIN r4 USING (doc_id) GROUP BY fl.d),
      |w4 AS (SELECT w3.d, w3.w - (COALESCE(g, 0) // etai) AS w
      |       FROM w3 LEFT JOIN g4 USING (d) CROSS JOIN n)""".stripMargin

  val classifierTrainSql: String = logRegCtes + """
      |SELECT CAST(1 AS BIGINT) AS step, CAST(d AS BIGINT) AS dim,
      |  CAST(w AS BIGINT) AS weight6 FROM w1
      |UNION ALL SELECT CAST(2 AS BIGINT), CAST(d AS BIGINT),
      |  CAST(w AS BIGINT) FROM w2
      |UNION ALL SELECT CAST(3 AS BIGINT), CAST(d AS BIGINT),
      |  CAST(w AS BIGINT) FROM w3
      |UNION ALL SELECT CAST(4 AS BIGINT), CAST(d AS BIGINT),
      |  CAST(w AS BIGINT) FROM w4""".stripMargin

  /** p89 — evaluation of the p88-trained classifier: score every doc
    * with the final weight vector (prediction = margin > 0), publish
    * the confusion matrix and truncating-division accuracy — the
    * numbers a curation pipeline reports next to its quality filter.
    * The oracle extends the p88 unrolled CTEs with one more margin
    * pass, so training AND scoring replay end to end. */
  def classifierEval(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.evalHashedLogReg(Tables.documents(spark, dir))

  val classifierEvalSql: String = logRegCtes + """,
      |m5 AS (SELECT fl.doc_id, MAX(fl.y6) AS y6, SUM(w4.w * fl.x) AS m6
      |       FROM fl JOIN w4 USING (d) GROUP BY fl.doc_id),
      |c AS (SELECT
      |  SUM(CASE WHEN m6 > 0 AND y6 = 1000000 THEN 1 ELSE 0 END) AS tp,
      |  SUM(CASE WHEN m6 > 0 AND y6 = 0 THEN 1 ELSE 0 END) AS fp,
      |  SUM(CASE WHEN m6 <= 0 AND y6 = 0 THEN 1 ELSE 0 END) AS tn,
      |  SUM(CASE WHEN m6 <= 0 AND y6 = 1000000 THEN 1 ELSE 0 END) AS fn
      |  FROM m5)
      |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
      |  CAST((tp + tn) * 1000000 //
      |    (SELECT COUNT(*) FROM documents) AS BIGINT) AS acc6
      |FROM c""".stripMargin

  /** p98 — operating-point sweep of the p88-trained classifier: the
    * precision/recall curve a pipeline reads to CHOOSE its quality-gate
    * threshold instead of defaulting to margin > 0. Five pinned
    * 1e-6-grid FLOORED logit cutoffs (p ∈ {0.1, 0.3, 0.5, 0.7, 0.9} —
    * flooring keeps "p > t iff m6 > thr6" exact on the grid), exact
    * integer margins scored ONCE, confusion + truncating-division
    * precision/recall/F1 per cutoff. The oracle extends the p88
    * unrolled CTEs with the margin pass and the same 5-way sweep, so
    * training, scoring AND every operating point replay end to end. */
  def classifierThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.evalHashedLogRegThresholds(Tables.documents(spark, dir))

  val classifierThresholdSweepSql: String = logRegCtes + """,
      |m5 AS (SELECT fl.doc_id, MAX(fl.y6) AS y6, SUM(w4.w * fl.x) AS m6
      |       FROM fl JOIN w4 USING (d) GROUP BY fl.doc_id),
      |thr AS (SELECT CAST(t.t AS BIGINT) AS thr6 FROM (VALUES (-2197225),
      |       (-847298), (0), (847297), (2197224)) t(t)),
      |c AS (SELECT thr6,
      |  SUM(CASE WHEN m6 > thr6 AND y6 = 1000000 THEN 1 ELSE 0 END) AS tp,
      |  SUM(CASE WHEN m6 > thr6 AND y6 = 0 THEN 1 ELSE 0 END) AS fp,
      |  SUM(CASE WHEN m6 <= thr6 AND y6 = 0 THEN 1 ELSE 0 END) AS tn,
      |  SUM(CASE WHEN m6 <= thr6 AND y6 = 1000000 THEN 1 ELSE 0 END) AS fn
      |  FROM m5 CROSS JOIN thr GROUP BY thr6),
      |pr AS (SELECT thr6, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
      |  CASE WHEN tp + fp = 0 THEN CAST(-1 AS BIGINT)
      |    ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS prec6,
      |  CASE WHEN tp + fn = 0 THEN CAST(-1 AS BIGINT)
      |    ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT) END AS rec6
      |  FROM c)
      |SELECT thr6, tp, fp, tn, fn, prec6, rec6,
      |  CASE WHEN prec6 < 0 OR rec6 < 0 OR prec6 + rec6 = 0
      |    THEN CAST(-1 AS BIGINT)
      |    ELSE CAST(2 * prec6 * rec6 // (prec6 + rec6) AS BIGINT) END AS f16
      |FROM pr""".stripMargin

  /** p90 — Okapi-BM25 top-5 retrieval against a fixed query set
    * (every 100th doc's first 3 distinct tokens): the lexical-retrieval
    * primitive for decontamination-by-retrieval and eval-leakage
    * audits. Broadcast query set, map-side term gate, query-term-only
    * df, bounded top-k aggregator — see
    * [[graft.ops.TextAnalysis.bm25TopK]]. Oracle replays idf/tf/length
    * normalization with identically-ordered IEEE arithmetic, 6-decimal
    * re-quantization and exact decimal sums, ranking with row_number
    * (score desc, doc_id asc) — the aggregator's tie order. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(Tables.documents(spark, dir))

  /** Shared BM25 oracle with a pluggable candidate filter: df and
    * corpus stats are always GLOBAL; `candidateFilter` restricts which
    * docs compete for the per-query top-5 (empty for p90; the delta
    * predicate for p91, whose incremental path must match the global
    * computation restricted to delta candidates exactly). */
  private def bm25SqlFor(candidateFilter: String): String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl, t.tok AS term
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)),
      |tf AS (
      |  SELECT doc_id, MAX(dl) AS dl, term, COUNT(*) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |q AS (
      |  SELECT DISTINCT doc_id AS query_id, u.tok AS term
      |  FROM documents, unnest(string_split(text, ' ')[1:3]) AS u(tok)
      |  WHERE doc_id % 100 = 0),
      |stats AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS tot
      |  FROM documents),
      |dfq AS (
      |  SELECT term, COUNT(*) AS df
      |  FROM tf JOIN (SELECT DISTINCT term FROM q) qt USING (term)
      |  GROUP BY term),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(round(
      |      round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 6)
      |        * (tf * (1.2 + 1.0)) /
      |        (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n)))), 6)
      |      AS DECIMAL(18,6)) AS s6
      |  FROM q JOIN tf USING (term) JOIN dfq USING (term) CROSS JOIN stats
      |  CANDIDATE_FILTER),
      |agg AS (
      |  SELECT query_id, doc_id, SUM(s6) AS score
      |  FROM sc GROUP BY query_id, doc_id),
      |rk AS (
      |  SELECT query_id, doc_id, score, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM agg)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
      |  CAST(score AS DOUBLE) AS score
      |FROM rk WHERE rank <= 5""".stripMargin
      .replace("\n  CANDIDATE_FILTER", candidateFilter)

  val bm25TopKSql: String = bm25SqlFor("")

  /** p91 — INCREMENTAL BM25 screening against the persisted df index:
    * the corpus (doc_id % 5 != 0) is indexed ONCE — full-vocab
    * (term, df) bucketed on term, with the corpus stats as two sentinel
    * rows of the same batch-0 partition — and the
    * day's delta shard (doc_id % 5 == 0) is scored against the fixed
    * query set at O(|delta|): delta tokenized and aggregated, index
    * touched only through a broadcast query-term gate on its bucketed
    * layout, corpus text never re-read. The sixth persisted-index
    * family (minhash p54, vectors p57, line-df p63/q68, window-df
    * p71/q69, IVF p56, grams p65 — now BM25 stats). Oracle: the p90
    * GLOBAL computation with candidates restricted to the delta — the
    * equivalence the incremental merge (df_corpus + df_delta, stats
    * sums) must hit exactly. */
  def bm25TopKIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p91_bm25df", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 0L))
      TextAnalysis.buildBm25DfIndex(docs.filter(col("doc_id") % 5 =!= 0),
        idxTbl)
    TextAnalysis.bm25TopKIncremental(spark,
      docs.filter(col("doc_id") % 5 === 0),
      TextAnalysis.bm25QuerySet(docs), idxTbl)
  }

  val bm25TopKIncrSql: String = bm25SqlFor("\n  WHERE tf.doc_id % 5 = 0")

  /** p121 — RETRACTION for the bm25-df family via the negated-df
    * device, promoted from its StreamedIndexSpec certification to the
    * driver's hash gate (VERDICT r17 item 4), on the one bm25-df
    * layout: the corpus (term, df) rows and the sentinel (N, total-dl)
    * stats row land as one appended partial, POISON twins of every
    * delta doc (doc_id + 10M, text verbatim) land as a second batch —
    * inflating every query-term df AND the corpus stats every score
    * depends on — and a retraction batch
    * (TextAnalysis.retractBm25DfPartial) cancels both exactly. The
    * probe shares p91's oracle; a leaked poison df shifts idf, a
    * leaked stats row shifts the length normalization, either moves
    * scores and re-ranks, so the hash is a per-(query, rank) leak
    * detector. */
  def bm25TopKRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p121_bm25df", dir)
    // completion MARKER: a crash between the poison append and the
    // retraction must rebuild, never probe a poisoned index
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p121_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      TextAnalysis.appendBm25DfPartial(spark, corpus, idxTbl, 0L)
      TextAnalysis.appendBm25DfPartial(spark, poison, idxTbl, 1L)
      TextAnalysis.retractBm25DfPartial(spark, poison, idxTbl, 2L)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    TextAnalysis.bm25TopKIncremental(spark, delta,
      TextAnalysis.bm25QuerySet(docs), idxTbl)
  }

  /** p92 — cross-modal HYBRID retrieval: RRF fusion of the p90 lexical
    * (BM25) and p10 vector (brute cosine) top-10 lists over the shared
    * query set — the standard RAG stack; see
    * [[graft.ops.Similarity.hybridRrfTopK]]. Oracle replays BOTH
    * retrieval geometries (BM25 over the embedding-covered doc domain,
    * cosine over the embeddings) plus the 1/(60+rank) decimal fusion,
    * so the fused RESULT rows are hash-checked end to end. */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame =
    Similarity.hybridRrfTopK(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  val hybridRetrievalSql: String =
    """WITH cd AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  JOIN (SELECT DISTINCT vec_id FROM embeddings) v ON v.vec_id = d.doc_id),
      |toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl, t.tok AS term
      |  FROM cd, unnest(string_split(text, ' ')) AS t(tok)),
      |tf AS (
      |  SELECT doc_id, MAX(dl) AS dl, term, COUNT(*) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |q AS (
      |  SELECT DISTINCT doc_id AS query_id, u.tok AS term
      |  FROM cd, unnest(string_split(text, ' ')[1:3]) AS u(tok)
      |  WHERE doc_id % 100 = 0),
      |stats AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS tot
      |  FROM cd),
      |dfq AS (
      |  SELECT term, COUNT(*) AS df
      |  FROM tf JOIN (SELECT DISTINCT term FROM q) qt USING (term)
      |  GROUP BY term),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(round(
      |      round(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 6)
      |        * (tf * (1.2 + 1.0)) /
      |        (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n)))), 6)
      |      AS DECIMAL(18,6)) AS s6
      |  FROM q JOIN tf USING (term) JOIN dfq USING (term) CROSS JOIN stats),
      |agg AS (
      |  SELECT query_id, doc_id, SUM(s6) AS score
      |  FROM sc GROUP BY query_id, doc_id),
      |lexr AS (
      |  SELECT query_id AS q_id, doc_id AS c_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM agg),
      |vq AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      |  WHERE vec_id % 100 = 0),
      |vp AS (
      |  SELECT q_id, e.vec_id AS c_id,
      |    round(
      |      list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
      |                for i in range(1, 65)]) /
      |      (sqrt(list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)
      |                      for i in range(1, 65)])) *
      |       sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
      |                      for i in range(1, 65)]))), 6) AS cos_sim
      |  FROM embeddings e, vq WHERE e.vec_id <> q_id),
      |vr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
      |        ORDER BY cos_sim DESC, c_id) AS rank FROM vp),
      |u AS (
      |  SELECT q_id, c_id,
      |    CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(18,9)) AS contrib
      |  FROM lexr WHERE rank <= 10
      |  UNION ALL
      |  SELECT q_id, c_id,
      |    CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(18,9)) AS contrib
      |  FROM vr WHERE rank <= 10),
      |f AS (SELECT q_id, c_id, CAST(SUM(contrib) AS DOUBLE) AS rrf_score,
      |    COUNT(*) AS n_lists
      |  FROM u GROUP BY q_id, c_id),
      |fr AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY rrf_score DESC, c_id) AS rn FROM f)
      |SELECT q_id, c_id, rrf_score, n_lists FROM fr WHERE rn <= 10""".stripMargin

  val docChunkingSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents)
      |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
      |  array_to_string(toks[(k*48+1):(k*48+64)], ' ') AS chunk_text,
      |  CAST(least(64, n - k*48) AS BIGINT) AS n_chunk_tokens
      |FROM t, unnest(range(0, greatest(CAST(ceil((n - 64)/48.0) AS BIGINT), 0) + 1)) AS u(k)""".stripMargin

  /** PII scrub over text augmented IN-QUERY with deterministic synthetic
    * contact strings derived from doc_id (the fixture corpus contains no
    * natural emails/phones, and a scrub that never matches would verify
    * nothing — both engines build the same augmented text from the same
    * input columns, so the redaction itself is what's being checked). */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" Contact user"), col("doc_id").cast("string"),
      lit("@example.com or 555-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
      lit("-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    TextAnalysis.piiScrub(Tables.documents(spark, dir), aug)
  }

  val piiScrubSql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@example.com or 555-' ||
      |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, aug,
      |    regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |      '[EMAIL]', 'g') AS t1
      |  FROM a)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS scrubbed_md5
      |FROM r""".stripMargin

  /** L2-normalize embeddings to unit vectors plus the norm itself. The
    * norm column is referenced twice (output + every lambda element) so
    * Catalyst keeps it a once-per-row projection, not per-element.
    *
    * The catalog row reports scalar fingerprints of the unit vector
    * (its norm, component sum, min, max) instead of the vector itself:
    * the driver's oracle compare sorts rows by every output column and
    * cannot sort array-typed columns. Both engines fold the rounded
    * components left-to-right in double, so the sums are bit-identical. */
  def embNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.vec_norm(col("embedding")).as("nrm"))
      .select(col("vec_id"),
        round(col("nrm"), 6).as("l2_norm"),
        transform(col("embedding"), x =>
          when(col("nrm") === 0.0, 0.0)
            .otherwise(round(x.cast("double") / col("nrm"), 6))).as("u"))
      .select(col("vec_id"), col("l2_norm"),
        round(aggregate(col("u"), lit(0.0), (a, x) => a + x), 6).as("unit_sum"),
        round(array_min(col("u")), 6).as("unit_min"),
        round(array_max(col("u")), 6).as("unit_max"),
        round(sqrt(aggregate(col("u"), lit(0.0), (a, x) => a + x * x)), 6)
          .as("unit_norm"))

  val embNormalizeSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in embedding]))
      |      AS nrm
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, round(nrm, 6) AS l2_norm,
      |    [CASE WHEN nrm = 0.0 THEN 0.0
      |          ELSE round(CAST(x AS DOUBLE)/nrm, 6) END
      |     for x in embedding] AS uv
      |  FROM n)
      |SELECT vec_id, l2_norm,
      |  round(list_sum(uv), 6) AS unit_sum,
      |  round(list_min(uv), 6) AS unit_min,
      |  round(list_max(uv), 6) AS unit_max,
      |  round(sqrt(list_sum([x*x for x in uv])), 6) AS unit_norm
      |FROM u""".stripMargin

  /** Deterministic stratified sample keyed on content: downsample the
    * dominant predicted language to 40%, keep the rest whole. Membership
    * is the md5 bucket — stable across reruns, partitionings, engines. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
        TextAnalysis.languageId(Tables.documents(spark, dir)),
        stratum = col("lang_pred"), key = col("text"),
        pctByStratum = Map("en" -> 40))
      .select(col("doc_id"), col("lang_pred"))

  val stratifiedSampleSql: String =
    """WITH s AS (
      |  SELECT doc_id, text,
      |    len(list_filter(string_split(text,' '),
      |        x -> x IN ('the','a','of','and','to','is'))) AS s_en,
      |    len(list_filter(string_split(text,' '),
      |        x -> x IN ('el','la','de','que','y','en'))) AS s_es,
      |    len(list_filter(string_split(text,' '),
      |        x -> x IN ('der','die','und','das','ist','von'))) AS s_de
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, text,
      |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
      |         WHEN s_es >= s_de AND s_es > 0 THEN 'es'
      |         WHEN s_de > 0 THEN 'de'
      |         ELSE 'und' END AS lang_pred
      |  FROM s)
      |SELECT doc_id, lang_pred FROM l
      |WHERE CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100 <
      |      CASE WHEN lang_pred = 'en' THEN 40 ELSE 100 END""".stripMargin

  def textUnigramLogProb(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(Tables.documents(spark, dir))

  val textUnigramLogProbSql: String =
    """WITH tok AS (
      |  SELECT doc_id, t.term FROM documents,
      |    unnest(string_split(text, ' ')) AS t(term)),
      |c AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
      |p AS (SELECT term, CAST(cnt AS DOUBLE) / total AS p FROM c, tot),
      |s AS (
      |  SELECT doc_id,
      |    SUM(CAST(round(ln(p), 6) AS DECIMAL(18,6))) AS lp,
      |    COUNT(*) AS n
      |  FROM tok JOIN p USING (term) GROUP BY doc_id)
      |SELECT doc_id, round(CAST(lp AS DOUBLE) / n, 6) AS avg_logprob,
      |  CAST(n AS BIGINT) AS n_tokens
      |FROM s""".stripMargin

  def textBigramLogProb(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProb(Tables.documents(spark, dir))

  val textBigramLogProbSql: String =
    """WITH el AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |inst AS (
      |  SELECT doc_id,
      |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
      |  FROM el),
      |bg AS (SELECT gram, COUNT(*) AS c_bg FROM inst GROUP BY gram),
      |ctx AS (SELECT string_split(gram, ' ')[1] AS w1,
      |    CAST(SUM(c_bg) AS BIGINT) AS c_ctx
      |  FROM bg GROUP BY 1),
      |vv AS (SELECT COUNT(DISTINCT t.term) AS v
      |  FROM el, unnest(w) AS t(term)),
      |model AS (
      |  SELECT gram,
      |    round(ln((c_bg + 0.5) / (c_ctx + 0.5 * v)), 6) AS lp
      |  FROM bg JOIN ctx ON string_split(bg.gram, ' ')[1] = ctx.w1
      |  CROSS JOIN vv),
      |s AS (
      |  SELECT doc_id, SUM(CAST(lp AS DECIMAL(18,6))) AS lp_sum,
      |    COUNT(*) AS n
      |  FROM inst JOIN model USING (gram) GROUP BY doc_id)
      |SELECT doc_id, round(CAST(lp_sum AS DOUBLE) / n, 6) AS avg_logprob,
      |  CAST(n AS BIGINT) AS n_bigrams
      |FROM s""".stripMargin

  def textDecontamination(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.decontamination(Tables.documents(spark, dir))

  /** p64 — bloom-gated decontamination: same benchmark split and output
    * as p33, but the corpus grams pass a broadcast Bloom filter map-side
    * and only survivors reach the (shuffled, not broadcast) confirming
    * join — the regime where the eval-suite gram set fits a sketch but
    * not a hash table. Exactness is the contract: it shares p33's oracle
    * verbatim because the confirming join kills every false positive. */
  def textDecontaminationBloom(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.decontaminationBloom(Tables.documents(spark, dir))

  val textDecontaminationSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 10 = 0 AS is_bench,
      |    list_distinct([array_to_string(toks[i:i+7], ' ')
      |      for i in range(1, greatest(len(toks) - 7, 1) + 1)]) AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |bg AS (SELECT DISTINCT u.gram FROM g, unnest(grams) AS u(gram)
      |       WHERE is_bench),
      |tr AS (SELECT doc_id, grams FROM g WHERE NOT is_bench),
      |hit AS (
      |  SELECT doc_id, COUNT(*) AS n_contaminated
      |  FROM tr, unnest(grams) AS u(gram) JOIN bg USING (gram)
      |  GROUP BY doc_id)
      |SELECT tr.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
      |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / len(grams), 6)
      |    AS contamination_ratio
      |FROM tr LEFT JOIN hit ON tr.doc_id = hit.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p27_interval_join" -> (eventsIntervalJoin _),
    "p28_doc_chunking" -> (docChunking _),
    "p29_pii_scrub" -> (piiScrub _),
    "p30_emb_normalize" -> (embNormalize _),
    "p31_stratified_sample" -> (stratifiedSample _),
    "p32_unigram_logprob" -> (textUnigramLogProb _),
    "p33_decontamination" -> (textDecontamination _),
    "p40_bigram_logprob" -> (textBigramLogProb _),
    "p01_dedup_exact" -> (dedupExact _),
    "p02_dedup_minhash_lsh" -> (dedupMinhash _),
    "p03_dedup_simhash" -> (dedupSimhash _),
    "p04_dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "p05_dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "p06_text_token_stats" -> (textTokenStats _),
    "p07_text_quality" -> (textQuality _),
    "p08_text_langid" -> (textLangId _),
    "p09_text_fingerprint" -> (textFingerprint _),
    "p10_ann_cosine_topk" -> (annCosineTopK _),
    "p11_ann_nearest_neighbor" -> (annNearestNeighbor _),
    "p12_ann_lsh_topk" -> (annLshTopK _),
    "p13_emb_cosine_dedup" -> (embCosineDedup _),
    "p14_multimodal_features" -> (multimodalFeatures _),
    "p15_sessionize" -> (eventsSessionize _),
    "p16_ann_ivf_topk" -> (annIvfTopK _),
    "p56_ann_ivf_indexed" -> (annIvfTopKIndexed _),
    "p17_multimodal_transform" -> (multimodalTransform _),
    "p66_audio_features" -> (audioFeatures _),
    "p67_audio_transform" -> (audioTransform _),
    "p68_video_frames" -> (videoFrames _),
    "p73_audio_stereo" -> (audioStereoFeatures _),
    "p75_image_ahash" -> (imageAHash _),
    "p76_image_near_dups" -> (imageNearDups _),
    "p78_audio_fingerprint" -> (audioFingerprint _),
    "p81_image_neardup_groups" -> (imageNearDupGroups _),
    "p82_image_dedup_groups" -> (imageDedupGroups _),
    "p84_audio_dedup_groups" -> (audioDedupGroups _),
    "p79_audio_near_dups" -> (audioNearDups _),
    "p85_video_fingerprint" -> (videoFingerprint _),
    "p88_classifier_train" -> (classifierTrain _),
    "p89_classifier_eval" -> (classifierEval _),
    "p98_classifier_threshold_sweep" -> (classifierThresholdSweep _),
    "p90_bm25_topk" -> (bm25TopK _),
    "p91_bm25_incremental" -> (bm25TopKIncr _),
    "p92_hybrid_retrieval" -> (hybridRetrieval _),
    "p86_video_near_dups" -> (videoNearDups _),
    "p87_video_dedup_groups" -> (videoDedupGroups _),
    "p18_asof_join" -> (eventsAsOfJoin _),
    "p19_dedup_groups" -> (dedupGroups _),
    "p20_text_tfidf" -> (textTfIdf _),
    "p21_train_test_split" -> (trainTestSplit _),
    "p22_quantize_embeddings" -> (quantizeReport _),
    "p52_dedup_incremental" -> (dedupIncremental _),
    "p54_dedup_incremental_indexed" -> (dedupIncrementalIndexed _),
    "p58_dedup_index_append" -> (dedupIndexAppend _),
    "p116_dedup_retraction" -> (dedupRetraction _),
    "p118_line_retraction" -> (lineDedupRetraction _),
    "p121_bm25_retraction" -> (bm25TopKRetraction _),
    "p123_sql_retraction" -> (dedupRetractionSql _),
    "p124_sql_lifecycle" -> (sqlIndexLifecycle _),
    "p126_sql_vector_lifecycle" -> (sqlVectorLifecycle _),
    "p59_dedup_index_compact" -> (dedupIndexCompact _),
    "p60_line_dedup" -> (lineDedup _),
    "p61_quality_classifier" -> (qualityClassifier _),
    "p62_line_dedup_newlines" -> (lineDedupNewlines _),
    "p63_line_dedup_incremental" -> (lineDedupIncremental _),
    "p64_decontamination_bloom" -> (textDecontaminationBloom _),
    "p65_decontamination_incremental" -> (textDecontaminationIncremental _))

  val oracles: Map[String, String] = Map(
    "p27_interval_join" -> eventsIntervalJoinSql,
    "p28_doc_chunking" -> docChunkingSql,
    "p29_pii_scrub" -> piiScrubSql,
    "p30_emb_normalize" -> embNormalizeSql,
    "p31_stratified_sample" -> stratifiedSampleSql,
    "p32_unigram_logprob" -> textUnigramLogProbSql,
    "p33_decontamination" -> textDecontaminationSql,
    "p40_bigram_logprob" -> textBigramLogProbSql,
    "p01_dedup_exact" -> dedupExactSql,
    "p02_dedup_minhash_lsh" -> dedupMinhashSql,
    "p03_dedup_simhash" -> dedupSimhashSql,
    "p04_dedup_simhash_pairs" -> dedupSimhashPairsSql,
    "p05_dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "p06_text_token_stats" -> textTokenStatsSql,
    "p07_text_quality" -> textQualitySql,
    "p08_text_langid" -> textLangIdSql,
    "p09_text_fingerprint" -> textFingerprintSql,
    "p10_ann_cosine_topk" -> annCosineTopKSql,
    "p11_ann_nearest_neighbor" -> annNearestNeighborSql,
    "p14_multimodal_features" -> multimodalFeaturesSql,
    "p15_sessionize" -> eventsSessionizeSql,
    "p17_multimodal_transform" -> multimodalTransformSql,
    "p66_audio_features" -> audioFeaturesSql,
    "p67_audio_transform" -> audioTransformSql,
    "p68_video_frames" -> videoFramesSql,
    "p73_audio_stereo" -> audioStereoFeaturesSql,
    "p75_image_ahash" -> imageAHashSql,
    "p76_image_near_dups" -> imageNearDupsSql,
    "p78_audio_fingerprint" -> audioFingerprintSql,
    "p81_image_neardup_groups" -> imageNearDupGroupsSql,
    "p82_image_dedup_groups" -> imageDedupGroupsSql,
    "p84_audio_dedup_groups" -> audioDedupGroupsSql,
    "p79_audio_near_dups" -> audioNearDupsSql,
    "p85_video_fingerprint" -> videoFingerprintSql,
    "p88_classifier_train" -> classifierTrainSql,
    "p89_classifier_eval" -> classifierEvalSql,
    "p98_classifier_threshold_sweep" -> classifierThresholdSweepSql,
    "p90_bm25_topk" -> bm25TopKSql,
    "p91_bm25_incremental" -> bm25TopKIncrSql,
    "p92_hybrid_retrieval" -> hybridRetrievalSql,
    "p86_video_near_dups" -> videoNearDupsSql,
    "p87_video_dedup_groups" -> videoDedupGroupsSql,
    "p18_asof_join" -> eventsAsOfJoinSql,
    "p20_text_tfidf" -> textTfIdfSql,
    "p21_train_test_split" -> trainTestSplitSql,
    "p22_quantize_embeddings" -> quantizeReportSql,
    "p52_dedup_incremental" -> dedupIncrementalSql,
    "p60_line_dedup" -> lineDedupSql,
    "p61_quality_classifier" -> qualityClassifierSql,
    "p62_line_dedup_newlines" -> lineDedupNewlinesSql,
    "p63_line_dedup_incremental" -> lineDedupIncrementalSql,
    // bit-identical to the exact path by construction (bloom FPs are
    // removed by the confirming join), so the p33 oracle applies as-is
    "p64_decontamination_bloom" -> textDecontaminationSql,
    "p65_decontamination_incremental" -> textDecontaminationIncrementalSql,
    // same split, same semantics: the persisted-index path must equal
    // the exact all-pairs truth exactly like the inline path
    "p54_dedup_incremental_indexed" -> dedupIncrementalSql,
    // appended index must be indistinguishable from a monolithic build
    "p58_dedup_index_append" -> dedupIncrementalSql,
    // … and compaction must not change a single verdict
    "p59_dedup_index_compact" -> dedupIncrementalSql,
    // … and retracting the poison twins must leave the index
    // indistinguishable from the clean corpus build: the p52 truth is
    // the leak detector (any surviving twin posting flips a verdict)
    "p116_dedup_retraction" -> dedupIncrementalSql,
    // appended-then-retracted poison must leave the line-df index
    // indistinguishable from the clean corpus: p63's truth is the leak
    // detector (a surviving poison df flips kept segments to removed)
    "p118_line_retraction" -> lineDedupIncrementalSql,
    // appended-then-retracted poison must leave the bm25 dfs AND the
    // sentinel stats at the clean-corpus values: p91's truth is the
    // leak detector (a leaked df or stats delta re-ranks)
    "p121_bm25_retraction" -> bm25TopKIncrSql,
    // RETRACT + PURGE issued through the SQL surface must leave the
    // index bit-equivalent to a build that never held the poison:
    // p52's truth gates the parser and command dispatch end to end
    "p123_sql_retraction" -> dedupIncrementalSql,
    // CREATE/APPEND/RETRACT/COMPACT(fold)/PROBE issued through the SQL
    // surface must equal the Scala batch build over the clean corpus:
    // p110's truth gates the whole lifecycle grammar (poison dfs folded
    // away physically before the probe)
    "p124_sql_lifecycle" -> graft.queries.EvalQueries.noveltyIncrementalSql,
    // the vector lifecycle (CREATE TABLES/BITS, APPEND, RETRACT, PURGE,
    // PROBE) through SQL must equal the Scala batch build over the
    // clean corpus: p57's truth — any surviving cosine-1.0 twin flips
    // its probe vector's verdict
    "p126_sql_vector_lifecycle" ->
      graft.queries.RecallQueries.embDedupIncrementalSql)
}
