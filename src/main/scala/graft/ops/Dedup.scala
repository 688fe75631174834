package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation, each designed as a
  * shuffle-frugal distributed plan:
  *
  *  - exact: one hash-aggregate on the content key (map-side partial
  *    aggregation collapses duplicates before the shuffle);
  *  - MinHash + LSH: per-doc signatures (narrow), explode to (band, hash)
  *    keys, self-equi-join on the band key — the only shuffle is on band
  *    buckets, never the O(n²) pair space;
  *  - SimHash: 64-bit signature per doc (narrow), candidate pairs via
  *    16-bit chunk pigeonhole (hamming<=3 ⇒ some chunk equal), then exact
  *    hamming verify;
  *  - n-gram Jaccard: exact set similarity used as the verify stage.
  *
  * All hashing is seeded/constant so results are deterministic run-to-run.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct text with the surviving
    * (minimum) doc_id and the duplicate count. Groups on the md5 digest,
    * not the text itself — the shuffle carries 32 bytes per row instead
    * of the whole document. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of `text` — native expression; the
    * transform+slice+concat_ws HOF composition it replaces interprets a
    * lambda per shingle index (see WordShingles). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextFunctions.word_shingles(TextAnalysis.tokens(text), n)

  // MinHash parameters: k = bands * rows hash functions h_i(x) = (a_i*x + b_i) mod P
  // over FULL-FIELD 61-bit base hashes (r22 estimator fix — see
  // MinHashSig's scaladoc: 31-bit bases made the affine family largely
  // order-preserving, so the k permutations elected the same argmin and
  // the agreement estimator deviated by many sigma on real pairs);
  // constants from a fixed seed for determinism.
  private[graft] val MinhashP = (1L << 61) - 1

  /** The k affine coefficients (a_i in [1, P-1], b_i in [0, P-2]) of the
    * MinHash family, drawn from `seed` — the ONE copy shared by
    * [[minhashSignature]] and the SQL `minhash_sig` builder, whose
    * signatures must be bit-equal or a probe through one surface never
    * matches an index built through the other. */
  private[graft] def minhashCoeffs(k: Int, seed: Long = 42L)
      : (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    val a = Array.fill(k)(coeffDraw(rnd.nextLong()) + 1)
    (a, Array.fill(k)(coeffDraw(rnd.nextLong())))
  }

  /** A raw 64-bit draw reduced into [0, P-2]. `floorMod` keeps it in
    * range at `Long.MinValue` (where `math.abs` stays negative) and
    * equals `%` on every other draw, so no seeded coefficient moves. */
  private[graft] def coeffDraw(v: Long): Long =
    Math.floorMod(math.abs(v), MinhashP - 1)

  /** Per-document MinHash signature (array of k minima) over word
    * n-gram shingles — native expression, one tight loop per document
    * (see graft.functions.MinHashSig for why not higher-order functions).
    * Narrow, no shuffle.
    */
  def minhashSignature(text: Column, k: Int = 64, shingleN: Int = 2): Column = {
    val (a, b) = minhashCoeffs(k)
    graft.functions.TextFunctions.minhash_sig(
      TextAnalysis.tokens(text), shingleN, a, b, MinhashP)
  }

  /** LSH candidate pairs: signatures banded (bands x rowsPerBand = k);
    * docs colliding in any band become a candidate pair, then each pair is
    * verified with (a) signature agreement estimate and (b) exact n-gram
    * Jaccard. Returns pairs with estJaccard and exact jaccard columns,
    * filtered to `threshold` on the EXACT value.
    */
  def minhashLsh(docs: DataFrame, bands: Int = 16, rowsPerBand: Int = 4,
                 shingleN: Int = 2, threshold: Double = 0.5): DataFrame = {
    val k = bands * rowsPerBand
    // NOT persisted: three plan branches (banding, left/right verify)
    // derive from this frame, so signatures compute up to 3x — but one
    // signature pass is ~0.25 s per 5k docs, while persist + the eager
    // checkpoint needed to release it without leaking into library
    // callers measured MORE than the recompute. Lazy + stateless wins on
    // both time and resource hygiene here.
    val sig = docs.select(col("doc_id"), col("text"),
      minhashSignature(col("text"), k, shingleN).as("sig"))
    // (doc_id, band_id, band_hash): one murmur hash per signature slice
    val banded = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), j =>
        struct(j.as("band_id"),
          hash(j, slice(col("sig"), j * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))
            .as("band_hash")))).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))
    val l = banded.as("l"); val r = banded.as("r")
    val candidates = l.join(r,
        col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("left_id"), col("r.doc_id").as("right_id"))
      // distinct BEFORE the verify joins: near-dup pairs collide in many
      // bands at once, so the raw stream carries a large duplication
      // factor — deduping first was measured 2x faster than verifying
      // duplicates and deduping at the end
      .distinct()
    // gram arrays are projected UNDER the verify join, i.e. for every
    // document on both branches, not just candidates. Building them above
    // the join (only for surviving pairs) was measured 2.4x SLOWER
    // end-to-end here — the fallback-expression evaluation inside the
    // join's codegen stage costs more than the full-corpus narrow
    // projection, and all-pairs dedup has both branches corpus-sized
    // anyway. The incremental probe tail (incrementalVerdictsFrom) is the
    // opposite case, a delta-sized candidate set against a whole stored
    // index, and shingles the corpus text only for prefilter survivors
    // (measured in incrementalVerdictsAgainstIndex's scaladoc). A
    // doGenCode shingle expression may change the trade-off here.
    val ls = sig.select(col("doc_id").as("left_id"), col("sig").as("lsig"),
      shingles(col("text"), shingleN).as("lgrams"))
    val rs = sig.select(col("doc_id").as("right_id"), col("sig").as("rsig"),
      shingles(col("text"), shingleN).as("rgrams"))
    // verify in two native passes: cheap signature-agreement prefilter
    // (0.1 slack ~ 2.5 sigma of the k=64..128 minhash estimator), then
    // exact set-Jaccard only on survivors
    val pairs = candidates.join(ls, "left_id").join(rs, "right_id")
      .withColumn("est_jaccard",
        graft.functions.TextFunctions.sig_agreement(col("lsig"), col("rsig")))
      .filter(col("est_jaccard") >= threshold - 0.1)
      .withColumn("jaccard",
        graft.functions.TextFunctions.array_jaccard(col("lgrams"), col("rgrams")))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("est_jaccard"), col("jaccard"))
    pairs
  }

  /** Per-doc (doc_id, text, sig) MinHash-signature frame — shared by the
    * inline and persisted-index incremental paths so both carry the
    * IDENTICAL plan shape above their scans. */
  private[graft] def sigFrame(df: DataFrame, k: Int, shingleN: Int): DataFrame =
    df.select(col("doc_id"), col("text"),
      minhashSignature(col("text"), k, shingleN).as("sig"))

  /** Exploded (doc_id, band_id, band_hash) LSH band frame over `sig`. */
  private[graft] def bandFrame(sig: DataFrame, bands: Int,
                               rowsPerBand: Int): DataFrame =
    sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), j =>
        struct(j.as("band_id"),
          hash(j, slice(col("sig"), j * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))
            .as("band_hash")))).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))

  /** Shared verify + argmax tail of the incremental family, in the
    * order that keeps the corpus-side work candidate-sized:
    *
    *  - `candidates` (new_id, corpus_id) arrive partitioned on corpus_id
    *    the way `corpusSigs` (doc_id, sig, text) is (the index caller
    *    repartitions to the sigs table's bucket count), so the `distinct`
    *    rides that one exchange and the join to the corpus rows adds none
    *    on the corpus side;
    *  - the delta's (new_id, dsig, dgrams) join on new_id;
    *  - the signature-agreement prefilter (0.1 slack ~ 2.5 sigma of the
    *    k = 128 estimator), then the corpus text is shingled ONLY for the
    *    surviving pairs and the exact n-gram Jaccard decides;
    *  - round BEFORE the argmax so oracle tie-breaks see the same keys;
    *    ONE struct-max per delta doc (ties to the LOWEST corpus id, no
    *    per-candidate window) into which every delta doc_id is unioned as
    *    a null-match row, so each delta doc gets its verdict without a
    *    join after the aggregate.
    *
    * `doc_id` must be a key of `delta` (true of every caller): a
    * repeated id gets one verdict row, not one per copy. */
  private def incrementalVerdictsFrom(delta: DataFrame, deltaSig: DataFrame,
                                      corpusSigs: DataFrame,
                                      candidates: DataFrame,
                                      shingleN: Int,
                                      threshold: Double): DataFrame = {
    val cs = corpusSigs.select(col("doc_id").as("corpus_id"),
      col("sig").as("csig"), col("text").as("ctext"))
    val ds = deltaSig.select(col("doc_id").as("new_id"), col("sig").as("dsig"),
      shingles(col("text"), shingleN).as("dgrams"))
    val verified = candidates.distinct()
      .join(cs, "corpus_id").join(ds, "new_id")
      .withColumn("est",
        graft.functions.TextFunctions.sig_agreement(col("dsig"), col("csig")))
      .filter(col("est") >= threshold - 0.1)
      .withColumn("jaccard", graft.functions.TextFunctions.array_jaccard(
        col("dgrams"), shingles(col("ctext"), shingleN)))
      .filter(col("jaccard") >= threshold)
      // argmax(jaccard), ties to the LOWEST corpus id: max over
      // (jaccard, -corpus_id)
      .select(col("new_id"), struct(round(col("jaccard"), 6).as("jaccard"),
        (-col("corpus_id")).as("neg_id")).as("m"))
    val unmatched = delta.select(col("doc_id").as("new_id"),
      lit(null).cast(verified.schema("m").dataType).as("m"))
    verified.unionByName(unmatched)
      .groupBy(col("new_id")).agg(max(col("m")).as("m"))
      .select(col("new_id").as("doc_id"), col("m.neg_id").isNotNull.as("is_dup"),
        (-col("m.neg_id")).cast("long").as("dup_of"), col("m.jaccard").as("jaccard"))
  }

  /** INCREMENTAL near-dup detection: every NEW (delta) document gets a
    * verdict against an EXISTING corpus — the daily-ingest shape, where
    * re-running all-pairs dedup over corpus ∪ delta would redo the
    * corpus×corpus work the pipeline already paid for. Bands the two
    * sides separately and joins delta bands against corpus bands only:
    * candidate work is |delta bands| probing the corpus index, never
    * corpus×corpus and never corpus×delta all-pairs. Here the corpus
    * side is derived inline from the corpus frame; the production shape
    * — the corpus signatures persisted ONCE as bucketed tables so every
    * daily delta probes them with no corpus-side shuffle — is
    * [[buildCorpusIndex]] + [[incrementalVerdictsAgainstIndex]], which
    * share this method's plan shape above the scan.
    *
    * Emits ONE row per delta document: is_dup (some corpus doc reaches
    * the exact-Jaccard threshold), dup_of (best match — highest rounded
    * Jaccard, lowest corpus id on ties), jaccard (rounded). Same
    * two-pass verify as [[minhashLsh]]: signature-agreement prefilter,
    * then exact n-gram Jaccard. */
  def incrementalMinhashVerdicts(corpus: DataFrame, delta: DataFrame,
                                 bands: Int = 16, rowsPerBand: Int = 8,
                                 shingleN: Int = 3,
                                 threshold: Double = 0.7): DataFrame = {
    val k = bands * rowsPerBand
    val cSig = sigFrame(corpus, k, shingleN)
    val dSig = sigFrame(delta, k, shingleN)
    val candidates = bandFrame(dSig, bands, rowsPerBand).as("d")
      .join(bandFrame(cSig, bands, rowsPerBand).as("c"),
        col("d.band_id") === col("c.band_id") &&
        col("d.band_hash") === col("c.band_hash"))
      .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .repartition(col("corpus_id"))
    incrementalVerdictsFrom(delta, dSig, cSig, candidates, shingleN, threshold)
  }

  /** Persist the corpus side of incremental dedup as two BUCKETED tables
    * — the build-once half of the daily-ingest contract:
    *
    *  - `bandsTable` (doc_id, band_id, band_hash) bucketed on the FULL
    *    probe key (band_id, band_hash): the LSH band index the delta
    *    probes. Bucketing pre-shuffles it at write time, so the probe
    *    join needs NO corpus-side exchange and only the (small) delta
    *    shuffles, every day, forever. Both keys must be in the layout:
    *    requireAllClusterKeysForCoPartition rejects subset-key bucketing
    *    for co-partitioned joins (see Bucketing.landPartial).
    *  - `sigsTable` (doc_id, text, sig) bucketed on doc_id: the verify
    *    side; candidate hits join it on corpus_id, again exchange-free
    *    on the corpus side. Shingles are rebuilt post-scan rather than
    *    stored (grams are ~3x the text; recompute is a narrow pass).
    *
    * Both land as batch 0 of the streamed layout ([[appendCorpusIndexPartial]]
    * lands every later batch). Corpus×corpus work is paid exactly once,
    * at build time. */
  def buildCorpusIndex(corpus: DataFrame, bandsTable: String,
                       sigsTable: String, bands: Int = 16,
                       rowsPerBand: Int = 8, shingleN: Int = 3,
                       buckets: Int = 8): Unit = {
    val sig = sigFrame(corpus, bands * rowsPerBand, shingleN)
    // SIGN THE CORPUS ONCE (optimization guide §1.2 step 1 — don't
    // recompute what a prior action already produced): the two writes
    // both derive from `sig`, and as two independent actions they used
    // to run the k-minhash pass over the whole corpus TWICE. The
    // signature table is itself the materialization the band projection
    // needs, so land it FIRST and derive the band postings from its
    // STORED batch-0 partition — zero extra signature passes, no
    // block-manager checkpoint to size or release (appendCorpusIndexPartial
    // needs localCheckpoint instead, because its two landings overlap and
    // neither can read the other's rows back). Bands read only
    // (doc_id, sig) — column pruning keeps the stored text out of the
    // second pass.
    val spark = corpus.sparkSession
    graft.io.Bucketing.landBuild(spark, sig, sigsTable, "minhash-sigs",
      Seq("doc_id"), buckets)
    // repartition on the band keys before the write: the stored-sigs
    // scan arrives as `buckets` tasks (vs the raw corpus scan's 1-2 at
    // fixture scale), and a bucketed write emits one file per (task,
    // bucket) — without this the bands table fragmented ~8x and every
    // probe and purge rewrite paid the extra file opens (measured
    // +25% on p54, +60% on the purge-heavy p116/p123). The exchange
    // carries only (doc_id, band_id, band_hash).
    graft.io.Bucketing.landBuild(spark,
      bandFrame(spark.table(sigsTable).filter(col("batch_id") === 0L),
        bands, rowsPerBand)
        .repartition(buckets, col("band_id"), col("band_hash")),
      bandsTable, "minhash-bands", Seq("band_id", "band_hash"), buckets)
  }

  /** The maintenance half of the daily-ingest contract: sign and band
    * one delta (a day's verdicted documents, or one ingest micro-batch)
    * and land its band postings + signature payloads as the `batchId`
    * partitions of the two index tables that [[buildCorpusIndex]]
    * created as batch 0. Only the delta is signed, banded and written —
    * the corpus is never re-signed, re-shuffled or rewritten, so upkeep
    * is O(|delta|) forever. Replay follows the q68 discipline: each
    * attempt dynamic-partition-overwrites exactly its own partition, so
    * foreachBatch's at-least-once window is idempotent where a plain
    * append would double-write. Signatures and bands are per-document
    * independent, so partitioned partials ARE the index (the batch_id
    * column rides along and is dropped by the probe's projections).
    * Parameters MUST match across every batch AND the probe. */
  def appendCorpusIndexPartial(spark: org.apache.spark.sql.SparkSession,
                               batch: DataFrame, bandsTable: String,
                               sigsTable: String, batchId: Long,
                               bands: Int = 16, rowsPerBand: Int = 8,
                               shingleN: Int = 3, buckets: Int = 8): Unit = {
    val sig = sigFrame(batch, bands * rowsPerBand, shingleN)
      // the banding reads sig twice (once per projection tree below);
      // localCheckpoint keeps the per-doc minhash from recomputing
      .localCheckpoint(true)
    // both partials derive from the CHECKPOINTED sig frame (signed
    // once, above) and the two tables share no state, so the landings
    // overlap (guide §2.6, optimization r22) — the q71 device applied
    // to the minhash family's streamed maintenance
    graft.io.Bucketing.concurrently(
      graft.io.Bucketing.landPartial(spark, bandFrame(sig, bands, rowsPerBand),
        bandsTable, "minhash-bands", Seq("band_id", "band_hash"), buckets,
        batchId),
      graft.io.Bucketing.landPartial(spark, sig, sigsTable, "minhash-sigs",
        Seq("doc_id"), buckets, batchId))
  }

  /** The probe half of the daily-ingest contract: identical semantics to
    * [[incrementalMinhashVerdicts]] (same banding, verify, tie-breaks —
    * `bands`/`rowsPerBand`/`shingleN` MUST match the index build), but
    * the corpus side reads the persisted [[buildCorpusIndex]] tables, so
    * the plan shuffles ONLY the delta: both corpus scans arrive
    * pre-partitioned on their join keys (asserted exchange-free in
    * ExplainSpec). This is the operator a 100 TB corpus runs every day —
    * the index amortizes the corpus-side signature computation AND its
    * shuffle across every future delta.
    *
    * The final adaptive plan (pinned in ExplainSpec): the delta's bands
    * join the gated bucketed bands scan; the candidates repartition once
    * on corpus_id to the sigs table's bucket count, so the `distinct`
    * rides that exchange and the gated sigs scan joins them with none
    * (when the candidates turn out small, AQE broadcasts them into that
    * join instead); the corpus text is shingled only for pairs that pass
    * the signature prefilter; the delta's doc ids enter the argmax as
    * null-match rows, so no join follows it. The earlier form shingled
    * every scanned sigs row twice (a projection and an inferred
    * not-null filter), shuffled the candidates twice and left-joined the
    * delta ids after the argmax: 10 query stages, now 7. Measured on
    * the index_lifecycle benchmark (1,600-doc streamed index, 200-doc
    * deltas, 4-vCPU local[4]): a traced PROBE statement runs 8 Spark
    * jobs instead of 15 and shuffles 9 KB instead of 106 KB; the PROBE
    * median fell from 1.62 s to 1.20 s (10 alternating pairs, all won).
    *
    * `tombstonesTable`: when a [[graft.io.Tombstones.retract]]
    * retraction is pending (landed but not yet purged), pass its
    * tombstone table and the retired documents stop matching as
    * near-dup sources — the gate is a broadcast anti-join on the index
    * scans, map-side, no added exchange. After
    * [[graft.io.Tombstones.purge]] the option is a no-op (the table is
    * gone). */
  def incrementalVerdictsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                      delta: DataFrame, bandsTable: String,
                                      sigsTable: String, bands: Int = 16,
                                      rowsPerBand: Int = 8, shingleN: Int = 3,
                                      threshold: Double = 0.7,
                                      tombstonesTable: Option[String] = None): DataFrame = {
    val bandsC = graft.io.Bucketing.openIndex(spark, bandsTable, "minhash-bands")
    val sigsC = graft.io.Bucketing.openIndex(spark, sigsTable, "minhash-sigs")
    val dSig = sigFrame(delta, bands * rowsPerBand, shingleN)
    val candidates = bandFrame(dSig, bands, rowsPerBand).as("d")
      .join(graft.io.Tombstones.filterRetracted(spark, bandsC, "doc_id",
          tombstonesTable, "minhash-tombs").as("c"),
        col("d.band_id") === col("c.band_id") &&
        col("d.band_hash") === col("c.band_hash"))
      .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      // co-partitioned with the bucketed sigs scan: its side of the
      // verify join stays exchange-free
      .repartition(graft.io.Bucketing.bucketCount(sigsC), col("corpus_id"))
    incrementalVerdictsFrom(delta, dSig, graft.io.Tombstones.filterRetracted(
        spark, sigsC, "doc_id", tombstonesTable, "minhash-tombs"),
      candidates, shingleN, threshold)
  }

  /** 64-bit SimHash over word unigrams: per-bit vote of token hashes.
    * Token hashes are computed once per document, then folded 64 times —
    * all narrow per-row work.
    */
  def simhash(text: Column): Column =
    graft.functions.TextFunctions.simhash64(TextAnalysis.tokens(text))

  /** 60-bit md5-hashed SimHash — identical vote machinery, but every
    * intermediate replays as plain SQL (see functions.SimHashMd5), which
    * is what gives the simhash catalog entries full hash oracles. The
    * xxhash64 form stays the library default: md5 per token is ~5x
    * slower, and 100 TB corpora care. */
  def simhashMd5(text: Column): Column =
    graft.functions.TextFunctions.simhash_md5(TextAnalysis.tokens(text))

  /** Per-document SimHash signatures plus the four chunk columns used for
    * hamming-candidate banding (16-bit chunks of the 64-bit default hash;
    * 15-bit chunks of the 60-bit `replayable` md5 variant). */
  def simhashSignatures(docs: DataFrame, replayable: Boolean = false): DataFrame = {
    val (sig, chunkBits) =
      if (replayable) (simhashMd5(col("text")), 15)
      else (simhash(col("text")), 16)
    val mask = (1L << chunkBits) - 1
    docs.select(col("doc_id"), sig.as("simhash"))
      .withColumn("chunks", transform(sequence(lit(0), lit(3)), j =>
        call_function("shiftright", col("simhash"), j * chunkBits)
          .bitwiseAND(lit(mask))))
  }

  /** Near-dup pairs with hamming distance <= maxHamming (pigeonhole over
    * 4 chunks guarantees recall for maxHamming <= 3). Signatures are
    * NOT cached: the one derived branch recomputes a ~0.1 s narrow pass,
    * cheaper than a persist the caller would have to release (same
    * measurement as minhashLsh). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   replayable: Boolean = false): DataFrame = {
    val sigs = simhashSignatures(docs, replayable)
    val banded = sigs.select(col("doc_id"), col("simhash"),
        posexplode(col("chunks")).as(Seq("chunk_id", "chunk_val")))
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r,
        col("l.chunk_id") === col("r.chunk_id") &&
        col("l.chunk_val") === col("r.chunk_val") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("left_id"), col("r.doc_id").as("right_id"),
        col("l.simhash").as("lsim"), col("r.simhash").as("rsim"))
      .distinct()
      .withColumn("hamming", bit_count(col("lsim").bitwiseXOR(col("rsim"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("left_id"), col("right_id"), col("hamming"))
  }

  /** Transitive dedup groups: connected components over a near-dup pair
    * list via iterative min-label propagation. A pair list alone
    * under-deduplicates — if A~B and B~C but A!~C, pairwise keep-first
    * retains both A and C; components collapse the whole cluster to one
    * keeper. Label propagation is the scalable formulation (alternating
    * join + min-aggregate, lineage cut per iteration); iterations are
    * bounded by the component diameter, which for dedup clusters is tiny.
    *
    * @param pairs (left_id, right_id) near-dup edges
    * @param docs one row per doc_id (defines the node set)
    * @return (doc_id, group_id, is_keeper) — group_id = min id reachable
    */
  /** Hybrid strategy: near-dup edge sets are tiny relative to the corpus
    * (they ARE the duplicates), so below `maxDriverEdges` the components
    * are solved with driver-side union-find and broadcast back — one
    * collect of the edge list, no iteration jobs. Above the threshold the
    * distributed label-propagation loop takes over.
    */
  def dedupGroups(docs: DataFrame, pairs: DataFrame, maxIter: Int = 10,
                  maxDriverEdges: Long = 1L << 20): DataFrame = {
    val edgeRows = pairs.select(col("left_id"), col("right_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val result =
      if (edgeRows.count() <= maxDriverEdges) dedupGroupsDriver(docs, edgeRows)
      else dedupGroupsDistributed(docs, edgeRows, maxIter)
    edgeRows.unpersist()
    result
  }

  private def dedupGroupsDriver(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    pairs.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id root
    }
    val labels = parent.keys.map(k => (k, find(k))).toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    val labelDf = labels.toDF("doc_id", "group_id")
    docs.select(col("doc_id"))
      .join(broadcast(labelDf), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .withColumn("is_keeper", col("doc_id") === col("group_id"))
  }

  private def dedupGroupsDistributed(docs: DataFrame, pairs: DataFrame,
                                     maxIter: Int): DataFrame = {
    val edges = pairs.select(col("left_id").as("a"), col("right_id").as("b"))
      .unionByName(pairs.select(col("right_id").as("a"), col("left_id").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // iterate ONLY over the edge-induced subgraph: isolated docs (the
    // overwhelming majority in a deduplicated corpus) keep their own
    // label by construction and join back at the end
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .withColumn("group_id", col("doc_id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    try {
      while (!converged && iter < maxIter) {
      // each node adopts min(own label, neighbors' labels)
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "b"), Seq("b"))
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("group_id")).as("nmin"))
      val propagated = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("nmin"), col("group_id"))).as("group_id"))
      // pointer jumping: remap each label through the label of its label,
      // so convergence is O(log diameter), not O(diameter) — maxIter=10
      // then covers components of diameter ~2^10, far beyond any real
      // dedup cluster
      val asMapping = propagated
        .select(col("doc_id").as("m_id"), col("group_id").as("m_group"))
      val next = propagated
        .join(asMapping, propagated("group_id") === asMapping("m_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("m_group"), col("group_id"))).as("group_id"))
        .localCheckpoint() // cut lineage: iteration depth must not stack plans
      val changed = next.join(labels.withColumnRenamed("group_id", "old"), Seq("doc_id"))
        .filter(col("group_id") =!= col("old")).limit(1).count()
      converged = changed == 0
      labels = next
      iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"dedupGroups: label propagation did not converge in $maxIter iterations " +
            "(component diameter > 2^maxIter?) — result would under-deduplicate")
    } finally edges.unpersist() // incl. the non-convergence throw path
    docs.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .withColumn("is_keeper", col("doc_id") === col("group_id"))
  }

  /** Prefix-blocked exact near-dup pairs: a cheap equality blocking key
    * (the first `blockLen` characters) groups candidate documents, then
    * exact char n-gram Jaccard verifies only within blocks. Classic
    * blocking dedup: the only shuffle is on the 40-byte key, pair work is
    * quadratic in BLOCK size (tiny), never corpus size. Complements
    * MinHash-LSH: blocking catches shared-prefix near-dups with exact
    * scores and zero probabilistic machinery, and is fully replayable in
    * plain SQL (the oracle for the connected-components operator rides on
    * this edge set). */
  def blockedNgramJaccardPairs(docs: DataFrame, blockLen: Int = 40, n: Int = 3,
                               threshold: Double = 0.7): DataFrame = {
    val keyed = docs.select(substring(col("text"), 1, blockLen).as("blk"),
      col("doc_id"), col("text"))
    val l = keyed.select(col("blk"), col("doc_id").as("left_id"), col("text").as("lt"))
    val r = keyed.select(col("blk"), col("doc_id").as("right_id"), col("text").as("rt"))
    l.join(r, Seq("blk")).filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        graft.functions.TextFunctions.array_jaccard(
          graft.functions.TextFunctions.char_ngrams(col("lt"), n),
          graft.functions.TextFunctions.char_ngrams(col("rt"), n)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Representative selection per dedup group: keep the HIGHEST-QUALITY
    * member, not the lowest id — the policy a real curation pipeline
    * wants (among near-duplicates, retain the cleanest copy). `groups`
    * is [[dedupGroups]] output (doc_id, group_id, ...), `scores` carries
    * (doc_id, quality_score); ties break on the higher doc_id via the
    * struct max. One shuffled row per document with map-side partial
    * max — no window over members, so a pathological million-member
    * group costs one aggregate cell, not a million-row sort. */
  def groupRepresentatives(groups: DataFrame, scores: DataFrame): DataFrame =
    groups.join(scores, Seq("doc_id"))
      .groupBy(col("group_id"))
      .agg(max(struct(col("quality_score"), col("doc_id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("group_id"), col("m.doc_id").as("rep_id"),
        round(col("m.quality_score"), 6).as("rep_score"), col("n_members"))

  /** EXACT substring-overlap pairs: documents sharing at least one
    * identical `k`-character window, with the count of distinct shared
    * windows — the exact-substring-duplication signal (training-data
    * memorization risk comes from verbatim repeats that token-level
    * Jaccard can dilute away). Every stride-1 window of every document
    * is fingerprinted (md5 — engine-replayable), fingerprints are
    * bucket-joined, and pairs aggregate the shared-window count.
    *
    * Scale: fingerprinting is one narrow O(total chars) pass; the join
    * key is a 64-bit hash (a join accelerator only — it never reaches
    * the output, so the oracle joins on the window strings themselves);
    * and `maxDocFreq` drops windows that appear in more documents than
    * that BEFORE the pair join — the boilerplate guard (a shared header
    * in a million docs would otherwise contribute C(1M, 2) pairs; with
    * the cap, bucket pair work is bounded by C(maxDocFreq, 2) per
    * window). The doc-frequency cap is a count window OVER the hash
    * partitioning, not a groupBy + join-back: the gram frame shuffles
    * ONCE on h, and the pair self-join reuses that same exchange
    * (measured 4x cheaper than the aggregate+join form, which computed
    * and shuffled the gram frame three times). Documents shorter than k
    * contribute their whole text as the single window (CharNgrams
    * clipping), so short exact dups are still caught. */
  def substringOverlapPairs(docs: DataFrame, k: Int = 30,
                            maxDocFreq: Int = 50,
                            skewSafe: Boolean = false): DataFrame = {
    // distinct windows per doc (CharNgrams dedups), hashed: one
    // (doc, window-hash) row per distinct window
    val grams = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.char_ngrams(col("text"), k))
          .as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    // grams is distinct per (doc_id, h), so the partition count IS the
    // doc freq. Two df devices — see [[substringRemove]] for the regime
    // boundary: the window form reuses one exchange (4x cheaper at
    // uniform df); the skew-safe form partial-aggregates a hot
    // boilerplate hash map-side and applies the maxDocFreq cap BEFORE
    // any per-occurrence rows concentrate in one task, so a super-hot
    // window is killed by the cap without ever being materialized hot.
    val kept =
      if (!skewSafe) {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
        grams.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") >= 2 && col("df") <= maxDocFreq)
          .select(col("h"), col("doc_id"))
      } else {
        val dfs = grams.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= maxDocFreq)
        grams.join(isolateForSkewSplit(dfs), Seq("h"))
          .select(col("h"), col("doc_id"))
      }
    val l = kept.select(col("h"), col("doc_id").as("left_id"))
    val r = kept.select(col("h"), col("doc_id").as("right_id"))
    l.join(r, Seq("h")).filter(col("left_id") < col("right_id"))
      // one row per (pair, h) since windows are distinct per doc
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** Exact duplicated-passage REMOVAL — the rewrite step of
    * exact-substring dedup (the "dedup makes LMs better" recipe:
    * find verbatim k-token spans that occur more than once in the
    * corpus, keep the FIRST occurrence, cut every other one out of its
    * document). [[substringOverlapPairs]] only *measures* overlap; this
    * operator rewrites the text.
    *
    * Semantics (all exactly replayable): tokens are the space-split
    * words; every stride-1 window of `k` tokens is an occurrence
    * (doc_id, pos); a window STRING with ≥2 occurrences globally is
    * duplicated; its canonical occurrence is the global minimum
    * (doc_id, pos); every token covered by any NON-canonical duplicated
    * occurrence is removed; the cleaned text is the surviving tokens
    * rejoined. Docs shorter than k tokens have no windows and pass
    * through untouched.
    *
    * Scale shape: the occurrence frame shuffles ONCE on the 64-bit
    * window hash — (doc_id, pos, h) rows, never window text — and both
    * the doc-frequency count and the keep-first argmin ride that same
    * exchange as window functions (the p51 single-exchange device).
    * Removal starts aggregate per doc (bounded by windows/doc), and the
    * rewrite is one narrow higher-order-function pass — no UDF, no
    * per-token join. The hash is a shuffle accelerator only: the oracle
    * replays on window STRINGS, so a hash match also certifies no
    * collision artifact reached the output. */
  /** Space-split token arrays — the passage-removal working frame. */
  private def passageTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))

  /** One (doc_id, pos, h) row per stride-1 k-token window occurrence;
    * h is the 64-bit hash of the window string (shuffle key — window
    * text never leaves the stage). */
  private def windowOccurrences(toks: DataFrame, k: Int): DataFrame =
    toks
      .select(col("doc_id"), posexplode(
        when(size(col("w")) >= k, expr(
          s"transform(sequence(0, size(w) - $k), i -> array_join(slice(w, i + 1, $k), ' '))"))
          .otherwise(expr("array()").cast("array<string>"))))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("h"))

  /** Cut every token covered by a removal start and rejoin — one narrow
    * higher-order-function pass, no UDF. `removals` is
    * (doc_id, starts: array<int>). */
  private def applyPassageRemovals(toks: DataFrame, removals: DataFrame,
                                   k: Int): DataFrame =
    toks.join(removals, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), expr("array()").cast("array<int>")))
      .withColumn("kept", expr(
        s"filter(transform(w, (t, j) -> struct(t AS t, j AS j)), " +
          s"s -> NOT exists(starts, st -> st <= s.j AND s.j < st + $k))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(expr("transform(kept, s -> s.t)"), " ").as("cleaned_text"))

  /** Flag every non-canonical duplicated occurrence with its window's
    * doc frequency and global argmin — the df device both removal
    * operators share, in two forms:
    *
    *  - **window form** (`skewSafe = false`, default): `count`/`min`
    *    ride `Window.partitionBy(h)` on the occurrence frame's one
    *    exchange — measured 4x cheaper than aggregate+join-back at
    *    uniform dfs because the gram frame is computed and shuffled
    *    once. Its 100 TB regime boundary: a window function cannot
    *    partial-aggregate, so ALL occurrences of one hot hash land in
    *    ONE task's sort buffer, and AQE's skew handling does not split
    *    window partitions. Safe while the hottest window's occurrence
    *    count fits a task comfortably — ≈ 10^7 rows (low hundreds of
    *    MB) as the rule of thumb.
    *  - **aggregate form** (`skewSafe = true`): df and argmin via
    *    `groupBy(h)` — partial aggregation collapses a hot key to one
    *    row PER MAP PARTITION before the shuffle, so the aggregate
    *    never concentrates — then one join back to the occurrence
    *    frame. The join also hashes on `h`, but a join task streams
    *    its probe rows against a one-row build side (no sort buffer)
    *    and, unlike a window partition, a skewed join partition IS
    *    split by AQE (`spark.sql.adaptive.skewJoin`) — made real by
    *    [[isolateForSkewSplit]], which keeps the build side a bare
    *    shuffle stage the rule can pattern-match (AqeSpec pins the
    *    `skew=true` split under a planted hot key). Costs extra
    *    shuffles of the (df>=2-filtered, per-h) aggregate frame.
    *
    * Use skewSafe on boilerplate-heavy crawls — one k-token license
    * header or nav bar in half the docs is exactly a hot hash. The two
    * forms are semantically identical (DedupSpec pins them equal under
    * a planted heavy hitter occupying half the corpus). */
  private def flagOccurrences(occ: DataFrame, skewSafe: Boolean): DataFrame =
    if (!skewSafe) {
      val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      occ.withColumn("df", count(lit(1)).over(byHash))
        .withColumn("first",
          min(struct(col("doc_id"), col("pos"))).over(byHash))
    } else {
      val agg = occ.groupBy("h").agg(count(lit(1)).as("df"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
        .filter(col("df") >= 2)
      // inner join ≡ the df >= 2 filter: single-occurrence windows
      // (the vast majority) never rejoin, shrinking the probe output
      occ.join(isolateForSkewSplit(agg), Seq("h"))
    }

  /** Present a join's build side as a BARE ensure-requirements shuffle
    * so AQE's skew split can actually fire on the probe side:
    * `OptimizeSkewedJoin` pattern-matches only SMJ/SHJ whose children
    * are (Sort over) a bare ENSURE_REQUIREMENTS shuffle stage — when
    * the build side's FINAL aggregate rides the join's own exchange
    * (the default fused plan), the pattern never matches and a hot
    * probe partition stays un-split (verified against the rule's
    * bytecode and pinned in AqeSpec). The round-robin repartition
    * breaks the fusion: EnsureRequirements then inserts a fresh hash
    * exchange on the join key above it, which IS the bare stage the
    * rule needs. Costs one extra exchange of the (small, per-key
    * deduplicated) build frame — the documented skew-safe trade. */
  private def isolateForSkewSplit(build: DataFrame): DataFrame =
    build.repartition(build.sparkSession.sessionState.conf.numShufflePartitions)

  def substringRemove(docs: DataFrame, k: Int = 8,
                      skewSafe: Boolean = false): DataFrame = {
    val toks = passageTokens(docs)
    val removals = flagOccurrences(windowOccurrences(toks, k), skewSafe)
      .filter(col("df") >= 2 && !(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    applyPassageRemovals(toks, removals, k)
  }

  /** Persist the corpus side of incremental passage removal: per-window
    * occurrence counts bucketed on the window hash — the passage-dedup
    * analogue of TextAnalysis.buildLineDfIndex. Stored rows are
    * (h, df_corpus) only: 8-byte hashes and counts, never window text,
    * so at 100 TB the index is a tiny fraction of the corpus and the
    * probe join runs exchange-free on the corpus side. */
  def buildWindowDfIndex(docs: DataFrame, table: String, k: Int = 8,
                         buckets: Int = 8): Unit =
    graft.io.Bucketing.landBuild(docs.sparkSession, windowDf(docs, k, 1L),
      table, "window-df", Seq("h"), buckets)

  /** (h, df_corpus): `docs`' window occurrence counts times `sign` — the
    * one aggregate the build, the append and the retraction share. */
  private def windowDf(docs: DataFrame, k: Int, sign: Long): DataFrame =
    windowOccurrences(passageTokens(docs), k)
      .groupBy("h").agg((count(lit(1)) * sign).as("df_corpus"))

  /** Streaming/micro-batch maintenance of the [[buildWindowDfIndex]]
    * table — the window-df twin of TextAnalysis.appendLineDfPartial,
    * with the same contracts: one batch's partial window counts land as
    * the `batch_id=<id>` PARTITION of a partitioned+bucketed table
    * (bucketed on `h` within each partition, so probe joins/folds stay
    * exchange-free on the corpus side whatever the batch count);
    * batches carry disjoint doc sets, so partials SUM to the global
    * count; replay is IDEMPOTENT — each (re)attempt dynamic-partition-
    * overwrites exactly its own batch's partition, healing a torn
    * commit instead of trusting an existence check; and maintenance
    * cost tracks the batch, never the corpus. */
  def appendWindowDfPartial(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, table: String, batchId: Long,
                            k: Int = 8, buckets: Int = 8): Boolean =
    graft.io.Bucketing.landPartial(spark, windowDf(batch, k, 1L), table,
      "window-df", Seq("h"), buckets, batchId)

  /** RETRACTION partial for the window-df family — p113's negated-df
    * device applied to passage removal: land the REMOVED docs' window
    * counts NEGATED as their own batch_id partition, after which the
    * folded index equals a from-scratch rebuild WITHOUT those docs at
    * O(|removed|) cost, and replay is idempotent (dynamic-partition
    * overwrite, like every append). Caller contract as in
    * [[retractShingleDfPartial]]: retract only previously-appended
    * docs, exactly once — the probe fails loudly on a negative folded
    * count, and treats a zero fold (every occurrence retracted) as
    * ABSENT, since for this family row-presence means "window exists
    * in the corpus". */
  def retractWindowDfPartial(spark: org.apache.spark.sql.SparkSession,
                             removed: DataFrame, table: String, batchId: Long,
                             k: Int = 8): Boolean =
    graft.io.Bucketing.retractPartial(spark, windowDf(removed, k, -1L), table,
      "window-df", batchId)

  /** Incremental passage removal — the daily-ingest shape of
    * [[substringRemove]]: the already-ingested corpus's window counts
    * live in a PERSISTED bucketed index, and only the delta is
    * rewritten. Ingest-order priority (the incremental semantic): a
    * delta occurrence is cut when its window exists ANYWHERE in the
    * corpus (the corpus copy was kept when IT was ingested), or when an
    * earlier delta occurrence holds the same window (keep-first within
    * the batch).
    *
    * Scale shape: the index arrives bucketed on `h` and is never
    * re-partitioned; the delta occurrence frame is the ONLY side that
    * shuffles, and the within-delta keep-first window function reuses
    * the join's hash partitioning — one delta-side exchange total,
    * probe cost tracks |delta| (the p54/p63 contract; asserted in
    * ExplainSpec). */
  def substringRemoveIncremental(spark: org.apache.spark.sql.SparkSession,
                                 delta: DataFrame, indexTable: String,
                                 k: Int = 8,
                                 skewSafe: Boolean = false): DataFrame = {
    // family stamp first: the line-df index shares this exact column
    // layout (md5 digests vs xxhash64 window hashes), so the column
    // guard below cannot catch the most plausible wrong table
    val idxRaw = graft.io.Bucketing.openIndex(spark, indexTable, "window-df")
    // loud layout guard (the lineDedupIncremental device): a wrong
    // table silently joined here would "dedup" the delta against
    // garbage counts — the worst failure mode for a destructive rewrite
    require(Set("h", "df_corpus").subsetOf(idxRaw.columns.toSet),
      s"$indexTable is not a window-df index: expected columns " +
        s"(h, df_corpus, batch_id) from buildWindowDfIndex/" +
        s"appendWindowDfPartial, got " +
        idxRaw.columns.mkString("(", ", ", ")"))
    // the per-batch partials fold back to global counts first — a
    // groupBy on the bucket key, so the fold (like the join) has no
    // corpus-side exchange. Retraction-aware: a zero fold (every
    // occurrence retracted) means the window is NOT in the corpus — for
    // this family row-PRESENCE is the predicate, so folded zeros must
    // become absent, and a negative fold (double retraction /
    // never-appended doc) fails loudly instead of silently un-removing
    // passages
    val idx = idxRaw.groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
      .filter(when(col("df_corpus") < 0,
          raise_error(concat(lit(s"$indexTable carries a negative folded "),
            lit("window count — double retraction or retraction of a "),
            lit("never-appended doc"))))
        .otherwise(col("df_corpus")) > 0)
    val toks = passageTokens(delta)
    val occ = windowOccurrences(toks, k)
    // within-delta keep-first: window form rides the probe join's
    // exchange; skew-safe form (a hot window in the DELTA — e.g. one
    // boilerplate span across a whole day's crawl) partial-aggregates
    // the argmin and joins back, same trade as [[substringRemove]]
    val withFirst =
      if (!skewSafe) {
        val byHash =
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
        occ.withColumn("first",
          min(struct(col("doc_id"), col("pos"))).over(byHash))
      } else {
        occ.join(isolateForSkewSplit(occ.groupBy("h")
          .agg(min(struct(col("doc_id"), col("pos"))).as("first"))), Seq("h"))
      }
    val removals = withFirst
      .join(idx.select(col("h"), col("df_corpus")), Seq("h"), "left")
      .filter(col("df_corpus").isNotNull ||
        !(col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    applyPassageRemovals(toks, removals, k)
  }

  /** Exact n-gram Jaccard for consecutive doc-id pairs — the verify
    * primitive exposed as its own oracle-checkable operator (character
    * n-grams here; word shingles feed the MinHash path). */
  def ngramJaccardConsecutive(docs: DataFrame, n: Int = 3): DataFrame = {
    // join raw text, build gram arrays AFTER the join: the shuffle then
    // carries the ~300-byte text instead of a ~10x larger string array
    // (grams are recomputed once per side per pair — a native per-row
    // loop, far cheaper than shuffling its output)
    val l = docs.select(col("doc_id").as("left_id"), col("text").as("lt"))
    val r = docs.select(col("doc_id").as("right_id"), col("text").as("rt"))
    l.join(r, col("right_id") === col("left_id") + 1)
      .select(col("left_id"), col("right_id"),
        graft.functions.TextFunctions.array_jaccard(
          graft.functions.TextFunctions.char_ngrams(col("lt"), n),
          graft.functions.TextFunctions.char_ngrams(col("rt"), n))
          .as("jaccard"))
  }

  // ---------------------------------------------------------------------
  // Shingle-df index family: per-doc distinct word-n-shingle document
  // frequencies as a persisted, stream-maintainable artifact. Serves the
  // p109 novelty audit incrementally (p110/q79): dfs over doc-disjoint
  // slices ADD, so index + delta contribution equals the global count.
  // ---------------------------------------------------------------------

  /** One (doc, shingle-md5) row per DISTINCT shingle of each doc — the
    * shared front of the whole family (32-byte hashes travel, never the
    * gram text). */
  private def shingleGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"), n)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))

  /** The shared novelty fold: per-doc shingle totals, corpus-unique
    * count, 1e-6 truncating novelty, and the half-unique gate — ONE
    * implementation so the batch (p109) and index-probed (p110/q79)
    * paths cannot drift. Input: (doc_id, df) one row per distinct
    * (doc, shingle) with that shingle's GLOBAL doc frequency. */
  private def noveltyFold(gramsWithDf: DataFrame): DataFrame =
    gramsWithDf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("n_unique * 1000000 div n_shingles").as("novelty6"))
      .withColumn("is_novel", col("novelty6") >= 500000)

  /** Batch novelty audit (p109): fraction of each doc's distinct
    * word-n-shingles that appear in no other document. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = shingleGrams(docs, n)
    val df = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    noveltyFold(grams.join(df, Seq("h")))
  }

  /** Batch build: (h, df_corpus) bucketed on h, landed as batch 0 —
    * same layout and kind discipline as the line-df index (one exchange
    * at build, probes fold on the bucketed key with no index-side
    * exchange). */
  def buildShingleDfIndex(corpus: DataFrame, table: String, n: Int = 3,
                          buckets: Int = 8): Unit =
    graft.io.Bucketing.landBuild(corpus.sparkSession, shingleDf(corpus, n, 1L),
      table, "shingle-df", Seq("h"), buckets)

  /** (h, df_corpus): `docs`' shingle document frequencies times `sign` —
    * the one aggregate the build, the append and the retraction share. */
  private def shingleDf(docs: DataFrame, n: Int, sign: Long): DataFrame =
    shingleGrams(docs, n).groupBy(col("h"))
      .agg((count(lit(1)) * sign).as("df_corpus"))

  /** STREAMED maintenance: one micro-batch's (h, df_corpus) partial
    * lands as its own batch_id partition bucketed on h. The fold is
    * EXACT (dfs of doc-disjoint batches add), so a probe against the
    * folded index is bit-identical to one against the batch build —
    * the q68–q79 maintained-artifact discipline. Partial size is
    * batch-shingle-vocabulary-bounded. */
  def appendShingleDfPartial(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, table: String, batchId: Long,
                             n: Int = 3, buckets: Int = 8): Boolean =
    graft.io.Bucketing.landPartial(spark, shingleDf(batch, n, 1L), table,
      "shingle-df", Seq("h"), buckets, batchId)

  /** RETRACTION partial: land the REMOVED docs' shingle dfs NEGATED as
    * their own batch_id partition — the right-to-be-forgotten path for
    * a maintained index. The fold is plain addition, so after the
    * retraction lands the folded index equals a from-scratch rebuild
    * WITHOUT those docs: deletions ripple through the derived artifact
    * with no corpus re-scan, at the same O(|removed|) economics as an
    * append, and replaying a torn retraction batch is idempotent
    * (dynamic-partition overwrite, like every append).
    *
    * Caller contract: retract only documents whose contributions were
    * previously appended, exactly once — a double retraction (or a
    * never-appended doc) drives a folded df negative, which the probe
    * ([[noveltyIncremental]]) detects and fails loudly rather than
    * silently inflating novelty. */
  def retractShingleDfPartial(spark: org.apache.spark.sql.SparkSession,
                              removed: DataFrame, table: String, batchId: Long,
                              n: Int = 3): Boolean =
    graft.io.Bucketing.retractPartial(spark, shingleDf(removed, n, -1L), table,
      "shingle-df", batchId)

  /** Incremental novelty audit: per-DELTA-doc novelty with shingle dfs
    * merged from the persisted corpus index plus the delta's own
    * contribution — bit-identical to the full-corpus p109 computation
    * restricted to delta docs (corpus and delta are doc-disjoint, so
    * dfs sum). Probe cost O(|delta|): the delta shingles once, its df
    * aggregate left-joins the index on the bucketed key (no index-side
    * exchange), and the per-doc fold is bounded — corpus text is never
    * re-read.
    *
    * The delta df uses the AGGREGATE + join-back form (two delta-side
    * exchanges on h), not the exchange-reusing count window the p71
    * probe picked: a boilerplate shingle shared by half the delta would
    * concentrate a window partition in one task, while the aggregate
    * partial-combines it map-side — the p83 skew argument, applied
    * up front because novelty's whole PURPOSE is corpora with heavy
    * cross-document repetition. The extra exchange is delta-sized. */
  def noveltyIncremental(spark: org.apache.spark.sql.SparkSession,
                         delta: DataFrame, table: String,
                         n: Int = 3): DataFrame = {
    val idxRaw = graft.io.Bucketing.openIndex(spark, table, "shingle-df")
    require(Set("h", "df_corpus").subsetOf(idxRaw.columns.toSet),
      s"$table is not a shingle-df index: expected columns (h, df_corpus" +
        s", batch_id) from buildShingleDfIndex/appendShingleDfPartial, " +
        s"got " + idxRaw.columns.mkString("(", ", ", ")"))
    val idx = idxRaw.groupBy(col("h"))
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val grams = shingleGrams(delta, n)
    val deltaDf = grams.groupBy(col("h")).agg(count(lit(1)).as("df_delta"))
    // a retraction-capable fold can go negative on a broken history
    // (double retraction / never-appended doc); fail loudly on any
    // PROBED hash rather than silently inflating novelty — the check is
    // one codegen'd branch on the delta-sized joined rows, inlined into
    // the df expression so column pruning cannot drop it
    val idxDf = when(coalesce(col("df_corpus"), lit(0L)) < 0,
        raise_error(concat(lit(s"$table carries a negative folded df — "),
          lit("double retraction or retraction of a never-appended doc"))))
      .otherwise(coalesce(col("df_corpus"), lit(0L)))
    val totalDf = deltaDf.join(idx, Seq("h"), "left")
      .select(col("h"), (col("df_delta") + idxDf).as("df"))
    noveltyFold(grams.join(totalDf, Seq("h")))
  }
}
