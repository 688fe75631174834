package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data curation:
  * token statistics, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting. All are pure codegen'd column expressions
  * (functions._ and higher-order functions, no UDFs), so they run inside
  * whole-stage codegen and scale embarrassingly parallel — per-document
  * work, no shuffle at all.
  *
  * Column-name conventions match the DuckDB oracles in PipelineQueries;
  * computed integer lengths are cast to LONG because DuckDB's length/len
  * return BIGINT and hash parity compares schemas.
  */
object TextAnalysis {

  /** Whitespace tokens (single-space split — documents are single-spaced;
    * both engines keep empty fields so semantics stay aligned). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token-window document chunking with overlap — the standard LLM
    * training-data preprocessing step. Chunk k covers tokens
    * [k*stride, k*stride + chunkTokens) with stride = chunkTokens -
    * overlapTokens; the final chunks may be shorter. Pure per-row column
    * work (sequence + slice + explode): narrow, no shuffle, and exactly
    * replayable in SQL. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
                     overlapTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0, "chunk size must be positive")
    require(overlapTokens >= 0, "negative overlap would silently skip tokens")
    require(overlapTokens < chunkTokens, "overlap must be below chunk size")
    val stride = chunkTokens - overlapTokens
    val toks = tokens(col("text"))
    val n = size(toks)
    // last chunk index: 0 when the doc fits one chunk, else just enough
    // strides to reach the end — a naive ceil(n/stride) count emits a
    // final chunk fully contained in the previous one whenever the tail
    // is shorter than the overlap (pure duplicate training data)
    val lastIdx = greatest(lit(0L),
      ceil((n - lit(chunkTokens)).cast("double") / stride)).cast("int")
    docs.select(col("doc_id"),
        explode(transform(
          sequence(lit(0), lastIdx),
          k => struct(
            k.cast("long").as("chunk_id"),
            concat_ws(" ", slice(toks, k * stride + 1, lit(chunkTokens))).as("chunk_text"),
            least(lit(chunkTokens), n - k * stride).cast("long").as("n_chunk_tokens"))))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"),
        col("c.n_chunk_tokens"))
  }

  /** Line-level corpus deduplication — the C4/RefinedWeb curation step
    * that REWRITES documents by deleting every text line whose exact
    * content repeats across the corpus (boilerplate, navigation chrome,
    * licence blurbs), as opposed to p51 which only *measures* overlap.
    * The fixture corpus has no newlines, so the default line analogue is
    * fixed non-overlapping `segTokens`-word segments; `byLines = true`
    * selects the production segmenter — `split(text, '\n')` (Spark's
    * two-arg split keeps trailing empty strings, limit = -1, matching
    * DuckDB's string_split) — and nothing else changes: same digest
    * shuffle, same df gate, same in-order reassembly, newline-joined.
    * The p62 catalog row drives this mode over text assembled in-query
    * with real newlines (shared header/footer lines + a unique line).
    *
    * Shape: segment (narrow) → doc-frequency aggregate keyed on the md5
    * of the segment (the 100 TB shuffle moves 32-byte digests + doc ids,
    * never segment text; distinct-per-doc first so partial aggregation
    * stays exact) → hash-join back on the same key (partitioning reused,
    * segment text rides the segment side only) → regroup by doc_id to
    * reassemble surviving segments in order. Docs whose every segment was
    * boilerplate survive as empty strings — silently dropping rows is a
    * separate policy decision (see Selection), not this operator's.
    *
    * Reassembly invariant: segments are space-joined chunks of the
    * space-split tokens, so a document with nothing removed round-trips
    * to its exact original text. */
  def lineDedup(docs: DataFrame, segTokens: Int = 12,
                maxDocFreq: Int = 1, byLines: Boolean = false): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq < 1 would delete every segment")
    val segs = segmented(docs, segTokens, byLines)
    // distinct (h, doc_id) BEFORE counting: a segment repeated inside one
    // document is not corpus boilerplate, and distinct-then-count keeps
    // the aggregate partial-aggregation-safe (no countDistinct rewrite)
    val docFreq = segs.select("h", "doc_id").distinct()
      .groupBy("h").count().withColumnRenamed("count", "df")
    val kept = segs.join(docFreq, "h").filter(col("df") <= maxDocFreq)
    reassemble(docs, kept, segTokens, byLines)
  }

  /** Shared segmenter of the line-dedup family: one row per (doc,
    * segment) with the md5 digest downstream shuffles key on.
    * Everything after this is mode-blind — the digest shuffle never
    * sees which segmenter ran. */
  private def segCols(segTokens: Int, byLines: Boolean): (Column, Column) =
    if (byLines) {
      val lines = split(col("text"), "\n")
      (size(lines), lines)
    } else {
      val toks = tokens(col("text"))
      val n = ceil(size(toks).cast("double") / segTokens).cast("int")
      (n, transform(sequence(lit(0), n - 1),
        k => concat_ws(" ", slice(toks, k * segTokens + 1, lit(segTokens)))))
    }

  private def segmented(docs: DataFrame, segTokens: Int,
                        byLines: Boolean): DataFrame = {
    require(segTokens > 0, "segment size must be positive")
    val (nSeg, segList) = segCols(segTokens, byLines)
    docs.select(
        col("doc_id"), nSeg.cast("long").as("n_segments"),
        posexplode(segList))
      .toDF("doc_id", "n_segments", "seg_idx", "seg")
      .withColumn("h", md5(col("seg")))
  }

  /** Shared reassembly tail: regroup surviving segments per doc in
    * seg_idx order and re-join with the mode's separator; docs whose
    * every segment was boilerplate survive as empty strings. The
    * n_segments side is a NARROW projection of the original docs (no
    * explode, no shuffle) — only the kept side aggregates. */
  private def reassemble(docs: DataFrame, kept: DataFrame, segTokens: Int,
                         byLines: Boolean): DataFrame = {
    val joiner = if (byLines) "\n" else " "
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg")), joiner).as("kept_text"),
        count(lit(1)).as("n_kept"))
    val (nSeg, _) = segCols(segTokens, byLines)
    docs.select(col("doc_id"), nSeg.cast("long").as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_text"), lit("")).as("text_clean"),
        col("n_segments"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Persist the corpus side of incremental line dedup: the per-segment
    * document-frequency table, bucketed on the segment digest. This is
    * the index a daily-ingest pipeline maintains once for the existing
    * corpus so each new delta is gated WITHOUT re-counting history —
    * the line-dedup analogue of Dedup.buildCorpusIndex. Stored rows are
    * (h, df_corpus) only: 32-byte digests and counts, never segment
    * text, so at 100 TB the index is a tiny fraction of the corpus and
    * the probe join below runs exchange-free on the corpus side (bucket
    * layout on h). Lands as batch 0 of the [[appendLineDfPartial]]
    * layout. */
  def buildLineDfIndex(corpus: DataFrame, table: String,
                       segTokens: Int = 12, byLines: Boolean = false,
                       buckets: Int = 8): Unit =
    graft.io.Bucketing.landBuild(corpus.sparkSession,
      lineDf(corpus, segTokens, byLines, 1L), table, "line-df", Seq("h"),
      buckets)

  /** (h, df_corpus): `docs`' per-segment document frequencies times
    * `sign` — the one aggregate the build, the append and the retraction
    * share. */
  private def lineDf(docs: DataFrame, segTokens: Int, byLines: Boolean,
                     sign: Long): DataFrame =
    segmented(docs, segTokens, byLines)
      .select("h", "doc_id").distinct()
      .groupBy("h").agg((count(lit(1)) * sign).as("df_corpus"))

  /** Streaming/micro-batch maintenance of the [[buildLineDfIndex]]
    * table: land ONE batch's partial document frequencies as the
    * `batch_id=<id>` PARTITION of a partitioned+bucketed table
    * (directory per batch, bucketed on `h` within it — the bucketed
    * scan folds bucket i across partitions, so probe joins/folds on `h`
    * stay exchange-free whatever the batch count). Batches must carry
    * disjoint doc sets (each doc ingested once — the landing contract),
    * so partial counts SUM to the global df and maintenance is
    * commutative and associative over batches: any split, any order,
    * same index content.
    *
    * Replay (the `foreachBatch` at-least-once window) is IDEMPOTENT,
    * not presence-gated: each (re)attempt dynamic-partition-overwrites
    * exactly its own batch's partition. A committed batch is rewritten
    * with identical content; a TORN batch — a crash DURING the previous
    * attempt's job commit, which renames task files one by one and so
    * CAN persist a partial partition — is healed by the overwrite
    * instead of being trusted by an existence check. No per-batch scan
    * of the ever-growing index, no replay window: maintenance cost
    * tracks the batch, never the corpus. Proven under an injected
    * mid-batch kill in RecoverySpec and a simulated torn commit in
    * TextAnalysisSpec. */
  def appendLineDfPartial(spark: org.apache.spark.sql.SparkSession,
                          batch: DataFrame, table: String, batchId: Long,
                          segTokens: Int = 12, byLines: Boolean = false,
                          buckets: Int = 8): Boolean =
    graft.io.Bucketing.landPartial(spark,
      lineDf(batch, segTokens, byLines, 1L), table, "line-df", Seq("h"),
      buckets, batchId)

  /** RETRACTION partial for the line-df family — the negated-df device
    * (see Dedup.retractShingleDfPartial): land the REMOVED docs'
    * per-segment dfs NEGATED as their own batch_id partition; the
    * additive fold then equals a rebuild WITHOUT those docs at
    * O(|removed|), replay idempotent. A zero fold contributes nothing
    * to the df gate (identical to an absent segment); a negative fold
    * fails the probe loudly. */
  def retractLineDfPartial(spark: org.apache.spark.sql.SparkSession,
                           removed: DataFrame, table: String, batchId: Long,
                           segTokens: Int = 12,
                           byLines: Boolean = false): Boolean =
    graft.io.Bucketing.retractPartial(spark,
      lineDf(removed, segTokens, byLines, -1L), table, "line-df", batchId)

  /** Incremental line dedup: rewrite ONLY the freshly-ingested delta
    * docs, gating each segment on its total document frequency = count
    * among delta docs + the persisted corpus df from
    * [[buildLineDfIndex]]. Equals full-corpus [[lineDedup]] restricted
    * to the delta rows (the equivalence TextAnalysisSpec pins and the
    * p63 oracle replays), but the work is delta-sized: corpus history
    * is never re-segmented, and the index side of the probe join is
    * pre-bucketed on h so only delta digests shuffle.
    *
    * The index's per-batch partials (the [[buildLineDfIndex]] batch 0
    * and every [[appendLineDfPartial]] batch) are folded back to global
    * dfs first — a groupBy on the bucket key, so the fold (like the
    * join) runs with no corpus-side exchange. */
  def lineDedupIncremental(spark: org.apache.spark.sql.SparkSession,
                           delta: DataFrame, indexTable: String,
                           segTokens: Int = 12, maxDocFreq: Int = 1,
                           byLines: Boolean = false): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq < 1 would delete every segment")
    // family stamp first: the window-df index shares this exact column
    // layout, so the column guard below cannot catch it
    val idxRaw = graft.io.Bucketing.openIndex(spark, indexTable, "line-df")
    val segs = segmented(delta, segTokens, byLines)
    val deltaDf = segs.select("h", "doc_id").distinct()
      .groupBy("h").count().withColumnRenamed("count", "df_delta")
    // loud layout guard: accept exactly the shape this module writes —
    // a wrong table silently joined here would "dedup" against garbage
    // dfs, the worst possible failure mode for a curation gate
    require(Set("h", "df_corpus").subsetOf(idxRaw.columns.toSet),
      s"$indexTable is not a line-df index: expected columns (h, df_corpus" +
        s", batch_id) from buildLineDfIndex/appendLineDfPartial, got " +
        idxRaw.columns.mkString("(", ", ", ")"))
    val idx = idxRaw.groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    // retraction-aware fold: a probed segment whose folded corpus df
    // went negative (double retraction / never-appended doc) fails
    // loudly instead of silently passing the keep gate; the guard is
    // inlined into the df expression so column pruning cannot drop it
    // (the noveltyIncremental device). A zero fold needs no special
    // case — it gates exactly like an absent segment.
    val idxDf = when(coalesce(col("df_corpus"), lit(0L)) < 0,
        raise_error(concat(lit(s"$indexTable carries a negative folded df — "),
          lit("double retraction or retraction of a never-appended doc"))))
      .otherwise(coalesce(col("df_corpus"), lit(0L)))
    val totalDf = deltaDf.join(idx, Seq("h"), "left")
      .select(col("h"), (col("df_delta") + idxDf).as("df"))
    val kept = segs.join(totalDf, "h").filter(col("df") <= maxDocFreq)
    reassemble(delta, kept, segTokens, byLines)
  }

  /** The first 16 bits of the md5 of `t`, mod `m` (m ≤ 65536). */
  private def md5Bucket(t: Column, m: Int): Column =
    conv(substring(md5(t), 1, 4), 16, 10).cast("int") % m

  /** Hashed-feature linear quality classifier — the fastText-shaped
    * scorer the CCNet/LLaMA curation pipelines gate on: each token is
    * feature-hashed into a fixed bucket space and the document score is
    * the sum of the bucket weights. Map-only: score 100 TB with ZERO
    * shuffles — tokenize, hash, look up, fold, all inside one narrow
    * projection (higher-order functions, no explode, no join).
    *
    * The weight table here is a deterministic function of the bucket id
    * (second md5) standing in for trained model weights — the plumbing
    * (hash → lookup → linear fold → threshold gate) is the production
    * shape; swapping in real weights means broadcasting a weight map
    * into the same fold. Scores are exact integer sums (weights in
    * [-(weightMod-1)/2, (weightMod-1)/2]), so the result is
    * bit-replayable with no float-summation-order caveats. */
  def hashedLinearQuality(docs: DataFrame, buckets: Int = 4096,
                          weightMod: Int = 1001): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      "bucket space must fit the 16-bit md5 prefix")
    require(weightMod > 1 && weightMod % 2 == 1,
      "odd weightMod keeps the weight range symmetric around zero")
    val toks = tokens(col("text"))
    def weight(w: Column): Column =
      md5Bucket(md5Bucket(w, buckets).cast("string"), weightMod) - (weightMod - 1) / 2
    docs.select(col("doc_id"),
        aggregate(transform(toks, w => weight(w).cast("long")),
          lit(0L), (acc, x) => acc + x).as("score_raw"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("keep", col("score_raw") > 0)
  }

  /** Sparse hashed features, one narrow projection → (doc_id, y6, f:
    * array<struct<d, x>>): each occupied dim's token count capped at
    * `capCount` (run lengths of the sorted bucket array: state bounded by
    * tokens, not `dims`), plus the bias dim `dims` = `biasX`, scaled so
    * the intercept learns as fast as the counts. Null text: null label,
    * bias only. */
  private[graft] def logRegFeatures(docs: DataFrame, dims: Int, capCount: Int,
                                    labelMinTokens: Int, biasX: Int): DataFrame = {
    val toks = tokens(col("text"))
    val y6 = (size(toks) > labelMinTokens).cast("long").*(lit(1000000L))
    val (b, ends) = (col("b"), col("ends"))
    val runs = transform(ends, (e, j) => struct(b.getItem(e).as("d"),
      least((e - when(j === 0, -1).otherwise(ends.getItem(j - 1))).cast("long"),
        lit(capCount.toLong)).as("x")))
    val bias = struct(lit(dims).as("d"), lit(biasX.toLong).as("x"))
    docs
      .select(col("doc_id"), y6.as("y6"), array_sort(transform(
        coalesce(toks, array().cast("array<string>")), t => md5Bucket(t, dims))).as("b"))
      .select(col("doc_id"), col("y6"), b, filter(transform(b, (_, i) => i),
        i => i === size(b) - 1 || b.getItem(i) =!= b.getItem(i + 1)).as("ends"))
      .select(col("doc_id"), col("y6"), concat(runs, array(bias)).as("f"))
  }

  /** Exact integer margin: the weights, one array literal, folded over
    * `f` — a narrow projection, no weight table, no join. */
  private def logRegMargin(w: Array[Long]): Column =
    aggregate(col("f"), lit(0L), (acc, e) =>
      acc + element_at(lit(w), e.getField("d") + 1) * e.getField("x"))

  /** A step's rows: err = sigmoid on the 1e-6 grid − y6 (null for a null label), and `f`. */
  private[graft] def logRegStep(feat: DataFrame, w: Array[Long]): DataFrame =
    feat.select(
      (round(lit(1000000.0) /
        (lit(1.0) + exp(-(logRegMargin(w).cast("double") / lit(1000000.0)))))
        .cast("long") - col("y6")).as("err"),
      col("f"))

  /** One pass, one job, no shuffle → (rows, gradient): partitions fold
    * err · x densely and the driver sums them. Overflow fails loudly and
    * null errors are skipped, as in ANSI `sum`. */
  private def logRegGradient(feat: DataFrame, w: Array[Long]): (Long, Array[Long]) = {
    val width = w.length
    val parts = logRegStep(feat, w).queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L
      val g = new Array[Long](width)
      for (r <- rows) {
        n += 1
        if (!r.isNullAt(0)) {
          val f = r.getArray(1)
          for (i <- 0 until f.numElements()) {
            val e = f.getStruct(i, 2)
            val d = e.getInt(0)
            g(d) = Math.addExact(g(d), Math.multiplyExact(r.getLong(0), e.getLong(1)))
          }
        }
      }
      Iterator.single((n, g))
    }.collect()
    (parts.map(_._1).sum, Array.tabulate(width)(d =>
      parts.foldLeft(0L)((acc, p) => Math.addExact(acc, p._2(d)))))
  }

  /** Featurize once (persisted; the first pass fills the cache and
    * counts the N docs), run the K steps, and hand (features, N, weights
    * AFTER each step) to `use`. Updates divide by etaInvFactor·N. */
  private def logRegTrained[T](docs: DataFrame, dims: Int, steps: Int, capCount: Int,
                               labelMinTokens: Int, etaInvFactor: Int, biasX: Int)(
                               use: (DataFrame, Long, Seq[Array[Long]]) => T): T = {
    require(dims > 0 && dims <= 65536, "dim space must fit the 16-bit md5 prefix")
    require(steps >= 1 && steps <= 8, "unrolled-oracle training is short")
    val feat = logRegFeatures(docs, dims, capCount, labelMinTokens, biasX).persist()
    try {
      val snaps = (1 to steps).scanLeft((0L, Array.fill(dims + 1)(0L))) {
        case ((_, w), _) =>
          val (n, grad) = logRegGradient(feat, w)
          (n, Array.tabulate(w.length)(d => w(d) - grad(d) / (etaInvFactor * n)))
      }.tail
      use(feat, snaps.last._1, snaps.map(_._2))
    } finally feat.unpersist()
  }

  /** (thr6, tp, fp, tn, fn) per cutoff, prediction = m6 > thr6; a
    * null-label doc counts in none of the four cells. */
  private def logRegConfusion(feat: DataFrame, w: Array[Long],
                              thresholds6: Seq[Long]): DataFrame = {
    val pos = col("m6") > col("thr6")
    val truth = col("y6") === 1000000L
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    feat.select(col("y6"), logRegMargin(w).as("m6"))
      .crossJoin(broadcast(feat.sparkSession.createDataFrame(thresholds6.map(Tuple1(_)))
        .toDF("thr6")))
      .groupBy(col("thr6"))
      .agg(cnt(pos && truth).as("tp"), cnt(pos && !truth).as("fp"),
        cnt(!pos && !truth).as("tn"), cnt(!pos && truth).as("fn"))
  }

  /** Distributed full-batch logistic-regression TRAINING over hashed
    * token-count features — the training half of the [[hashedLinearQuality]]
    * story (p61 APPLIES a weight table; this row LEARNS one). The shape is
    * the classic parameter-server-free fleet pattern a quality-classifier
    * pipeline ships: per step, one narrow pass scores every doc and
    * folds the (D+1)-dimensional gradient (D hashed dims + intercept)
    * per partition; the driver sums the partials into the weight vector
    * (D+1 longs — the k-means p41/p42 collect discipline). Cost per step
    * is one job: no join, no shuffle.
    *
    * Exact fixed-point replay discipline: weights are 1e-6-scaled
    * LONGS, features integer counts, margins exact integer sums; the
    * only float op per step is the sigmoid, re-quantized to the 1e-6 grid
    * with HALF_UP rounding (positive domain — Spark and DuckDB agree), so
    * the whole K-step trajectory is bit-replayable by the SQL oracle. The
    * weight update divides by (etaInvFactor·N) TRUNCATING — Scala `/` on
    * Long and DuckDB `//` both truncate toward zero.
    *
    * Precondition: `doc_id` is a key of `docs` (each row is one example).
    *
    * Label: y = 1 iff the doc has more than `labelMinTokens` whitespace
    * tokens — the fixture median, so classes are balanced and the
    * learned boundary is genuinely non-trivial: at the defaults the
    * fixture loss falls monotonically (sf0.01: 0.626 → 0.567 → 0.526 →
    * 0.476) and the final classifier lands at ~89% train accuracy with
    * a MIXED confusion matrix (p89), not a majority-class collapse.
    * Output: one row per (step, dim) with the post-step weight — the
    * full trajectory, so the oracle certifies every intermediate state,
    * not just the final vector. Dim `dims` is the intercept. */
  def trainHashedLogReg(docs: DataFrame, dims: Int = 8, steps: Int = 4,
                        capCount: Int = 1000, labelMinTokens: Int = 55,
                        etaInvFactor: Int = 128, biasX: Int = 25): DataFrame =
    logRegTrained(docs, dims, steps, capCount, labelMinTokens, etaInvFactor, biasX) {
      (_, _, snaps) =>
        docs.sparkSession.createDataFrame(for {
          (w, i) <- snaps.zipWithIndex
          d <- 0 to dims // dim `dims` is the intercept
        } yield (i + 1L, d.toLong, w(d))).toDF("step", "dim", "weight6")
    }

  /** Evaluation of the TRAINED classifier on the training corpus —
    * the confusion matrix a pipeline publishes next to its filter:
    * train the [[trainHashedLogReg]] weights, score every doc with the
    * final vector (prediction = margin > 0, the thr6 = 0 row of
    * [[evalHashedLogRegThresholds]]), and aggregate exact integer
    * counts. `acc6` is (tp+tn)·1e6 div n — truncating integer division,
    * engine-exact. One output row. Same `doc_id` precondition as
    * [[trainHashedLogReg]]. */
  def evalHashedLogReg(docs: DataFrame, dims: Int = 8, steps: Int = 4,
                       capCount: Int = 1000, labelMinTokens: Int = 55,
                       etaInvFactor: Int = 128, biasX: Int = 25): DataFrame =
    logRegTrained(docs, dims, steps, capCount, labelMinTokens, etaInvFactor, biasX) {
      (feat, n, snaps) =>
        logRegConfusion(feat, snaps.last, Seq(0L))
          .selectExpr("tp", "fp", "tn", "fn",
            // integral DIV (truncating) — Column./ would promote to double
            s"CAST(((tp + tn) * 1000000L) DIV ${n}L AS BIGINT) AS acc6")
    }

  /** Operating-point sweep of the TRAINED classifier — the curve a
    * curation pipeline reads to CHOOSE its quality-gate threshold
    * (recall-leaning for bulk pretraining data, precision-leaning for
    * a high-quality subset), rather than defaulting to margin > 0.
    * Each probability cutoff is an integer margin cutoff, p > t ⟺
    * m6 > floor(logit(t)·1e6), so the thresholds are PINNED integer
    * literals (default: logit of 0.1/0.3/0.5/0.7/0.9; flooring, not
    * nearest-rounding, keeps the equivalence exact for a margin landing
    * ON the pinned value) and no float compare happens anywhere. Derived
    * metrics use truncating 1e-6 integer division (`DIV` / DuckDB `//`,
    * nonnegative operands), with -1 as the undefined sentinel. Cutoffs
    * broadcast into one bounded aggregate, never multiplying corpus
    * scans. Same `doc_id` precondition as [[trainHashedLogReg]]. */
  def evalHashedLogRegThresholds(docs: DataFrame,
                                 thresholds6: Seq[Long] =
                                   Seq(-2197225L, -847298L, 0L, 847297L,
                                     2197224L),
                                 dims: Int = 8, steps: Int = 4,
                                 capCount: Int = 1000,
                                 labelMinTokens: Int = 55,
                                 etaInvFactor: Int = 128,
                                 biasX: Int = 25): DataFrame =
    logRegTrained(docs, dims, steps, capCount, labelMinTokens, etaInvFactor, biasX) {
      (feat, _, snaps) =>
        logRegConfusion(feat, snaps.last, thresholds6)
          .selectExpr("thr6", "tp", "fp", "tn", "fn",
            "CASE WHEN tp + fp = 0 THEN -1L ELSE tp * 1000000L DIV (tp + fp) END AS prec6",
            "CASE WHEN tp + fn = 0 THEN -1L ELSE tp * 1000000L DIV (tp + fn) END AS rec6")
          .selectExpr("thr6", "tp", "fp", "tn", "fn", "prec6", "rec6",
            "CASE WHEN prec6 < 0 OR rec6 < 0 OR prec6 + rec6 = 0 THEN -1L " +
              "ELSE 2L * prec6 * rec6 DIV (prec6 + rec6) END AS f16")
    }

  /** Tokenizer-vocabulary coverage / OOV audit — the check a pipeline
    * runs BEFORE committing to a tokenizer: build the top-V corpus
    * vocabulary (count desc, token asc — deterministic ties) and report,
    * per language, how much of the token stream it covers and how much
    * falls out-of-vocabulary. A vocab that covers 99% of English but
    * 60% of another language is how under-represented languages
    * silently degrade into byte-fallback soup; this row is the audit
    * that catches it at corpus-profile time.
    *
    * Shape at scale: token counts aggregate with map-side partials
    * (shuffle on the token); the top-V selection is one bounded
    * [[graft.functions.TopKAggregator]] fold (V strings of state — no
    * global sort, no window over the vocabulary); the vocab then
    * BROADCASTS back (V entries) so the coverage pass is one narrow
    * scan + a |langs|-bounded aggregate. `cover6` is truncating 1e-6
    * integer division — engine-exact. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    val inst = docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
    coverageAudit(inst,
      topVocab(inst.groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
        vocabSize))
  }

  /** Top-V selection over a (tok, cnt) frame — the bounded fold with
    * the (count desc, token asc) tie-break, shared by the batch
    * ([[vocabCoverage]]) and streamed ([[vocabCoverageFromStreamedIndex]])
    * vocabulary paths so the tie-break can never drift between them. */
  private def topVocab(counts: DataFrame, vocabSize: Int): DataFrame =
    counts.agg(graft.functions.TopKAggregator.top_k_str(vocabSize)(
        col("cnt").cast("double"), col("tok")).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as("tok"), lit(1L).as("in_vocab"))

  /** The coverage-audit tail shared by both vocabulary paths: broadcast
    * the V-entry vocab against the (lang, tok) instance stream, one
    * |langs|-bounded aggregate, truncating 1e-6 division. */
  private def coverageAudit(inst: DataFrame, vocab: DataFrame): DataFrame =
    inst.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_instances"),
        sum(when(col("in_vocab").isNotNull, 1L).otherwise(0L)).as("n_covered"),
        count_distinct(when(col("in_vocab").isNull, col("tok")))
          .as("n_distinct_oov"))
      .selectExpr("lang", "n_instances", "n_covered",
        "n_instances - n_covered AS n_oov",
        "n_covered * 1000000L DIV n_instances AS cover6",
        "n_distinct_oov")

  /** STREAMED maintenance for the vocabulary token counts: one
    * micro-batch's (tok, cnt) partial lands as its own batch_id
    * partition, bucketed on the token. The fold is EXACT (counts add),
    * so the top-V vocabulary computed from the folded index is
    * bit-identical to a from-scratch corpus count — the vocabulary
    * becomes a maintained artifact that rides ingest instead of a
    * rebuild, the same discipline as every other persisted index
    * family (q68–q77). Partial size is batch-vocabulary-bounded, not
    * batch-size-bounded. */
  def appendTokenCountPartial(spark: org.apache.spark.sql.SparkSession,
                              batch: DataFrame, table: String, batchId: Long,
                              buckets: Int = 8): Boolean =
    graft.io.Bucketing.landPartial(spark, tokenCounts(batch, 1L), table,
      "tok-counts", Seq("tok"), buckets, batchId)

  /** (tok, cnt): `docs`' token counts times `sign` — the one aggregate
    * the append and the retraction share. */
  private def tokenCounts(docs: DataFrame, sign: Long): DataFrame =
    docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg((count(lit(1)) * sign).as("cnt"))

  /** RETRACTION partial for the token-count family — the negated-df
    * device: land the REMOVED docs' token counts NEGATED as their own
    * batch_id partition, after which every fold-reading probe (vocab
    * coverage, drift, LM quality) sees counts equal to a rebuild
    * WITHOUT those docs, at O(|removed|) cost. Zero folds drop out of
    * the vocabulary (absent, exactly as a rebuild would have it);
    * negative folds fail probes loudly. */
  def retractTokenCountPartial(spark: org.apache.spark.sql.SparkSession,
                               removed: DataFrame, table: String,
                               batchId: Long): Boolean =
    graft.io.Bucketing.retractPartial(spark, tokenCounts(removed, -1L), table,
      "tok-counts", batchId)

  /** Retraction-aware global fold of a token-count index: zero folds
    * (token fully retracted) are dropped — the token is absent from
    * the vocabulary exactly as a rebuild-without would have it — and a
    * negative fold (double retraction / never-appended doc) fails
    * loudly, inlined so pruning cannot drop the check. Shared by every
    * probe of the tok-counts family so the policy cannot drift. */
  private[graft] def foldTokenCounts(idx: DataFrame, table: String): DataFrame =
    idx.groupBy(col("tok")).agg(sum(col("cnt")).as("cnt"))
      .filter(when(col("cnt") < 0,
          raise_error(concat(lit(s"$table carries a negative folded token "),
            lit("count — double retraction or retraction of a "),
            lit("never-appended doc"))))
        .otherwise(col("cnt")) > 0)

  /** [[vocabCoverage]] against a STREAMED ([[appendTokenCountPartial]])
    * token-count index: fold the partials on the bucketed token key
    * (no index-side exchange), take the top-V with the same bounded
    * fold and tie-break, broadcast back, and audit the given docs —
    * output shape and semantics identical to the batch form, so the
    * catalog row shares p99's oracle verbatim. */
  def vocabCoverageFromStreamedIndex(spark: org.apache.spark.sql.SparkSession,
                                     docs: DataFrame, table: String,
                                     vocabSize: Int = 256): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "tok-counts")
    coverageAudit(
      docs.select(col("lang"), explode(tokens(col("text"))).as("tok")),
      topVocab(foldTokenCounts(idx, table), vocabSize))
  }

  /** [[unigramLogProb]] for a DELTA shard against the PERSISTED
    * token-count index (the q78 family — its THIRD probe type, after
    * vocab coverage and distribution drift): per-token counts and the
    * corpus total merge ADDITIVELY from index + delta (doc-disjoint
    * slices ⇒ instance counts sum), so delta scores are bit-identical
    * to the full-corpus computation restricted to delta docs. Probe
    * cost O(|delta| + delta-vocab): the delta tokenizes once, its
    * vocab left-joins the bucketed index (no index-side exchange
    * beyond the fold), the merged probabilities broadcast back —
    * corpus text is never re-read. The quality-gate-at-ingest shape:
    * score today's crawl under the corpus LM without rescanning the
    * corpus. */
  def unigramLogProbIncremental(spark: org.apache.spark.sql.SparkSession,
                                delta: DataFrame, table: String): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "tok-counts")
    val idxFold = foldTokenCounts(idx, table)
      .withColumnRenamed("cnt", "cnt_idx")
    val idxTotal = idx.agg(coalesce(sum(col("cnt")), lit(0L)).as("t_idx"))
    val dTok = delta.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dCnt = dTok.groupBy(col("tok")).agg(count(lit(1)).as("cnt_delta"))
    val dTotal = dTok.agg(count(lit(1)).as("t_delta"))
    // global p(tok) = (idx + delta counts) / (idx + delta totals) —
    // the same long-sum-then-double-divide arithmetic as the batch path
    val probs = dCnt.join(idxFold, Seq("tok"), "left")
      .crossJoin(broadcast(idxTotal)).crossJoin(broadcast(dTotal))
      .select(col("tok"),
        ((col("cnt_delta") + coalesce(col("cnt_idx"), lit(0L))).cast("double") /
          (col("t_idx") + col("t_delta")).cast("double")).as("p"))
    dTok.join(broadcast(probs), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(round(log(col("p")), 6).cast("decimal(18,6)")).as("lp"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"),
        round(col("lp").cast("double") / col("n_tokens"), 6).as("avg_logprob"),
        col("n_tokens"))
  }

  /** Corpus-unigram log-probability score — the cheap stand-in for
    * LM-perplexity quality filtering: documents whose tokens are
    * improbable under the corpus unigram distribution score low. Two
    * aggregation passes (corpus vocab, then per-doc) plus one broadcast
    * join of the vocab; per-token log-probs are rounded to 6 decimals
    * BEFORE the exact-decimal sum, so partial-aggregation order and libm
    * last-ulp differences cannot perturb the result (same policy as the
    * money sums). The vocabulary total uses an empty-frame window — the
    * vocab frame is small by construction (distinct terms, not tokens).
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val probs = counts.withColumn("p",
      col("cnt").cast("double") /
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"))
    tok.join(broadcast(probs.select(col("term"), col("p"))), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(round(log(col("p")), 6).cast("decimal(18,6)")).as("lp"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"),
        round(col("lp").cast("double") / col("n_tokens"), 6).as("avg_logprob"),
        col("n_tokens"))
  }

  /** Corpus-bigram log-probability score with add-k smoothing — one rung
    * up the LM-quality ladder from [[unigramLogProb]]: token-order
    * coherence now matters, so shuffled or word-salad text scores low
    * even when its unigrams are common. P(w2|w1) = (c(w1 w2) + k) /
    * (c(w1·) + k·V) over corpus bigram counts (the WordNgrams MULTISET —
    * set semantics would undercount repeats), context counts, and
    * unigram vocabulary size V. Defined for documents with >= 2 tokens.
    *
    * Shape at scale: bigram instances aggregate with map-side partials
    * (shuffle on the gram, not the doc), the model join is gram-keyed,
    * and the per-doc reduce follows — three hash aggregations, no
    * windows. Per-position log-probs round to 6 decimals BEFORE the
    * exact-decimal sum (the unigram/money determinism policy). */
  def bigramLogProb(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val eligible = docs.filter(size(tokens(col("text"))) >= 2)
    // ONE explode over the corpus, immediately collapsed to per-(doc,
    // gram) counts — map-side combinable, and every downstream aggregate
    // and the scoring join run on the distinct-gram stream, not the raw
    // instance stream (at corpus scale the instance stream is the data
    // volume; shuffling it once instead of three times is the design)
    val instDoc = eligible.select(col("doc_id"),
        explode(graft.functions.TextFunctions.word_ngrams(tokens(col("text")), 2))
          .as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c_dg"))
    val bgCounts = instDoc.groupBy(col("gram")).agg(sum(col("c_dg")).as("c_bg"))
    // context totals (Σ c_bg per w1) as a window over the bigram counts:
    // gram-keyed state only — no second pass over instances, and no
    // self-join that would make the plan re-derive the bgCounts subtree
    // (a second derivation re-runs the corpus explode+aggregate; caching
    // it instead measured SLOWER at sf0.1 — materializing the near-
    // instance-sized (doc, gram) frame costs more than recomputing it)
    // vocabulary size from the distinct-GRAM frame, not a second corpus
    // scan: every token of a >=2-token doc occurs in at least one bigram
    // (as w1 or w2), so the union of gram tokens IS the eligible vocab —
    // and the gram frame's exchange is already computed for the model
    val vocab = bgCounts
      .select(explode(split(col("gram"), " ")).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    val model = bgCounts
      .withColumn("w1", element_at(split(col("gram"), " "), 1))
      .withColumn("c_ctx",
        sum(col("c_bg")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .crossJoin(broadcast(vocab))
      .select(col("gram"),
        round(log((col("c_bg") + lit(k)) /
          (col("c_ctx") + lit(k) * col("v"))), 6).as("lp"))
    // weighted by the per-doc gram count: decimal × integer is exact, so
    // Σ lp·c_dg equals the per-instance decimal sum bit-for-bit
    instDoc.join(model, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp").cast("decimal(18,6)") * col("c_dg")).as("lp_sum"),
        sum(col("c_dg")).as("n_bigrams"))
      .select(col("doc_id"),
        round(col("lp_sum").cast("double") / col("n_bigrams"), 6)
          .as("avg_logprob"),
        col("n_bigrams"))
  }

  /** BPE merge-pair statistics — the first step of byte-pair-encoding
    * tokenizer training: corpus-wide counts of adjacent character pairs
    * WITHIN tokens (multiset — repeats inside a token count), ranked to
    * the top-k merge candidates. Pair extraction is the native
    * `CharNgramsMultiset` (one UTF-8 offset pass per token); counts
    * collapse map-side on the pair key. The ranking is a bounded top-k
    * (`TakeOrderedAndProject`: k rows per partition, then a k-row
    * merge), so the distinct pairs are never sorted in full or gathered
    * into one partition. */
  def bpePairStats(docs: DataFrame, k: Int = 20): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
    toks
      .select(explode(graft.functions.TextFunctions
        .char_ngrams_multiset(col("tok"), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair").asc).limit(k)
  }

  /** The learned merge TABLE: [[bpePairStats]]' top-`n` pairs in rank
    * order (count desc, pair asc — the deterministic tie-break). The
    * collect is the merge table itself — a tokenizer vocabulary is
    * O(vocab), broadcast-by-value into the encode expressions, never
    * corpus-sized. */
  def bpeLearnMerges(docs: DataFrame, n: Int = 10): Seq[String] =
    bpePairStats(docs, n)
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .collect().map(_.getString(0)).toSeq

  private val BpeOpen = "\u0001"
  private val BpeClose = "\u0002"

  /** BPE tokenizer APPLICATION — the encode step a training pipeline
    * actually ships, as a chain of NATIVE string expressions (no UDF):
    * each token's characters are individually bracketed
    * (`⟨c⟩⟨c⟩…`, brackets = /), then each merge rule
    * `(a,b)` is one `replace("⟨a⟩⟨b⟩" → "⟨ab⟩")` pass. The bracket
    * wrapping makes plain string replace EXACTLY symbol-space greedy
    * left-to-right BPE: adjacent occurrences share no characters (so
    * one pass merges every non-overlapping occurrence in order), a
    * partial symbol can never false-match (the brackets anchor both
    * ends), and an overlapping run like `aaaaa` under rule `(a,a)`
    * resolves to `aa aa a` — the canonical greedy answer
    * (TextAnalysisSpec pins equality with an independent plain-Scala
    * encoder). Rules apply in rank order, one pass each — equivalent
    * to priority-order application because every rule here pairs BASE
    * characters, so no rule can create another rule's pair.
    *
    * Scale shape: encoding is a map-only narrow projection — `n`
    * chained codegen'd `StringReplace`s over each token — so encoding
    * 100 TB is a scan coefficient; the merge table is the only shared
    * state (driver-collected, O(vocab), embedded as literals).
    * Returns one row per (doc_id, pos, enc_tok). */
  def bpeEncodeTokens(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val toks = docs.select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    val wrapped = regexp_replace(col("tok"), "(?s)(.)",
      BpeOpen + "$1" + BpeClose)
    val encoded = merges.foldLeft(wrapped) { (s, m) =>
      require(m.length == 2, s"merge rules must be char pairs, got '$m'")
      replace(s,
        lit(BpeOpen + m.charAt(0) + BpeClose + BpeOpen + m.charAt(1) + BpeClose),
        lit(BpeOpen + m + BpeClose))
    }
    // ⟨p1⟩⟨p2⟩… → "p1 p2 …": boundaries to spaces, brackets dropped
    val spaced = replace(replace(replace(encoded,
      lit(BpeClose + BpeOpen), lit(" ")), lit(BpeOpen)), lit(BpeClose))
    toks.select(col("doc_id"), col("pos"), spaced.as("enc_tok"))
  }

  /** Per-document encode summary over [[bpeEncodeTokens]]: token and
    * piece counts plus an md5 fingerprint of the full encoded document
    * (pieces space-joined per token, tokens newline-joined in order) —
    * scalar columns only, replayable in SQL. */
  def bpeEncode(docs: DataFrame, merges: Seq[String]): DataFrame =
    bpeEncodeTokens(docs, merges)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(size(split(col("enc_tok"), " "))).cast("long").as("n_pieces"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("enc_tok")))),
          s => s.getField("enc_tok")), "\n")).as("encoded_md5"))

  /** Benchmark decontamination: flag training documents sharing any word
    * 8-gram with a holdout/benchmark subset. The benchmark gram set is
    * distinct + broadcast (benchmarks are small by definition); the
    * training side streams through one explode + broadcast join — no
    * shuffle proportional to the corpus gram volume. */
  def decontamination(docs: DataFrame, benchmarkMod: Int = 10,
                      n: Int = 8): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchmarkMod)) === 0
    val benchGrams = docs.filter(isBench)
      .select(explode(Dedup.shingles(col("text"), n)).as("gram")).distinct()
    val train = docs.filter(!isBench)
    val contaminated = train
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), n)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated")) // grams pre-distinct per doc
    train.select(col("doc_id"),
        size(Dedup.shingles(col("text"), n)).cast("long").as("n_grams"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("contamination_ratio"))
  }

  /** Bloom-gated decontamination — [[decontamination]]'s scale path for
    * when the benchmark n-gram set outgrows a broadcast hash join but
    * still fits a Bloom sketch (~10 bits/key at 1% fpp vs ~50+ bytes/key
    * hashed: a 1e9-gram eval suite is ~1.2 GB of filter vs ~50+ GB of
    * hash table). The corpus side gates each gram through the broadcast
    * filter MAP-SIDE, so only |matches| + fpp·|corpus grams| ever reach
    * the shuffle of the exact confirming join — which then removes the
    * false positives, making the result bit-identical to the exact path
    * (p33's oracle is reused verbatim; false negatives cannot occur).
    * Deliberately NOT broadcasting the confirming join: the whole point
    * of this variant is the regime where the gram set cannot be a
    * broadcast hash table, so the exact join carries a `shuffle_hash`
    * hint — pinned in the plan itself rather than via session conf, so
    * the shuffled regime holds at fixture scale too (where the planner
    * would otherwise broadcast) and survives lazy evaluation
    * (ExplainSpec asserts no BroadcastHashJoin in the confirm). */
  def decontaminationBloom(docs: DataFrame, benchmarkMod: Int = 10,
                           n: Int = 8, fpp: Double = 0.01): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchmarkMod)) === 0
    val benchGrams = docs.filter(isBench)
      .select(explode(Dedup.shingles(col("text"), n)).as("gram")).distinct()
    val expected = math.max(1L, benchGrams.count())
    val filter = graft.ops.BloomJoin.buildFilter(benchGrams, "gram", expected, fpp)
    val train = docs.filter(!isBench)
    val contaminated = train
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), n)).as("gram"))
      .filter(graft.ops.BloomJoin.mightContainString(filter, col("gram")))
      // exact confirm: false positives die here; shuffle_hash keeps it a
      // shuffled join even when the fixture-scale gram set would broadcast
      .join(benchGrams.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
    train.select(col("doc_id"),
        size(Dedup.shingles(col("text"), n)).cast("long").as("n_grams"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("contamination_ratio"))
  }

  /** Persist the benchmark side of decontamination: the eval suite's
    * distinct n-gram set as a table bucketed on the gram — built once
    * when the eval suite changes, probed by every ingest delta after.
    * The decontamination analogue of [[buildLineDfIndex]], landed as
    * batch 0 of the [[appendBenchGramPartial]] layout. */
  def buildBenchGramIndex(benchDocs: DataFrame, table: String,
                          n: Int = 8, buckets: Int = 8): Unit =
    graft.io.Bucketing.landBuild(benchDocs.sparkSession,
      benchGrams(benchDocs, n), table, "bench-grams", Seq("gram"), buckets)

  /** `docs`' distinct n-gram set — the one projection the build and the
    * append share. */
  private def benchGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(explode(Dedup.shingles(col("text"), n)).as("gram")).distinct()

  /** STREAMED maintenance for the benchmark-gram index: land one
    * micro-batch's DISTINCT n-grams as its own batch_id partition —
    * the eval-suite analogue of [[appendLineDfPartial]], for the regime
    * where the benchmark suite itself grows over time (new evals added)
    * and each addition must start gating ingest without a suite-wide
    * rebuild. Distinct-within-batch partials fold to the global
    * distinct set by a distinct over the bucketed gram layout (no
    * corpus-side exchange); replay idempotently overwrites its own
    * partition.
    *
    * RETRACTION note (the one family of nine without an incremental
    * deletion path, by design): the fold is a DISTINCT-set union, not
    * an additive count, so a removed benchmark's grams cannot be
    * cancelled by a negated partial — a gram shared with a REMAINING
    * benchmark must survive, and the distinct layout does not know who
    * contributed it. Deleting a benchmark therefore means rebuilding
    * the suite index (suite-sized, tiny relative to the corpus — the
    * asymmetry that makes this acceptable). The failure direction is
    * also SAFE: keeping a stale gram only over-filters training data
    * (discards a clean doc); it can never let contamination through,
    * which is why this family keeps the cheap distinct layout instead
    * of paying per-gram refcounts for a fast path deletion does not
    * need. */
  def appendBenchGramPartial(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, table: String, batchId: Long,
                             n: Int = 8, buckets: Int = 8): Unit =
    graft.io.Bucketing.landPartial(spark, benchGrams(batch, n), table,
      "bench-grams", Seq("gram"), buckets, batchId)

  /** Incremental decontamination: score ONLY the freshly-ingested delta
    * docs against the persisted benchmark-gram index — the daily-ingest
    * shape, where the eval suite is fixed and each day's corpus delta is
    * checked without recomputing the suite's grams. Output schema and
    * semantics are [[decontamination]]'s, restricted to the delta (the
    * oracle replays exactly that); the index side of the join arrives
    * pre-bucketed on gram, so only delta grams shuffle. The index
    * carries one distinct-gram set PER batch (the build's batch 0, then
    * every [[appendBenchGramPartial]]) — a gram in two suite additions
    * appears twice, and joining it raw would double-count contamination
    * — so it folds back to the global distinct set first (a distinct on
    * the bucket key: no exchange on the index side). */
  def decontaminationAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                  delta: DataFrame, indexTable: String,
                                  n: Int = 8): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, indexTable, "bench-grams")
    val contaminated = delta
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), n)).as("gram"))
      .join(idx.select(col("gram")).distinct(), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
    delta.select(col("doc_id"),
        size(Dedup.shingles(col("text"), n)).cast("long").as("n_grams"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("contamination_ratio"))
  }

  /** PII scrubbing: redact email addresses and US-style phone numbers,
    * reporting match counts per document. Patterns are kept to the regex
    * subset Java and RE2 interpret identically, so the oracle replays
    * them verbatim. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def piiScrub(docs: DataFrame, textCol: Column): DataFrame =
    // stage the text and the email-redacted form as multi-use projections
    // (each referenced twice, so Catalyst keeps them once-per-row instead
    // of re-evaluating the expression per output column); phones are
    // counted AFTER email redaction so the counts describe the redactions
    // actually performed — a phone-shaped string inside an email local
    // part is replaced by the email pass, not the phone pass
    docs.select(col("doc_id"), textCol.as("t"))
      .select(col("doc_id"), col("t"),
        regexp_replace(col("t"), EmailRe, "[EMAIL]").as("t1"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("t1"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(col("t1"), PhoneRe, "[PHONE]")).as("scrubbed_md5"))

  /** Per-language stopword sets for the n-gram language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von"))

  /** Count of tokens that appear in `words`. */
  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** Gopher-style repetition metrics: how much of a document is its own
    * most-common word n-gram, and what fraction of n-gram instances are
    * repeats. High values flag machine-generated or boilerplate text the
    * n-gram set form (WordShingles) cannot see — this needs the multiset
    * (graft.functions.WordNgrams). Two hash aggregations, both with
    * map-side partials; grams stay (doc_id, gram)-local so the shuffle
    * key distribution mirrors the documents themselves. */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.word_ngrams(tokens(col("text")), n))
          .as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ngrams"),
        max(col("cnt")).as("top_cnt"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("dup_inst"))
      .select(col("doc_id"), col("n_ngrams"),
        round(col("top_cnt").cast("double") / col("n_ngrams"), 6)
          .as("top_ngram_frac"),
        round(col("dup_inst").cast("double") / col("n_ngrams"), 6)
          .as("dup_ngram_frac"))

  /** C4-shaped boilerplate/quality gate: per-document rule flags plus the
    * combined keep verdict. Rules are chosen to discriminate on this
    * corpus (the synthetic documents carry no punctuation, so C4's
    * terminal-punctuation rules would be constant): token-count range,
    * mean word length, type-token ratio, stopword presence. Pure narrow
    * column work — no shuffle, runs at scan speed. */
  def boilerplateFlags(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    // chars excluding the single separating spaces
    val nonSpace = length(col("text")) - (nTok - lit(1))
    docs.select(col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        round(nonSpace.cast("double") / nTok, 6).as("mean_word_len"),
        round(size(array_distinct(toks)).cast("double") / nTok, 6)
          .as("type_token_ratio"),
        arrays_overlap(toks, array(lit("a"), lit("the"))).as("has_stopword"))
      .withColumn("keep",
        col("n_tokens").between(20, 10000) &&
          col("mean_word_len").between(2.0, 12.0) &&
          col("type_token_ratio") >= 0.3 &&
          col("has_stopword"))
  }

  /** BPE-style pre-tokenizer pattern: alphanumeric runs or single
    * non-space symbols — the shape GPT-family tokenizers split on before
    * merges. ASCII classes behave identically under Java regex and RE2. */
  val bpePattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Token stats: character count, whitespace-token count, distinct-token
    * count, and BPE-ish regex token count (the pre-merge unit count a
    * byte-pair tokenizer would start from). */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))
  }

  /** Quality scoring: lexical-diversity ratio, stopword ratio, mean token
    * length — combined into one [0,1]-ish score. Formula is arbitrary but
    * deterministic and bit-identical across engines (fixed operation
    * order, double arithmetic).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_uniq_tokens", size(array_distinct(toks)).cast("long"))
      .withColumn("n_stop", stopwordCount(toks, stopwords("en")))
      .withColumn("uniq_ratio",
        col("n_uniq_tokens").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len",
        (length(col("text")).cast("long") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"))
      .withColumn("quality_score",
        lit(0.4) * col("uniq_ratio") + lit(0.3) * col("stop_ratio") +
          lit(0.3) * least(col("avg_token_len") / lit(10.0), lit(1.0)))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq_tokens"), col("n_stop"),
        col("uniq_ratio"), col("stop_ratio"), col("avg_token_len"), col("quality_score"))
  }

  /** Language ID: stopword-hit scoring per language, deterministic argmax
    * with fixed precedence en > es > de, 'und' when no hits. */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .withColumn("s_en", stopwordCount(toks, stopwords("en")))
      .withColumn("s_es", stopwordCount(toks, stopwords("es")))
      .withColumn("s_de", stopwordCount(toks, stopwords("de")))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_de") && col("s_es") > 0, "es")
          .when(col("s_de") > 0, "de")
          .otherwise("und"))
      .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"), col("lang_pred"))
  }

  /** Content fingerprints: md5 digest + boundary tokens. md5 exists in
    * both engines, so this IS oracle-checkable; xxhash64 (Spark-only,
    * much faster) is exposed separately for engine-internal dedup. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      element_at(toks, 1).as("first_token"),
      element_at(toks, -1).as("last_token"),
      size(toks).cast("long").as("n_tokens"))
  }

  /** TF-IDF: term frequencies per document, inverse document frequency
    * over the corpus, top-k highest-scoring terms per document.
    *
    * Shape at scale: explode -> (doc, term) partial counts (map-side
    * combine) -> term-level df join (term table is vocabulary-sized,
    * broadcastable) -> bounded top-k aggregation per doc. Scores are
    * rounded to 6 decimals with a term tiebreak so ranking is
    * deterministic and engine-comparable (ln() may differ in the last
    * ulp across libm implementations).
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    val nDocs = docs.count() // parquet footer count, metadata-only
    // termFreq feeds BOTH the doc-frequency aggregate and the scoring
    // join; materialize it once (lineage cut) or the tokenize+explode+
    // groupBy pipeline — the expensive part — executes twice
    val termFreq = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val docFreq = termFreq.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    termFreq.join(broadcast(docFreq), Seq("term"))
      .withColumn("score",
        round(col("tf") * (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopKAggregator.top_k_str(k)(col("score"), col("term")).as("tk"))
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .select(col("doc_id"), col("t.id").as("term"), col("t.score").as("score"))
  }

  /** Okapi-BM25 top-k retrieval against a FIXED query set — the IR
    * primitive a training-data pipeline runs at scale (lexical
    * retrieval for decontamination-by-retrieval, hard-negative mining,
    * eval-set leakage audits). The query set is bounded and BROADCAST
    * (every `queryEvery`-th doc contributes its first `queryTerms`
    * distinct tokens), so the corpus term-frequency table is filtered
    * MAP-SIDE to query terms before anything shuffles; document
    * frequencies are computed for query terms only (never a full-vocab
    * aggregate); and per-query top-k uses the bounded [[graft.functions.TopKAggregator]]
    * fold (at most k rows per map task reach the shuffle — no global
    * sort, no per-query window sort). At 100 TB the cost is one scan +
    * one bounded aggregation: exactly how a fixed eval set is screened
    * against a crawl.
    *
    * Replay discipline (the p32 policy): the idf `ln` is rounded to 6
    * decimals FIRST; the per-term score is one identically-ordered
    * IEEE expression rounded to 6 decimals; per-(query, doc) scores
    * sum as exact DECIMAL(18,6) — no float-summation-order caveats.
    * Constants are spelled `(1.2 + 1.0)` / `(1.0 − 0.75 + …)` in BOTH
    * engines so literal-folding arithmetic is bit-identical. */
  def bm25TopK(docs: DataFrame, k: Int = 5, queryEvery: Int = 100,
               queryTerms: Int = 3, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val nDocs = docs.count() // parquet footer count, metadata-only
    val totalTokens = docs
      .select(size(tokens(col("text"))).cast("long").as("dl"))
      .agg(sum(col("dl"))).head().getLong(0)
    val avgdl = totalTokens.toDouble / nDocs.toDouble
    val q = bm25QuerySet(docs, queryEvery, queryTerms)
    // map-side gate to query terms, then df over query terms only
    val qMatched = bm25TermFreq(docs).join(broadcast(q), Seq("term"))
      .localCheckpoint(true) // feeds df AND scoring; cut the lineage
    val dfq = qMatched.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25ScoreTopK(qMatched, dfq, nDocs, avgdl, k, k1, b)
  }

  /** Shared BM25 scoring tail: per-term idf/tf/length-normalized score
    * re-quantized to 6 decimals, exact decimal sums per (query, doc),
    * bounded top-k fold. `qMatched` carries (term, query_id, doc_id,
    * dl, tf); `dfq` the (term, df) stats to broadcast. */
  private def bm25ScoreTopK(qMatched: DataFrame, dfq: DataFrame, nDocs: Long,
                            avgdl: Double, k: Int, k1: Double, b: Double): DataFrame = {
    val idf6 = round(
      log((lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0)), 6)
    val score6 = round(
      col("idf6") * (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * (col("dl") / lit(avgdl)))), 6)
    qMatched.join(broadcast(dfq), Seq("term"))
      .withColumn("idf6", idf6)
      .withColumn("s6", score6.cast("decimal(18,6)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s6")).as("score_dec"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregator.top_k(k)(
        col("score_dec").cast("double"), col("doc_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), col("t.score").as("score"))
  }

  /** The fixed BM25 query set — every `queryEvery`-th doc contributes
    * its first `queryTerms` DISTINCT tokens as (query_id, term) rows.
    * ONE definition shared by p90/p91/q70 and the probe tooling: the
    * three rows share one oracle verbatim, so a drifted copy of this
    * recipe would fail its oracle with no compile-time signal. */
  def bm25QuerySet(docs: DataFrame, queryEvery: Int = 100,
                   queryTerms: Int = 3): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(queryEvery)) === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(tokens(col("text")), 1, queryTerms)).as("term"))
      .distinct()

  /** Long-form (doc_id, dl, term, tf) term-frequency table of a corpus
    * slice — the per-doc half of every BM25 computation. */
  private def bm25TermFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Build the PERSISTED BM25 statistics index over the already-ingested
    * corpus: the full-vocabulary (term, df_corpus) table bucketed on
    * `term` (query-agnostic — any future eval set probes it), with the
    * corpus stats (doc count, total tokens) riding the same rows as two
    * sentinel terms ([[bm25Df]]), landed as batch 0 of the
    * [[appendBm25DfPartial]] layout — one table, so the df rows and the
    * stats cannot tear apart. At 100 TB this is the index a screening
    * pipeline maintains once per ingest epoch; the probe below prices a
    * new shard at O(|delta|). */
  def buildBm25DfIndex(corpus: DataFrame, idxTbl: String,
                       buckets: Int = 8): Unit =
    graft.io.Bucketing.landBuild(corpus.sparkSession, bm25Df(corpus, 1L),
      idxTbl, "bm25-df", Seq("term"), buckets)

  /** Sentinel terms carrying the per-batch corpus stats INSIDE the df
    * table: a leading space cannot appear in a real whitespace-split
    * token, so these never collide with vocabulary. */
  private val StatNDocs = " n"
  private val StatTotTokens = " tot"

  /** Streaming/micro-batch maintenance of the BM25 df index (the
    * [[appendLineDfPartial]] device applied to the p91 family): land
    * ONE batch's partial term document-frequencies as the
    * `batch_id=<id>` partition of a partitioned+bucketed table.
    * Batches carry disjoint doc sets, so partials SUM to the global df
    * whatever the batching. The corpus stats the scorer needs (doc
    * count, total tokens — additive for the same reason) ride the SAME
    * partition as two SENTINEL terms ([[StatNDocs]]/[[StatTotTokens]]
    * — a leading space cannot appear in a whitespace token), so each
    * batch's df rows and stats land in ONE dynamic-partition overwrite:
    * no torn two-table state, and replay (the at-least-once
    * `foreachBatch` window) is idempotent — each attempt rewrites
    * exactly its own partition, healing even a torn job commit. */
  def appendBm25DfPartial(spark: org.apache.spark.sql.SparkSession,
                          batch: DataFrame, table: String, batchId: Long,
                          buckets: Int = 8): Boolean =
    graft.io.Bucketing.landPartial(spark, bm25Df(batch, 1L), table,
      "bm25-df", Seq("term"), buckets, batchId)

  /** (term, df_corpus): `docs`' term document frequencies plus the two
    * sentinel corpus-stat rows, times `sign` — the one aggregate the
    * build, the append and the retraction share. */
  private def bm25Df(docs: DataFrame, sign: Long): DataFrame = {
    val df = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .groupBy("term").agg((count(lit(1)) * sign).as("df_corpus"))
    val stats = docs
      .select(size(tokens(col("text"))).cast("long").as("dl"))
      .agg((count(lit(1)) * sign).as("n"),
        (coalesce(sum(col("dl")), lit(0L)) * sign).as("tot"))
      .select(explode(array(
        struct(lit(StatNDocs).as("term"), col("n").as("df_corpus")),
        struct(lit(StatTotTokens).as("term"), col("tot").as("df_corpus"))))
        .as("r"))
      .select(col("r.term"), col("r.df_corpus"))
    df.unionByName(stats)
  }

  /** RETRACTION partial for the BM25 df family — the negated-df
    * device: the REMOVED docs' term dfs AND their sentinel corpus stats
    * land NEGATED as one batch_id partition (single-table maintenance:
    * dfs and stats cannot tear apart, exactly like the append). After
    * the fold the index scores as a rebuild WITHOUT those docs at
    * O(|removed|); replay idempotent. Zero-folded terms contribute df 0
    * (identical to absent in the scorer's coalesce-merge); negative
    * probed dfs and non-positive folded stats fail loudly. */
  def retractBm25DfPartial(spark: org.apache.spark.sql.SparkSession,
                           removed: DataFrame, table: String,
                           batchId: Long): Boolean =
    graft.io.Bucketing.retractPartial(spark, bm25Df(removed, -1L), table,
      "bm25-df", batchId)

  /** Incremental BM25 screening: score ONLY the day's delta shard
    * against the fixed query set, with document frequencies and length
    * stats merged from the persisted index plus the delta's own
    * contribution — bit-identical to re-running [[bm25TopK]] over
    * corpus ∪ delta and keeping delta candidates (corpus and delta are
    * doc-disjoint, so df and token totals are sums). The index's
    * per-batch partials ([[buildBm25DfIndex]]'s batch 0, then every
    * [[appendBm25DfPartial]] / [[retractBm25DfPartial]] batch) fold back
    * to global dfs (a groupBy on the bucket key — no corpus-side
    * exchange) and the sentinel stat terms sum to the corpus stats.
    * Probe cost is O(|delta|): the delta is tokenized and aggregated;
    * the INDEX is only touched through a broadcast query-term gate on
    * its bucketed layout (never scanned into a shuffle); the corpus
    * text is never re-read. */
  def bm25TopKIncremental(spark: org.apache.spark.sql.SparkSession,
                          delta: DataFrame, queries: DataFrame,
                          idxTbl: String, k: Int = 5,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val idxRaw = graft.io.Bucketing.openIndex(spark, idxTbl, "bm25-df")
    val st = idxRaw
      .filter(col("term") === StatNDocs || col("term") === StatTotTokens)
      .groupBy("term").agg(sum(col("df_corpus")).cast("long").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(st.contains(StatNDocs) && st.contains(StatTotTokens),
      s"$idxTbl carries no sentinel corpus stats — not a complete bm25-df index")
    // retraction guard: over-retraction drives the folded corpus stats
    // non-positive — scoring against them would divide by a broken
    // corpus size, so fail loudly here
    require(st(StatNDocs) > 0L && st(StatTotTokens) > 0L,
      s"$idxTbl folded corpus stats are non-positive " +
        s"(${st(StatNDocs)} docs, ${st(StatTotTokens)} tokens) — " +
        "over-retraction or a broken maintenance history")
    val idx = idxRaw
      .filter(col("term") =!= StatNDocs && col("term") =!= StatTotTokens)
      .groupBy("term").agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val dst = delta.select(size(tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long"), sum(col("dl"))).head()
    // an EMPTY delta ("no new docs this batch") sums to null, not 0
    val n = st(StatNDocs) + dst.getLong(0)
    val tot = st(StatTotTokens) + (if (dst.isNullAt(1)) 0L else dst.getLong(1))
    val avgdl = tot.toDouble / n.toDouble
    val qMatched = bm25TermFreq(delta).join(broadcast(queries), Seq("term"))
      .localCheckpoint(true) // feeds delta-df AND scoring; cut the lineage
    val qTerms = queries.select(col("term")).distinct()
    val idxDf = idx.join(broadcast(qTerms), Seq("term"))
    val deltaDf = qMatched.select(col("term"), col("doc_id")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df_delta"))
    // retraction-aware merge: a zero folded corpus df scores exactly
    // like an absent term; a NEGATIVE one (double retraction /
    // never-appended doc) fails loudly on the probed query terms —
    // inlined so pruning cannot drop the check
    val idxDfGuarded = when(coalesce(col("df_corpus"), lit(0L)) < 0,
        raise_error(concat(lit("bm25 index carries a negative folded df — "),
          lit("double retraction or retraction of a never-appended doc"))))
      .otherwise(coalesce(col("df_corpus"), lit(0L)))
    val dfq = idxDf.join(deltaDf, Seq("term"), "full_outer")
      .select(col("term"),
        (idxDfGuarded + coalesce(col("df_delta"), lit(0L))).as("df"))
    bm25ScoreTopK(qMatched, dfq, n, avgdl, k, k1, b)
  }

  /** Rolling (polynomial) content hash over tokens, computed as a left
    * fold — engine-internal fingerprint (not oracle-expressible). The
    * accumulator is kept under 2^40 and the multiplier under 2^20 so the
    * product stays below 2^63 and ANSI overflow checks never trip.
    */
  def rollingHash(text: Column): Column = {
    val m = lit(1L << 40)
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => pmod(acc * lit(1000003L) + pmod(xxhash64(t), lit(1L << 31)), m))
  }
}
