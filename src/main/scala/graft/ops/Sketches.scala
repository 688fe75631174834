package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus-profiling sketches — the bounded-state answers
  * to "describe this corpus" questions a 100 TB curation run asks
  * before (and after) every pipeline stage: how many distinct terms per
  * slice, which n-grams dominate, how are document lengths shaped.
  *
  * Every operator here is EXACTLY replayable outside Spark: the KMV
  * sketch's content is "the k smallest 60-bit md5 values" (a pure
  * function of the value set), heavy hitters are exact counts with a
  * bounded top-k fold, and the histogram is integer bin arithmetic —
  * so all three carry full hash oracles where an HLL/t-digest row
  * could only carry a tolerance check. The one non-replayable sketch
  * (count-min, seeded xxhash64) stays a library surface
  * ([[graft.functions.CountMin]]) certified by SketchesSpec's
  * overcount-bound property instead of a catalog oracle.
  */
object Sketches {

  /** 60-bit md5 hash — the engine-independent uniform key
    * (Selection.scala's shuffle-key device: `CAST(('0x' ||
    * substring(md5(x), 1, 15)) AS BIGINT)` in DuckDB). */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-language distinct-token profile: the KMV bottom-k sketch next
    * to the exact count it estimates. At 100 TB the exact side is the
    * expensive labeled baseline (it shuffles every distinct (lang,
    * token) pair — the p11 role); the sketch ships at most k longs per
    * (lang, map task) and is the number a profiling dashboard actually
    * reads. Emitting both, plus the k-th hash itself, makes the row
    * self-certifying: the oracle recomputes sketch content AND
    * estimate, so a hash match proves the bounded-state path, not just
    * the estimate's magnitude. Estimate: size < k means the sketch IS
    * the distinct hash set; otherwise (k-1) * 2^60 / h_(k). */
  def kmvDistinctTokens(docs: DataFrame, k: Int = 64): DataFrame = {
    val toks = docs.select(col("lang"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val sk = toks.select(col("lang"), h60(col("tok")).as("h"))
      .groupBy("lang")
      .agg(graft.functions.KmvAggregator.kmv(k)(col("h")).as("mins"))
    val exact = toks.distinct()
      .groupBy("lang").agg(count(lit(1)).as("n_exact"))
    sk.join(exact, Seq("lang"))
      .select(col("lang"), lit(k).cast("long").as("k"),
        size(col("mins")).cast("long").as("n_sketch"),
        element_at(col("mins"), size(col("mins"))).as("kth_hash"),
        col("n_exact"))
      .withColumn("n_est",
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            col("kth_hash").cast("double"), 3)))
      .withColumn("rel_err",
        round(abs(col("n_est") - col("n_exact")) / col("n_exact"), 6))
  }

  /** STREAMED maintenance for the KMV profile: land one micro-batch's
    * per-language bottom-k sketch as its own batch_id partition —
    * k longs per (language, batch), bounded regardless of batch size.
    * The fold is EXACT, not approximate-on-approximate: the k smallest
    * distinct hashes of a union are always contained in the union of
    * each part's k smallest, so re-folding the partials reproduces the
    * monolithic sketch bit-for-bit (SketchesSpec pins this; the q75
    * catalog row hash-certifies it against p94's oracle). Replay
    * idempotently overwrites its own partition (the q68 discipline). */
  def appendKmvPartial(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, table: String, batchId: Long,
                       k: Int = 64, buckets: Int = 8): Unit = {
    val partial = batch.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("lang"), h60(col("tok")).as("h"))
      .groupBy("lang")
      .agg(graft.functions.KmvAggregator.kmv(k)(col("h")).as("mins"))
      .select(col("lang"), explode(col("mins")).as("h"))
    graft.io.Bucketing.landPartial(spark, partial, table, "kmv-profile",
      Seq("lang"), buckets, batchId)
  }

  /** Fold a streamed ([[appendKmvPartial]]) profile back to the
    * per-language sketch and emit [[kmvDistinctTokens]]'s exact output
    * shape: sketch columns from the folded index, the exact baseline
    * from a labeled one-shot pass over `docs` (the expensive
    * comparison column the profile row carries by contract — the
    * SKETCH is the maintained artifact). */
  def kmvProfileFromStreamedIndex(spark: org.apache.spark.sql.SparkSession,
                                  docs: DataFrame, table: String,
                                  k: Int = 64): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "kmv-profile")
    val sk = idx.groupBy("lang")
      .agg(graft.functions.KmvAggregator.kmv(k)(col("h")).as("mins"))
    val exact = docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .distinct()
      .groupBy("lang").agg(count(lit(1)).as("n_exact"))
    sk.join(exact, Seq("lang"))
      .select(col("lang"), lit(k).cast("long").as("k"),
        size(col("mins")).cast("long").as("n_sketch"),
        element_at(col("mins"), size(col("mins"))).as("kth_hash"),
        col("n_exact"))
      .withColumn("n_est",
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            col("kth_hash").cast("double"), 3)))
      .withColumn("rel_err",
        round(abs(col("n_est") - col("n_exact")) / col("n_exact"), 6))
  }

  /** Per-language heavy-hitter word n-grams: exact counts, bounded
    * top-k selection. Two hash aggregations (both partial-aggregating
    * map-side) and a k-element fold per language — no global sort, no
    * per-language window over the full gram table (the
    * TopKAggregator rationale). Ties break lexicographically on the
    * gram, so ranks replay exactly. */
  def heavyHitterNgrams(docs: DataFrame, n: Int = 2, k: Int = 10): DataFrame = {
    val grams = docs.select(col("lang"),
      explode(graft.functions.TextFunctions.word_ngrams(
        TextAnalysis.tokens(col("text")), n)).as("gram"))
    grams.groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy("lang")
      .agg(graft.functions.TopKAggregator.top_k_str(k)(
        col("cnt").cast("double"), col("gram")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("gram"), col("col.score").cast("long").as("cnt"))
  }

  /** STREAMED maintenance for the count-min surface: one micro-batch's
    * sketch (a depth x width long matrix over lang-qualified bigram
    * keys, joined with a \u0001 separator — a byte no language code
    * contains, so distinct (lang, gram) pairs can never collide as one
    * key string) lands as its own batch_id partition in (pos, cnt) row
    * form. The kind stamp pins the BUILD geometry (depth, width), so a
    * probe with mismatched parameters is rejected instead of
    * mis-indexing the folded counters.
    * The fold is EXACT — count-min merge is elementwise addition, so
    * summing per-batch counters per position reproduces the monolithic
    * sketch bit-for-bit whatever the batching. State is bounded by
    * construction: depth*width rows per batch, independent of batch
    * size or vocabulary. */
  def appendCountMinPartial(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, table: String, batchId: Long,
                            n: Int = 2, depth: Int = 4, width: Int = 4096,
                            buckets: Int = 8): Unit = {
    val keys = batch.select(col("lang"),
        explode(graft.functions.TextFunctions.word_ngrams(
          TextAnalysis.tokens(col("text")), n)).as("gram"))
      .select(concat_ws("", col("lang"), col("gram")).as("key"))
    val partial = keys
      .agg(graft.functions.CountMin.count_min(depth, width)(col("key")).as("sk"))
      .select(posexplode(col("sk")))
      .toDF("pos", "cnt")
    graft.io.Bucketing.landPartial(spark, partial, table,
      s"countmin-$depth-$width", Seq("pos"), buckets, batchId)
  }

  /** Audit the stream-maintained count-min sketch against the exact
    * heavy-hitter counts: fold the partials (elementwise sum — exact),
    * collect the BOUNDED sketch (depth*width longs — collecting the
    * sketch is the point of a sketch), and check each exact top-k
    * (lang, gram) count against its estimate. Emitted as exact values
    * plus checked error-bound booleans — the q24/q43 contract for the
    * one sketch whose seeded xxhash64 DuckDB cannot replay: the oracle
    * expects `est_dominates` (guaranteed: counters only add) and
    * `est_within_eps` (the 4e·N/width envelope) both TRUE.
    *
    * `est_within_eps` caveat (ADVICE-r16): the count-min guarantee is
    * probabilistic — est ≤ cnt + eN/width holds per key only with
    * probability 1−(1/e)^depth, so TRUE in a hash oracle is a
    * FIXTURE-CERTIFIED fact, not a theorem. The envelope used here is
    * 4× the expectation (4e·N/width ≈ 4·depth× the MEAN collision
    * mass), and the fixture's hashes are fixed, so the flag is
    * deterministic on the driver's sf0.01 check; SketchesSpec
    * ("count-min envelope slack") measures the actual worst-case
    * margin and fails with a diagnostic long before a fixture or
    * parameter change could eat the 4× slack and flake the oracle. */
  def countMinHeavyHitterAudit(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, table: String, n: Int = 2,
                               k: Int = 10, depth: Int = 4,
                               width: Int = 4096): DataFrame = {
    val folded = graft.io.Bucketing.openIndex(spark, table, s"countmin-$depth-$width").groupBy("pos")
      .agg(sum(col("cnt")).as("cnt")).collect()
    val sketch = new Array[Long](depth * width)
    folded.foreach(r => sketch(r.getInt(0)) = r.getLong(1))
    // every key increments exactly one counter per sketch row, so any
    // single row's counters sum to the total key-instance count N
    val total = sketch.take(width).sum
    val bound = (4 * math.E * total / width).toLong + 1
    val hh = heavyHitterNgrams(docs, n, k).collect()
    val out = hh.map { r =>
      val lang = r.getString(0); val rank = r.getLong(1)
      val gram = r.getString(2); val cnt = r.getLong(3)
      val est = graft.functions.CountMin.estimate(sketch,
        lang + "" + gram, depth, width)
      (lang, rank, gram, cnt, est >= cnt, est <= cnt + bound)
    }
    import spark.implicits._
    out.toSeq.toDF("lang", "rank", "gram", "cnt",
      "est_dominates", "est_within_eps")
  }

  /** Pairwise SOURCE-DRIFT report: L1 distance between the per-source
    * token distributions, the check a pipeline runs across ingest waves
    * or data sources to catch distribution shift before it trains in
    * (a crawler that started returning boilerplate, a source whose
    * language mix flipped). Distributions are 1e-6 fixed-point
    * (truncating division — engine-exact); the signed-contribution
    * device folds the pair compare into ONE token-keyed aggregate:
    * each (source, token) mass enters +p6 for the pair's left side and
    * -p6 for its right, so tokens present in both sources contribute
    * |p1-p2| and single-source tokens their full mass — no full-outer
    * join, no null handling. The pair domain is |sources|²-bounded and
    * broadcasts; the heavy work shuffles once on the token. Also
    * reports each pair's most divergent token (score desc, token asc
    * — the bounded TopK fold). */
  def sourceDriftReport(docs: DataFrame): DataFrame =
    pairwiseDrift(docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt")))

  /** The drift core shared by [[sourceDriftReport]] and
    * [[driftProbeIncremental]]: from a (source, tok, cnt) frame,
    * normalize to 1e-6 fixed-point distributions, derive the
    * lexicographic (a < b) pair domain from the observed sources
    * (bounded, broadcast), and fold each pair's L1 + most divergent
    * token with the signed-contribution device. Keeping the device in
    * one place means the fixed-point rule, the sign convention and the
    * tie-break can never drift between the batch and incremental
    * paths. */
  private def pairwiseDrift(cnt: DataFrame): DataFrame = {
    val tot = cnt.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val p = cnt.join(broadcast(tot), "source")
      .selectExpr("source", "tok", "cnt * 1000000L DIV tot AS p6")
    val pairs = tot.select(col("source").as("source_a"))
      .join(tot.select(col("source").as("source_b")),
        col("source_a") < col("source_b"))
    val contrib = p.join(broadcast(pairs),
        col("source") === col("source_a") || col("source") === col("source_b"))
      .select(col("source_a"), col("source_b"), col("tok"),
        when(col("source") === col("source_a"), col("p6"))
          .otherwise(-col("p6")).as("c"))
    contrib.groupBy(col("source_a"), col("source_b"), col("tok"))
      .agg(abs(sum(col("c"))).as("d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("d")).as("l1_x6"),
        graft.functions.TopKAggregator.top_k_str(1)(
          col("d").cast("double"), col("tok")).as("top"))
      .select(col("source_a"), col("source_b"), col("l1_x6"),
        element_at(col("top"), 1).getField("id").as("top_tok"),
        element_at(col("top"), 1).getField("score").cast("long")
          .as("top_div6"))
  }

  /** Delta-vs-corpus drift probe against a PERSISTED token-count index
    * ([[TextAnalysis.appendTokenCountPartial]]'s layout): the
    * "did today's crawl drift?" alert. The corpus distribution folds
    * from the bucketed index (no corpus re-scan, no index-side
    * exchange); the delta distribution is one batch-sized aggregate;
    * the compare reuses [[sourceDriftReport]]'s signed-contribution
    * device under two fixed labels. One row: the L1 distance and the
    * most divergent token — the number an ingest gate thresholds on.
    * Cost is O(|delta| + |index vocabulary|), independent of corpus
    * text size: the same economics as every other persisted-index
    * probe (p52/p63/p65/p71/p91). */
  def driftProbeIncremental(spark: org.apache.spark.sql.SparkSession,
                            delta: DataFrame, table: String): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "tok-counts")
    // retraction-aware fold (zero folds absent, negative folds loud)
    val corpus = TextAnalysis.foldTokenCounts(idx, table)
      .select(lit("corpus").as("source"), col("tok"), col("cnt"))
    val dd = delta
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(lit("delta").as("source"), col("tok"), col("cnt"))
    // "corpus" < "delta", so the shared core's lexicographic pair
    // derivation yields exactly the one (corpus, delta) row
    pairwiseDrift(corpus.unionByName(dd))
  }

  /** Per-language LOG2-bucketed histogram of per-document token counts:
    * bin = floor(log2(v)) computed as pure INTEGER work (the base-2
    * digit count of v, via `conv`), so there is no float-boundary risk
    * at exact powers of two and the row replays bit-for-bit in DuckDB
    * (`length(printf('%b', v)) - 1`). Unlike the fixed-width form
    * ([[tokenCountHistogram]], whose bin edges depend on the global
    * min/max and therefore shift as data arrives), log2 bin edges are
    * ABSOLUTE — which is exactly what makes the sketch stream-
    * maintainable: per-batch (lang, bin, cnt) partials fold by plain
    * addition into the monolithic histogram ([[appendLog2HistogramPartial]]).
    * One map-side-combining aggregate; state bounded by
    * |langs| x 64 bins. */
  def log2TokenHistogram(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        greatest(size(TextAnalysis.tokens(col("text"))).cast("long"),
          lit(1L)).as("v"))
      .withColumn("bin", (length(conv(col("v").cast("string"), 10, 2)) - 1)
        .cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("bin"), col("cnt"),
        expr("cast(pow(2.0d, bin) as bigint)").as("bin_lo"),
        expr("cast(pow(2.0d, bin + 1) as bigint) - 1").as("bin_hi"))

  /** STREAMED maintenance for the log2 histogram: one micro-batch's
    * (lang, bin, cnt) partial lands as its own batch_id partition.
    * The fold is EXACT — counts add — and needs no global bounds pass
    * because log2 bin edges are absolute (the property that makes this
    * the deployable streaming histogram; a fixed-WIDTH histogram's
    * min/max-derived edges would re-bin history on every batch).
    * State per batch: at most |langs| x 64 rows. */
  def appendLog2HistogramPartial(spark: org.apache.spark.sql.SparkSession,
                                 batch: DataFrame, table: String,
                                 batchId: Long, buckets: Int = 8): Unit = {
    val partial = batch.select(col("lang"),
        greatest(size(TextAnalysis.tokens(col("text"))).cast("long"),
          lit(1L)).as("v"))
      .withColumn("bin", (length(conv(col("v").cast("string"), 10, 2)) - 1)
        .cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    graft.io.Bucketing.landPartial(spark, partial, table, "log2-hist",
      Seq("lang"), buckets, batchId)
  }

  /** Fold a streamed ([[appendLog2HistogramPartial]]) histogram back to
    * [[log2TokenHistogram]]'s exact output shape: counts sum per
    * (lang, bin); the edge columns are pure functions of the bin. The
    * fold IS the complete answer — no corpus re-scan, no baseline
    * column — because the histogram is exactly additive. */
  def log2HistogramFromStreamedIndex(spark: org.apache.spark.sql.SparkSession,
                                     table: String): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "log2-hist")
    idx.groupBy(col("lang"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("lang"), col("bin"), col("cnt"),
        expr("cast(pow(2.0d, bin) as bigint)").as("bin_lo"),
        expr("cast(pow(2.0d, bin + 1) as bigint) - 1").as("bin_hi"))
  }

  /** Per-language fixed-width histogram of per-document token counts:
    * one tiny min/max aggregate broadcast back, then a map-only bin
    * assignment and a count aggregate — the scale-correct histogram
    * (an equi-DEPTH ntile histogram needs a global sort; fixed-width
    * needs two narrow passes). Bin arithmetic is pure integer work on
    * the closed range [lo, hi]: bin = (v - lo) * bins / (hi - lo + 1),
    * always in [0, bins). Empty bins are absent by construction (the
    * oracle groups the same way). */
  def tokenCountHistogram(docs: DataFrame, bins: Int = 16): DataFrame = {
    val v = docs.select(col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("v"))
    val bounds = v.groupBy("lang")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    v.join(broadcast(bounds), Seq("lang"))
      .withColumn("bin",
        floor((col("v") - col("lo")) * bins /
          (col("hi") - col("lo") + lit(1))).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("cnt"),
        min(col("v")).as("bin_min"), max(col("v")).as("bin_max"))
      .select(col("lang"), col("bin"), col("cnt"), col("bin_min"),
        col("bin_max"))
  }
}
