package graft.queries

import graft.{Sessions, Tables}
import graft.ops.{Dedup, Selection, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-selection catalog rows: per-source caps, global token
  * budgets, exact substring overlap and its removal/incremental forms,
  * and the seeded training shuffle — the operators that decide what
  * ships in a training set once scoring and dedup are done, and in
  * what order. Every row carries a full DuckDB hash oracle; the
  * quality formula is the p07/p48 one, replayed verbatim in SQL. */
object SelectionQueries {

  // the p07 quality score replayed in SQL (same CTEs as p48's oracle),
  // with `source` carried through for the per-source cap
  private val qualityCte: String =
    """t AS (
      |  SELECT doc_id, source, text,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','of','and','to','is'))) AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source, n_tokens,
      |    0.4 * (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) +
      |    0.3 * (CAST(n_stop AS DOUBLE) / n_tokens) +
      |    0.3 * least((CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens)
      |          / 10.0, 1.0) AS quality_score
      |  FROM t)""".stripMargin

  /** p49 — per-source quality cap: at most 5 documents per source,
    * best-quality first (doc_id tie-break) — "no domain may dominate
    * the mix". The Spark side is a bounded top-k AGGREGATE (map-side
    * combinable, never a per-source window sort); the oracle is the
    * window form, which is exactly the semantic contract the aggregate
    * must reproduce. */
  def sourceCappedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    Selection.groupCappedTopK(scored, col("source"), col("quality_score"),
        col("doc_id"), cap = 5)
      .select(col("group_key").as("source"), col("rank"),
        col("id").as("doc_id"), col("score").as("quality_score"))
  }

  val sourceCappedSampleSql: String =
    s"""WITH $qualityCte,
       |r AS (
       |  SELECT source, doc_id, quality_score,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id) AS rank
       |  FROM q)
       |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, quality_score
       |FROM r WHERE rank <= 5""".stripMargin

  /** p50 — token-budget corpus selection: take documents best-quality
    * first until the running token total exceeds the budget (prefix
    * semantics). The Spark side computes the global running sum with
    * bucket-offset prefix sums (no single-partition global window — the
    * [[graft.ops.Ids]] device applied to a weight instead of a count);
    * the oracle IS the global window, pinning exact equality. Integer
    * token weights make the cumulative sum engine-exact. */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityScore(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    Selection.budgetSelect(scored,
        ord = lit(1.0) - col("quality_score"), weight = col("n_tokens"),
        tie = col("doc_id"), budget = 20000L)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"),
        col("cum_weight").as("cum_tokens"), col("is_selected"))
  }

  val tokenBudgetSelectSql: String =
    s"""WITH $qualityCte,
       |c AS (
       |  SELECT doc_id, quality_score, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    -- DuckDB sums BIGINT into HUGEINT; pin the wire type
       |    CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (
       |      ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM q)
       |SELECT doc_id, quality_score, n_tokens, cum_tokens,
       |  cum_tokens <= 20000 AS is_selected
       |FROM c""".stripMargin

  /** p51 — exact substring-overlap pairs: documents sharing a verbatim
    * 30-character window, with the distinct-shared-window count — the
    * memorization-risk signal token-level Jaccard dilutes. The Spark
    * side buckets on a 64-bit hash of the window (join accelerator,
    * never in the output); the oracle joins on the window STRINGS, so
    * a hash-match also certifies the hashing introduced no collision
    * artifacts. Doc-frequency cap and pair aggregation replayed
    * exactly. */
  def substringOverlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringOverlapPairs(Tables.documents(spark, dir),
      k = 30, maxDocFreq = 50)

  val substringOverlapSql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(CASE WHEN length(text) < 30 THEN [text]
      |    ELSE list_distinct([substring(text, i, 30)
      |                        for i in range(1, length(text) - 28)]) END) AS gram
      |  FROM documents),
      |f AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 50),
      |k AS (SELECT doc_id, g.gram FROM g JOIN f USING (gram)),
      |p AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id
      |      FROM k l JOIN k r ON l.gram = r.gram AND l.doc_id < r.doc_id)
      |SELECT left_id, right_id, COUNT(*) AS n_shared_windows
      |FROM p GROUP BY left_id, right_id""".stripMargin

  /** p70 — exact duplicated-passage removal (Dedup.substringRemove):
    * the REWRITE step p51 stops short of. Verbatim 8-token spans with
    * ≥2 occurrences keep their global-first copy; every other
    * occurrence is cut and the text rejoined. The oracle replays window
    * extraction, keep-first ranking, interval coverage and the rejoin
    * on the window STRINGS (the Spark side shuffles only 64-bit
    * hashes), so the hash match certifies both the rewrite arithmetic
    * and the absence of hash-collision artifacts — cleaned_text is
    * compared verbatim, the strongest possible contract for a rewrite
    * operator. */
  def substringRemoval(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringRemove(Tables.documents(spark, dir), k = 8)

  /** p83 — p70's rewrite through the SKEW-SAFE aggregate df form
    * (groupBy + join-back instead of Window.partitionBy(h) — the
    * boilerplate-heavy-crawl path, see Dedup.substringRemove). The
    * oracle is p70's VERBATIM: the two forms are semantically
    * identical, and running both as hash-checked catalog rows keeps
    * that equivalence under the driver's oracle gate, not just the
    * planted-skew spec. */
  def substringRemovalSkewSafe(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringRemove(Tables.documents(spark, dir), k = 8,
      skewSafe = true)

  val substringRemovalSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |o AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      |      FROM t, unnest(range(1, len(w) - 6)) AS r(i) WHERE len(w) >= 8),
      |m AS (SELECT doc_id, pos,
      |        COUNT(*) OVER (PARTITION BY gram) AS df,
      |        ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      |      FROM o),
      |rem AS (SELECT doc_id, pos FROM m WHERE df >= 2 AND rn > 1),
      |tok AS (SELECT doc_id, j - 1 AS j, w[j] AS tk
      |        FROM t, unnest(range(1, len(w) + 1)) AS r(j)),
      |tr AS (SELECT DISTINCT tok.doc_id, tok.j FROM tok
      |       JOIN rem ON tok.doc_id = rem.doc_id
      |        AND rem.pos <= tok.j AND tok.j < rem.pos + 8),
      |kept AS (SELECT tok.doc_id, tok.j, tok.tk FROM tok
      |         LEFT JOIN tr ON tok.doc_id = tr.doc_id AND tok.j = tr.j
      |         WHERE tr.j IS NULL),
      |a AS (SELECT doc_id, COUNT(*) AS n_kept,
      |        string_agg(tk, ' ' ORDER BY j) AS cleaned
      |      FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
      |  CAST(len(t.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
      |  COALESCE(a.cleaned, '') AS cleaned_text
      |FROM t LEFT JOIN a ON t.doc_id = a.doc_id""".stripMargin

  /** p71 — incremental passage removal against the PERSISTED window-df
    * index (Dedup.buildWindowDfIndex / substringRemoveIncremental):
    * the daily-ingest shape of p70, completing the persisted-index
    * symmetry for the passage-dedup family (p54 minhash, p56/p57
    * embeddings, p63 line df, now window df). Corpus = doc_id % 5 != 0
    * (indexed once per session/input), delta = doc_id % 5 == 0
    * (rewritten on probe). Ingest-order priority: a delta span is cut
    * when its window exists anywhere in the corpus or earlier in the
    * delta. Broadcast disabled so the row exercises the bucketed
    * no-corpus-exchange join it documents. Oracle replays the same
    * two-phase rule on window STRINGS and compares cleaned_text
    * verbatim. */
  def substringRemovalIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p71_windf", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 0L))
      Dedup.buildWindowDfIndex(docs.filter(col("doc_id") % 5 =!= 0),
        idxTbl, k = 8, buckets = 8)
    Sessions.withoutBroadcast(spark) {
      Dedup.substringRemoveIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), idxTbl, k = 8)
    }
  }

  /** p119 — RETRACTION for the window-df family via the negated-df
    * device, promoted from its StreamedIndexSpec certification to the
    * driver's hash gate (VERDICT r17 item 4; the p118 pattern on the
    * passage-removal index): the corpus lands as an appended partial,
    * POISON twins of every delta doc (doc_id + 10M, text verbatim)
    * land as a second batch — planting every delta 8-token window in
    * the index — and a retraction batch
    * (Dedup.retractWindowDfPartial) cancels them exactly; windows
    * whose EVERY occurrence was poison fold to zero and must read as
    * ABSENT (presence is this family's predicate), not
    * present-at-zero. The probe shares p71's oracle: any leaked
    * poison window would cut a delta span that the clean corpus never
    * matches, so the hash is a per-span leak detector. */
  def substringRemovalRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p119_windf", dir)
    // completion MARKER: a crash between the poison append and the
    // retraction must rebuild, never probe a poisoned index (the
    // p116/p117/p118 discipline)
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p119_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      Dedup.appendWindowDfPartial(spark, corpus, idxTbl, 0L, k = 8)
      Dedup.appendWindowDfPartial(spark, poison, idxTbl, 1L, k = 8)
      Dedup.retractWindowDfPartial(spark, poison, idxTbl, 2L, k = 8)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    Sessions.withoutBroadcast(spark) {
      Dedup.substringRemoveIncremental(spark, delta, idxTbl, k = 8)
    }
  }

  val substringRemovalIncrementalSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |o AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      |      FROM t, unnest(range(1, len(w) - 6)) AS r(i) WHERE len(w) >= 8),
      |corp AS (SELECT DISTINCT gram FROM o WHERE doc_id % 5 <> 0),
      |d AS (SELECT doc_id, pos, gram,
      |        ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      |      FROM o WHERE doc_id % 5 = 0),
      |rem AS (SELECT d.doc_id, d.pos FROM d LEFT JOIN corp USING (gram)
      |        WHERE corp.gram IS NOT NULL OR d.rn > 1),
      |tok AS (SELECT doc_id, j - 1 AS j, w[j] AS tk
      |        FROM t, unnest(range(1, len(w) + 1)) AS r(j)
      |        WHERE doc_id % 5 = 0),
      |tr AS (SELECT DISTINCT tok.doc_id, tok.j FROM tok
      |       JOIN rem ON tok.doc_id = rem.doc_id
      |        AND rem.pos <= tok.j AND tok.j < rem.pos + 8),
      |kept AS (SELECT tok.doc_id, tok.j, tok.tk FROM tok
      |         LEFT JOIN tr ON tok.doc_id = tr.doc_id AND tok.j = tr.j
      |         WHERE tr.j IS NULL),
      |a AS (SELECT doc_id, COUNT(*) AS n_kept,
      |        string_agg(tk, ' ' ORDER BY j) AS cleaned
      |      FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
      |  CAST(len(t.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
      |  COALESCE(a.cleaned, '') AS cleaned_text
      |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
      |WHERE t.doc_id % 5 = 0""".stripMargin

  /** p72 — deterministic seeded shuffle + sharding
    * (Selection.shardShuffle): the training-export ordering stage. The
    * 60-bit md5 shuffle key is engine-independent arithmetic, so the
    * oracle recomputes the ENTIRE permutation — shard assignment and
    * within-shard positions — from scratch in DuckDB and the hash
    * match proves the order is reproducible bit-for-bit outside Spark
    * (the property a training pipeline actually needs from "seeded"). */
  def shardShuffle(spark: SparkSession, dir: String): DataFrame =
    Selection.shardShuffle(Tables.documents(spark, dir), shards = 8,
      salt = "shuf1")

  val shardShuffleSql: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substring(md5('shuf1:' || CAST(doc_id AS VARCHAR)),
      |      1, 15)) AS BIGINT) AS shuffle_key
      |  FROM documents)
      |SELECT shuffle_key % 8 AS shard,
      |  ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
      |                     ORDER BY shuffle_key, doc_id) AS position,
      |  doc_id, shuffle_key
      |FROM k""".stripMargin

  /** p74 — exact-N uniform sample (Selection.uniformSampleExact): the
    * seeded-hash order-and-take that replaces ORDER BY random() LIMIT n
    * (a global sort) with TakeOrderedAndProject (per-partition top-n,
    * bounded movement). Oracle recomputes the same keyed order in
    * DuckDB — reproducibility outside Spark is the point of seeding. */
  def uniformSample(spark: SparkSession, dir: String): DataFrame =
    Selection.uniformSampleExact(Tables.documents(spark, dir), n = 100,
      salt = "sample1")

  val uniformSampleSql: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substring(md5('sample1:' || CAST(doc_id AS VARCHAR)),
      |      1, 15)) AS BIGINT) AS sample_key
      |  FROM documents)
      |SELECT doc_id, sample_key FROM k
      |ORDER BY sample_key, doc_id LIMIT 100""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p72_shard_shuffle" -> (shardShuffle _),
    "p74_uniform_sample_exact" -> (uniformSample _),
    "p49_source_capped_sample" -> (sourceCappedSample _),
    "p50_token_budget_select" -> (tokenBudgetSelect _),
    "p51_substring_overlap" -> (substringOverlap _),
    "p70_substring_removal" -> (substringRemoval _),
    "p83_substring_removal_skewsafe" -> (substringRemovalSkewSafe _),
    "p71_substring_removal_incr" -> (substringRemovalIncremental _),
    "p119_window_retraction" -> (substringRemovalRetraction _))

  val oracles: Map[String, String] = Map(
    "p49_source_capped_sample" -> sourceCappedSampleSql,
    "p50_token_budget_select" -> tokenBudgetSelectSql,
    "p51_substring_overlap" -> substringOverlapSql,
    "p70_substring_removal" -> substringRemovalSql,
    "p83_substring_removal_skewsafe" -> substringRemovalSql,
    "p71_substring_removal_incr" -> substringRemovalIncrementalSql,
    // retraction must equal the clean-corpus build: p71's oracle is the
    // leak detector for any surviving poison window
    "p119_window_retraction" -> substringRemovalIncrementalSql,
    "p72_shard_shuffle" -> shardShuffleSql,
    "p74_uniform_sample_exact" -> uniformSampleSql)
}
