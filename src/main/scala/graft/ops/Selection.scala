package graft.ops

import graft.functions.TopKAggregator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus SELECTION operators — the "which documents make the training
  * set" step that sits after scoring and dedup in an LLM data pipeline:
  * per-group caps (no domain may dominate) and global token budgets
  * (the corpus must fit the compute plan).
  *
  * Both are shaped for 100 TB: the per-group cap is a bounded top-k
  * AGGREGATE (map-side combinable, at most k rows shuffled per group per
  * map task — never a per-group window sort over all members), and the
  * budget selection computes a global running sum without a global
  * sort, using the bucket-offset prefix-sum trick from [[Ids]].
  */
object Selection {

  /** Keep at most `cap` rows per group, the best first by
    * (score desc, tie asc) — e.g. "at most N documents per source,
    * highest quality". Emits (group, rank, id, score), rank 1-based.
    *
    * A heavy-hitter group (one domain owning half the corpus) costs a
    * bounded k-element buffer per map task, not a single-partition sort
    * of half the corpus — the reason this is an aggregate, not
    * `row_number().over(Window.partitionBy(group))`.
    *
    * Output column names (group_key, rank, id, score) are fixed; the
    * aggregate REPLACES the input schema, so same-named input columns
    * cannot be silently shadowed — no reserved-name hazard here. */
  def groupCappedTopK(df: DataFrame, group: Column, score: Column,
                      id: Column, cap: Int): DataFrame = {
    require(cap >= 1, s"groupCappedTopK: cap must be >= 1, got $cap")
    df.groupBy(group.as("group_key"))
      .agg(TopKAggregator.top_k(cap)(score.cast("double"), id.cast("long"))
        .as("tk"))
      .select(col("group_key"), posexplode(col("tk")))
      .select(col("group_key"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("id"),
        col("col.score").as("score"))
  }

  /** Global GREEDY selection under a weight budget: rows are taken in
    * (ord asc, tie asc) order while the running `weight` sum stays
    * within `budget` (prefix semantics: the first row that would
    * overflow, and everything after it, is unselected). Emits the input
    * plus `cum_weight` (inclusive running sum) and `is_selected`.
    *
    * The running sum is computed WITHOUT `sum().over(Window.orderBy)` —
    * which funnels every row through one partition. Instead `ord`
    * (must be a double in [0, 1], e.g. 1 - quality_score) is bucketed
    * into `resolution` fixed-width ranges; per-bucket weight totals
    * (≤ resolution + 1 rows) are prefix-summed into bucket offsets, and
    * each row's cum_weight is its bucket offset plus a within-bucket
    * running sum — the window is bounded by the bucket's value width.
    * Equal ord values always share a bucket, so the result equals the
    * exact global running sum whatever the bucket count. Integer weight
    * arithmetic: the sum is exact, engine-replayable.
    *
    * The ord-domain contract is ENFORCED, not assumed: an ord outside
    * [0, 1] would silently collapse the bucketing into the clamped
    * boundary buckets (still correct, quietly unscalable), and a
    * null/NaN ord or null weight would produce a null bucket key that
    * the offsets join drops — a silent row-loss path. Both fail loudly
    * per-row instead (a codegen'd branch, no extra pass over the data). */
  def budgetSelect(df: DataFrame, ord: Column, weight: Column, tie: Column,
                   budget: Long, resolution: Int = 1024): DataFrame = {
    require(budget >= 0, s"budgetSelect: budget must be >= 0, got $budget")
    require(resolution >= 1, s"budgetSelect: resolution must be >= 1")
    for (c <- Seq("sel_ord", "sel_w", "sel_bucket", "cum_weight", "is_selected"))
      require(!df.columns.contains(c),
        s"budgetSelect writes reserved column '$c'; rename the input column")
    val withB = df
      .withColumn("sel_ord", ord.cast("double"))
      .withColumn("sel_w", weight.cast("long"))
      .withColumn("sel_ord",
        when(col("sel_ord").isNull || isnan(col("sel_ord")) ||
            col("sel_ord") < 0.0 || col("sel_ord") > 1.0,
          raise_error(concat(
            lit("budgetSelect: ord must be a non-null double in [0, 1], got "),
            coalesce(col("sel_ord").cast("string"), lit("NULL")))))
        .otherwise(col("sel_ord")))
      .withColumn("sel_w",
        when(col("sel_w").isNull,
          raise_error(lit("budgetSelect: weight must be non-null")))
        .otherwise(col("sel_w")))
      .withColumn("sel_bucket",
        least(greatest(floor(col("sel_ord") * resolution), lit(0L)),
          lit(resolution.toLong)).cast("long"))
    val offsets = withB.groupBy(col("sel_bucket"))
      .agg(sum(col("sel_w")).as("bucket_w"))
      .withColumn("bucket_offset",
        coalesce(
          // unpartitioned on purpose: this window runs over the per-bucket
          // aggregate, whose row count is bounded by the bucket count
          // (resolution + 1), not by the input
          sum(col("bucket_w")).over(Window.orderBy(col("sel_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("bucket_w")
    val w = Window.partitionBy(col("sel_bucket"))
      .orderBy(col("sel_ord").asc, tie.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(offsets), Seq("sel_bucket"))
      .withColumn("cum_weight", col("bucket_offset") + sum(col("sel_w")).over(w))
      .withColumn("is_selected", col("cum_weight") <= budget)
      .drop("sel_bucket", "bucket_offset", "sel_ord", "sel_w")
  }

  /** Deterministic seeded global shuffle + sharding — the data-ORDERING
    * stage between selection/packing and training export: every
    * training run wants the corpus in a pseudo-random order that is (a)
    * reproducible bit-for-bit, (b) engine-independent (the order must
    * survive a rerun, a different cluster, or a different engine
    * entirely), and (c) computable without a global sort.
    *
    * Each row's shuffle key is the 60-bit prefix of
    * `md5("<salt>:<doc_id>")` — exact integer arithmetic any engine can
    * replay (the p03/p09 md5 device); its low bits pick the shard and
    * rows sort by key WITHIN each shard. Reshuffling between epochs is
    * a salt change, not a data move decision.
    *
    * Scale shape: ONE exchange (hash on shard) + per-shard local sort —
    * the window partitions by shard, so there is no single-partition
    * global window (the q44 trap) and no global sort; at 100 TB shards
    * are thousands of independently-sorted, independently-consumable
    * partitions. md5 keys are uniform, so shard skew is 1/sqrt(n/S). */
  /** Deterministic EXACT-size uniform sample: order by a seeded 60-bit
    * md5 key and keep the first `n` — every row equally likely under
    * the hash, sample size exactly n (rand() < p only hits n in
    * expectation), reproducible and engine-independent like
    * [[shardShuffle]]. The plan matters as much as the semantics: a
    * naive ORDER BY random() LIMIT n is a GLOBAL SORT of the corpus;
    * sorted-limit compiles to TakeOrderedAndProject — each partition
    * keeps its local top-n and only n·partitions candidate rows ever
    * move — bounded memory, no global sort, asserted in ExplainSpec. */
  def uniformSampleExact(docs: DataFrame, n: Int,
                         salt: String = "sample1"): DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    val key = conv(substring(md5(
      concat(lit(salt + ":"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    docs.select(col("doc_id"), key.as("sample_key"))
      .orderBy(col("sample_key"), col("doc_id"))
      .limit(n)
  }

  def shardShuffle(docs: DataFrame, shards: Int = 8,
                   salt: String = "shuf1"): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val key = conv(substring(md5(
      concat(lit(salt + ":"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shuffle_key"), col("doc_id"))
    docs.select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard", col("shuffle_key") % shards)
      .withColumn("position", row_number().over(w).cast("long"))
      .select(col("shard"), col("position"), col("doc_id"), col("shuffle_key"))
  }
}
