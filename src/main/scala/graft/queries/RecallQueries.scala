package graft.queries

import graft.{Sessions, Tables}
import graft.ops.{Dedup, Selection, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quality-measurement catalog: recall of the approximate ANN/dedup paths
  * against their exact baselines, plus oracles for operators whose seeded
  * geometry (random hyperplanes, arithmetic id scrambles) is itself
  * expressible as plain SQL — turning the round-1 `no_oracle` blind spots
  * into driver-verified rows.
  *
  * The DuckDB side replays the LSH bucket / IVF quantizer exactly: the
  * hyperplanes are deterministic seeded constants embedded as DOUBLE[]
  * literals, dots use the same left-to-right fold as the native VecDot
  * expression, and the IVF centroid sample is a Knuth multiplicative
  * scramble — pure arithmetic both engines compute identically.
  */
object RecallQueries {

  private def planeList(p: Seq[Double]): String =
    p.mkString("([", ", ", "]::DOUBLE[])")

  /** DuckDB expressions replaying Similarity.lshBucketsMulti: one b-bit
    * bucket id per hash table, table t built from planes [t*b, (t+1)*b). */
  private def tableBucketSqls(embCol: String, tables: Int, b: Int): Seq[String] = {
    val planes = Similarity.hyperplanes(tables * b, 64)
    (0 until tables).map { t =>
      (0 until b).map { j =>
        val p = planes(t * b + j)
        s"(CASE WHEN list_sum([CAST($embCol[i] AS DOUBLE) * ${planeList(p)}[i] " +
          s"for i in range(1, 65)]) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
  }

  /** `bk` CTE body: vec_id, embedding, b0..b{tables-1} bucket columns. */
  private def bucketCols(embCol: String, tables: Int, b: Int): String =
    tableBucketSqls(embCol, tables, b).zipWithIndex
      .map { case (e, t) => s"$e AS b$t" }.mkString(",\n  ")

  /** Any-table collision predicate between aliases `l` and `r`. */
  private def collideSql(l: String, r: String, tables: Int): String =
    (0 until tables).map(t => s"$l.b$t = $r.b$t").mkString("(", " OR ", ")")

  private[queries] def dotSql(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 65)])"

  private[queries] def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  private[queries] def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}), 6)"

  /** Brute-force top-10 (stride-50 queries) as reusable CTEs — the same
    * semantics as the p10 oracle. */
  private val bruteCtes: String =
    s"""bq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 50 = 0),
       |bp AS (SELECT q_id, e.vec_id AS c_id, ${cosSql("q_emb", "e.embedding")} AS cos_sim
       |  FROM embeddings e, bq WHERE e.vec_id <> q_id),
       |br AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, c_id) AS rn FROM bp),
       |brute AS (SELECT q_id, c_id FROM br WHERE rn <= 10)""".stripMargin

  // ---------------------------------------------------------------------
  // p23 — transitive dedup groups over a SQL-replicable edge set
  // ---------------------------------------------------------------------

  /** Connected-component dedup groups over prefix-blocked exact char
    * trigram Jaccard edges. Unlike the MinHash edge set (seeded xxhash64,
    * not SQL-expressible), these edges replay in DuckDB, so the
    * components operator itself — the union-find / label-propagation
    * machinery behind p19 — gets a full hash oracle via a recursive CTE,
    * over a NON-TRIVIAL edge set: the fixture's near-dup families share
    * long prefixes, and multi-mutation families form real transitive
    * chains A~B~C. */
  def dedupGroupsChain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.dedupGroups(docs, Dedup.blockedNgramJaccardPairs(docs))
  }

  /** Shared connected-component CTEs over the SQL-replayable blocked
    * trigram-Jaccard edge set (used by the p23 and p43 oracles). */
  private val componentCtes: String =
    """g AS (
      |  SELECT doc_id, text,
      |    list_distinct([substring(text, i, 3)
      |                   for i in range(1, greatest(length(text)-1, 2))]) AS grams
      |  FROM documents),
      |e AS (
      |  SELECT l.doc_id AS a, r.doc_id AS b
      |  FROM g l JOIN g r ON substring(l.text, 1, 40) = substring(r.text, 1, 40)
      |    AND l.doc_id < r.doc_id
      |  WHERE CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) /
      |        len(list_distinct(list_concat(l.grams, r.grams))) >= 0.7),
      |es AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      |reach(id, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT es.b, reach.root FROM reach JOIN es ON es.a = reach.id)""".stripMargin

  val dedupGroupsChainSql: String =
    s"""WITH RECURSIVE $componentCtes
       |SELECT id AS doc_id, MIN(root) AS group_id, (MIN(root) = id) AS is_keeper
       |FROM reach GROUP BY id""".stripMargin

  // ---------------------------------------------------------------------
  // p43 — dedup-group representative selection (keep the BEST, not the first)
  // ---------------------------------------------------------------------

  /** One row per near-dup component: the member with the highest p07
    * quality score survives (doc_id-desc tiebreak), with the member
    * count. The keep-first policy (p19/p23's `is_keeper`) is the cheap
    * default; keep-best is what a curation pipeline actually ships —
    * among duplicates, retain the cleanest copy. Edges and quality both
    * replay in SQL, so the whole policy is hash-checked. */
  def dedupRepresentatives(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val groups = Dedup.dedupGroups(docs, Dedup.blockedNgramJaccardPairs(docs))
    val scores = graft.ops.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
    Dedup.groupRepresentatives(groups, scores)
  }

  val dedupRepresentativesSql: String =
    s"""WITH RECURSIVE $componentCtes,
       |grp AS (SELECT id AS doc_id, MIN(root) AS group_id FROM reach GROUP BY id),
       |q AS (
       |  SELECT doc_id,
       |    0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
       |           len(string_split(text, ' '))) +
       |    0.3 * (CAST(len(list_filter(string_split(text, ' '),
       |           x -> x IN ('the','a','of','and','to','is'))) AS DOUBLE) /
       |           len(string_split(text, ' '))) +
       |    0.3 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) /
       |           len(string_split(text, ' '))) / 10.0, 1.0) AS quality_score
       |  FROM documents),
       |j AS (SELECT grp.group_id, grp.doc_id, q.quality_score
       |  FROM grp JOIN q USING (doc_id)),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY group_id
       |      ORDER BY quality_score DESC, doc_id DESC) AS rn,
       |    COUNT(*) OVER (PARTITION BY group_id) AS n_members
       |  FROM j)
       |SELECT group_id, doc_id AS rep_id, round(quality_score, 6) AS rep_score,
       |  n_members
       |FROM r WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // p55 — the END-TO-END curation pipeline, composed
  // ---------------------------------------------------------------------

  /** The full corpus-curation chain as ONE row: quality scoring (p07) →
    * near-dup edges → transitive groups (p19 machinery) → keep-best
    * representatives (p43) → per-source cap (p49) → global token budget
    * (p50). Every stage exists as its own catalog row; this row runs
    * them COMPOSED, because that is how users run them, and
    * operator-boundary bugs — column collisions, round-then-compare
    * drift between a stage's output and the next stage's ordering —
    * only surface composed. The edge set is the SQL-replayable blocked
    * trigram-Jaccard one (the p23/p43 device; minhash edges are seeded
    * and cannot replay in the oracle), so the whole chain hash-checks
    * end to end against a single recursive-CTE pipeline oracle.
    *
    * Scale shape is inherited stage by stage: narrow scoring pass,
    * blocked pair join (never all-pairs), driver-or-distributed
    * components, struct-max representatives, bounded top-k aggregate
    * cap, bucket-offset prefix-sum budget — no stage regresses to a
    * global sort or cross join just because it now feeds another.
    *
    * Output: one row per capped representative with its running token
    * total and the final in/out verdict. Ordering fine print: the
    * budget stage orders by (1.0 - rep_score) — the oracle replays
    * THAT expression, not `rep_score DESC`, so any floating-point
    * collision in the subtraction collides identically in both
    * engines. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysis.qualityScore(docs)
    val groups = Dedup.dedupGroups(docs, Dedup.blockedNgramJaccardPairs(docs))
    val reps = Dedup.groupRepresentatives(groups,
      scored.select(col("doc_id"), col("quality_score")))
    val repSrc = reps.select(col("rep_id").as("doc_id"), col("rep_score"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val capped = Selection.groupCappedTopK(repSrc, col("source"),
        col("rep_score"), col("doc_id"), cap = 10)
      .select(col("group_key").as("source"), col("rank").as("cap_rank"),
        col("id").as("doc_id"), col("score").as("rep_score"))
    val withTok = capped
      .join(scored.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
    Selection.budgetSelect(withTok, ord = lit(1.0) - col("rep_score"),
        weight = col("n_tokens"), tie = col("doc_id"), budget = 10000L)
      .select(col("doc_id"), col("source"), col("rep_score"), col("cap_rank"),
        col("n_tokens"), col("cum_weight").as("cum_tokens"),
        col("is_selected"))
  }

  val curationPipelineSql: String =
    s"""WITH RECURSIVE $componentCtes,
       |grp AS (SELECT id AS doc_id, MIN(root) AS group_id FROM reach GROUP BY id),
       |q AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
       |           len(string_split(text, ' '))) +
       |    0.3 * (CAST(len(list_filter(string_split(text, ' '),
       |           x -> x IN ('the','a','of','and','to','is'))) AS DOUBLE) /
       |           len(string_split(text, ' '))) +
       |    0.3 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) /
       |           len(string_split(text, ' '))) / 10.0, 1.0) AS quality_score
       |  FROM documents),
       |j AS (SELECT grp.group_id, grp.doc_id, q.quality_score
       |  FROM grp JOIN q USING (doc_id)),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY group_id
       |      ORDER BY quality_score DESC, doc_id DESC) AS rn
       |  FROM j),
       |rep AS (SELECT doc_id, round(quality_score, 6) AS rep_score
       |  FROM r WHERE rn = 1),
       |src AS (SELECT rep.doc_id, rep.rep_score, d.source
       |  FROM rep JOIN documents d USING (doc_id)),
       |cap AS (SELECT *,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY rep_score DESC, doc_id) AS cap_rank
       |  FROM src),
       |kept AS (SELECT doc_id, source, rep_score,
       |    CAST(cap_rank AS BIGINT) AS cap_rank
       |  FROM cap WHERE cap_rank <= 10),
       |c AS (
       |  SELECT k.doc_id, k.source, k.rep_score, k.cap_rank,
       |    CAST(q.n_tokens AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(q.n_tokens AS BIGINT)) OVER (
       |      ORDER BY 1.0 - k.rep_score, k.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM kept k JOIN q USING (doc_id))
       |SELECT doc_id, source, rep_score, cap_rank, n_tokens, cum_tokens,
       |  cum_tokens <= 10000 AS is_selected
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // p24 — recall@10 of the LSH-bucketed ANN vs the exact baseline
  // ---------------------------------------------------------------------

  /** Per-query recall@10 of lshTopK against bruteForceTopK. The entry
    * uses the library's adaptive sizing; the oracle replays the geometry
    * that sizing resolves to at the sf0.01 verification corpus (8 tables,
    * 3 bits/table for n=500) — at bench scales the entry stays adaptive
    * and the oracle is simply not consulted. */
  def annLshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.bruteForceTopK(emb).select(col("q_id"), col("c_id"))
    val approx = Similarity.lshTopK(emb)
      .select(col("q_id"), col("c_id"), lit(1).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  val annLshRecallSql: String =
    s"""WITH $bruteCtes,
       |$lshCtes,
       |lsh AS (SELECT q_id, c_id FROM lr WHERE rn <= 10)
       |SELECT b.q_id, COUNT(*) AS n_exact, COUNT(l.c_id) AS n_hit,
       |  round(CAST(COUNT(l.c_id) AS DOUBLE) / COUNT(*), 6) AS recall
       |FROM brute b LEFT JOIN lsh l ON l.q_id = b.q_id AND l.c_id = b.c_id
       |GROUP BY b.q_id""".stripMargin

  /** Shared LSH replay CTEs (8 tables x 3 bits — the geometry the
    * adaptive sizing resolves to at the sf0.01 verification corpus). */
  private lazy val lshCtes: String =
    s"""bk AS (SELECT vec_id, embedding,
       |  ${bucketCols("embedding", 8, 3)}
       |  FROM embeddings),
       |lq AS (SELECT * FROM bk WHERE vec_id % 50 = 0),
       |lp AS (SELECT lq.vec_id AS q_id, c.vec_id AS c_id,
       |    ${cosSql("lq.embedding", "c.embedding")} AS cos_sim
       |  FROM bk c JOIN lq ON ${collideSql("c", "lq", 8)} AND c.vec_id <> lq.vec_id),
       |lr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, c_id) AS rn FROM lp)""".stripMargin

  /** Full oracle for PipelineQueries' p12_ann_lsh_topk: the bucket
    * geometry is plain seeded arithmetic, so the RESULT rows — not just
    * their recall — replay in SQL. */
  val annLshTopKSql: String =
    s"""WITH $lshCtes
       |SELECT q_id, c_id, cos_sim FROM lr WHERE rn <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // p25 — recall@10 of the IVF ANN vs the exact baseline
  // ---------------------------------------------------------------------

  /** Per-query recall@10 of ivfTopK (16 hash-sampled centroids, 4 probes)
    * against bruteForceTopK. The oracle replays the whole IVF pipeline —
    * centroid sample, cell assignment, probe ranking, in-cell top-k — in
    * SQL, so this checks the quantizer's semantics, not just the number. */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.bruteForceTopK(emb).select(col("q_id"), col("c_id"))
    val approx = Similarity.ivfTopK(emb)
      .select(col("q_id"), col("c_id"), lit(1).as("hit"))
    exact.join(approx, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Shared IVF replay CTEs (16 centroids, 4 probes — the p16 entry's
    * parameters). `ip` carries the candidate's cell so the p16 result
    * oracle can emit it. */
  private lazy val ivfCtes: String =
    s"""cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
       |  ORDER BY ((vec_id % 1048576) * 2654435761) % 4294967296, vec_id LIMIT 16),
       |sc AS (SELECT e.vec_id, e.embedding, c.cent_id,
       |    ${dotSql("e.embedding", "c.cent_emb")} /
       |      (${normSql("e.embedding")} * ${normSql("c.cent_emb")}) AS cent_cos
       |  FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cent_cos DESC, cent_id DESC) AS rn FROM sc) WHERE rn = 1),
       |pr AS (SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cent_cos DESC, cent_id ASC) AS rn
       |    FROM sc WHERE vec_id % 50 = 0) WHERE rn <= 4),
       |ip AS (SELECT pr.q_id, a.vec_id AS c_id, a.cell,
       |    ${cosSql("pr.q_emb", "a.embedding")} AS cos_sim
       |  FROM asg a JOIN pr ON a.cell = pr.cell AND a.vec_id <> pr.q_id),
       |ir AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, c_id) AS rn FROM ip)""".stripMargin

  val annIvfRecallSql: String =
    s"""WITH $bruteCtes,
       |$ivfCtes,
       |ivf AS (SELECT q_id, c_id FROM ir WHERE rn <= 10)
       |SELECT b.q_id, COUNT(*) AS n_exact, COUNT(l.c_id) AS n_hit,
       |  round(CAST(COUNT(l.c_id) AS DOUBLE) / COUNT(*), 6) AS recall
       |FROM brute b LEFT JOIN ivf l ON l.q_id = b.q_id AND l.c_id = b.c_id
       |GROUP BY b.q_id""".stripMargin

  /** Full oracle for PipelineQueries' p16_ann_ivf_topk — same CTEs, the
    * result rows themselves. */
  val annIvfTopKSql: String =
    s"""WITH $ivfCtes
       |SELECT q_id, c_id, cell, cos_sim FROM ir WHERE rn <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // p44 — RRF fusion of the LSH and IVF candidate lists
  // ---------------------------------------------------------------------

  /** Hybrid-retrieval fusion: reciprocal-rank-fuse the multi-table-LSH
    * and IVF top-10 lists per query (1/(60+rank) per list, summed,
    * re-ranked). Each retriever misses different true neighbors — LSH
    * by hyperplane luck, IVF by cell-boundary truncation — so the fused
    * list dominates either alone; RRF needs no score calibration
    * between lists, which is why it is the standard combiner. Both
    * input geometries replay in SQL, so the fused RESULT rows are
    * hash-checked, not just a quality number. */
  def annRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.rrfFuseTopK(Seq(
      Similarity.lshTopK(emb).select(col("q_id"), col("c_id"), col("cos_sim")),
      Similarity.ivfTopK(emb).select(col("q_id"), col("c_id"), col("cos_sim"))))
  }

  val annRrfFusionSql: String =
    s"""WITH $lshCtes,
       |$ivfCtes,
       |u AS (
       |  SELECT q_id, c_id,
       |    CAST(round(1.0 / (60 + rn), 9) AS DECIMAL(18,9)) AS contrib
       |  FROM lr WHERE rn <= 10
       |  UNION ALL
       |  SELECT q_id, c_id,
       |    CAST(round(1.0 / (60 + rn), 9) AS DECIMAL(18,9)) AS contrib
       |  FROM ir WHERE rn <= 10),
       |f AS (SELECT q_id, c_id, CAST(SUM(contrib) AS DOUBLE) AS rrf_score,
       |    COUNT(*) AS n_lists
       |  FROM u GROUP BY q_id, c_id),
       |fr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf_score DESC, c_id) AS rn FROM f)
       |SELECT q_id, c_id, rrf_score, n_lists FROM fr WHERE rn <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // p47 — hard-negative mining (cosine-band candidates for contrastive pairs)
  // ---------------------------------------------------------------------

  /** Contrastive-training data prep: per query, the top-10 LSH
    * candidates with cosine in [0.1, 0.35) — informative negatives
    * (non-random, but safely below the positive band; on the random
    * fixture true neighbors reach ~0.5). The oracle replays the bucket
    * geometry plus the band filter, so both the candidate generation
    * and the band policy are hash-checked. */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(Tables.embeddings(spark, dir))

  val annHardNegativesSql: String =
    s"""WITH $lshCtes,
       |hb AS (SELECT q_id, c_id, cos_sim FROM lp
       |  WHERE cos_sim >= 0.1 AND cos_sim < 0.35),
       |hr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos_sim DESC, c_id) AS rn FROM hb)
       |SELECT q_id, c_id, cos_sim FROM hr WHERE rn <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // p57 — incremental embedding dedup against a PERSISTED vector index
  // ---------------------------------------------------------------------

  /** p57 — every delta vector (vec_id % 5 = 0, the p52/p54 split) gets a
    * near-dup verdict against the corpus via the PERSISTED two-table
    * vector index (bands bucketed on the full (t, bucket) probe key;
    * verify payload on corpus_id) — the per-ingest-batch shape of p13.
    * Index cached per (application, input, scratch epoch) like q34/p54/
    * p56, so bench reps time build+probe while same-epoch calls pay the
    * probe only. The oracle replays the bucket geometry AND the
    * threshold verify, so the hash certifies the indexed path loses
    * nothing vs the inline banding (ExplainSpec additionally proves
    * inline ≡ indexed and the shuffle-only-the-delta plan). */
  def embDedupIncrementalIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p57_vbands", dir)
    val vecsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p57_vecs", dir)
    if (!Seq(bandsTbl, vecsTbl)
        .forall(graft.io.Bucketing.hasLandedBatch(spark, _, 0L)))
      Similarity.buildVectorIndex(corpus, bandsTbl, vecsTbl)
    Sessions.withoutBroadcast(spark) {
      Similarity.incrementalCosineVerdictsAgainstIndex(spark, delta,
          bandsTbl, vecsTbl, threshold = 0.45)
    }
  }

  /** Replays the delta-probes-corpus banding (8 tables x 3 bits at the
    * sf0.01 corpus count — adaptiveBitsPerTable(400)), exact cosine
    * verify at 0.45 (just under the random fixture's max neighbor
    * cosine, so the verdict set is non-trivial), argmax tie to the
    * lowest corpus id — same keys as the struct-max because cos_sim is
    * rounded before both. */
  val embDedupIncrementalSql: String =
    s"""WITH c AS (SELECT vec_id, embedding,
       |  ${bucketCols("embedding", 8, 3)}
       |  FROM embeddings WHERE vec_id % 5 <> 0),
       |d AS (SELECT vec_id, embedding,
       |  ${bucketCols("embedding", 8, 3)}
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |p AS (SELECT d.vec_id AS new_id, c.vec_id AS corpus_id,
       |    ${cosSql("d.embedding", "c.embedding")} AS cos_sim
       |  FROM d JOIN c ON ${collideSql("d", "c", 8)}),
       |f AS (SELECT * FROM p WHERE cos_sim >= 0.45),
       |b AS (SELECT new_id, corpus_id, cos_sim,
       |    row_number() OVER (PARTITION BY new_id
       |      ORDER BY cos_sim DESC, corpus_id ASC) AS rn FROM f)
       |SELECT e.vec_id, (b.corpus_id IS NOT NULL) AS is_dup,
       |  b.corpus_id AS dup_of, b.cos_sim AS dup_cos
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) e
       |  LEFT JOIN (SELECT * FROM b WHERE rn = 1) b ON b.new_id = e.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // p39 — IVF-PQ: coarse-quantized candidates ranked by ADC distance
  // ---------------------------------------------------------------------

  /** IVF-PQ top-k (Similarity.ivfPqTopK): IVF candidates, ranked by
    * product-quantized asymmetric distance. Codebook sample, encoding
    * argmin, per-query LUT, and the fixed-order ADC sum are all plain
    * arithmetic — the full pipeline replays in SQL below. */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(spark, dir))

  private def dotNSql(a: String, b: String, d: Int): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, ${d + 1})])"

  /** Squared L2 via the same dot-product decomposition and operator
    * order the Spark side uses: (dot(a,a) - 2*dot(a,b)) + dot(b,b). */
  private def d2Sql(a: String, b: String, d: Int): String =
    s"(${dotNSql(a, a, d)} - 2.0 * ${dotNSql(a, b, d)} + ${dotNSql(b, b, d)})"

  val annIvfPqTopKSql: String =
    s"""WITH $ivfCtes,
       |pqc AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
       |  ORDER BY ((vec_id % 1048576) * 2654435761) % 4294967296, vec_id LIMIT 8),
       |cb AS (SELECT cent_id, s, cent_emb[s*16+1 : (s+1)*16] AS ce
       |  FROM pqc, range(4) t(s)),
       |vs AS (SELECT vec_id, s, embedding[s*16+1 : (s+1)*16] AS ve
       |  FROM embeddings, range(4) t(s)),
       |encr AS (SELECT vs.vec_id, vs.s AS s, cb.cent_id,
       |    row_number() OVER (PARTITION BY vs.vec_id, vs.s
       |      ORDER BY ${d2Sql("ve", "ce", 16)} ASC, cb.cent_id ASC) AS rn
       |  FROM vs JOIN cb ON vs.s = cb.s),
       |enc AS (SELECT vec_id, s, cent_id AS code FROM encr WHERE rn = 1),
       |lut AS (SELECT vs.vec_id AS q_id, vs.s AS s, cb.cent_id AS code,
       |    ${d2Sql("ve", "ce", 16)} AS d2
       |  FROM vs JOIN cb ON vs.s = cb.s WHERE vs.vec_id % 50 = 0),
       |cand AS (SELECT q_id, c_id FROM ip),
       |ad AS (SELECT cand.q_id, cand.c_id,
       |    SUM(CASE WHEN e.s = 0 THEN l.d2 END) AS d0,
       |    SUM(CASE WHEN e.s = 1 THEN l.d2 END) AS d1,
       |    SUM(CASE WHEN e.s = 2 THEN l.d2 END) AS d2_,
       |    SUM(CASE WHEN e.s = 3 THEN l.d2 END) AS d3
       |  FROM cand JOIN enc e ON e.vec_id = cand.c_id
       |    JOIN lut l ON l.q_id = cand.q_id AND l.s = e.s AND l.code = e.code
       |  GROUP BY cand.q_id, cand.c_id),
       |pqr AS (SELECT q_id, c_id, round(d0 + d1 + d2_ + d3, 6) AS adist,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(d0 + d1 + d2_ + d3, 6) ASC, c_id ASC) AS rn
       |  FROM ad)
       |SELECT q_id, c_id, adist FROM pqr WHERE rn <= 10""".stripMargin

  /** Full oracle for PipelineQueries' p19_dedup_groups. The entry's edge
    * set is the MinHash-LSH verified pairs; verification filters on the
    * EXACT shingle-set Jaccard (hashing only accelerates it), and the
    * banding finds every >= 0.7 pair on the verification corpus (the p26
    * contract). So the truth edges — word-3-shingle string Jaccard >=
    * 0.7 — replay in SQL, and components follow via the same recursive
    * min-label CTE the p23 oracle uses. A banding recall regression
    * breaks this row AND p26 together, loudly. */
  // the exact-truth connected components (word-3-shingle Jaccard >= 0.7
  // edges, recursive min-label propagation) shared by the p19 and p53
  // oracles
  private[queries] val componentsCte: String =
    """t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [text]
      |      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |        for i in range(1, len(w) - 1)]) END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |e AS (SELECT l.doc_id AS a, r.doc_id AS b
      |  FROM t l JOIN t r ON l.doc_id < r.doc_id
      |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
      |        (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))
      |        >= 0.7),
      |es AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      |reach(id, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT es.b, reach.root FROM reach JOIN es ON es.a = reach.id)""".stripMargin

  val dedupGroupsSql: String =
    s"""WITH RECURSIVE $componentsCte
       |SELECT id AS doc_id, MIN(root) AS group_id, (MIN(root) = id) AS is_keeper
       |FROM reach GROUP BY id""".stripMargin

  /** p53 — corpus dedup-rate report: the one-row summary a curation
    * dashboard needs (how duplicated IS this corpus?) — doc count,
    * component count, duplicate count and rate, largest near-dup
    * cluster, verified pair count. Everything derives from bounded
    * aggregates over the groups/pairs frames; the three one-row
    * aggregates combine via broadcast cross joins. Oracle: the same
    * recursive-CTE truth as p19, aggregated. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(docs, bands = 16, rowsPerBand = 8,
      shingleN = 3, threshold = 0.7)
    val groups = Dedup.dedupGroups(docs, pairs)
    val sizes = groups.groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
    val gAgg = sizes.agg(count(lit(1)).as("n_groups"),
      max(col("sz")).as("largest_group"))
    val dAgg = groups.agg(count(lit(1)).as("n_docs"),
      sum(when(col("is_keeper"), 0L).otherwise(1L)).as("n_dup_docs"))
    val pAgg = pairs.agg(count(lit(1)).as("n_dup_pairs"))
    dAgg.crossJoin(broadcast(gAgg)).crossJoin(broadcast(pAgg))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
      .select(col("n_docs"), col("n_groups"), col("n_dup_docs"),
        col("dup_rate"), col("largest_group"), col("n_dup_pairs"))
  }

  val dedupReportSql: String =
    s"""WITH RECURSIVE $componentsCte,
       |g AS (SELECT id, MIN(root) AS root FROM reach GROUP BY id),
       |s AS (SELECT root, COUNT(*) AS sz FROM g GROUP BY root)
       |SELECT
       |  (SELECT COUNT(*) FROM documents) AS n_docs,
       |  (SELECT COUNT(*) FROM s) AS n_groups,
       |  (SELECT COUNT(*) FROM g WHERE id <> root) AS n_dup_docs,
       |  round(CAST((SELECT COUNT(*) FROM g WHERE id <> root) AS DOUBLE) /
       |        (SELECT COUNT(*) FROM documents), 6) AS dup_rate,
       |  (SELECT MAX(sz) FROM s) AS largest_group,
       |  (SELECT COUNT(*) FROM e) AS n_dup_pairs""".stripMargin

  // ---------------------------------------------------------------------
  // p26 — candidate recall of the MinHash-LSH banding (rows-only)
  // ---------------------------------------------------------------------

  /** Global candidate recall of the banded MinHash-LSH join against the
    * EXACT all-pairs word-shingle Jaccard truth, both restricted to a
    * bounded doc-id prefix (1000 docs — near-dups land at random id
    * gaps, so a prefix is an unbiased sample and caps the exact side at
    * ~500k pairs forever; the estimator is fixture-bounded, the operator
    * under test is not). Rows-only: the signature uses seeded xxhash64
    * DuckDB cannot replay, but the quality number is driver-visible. */
  def minhashCandidateRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 1000)
    // exact all-pairs truth over 64-bit shingle hashes: sorted-merge set
    // intersection per pair (no per-pair string sets — measured ~5x on
    // the 500k-pair sweep); a hash collision flipping a truth label has
    // probability ~|grams|^2 / 2^64 per pair, i.e. never
    val g = docs.select(col("doc_id"),
      array_sort(transform(Dedup.shingles(col("text"), 3), x => xxhash64(x)))
        .as("grams"))
    val truth = g.select(col("doc_id").as("left_id"), col("grams").as("lg"))
      .join(g.select(col("doc_id").as("right_id"), col("grams").as("rg")),
        col("left_id") < col("right_id"))
      .withColumn("jaccard",
        graft.functions.TextFunctions.sorted_long_jaccard(col("lg"), col("rg")))
      .filter(col("jaccard") >= 0.7)
      .select(col("left_id"), col("right_id"))
    val found = Dedup.minhashLsh(docs, bands = 16, rowsPerBand = 8,
        shingleN = 3, threshold = 0.7)
      .select(col("left_id"), col("right_id"), lit(1).as("hit"))
    truth.join(found, Seq("left_id", "right_id"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
      .select(col("n_true"), col("n_found"),
        round(col("n_found").cast("double") /
          greatest(col("n_true"), lit(1L)), 6).as("recall"))
  }

  // ---------------------------------------------------------------------
  // p13 oracle — LSH-prefiltered embedding dedup, fully replayed in SQL
  // ---------------------------------------------------------------------

  /** Oracle for PipelineQueries' p13_emb_cosine_dedup: same multi-table
    * bucket geometry the adaptive sizing resolves to at the sf0.01
    * verification corpus (8 tables x 3 bits), same keep-first policy
    * (best lower-id match by cos desc, then highest left_id — Spark's
    * max(struct) tiebreak). */
  val embCosineDedupSql: String =
    s"""WITH bk AS (SELECT vec_id, embedding,
       |  ${bucketCols("embedding", 8, 3)}
       |  FROM embeddings),
       |p AS (SELECT l.vec_id AS left_id, r.vec_id AS right_id,
       |    ${cosSql("l.embedding", "r.embedding")} AS cos_sim
       |  FROM bk l JOIN bk r ON ${collideSql("l", "r", 8)} AND l.vec_id < r.vec_id),
       |f AS (SELECT * FROM p WHERE cos_sim >= 0.45),
       |b AS (SELECT right_id, left_id, cos_sim,
       |    row_number() OVER (PARTITION BY right_id
       |      ORDER BY cos_sim DESC, left_id DESC) AS rn FROM f)
       |SELECT e.vec_id, (b.left_id IS NOT NULL) AS is_dup,
       |  b.left_id AS dup_of, b.cos_sim AS dup_cos
       |FROM embeddings e LEFT JOIN (SELECT * FROM b WHERE rn = 1) b
       |  ON b.right_id = e.vec_id""".stripMargin

  /** Oracle for p26: DuckDB computes the exact truth side directly on
    * STRING shingle sets (the Spark side hashes them first purely for
    * speed — xxhash64 collisions are ~|grams|²/2⁶⁴, never), and then
    * asserts the quality CONTRACT: the banding finds every true pair, so
    * n_found = n_true and recall = 1.0. If an LSH change ever drops
    * candidate recall below 1.0 on the verification corpus, this row
    * hash-mismatches — a driver-visible quality regression gate, not
    * just a rows-only count. */
  val minhashCandidateRecallSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [text]
      |      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |        for i in range(1, len(w) - 1)]) END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents WHERE doc_id < 1000)),
      |p AS (SELECT len(list_intersect(l.sh, r.sh)) AS inter,
      |    len(l.sh) AS nl, len(r.sh) AS nr
      |  FROM t l JOIN t r ON l.doc_id < r.doc_id),
      |tr AS (SELECT * FROM p
      |  WHERE CAST(inter AS DOUBLE) / (nl + nr - inter) >= 0.7)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
      |  CAST(COUNT(*) AS BIGINT) AS n_found,
      |  CAST(1.0 AS DOUBLE) AS recall
      |FROM tr""".stripMargin

  // ---------------------------------------------------------------------
  // p41 — SemDeDup: cluster-scoped semantic dedup, fully replayed
  // ---------------------------------------------------------------------

  /** Cluster-then-dedup (Clustering.semanticDedup): the k-means-cell
    * assignment (p37's geometry) scopes the quadratic cosine dedup to
    * within-cell pairs. The oracle replays assignment, pairs, and the
    * keep-first policy — max-struct tie rules mirrored exactly (cell
    * argmax breaks toward the HIGHER centroid id, best-match toward the
    * higher left id). The Spark side derives k = ceil(n/64) from a
    * count, so the oracle derives it the same way (`cnt` CTE) rather
    * than hardcoding a corpus-size-specific LIMIT — the row stays green
    * at any scale factor. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Clustering.semanticDedup(Tables.embeddings(spark, dir))

  val semanticDedupSql: String =
    s"""WITH cnt AS (SELECT CAST(CEIL(COUNT(*) / 64.0) AS BIGINT) AS k
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM (
       |    SELECT vec_id, embedding, row_number() OVER (
       |      ORDER BY ((vec_id % 1048576) * 2654435761) % 4294967296, vec_id) AS rn
       |    FROM embeddings)
       |  WHERE rn <= (SELECT k FROM cnt)),
       |sc AS (SELECT e.vec_id, e.embedding, c.cent_id,
       |    ${dotSql("e.embedding", "c.cent_emb")} /
       |      (${normSql("e.embedding")} * ${normSql("c.cent_emb")}) AS cos
       |  FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cent_id DESC) AS rn FROM sc) WHERE rn = 1),
       |p AS (SELECT l.cell, l.vec_id AS left_id, r.vec_id AS right_id,
       |    ${cosSql("l.embedding", "r.embedding")} AS cos_sim
       |  FROM asg l JOIN asg r ON l.cell = r.cell AND l.vec_id < r.vec_id),
       |f AS (SELECT * FROM p WHERE cos_sim >= 0.45),
       |b AS (SELECT right_id, left_id, cos_sim,
       |    row_number() OVER (PARTITION BY right_id
       |      ORDER BY cos_sim DESC, left_id DESC) AS rn FROM f)
       |SELECT a.vec_id, a.cell, (b.left_id IS NOT NULL) AS is_dup,
       |  b.left_id AS dup_of, b.cos_sim AS dup_cos
       |FROM asg a LEFT JOIN (SELECT * FROM b WHERE rn = 1) b
       |  ON b.right_id = a.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // p42 — multi-iteration Lloyd (k-means), fully replayed in SQL
  // ---------------------------------------------------------------------

  /** Two full Lloyd rounds (Clustering.lloydReport): hash-sampled seed,
    * argmax-cosine assignment, exact-decimal per-dimension centroid
    * means, reassignment against the LEARNED centroids. The oracle
    * unrolls both rounds — every quantity is round-then-decimal-sum
    * arithmetic, so the learned-cell refinement (what makes p41's cells
    * data-adaptive) is itself hash-verified, not just the single step
    * p37 pins. */
  def kmeansLloyd(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Clustering.lloydReport(Tables.embeddings(spark, dir),
      k = 8, rounds = 2)

  val kmeansLloydSql: String =
    s"""WITH c0 AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
       |  ORDER BY ((vec_id % 1048576) * 2654435761) % 4294967296, vec_id LIMIT 8),
       |s0 AS (SELECT e.vec_id, e.embedding, c.cent_id,
       |    ${dotSql("e.embedding", "c.cent_emb")} /
       |      (${normSql("e.embedding")} * ${normSql("c.cent_emb")}) AS cos
       |  FROM embeddings e CROSS JOIN c0 c),
       |a0 AS (SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cent_id DESC) AS rn FROM s0) WHERE rn = 1),
       |d0 AS (SELECT cell, t.i AS pos,
       |    round(CAST(embedding[t.i] AS DOUBLE) / ${normSql("embedding")}, 6) AS v
       |  FROM a0, unnest(range(1, 65)) t(i)),
       |m1 AS (SELECT cell, pos,
       |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS m
       |  FROM d0 GROUP BY cell, pos),
       |c1 AS (SELECT cell AS cent_id, list(m ORDER BY pos) AS cent_emb
       |  FROM m1 GROUP BY cell),
       |s1 AS (SELECT e.vec_id, e.embedding, c.cent_id,
       |    ${dotSql("e.embedding", "c.cent_emb")} /
       |      (${normSql("e.embedding")} * ${normSql("c.cent_emb")}) AS cos
       |  FROM embeddings e CROSS JOIN c1 c),
       |a1 AS (SELECT vec_id, embedding, cos, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cent_id DESC) AS rn FROM s1) WHERE rn = 1),
       |d1 AS (SELECT cell, t.i AS pos,
       |    round(CAST(embedding[t.i] AS DOUBLE) / ${normSql("embedding")}, 6) AS v
       |  FROM a1, unnest(range(1, 65)) t(i)),
       |m2 AS (SELECT cell, pos,
       |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS m
       |  FROM d1 GROUP BY cell, pos),
       |st AS (SELECT cell, COUNT(*) AS n_members,
       |    round(CAST(SUM(CAST(round(cos, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      / COUNT(*), 6) AS mean_cos
       |  FROM a1 GROUP BY cell),
       |fp AS (SELECT cell,
       |    round(CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE), 6)
       |      AS new_centroid_comp_sum
       |  FROM m2 GROUP BY cell)
       |SELECT st.cell, st.n_members, st.mean_cos, fp.new_centroid_comp_sum
       |FROM st JOIN fp USING (cell)""".stripMargin

  // ---------------------------------------------------------------------
  // q43 — sketch error bound as a verified claim
  // ---------------------------------------------------------------------

  /** HLL++ distinct counts with the error bound CHECKED: the catalog row
    * carries the exact count plus a boolean asserting the sketch landed
    * within 3x its configured rsd. DuckDB cannot replay Spark's HLL
    * register state, but it can verify the exact side and expect the
    * bound to hold — so q24's blind spot gets a driver-visible contract
    * (same pattern as the p26 recall oracle). */
  def sketchQuality(spark: SparkSession, dir: String): DataFrame = {
    // exact and sketch sides as SEPARATE narrow aggregates joined on the
    // 3-row returnflag domain (same finding as q24): a combined aggregate
    // plans the distinct as a (flag, orderkey)-keyed partial whose HLL
    // partials are then one sketch PER DISTINCT KEY merged at the final
    // stage — one extra scan is far cheaper than merging ~n_distinct
    // sketches
    val li = Tables.lineitem(spark, dir)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_orderkey")).as("n_exact_orders"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
    exact.join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact_orders"),
        (abs(col("approx") - col("n_exact_orders")).cast("double") /
          col("n_exact_orders") <= 0.06).as("within_rel_bound"))
  }

  val sketchQualitySql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_exact_orders,
      |  TRUE AS within_rel_bound
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q64 — MERGEABLE sketch rollup: HLL sketches built once per
    * fine-grained cell (returnflag, linestatus) and UNIONED to the
    * coarse level at query time — the warehouse pattern that makes
    * sketches worth their error bar: a daily/partition-level sketch
    * table answers every coarser distinct-count rollup by merge alone,
    * no re-scan of the raw data (exact distincts do not compose — the
    * whole reason mergeable summaries exist). The estimate is asserted
    * within 5% of the exact distinct (HLL at lgConfigK=12 gives ~1.6%
    * typical); the row emits the exact count plus the verdict, q43's
    * device. */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // build once at the fine grain (the persisted sketch-table stage)
    val per = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
    // roll up by MERGE, never by re-scanning raw rows
    val rolled = per.groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact_orders"))
    exact.join(rolled, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact_orders"),
        (abs(col("approx") - col("n_exact_orders")).cast("double") /
          col("n_exact_orders") <= 0.05).as("within_rel_bound"))
  }

  // `TRUE AS within_rel_bound` is NOT a tautology: DuckDB independently
  // verifies n_exact_orders (the exact side of the comparison), and the
  // hash compare then requires Spark's within_rel_bound — computed from
  // the LIVE HLL estimate — to equal TRUE for every group. If the
  // merged-sketch estimate ever drifts past the 5% bound, the Spark
  // side emits FALSE and the row hash-mismatches. Encoding the verdict
  // rather than the estimate is deliberate: the estimate itself is
  // implementation-defined (and engine-specific), the bound is the
  // contract. Same device as q43.
  val sketchRollupSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_exact_orders,
      |  TRUE AS within_rel_bound
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** p117 — PHYSICAL retraction (purge) for the vector-index family,
    * the second half of the right-to-be-forgotten protocol p116 opens:
    * the two-table vector index is built over corpus ∪ poison (every
    * delta vector re-keyed vec_id + 10M — a cosine-1.0 twin of each
    * probe vector), the poison is retracted via the tombstone landing,
    * and then PURGED — graft.io.Tombstones.purge rewrites both tables
    * through the crash-safe layout-preserving swap, dropping the
    * retired postings and payloads from disk, and removes the
    * tombstone table. The probe then runs with NO tombstone gate: the
    * hash against p57's oracle certifies the purged index is
    * bit-equivalent to a build that never contained the poison — any
    * surviving twin posting flips its probe vector's verdict to its
    * cosine-1.0 twin. Banding geometry is PINNED from the build input
    * (the provisioning decision): a post-purge re-derivation would see
    * the shrunken store and could band differently, exactly the drift
    * the q71 streamed path pins against. */
  def embDedupRetractionPurge(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val poison = delta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    val bandsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p117_vbands", dir)
    val vecsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p117_vecs", dir)
    val tombsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p117_tombs", dir)
    // pin the geometry from the BUILD input's count — bits must not be
    // re-derived after the purge shrinks the store
    val bits = Similarity.adaptiveBitsPerTable(corpus.count() + delta.count())
    // completion MARKER, not tableExists: a crash between build and
    // purge must rebuild, never probe a still-poisoned index
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p117_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      Seq(bandsTbl, vecsTbl, tombsTbl)
        .foreach(graft.io.Bucketing.dropTable(spark, _))
      Similarity.buildVectorIndex(corpus.unionByName(poison), bandsTbl,
        vecsTbl, bitsPerTable = bits)
      val family = graft.io.Tombstones.vector(bandsTbl, vecsTbl, tombsTbl)
      graft.io.Tombstones.retract(spark, family, poison, batchId = 0L)
      graft.io.Tombstones.purge(spark, family)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    Sessions.withoutBroadcast(spark) {
      Similarity.incrementalCosineVerdictsAgainstIndex(spark, delta,
          bandsTbl, vecsTbl, threshold = 0.45, bitsPerTable = bits)
    }
  }

  /** p122 — LIVE-GATE retraction for the IVF family, promoted from its
    * StreamedIndexSpec certification to the driver's hash gate
    * (VERDICT r17 item 4): the assignment index is built from the
    * corpus PLUS poison twins of every stride query (vec_id + 10M,
    * embedding verbatim — a cosine-1.0 twin of each probe vector,
    * assigned to the SAME cell by construction), the poison batch is
    * retracted via the tombstone landing, and the probe runs through
    * the UNPURGED broadcast anti-join gate — the window every index
    * lives in between a retraction and its next purge cadence, which
    * p117 (purged) deliberately does not cover. Centroids are pinned
    * from the clean corpus so the two layouts differ only in CONTENT.
    * Oracle: p16's exact IVF truth — any twin assignment leaking
    * through the gate outranks its query's true neighbors at cosine
    * 1.0 and flips the row. */
  def annIvfRetractionGated(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val poison = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    val centsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p122_cents", dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p122_ivf", dir)
    val tombsTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p122_tombs", dir)
    // completion MARKER: a crash between the poison append and the
    // retraction must rebuild, never probe a poisoned index
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p122_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      Seq(centsTbl, idxTbl, tombsTbl)
        .foreach(graft.io.Bucketing.dropTable(spark, _))
      Similarity.buildIvfCentroids(emb, centsTbl)
      Similarity.appendIvfAssignPartial(spark, emb, centsTbl, idxTbl, 0L)
      Similarity.appendIvfAssignPartial(spark, poison, centsTbl, idxTbl, 1L)
      graft.io.Tombstones.retract(spark,
        graft.io.Tombstones.ivf(idxTbl, tombsTbl), poison, 0L)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    Similarity.ivfTopKAgainstIndex(spark, emb, idxTbl,
      tombstonesTable = Some(tombsTbl))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p122_ivf_retraction" -> (annIvfRetractionGated _),
    "p117_vector_retraction" -> (embDedupRetractionPurge _),
    "p23_dedup_groups_chain" -> (dedupGroupsChain _),
    "p43_dedup_representatives" -> (dedupRepresentatives _),
    "p44_ann_rrf_fusion" -> (annRrfFusion _),
    "p47_ann_hard_negatives" -> (annHardNegatives _),
    "p24_ann_lsh_recall" -> (annLshRecall _),
    "p25_ann_ivf_recall" -> (annIvfRecall _),
    "p26_minhash_candidate_recall" -> (minhashCandidateRecall _),
    "p39_ann_ivfpq_topk" -> (annIvfPqTopK _),
    "p41_semantic_dedup" -> (semanticDedup _),
    "p42_kmeans_lloyd" -> (kmeansLloyd _),
    "p53_dedup_report" -> (dedupReport _),
    "p55_curation_pipeline" -> (curationPipeline _),
    "p57_emb_dedup_incremental" -> (embDedupIncrementalIndexed _),
    "q43_sketch_quality" -> (sketchQuality _),
    "q64_sketch_rollup" -> (sketchRollup _))

  val oracles: Map[String, String] = Map(
    "p23_dedup_groups_chain" -> dedupGroupsChainSql,
    "p43_dedup_representatives" -> dedupRepresentativesSql,
    "p44_ann_rrf_fusion" -> annRrfFusionSql,
    "p47_ann_hard_negatives" -> annHardNegativesSql,
    "p24_ann_lsh_recall" -> annLshRecallSql,
    "p25_ann_ivf_recall" -> annIvfRecallSql,
    "p26_minhash_candidate_recall" -> minhashCandidateRecallSql,
    "p39_ann_ivfpq_topk" -> annIvfPqTopKSql,
    "p41_semantic_dedup" -> semanticDedupSql,
    "p42_kmeans_lloyd" -> kmeansLloydSql,
    "q43_sketch_quality" -> sketchQualitySql,
    "q64_sketch_rollup" -> sketchRollupSql,
    "p13_emb_cosine_dedup" -> embCosineDedupSql,
    "p12_ann_lsh_topk" -> annLshTopKSql,
    "p16_ann_ivf_topk" -> annIvfTopKSql,
    // the indexed probe must return bit-identical neighbors to p16
    "p56_ann_ivf_indexed" -> annIvfTopKSql,
    "p19_dedup_groups" -> dedupGroupsSql,
    "p53_dedup_report" -> dedupReportSql,
    "p55_curation_pipeline" -> curationPipelineSql,
    "p57_emb_dedup_incremental" -> embDedupIncrementalSql,
    // the purged index must be bit-equivalent to a build that never
    // contained the poison twins: p57's oracle is the leak detector
    "p117_vector_retraction" -> embDedupIncrementalSql,
    // the tombstone-GATED probe over the still-poisoned index must
    // return p16's exact neighbors: any twin leaking through the
    // broadcast anti-join gate flips its query row at cosine 1.0
    "p122_ivf_retraction" -> annIvfTopKSql)
}
