package graft.queries

import graft.Tables
import graft.ops.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus-profiling catalog rows — the describe-the-corpus surface a
  * curation pipeline runs before and after every stage (ops.Sketches).
  * All three carry FULL hash oracles because each sketch was chosen for
  * exact replayability (see Sketches' scaladoc); the non-replayable
  * count-min sketch is certified by SketchesSpec instead.
  */
object ProfilingQueries {

  /** p94 — KMV distinct-token sketch per language, next to the exact
    * distinct count (the labeled expensive baseline, the p11 role).
    * The oracle recomputes the k-th smallest distinct 60-bit md5 value
    * AND the (k-1)*2^60/h_k estimate, so the hash match certifies the
    * bounded-state sketch path bit-for-bit. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    Sketches.kmvDistinctTokens(Tables.documents(spark, dir), k = 64)

  val kmvDistinctSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT DISTINCT lang,
      |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM tok),
      |r AS (
      |  SELECT lang, h,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS nh
      |  FROM h),
      |ex AS (SELECT lang, COUNT(*) AS n_exact FROM tok GROUP BY lang),
      |sk AS (
      |  SELECT lang, LEAST(nh, 64) AS n_sketch, h AS kth_hash
      |  FROM r WHERE rn = LEAST(nh, 64)),
      |est AS (
      |  SELECT s.lang, CAST(64 AS BIGINT) AS k,
      |    CAST(s.n_sketch AS BIGINT) AS n_sketch, s.kth_hash, e.n_exact,
      |    CASE WHEN s.n_sketch < 64 THEN CAST(s.n_sketch AS DOUBLE)
      |      ELSE ROUND(63.0 * 1152921504606846976.0 /
      |        CAST(s.kth_hash AS DOUBLE), 3) END AS n_est
      |  FROM sk s JOIN ex e USING (lang))
      |SELECT lang, k, n_sketch, kth_hash, n_exact, n_est,
      |  ROUND(ABS(n_est - n_exact) / n_exact, 6) AS rel_err
      |FROM est""".stripMargin

  /** p95 — heavy-hitter bigrams per language: exact counts, bounded
    * top-10 fold (TopKStrAggregator — no per-language window over the
    * gram table). The oracle replays the count and (cnt desc, gram asc)
    * ranking; WordNgrams' clipping rule (a doc shorter than n tokens
    * yields its whole text) is replayed in the CASE. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Sketches.heavyHitterNgrams(Tables.documents(spark, dir), n = 2, k = 10)

  val heavyHittersSql: String =
    """WITH w AS (
      |  SELECT lang, string_split(text, ' ') AS w FROM documents),
      |inst AS (
      |  SELECT lang, unnest(
      |    CASE WHEN len(w) >= 2
      |      THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
      |      ELSE [w[1]] END) AS gram
      |  FROM w),
      |c AS (SELECT lang, gram, COUNT(*) AS cnt FROM inst GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, gram, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY cnt DESC, gram ASC) AS rank
      |  FROM c)
      |SELECT lang, CAST(rank AS BIGINT) AS rank, gram,
      |  CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rank <= 10""".stripMargin

  /** p96 — fixed-width token-count histogram per language: two narrow
    * passes (min/max broadcast back, then bin + count), integer bin
    * arithmetic on the closed range — the scale-correct histogram form
    * (equi-depth needs a global sort). */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    Sketches.tokenCountHistogram(Tables.documents(spark, dir), bins = 16)

  val tokenHistogramSql: String =
    """WITH v AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents),
      |b AS (
      |  SELECT lang, MIN(v) AS lo, MAX(v) AS hi FROM v GROUP BY lang)
      |SELECT v.lang,
      |  CAST(FLOOR((v.v - b.lo) * 16 / (b.hi - b.lo + 1)) AS BIGINT) AS bin,
      |  COUNT(*) AS cnt, MIN(v.v) AS bin_min, MAX(v.v) AS bin_max
      |FROM v JOIN b USING (lang)
      |GROUP BY 1, 2""".stripMargin

  /** p100 — the per-language DATA CARD: one row per language joining
    * every profiling family — corpus mass (docs, token instances),
    * distinct-token profile (exact + the p94 KMV estimate), the
    * dominant bigram (p95 rank-1), the modal log2 length bin (q77's
    * binning, cnt-desc bin-asc modal tie-break), and tokenizer
    * coverage at the p99 vocab — the one-page corpus summary a
    * curation run publishes per slice. Like p97 for curation, the
    * value certified here is the COMPOSITION: every constituent is a
    * bounded aggregate on the `lang` key, the joins are
    * |langs|-bounded, and the single CTE-stack oracle replays the
    * whole card, so a hash match proves the families compose without
    * perturbing each other. */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val base = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long"))
        .as("n_tokens"))
    val kmv = Sketches.kmvDistinctTokens(docs)
      .select(col("lang"), col("n_exact").as("n_distinct"),
        col("n_est").as("n_distinct_est"))
    val top = Sketches.heavyHitterNgrams(docs, n = 2, k = 1)
      .select(col("lang"), col("gram").as("top_gram"),
        col("cnt").as("top_gram_cnt"))
    val modal = Sketches.log2TokenHistogram(docs)
      .groupBy(col("lang"))
      .agg(max(struct(col("cnt"), (-col("bin")).as("nb"))).as("m"))
      .select(col("lang"), (-col("m.nb")).as("modal_bin"),
        col("m.cnt").as("modal_bin_cnt"))
    val cov = graft.ops.TextAnalysis.vocabCoverage(docs, vocabSize = 16)
      .select(col("lang"), col("cover6"))
    base.join(kmv, Seq("lang")).join(top, Seq("lang"))
      .join(modal, Seq("lang")).join(cov, Seq("lang"))
  }

  val dataCardSql: String =
    s"""WITH base AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |kmv AS (SELECT lang, n_exact AS n_distinct, n_est AS n_distinct_est
       |  FROM ($kmvDistinctSql) kq),
       |top AS (SELECT lang, gram AS top_gram, cnt AS top_gram_cnt
       |  FROM ($heavyHittersSql) hq WHERE rank = 1),
       |hist AS (
       |  SELECT lang,
       |    CAST(length(printf('%b',
       |      GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1))) - 1
       |      AS BIGINT) AS bin,
       |    COUNT(*) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |modal AS (
       |  SELECT lang, bin AS modal_bin, cnt AS modal_bin_cnt FROM (
       |    SELECT lang, bin, cnt,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY cnt DESC, bin ASC) AS rn
       |    FROM hist) WHERE rn = 1),
       |cov AS (SELECT lang, cover6 FROM (${CurationQueries.vocabCoverageSql}) cq)
       |SELECT base.lang, base.n_docs, base.n_tokens,
       |  kmv.n_distinct, kmv.n_distinct_est,
       |  top.top_gram, top.top_gram_cnt,
       |  modal.modal_bin, modal.modal_bin_cnt, cov.cover6
       |FROM base JOIN kmv USING (lang) JOIN top USING (lang)
       |  JOIN modal USING (lang) JOIN cov USING (lang)""".stripMargin

  /** p101 — pairwise source-drift report: L1 distance between the
    * per-source 1e-6 fixed-point token distributions plus each pair's
    * most divergent token — the distribution-shift check a pipeline
    * runs across ingest waves before a drifted source trains in. The
    * signed-contribution device (left side +p6, right side -p6, one
    * token-keyed aggregate) avoids a full-outer join entirely — see
    * [[graft.ops.Sketches.sourceDriftReport]]. Truncating integer
    * division throughout, so the oracle replays every number. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    Sketches.sourceDriftReport(Tables.documents(spark, dir))

  val sourceDriftSql: String =
    """WITH inst AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, COUNT(*) AS cnt FROM inst GROUP BY 1, 2),
      |t AS (SELECT source, SUM(cnt) AS tot FROM c GROUP BY source),
      |p AS (
      |  SELECT c.source, c.tok, c.cnt * 1000000 // t.tot AS p6
      |  FROM c JOIN t USING (source)),
      |pr AS (
      |  SELECT a.source AS source_a, b.source AS source_b
      |  FROM t a JOIN t b ON a.source < b.source),
      |contrib AS (
      |  SELECT pr.source_a, pr.source_b, p.tok,
      |    CASE WHEN p.source = pr.source_a THEN p.p6 ELSE -p.p6 END AS cvalue
      |  FROM p JOIN pr
      |    ON p.source = pr.source_a OR p.source = pr.source_b),
      |d AS (
      |  SELECT source_a, source_b, tok, ABS(SUM(cvalue)) AS d
      |  FROM contrib GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT source_a, source_b, tok, d,
      |    row_number() OVER (PARTITION BY source_a, source_b
      |      ORDER BY d DESC, tok ASC) AS rn,
      |    SUM(d) OVER (PARTITION BY source_a, source_b) AS l1
      |  FROM d)
      |SELECT source_a, source_b, CAST(l1 AS BIGINT) AS l1_x6,
      |  tok AS top_tok, CAST(d AS BIGINT) AS top_div6
      |FROM r WHERE rn = 1""".stripMargin

  /** p102 — delta-vs-corpus drift against the PERSISTED token-count
    * index (q78's layout, built once here in two append waves to
    * exercise the fold): the "did today's crawl drift?" ingest gate.
    * The corpus side folds from the bucketed index — the corpus TEXT
    * is never re-read — and the compare is p101's
    * signed-contribution device under fixed corpus/delta labels.
    * Corpus = doc_id % 5 != 0, delta = % 5 == 0 (the established
    * split). The oracle replays both distributions from first
    * principles; matching it certifies the index path end to end. */
  def driftIncremental(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p102_tok", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 1L)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      Seq(0, 1).foreach { i =>
        graft.ops.TextAnalysis.appendTokenCountPartial(spark,
          corpus.filter(pmod(col("doc_id"), lit(2)) === i), idxTbl, i.toLong)
      }
    }
    Sketches.driftProbeIncremental(spark,
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), idxTbl)
  }

  val driftIncrementalSql: String =
    """WITH inst AS (
      |  SELECT CASE WHEN doc_id % 5 = 0 THEN 'delta' ELSE 'corpus' END
      |    AS source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, COUNT(*) AS cnt FROM inst GROUP BY 1, 2),
      |t AS (SELECT source, SUM(cnt) AS tot FROM c GROUP BY source),
      |p AS (
      |  SELECT c.source, c.tok, c.cnt * 1000000 // t.tot AS p6
      |  FROM c JOIN t USING (source)),
      |d AS (
      |  SELECT tok, ABS(SUM(CASE WHEN source = 'corpus' THEN p6
      |    ELSE -p6 END)) AS d
      |  FROM p GROUP BY tok),
      |r AS (
      |  SELECT tok, d,
      |    row_number() OVER (ORDER BY d DESC, tok ASC) AS rn,
      |    SUM(d) OVER () AS l1
      |  FROM d)
      |SELECT 'corpus' AS source_a, 'delta' AS source_b,
      |  CAST(l1 AS BIGINT) AS l1_x6, tok AS top_tok,
      |  CAST(d AS BIGINT) AS top_div6
      |FROM r WHERE rn = 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p102_drift_incremental" -> (driftIncremental _),
    "p101_source_drift" -> (sourceDrift _),
    "p94_kmv_distinct" -> (kmvDistinct _),
    "p95_heavy_hitters" -> (heavyHitters _),
    "p96_token_histogram" -> (tokenHistogram _),
    "p100_data_card" -> (dataCard _))

  val oracles: Map[String, String] = Map(
    "p102_drift_incremental" -> driftIncrementalSql,
    "p101_source_drift" -> sourceDriftSql,
    "p94_kmv_distinct" -> kmvDistinctSql,
    "p95_heavy_hitters" -> heavyHittersSql,
    "p96_token_histogram" -> tokenHistogramSql,
    "p100_data_card" -> dataCardSql)
}
