package graft.queries

import graft.Tables
import graft.ops.{Clustering, Dedup, Packing, Sampling, TextAnalysis}
import graft.functions.VectorFunctions.{vec_dot, vec_norm}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-evaluation and split-hygiene catalog: the checks a training
  * pipeline runs BETWEEN curation stages — leakage-safe splits, semantic
  * benchmark decontamination, calibrated quality gates, embedding-space
  * drift, cross-source syndication, novelty audits, and the packed-shard
  * manifest the trainer actually consumes. Every entry carries a full
  * DuckDB hash oracle (fixed-point integer arithmetic wherever a float
  * boundary could drift between engines).
  */
object EvalQueries {

  // ---------------------------------------------------------------------
  // p103 — group-aware train/test split + leakage audit
  // ---------------------------------------------------------------------

  /** Near-dup-GROUP-aware split: a doc inherits its dedup group's fold
    * (content-keyed on the group keeper's text, the p21 md5-bucket
    * device), so two near-duplicates can never straddle train/test — the
    * leakage a naive per-doc split permits and this row AUDITS: each doc
    * also reports the naive verdict and whether its group spans naive
    * folds (`group_naive_leaky` — 6 groups / 13 docs leak on the sf0.01
    * fixture, so the column discriminates).
    *
    * Scale shape: the pair set is bounded by true near-dups (the p02
    * banding), components via the established label-propagation device;
    * the two bucket lookups are narrow id→int joins and the leak audit
    * is one window over group_id (fan-in bounded by dedup cluster size).
    */
  def groupAwareSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(docs, bands = 16, rowsPerBand = 8,
      shingleN = 3, threshold = 0.7)
    val groups = Dedup.dedupGroups(docs, pairs)
      .select(col("doc_id"), col("group_id"))
    val nb = docs.select(col("doc_id"), Sampling.hashBucket(col("text")).as("nb"))
    val gb = docs.select(col("doc_id").as("group_id"),
      Sampling.hashBucket(col("text")).as("gb"))
    val x = groups.join(nb, Seq("doc_id")).join(gb, Seq("group_id"))
    val w = Window.partitionBy(col("group_id"))
    x.withColumn("group_naive_leaky",
        (max(when(col("nb") < 80, 1).otherwise(0)).over(w) +
          max(when(col("nb") >= 80, 1).otherwise(0)).over(w)) === 2)
      .select(col("doc_id"), col("group_id"),
        when(col("gb") < 80, lit("train")).otherwise(lit("test")).as("split"),
        when(col("nb") < 80, lit("train")).otherwise(lit("test")).as("naive_split"),
        col("group_naive_leaky"))
  }

  val groupAwareSplitSql: String = {
    val bucket =
      "CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100 AS INTEGER)"
    s"""WITH RECURSIVE ${RecallQueries.componentsCte},
       |g AS (SELECT id AS doc_id, MIN(root) AS group_id FROM reach GROUP BY id),
       |nb AS (SELECT doc_id, $bucket AS nb FROM documents),
       |gb AS (SELECT doc_id AS group_id, $bucket AS gb FROM documents),
       |x AS (SELECT g.doc_id, g.group_id, nb.nb, gb.gb
       |  FROM g JOIN nb USING (doc_id) JOIN gb USING (group_id)),
       |lk AS (SELECT group_id,
       |    (MAX(CASE WHEN nb < 80 THEN 1 ELSE 0 END) +
       |     MAX(CASE WHEN nb >= 80 THEN 1 ELSE 0 END)) = 2 AS leaky
       |  FROM x GROUP BY group_id)
       |SELECT x.doc_id, x.group_id,
       |  CASE WHEN gb < 80 THEN 'train' ELSE 'test' END AS split,
       |  CASE WHEN nb < 80 THEN 'train' ELSE 'test' END AS naive_split,
       |  lk.leaky AS group_naive_leaky
       |FROM x JOIN lk USING (group_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // p104 — semantic benchmark decontamination (embedding cosine)
  // ---------------------------------------------------------------------

  /** Semantic decontamination: flag corpus vectors whose max cosine
    * against the benchmark probe set (vec_id % 20 == 0 plays the eval
    * benchmark) reaches 0.35 — the embedding-space sibling of the n-gram
    * decontamination family (p33/p64/p65), catching paraphrased
    * benchmark leakage n-gram overlap misses.
    *
    * Scale shape: benchmark sets are small by nature, so the probe side
    * BROADCASTS and the corpus is one narrow map-only pass (norms
    * precomputed per side, native VecDot) into a per-vector max — no
    * corpus-side shuffle beyond the final aggregate. Ties break toward
    * the lower benchmark id (max-struct on negated id), matching the
    * oracle's `ORDER BY cos DESC, b_id ASC`. */
  def semanticDecontamination(spark: SparkSession, dir: String): DataFrame =
    semanticDecontaminationCore(Tables.embeddings(spark, dir))

  /** The whole operator on a caller-provided embeddings frame — ONE
    * implementation so the catalog row and the planted-vector spec
    * exercise the same code path (threshold, rounding, and tie-break
    * included). */
  private[graft] def semanticDecontaminationCore(
      emb: DataFrame, modulus: Long = 20L,
      threshold: Double = 0.35): DataFrame = {
    val bench = emb.filter(pmod(col("vec_id"), lit(modulus)) === 0)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        vec_norm(col("embedding")).as("b_norm"))
    val corpus = emb.filter(pmod(col("vec_id"), lit(modulus)) =!= 0)
      .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("c_norm"))
    corpus.crossJoin(broadcast(bench))
      .withColumn("cos_sim",
        round(vec_dot(col("embedding"), col("b_emb")) / (col("c_norm") * col("b_norm")), 6))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("b_id")).as("neg_id"))).as("m"))
      .select(col("vec_id"), (-col("m.neg_id")).cast("long").as("bench_id"),
        col("m.cos_sim").as("cos_sim"),
        (col("m.cos_sim") >= threshold).as("is_contaminated"))
  }

  val semanticDecontaminationSql: String =
    s"""WITH b AS (SELECT vec_id AS b_id, embedding AS b_emb FROM embeddings
       |  WHERE vec_id % 20 = 0),
       |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |p AS (SELECT c.vec_id, b.b_id,
       |    ${RecallQueries.cosSql("c.embedding", "b.b_emb")} AS cos_sim
       |  FROM c, b),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, b_id ASC) AS rn FROM p)
       |SELECT vec_id, b_id AS bench_id, cos_sim,
       |  cos_sim >= 0.35 AS is_contaminated
       |FROM r WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // p105 — calibrated quantile quality gate (calibrate-then-apply)
  // ---------------------------------------------------------------------

  /** Quality gate with SAMPLE-CALIBRATED thresholds — the production
    * shape for quantile filtering at 100 TB: exact quintile cut points
    * are computed on a deterministic content-keyed calibration sample
    * (md5 bucket < 10), broadcast as one row, and applied corpus-wide in
    * a single map-only pass. A global-sort ntile over the full corpus
    * would serialize 100 TB through one ordering; the calibrate-then-
    * apply split bounds the only ordered step by the sample size (the
    * same bounded-work argument as the dedup-groups driver fallback).
    *
    * Score = the p32 corpus-unigram logprob in 1e-6 fixed point; cut
    * ranks use pure integer arithmetic (ceil(k·n/5) = (k·n+4) div 5) so
    * both engines pick the identical sample row. Bucket b means the
    * score exceeds b-1 of the four cuts; the gate drops the bottom
    * quintile (keep = bucket >= 2). */
  def calibratedQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sc = TextAnalysis.unigramLogProb(docs)
      .select(col("doc_id"), round(col("avg_logprob") * 1e6, 0).cast("long").as("score6"))
    val b = docs.select(col("doc_id"), Sampling.hashBucket(col("text")).as("bkt"))
    val smp = sc.join(b, Seq("doc_id")).filter(col("bkt") < 10)
    sc.crossJoin(broadcast(sampleQuintileCuts(smp, "c")))
      .withColumn("bucket",
        (lit(1) + (col("score6") > col("c1")).cast("int")
          + (col("score6") > col("c2")).cast("int")
          + (col("score6") > col("c3")).cast("int")
          + (col("score6") > col("c4")).cast("int")).cast("int"))
      .select(col("doc_id"), col("score6"), col("bucket"),
        (col("bucket") >= 2).as("keep"))
  }

  /** Cut `k` of 4 (column `<prefix>k`) over rows ranked `rn` of `n`: the
    * score at rank ceil(k·n/5) = (k·n+4) div 5. */
  private def quintileCut(k: Int, prefix: String): Column =
    max(when(col("rn") <= expr(s"($k * n + 4) div 5"), col("score6")))
      .as(s"$prefix$k")

  /** The global quintile cuts `<prefix>1..4` of `score6` over the
    * calibration sample `smp`, ranked by (score6, doc_id). Its window is
    * unpartitioned by design — an exact global rank — and bounded: it
    * runs over the calibration sample (md5 bucket < 10 of 100), never
    * the corpus. */
  private def sampleQuintileCuts(smp: DataFrame, prefix: String): DataFrame =
    smp.select(col("score6"), col("doc_id"))
      .crossJoin(broadcast(smp.agg(count(lit(1)).as("n"))))
      .withColumn("rn", row_number().over(Window.orderBy(col("score6"), col("doc_id"))))
      .agg(quintileCut(1, prefix), quintileCut(2, prefix),
        quintileCut(3, prefix), quintileCut(4, prefix))

  val calibratedQualityGateSql: String =
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
      |  FROM tok JOIN p USING (term) GROUP BY doc_id),
      |sc AS (SELECT doc_id,
      |    CAST(round(round(CAST(lp AS DOUBLE) / n, 6) * 1000000, 0) AS BIGINT)
      |      AS score6
      |  FROM s),
      |b AS (SELECT doc_id,
      |    CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 100
      |      AS INTEGER) AS bkt
      |  FROM documents),
      |smp AS (SELECT sc.score6, sc.doc_id
      |  FROM sc JOIN b USING (doc_id) WHERE bkt < 10),
      |r AS (SELECT score6,
      |    row_number() OVER (ORDER BY score6, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM smp),
      |cuts AS (SELECT
      |  MAX(CASE WHEN rn <= (1 * n + 4) // 5 THEN score6 END) AS c1,
      |  MAX(CASE WHEN rn <= (2 * n + 4) // 5 THEN score6 END) AS c2,
      |  MAX(CASE WHEN rn <= (3 * n + 4) // 5 THEN score6 END) AS c3,
      |  MAX(CASE WHEN rn <= (4 * n + 4) // 5 THEN score6 END) AS c4
      |  FROM r),
      |o AS (SELECT doc_id, score6,
      |    CAST(1 + CASE WHEN score6 > c1 THEN 1 ELSE 0 END
      |           + CASE WHEN score6 > c2 THEN 1 ELSE 0 END
      |           + CASE WHEN score6 > c3 THEN 1 ELSE 0 END
      |           + CASE WHEN score6 > c4 THEN 1 ELSE 0 END AS INTEGER) AS bucket
      |  FROM sc, cuts)
      |SELECT doc_id, score6, bucket, bucket >= 2 AS keep FROM o""".stripMargin

  // ---------------------------------------------------------------------
  // p114 — per-source calibrated gate (stratified calibration)
  // ---------------------------------------------------------------------

  /** The stratified sibling of p105: quintile cuts calibrated PER
    * SOURCE (each domain gets its own quality bar — a global cut would
    * gut a low-logprob domain like code while waving through average
    * web text), with the GLOBAL cuts as the fallback for sources the
    * calibration sample missed — the production policy for long-tail
    * domains. The per-source ranking window partitions by source over
    * the SAMPLE (each partition bounded by that source's sample), the
    * cut tables are |sources|+1 rows and broadcast, and the gate stays
    * a map-only pass. `calibrated` reports which bar applied. */
  def sourceCalibratedGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sc = TextAnalysis.unigramLogProb(docs)
      .select(col("doc_id"), round(col("avg_logprob") * 1e6, 0).cast("long").as("score6"))
      .join(docs.select(col("doc_id"), col("source"),
        Sampling.hashBucket(col("text")).as("bkt")), Seq("doc_id"))
    val smp = sc.filter(col("bkt") < 10).select(col("source"), col("score6"), col("doc_id"))
    // per-source exact type-1 quintiles over the sample
    val ws = Window.partitionBy(col("source")).orderBy(col("score6"), col("doc_id"))
    val cutsS = smp
      .withColumn("rn", row_number().over(ws))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .groupBy(col("source")).agg(quintileCut(1, "s"), quintileCut(2, "s"),
        quintileCut(3, "s"), quintileCut(4, "s"))
    // global cuts — the fallback bar (p105's computation)
    sc.join(broadcast(cutsS), Seq("source"), "left")
      .crossJoin(broadcast(sampleQuintileCuts(smp, "g")))
      .withColumn("calibrated", col("s1").isNotNull)
      .withColumn("bucket",
        (lit(1) + (col("score6") > coalesce(col("s1"), col("g1"))).cast("int")
          + (col("score6") > coalesce(col("s2"), col("g2"))).cast("int")
          + (col("score6") > coalesce(col("s3"), col("g3"))).cast("int")
          + (col("score6") > coalesce(col("s4"), col("g4"))).cast("int")).cast("int"))
      .select(col("doc_id"), col("source"), col("score6"), col("calibrated"),
        col("bucket"), (col("bucket") >= 2).as("keep"))
  }

  val sourceCalibratedGateSql: String =
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
      |  FROM tok JOIN p USING (term) GROUP BY doc_id),
      |sc AS (SELECT s.doc_id,
      |    CAST(round(round(CAST(lp AS DOUBLE) / n, 6) * 1000000, 0) AS BIGINT)
      |      AS score6,
      |    d.source,
      |    CAST(CAST(('0x' || substring(md5(d.text), 1, 4)) AS INTEGER) % 100
      |      AS INTEGER) AS bkt
      |  FROM s JOIN documents d USING (doc_id)),
      |smp AS (SELECT source, score6, doc_id FROM sc WHERE bkt < 10),
      |rs AS (SELECT source, score6,
      |    row_number() OVER (PARTITION BY source ORDER BY score6, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM smp),
      |cs AS (SELECT source,
      |  MAX(CASE WHEN rn <= (1 * n + 4) // 5 THEN score6 END) AS s1,
      |  MAX(CASE WHEN rn <= (2 * n + 4) // 5 THEN score6 END) AS s2,
      |  MAX(CASE WHEN rn <= (3 * n + 4) // 5 THEN score6 END) AS s3,
      |  MAX(CASE WHEN rn <= (4 * n + 4) // 5 THEN score6 END) AS s4
      |  FROM rs GROUP BY source),
      |rg AS (SELECT score6,
      |    row_number() OVER (ORDER BY score6, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM smp),
      |cg AS (SELECT
      |  MAX(CASE WHEN rn <= (1 * n + 4) // 5 THEN score6 END) AS g1,
      |  MAX(CASE WHEN rn <= (2 * n + 4) // 5 THEN score6 END) AS g2,
      |  MAX(CASE WHEN rn <= (3 * n + 4) // 5 THEN score6 END) AS g3,
      |  MAX(CASE WHEN rn <= (4 * n + 4) // 5 THEN score6 END) AS g4
      |  FROM rg),
      |o AS (SELECT sc.doc_id, sc.source, sc.score6,
      |    cs.s1 IS NOT NULL AS calibrated,
      |    CAST(1 + CASE WHEN score6 > COALESCE(s1, g1) THEN 1 ELSE 0 END
      |           + CASE WHEN score6 > COALESCE(s2, g2) THEN 1 ELSE 0 END
      |           + CASE WHEN score6 > COALESCE(s3, g3) THEN 1 ELSE 0 END
      |           + CASE WHEN score6 > COALESCE(s4, g4) THEN 1 ELSE 0 END
      |      AS INTEGER) AS bucket
      |  FROM sc LEFT JOIN cs USING (source) CROSS JOIN cg)
      |SELECT doc_id, source, score6, calibrated, bucket,
      |  bucket >= 2 AS keep
      |FROM o""".stripMargin

  // ---------------------------------------------------------------------
  // p115 — pack-boundary span manifest (attention-mask input)
  // ---------------------------------------------------------------------

  /** The per-document sibling of p106's per-sequence manifest: one row
    * per PACKED DOCUMENT with its token span inside its sequence —
    * exactly what a trainer consumes to build cross-document attention
    * masks over packed context windows (tokens of doc i must not attend
    * to doc j sharing the sequence). Spans are in BPE pieces (the p80
    * encode feeding the p35 packer through `Packing.packSized`);
    * `tok_end` is inclusive. Same composed recursion oracle as p106,
    * minus the aggregate — every boundary of every document replays. */
  def packBoundaries(spark: SparkSession, dir: String): DataFrame =
    bpePacked(spark, dir)
      .select(col("doc_id"), col("source"), col("bucket"), col("seq_id"),
        col("tok_offset").as("tok_start"),
        (col("tok_offset") + col("n_tokens") - 1).as("tok_end"))

  val packBoundariesSql: String =
    s"""WITH RECURSIVE $bpePackCtes
       |SELECT doc_id, source, bucket, seq_id,
       |  tok_offset AS tok_start,
       |  tok_offset + n_tokens - 1 AS tok_end
       |FROM pk""".stripMargin

  // ---------------------------------------------------------------------
  // p106 — tokenize → pack → shard manifest (end-to-end composition)
  // ---------------------------------------------------------------------

  /** The packed-shard manifest a trainer consumes: BPE-encode every
    * document (the p80 tokenizer application), pack by PIECE count (not
    * whitespace tokens) into capacity-1024 sequences with the p35
    * next-fit state machine, and emit one manifest row per sequence —
    * doc count, token count, first doc, fill fraction. The single
    * composed oracle (BPE recursion + packing recursion in one
    * WITH RECURSIVE) certifies the COMPOSITION: piece counts feeding the
    * packer, shard keys, and fill arithmetic all replay end to end.
    *
    * Scale shape: encode is a narrow per-doc pass (10 chained native
    * replaces), packing shards by (source, doc_id % 8) with only
    * (doc_id, n_tokens) entering the per-shard state machine, and the
    * manifest is one bounded aggregate per sequence. */
  /** The shared encode-then-pack front of p106/p115: BPE-encode every
    * document (p80's device, 10 learned merges) and run the p35
    * next-fit packer over PIECE counts — one implementation so the
    * per-sequence manifest and the per-doc span rows cannot drift. */
  private def bpePacked(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = TextAnalysis.bpeLearnMerges(docs, 10)
    // the oracle's recursive replay unrolls EXACTLY 10 merge steps —
    // fail loudly on a degenerate corpus slice instead of shipping a
    // confusing whole-result mismatch
    require(merges.size == 10,
      s"p106/p115 oracle contract needs exactly 10 learned merges, corpus gave ${merges.size}")
    val enc = TextAnalysis.bpeEncode(docs, merges)
      .select(col("doc_id"), col("n_pieces"))
    val sized = docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id"))
      .select(col("source"), pmod(col("doc_id"), lit(8L)).as("bucket"),
        col("doc_id"), col("n_pieces").as("n_tokens"))
    Packing.packSized(sized, capacity = 1024)
  }

  def packManifest(spark: SparkSession, dir: String): DataFrame =
    bpePacked(spark, dir)
      .groupBy(col("source"), col("bucket"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .withColumn("fill6", expr("n_tokens * 1000000 div 1024"))
      .select(col("source"), col("bucket"), col("seq_id"), col("n_docs"),
        col("n_tokens"), col("first_doc"), col("fill6"))

  /** The shared BPE-encode + next-fit-pack recursion for the p106/p115
    * oracles (one literal, two query tails): learns the 10 merges,
    * replays the encode one rule per recursion step, sizes docs by
    * piece count, and packs per (source, bucket) carrying the running
    * `tok_offset` (p106's aggregate ignores it; p115 reports it). */
  // lazy: referenced by packBoundariesSql, which is declared ABOVE this
  // point — a plain val would interpolate null (object init order)
  private lazy val bpePackCtes: String =
    """mtok AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |mp AS (
      |  SELECT unnest([substring(t, i, 2) for i in range(1, len(t))]) AS pair
      |  FROM mtok WHERE len(t) >= 2),
      |mc AS (SELECT pair, COUNT(*) AS n FROM mp GROUP BY pair),
      |merges AS (
      |  SELECT pair, row_number() OVER (ORDER BY n DESC, pair) AS rn
      |  FROM mc QUALIFY rn <= 10),
      |tok AS (
      |  SELECT doc_id, i.v AS pos, string_split(text, ' ')[i.v + 1] AS tok
      |  FROM documents,
      |    unnest(range(len(string_split(text, ' ')))) i(v)),
      |enc AS (
      |  SELECT doc_id, pos, 0 AS step,
      |    regexp_replace(tok, '(?s)(.)', chr(1) || '\1' || chr(2), 'g') AS s
      |  FROM tok
      |  UNION ALL
      |  SELECT e.doc_id, e.pos, e.step + 1,
      |    replace(e.s,
      |      chr(1) || substring(m.pair, 1, 1) || chr(2) ||
      |      chr(1) || substring(m.pair, 2, 1) || chr(2),
      |      chr(1) || m.pair || chr(2))
      |  FROM enc e JOIN merges m ON m.rn = e.step + 1),
      |fin AS (
      |  SELECT doc_id, pos,
      |    replace(replace(replace(s, chr(2) || chr(1), ' '),
      |      chr(1), ''), chr(2), '') AS enc_tok
      |  FROM enc WHERE step = 10),
      |np AS (
      |  SELECT doc_id, CAST(SUM(len(string_split(enc_tok, ' '))) AS BIGINT)
      |    AS n_tokens
      |  FROM fin GROUP BY doc_id),
      |d AS (
      |  SELECT dd.doc_id, dd.source, dd.doc_id % 8 AS bucket, np.n_tokens
      |  FROM documents dd JOIN np USING (doc_id)),
      |o AS (SELECT d.*, row_number() OVER (PARTITION BY source, bucket
      |    ORDER BY doc_id) AS rn FROM d),
      |pk AS (
      |  SELECT source, bucket, rn, doc_id, n_tokens,
      |    CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS tok_offset,
      |    n_tokens AS fill
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.source, o.bucket, o.rn, o.doc_id, o.n_tokens,
      |    CASE WHEN pk.fill + o.n_tokens <= 1024 THEN pk.seq_id
      |         ELSE pk.seq_id + 1 END,
      |    CASE WHEN pk.fill + o.n_tokens <= 1024 THEN pk.fill
      |         ELSE CAST(0 AS BIGINT) END,
      |    CASE WHEN pk.fill + o.n_tokens <= 1024 THEN pk.fill + o.n_tokens
      |         ELSE o.n_tokens END
      |  FROM o JOIN pk ON o.source = pk.source AND o.bucket = pk.bucket
      |    AND o.rn = pk.rn + 1)""".stripMargin

  val packManifestSql: String =
    s"""WITH RECURSIVE $bpePackCtes
       |SELECT source, bucket, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, MIN(doc_id) AS first_doc,
       |  (CAST(SUM(n_tokens) AS BIGINT) * 1000000) // 1024 AS fill6
       |FROM pk GROUP BY source, bucket, seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // p107 — embedding-space distribution drift between ingest waves
  // ---------------------------------------------------------------------

  /** Embedding-space drift between two ingest waves (vec_id parity plays
    * old/new): assign every vector to the shared k=8 coarse quantizer
    * (the p37/p25 Knuth-scramble centroids) and compare per-cell
    * occupancy shares in 1e-6 fixed point — the semantic sibling of the
    * p101 token-distribution drift report, catching topic shift that
    * token stats miss. Pure integer output: truncating share division,
    * absolute-difference drift, no floats anywhere past the cosine
    * argmax.
    *
    * Scale shape: one broadcast cross join against k centroids (the
    * Clustering.assign device), one k-bounded aggregate, one broadcast
    * one-row total join. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val waved = Clustering.assign(emb, k = 8)
      .select(col("vec_id"), col("cell"))
      .withColumn("wave", pmod(col("vec_id"), lit(2L)))
    val counts = waved.groupBy(col("cell")).agg(
      sum(when(col("wave") === 0, 1L).otherwise(0L)).as("n_old"),
      sum(when(col("wave") === 1, 1L).otherwise(0L)).as("n_new"))
    val tot = waved.agg(
      sum(when(col("wave") === 0, 1L).otherwise(0L)).as("t_old"),
      sum(when(col("wave") === 1, 1L).otherwise(0L)).as("t_new"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_old6", expr("n_old * 1000000 div t_old"))
      .withColumn("share_new6", expr("n_new * 1000000 div t_new"))
      .withColumn("drift6", abs(col("share_new6") - col("share_old6")))
      .select(col("cell"), col("n_old"), col("n_new"),
        col("share_old6"), col("share_new6"), col("drift6"))
  }

  val embeddingDriftSql: String = {
    import RecallQueries.{dotSql, normSql}
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |  FROM embeddings
       |  ORDER BY ((vec_id % 1048576) * 2654435761) % 4294967296, vec_id
       |  LIMIT 8),
       |sc AS (SELECT e.vec_id, c.cent_id,
       |    ${dotSql("e.embedding", "c.cent_emb")} /
       |      (${normSql("e.embedding")} * ${normSql("c.cent_emb")}) AS cos
       |  FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cent_id DESC) AS rn FROM sc) WHERE rn = 1),
       |wv AS (SELECT vec_id, cell, vec_id % 2 AS wave FROM asg),
       |cnt AS (SELECT cell,
       |    CAST(SUM(CASE WHEN wave = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |    CAST(SUM(CASE WHEN wave = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       |  FROM wv GROUP BY cell),
       |tt AS (SELECT
       |    CAST(SUM(CASE WHEN wave = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_old,
       |    CAST(SUM(CASE WHEN wave = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t_new
       |  FROM wv)
       |SELECT cell, n_old, n_new,
       |  (n_old * 1000000) // t_old AS share_old6,
       |  (n_new * 1000000) // t_new AS share_new6,
       |  abs((n_new * 1000000) // t_new - (n_old * 1000000) // t_old) AS drift6
       |FROM cnt, tt""".stripMargin
  }

  // ---------------------------------------------------------------------
  // p108 — cross-source syndication matrix
  // ---------------------------------------------------------------------

  /** Cross-source near-dup matrix: the p02 verified pair set grouped by
    * (source, source) — the mirror-site/syndication detector that tells
    * a pipeline which source pairs re-publish each other (and how much
    * same-source self-duplication each source carries on the diagonal).
    * One deterministic example pair per cell (lexicographic min) for
    * drill-down.
    *
    * Scale shape: the pair set is bounded by true near-dups, so IT
    * broadcasts into the narrow (doc_id, source) lookups — the corpus
    * never shuffles; the matrix aggregate is |sources|²-bounded. */
  def syndicationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(docs, bands = 16, rowsPerBand = 8,
      shingleN = 3, threshold = 0.7)
      .select(col("left_id"), col("right_id"))
    val src = docs.select(col("doc_id"), col("source"))
    val withLeft = src.join(broadcast(pairs), col("doc_id") === col("left_id"))
      .select(col("left_id"), col("right_id"), col("source").as("ls"))
    val withBoth = src.join(broadcast(withLeft), col("doc_id") === col("right_id"))
      .select(col("ls"), col("source").as("rs"), col("left_id"), col("right_id"))
    withBoth
      .select(least(col("ls"), col("rs")).as("source_a"),
        greatest(col("ls"), col("rs")).as("source_b"),
        col("left_id"), col("right_id"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("left_id"), col("right_id"))).as("m"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("m.left_id").as("example_left"), col("m.right_id").as("example_right"))
  }

  val syndicationMatrixSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [text]
      |      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |        for i in range(1, len(w) - 1)]) END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |p AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id
      |  FROM t l JOIN t r ON l.doc_id < r.doc_id
      |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
      |        (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))
      |        >= 0.7),
      |s AS (SELECT least(dl.source, dr.source) AS source_a,
      |    greatest(dl.source, dr.source) AS source_b, left_id, right_id
      |  FROM p JOIN documents dl ON dl.doc_id = p.left_id
      |         JOIN documents dr ON dr.doc_id = p.right_id),
      |w AS (SELECT source_a, source_b, left_id AS example_left,
      |    right_id AS example_right,
      |    COUNT(*) OVER (PARTITION BY source_a, source_b) AS n_pairs,
      |    row_number() OVER (PARTITION BY source_a, source_b
      |      ORDER BY left_id, right_id) AS rn
      |  FROM s)
      |SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  example_left, example_right
      |FROM w WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // p109 — n-gram novelty / uniqueness audit
  // ---------------------------------------------------------------------

  /** Per-document novelty: the fraction of a doc's distinct word-3-
    * shingles that appear NOWHERE else in the corpus (gram df == 1) —
    * low novelty marks templated/syndicated text that per-doc repetition
    * metrics (p34) miss because the repetition lives ACROSS documents.
    * 1e-6 truncating fixed point; `is_novel` gates at half the shingles
    * being corpus-unique.
    *
    * Scale shape: shingles travel as md5 hashes (32 bytes, not the
    * gram text) through one gram-keyed df aggregate and one join back —
    * the p20/p90 df-device shape; the per-doc fold is bounded. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramNovelty(Tables.documents(spark, dir), n = 3)

  /** Shared novelty oracle with two pluggable filters: `corpusFilter`
    * restricts which docs CONTRIBUTE dfs (everything for p109/p110/q79;
    * documents-minus-retired for p113's retraction row), `docFilter`
    * restricts which docs are REPORTED (empty for p109; the delta
    * predicate for the index-probed rows, whose paths must equal the
    * global computation restricted to the delta exactly — dfs over
    * doc-disjoint slices add). */
  private def noveltySqlFor(corpusFilter: String, docFilter: String): String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 3 THEN [text]
      |      ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |        for i in range(1, len(w) - 1)]) END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents CORPUS_FILTER)),
      |u AS (SELECT doc_id, md5(s.g) AS h FROM t, unnest(sh) AS s(g)),
      |d AS (SELECT h, COUNT(*) AS df FROM u GROUP BY h),
      |a AS (SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      |  FROM u JOIN d USING (h) GROUP BY doc_id)
      |SELECT doc_id, n_shingles, n_unique,
      |  (n_unique * 1000000) // n_shingles AS novelty6,
      |  (n_unique * 1000000) // n_shingles >= 500000 AS is_novel
      |FROM a DOC_FILTER""".stripMargin
      .replace(" CORPUS_FILTER", corpusFilter)
      .replace(" DOC_FILTER", docFilter)

  val ngramNoveltySql: String = noveltySqlFor("", "")

  // ---------------------------------------------------------------------
  // p110 — incremental novelty vs the PERSISTED shingle-df index
  // ---------------------------------------------------------------------

  /** p110 — the p109 novelty audit at ingest economics: the corpus
    * (doc_id % 5 != 0) shingle-df index is built ONCE as a bucketed
    * table and the day's delta (doc_id % 5 == 0) probes it at
    * O(|delta|) — delta shingles once, its df aggregate left-joins the
    * bucketed index (no index-side exchange), corpus text never
    * re-read. The ninth persisted-index family. Oracle: the GLOBAL
    * p109 computation restricted to delta docs — the equivalence the
    * df merge (df_corpus + df_delta) must hit exactly.
    *
    * Index cached per (application, input dir, scratch epoch) like
    * q34/p54/p91: bench reps bump the epoch and time build + probe. */
  def noveltyIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p110_shdf", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 0L))
      Dedup.buildShingleDfIndex(docs.filter(col("doc_id") % 5 =!= 0), idxTbl)
    Dedup.noveltyIncremental(spark, docs.filter(col("doc_id") % 5 === 0), idxTbl)
  }

  val noveltyIncrementalSql: String =
    noveltySqlFor("", "\nWHERE doc_id % 5 = 0")

  // ---------------------------------------------------------------------
  // p112 — incremental quality scoring vs the persisted token-count index
  // ---------------------------------------------------------------------

  /** p112 — the p32 unigram-logprob quality score at ingest economics:
    * the corpus (doc_id % 5 != 0) token counts land once as the q78
    * bucketed index (one append batch) and the delta scores against
    * counts and totals merged additively from index + delta — its THIRD
    * probe type on the token-count family (vocab coverage p99/q78,
    * drift p102, now LM-quality scoring). Oracle: the global p32
    * computation restricted to delta docs — the equivalence the
    * additive merge must hit exactly. */
  def logprobIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p112_tok", dir)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 0L)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      TextAnalysis.appendTokenCountPartial(spark,
        docs.filter(col("doc_id") % 5 =!= 0), idxTbl, 0L)
    }
    TextAnalysis.unigramLogProbIncremental(spark,
      docs.filter(col("doc_id") % 5 === 0), idxTbl)
  }

  /** p120 — RETRACTION for the token-count family via the negated-df
    * device, promoted from its StreamedIndexSpec certification to the
    * driver's hash gate (VERDICT r17 item 4): the corpus token counts
    * land as an appended partial, POISON twins of every delta doc
    * (doc_id + 10M, text verbatim) land as a second batch — doubling
    * every delta token's corpus count and shifting every unigram
    * probability — and a retraction batch
    * (TextAnalysis.retractTokenCountPartial) cancels them exactly:
    * counts AND the sentinel total fold back additively. The probe
    * shares p112's oracle; any leaked poison count would shift a
    * delta token's probability and move its document's score, so the
    * hash is a per-document leak detector. */
  def logprobRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p120_tok", dir)
    // completion MARKER: a crash between the poison append and the
    // retraction must rebuild, never probe a poisoned index
    val done = graft.io.TempPaths.scratchDir(spark, "graft_p120_done", dir)
    if (!graft.io.TempPaths.isComplete(done)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      TextAnalysis.appendTokenCountPartial(spark, corpus, idxTbl, 0L)
      TextAnalysis.appendTokenCountPartial(spark, poison, idxTbl, 1L)
      TextAnalysis.retractTokenCountPartial(spark, poison, idxTbl, 2L)
      new java.io.File(done).mkdirs()
      graft.io.TempPaths.markComplete(done)
    }
    TextAnalysis.unigramLogProbIncremental(spark, delta, idxTbl)
  }

  val logprobIncrementalSql: String =
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
      |FROM s WHERE doc_id % 5 = 0""".stripMargin

  // ---------------------------------------------------------------------
  // p113 — retraction: deletions ripple through the maintained index
  // ---------------------------------------------------------------------

  /** p113 — right-to-be-forgotten for a maintained artifact: the corpus
    * shingle-df index takes a RETRACTION batch (the retired docs'
    * negated dfs, `Dedup.retractShingleDfPartial`) and the novelty
    * probe must then equal a from-scratch rebuild WITHOUT those docs —
    * deletions ripple through the derived index at O(|removed|), no
    * corpus re-scan. Retired = every corpus doc with doc_id % 7 == 1
    * (73 of 100 delta verdict values change on the sf0.01 fixture, so
    * the retraction is strongly discriminating). Oracle: the global
    * novelty computation over documents-minus-retired, restricted to
    * the delta. */
  def noveltyRetraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val idxTbl = graft.io.TempPaths.scratchTableName(spark, "graft_p113_shdf", dir)
    // the rebuild guard must witness the RETRACTION, not bare table
    // existence: a crash between the append and the retraction leaves a
    // real table whose probe would silently return un-retracted novelty
    // (batch_id=1 is the retraction batch)
    if (!graft.io.Bucketing.hasLandedBatch(spark, idxTbl, 1L)) {
      graft.io.Bucketing.dropTable(spark, idxTbl)
      Dedup.appendShingleDfPartial(spark, corpus, idxTbl, 0L)
      Dedup.retractShingleDfPartial(spark,
        corpus.filter(col("doc_id") % 7 === 1), idxTbl, 1L)
    }
    Dedup.noveltyIncremental(spark, docs.filter(col("doc_id") % 5 === 0), idxTbl)
  }

  val noveltyRetractionSql: String = noveltySqlFor(
    "\n        WHERE NOT (doc_id % 5 <> 0 AND doc_id % 7 = 1)",
    "\nWHERE doc_id % 5 = 0")

  /** q81's oracle: the streamed lifecycle retracts only the %7==1 docs
    * from the two quarters already landed when the retraction batch
    * rides through (doc_id % 4 < 2) — the rebuild-without truth over
    * that exact retired set, restricted to the delta. */
  val noveltyStreamedRetractionSql: String = noveltySqlFor(
    "\n        WHERE NOT (doc_id % 5 <> 0 AND doc_id % 7 = 1 AND doc_id % 4 < 2)",
    "\nWHERE doc_id % 5 = 0")

  // ---------------------------------------------------------------------
  // p111 — tokenizer (merge-table) drift between ingest waves
  // ---------------------------------------------------------------------

  /** Tokenizer-stability audit: learn the top-10 BPE merge ranking (the
    * p46/p80 device) independently on two ingest waves (doc_id parity,
    * the p107 convention) and compare rank by rank — the check a
    * pipeline runs before RETRAINING its tokenizer on new data, because
    * a shifted merge table silently re-segments every historical
    * document. Per rank: both pairs, both counts, agreement, and where
    * wave A's pair landed in wave B's ranking (0 = dropped out of the
    * top-10). On the fixture the waves agree at only 1 of 10 ranks, so
    * every column discriminates.
    *
    * Scale shape: pair counting is the p46 aggregate (char-bigram
    * domain, charset²-bounded); the rankings are 10-row frames, so
    * every join here broadcasts trivially. */
  def tokenizerDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def ranked(wave: Int): DataFrame = {
      // unpartitioned, but bounded: it ranks the k = 10 rows
      // bpePairStats returns, not the input
      val w = Window.orderBy(col("n_occurrences").desc, col("pair").asc)
      TextAnalysis.bpePairStats(
          docs.filter(pmod(col("doc_id"), lit(2L)) === wave), k = 10)
        .withColumn("rank", row_number().over(w).cast("long"))
    }
    val a = ranked(0).select(col("rank"), col("pair").as("pair_a"),
      col("n_occurrences").as("n_a"))
    // ONE wave-B ranking reused for both the per-rank frame and the
    // where-did-pair-a-land lookup — a second ranked(1) would re-run
    // the whole wave-B pair aggregation
    val rb = ranked(1).persist()
    try {
      val b = rb.select(col("rank"), col("pair").as("pair_b"),
        col("n_occurrences").as("n_b"))
      val inB = rb.select(col("pair").as("pair_a"),
        col("rank").as("rank_a_in_b"))
      a.join(b, Seq("rank")).join(inB, Seq("pair_a"), "left")
        .select(col("rank"), col("pair_a"), col("n_a"), col("pair_b"), col("n_b"),
          (col("pair_a") === col("pair_b")).as("same_pair"),
          coalesce(col("rank_a_in_b"), lit(0L)).as("rank_a_in_b"))
        // 10-row frame: materialize while the cache is live so the
        // finally-unpersist can't bleed cached blocks into the session
        // (ADVICE-r16) nor force a wave-B recompute downstream
        .localCheckpoint()
    } finally rb.unpersist()
  }

  val tokenizerDriftSql: String = {
    def rankCtes(tag: String, wave: Int): String =
      s"""t$tag AS (SELECT unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE doc_id % 2 = $wave),
         |p$tag AS (SELECT unnest([substring(t, i, 2)
         |    for i in range(1, len(t))]) AS pair
         |  FROM t$tag WHERE len(t) >= 2),
         |c$tag AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p$tag GROUP BY pair),
         |r$tag AS (SELECT pair, n,
         |    row_number() OVER (ORDER BY n DESC, pair) AS rank
         |  FROM c$tag QUALIFY rank <= 10)""".stripMargin
    s"""WITH ${rankCtes("a", 0)},
       |${rankCtes("b", 1)}
       |SELECT ra.rank, ra.pair AS pair_a, ra.n AS n_a,
       |  rb.pair AS pair_b, rb.n AS n_b,
       |  ra.pair = rb.pair AS same_pair,
       |  COALESCE(rb2.rank, 0) AS rank_a_in_b
       |FROM ra JOIN rb USING (rank)
       |LEFT JOIN rb rb2 ON rb2.pair = ra.pair""".stripMargin
  }

  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p103_group_split" -> (groupAwareSplit _),
    "p104_semantic_decontamination" -> (semanticDecontamination _),
    "p105_calibrated_quality_gate" -> (calibratedQualityGate _),
    "p106_pack_manifest" -> (packManifest _),
    "p107_embedding_drift" -> (embeddingDrift _),
    "p108_syndication_matrix" -> (syndicationMatrix _),
    "p109_ngram_novelty" -> (ngramNovelty _),
    "p110_novelty_incremental" -> (noveltyIncremental _),
    "p111_tokenizer_drift" -> (tokenizerDrift _),
    "p112_logprob_incremental" -> (logprobIncremental _),
    "p113_novelty_retraction" -> (noveltyRetraction _),
    "p114_source_calibrated_gate" -> (sourceCalibratedGate _),
    "p115_pack_boundaries" -> (packBoundaries _),
    "p120_token_retraction" -> (logprobRetraction _))

  val oracles: Map[String, String] = Map(
    "p103_group_split" -> groupAwareSplitSql,
    "p104_semantic_decontamination" -> semanticDecontaminationSql,
    "p105_calibrated_quality_gate" -> calibratedQualityGateSql,
    "p106_pack_manifest" -> packManifestSql,
    "p107_embedding_drift" -> embeddingDriftSql,
    "p108_syndication_matrix" -> syndicationMatrixSql,
    "p109_ngram_novelty" -> ngramNoveltySql,
    "p110_novelty_incremental" -> noveltyIncrementalSql,
    "p111_tokenizer_drift" -> tokenizerDriftSql,
    "p112_logprob_incremental" -> logprobIncrementalSql,
    // retraction must equal the clean-corpus counts: p112's oracle is
    // the leak detector for any surviving poison count
    "p120_token_retraction" -> logprobIncrementalSql,
    "p113_novelty_retraction" -> noveltyRetractionSql,
    "p114_source_calibrated_gate" -> sourceCalibratedGateSql,
    "p115_pack_boundaries" -> packBoundariesSql)
}
