package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.io.Sinks
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** The curation part of `batch_jobs`: one stateless curation pass over a
  * seeded corpus with embeddings — the hashed logistic-regression quality
  * classifier (training plus threshold sweep), MinHash-LSH near-duplicate
  * pairs and LSH top-k neighbours — each written to parquet, on fresh
  * directories. */
final class CurationBatch extends Workload {
  private val Docs = 1000
  private val DupShare = 0.1
  private val Dim = 64
  private val QueryStride = 50
  private val TopK = 10

  private var docsPath: String = _
  private var embPath: String = _
  private var corpus: Vector[Doc] = Vector.empty
  private var planted: Vector[(Long, Long)] = Vector.empty
  private var twins: Map[Long, Long] = Map.empty
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private var expectedSweep: Vector[Seq[Long]] = Vector.empty

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Gen(ctx.opts.seed)
    val (docs, pairs) = g.corpus(Docs, 1L, DupShare)
    val (emb, tw) = g.embeddings(Docs, Dim, QueryStride)
    corpus = docs; planted = pairs; twins = tw
    vectors = emb.map(e => e.vec_id -> e.embedding).toMap
    docsPath = ctx.opts.work.resolve("inputs/docs").toString
    embPath = ctx.opts.work.resolve("inputs/embeddings").toString
    docs.toDS().write.parquet(docsPath)
    emb.toDS().write.parquet(embPath)
    expectedSweep = ClassifierReplay.sweep(docs)
    ctx.inputs ++= Seq("docs" -> Docs, "near_dup_share" -> pairs.size.toDouble / Docs,
      "embedding_dim" -> Dim, "queries" -> twins.size, "top_k" -> TopK)
    ctx.warmUp(pass(ctx, warm = true))
  }

  def iterate(ctx: Ctx): Unit = { pass(ctx, warm = false); ctx.isolate() }

  private def pass(ctx: Ctx, warm: Boolean): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val out = ctx.freshDir("curation")
    def target(name: String) = out.resolve(name).toString
    def body(): Unit = {
      val docs = spark.read.parquet(docsPath)
      val emb = spark.read.parquet(embPath)
      // each operator call is one counted operation
      Seq[(String, () => Unit)](
        "ops.text_analysis.classifier" -> (() =>
          Sinks.writeParquet(TextAnalysis.evalHashedLogRegThresholds(docs), target("sweep"))),
        "ops.dedup.minhash_lsh" -> (() =>
          Sinks.writeParquet(Dedup.minhashLsh(docs), target("pairs"))),
        "ops.similarity.lsh_topk" -> (() =>
          Sinks.writeParquet(Similarity.lshTopK(emb, k = TopK, queryStride = QueryStride),
            target("topk")))
      ).foreach { case (name, f) =>
        if (warm) f() else ctx.op(name)(f()).foreach { case (_, s) => ctx.sample(name, s) }
      }
    }
    val t0 = System.nanoTime()
    t.span("op.curation_pass")(body())
    val secs = (System.nanoTime() - t0) / 1e9
    if (!warm && ctx.failed == 0) {
      ctx.sample("pass", secs)
      verify(ctx, out)
      if (t.enabled) t.span("functions.minhash_signature") {
        spark.read.parquet(docsPath).select(Dedup.minhashSignature(col("text")))
          .write.format("noop").mode("overwrite").save()
      }
    }
    ctx.deleteTree(out)
  }

  private def verify(ctx: Ctx, out: Path): Unit = ctx.verifying {
    val spark = ctx.spark
    // classifier: the plain Scala fixed-point replay of training + sweep
    val sweep = spark.read.parquet(out.resolve("sweep").toString)
      .select("thr6", "tp", "fp", "tn", "fn", "prec6", "rec6", "f16").collect()
      .map(r => (0 until 8).map(r.getLong)).toVector.sortBy(_.head)
    ctx.check("classifier sweep equals the fixed-point replay")(sweep == expectedSweep,
      s"$sweep vs $expectedSweep")

    // minhash LSH: every pair's Jaccard is exact, every planted pair of
    // Jaccard >= 0.9 is found
    val text = corpus.map(d => d.doc_id -> d.text).toMap
    val grams = mutable.Map[Long, Set[String]]()
    def gramsOf(id: Long) = grams.getOrElseUpdate(id, Gen.shingles(text(id), 2))
    val pairs = spark.read.parquet(out.resolve("pairs").toString)
      .select("left_id", "right_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    ctx.check("lsh pairs are distinct, ordered and exact")(
      pairs.map(p => (p._1, p._2)).distinct.length == pairs.length &&
        pairs.forall { case (l, r, j) =>
          l < r && j >= 0.5 && math.abs(Gen.jaccard(gramsOf(l), gramsOf(r)) - j) < 1e-12
        })
    val found = pairs.map(p => (p._1, p._2)).toSet
    val missed = planted.filter { case (a, b) =>
      Gen.jaccard(gramsOf(a), gramsOf(b)) >= 0.9 && !found((math.min(a, b), math.max(a, b)))
    }
    ctx.check("lsh finds every planted pair of Jaccard >= 0.9")(missed.isEmpty, missed.take(5).toString)

    // lsh top-k: exact cosines, at most k per query, the planted twin first
    val topk = spark.read.parquet(out.resolve("topk").toString)
      .select("q_id", "c_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    def cosine(a: Array[Float], b: Array[Float]) = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    ctx.check("top-k rows per query")(topk.keySet == twins.keySet &&
      topk.values.forall(rows => rows.length <= TopK && rows.forall(r => r._1 != r._2)))
    ctx.check("top-k cosines are exact")(topk.values.flatten.forall { case (q, c, s) =>
      math.abs(cosine(vectors(q), vectors(c)) - s) < 1e-5 })
    ctx.check("top-k ranks the planted twin first")(topk.forall { case (q, rows) =>
      rows.maxBy(r => (r._3, -r._2))._2 == twins(q) })
  }

  def endToEnd(ctx: Ctx): Map[String, Double] =
    Map("aux_op_p50_s" -> Stats.median(ctx.samplesOf("pass")))

  def perLayer(ctx: Ctx, t: Trace): Map[String, Double] = {
    val cls = t.named("ops.text_analysis.classifier")
    Map(
      "curation_run_s" -> Stats.median(ctx.samplesOf("pass", "traced")),
      "ops.text_analysis.classifier_s" -> Stats.median(cls.map(_.seconds)),
      "ops.text_analysis.classifier_jobs" -> Stats.median(cls.map(s => t.total(s.id).jobs.toDouble)),
      "ops.text_analysis.classifier_shuffle_bytes" ->
        Stats.median(cls.map(s => t.total(s.id).shuffleWriteBytes.toDouble)),
      "ops.dedup.minhash_lsh_s" -> Stats.median(t.named("ops.dedup.minhash_lsh").map(_.seconds)),
      "ops.similarity.lsh_topk_s" -> Stats.median(t.named("ops.similarity.lsh_topk").map(_.seconds)),
      "functions.minhash_signature_s" ->
        Stats.median(t.named("functions.minhash_signature").map(_.seconds)))
  }
}

/** Plain Scala replay of `TextAnalysis.evalHashedLogRegThresholds` at its
  * defaults: hashed token-count features, four fixed-point gradient steps
  * and the confusion-matrix sweep, in exact integer arithmetic — an
  * independent computation of the operator's output rows. */
object ClassifierReplay {
  private val Dims = 8
  private val Steps = 4
  private val Cap = 1000L
  private val LabelMinTokens = 55
  private val EtaInvFactor = 128L
  private val BiasX = 25L
  private val Thresholds = Seq(-2197225L, -847298L, 0L, 847297L, 2197224L)

  private def bucket(token: String): Int = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((md5(0) & 0xff) << 8) | (md5(1) & 0xff)) % Dims
  }

  /** Rows (thr6, tp, fp, tn, fn, prec6, rec6, f16), sorted by thr6. */
  def sweep(docs: Seq[Doc]): Vector[Seq[Long]] = {
    // per doc: label y6 and sparse features (dim -> x), bias at dim Dims
    val feats = docs.map { d =>
      val toks = d.text.split(" ", -1)
      val y6 = if (toks.length > LabelMinTokens) 1000000L else 0L
      val x = toks.groupBy(bucket).map { case (b, ts) => b -> math.min(ts.length.toLong, Cap) }
      (y6, x + (Dims -> BiasX))
    }
    val w = Array.fill(Dims + 1)(0L)
    val etaInv = EtaInvFactor * docs.size
    def margin(x: Map[Int, Long]) = x.map { case (d, v) => w(d) * v }.sum
    for (_ <- 1 to Steps) {
      val g = Array.fill(Dims + 1)(0L)
      feats.foreach { case (y6, x) =>
        val p = 1000000.0 / (1.0 + StrictMath.exp(-(margin(x).toDouble / 1000000.0)))
        val r6 = BigDecimal(p).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        x.foreach { case (d, v) => g(d) += (r6 - y6) * v }
      }
      (0 to Dims).foreach(d => w(d) -= g(d) / etaInv)
    }
    val scored = feats.map { case (y6, x) => (margin(x), y6 == 1000000L) }
    Thresholds.sorted.toVector.map { thr =>
      val tp = scored.count { case (m, t) => m > thr && t }.toLong
      val fp = scored.count { case (m, t) => m > thr && !t }.toLong
      val tn = scored.count { case (m, t) => m <= thr && !t }.toLong
      val fn = scored.count { case (m, t) => m <= thr && t }.toLong
      val prec6 = if (tp + fp == 0) -1L else tp * 1000000L / (tp + fp)
      val rec6 = if (tp + fn == 0) -1L else tp * 1000000L / (tp + fn)
      val f16 = if (prec6 < 0 || rec6 < 0 || prec6 + rec6 == 0) -1L
        else 2L * prec6 * rec6 / (prec6 + rec6)
      Seq(thr, tp, fp, tn, fn, prec6, rec6, f16)
    }
  }
}
