package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("char_ngrams_multiset keeps repeats and order; empty below n; UTF-8 safe") {
    import spark.implicits._
    val got = Seq("aaa", "a", "héllo").toDF("t")
      .select(graft.functions.TextFunctions.char_ngrams_multiset(col("t"), 2).as("g"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("aa", "aa"))       // multiplicity preserved
    assert(got(1) === Seq.empty)             // shorter than n -> empty
    assert(got(2) === Seq("hé", "él", "ll", "lo")) // codepoint, not byte, slices
  }

  test("bpePairStats ranks corpus pair counts desc with pair tiebreak") {
    import spark.implicits._
    val docs = Seq((1L, "aab aab"), (2L, "ab")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bpePairStats(docs, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // pairs: "aab" x2 -> aa x2, ab x2 ; "ab" -> ab ; totals: ab=3, aa=2
    assert(got === Seq(("ab", 3L), ("aa", 2L)))
  }
  import spark.implicits._

  private def docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "el gato de la casa y el perro"),
    (3L, "xyz qrs tuv")).toDF("doc_id", "text")

  test("tokenStats counts chars, tokens, distinct tokens") {
    val r = TextAnalysis.tokenStats(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_chars_calc"), x.getAs[Long]("n_tokens"), x.getAs[Long]("n_uniq_tokens"))).toMap
    assert(r(1L) === ((22L, 6L, 5L))) // "the" twice
    assert(r(3L) === ((11L, 3L, 3L)))
  }

  test("bigramLogProb scores word salad below coherent text") {
    // the coherent phrase repeats, so its bigrams are corpus-frequent;
    // the scrambled doc uses the SAME unigrams (identical unigram score)
    // in an order whose bigrams appear nowhere else
    val corpus = (Seq.tabulate(5)(i =>
        (i.toLong, "the cat sat on the mat")) :+
      (10L, "mat the on cat the sat")).toDF("doc_id", "text")
    val scores = TextAnalysis.bigramLogProb(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(scores(0L) > scores(10L),
      s"coherent ${scores(0L)} must outscore scrambled ${scores(10L)}")
    // every doc has 5 bigram positions
    val n = TextAnalysis.bigramLogProb(corpus).collect()
      .map(_.getAs[Long]("n_bigrams")).toSet
    assert(n === Set(5L))
  }

  test("languageId picks the language with most stopword hits") {
    val r = TextAnalysis.languageId(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("lang_pred")).toMap
    assert(r(1L) === "en")
    assert(r(2L) === "es")
    assert(r(3L) === "und")
  }

  test("qualityScore is in a sane range and rewards diversity") {
    val r = TextAnalysis.qualityScore(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("quality_score")).toMap
    assert(r.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(r(3L) > 0.0)
  }

  test("fingerprints: md5 + boundary tokens") {
    val r = TextAnalysis.fingerprints(docs).filter(col("doc_id") === 1).collect().head
    assert(r.getAs[String]("first_token") === "the")
    assert(r.getAs[String]("last_token") === "mat")
    assert(r.getAs[String]("fp_md5").length === 32)
  }

  test("chunkDocuments: strided windows cover every token, overlap preserved") {
    val doc = (1 to 150).map(i => s"t$i").mkString(" ")
    val chunks = TextAnalysis.chunkDocuments(
        Seq((1L, doc)).toDF("doc_id", "text"), chunkTokens = 64, overlapTokens = 16)
      .orderBy("chunk_id").collect()
    // stride 48 over 150 tokens -> starts 0, 48, 96; a start at 144 would
    // be fully contained in the 96-chunk (pure duplicate), so no 4th chunk
    assert(chunks.length === 3)
    val texts = chunks.map(_.getAs[String]("chunk_text"))
    assert(texts(0).startsWith("t1 ") && texts(0).endsWith(" t64"))
    assert(texts(1).startsWith("t49 ")) // 16-token overlap with chunk 0
    assert(texts(2) === (97 to 150).map(i => s"t$i").mkString(" "))
    assert(chunks.map(_.getAs[Long]("n_chunk_tokens")).sum === 64 + 64 + 54)
    // a doc that exactly fits one chunk emits exactly one chunk
    val exact = (1 to 64).map(i => s"t$i").mkString(" ")
    assert(TextAnalysis.chunkDocuments(
      Seq((1L, exact)).toDF("doc_id", "text"), 64, 16).count() === 1L)
  }

  test("piiScrub redacts emails and phones and counts them") {
    val df = Seq((1L, "mail me at a.b@x.io or call 555-123-4567 twice 555-000-1111"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(df, col("text")).collect().head
    assert(r.getAs[Long]("n_emails") === 1L)
    assert(r.getAs[Long]("n_phones") === 2L)
    // scrub of an already-clean text is the identity digest
    val clean = Seq((1L, "no pii here")).toDF("doc_id", "text")
    val h = TextAnalysis.piiScrub(clean, col("text")).collect().head
    import org.apache.spark.sql.functions.md5
    val want = clean.select(md5(col("text"))).collect().head.getString(0)
    assert(h.getAs[String]("scrubbed_md5") === want)
  }

  test("rollingHash is deterministic and order-sensitive") {
    val h = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("h")).toMap
    assert(h(1L) === h(3L))
    assert(h(1L) !== h(2L))
  }

  test("incremental line dedup against the persisted df index equals the global rewrite") {
    // fixture corpus: two docs sharing a boilerplate line with the delta
    // (removed via the INDEX), a line repeated inside the delta itself
    // (removed via delta-side counting), and unique lines that survive
    val corpus = Seq(
      (1L, "subscribe now\nreal corpus body one"),
      (2L, "subscribe now\nreal corpus body two")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "subscribe now\nfresh delta body"),
      (11L, "dupe in delta\nonly here"),
      (12L, "dupe in delta\nanother unique")).toDF("doc_id", "text")
    val tbl = "linedf_idx_spec"
    graft.io.Bucketing.dropTable(spark, tbl)
    TextAnalysis.buildLineDfIndex(corpus, tbl, byLines = true, buckets = 4)
    val got = TextAnalysis.lineDedupIncremental(spark, delta, tbl,
      byLines = true)
    // the contract: identical to a from-scratch global pass over
    // corpus ∪ delta, restricted to the delta rows
    val want = TextAnalysis.lineDedup(corpus.unionByName(delta),
        byLines = true)
      .filter(col("doc_id") >= 10L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "incremental verdicts must equal the global rewrite on delta docs")
    val byId = got.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("text_clean"), r.getAs[Long]("n_removed"))).toMap
    assert(byId(10L) === (("fresh delta body", 1L)))   // index removal
    assert(byId(11L) === (("only here", 1L)))          // delta-side removal
    assert(byId(12L) === (("another unique", 1L)))
    graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("line-df index: batched appends sum to the global df; committed-batch replay is a no-op") {
    val corpus = Seq(
      (1L, "subscribe now\nbody one"),
      (2L, "subscribe now\nbody two"),
      (4L, "subscribe now\nbody four")).toDF("doc_id", "text")
    val tbl = "linedf_append_spec"
    graft.io.Bucketing.dropTable(spark, tbl)
    // maintain the index in two disjoint batches, then replay batch 1
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") < 4L), tbl, batchId = 0L, byLines = true)
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") === 4L), tbl, batchId = 1L, byLines = true)
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") === 4L), tbl, batchId = 1L, byLines = true)
    val folded = spark.table(tbl).groupBy("h")
      .agg(sum(col("df_corpus")).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = TextAnalysis.lineDedup(corpus, byLines = true) // just for md5s
    val subH = corpus.limit(1)
      .select(md5(lit("subscribe now"))).collect().head.getString(0)
    assert(folded(subH) === 3L, "shared line must sum to global df across batches")
    assert(folded.values.sum === 6L, "replayed batch must not double-count")
    assert(want.count() === 3L)
    // the maintenance key is a PARTITION column: the replay overwrite and
    // any torn-batch repair are directory operations, never index scans
    assert(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .partitionColumnNames === Seq("batch_id"),
      "streamed line-df index must be partitioned by batch_id")
    graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("line-df index: a TORN batch commit is healed by replay, not trusted") {
    // the at-least-once window ADVICE r13 flagged: FileFormatWriter's job
    // commit renames task files one by one, so a crash DURING commit can
    // persist a PARTIAL batch; a presence-gated guard would then skip the
    // replay and permanently under-count dfs. Simulate the torn commit by
    // landing only a subset of batch 1 under its batch_id, then replay
    // the full batch — the partition overwrite must replace the torn
    // content, converging on the batch-built index.
    val corpus = Seq(
      (1L, "subscribe now\nbody one"),
      (2L, "subscribe now\nbody two"),
      (4L, "subscribe now\nbody four\nextra line")).toDF("doc_id", "text")
    val tbl = "linedf_torn_spec"
    graft.io.Bucketing.dropTable(spark, tbl)
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") < 4L), tbl, batchId = 0L, byLines = true)
    // torn attempt: only ONE of doc 4's three lines reaches the table
    val torn = Seq((4L, "body four")).toDF("doc_id", "text")
    TextAnalysis.appendLineDfPartial(spark, torn, tbl, batchId = 1L,
      byLines = true)
    // WAL replay re-runs the full batch under the same id
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") === 4L), tbl, batchId = 1L, byLines = true)
    val batchTbl = "linedf_torn_batch"
    graft.io.Bucketing.dropTable(spark, batchTbl)
    TextAnalysis.buildLineDfIndex(corpus, batchTbl, byLines = true)
    val folded = spark.table(tbl).groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val wantIdx = spark.table(batchTbl).drop("batch_id")
    assert(folded.exceptAll(wantIdx).isEmpty && wantIdx.exceptAll(folded).isEmpty,
      "healed streamed index must fold to the batch-built dfs")
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.io.Bucketing.dropTable(spark, batchTbl)
  }

  test("bloom-gated decontamination is bit-identical to the exact path") {
    val docs = Tables.documents(spark, sfDir)
    val exact = TextAnalysis.decontamination(docs)
    // a high fpp forces real false positives through the gate — the
    // confirming join must still kill every one of them
    val bloom = TextAnalysis.decontaminationBloom(docs, fpp = 0.2)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty,
      "bloom pre-filter must not change decontamination results")
  }

  test("decontamination against the persisted gram index equals the inline scoring") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "bench_gram_idx_spec"
    graft.io.Bucketing.dropTable(spark, tbl)
    TextAnalysis.buildBenchGramIndex(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), tbl)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
      pmod(col("doc_id"), lit(4)) === 1)
    val got = TextAnalysis.decontaminationAgainstIndex(spark, delta, tbl)
    val want = TextAnalysis.decontamination(docs)
      .join(delta.select("doc_id"), "doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "indexed scoring must equal the inline pass on the delta")
    graft.io.Bucketing.dropTable(spark, tbl)
  }

  /** Independent plain-Scala BPE encoder: symbol-space greedy
    * left-to-right, one pass per rule in rank order — the canonical
    * semantics bpeEncodeTokens' bracket-replace device must reproduce. */
  private def refBpeEncode(tok: String, merges: Seq[String]): Seq[String] = {
    var syms = tok.map(_.toString).toVector
    for (m <- merges) {
      val (a, b) = (m.substring(0, 1), m.substring(1, 2))
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += m; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  test("bpeEncodeTokens: bracket-replace device equals the plain-Scala greedy encoder") {
    // adversarial shapes: overlapping runs (odd and even), alternations,
    // rule-created adjacency, multi-rule interaction, plus word-like text
    val merges = Seq("aa", "ab", "th", "he", "er")
    val texts = Seq(
      "aaaaa aaaa aaa ababab abab ths",
      "the theory there aether bathe",
      "xaby aabb aaab abba baaa",
      "t h e single chars only",
      "weather thermal heathen")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodeTokens(docs, merges).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    for ((t, d) <- texts.zipWithIndex; (tok, p) <- t.split(" ").zipWithIndex)
      assert(got((d.toLong, p)) === refBpeEncode(tok, merges).mkString(" "),
        s"doc $d token '$tok'")
    // the canonical greedy answers, pinned explicitly
    assert(got((0L, 0)) === "aa aa a")       // odd overlap run
    assert(got((0L, 3)) === "ab ab ab")      // alternation, every pair merges
    assert(got((1L, 0)) === "th e")          // th wins over he (rank order)
    assert(got((2L, 1)) === "aa b b")        // aa (rank 1) blocks ab at pos 1
  }

  test("bpeEncode summary: learned merges applied corpus-wide, scalar outputs") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val merges = TextAnalysis.bpeLearnMerges(docs, 10)
    assert(merges.size === 10 && merges.forall(_.length == 2))
    val out = TextAnalysis.bpeEncode(docs, merges)
    assert(out.columns.toSeq ===
      Seq("doc_id", "n_tokens", "n_pieces", "encoded_md5"))
    val rows = out.collect()
    assert(rows.length === 50)
    // merging can only shrink piece counts, never below token count
    val toks = TextAnalysis.bpeEncodeTokens(docs, merges)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      assert(r.getLong(2) >= r.getLong(1), "pieces >= tokens")
      assert(toks(r.getLong(0)) === r.getLong(1))
    }
  }

  test("trainHashedLogReg equals a plain-Scala fixed-point reference trainer") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and then the cat sat down again near the mat"),
      (2L, "a b c d e f g h i j k l m n o p q r s t u v w x y z aa bb cc dd ee ff"),
      (3L, "short doc"),
      (4L, ("many words here now " * 16).trim), // 64 tokens -> positive label
      (5L, ("tok " * 60).trim))                 // 60 tokens -> positive label
    val dims = 8; val steps = 4; val cap = 1000; val minTok = 55
    val etaF = 128; val biasX = 25
    // plain-Scala replay: same md5 bucket, capped counts + scaled bias,
    // 1e-6 fixed point, truncating division
    def md5b(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      Integer.parseInt(d.take(2).map("%02x".format(_)).mkString, 16) % dims
    }
    val feats = corpus.map { case (id, text) =>
      val ts = text.split(" ", -1)
      val x = ts.groupBy(md5b).view.mapValues(a => math.min(a.length, cap).toLong)
        .toMap + (dims -> biasX.toLong)
      val y6 = if (ts.length > minTok) 1000000L else 0L
      (id, x, y6)
    }
    val etaInv = etaF.toLong * corpus.length
    def reference(steps: Int): Seq[(Long, Long, Long)] = {
      val w = Array.fill(dims + 1)(0L)
      val want = Seq.newBuilder[(Long, Long, Long)]
      for (step <- 1 to steps) {
        val grad = Array.fill(dims + 1)(0L)
        for ((_, x, y6) <- feats) {
          val m6 = x.map { case (d, xv) => w(d) * xv }.sum
          val r6 = math.round(1000000.0 / (1.0 + math.exp(-(m6.toDouble / 1000000.0))))
          for ((d, xv) <- x) grad(d) += (r6 - y6) * xv
        }
        for (d <- 0 to dims) {
          w(d) -= grad(d) / etaInv
          want += ((step.toLong, d.toLong, w(d)))
        }
      }
      want.result()
    }
    def trained(steps: Int): Seq[(Long, Long, Long)] = TextAnalysis.trainHashedLogReg(
        corpus.toDF("doc_id", "text"), dims, steps, cap, minTok, etaF, biasX)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val got = trained(steps)
    assert(got === reference(steps), "weight trajectory must replay exactly")
    // one step: the corpus size comes from the same pass as the gradient
    assert(trained(1) === reference(1), "a single step must replay exactly")
    // the trajectory is non-degenerate: step-4 weights differ from step-1
    val byStep = got.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    assert(byStep(1L) !== byStep(steps.toLong))
    // and the eval row's confusion matrix reconciles with the labels
    val ev = TextAnalysis.evalHashedLogReg(
        corpus.toDF("doc_id", "text"), dims, steps, cap, minTok, etaF, biasX)
      .collect().head
    val (tp, fp, tn, fn) = (ev.getLong(0), ev.getLong(1), ev.getLong(2), ev.getLong(3))
    assert(tp + fn === feats.count(_._3 == 1000000L).toLong)
    assert(fp + tn === feats.count(_._3 == 0L).toLong)
    assert(ev.getLong(4) === (tp + tn) * 1000000L / corpus.length)
  }

  test("threshold sweep reconciles with the point eval and is monotone in the cutoff") {
    val docs = Tables.documents(spark, sfDir)
    val sweep = TextAnalysis.evalHashedLogRegThresholds(docs)
      .collect().sortBy(_.getLong(0))
    assert(sweep.length === 5)
    // the thr=0 operating point IS p89's confusion matrix
    val at0 = sweep.find(_.getLong(0) == 0L).get
    val ev = TextAnalysis.evalHashedLogReg(docs).collect().head
    assert((at0.getLong(1), at0.getLong(2), at0.getLong(3), at0.getLong(4)) ===
      (ev.getLong(0), ev.getLong(1), ev.getLong(2), ev.getLong(3)),
      "sweep at logit(0.5)=0 must equal the margin>0 eval")
    // raising the cutoff only shrinks the predicted-positive set:
    // tp/fp non-increasing, tn/fn non-decreasing
    sweep.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi.getLong(1) <= lo.getLong(1) && hi.getLong(2) <= lo.getLong(2))
      assert(hi.getLong(3) >= lo.getLong(3) && hi.getLong(4) >= lo.getLong(4))
    }
    // the curve is a real tradeoff on the fixture, not a degenerate
    // classifier: recall spans high-to-low while precision improves
    val (first, last) = (sweep.head, sweep.last)
    assert(first.getLong(6) > 900000L, "lowest cutoff must be high-recall")
    assert(last.getLong(1) + last.getLong(2) < first.getLong(1) + first.getLong(2),
      "highest cutoff must predict fewer positives")
    // undefined-metric sentinel: any row with no predicted positives
    // reports prec6 = f16 = -1, never a division crash
    sweep.filter(r => r.getLong(1) + r.getLong(2) == 0L).foreach { r =>
      assert(r.getLong(5) === -1L && r.getLong(7) === -1L)
    }
  }

  test("classifier edge cases: null and empty text, capped counts, partitioned input") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
        (1L, null),                                  // bias entry only
        (2L, ""),                                    // one empty token
        (3L, "x x x x x x y"),                       // x capped at 3
        (4L, "the cat sat on the mat"),
        (5L, "a b c d e f g h"),
        (6L, "dog"),
        (7L, "red red red red blue blue"),
        (8L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text").repartition(4)
    val (dims, steps, cap, minTok, etaF, biasX) = (8, 3, 3, 4, 1, 1)
    val train = TextAnalysis.trainHashedLogReg(docs, dims, steps, cap, minTok, etaF, biasX)
      .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t(0), t(1))).map(_(2)).grouped(dims + 1).map(_.toSeq).toSeq
    assert(train === Seq(
      Seq(62500L, 375000L, 312500L, 187500L, 375000L, 187500L, 187500L, 187500L, 187500L),
      Seq(27989L, 470181L, 372494L, 231703L, 488458L, 166064L, 234969L, 237359L, 127426L),
      Seq(-10150L, 542437L, 416576L, 266825L, 576923L, 135496L, 270477L, 277542L, 53755L)))
    // the null-text doc has a null label (size(null) is null), so it counts
    // in n but in none of the four cells: 7 of 8 docs, acc6 = 5e6 div 8
    val ev = TextAnalysis.evalHashedLogReg(docs, dims, steps, cap, minTok, etaF, biasX)
      .collect().head
    assert((0 until 5).map(ev.getLong) === Seq(5L, 2L, 0L, 0L, 625000L))
    val sweep = TextAnalysis.evalHashedLogRegThresholds(docs, Seq(-2197225L, -847298L,
        0L, 847297L, 2197224L), dims, steps, cap, minTok, etaF, biasX)
      .collect().map(r => (0 until 8).map(r.getLong)).sortBy(_.head).toSeq
    assert(sweep === Seq(
      Seq(-2197225L, 5L, 2L, 0L, 0L, 714285L, 1000000L, 833332L),
      Seq(-847298L, 5L, 2L, 0L, 0L, 714285L, 1000000L, 833332L),
      Seq(0L, 5L, 2L, 0L, 0L, 714285L, 1000000L, 833332L),
      Seq(847297L, 5L, 0L, 2L, 0L, 1000000L, 1000000L, 1000000L),
      Seq(2197224L, 4L, 0L, 2L, 1L, 1000000L, 800000L, 888888L)))
  }

  test("vocabCoverage selects top-V by (count desc, token asc) and audits OOV exactly") {
    import spark.implicits._
    // counts: aa=4, bb=4, cc=3, dd=1 -> V=2 vocab is {aa, bb} (tie on
    // 4 broken lexicographically would matter at the boundary; here the
    // boundary tie is cc=3 vs nothing)
    val docs = Seq(
      (1L, "en", "aa bb aa cc"),
      (2L, "en", "aa bb cc"),
      (3L, "de", "aa bb bb cc dd"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.vocabCoverage(docs, vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // en: 7 instances, aa+bb cover 5, oov {cc}x2 -> cover6 = 5e6/7 trunc
    assert(got("en") === ((7L, 5L, 2L, 714285L, 1L)))
    // de: 5 instances, aa+bb cover 3, oov {cc, dd} -> 600000
    assert(got("de") === ((5L, 3L, 2L, 600000L, 2L)))
    // boundary tie-break: with equal counts the lexicographically
    // smaller token wins the last vocab slot
    val tied = Seq((1L, "en", "zz aa zz aa")).toDF("doc_id", "lang", "text")
    val g2 = TextAnalysis.vocabCoverage(tied, vocabSize = 1).collect().head
    // aa and zz both count 2; V=1 keeps "aa" -> 2 of 4 covered
    assert((g2.getLong(1), g2.getLong(2), g2.getLong(5)) === ((4L, 2L, 1L)))
  }

  test("bm25TopK equals a plain-Scala BM25 replay; bounded top-k tie order") {
    // doc ids 0 and 100 are query docs (doc_id % 100 == 0)
    val corpus = Seq(
      (0L, "apple banana cherry filler1"),
      (100L, "banana date egg"),
      (1L, "apple apple banana xyz"),
      (2L, "cherry cherry cherry zzz yyy"),
      (3L, "unrelated tokens only here"))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = corpus.length
    val avgdl = toks.values.map(_.length).sum.toDouble / n.toDouble
    val queries = corpus.map(_._1).filter(_ % 100 == 0)
      .map(id => id -> toks(id).take(3).distinct).toMap
    val qTerms = queries.values.flatten.toSet
    val df = qTerms.map(t => t -> toks.count(_._2.contains(t))).toMap
    val want = (for {
      (qid, terms) <- queries.toSeq
      (did, dtoks) <- toks.toSeq
      scores = for {
        t <- terms
        tf = dtoks.count(_ == t).toLong if tf > 0
      } yield {
        val idf6 = round6(math.log((n.toDouble - df(t) + 0.5) / (df(t) + 0.5) + 1.0))
        BigDecimal(round6(idf6 * (tf * (1.2 + 1.0)) /
          (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dtoks.length / avgdl)))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      if scores.nonEmpty
    } yield (qid, did, scores.sum.toDouble))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, did, s), i) => (qid, (i + 1).toLong, did, s) }
      }.sortBy(r => (r._1, r._2))
    val got = TextAnalysis.bm25TopK(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(got === want, "BM25 rankings must replay exactly")
    // both query docs retrieve themselves at rank 1 (they contain all
    // their own query terms)
    for (qid <- queries.keys)
      assert(got.exists(r => r._1 == qid && r._2 == 1L && r._3 == qid),
        s"query doc $qid must rank itself first")
  }

  test("streamed BM25 index: batched appends equal the monolithic build; replay is idempotent") {
    val corpus = Seq(
      (1L, "apple banana shared corpus text"),
      (2L, "banana shared words more corpus"),
      (3L, "cherry something else entirely"),
      (4L, "apple apple cherry corpus words")).toDF("doc_id", "text")
    val delta = Seq(
      (0L, "apple banana cherry query terms here"),
      (10L, "apple apple delta body")).toDF("doc_id", "text")
    val queries = delta.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 3)).as("term"))
      .distinct()
    val sIdx = "bm25df_stream_spec"; val mIdx = "bm25df_mono_spec"
    Seq(sIdx, mIdx).foreach(graft.io.Bucketing.dropTable(spark, _))
    // three disjoint batches stream in
    for (b <- 0 until 3)
      TextAnalysis.appendBm25DfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(3)) === b), sIdx, b.toLong,
        buckets = 4)
    TextAnalysis.buildBm25DfIndex(corpus, mIdx, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = rows(TextAnalysis.bm25TopKIncremental(
      spark, delta, queries, sIdx))
    val mono = rows(TextAnalysis.bm25TopKIncremental(
      spark, delta, queries, mIdx))
    assert(streamed === mono,
      "stream-maintained and batch-built BM25 indexes must be interchangeable")
    // replaying a committed batch (the at-least-once foreachBatch
    // window) must be a no-op: same partition, same content
    TextAnalysis.appendBm25DfPartial(spark,
      corpus.filter(pmod(col("doc_id"), lit(3)) === 1), sIdx, 1L, buckets = 4)
    assert(rows(TextAnalysis.bm25TopKIncremental(
      spark, delta, queries, sIdx)) === mono, "batch replay must be idempotent")
    Seq(sIdx, mIdx).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("incremental BM25 against the persisted df index equals the global pass") {
    // corpus shares terms with the delta (df must MERGE: index + delta),
    // delta has its own repeated term, and the query doc sits in the delta
    val corpus = Seq(
      (1L, "apple banana shared corpus text"),
      (2L, "banana shared words more corpus"),
      (3L, "cherry something else entirely")).toDF("doc_id", "text")
    val delta = Seq(
      (0L, "apple banana cherry query terms here"), // query doc (0 % 100 == 0)
      (10L, "apple apple delta body"),
      (15L, "banana delta text again")).toDF("doc_id", "text")
    val all = corpus.unionByName(delta)
    val queries = all.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 3)).as("term"))
      .distinct()
    val idx = "bm25df_idx_spec"
    TextAnalysis.buildBm25DfIndex(corpus, idx, buckets = 4)
    val got = TextAnalysis.bm25TopKIncremental(spark, delta, queries, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // contract: identical to the GLOBAL pass over corpus ∪ delta with
    // candidates restricted to delta docs, re-ranked after the filter
    // (k=10 > corpus size so the global pass ranks EVERY candidate — a
    // delta doc outside the global top-5 must still appear here)
    val deltaIds = Set(0L, 10L, 15L)
    val want = TextAnalysis.bm25TopK(all, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .filter(r => deltaIds(r._2))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, did, s), i) => (qid, (i + 1).toLong, did, s) }
      }.toSet
    assert(got === want,
      "incremental scores must equal the global pass on delta candidates")
    assert(got.nonEmpty && got.forall(r => deltaIds(r._3)),
      "only delta docs may appear as candidates")
    graft.io.Bucketing.dropTable(spark, idx)
  }
}
