package graft

import graft.io.{Bucketing, Tombstones}
import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streamed-maintenance layouts must be INTERCHANGEABLE with their
  * batch-built siblings — the contract the q71–q74 catalog rows certify
  * end-to-end against the DuckDB oracles. These tests pin the pieces the
  * oracle cannot see: per-batch partials folding to the monolithic
  * index, idempotent replay of a torn/duplicated batch, and the
  * double-count regression the gram fold exists to prevent.
  */
class StreamedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def drop(tbls: String*): Unit = tbls.foreach(Bucketing.dropTable(spark, _))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // ---- embeddings fixture: corpus + delta with planted near-dups ----
  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val embCorpus = emb.filter(col("vec_id") % 5 =!= 0)
  private lazy val embDelta = emb.filter(col("vec_id") % 5 === 0)

  test("streamed vector-index partials fold to the batch-built index") {
    drop("sv_bands", "sv_vecs", "sv_bands_b", "sv_vecs_b")
    val bits = Similarity.adaptiveBitsPerTable(embCorpus.count())
    Similarity.buildVectorIndex(embCorpus, "sv_bands_b", "sv_vecs_b",
      bitsPerTable = bits)
    // three uneven batches
    Seq(col("vec_id") % 3 === 0, col("vec_id") % 3 === 1,
        col("vec_id") % 3 === 2).zipWithIndex.foreach { case (p, i) =>
      Similarity.appendVectorIndexPartial(spark, embCorpus.filter(p),
        "sv_bands", "sv_vecs", i.toLong, tables = 8, bitsPerTable = bits)
    }
    val want = rows(Similarity.incrementalCosineVerdictsAgainstIndex(
      spark, embDelta, "sv_bands_b", "sv_vecs_b", threshold = 0.45))
    val got = rows(Similarity.incrementalCosineVerdictsAgainstIndex(
      spark, embDelta, "sv_bands", "sv_vecs", threshold = 0.45))
    assert(got === want, "streamed probe must equal the batch-index probe")
    // replayed batch (at-least-once window) overwrites its own partition
    Similarity.appendVectorIndexPartial(spark,
      embCorpus.filter(col("vec_id") % 3 === 1), "sv_bands", "sv_vecs", 1L,
      tables = 8, bitsPerTable = bits)
    val replayed = rows(Similarity.incrementalCosineVerdictsAgainstIndex(
      spark, embDelta, "sv_bands", "sv_vecs", threshold = 0.45))
    assert(replayed === want, "batch replay must be idempotent")
    drop("sv_bands", "sv_vecs", "sv_bands_b", "sv_vecs_b")
  }

  test("streamed token-count partials reproduce the batch vocab audit; replay idempotent") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = Tables.documents(spark, sfDir)
    val tbl = "si_vocab_stream"
    graft.io.Bucketing.dropTable(spark, tbl)
    Seq(0, 1, 2).foreach { i =>
      graft.ops.TextAnalysis.appendTokenCountPartial(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) === i), tbl, i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val batch = rows(graft.ops.TextAnalysis.vocabCoverage(docs, vocabSize = 16))
    assert(rows(graft.ops.TextAnalysis.vocabCoverageFromStreamedIndex(
      spark, docs, tbl, vocabSize = 16)) === batch,
      "vocab audit over folded counts must equal the from-scratch build")
    // replaying one batch overwrites its own partition: audit unchanged
    graft.ops.TextAnalysis.appendTokenCountPartial(spark,
      docs.filter(pmod(col("doc_id"), lit(3)) === 1), tbl, 1L)
    assert(rows(graft.ops.TextAnalysis.vocabCoverageFromStreamedIndex(
      spark, docs, tbl, vocabSize = 16)) === batch,
      "batch replay must be idempotent")
    // foreign-family guard: a log2-hist table is not a token-count index
    val foreign = "si_vocab_foreign"
    graft.io.Bucketing.dropTable(spark, foreign)
    graft.ops.Sketches.appendLog2HistogramPartial(spark,
      docs.limit(20), foreign, 0L)
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.vocabCoverageFromStreamedIndex(
        spark, docs, foreign, vocabSize = 16)
    }
    graft.io.Bucketing.dropTable(spark, foreign)
    graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("streamed vector-index maintenance rejects unpinned geometry") {
    intercept[IllegalArgumentException] {
      Similarity.appendVectorIndexPartial(spark, embCorpus, "sv_nope",
        "sv_nope2", 0L, tables = 8, bitsPerTable = 0)
    }
  }

  // ---- documents fixtures ----
  private lazy val docs = Tables.documents(spark, sfDir)

  test("streamed gram-index partials fold WITHOUT double-counting shared grams") {
    drop("sg_idx", "sg_idx_b")
    val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    TextAnalysis.buildBenchGramIndex(bench, "sg_idx_b")
    // batches with OVERLAP: batch 1 re-lands half of batch 0's docs, so
    // shared grams appear in two partitions — the raw-join double-count
    // case the streamed fold must collapse
    TextAnalysis.appendBenchGramPartial(spark,
      bench.filter(col("doc_id") % 20 === 0), "sg_idx", 0L)
    TextAnalysis.appendBenchGramPartial(spark, bench, "sg_idx", 1L)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
      pmod(col("doc_id"), lit(4)) === 1)
    val want = rows(TextAnalysis.decontaminationAgainstIndex(spark, delta, "sg_idx_b"))
    val got = rows(TextAnalysis.decontaminationAgainstIndex(spark, delta, "sg_idx"))
    assert(got === want,
      "overlapping per-batch gram sets must fold to the distinct suite set")
    drop("sg_idx", "sg_idx_b")
  }

  test("gram probe rejects a foreign index family") {
    drop("sg_wrong")
    TextAnalysis.appendBm25DfPartial(spark,
      docs.limit(10), "sg_wrong", 0L)
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.decontaminationAgainstIndex(spark,
        docs.limit(5), "sg_wrong")
    }
    assert(ex.getMessage.contains("bench-grams"))
    drop("sg_wrong")
  }

  test("streamed minhash partials fold to the batch-built corpus index") {
    drop("sm_bands", "sm_sigs", "sm_bands_b", "sm_sigs_b")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    Dedup.buildCorpusIndex(corpus, "sm_bands_b", "sm_sigs_b")
    Seq(0, 1, 2).foreach { i =>
      Dedup.appendCorpusIndexPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(3)) === i),
        "sm_bands", "sm_sigs", i.toLong)
    }
    val want = rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
      "sm_bands_b", "sm_sigs_b"))
    val got = rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
      "sm_bands", "sm_sigs"))
    assert(got === want)
    // torn re-append of one batch is healed, not doubled
    Dedup.appendCorpusIndexPartial(spark,
      corpus.filter(pmod(col("doc_id"), lit(3)) === 2),
      "sm_bands", "sm_sigs", 2L)
    assert(rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
      "sm_bands", "sm_sigs")) === want, "batch replay must be idempotent")
    drop("sm_bands", "sm_sigs", "sm_bands_b", "sm_sigs_b")
  }

  test("streamed IVF assignment against pinned centroids equals the batch index") {
    drop("si_cent", "si_idx", "si_idx_b")
    Similarity.buildIvfIndex(emb, "si_idx_b")
    Similarity.buildIvfCentroids(emb, "si_cent")
    Seq(0, 1, 2, 3).foreach { i =>
      Similarity.appendIvfAssignPartial(spark,
        emb.filter(pmod(col("vec_id"), lit(4)) === i), "si_cent", "si_idx",
        i.toLong)
    }
    val want = rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_idx_b"))
    val got = rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_idx"))
    assert(got === want,
      "streamed IVF probe must equal the batch-index probe")
    drop("si_cent", "si_idx", "si_idx_b")
  }

  test("IVF maintenance refuses a non-centroid artifact table") {
    drop("si_badcent", "si_out")
    TextAnalysis.appendBm25DfPartial(spark, docs.limit(5), "si_badcent", 0L)
    intercept[IllegalArgumentException] {
      Similarity.appendIvfAssignPartial(spark, emb.limit(5), "si_badcent",
        "si_out", 0L)
    }
    drop("si_badcent", "si_out")
  }

  test("shingle-df retraction equals a rebuild without the retired docs; double retraction fails loudly") {
    drop("si_shdf_ret", "si_shdf_reb")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retired = corpus.filter(col("doc_id") % 7 === 1)
    // append-then-retract vs a from-scratch build without the retired docs
    Dedup.appendShingleDfPartial(spark, corpus, "si_shdf_ret", 0L)
    Dedup.retractShingleDfPartial(spark, retired, "si_shdf_ret", 1L)
    Dedup.buildShingleDfIndex(corpus.filter(col("doc_id") % 7 =!= 1), "si_shdf_reb")
    val got = rows(Dedup.noveltyIncremental(spark, delta, "si_shdf_ret"))
    val want = rows(Dedup.noveltyIncremental(spark, delta, "si_shdf_reb"))
    assert(got === want,
      "retraction must make the index indistinguishable from a rebuild without the docs")
    // the retraction must actually CHANGE verdicts on this fixture
    drop("si_shdf_full")
    Dedup.appendShingleDfPartial(spark, corpus, "si_shdf_full", 0L)
    assert(got !== rows(Dedup.noveltyIncremental(spark, delta, "si_shdf_full")),
      "fixture retraction changed nothing — the test is vacuous")
    // replaying the retraction batch overwrites its own partition: idempotent
    Dedup.retractShingleDfPartial(spark, retired, "si_shdf_ret", 1L)
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_shdf_ret")) === want,
      "retraction replay must be idempotent")
    // a SECOND retraction batch (same docs, new batch id) drives folded
    // dfs negative — the probe must fail loudly, not inflate novelty
    Dedup.retractShingleDfPartial(spark, retired, "si_shdf_ret", 2L)
    val e = intercept[Exception] {
      Dedup.noveltyIncremental(spark, delta, "si_shdf_ret").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("negative folded df")),
      s"expected the negative-df guard, got: ${messages(e).mkString(" | ")}")
    drop("si_shdf_ret", "si_shdf_reb", "si_shdf_full")
  }

  test("auto-compaction cadence fires every 4th batch, preserves probes, keeps stamps, and replay stays idempotent") {
    drop("si_mc", "si_mc_b")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    // the runIndexMaintenance per-batch loop: append, then the policy
    val fired = (0 until 4).map { i =>
      Dedup.appendShingleDfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(4)) === i), "si_mc", i.toLong)
      Bucketing.maintainIndex(spark, "si_mc")
    }
    assert(fired === Seq(false, false, false, true),
      s"cadence must fire exactly at the 4th accumulated batch, got $fired")
    // the cursor property blocks an immediate re-fire
    assert(!Bucketing.maintainIndex(spark, "si_mc"),
      "cursor must record the fold — an immediate re-check may not re-compact")
    assert(Bucketing.tableKind(spark, "si_mc").contains("shingle-df"),
      "the kind stamp must survive the auto-compaction rewrite")
    // compacted streamed index still equals the batch build
    Dedup.buildShingleDfIndex(corpus, "si_mc_b")
    val want = rows(Dedup.noveltyIncremental(spark, delta, "si_mc_b"))
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_mc")) === want,
      "auto-compacted streamed index must still equal the batch build")
    // a batch replayed AFTER the cadence rewrite must not change the
    // probe (shingle-df is additive, so the cadence folded and the
    // replay no-ops on the watermark)
    Dedup.appendShingleDfPartial(spark,
      corpus.filter(pmod(col("doc_id"), lit(4)) === 2), "si_mc", 2L)
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_mc")) === want,
      "replay after auto-compaction must be idempotent")
    // four FRESH batches re-arm the cadence (cursor compares batch ids)
    val fired2 = (4 until 8).map { i =>
      Dedup.appendShingleDfPartial(spark,
        delta.filter(pmod(col("doc_id"), lit(4)) === (i - 4)), "si_mc", i.toLong)
      Bucketing.maintainIndex(spark, "si_mc")
    }
    assert(fired2 === Seq(false, false, false, true),
      s"cadence must re-arm after the fold, got $fired2")
    drop("si_mc", "si_mc_b")
  }

  test("minhash tombstone retraction: retired docs stop matching, guards fire, purge equals clean build") {
    drop("si_mh_bands", "si_mh_sigs", "si_mh_tombs",
      "si_mh_bands_clean", "si_mh_sigs_clean")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    // poison twins: every delta doc re-keyed — jaccard 1.0 with itself,
    // so ANY leak flips that doc's verdict
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    Dedup.buildCorpusIndex(corpus, "si_mh_bands", "si_mh_sigs")
    Dedup.appendCorpusIndexPartial(spark, poison, "si_mh_bands", "si_mh_sigs", 1L)
    Dedup.buildCorpusIndex(corpus, "si_mh_bands_clean", "si_mh_sigs_clean")
    val want = rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
      "si_mh_bands_clean", "si_mh_sigs_clean"))
    // the poison must CHANGE verdicts before retraction, or the test is vacuous
    val poisoned = rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
      "si_mh_bands", "si_mh_sigs"))
    assert(poisoned !== want, "poison changed nothing — vacuous fixture")
    // retract + tombstone-gated probe == clean build
    val mh = Tombstones.minhash("si_mh_bands", "si_mh_sigs", "si_mh_tombs")
    Tombstones.retract(spark, mh, poison, 0L)
    assert(rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
        "si_mh_bands", "si_mh_sigs", tombstonesTable = Some("si_mh_tombs")))
      === want,
      "tombstone-gated probe must equal the clean-corpus build")
    // replay of the SAME retraction batch is idempotent
    Tombstones.retract(spark, mh, poison, 0L)
    assert(rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
        "si_mh_bands", "si_mh_sigs", tombstonesTable = Some("si_mh_tombs")))
      === want, "retraction replay must be idempotent")
    // double retraction in a NEW batch fails loudly
    val dbl = intercept[IllegalArgumentException] {
      Tombstones.retract(spark, mh, poison, 1L)
    }
    assert(dbl.getMessage.contains("already retracted"), dbl.getMessage)
    // orphan retraction (never-indexed doc) fails loudly
    val orphan = intercept[IllegalArgumentException] {
      Tombstones.retract(spark, mh,
        delta.withColumn("doc_id", col("doc_id") + lit(77000000L)), 2L)
    }
    assert(orphan.getMessage.contains("absent"), orphan.getMessage)
    // PURGE: postings physically gone, probe equals clean WITHOUT a gate
    assert(Tombstones.purge(spark, mh))
    assert(!spark.catalog.tableExists("si_mh_tombs"),
      "purge must drop the tombstone table")
    assert(spark.table("si_mh_sigs")
      .filter(col("doc_id") >= 10000000L).count() === 0L,
      "purged signatures must be gone from disk")
    assert(spark.table("si_mh_bands")
      .filter(col("doc_id") >= 10000000L).count() === 0L,
      "purged band postings must be gone from disk")
    assert(rows(Dedup.incrementalVerdictsAgainstIndex(spark, delta,
      "si_mh_bands", "si_mh_sigs")) === want,
      "purged index must equal a build that never contained the poison")
    drop("si_mh_bands", "si_mh_sigs", "si_mh_bands_clean", "si_mh_sigs_clean")
  }

  test("vector tombstone retraction + purge: retired vectors stop matching; purge swap survives an injected crash") {
    drop("si_vr_bands", "si_vr_vecs", "si_vr_tombs",
      "si_vr_bands_clean", "si_vr_vecs_clean")
    val poison = embDelta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    // pinned geometry from the build input — the p117 doctrine
    val bits = Similarity.adaptiveBitsPerTable(
      embCorpus.count() + poison.count())
    Similarity.buildVectorIndex(embCorpus.unionByName(poison),
      "si_vr_bands", "si_vr_vecs", bitsPerTable = bits)
    Similarity.buildVectorIndex(embCorpus,
      "si_vr_bands_clean", "si_vr_vecs_clean", bitsPerTable = bits)
    val want = rows(Similarity.incrementalCosineVerdictsAgainstIndex(spark,
      embDelta, "si_vr_bands_clean", "si_vr_vecs_clean", threshold = 0.45,
      bitsPerTable = bits))
    assert(rows(Similarity.incrementalCosineVerdictsAgainstIndex(spark,
        embDelta, "si_vr_bands", "si_vr_vecs", threshold = 0.45,
        bitsPerTable = bits)) !== want,
      "poison changed nothing — vacuous fixture")
    val vr = Tombstones.vector("si_vr_bands", "si_vr_vecs", "si_vr_tombs")
    Tombstones.retract(spark, vr, poison, 0L)
    // tombstone-gated probe already equals the clean build
    assert(rows(Similarity.incrementalCosineVerdictsAgainstIndex(spark,
        embDelta, "si_vr_bands", "si_vr_vecs", threshold = 0.45,
        bitsPerTable = bits, tombstonesTable = Some("si_vr_tombs")))
      === want, "tombstone-gated probe must equal the clean build")
    // purge with an injected crash in the swap window, then repair —
    // the compaction two-name protocol applied to deletion
    intercept[IllegalStateException] {
      graft.io.Bucketing.withFailpoint("si_vr_vecs", "rename-into-place") {
        graft.io.Bucketing.purgeBucketed(spark, "si_vr_vecs",
          spark.table("si_vr_tombs").select(col("corpus_id")), "corpus_id")
      }
    }
    assert(graft.io.Bucketing.repairCompaction(spark, "si_vr_vecs"),
      "repair must restore the table after a mid-swap crash")
    assert(Tombstones.purge(spark, vr))
    assert(spark.table("si_vr_vecs")
      .filter(col("corpus_id") >= 10000000L).count() === 0L,
      "purged payloads must be gone from disk")
    assert(rows(Similarity.incrementalCosineVerdictsAgainstIndex(spark,
        embDelta, "si_vr_bands", "si_vr_vecs", threshold = 0.45,
        bitsPerTable = bits)) === want,
      "purged index must equal a build that never contained the poison")
    drop("si_vr_bands", "si_vr_vecs", "si_vr_bands_clean", "si_vr_vecs_clean")
  }

  test("line-df retraction equals a rebuild without the retired docs; negative fold fails loudly") {
    drop("si_ldf_ret", "si_ldf_reb")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retired = corpus.filter(col("doc_id") % 7 === 1)
    TextAnalysis.appendLineDfPartial(spark, corpus, "si_ldf_ret", 0L)
    TextAnalysis.retractLineDfPartial(spark, retired, "si_ldf_ret", 1L)
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") % 7 =!= 1), "si_ldf_reb", 0L)
    val got = rows(TextAnalysis.lineDedupIncremental(spark, delta, "si_ldf_ret"))
    val want = rows(TextAnalysis.lineDedupIncremental(spark, delta, "si_ldf_reb"))
    assert(got === want,
      "retraction must equal a rebuild without the retired docs")
    // non-vacuous: the retired docs' dfs changed some delta verdicts
    drop("si_ldf_full")
    TextAnalysis.appendLineDfPartial(spark, corpus, "si_ldf_full", 0L)
    assert(got !== rows(TextAnalysis.lineDedupIncremental(spark, delta, "si_ldf_full")),
      "fixture retraction changed nothing — vacuous")
    // double retraction drives folds negative — probe fails loudly
    TextAnalysis.retractLineDfPartial(spark, retired, "si_ldf_ret", 2L)
    val e = intercept[Exception] {
      TextAnalysis.lineDedupIncremental(spark, delta, "si_ldf_ret").collect()
    }
    assert(messages(e).exists(_.contains("negative folded df")),
      s"expected the negative-df guard, got: ${messages(e).mkString(" | ")}")
    drop("si_ldf_ret", "si_ldf_reb", "si_ldf_full")
  }

  test("window-df retraction: fully-retracted windows become ABSENT, not present-at-zero") {
    drop("si_wdf_ret", "si_wdf_reb")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    // the POISON device (p118's): re-keyed delta twins plant every
    // delta window in the index, so their retraction PROVABLY changes
    // verdicts — a %7 retired slice shares no 8-token window with the
    // delta on this fixture and tests nothing
    val poison = delta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    Dedup.appendWindowDfPartial(spark, corpus, "si_wdf_ret", 0L, k = 8)
    Dedup.appendWindowDfPartial(spark, poison, "si_wdf_ret", 1L, k = 8)
    Dedup.appendWindowDfPartial(spark, corpus, "si_wdf_reb", 0L, k = 8)
    val want = rows(Dedup.substringRemoveIncremental(spark, delta, "si_wdf_reb", k = 8))
    assert(rows(Dedup.substringRemoveIncremental(spark, delta, "si_wdf_ret", k = 8))
      !== want, "poison changed nothing — vacuous")
    // retract the poison: windows whose EVERY occurrence was poison
    // fold to zero and must read as ABSENT (presence is this family's
    // predicate), restoring the clean-corpus verdicts exactly
    Dedup.retractWindowDfPartial(spark, poison, "si_wdf_ret", 2L, k = 8)
    assert(rows(Dedup.substringRemoveIncremental(spark, delta, "si_wdf_ret", k = 8))
      === want, "retraction must equal the clean-corpus build")
    // double retraction drives poison-only windows negative — loud
    Dedup.retractWindowDfPartial(spark, poison, "si_wdf_ret", 3L, k = 8)
    val e = intercept[Exception] {
      Dedup.substringRemoveIncremental(spark, delta, "si_wdf_ret", k = 8).collect()
    }
    assert(messages(e).exists(_.contains("negative folded window count")),
      s"expected the negative guard, got: ${messages(e).mkString(" | ")}")
    drop("si_wdf_ret", "si_wdf_reb")
  }

  test("token-count retraction ripples through all three probes; bm25 retraction through the scorer") {
    drop("si_tc_ret", "si_tc_reb")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retired = corpus.filter(col("doc_id") % 7 === 1)
    TextAnalysis.appendTokenCountPartial(spark, corpus, "si_tc_ret", 0L)
    TextAnalysis.retractTokenCountPartial(spark, retired, "si_tc_ret", 1L)
    TextAnalysis.appendTokenCountPartial(spark,
      corpus.filter(col("doc_id") % 7 =!= 1), "si_tc_reb", 0L)
    // all three probe types agree with the rebuild-without
    assert(rows(TextAnalysis.unigramLogProbIncremental(spark, delta, "si_tc_ret"))
      === rows(TextAnalysis.unigramLogProbIncremental(spark, delta, "si_tc_reb")),
      "logprob probe must see the rebuild-without counts")
    assert(rows(TextAnalysis.vocabCoverageFromStreamedIndex(spark, delta, "si_tc_ret", vocabSize = 16))
      === rows(TextAnalysis.vocabCoverageFromStreamedIndex(spark, delta, "si_tc_reb", vocabSize = 16)),
      "vocab probe must see the rebuild-without vocabulary")
    assert(rows(graft.ops.Sketches.driftProbeIncremental(spark, delta, "si_tc_ret"))
      === rows(graft.ops.Sketches.driftProbeIncremental(spark, delta, "si_tc_reb")),
      "drift probe must see the rebuild-without distribution")
    // negative-guard check needs a token NOT shared with survivors: the
    // fixture's tiny vocabulary is fully shared, so a double retraction
    // of real docs stays positive everywhere. A synthetic unique-token
    // doc goes 1 -> 0 (dropped, fine) -> -1 (loud).
    import spark.implicits._
    val uniq = Seq((9999999L, "uniqretracttok uniqretracttok"))
      .toDF("doc_id", "text")
    TextAnalysis.appendTokenCountPartial(spark, uniq, "si_tc_ret", 5L)
    TextAnalysis.retractTokenCountPartial(spark, uniq, "si_tc_ret", 6L)
    TextAnalysis.retractTokenCountPartial(spark, uniq, "si_tc_ret", 7L)
    val e = intercept[Exception] {
      TextAnalysis.unigramLogProbIncremental(spark, delta, "si_tc_ret").collect()
    }
    assert(messages(e).exists(_.contains("negative folded token count")),
      s"expected the negative guard, got: ${messages(e).mkString(" | ")}")
    drop("si_tc_ret", "si_tc_reb")
    // --- bm25-df: dfs AND sentinel stats retract together ---
    drop("si_bm_ret", "si_bm_reb")
    val queries = TextAnalysis.bm25QuerySet(docs)
    TextAnalysis.appendBm25DfPartial(spark, corpus, "si_bm_ret", 0L)
    TextAnalysis.retractBm25DfPartial(spark, retired, "si_bm_ret", 1L)
    TextAnalysis.appendBm25DfPartial(spark,
      corpus.filter(col("doc_id") % 7 =!= 1), "si_bm_reb", 0L)
    assert(rows(TextAnalysis.bm25TopKIncremental(spark, delta, queries, "si_bm_ret"))
      === rows(TextAnalysis.bm25TopKIncremental(spark, delta, queries, "si_bm_reb")),
      "bm25 scorer must see the rebuild-without dfs and stats")
    drop("si_bm_ret", "si_bm_reb")
  }

  test("IVF tombstone retraction: retired vectors leave the neighbor lists; purge removes them from disk") {
    drop("si_ivf_ret", "si_ivf_tombs", "si_ivf_clean", "si_ivf_cents")
    val poison = embDelta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    // centroids PINNED from the clean corpus (the q74 provisioning
    // doctrine): deriving them from corpus ∪ poison would let poison
    // ids into the Knuth-scramble sample and diverge the two builds'
    // geometry — the comparison must differ only in index CONTENT
    Similarity.buildIvfCentroids(emb, "si_ivf_cents")
    Similarity.appendIvfAssignPartial(spark, emb, "si_ivf_cents", "si_ivf_ret", 0L)
    Similarity.appendIvfAssignPartial(spark, poison, "si_ivf_cents", "si_ivf_ret", 1L)
    Similarity.appendIvfAssignPartial(spark, emb, "si_ivf_cents", "si_ivf_clean", 0L)
    val want = rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_ivf_clean"))
    assert(rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_ivf_ret")) !== want,
      "poison changed nothing — vacuous")
    val ivf = Tombstones.ivf("si_ivf_ret", "si_ivf_tombs")
    Tombstones.retract(spark, ivf, poison, 0L)
    assert(rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_ivf_ret",
        tombstonesTable = Some("si_ivf_tombs"))) === want,
      "tombstone-gated probe must equal the clean build")
    assert(Tombstones.purge(spark, ivf))
    assert(spark.table("si_ivf_ret")
      .filter(col("vec_id") >= 10000000L).count() === 0L,
      "purged assignments must be gone from disk")
    assert(rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_ivf_ret")) === want,
      "purged index must equal a build that never contained the poison")
    drop("si_ivf_ret", "si_ivf_clean", "si_ivf_cents")
  }

  test("purge cadence: pending batches below the threshold keep the gate; the fold drops it and stamps the replay watermark") {
    drop("si_pc_ivf", "si_pc_tombs", "si_pc_cents", "si_pc_clean")
    val poisonA = embDelta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    val poisonB = embDelta.withColumn("vec_id", col("vec_id") + lit(20000000L))
    Similarity.buildIvfCentroids(emb, "si_pc_cents")
    Similarity.appendIvfAssignPartial(spark, emb, "si_pc_cents", "si_pc_ivf", 0L)
    Similarity.appendIvfAssignPartial(spark, poisonA, "si_pc_cents", "si_pc_ivf", 1L)
    Similarity.appendIvfAssignPartial(spark, poisonB, "si_pc_cents", "si_pc_ivf", 2L)
    Similarity.appendIvfAssignPartial(spark, emb, "si_pc_cents", "si_pc_clean", 0L)
    val want = rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_pc_clean"))
    val ivf = Tombstones.ivf("si_pc_ivf", "si_pc_tombs").copy(purgeEvery = 2)
    // nothing retracted yet → nothing to purge
    assert(!Tombstones.purge(spark, ivf))
    Tombstones.retract(spark, ivf, poisonA, 10L)
    // one pending batch < cadence 2 → the purge waits, the gate stays
    assert(Bucketing.tableProperty(spark, "si_pc_ivf",
        Tombstones.PurgedThroughProperty).isEmpty,
      "cadence must not fire below the pending-batch threshold")
    assert(spark.catalog.tableExists("si_pc_tombs"))
    Tombstones.retract(spark, ivf, poisonB, 11L)
    // the second pending batch crosses the cadence → fold + gate drop
    assert(Bucketing.tableProperty(spark, "si_pc_ivf",
        Tombstones.PurgedThroughProperty) === Some("11"),
      "cadence must fire at the pending-batch threshold")
    assert(!spark.catalog.tableExists("si_pc_tombs"),
      "purge must drop the tombstone table")
    assert(spark.table("si_pc_ivf")
      .filter(col("vec_id") >= 10000000L).count() === 0L,
      "purged assignments must be gone from disk")
    assert(rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_pc_ivf"))
      === want, "post-purge probe (no gate) must equal the clean build")
    // post-purge replay of a folded batch no-ops on the watermark — the
    // at-least-once window does not end at purge (ADVICE r17)
    assert(!Tombstones.retract(spark, ivf, poisonA, 10L),
      "a post-purge replay must be recognized and no-op")
    assert(!spark.catalog.tableExists("si_pc_tombs"),
      "a replayed folded batch must not resurrect the tombstone table")
    assert(rows(Similarity.ivfTopKAgainstIndex(spark, emb, "si_pc_ivf"))
      === want, "a post-purge replay must change nothing")
    // a NEW retraction batch above the watermark still lands normally
    assert(Tombstones.retract(spark, ivf,
      emb.filter(col("vec_id") % 97 === 3), 12L),
      "a fresh batch above the watermark must land")
    assert(spark.catalog.tableExists("si_pc_tombs"))
    drop("si_pc_ivf", "si_pc_tombs", "si_pc_cents", "si_pc_clean")
  }

  test("mid-purge-window replay: ids already purged from the index but still tombstoned pass the orphan guard") {
    drop("si_pw_ivf", "si_pw_tombs", "si_pw_cents")
    val poison = embDelta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    Similarity.buildIvfCentroids(emb, "si_pw_cents")
    Similarity.appendIvfAssignPartial(spark, emb, "si_pw_cents", "si_pw_ivf", 0L)
    Similarity.appendIvfAssignPartial(spark, poison, "si_pw_cents", "si_pw_ivf", 1L)
    val ivf = Tombstones.ivf("si_pw_ivf", "si_pw_tombs")
    Tombstones.retract(spark, ivf, poison, 0L)
    // simulate the crash window inside purge(): the index rewrite ran,
    // the watermark stamp and tombstone drop did not
    graft.io.Bucketing.purgeBucketed(spark, "si_pw_ivf",
      spark.table("si_pw_tombs").select(col("vec_id")), "vec_id")
    // a replay of the same retraction batch must still pass: its ids
    // are gone from the index (the purge removed them) but present in
    // the tombstone table — membership there exempts them from the
    // orphan guard, because this is recovery, not history corruption
    assert(Tombstones.retract(spark, ivf, poison, 0L),
      "a replay landing in the purge crash window must pass")
    // and the re-run purge completes the fold idempotently
    assert(Tombstones.purge(spark, ivf))
    assert(!spark.catalog.tableExists("si_pw_tombs"))
    drop("si_pw_ivf", "si_pw_cents")
  }

  test("a REUSED batch id at/below the purge watermark with live ids fails loudly, not as a silent no-op") {
    // ADVICE r18: the watermark short-circuit must distinguish a true
    // replay (ids gone — purged) from an operator reusing a low batch
    // id for a FRESH right-to-be-forgotten request; swallowing the
    // latter leaves the ids indexed while the caller believes them
    // forgotten.
    drop("si_ru_ivf", "si_ru_tombs", "si_ru_cents")
    val poison = embDelta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    Similarity.buildIvfCentroids(emb, "si_ru_cents")
    Similarity.appendIvfAssignPartial(spark, emb, "si_ru_cents", "si_ru_ivf", 0L)
    Similarity.appendIvfAssignPartial(spark, poison, "si_ru_cents", "si_ru_ivf", 1L)
    val ivf = Tombstones.ivf("si_ru_ivf", "si_ru_tombs")
    Tombstones.retract(spark, ivf, poison, 0L)
    assert(Tombstones.purge(spark, ivf))
    // a true replay of the purged batch still no-ops cleanly
    assert(!Tombstones.retract(spark, ivf, poison, 0L))
    // a fresh retraction wearing the purged batch id names LIVE ids —
    // must fail loudly, and the ids must still be indexed afterwards
    val live = emb.filter(col("vec_id") % 97 === 3)
    val e = intercept[Exception] {
      Tombstones.retract(spark, ivf, live, 0L)
    }
    assert(messages(e).exists(_.contains("still live")),
      s"expected the reused-batch-id guard, got: ${messages(e).mkString(" | ")}")
    assert(!spark.catalog.tableExists("si_ru_tombs"),
      "the rejected batch must not land anything")
    drop("si_ru_ivf", "si_ru_tombs", "si_ru_cents")
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("incremental unigram logprob equals the global computation on the delta") {
    drop("si_tok_lp")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    // two appended batches play the streamed history: counts fold additively
    Seq(0, 1).foreach { i =>
      TextAnalysis.appendTokenCountPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(2)) === i), "si_tok_lp", i.toLong)
    }
    val got = rows(TextAnalysis.unigramLogProbIncremental(spark, delta, "si_tok_lp"))
    val want = rows(TextAnalysis.unigramLogProb(docs)
      .filter(col("doc_id") % 5 === 0))
    assert(got === want,
      "index-merged logprob must be bit-identical to the global computation on the delta")
    drop("si_tok_lp")
  }

  test("streamed shingle-df partials fold to the batch index; replay idempotent; foreign family rejected") {
    drop("si_shdf", "si_shdf_b")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    Dedup.buildShingleDfIndex(corpus, "si_shdf_b")
    // three uneven doc-disjoint batches: dfs must ADD to the global count
    Seq(0, 1, 2).foreach { i =>
      Dedup.appendShingleDfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(3)) === i), "si_shdf", i.toLong)
    }
    val want = rows(Dedup.noveltyIncremental(spark, delta, "si_shdf_b"))
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_shdf")) === want,
      "streamed probe must equal the batch-index probe")
    // ... and both must equal the GLOBAL batch computation restricted
    // to the delta — the whole point of the df merge
    val global = rows(Dedup.ngramNovelty(docs)
      .filter(col("doc_id") % 5 === 0))
    assert(want === global,
      "index-probed novelty must equal the global computation on the delta")
    // replayed batch overwrites its own partition (at-least-once window)
    Dedup.appendShingleDfPartial(spark,
      corpus.filter(pmod(col("doc_id"), lit(3)) === 1), "si_shdf", 1L)
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_shdf")) === want,
      "batch replay must be idempotent")
    // foreign-family guard: a bm25-df table is not a shingle-df index
    drop("si_shdf_foreign")
    TextAnalysis.appendBm25DfPartial(spark, docs.limit(5), "si_shdf_foreign", 0L)
    intercept[IllegalArgumentException] {
      Dedup.noveltyIncremental(spark, delta, "si_shdf_foreign")
    }
    drop("si_shdf", "si_shdf_b", "si_shdf_foreign")
  }

  test("fold-purge: a retract-heavy history folds to the rebuild's row count; probes unchanged; replays past the fold no-op") {
    drop("si_fp", "si_fp_reb")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retiredA = corpus.filter(col("doc_id") % 7 === 1)
    val retiredB = corpus.filter(col("doc_id") % 7 === 2)
    (0 until 4).foreach { i =>
      Dedup.appendShingleDfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(4)) === i), "si_fp", i.toLong)
    }
    Dedup.retractShingleDfPartial(spark, retiredA, "si_fp", 4L)
    Dedup.retractShingleDfPartial(spark, retiredB, "si_fp", 5L)
    val want = rows(Dedup.noveltyIncremental(spark, delta, "si_fp"))
    val rowsBefore = spark.table("si_fp").count()
    Bucketing.foldBucketed(spark, "si_fp")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_fp")) === want,
      "fold must not change any probe result")
    val rowsAfter = spark.table("si_fp").count()
    assert(rowsAfter < rowsBefore,
      "fold must physically shrink a retract-heavy index")
    // THE unbounded-growth claim: the folded index is row-for-row the
    // rebuild without the retired docs — zero surviving (+df, −df) pairs
    Dedup.buildShingleDfIndex(
      corpus.filter(col("doc_id") % 7 =!= 1 && col("doc_id") % 7 =!= 2),
      "si_fp_reb")
    assert(rowsAfter === spark.table("si_fp_reb").count(),
      "folded row count must equal the rebuild-without row count")
    assert(spark.table("si_fp").filter(col("df_corpus") <= 0).count() === 0L,
      "no zero/negative rows may survive the fold")
    assert(Bucketing.foldedThrough(spark, "si_fp") === 5L,
      "the fold watermark must record the highest folded batch")
    // replay of a folded APPEND no-ops (landed = false), content unchanged
    assert(!Dedup.appendShingleDfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(4)) === 2), "si_fp", 2L),
      "a folded append batch must report landed = false on replay")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_fp")) === want)
    // replay of a folded RETRACTION no-ops — without the watermark this
    // second negated partial would drive folds negative and break probes
    assert(!Dedup.retractShingleDfPartial(spark, retiredA, "si_fp", 4L),
      "a folded retraction batch must report landed = false on replay")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_fp")) === want)
    // a FRESH batch above the watermark lands normally
    assert(Dedup.appendShingleDfPartial(spark, delta, "si_fp", 6L),
      "a fresh batch above the watermark must land")
    assert(spark.table("si_fp").count() > rowsAfter,
      "the fresh batch's partial must be present")
    drop("si_fp", "si_fp_reb")
  }

  test("maybeFold cadence: additive tables fold every 4th batch, advance both cursors, re-arm") {
    drop("si_mf", "si_mf_reb")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retired = corpus.filter(col("doc_id") % 7 === 1)
    // the runIndexMaintenance loop shape: 3 appends + 1 retraction batch
    val fired = (0 until 4).map { i =>
      if (i < 3)
        Dedup.appendShingleDfPartial(spark,
          corpus.filter(pmod(col("doc_id"), lit(3)) === i), "si_mf", i.toLong)
      else Dedup.retractShingleDfPartial(spark, retired, "si_mf", i.toLong)
      Bucketing.maintainIndex(spark, "si_mf")
    }
    assert(fired === Seq(false, false, false, true),
      s"fold cadence must fire exactly at the 4th accumulated batch, got $fired")
    assert(!Bucketing.maintainIndex(spark, "si_mf"),
      "the watermark must block an immediate re-fire")
    assert(Bucketing.foldedThrough(spark, "si_mf") === 3L &&
        Bucketing.tableProperty(spark, "si_mf",
          Bucketing.CompactedAtProperty) === Some("3"),
      "an additive table must get a fold (watermark advanced), not an " +
        "identity compaction — and the fold subsumes a compaction " +
        "(compaction cursor advanced)")
    assert(Bucketing.tableKind(spark, "si_mf").contains("shingle-df"),
      "the kind stamp must survive the fold rewrite")
    // probe equals the rebuild without the retired docs
    Dedup.buildShingleDfIndex(corpus.filter(col("doc_id") % 7 =!= 1),
      "si_mf_reb")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_mf")) ===
        rows(Dedup.noveltyIncremental(spark, delta, "si_mf_reb")),
      "the folded index must probe as the rebuild-without")
    // fresh batches above the watermark re-arm the cadence
    val fired2 = (4 until 8).map { i =>
      Dedup.appendShingleDfPartial(spark,
        delta.filter(pmod(col("doc_id"), lit(4)) === (i - 4)), "si_mf",
        i.toLong)
      Bucketing.maintainIndex(spark, "si_mf")
    }
    assert(fired2 === Seq(false, false, false, true),
      s"cadence must re-arm after the fold, got $fired2")
    drop("si_mf", "si_mf_reb")
  }

  test("fold swap survives injected crashes at both steps; guards refuse wrong tables and negative folds") {
    drop("si_fc")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retired = corpus.filter(col("doc_id") % 7 === 1)
    Dedup.appendShingleDfPartial(spark, corpus, "si_fc", 0L)
    Dedup.retractShingleDfPartial(spark, retired, "si_fc", 1L)
    val want = rows(Dedup.noveltyIncremental(spark, delta, "si_fc"))
    // crash between the two renames: repair restores the ORIGINAL
    // (unfolded, unstamped) table — replays stay partition-idempotent
    intercept[IllegalStateException] {
      Bucketing.withFailpoint("si_fc", "rename-into-place") {
        Bucketing.foldBucketed(spark, "si_fc")
      }
    }
    assert(Bucketing.repairCompaction(spark, "si_fc"))
    assert(Bucketing.foldedThrough(spark, "si_fc") === Long.MinValue,
      "a crash before the swap must not leave a watermark")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_fc")) === want)
    // crash after the swap: the folded table is live AND stamped (the
    // watermark rode the swap); repair only sweeps the backup
    intercept[IllegalStateException] {
      Bucketing.withFailpoint("si_fc", "drop-leftover") {
        Bucketing.foldBucketed(spark, "si_fc")
      }
    }
    assert(Bucketing.repairCompaction(spark, "si_fc"))
    assert(Bucketing.foldedThrough(spark, "si_fc") === 1L,
      "the watermark must be visible the instant the folded table is")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "si_fc")) === want)
    // guard: a posting-list family must be refused
    drop("si_fc_mh_bands", "si_fc_mh_sigs")
    Dedup.appendCorpusIndexPartial(spark, corpus.limit(20),
      "si_fc_mh_bands", "si_fc_mh_sigs", 0L)
    intercept[IllegalArgumentException] {
      Bucketing.foldBucketed(spark, "si_fc_mh_bands")
    }
    // guard: corrupted history (double retraction) aborts the rewrite
    // loudly instead of persisting a negative-df index
    drop("si_fc_neg")
    Dedup.appendShingleDfPartial(spark, corpus, "si_fc_neg", 0L)
    Dedup.retractShingleDfPartial(spark, retired, "si_fc_neg", 1L)
    Dedup.retractShingleDfPartial(spark, retired, "si_fc_neg", 2L)
    val e = intercept[Exception] { Bucketing.foldBucketed(spark, "si_fc_neg") }
    assert(messages(e).exists(_.contains("folds a negative")),
      s"expected the negative-fold guard, got: ${messages(e).mkString(" | ")}")
    assert(Bucketing.repairCompaction(spark, "si_fc_neg"),
      "an aborted fold must leave the original table resolvable")
    drop("si_fc", "si_fc_mh_bands", "si_fc_mh_sigs", "si_fc_neg")
  }

  test("fold preserves probe results for the other four additive families and drops their cancelled pairs") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val retired = corpus.filter(col("doc_id") % 7 === 1)
    def foldShrinksKeepingProbe(tbl: String, probe: () => Set[String]): Unit = {
      val want = probe()
      val before = spark.table(tbl).count()
      Bucketing.foldBucketed(spark, tbl)
      assert(probe() === want, s"$tbl: fold must not change the probe")
      assert(spark.table(tbl).count() < before,
        s"$tbl: fold must drop the retracted keys' cancelled row pairs")
    }
    // line-df
    drop("si_f4_line")
    TextAnalysis.appendLineDfPartial(spark, corpus, "si_f4_line", 0L)
    TextAnalysis.retractLineDfPartial(spark, retired, "si_f4_line", 1L)
    foldShrinksKeepingProbe("si_f4_line",
      () => rows(TextAnalysis.lineDedupIncremental(spark, delta, "si_f4_line")))
    // window-df
    drop("si_f4_win")
    Dedup.appendWindowDfPartial(spark, corpus, "si_f4_win", 0L)
    Dedup.retractWindowDfPartial(spark, retired, "si_f4_win", 1L)
    foldShrinksKeepingProbe("si_f4_win",
      () => rows(Dedup.substringRemoveIncremental(spark, delta, "si_f4_win")))
    // token-count
    drop("si_f4_tok")
    TextAnalysis.appendTokenCountPartial(spark, corpus, "si_f4_tok", 0L)
    TextAnalysis.retractTokenCountPartial(spark, retired, "si_f4_tok", 1L)
    foldShrinksKeepingProbe("si_f4_tok",
      () => rows(TextAnalysis.vocabCoverageFromStreamedIndex(spark, delta,
        "si_f4_tok")))
    // bm25-df (sentinel stats terms fold with the dfs — single table)
    drop("si_f4_bm")
    TextAnalysis.appendBm25DfPartial(spark, corpus, "si_f4_bm", 0L)
    TextAnalysis.retractBm25DfPartial(spark, retired, "si_f4_bm", 1L)
    foldShrinksKeepingProbe("si_f4_bm",
      () => rows(TextAnalysis.bm25TopKIncremental(spark, delta,
        TextAnalysis.bm25QuerySet(docs), "si_f4_bm")))
    drop("si_f4_line", "si_f4_win", "si_f4_tok", "si_f4_bm")
  }
}
