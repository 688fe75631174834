package graft

import graft.io.{Bucketing, Tombstones}
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Randomized multi-kill chaos over one streamed-index lifecycle.
  *
  * RecoverySpec proves each failure mode in isolation (one kill, one
  * recovery); this suite composes them: across a full
  * build → append → compact → probe lifecycle of the line-df index, a
  * seeded RNG schedules torn batch commits (a strict subset of the
  * batch persisted under its batch_id — the partial-job-commit window),
  * compaction swaps killed at either failpoint, repairs that sometimes
  * run promptly and sometimes are left for the NEXT maintenance entry
  * to perform, and batch splits that change every seed. Whatever the
  * schedule, the surviving index must fold to exactly the
  * monolithically-built document frequencies — the invariant every
  * individual recovery path claims to preserve, here checked under
  * their interleavings. Seeds are fixed (0 until N) and each assertion
  * carries its seed, so any failure is replayable verbatim.
  *
  * This is the test that catches cross-step interactions single-kill
  * tests can't: e.g. a compaction rewrite that silently dropped the
  * batch_id partition layout would make the next append's
  * dynamic-partition-overwrite truncate the whole index, and an append
  * entering while the index sits under its _precompact backup name
  * would re-create a fresh index and orphan every earlier batch —
  * both now guarded in the production code and exercised here.
  */
class ChaosSpec extends SparkSpec {
  import spark.implicits._

  private val Seeds = 24

  /** The two whole-table swap crash points the seeded lifecycles draw:
    * 1 = between the two renames (the table name does not resolve),
    * 2 = after the swap, before the backup is dropped. */
  private def swapCrash(crashStep: Int): String =
    if (crashStep == 1) "rename-into-place" else "drop-leftover"

  // small corpus with deliberate line overlap: shared boilerplate lines
  // (df > 1 across docs and batches) plus per-doc unique lines
  private lazy val corpus = (1L to 20L).map { id =>
    val shared = s"shared boilerplate ${id % 3}"
    val also = if (id % 2 == 0) "even docs carry this line\n" else ""
    (id, s"$shared\n${also}unique line of doc $id")
  }.toDF("doc_id", "text")

  private lazy val delta = Seq(
    (100L, "shared boilerplate 1\nfresh delta line"),
    (101L, "even docs carry this line\nanother delta line"),
    (102L, "all mine\nnothing shared")).toDF("doc_id", "text")

  test(s"$Seeds seeded multi-kill lifecycles all converge on the batch-built index") {
    val refTbl = "chaos_ref_linedf"
    Bucketing.dropTable(spark, refTbl)
    TextAnalysis.buildLineDfIndex(corpus, refTbl, byLines = true, buckets = 2)
    val want = spark.table(refTbl).drop("batch_id")
    val wantProbe = TextAnalysis.lineDedup(corpus.unionByName(delta),
      byLines = true).filter(col("doc_id") >= 100L)

    val ids = (1L to 20L).toVector
    for (seed <- 0 until Seeds) {
      val rnd = new scala.util.Random(seed)
      val tbl = s"chaos_linedf_s$seed"
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))

      // seed-dependent disjoint batch split (1–4 batches, random sizes)
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector

      def append(docIds: Vector[Long], bid: Long): Unit =
        TextAnalysis.appendLineDfPartial(spark,
          corpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid,
          byLines = true, buckets = 2)

      def maybeCompact(): Unit = if (rnd.nextDouble() < 0.35) {
        val crashStep = rnd.nextInt(3) // 0 = clean compact, 1/2 = failpoints
        if (crashStep == 0) Bucketing.compactBucketed(spark, tbl)
        else {
          intercept[IllegalStateException] {
            Bucketing.withFailpoint(tbl, swapCrash(crashStep)) {
              Bucketing.compactBucketed(spark, tbl)
            }
          }
          // sometimes repair promptly, sometimes leave the torn swap for
          // the next maintenance/append/probe entry to repair
          if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, tbl)
        }
      }

      for ((b, bid) <- batches.zipWithIndex) {
        // torn commit first, with some probability: a strict subset of
        // the batch persists under its batch_id (docs dropped, and for
        // some seeds a doc's line set truncated by reading only part of
        // the text — approximated here at doc granularity)
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong)
        }
        append(b, bid.toLong) // the WAL replay / real attempt
        maybeCompact()
      }

      withClue(s"seed=$seed batches=${batches.map(_.size)}: ") {
        // probe-side entry self-repairs any torn swap left dangling
        val got = TextAnalysis.lineDedupIncremental(spark, delta, tbl,
          byLines = true)
        assert(got.exceptAll(wantProbe).isEmpty && wantProbe.exceptAll(got).isEmpty,
          "probe after chaos must equal the global rewrite")
        val folded = spark.table(tbl).groupBy("h")
          .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
        assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
          "surviving index must fold to the batch-built dfs")
      }
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
    }
    Bucketing.dropTable(spark, refTbl)
  }

  // window-df twin of the corpus: every doc opens with one of three
  // shared 8-token spans (duplicated across docs and batches) and closes
  // with unique tokens, so removals span batch boundaries
  private lazy val wCorpus = (1L to 20L).map { id =>
    val s = id % 3
    (id, s"common span number s$s alpha beta gamma delta unique$id tail$id")
  }.toDF("doc_id", "text")

  private lazy val wDelta = Seq(
    (100L, "common span number s1 alpha beta gamma delta fresh delta tokens"),
    (101L, "all novel words here nothing shared with anyone at all"),
    (102L, "common span number s0 alpha beta gamma delta more new ones"))
    .toDF("doc_id", "text")

  test("12 seeded multi-kill lifecycles converge for the window-df index too") {
    val refTbl = "chaos_ref_windf"
    Bucketing.dropTable(spark, refTbl)
    graft.ops.Dedup.buildWindowDfIndex(wCorpus, refTbl, k = 8, buckets = 2)
    val want = spark.table(refTbl).drop("batch_id")
    val wantProbe = graft.ops.Dedup.substringRemoveIncremental(
      spark, wDelta, refTbl, k = 8)

    val ids = (1L to 20L).toVector
    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(1000 + seed)
      val tbl = s"chaos_windf_s$seed"
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector

      def append(docIds: Vector[Long], bid: Long): Unit =
        graft.ops.Dedup.appendWindowDfPartial(spark,
          wCorpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid,
          k = 8, buckets = 2)

      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong)
        }
        append(b, bid.toLong)
        if (rnd.nextDouble() < 0.35) {
          val crashStep = rnd.nextInt(3)
          if (crashStep == 0) Bucketing.compactBucketed(spark, tbl)
          else {
            intercept[IllegalStateException] {
              Bucketing.withFailpoint(tbl, swapCrash(crashStep)) {
                Bucketing.compactBucketed(spark, tbl)
              }
            }
            if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, tbl)
          }
        }
      }

      withClue(s"seed=${1000 + seed} batches=${batches.map(_.size)}: ") {
        val got = graft.ops.Dedup.substringRemoveIncremental(
          spark, wDelta, tbl, k = 8)
        assert(got.exceptAll(wantProbe).isEmpty && wantProbe.exceptAll(got).isEmpty,
          "window-df probe after chaos must equal the batch-indexed probe")
        val folded = spark.table(tbl).groupBy("h")
          .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
        assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
          "surviving window index must fold to the batch-built counts")
      }
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
    }
    Bucketing.dropTable(spark, refTbl)
  }

  // BM25 twin: overlapping vocabulary across docs and batches (shared
  // terms change df when batches merge) plus per-doc unique terms; the
  // delta carries the query doc (id 100 -> doc_id % 100 == 0)
  private lazy val bCorpus = (1L to 20L).map { id =>
    (id, s"shared${id % 3} common words unique$id tail$id")
  }.toDF("doc_id", "text")

  private lazy val bDelta = Seq(
    (100L, "shared1 common query terms here"),
    (101L, "shared0 words fresh delta"),
    (102L, "entirely novel delta body")).toDF("doc_id", "text")

  test("10 seeded multi-kill lifecycles converge for the streamed BM25 index too") {
    val refIdx = "chaos_ref_bm25"
    TextAnalysis.buildBm25DfIndex(bCorpus, refIdx, buckets = 2)
    val queries = bDelta.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 3)).as("term"))
      .distinct()
    val wantProbe = TextAnalysis.bm25TopKIncremental(
      spark, bDelta, queries, refIdx)
    def sentinelStats(t: String): Map[String, Long] =
      spark.table(t).filter(col("term").startsWith(" "))
        .groupBy("term").agg(sum(col("df_corpus")).cast("long").as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refStats = sentinelStats(refIdx)

    val ids = (1L to 20L).toVector
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(2000 + seed)
      val tbl = s"chaos_bm25_s$seed"
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector

      def append(docIds: Vector[Long], bid: Long): Unit =
        TextAnalysis.appendBm25DfPartial(spark,
          bCorpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid,
          buckets = 2)

      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong)
        }
        append(b, bid.toLong)
        if (rnd.nextDouble() < 0.35) {
          val crashStep = rnd.nextInt(3)
          if (crashStep == 0) Bucketing.compactBucketed(spark, tbl)
          else {
            intercept[IllegalStateException] {
              Bucketing.withFailpoint(tbl, swapCrash(crashStep)) {
                Bucketing.compactBucketed(spark, tbl)
              }
            }
            if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, tbl)
          }
        }
      }

      withClue(s"seed=${2000 + seed} batches=${batches.map(_.size)}: ") {
        // probe-side entry self-repairs any torn swap left dangling
        val got = TextAnalysis.bm25TopKIncremental(
          spark, bDelta, queries, tbl)
        assert(got.exceptAll(wantProbe).isEmpty && wantProbe.exceptAll(got).isEmpty,
          "streamed BM25 probe after chaos must equal the batch-indexed probe")
        assert(sentinelStats(tbl) === refStats,
          "sentinel stats must fold to the monolithic corpus stats")
      }
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
    }
    Bucketing.dropTable(spark, refIdx)
  }

  test("10 seeded multi-kill lifecycles converge for the streamed minhash index") {
    // the two-table variant of the bm25 lifecycle: bands (multi-key
    // bucketed) + sigs (single-key), torn partial appends, compaction
    // crashes on EITHER table, probe-side self-repair
    val refBands = "chaos_ref_mh_bands"; val refSigs = "chaos_ref_mh_sigs"
    Seq(refBands, refSigs).foreach(Bucketing.dropTable(spark, _))
    Dedup.buildCorpusIndex(corpus, refBands, refSigs, buckets = 2)
    val wantProbe = Dedup.incrementalVerdictsAgainstIndex(
      spark, delta, refBands, refSigs)

    val ids = (1L to 20L).toVector
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(3000 + seed)
      val bTbl = s"chaos_mh_bands_s$seed"; val sTbl = s"chaos_mh_sigs_s$seed"
      Seq(bTbl, sTbl).flatMap(t =>
        Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector

      def append(docIds: Vector[Long], bid: Long): Unit =
        Dedup.appendCorpusIndexPartial(spark,
          corpus.filter(col("doc_id").isin(docIds: _*)), bTbl, sTbl,
          bid, buckets = 2)

      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          // torn attempt: a PARTIAL batch lands, then the full retry
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong)
        }
        append(b, bid.toLong)
        if (rnd.nextDouble() < 0.35) {
          // compact a random one of the two tables, maybe crashing
          val victim = if (rnd.nextBoolean()) bTbl else sTbl
          val crashStep = rnd.nextInt(3)
          if (crashStep == 0) Bucketing.compactBucketed(spark, victim)
          else {
            intercept[IllegalStateException] {
              Bucketing.withFailpoint(victim, swapCrash(crashStep)) {
                Bucketing.compactBucketed(spark, victim)
              }
            }
            if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, victim)
          }
        }
      }

      withClue(s"seed=${3000 + seed} batches=${batches.map(_.size)}: ") {
        // probe-side entries self-repair any torn swap left dangling
        Seq(bTbl, sTbl).foreach(Bucketing.repairCompaction(spark, _))
        val got = Dedup.incrementalVerdictsAgainstIndex(
          spark, delta, bTbl, sTbl)
        assert(got.exceptAll(wantProbe).isEmpty &&
          wantProbe.exceptAll(got).isEmpty,
          "streamed minhash probe after chaos must equal the batch-indexed probe")
      }
      Seq(bTbl, sTbl).flatMap(t =>
        Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))
    }
    Seq(refBands, refSigs).foreach(Bucketing.dropTable(spark, _))
  }

  test("10 seeded multi-kill lifecycles converge for the streamed token-count index") {
    // reference: the whole corpus landed as ONE append — both probes
    // (delta drift, vocab coverage) must be reachable bit-identically
    // through any torn/killed/compacted batch history
    val refTbl = "chaos_ref_tok"
    Bucketing.dropTable(spark, refTbl)
    TextAnalysis.appendTokenCountPartial(spark, bCorpus, refTbl, 0L, buckets = 2)
    val wantDrift = graft.ops.Sketches
      .driftProbeIncremental(spark, bDelta, refTbl)
      .collect().map(_.toString).toSet
    val langDocs = bCorpus.withColumn("lang",
      concat(lit("l"), (col("doc_id") % 2).cast("string")))
    val wantCov = TextAnalysis.vocabCoverageFromStreamedIndex(
      spark, langDocs, refTbl, vocabSize = 4)
      .collect().map(_.toString).toSet

    val ids = (1L to 20L).toVector
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(3000 + seed)
      val tbl = s"chaos_tok_s$seed"
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector

      def append(docIds: Vector[Long], bid: Long): Unit =
        TextAnalysis.appendTokenCountPartial(spark,
          bCorpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid,
          buckets = 2)

      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong)  // torn first try
        }
        append(b, bid.toLong)                          // replay heals
        if (rnd.nextDouble() < 0.35) {
          val crashStep = rnd.nextInt(3)
          if (crashStep == 0) Bucketing.compactBucketed(spark, tbl)
          else {
            intercept[IllegalStateException] {
              Bucketing.withFailpoint(tbl, swapCrash(crashStep)) {
                Bucketing.compactBucketed(spark, tbl)
              }
            }
            if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, tbl)
          }
        }
      }

      withClue(s"seed=${3000 + seed} batches=${batches.map(_.size)}: ") {
        val gotDrift = graft.ops.Sketches
          .driftProbeIncremental(spark, bDelta, tbl)
          .collect().map(_.toString).toSet
        assert(gotDrift === wantDrift,
          "drift probe after chaos must equal the one-append reference")
        val gotCov = TextAnalysis.vocabCoverageFromStreamedIndex(
          spark, langDocs, tbl, vocabSize = 4)
          .collect().map(_.toString).toSet
        assert(gotCov === wantCov,
          "coverage probe after chaos must equal the one-append reference")
      }
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
    }
    Bucketing.dropTable(spark, refTbl)
  }

  test("10 seeded multi-kill lifecycles converge for the streamed shingle-df index") {
    // reference: the whole corpus landed as ONE append — the novelty
    // probe must be reachable bit-identically through any
    // torn/killed/compacted batch history (dfs add, so every disjoint
    // batch decomposition folds to the same global counts)
    val refTbl = "chaos_ref_shdf"
    Bucketing.dropTable(spark, refTbl)
    Dedup.appendShingleDfPartial(spark, bCorpus, refTbl, 0L, buckets = 2)
    val want = Dedup.noveltyIncremental(spark, bDelta, refTbl)
      .collect().map(_.toString).toSet

    val ids = (1L to 20L).toVector
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(4000 + seed)
      val tbl = s"chaos_shdf_s$seed"
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector

      def append(docIds: Vector[Long], bid: Long): Unit =
        Dedup.appendShingleDfPartial(spark,
          bCorpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid,
          buckets = 2)

      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong)  // torn first try
        }
        append(b, bid.toLong)                          // replay heals
        if (rnd.nextDouble() < 0.35) {
          val crashStep = rnd.nextInt(3)
          if (crashStep == 0) Bucketing.compactBucketed(spark, tbl)
          else {
            intercept[IllegalStateException] {
              Bucketing.withFailpoint(tbl, swapCrash(crashStep)) {
                Bucketing.compactBucketed(spark, tbl)
              }
            }
            if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, tbl)
          }
        }
      }

      withClue(s"seed=${4000 + seed} batches=${batches.map(_.size)}: ") {
        val got = Dedup.noveltyIncremental(spark, bDelta, tbl)
          .collect().map(_.toString).toSet
        assert(got === want,
          "novelty probe after chaos must equal the one-append reference")
      }
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
    }
    Bucketing.dropTable(spark, refTbl)
  }

  test("a BM25 build killed at append (empty stamped table) heals on rerun") {
    // create-then-land leaves the table created and stamped but EMPTY
    // after a kill at `append`. The p91 build-if-absent guard must see
    // no landed batch and rebuild — a bare tableExists guard would cache
    // the empty index and fail every later probe on the missing stats.
    val idx = "chaos_torn_bm25"
    TextAnalysis.buildBm25DfIndex(bCorpus, idx, buckets = 2)
    val queries = bDelta.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 3)).as("term"))
      .distinct()
    val want = TextAnalysis.bm25TopKIncremental(spark, bDelta, queries, idx)
      .collect().toSet
    walkCrash(idx, "append")(TextAnalysis.buildBm25DfIndex(bCorpus, idx, buckets = 2))
    assert(spark.catalog.tableExists(idx) && spark.table(idx).isEmpty,
      "the kill must leave the created, empty table")
    // the p91 entry's guard sees no landed batch 0, so it rebuilds
    assert(!Bucketing.hasLandedBatch(spark, idx, 0L))
    TextAnalysis.buildBm25DfIndex(bCorpus, idx, buckets = 2)
    assert(Bucketing.hasLandedBatch(spark, idx, 0L))
    val got = TextAnalysis.bm25TopKIncremental(spark, bDelta, queries, idx)
      .collect().toSet
    assert(got === want, "healed rebuild must reproduce the untorn probe")
    Bucketing.dropTable(spark, idx)
  }

  test("a streamed bm25-df table stripped of sentinel stats fails loudly, not NoSuchElement") {
    val tbl = "chaos_nostats_bm25"
    Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
      .foreach(Bucketing.dropTable(spark, _))
    TextAnalysis.appendBm25DfPartial(spark, bCorpus, tbl, 0L, buckets = 2)
    // strip the sentinel rows by overwriting the lone batch partition
    // with term rows only (what a zero-landed-batch or damaged index
    // presents to the probe)
    val termsOnly = spark.table(tbl).filter(!col("term").startsWith(" "))
      .select("term", "df_corpus", "batch_id").cache()
    termsOnly.count()
    graft.io.Bucketing.overwritePartitions(termsOnly, tbl)
    val queries = bDelta.select(col("doc_id").as("query_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term")).distinct()
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKIncremental(spark, bDelta, queries, tbl)
    }
    assert(ex.getMessage.contains("sentinel corpus stats"),
      s"diagnosable error expected, got: ${ex.getMessage}")
    termsOnly.unpersist()
    Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
      .foreach(Bucketing.dropTable(spark, _))
  }

  test("compacting a partitioned+bucketed index preserves BOTH layouts") {
    val tbl = "chaos_part_compact"
    Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
      .foreach(Bucketing.dropTable(spark, _))
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") <= 10L), tbl, 0L, byLines = true, buckets = 2)
    TextAnalysis.appendLineDfPartial(spark,
      corpus.filter(col("doc_id") > 10L), tbl, 1L, byLines = true, buckets = 2)
    val before = spark.table(tbl)
      .groupBy("h").agg(sum(col("df_corpus")).cast("long").as("df")).collect().toSet
    Bucketing.compactBucketed(spark, tbl)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(meta.partitionColumnNames === Seq("batch_id"),
      "compaction must keep the batch_id partition layout")
    assert(meta.bucketSpec.exists(_.bucketColumnNames == Seq("h")),
      "compaction must keep the bucket spec")
    val after = spark.table(tbl)
      .groupBy("h").agg(sum(col("df_corpus")).cast("long").as("df")).collect().toSet
    assert(after === before, "compaction must not change any df")
    // and the NEXT append still lands as a partition overwrite, not a
    // table truncation (the failure a dropped partition layout causes)
    TextAnalysis.appendLineDfPartial(spark,
      delta.select(col("doc_id"), col("text")), tbl, 2L,
      byLines = true, buckets = 2)
    assert(spark.table(tbl).select("batch_id").distinct().count() === 3L,
      "append after compaction must add its partition, not truncate")
    Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
      .foreach(Bucketing.dropTable(spark, _))
  }

  // --- tombstone-retraction lifecycle chaos (minhash family) ---------
  // near-dup-bearing corpus: three text families shared across docs so
  // banding produces real candidates; delta docs are near-dups of
  // family 1, poison docs are EXACT twins of the delta
  private lazy val mCorpus = (1L to 12L).map { id =>
    val fam = id % 3
    (id, s"family $fam shared minhash text alpha beta gamma delta " +
      s"epsilon zeta eta theta iota kappa doc tail $id")
  }.toDF("doc_id", "text")
  private lazy val mDelta = Seq(
    (100L, "family 1 shared minhash text alpha beta gamma delta " +
      "epsilon zeta eta theta iota kappa doc tail 7"),
    (101L, "completely novel delta document nothing shared with corpus " +
      "words all fresh here truly"))
    .toDF("doc_id", "text")

  test("12 seeded multi-kill lifecycles: tombstone retraction + purge converge on the clean index") {
    val refB = "chaos_ref_mh_bands"; val refS = "chaos_ref_mh_sigs"
    Seq(refB, refS).foreach(Bucketing.dropTable(spark, _))
    Dedup.buildCorpusIndex(mCorpus, refB, refS, bands = 8, rowsPerBand = 4,
      buckets = 2)
    val wantProbe = Dedup.incrementalVerdictsAgainstIndex(spark, mDelta,
      refB, refS, bands = 8, rowsPerBand = 4).collect().map(_.toString).toSet
    val poison = mDelta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val poisonIds = Vector(10000100L, 10000101L)

    val ids = (1L to 12L).toVector
    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(7000 + seed)
      val tb = s"chaos_mh_b_s$seed"; val ts = s"chaos_mh_s_s$seed"
      val tt = s"chaos_mh_t_s$seed"
      Seq(tb, ts, tt).flatMap(t =>
          Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))

      def append(docIds: Vector[Long], df: org.apache.spark.sql.DataFrame,
                 bid: Long): Unit =
        Dedup.appendCorpusIndexPartial(spark,
          df.filter(col("doc_id").isin(docIds: _*)), tb, ts, bid,
          bands = 8, rowsPerBand = 4, buckets = 2)

      // corpus lands as 1-3 torn-and-replayed batches
      val shuffled = rnd.shuffle(ids)
      val nBatches = 1 + rnd.nextInt(3)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).collect {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector
      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, mCorpus, bid.toLong)
        }
        append(b, mCorpus, bid.toLong)
      }
      // poison batch (sometimes torn first, then the WAL replay)
      if (rnd.nextDouble() < 0.5)
        append(Vector(poisonIds(rnd.nextInt(2))), poison, 40L)
      append(poisonIds, poison, 40L)

      // tombstone retraction — sometimes a torn landing (subset under
      // the same batch id), healed by the idempotent replay
      val family = Tombstones.minhash(tb, ts, tt)
      if (rnd.nextDouble() < 0.5)
        Tombstones.retract(spark, family,
          poison.filter(col("doc_id") === poisonIds(rnd.nextInt(2))), 50L)
      Tombstones.retract(spark, family, poison, 50L)

      // sometimes purge — with injected mid-swap kills on either table,
      // repairs sometimes prompt, sometimes left for the next entry
      if (rnd.nextDouble() < 0.6) {
        if (rnd.nextDouble() < 0.5) {
          val victim = if (rnd.nextBoolean()) tb else ts
          val key = "doc_id"
          intercept[IllegalStateException] {
            Bucketing.withFailpoint(victim, swapCrash(1 + rnd.nextInt(2))) {
              Bucketing.purgeBucketed(spark, victim,
                spark.table(tt).select(col(key)), key)
            }
          }
          if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, victim)
        }
        // the real purge (its own repairCompaction heals any torn swap)
        Tombstones.purge(spark, family)
      }

      withClue(s"seed=$seed: ") {
        // tombstone-gated probe: the gate is a no-op when purged
        val got = Dedup.incrementalVerdictsAgainstIndex(spark, mDelta,
            tb, ts, bands = 8, rowsPerBand = 4,
            tombstonesTable = Some(tt))
          .collect().map(_.toString).toSet
        assert(got === wantProbe,
          "probe after retraction chaos must equal the clean-corpus build")
      }
      Seq(tb, ts, tt).flatMap(t =>
          Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))
    }
    Seq(refB, refS).foreach(Bucketing.dropTable(spark, _))
  }

  test("12 seeded lifecycles: purge cadence + replay past purge converge on the clean index") {
    // the round-18 machinery under chaos: two retraction waves, the
    // retract's purge CADENCE (fires only at its pending-batch threshold),
    // replays landing in every window — before purge (idempotent
    // overwrite), inside the purge crash window (tombstone-membership
    // exemption), and AFTER purge (watermark no-op) — plus mid-swap
    // kills. Whatever the schedule, the gated probe must equal the
    // clean build: a watermark bug that swallowed a LIVE batch, or an
    // orphan-guard bug that rejected a legal replay, fails a seed.
    val refB = "chaos_ref2_mh_bands"; val refS = "chaos_ref2_mh_sigs"
    Seq(refB, refS).foreach(Bucketing.dropTable(spark, _))
    Dedup.buildCorpusIndex(mCorpus, refB, refS, bands = 8, rowsPerBand = 4,
      buckets = 2)
    val wantProbe = Dedup.incrementalVerdictsAgainstIndex(spark, mDelta,
      refB, refS, bands = 8, rowsPerBand = 4).collect().map(_.toString).toSet
    val poisonA = mDelta.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val poisonB = mDelta.withColumn("doc_id", col("doc_id") + lit(20000000L))

    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(8000 + seed)
      val tb = s"chaos_pc_b_s$seed"; val ts = s"chaos_pc_s_s$seed"
      val tt = s"chaos_pc_t_s$seed"
      Seq(tb, ts, tt).flatMap(t =>
          Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))
      def append(df: org.apache.spark.sql.DataFrame, bid: Long): Unit =
        Dedup.appendCorpusIndexPartial(spark, df, tb, ts, bid,
          bands = 8, rowsPerBand = 4, buckets = 2)
      append(mCorpus, 0L)
      append(poisonA, 1L)
      append(poisonB, 2L)
      val family = Tombstones.minhash(tb, ts, tt).copy(purgeEvery = 2)
      def purgedThrough: Option[String] =
        Bucketing.tableProperty(spark, ts, Tombstones.PurgedThroughProperty)

      // wave A retracts; the cadence must HOLD at one pending batch
      Tombstones.retract(spark, family, poisonA, 10L)
      assert(purgedThrough.isEmpty,
        s"seed=$seed: cadence fired below its threshold")
      if (rnd.nextDouble() < 0.5) // pre-purge replay: idempotent
        Tombstones.retract(spark, family, poisonA, 10L)
      if (rnd.nextDouble() < 0.4) {
        // the purge crash window: one table rewritten, kill mid-swap on
        // the other, watermark/drop never reached — a replay of wave A
        // must still pass via tombstone membership
        Bucketing.purgeBucketed(spark, tb,
          spark.table(tt).select(col("doc_id")), "doc_id")
        intercept[IllegalStateException] {
          Bucketing.withFailpoint(ts, swapCrash(1 + rnd.nextInt(2))) {
            Bucketing.purgeBucketed(spark, ts,
              spark.table(tt).select(col("doc_id")), "doc_id")
          }
        }
        Bucketing.repairCompaction(spark, ts)
        Tombstones.retract(spark, family, poisonA, 10L)
      }

      // wave B retracts; the cadence threshold is now met
      Tombstones.retract(spark, family, poisonB, 11L)
      assert(purgedThrough === Some("11"),
        s"seed=$seed: cadence must fire at 2 pending batches")
      assert(!spark.catalog.tableExists(tt), s"seed=$seed: gate not dropped")
      // post-purge replays of BOTH folded waves no-op on the watermark
      if (rnd.nextDouble() < 0.7) {
        Tombstones.retract(spark, family,
          if (rnd.nextBoolean()) poisonA else poisonB,
          if (rnd.nextBoolean()) 10L else 11L)
        assert(!spark.catalog.tableExists(tt),
          s"seed=$seed: a post-purge replay resurrected the tombstone table")
      }
      // nothing pending → a purge is a no-op
      assert(!Tombstones.purge(spark, family))

      withClue(s"seed=$seed: ") {
        val got = Dedup.incrementalVerdictsAgainstIndex(spark, mDelta,
            tb, ts, bands = 8, rowsPerBand = 4)
          .collect().map(_.toString).toSet
        assert(got === wantProbe,
          "post-cadence-purge probe must equal the clean-corpus build")
      }
      Seq(tb, ts, tt).flatMap(t =>
          Seq(t, s"${t}_compacting", s"${t}_precompact"))
        .foreach(Bucketing.dropTable(spark, _))
    }
    Seq(refB, refS).foreach(Bucketing.dropTable(spark, _))
  }

  test("12 seeded lifecycles: fold cadence + retraction + replay past fold converge on the rebuild-without index") {
    // the round-19 machinery under chaos: random append decompositions
    // with torn commits, the maintainIndex fold CADENCE (fires only at its
    // fresh-batch threshold), fold swaps killed at either failpoint
    // with sometimes-deferred repairs, two retraction waves, and
    // replays landing in every window — before a fold (idempotent
    // partition overwrite) and after one (watermark no-op; without the
    // watermark a replayed retraction would double-negate and a
    // replayed append double-count). Whatever the schedule, the probe
    // must equal the clean rebuild WITHOUT the retired docs, and no
    // cancelled (+df, −df) pair may survive the last fold.
    val refTbl = "chaos_fold_ref"
    Bucketing.dropTable(spark, refTbl)
    val ids = (1L to 20L).toVector
    val waveA = Vector(1L, 5L)
    val waveB = Vector(9L, 13L, 17L)
    val retired = waveA ++ waveB
    Dedup.appendShingleDfPartial(spark,
      corpus.filter(!col("doc_id").isin(retired: _*)), refTbl, 0L,
      buckets = 2)
    val want = Dedup.noveltyIncremental(spark, delta, refTbl)
      .collect().map(_.toString).toSet

    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(9000 + seed)
      val tbl = s"chaos_fold_s$seed"
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
      val shuffled = rnd.shuffle(ids)
      val nBatches = 2 + rnd.nextInt(3)
      val cuts = Vector.fill(nBatches - 1)(rnd.nextInt(ids.size + 1))
        .sorted :+ ids.size
      val batches = (0 +: cuts).sliding(2).map {
        case Seq(a, b) => shuffled.slice(a, b) }.toVector
      def append(docIds: Vector[Long], bid: Long): Boolean =
        Dedup.appendShingleDfPartial(spark,
          corpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid,
          buckets = 2)
      def retract(docIds: Vector[Long], bid: Long): Boolean =
        Dedup.retractShingleDfPartial(spark,
          corpus.filter(col("doc_id").isin(docIds: _*)), tbl, bid)
      def maybeChaosFold(): Unit =
        if (rnd.nextDouble() < 0.6) {
          val crashStep = rnd.nextInt(3)
          if (crashStep == 0) Bucketing.maintainIndex(spark, tbl, everyBatches = 2)
          else if (spark.catalog.tableExists(tbl) &&
              Bucketing.tableKind(spark, tbl).exists(Bucketing.AdditiveKinds) &&
              spark.sessionState.catalog.listPartitionNames(
                org.apache.spark.sql.catalyst.TableIdentifier(tbl)).size >= 2) {
            intercept[IllegalStateException] {
              Bucketing.withFailpoint(tbl, swapCrash(crashStep)) {
                Bucketing.foldBucketed(spark, tbl)
              }
            }
            if (rnd.nextBoolean()) Bucketing.repairCompaction(spark, tbl)
          }
        }
      // append phase: torn first tries, folds (and fold kills) interleaved
      for ((b, bid) <- batches.zipWithIndex) {
        if (b.nonEmpty && rnd.nextDouble() < 0.45) {
          val torn = rnd.shuffle(b).take(rnd.nextInt(b.size))
          if (torn.nonEmpty) append(torn, bid.toLong) // torn first try
        }
        append(b, bid.toLong)                         // replay heals
        maybeChaosFold()
      }
      // two retraction waves with chaos between and after
      retract(waveA, nBatches.toLong)
      maybeChaosFold()
      retract(waveB, (nBatches + 1).toLong)
      maybeChaosFold()
      // replays of random PAST batches: below the watermark they must
      // no-op; above it they overwrite their own partition — either
      // way the content cannot change
      (0 until 2).foreach { _ =>
        rnd.nextInt(nBatches + 2) match {
          case b if b < nBatches => append(batches(b), b.toLong)
          case b if b == nBatches => retract(waveA, b.toLong)
          case b => retract(waveB, b.toLong)
        }
      }
      // close any deferred repair, then force one final fold so the
      // physical-shrink claim is checkable
      Bucketing.repairCompaction(spark, tbl)
      Bucketing.foldBucketed(spark, tbl)
      withClue(s"seed=${9000 + seed} batches=${batches.map(_.size)}: ") {
        val got = Dedup.noveltyIncremental(spark, delta, tbl)
          .collect().map(_.toString).toSet
        assert(got === want,
          "post-chaos probe must equal the rebuild-without reference")
        assert(spark.table(tbl).count() === spark.table(refTbl).count(),
          "folded index must be row-for-row the rebuild-without")
      }
      Seq(tbl, s"${tbl}_compacting", s"${tbl}_precompact")
        .foreach(Bucketing.dropTable(spark, _))
    }
    Bucketing.dropTable(spark, refTbl)
  }

  // --- exhaustive crash walk over the one rewrite protocol -----------
  // Fixtures are small (h, df_corpus, batch_id) additive indexes, so each
  // of the ~100 crash scenarios costs a few small writes: partials landed
  // batch by batch, and a real builder's batch 0 plus one appended batch.

  private def walkRows(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).sorted.toSeq

  private def walkCleanup(t: String): Unit =
    Seq("", "_compacting", "_precompact", "_runfold")
      .foreach(s => Bucketing.dropTable(spark, t + s))

  /** Steps reached on `t` while `body` runs. */
  private def walkTrace(t: String)(body: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    Bucketing.withStepHook(t)(seen += _)(body)
    seen.toSeq
  }

  private def walkCrash(t: String, step: String)(body: => Unit): Unit =
    intercept[Bucketing.InjectedCrash](Bucketing.withFailpoint(t, step)(body))

  /** Land `rows` (h, df_corpus, batch_id) as a shingle-df index, one
    * [[Bucketing.landPartial]] call per batch_id. */
  private def landFixture(t: String, rows: Seq[(Long, Long, Long)]): Unit =
    rows.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (bid, rs) =>
      Bucketing.landPartial(spark, rs.map(r => (r._1, r._2)).toDF("h", "df_corpus"),
        t, "shingle-df", Seq("h"), buckets = 2, bid)
    }

  /** Streamed additive index: partials in batches 0-2, batch 2 retracting
    * keys 1-5 (they fold to zero and must vanish). */
  private def streamedFixture(t: String): Unit =
    landFixture(t, (1L to 30L).map(h => (h, 1L, 0L)) ++
      (20L to 40L).map(h => (h, 2L, 1L)) ++ (1L to 5L).map(h => (h, -1L, 2L)))

  /** Tiered layout: base at batch 1, fresh partials 2 and 3 above the
    * watermark, batch 3 retracting base-resident keys (pending negatives
    * the run fold must keep). */
  private def tieredFixture(t: String): Unit = {
    landFixture(t, (1L to 30L).map(h => (h, 3L, 1L)) ++
      (25L to 35L).map(h => (h, 1L, 2L)) ++ (1L to 4L).map(h => (h, -1L, 3L)))
    // the fold markers go on after landing: a foldedThrough watermark
    // would no-op the fixture's own batches
    Bucketing.stampProperties(spark, t, Map(
      Bucketing.FoldedThroughProperty -> "1", Bucketing.BaseAtProperty -> "1",
      Bucketing.BaseMassProperty -> "30"))
  }

  /** A batch build ([[Dedup.buildShingleDfIndex]], batch 0) plus a
    * streamed batch-1 partial. */
  private def batchBuiltFixture(t: String): Unit = {
    Dedup.buildShingleDfIndex(corpus.filter(col("doc_id") <= 10L), t, buckets = 2)
    Dedup.appendShingleDfPartial(spark, corpus.filter(col("doc_id") > 10L), t,
      1L, buckets = 2)
  }

  /** One rewrite kind: its fixture, the rewrite, the step order it must
    * take, and its commit step — a kill at or before it rolls back to
    * the original rows, a kill after it rolls forward to the rewrite. */
  private case class WalkKind(name: String, build: String => Unit,
                              run: String => Unit, path: Seq[String],
                              commit: String)

  private val swapPath = Seq("write-side", "stamp", "rename-to-backup",
    "rename-into-place", "recover-partitions", "clear-stamp", "drop-leftover")

  private lazy val walkKinds = Seq(
    WalkKind("compact_streamed", streamedFixture,
      t => Bucketing.compactBucketed(spark, t), swapPath, "rename-into-place"),
    WalkKind("compact_batch_built", batchBuiltFixture,
      t => Bucketing.compactBucketed(spark, t), swapPath, "rename-into-place"),
    WalkKind("purge", streamedFixture,
      t => Bucketing.purgeBucketed(spark, t, (7L to 12L).toDF("h"), "h"),
      swapPath, "rename-into-place"),
    WalkKind("base_merge", streamedFixture,
      t => Bucketing.foldBucketed(spark, t), swapPath, "rename-into-place"),
    WalkKind("run_fold", tieredFixture,
      t => assert(!Bucketing.tieredFold(spark, t, mergeFraction = 1e9),
        "the tiered fixture must take the run-level path"),
      Seq("write-side", "stamp", "drop-sources", "land", "advance-markers",
        "clear-stamp", "drop-leftover"), "stamp"))

  test("exhaustive crash walk: every rewrite kind x every named step, kills inside recovery included, heals row-for-row") {
    for (kind <- walkKinds) {
      val t = s"walk_${kind.name}"
      walkCleanup(t)
      kind.build(t)
      val original = walkRows(t)
      val path = walkTrace(t)(kind.run(t))
      assert(path === kind.path, s"${kind.name}: the rewrite's step order")
      val rewritten = walkRows(t)
      if (!kind.name.startsWith("compact")) // compaction preserves rows
        assert(rewritten !== original, s"${kind.name}: vacuous fixture")
      walkCleanup(t)

      def crashAt(step: String): Unit = {
        kind.build(t)
        walkCrash(t, step)(kind.run(t))
      }
      def assertHealed(want: Seq[String], clue: String): Unit = {
        assert(Bucketing.repairCompaction(spark, t), s"$clue: table must resolve")
        withClue(s"$clue: ") {
          assert(walkRows(t) === want, "healed table must be row-for-row the reference")
          if (want.nonEmpty)
            assert(spark.table(t).count() > 0L, "healed table must not read empty")
        }
        walkCleanup(t)
      }
      for ((step, i) <- path.zipWithIndex) {
        val want = if (i <= path.indexOf(kind.commit)) original else rewritten
        // pass 1: kill at `step`, then an unarmed recovery (traced)
        crashAt(step)
        val recovery = walkTrace(t)(Bucketing.repairCompaction(spark, t))
        assertHealed(want, s"${kind.name} killed at $step")
        // pass 2: the same kill, then a second kill at each step of that
        // recovery, then the final repair
        for (inner <- recovery.distinct) {
          crashAt(step)
          walkCrash(t, inner)(Bucketing.repairCompaction(spark, t))
          assertHealed(want, s"${kind.name} killed at $step, then in recovery at $inner")
        }
      }
    }
  }

  test("a kill after the restore rename and before the partition recover heals to the full index") {
    val t = "walk_restore_window"
    walkCleanup(t)
    streamedFixture(t)
    val original = walkRows(t)
    // the swap dies between its two renames: only the backup holds the index
    walkCrash(t, "rename-into-place")(Bucketing.compactBucketed(spark, t))
    assert(!spark.catalog.tableExists(t))
    // the recovery dies right after renaming the backup into place
    walkCrash(t, "recover-partitions")(Bucketing.repairCompaction(spark, t))
    assert(spark.catalog.tableExists(t))
    assert(Bucketing.tableProperty(spark, t, Bucketing.NeedsRecoverProperty)
      === Some("true"), "the restore rename must have been stamped first")
    // the next entry re-runs the recover: the index reads full, not empty
    assert(Bucketing.repairCompaction(spark, t))
    assert(spark.table(t).count() === original.size.toLong)
    assert(walkRows(t) === original)
    // and the next rewrite persists the full view
    Bucketing.compactBucketed(spark, t)
    assert(walkRows(t) === original)
    walkCleanup(t)
  }

  test("a kill after promoting an unstamped side table and before the partition recover heals to the full index") {
    // the legacy drop-then-rename state: only a complete `_compacting`
    // side survives, without the needs-recover stamp the protocol's own
    // side tables carry. Renaming it into place strands its partition
    // locations, so the promote must stamp first or the table reads empty
    val t = "walk_promote_window"
    walkCleanup(t)
    streamedFixture(t + "_compacting")
    val original = walkRows(t + "_compacting")
    walkCrash(t, "recover-partitions")(Bucketing.repairCompaction(spark, t))
    assert(spark.catalog.tableExists(t) &&
      !spark.catalog.tableExists(t + "_compacting"))
    assert(Bucketing.repairCompaction(spark, t))
    assert(spark.table(t).count() === original.size.toLong,
      "the promoted index must read full, not empty")
    assert(walkRows(t) === original)
    walkCleanup(t)
  }

  // --- create-then-land: kills on a table's first batch ---------------

  private def graftProps(t: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      .properties.filter(_._1.startsWith("graft."))

  test("a first batch killed at create or at append replays into a stamped table equal to a clean landing") {
    val vecs = Tables.embeddings(spark, sfDir)
    def landVec(b: String, p: String): Unit =
      graft.ops.Similarity.appendVectorIndexPartial(spark, vecs, b, p, 0L,
        tables = 4, bitsPerTable = 6, buckets = 2)
    def landDf(t: String): Unit =
      Dedup.appendShingleDfPartial(spark, corpus, t, 0L, buckets = 2)
    val (refB, refP, refS) = ("land_ref_vb", "land_ref_vp", "land_ref_sdf")
    Seq(refB, refP, refS).foreach(walkCleanup)
    landVec(refB, refP)
    landDf(refS)
    assert(graftProps(refB) === Map(Bucketing.KindProperty -> "vec-bands",
      Bucketing.LshTablesProperty -> "4", Bucketing.LshBitsProperty -> "6"))
    for (step <- Seq("create", "append")) {
      val (b, p, s) = (s"land_${step}_vb", s"land_${step}_vp", s"land_${step}_sdf")
      Seq(b, p, s).foreach(walkCleanup)
      walkCrash(b, step)(landVec(b, p))
      walkCrash(s, step)(landDf(s))
      for (t <- Seq(b, s)) withClue(s"$t killed at $step: ") {
        if (step == "create") assert(!spark.catalog.tableExists(t))
        else assert(spark.table(t).isEmpty, "the kill precedes every row")
      }
      landVec(b, p) // the replay
      landDf(s)
      for ((t, ref) <- Seq(b -> refB, p -> refP, s -> refS))
        withClue(s"$t killed at $step, then replayed: ") {
          assert(graftProps(t) === graftProps(ref), "kind and geometry stamps")
          assert(walkRows(t) === walkRows(ref))
        }
      Seq(b, p, s).foreach(walkCleanup)
    }
    Seq(refB, refP, refS).foreach(walkCleanup)
  }

  test("a buildVectorIndex killed at create or at append rebuilds into stamped tables whose SQL probe equals a clean build") {
    // the vec-bands bug class: a build killed between its write and a
    // separate stamp left a table the vector probe read under DEFAULT
    // geometry. Every build now lands batch 0 through the one stamped
    // CREATE, so whatever a kill leaves is stamped, and the rebuild the
    // build-if-absent guard triggers probes exactly like a clean build.
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    emb.filter(col("vec_id") % 5 === 0).createOrReplaceTempView("kill_vec_delta")
    def build(b: String, p: String): Unit =
      graft.ops.Similarity.buildVectorIndex(corpus, b, p, buckets = 2)
    def probe(b: String, p: String): Seq[String] = {
      spark.sql(s"PROBE vector INDEX $b, $p INTO kill_vec_out AS " +
        "SELECT vec_id, embedding FROM kill_vec_delta").collect()
      walkRows("kill_vec_out")
    }
    val (refB, refP) = ("kill_ref_vb", "kill_ref_vp")
    build(refB, refP)
    val want = probe(refB, refP)
    assert(want.exists(_.contains(",true,")), "vacuous fixture: no delta vector is a dup")
    for (step <- Seq("create", "append"); victim <- Seq("b", "p")) {
      val (b, p) = (s"kill_${step}_vb", s"kill_${step}_vp")
      Seq(b, p).foreach(walkCleanup)
      walkCrash(if (victim == "b") b else p, step)(build(b, p))
      for ((t, ref) <- Seq(b -> refB, p -> refP) if spark.catalog.tableExists(t))
        withClue(s"$t after a kill of $victim at $step: ") {
          assert(graftProps(t) === graftProps(ref), "a created table is stamped")
        }
      assert(!Seq(b, p).forall(Bucketing.hasLandedBatch(spark, _, 0L)),
        "the build-if-absent guard must see the killed build as absent")
      build(b, p) // the guard's rebuild
      withClue(s"killed $victim at $step, then rebuilt: ") {
        for ((t, ref) <- Seq(b -> refB, p -> refP)) {
          assert(graftProps(t) === graftProps(ref), "kind and geometry stamps")
          assert(walkRows(t) === walkRows(ref))
        }
        assert(probe(b, p) === want, "SQL PROBE vector must equal a clean build")
      }
      Seq(b, p).foreach(walkCleanup)
    }
    Seq(refB, refP, "kill_vec_out").foreach(walkCleanup)
  }

  test("vector and ivf probes after a compaction killed at recover-partitions equal a clean probe") {
    // the window between rename-into-place and the partition recover:
    // the table resolves and lists its landed batch, yet every scan
    // reads empty until a repair re-runs the recover — so each probe
    // entry must repair before it reads, or it silently matches nothing
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    emb.filter(col("vec_id") % 5 === 0).createOrReplaceTempView("rw_vec_delta")
    val (b, p, ivf) = ("rw_vb", "rw_vp", "rw_ivf")
    Seq(b, p, ivf, "rw_vec_out").foreach(walkCleanup)
    graft.ops.Similarity.buildVectorIndex(corpus, b, p, buckets = 2)
    graft.ops.Similarity.buildIvfIndex(emb, ivf, nCentroids = 16, buckets = 2)
    def vecProbe(): Seq[String] = {
      spark.sql(s"PROBE vector INDEX $b, $p INTO rw_vec_out AS " +
        "SELECT vec_id, embedding FROM rw_vec_delta").collect()
      walkRows("rw_vec_out")
    }
    def ivfProbe(): Seq[String] =
      graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, ivf)
        .collect().map(_.toString).sorted.toSeq
    val (wantVec, wantIvf) = (vecProbe(), ivfProbe())
    assert(wantVec.exists(_.contains(",true,")) && wantIvf.nonEmpty,
      "vacuous fixture: the probes must find something")
    Seq(b, p, ivf).foreach { t =>
      walkCrash(t, "recover-partitions")(Bucketing.compactBucketed(spark, t))
      assert(Bucketing.hasLandedBatch(spark, t, 0L) && spark.table(t).count() === 0L,
        s"$t must be in the window: batch 0 listed, every scan empty")
    }
    assert(vecProbe() === wantVec, "SQL PROBE vector must repair both tables first")
    assert(ivfProbe() === wantIvf, "the ivf probe must repair its index first")
    Seq(b, p, ivf, "rw_vec_out").foreach(walkCleanup)
  }

  test("a first minhash retraction batch killed at create or at append replays into a stamped tombstone table equal to a clean landing") {
    // doc 7 is mDelta's exact near-dup source, so the gate changes the probe
    val retired = mCorpus.filter(col("doc_id").isin(3L, 7L))
    def index(tb: String, ts: String): Unit =
      Dedup.appendCorpusIndexPartial(spark, mCorpus, tb, ts, 0L,
        bands = 8, rowsPerBand = 4, buckets = 2)
    def retract(tb: String, ts: String, tt: String): Boolean =
      Tombstones.retract(spark, Tombstones.minhash(tb, ts, tt), retired, 1L)
    def probe(tb: String, ts: String, tt: Option[String]): Set[String] =
      Dedup.incrementalVerdictsAgainstIndex(spark, mDelta, tb, ts, bands = 8,
        rowsPerBand = 4, tombstonesTable = tt).collect().map(_.toString).toSet
    val (refB, refS, refT) = ("tomb_ref_b", "tomb_ref_s", "tomb_ref_t")
    Seq(refB, refS, refT).foreach(walkCleanup)
    index(refB, refS)
    assert(retract(refB, refS, refT))
    assert(graftProps(refT) === Map(Bucketing.KindProperty -> "minhash-tombs"))
    val want = probe(refB, refS, Some(refT))
    assert(want !== probe(refB, refS, None), "the gate changed nothing — vacuous")
    for (step <- Seq("create", "append")) {
      val (tb, ts, tt) = (s"tomb_${step}_b", s"tomb_${step}_s", s"tomb_${step}_t")
      Seq(tb, ts, tt).foreach(walkCleanup)
      index(tb, ts)
      walkCrash(tt, step)(retract(tb, ts, tt))
      withClue(s"$tt killed at $step: ") {
        if (step == "create") assert(!spark.catalog.tableExists(tt))
        else assert(spark.table(tt).isEmpty, "the kill precedes every row")
      }
      withClue(s"$tt killed at $step, then replayed: ") {
        assert(retract(tb, ts, tt))
        assert(graftProps(tt) === graftProps(refT), "kind stamp")
        assert(walkRows(tt) === walkRows(refT))
        assert(probe(tb, ts, Some(tt)) === want, "the probe gate must filter")
      }
      Seq(tb, ts, tt).foreach(walkCleanup)
    }
    Seq(refB, refS, refT).foreach(walkCleanup)
  }

  test("a purge killed at any step of either table's swap leaves purgedThrough exactly on the tables it purged") {
    val (tb, ts, tt) = ("purgewalk_b", "purgewalk_s", "purgewalk_t")
    val retired = Seq(3L, 7L)
    def purgedRowsGone(t: String): Boolean =
      spark.table(t).filter(col("doc_id").isin(retired: _*)).isEmpty
    val commit = swapPath.indexOf("rename-into-place")
    for ((victim, v) <- Seq(tb, ts).zipWithIndex;
         (step, i) <- swapPath.zipWithIndex) {
      Seq(tb, ts, tt).foreach(walkCleanup)
      Dedup.appendCorpusIndexPartial(spark, mCorpus, tb, ts, 0L,
        bands = 8, rowsPerBand = 4, buckets = 2)
      val family = Tombstones.minhash(tb, ts, tt)
      Tombstones.retract(spark, family,
        mCorpus.filter(col("doc_id").isin(retired: _*)), 1L)
      walkCrash(victim, step)(Tombstones.purge(spark, family))
      Seq(tb, ts).foreach(Bucketing.repairCompaction(spark, _))
      withClue(s"purge killed at $step of $victim: ") {
        // tables are purged in order; the victim's swap counts once it
        // got past its commit step
        val purged = Seq(tb, ts).zipWithIndex.map { case (_, j) =>
          j < v || (j == v && i > commit) }
        assert(Seq(tb, ts).map(purgedRowsGone) === purged)
        for (t <- Seq(tb, ts))
          assert(Bucketing.tableProperty(spark, t,
              Tombstones.PurgedThroughProperty) ===
            (if (purgedRowsGone(t)) Some("1") else None), t)
        // and the re-run purge converges
        assert(Tombstones.purge(spark, family))
        for (t <- Seq(tb, ts)) {
          assert(purgedRowsGone(t), t)
          assert(Bucketing.tableProperty(spark, t,
            Tombstones.PurgedThroughProperty) === Some("1"), t)
        }
        assert(!spark.catalog.tableExists(tt))
      }
    }
    Seq(tb, ts, tt).foreach(walkCleanup)
  }
}
