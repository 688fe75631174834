package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, concat, lit, pmod, when}

/** The persisted-index probe contracts re-checked under AQE.
  *
  * ExplainSpec pins `spark.sql.adaptive.enabled=false` in the
  * bucketed-probe tests so its static exchange-count assertions can't be
  * rewrapped by runtime re-planning — but at 100 TB these plans RUN
  * under AQE (coalescing, skew-split, runtime join demotion). This suite
  * asserts the contracts that make the persisted-index economics real —
  * bucketed scan survives, the only exchange is the delta's, the
  * partial-df fold sits directly on the bucketed scan — on the FINAL
  * adaptive plan, after AQE has re-planned. The q32–q35/q48 exchange
  * rows need no twin here: their plan tests (BucketingSpec/ExplainSpec)
  * already run at the session default, which is AQE-on.
  */
class AqeSpec extends SparkSpec {

  /** Final (post-AQE) physical plan, forced by executing the query. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def withAqeNoBroadcast[A](body: => A): A = {
    // broadcast off for the same reason as the static probes: at
    // fixture scale the planner (or AQE's runtime re-plan) would
    // broadcast and skip the layout under test; AQE explicitly ON
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true")(body)
  }

  test("AQE skew-join splits a pathological key at runtime (the complement to q32's salting)") {
    import spark.implicits._
    // q32 salts by hand because salting works on ANY Spark; at 100 TB
    // under AQE the engine also self-heals skew by splitting oversized
    // shuffle partitions at runtime. Demonstrate the plans we ship
    // reach that path: a 90%-one-key join, thresholds scaled to
    // fixture bytes, must plan a skew=true sort-merge join.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k")
    Sessions.withConf(spark, confs: _*) {
      val big = spark.range(0, 100000)
        .select(when(col("id") % 10 =!= 0, lit(7L))
          .otherwise(pmod(col("id"), lit(64))).as("k"),
          concat(lit("x" * 64), col("id")).as("payload"))
      val small = spark.range(0, 64).select(col("id").as("k"),
        col("id").cast("string").as("name"))
      val joined = big.join(small, "k")
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"skew demo must run a shuffled join:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join split at runtime:\n$plan")
    }
  }

  test("skew-safe df form under AQE: the planted hot window key splits at runtime") {
    import spark.implicits._
    // the regime claim on Dedup.substringRemove, asserted: the
    // skew-safe form's join-back CAN be split by AQE when one window
    // hash goes hot, where a Window partition cannot. 90% of 20000 docs
    // ARE one 8-token span (exactly one window, one hash) — the
    // occurrence shuffle puts ~18000 rows under a single key while the
    // median partition holds ~500; thresholds scaled to fixture bytes.
    val hot = "copyright two thousand all rights reserved by example"
    val docs = (0L until 20000L).map { i =>
      (i, if (i % 10 != 0) hot
          else s"d$i a$i b$i c$i e$i f$i g$i h$i")
    }.toDF("doc_id", "text").localCheckpoint()
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b")
    Sessions.withConf(spark, confs: _*) {
      val plan = finalPlan(
        graft.ops.Dedup.substringRemove(docs, k = 8, skewSafe = true))
      assert(plan.contains("skew=true"),
        s"AQE must split the hot window hash in the skew-safe join:\n$plan")
      // the default form keeps its Window — the partition AQE cannot
      // split, which is exactly why the skew-safe form exists
      val planW = finalPlan(graft.ops.Dedup.substringRemove(docs, k = 8))
      assert(planW.contains("Window") && !planW.contains("skew=true"), planW)
    }
  }

  test("p54 probe under AQE: bucketed scan + single delta exchange survive re-planning") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val bandsTbl = "graft_aqe_p54_bands"
    val sigsTbl = "graft_aqe_p54_sigs"
    graft.io.Bucketing.dropTable(spark, bandsTbl)
    graft.io.Bucketing.dropTable(spark, sigsTbl)
    graft.ops.Dedup.buildCorpusIndex(corpus, bandsTbl, sigsTbl,
      bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 4)
    try withAqeNoBroadcast {
      val dSig = graft.ops.Dedup.sigFrame(delta, 128, 3)
      val probe = graft.ops.Dedup.bandFrame(dSig, 16, 8).as("d")
        .join(spark.table(bandsTbl).as("c"),
          col("d.band_id") === col("c.band_id") &&
          col("d.band_hash") === col("c.band_hash"))
        .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      val plan = finalPlan(probe)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the corpus index:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"AQE re-planning must not add a corpus-side exchange:\n$plan")
      // semantics under AQE == the statically-planned verdicts
      val indexed = graft.ops.Dedup.incrementalVerdictsAgainstIndex(
        spark, delta, bandsTbl, sigsTbl,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      val inline = graft.ops.Dedup.incrementalMinhashVerdicts(corpus, delta,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      assert(indexed.exceptAll(inline).isEmpty && inline.exceptAll(indexed).isEmpty,
        "indexed verdicts under AQE must equal the inline path")
    } finally {
      graft.io.Bucketing.dropTable(spark, bandsTbl)
      graft.io.Bucketing.dropTable(spark, sigsTbl)
    }
  }

  test("p63 probe under AQE: line-df index stays a bucketed read, verdicts unchanged") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_aqe_p63_linedf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.TextAnalysis.buildLineDfIndex(
      docs.filter(col("doc_id") % 5 =!= 0), tbl, buckets = 4)
    try withAqeNoBroadcast {
      val verdicts = graft.ops.TextAnalysis.lineDedupIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = finalPlan(verdicts)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the line-df index:\n$plan")
      assert(plan.linesIterator.exists(_.contains(tbl)),
        s"expected a scan of $tbl in:\n$plan")
      // and the full-rewrite equivalence holds on the adaptive plan
      val want = graft.ops.TextAnalysis.lineDedup(docs)
        .filter(col("doc_id") % 5 === 0)
      assert(verdicts.exceptAll(want).isEmpty && want.exceptAll(verdicts).isEmpty,
        "incremental verdicts under AQE must equal the global rewrite")
    } finally graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("p71 probe under AQE: window-df index stays a bucketed read, rewrite plan-independent") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_aqe_p71_windf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.Dedup.buildWindowDfIndex(
      docs.filter(col("doc_id") % 5 =!= 0), tbl, k = 8, buckets = 4)
    try {
      val aqeOn = withAqeNoBroadcast {
        val out = graft.ops.Dedup.substringRemoveIncremental(spark,
          docs.filter(col("doc_id") % 5 === 0), tbl, k = 8)
        val plan = finalPlan(out)
        assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
          s"AQE must keep the bucketed read of the window-df index:\n$plan")
        assert(plan.linesIterator.exists(_.contains(tbl)),
          s"expected a scan of $tbl in:\n$plan")
        out.collect().toSet
      }
      // a destructive rewrite must not depend on the physical plan:
      // AQE-on output equals the AQE-off output row for row
      val aqeOff = Sessions.withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1", "spark.sql.adaptive.enabled" -> "false") {
        graft.ops.Dedup.substringRemoveIncremental(spark,
          docs.filter(col("doc_id") % 5 === 0), tbl, k = 8).collect().toSet
      }
      assert(aqeOn === aqeOff,
        "p71 rewrite must be identical with and without AQE re-planning")
    } finally graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("q68 fold under AQE: no exchange between the bucketed index scan and the partial-df fold") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_aqe_q68_linedf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.TextAnalysis.appendLineDfPartial(spark,
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 0), tbl, 0L)
    graft.ops.TextAnalysis.appendLineDfPartial(spark,
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 1), tbl, 1L)
    try withAqeNoBroadcast {
      val verdicts = graft.ops.TextAnalysis.lineDedupIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = finalPlan(verdicts)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the streamed index:\n$plan")
      // walk the rendered tree's ancestors of the index scan (strictly
      // decreasing branch-marker columns — same device as ExplainSpec's
      // static q68 probe) and require the fold chain exchange-free
      val lines = plan.linesIterator.toVector
      // anchor on the SCAN line specifically: the retraction guard's
      // raise_error message also carries the table name, so a bare
      // contains(tbl) would anchor on the Filter line above the join
      val scanIdx = lines.indexWhere(l => l.contains(tbl) &&
        (l.contains("FileScan") || l.contains("Scan parquet")))
      assert(scanIdx >= 0, s"expected a scan of $tbl in:\n$plan")
      def markerCol(l: String): Int = {
        val cands = Seq(l.indexOf("+- "), l.indexOf(":- ")).filter(_ >= 0)
        if (cands.isEmpty) -1 else cands.min
      }
      val ancestors = scala.collection.mutable.Buffer[String]()
      var colm = markerCol(lines(scanIdx))
      var k = scanIdx - 1
      while (k >= 0 && colm != 0) {
        val mc = markerCol(lines(k))
        if (mc >= 0 && (colm < 0 || mc < colm)) { ancestors += lines(k); colm = mc }
        k -= 1
      }
      val foldChain = ancestors.takeWhile(l => !l.contains("Join"))
      assert(!foldChain.exists(_.contains("Exchange")),
        s"AQE must not slip an exchange between the index scan and its fold:\n$plan")
      assert(foldChain.exists(_.contains("HashAggregate")),
        s"expected the partial-df fold above the index scan:\n$plan")
    } finally graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("post-fold probe under AQE: the folded (base + run) layout keeps its bucketed scan") {
    // VERDICT r19 item 6: ExplainSpec pins the post-fold plan
    // statically; the r18 lesson is that AQE can silently undo a
    // layout the static plan shows. Fold a shingle-df table through
    // BOTH tiered levels (base merge, then a run-level fold with a
    // pending negative), probe under AQE, and require the bucketed
    // scan and the exchange-free fold chain survived re-planning.
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_aqe_fold_shdf"
    graft.io.Bucketing.dropTable(spark, tbl)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    graft.ops.Dedup.appendShingleDfPartial(spark,
      corpus.filter(col("doc_id") % 2 === 0), tbl, 0L)
    graft.ops.Dedup.appendShingleDfPartial(spark,
      corpus.filter(col("doc_id") % 2 === 1), tbl, 1L)
    graft.io.Bucketing.tieredFold(spark, tbl) // base merge
    graft.ops.Dedup.retractShingleDfPartial(spark,
      corpus.filter(col("doc_id") % 7 === 1), tbl, 2L)
    graft.io.Bucketing.tieredFold(spark, tbl, mergeFraction = 1e9) // run fold
    assert(graft.io.Bucketing.tableProperty(spark, tbl,
      graft.io.Bucketing.RunAtProperty).isDefined,
      "fixture must be in the base + run layout")
    try withAqeNoBroadcast {
      val verdicts = graft.ops.Dedup.noveltyIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = finalPlan(verdicts)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the folded index:\n$plan")
      val lines = plan.linesIterator.toVector
      val scanIdx = lines.indexWhere(l => l.contains(tbl) &&
        (l.contains("FileScan") || l.contains("Scan parquet")))
      assert(scanIdx >= 0, s"expected a scan of $tbl in:\n$plan")
      def markerCol(l: String): Int = {
        val cands = Seq(l.indexOf("+- "), l.indexOf(":- ")).filter(_ >= 0)
        if (cands.isEmpty) -1 else cands.min
      }
      val ancestors = scala.collection.mutable.Buffer[String]()
      var colm = markerCol(lines(scanIdx))
      var k = scanIdx - 1
      while (k >= 0 && colm != 0) {
        val mc = markerCol(lines(k))
        if (mc >= 0 && (colm < 0 || mc < colm)) { ancestors += lines(k); colm = mc }
        k -= 1
      }
      val foldChain = ancestors.takeWhile(l => !l.contains("Join"))
      assert(!foldChain.exists(_.contains("Exchange")),
        s"AQE must not slip an exchange between the folded scan and its fold:\n$plan")
      assert(foldChain.exists(_.contains("HashAggregate")),
        s"expected the partial-df fold above the folded index scan:\n$plan")
    } finally graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("q73 probe under AQE: the STREAMED minhash layout keeps its bucket economics") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val bandsTbl = "graft_aqe_q73_bands"
    val sigsTbl = "graft_aqe_q73_sigs"
    Seq(bandsTbl, sigsTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
    Seq(0, 1).foreach { i =>
      graft.ops.Dedup.appendCorpusIndexPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(2)) === i), bandsTbl, sigsTbl,
        i.toLong, buckets = 4)
    }
    try withAqeNoBroadcast {
      val dSig = graft.ops.Dedup.sigFrame(delta, 128, 3)
      val probe = graft.ops.Dedup.bandFrame(dSig, 16, 8).as("d")
        .join(spark.table(bandsTbl).as("c"),
          col("d.band_id") === col("c.band_id") &&
          col("d.band_hash") === col("c.band_hash"))
        .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      val plan = finalPlan(probe)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the streamed band index:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"AQE re-planning must not add an index-side exchange:\n$plan")
      // semantics: streamed layout under AQE == batch-built probe
      val refBands = "graft_aqe_q73_refb"; val refSigs = "graft_aqe_q73_refs"
      Seq(refBands, refSigs).foreach(graft.io.Bucketing.dropTable(spark, _))
      graft.ops.Dedup.buildCorpusIndex(corpus, refBands, refSigs, buckets = 4)
      try {
        val streamed = graft.ops.Dedup.incrementalVerdictsAgainstIndex(
          spark, delta, bandsTbl, sigsTbl)
        val batch = graft.ops.Dedup.incrementalVerdictsAgainstIndex(
          spark, delta, refBands, refSigs)
        assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
          "streamed-layout verdicts under AQE must equal the batch-index probe")
      } finally Seq(refBands, refSigs).foreach(graft.io.Bucketing.dropTable(spark, _))
    } finally Seq(bandsTbl, sigsTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("q71 probe under AQE: streamed vector postings stay a bucketed read, verdicts unchanged") {
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val bandsTbl = "graft_aqe_q71_bands"; val vecsTbl = "graft_aqe_q71_vecs"
    val refBands = "graft_aqe_q71_refb"; val refVecs = "graft_aqe_q71_refv"
    Seq(bandsTbl, vecsTbl, refBands, refVecs)
      .foreach(graft.io.Bucketing.dropTable(spark, _))
    val bits = graft.ops.Similarity.adaptiveBitsPerTable(corpus.count())
    Seq(0, 1).foreach { i =>
      graft.ops.Similarity.appendVectorIndexPartial(spark,
        corpus.filter(pmod(col("vec_id"), lit(2)) === i), bandsTbl, vecsTbl,
        i.toLong, tables = 8, bitsPerTable = bits, buckets = 4)
    }
    graft.ops.Similarity.buildVectorIndex(corpus, refBands, refVecs,
      bitsPerTable = bits, buckets = 4)
    try withAqeNoBroadcast {
      val streamed = graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(
        spark, delta, bandsTbl, vecsTbl, threshold = 0.45, bitsPerTable = bits)
      val plan = finalPlan(streamed)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the streamed vector index:\n$plan")
      val batch = graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(
        spark, delta, refBands, refVecs, threshold = 0.45, bitsPerTable = bits)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed-layout verdicts under AQE must equal the batch-index probe")
    } finally Seq(bandsTbl, vecsTbl, refBands, refVecs)
      .foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("p122 gated probe under AQE: the tombstone gate stays a broadcast anti-join, no added exchange") {
    // ExplainSpec pins this contract with AQE off; at 100 TB the plan
    // runs under AQE, where a runtime re-plan demoting the gate to a
    // shuffled anti-join would put a data-sized exchange on the scan —
    // exactly the cost the O(|removed|) design forbids
    val emb = Tables.embeddings(spark, sfDir)
    val cents = "graft_aqe_p122_cents"; val idx = "graft_aqe_p122_ivf"
    val tombs = "graft_aqe_p122_tombs"
    Seq(cents, idx, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
    graft.ops.Similarity.buildIvfCentroids(emb, cents)
    graft.ops.Similarity.appendIvfAssignPartial(spark, emb, cents, idx, 0L)
    val poison = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    graft.ops.Similarity.appendIvfAssignPartial(spark, poison, cents, idx, 1L)
    graft.io.Tombstones.retract(spark, graft.io.Tombstones.ivf(idx, tombs),
      poison, 0L)
    try withAqeNoBroadcast {
      val ungated = finalPlan(
        graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, idx))
      val gatedDf = graft.ops.Similarity.ivfTopKAgainstIndex(
        spark, emb, idx, tombstonesTable = Some(tombs))
      val gated = finalPlan(gatedDf)
      assert(gated.contains("BroadcastHashJoin") && gated.contains("LeftAnti"),
        s"the gate must survive AQE as a broadcast anti-join:\n$gated")
      def exchanges(p: String) =
        "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges(gated) === exchanges(ungated),
        s"AQE re-planning must not add an exchange for the gate:\nGATED\n$gated")
      // and the gated result over the poisoned index must equal the
      // clean index's neighbors — under AQE, not just statically
      val clean = "graft_aqe_p122_clean"
      graft.io.Bucketing.dropTable(spark, clean)
      graft.ops.Similarity.appendIvfAssignPartial(spark, emb, cents, clean, 0L)
      val want = graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, clean)
      assert(gatedDf.exceptAll(want).isEmpty && want.exceptAll(gatedDf).isEmpty,
        "gated probe under AQE must equal the clean-index probe")
      graft.io.Bucketing.dropTable(spark, clean)
    } finally Seq(cents, idx, tombs)
      .foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("p110/q79 probe under AQE: shingle-df index stays a bucketed read, verdicts unchanged") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val tbl = "graft_aqe_p110"; val ref = "graft_aqe_p110_ref"
    Seq(tbl, ref).foreach(graft.io.Bucketing.dropTable(spark, _))
    // streamed-shaped layout: two appended batch_id partitions
    Seq(0, 1).foreach { i =>
      graft.ops.Dedup.appendShingleDfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(2)) === i), tbl, i.toLong,
        buckets = 4)
    }
    graft.ops.Dedup.buildShingleDfIndex(corpus, ref, buckets = 4)
    try withAqeNoBroadcast {
      val probe = graft.ops.Dedup.noveltyIncremental(spark, delta, tbl)
      val plan = finalPlan(probe)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"AQE must keep the bucketed read of the shingle-df index:\n$plan")
      // the probe's h exchanges are both DELTA-sized (see the static
      // ExplainSpec twin); AQE re-planning must not add an index-side one
      val hashExchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning"))
        .filter(_.contains("h#")).size
      assert(hashExchanges <= 2,
        s"AQE re-planning must not add an index-side exchange on h:\n$plan")
      // semantics: streamed layout under AQE == batch-built probe
      val streamed = graft.ops.Dedup.noveltyIncremental(spark, delta, tbl)
      val batch = graft.ops.Dedup.noveltyIncremental(spark, delta, ref)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed-layout novelty under AQE must equal the batch-index probe")
    } finally Seq(tbl, ref).foreach(graft.io.Bucketing.dropTable(spark, _))
  }
}
