package graft

import graft.queries.CoreQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions: the properties that make these plans scale —
  * filter/column pushdown into the parquet scan, broadcast joins for
  * dimensions, top-k without a global sort, whole-stage codegen coverage.
  * A plan regression here is a 100x cost at cluster scale long before any
  * test data notices.
  */
class ExplainSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  /** Broadcast and AQE off: fixture scale would broadcast the small side
    * and AQE would rewrap the exchanges, hiding the static shuffle-join
    * plan the bucketed layouts target. */
  private def staticShufflePlan[A](body: => A): A =
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")(body)

  test("q07: predicate and projection are pushed into the parquet scan") {
    val df = CoreQueries.q07FilterProject(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: ["))
    assert(scan.contains("GreaterThanOrEqual(l_quantity,30.0)"))
    // pruned read schema: only the 4 projected columns reach the scan
    assert(scan.contains("ReadSchema") && !scan.contains("l_extendedprice"))
  }

  test("q02 star join: all three dimension joins are broadcast, fact side never shuffles") {
    val plan = planString(CoreQueries.q02StarJoin(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 3)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q03 customer mart: broadcast join + partial aggregation before the shuffle") {
    val plan = planString(CoreQueries.q03CustomerMart(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"))
    // two HashAggregates (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("q09 top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planString(CoreQueries.q09TopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q08 aggregation runs inside whole-stage codegen") {
    val plan = planString(CoreQueries.q08GroupByAgg(spark, sfDir))
    // codegen stages render as "*(n) Operator" in executedPlan.toString
    assert(plan.contains("*(") || plan.contains("WholeStageCodegen"))
  }

  test("q10/q11 compile to broadcast semi/anti joins") {
    val semi = planString(CoreQueries.q10SemiJoin(spark, sfDir))
    val anti = planString(CoreQueries.q11AntiJoin(spark, sfDir))
    assert(semi.contains("LeftSemi"))
    assert(anti.contains("LeftAnti"))
  }

  test("q33 bloom semi-join: probe-side filter runs BEFORE the join") {
    val plan = planString(graft.queries.ExchangeQueries.q33BloomSemiJoin(spark, sfDir))
    // the bloom membership UDF must appear as a Filter on the PROBE branch
    // under the semi-join (printed between the join line and the build
    // side's exchange), not be deferred past the join — that ordering is
    // the whole point of the runtime filter
    val iJoin = plan.indexOf("LeftSemi")
    val iUdf = plan.indexOf("UDF(")
    val iBuild = plan.indexOf("BroadcastExchange")
    assert(iJoin >= 0 && iUdf > iJoin && (iBuild < 0 || iUdf < iBuild),
      s"expected probe-side bloom filter below the semi-join, got:\n$plan")
  }

  test("p12 multi-table LSH: no join; the top-k merge on q_id is the only shuffle") {
    val plan = planString(graft.ops.Similarity.lshTopK(Tables.embeddings(spark, sfDir)))
    // candidates look their bucket codes up in the query block: no bucket
    // join, no candidate distinct, no embedding-fetch join
    for (op <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!plan.contains(op), s"no $op in the LSH top-k:\n$plan")
    val shuffles = "(?<!Broadcast)Exchange (\\S+)".r.findAllMatchIn(plan).toList
    assert(shuffles.size === 1 && shuffles.head.group(1).startsWith("hashpartitioning(q_id"),
      s"exactly one shuffle, the top-k merge on q_id:\n$plan")
  }

  test("p46 BPE pair ranking is a bounded TakeOrderedAndProject, no window") {
    val plan = planString(graft.ops.TextAnalysis.bpePairStats(Tables.documents(spark, sfDir)))
    assert(plan.contains("TakeOrderedAndProject"), s"expected a bounded top-k:\n$plan")
    assert(!plan.contains("Window"), s"no single-partition rank window:\n$plan")
  }

  test("p16 IVF: centroid side is a bounded broadcast (TakeOrderedAndProject + broadcast)") {
    val df = graft.ops.Similarity.ivfTopK(Tables.embeddings(spark, sfDir))
    val plan = planString(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"centroid sample must be a bounded top-k, got:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q36 mart read prunes to one partition directory") {
    val df = graft.queries.ExchangeQueries.q36PartitionPrunedMart(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the month filter must land in PartitionFilters on the scan (pruned
    // directory listing), not in post-scan data filters
    assert(plan.contains("PartitionFilters: [") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*sales_month[^\\]]*\\].*"),
      s"expected sales_month in PartitionFilters, got:\n$plan")
  }

  test("p27 interval join stays an equi-join on user with range conditions, not a cross join") {
    val plan = planString(graft.queries.PipelineQueries.eventsIntervalJoin(spark, sfDir))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q47 SCD2 build is join-free: a union of narrow passes") {
    val plan = planString(graft.queries.WarehouseQueries.q47Scd2History(spark, sfDir))
    assert(!plan.contains("Join"),
      s"SCD2 change detection must be a predicate, not a join:\n$plan")
    assert(plan.contains("Union"))
  }

  test("q48 MERGE is one full-outer join on the merge key") {
    val plan = planString(graft.queries.WarehouseQueries.q48MergeUpsert(spark, sfDir))
    assert(plan.contains("FullOuter"), s"expected a full outer join:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(plan).size === 1,
      s"MERGE must be exactly one shuffled join:\n$plan")
  }

  test("p39 IVF-PQ: LUT and probe sides broadcast, no cartesian product") {
    val plan = planString(graft.ops.Similarity.ivfPqTopK(Tables.embeddings(spark, sfDir)))
    assert(!plan.contains("CartesianProduct"),
      s"PQ ranking must stay on keyed joins:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook/LUT joins must broadcast:\n$plan")
  }

  test("p45 centroid scoring is a single narrow pass: no exchange, no join") {
    // the centroid is a collected literal, so the returned plan must be
    // scan -> project only; a shuffle or join here means the operator
    // regressed to a per-row centroid recompute
    val plan = planString(
      graft.ops.Clustering.centroidOutliers(Tables.embeddings(spark, sfDir)))
    assert(!plan.contains("Exchange"), s"expected shuffle-free scoring:\n$plan")
    assert(!plan.contains("Join"), s"expected join-free scoring:\n$plan")
  }

  test("p69 URL canonicalization: one narrow pass + one aggregate exchange, no UDF") {
    // the canonicalizer is composed native functions; a UDF (or a
    // second exchange) here means the pass stopped being a pure scan
    // coefficient and the groupBy stopped being map-side combined
    val plan = planString(
      graft.queries.CurationQueries.urlCanonicalize(spark, sfDir))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"expected UDF-free canonicalization:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one exchange (the groupBy):\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
  }

  test("p77 PSL registered domain: still one narrow pass + one aggregate exchange, no UDF") {
    // the longest-match lookup is InSet membership over label suffixes —
    // a UDF or a join here means the PSL upgrade broke the scan-only
    // contract p69 established
    val plan = planString(
      graft.queries.CurationQueries.registeredDomains(spark, sfDir))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"expected UDF-free PSL lookup:\n$plan")
    assert(!plan.contains("Join"), s"expected join-free PSL lookup:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one exchange (the groupBy):\n$plan")
  }

  test("p80 BPE encode is map-only up to the doc aggregate; no UDF") {
    // the merge table is embedded as literals in chained StringReplace
    // expressions: the per-token encode must plan as a pure projection
    val merges = Seq("th", "he", "in", "er", "an")
    val plan = planString(graft.ops.TextAnalysis.bpeEncodeTokens(
      Tables.documents(spark, sfDir), merges))
    assert(!plan.contains("Exchange"), s"expected shuffle-free encode:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"expected UDF-free encode:\n$plan")
    // and the summary adds exactly the one doc-level aggregate exchange
    val full = planString(graft.ops.TextAnalysis.bpeEncode(
      Tables.documents(spark, sfDir), merges))
    assert("Exchange".r.findAllIn(full).size == 1,
      s"expected exactly one exchange (the doc aggregate):\n$full")
  }

  test("p79/p81 banded hamming joins: keyed equi-joins, never cartesian") {
    val fps = graft.ops.Audio.audioFingerprints(spark,
      graft.ops.Audio.syntheticAudioVariants(
        spark, Tables.documents(spark, sfDir))).toDF()
    val pairPlan = planString(graft.ops.Audio.audioNearDupPairs(fps))
    assert(!pairPlan.contains("CartesianProduct") &&
      !pairPlan.contains("BroadcastNestedLoopJoin"),
      s"banded pairs must join on (band, value):\n$pairPlan")
    val sigs = fps.select(fps("doc_id"), fps("fp_lo").as("lo"),
      fps("fp_hi").as("hi"))
    val distinctPlan = planString(
      graft.ops.BandedHamming.distinctPairs(sigs))
    assert(!distinctPlan.contains("CartesianProduct") &&
      !distinctPlan.contains("BroadcastNestedLoopJoin"),
      s"distinct-signature pairs must stay banded:\n$distinctPlan")
  }

  test("p74 exact sample compiles to TakeOrderedAndProject, not a global sort") {
    // ORDER BY key LIMIT n must become per-partition top-n + merge; a
    // Sort node here means the sample pays a full corpus sort at 100 TB
    val plan = planString(graft.ops.Selection.uniformSampleExact(
      Tables.documents(spark, sfDir), n = 100))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Sort "), s"expected no global sort:\n$plan")
  }

  test("p49 per-group cap is an aggregate, not a per-group window sort") {
    val docs = Tables.documents(spark, sfDir)
    val scored = graft.ops.TextAnalysis.qualityScore(docs)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("quality_score"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val plan = planString(graft.ops.Selection.groupCappedTopK(scored,
      org.apache.spark.sql.functions.col("source"),
      org.apache.spark.sql.functions.col("quality_score"),
      org.apache.spark.sql.functions.col("doc_id"), cap = 5))
    // a Window here means the operator regressed to row_number().over(
    // partitionBy(group)) — a full sort of every member of the heaviest
    // group on one partition
    assert(!plan.contains("Window"), s"expected aggregate top-k:\n$plan")
    assert(plan.contains("Aggregate"), s"expected partial/final aggregate:\n$plan")
  }

  test("p50 budget selection: per-row window is bucket-partitioned, offsets broadcast") {
    val scored = graft.ops.TextAnalysis
      .qualityScore(Tables.documents(spark, sfDir))
      .select("doc_id", "n_tokens", "quality_score")
    val plan = planString(graft.ops.Selection.budgetSelect(scored,
      org.apache.spark.sql.functions.lit(1.0) -
        org.apache.spark.sql.functions.col("quality_score"),
      org.apache.spark.sql.functions.col("n_tokens"),
      org.apache.spark.sql.functions.col("doc_id"), budget = 2000L))
    // the row-level running sum must be partitioned by the bucket key;
    // an empty partition spec would funnel every row through one task
    assert(plan.contains("windowspecdefinition(sel_bucket"),
      s"expected the per-row window keyed on sel_bucket:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back:\n$plan")
  }

  test("p51/p52 fingerprint joins never cross-product") {
    val docs = Tables.documents(spark, sfDir)
    val p51 = planString(graft.ops.Dedup.substringOverlapPairs(docs))
    assert(!p51.contains("CartesianProduct"),
      s"substring overlap must join on window hashes:\n$p51")
    val p52 = planString(graft.ops.Dedup.incrementalMinhashVerdicts(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)))
    assert(!p52.contains("CartesianProduct"),
      s"incremental dedup must probe band buckets:\n$p52")
  }

  test("p54 probe: persisted corpus index joins shuffle ONLY the delta") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val bandsTbl = "graft_p54spec_bands"
    val sigsTbl = "graft_p54spec_sigs"
    graft.io.Bucketing.dropTable(spark, bandsTbl)
    graft.io.Bucketing.dropTable(spark, sigsTbl)
    graft.ops.Dedup.buildCorpusIndex(corpus, bandsTbl, sigsTbl,
      bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 4)
    try staticShufflePlan {
      // fixture scale would broadcast the delta and AQE would rewrap the
      // exchanges; pin the static shuffle-join plan the layout targets
      val dSig = graft.ops.Dedup.sigFrame(delta, 128, 3)
      val probe = graft.ops.Dedup.bandFrame(dSig, 16, 8).as("d")
        .join(spark.table(bandsTbl).as("c"),
          col("d.band_id") === col("c.band_id") &&
          col("d.band_hash") === col("c.band_hash"))
        .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      val plan = planString(probe)
      // the corpus scan must arrive pre-partitioned (bucketed read) …
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"corpus band index must be read as a bucketed table:\n$plan")
      // … and the ONLY exchange in the probe is the delta side's: a
      // second one means the corpus re-shuffled and the index bought nothing
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"expected exactly one (delta-side) exchange:\n$plan")
      // end-to-end: the indexed path emits exactly the inline verdicts
      val indexed = graft.ops.Dedup.incrementalVerdictsAgainstIndex(
        spark, delta, bandsTbl, sigsTbl,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      val inline = graft.ops.Dedup.incrementalMinhashVerdicts(corpus, delta,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      assert(indexed.exceptAll(inline).isEmpty && inline.exceptAll(indexed).isEmpty,
        "persisted-index verdicts must equal the inline path")
    } finally {
      graft.io.Bucketing.dropTable(spark, bandsTbl)
      graft.io.Bucketing.dropTable(spark, sigsTbl)
    }
  }

  test("p54 probe under AQE: one bucketed verify join, corpus grams only for prefiltered pairs, no join after the argmax") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val (bandsTbl, sigsTbl, tombs) =
      ("graft_probe_pin_bands", "graft_probe_pin_sigs", "graft_probe_pin_tombs")
    Seq(bandsTbl, sigsTbl, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
    // the streamed layout (two landed batches) with a retraction pending
    Seq(0, 1).foreach { i =>
      graft.ops.Dedup.appendCorpusIndexPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(2)) === i), bandsTbl, sigsTbl,
        i.toLong, buckets = 4)
    }
    graft.io.Tombstones.retract(spark,
      graft.io.Tombstones.minhash(bandsTbl, sigsTbl, tombs),
      corpus.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"), 0L)
    try Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "true") {
      val probe = graft.ops.Dedup.incrementalVerdictsAgainstIndex(spark, delta,
        bandsTbl, sigsTbl, tombstonesTable = Some(tombs))
      probe.collect()
      val root = probe.queryExecution.executedPlan
      val plan = root match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      // every root-to-leaf path, then each corpus scan's path upward to
      // the first join that is not the tombstone gate (a LeftAnti)
      def paths(p: SparkPlan): Seq[List[SparkPlan]] = planChildren(p) match {
        case Seq() => Seq(List(p))
        case cs => cs.flatMap(paths).map(p :: _)
      }
      def belowJoin(table: String): (FileSourceScanExec, Seq[SparkPlan]) = {
        val path = paths(root).map(_.reverse).collectFirst {
          case (s: FileSourceScanExec) :: up
            if s.tableIdentifier.exists(_.table == table) => (s, up)
        }
        assert(path.isDefined, s"no scan of $table:\n$plan")
        val (scan, up) = path.get
        (scan, up.takeWhile {
          case j: BaseJoinExec => j.joinType == LeftAnti
          case _ => true
        })
      }
      for (t <- Seq(bandsTbl, sigsTbl)) {
        val (scan, below) = belowJoin(t)
        assert(scan.bucketedScan, s"$t must be read as a bucketed scan:\n$plan")
        assert(!below.exists(_.isInstanceOf[Exchange]),
          s"no exchange between the $t scan and its join:\n$plan")
      }
      assert(!belowJoin(sigsTbl)._2.exists(_.expressions.exists(
          _.find(_.isInstanceOf[graft.functions.WordShingles]).isDefined)),
        s"the corpus text is shingled above the verify join, not per scanned row:\n$plan")
      // nothing between the root and the argmax aggregate joins or
      // shuffles: every delta doc got its verdict inside the aggregate
      def aboveAgg(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BaseAggregateExec => Nil
        case _ => p +: planChildren(p).flatMap(aboveAgg)
      }
      assert(!aboveAgg(root).exists(n =>
          n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[Exchange]),
        s"no join or shuffle of delta doc ids after the argmax:\n$plan")
      assert(queryStages(probe) <= 7, s"at most 7 query stages:\n$plan")
      // each delta doc's signature and shingles are computed once: no
      // inferred `isnotnull(minhashsig(...))` or `isnotnull(wordshingles(...))`
      // re-runs a kernel in a Filter or a scan's DataFilters
      def kernel(e: Expression): Boolean = e.find(x =>
        x.isInstanceOf[graft.functions.MinHashSig] ||
          x.isInstanceOf[graft.functions.WordShingles]).isDefined
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: planChildren(p).flatMap(nodes)
      assert(!nodes(root).exists {
          case f: FilterExec => kernel(f.condition)
          case s: FileSourceScanExec => s.dataFilters.exists(kernel)
          case _ => false
        }, s"no Filter or scan DataFilters may evaluate a kernel:\n$plan")
      val inline = graft.ops.Dedup.incrementalMinhashVerdicts(
        corpus.filter(pmod(col("doc_id"), lit(7)) =!= 0), delta)
      assert(probe.exceptAll(inline).isEmpty && inline.exceptAll(probe).isEmpty,
        "the gated probe must equal the inline verdicts over the live corpus")
    } finally Seq(bandsTbl, sigsTbl, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("p122 gated probe: the tombstone gate is a broadcast anti-join adding no exchange") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val emb = Tables.embeddings(spark, sfDir)
    val cents = "graft_p122spec_cents"; val idx = "graft_p122spec_ivf"
    val tombs = "graft_p122spec_tombs"
    Seq(cents, idx, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
    graft.ops.Similarity.buildIvfCentroids(emb, cents)
    graft.ops.Similarity.appendIvfAssignPartial(spark, emb, cents, idx, 0L)
    val poison = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    graft.ops.Similarity.appendIvfAssignPartial(spark, poison, cents, idx, 1L)
    graft.io.Tombstones.retract(spark, graft.io.Tombstones.ivf(idx, tombs),
      poison, 0L)
    try Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val ungated = planString(
        graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, idx))
      val gated = planString(graft.ops.Similarity.ivfTopKAgainstIndex(
        spark, emb, idx, tombstonesTable = Some(tombs)))
      // the gate compiles to a broadcast ANTI join on the scan side …
      assert(gated.contains("BroadcastHashJoin") && gated.contains("LeftAnti"),
        s"tombstone gate must be a broadcast anti-join:\n$gated")
      // … and adds ZERO data-sized exchanges relative to the ungated
      // probe — the map-side-gate claim the 100 TB design rests on
      // (PROBE_SCALING's p122 family measures the same property as time)
      def exchanges(p: String) =
        "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges(gated) === exchanges(ungated),
        s"the gate must add no hash exchange:\nGATED\n$gated\nUNGATED\n$ungated")
    } finally {
      Seq(cents, idx, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
    }
  }

  test("q73 probe: the STREAMED minhash layout still shuffles only the delta") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val bandsTbl = "graft_q73spec_bands"
    val sigsTbl = "graft_q73spec_sigs"
    graft.io.Bucketing.dropTable(spark, bandsTbl)
    graft.io.Bucketing.dropTable(spark, sigsTbl)
    Seq(0, 1).foreach { i =>
      graft.ops.Dedup.appendCorpusIndexPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(2)) === i),
        bandsTbl, sigsTbl, i.toLong, buckets = 4)
    }
    try staticShufflePlan {
      val dSig = graft.ops.Dedup.sigFrame(delta, 128, 3)
      val probe = graft.ops.Dedup.bandFrame(dSig, 16, 8).as("d")
        .join(spark.table(bandsTbl).as("c"),
          col("d.band_id") === col("c.band_id") &&
          col("d.band_hash") === col("c.band_hash"))
        .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      val plan = planString(probe)
      // bucket i's files across the batch_id partition dirs must fold
      // into one bucketed read — the property that makes partitioned
      // partials a real index rather than a pile of files
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"streamed band index must still be read as a bucketed table:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"expected exactly one (delta-side) exchange:\n$plan")
    } finally {
      graft.io.Bucketing.dropTable(spark, bandsTbl)
      graft.io.Bucketing.dropTable(spark, sigsTbl)
    }
  }

  test("q72 fold: streamed gram distinct runs on the bucket key with no exchange") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val tbl = "graft_q72spec_grams"
    graft.io.Bucketing.dropTable(spark, tbl)
    Seq(0, 1).foreach { i =>
      graft.ops.TextAnalysis.appendBenchGramPartial(spark,
        bench.filter(pmod(col("doc_id"), lit(2)) === i), tbl, i.toLong,
        buckets = 4)
    }
    try Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val fold = spark.table(tbl).select(col("gram")).distinct()
      val plan = planString(fold)
      assert(!plan.contains("Exchange"),
        s"gram fold must ride the bucketed layout, not re-shuffle:\n$plan")
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("q68 probe: folding streamed partials groups on the bucket key with no exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_q68spec_linedf"
    graft.io.Bucketing.dropTable(spark, tbl)
    // two disjoint appends -> a batch_id-tagged index the probe must fold
    graft.ops.TextAnalysis.appendLineDfPartial(spark,
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 0), tbl, 0L)
    graft.ops.TextAnalysis.appendLineDfPartial(spark,
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 1), tbl, 1L)
    try staticShufflePlan {
      val verdicts = graft.ops.TextAnalysis.lineDedupIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = planString(verdicts)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"streamed line-df index must be read as a bucketed table:\n$plan")
      // the partial-df fold groups on h, the bucket key, so the scan's
      // partitioning satisfies the aggregate — an exchange between the
      // index scan and its fold means the layout bought nothing. Walk
      // the rendered tree's ANCESTORS of the index scan (strictly
      // decreasing branch-marker columns; a naive "lines above" slice
      // would wrongly sweep in the delta branch's legitimate exchanges)
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
        s"no exchange may sit between the bucketed index scan and its fold:\n$plan")
      assert(foldChain.exists(_.contains("HashAggregate")),
        s"expected the partial-df fold above the index scan:\n$plan")
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("p63 probe: persisted line-df index is read bucketed, no corpus-side exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_p63spec_linedf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.TextAnalysis.buildLineDfIndex(
      docs.filter(col("doc_id") % 5 =!= 0), tbl, buckets = 4)
    try staticShufflePlan {
      val verdicts = graft.ops.TextAnalysis.lineDedupIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = planString(verdicts)
      // the index side must arrive pre-partitioned on h (bucketed read);
      // a re-shuffle of the corpus df table would defeat the layout
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"line-df index must be read as a bucketed table:\n$plan")
      assert(plan.linesIterator.exists(_.contains(tbl)),
        s"expected a scan of $tbl in:\n$plan")
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("p71 probe: window-df index read bucketed; one delta-side exchange before the rewrite") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_p71spec_windf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.Dedup.buildWindowDfIndex(
      docs.filter(col("doc_id") % 5 =!= 0), tbl, k = 8, buckets = 4)
    try staticShufflePlan {
      val out = graft.ops.Dedup.substringRemoveIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl, k = 8)
      val plan = planString(out)
      // corpus index arrives pre-partitioned on h — bucketed scan, no
      // corpus-side re-shuffle
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"window-df index must be read as a bucketed table:\n$plan")
      assert(plan.linesIterator.exists(_.contains(tbl)),
        s"expected a scan of $tbl in:\n$plan")
      // the within-delta keep-first window must REUSE the probe join's
      // hash partitioning on h, not add its own exchange: exactly one
      // exchange on h in the whole plan (the delta side of the join)
      val hashExchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning"))
        .filter(_.contains("h#")).size
      assert(hashExchanges == 1,
        s"expected exactly one delta-side exchange on h, got $hashExchanges:\n$plan")
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("p56 probe: persisted IVF index replaces the per-run assignment aggregate") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val tbl = "graft_p56spec_ivf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.Similarity.buildIvfIndex(emb, tbl, nCentroids = 16, buckets = 4)
    try Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val indexed = graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb, tbl)
      val plan = planString(indexed)
      // the corpus side must come straight from the stored assignment:
      // no argmax aggregate (that was the build-time work) …
      assert(!plan.contains("HashAggregate"),
        s"probe must not recompute the cell assignment:\n$plan")
      // … read as the bucketed table it is, and NEVER re-shuffled on the
      // probe key (the remaining exchanges are the per-query windows —
      // top-k on q_id, nProbe on vec_id — both bounded by query count)
      assert(plan.contains("Bucketed: true"),
        s"index must be read as a bucketed table:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(cell"),
        s"index side must stream into the join without a cell shuffle:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"probe side must broadcast:\n$plan")
      // end-to-end: bit-identical neighbors vs the inline path
      val inline = graft.ops.Similarity.ivfTopK(emb)
      assert(indexed.exceptAll(inline).isEmpty && inline.exceptAll(indexed).isEmpty,
        "indexed IVF must equal the inline path")
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("q26 pivot and q15 rollup: one scan, one aggregate pass each") {
    // q26 passes the pivot domain explicitly — the values-unknown form
    // adds a distinct-discovery job (an extra full scan plus a driver
    // round-trip); the plan must scan lineitem exactly once
    val pivotPlan = planString(
      graft.queries.ExtendedQueries.q26Pivot(spark, sfDir))
    assert("Scan parquet".r.findAllIn(pivotPlan).size === 1,
      s"explicit-domain pivot must scan once:\n$pivotPlan")
    // q15: rollup levels come from ONE Expand over ONE scan, not a
    // UNION ALL of per-level re-scans
    val rollupPlan = planString(
      graft.queries.ExtendedQueries.q15Rollup(spark, sfDir))
    assert("Scan parquet".r.findAllIn(rollupPlan).size === 1 &&
           rollupPlan.contains("Expand"),
      s"rollup must be one Expand pass over one scan:\n$rollupPlan")
  }

  test("p58 append: appended index stays bucketed, equals a monolithic build") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val delta2 = docs.filter(col("doc_id") % 5 === 0)
    val bandsTbl = "graft_p58spec_bands"
    val sigsTbl = "graft_p58spec_sigs"
    graft.io.Bucketing.dropTable(spark, bandsTbl)
    graft.io.Bucketing.dropTable(spark, sigsTbl)
    // day 0: index 60% of the corpus; day 1: append the next 20%
    graft.ops.Dedup.buildCorpusIndex(docs.filter(col("doc_id") % 5 >= 2),
      bandsTbl, sigsTbl, bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 4)
    graft.ops.Dedup.appendCorpusIndexPartial(spark,
      docs.filter(col("doc_id") % 5 === 1), bandsTbl, sigsTbl, batchId = 1L,
      bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 4)
    try staticShufflePlan {
      // the appended table must STILL plan as a bucketed scan — an
      // append that silently degraded the layout would re-shuffle the
      // whole corpus on every future probe
      val dSig = graft.ops.Dedup.sigFrame(delta2, 128, 3)
      val probe = graft.ops.Dedup.bandFrame(dSig, 16, 8).as("d")
        .join(spark.table(bandsTbl).as("c"),
          col("d.band_id") === col("c.band_id") &&
          col("d.band_hash") === col("c.band_hash"))
        .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      val plan = planString(probe)
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"appended band index must still scan bucketed:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"expected exactly one (delta-side) exchange after append:\n$plan")
      // day 2's probe over build+append == one monolithic 80% build
      val appended = graft.ops.Dedup.incrementalVerdictsAgainstIndex(
        spark, delta2, bandsTbl, sigsTbl,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      val monolithic = graft.ops.Dedup.incrementalMinhashVerdicts(
        docs.filter(col("doc_id") % 5 =!= 0), delta2,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      assert(appended.exceptAll(monolithic).isEmpty &&
             monolithic.exceptAll(appended).isEmpty,
        "append-maintained index must equal the monolithic rebuild")
      // p59: compact the fragmented index — files fold to <=1 per
      // (batch, bucket) (the append is its own batch_id partition), the
      // probe plan keeps its bucketed scan + single delta exchange, and
      // not one verdict changes
      val beforeFiles = graft.io.Bucketing.dataFileCount(spark, bandsTbl)
      assert(graft.io.Bucketing.compactBucketed(spark, bandsTbl) <= 2 * 4 &&
             graft.io.Bucketing.compactBucketed(spark, sigsTbl) <= 2 * 4,
        s"compaction must leave <=1 file per (batch, bucket) (was $beforeFiles)")
      val planC = planString(graft.ops.Dedup.bandFrame(dSig, 16, 8).as("d")
        .join(spark.table(bandsTbl).as("c"),
          col("d.band_id") === col("c.band_id") &&
          col("d.band_hash") === col("c.band_hash"))
        .select(col("d.doc_id").as("new_id"), col("c.doc_id").as("corpus_id")))
      assert((planC.contains("SelectedBucketsCount") || planC.contains("Bucketed: true")) &&
        "Exchange hashpartitioning".r.findAllIn(planC).size == 1,
        s"compacted index must keep the bucketed one-exchange probe plan:\n$planC")
      val compacted = graft.ops.Dedup.incrementalVerdictsAgainstIndex(
        spark, delta2, bandsTbl, sigsTbl,
        bands = 16, rowsPerBand = 8, shingleN = 3, threshold = 0.7)
      assert(compacted.exceptAll(monolithic).isEmpty &&
             monolithic.exceptAll(compacted).isEmpty,
        "compaction must not change a single verdict")
    } finally {
      graft.io.Bucketing.dropTable(spark, bandsTbl)
      graft.io.Bucketing.dropTable(spark, sigsTbl)
    }
  }

  test("p57 probe: persisted vector index joins shuffle ONLY the delta") {
    import org.apache.spark.sql.functions.{col, posexplode}
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val bandsTbl = "graft_p57spec_vbands"
    val vecsTbl = "graft_p57spec_vecs"
    graft.io.Bucketing.dropTable(spark, bandsTbl)
    graft.io.Bucketing.dropTable(spark, vecsTbl)
    val bits = graft.ops.Similarity.buildVectorIndex(corpus, bandsTbl, vecsTbl,
      buckets = 4)
    try staticShufflePlan {
      val dPosed = delta.select(col("vec_id"),
        posexplode(graft.ops.Similarity.lshBucketsMulti(col("embedding"), 8, bits)))
        .toDF("new_id", "t", "bucket")
      val probe = dPosed.join(spark.table(bandsTbl), Seq("t", "bucket"))
        .select(col("new_id"), col("corpus_id"))
      val plan = planString(probe)
      // the corpus postings must arrive pre-partitioned (bucketed read) …
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"corpus band index must be read as a bucketed table:\n$plan")
      // … and the ONLY exchange in the probe is the delta side's
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"expected exactly one (delta-side) exchange:\n$plan")
      // end-to-end: the indexed path emits exactly the inline verdicts
      val indexed = graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(
        spark, delta, bandsTbl, vecsTbl, threshold = 0.45)
      val inline = graft.ops.Similarity.incrementalCosineVerdicts(corpus, delta,
        threshold = 0.45)
      assert(indexed.exceptAll(inline).isEmpty && inline.exceptAll(indexed).isEmpty,
        "persisted-index verdicts must equal the inline path")
    } finally {
      graft.io.Bucketing.dropTable(spark, bandsTbl)
      graft.io.Bucketing.dropTable(spark, vecsTbl)
    }
  }

  test("p64 bloom confirm join is shuffled, never broadcast — even at fixture scale") {
    // the row exists to exercise the regime where the eval-gram set fits
    // a bloom sketch but NOT a broadcast hash table; the shuffle_hash
    // hint pins that in the plan itself, so this must hold at default
    // conf where the planner would otherwise broadcast the tiny fixture
    val plan = planString(graft.ops.TextAnalysis.decontaminationBloom(
      Tables.documents(spark, sfDir)))
    assert(plan.contains("ShuffledHashJoin"),
      s"bloom-gated confirm must run as a shuffled hash join:\n$plan")
  }

  test("p44 RRF fusion: no cartesian product, windows partitioned by query") {
    val emb = Tables.embeddings(spark, sfDir)
    val plan = planString(graft.ops.Similarity.rrfFuseTopK(Seq(
      graft.ops.Similarity.lshTopK(emb).select("q_id", "c_id", "cos_sim"),
      graft.ops.Similarity.ivfTopK(emb).select("q_id", "c_id", "cos_sim"))))
    assert(!plan.contains("CartesianProduct"), s"fusion must stay keyed:\n$plan")
    assert(plan.contains("Window"), s"expected per-query rank windows:\n$plan")
  }

  test("p90 BM25: query set broadcast, top-k without any sort, no cartesian") {
    val plan = planString(
      graft.ops.TextAnalysis.bm25TopK(Tables.documents(spark, sfDir)))
    // the query-term gate and the df join both broadcast the small side;
    // the corpus term table must never sort-merge against them
    assert(plan.contains("BroadcastHashJoin"), s"query gate must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side must not sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // per-query top-5 rides the bounded aggregator: no SortExec anywhere
    // (a window row_number form would show Sort + Window)
    assert(!plan.contains("Sort "), s"top-k must not sort:\n$plan")
    assert(!plan.contains("Window"), s"top-k must not use a window:\n$plan")
  }

  test("p91 probe: BM25 df index gated by a broadcast query-term list") {
    import org.apache.spark.sql.functions.{col, explode, lit, pmod, slice}
    val docs = Tables.documents(spark, sfDir)
    val idx = "graft_p91spec_bm25df"
    graft.ops.TextAnalysis.buildBm25DfIndex(
      docs.filter(col("doc_id") % 5 =!= 0), idx, buckets = 4)
    try {
      val probe = graft.ops.TextAnalysis.bm25TopKIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0),
        graft.ops.TextAnalysis.bm25QuerySet(docs), idx)
      val plan = planString(probe)
      // the full-vocab index is scanned, but only through the broadcast
      // query-term gate: every join that touches a corpus-sized input is
      // broadcast (the later df full-outer merge is post-gate and
      // query-term-sized — the ONLY rows the index contributes to any
      // exchange). The delta side shuffles; the corpus text is not read.
      assert(plan.linesIterator.exists(_.contains(idx)),
        s"expected a scan of $idx in:\n$plan")
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
        s"query-term gates must broadcast on both the delta and index sides:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
    } finally {
      graft.io.Bucketing.dropTable(spark, idx)
    }
  }

  test("p98 sweep: no weight join; the threshold table is the only join") {
    val plan = planString(
      graft.ops.TextAnalysis.evalHashedLogRegThresholds(
        Tables.documents(spark, sfDir)))
    // the weights are an array literal folded over each doc's sparse
    // features: no weight join, no explode, and the 5-way threshold
    // expansion is a broadcast nested loop into one bounded aggregate
    for (op <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "Generate", "CartesianProduct"))
      assert(!plan.contains(op), s"no $op in the sweep:\n$plan")
    assert("Join".r.findAllIn(plan).size ===
      "BroadcastNestedLoopJoin".r.findAllIn(plan).size &&
      plan.contains("BroadcastNestedLoopJoin"),
      s"the threshold expansion must be the only join:\n$plan")
    assert("(?<!Broadcast)Exchange ".r.findAllIn(plan).size <= 1,
      s"at most one shuffle, the threshold aggregate's:\n$plan")
  }

  test("p88 training step: one narrow pass, no exchange") {
    val feat = graft.ops.TextAnalysis.logRegFeatures(
      Tables.documents(spark, sfDir), dims = 8, capCount = 1000,
      labelMinTokens = 55, biasX = 25)
    val plan = planString(graft.ops.TextAnalysis.logRegStep(feat, Array.fill(9)(1L)))
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Generate"), s"a step must not shuffle or join:\n$plan")
  }

  test("p99 coverage: vocab broadcasts back; top-V selection never sorts") {
    val plan = planString(
      graft.ops.TextAnalysis.vocabCoverage(Tables.documents(spark, sfDir),
        vocabSize = 16))
    // the V-entry vocab joins the token stream as a broadcast; the
    // top-V fold is the bounded aggregator, not a global sort/window
    assert(plan.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"token stream must not sort-merge:\n$plan")
    assert(!plan.contains("Window"), s"top-V must not use a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q76/q77 folds: streamed sketch layouts aggregate on the bucket key with no exchange") {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum}
    val docs = Tables.documents(spark, sfDir)
    val cm = "graft_q76spec_cm"; val hist = "graft_q77spec_hist"
    graft.io.Bucketing.dropTable(spark, cm)
    graft.io.Bucketing.dropTable(spark, hist)
    Seq(0, 1).foreach { i =>
      val b = docs.filter(pmod(col("doc_id"), lit(2)) === i)
      graft.ops.Sketches.appendCountMinPartial(spark, b, cm, i.toLong,
        depth = 2, width = 256, buckets = 4)
      graft.ops.Sketches.appendLog2HistogramPartial(spark, b, hist, i.toLong,
        buckets = 4)
    }
    try Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      // count-min fold: grouped on pos, the bucket key
      val cmPlan = planString(
        spark.table(cm).groupBy("pos").agg(sum(col("cnt")).as("cnt")))
      assert(!cmPlan.contains("Exchange"),
        s"count-min fold must ride the pos-bucketed layout:\n$cmPlan")
      // histogram fold: grouped on (lang, bin) — lang bucketing already
      // co-locates every (lang, bin) group, so no re-shuffle
      val hPlan = planString(
        spark.table(hist).groupBy("lang", "bin").agg(sum(col("cnt")).as("cnt")))
      assert(!hPlan.contains("Exchange"),
        s"histogram fold must ride the lang-bucketed layout:\n$hPlan")
    } finally {
      graft.io.Bucketing.dropTable(spark, cm)
      graft.io.Bucketing.dropTable(spark, hist)
    }
  }

  test("p86 video near-dups: banded self-join, never all pairs") {
    val docs = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 40)
    val fps = graft.ops.Multimodal.videoFingerprints(spark,
      graft.ops.Multimodal.syntheticVideoVariants(spark, docs)).toDF()
    val plan = planString(graft.ops.Multimodal.videoNearDupPairs(fps))
    assert(!plan.contains("CartesianProduct"),
      s"video near-dups must join on band values:\n$plan")
  }

  test("p104 semantic decontamination: benchmark side broadcasts, corpus never sort-merges") {
    val plan = planString(
      graft.queries.EvalQueries.semanticDecontamination(spark, sfDir))
    // the probe set rides a BroadcastNestedLoopJoin (deliberate small-side
    // cross product); the corpus side must stay a single narrow pass into
    // the per-vector max — no corpus-sized sort-merge, no shuffled cross
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark probes must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the cross product must be the broadcast form:\n$plan")
  }

  test("p105 calibrated gate: one-row cut table broadcasts; corpus application is join-free") {
    val plan = planString(
      graft.queries.EvalQueries.calibratedQualityGate(spark, sfDir))
    // the sample count and the 4-cut row both reach the corpus as
    // broadcasts; the only window sorts the calibration SAMPLE
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"cuts must broadcast to the corpus pass:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing corpus-sized may sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p108 syndication: the near-dup pair set broadcasts into the source lookups") {
    val plan = planString(
      graft.queries.EvalQueries.syndicationMatrix(spark, sfDir))
    // pairs are bounded by true near-dups, so THEY broadcast; the
    // (doc_id, source) corpus projection never shuffles for the lookup
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"both source lookups must broadcast the pair side:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-sized sort-merge:\n$plan")
  }

  test("p110 probe: shingle-df index read bucketed; delta-sized exchanges only") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_p110spec_shdf"
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.Dedup.buildShingleDfIndex(
      docs.filter(col("doc_id") % 5 =!= 0), tbl, buckets = 4)
    try staticShufflePlan {
      val out = graft.ops.Dedup.noveltyIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = planString(out)
      // corpus index arrives pre-partitioned on h — bucketed scan, no
      // corpus-side re-shuffle
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"shingle-df index must be read as a bucketed table:\n$plan")
      assert(plan.linesIterator.exists(_.contains(tbl)),
        s"expected a scan of $tbl in:\n$plan")
      // the two h exchanges are both DELTA-sized (df aggregate + join
      // back — the skew-safe form; see Dedup.noveltyIncremental scaladoc)
      val hashExchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning"))
        .filter(_.contains("h#")).size
      assert(hashExchanges <= 2,
        s"expected at most the two delta-side exchanges on h, got $hashExchanges:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("fold-purge preserves the probe's exchange contract and the one-file-per-bucket layout") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_foldspec_shdf"
    graft.io.Bucketing.dropTable(spark, tbl)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    (0 until 4).foreach { i =>
      graft.ops.Dedup.appendShingleDfPartial(spark,
        corpus.filter(pmod(col("doc_id"), lit(4)) === i), tbl, i.toLong,
        buckets = 4)
    }
    graft.ops.Dedup.retractShingleDfPartial(spark,
      corpus.filter(col("doc_id") % 7 === 1), tbl, 4L)
    // the fold's own write must land exactly one file per bucket — the
    // hash-aggregate on the bucketed scan IS the repartition, so a
    // misaligned write (scan demoted, repartition not elided) would
    // show up as more files here
    val files = graft.io.Bucketing.foldBucketed(spark, tbl)
    assert(files === 4,
      s"fold must produce one file per bucket (4), got $files")
    try staticShufflePlan {
      val out = graft.ops.Dedup.noveltyIncremental(spark,
        docs.filter(col("doc_id") % 5 === 0), tbl)
      val plan = planString(out)
      // the folded table must still read as a bucketed scan with only
      // the delta-sized exchanges — p110's contract, post-fold
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"the FOLDED index must still be read as a bucketed table:\n$plan")
      val hashExchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning"))
        .filter(_.contains("h#")).size
      assert(hashExchanges <= 2,
        s"expected at most the two delta-side exchanges on h post-fold, got $hashExchanges:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
    } finally {
      graft.io.Bucketing.dropTable(spark, tbl)
    }
  }

  test("p107 embedding drift: k-bounded centroid broadcast; one aggregate exchange") {
    val plan = planString(
      graft.queries.EvalQueries.embeddingDrift(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the k=8 centroid table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
