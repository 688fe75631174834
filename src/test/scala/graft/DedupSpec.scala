package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Dedup operator invariants on planted fixtures. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "spark merges sorted partitions into wide batches of columnar row groups " * 3
  private val nearDup = base.replace("columnar", "vectorized")
  private val unrelated = "completely different words about cooking pasta with tomato sauce and basil leaves herbs"

  private def docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, unrelated))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts under the min doc_id") {
    val got = Dedup.exact(docs).collect()
      .map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).toSet
    assert(got === Set((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"))).toSet
    assert(pairs.contains((0L, 1L)))   // identical
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated excluded
  }

  test("minhash signature estimate tracks exact jaccard for identical docs") {
    val est = Dedup.minhashLsh(docs, threshold = 0.5)
      .filter(col("left_id") === 0 && col("right_id") === 1)
      .select("est_jaccard").as[Double].head()
    assert(est === 1.0)
  }

  test("simhash of identical texts is identical; near-dups within small hamming") {
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(0L) === sigs(1L))
    val hammingNear = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    val hammingFar = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(hammingNear < hammingFar)
  }

  test("simhash pairs: identical docs at hamming 0 via chunk banding") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => ((r.getAs[Long]("left_id"), r.getAs[Long]("right_id")),
        r.getAs[Int]("hamming"))).toMap
    assert(pairs((0L, 1L)) === 0)
  }

  test("replayable md5 simhash: 60-bit, same dedup structure as default") {
    val sigs = Dedup.simhashSignatures(docs, replayable = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    // signatures fit the 60 bits the SQL replay (15 md5 hex chars) covers
    assert(sigs.values.forall(s => (s >>> 60) === 0L))
    assert(sigs(0L) === sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) <
      java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3, replayable = true)
      .collect()
      .map(r => ((r.getAs[Long]("left_id"), r.getAs[Long]("right_id")),
        r.getAs[Int]("hamming"))).toMap
    assert(pairs((0L, 1L)) === 0)
  }

  test("ngram jaccard: identical consecutive docs score 1.0") {
    val j = Dedup.ngramJaccardConsecutive(docs).filter(col("left_id") === 0)
      .select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("dedupGroups collapses transitive chains to one keeper") {
    import org.apache.spark.sql.functions.col
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    // chain 0-1, 1-2 (no 0-2 edge) plus isolated pair 3-4... and 3 alone
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("left_id", "right_id")
    val groups = Dedup.dedupGroups(nodes, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("group_id"), r.getAs[Boolean]("is_keeper"))).toMap
    assert(groups(0L) === ((0L, true)))
    assert(groups(1L) === ((0L, false)))
    assert(groups(2L) === ((0L, false))) // transitive: reached via 1
    assert(groups(3L) === ((3L, true)))
    assert(groups(4L) === ((4L, true)))
  }

  test("dedupGroups distributed path agrees with driver union-find") {
    import org.apache.spark.sql.functions.col
    val nodes = (0L to 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (6L, 8L))
      .toDF("left_id", "right_id")
    val viaDriver = Dedup.dedupGroups(nodes, pairs)
    val viaCluster = Dedup.dedupGroups(nodes, pairs, maxDriverEdges = 0)
    assert(viaDriver.exceptAll(viaCluster).isEmpty &&
      viaCluster.exceptAll(viaDriver).isEmpty)
    val g = viaCluster.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(g(_) == 0L)) // 4-chain
    assert(Seq(5L, 6L, 8L, 9L).forall(g(_) == 5L)) // merged via 6-8
    assert(g(4L) === 4L && g(7L) === 7L)
  }

  test("groupRepresentatives keeps the highest-quality member, id-desc ties") {
    val groups = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L), (30L, 3L))
      .toDF("doc_id", "group_id")
    val scores = Seq((10L, 0.5), (11L, 0.9), (12L, 0.7),
      (20L, 0.4), (21L, 0.4), (30L, 0.6)).toDF("doc_id", "quality_score")
    val got = Dedup.groupRepresentatives(groups, scores).collect()
      .map(r => r.getAs[Long]("group_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Double]("rep_score"),
          r.getAs[Long]("n_members")))).toMap
    assert(got(1L) === ((11L, 0.9, 3L)))  // best quality wins
    assert(got(2L) === ((21L, 0.4, 2L)))  // tie -> higher doc_id
    assert(got(3L) === ((30L, 0.6, 1L)))  // singleton keeps itself
  }

  test("shingles produces distinct word n-grams") {
    val s = docs.filter(col("doc_id") === 3)
      .select(Dedup.shingles(col("text"), 2).as("s"))
      .as[Seq[String]].head()
    assert(s.contains("cooking pasta") && s.distinct.size === s.size)
  }

  test("sorted_long_jaccard equals string-set jaccard on hashed grams") {
    val df = Seq(
      (Seq(1L, 3L, 5L), Seq(3L, 5L, 9L)),   // inter 2, union 4
      (Seq(1L, 2L), Seq(3L, 4L)),           // disjoint
      (Seq(7L), Seq(7L)),                   // identical
      (Seq.empty[Long], Seq.empty[Long]))   // empty -> 0.0
      .toDF("a", "b")
    val got = df.select(
      graft.functions.TextFunctions.sorted_long_jaccard(col("a"), col("b")).as("j"))
      .as[Double].collect().toSeq
    assert(got === Seq(0.5, 0.0, 1.0, 0.0))
  }

  test("substringRemove: keep-first passage removal, cross-doc and self-repeat") {
    val d = Seq(
      (1L, "a b c d e f g h x"),                     // canonical holder
      (2L, "z a b c d e f g h y"),                   // loses the shared span
      (3L, "p q r"),                                 // shorter than k: untouched
      (4L, "m n o p q r s t m n o p q r s t")        // self-repeat at pos 8
    ).toDF("doc_id", "text")
    val got = Dedup.substringRemove(d, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 holds the global-first occurrence of "a b c d e f g h": kept whole
    assert(got(1L) === ((9L, 0L, "a b c d e f g h x")))
    // doc 2's copy at pos 1 is non-canonical: tokens 1-8 cut
    assert(got(2L) === ((10L, 8L, "z y")))
    // doc 3 has no 8-token window
    assert(got(3L) === ((3L, 0L, "p q r")))
    // doc 4 repeats its own first 8 tokens at pos 8: second copy cut
    assert(got(4L) === ((16L, 8L, "m n o p q r s t")))
  }

  test("substringRemove: removing nothing reproduces the token-joined text") {
    val d = Seq((7L, "all tokens here are unique so nothing repeats anywhere at all today"))
      .toDF("doc_id", "text")
    val r = Dedup.substringRemove(d, k = 8).collect().head
    assert(r.getLong(2) === 0L)
    assert(r.getString(3) === "all tokens here are unique so nothing repeats anywhere at all today")
  }

  test("substringRemoveIncremental: corpus-priority + within-delta keep-first") {
    val corpus = Seq((1L, "a b c d e f g h x")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "z a b c d e f g h y"),          // span exists in corpus: cut
      (11L, "q w e r t y u i o p"),          // all windows novel: untouched
      (12L, "k l m n o p q r s"),            // delta-first holder: kept whole
      (13L, "j k l m n o p q r s")           // repeats doc 12's windows: cut
    ).toDF("doc_id", "text")
    val tbl = graft.io.TempPaths.scratchTableName(spark, "graft_windf_spec", "t1")
    graft.io.Bucketing.dropTable(spark, tbl)
    Dedup.buildWindowDfIndex(corpus, tbl, k = 8, buckets = 4)
    val got = Dedup.substringRemoveIncremental(spark, delta, tbl, k = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(10L) === ((10L, 8L, "z y")))
    assert(got(11L) === ((10L, 0L, "q w e r t y u i o p")))
    assert(got(12L) === ((9L, 0L, "k l m n o p q r s")))
    assert(got(13L) === ((10L, 9L, "j")))
    graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("substringRemoveIncremental refuses a wrong-layout table") {
    val tbl = graft.io.TempPaths.scratchTableName(spark, "graft_windf_bad", "t1")
    val delta = Seq((1L, "a b c")).toDF("doc_id", "text")
    def refusal: String = intercept[IllegalArgumentException] {
      Dedup.substringRemoveIncremental(spark, delta, tbl)
    }.getMessage
    // stamped and batch_id-partitioned, but the wrong columns: the
    // column guard refuses it
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.io.Bucketing.landPartial(spark, Seq((1L, 2L)).toDF("a", "b"), tbl,
      "window-df", Seq("a"), 2, 0L)
    assert(refusal.contains("not a window-df index"))
    // a foreign table (no stamp, no batch_id partitions) fails the layout
    // check before any column is read
    graft.io.Bucketing.dropTable(spark, tbl)
    Seq((1L, 2L)).toDF("a", "b").write.saveAsTable(tbl)
    assert(refusal.contains("not batch_id-partitioned"))
    graft.io.Bucketing.dropTable(spark, tbl)
  }

  test("substringRemoveIncremental refuses the SAME-LAYOUT line-df index") {
    // the most plausible wrong table: buildLineDfIndex emits exactly
    // (h, df_corpus) too, so the column guard alone cannot catch it —
    // the graft.index.kind table property must
    val tbl = graft.io.TempPaths.scratchTableName(spark, "graft_linedf_x", "t1")
    graft.io.Bucketing.dropTable(spark, tbl)
    graft.ops.TextAnalysis.buildLineDfIndex(
      Seq((1L, "some corpus line here")).toDF("doc_id", "text"), tbl)
    val delta = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.substringRemoveIncremental(spark, delta, tbl)
    }
    assert(e.getMessage.contains("line-df"))
    // and the stamp survives a compaction rewrite of the table
    val tbl2 = graft.io.TempPaths.scratchTableName(spark, "graft_windf_c", "t1")
    graft.io.Bucketing.dropTable(spark, tbl2)
    Dedup.buildWindowDfIndex(
      Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text"), tbl2, k = 8)
    graft.io.Bucketing.compactBucketed(spark, tbl2)
    assert(graft.io.Bucketing.tableKind(spark, tbl2) === Some("window-df"))
    Seq(tbl, tbl2).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("appendWindowDfPartial: disjoint batches fold to the monolithic index; probe agrees") {
    val corpus = Seq(
      (1L, "a b c d e f g h x"),
      (2L, "z a b c d e f g h y"),
      (3L, "m n o p q r s t u v")).toDF("doc_id", "text")
    val streamed = "windf_stream_spec"
    val mono = "windf_mono_spec"
    Seq(streamed, mono).foreach(graft.io.Bucketing.dropTable(spark, _))
    // three disjoint single-doc batches, out of order
    Dedup.appendWindowDfPartial(spark, corpus.filter(col("doc_id") === 2L), streamed, 0L, k = 8)
    Dedup.appendWindowDfPartial(spark, corpus.filter(col("doc_id") === 1L), streamed, 1L, k = 8)
    Dedup.appendWindowDfPartial(spark, corpus.filter(col("doc_id") === 3L), streamed, 2L, k = 8)
    Dedup.buildWindowDfIndex(corpus, mono, k = 8)
    val folded = spark.table(streamed).groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val want = spark.table(mono).drop("batch_id")
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "streamed partials must fold to the batch-built window dfs")
    // the probe accepts both layouts and rewrites identically
    val delta = Seq((10L, "q a b c d e f g h w")).toDF("doc_id", "text")
    val viaStream = Dedup.substringRemoveIncremental(spark, delta, streamed, k = 8).collect().toSet
    val viaMono = Dedup.substringRemoveIncremental(spark, delta, mono, k = 8).collect().toSet
    assert(viaStream === viaMono)
    assert(viaStream.head.getString(3) === "q w")
    Seq(streamed, mono).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("planted heavy hitter: skew-safe aggregate form ≡ window form") {
    // one 9-token boilerplate span planted in HALF the corpus — the
    // key distribution a license-header-laden crawl produces, and the
    // one regime where Window.partitionBy(h) concentrates O(corpus)
    // occurrence rows in a single un-splittable task
    val hot = "copyright two thousand all rights reserved by example corp"
    val docs = (0L until 40L).map { i =>
      val tail = s"doc$i ua$i ub$i uc$i ud$i ue$i uf$i ug$i uh$i"
      (i, if (i % 2 == 0) s"$hot $tail" else tail)
    }.toDF("doc_id", "text")

    // removal: identical rewrite either way (keep-first at doc 0)
    val remW = Dedup.substringRemove(docs, k = 8).collect().toSet
    val remA = Dedup.substringRemove(docs, k = 8, skewSafe = true)
      .collect().toSet
    assert(remA === remW)
    assert(remA.count(_.getLong(2) > 0) === 19,
      "every hot doc except the canonical holder must be cut")

    // overlap pairs: same 20-choose-2 hot pairs either way
    val prW = Dedup.substringOverlapPairs(docs, k = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prA = Dedup.substringOverlapPairs(docs, k = 30, skewSafe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(prA === prW)
    assert(prA.size === 190)

    // incremental: hot window already in the corpus index, delta holds
    // the other half — every delta copy is cut under both forms
    val tbl = graft.io.TempPaths.scratchTableName(spark, "graft_windf_hot", "t")
    graft.io.Bucketing.dropTable(spark, tbl)
    Dedup.buildWindowDfIndex(docs.filter(col("doc_id") % 2 === 0), tbl, k = 8)
    val delta = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("text", concat(lit(hot), lit(" "), col("text")))
    val incW = Dedup.substringRemoveIncremental(spark, delta, tbl, k = 8)
      .collect().toSet
    val incA = Dedup.substringRemoveIncremental(spark, delta, tbl, k = 8,
      skewSafe = true).collect().toSet
    assert(incA === incW)
    assert(incA.forall(_.getLong(2) >= 9),
      "every delta doc repeats the corpus-held hot span and must be cut")
    graft.io.Bucketing.dropTable(spark, tbl)

    // the structural guarantee: the skew-safe plan has NO Window node
    // (df and argmin run as partial-aggregating HashAggregates + an
    // AQE-splittable join), the default form has one
    val planA = Dedup.substringRemove(docs, k = 8, skewSafe = true)
      .queryExecution.executedPlan.toString
    val planW = Dedup.substringRemove(docs, k = 8)
      .queryExecution.executedPlan.toString
    assert(!planA.contains("Window"), "skew-safe form must not window")
    assert(planW.contains("Window"))
  }

  test("window-df index: a TORN batch commit is healed by replay, not trusted") {
    val doc = Seq((4L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val tbl = "windf_torn_spec"
    graft.io.Bucketing.dropTable(spark, tbl)
    // torn attempt: only the doc's first 8 tokens reach batch 0
    Dedup.appendWindowDfPartial(spark,
      Seq((4L, "a b c d e f g h")).toDF("doc_id", "text"), tbl, 0L, k = 8)
    // replay lands the FULL batch under the same id: overwrite must heal
    Dedup.appendWindowDfPartial(spark, doc, tbl, 0L, k = 8)
    val mono = "windf_torn_mono"
    graft.io.Bucketing.dropTable(spark, mono)
    Dedup.buildWindowDfIndex(doc, mono, k = 8)
    val folded = spark.table(tbl).groupBy("h")
      .agg(sum(col("df_corpus")).cast("long").as("df_corpus"))
    val want = spark.table(mono).drop("batch_id")
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "healed streamed window index must equal the batch-built one")
    Seq(tbl, mono).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("minhash coefficients: seed-42 draws are unchanged, and the draw stays in range at Long.MinValue") {
    val (a, b) = Dedup.minhashCoeffs(64)
    val p = Dedup.MinhashP
    // the plain `%` form — identical on every draw except Long.MinValue
    val rnd = new java.util.Random(42L)
    val plain = Array.fill(128)(math.abs(rnd.nextLong()) % (p - 1))
    assert(a.toSeq === plain.take(64).map(_ + 1).toSeq)
    assert(b.toSeq === plain.drop(64).toSeq)
    assert(math.abs(Long.MinValue) % (p - 1) < 0L,
      "the plain form goes negative at Long.MinValue")
    val edge = Dedup.coeffDraw(Long.MinValue)
    assert(edge >= 0L && edge < p - 1, s"draw out of range: $edge")
  }

  test("minhash signature agreement tracks exact shingle Jaccard within a binomial band") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(400)(i => s"w$i")
    def word() = vocab(rnd.nextInt(vocab.size))
    // pinned pair: dropping the last of ten words drops exactly one of
    // nine bigrams, Jaccard 8/9
    val ten = Vector.tabulate(10)(i => s"pin$i")
    val pairs = (ten, ten.init) +: Vector.fill(30) {
      val a = Vector.fill(40)(word())
      val b = (0 to rnd.nextInt(8)).foldLeft(a)((d, _) =>
        d.updated(rnd.nextInt(d.size), word()))
      (a, b)
    }
    val docs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i, 0, a.mkString(" ")), (i, 1, b.mkString(" ")))
    }.toDF("pair", "side", "text")
    val got = docs.select(col("pair"), col("side"),
        Dedup.shingles(col("text"), 2).as("sh"),
        Dedup.minhashSignature(col("text")).as("sig"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getSeq[String](2).toSet, r.getSeq[Long](3))).toMap
    val k = 64
    val stats = pairs.indices.map { i =>
      val (sa, ga) = got((i, 0)); val (sb, gb) = got((i, 1))
      val jaccard = (sa & sb).size.toDouble / (sa | sb).size
      val agree = ga.zip(gb).count { case (x, y) => x == y }.toDouble / k
      (jaccard, agree)
    }
    assert(math.abs(stats.head._1 - 8.0 / 9) < 1e-12,
      "fixture: the pinned pair is Jaccard 8/9")
    stats.zipWithIndex.foreach { case ((j, agree), i) =>
      // agreement ~ Binomial(k, J) / k: 4.5 sigma plus one step
      val band = 4.5 * math.sqrt(j * (1 - j) / k) + 1.0 / k
      assert(math.abs(agree - j) <= band,
        f"pair $i: agreement $agree%.3f vs exact Jaccard $j%.3f (band $band%.3f)")
    }
    val bias = stats.map { case (j, agree) => agree - j }.sum / stats.size
    assert(math.abs(bias) < 0.05, f"mean agreement is biased by $bias%.3f")
  }

  test("probe prefilter: on sf0.01 no band candidate at Jaccard >= 0.7 falls below the 0.6 agreement slack; one verdict per delta doc") {
    val all = Tables.documents(spark,
      new java.io.File(sfDir).getParentFile.toPath.resolve("sf0.01").toString)
    // every band-candidate pair of the probe's geometry (16 x 8, 3-shingles)
    val sig = Dedup.sigFrame(all, 128, 3)
    val bands = Dedup.bandFrame(sig, 16, 8)
    val pairs = bands.as("l").join(bands.as("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("left_id"), col("r.doc_id").as("right_id"))
      .distinct()
    val scored = pairs
      .join(sig.select(col("doc_id").as("left_id"), col("sig").as("lsig"),
        col("text").as("ltext")), "left_id")
      .join(sig.select(col("doc_id").as("right_id"), col("sig").as("rsig"),
        col("text").as("rtext")), "right_id")
      .select(col("left_id"), col("right_id"),
        graft.functions.TextFunctions.sig_agreement(col("lsig"), col("rsig")).as("est"),
        graft.functions.TextFunctions.array_jaccard(Dedup.shingles(col("ltext"), 3),
          Dedup.shingles(col("rtext"), 3)).as("jaccard"))
      .filter(col("jaccard") >= 0.7)
      .collect()
    assert(scored.nonEmpty, "fixture: some band candidates reach Jaccard 0.7")
    val dropped = scored.filter(_.getDouble(2) < 0.6)
    assert(dropped.isEmpty, "true matches the 0.1 slack drops: " +
      dropped.map(r => s"(${r.get(0)}, ${r.get(1)}, est ${r.get(2)}, J ${r.get(3)})")
        .mkString(", "))
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val delta = all.filter(col("doc_id") % 5 === 0)
    val (bandsTbl, sigsTbl) = ("graft_est_bands", "graft_est_sigs")
    Seq(bandsTbl, sigsTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
    try {
      Dedup.buildCorpusIndex(corpus, bandsTbl, sigsTbl, buckets = 4)
      val verdicts = Dedup.incrementalVerdictsAgainstIndex(spark, delta,
        bandsTbl, sigsTbl).collect()
      assert(verdicts.map(_.getLong(0)).sorted.toSeq ===
        delta.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
        "exactly one verdict row per delta doc")
      assert(verdicts.exists(_.getBoolean(1)), "fixture: some delta doc is a near-dup")
    } finally Seq(bandsTbl, sigsTbl).foreach(graft.io.Bucketing.dropTable(spark, _))
  }
}
