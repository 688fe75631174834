package graft

import graft.io.LandingZone
import java.nio.file.Files

/** SQL surface of the native expressions via SparkSessionExtensions,
  * plus landing-zone file orchestration. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions registers vec_dot and friends for SQL use") {
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()(0).getDouble(0)
    assert(dot === 11.0)
    val sh = spark.sql(
      "SELECT simhash64(array('a','b','a')) AS h").collect()(0).getLong(0)
    val sh2 = spark.sql(
      "SELECT simhash64(array('a','a','b')) AS h").collect()(0).getLong(0)
    assert(sh === sh2) // order-insensitive (bag semantics)
    val j = spark.sql(
      "SELECT array_jaccard(array('x','y'), array('y','z')) AS j").collect()(0).getDouble(0)
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
    val agree = spark.sql(
      "SELECT sig_agreement(array(1L,2L,3L,4L), array(1L,9L,3L,8L)) AS a")
      .collect()(0).getDouble(0)
    assert(agree === 0.5)
    assert(spark.sql("SELECT minhash_sig(array('a','b','c'), 2) AS s")
      .collect()(0).getSeq[Long](0).length === 64)
    assert(spark.sql("SELECT char_ngrams('abcd', 3) AS g")
      .collect()(0).getSeq[String](0) === Seq("abc", "bcd"))
    // 60-bit replayable simhash: top nibble clear, same bag semantics
    val m1 = spark.sql("SELECT simhash_md5(array('a','b','a')) AS h")
      .collect()(0).getLong(0)
    val m2 = spark.sql("SELECT simhash_md5(array('a','a','b')) AS h")
      .collect()(0).getLong(0)
    assert(m1 === m2 && (m1 >>> 60) === 0L)
    assert(spark.sql("SELECT vec_sum(array(1.0D, 2.5D, -0.5D)) AS s")
      .collect()(0).getDouble(0) === 3.0)
    assert(spark.sql("SELECT word_ngrams(array('a','b','a','b'), 2) AS g")
      .collect()(0).getSeq[String](0) === Seq("a b", "b a", "a b"))
    assert(spark.sql("SELECT subvectors(array(1.0D, 2.0D, 3.0D, 4.0D), 2) AS sv")
      .collect()(0).getSeq[Seq[Double]](0) === Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("RETRACT FROM / PURGE RETRACTIONS SQL surface: dispatch, guards, delegate passthrough") {
    import spark.implicits._
    Seq("ext_tok_ret", "ext_tok_reb")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
    // token-count family end-to-end: corpus + poison appended in
    // Scala, the retraction issued through SQL, probe must equal the
    // clean build — the negated-partial path behind the statement
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c"))
      .toDF("doc_id", "text")
    val poison = Seq((11L, "a b a")).toDF("doc_id", "text")
    graft.ops.TextAnalysis.appendTokenCountPartial(spark, docs, "ext_tok_ret", 0L)
    graft.ops.TextAnalysis.appendTokenCountPartial(spark, poison, "ext_tok_ret", 1L)
    poison.createOrReplaceTempView("ext_poison")
    val res = spark.sql("RETRACT FROM token_count INDEX ext_tok_ret " +
      "BATCH 2 AS SELECT * FROM ext_poison").collect()
    assert(res.length === 1 && res(0).getString(0) === "token_count" &&
      res(0).getLong(1) === 2L && res(0).getLong(2) === 1L)
    graft.ops.TextAnalysis.appendTokenCountPartial(spark, docs, "ext_tok_reb", 0L)
    val probe = Seq((21L, "a b c")).toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis
        .unigramLogProbIncremental(spark, probe, "ext_tok_ret")
        .collect().toSeq ===
      graft.ops.TextAnalysis
        .unigramLogProbIncremental(spark, probe, "ext_tok_reb")
        .collect().toSeq,
      "SQL-issued retraction must equal the clean-corpus build")
    // grammar / dispatch guards fire at parse time
    intercept[IllegalArgumentException] {
      spark.sql("RETRACT FROM nosuch INDEX t BATCH 0 AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // tombstone family needs TOMBSTONES
      spark.sql("RETRACT FROM minhash INDEX a, b BATCH 0 AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // additive family has no tombstones
      spark.sql("RETRACT FROM token_count INDEX t TOMBSTONES tt BATCH 0 AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // nothing to purge on additive
      spark.sql("PURGE RETRACTIONS FROM token_count INDEX t TOMBSTONES tt")
    }
    intercept[IllegalArgumentException] { // wrong INDEX arity
      spark.sql("RETRACT FROM minhash INDEX onlyone TOMBSTONES tt BATCH 0 AS SELECT 1")
    }
    // everything else still parses through the delegate
    assert(spark.sql("SELECT 1 AS x").collect()(0).getInt(0) === 1)
    Seq("ext_tok_ret", "ext_tok_reb")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("RETRACT into an unpartitioned TOMBSTONES table fails on the layout guard and leaves its rows unchanged") {
    import spark.implicits._
    val tbls = Seq("ext_lg_bands", "ext_lg_sigs", "ext_lg_tombs")
    tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "kappa lambda mu nu xi omicron")).toDF("doc_id", "text")
    graft.ops.Dedup.appendCorpusIndexPartial(spark, corpus, "ext_lg_bands",
      "ext_lg_sigs", 0L)
    // an existing, unstamped, UNPARTITIONED table with the tombstone
    // columns: its rows pass the orphan and double-retract guards
    Seq((99L, 0L)).toDF("doc_id", "batch_id").write.format("parquet")
      .saveAsTable("ext_lg_tombs")
    corpus.filter($"doc_id" === 1L).createOrReplaceTempView("ext_lg_retired")
    val e = intercept[IllegalArgumentException] {
      spark.sql("RETRACT FROM minhash INDEX ext_lg_bands, ext_lg_sigs " +
        "TOMBSTONES ext_lg_tombs BATCH 1 AS SELECT doc_id FROM ext_lg_retired")
        .collect()
    }
    assert(e.getMessage.contains("not batch_id-partitioned"), e.getMessage)
    assert(spark.table("ext_lg_tombs").collect().map(_.toString).toSeq ===
      Seq("[99,0]"), "the failed retraction must not overwrite the table")
    tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  /** A fresh SQL-built minhash index over the fixture corpus (every doc
    * with doc_id % 5 != 0) and its tombstone table name, dropped after
    * `body`. */
  private def withMinhashIndex(prefix: String)(
      body: (String, String, String) => Unit): Unit = {
    import org.apache.spark.sql.functions.col
    val tbls = Seq(s"${prefix}_bands", s"${prefix}_sigs", s"${prefix}_tombs")
    tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
    Tables.documents(spark, sfDir).filter(col("doc_id") % 5 =!= 0)
      .createOrReplaceTempView(s"${prefix}_docs")
    try {
      spark.sql(s"CREATE minhash INDEX ${tbls(0)}, ${tbls(1)} AS " +
        s"SELECT doc_id, text FROM ${prefix}_docs").collect()
      body(tbls(0), tbls(1), tbls(2))
    } finally tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  /** The ids the probe-side gate still lets through from `sigs`. */
  private def liveIds(sigs: String, tombs: String): Set[Long] =
    graft.io.Tombstones.filterRetracted(spark, spark.table(sigs), "doc_id",
      Some(tombs), "minhash-tombs").select("doc_id").collect()
      .map(_.getLong(0)).toSet

  private def corpusIds(prefix: String): Set[Long] =
    spark.table(s"${prefix}_docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("SQL RETRACT of an INT-cast id source passes the orphan guard and retires exactly those docs") {
    withMinhashIndex("ext_ci") { (bands, sigs, tombs) =>
      val res = spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs " +
        s"TOMBSTONES $tombs BATCH 0 AS SELECT CAST(doc_id AS INT) AS doc_id " +
        "FROM ext_ci_docs WHERE doc_id % 7 = 0").head
      val retired = corpusIds("ext_ci").filter(_ % 7 == 0)
      assert(retired.nonEmpty && res.getLong(2) === retired.size.toLong &&
        res.getBoolean(3))
      assert(liveIds(sigs, tombs) === corpusIds("ext_ci") -- retired,
        "the gate must retire exactly the INT-cast ids")
      // the same ids again under a new batch are a double retraction
      val e = intercept[Exception] {
        spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs " +
          s"TOMBSTONES $tombs BATCH 1 AS SELECT CAST(doc_id AS INT) AS doc_id " +
          "FROM ext_ci_docs WHERE doc_id % 7 = 0").collect()
      }
      assert(messages(e).exists(_.contains("already retracted")),
        messages(e).mkString(" | "))
    }
  }

  test("SQL RETRACT whose source holds a NULL id fails the orphan guard and lands nothing") {
    withMinhashIndex("ext_ni") { (bands, sigs, tombs) =>
      val e = intercept[Exception] {
        spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs " +
          s"TOMBSTONES $tombs BATCH 0 AS SELECT doc_id FROM ext_ni_docs " +
          "WHERE doc_id % 7 = 0 UNION ALL SELECT CAST(NULL AS BIGINT)")
          .collect()
      }
      assert(messages(e).exists(_.contains("absent")),
        messages(e).mkString(" | "))
      assert(!spark.catalog.tableExists(tombs),
        "a rejected first batch must not create the tombstone table")
      // with tombstones pending, the rejected batch lands no partition
      spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs TOMBSTONES " +
        s"$tombs BATCH 0 AS SELECT doc_id FROM ext_ni_docs WHERE doc_id % 7 = 0")
        .collect()
      intercept[Exception] {
        spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs " +
          s"TOMBSTONES $tombs BATCH 1 AS SELECT doc_id FROM ext_ni_docs " +
          "WHERE doc_id % 11 = 0 AND doc_id % 7 != 0 " +
          "UNION ALL SELECT CAST(NULL AS BIGINT)").collect()
      }
      assert(spark.table(tombs).select("batch_id").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(0L))
    }
  }

  test("SQL RETRACT lands duplicate source ids once; n_source_rows counts every source row") {
    withMinhashIndex("ext_di") { (bands, sigs, tombs) =>
      val res = spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs " +
        s"TOMBSTONES $tombs BATCH 0 AS SELECT doc_id FROM ext_di_docs " +
        "WHERE doc_id % 7 = 0 UNION ALL SELECT doc_id FROM ext_di_docs " +
        "WHERE doc_id % 14 = 0").head
      val retired = corpusIds("ext_di").filter(_ % 7 == 0)
      assert(res.getLong(2) ===
        (retired.size + retired.count(_ % 14 == 0)).toLong)
      assert(spark.table(tombs).count() === retired.size.toLong,
        "each retired id lands once")
      assert(liveIds(sigs, tombs) === corpusIds("ext_di") -- retired)
    }
  }

  test("RETRACT with tombstones pending and PURGE stay in their Spark job budgets; each tombstone batch is one file") {
    withMinhashIndex("ext_jb") { (bands, sigs, tombs) =>
      def retract(batch: Int): Unit =
        assert(spark.sql(s"RETRACT FROM minhash INDEX $bands, $sigs " +
          s"TOMBSTONES $tombs BATCH $batch AS SELECT doc_id FROM ext_jb_docs " +
          s"WHERE doc_id % 7 = ${batch + 1}").head.getBoolean(3))
      retract(0)
      val (_, retractJobs) = jobsDuring(retract(1))
      // 13 jobs before the guards read one collect of one scan
      assert(retractJobs === 4, s"RETRACT ran $retractJobs jobs")
      assert(graft.io.Bucketing.dataFileCount(spark, tombs) === 2,
        "each retraction batch must land as one file")
      val (purged, purgeJobs) = jobsDuring(spark.sql(
        s"PURGE RETRACTIONS FROM minhash INDEX $bands, $sigs TOMBSTONES $tombs")
        .head.getBoolean(1))
      assert(purged)
      // 7 jobs before the one collect of the pending (id, batch_id)
      assert(purgeJobs === 5, s"PURGE ran $purgeJobs jobs")
      assert(liveIds(sigs, tombs) === corpusIds("ext_jb")
        .filterNot(id => id % 7 == 1 || id % 7 == 2))
    }
  }

  test("CREATE/APPEND/COMPACT/PROBE SQL lifecycle: dispatch, landed flag, guards, near-miss diagnostics") {
    import spark.implicits._
    Seq("ext_lc_idx", "ext_lc_out", "ext_lc_reb")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "beta gamma delta eta theta iota"),
      (3L, "kappa lambda mu nu xi omicron")).toDF("doc_id", "text")
    val poison = Seq((11L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val probeDocs = Seq((21L, "alpha beta gamma something else here"))
      .toDF("doc_id", "text")
    corpus.createOrReplaceTempView("ext_lc_corpus")
    poison.createOrReplaceTempView("ext_lc_poison")
    probeDocs.createOrReplaceTempView("ext_lc_probe")
    // CREATE = batch 0 of a table that must not exist yet
    val created = spark.sql("CREATE shingle_df INDEX ext_lc_idx AS " +
      "SELECT * FROM ext_lc_corpus").collect()
    assert(created.length === 1 && created(0).getString(0) === "shingle_df"
      && created(0).getLong(1) === 0L && created(0).getLong(2) === 3L
      && created(0).getBoolean(3))
    intercept[IllegalArgumentException] { // never silently extend
      spark.sql("CREATE shingle_df INDEX ext_lc_idx AS SELECT * FROM ext_lc_corpus")
    }
    // APPEND poison, RETRACT it, FOLD it away
    assert(spark.sql("APPEND TO shingle_df INDEX ext_lc_idx BATCH 1 AS " +
      "SELECT * FROM ext_lc_poison").collect()(0).getBoolean(3))
    assert(spark.sql("RETRACT FROM shingle_df INDEX ext_lc_idx BATCH 2 AS " +
      "SELECT * FROM ext_lc_poison").collect()(0).getBoolean(3))
    val rowsBefore = spark.table("ext_lc_idx").count()
    val compacted = spark.sql("COMPACT INDEX ext_lc_idx").collect()
    assert(compacted(0).getBoolean(1),
      "an additive-df table must FOLD, not identity-compact")
    assert(spark.table("ext_lc_idx").count() < rowsBefore,
      "the fold must drop the poison's cancelled (+df, −df) pairs")
    // a replayed (folded) batch reports landed = false — the ADVICE
    // r18 visibility contract — and changes nothing
    val replay = spark.sql("APPEND TO shingle_df INDEX ext_lc_idx BATCH 1 " +
      "AS SELECT * FROM ext_lc_poison").collect()
    assert(!replay(0).getBoolean(3),
      "a post-fold replay must report landed = false")
    val replayRet = spark.sql("RETRACT FROM shingle_df INDEX ext_lc_idx " +
      "BATCH 2 AS SELECT * FROM ext_lc_poison").collect()
    assert(!replayRet(0).getBoolean(3))
    // PROBE INTO: distributed result table, count through the command
    val probed = spark.sql("PROBE shingle_df INDEX ext_lc_idx INTO " +
      "ext_lc_out AS SELECT * FROM ext_lc_probe").collect()
    assert(probed(0).getString(1) === "ext_lc_out" &&
      probed(0).getLong(2) === 1L)
    // ... and the SQL-routed lifecycle equals the Scala rebuild-without
    graft.ops.Dedup.appendShingleDfPartial(spark, corpus, "ext_lc_reb", 0L)
    assert(spark.table("ext_lc_out").collect().map(_.toString).toSet ===
      graft.ops.Dedup.noveltyIncremental(spark, probeDocs, "ext_lc_reb")
        .collect().map(_.toString).toSet,
      "SQL lifecycle probe must equal the Scala rebuild-without probe")
    // minhash: the tombstone family's WHOLE lifecycle through SQL,
    // probe included — build, poison, retract (gate up), PROBE
    // through the LIVE gate, purge, PROBE ungated; both probes must
    // equal the Scala probe of a clean build
    Seq("ext_mh_bands", "ext_mh_sigs", "ext_mh_tombs", "ext_mh_out",
      "ext_mh_bands_c", "ext_mh_sigs_c")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
    val mhCorpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "beta gamma delta eta theta iota kappa lambda"),
      (3L, "kappa lambda mu nu xi omicron pi rho")).toDF("doc_id", "text")
    val mhDelta = Seq(
      (21L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.functions.{col, lit}
    val mhPoison = mhDelta.withColumn("doc_id",
      col("doc_id") + lit(10000000L))
    mhCorpus.createOrReplaceTempView("ext_mh_corpus")
    mhPoison.createOrReplaceTempView("ext_mh_poison")
    mhDelta.createOrReplaceTempView("ext_mh_delta")
    spark.sql("CREATE minhash INDEX ext_mh_bands, ext_mh_sigs AS " +
      "SELECT * FROM ext_mh_corpus").collect()
    spark.sql("APPEND TO minhash INDEX ext_mh_bands, ext_mh_sigs BATCH 1 " +
      "AS SELECT * FROM ext_mh_poison").collect()
    spark.sql("RETRACT FROM minhash INDEX ext_mh_bands, ext_mh_sigs " +
      "TOMBSTONES ext_mh_tombs BATCH 0 AS " +
      "SELECT doc_id FROM ext_mh_poison").collect()
    graft.ops.Dedup.appendCorpusIndexPartial(spark, mhCorpus,
      "ext_mh_bands_c", "ext_mh_sigs_c", 0L)
    val mhWant = graft.ops.Dedup.incrementalVerdictsAgainstIndex(spark,
      mhDelta, "ext_mh_bands_c", "ext_mh_sigs_c")
      .collect().map(_.toString).toSet
    // through the LIVE gate: the poison twin must not match
    spark.sql("PROBE minhash INDEX ext_mh_bands, ext_mh_sigs " +
      "TOMBSTONES ext_mh_tombs INTO ext_mh_out AS " +
      "SELECT * FROM ext_mh_delta").collect()
    assert(spark.table("ext_mh_out").collect().map(_.toString).toSet ===
      mhWant, "SQL probe through the live gate must equal the clean build")
    // purge, then ungated: identical again
    spark.sql("PURGE RETRACTIONS FROM minhash INDEX ext_mh_bands, " +
      "ext_mh_sigs TOMBSTONES ext_mh_tombs").collect()
    spark.sql("PROBE minhash INDEX ext_mh_bands, ext_mh_sigs INTO " +
      "ext_mh_out AS SELECT * FROM ext_mh_delta").collect()
    assert(spark.table("ext_mh_out").collect().map(_.toString).toSet ===
      mhWant, "post-purge ungated SQL probe must equal the clean build")
    Seq("ext_mh_bands", "ext_mh_sigs", "ext_mh_tombs", "ext_mh_out",
      "ext_mh_bands_c", "ext_mh_sigs_c")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
    // bm25_df: the two-input probe rides a QUERIES clause — SQL
    // lifecycle (create + probe) must equal the Scala streamed probe
    Seq("ext_bm_idx", "ext_bm_out").foreach(graft.io.Bucketing.dropTable(spark, _))
    spark.sql("CREATE bm25_df INDEX ext_bm_idx AS SELECT * FROM ext_mh_corpus")
      .collect()
    // the (query_id, term) long form bm25QuerySet produces
    val bmQueries = Seq((0L, "beta"), (0L, "gamma"), (1L, "mu"),
      (1L, "nu")).toDF("query_id", "term")
    bmQueries.createOrReplaceTempView("ext_bm_q")
    spark.sql("PROBE bm25_df INDEX ext_bm_idx QUERIES ext_bm_q INTO " +
      "ext_bm_out AS SELECT * FROM ext_mh_delta").collect()
    assert(spark.table("ext_bm_out").collect().map(_.toString).toSet ===
      graft.ops.TextAnalysis.bm25TopKIncremental(spark, mhDelta,
          bmQueries, "ext_bm_idx")
        .collect().map(_.toString).toSet,
      "SQL bm25 probe must equal the Scala streamed probe")
    intercept[IllegalArgumentException] { // bm25 probe NEEDS its query set
      spark.sql("PROBE bm25_df INDEX ext_bm_idx INTO o AS SELECT 1")
    }
    Seq("ext_bm_idx", "ext_bm_out").foreach(graft.io.Bucketing.dropTable(spark, _))
    // guards: geometry clauses are REQUIRED at vector/ivf CREATE
    // (VERDICT r19 item 3: the provisioning decision must be stated,
    // then it rides table properties) and rejected for families that
    // have none
    val gv = intercept[IllegalArgumentException] {
      spark.sql("CREATE vector INDEX a, b AS SELECT 1")
    }
    assert(gv.getMessage.contains("TABLES"))
    val gi = intercept[IllegalArgumentException] {
      spark.sql("CREATE ivf INDEX a AS SELECT 1")
    }
    assert(gi.getMessage.contains("CENTROIDS"))
    intercept[IllegalArgumentException] { // clauses are vector/ivf-only
      spark.sql("CREATE shingle_df INDEX x TABLES 4 BITS 2 AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // CENTROIDS belongs to ivf
      spark.sql("CREATE vector INDEX a, b TABLES 4 BITS 2 CENTROIDS 3 AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // TABLES/BITS belong to vector
      spark.sql("CREATE ivf INDEX a TABLES 4 BITS 2 CENTROIDS 3 AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // gate on an additive probe
      spark.sql("PROBE shingle_df INDEX t TOMBSTONES tt INTO o AS SELECT 1")
    }
    intercept[IllegalArgumentException] { // QUERIES is bm25-only
      spark.sql("PROBE shingle_df INDEX t QUERIES q INTO o AS SELECT 1")
    }
    // near-miss diagnostics: unambiguously-graft statements with bad
    // grammar raise the graft grammar, not a Spark ParseException
    val miss1 = intercept[IllegalArgumentException] {
      spark.sql("APPEND TO shingle_df INDEX ext_lc_idx AS SELECT 1") // no BATCH
    }
    assert(miss1.getMessage.contains("malformed graft statement"))
    val miss2 = intercept[IllegalArgumentException] { // qualified name
      spark.sql("RETRACT FROM minhash INDEX db.t1, t2 TOMBSTONES tt BATCH 0 AS SELECT 1")
    }
    assert(miss2.getMessage.contains("unqualified"))
    val miss3 = intercept[IllegalArgumentException] { // known family, bad tail
      spark.sql("CREATE shingle_df INDEX ext_lc_x")
    }
    assert(miss3.getMessage.contains("malformed graft statement"))
    // non-graft statements pass through untouched — CREATE included
    spark.sql("CREATE TEMPORARY VIEW ext_lc_view AS SELECT 1 AS x")
    assert(spark.sql("SELECT x FROM ext_lc_view").collect()(0).getInt(0) === 1)
    spark.sql("DROP VIEW ext_lc_view")
    Seq("ext_lc_idx", "ext_lc_out", "ext_lc_reb")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("vector/ivf SQL lifecycle: CREATE pins geometry in metadata, APPEND/PROBE re-read it, retract+purge equals the clean Scala build") {
    import org.apache.spark.sql.functions.{col, lit}
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val poison = delta.withColumn("vec_id", col("vec_id") + lit(10000000L))
    emb.createOrReplaceTempView("ext_v_all")
    corpus.createOrReplaceTempView("ext_v_corpus")
    delta.createOrReplaceTempView("ext_v_delta")
    poison.createOrReplaceTempView("ext_v_poison")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet

    // ---- vector: CREATE(TABLES/BITS) -> APPEND -> RETRACT -> PURGE
    //      -> PROBE, vs the clean Scala batch build ----
    val vTbls = Seq("ext_v_bands", "ext_v_vecs", "ext_v_tombs",
      "ext_v_out", "ext_v_bands_c", "ext_v_vecs_c")
    vTbls.foreach(graft.io.Bucketing.dropTable(spark, _))
    val bits = graft.ops.Similarity.adaptiveBitsPerTable(emb.count())
    spark.sql(s"CREATE vector INDEX ext_v_bands, ext_v_vecs TABLES 8 " +
      s"BITS $bits AS SELECT vec_id, embedding FROM ext_v_corpus").collect()
    // geometry persisted at CREATE (the q71 pin, now metadata)
    assert(graft.io.Bucketing.tableProperty(spark, "ext_v_bands",
      graft.io.Bucketing.LshTablesProperty) === Some("8"))
    assert(graft.io.Bucketing.tableProperty(spark, "ext_v_bands",
      graft.io.Bucketing.LshBitsProperty) === Some(bits.toString))
    // a repeated clause that CONTRADICTS the provisioning fails loudly
    val mm = intercept[IllegalArgumentException] {
      spark.sql(s"APPEND TO vector INDEX ext_v_bands, ext_v_vecs BATCH 1 " +
        s"BITS ${bits + 1} AS SELECT vec_id, embedding FROM ext_v_poison")
    }
    assert(mm.getMessage.contains("provisioned"))
    // clause-free APPEND re-reads the pinned geometry
    spark.sql("APPEND TO vector INDEX ext_v_bands, ext_v_vecs BATCH 1 AS " +
      "SELECT vec_id, embedding FROM ext_v_poison").collect()
    spark.sql("RETRACT FROM vector INDEX ext_v_bands, ext_v_vecs " +
      "TOMBSTONES ext_v_tombs BATCH 0 AS " +
      "SELECT vec_id FROM ext_v_poison").collect()
    graft.ops.Similarity.buildVectorIndex(corpus, "ext_v_bands_c",
      "ext_v_vecs_c", bitsPerTable = bits)
    val vWant = rows(graft.ops.Similarity
      .incrementalCosineVerdictsAgainstIndex(spark, delta, "ext_v_bands_c",
        "ext_v_vecs_c", bitsPerTable = bits))
    // through the LIVE gate: the cosine-1.0 twins must not match
    spark.sql("PROBE vector INDEX ext_v_bands, ext_v_vecs " +
      "TOMBSTONES ext_v_tombs INTO ext_v_out AS " +
      "SELECT vec_id, embedding FROM ext_v_delta").collect()
    assert(rows(spark.table("ext_v_out")) === vWant,
      "gated SQL vector probe must equal the clean Scala build")
    // purge, then ungated — and the pinned bits survive the shrink
    spark.sql("PURGE RETRACTIONS FROM vector INDEX ext_v_bands, " +
      "ext_v_vecs TOMBSTONES ext_v_tombs").collect()
    spark.sql("PROBE vector INDEX ext_v_bands, ext_v_vecs INTO ext_v_out " +
      "AS SELECT vec_id, embedding FROM ext_v_delta").collect()
    assert(rows(spark.table("ext_v_out")) === vWant,
      "post-purge SQL vector probe must equal the clean Scala build")
    vTbls.foreach(graft.io.Bucketing.dropTable(spark, _))

    // ---- ivf: CREATE(CENTROIDS) trains the pinned artifact ->
    //      APPEND -> RETRACT -> gated PROBE (K = top-k), vs the
    //      clean Scala streamed build ----
    val iTbls = Seq("ext_i_idx", "ext_i_idx_centroids", "ext_i_tombs",
      "ext_i_out", "ext_i_cents_c", "ext_i_idx_c")
    iTbls.foreach(graft.io.Bucketing.dropTable(spark, _))
    spark.sql("CREATE ivf INDEX ext_i_idx CENTROIDS 16 AS " +
      "SELECT vec_id, embedding FROM ext_v_all").collect()
    assert(graft.io.Bucketing.tableProperty(spark, "ext_i_idx",
      graft.io.Bucketing.CentroidsProperty) === Some("16"))
    assert(graft.io.Bucketing.tableProperty(spark, "ext_i_idx",
      graft.io.Bucketing.CentroidsTableProperty)
      === Some("ext_i_idx_centroids"))
    val im = intercept[IllegalArgumentException] {
      spark.sql("APPEND TO ivf INDEX ext_i_idx BATCH 1 CENTROIDS 8 AS " +
        "SELECT vec_id, embedding FROM ext_v_poison")
    }
    assert(im.getMessage.contains("provisioned"))
    spark.sql("APPEND TO ivf INDEX ext_i_idx BATCH 1 AS " +
      "SELECT vec_id, embedding FROM ext_v_poison").collect()
    spark.sql("RETRACT FROM ivf INDEX ext_i_idx TOMBSTONES ext_i_tombs " +
      "BATCH 0 AS SELECT vec_id FROM ext_v_poison").collect()
    graft.ops.Similarity.buildIvfCentroids(emb, "ext_i_cents_c")
    graft.ops.Similarity.appendIvfAssignPartial(spark, emb, "ext_i_cents_c",
      "ext_i_idx_c", 0L)
    val iWant = rows(graft.ops.Similarity.ivfTopKAgainstIndex(spark, emb,
      "ext_i_idx_c", k = 5))
    spark.sql("PROBE ivf INDEX ext_i_idx K 5 TOMBSTONES ext_i_tombs " +
      "INTO ext_i_out AS SELECT vec_id, embedding FROM ext_v_all").collect()
    assert(rows(spark.table("ext_i_out")) === iWant,
      "gated SQL ivf probe must equal the clean Scala build")
    iTbls.foreach(graft.io.Bucketing.dropTable(spark, _))

    // a batch build is batch 0 of the streamed layout, so APPEND extends
    // it: the result equals the streamed landing of the same rows
    val docsSql = "parquet.`" + sfDir + "/documents.parquet`"
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 20L)
    val appendSrc = s"SELECT doc_id, text FROM $docsSql WHERE doc_id % 50 = 0"
    graft.ops.Dedup.buildShingleDfIndex(docs, "ext_v_batch")
    spark.sql(s"APPEND TO shingle_df INDEX ext_v_batch BATCH 1 AS $appendSrc")
      .collect()
    graft.io.Bucketing.dropTable(spark, "ext_v_streamed")
    graft.ops.Dedup.appendShingleDfPartial(spark, docs,
      "ext_v_streamed", 0L)
    graft.ops.Dedup.appendShingleDfPartial(spark, spark.sql(appendSrc),
      "ext_v_streamed", 1L)
    assert(rows(spark.table("ext_v_batch")) ===
      rows(spark.table("ext_v_streamed")),
      "APPEND onto a batch build must equal the streamed landing")
    Seq("ext_v_batch", "ext_v_streamed")
      .foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("PROBE n_rows is the written row count for minhash, vector and ivf; RETRACT still reports its source rows") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    corpus.createOrReplaceTempView("ext_n_docs")
    docs.filter(col("doc_id") % 5 === 0).createOrReplaceTempView("ext_n_ddelta")
    emb.filter(col("vec_id") % 5 =!= 0).createOrReplaceTempView("ext_n_emb")
    emb.filter(col("vec_id") % 5 === 0).createOrReplaceTempView("ext_n_edelta")
    val tbls = Seq("ext_n_bands", "ext_n_sigs", "ext_n_tombs", "ext_n_vb",
      "ext_n_vv", "ext_n_ivf", "ext_n_ivf_centroids", "ext_n_out")
    tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
    // n_rows comes from the write itself; it must equal a re-scan
    def probed(sql: String): Long = {
      val n = spark.sql(sql).head.getLong(2)
      assert(n > 0 && n === spark.table("ext_n_out").count(), sql)
      n
    }
    try {
      spark.sql("CREATE minhash INDEX ext_n_bands, ext_n_sigs AS " +
        "SELECT doc_id, text FROM ext_n_docs").collect()
      val retracted = spark.sql("RETRACT FROM minhash INDEX ext_n_bands, " +
        "ext_n_sigs TOMBSTONES ext_n_tombs BATCH 0 AS " +
        "SELECT doc_id FROM ext_n_docs WHERE doc_id % 7 = 0").head
      assert(retracted.getLong(2) === corpus.filter(col("doc_id") % 7 === 0).count())
      // one verdict per delta doc, through the live tombstone gate
      assert(probed("PROBE minhash INDEX ext_n_bands, ext_n_sigs TOMBSTONES " +
        "ext_n_tombs INTO ext_n_out AS SELECT doc_id, text FROM ext_n_ddelta") ===
        docs.filter(col("doc_id") % 5 === 0).count())
      val bits = graft.ops.Similarity.adaptiveBitsPerTable(emb.count())
      spark.sql(s"CREATE vector INDEX ext_n_vb, ext_n_vv TABLES 8 BITS $bits " +
        "AS SELECT vec_id, embedding FROM ext_n_emb").collect()
      probed("PROBE vector INDEX ext_n_vb, ext_n_vv INTO ext_n_out AS " +
        "SELECT vec_id, embedding FROM ext_n_edelta")
      spark.sql("CREATE ivf INDEX ext_n_ivf CENTROIDS 8 AS " +
        "SELECT vec_id, embedding FROM ext_n_emb").collect()
      probed("PROBE ivf INDEX ext_n_ivf K 5 INTO ext_n_out AS " +
        "SELECT vec_id, embedding FROM ext_n_edelta")
    } finally tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("a pre-batch-0 warehouse index (stamped, unpartitioned) fails APPEND, COMPACT and PROBE with a rebuild error and keeps its rows") {
    // the shape a warehouse written before every build landed as batch 0
    // holds: a plain bucketed table plus a separate kind ALTER
    val t = "ext_legacy_shdf"
    val docsSql = "parquet.`" + sfDir + "/documents.parquet`"
    Seq(t, "ext_legacy_out").foreach(graft.io.Bucketing.dropTable(spark, _))
    import spark.implicits._
    (1 to 40).map(i => (f"$i%032x", i.toLong)).toDF("h", "df_corpus")
      .write.bucketBy(8, "h").sortBy("h").format("parquet").saveAsTable(t)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      s"('${graft.io.Bucketing.KindProperty}' = 'shingle-df')")
    def rowsOf: Seq[String] =
      spark.table(t).collect().map(_.toString).sorted.toSeq
    val before = rowsOf
    assert(before.nonEmpty)
    val statements = Seq(
      s"APPEND TO shingle_df INDEX $t BATCH 1 AS " +
        s"SELECT doc_id, text FROM $docsSql WHERE doc_id % 50 = 0",
      s"COMPACT INDEX $t",
      s"PROBE shingle_df INDEX $t INTO ext_legacy_out AS " +
        s"SELECT doc_id, text FROM $docsSql WHERE doc_id % 5 = 0")
    for (sql <- statements) withClue(sql + ": ") {
      val e = intercept[IllegalArgumentException](spark.sql(sql).collect())
      assert(e.getMessage.toLowerCase.contains("rebuild"), e.getMessage)
      assert(e.getMessage.contains("not batch_id-partitioned"), e.getMessage)
      assert(rowsOf === before, "the refused statement must leave the rows")
    }
    Seq(t, "ext_legacy_out").foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("CREATE refuses a name whose dropped index left a rewrite backup, naming it and keeping its rows") {
    import spark.implicits._
    val t = "ext_left_idx"
    val backup = s"${t}_precompact"
    Seq(t, backup, s"${t}_compacting").foreach(graft.io.Bucketing.dropTable(spark, _))
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "kappa lambda mu nu xi omicron")).toDF("doc_id", "text")
      .createOrReplaceTempView("ext_left_old")
    Seq((3L, "one two three four five six")).toDF("doc_id", "text")
      .createOrReplaceTempView("ext_left_new")
    spark.sql(s"CREATE shingle_df INDEX $t AS SELECT * FROM ext_left_old").collect()
    def rowsOf(tbl: String): Seq[String] =
      spark.table(tbl).collect().map(_.toString).sorted.toSeq
    val old = rowsOf(t)
    // a compaction killed after its swap, before the backup drop; then
    // the index is dropped by name and the backup stays behind
    intercept[IllegalStateException] {
      graft.io.Bucketing.withFailpoint(t, "drop-leftover") {
        graft.io.Bucketing.compactBucketed(spark, t)
      }
    }
    graft.io.Bucketing.dropTable(spark, t)
    assert(old.nonEmpty && rowsOf(backup) === old)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE shingle_df INDEX $t AS SELECT * FROM ext_left_new").collect()
    }
    assert(e.getMessage.contains(backup), e.getMessage)
    assert(!spark.catalog.tableExists(t), "the refused CREATE must land nothing")
    assert(rowsOf(backup) === old, "the refused CREATE must leave the backup's rows")
    Seq(t, backup).foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("PROBE ivf scores a delta source against the pinned CREATE-time quantizer artifact, never a probe-source re-derivation (ADVICE r20)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    // the natural incremental usage: the probe source is a DELTA the
    // CREATE never saw — a quantizer re-derived from it is a
    // different centroid set, so its cells miss the index's
    val probeSrc = emb.filter(col("vec_id") % 5 === 0)
    corpus.createOrReplaceTempView("ivfp_corpus")
    probeSrc.createOrReplaceTempView("ivfp_delta")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val tbls = Seq("ivfp_idx", "ivfp_idx_centroids", "ivfp_out",
      "ivfp_batch")
    tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
    spark.sql("CREATE ivf INDEX ivfp_idx CENTROIDS 16 AS " +
      "SELECT vec_id, embedding FROM ivfp_corpus").collect()
    spark.sql("PROBE ivf INDEX ivfp_idx K 5 INTO ivfp_out AS " +
      "SELECT vec_id, embedding FROM ivfp_delta").collect()
    val want = rows(graft.ops.Similarity.ivfTopKAgainstIndexWithCentroids(
      spark, probeSrc, "ivfp_idx", "ivfp_idx_centroids", k = 5))
    assert(rows(spark.table("ivfp_out")) === want,
      "SQL delta probe must score against the pinned artifact")
    // the fixture must actually discriminate: the old re-derive-from-
    // the-AS-source behavior answers DIFFERENTLY here, so this test
    // fails on a regression to it
    assert(rows(graft.ops.Similarity.ivfTopKAgainstIndex(
        spark, probeSrc, "ivfp_idx", k = 5)) !== want,
      "fixture degenerate: delta-derived centroids equal the pinned set")
    // an unstamped table (batch-built outside CREATE/the streamed
    // builder) errors loudly instead of silently re-deriving
    graft.ops.Similarity.buildIvfIndex(corpus, "ivfp_batch")
    val e = intercept[IllegalArgumentException] {
      spark.sql("PROBE ivf INDEX ivfp_batch K 5 INTO ivfp_out AS " +
        "SELECT vec_id, embedding FROM ivfp_delta").collect()
    }
    assert(e.getMessage.contains("centroid-artifact"))
    tbls.foreach(graft.io.Bucketing.dropTable(spark, _))
  }

  test("landing zone: quarantine, archive, clean") {
    val dir = Files.createTempDirectory("lz")
    val landing = dir.resolve("landing").toString
    new java.io.File(landing).mkdirs()
    Files.write(java.nio.file.Paths.get(landing, "a.csv"), "x".getBytes)
    Files.write(java.nio.file.Paths.get(landing, "b.csv"), "y".getBytes)
    Files.write(java.nio.file.Paths.get(landing, "c.txt"), "z".getBytes)
    assert(LandingZone.listCsv(landing).map(new java.io.File(_).getName).toSet
      === Set("a.csv", "b.csv"))
    LandingZone.quarantine(Seq(s"$landing/a.csv"), dir.resolve("errors").toString)
    assert(new java.io.File(dir.resolve("errors").resolve("a.csv").toString).exists())
    LandingZone.archive(Seq(s"$landing/b.csv"), dir.resolve("archive").toString)
    assert(!new java.io.File(landing, "b.csv").exists())
    LandingZone.clean(landing)
    assert(new java.io.File(landing).list().isEmpty)
  }

  test("landing zone and triage accept scheme URIs (file://)") {
    val dir = Files.createTempDirectory("lzuri")
    val landing = dir.resolve("landing")
    new java.io.File(landing.toString).mkdirs()
    Files.write(landing.resolve("ok.csv"),
      ("customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost\n" +
        "7,5,widget,2024-01-01,6,4.0,3,12.0").getBytes)
    Files.write(landing.resolve("bad.csv"), "foo,bar\n1,2".getBytes)
    val landingUri = "file://" + landing
    val listed = LandingZone.listCsv(landingUri)
    assert(listed.size === 2 && listed.forall(_.startsWith("file:")))
    val (ok, bad) = graft.ingest.SalesIngest.triage(listed)
    assert(ok.map(new java.io.File(_).getName) === Seq("ok.csv"))
    assert(bad.keys.map(new java.io.File(_).getName).toSet === Set("bad.csv"))
    val archived = LandingZone.archive(ok, "file://" + dir.resolve("archive"))
    assert(archived.size === 1 &&
      new java.io.File(dir.resolve("archive").resolve("ok.csv").toString).exists())
  }

  test("SQL minhash_sig is bit-identical to Dedup.minhashSignature") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val lib = Seq("spark merges sorted partitions into wide batches",
        "a b c d e f g", "single",
        "the quick brown fox jumps over the lazy dog and the quick cat")
      .toDF("text")
      .select(col("text"), graft.ops.TextAnalysis.tokens(col("text")).as("tokens"),
        graft.ops.Dedup.minhashSignature(col("text")).as("sig"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[Long](2)))
    spark.createDataFrame(lib.toSeq.map { case (t, toks, _) => (t, toks) })
      .toDF("text", "tokens").createOrReplaceTempView("mh_sql_docs")
    val viaSql = spark.sql(
        "SELECT text, minhash_sig(tokens, 2) AS sig FROM mh_sql_docs")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    lib.foreach { case (t, _, sig) =>
      assert(viaSql(t) === sig, s"signatures differ for '$t'")
    }
  }
}
