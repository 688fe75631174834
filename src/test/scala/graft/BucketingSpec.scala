package graft

import graft.io.Bucketing
import graft.ops.Salting
import org.apache.spark.sql.functions._

/** Co-located bucketed joins (no exchange) and skew salting equivalence. */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join with no shuffle exchange") {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"), col("l_extendedprice"))
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    Bucketing.writeBucketed(o, "orders_bkt", "o_orderkey", 8)
    Bucketing.writeBucketed(li, "lineitem_bkt", "o_orderkey", 8)
    // at fixture scale the planner would broadcast instead and skip the
    // bucket layout entirely; force the shuffle-join path the layout is
    // designed for (at 100 TB neither side broadcasts)
    Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // same key, same bucket count: the planner sees compatible output
      // partitioning and elides both exchanges
      val joined = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"), Seq("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free plan, got:\n$plan")
      // correctness: same count as the plain join
      val plain = o.join(li, Seq("o_orderkey")).count()
      assert(joined.count() === plain)
    }
  }

  test("salted join returns exactly the plain join result") {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val salted = Salting.saltedJoin(o, c, "o_custkey", "c_custkey",
      salts = 4, disambigCol = "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bloom semi-join equals exact semi-join (no false negatives)") {
    val li = Tables.lineitem(spark, sfDir)
    val highValue = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 150000)
    val bloomed = graft.ops.BloomJoin.bloomSemiJoin(
      li, highValue, "l_orderkey", "o_orderkey", expectedItems = 2000)
      .select("l_orderkey", "l_linenumber")
    val exact = li.join(highValue, li("l_orderkey") === highValue("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
    assert(bloomed.exceptAll(exact).isEmpty && exact.exceptAll(bloomed).isEmpty)
    // and the pre-filter actually discards most non-members
    val filter = graft.ops.BloomJoin.buildFilter(highValue, "o_orderkey", 2000)
    val kept = li.filter(graft.ops.BloomJoin.mightContain(filter, col("l_orderkey"))).count()
    val total = li.count()
    assert(kept < total, s"bloom filter kept all $total rows")
  }

  test("compactBucketed: one file per bucket, spec preserved, content identical") {
    import graft.io.Bucketing
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val tbl = "graft_compactspec_tbl"
    Bucketing.dropTable(spark, tbl)
    Bucketing.dropTable(spark, s"${tbl}_compacting")
    // one batch landed by three write tasks, each carrying every bucket
    // -> up to 3 files per bucket
    Bucketing.landPartial(spark, docs.repartition(3), tbl, "compact-spec",
      Seq("doc_id"), buckets = 4, batchId = 0L)
    val before = Bucketing.dataFileCount(spark, tbl)
    assert(before > 4, s"expected >4 files after a fragmented landing, got $before")
    val after = Bucketing.compactBucketed(spark, tbl)
    assert(after <= 4, s"expected <=1 file per bucket after compact, got $after")
    // spec survived the swap …
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
    assert(spec.exists(s => s.numBuckets == 4 &&
      s.bucketColumnNames == Seq("doc_id")), s"bucket spec lost: $spec")
    // … the planner still sees a bucketed scan …
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.table(tbl).groupBy(col("doc_id")).count()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on the bucket key must stay exchange-free after compact:\n$plan")
    }
    // … and not a row was lost or duplicated
    val got = spark.table(tbl).drop("batch_id")
    assert(got.count() === docs.count())
    assert(got.exceptAll(docs).isEmpty && docs.exceptAll(got).isEmpty)
    Bucketing.dropTable(spark, tbl)
  }

  test("salted two-phase sum equals direct groupBy sum") {
    val o = Tables.orders(spark, sfDir)
    val salted = Salting.saltedSum(o, "o_custkey", "o_totalprice",
      salts = 8, disambigCol = "o_orderkey")
    val direct = o.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("index-kind stamp: set, read, enforce; an unstamped table fails requireKind") {
    import spark.implicits._
    val tbl = graft.io.TempPaths.scratchTableName(spark, "graft_kind_spec", "t")
    val rows = Seq((1L, 2L)).toDF("h", "df_corpus")
    def rejected(expected: String): String =
      intercept[IllegalArgumentException] {
        Bucketing.requireKind(spark, tbl, expected)
      }.getMessage
    // unstamped, in the batch_id layout: no kind says which hash family
    // the rows belong to, so every family's probe refuses it
    Bucketing.dropTable(spark, tbl)
    rows.withColumn("batch_id", lit(0L)).write.partitionBy("batch_id")
      .saveAsTable(tbl)
    assert(Bucketing.tableKind(spark, tbl).isEmpty)
    Seq("window-df", "line-df").foreach { k =>
      assert(rejected(k).contains("no index-kind stamp"))
    }
    // unstamped and unpartitioned (a foreign table): refused too
    Bucketing.dropTable(spark, tbl)
    rows.write.saveAsTable(tbl)
    assert(rejected("window-df").contains("not batch_id-partitioned"))
    // stamped by landPartial's CREATE: matching kind passes, the other
    // family fails loudly
    Bucketing.dropTable(spark, tbl)
    Bucketing.landPartial(spark, rows, tbl, "window-df", Seq("h"), 2, 0L)
    assert(Bucketing.tableKind(spark, tbl) === Some("window-df"))
    Bucketing.requireKind(spark, tbl, "window-df")
    assert(rejected("line-df").contains("window-df"))
    Bucketing.dropTable(spark, tbl)
  }
}
