package graft

import org.apache.spark.sql.functions._

/** End-to-end pipeline demo driver: the full reference-shaped flow on one
  * command — streaming ingest (AvailableNow + checkpoint), ledger audit,
  * mart build, partitioned sink. Usage:
  *
  *   runMain graft.Demo <sfDir> <workDir>
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir) = args
    val spark = Sessions.local(warehouse = s"$workDir/warehouse")

    // 1. streaming ingest of the events landing zone, exactly-once
    val landing = s"$workDir/landing"
    new java.io.File(landing).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$landing/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    io.Ledger.recordActive(spark, s"$workDir/ledger", Seq(s"$landing/events.parquet"))
    println("DEMO recovery_pending=" + io.Ledger.failedInFlight(
      spark, s"$workDir/ledger", Seq(s"$landing/events.parquet")).size)
    streaming.EventsStream.runAvailableNow(
      spark, landing, s"$workDir/ckpt", s"$workDir/events_hourly")
    println("DEMO stream_rows=" +
      spark.read.parquet(s"$workDir/events_hourly").count())
    io.Ledger.markDone(spark, s"$workDir/ledger", Seq(s"$landing/events.parquet"))
    println("DEMO recovery_after_done=" + io.Ledger.failedInFlight(
      spark, s"$workDir/ledger", Seq(s"$landing/events.parquet")).size)

    // 2. mart build + partitioned sink (reference K2 layout)
    val mart = queries.CoreQueries.q04SalesMart(spark, sfDir)
    io.Sinks.writePartitioned(mart, s"$workDir/sales_mart", Seq("sales_month", "store_id"))
    val parts = new java.io.File(s"$workDir/sales_mart").list()
      .count(_.startsWith("sales_month="))
    println("DEMO mart_partitions=" + parts)
    val pruned = spark.read.parquet(s"$workDir/sales_mart")
      .filter(col("sales_month") === "1995-01").count()
    println("DEMO pruned_rows=" + pruned)

    // 3. bucketed co-located join (pay the shuffle once at write time)
    spark.sql("DROP TABLE IF EXISTS demo_orders_bkt")
    spark.sql("DROP TABLE IF EXISTS demo_lineitem_bkt")
    io.Bucketing.writeBucketed(Tables.orders(spark, sfDir), "demo_orders_bkt", "o_orderkey", 8)
    io.Bucketing.writeBucketed(
      Tables.lineitem(spark, sfDir).withColumnRenamed("l_orderkey", "o_orderkey"),
      "demo_lineitem_bkt", "o_orderkey", 8)
    val exchangeFree = Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val cocolocated = spark.table("demo_orders_bkt")
        .join(spark.table("demo_lineitem_bkt"), Seq("o_orderkey"))
      cocolocated.collect()
      !cocolocated.queryExecution.executedPlan.toString.contains("Exchange")
    }
    println("DEMO bucketed_join_exchange_free=" + exchangeFree)

    // 4. salted join equals the plain join
    val salted = ops.Salting.saltedJoin(Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), "o_custkey", "c_custkey", 4, "o_orderkey").count()
    println("DEMO salted_join_rows=" + salted)

    // 5. the CSV intake path end-to-end: triage, quarantine, normalize
    val csvLanding = s"$workDir/csv_landing"
    new java.io.File(csvLanding).mkdirs()
    def writeCsv(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(csvLanding, name),
        lines.mkString("\n").getBytes)
    writeCsv("sales_good.csv", Seq(
      "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "1,121,quaker oats,2024-01-01,1,212.0,2,424.0"))
    writeCsv("sales_drift.csv", Seq(
      "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,payment_mode",
      "2,122,sugar,2024-01-02,4,50.0,1,50.0,UPI"))
    writeCsv("sales_bad.csv", Seq(
      "customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "3,tea,2024-01-03,2,10.0,1,10.0"))
    // 4b. bloom-filter pre-filtered semi-join: exact result, smaller shuffle
    val hot = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 150000)
    val bloomRows = ops.BloomJoin.bloomSemiJoin(
      Tables.lineitem(spark, sfDir), hot, "l_orderkey", "o_orderkey",
      expectedItems = 2000).count()
    println("DEMO bloom_semi_join_rows=" + bloomRows)

    val (accepted, rejected) = ingest.SalesIngest.triage(io.LandingZone.listCsv(csvLanding))
    io.LandingZone.quarantine(rejected.keys.toSeq, s"$workDir/csv_errors")
    val sales = ingest.SalesIngest.readSales(spark, accepted)
    println("DEMO csv_accepted=" + accepted.size + " csv_rejected=" + rejected.size +
      " csv_rows=" + sales.count())
    io.LandingZone.archive(accepted, s"$workDir/csv_archive")
    println("DEMO csv_landing_empty=" + io.LandingZone.listCsv(csvLanding).isEmpty)
    spark.stop()
  }
}
