package graft.queries

import graft.{Sessions, Tables}
import graft.io.Bucketing
import graft.ops.Salting
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exchange-optimized join family as driver-verified catalog entries.
  *
  * Each of these physical strategies (salting, bloom runtime filter,
  * bucketed co-location, two-phase salted aggregation) is semantically
  * invisible: the result equals the plain join / plain groupBy exactly,
  * so the DuckDB oracle is ordinary SQL with no knowledge of salt
  * columns, bloom sketches, or bucket layouts. What the strategies change
  * is the *shuffle* story at 100 TB — skew fan-out, probe-side volume,
  * exchange elision — which the plans assert in BucketingSpec/ExplainSpec.
  */
object ExchangeQueries {

  /** q32 — skew-salted inner join orders⋈customer. The hot-key fan-out
    * (salts=8) splits any pathological customer across 8 shuffle
    * partitions; output is the plain equi-join. */
  def q32SaltedJoin(spark: SparkSession, dir: String): DataFrame =
    Salting.saltedJoin(
        Tables.orders(spark, dir), Tables.customer(spark, dir),
        bigKey = "o_custkey", smallKey = "c_custkey",
        salts = 8, disambigCol = "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_mktsegment"))

  val q32Sql: String =
    """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** q33 — bloom-prefiltered semi-join: lineitem rows whose order is
    * high-value. The bloom filter drops non-members before the semi-join
    * shuffle; false positives are removed by the exact join, so the
    * result equals a plain IN-subquery. */
  def q33BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val highValue = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 150000)
    // size the sketch from the UNFILTERED orders count — a parquet
    // footer-only job, no data pages read. An upper bound only costs
    // bloom bits (~1.2 bytes/key at 1% fpp); a filtered count would be a
    // real scan, and the build side already scans once for the sketch
    // and once for the exact semi-join
    val expected = math.max(1000L, Tables.orders(spark, dir).count())
    graft.ops.BloomJoin
      .bloomSemiJoin(li, highValue, "l_orderkey", "o_orderkey", expected)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
  }

  val q33Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)""".stripMargin

  /** q34 — co-located bucketed join + aggregation: both sides written
    * bucketed on the join key, so the join and the per-order aggregate
    * run with no exchange (the pay-shuffle-once pattern; exchange-free
    * plan asserted in BucketingSpec). Broadcast is disabled inside the
    * query because at fixture scale the planner would broadcast and skip
    * the bucket layout this entry exists to exercise.
    *
    * The bucket tables are CACHED per (application, input dir, scratch
    * epoch): built on first use, reused by later calls at the same
    * epoch — the pay-shuffle-once economics (asserted exchange-free in
    * BucketingSpec). The TempPaths epoch is in the name so benchmark
    * reps, which bump it, rebuild the tables and time the FULL operator
    * (layout write + exchange-free join) instead of a warm cache hit.
    * Names carry the appId so concurrent drivers sharing
    * ./spark-warehouse never clobber each other, and the dir hash so two
    * scale factors in one session get separate layouts; the physical
    * dirs are removed by the TempPaths shutdown hook. */
  def q34BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val app = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    // collision-safe dir tag: SHA-256 prefix, not 32-bit hashCode — two
    // input dirs colliding would silently reuse the wrong bucket layout
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val epoch = graft.io.TempPaths.epochTag
    val oTbl = s"graft_q34_orders_bkt_${app}_$tag$epoch"
    val liTbl = s"graft_q34_lineitem_bkt_${app}_$tag$epoch"
    if (!spark.catalog.tableExists(oTbl)) {
      Bucketing.dropTable(spark, oTbl) // clear any stale warehouse dir
      Bucketing.writeBucketed(
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
        oTbl, "o_orderkey", 8)
    }
    if (!spark.catalog.tableExists(liTbl)) {
      Bucketing.dropTable(spark, liTbl)
      Bucketing.writeBucketed(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        liTbl, "o_orderkey", 8)
    }
    Sessions.withoutBroadcast(spark) {
      spark.table(oTbl).join(spark.table(liTbl), Seq("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_totalprice"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }
  }

  val q34Sql: String =
    """SELECT o_orderkey, o_totalprice, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey, o_totalprice""".stripMargin

  /** q35 — two-phase salted aggregation: partial sum per (key, salt),
    * final per key. Exact-decimal money arithmetic keeps the two-phase
    * result bit-identical to the direct groupBy. */
  def q35SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Salting.saltedSum(Tables.orders(spark, dir), "o_custkey", "o_totalprice",
        salts = 8, disambigCol = "o_orderkey")
      .select(col("o_custkey"), col("total"))

  val q35Sql: String =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** q36 — partitioned mart round trip with partition pruning: the
    * customer mart is written Hive-partitioned by sales_month, read back,
    * and filtered to the earliest month — the read plan touches ONE
    * partition directory (pruning asserted in ExplainSpec/Demo), and the
    * values must survive the write/read cycle exactly. The oracle is the
    * mart SQL with the same scalar-subquery month filter; it knows
    * nothing about the physical layout, which is the point. */
  def q36PartitionPrunedMart(spark: SparkSession, dir: String): DataFrame = {
    val mart = CoreQueries.q03CustomerMart(spark, dir)
    val out = graft.io.TempPaths.scratchDir(spark, "graft_q36", dir)
    // repartition on the partition column (Sinks.writePartitioned): one
    // task owns each month, so the layout is one file per partition dir
    // instead of (tasks x months) small files
    graft.io.Sinks.writePartitioned(mart, out, Seq("sales_month"))
    // min month from the written layout: sales_month is a partition
    // column, so this plan reads directory names, not data files — the
    // mart is NOT recomputed a second time for the filter value
    val minMonth = spark.read.parquet(out)
      .agg(min(col("sales_month"))).collect()(0).getString(0)
    spark.read.parquet(out)
      .filter(col("sales_month") === minMonth)
      .select(col("customer_id"), col("full_name"), col("sales_month"),
        col("total_sales"))
  }

  val q36Sql: String =
    """WITH mart AS (
      |  SELECT o_custkey AS customer_id, c_name AS full_name,
      |    substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS sales_month,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT customer_id, full_name, sales_month, total_sales FROM mart
      |WHERE sales_month = (SELECT min(sales_month) FROM mart)""".stripMargin

  /** q37 — exact distributed percentiles of order value per priority
    * class (25/50/75/90). Spark's `percentile` and DuckDB's quantile_cont
    * interpolate within 1 ulp of each other; results are rounded to cents
    * which absorbs that (verified boundary-free on the fixed verification
    * corpus — deterministic data, so green once is green always).
    * One scalar column per quantile level: the driver's oracle compare
    * sorts rows by every output column and cannot sort array columns. */
  def q37Quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.9))").as("q"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"),
        round(element_at(col("q"), 1), 2).as("price_p25"),
        round(element_at(col("q"), 2), 2).as("price_p50"),
        round(element_at(col("q"), 3), 2).as("price_p75"),
        round(element_at(col("q"), 4), 2).as("price_p90"),
        col("n_orders"))

  val q37Sql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.25), 2) AS price_p25,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS price_p50,
      |  round(quantile_cont(o_totalprice, 0.75), 2) AS price_p75,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS price_p90,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_partition_pruned_mart" -> (q36PartitionPrunedMart _),
    "q37_quantiles" -> (q37Quantiles _),
    "q32_salted_join" -> (q32SaltedJoin _),
    "q33_bloom_semi_join" -> (q33BloomSemiJoin _),
    "q34_bucketed_join" -> (q34BucketedJoin _),
    "q35_salted_agg" -> (q35SaltedAgg _))

  val oracles: Map[String, String] = Map(
    "q36_partition_pruned_mart" -> q36Sql,
    "q37_quantiles" -> q37Sql,
    "q32_salted_join" -> q32Sql,
    "q33_bloom_semi_join" -> q33Sql,
    "q34_bucketed_join" -> q34Sql,
    "q35_salted_agg" -> q35Sql)
}
