package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, concat_ws}

import graft.enrich.StarJoin
import graft.ingest.SalesIngest
import graft.io.{LandingZone, Ledger, Sinks}
import graft.marts.Marts

/** The sales ETL part of `batch_jobs`: the reference pipeline. Seeded CSV
  * day-files in the FIXTURES §1 shape land in a landing zone (one drifts
  * with an extra `payment_mode` column, one lacks `store_id` and must be
  * rejected); each iteration runs list → triage → ledger → quarantine →
  * read → three broadcast star joins → customer and sales marts → parquet
  * sinks (sales mart by sales_month/store_id, enriched fact by
  * sales_month) → archive → ledger done, on a fresh scratch directory. */
final class SalesEtl extends Workload {
  private val DayFiles = 8
  private val Rows = 120000
  private val DriftFile = 2
  private val RejectedFile = 6

  // product -> price in cents (the reference generator's fixed prices)
  private val products = Vector("quaker oats" -> 21200L, "sugar" -> 5000L,
    "maida" -> 2000L, "besan" -> 5200L, "refined oil" -> 11000L,
    "clinic plus" -> 150L, "dantkanti" -> 10000L, "nutrella" -> 4000L)
  private val storePersons = Map(121 -> Seq(1, 2, 3), 122 -> Seq(4, 5, 6), 123 -> Seq(7, 8, 9))

  private var pristine: Path = _
  private var dims: Path = _
  private var landedBytes = 0L
  private var rejectedName = ""
  private var acceptedRows = 0L
  private val expCustomer = mutable.Map[(Int, String), Long]()
  private val expSales = mutable.Map[(Int, Int, String), Long]()
  private val personName = mutable.Map[Int, String]()
  private val customerName = mutable.Map[Int, String]()

  private def cents(c: Long): String = f"${c / 100}.${c % 100}%02d"

  def setup(ctx: Ctx): Unit = {
    val g = new Gen(ctx.opts.seed)
    val rnd = g.rnd
    pristine = ctx.opts.work.resolve("inputs/sales")
    Files.createDirectories(pristine)
    val start = java.time.LocalDate.of(2024, 1, 1)
    val days = rnd.shuffle((0 until 182).toVector).take(DayFiles).sorted.map(start.plusDays(_))
    val mandatory = SalesIngest.mandatoryColumns
    for (f <- 0 until DayFiles) {
      val date = days(f).toString
      val header =
        if (f == DriftFile) mandatory :+ "payment_mode"
        else if (f == RejectedFile) mandatory.filterNot(_ == "store_id")
        else mandatory
      val path = pristine.resolve(s"sales_data_$date.csv")
      val w = new BufferedWriter(new FileWriter(path.toFile))
      try {
        w.write(header.mkString(",")); w.newLine()
        for (_ <- 0 until Rows / DayFiles) {
          val customer = 1 + rnd.nextInt(20)
          val store = 121 + rnd.nextInt(3)
          val person = storePersons(store)(rnd.nextInt(3))
          val (product, price) = products(rnd.nextInt(products.size))
          val qty = 1 + rnd.nextInt(10)
          val total = price * qty
          val fields =
            if (f == RejectedFile)
              Seq(customer, product, date, "\"[" + person + ", " + (person + 1) + "]\"",
                cents(price), qty, cents(total))
            else {
              val base = Seq(customer, store, product, date, person, cents(price), qty, cents(total))
              if (f == DriftFile) base :+ (if (rnd.nextBoolean()) "cash" else "UPI") else base
            }
          w.write(fields.mkString(",")); w.newLine()
          if (f != RejectedFile) {
            val month = date.take(7)
            expCustomer((customer, month)) = expCustomer.getOrElse((customer, month), 0L) + total
            expSales((store, person, month)) = expSales.getOrElse((store, person, month), 0L) + total
            acceptedRows += 1
          }
        }
      } finally w.close()
      if (f != RejectedFile) landedBytes += Files.size(path)
      else rejectedName = path.getFileName.toString
    }
    writeDims(ctx, g)
    ctx.inputs ++= Seq("rows" -> (Rows / DayFiles * DayFiles), "files" -> DayFiles,
      "accepted_rows" -> acceptedRows, "bytes_landed" -> Gen.treeBytes(pristine),
      "drift_files" -> 1, "rejected_files" -> 1)
    ctx.warmUp(pipeline(ctx, warm = true))
  }

  /** Dimension tables (FIXTURES §4) as parquet, columns prefixed per
    * dimension so the star-joined fact has one column per name. */
  private def writeDims(ctx: Ctx, g: Gen): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    dims = ctx.opts.work.resolve("inputs/dims")
    val first = Vector("Aarav", "Diya", "Kabir", "Meera", "Rohan", "Sana", "Vivaan", "Ira")
    val last = Vector("Sharma", "Iyer", "Khan", "Das", "Patel", "Rao", "Gill", "Nair")
    def name() = (first(g.rnd.nextInt(first.size)), last(g.rnd.nextInt(last.size)))
    val customers = (1 to 25).map { id =>
      val (f, l) = name()
      customerName(id) = s"$f $l"
      (id, f, l, s"street $id", 560000 + id, s"98000$id", s"2023-0${1 + id % 9}-01")
    }
    customers.toDF("c_customer_id", "c_first_name", "c_last_name", "c_address",
      "c_pincode", "c_phone_number", "c_customer_joining_date")
      .write.parquet(dims.resolve("customer").toString)
    (121 to 124).map(id => (id, s"store road $id", 110000 + id, s"manager $id", "2022-01-01", "ok"))
      .toDF("s_id", "s_address", "s_store_pincode", "s_store_manager_name",
        "s_store_opening_date", "s_reviews")
      .write.parquet(dims.resolve("store").toString)
    (1 to 10).map { id =>
      val (f, l) = name()
      personName(id) = s"$f $l"
      (id, f, l, if (id == 10) 0 else 10, if (id == 10) "Y" else "N", s"lane $id", 400000 + id,
        "2021-06-01")
    }.toDF("st_id", "st_first_name", "st_last_name", "st_manager_id", "st_is_manager",
      "st_address", "st_pincode", "st_joining_date")
      .write.parquet(dims.resolve("sales_team").toString)
  }

  def iterate(ctx: Ctx): Unit = { pipeline(ctx, warm = false); ctx.isolate() }

  /** One ETL run on fresh directories, then its checks. */
  private def pipeline(ctx: Ctx, warm: Boolean): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = ctx.freshDir("etl")
    val landing = dir.resolve("landing")
    Gen.copyFiles(pristine, landing)
    val (ledger, errorDir, archiveDir, out) = (dir.resolve("ledger").toString,
      dir.resolve("error").toString, dir.resolve("archive").toString, dir.resolve("out"))
    def body(): Unit = {
      val files = t.span("io.landing_zone.list")(LandingZone.listCsv(landing.toString))
      val (accepted, rejected) = t.span("ingest.triage")(SalesIngest.triage(files))
      t.span("io.ledger.record_active")(Ledger.recordActive(spark, ledger, accepted))
      t.span("io.landing_zone.quarantine")(LandingZone.quarantine(rejected.keys.toSeq, errorDir))
      val sales = t.span("ingest.read_sales")(SalesIngest.readSales(spark, accepted))
      val enriched = t.span("enrich.join_dims") {
        val c = StarJoin.joinDim(sales, spark.read.parquet(dims.resolve("customer").toString),
          "customer_id", "c_customer_id")
        val s = StarJoin.joinDim(c, spark.read.parquet(dims.resolve("store").toString),
          "store_id", "s_id")
        StarJoin.joinDim(s, spark.read.parquet(dims.resolve("sales_team").toString),
          "sales_person_id", "st_id")
      }
      val customerMart = t.span("marts.customer")(Marts.customerMartGrouped(enriched,
        col("customer_id"), concat_ws(" ", col("c_first_name"), col("c_last_name")),
        col("sales_date"), col("total_cost")))
      val salesMart = t.span("marts.sales")(Marts.salesMart(enriched, col("store_id"),
        col("sales_person_id"), concat_ws(" ", col("st_first_name"), col("st_last_name")),
        col("sales_date"), col("total_cost")))
      t.span("io.sinks.write_customer_mart")(
        Sinks.writeParquet(customerMart, out.resolve("customer_mart").toString))
      t.span("io.sinks.write_sales_mart")(Sinks.writePartitioned(salesMart,
        out.resolve("sales_mart").toString, Seq("sales_month", "store_id")))
      t.span("io.sinks.write_fact")(Sinks.writePartitioned(
        enriched.withColumn("sales_month", Marts.monthKey(col("sales_date"))),
        out.resolve("fact").toString, Seq("sales_month")))
      t.span("io.landing_zone.archive")(LandingZone.archive(accepted, archiveDir))
      t.span("io.ledger.mark_done")(Ledger.markDone(spark, ledger, accepted))
    }
    val res =
      if (warm) { body(); None }
      else ctx.op("op.etl_run")(body())
    res.foreach { case (_, secs) =>
      ctx.sample("op", secs)
      ctx.sample("stored_bytes", Gen.treeBytes(out).toDouble)
    }
    if (!warm && res.isDefined) verify(ctx, dir)
    ctx.deleteTree(dir)
  }

  /** Marts equal the generator's exact cent sums, the rank-1 incentive
    * rule holds, the rejected file is quarantined, the landing zone is
    * empty, and every ledger row is done. */
  private def verify(ctx: Ctx, dir: Path): Unit = ctx.verifying {
    val spark = ctx.spark
    val out = dir.resolve("out")
    val cm = spark.read.parquet(out.resolve("customer_mart").toString).collect()
      .map(r => (r.getAs[Int]("customer_id"), r.getAs[String]("sales_month")) ->
        (r.getAs[String]("full_name"), math.round(r.getAs[Double]("total_sales") * 100)))
      .toMap
    ctx.check("customer mart keys")(cm.keySet == expCustomer.keySet,
      s"${cm.size} vs ${expCustomer.size}")
    ctx.check("customer mart totals")(expCustomer.forall { case (k, c) =>
      cm.get(k).exists(v => v._2 == c && v._1 == customerName(k._1)) })

    val sm = spark.read.parquet(out.resolve("sales_mart").toString)
      .selectExpr("cast(store_id as int) store_id", "sales_person_id",
        "substring(cast(sales_month as string), 1, 7) sales_month", "full_name",
        "total_sales", "incentive").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) ->
        (r.getString(3), math.round(r.getDouble(4) * 100), math.round(r.getDouble(5) * 100)))
      .toMap
    ctx.check("sales mart keys")(sm.keySet == expSales.keySet, s"${sm.size} vs ${expSales.size}")
    ctx.check("sales mart totals")(expSales.forall { case (k, c) =>
      sm.get(k).exists(v => v._2 == c && v._1 == personName(k._2)) })
    val incentiveOk = expSales.groupBy { case ((s, _, m), _) => (s, m) }.forall { case (_, grp) =>
      val top = grp.values.max
      grp.forall { case (k, c) =>
        val want =
          if (c == top) BigDecimal(c, 2).*(BigDecimal("0.01"))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).*(100).toLongExact
          else 0L
        sm.get(k).exists(_._3 == want)
      }
    }
    ctx.check("rank-1 incentive")(incentiveOk)

    val factRows = spark.read.parquet(out.resolve("fact").toString).count()
    ctx.check("fact rows")(factRows == acceptedRows, s"$factRows vs $acceptedRows")
    ctx.check("landing zone empty")(LandingZone.listCsv(dir.resolve("landing").toString).isEmpty)
    val quarantined = LandingZone.listCsv(dir.resolve("error").toString)
    ctx.check("rejected file quarantined")(
      quarantined.map(new org.apache.hadoop.fs.Path(_).getName) == Seq(rejectedName),
      quarantined.mkString(","))
    ctx.check("accepted files archived")(
      LandingZone.listCsv(dir.resolve("archive").toString).size == DayFiles - 1)
    val ledger = Ledger.read(spark, dir.resolve("ledger").toString).collect()
    ctx.check("ledger all done")(ledger.length == DayFiles - 1 &&
      ledger.forall(_.status == Ledger.Done), ledger.map(_.status).mkString(","))
  }

  def endToEnd(ctx: Ctx): Map[String, Double] = {
    val op = Stats.median(ctx.samplesOf("op"))
    Map("op_p50_s" -> op, "items_per_s" -> acceptedRows / op,
      "stored_bytes_per_item" -> Stats.median(ctx.samplesOf("stored_bytes")) / acceptedRows)
  }

  def perLayer(ctx: Ctx, t: Trace): Map[String, Double] = {
    val runs = t.named("op.etl_run")
    def med(f: Span => Double) = Stats.median(runs.map(f))
    def secs(prefix: String) = med(r => t.secondsUnder(r.id, prefix))
    Map(
      "etl_run_s" -> med(_.seconds),
      "ingest.triage_s" -> secs("ingest.triage"),
      "io.landing_zone_s" -> secs("io.landing_zone."),
      "io.ledger_s" -> secs("io.ledger."),
      "io.sinks.write_s" -> secs("io.sinks.write_"),
      "io.sinks.write_customer_mart_s" -> secs("io.sinks.write_customer_mart"),
      "io.sinks.write_sales_mart_s" -> secs("io.sinks.write_sales_mart"),
      "io.sinks.write_fact_s" -> secs("io.sinks.write_fact"),
      "etl.csv_bytes_read_per_landed" -> med(r => t.total(r.id).inputBytes.toDouble / landedBytes),
      "etl.shuffle_bytes" -> med(r => t.total(r.id).shuffleWriteBytes.toDouble),
      "etl.jobs" -> med(r => t.total(r.id).jobs.toDouble))
  }
}
