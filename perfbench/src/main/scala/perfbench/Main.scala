package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py, which supplies the
  * last four). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, cpus: Int, traces: Path, runId: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, get("cpus").toInt,
      Paths.get(get("traces")).toAbsolutePath, get("run-id"))
  }
}

/** What one workload does inside a run. `setup` generates the inputs from
  * the seed and warms up; `iterate` is one closed-loop unit of work (the
  * next starts when it returns); `finish` runs the end-of-run checks. The
  * metric functions read the samples and spans the iterations recorded. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def iterate(ctx: Ctx): Unit
  def finish(ctx: Ctx): Unit = ()
  /** Its share of [[Metrics.endToEnd]], from the untraced samples. */
  def endToEnd(ctx: Ctx): Map[String, Double]
  /** This workload's per-layer metrics, from the traced iterations. */
  def perLayer(ctx: Ctx, trace: Trace): Map[String, Double]
}

/** The state one run shares with its workload: session, tracer, the
  * operation ledger (attempted / failed), correctness checks, and the
  * samples of the current phase. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(spark.sparkContext, opts.runId)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val checkFailures = mutable.ArrayBuffer[String]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  /** Samples per phase: untraced iterations feed the end-to-end metrics,
    * traced ones the per-layer metrics; both feed the tracing overhead. */
  private val samples = mutable.Map[(String, String), mutable.ArrayBuffer[Double]]()
  private var dirs = 0

  def phase: String = if (tracer.enabled) "traced" else "untraced"

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate((phase, name), mutable.ArrayBuffer()) += v

  def samplesOf(name: String, ph: String = "untraced"): Seq[Double] =
    samples.get((ph, name)).map(_.toSeq).getOrElse(Nil)

  /** Run one operation: counted as attempted; an exception is recorded
    * with its message, counted as failed and never timed. Returns the
    * value and the wall seconds on success. */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val v = tracer.span(name)(body)
      Some((v, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        System.err.println(s"perfbench: operation $name failed")
        e.printStackTrace()
        None
    }
  }

  /** Count one operation that ran inside the program (a micro-batch). */
  def countOp(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += what.take(500) }
  }

  /** Time one step of set-up; its seconds are reported with the inputs
    * (summed over the steps of one key). */
  def setupStep[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally inputs(key) = inputs.get(key).fold(0.0)(_.asInstanceOf[Double]) +
      (System.nanoTime() - t0) / 1e9
  }

  /** Seconds spent in [[verifying]], reported after the loop. */
  var checkSeconds = 0.0

  /** Run correctness checks (never inside a timed operation). */
  def verifying(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally checkSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Warm the JVM up with uncounted work, so the timed loop starts on
    * compiled planning and execution code. */
  def warmUp(body: => Unit): Unit = setupStep("warmup_s") { body; isolate() }

  /** A correctness check, made outside the timed region. */
  def check(name: String)(cond: Boolean, detail: => String = ""): Unit =
    if (!cond) {
      checkFailures += s"$name ${detail.take(400)}".trim
      System.err.println(s"perfbench: CHECK FAILED $name ${detail.take(2000)}")
    }

  /** A fresh, empty scratch directory inside the run's work dir. */
  def freshDir(name: String): Path = {
    dirs += 1
    val d = opts.work.resolve(f"scratch/$dirs%04d-$name")
    Files.createDirectories(d)
    d
  }

  /** Isolate runs: release cached data and unload state stores. */
  def isolate(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    graft.io.StateStores.unloadAllQuietly()
  }

  def dropTables(names: String*): Unit = names.foreach(graft.io.Bucketing.dropTable(spark, _))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val workload: Workload = opts.workload match {
      case "batch_jobs" => new BatchJobs(new SalesEtl, new CurationBatch)
      case "index_lifecycle" => new IndexLifecycle
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = session(opts)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts)
    val exit =
      try run(ctx, workload)
      finally spark.stop()
    sys.exit(exit)
  }

  def session(opts: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
    // the SQL surface (CREATE / PROBE / RETRACT / PURGE / COMPACT) is only
    // on sessions built with the program's extensions
    if (opts.workload == "index_lifecycle") b.withExtensions(new graft.GraftExtensions)
    b.getOrCreate()
  }

  private def run(ctx: Ctx, w: Workload): Int = {
    val opts = ctx.opts
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.inputs += "session_ready_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0
    w.setup(ctx)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    println(Json.obj(Seq("inputs" -> ctx.inputs.toMap, "setup_s" -> setupS)))

    // closed loop, one client: the next iteration starts when the
    // previous one returns. A run makes at least two iterations, so every
    // median mixes the same warm-up positions (one only when the first
    // alone used the time); after that, another starts while its expected
    // end overruns the time by less than half an iteration. A traced run
    // alternates untraced and traced iterations, untraced first and last
    // (at least three), so the two medians straddle the same point of the
    // JIT warm-up.
    var iterations = 0
    val heap = new HeapPeak
    heap.start()
    val loopStart = System.nanoTime()
    def more: Boolean = {
      val elapsed = (System.nanoTime() - loopStart) / 1e9
      if (opts.trace && (iterations < 3 || iterations % 2 == 0)) true
      else if (iterations < 2) elapsed < opts.seconds
      else elapsed * (1 + 0.5 / iterations) < opts.seconds
    }
    do {
      if (opts.trace && iterations % 2 == 1) ctx.tracer.enable(ctx.spark)
      else ctx.tracer.disable(ctx.spark)
      w.iterate(ctx)
      iterations += 1
    } while (more)
    ctx.tracer.disable(ctx.spark)
    w.finish(ctx)
    heap.stop()
    println(Json.obj(Seq("iterations" -> iterations,
      "loop_s" -> (System.nanoTime() - loopStart) / 1e9, "checks_s" -> ctx.checkSeconds,
      "op_s" -> ctx.samplesOf("op"), "traced_op_s" -> ctx.samplesOf("op", "traced"))))

    val metrics: Seq[(String, Double, String)] =
      if (ctx.failed > 0) Nil
      else if (!opts.trace) {
        val values = w.endToEnd(ctx) ++
          Map("setup_s" -> setupS, "peak_heap_mb" -> heap.peakMb)
        Metrics.endToEnd.map { case (name, unit) => (name, values(name), unit) }
      } else {
        val trace = ctx.tracer.snapshot()
        ctx.tracer.write(opts.traces.resolve(opts.runId + ".jsonl"))
        val layers = w.perLayer(ctx, trace) ++ sparkPerOp(trace) +
          ("trace.overhead_pct" -> overheadPct(ctx))
        Metrics.perLayer.map { case (name, unit) =>
          (name, layers.getOrElse(name, 0.0), unit)
        }
      }
    val correct = ctx.checkFailures.isEmpty && ctx.failed == 0 && metrics.nonEmpty
    if (ctx.errors.nonEmpty) println(Json.obj(Seq("errors" -> ctx.errors.toSeq)))
    if (ctx.checkFailures.nonEmpty) println(Json.obj(Seq("check_failures" -> ctx.checkFailures.toSeq)))
    println(Json.obj(Seq("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    if (correct) 0 else 1
  }

  /** Spark work per top-level operation span of the traced phase. */
  private def sparkPerOp(t: Trace): Map[String, Double] = {
    val ops = t.spans.filter(_.parent == 0).filter(_.name.startsWith("op."))
    val totals = ops.map(s => t.total(s.id))
    Map("spark.tasks" -> Stats.mean(totals.map(_.tasks.toDouble)),
      "spark.gc_ms" -> Stats.mean(totals.map(_.gcMs.toDouble)),
      "spark.spill_bytes" -> Stats.mean(totals.map(_.spillBytes.toDouble)))
  }

  /** Traced minus untraced median operation time, in % of untraced. */
  private def overheadPct(ctx: Ctx): Double = {
    val u = ctx.samplesOf("op", "untraced")
    val t = ctx.samplesOf("op", "traced")
    if (u.isEmpty || t.isEmpty) 0.0
    else (Stats.median(t) - Stats.median(u)) / Stats.median(u) * 100
  }
}
