package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark-side counts of one span (its own jobs, not its children's). */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; gcMs += o.gcMs; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
  }
}

/** One timed call into a layer. `parent` is 0 for a top-level span;
  * `metastoreCalls` is the change of the program's public
  * `Bucketing.metastoreCalls` counter across the span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, runId: String, metastoreCalls: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer, and the
  * Spark job/task counts and streaming progress of the work they caused.
  *
  * While disabled, `span` only runs its body: no clock reads, no listener.
  * Once enabled, every span sets the SparkContext local property
  * [[Tracer.SpanProperty]] for the jobs submitted inside it, and a
  * benchmark-registered SparkListener files each job's tasks under that
  * span. Spans stay in memory; [[write]] stores them once, at the end. */
final class Tracer(sc: SparkContext, runId: String) {
  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def countsOf(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(stageSpan.put(_, span))
      val c = countsOf(span)
      c.synchronized { c.jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.gcMs += m.jvmGCTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def enabled: Boolean = on

  def enable(spark: org.apache.spark.sql.SparkSession): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as span `name`, child of the innermost open span on this
    * thread (or of `parent` when given: work on another thread). */
  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parentId = if (parent >= 0) parent else outer.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val calls0 = graft.io.Bucketing.metastoreCalls.get()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parentId, name, t0, t1, runId,
          graft.io.Bucketing.metastoreCalls.get() - calls0))
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        stack.set(outer)
      }
    }

  /** The innermost open span on this thread, 0 when none. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** All spans so far, after every listener event posted so far arrived. */
  def snapshot(): Trace = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    new Trace(spans.asScala.toVector.sortBy(_.id),
      counts.asScala.map { case (k, v) => k -> v }.toMap, progress.asScala.toVector)
  }

  /** Write every span, with its own Spark counts, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val t = snapshot()
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try t.spans.foreach { s =>
      val c = t.own(s.id)
      w.write(Json.obj(Seq("run_id" -> s.runId, "span" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "metastore_calls" -> s.metastoreCalls, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "gc_ms" -> c.gcMs, "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** A read-only view of the recorded spans. */
final class Trace(val spans: Vector[Span], ownCounts: Map[Long, Counts],
                  val progress: Vector[StreamingQueryProgress]) {
  private val children: Map[Long, Vector[Span]] = spans.groupBy(_.parent)

  def own(id: Long): Counts = ownCounts.getOrElse(id, new Counts)

  /** Counts of a span and everything under it. */
  def total(id: Long): Counts = {
    val c = new Counts
    c += own(id)
    children.getOrElse(id, Vector.empty).foreach(s => c += total(s.id))
    c
  }

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  /** Summed seconds of the spans under `root` (at any depth) named with
    * `prefix`. */
  def secondsUnder(root: Long, prefix: String): Double = {
    def walk(id: Long): Double = children.getOrElse(id, Vector.empty).map { s =>
      (if (s.name.startsWith(prefix)) s.seconds else 0.0) + walk(s.id)
    }.sum
    walk(root)
  }
}

/** Minimal JSON writing for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${quote(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

/** Order statistics over recorded samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
