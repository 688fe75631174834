package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val session: SparkSession = Sessions.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** A node's children with the adaptive wrapper and its query stages
    * opened, so a walk of a final AQE plan sees through stage
    * boundaries (a reused exchange stays a leaf: its stages ran once). */
  protected def planChildren(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }

  /** Query stages of `df`'s final adaptive plan, the result stage
    * included and reused exchanges not: each counted stage is one job
    * the driver plans and waits on in turn. */
  protected def queryStages(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = (p match {
      case s: QueryStageExec if !s.plan.isInstanceOf[ReusedExchangeExec] => 1
      case _ => 0
    }) + planChildren(p).map(walk).sum
    walk(df.queryExecution.executedPlan)
  }

  /** `body`'s result and the number of Spark jobs it submitted. A local
    * property tags the jobs of this thread and of the threads it starts
    * (broadcasts, [[graft.io.Bucketing.concurrently]]), so work of other
    * threads on the shared session is not counted. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          jobs.incrementAndGet()
    }
    val before = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      GraftTestAccess.drainListenerBus(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(key, before)
      sc.removeSparkListener(listener)
    }
  }
}
