package graft

import org.apache.spark.sql.execution.LogicalRDD

/** The session factory's scoped-conf helpers: a conf override must cover
  * exactly the work done inside it, and leave the session as it was. */
class SessionsSpec extends SparkSpec {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  test("broadcast-disabled catalog rows return materialized results and restore the threshold") {
    // rows whose probe is a lazy plan: returned unmaterialized, it would
    // be planned after the restore and broadcast after all
    val rows = Seq("p63_line_dedup_incremental", "p65_decontamination_incremental",
      "p71_substring_removal_incr", "q68_streaming_line_index",
      "q69_streaming_window_index", "q72_streaming_gram_index")
    val prior = spark.conf.get(threshold)
    rows.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"$name must be materialized inside its scope:\n${df.queryExecution.analyzed}")
      assert(spark.conf.get(threshold) === prior, name)
      assert(df.count() > 0, name)
    }
  }

  test("withConf restores prior values, unsets confs that had none, even when the body throws") {
    val unset = "spark.graft.sessions-spec.probe"
    assert(!spark.conf.getAll.contains(unset))
    Sessions.withConf(spark, threshold -> "12345") {
      intercept[IllegalStateException] {
        Sessions.withConf(spark, threshold -> "-1", unset -> "on") {
          assert(spark.conf.get(threshold) === "-1" && spark.conf.get(unset) === "on")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(threshold) === "12345")
    }
    assert(!spark.conf.getAll.contains(unset))
  }
}
