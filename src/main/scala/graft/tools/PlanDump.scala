package graft.tools
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named catalog queries to files —
  * the plans/rNN before/after evidence the optimization rounds commit
  * (guide §1: capture the plan shape next to every measured change).
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <name>[,<name>...]
  * Stateful rows build their scratch state first (the query fn runs its
  * streams/CTAS), so the dumped plan is the row's final probe plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val names = args(2)
    val spark = graft.Sessions.local(8)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$n.txt"), txt)
      println(s"PLAN $n -> $outDir/$n.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
