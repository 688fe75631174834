package perfbench

/** A workload made of parts that run one after another in every
  * iteration, as a nightly batch runs its jobs: set-up, checks and metrics
  * are each part's own. */
final class BatchJobs(parts: Workload*) extends Workload {
  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def iterate(ctx: Ctx): Unit = parts.foreach(_.iterate(ctx))
  override def finish(ctx: Ctx): Unit = parts.foreach(_.finish(ctx))
  def endToEnd(ctx: Ctx): Map[String, Double] = parts.map(_.endToEnd(ctx)).reduce(_ ++ _)
  def perLayer(ctx: Ctx, trace: Trace): Map[String, Double] =
    parts.map(_.perLayer(ctx, trace)).reduce(_ ++ _)
}
