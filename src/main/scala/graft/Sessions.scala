package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft session is configured — the analogue of the
  * reference's single session factory (`utility/spark_session.py`).
  * Every entry point (Bench, Verify, Demo), dev tool and the test suite
  * build their session here, so every session carries the same
  * parquet-compat confs and the SQL extensions; conf overrides inside a
  * session go through [[withConf]]. */
object Sessions {

  /** A `local[cpus]` session with shuffle partitions = `cpus`, UTC,
    * nanos-as-long parquet timestamps (the fixtures' `events.parquet`
    * encoding drifts between generations — see `Tables.normalizeTs`),
    * no UI, [[GraftExtensions]] installed and log level WARN.
    * `warehouse` defaults to a fresh pid-tagged scratch dir
    * ([[graft.io.TempPaths.newWarehouseDir]]) that is removed on JVM
    * exit, which also removes every scratch table the catalog rows
    * build in it; pass a directory to keep the tables. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
            warehouse: String = scratchWarehouse()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def scratchWarehouse(): String = {
    val dir = io.TempPaths.newWarehouseDir()
    io.TempPaths.cleanupOnExit(dir)
    dir
  }

  /** Run `body` with the given session confs set, then restore each
    * prior value — or unset it if it had none — even if `body` throws.
    * Only what `body` evaluates runs under the confs: a DataFrame it
    * returns unplanned is planned later, under the restored values (use
    * [[withoutBroadcast]] for a DataFrame). */
  def withConf[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `df` planned and materialized with broadcast joins disabled, so a
    * probe runs the bucketed shuffle layout it exercises even when the
    * fixture's index side is small enough to broadcast. The result is a
    * local checkpoint taken INSIDE the scope: nothing left to plan can
    * leak past the restored threshold. */
  def withoutBroadcast(spark: SparkSession)(df: => DataFrame): DataFrame =
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      df.localCheckpoint())
}
