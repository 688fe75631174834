package graft.tools


/** Empirical scaling-slope harness (dev tool, not driver-run): times every
  * catalog query at several scale factors in ONE JVM and fits the
  * per-query log-log wall-time slope, the evidence that separates "the
  * plan looks right" from "the plan is proven right" — a hidden quadratic
  * (accidental cross join, per-row driver work, an O(n²) candidate pair
  * stage that banding was supposed to bound) shows up as slope ≫ 1
  * between the two largest scale factors no matter how clean the plan
  * text reads. Results land in SCALING_DATA.json; SCALING.md narrates
  * them.
  *
  * Methodology notes:
  *  - median-of-reps per (query, sf), fresh scratch epoch per rep and
  *    full toRdd materialization — the Bench.scala devices, same reasons;
  *  - the INTERESTING slope is the one between the two largest scale
  *    factors (sf0.01 → sf0.1 by default): at sf0.001 almost every row is
  *    dominated by fixed per-query cost (job launch, codegen, state-store
  *    setup), so the all-points fit understates asymptotic growth;
  *  - streaming protocol rows run a fixed number of micro-batches whose
  *    checkpoint/commit cost dominates at test scale; their slopes are
  *    reported but judged against that fixed floor (SCALING.md).
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val sfDirs = sys.env.getOrElse("SPARK_GRAFT_SCALING_SFS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfOf: String => Double = dir =>
      dir.split("/").last.stripPrefix("sf").toDouble
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALING_FILE", "SCALING_DATA.json")
    val spark = graft.Sessions.local()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    graft.io.TempPaths.sweepStale(spark.sparkContext.applicationId,
      Seq(sys.props("java.io.tmpdir"),
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    // same first-use JIT/codegen warmup as Bench — without it the first
    // (query, sf) cell pays one-time compilation and poisons its slope
    val warmDir = sfDirs.head
    spark.read.parquet(s"$warmDir/lineitem.parquet").limit(1).count()
    val wd = spark.read.parquet(s"$warmDir/documents.parquet").limit(200)
    graft.ops.Dedup.minhashLsh(wd).queryExecution.toRdd.count()
    graft.ops.Dedup.simhashPairs(wd).queryExecution.toRdd.count()
    val we = spark.read.parquet(s"$warmDir/embeddings.parquet").limit(200)
    graft.ops.Similarity.bruteForceTopK(we, k = 2).queryExecution.toRdd.count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()

    def parseSet(key: String): Option[Set[String]] =
      sys.env.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    val only = parseSet("SPARK_GRAFT_SCALING_ONLY")
    val skip = parseSet("SPARK_GRAFT_SCALING_SKIP").getOrElse(Set.empty[String])
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) && !skip.exists(name.startsWith) }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // (query -> sf -> median seconds); sf outer so each scale factor's
    // parquet footers/file listings stay warm within its own sweep
    val cells = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Double, Double]]
    sfDirs.foreach { dir =>
      val sf = sfOf(dir)
      queries.foreach { case (name, fn) =>
        if (!errors.contains(name)) {
          val times = (1 to reps).iterator.map { _ =>
            graft.io.TempPaths.bumpEpoch()
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, dir).queryExecution.toRdd.count(); true }
              catch { case e: Throwable =>
                errors(name) = s"sf$sf: " +
                  Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
                false
              }
            val elapsed = (System.nanoTime() - t0) / 1e9
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
            spark.catalog.clearCache()
            if (ok) Some(elapsed) else None
          }.takeWhile(_.isDefined).flatten.toSeq
          if (times.size == reps) {
            cells.getOrElseUpdate(name,
              scala.collection.mutable.LinkedHashMap.empty)
              .update(sf, times.sorted.apply(reps / 2))
          }
          System.gc()
        }
      }
      System.err.println(s"[scaling] finished $dir")
    }

    def slope(pts: Seq[(Double, Double)]): Double = {
      // least-squares fit of log10(t) against log10(sf)
      val xs = pts.map(p => math.log10(p._1)); val ys = pts.map(p => math.log10(p._2))
      val n = pts.size.toDouble
      val sx = xs.sum; val sy = ys.sum
      val sxx = xs.map(x => x * x).sum; val sxy = xs.zip(ys).map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val rows = cells.map { case (name, bySf) =>
      val pts = bySf.toSeq.sortBy(_._1)
      val all = if (pts.size >= 2) slope(pts) else Double.NaN
      val last = if (pts.size >= 2) slope(pts.takeRight(2)) else Double.NaN
      val times = pts.map { case (sf, t) => s""""sf$sf":${num(t)}""" }.mkString(",")
      s"""${jstr(name)}:{$times,"slope_all":${num(all)},"slope_last":${num(last)}}"""
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // the fixture tables do NOT all grow 10x per sf step (documents and
    // embeddings are clamped at small sfs), so a slope fit against sf
    // understates per-row growth for queries driven by those tables;
    // record the actual row counts so the analysis (SCALING.md) can
    // refit the last-pair slope against the driving table's row ratio
    val tableNames = Seq("lineitem", "orders", "customer", "events",
      "documents", "embeddings")
    val tableCounts = sfDirs.map { dir =>
      val counts = tableNames.map { t =>
        s"""${jstr(t)}:${spark.read.parquet(s"$dir/$t.parquet").count()}"""
      }.mkString(",")
      s""""sf${sfOf(dir)}":{$counts}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"reps":$reps,"cpus":$cpus,"sfs":${sfDirs.map(jstr).mkString("[", ",", "]")},"table_rows":$tableCounts,"queries":$rows,"errors":$errJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(s"SCALING $json")
    spark.stop()
  }
}
