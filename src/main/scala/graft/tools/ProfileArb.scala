package graft.tools

import org.apache.spark.sql.functions.{avg, col, count, lit, sum}

/** Fresh-JVM mover arbitration (dev utility) — the PROFILE_r14
  * protocol in one tool: interleave the Bench machine-speed canary
  * (median-of-3 lineitem hash agg) with isolated reps of ONE catalog
  * query, so each rep can be read against the box's speed at that
  * moment and ratioed to the recorded reference canary.
  *
  * runMain graft.tools.ProfileArb <sfDir> <name> [reps=7] [refCanary=0.277]
  */
object ProfileArb {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(7)
    val refCanary = args.lift(3).map(_.toDouble).getOrElse(0.277)
    val spark = graft.Sessions.local(32)

    // SPARK_GRAFT_ARB_WARM_STREAM: replicate Bench's state-store warmup
    // block (a 50-row AvailableNow stream through the same
    // runAvailableNow path) BEFORE any timed rep — the r19 instrument
    // for arbitrating whether a lingering warmup RocksDB provider taxes
    // later streaming rows ("1" = warm and leave loaded, exactly what
    // Bench does; "unload" = warm then unload every provider, the
    // candidate fix). Unset = the r17-and-earlier shape (no warmup).
    sys.env.get("SPARK_GRAFT_ARB_WARM_STREAM").foreach { mode =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_arb_warm").toString
      graft.io.TempPaths.cleanupOnExit(tmp)
      spark.read.parquet(s"$dir/events.parquet").limit(50)
        .write.mode("overwrite").parquet(s"$tmp/in")
      graft.streaming.EventsStream.runAvailableNow(spark, s"$tmp/in",
        s"$tmp/ckpt", s"$tmp/out")
      if (mode == "unload") graft.io.StateStores.unloadAllQuietly()
      println(s"ARB warm-stream done (mode=$mode)")
    }

    def canary(): Double = {
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(s"$dir/lineitem.parquet")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum("l_extendedprice"), avg("l_quantity"), count(lit(1)))
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      samples.sorted.apply(1)
    }

    // the Bench I/O canary (fixed write+fsync workload): the resource
    // the CPU canary is blind to, and the one the checkpoint-heavy
    // streaming rows under arbitration are most sensitive to
    val ioBuf = new Array[Byte](256 * 1024)
    java.util.Arrays.fill(ioBuf, 0x5a.toByte)
    def ioCanary(): Double = {
      val d = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val samples = (1 to 3).map { r =>
        // user-scoped name (Bench's ioCanary naming): on a shared box a
        // leftover file owned by another user would make TRUNCATE_EXISTING
        // fail with AccessDeniedException and crash the arbitration run
        val f = d.resolve(
          s"graft_arb_io_canary_${sys.props("user.name")}_$r.bin")
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          var i = 0
          while (i < 8) {
            ch.write(java.nio.ByteBuffer.wrap(ioBuf)); ch.force(true); i += 1
          }
        } finally { ch.close(); java.nio.file.Files.deleteIfExists(f) }
        (System.nanoTime() - t0) / 1e9
      }
      samples.sorted.apply(1)
    }

    // IN-CATALOG-ORDER mode (VERDICT r20 item 3 / the q81 experiment):
    // SPARK_GRAFT_ARB_CHAIN="q75,q76,..." runs each named catalog row
    // ONCE, in order, BEFORE the timed reps — same JVM, same session,
    // Bench-parity hygiene between rows (epoch bump, cache clear,
    // provider unload, GC) — so the arbitrated row runs behind exactly
    // the scratch/state its usual catalog predecessors leave, the one
    // environment the isolated protocol cannot observe.
    sys.env.get("SPARK_GRAFT_ARB_CHAIN").foreach { chain =>
      chain.split(",").map(_.trim).filter(_.nonEmpty).foreach { pre =>
        graft.io.TempPaths.bumpEpoch()
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(pre)(spark, dir)
          .queryExecution.toRdd.count()
        println(f"ARB chain $pre ${(System.nanoTime() - t0) / 1e9}%8.3f s rows=$n")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.catalog.clearCache()
        graft.io.StateStores.unloadAllQuietly()
        System.gc()
      }
    }

    val fn = graft.SparkEntry.queries(name)
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ioCanaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    canaries += canary()
    ioCanaries += ioCanary()
    println(f"ARB canary0 ${canaries.last}%7.3f s io ${ioCanaries.last}%7.3f s")
    (1 to reps).foreach { i =>
      graft.io.TempPaths.bumpEpoch()
      val foldsBefore = graft.io.FoldEvents.count
      val t0 = System.nanoTime()
      val n = fn(spark, dir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      times += sec
      // per-rep fold-event delta (VERDICT r19 item 1): a slow rep that
      // ran MORE maintenance rewrites than its siblings is a fold
      // misfire; an equal count is ambient contention
      println(f"ARB $name rep$i $sec%8.3f s rows=$n " +
        f"folds=${graft.io.FoldEvents.count - foldsBefore}")
      spark.catalog.clearCache()
      // Bench-parity cleanup (PROFILE_r19): dead state-store providers
      // from the previous rep's fresh checkpoint tax the maintenance
      // thread (~2-3 s/rep measured on q59) — unload like Bench does
      graft.io.StateStores.unloadAllQuietly()
      if (i % 2 == 0 || i == reps) {
        canaries += canary()
        ioCanaries += ioCanary()
        println(f"ARB canary ${canaries.last}%7.3f s io ${ioCanaries.last}%7.3f s")
      }
    }
    // steady state excludes rep 1 (fresh-JVM codegen/IO warmup) —
    // unless there IS only one rep
    val steady = (if (times.size > 1) times.drop(1) else times).sorted
    val med = steady(steady.size / 2)
    val canMed = canaries.sorted.apply(canaries.size / 2)
    val ioMed = ioCanaries.sorted.apply(ioCanaries.size / 2)
    println(f"ARB SUMMARY $name steady_median=$med%.3f s " +
      f"canary_median=$canMed%.3f s ref_canary=$refCanary%.3f " +
      f"normalized=${med * refCanary / canMed}%.3f s " +
      f"(canary range ${canaries.min}%.3f-${canaries.max}%.3f, " +
      f"io_canary median=$ioMed%.3f range ${ioCanaries.min}%.3f-${ioCanaries.max}%.3f)")
    spark.stop()
  }
}
