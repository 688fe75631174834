package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    // warm the session so first-use compilation cost (codegen, JIT of the
    // native expression paths, parquet reader init) doesn't land on
    // whichever timed query happens to run an operator family first —
    // measured 2-3x inflation on the first query touching minhash/vector
    // expressions. A 200-row slice exercises the same generated code.
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    val wd = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    graft.ops.Dedup.minhashLsh(wd).queryExecution.toRdd.count()
    graft.ops.Dedup.simhashPairs(wd).queryExecution.toRdd.count()
    val we = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
    graft.ops.Similarity.bruteForceTopK(we, k = 2).queryExecution.toRdd.count()
    // state-store warmup (PROFILE_r18 arbitration of q54): the FIRST
    // stateful streaming query in a JVM pays RocksDB first-touch —
    // native-lib extraction/load + provider init — measured ~3 s landing
    // on whichever streaming row runs first (q54 rep1 5.1 s vs 2.0 s
    // steady in fresh-JVM isolation, elevated rep1 in every bench run).
    // Pay it here, outside any timed row, through the SAME
    // runAvailableNow path and state-store confs the catalog rows use.
    locally {
      val tmp = java.nio.file.Files.createTempDirectory(
        "graft_warm_stream").toString
      graft.io.TempPaths.cleanupOnExit(tmp)
      spark.read.parquet(s"$sfDir/events.parquet").limit(50)
        .write.mode("overwrite").parquet(s"$tmp/in")
      graft.streaming.EventsStream.runAvailableNow(spark, s"$tmp/in",
        s"$tmp/ckpt", s"$tmp/out")
      // ...then UNLOAD the warmup stream's state-store providers
      // (PROFILE_r19 arbitration): a terminated query's RocksDB
      // providers stay registered in the JVM-global loaded-providers
      // map, and q59 measured 6.7-6.8 s steady with them unloaded or
      // never created vs 9.6 s with the warmup's left loaded — a
      // ~2-3 s/rep maintenance-thread tax on every stateful row, and
      // the r18 streaming-row drift. The native lib + provider-class
      // init the warmup exists to pay stay warm; unloadAll() is
      // private[sql], reached reflectively via the Try-wrapped helper
      // (ADVICE r19: a renamed method degrades to a noisier
      // measurement, never a hard bench failure).
      graft.io.StateStores.unloadAllQuietly()
    }
    // shared media fixtures (VERDICT r20 item 7): land the two GIF
    // corpora in this untimed prep so no timed row's rep1 pays another
    // row's one-time encode — p85's rep1 used to carry the 65-frame
    // variant corpus writer for p86/p87 (43 s vs 5 s steady at sf0.1),
    // and the sf0.8 spot-bench read that one-time cost as a phantom
    // 40x on p86. Pure hoist: landOnce is eager + idempotent, the rows
    // keep their own guards, total bench wall-clock is unchanged.
    graft.queries.PipelineQueries.landSharedMediaFixtures(spark, sfDir)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    // sweep scratch stranded by prior killed runs (the exit hook only
    // fires on clean JVM exit); own-app dirs and anything younger than
    // the idle threshold are left alone
    graft.io.TempPaths.sweepStale(spark.sparkContext.applicationId,
      Seq(sys.props("java.io.tmpdir"),
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    // machine-speed canary: a FIXED reference computation (hash agg over
    // the lineitem scan) timed at interleaved points through the catalog.
    // Round-12 profiling measured the same query at 5.1 s and 8.3 s in
    // isolated fresh JVMs hours apart on identical code — ambient box
    // throughput varies ~1.5x, and without a canary that variance is
    // indistinguishable from a code regression in cross-round totals.
    // Round 13 showed THREE samples aren't enough either: the canary
    // swung 2x WITHIN one run (0.365/0.235/0.178), so a single median
    // divisor normalized the whole catalog by whichever speed regime it
    // happened to sample. Now a canary rep runs every ~20 catalog rows
    // and each row is normalized by its own SEGMENT's bracketing
    // samples, with the samples' dispersion (canary_cv) reported next to
    // the normalized total as its error bar.
    def canary(): Double = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy(org.apache.spark.sql.functions.col("l_returnflag"),
            org.apache.spark.sql.functions.col("l_linestatus"))
          .agg(org.apache.spark.sql.functions.sum("l_extendedprice"),
            org.apache.spark.sql.functions.avg("l_quantity"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)))
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      reps.sorted.apply(1)
    }
    // I/O-sensitive canary (VERDICT r16 item 1): the CPU canary cannot
    // see fsync/disk contention, yet the checkpoint-heavy streaming rows
    // are exactly the ones ambient I/O pressure elevates — round 16
    // spent its arbitration budget unable to distinguish "all six
    // streaming rows doubled" (ambient) from a state-store regression.
    // This probe is a FIXED reference I/O workload: 8 cycles of
    // write-256KiB + force(true) (metadata+data fsync) to the same tmp
    // filesystem the streaming checkpoints live on — the syscall mix a
    // RocksDB/HDFSBackedStateStore commit pays per micro-batch. Median
    // of 3, sampled at the same interleaved points as the CPU canary;
    // reported next to it so a cross-round diff can see WHICH resource
    // the box was short on. Not used for normalization (protocol floors
    // don't scale linearly in fsync latency); it is the arbitration
    // instrument.
    val ioCanaryBuf = new Array[Byte](256 * 1024)
    java.util.Arrays.fill(ioCanaryBuf, 0x5a.toByte)
    def ioCanary(): Double = {
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val reps = (1 to 3).map { r =>
        val f = dir.resolve(s"graft_io_canary_${sys.props("user.name")}_$r.bin")
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          var i = 0
          while (i < 8) {
            ch.write(java.nio.ByteBuffer.wrap(ioCanaryBuf))
            ch.force(true)
            i += 1
          }
        } finally { ch.close(); java.nio.file.Files.deleteIfExists(f) }
        (System.nanoTime() - t0) / 1e9
      }
      reps.sorted.apply(1)
    }
    val canaryEvery = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "20").toInt)
    // median-of-N timing: a single rep cannot tell a regression from a
    // GC/scheduler hiccup on a shared box (round 8 reported a 4x phantom
    // on code unchanged since round 1). The median of 3 is noise-proof
    // against one bad rep while keeping total runtime bounded.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // the stateful rows run COLD every rep (fresh scratch epoch below):
    // landing-zone writes, multi-micro-batch AvailableNow execution,
    // checkpoint I/O, bucket-table CTAS — round 10 measured a 1.8x rep
    // spread on q58 that a median-of-3 cannot tame, and these rows now
    // dominate the total's noise. They get extra reps (median-of-5 by
    // default) so their medians are stable; the cheap non-stateful rows
    // keep the default to bound total bench runtime.
    val statefulReps = math.max(reps,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STATEFUL_REPS", "5").toInt)
    // DYNAMIC rep escalation (VERDICT r17 item 3): when a row's
    // within-run spread says its median is excursion-polluted
    // (max/min > 3x or cv > 0.5), extend THAT row to `escalatedReps`
    // on the spot. The r16 static high-cv list (p85-p87, p89, p90) was
    // always one round behind — r17's actual blowups (p51 reps
    // 7.5/28.2/22.6, q54 38.4/15.8/7.7) weren't on it; the trigger now
    // reads this run's own reps instead of last round's postmortem.
    val escalatedReps = math.max(statefulReps,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ESCALATED_REPS", "7").toInt)
    def spreadTriggered(ts: Seq[Double]): Boolean = ts.size >= 2 && {
      val mean = ts.sum / ts.size
      val cv = if (mean > 0)
        math.sqrt(ts.map(v => (v - mean) * (v - mean)).sum / ts.size) / mean
      else 0.0
      (ts.min > 0 && ts.max / ts.min > 3.0) || cv > 0.5
    }
    // every catalog row whose scratch is epoch-keyed (streaming
    // checkpoints, bucketed warehouse tables, write-then-read dirs)
    val statefulRows = Set("q34_bucketed_join", "q36_partition_pruned_mart",
      "q45_compaction", "q50_zorder_layout", "q55_zorder3",
      "q54_streaming_hourly", "q56_streaming_dedup",
      "q57_streaming_sessionize", "q58_streaming_session_eventtime",
      "q59_streaming_interval_join", "q60_streaming_metrics",
      "q61_streaming_upsert", "q65_streaming_join_metrics",
      "q66_streaming_session_metrics", "q67_streaming_agg_metrics",
      "p54_dedup_incremental_indexed", "p56_ann_ivf_indexed",
      "p57_emb_dedup_incremental", "p58_dedup_index_append",
      "p59_dedup_index_compact", "p63_line_dedup_incremental",
      "p65_decontamination_incremental", "p91_bm25_incremental",
      "q62_schema_evolution", "q68_streaming_line_index",
      "q69_streaming_window_index", "q70_streaming_bm25_index",
      "p71_substring_removal_incr",
      // retraction-lifecycle rows (ADVICE r17): epoch-keyed
      // build+poison+retract scratch, same class as their siblings
      "p116_dedup_retraction", "p117_vector_retraction",
      "p118_line_retraction", "p119_window_retraction",
      "p120_token_retraction", "p121_bm25_retraction",
      "p122_ivf_retraction", "p123_sql_retraction", "p124_sql_lifecycle",
      "p126_sql_vector_lifecycle",
      "q81_streaming_retraction", "q82_streaming_ivf_retraction",
      "q83_streaming_run_fold")
    def repsFor(name: String): Int =
      if (statefulRows(name)) statefulReps else reps
    // profiling filters: ONLY/SKIP take comma-separated name prefixes
    // ("p53,q04" or full names). This is what makes the fresh-JVM
    // isolated-median protocol (PROFILE_r10/r12) and the
    // streaming-rows-skipped catalog run one env var instead of a code
    // fork; unset (the driver's path) selects everything.
    def parseSet(key: String): Option[Set[String]] =
      sys.env.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    val only = parseSet("SPARK_GRAFT_BENCH_ONLY")
    val skip = parseSet("SPARK_GRAFT_BENCH_SKIP").getOrElse(Set.empty[String])
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith)) && !skip.exists(name.startsWith)
    // a filtered run's total is NOT comparable to a full-catalog total;
    // stamp the filter into both JSON lines so a cross-round comparison
    // can never mistake one for the other
    val filtered = only.isDefined || skip.nonEmpty
    // deterministic name order: per-query timings stay comparable across
    // rounds (hash-map order shuffled with every catalog addition, moving
    // the first-heavy-query JIT cost onto a different victim each round)
    val sortedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => selected(kv._1))
    def medianCv(vals: Seq[Double]): (Double, Double) = {
      val median = vals.sorted.apply(vals.size / 2)
      val mean = vals.sum / vals.size
      val cv = if (mean > 0)
        math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.size) / mean
      else 0.0
      (median, cv)
    }
    // one full catalog measurement pass — factored out so a run whose
    // measurement window fails the canary-quality gate below can be
    // re-taken once (VERDICT r19 item 4)
    case class Sweep(allReps: Seq[(String, Seq[Double])],
                     canarySamples: Seq[(Int, Double)],
                     ioCanarySamples: Seq[(Int, Double)],
                     errors: scala.collection.mutable.LinkedHashMap[String, String],
                     escalated: Seq[String]) {
      def canaryCv: Double = medianCv(canarySamples.map(_._2))._2
      def ioCanaryMedian: Double = medianCv(ioCanarySamples.map(_._2))._1
    }
    def runSweep(): Sweep = {
    // (catalog row index the sample precedes, median-of-3 canary seconds)
    val canarySamples = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val ioCanarySamples = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    canarySamples += 0 -> canary()
    ioCanarySamples += 0 -> ioCanary()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val escalated = scala.collection.mutable.LinkedHashSet.empty[String]
    val allReps = sortedQueries.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % canaryEvery == 0) {
        canarySamples += idx -> canary()
        ioCanarySamples += idx -> ioCanary()
      }
      def runRep(): Option[Double] = {
        if (errors.contains(name)) None
        else {
          // fresh scratch epoch per rep: queries with per-application
          // state (streaming checkpoints, q34 bucket tables, q36/q45/
          // q50/q55 write-then-read dirs) execute their FULL work every
          // rep instead of resuming an existing checkpoint as an
          // exactly-once no-op — round 9's medians reported that no-op
          // (q59: 16.2 s cold, 0.16 s resumed) and were useless as perf
          // numbers. Every rep is now a cold run of the operator, so the
          // median is a real median and totals compare across rounds.
          graft.io.TempPaths.bumpEpoch()
          val t0 = System.nanoTime()
          // materialize the FULL output rows (toRdd), not count(): a count
          // lets Catalyst prune every projection-only expression, which
          // would time the parquet row count instead of the operator
          val ok =
            try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
            catch { case e: Throwable =>
              // a broken query must fail LOUDLY in the artifact, not bench
              // as a fast pass with its time-to-failure recorded
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
              false
            }
          val elapsed = (System.nanoTime() - t0) / 1e9
          // operators that persist intermediates (LSH signatures) or cut
          // lineage (localCheckpoint) must not bleed block-manager memory
          // into the next rep's measurement; clearCache covers the former,
          // the explicit RDD sweep the latter. State-store providers are
          // the third bleed (PROFILE_r19): fresh-checkpoint-per-rep means
          // every stateful rep registers NEW provider ids and the dead
          // ones stay in the JVM-global map taxing the maintenance thread
          // (~2-3 s/rep measured on q59) — unload them like the RDDs.
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
          spark.catalog.clearCache()
          graft.io.StateStores.unloadAllQuietly()
          if (ok) Some(elapsed) else None
        }
      }
      val base = (1 to repsFor(name)).iterator.map(_ => runRep())
        .takeWhile(_.isDefined).flatten.toSeq
      // spread-triggered escalation: only rows that completed their base
      // reps cleanly AND look excursion-polluted take the extra reps, so
      // a noisy window costs a handful of rows, not the whole catalog
      val times =
        if (base.size == repsFor(name) && base.size < escalatedReps &&
            spreadTriggered(base)) {
          escalated += name
          base ++ (base.size until escalatedReps).iterator.map(_ => runRep())
            .takeWhile(_.isDefined).flatten.toSeq
        } else base
      // PROFILE_r10: four queries ran ~2x slower inside the 300+-
      // execution bench JVM than in fresh JVMs on identical code
      // (heap/GC pressure, not regressions). A full GC between queries
      // costs ~0.1 s x catalog size OUTSIDE the timed regions and keeps
      // cross-query heap state from masquerading as per-query cost.
      if (sys.env.get("SPARK_GRAFT_BENCH_GC").forall(_ != "0")) System.gc()
      name -> times
    }
    canarySamples += sortedQueries.size -> canary()
    ioCanarySamples += sortedQueries.size -> ioCanary()
    Sweep(allReps, canarySamples.toSeq, ioCanarySamples.toSeq, errors,
      escalated.toSeq)
    }
    // CANARY-QUALITY GATE (VERDICT r19 item 4): a round-stamped bench
    // from a contended window is uninterpretable — r19's driver window
    // ran at canary cv 0.235 and its 380 s "total" needed the builder's
    // kept run to read at all. The gate: a full-catalog run whose CPU
    // canary cv exceeds the threshold, or whose io-canary median leaves
    // the box's quiet band, is re-taken ONCE and the better window is
    // kept; the rejected window's canary stats are recorded in the
    // detail JSON so the rejection is auditable. Both JSON lines carry
    // `window_ok` so a reader (and the judge) can see at a glance
    // whether the kept number comes from a qualifying window. Filtered
    // runs skip the rerun (their totals are not round artifacts).
    val cvGate = sys.env.get("SPARK_GRAFT_CANARY_CV_GATE")
      .flatMap(_.toDoubleOption).getOrElse(0.15)
    // quiet band measured on this box: io-canary median 0.009-0.016 s
    // (PROFILE_r19); 2x the band's top = contention, not jitter
    val ioGate = sys.env.get("SPARK_GRAFT_IO_CANARY_GATE")
      .flatMap(_.toDoubleOption).getOrElse(0.032)
    def windowOk(s: Sweep): Boolean =
      s.canaryCv <= cvGate && s.ioCanaryMedian <= ioGate
    val autoRerun = !filtered &&
      sys.env.get("SPARK_GRAFT_BENCH_AUTORERUN").forall(_ != "0")
    // wall-clock budget for the gate's auto-rerun (VERDICT r20 item 1):
    // round 20's driver lane returned rc 124 / parsed:null because a
    // rejected ~70-minute sf0.1 window triggered a SECOND full sweep
    // with no cap — the rerun doubled the runtime in exactly the
    // contended windows that trigger it. The rerun is now taken only
    // when (first sweep elapsed x 2) fits the budget; the default is
    // sized so smoke sweeps (sf<=0.01, seconds-to-minutes) still rerun
    // and a full sf0.1 catalog sweep never doubles past the driver
    // lane's timeout.
    val timeBudget = sys.env.get("SPARK_GRAFT_BENCH_TIME_BUDGET")
      .flatMap(_.toDoubleOption).getOrElse(5400.0)
    // explicit root locale: under a comma-decimal default locale (de_DE
    // etc.) f"$v%.3f" would print 0,727 — invalid JSON for the driver
    def num3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Full detail + compact summary for ONE sweep. Factored out of the
    // tail (VERDICT r20 item 1b) so the compact line can be emitted
    // after EACH sweep: a driver timeout mid-rerun now leaves the first
    // sweep's parseable result in stdout instead of nothing.
    def emit(sweep: Sweep, rejectedSweep: Option[Sweep]): String = {
    val allReps = sweep.allReps
    val canarySamples = sweep.canarySamples
    val ioCanarySamples = sweep.ioCanarySamples
    val errors = sweep.errors
    val escalated = sweep.escalated
    val windowOkKept = windowOk(sweep)
    // a query that failed on ANY rep is reported in `errors` only — a
    // time-to-failure must not pass for a fast success in timings
    val results = allReps.collect {
      case (name, times) if times.nonEmpty && !errors.contains(name) =>
        name -> times.sorted.apply(times.size / 2)
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // canary-normalized total: each row scaled by (reference canary /
    // its SEGMENT's machine speed), where a segment's speed is the mean
    // of the two canary samples bracketing that row — so a box that ran
    // 2x fast for the first half and 2x slow for the second normalizes
    // each half by what the box was doing THEN, not by one global
    // median. The reference canary is the recorded round-12 sf0.1 value
    // (0.277 s) — override via SPARK_GRAFT_REF_CANARY when the fixture
    // or sf changes. A normalized total answers "how would this run have
    // scored on the round-12 box" so cross-round deltas are code, not
    // machine; canary_cv is its error bar.
    val refCanary = sys.env.get("SPARK_GRAFT_REF_CANARY")
      .flatMap(_.toDoubleOption).getOrElse(0.277)
    val canaryVals = canarySamples.map(_._2).toSeq
    val (canaryMedian, canaryCv) = medianCv(canaryVals)
    val (ioCanaryMedian, ioCanaryCv) = medianCv(ioCanarySamples.map(_._2).toSeq)
    def segSpeed(idx: Int): Double = {
      val before = canarySamples.takeWhile(_._1 <= idx).lastOption
        .map(_._2).getOrElse(canaryMedian)
      val after = canarySamples.find(_._1 > idx).map(_._2).getOrElse(before)
      (before + after) / 2
    }
    val rowIdx = sortedQueries.map(_._1).zipWithIndex.toMap
    val totalNorm = results.map { case (name, t) =>
      val s = segSpeed(rowIdx(name))
      if (s > 0) t * (refCanary / s) else t
    }.sum
    // Full-precision, full-name, all-reps detail line first — for humans
    // and for arbitrating outliers (which rep was the slow one).
    val qsFull = allReps.map { case (k, ts) =>
      jstr(k) + ":" + ts.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val errFull = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val filterJson =
      s""""filtered":$filtered,"only":${only.getOrElse(Set.empty[String]).toSeq.sorted.map(jstr).mkString("[", ",", "]")},"skip":${skip.toSeq.sorted.map(jstr).mkString("[", ",", "]")}"""
    val canaryJson = canarySamples
      .map { case (i, v) => s"[$i,${num3(v)}]" }.mkString("[", ",", "]")
    val ioCanaryJson = ioCanarySamples
      .map { case (i, v) => s"[$i,${num3(v)}]" }.mkString("[", ",", "]")
    // window verdict + any rejected window's canary stats (audit trail
    // for the gate; the rejected window's per-query times are NOT kept —
    // two full rep sets would double the artifact and invite averaging
    // across windows, exactly what the gate exists to prevent)
    val rejectedJson = rejectedSweep.map { r =>
      s"""{"canary_cv":${num3(r.canaryCv)},"io_canary_median_sec":${num3(r.ioCanaryMedian)},"canary_samples":${r.canarySamples.map { case (i, v) => s"[$i,${num3(v)}]" }.mkString("[", ",", "]")}}"""
    }.getOrElse("null")
    val windowJson = s""""window_ok":$windowOkKept,"window_cv_gate":${num3(cvGate)},"window_io_gate":${num3(ioGate)},"window_rejected":$rejectedJson"""
    val detail = s"""{"reps":$reps,"stateful_reps":$statefulReps,"stateful_rows":${statefulRows.toSeq.sorted.map(jstr).mkString("[", ",", "]")},"escalated_reps":$escalatedReps,"escalated_rows":${escalated.toSeq.map(jstr).mkString("[", ",", "]")},"scratch":"fresh-per-rep","sf":${jstr(sfDir)},$filterJson,"canary_every":$canaryEvery,"canary_samples":$canaryJson,"canary_median_sec":${num3(canaryMedian)},"canary_cv":${num3(canaryCv)},"io_canary_samples":$ioCanaryJson,"io_canary_median_sec":${num3(ioCanaryMedian)},"io_canary_cv":${num3(ioCanaryCv)},"ref_canary_sec":${num3(refCanary)},"total_canary_norm":${num3(totalNorm)},$windowJson,"queries":$qsFull,"errors":$errFull}"""
    println(s"BENCH_DETAIL $detail")
    // The driver's stdout window keeps only the last 2000 chars, which
    // truncated round 9's detail line before the p-rows — exactly the
    // numbers needed to arbitrate the drift cluster. Persist the full
    // detail to a file the round snapshot commits.
    // Per-sf snapshot FIRST: BENCH_DETAIL_LATEST.json is overwritten by
    // every run including sf0.001 smoke runs, which is how round 16 lost
    // its 179-row sf0.1 snapshot. The sf-tagged file is only clobbered
    // by a run at the SAME scale factor, so a smoke run can no longer
    // destroy the round's sf0.1 detail; the round snapshot commits the
    // sf-tagged file as BENCH_DETAIL_r<N>.json.
    val sfTag = sfDir.split('/').lastOption.getOrElse("unknown")
    // ...and a PER-CONFIG snapshot (VERDICT r21 item 1): the driver's
    // 8-core scaling run used to OVERWRITE the 32-core run's per-query
    // map in both files above, leaving the main sweep's detail only in
    // a truncated stdout tail. The (cpus, sf)-tagged file is clobbered
    // only by a run at the SAME core count and scale factor, so both
    // scaling points survive a round.
    val detailPaths = Seq(
      sys.env.getOrElse("SPARK_GRAFT_DETAIL_FILE", "BENCH_DETAIL_LATEST.json"),
      s"BENCH_DETAIL_LATEST_$sfTag.json",
      s"BENCH_DETAIL_LATEST_c${cpus}_$sfTag.json").distinct
    detailPaths.foreach { detailPath =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(detailPath), detail + "\n")
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}") }
    }
    // The driver keeps only the LAST 2000 characters of stdout and parses
    // the JSON out of that tail — rounds 1-3 produced a ~2300-char line
    // that arrived truncated and never parsed. The final line must stay
    // under the window: 3-decimal timings; if the full-name form doesn't
    // fit, per-query keys fall back to their unique qNN/pNN prefix; and
    // when even THAT outgrows the window (the 206-row catalog's short
    // form is ~3 KB — why BENCH_r18/r19 arrived parsed:null, VERDICT r20
    // item 1a), the line drops the per-query map entirely ("queries":{},
    // "queries_in_detail":true) and the full map lives only in the
    // committed BENCH_DETAIL artifact. A truncated-but-parseable summary
    // beats a complete-but-unparseable one.
    def compactLine(short: Boolean, withMap: Boolean, topN: Int = 0): String = {
      // topN > 0: the mid-size tier (VERDICT r21 item 1) — when even the
      // short-key full map outgrows the driver's stdout window, keep the
      // N most expensive rows instead of dropping the map entirely, so
      // the driver's per-query regression comparison is never fully
      // blind; the complete map still lives in the detail artifacts.
      // queries_in_detail stays true for a partial map.
      val kept =
        if (!withMap) Seq.empty
        else if (topN > 0) results.sortBy { case (k, v) => (-v, k) }.take(topN)
        else results
      val qs = kept.map { case (k, v) =>
        jstr(if (short) k.takeWhile(_ != '_') else k) + ":" + num3(v)
      }.mkString("{", ",", "}")
      val topJson = if (topN > 0) s""""queries_top_n":$topN,""" else ""
      val errJson = errors.map { case (k, v) =>
        jstr(if (short) k.takeWhile(_ != '_') else k) + ":" + jstr(v.take(60))
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","queries":$qs,"queries_in_detail":${!withMap || topN > 0},$topJson"errors":$errJson,"n_errors":${errors.size},"n_queries":${results.size},"reps":$reps,"stateful_reps":$statefulReps,"n_escalated":${escalated.size},"scratch":"fresh-per-rep","canary_sec":${num3(canaryMedian)},"canary_cv":${num3(canaryCv)},"io_canary_sec":${num3(ioCanaryMedian)},"io_canary_cv":${num3(ioCanaryCv)},"total_canary_norm":${num3(totalNorm)},"window_ok":$windowOkKept,"reran":${rejectedSweep.isDefined},"filtered":$filtered,"sf":"$sfDir"}"""
    }
    val full = compactLine(short = false, withMap = true)
    if (full.length <= 1850) full
    else { val shortLine = compactLine(short = true, withMap = true)
      if (shortLine.length <= 1850) shortLine
      else { val topLine = compactLine(short = true, withMap = true, topN = 20)
        if (topLine.length <= 1850) topLine
        else compactLine(short = false, withMap = false) } }
    }
    val sweepT0 = System.nanoTime()
    val first = runSweep()
    val firstElapsed = (System.nanoTime() - sweepT0) / 1e9
    val rerunFits = firstElapsed * 2.0 <= timeBudget
    val line =
      if (windowOk(first) || !autoRerun || !rerunFits) {
        if (!windowOk(first) && autoRerun && !rerunFits)
          System.err.println(f"[bench] window REJECTED (canary cv " +
            f"${first.canaryCv}%.3f / io median ${first.ioCanaryMedian}%.3f)" +
            f" but rerun SKIPPED: first sweep took $firstElapsed%.0f s and " +
            f"2x exceeds SPARK_GRAFT_BENCH_TIME_BUDGET=$timeBudget%.0f s")
        emit(first, None)
      } else {
        System.err.println(f"[bench] window REJECTED (canary cv " +
          f"${first.canaryCv}%.3f > $cvGate%.3f or io median " +
          f"${first.ioCanaryMedian}%.3f > $ioGate%.3f) — re-running the " +
          "catalog once in the hope of a quieter window")
        // leave the first sweep's parseable result in stdout and in the
        // detail files BEFORE starting the second sweep: a kill
        // mid-rerun now strands a usable (if window_ok:false) artifact
        // instead of nothing (VERDICT r20 item 1b)
        println(emit(first, None))
        val second = runSweep()
        // keep the sweep that PASSES the full gate when one does
        // (ADVICE r20: comparing canary cv alone could keep a window
        // rejected for io contention over a qualifying one); fall back
        // to the lower CPU-canary cv when both fail
        if (windowOk(second) || second.canaryCv <= first.canaryCv)
          emit(second, Some(first))
        else emit(first, Some(second))
      }
    // stop BEFORE the final println: round 16's driver tail shows a
    // thread-pool stack trace printed AFTER the compact line (late
    // executor/shutdown output), pushing the JSON out of the driver's
    // last-2000-chars window — BENCH_r16.json arrived with parsed:null.
    // With the session already stopped, nothing Spark-side can write
    // after the line the driver must parse.
    spark.stop()
    println(line)
  }
}
