package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measure O(|delta|) probe cost for the persisted-index families.
  *
  * SCALING.md measures whole-row slopes (build + probe together); this
  * tool isolates the claim those rows leave unmeasured: with the DELTA
  * FIXED, growing the corpus/index 100× should leave probe wall-time
  * nearly flat, because the probe's shuffle moves only delta rows and
  * the index side arrives bucketed (scan-only, no exchange). For each
  * family the index is built (untimed) from the sf0.001 / sf0.01 /
  * sf0.1 corpus slice, the probe is timed `reps` times against the SAME
  * sf0.01-sized delta, and the fitted log-log slope of median probe
  * time vs index row count is reported. slope 0 = perfectly flat;
  * slope 1 = probe cost growing like the corpus (the index bought
  * nothing).
  *
  * Usage: runMain graft.tools.ProbeScaling [outPath] [reps]
  */
object ProbeScaling {

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("PROBE_SCALING_DATA.json")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.Sessions.local(32)

    // SPARK_GRAFT_PROBE_SFDIRS: comma-separated corpus dirs to build the
    // indexes from, smallest first — defaults to the three testdata SFs;
    // append an Amplify-derived scratch dir (e.g. sf0.8 = 8x sf0.1) to
    // extend the fixed-delta measurement past the fixture ceiling
    val sfs = sys.env.getOrElse("SPARK_GRAFT_PROBE_SFDIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def docs(dir: String) =
      spark.read.parquet(s"$dir/documents.parquet")
    def emb(dir: String) =
      spark.read.parquet(s"$dir/embeddings.parquet")
    // the FIXED deltas: the sf0.01 catalog-row slices, identical at
    // every index size so only the corpus varies
    val deltaDocs = docs("/root/testdata/sf0.01").filter(col("doc_id") % 5 === 0)
      .localCheckpoint()
    val deltaEmb = emb("/root/testdata/sf0.01").filter(col("vec_id") % 5 === 0)
      .localCheckpoint()
    val deltaTrain = docs("/root/testdata/sf0.01")
      .filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
        pmod(col("doc_id"), lit(4)) === 1).localCheckpoint()
    val queryEmb = emb("/root/testdata/sf0.01").localCheckpoint() // p56 derives queries by stride
    // the p91 fixed query set (every 100th sf0.01 doc's first 3 tokens)
    val bm25Queries = graft.ops.TextAnalysis
      .bm25QuerySet(docs("/root/testdata/sf0.01")).localCheckpoint()

    // the localCheckpoint'd deltas live in the block manager; sweep only
    // RDDs a probe itself persisted, never the fixture deltas
    val baselineRdds = spark.sparkContext.getPersistentRDDs.keySet
    def timeProbe(mk: () => DataFrame, nReps: Int = reps): Seq[Double] = {
      mk().queryExecution.toRdd.count() // untimed warmup rep (JIT, IO)
      (1 to nReps).map { _ =>
        val t0 = System.nanoTime()
        mk().queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => baselineRdds.contains(id) }
          .values.foreach(_.unpersist(false))
        dt
      }
    }

    // family name -> (per-sf: build index, return (indexRows, probe thunk))
    case class Family(name: String,
                      setup: String => (Long, () => DataFrame),
                      teardown: () => Unit)
    val drops = scala.collection.mutable.Buffer.empty[String]
    def tbl(s: String): String = { drops += s; s }

    val families = Seq(
      Family("p54_minhash_band_probe", { sf =>
        val bands = tbl(s"ps_p54_bands"); val sigs = tbl(s"ps_p54_sigs")
        graft.ops.Dedup.buildCorpusIndex(docs(sf).filter(col("doc_id") % 5 =!= 0),
          bands, sigs, bands = 16, rowsPerBand = 8, shingleN = 3, buckets = 8)
        (spark.table(sigs).count(), () =>
          graft.ops.Dedup.incrementalVerdictsAgainstIndex(spark, deltaDocs,
            bands, sigs, bands = 16, rowsPerBand = 8, shingleN = 3,
            threshold = 0.7))
      }, () => ()),
      Family("p56_ivf_assignment_probe", { sf =>
        val t = tbl("ps_p56_ivf")
        graft.ops.Similarity.buildIvfIndex(emb(sf), t, nCentroids = 16, buckets = 8)
        (spark.table(t).count(), () =>
          graft.ops.Similarity.ivfTopKAgainstIndex(spark, queryEmb, t))
      }, () => ()),
      Family("p57_vector_index_probe", { sf =>
        val bands = tbl("ps_p57_bands"); val vecs = tbl("ps_p57_vecs")
        val bits = graft.ops.Similarity.buildVectorIndex(
          emb(sf).filter(col("vec_id") % 5 =!= 0), bands, vecs, buckets = 8)
        (spark.table(vecs).count(), () =>
          graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(spark,
            deltaEmb, bands, vecs, threshold = 0.45, bitsPerTable = bits))
      }, () => ()),
      Family("p63_linedf_probe", { sf =>
        val t = tbl("ps_p63_linedf")
        graft.ops.TextAnalysis.buildLineDfIndex(
          docs(sf).filter(col("doc_id") % 5 =!= 0), t, buckets = 8)
        (spark.table(t).count(), () =>
          graft.ops.TextAnalysis.lineDedupIncremental(spark, deltaDocs, t))
      }, () => ()),
      Family("p110_shingledf_probe", { sf =>
        val t = tbl("ps_p110_shdf")
        graft.ops.Dedup.buildShingleDfIndex(
          docs(sf).filter(col("doc_id") % 5 =!= 0), t, buckets = 8)
        (spark.table(t).count(), () =>
          graft.ops.Dedup.noveltyIncremental(spark, deltaDocs, t))
      }, () => ()),
      Family("q79_streamed_shingledf_probe", { sf =>
        val t = tbl("ps_q79_shdf")
        graft.io.Bucketing.dropTable(spark, t)
        // four doc-disjoint appended batches play the streamed history;
        // the default auto-compaction cadence (maintainIndex, every 4
        // batches — exactly what runIndexMaintenance now applies per
        // batch) fires once, so the probe measures the POST-POLICY
        // layout: flat-at-80x must hold with no manual compaction step
        Seq(0, 1, 2, 3).foreach { i =>
          graft.ops.Dedup.appendShingleDfPartial(spark,
            docs(sf).filter(col("doc_id") % 5 =!= 0)
              .filter(pmod(col("doc_id"), lit(4)) === i), t, i.toLong)
          graft.io.Bucketing.maintainIndex(spark, t)
        }
        (spark.table(t).count(), () =>
          graft.ops.Dedup.noveltyIncremental(spark, deltaDocs, t))
      }, () => ()),
      Family("p65_gram_index_probe", { sf =>
        val t = tbl("ps_p65_grams")
        graft.ops.TextAnalysis.buildBenchGramIndex(
          docs(sf).filter(pmod(col("doc_id"), lit(10)) === 0), t)
        (spark.table(t).count(), () =>
          graft.ops.TextAnalysis.decontaminationAgainstIndex(spark, deltaTrain, t))
      }, () => ()),
      Family("p71_window_df_probe", { sf =>
        val t = tbl("ps_p71_windf")
        graft.ops.Dedup.buildWindowDfIndex(
          docs(sf).filter(col("doc_id") % 5 =!= 0), t, k = 8, buckets = 8)
        (spark.table(t).count(), () =>
          graft.ops.Dedup.substringRemoveIncremental(spark, deltaDocs, t, k = 8))
      }, () => ()),
      Family("q69_streamed_windf_probe", { sf =>
        val t = tbl("ps_q69_windf")
        graft.io.Bucketing.dropTable(spark, t)
        val corpus = docs(sf).filter(col("doc_id") % 5 =!= 0)
        (0 until 4).foreach { b =>
          graft.ops.Dedup.appendWindowDfPartial(spark,
            corpus.filter(pmod(col("doc_id"), lit(4)) === b), t, b.toLong, k = 8)
          graft.io.Bucketing.maintainIndex(spark, t)
        }
        (spark.table(t).count(), () =>
          graft.ops.Dedup.substringRemoveIncremental(spark, deltaDocs, t, k = 8))
      }, () => ()),
      Family("p91_bm25_df_probe", { sf =>
        val t = tbl("ps_p91_bm25df")
        graft.ops.TextAnalysis.buildBm25DfIndex(
          docs(sf).filter(col("doc_id") % 5 =!= 0), t, buckets = 8)
        (spark.table(t).count(), () =>
          graft.ops.TextAnalysis.bm25TopKIncremental(spark, deltaDocs,
            bm25Queries, t))
      }, () => ()),
      // p91's REAL x axis (VERDICT r20 item 6): the plain family's
      // index is VOCABULARY-sized and the fixture vocabulary is ~31
      // terms at three of the four sweep points — honestly flagged
      // DEGENERATE since r20, leaving the bm25-df flatness claim with
      // no valid fit. This variant unions the corpus with a
      // vocabulary-filler copy whose every token is doc_id-suffixed
      // (disjoint ids, one filler doc per corpus doc), so the df
      // table's row count scales ~linearly with the corpus while the
      // FIXED query set still matches only the real terms — the
      // map-side query-term gate under measurement is exactly what
      // must keep the probe flat as the vocabulary grows.
      Family("p91v_bm25_vocab_scaled_probe", { sf =>
        val t = tbl("ps_p91v_bm25df")
        val corpus = docs(sf).filter(col("doc_id") % 5 =!= 0)
        val filler = corpus
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
          .withColumn("text", array_join(
            transform(split(col("text"), " "),
              tok => concat(tok, lit("_v"), col("doc_id"))), " "))
        graft.ops.TextAnalysis.buildBm25DfIndex(
          corpus.unionByName(filler), t, buckets = 8)
        (spark.table(t).count(), () =>
          graft.ops.TextAnalysis.bm25TopKIncremental(spark, deltaDocs,
            bm25Queries, t))
      }, () => ()),
      Family("q68_streamed_linedf_probe", { sf =>
        val t = tbl("ps_q68_linedf")
        graft.io.Bucketing.dropTable(spark, t)
        // streamed layout: 4 disjoint batch_id partitions, probe folds
        val corpus = docs(sf).filter(col("doc_id") % 5 =!= 0)
        (0 until 4).foreach { b =>
          graft.ops.TextAnalysis.appendLineDfPartial(spark,
            corpus.filter(pmod(col("doc_id"), lit(4)) === b), t, b.toLong)
          graft.io.Bucketing.maintainIndex(spark, t)
        }
        (spark.table(t).count(), () =>
          graft.ops.TextAnalysis.lineDedupIncremental(spark, deltaDocs, t))
      }, () => ()),
      Family("q71_streamed_vector_probe", { sf =>
        val bands = tbl("ps_q71_bands"); val vecs = tbl("ps_q71_vecs")
        Seq(bands, vecs).foreach(graft.io.Bucketing.dropTable(spark, _))
        val corpus = emb(sf).filter(col("vec_id") % 5 =!= 0)
        val bits = graft.ops.Similarity.adaptiveBitsPerTable(corpus.count())
        (0 until 4).foreach { b =>
          graft.ops.Similarity.appendVectorIndexPartial(spark,
            corpus.filter(pmod(col("vec_id"), lit(4)) === b), bands, vecs,
            b.toLong, tables = 8, bitsPerTable = bits)
          Seq(bands, vecs).foreach(graft.io.Bucketing.maintainIndex(spark, _))
        }
        (spark.table(vecs).count(), () =>
          graft.ops.Similarity.incrementalCosineVerdictsAgainstIndex(spark,
            deltaEmb, bands, vecs, threshold = 0.45, bitsPerTable = bits))
      }, () => ()),
      Family("q72_streamed_gram_probe", { sf =>
        val t = tbl("ps_q72_grams")
        graft.io.Bucketing.dropTable(spark, t)
        val bench = docs(sf).filter(pmod(col("doc_id"), lit(10)) === 0)
        (0 until 4).foreach { b =>
          graft.ops.TextAnalysis.appendBenchGramPartial(spark,
            bench.filter(pmod(col("doc_id"), lit(4)) === b), t, b.toLong)
          graft.io.Bucketing.maintainIndex(spark, t)
        }
        (spark.table(t).count(), () =>
          graft.ops.TextAnalysis.decontaminationAgainstIndex(spark, deltaTrain, t))
      }, () => ()),
      Family("q73_streamed_minhash_probe", { sf =>
        val bands = tbl("ps_q73_bands"); val sigs = tbl("ps_q73_sigs")
        Seq(bands, sigs).foreach(graft.io.Bucketing.dropTable(spark, _))
        val corpus = docs(sf).filter(col("doc_id") % 5 =!= 0)
        (0 until 4).foreach { b =>
          graft.ops.Dedup.appendCorpusIndexPartial(spark,
            corpus.filter(pmod(col("doc_id"), lit(4)) === b), bands, sigs,
            b.toLong)
          Seq(bands, sigs).foreach(graft.io.Bucketing.maintainIndex(spark, _))
        }
        (spark.table(sigs).count(), () =>
          graft.ops.Dedup.incrementalVerdictsAgainstIndex(spark, deltaDocs,
            bands, sigs, bands = 16, rowsPerBand = 8, shingleN = 3,
            threshold = 0.7))
      }, () => ()),
      Family("q74_streamed_ivf_probe", { sf =>
        val cents = tbl("ps_q74_cents"); val t = tbl("ps_q74_ivf")
        Seq(cents, t).foreach(graft.io.Bucketing.dropTable(spark, _))
        graft.ops.Similarity.buildIvfCentroids(emb(sf), cents)
        (0 until 4).foreach { b =>
          graft.ops.Similarity.appendIvfAssignPartial(spark,
            emb(sf).filter(pmod(col("vec_id"), lit(4)) === b), cents, t,
            b.toLong)
          graft.io.Bucketing.maintainIndex(spark, t)
        }
        (spark.table(t).count(), () =>
          graft.ops.Similarity.ivfTopKAgainstIndex(spark, queryEmb, t))
      }, () => ()),
      // the LIVE-tombstone window (VERDICT r17 item 5): the index grows
      // 100x+ under a FIXED unpurged retraction set, and the probe pays
      // the broadcast anti-join gate on every rep — flat slope proves
      // the gate is map-side on the scan, off the scaling curve, for
      // the whole window between a retraction and its purge cadence
      Family("p122_tombstone_gated_probe", { sf =>
        val cents = tbl("ps_p122_cents"); val t = tbl("ps_p122_ivf")
        val tombs = tbl("ps_p122_tombs")
        Seq(cents, t, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
        graft.ops.Similarity.buildIvfCentroids(emb(sf), cents)
        // fixed-size poison: twins of the fixed sf0.01 query set, so the
        // gate's broadcast side is CONSTANT while the index scales
        val poison = queryEmb.withColumn("vec_id",
          col("vec_id") + lit(10000000L))
        graft.ops.Similarity.appendIvfAssignPartial(spark, emb(sf), cents, t, 0L)
        graft.ops.Similarity.appendIvfAssignPartial(spark, poison, cents, t, 1L)
        graft.io.Tombstones.retract(spark, graft.io.Tombstones.ivf(t, tombs),
          poison, 0L)
        (spark.table(t).count(), () =>
          graft.ops.Similarity.ivfTopKAgainstIndex(spark, queryEmb, t,
            tombstonesTable = Some(tombs)))
      }, () => ()),
      // the purge threshold's OTHER axis (VERDICT r18 item 7): p122
      // scales the index under a fixed gate; this family holds the
      // index FIXED (the sf0.1 assignment, the largest fixture) and
      // scales the PENDING tombstone set ~100x — the x value reported
      // as index_rows is the pending RETRACTED-ID count, so the fitted
      // slope reads "gated-probe cost vs pending retractions". A
      // flat-to-mildly-linear curve is what justifies the purge cadence
      // default: within a cadence window the gate's broadcast side
      // stays retraction-sized and never touches the probe's exchanges.
      // Landed as TWO batches at every point (below the cadence of 4,
      // so the batch-side auto-purge never fires and the gate stays
      // live — the window under measurement).
      Family("p125_retraction_rate_stress", { sf =>
        val cents = tbl("ps_p125_cents"); val t = tbl("ps_p125_ivf")
        val tombs = tbl("ps_p125_tombs")
        Seq(cents, t, tombs).foreach(graft.io.Bucketing.dropTable(spark, _))
        val fixedCorpus = emb("/root/testdata/sf0.1")
        graft.ops.Similarity.buildIvfCentroids(fixedCorpus, cents)
        // pending set scales with sf; the index does not
        val poison = emb(sf).withColumn("vec_id",
          col("vec_id") + lit(10000000L))
        graft.ops.Similarity.appendIvfAssignPartial(spark, fixedCorpus,
          cents, t, 0L)
        graft.ops.Similarity.appendIvfAssignPartial(spark, poison, cents,
          t, 1L)
        val family = graft.io.Tombstones.ivf(t, tombs)
        graft.io.Tombstones.retract(spark, family,
          poison.filter(col("vec_id") % 2 === 0), 0L)
        graft.io.Tombstones.retract(spark, family,
          poison.filter(col("vec_id") % 2 =!= 0), 1L)
        (spark.table(tombs).count(), () =>
          graft.ops.Similarity.ivfTopKAgainstIndex(spark, queryEmb, t,
            tombstonesTable = Some(tombs)))
      }, () => ()))

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // SPARK_GRAFT_PROBE_ONLY: comma-separated family-name prefixes, for
    // re-measuring a single family without paying the full sweep
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val selected = families.filter(f =>
      only.forall(_.exists(f.name.startsWith)))
    val rows = try graft.Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(selected.map { fam =>
      val per = sfs.zipWithIndex.map { case (sf, sfIdx) =>
        val dropsBefore = drops.size
        val (idxRows, probe) = fam.setup(sf)
        // the bytes axis (VERDICT r19 item 5): total on-disk bytes of
        // THIS family's index tables at this point — the probes scan
        // the whole index side, so sec-per-GB over this denominator is
        // the scan-coefficient defense as a measurement
        val idxBytes = drops.slice(dropsBefore, drops.size).distinct
          .filter(t => spark.catalog.tableExists(t))
          .map(graft.io.Bucketing.dataFileBytes(spark, _)).sum
        // the SMALL points run sub-second, where one JIT/GC excursion in
        // a 5-rep median moves the fitted slope by ±0.05 (the q71
        // ambiguity VERDICT r18 item 5 flagged) — give every non-final
        // point extra reps so the median outvotes the excursion; the
        // largest point is seconds-scale and already stable
        val times = timeProbe(probe,
          if (sfIdx < sfs.size - 1) reps + 4 else reps)
        val med = times.sorted.apply(times.size / 2)
        val secPerGb = if (idxBytes > 0) med / (idxBytes / 1e9) else 0.0
        println(s"PROBE ${fam.name} $sf index_rows=$idxRows " +
          s"index_bytes=$idxBytes sec_per_gb=${num(secPerGb)} " +
          s"median=${num(med)} " + times.map(num).mkString("[", ",", "]"))
        (sf, idxRows, med, times, idxBytes)
      }
      // least-squares slope of log(t) vs log(indexRows)
      val xs = per.map(p => math.log(math.max(1L, p._2).toDouble))
      val ys = per.map(p => math.log(p._3))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        math.max(1e-12, xs.map(x => (x - mx) * (x - mx)).sum)
      // degenerate-sweep guard (ADVICE r19): families whose x axis is a
      // FIXTURE property (p125's pending count scales with the
      // embeddings file, and the default sf0.001/sf0.01 embedding
      // fixtures are byte-identical) can hand the fit coincident x
      // points. With fewer than THREE distinct sizes the "slope" is
      // the noise between two medians — detect it and say so LOUDLY:
      // the number is still printed but the JSON carries degenerate_x
      // so no reader mistakes a phantom slope for a measurement. (One
      // duplicate pair inside a 4-point anchored sweep is fine — three
      // distinct sizes still span the fit; that is the r19 protocol.)
      // Fix = add the Amplify sf0.8 anchor to SPARK_GRAFT_PROBE_SFDIRS
      // (see PROBE_SCALING.md).
      val degenerate = per.map(_._2).distinct.size < 3
      if (degenerate)
        println(s"PROBE WARNING ${fam.name}: sweep has DUPLICATE x values " +
          per.map(_._2).mkString("(", ",", ")") +
          " — the fitted slope is a phantom (two fixtures share this " +
          "family's size axis); extend SPARK_GRAFT_PROBE_SFDIRS with the " +
          "Amplify sf0.8 anchor before reading it")
      println(s"PROBE ${fam.name} slope=${num(slope)}" +
        (if (degenerate) " DEGENERATE" else ""))
      val perJson = per.map { case (sf, n, med, ts, bytes) =>
        s"""{"sf":"$sf","index_rows":$n,"index_bytes":$bytes,"sec_per_gb":${num(if (bytes > 0) med / (bytes / 1e9) else 0.0)},"median_sec":${num(med)},"reps_sec":${ts.map(num).mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
      s"""{"family":"${fam.name}","slope":${num(slope)},"degenerate_x":$degenerate,"points":$perJson}"""
    }) finally drops.distinct.foreach(graft.io.Bucketing.dropTable(spark, _))
    val json = s"""{"reps":$reps,"delta":"fixed sf0.01 slices","families":${rows.mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(s"PROBE_SCALING written to $out")
    spark.stop()
  }
}
