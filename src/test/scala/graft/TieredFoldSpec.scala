package graft

import graft.io.Bucketing
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tiered (two-level) fold — VERDICT r19 item 2. The run-level
  * fold must (a) leave the base partition physically untouched (the
  * whole point: maintenance cost bounded by run+delta, not index
  * size), (b) keep every probe bit-identical to a rebuild-without
  * (negative pending sums in the run cancel against the base at
  * probe time), (c) advance the replay watermark so consumed batches
  * no-op, and (d) heal from a kill at every failpoint of the
  * side-table + journal swap. The base merge must then resolve the
  * pending negatives physically.
  */
class TieredFoldSpec extends SparkSpec {

  private def drop(tbls: String*): Unit =
    tbls.foreach(Bucketing.dropTable(spark, _))
  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet
  private def parts(tbl: String): Set[String] =
    spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSet

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val corpus = docs.filter(col("doc_id") % 5 =!= 0)
  private lazy val delta = docs.filter(col("doc_id") % 5 === 0)
  private def quarter(i: Int) =
    corpus.filter(pmod(col("doc_id"), lit(4)) === i)
  // retraction of docs already folded into the BASE — the case that
  // forces pending negatives through the run level
  private lazy val retired =
    corpus.filter(pmod(col("doc_id"), lit(4)) < 2 && col("doc_id") % 7 === 1)

  /** quarters 0..maxQ minus the retired docs, built fresh. */
  private def rebuildWithout(tbl: String, maxQ: Int): Unit = {
    drop(tbl)
    Dedup.appendShingleDfPartial(spark,
      corpus.filter(pmod(col("doc_id"), lit(4)) <= maxQ)
        .exceptAll(retired.filter(pmod(col("doc_id"), lit(4)) <= maxQ)),
      tbl, 0L)
  }

  test("run-level fold leaves base untouched, keeps probes exact, advances the watermark; base merge resolves pending negatives") {
    drop("tf_idx", "tf_reb2", "tf_reb3")
    // ---- base: two batches, first tiered fold = base merge ----
    Dedup.appendShingleDfPartial(spark, quarter(0), "tf_idx", 0L)
    Dedup.appendShingleDfPartial(spark, quarter(1), "tf_idx", 1L)
    assert(Bucketing.tieredFold(spark, "tf_idx"),
      "the FIRST fold has no base and must take the merge path")
    assert(Bucketing.tableProperty(spark, "tf_idx",
      Bucketing.BaseAtProperty) === Some("1"))
    assert(parts("tf_idx") === Set("batch_id=1"))
    // ---- fresh: one append + one retraction of base-resident docs ----
    Dedup.appendShingleDfPartial(spark, quarter(2), "tf_idx", 2L)
    Dedup.retractShingleDfPartial(spark, retired, "tf_idx", 3L)
    val baseBefore = rows(spark.table("tf_idx").filter(col("batch_id") === 1))
    // mergeFraction huge => the run path is forced
    assert(!Bucketing.tieredFold(spark, "tf_idx", mergeFraction = 1e9),
      "with a base present and a small run the fold must stay run-level")
    assert(parts("tf_idx") === Set("batch_id=1", "batch_id=3"),
      "layout after a run fold is exactly base + run")
    assert(Bucketing.tableProperty(spark, "tf_idx",
      Bucketing.RunAtProperty) === Some("3"))
    assert(Bucketing.foldedThrough(spark, "tf_idx") === 3L)
    assert(rows(spark.table("tf_idx").filter(col("batch_id") === 1))
      === baseBefore, "the base partition must be physically untouched")
    // the retraction of base-resident keys is PENDING in the run as
    // negative sums — legal, and invisible to probes (they sum first)
    assert(spark.table("tf_idx")
      .filter(col("batch_id") === 3 && col("df_corpus") < 0).count() > 0,
      "fixture must exercise the pending-negative case")
    rebuildWithout("tf_reb2", maxQ = 2)
    val want2 = rows(Dedup.noveltyIncremental(spark, delta, "tf_reb2"))
    assert(rows(Dedup.noveltyIncremental(spark, delta, "tf_idx")) === want2,
      "probe through base+run must equal the rebuild-without")
    // consumed batches no-op on replay (landed = false)
    assert(!Dedup.retractShingleDfPartial(spark, retired, "tf_idx", 3L),
      "a replay of a run-folded batch must report landed = false")
    assert(rows(Dedup.noveltyIncremental(spark, delta, "tf_idx")) === want2)
    // ---- base merge: resolves the pending negatives physically ----
    Dedup.appendShingleDfPartial(spark, quarter(3), "tf_idx", 4L)
    assert(Bucketing.tieredFold(spark, "tf_idx", mergeFraction = 0.0),
      "mergeFraction 0 must force the base merge")
    assert(parts("tf_idx") === Set("batch_id=4"))
    assert(Bucketing.tableProperty(spark, "tf_idx",
      Bucketing.BaseAtProperty) === Some("4"))
    assert(Bucketing.tableProperty(spark, "tf_idx",
      Bucketing.RunAtProperty) === None,
      "the merge consumes the run level — its marker must clear")
    assert(spark.table("tf_idx").filter(col("df_corpus") <= 0).count() === 0,
      "after the merge no pending negative or zero row may survive")
    rebuildWithout("tf_reb3", maxQ = 3)
    assert(rows(Dedup.noveltyIncremental(spark, delta, "tf_idx"))
      === rows(Dedup.noveltyIncremental(spark, delta, "tf_reb3")))
    drop("tf_idx", "tf_reb2", "tf_reb3")
  }

  test("run-fold crash windows: a kill at every failpoint heals through the probe-side repair") {
    rebuildWithout("tfc_reb", maxQ = 2)
    val want = rows(Dedup.noveltyIncremental(spark, delta, "tfc_reb"))
    // the run fold's crash windows: side table written but no journal,
    // journal stamped with nothing moved, sources dropped with the run
    // not yet landed
    for ((crashAt, step) <- Seq("stamp" -> 1, "drop-sources" -> 2, "land" -> 3)) {
      val tbl = s"tfc_idx_$step"
      drop(tbl)
      Dedup.appendShingleDfPartial(spark, quarter(0), tbl, 0L)
      Dedup.appendShingleDfPartial(spark, quarter(1), tbl, 1L)
      assert(Bucketing.tieredFold(spark, tbl)) // base
      Dedup.appendShingleDfPartial(spark, quarter(2), tbl, 2L)
      Dedup.retractShingleDfPartial(spark, retired, tbl, 3L)
      intercept[IllegalStateException] {
        Bucketing.withFailpoint(tbl, crashAt) {
          Bucketing.tieredFold(spark, tbl, mergeFraction = 1e9)
        }
      }
      // the probe's own repair path must see a consistent partition
      // set at EVERY crash point: pre-journal (stale side table),
      // journal-stamped-nothing-moved, and mid-swap (sources dropped,
      // run not yet landed)
      assert(rows(Dedup.noveltyIncremental(spark, delta, tbl)) === want,
        s"probe after a kill at failpoint $step must equal the rebuild")
      // and the next maintenance entry converges the layout
      Bucketing.tieredFold(spark, tbl, mergeFraction = 1e9)
      assert(parts(tbl) === Set("batch_id=1", "batch_id=3"),
        s"layout after repair + re-fold (failpoint $step)")
      assert(rows(Dedup.noveltyIncremental(spark, delta, tbl)) === want)
      drop(tbl)
    }
    drop("tfc_reb")
  }

  test("tieredFold's run-vs-merge decision reads the merge-stamped base mass, not a base-partition count (VERDICT r20 item 3)") {
    drop("tfm_idx", "tfm_reb")
    Dedup.appendShingleDfPartial(spark, quarter(0), "tfm_idx", 0L)
    Dedup.appendShingleDfPartial(spark, quarter(1), "tfm_idx", 1L)
    assert(Bucketing.tieredFold(spark, "tfm_idx")) // first fold = merge
    assert(Bucketing.tableProperty(spark, "tfm_idx",
        Bucketing.BaseMassProperty).flatMap(_.toLongOption)
      === Some(spark.table("tfm_idx").count()),
      "the base merge must stamp the new base's row count")
    // prove the decision is METADATA-ONLY by poisoning the stamp in
    // both directions and observing tieredFold honor the poisoned value
    // over what a count of the base would say. Stamp 0 => threshold 0,
    // so even mergeFraction 1e9 must take the merge path (a real count
    // of the non-empty base would have kept the run path):
    Dedup.appendShingleDfPartial(spark, quarter(2), "tfm_idx", 2L)
    Bucketing.stampProperties(spark, "tfm_idx",
      Map(Bucketing.BaseMassProperty -> "0"))
    assert(Bucketing.tieredFold(spark, "tfm_idx", mergeFraction = 1e9),
      "a zero stamp must force the merge — the decision read the stamp")
    // ...and the merge re-stamped the true mass
    assert(Bucketing.tableProperty(spark, "tfm_idx",
        Bucketing.BaseMassProperty).flatMap(_.toLongOption)
      === Some(spark.table("tfm_idx").count()))
    // stamp huge => threshold huge even at mergeFraction 1e-9, so the
    // run path must hold (a real count would have forced the merge):
    Dedup.appendShingleDfPartial(spark, quarter(3), "tfm_idx", 3L)
    Bucketing.stampProperties(spark, "tfm_idx",
      Map(Bucketing.BaseMassProperty -> Long.MaxValue.toString))
    assert(!Bucketing.tieredFold(spark, "tfm_idx", mergeFraction = 1e-9),
      "a huge stamp must keep the run path — the decision read the stamp")
    // migration fallback: with the stamp ABSENT (pre-stamp table, or a
    // crash between a merge's swap and its re-stamp) the decision falls
    // back to counting the base
    spark.sql("ALTER TABLE tfm_idx UNSET TBLPROPERTIES IF EXISTS " +
      s"('${Bucketing.BaseMassProperty}')")
    Dedup.appendShingleDfPartial(spark, delta, "tfm_idx", 4L)
    assert(Bucketing.tieredFold(spark, "tfm_idx", mergeFraction = 1e-9),
      "stamp absent: the decision must fall back to counting the base")
    // data stayed probe-exact through stamped, poisoned and fallback
    // decisions (folds only moved rows, never changed their sums)
    Dedup.appendShingleDfPartial(spark, docs, "tfm_reb", 0L)
    assert(rows(Dedup.noveltyIncremental(spark, delta, "tfm_idx"))
      === rows(Dedup.noveltyIncremental(spark, delta, "tfm_reb")))
    drop("tfm_idx", "tfm_reb")
  }

  test("a fully-cancelled run fold advances the watermark without a run marker at a nonexistent partition (ADVICE r20)") {
    drop("tfe_idx", "tfe_reb")
    Dedup.appendShingleDfPartial(spark, quarter(0), "tfe_idx", 0L)
    Dedup.appendShingleDfPartial(spark, quarter(1), "tfe_idx", 1L)
    assert(Bucketing.tieredFold(spark, "tfe_idx")) // base at 1
    // fresh batches that cancel EXACTLY: append quarter(2), retract it
    Dedup.appendShingleDfPartial(spark, quarter(2), "tfe_idx", 2L)
    Dedup.retractShingleDfPartial(spark, quarter(2), "tfe_idx", 3L)
    assert(!Bucketing.tieredFold(spark, "tfe_idx", mergeFraction = 1e9))
    assert(parts("tfe_idx") === Set("batch_id=1"),
      "the cancelled run writes no partition — layout stays base-only")
    assert(Bucketing.tableProperty(spark, "tfe_idx",
        Bucketing.RunAtProperty) === None,
      "no run marker may point at a partition that was never written")
    assert(Bucketing.foldedThrough(spark, "tfe_idx") === 3L,
      "the watermark still advances past the cancelled batches")
    // consumed batches still no-op on replay
    assert(!Dedup.retractShingleDfPartial(spark, quarter(2), "tfe_idx", 3L))
    // and probes see exactly the base
    Dedup.appendShingleDfPartial(spark,
      corpus.filter(pmod(col("doc_id"), lit(4)) <= 1), "tfe_reb", 0L)
    assert(rows(Dedup.noveltyIncremental(spark, delta, "tfe_idx"))
      === rows(Dedup.noveltyIncremental(spark, delta, "tfe_reb")))
    drop("tfe_idx", "tfe_reb")
  }

  test("q83 drives the run-level fold inside a STREAMED maintenance loop and probes identically to q81 (VERDICT r20 item 5)") {
    // the catalog row itself, at the spec fixture: its cadence (every 2
    // batches, mergeFraction the run can never exceed) must take the
    // run-level path mid-stream — observable on the per-kind fold
    // counter — and its probe must match q81's batch-merge layout
    // row for row (same data, same oracle, different fold path)
    graft.io.TempPaths.bumpEpoch()
    val runFoldsBefore = graft.io.FoldEvents.countOf("run-fold")
    val basesBefore = graft.io.FoldEvents.countOf("base-merge")
    val q83 = rows(graft.queries.StreamingQueries
      .q83StreamingRunFold(spark, sfDir))
    assert(graft.io.FoldEvents.countOf("run-fold") === runFoldsBefore + 1,
      "q83's second cadence firing must take the run-level path")
    assert(graft.io.FoldEvents.countOf("base-merge") === basesBefore + 1,
      "q83's first cadence firing (no base yet) must take the merge path")
    val q81 = rows(graft.queries.StreamingQueries
      .q81StreamingRetraction(spark, sfDir))
    assert(q83 === q81,
      "run-fold layout (base + pending-negative run + fresh tail) must " +
        "probe bit-identically to q81's base-merge layout")
  }
}
