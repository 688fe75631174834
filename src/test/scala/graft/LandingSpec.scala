package graft

import graft.io.Bucketing
import graft.ops.{Dedup, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types.LongType

/** The landing contract every index table shares: whatever the family,
  * and whether a batch build (batch 0) or a streamed batch lands it,
  * `Bucketing.landPartial` creates the table with one DDL and
  * lands each batch as its own `batch_id` partition, bucketed and sorted
  * on the family's probe keys, with the kind (and geometry) stamps on the
  * table from its creation. Driven through each family's public
  * `append*Partial` and `build*` entry points, so a family that stops
  * routing through the one landing path fails here. */
class LandingSpec extends SparkSpec {

  private val Buckets = 3
  private val Cents = "land_ivf_cents"

  /** One streamed table and the layout it must land in. */
  private case class Landed(table: String, keys: Seq[String], kind: String,
                            stamps: Map[String, String] = Map.empty)

  private val geom = Map(Bucketing.LshTablesProperty -> "4",
    Bucketing.LshBitsProperty -> "6")

  private val contracts = Seq(
    Landed("land_mh_bands", Seq("band_id", "band_hash"), "minhash-bands"),
    Landed("land_mh_sigs", Seq("doc_id"), "minhash-sigs"),
    Landed("land_window_df", Seq("h"), "window-df"),
    Landed("land_shingle_df", Seq("h"), "shingle-df"),
    Landed("land_ivf", Seq("cell"), "ivf-assign",
      Map(Bucketing.CentroidsProperty -> "16",
        Bucketing.CentroidsTableProperty -> Cents)),
    Landed("land_vec_bands", Seq("t", "bucket"), "vec-bands", geom),
    Landed("land_vec_payload", Seq("corpus_id"), "vec-payload", geom),
    Landed("land_line_df", Seq("h"), "line-df"),
    Landed("land_tok_counts", Seq("tok"), "tok-counts"),
    Landed("land_bench_grams", Seq("gram"), "bench-grams"),
    Landed("land_bm25_df", Seq("term"), "bm25-df"),
    Landed("land_kmv", Seq("lang"), "kmv-profile"),
    Landed("land_countmin", Seq("pos"), "countmin-2-256"),
    Landed("land_log2_hist", Seq("lang"), "log2-hist"))

  private def half(df: DataFrame, id: String, i: Int): DataFrame =
    df.filter(pmod(col(id), lit(2)) === i)

  /** Batch `i` of every streamed family, through its public entry point. */
  private def appendAll(i: Int): Unit = {
    val b = i.toLong
    val d = half(Tables.documents(spark, sfDir), "doc_id", i)
    val e = half(Tables.embeddings(spark, sfDir), "vec_id", i)
    Dedup.appendCorpusIndexPartial(spark, d, "land_mh_bands", "land_mh_sigs",
      b, buckets = Buckets)
    Dedup.appendWindowDfPartial(spark, d, "land_window_df", b, buckets = Buckets)
    Dedup.appendShingleDfPartial(spark, d, "land_shingle_df", b, buckets = Buckets)
    Similarity.appendIvfAssignPartial(spark, e, Cents, "land_ivf", b,
      buckets = Buckets)
    Similarity.appendVectorIndexPartial(spark, e, "land_vec_bands",
      "land_vec_payload", b, tables = 4, bitsPerTable = 6, buckets = Buckets)
    TextAnalysis.appendLineDfPartial(spark, d, "land_line_df", b, buckets = Buckets)
    TextAnalysis.appendTokenCountPartial(spark, d, "land_tok_counts", b,
      buckets = Buckets)
    TextAnalysis.appendBenchGramPartial(spark, d, "land_bench_grams", b,
      buckets = Buckets)
    TextAnalysis.appendBm25DfPartial(spark, d, "land_bm25_df", b, buckets = Buckets)
    Sketches.appendKmvPartial(spark, d, "land_kmv", b, buckets = Buckets)
    Sketches.appendCountMinPartial(spark, d, "land_countmin", b, depth = 2,
      width = 256, buckets = Buckets)
    Sketches.appendLog2HistogramPartial(spark, d, "land_log2_hist", b,
      buckets = Buckets)
  }

  test("all 14 streamed index tables land in one layout: batch_id partitions, bucketed on the probe keys, stamped at create") {
    (Cents +: contracts.map(_.table)).foreach(Bucketing.dropTable(spark, _))
    Similarity.buildIvfCentroids(Tables.embeddings(spark, sfDir), Cents)
    appendAll(0)
    appendAll(1)
    val cat = spark.sessionState.catalog
    for (c <- contracts) withClue(s"${c.table} (${c.kind}): ") {
      val meta = cat.getTableMetadata(TableIdentifier(c.table))
      assert(meta.partitionColumnNames === Seq("batch_id"))
      val spec = meta.bucketSpec.getOrElse(fail("not bucketed"))
      assert(spec.bucketColumnNames === c.keys)
      assert(spec.sortColumnNames === c.keys)
      assert(spec.numBuckets === Buckets)
      assert(meta.properties.get(Bucketing.KindProperty) === Some(c.kind))
      c.stamps.foreach { case (k, v) => assert(meta.properties.get(k) === Some(v), k) }
      // stored as saveAsTable stores columns: all nullable, batch_id last
      assert(meta.schema.forall(_.nullable))
      assert(meta.schema.last.name === "batch_id" &&
        meta.schema.last.dataType === LongType)
      assert(cat.listPartitionNames(TableIdentifier(c.table)).sorted ===
        Seq("batch_id=0", "batch_id=1"))
    }
    (Cents +: contracts.map(_.table)).foreach(Bucketing.dropTable(spark, _))
  }

  test("all 9 batch builders land batch 0 of the same layout: batch_id partitions, sorted on the bucket keys, stamped at create") {
    val d = Tables.documents(spark, sfDir).filter(col("doc_id") < 20L)
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 40L)
    // each builder and the tables it lands (the exact graft.* stamps)
    val builds: Seq[(() => Unit, Seq[Landed])] = Seq(
      (() => Dedup.buildCorpusIndex(d, "lb_mh_bands", "lb_mh_sigs", buckets = Buckets),
        Seq(Landed("lb_mh_bands", Seq("band_id", "band_hash"), "minhash-bands"),
          Landed("lb_mh_sigs", Seq("doc_id"), "minhash-sigs"))),
      (() => Similarity.buildVectorIndex(e, "lb_vec_bands", "lb_vec_payload",
          tables = 4, bitsPerTable = 6, buckets = Buckets),
        Seq(Landed("lb_vec_bands", Seq("t", "bucket"), "vec-bands", geom),
          Landed("lb_vec_payload", Seq("corpus_id"), "vec-payload", geom))),
      (() => Similarity.buildIvfIndex(e, "lb_ivf", nCentroids = 4, buckets = Buckets),
        Seq(Landed("lb_ivf", Seq("cell"), "ivf-assign",
          Map(Bucketing.CentroidsProperty -> "4")))),
      (() => Dedup.buildShingleDfIndex(d, "lb_shingle_df", buckets = Buckets),
        Seq(Landed("lb_shingle_df", Seq("h"), "shingle-df"))),
      (() => TextAnalysis.buildLineDfIndex(d, "lb_line_df", buckets = Buckets),
        Seq(Landed("lb_line_df", Seq("h"), "line-df"))),
      (() => Dedup.buildWindowDfIndex(d, "lb_window_df", buckets = Buckets),
        Seq(Landed("lb_window_df", Seq("h"), "window-df"))),
      (() => TextAnalysis.buildBenchGramIndex(d, "lb_bench_grams", buckets = Buckets),
        Seq(Landed("lb_bench_grams", Seq("gram"), "bench-grams"))),
      (() => TextAnalysis.buildBm25DfIndex(d, "lb_bm25_df", buckets = Buckets),
        Seq(Landed("lb_bm25_df", Seq("term"), "bm25-df"))),
      // the one single-bucket table: the pinned centroid artifact
      (() => Similarity.buildIvfCentroids(e, "lb_ivf_cents", nCentroids = 4),
        Seq(Landed("lb_ivf_cents", Seq("cent_id"), "ivf-centroids"))))
    val cat = spark.sessionState.catalog
    for ((build, tables) <- builds) {
      build()
      for (c <- tables) withClue(s"${c.table} (${c.kind}): ") {
        val meta = cat.getTableMetadata(TableIdentifier(c.table))
        assert(meta.partitionColumnNames === Seq("batch_id"))
        val spec = meta.bucketSpec.getOrElse(fail("not bucketed"))
        assert(spec.bucketColumnNames === c.keys)
        assert(spec.sortColumnNames === c.keys)
        assert(meta.properties.filter(_._1.startsWith("graft.")) ===
          Map(Bucketing.KindProperty -> c.kind) ++ c.stamps,
          "exactly the kind and geometry stamps")
        assert(cat.listPartitionNames(TableIdentifier(c.table)) ===
          Seq("batch_id=0"))
        Bucketing.dropTable(spark, c.table)
      }
    }
  }

  test("landPartial evaluates its stamps only when it creates the table") {
    import spark.implicits._
    val t = "land_lazy_stamps"
    Bucketing.dropTable(spark, t)
    var evaluated = 0
    def stamps: Map[String, String] = {
      evaluated += 1
      Map(Bucketing.CentroidsProperty -> "7")
    }
    (0L to 2L).foreach { b =>
      assert(Bucketing.landPartial(spark, Seq((b, 1L)).toDF("h", "df_corpus"),
        t, "shingle-df", Seq("h"), Buckets, b, stamps))
    }
    assert(evaluated === 1, "stamps must be evaluated once, at create")
    assert(Bucketing.tableProperty(spark, t, Bucketing.CentroidsProperty) ===
      Some("7"))
    assert(spark.table(t).count() === 3L)
    Bucketing.dropTable(spark, t)
  }
}
