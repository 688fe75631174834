package graft.ops

import graft.functions.VectorFunctions.{lsh_codes, vec_dot, vec_norm}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.ArrayType
import scala.jdk.CollectionConverters._

/** Embedding similarity search over an `array<float>` column.
  *
  * Vector math runs through the native codegen'd `VecDot` expression
  * (graft.functions) — a tight primitive loop, no per-pair allocation —
  * with the same left-to-right accumulation order as the DuckDB oracle's
  * sequential list_sum, so values stay bit-identical. Norms are
  * precomputed once per side BEFORE the pair join: an all-pairs plan that
  * recomputes norms per pair does 3x the vector work for nothing.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the candidate table — no shuffle on the candidate side until
  * the final per-query top-k; the LSH path hashes every vector to
  * random-hyperplane bucket codes so each query compares only against
  * its bucket-mates, the 100 TB-friendly plan (bucket lookup instead of
  * full cross product).
  */
object Similarity {

  /** Left-fold dot product in double precision (kept as the public
    * combinator; delegates to the native expression). */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def l2norm(a: Column): Column = vec_norm(a)

  def cosine(a: Column, b: Column): Column = vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** Brute-force cosine top-k: every vec_id divisible by `queryStride` is
    * a query; each query's k nearest candidates (excluding itself) by
    * cosine, rounded to 6 decimals with doc-id tiebreak so ordering is
    * well-defined across engines.
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 10, queryStride: Int = 50): DataFrame = {
    val q = embeddings.filter(pmod(col("vec_id"), lit(queryStride)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        vec_norm(col("embedding")).as("q_norm"))
    val c = embeddings.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      vec_norm(col("embedding")).as("c_norm"))
    val pairs = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(vec_dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 6))
    // bounded top-k aggregation, not a window: partial k-buffers merge
    // map-side, so the shuffle carries k rows per (query, task) instead
    // of sorting every candidate row per query
    pairs.groupBy(col("q_id"))
      .agg(graft.functions.TopKAggregator.top_k(k)(col("cos_sim"), col("c_id")).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("t"))
      .select(col("q_id"), col("t.id").as("c_id"), col("t.score").as("cos_sim"))
  }

  /** Exact nearest neighbor for EVERY vector (k=1 all-pairs form):
    * deterministic, one row per vector — the correctness baseline the
    * LSH/IVF path approximates. */
  def nearestNeighbor(embeddings: DataFrame): DataFrame = {
    val a = embeddings.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      vec_norm(col("embedding")).as("q_norm"))
    val b = embeddings.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      vec_norm(col("embedding")).as("c_norm"))
    val pairs = a.join(b, col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(vec_dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 6))
    val best = pairs.groupBy(col("q_id"))
      .agg(max(struct(col("cos_sim"), (-col("c_id")).as("neg_id"))).as("m"))
    best.select(col("q_id"), (-col("m.neg_id")).cast("long").as("nn_id"),
      col("m.cos_sim").as("cos_sim"))
  }

  /** Deterministic random hyperplanes: nBits x dim gaussian matrix from a
    * fixed seed. */
  private[graft] def hyperplanes(nBits: Int, dim: Int, seed: Long = 123L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection LSH bucket id (nBits-bit long): the one
    * table of [[lshBucketsMulti]] with `tables = 1`. */
  def lshBucket(emb: Column, nBits: Int = 12, dim: Int = 64): Column =
    lshBucketsMulti(emb, 1, nBits, dim).getItem(0)

  /** Per-table bit sizing: bitsPerTable grows with log2(n) so expected
    * bucket occupancy stays ~`targetOccupancy` as the corpus grows —
    * candidate volume per query is then O(tables * occupancy), constant
    * in n, instead of the n/2^bits a FIXED bucket count degrades to.
    * n comes from a parquet-footer count (metadata-only scan).
    */
  def adaptiveBitsPerTable(n: Long, targetOccupancy: Int = 64): Int = {
    val needed = math.ceil(math.log(math.max(2.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.max(1, math.min(24, needed))
  }

  /** Resolve the `bitsPerTable = 0` auto sentinel via a corpus count. */
  private def resolveBits(embeddings: DataFrame, bitsPerTable: Int): Int =
    if (bitsPerTable > 0) bitsPerTable else adaptiveBitsPerTable(embeddings.count())

  /** Multi-table sign-LSH bucket ids: `tables` independent b-bit codes
    * from consecutive slices of the seeded hyperplane sequence (table t
    * uses planes [t*b, (t+1)*b)). A pair is a candidate if it collides in
    * ANY table — recall 1-(1-p^b)^L for collision prob p per plane, the
    * standard LSH amplification. A SINGLE table (the round-1 design) has
    * recall p^b, which decays fast with b: at 8 bits and cos 0.9 only
    * ~29% of true near-dups collide. Banding fixes recall while keeping
    * candidate volume ~ n * tables * occupancy, linear in n. Computed by
    * the native `LshCodes` kernel: each bit is `vec_dot(emb, plane) > 0`
    * (SimilaritySpec pins the identity). */
  def lshBucketsMulti(emb: Column, tables: Int, bitsPerTable: Int,
                      dim: Int = 64): Column =
    lsh_codes(emb, hyperplanes(tables * bitsPerTable, dim), bitsPerTable)

  /** LSH-bucketed approximate top-k: candidates are vectors colliding
    * with the query in any of `tables` hash tables; survivors are scored
    * exactly and top-k'd. `bitsPerTable = 0` (default) sizes the bucket
    * space from the corpus count.
    *
    * Scale shape: one driver job gathers the query block and the corpus
    * count; then ONE narrow pass over `embeddings` hashes each row, looks
    * its codes up in the query block's (table, bucket) map and scores the
    * distinct hits, with no join and no candidate `distinct`. The bounded
    * top-k merge is the only shuffle (k rows per query and task). No
    * stage touches the n² pair space.
    */
  def lshTopK(embeddings: DataFrame, k: Int = 10, queryStride: Int = 50,
              tables: Int = 8, bitsPerTable: Int = 0): DataFrame =
    boundedTopK(lshScoredCandidates(embeddings, queryStride, tables, bitsPerTable), k)

  /** Exactly-scored LSH candidate pairs (q_id, c_id, cos_sim): distinct
    * any-table bucket collisions against the stride-selected query set,
    * scored with the native dot — the shared feed for [[lshTopK]] and
    * [[hardNegatives]]. Precondition: `vec_id` is a key of `embeddings`.
    *
    * 1. One job, no shuffle: each partition returns its row count and its
    *    query rows (`pmod(vec_id, queryStride) = 0`, with `embedding` and
    *    the Spark-evaluated `vec_norm`). The counts size the bits when
    *    `bitsPerTable = 0`. The query block is n/stride rows, the set a
    *    broadcast-join plan would ship to every task anyway.
    * 2. The query codes come from the same [[lshBucketsMulti]] expression,
    *    evaluated over the block as a local relation (no job).
    * 3. One narrow pass over `embeddings`: each row's codes index the
    *    (table, bucket) → query map, the distinct hits explode against
    *    the block literal and are scored; self pairs are dropped.
    */
  private def lshScoredCandidates(embeddings: DataFrame, queryStride: Int,
                                  tables: Int, bitsPerTable: Int): DataFrame = {
    val rows = embeddings.select(col("vec_id"), col("embedding"),
      vec_norm(col("embedding")).as("vec_norm"),
      (pmod(col("vec_id"), lit(queryStride)) === 0).as("is_query"))
    val parts = rows.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      val queries = Array.newBuilder[InternalRow]
      for (r <- it) {
        n += 1
        if (!r.isNullAt(3) && r.getBoolean(3)) queries += r.copy()
      }
      Iterator.single((n, queries.result()))
    }.collect()
    val block = parts.flatMap(_._2)
    val b = if (bitsPerTable > 0) bitsPerTable
      else adaptiveBitsPerTable(parts.map(_._1).sum)
    val toRow = CatalystTypeConverters.createToScalaConverter(rows.schema)
    val queryCodes = embeddings.sparkSession
      .createDataFrame(block.map(toRow(_).asInstanceOf[Row]).toSeq.asJava, rows.schema)
      .select(lshBucketsMulti(col("embedding"), tables, b))
      .collect().map(_.getSeq[Long](0))
    val byBucket = (for ((codes, qi) <- queryCodes.zipWithIndex;
                         (code, t) <- codes.zipWithIndex) yield (t, code) -> qi)
      .groupMap(_._1)(_._2)
    val hits = udf((codes: Seq[Long]) => codes.zipWithIndex.flatMap {
      case (code, t) => byBucket.getOrElse((t, code), Array.empty[Int]) })
    val q = element_at(ColumnBridge.column(Literal(new GenericArrayData(block),
      ArrayType(rows.schema, containsNull = false))), col("qi") + 1)
    embeddings.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        vec_norm(col("embedding")).as("c_norm"),
        explode(array_distinct(hits(lshBucketsMulti(col("embedding"), tables, b))))
          .as("qi"))
      .select(q.getField("vec_id").as("q_id"), col("c_id"),
        q.getField("embedding").as("q_emb"), q.getField("vec_norm").as("q_norm"),
        col("c_emb"), col("c_norm"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim",
        round(vec_dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 6))
  }

  /** Bounded per-query top-k over scored pairs (partial k-buffers merge
    * map-side; the shuffle carries k rows per (query, task)). A null
    * cosine (a null embedding on either side) is no neighbour: the
    * aggregate's scores are primitive, so it would rank as 0.0. */
  private def boundedTopK(scored: DataFrame, k: Int): DataFrame =
    scored.filter(col("cos_sim").isNotNull).groupBy(col("q_id"))
      .agg(graft.functions.TopKAggregator.top_k(k)(col("cos_sim"), col("c_id")).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("t"))
      .select(col("q_id"), col("t.id").as("c_id"), col("t.score").as("cos_sim"))

  /** Hard-negative mining for contrastive training: per query, the top-k
    * LSH candidates inside the cosine band [lo, hi) — similar enough to
    * be informative negatives, strictly below the positive/near-dup
    * ceiling. Same bucketed candidate generation as [[lshTopK]] (never
    * the n² pair space); the band filter runs before the bounded top-k
    * aggregate, so the shuffle carries at most k rows per query-task. */
  def hardNegatives(embeddings: DataFrame, lo: Double = 0.1, hi: Double = 0.35,
                    k: Int = 10, queryStride: Int = 50, tables: Int = 8,
                    bitsPerTable: Int = 0): DataFrame =
    boundedTopK(
      lshScoredCandidates(embeddings, queryStride, tables, bitsPerTable)
        .filter(col("cos_sim") >= lo && col("cos_sim") < hi),
      k)

  /** IVF (inverted-file) approximate search: a coarse quantizer of
    * `nCentroids` deterministically hash-sampled vectors assigns each
    * vector to its nearest centroid cell; queries probe only the `nProbe`
    * nearest cells. Unlike sign-LSH this adapts to the data distribution.
    *
    * Centroid count is FIXED (caller-chosen; ~sqrt(n) in production), not
    * proportional to corpus size — assignment is then O(n * nCentroids)
    * work under a bounded broadcast, and search pair volume is
    * n * (nProbe / nCentroids) of brute force. Selection is a
    * TakeOrderedAndProject over a Knuth multiplicative scramble of the id
    * (plain arithmetic, so the DuckDB oracle can replay it) — no full
    * shuffle, no collect, deterministic across runs and partitionings.
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 10, queryStride: Int = 50,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (assign, probes) = ivfParts(embeddings, queryStride, nCentroids, nProbe)
    ivfRank(assign, probes, k)
  }

  /** Shared probe-and-rank tail: candidates = assigned vectors in the
    * query's probed cells (probe side broadcast — bounded by queries x
    * nProbe), exact cosine on survivors, per-query top-k window. */
  private def ivfRank(assign: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val pairs = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        round(vec_dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("nrm")), 6))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    pairs.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("c_id"), col("cell"), col("cos_sim"))
  }

  /** Persist the IVF coarse-quantizer ASSIGNMENT as a bucketed table —
    * the build-once half of a production vector index: the O(n x
    * nCentroids) argmax scoring and its aggregate shuffle are paid once
    * at build time, and every future query batch probes the stored
    * (vec_id, cell, embedding, nrm) rows directly. Bucketed on `cell`
    * (the full probe-join key) so even a non-broadcast probe join runs
    * with no index-side exchange. Lands as batch 0 of the
    * [[appendIvfAssignPartial]] layout. */
  def buildIvfIndex(embeddings: DataFrame, table: String,
                    nCentroids: Int = 16, buckets: Int = 8): Unit = {
    val (assign, _) = ivfParts(embeddings, queryStride = 50, nCentroids, nProbe = 1)
    // persist the quantizer geometry (VERDICT r19 item 3): a probe must
    // score against the SAME centroid count the build pinned
    graft.io.Bucketing.landBuild(embeddings.sparkSession, assign, table,
      "ivf-assign", Seq("cell"), buckets,
      Map(graft.io.Bucketing.CentroidsProperty -> nCentroids.toString))
  }

  /** The probe half: identical semantics to [[ivfTopK]] (same centroid
    * geometry — `nCentroids` MUST match the index build; probes are
    * derived from the same deterministic scramble), but the corpus side
    * reads the persisted [[buildIvfIndex]] table, so a query batch costs
    * probe-derivation + one broadcast join over the stored assignment —
    * no per-run argmax aggregate, no corpus-side shuffle (asserted in
    * ExplainSpec). */
  def ivfTopKAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          embeddings: DataFrame, table: String, k: Int = 10,
                          queryStride: Int = 50, nCentroids: Int = 16,
                          nProbe: Int = 4,
                          tombstonesTable: Option[String] = None): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "ivf-assign")
    val (_, probes) = ivfParts(embeddings, queryStride, nCentroids, nProbe)
    ivfRank(graft.io.Tombstones.filterRetracted(spark, idx, "vec_id",
      tombstonesTable, "ivf-tombs"), probes, k)
  }

  /** [[ivfTopKAgainstIndex]] with probes derived against an EXPLICIT
    * pinned centroid artifact ([[buildIvfCentroids]]) instead of
    * re-deriving the quantizer from the probe source (ADVICE r20,
    * high). The stored index's cell ids are meaningful only under the
    * quantizer that assigned them: a probe whose AS source differs from
    * the CREATE source — a delta batch, or the corpus after APPENDs,
    * the natural incremental usage — would derive a DIFFERENT centroid
    * set and its probed cells would silently miss the index's. The SQL
    * `PROBE ivf` path routes here; identical output to
    * [[ivfTopKAgainstIndex]] whenever the probe source happens to equal
    * the artifact's training source. */
  def ivfTopKAgainstIndexWithCentroids(
      spark: org.apache.spark.sql.SparkSession, embeddings: DataFrame,
      table: String, centroidsTable: String, k: Int = 10,
      queryStride: Int = 50, nProbe: Int = 4,
      tombstonesTable: Option[String] = None): DataFrame = {
    val idx = graft.io.Bucketing.openIndex(spark, table, "ivf-assign")
    val probes = ivfProbes(embeddings,
      graft.io.Bucketing.openIndex(spark, centroidsTable, "ivf-centroids"),
      queryStride, nProbe)
    ivfRank(graft.io.Tombstones.filterRetracted(spark, idx, "vec_id",
      tombstonesTable, "ivf-tombs"), probes, k)
  }

  /** Shared IVF coarse-quantizer stages: `assign` = (vec_id, cell,
    * embedding, nrm) — every vector in its argmax-cosine centroid cell;
    * `probes` = (q_id, q_emb, q_norm, cell) — each stride-query paired
    * with its nProbe nearest cells. */
  private[graft] def ivfParts(embeddings: DataFrame, queryStride: Int,
                              nCentroids: Int, nProbe: Int): (DataFrame, DataFrame) = {
    val centroids = ivfCentroids(embeddings, nCentroids)
    (ivfAssignAgainst(embeddings, centroids),
      ivfProbes(embeddings, centroids, queryStride, nProbe))
  }

  /** The IVF coarse quantizer's centroid set: `nCentroids` vectors
    * picked by the deterministic Knuth scramble of vec_id — the
    * provisioning-time artifact a production index trains offline and
    * pins for its lifetime (cell ids are meaningless unless every
    * assignment, batch or streamed, scores against the SAME set). */
  private[graft] def ivfCentroids(embeddings: DataFrame,
                                  nCentroids: Int): DataFrame = {
    val scramble = Clustering.knuthScramble(col("vec_id"))
    embeddings.orderBy(scramble.asc, col("vec_id").asc).limit(nCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        vec_norm(col("embedding")).as("cent_norm"))
  }

  /** Argmax-cosine cell assignment against an explicit centroid set —
    * the ONE implementation the batch build and the streamed per-batch
    * maintenance share, so the two index layouts cannot drift on
    * scoring or tie-breaks (max-struct: ties go to the higher cent_id).
    */
  private[graft] def ivfAssignAgainst(vectors: DataFrame,
                                      centroids: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(centroids))
      .withColumn("cent_cos",
        vec_dot(col("embedding"), col("cent_emb")) / (col("nrm") * col("cent_norm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cent_cos"), col("cent_id"))).as("m"),
        first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("m.cent_id").as("cell"), col("embedding"),
        col("nrm"))

  /** Each stride-query paired with its nProbe nearest cells (filter
    * BEFORE the centroid cross join — only queries score centroids). */
  private[graft] def ivfProbes(embeddings: DataFrame, centroids: DataFrame,
                               queryStride: Int, nProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cent_cos").desc, col("cent_id").asc)
    embeddings.filter(pmod(col("vec_id"), lit(queryStride)) === 0)
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(centroids))
      .withColumn("cent_cos",
        vec_dot(col("embedding"), col("cent_emb")) / (col("nrm") * col("cent_norm")))
      .withColumn("rp", row_number().over(w)).filter(col("rp") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("cent_id").as("cell"))
  }

  /** Persist the pinned centroid artifact for STREAMED IVF maintenance
    * ([[appendIvfAssignPartial]]): trained once at provisioning time,
    * read by every maintenance batch. Tiny (nCentroids rows), so it
    * lands as batch 0 in ONE bucket on `cent_id` — one file, and the
    * one layout every kind-stamped table shares. */
  def buildIvfCentroids(embeddings: DataFrame, table: String,
                        nCentroids: Int = 16): Unit =
    graft.io.Bucketing.landBuild(embeddings.sparkSession,
      ivfCentroids(embeddings, nCentroids), table, "ivf-centroids",
      Seq("cent_id"), buckets = 1)

  /** STREAMED IVF maintenance: assign one ingest micro-batch against
    * the pinned [[buildIvfCentroids]] artifact and land it as its own
    * batch_id partition of the assignment table (bucketed on `cell`
    * within every partition — the probe join's key). Replay is
    * idempotent: each attempt dynamic-partition-overwrites exactly its
    * own partition, the q68 discipline. Cell assignments are per-vector
    * independent, so partitioned partials ARE the index — a probe reads
    * the table as one index whatever the batching (the batch_id column
    * rides along and is dropped by the probe's projection). This is how
    * a production IVF index rides continuous ingest: the quantizer is
    * retrained offline, never per batch. */
  def appendIvfAssignPartial(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, centroidsTable: String,
                             table: String, batchId: Long,
                             buckets: Int = 8): Unit = {
    val cents = graft.io.Bucketing.openIndex(spark, centroidsTable, "ivf-centroids")
    // geometry stamp: centroid count + the pinned artifact's name, so
    // SQL APPEND/PROBE re-read the provisioning instead of guessing
    graft.io.Bucketing.landPartial(spark, ivfAssignAgainst(batch, cents),
      table, "ivf-assign", Seq("cell"), buckets, batchId,
      Map(graft.io.Bucketing.CentroidsProperty -> cents.count().toString,
        graft.io.Bucketing.CentroidsTableProperty -> centroidsTable))
  }

  /** STREAMED vector-index maintenance: band one ingest micro-batch
    * with the PINNED geometry (`tables` x `bitsPerTable` — sized at
    * provisioning time for the expected corpus scale; unlike the batch
    * build it can NOT be re-derived per batch, or early batches would
    * band under a different bucket width than late ones) and land its
    * postings + verify payloads as batch_id partitions of the two
    * index tables. Postings are per-vector independent, so partitioned
    * partials ARE the index; replay idempotently overwrites its own
    * partition. */
  def appendVectorIndexPartial(spark: org.apache.spark.sql.SparkSession,
                               batch: DataFrame, bandsTable: String,
                               vecsTable: String, batchId: Long,
                               tables: Int, bitsPerTable: Int,
                               buckets: Int = 8): Unit = {
    require(bitsPerTable > 0,
      "streamed vector-index maintenance needs an explicit pinned " +
        "bitsPerTable — per-batch adaptive sizing would band batches " +
        "under drifting bucket widths")
    val bands = batch.select(col("vec_id"),
      posexplode(lshBucketsMulti(col("embedding"), tables, bitsPerTable)))
      .toDF("corpus_id", "t", "bucket")
    val vecs = batch.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), vec_norm(col("embedding")).as("c_nrm"))
    val geom = Map(graft.io.Bucketing.LshTablesProperty -> tables.toString,
      graft.io.Bucketing.LshBitsProperty -> bitsPerTable.toString)
    // the two tables share no state, so their landings overlap (guide
    // §2.6, optimization r22): per micro-batch the vecs write used to
    // wait out the full bands job (bands ~0.48 s + vecs ~0.25 s per
    // batch, sequential, OPTIMIZATION_r22); concurrent submission makes the
    // pair cost ~max of the two
    graft.io.Bucketing.concurrently(
      graft.io.Bucketing.landPartial(spark, bands, bandsTable, "vec-bands",
        Seq("t", "bucket"), buckets, batchId, geom),
      graft.io.Bucketing.landPartial(spark, vecs, vecsTable, "vec-payload",
        Seq("corpus_id"), buckets, batchId, geom))
  }

  /** IVF-PQ: the coarse quantizer prunes to nProbe cells (as ivfTopK),
    * then candidates are ranked by PRODUCT-QUANTIZED asymmetric distance
    * (ADC) instead of the exact vector dot — the memory-bound regime's
    * standard trade: each candidate costs `subspaces` code lookups in a
    * per-query distance table rather than a dim-wide multiply, and an
    * index at rest stores `subspaces` bytes per vector, not 4*dim.
    *
    * Codebook: `codebookSize` deterministically hash-sampled vectors,
    * sliced into `subspaces` sub-codebooks (same Knuth-scramble sample
    * the IVF/k-means steps use — plain arithmetic, so the whole pipeline
    * replays in SQL). Encoding = per-subspace argmin squared-L2 code;
    * query LUT = d2(q_sub, centroid) per (query, subspace, centroid);
    * ADC = fixed-order sum of the `subspaces` looked-up entries.
    * Distances combine in a FIXED column order (d0+d1+d2+d3), never a
    * shuffle-order aggregate, so results are bit-stable across engines
    * and partitionings.
    *
    * Subspace slicing runs through the native `SubVectors` expression
    * (one pass per row) rather than interpreted transform/slice HOF
    * lambdas. */
  def ivfPqTopK(embeddings: DataFrame, k: Int = 10, queryStride: Int = 50,
                nCentroids: Int = 16, nProbe: Int = 4,
                subspaces: Int = 4, codebookSize: Int = 8,
                dim: Int = 64): DataFrame = {
    require(dim % subspaces == 0, "dim must divide evenly into subspaces")
    val scramble = Clustering.knuthScramble(col("vec_id"))
    def subVecs(df: DataFrame, idAs: String, embAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
        posexplode(graft.functions.VectorFunctions
          .subvectors(col("embedding"), subspaces)))
        .toDF(idAs, "s", embAs)
    val codebook = subVecs(
      embeddings.orderBy(scramble.asc, col("vec_id").asc).limit(codebookSize),
      "cent_id", "ce")
    val d2 = (v: Column, c: Column) =>
      vec_dot(v, v) - lit(2.0) * vec_dot(v, c) + vec_dot(c, c)
    // encode every vector: per-subspace argmin-d2 code (tie: lower id)
    val vsubs = subVecs(embeddings, "vec_id", "ve")
    val codes = vsubs.join(broadcast(codebook), Seq("s"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(d2(col("ve"), col("ce")).as("d2"),
        col("cent_id").as("code"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.code").as("code"))
    // per-query lookup table: d2 to every sub-centroid
    val lut = subVecs(
        embeddings.filter(pmod(col("vec_id"), lit(queryStride)) === 0),
        "q_id", "qe")
      .join(broadcast(codebook), Seq("s"))
      .select(col("q_id"), col("s"), col("cent_id"),
        d2(col("qe"), col("ce")).as("d2"))
    // coarse-quantizer candidates, then ADC ranking over code lookups
    val (assign, probes) = ivfParts(embeddings, queryStride, nCentroids, nProbe)
    val cand = assign.join(broadcast(probes.select(col("q_id"), col("cell"))),
        Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"))
    val lutByCode = lut.withColumnRenamed("cent_id", "code")
    val parts = cand.join(codes.withColumnRenamed("vec_id", "c_id"), Seq("c_id"))
      .join(broadcast(lutByCode), Seq("q_id", "s", "code"))
    val dCols = (0 until subspaces).map(i =>
      sum(when(col("s") === i, col("d2"))).as(s"d$i"))
    val adist = round((0 until subspaces).map(i => col(s"d$i")).reduce(_ + _), 6)
    val agg = parts.groupBy(col("q_id"), col("c_id"))
      .agg(dCols.head, dCols.tail: _*)
      .withColumn("adist", adist)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adist").asc, col("c_id").asc)
    agg.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("adist"))
  }

  /** Reciprocal-rank fusion of per-query candidate lists — the hybrid
    * retrieval combiner (e.g. LSH + IVF, or lexical + dense): each list
    * contributes 1/(rrfK + rank) per candidate, summed across lists,
    * re-ranked top-k. Lists need only (q_id, c_id, cos_sim); ranks are
    * recomputed with the catalog's canonical ordering (score desc, id
    * asc) so fused output is engine-independent.
    *
    * Determinism at N lists: contributions are rounded to 9 decimals
    * and summed as exact decimals — double partial-aggregation order
    * across 3+ lists would otherwise perturb low bits. Scale: every
    * window runs over one query's bounded top-k list (k rows), and the
    * fuse groupBy carries one row per (query, candidate, list) — no
    * corpus-sized state anywhere. */
  def rrfFuseTopK(lists: Seq[DataFrame], k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuseTopK: need at least one candidate list")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
    val contribs = lists.map { df =>
      df.select(col("q_id"), col("c_id"), row_number().over(w).as("rank"))
        .select(col("q_id"), col("c_id"),
          round(lit(1.0) / (lit(rrfK) + col("rank")), 9)
            .cast("decimal(18,9)").as("contrib"))
    }.reduce(_ unionByName _)
    val fused = contribs.groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("contrib")).cast("double").as("rrf_score"),
        count(lit(1)).as("n_lists"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rrf_score").desc, col("c_id").asc)
    fused.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("rrf_score"), col("n_lists"))
  }

  /** CROSS-MODAL hybrid retrieval: reciprocal-rank-fuse the LEXICAL
    * (BM25, [[graft.ops.TextAnalysis.bm25TopK]]) and VECTOR (brute
    * cosine, [[bruteForceTopK]]) top-k lists for the shared query set —
    * the standard RAG retrieval stack, where each modality misses what
    * the other catches (lexical: exact-term matches vector smooths
    * over; vector: paraphrases sharing no tokens). The candidate/query
    * domain is the docs that HAVE an embedding (doc_id = vec_id); the
    * query set is the p90 convention (every `queryEvery`-th id), so
    * both lists answer the same questions. RRF (1/(rrfK+rank), summed
    * as exact decimals — the p44 discipline) needs no score
    * calibration between BM25 and cosine, which is why it is the
    * standard combiner. The re-rank windows run over ≤ 2k rows per
    * query (the already-truncated lists), never over candidates.
    * Self-handling is each list's own: lexical may retrieve the query
    * doc itself, the vector list never does (the p10 `q ≠ c`
    * convention) — fusion sees both honestly. */
  def hybridRrfTopK(docs: DataFrame, embeddings: DataFrame, k: Int = 10,
                    rrfK: Int = 60, queryEvery: Int = 100): DataFrame = {
    val dom = embeddings.select(col("vec_id").as("doc_id"))
    val cdocs = docs.join(dom, Seq("doc_id"), "left_semi")
    val lex = graft.ops.TextAnalysis.bm25TopK(cdocs, k = k,
        queryEvery = queryEvery)
      .select(col("query_id").as("q_id"), col("doc_id").as("c_id"),
        col("rank"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
    val vec = bruteForceTopK(embeddings, k = k, queryStride = queryEvery)
      .select(col("q_id"), col("c_id"),
        row_number().over(wv).cast("long").as("rank"))
    val contribs = lex.unionByName(vec)
      .select(col("q_id"), col("c_id"),
        round(lit(1.0) / (lit(rrfK) + col("rank")), 9)
          .cast("decimal(18,9)").as("contrib"))
    val fused = contribs.groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("contrib")).cast("double").as("rrf_score"),
        count(lit(1)).as("n_lists"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rrf_score").desc, col("c_id").asc)
    fused.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("rrf_score"), col("n_lists"))
  }

  /** Per-vector dedup verdict: a vector is a duplicate if some LOWER-id
    * vector in its LSH bucket exceeds the cosine threshold (keep-first
    * policy). One row per vector, always — is_dup + best match evidence.
    */
  def cosineDedupVerdicts(embeddings: DataFrame, threshold: Double = 0.9,
                          tables: Int = 8, bitsPerTable: Int = 0): DataFrame = {
    val pairs = cosineNearDupPairs(embeddings, threshold, tables, bitsPerTable)
    val best = pairs.groupBy(col("right_id").as("vec_id"))
      .agg(max(struct(col("cos_sim"), col("left_id"))).as("m"))
      .select(col("vec_id"), col("m.left_id").as("dup_of"), col("m.cos_sim").as("dup_cos"))
    embeddings.select(col("vec_id")).join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("dup_cos"))
  }

  /** Embedding-cosine near-duplicate pairs (cos >= threshold, left < right),
    * multi-table LSH-prefiltered: candidates collide in ANY of `tables`
    * hash tables (same amplification story as lshTopK), deduped, then
    * scored exactly — only survivors carry embedding payloads. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double = 0.9,
                         tables: Int = 8, bitsPerTable: Int = 0): DataFrame = {
    val b = resolveBits(embeddings, bitsPerTable)
    val posed = embeddings.select(col("vec_id"),
      posexplode(lshBucketsMulti(col("embedding"), tables, b)))
      .toDF("vec_id", "t", "bucket")
    val l = posed.select(col("vec_id").as("left_id"), col("t"), col("bucket"))
    val r = posed.select(col("vec_id").as("right_id"), col("t"), col("bucket"))
    val cand = l.join(r, Seq("t", "bucket"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id")).distinct()
    val le = embeddings.select(col("vec_id").as("left_id"),
      col("embedding").as("l_emb"), vec_norm(col("embedding")).as("l_norm"))
    val re = embeddings.select(col("vec_id").as("right_id"),
      col("embedding").as("r_emb"), vec_norm(col("embedding")).as("r_norm"))
    cand.join(le, Seq("left_id")).join(re, Seq("right_id"))
      .withColumn("cos_sim",
        round(vec_dot(col("l_emb"), col("r_emb")) / (col("l_norm") * col("r_norm")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("left_id"), col("right_id"), col("cos_sim"))
  }

  // -------------------------------------------------------------------
  // Incremental embedding dedup against a persisted vector index — the
  // embedding analogue of Dedup.buildCorpusIndex/
  // incrementalVerdictsAgainstIndex (reference semantics: the same
  // keep-first near-dup policy as cosineDedupVerdicts, restricted to
  // NEW vectors vs an EXISTING corpus — the daily-ingest shape).
  // -------------------------------------------------------------------

  /** Shared probe + exact-verify + argmax tail of the incremental
    * cosine family. `bandsC` must carry (corpus_id, t, bucket); `vecsC`
    * (corpus_id, c_emb, c_nrm). Candidates = delta vectors colliding
    * with a corpus vector in ANY of the multi-table sign-LSH buckets;
    * survivors are scored exactly, rounded BEFORE the argmax so oracle
    * tie-breaks see the same keys; best match ties to the LOWEST corpus
    * id (struct-max — one cell per delta vector, no per-candidate
    * window). One verdict row per delta vector, always. */
  private def incrementalCosineFrom(delta: DataFrame, bandsC: DataFrame,
                                    vecsC: DataFrame, tables: Int,
                                    bits: Int, threshold: Double): DataFrame = {
    val dPosed = delta.select(col("vec_id"),
      posexplode(lshBucketsMulti(col("embedding"), tables, bits)))
      .toDF("new_id", "t", "bucket")
    val candidates = dPosed.join(bandsC, Seq("t", "bucket"))
      .select(col("new_id"), col("corpus_id")).distinct()
    val dv = delta.select(col("vec_id").as("new_id"),
      col("embedding").as("d_emb"), vec_norm(col("embedding")).as("d_nrm"))
    val best = candidates.join(dv, "new_id").join(vecsC, "corpus_id")
      .withColumn("cos_sim",
        round(vec_dot(col("d_emb"), col("c_emb")) / (col("d_nrm") * col("c_nrm")), 6))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("new_id"))
      .agg(max(struct(col("cos_sim"), (-col("corpus_id")).as("neg_id"))).as("m"))
      .select(col("new_id").as("vec_id"), col("m.cos_sim").as("dup_cos"),
        (-col("m.neg_id")).cast("long").as("dup_of"))
    delta.select(col("vec_id")).join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("dup_cos"))
  }

  /** INCREMENTAL embedding near-dup verdicts, corpus side inline: every
    * delta vector gets (is_dup, dup_of, dup_cos) against the corpus —
    * candidate volume is |delta| probing the corpus band index, never
    * corpus x corpus. The production shape — corpus persisted once so
    * the probe plan shuffles only the delta — is [[buildVectorIndex]] +
    * [[incrementalCosineVerdictsAgainstIndex]], which share this tail. */
  def incrementalCosineVerdicts(corpus: DataFrame, delta: DataFrame,
                                threshold: Double = 0.45, tables: Int = 8,
                                bitsPerTable: Int = 0): DataFrame = {
    val b = resolveBits(corpus, bitsPerTable)
    val bandsC = corpus.select(col("vec_id"),
      posexplode(lshBucketsMulti(col("embedding"), tables, b)))
      .toDF("corpus_id", "t", "bucket")
    val vecsC = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), vec_norm(col("embedding")).as("c_nrm"))
    incrementalCosineFrom(delta, bandsC, vecsC, tables, b, threshold)
  }

  /** Persist the corpus side of incremental embedding dedup as two
    * BUCKETED tables — the vector-index analogue of Dedup's corpus
    * index:
    *
    *  - `bandsTable` (corpus_id, t, bucket) bucketed on the FULL probe
    *    key (t, bucket): ints only — the multi-table sign-LSH postings.
    *  - `vecsTable` (corpus_id, c_emb, c_nrm) bucketed on corpus_id:
    *    the exact-verify payload; only candidate hits fetch embeddings.
    *
    * Bits per table are sized from the corpus count at build time; the
    * probe re-derives the SAME value from the stored row count (a
    * parquet-footer read), so the two halves cannot drift. Both land as
    * batch 0 of the [[appendVectorIndexPartial]] layout, stamped with
    * the geometry. Returns the resolved bits for callers that want to
    * log it. */
  def buildVectorIndex(corpus: DataFrame, bandsTable: String,
                       vecsTable: String, tables: Int = 8,
                       bitsPerTable: Int = 0, buckets: Int = 8): Int = {
    val b = resolveBits(corpus, bitsPerTable)
    val bands = corpus.select(col("vec_id"),
      posexplode(lshBucketsMulti(col("embedding"), tables, b)))
      .toDF("corpus_id", "t", "bucket")
    val spark = corpus.sparkSession
    // geometry stamps (VERDICT r19 item 3) — the q71 pinning doctrine:
    // probes and appends re-read the exact provisioned (tables, bits)
    // instead of trusting a caller to repeat them; they ride the one
    // CREATE and every compaction/purge swap
    val geom = Map(graft.io.Bucketing.LshTablesProperty -> tables.toString,
      graft.io.Bucketing.LshBitsProperty -> b.toString)
    // the two tables derive independently from the corpus, so their
    // landings overlap (guide §2.6, optimization r22): the payload write
    // used to wait out the full banding job. Unlike buildCorpusIndex
    // (whose band table reads the STORED sigs and must stay
    // sequential), both sides here scan the corpus directly.
    graft.io.Bucketing.concurrently(
      graft.io.Bucketing.landBuild(spark, bands, bandsTable, "vec-bands",
        Seq("t", "bucket"), buckets, geom),
      graft.io.Bucketing.landBuild(spark,
        corpus.select(col("vec_id").as("corpus_id"),
          col("embedding").as("c_emb"), vec_norm(col("embedding")).as("c_nrm")),
        vecsTable, "vec-payload", Seq("corpus_id"), buckets, geom))
    b
  }

  /** The probe half: identical semantics to
    * [[incrementalCosineVerdicts]] (same hyperplanes — `tables` MUST
    * match the index build; bits are re-derived from the stored count),
    * but both corpus scans arrive pre-partitioned on their join keys —
    * the probe plan shuffles ONLY the delta (asserted in ExplainSpec).
    * This is what a 100 TB embedded corpus runs per ingest batch: the
    * index amortizes the corpus-side banding AND its shuffle across
    * every future delta. */
  /** `tombstonesTable`: when a [[graft.io.Tombstones.retract]]
    * retraction is pending, pass its tombstone table and the retired
    * vectors stop matching as near-dup sources (broadcast anti-join
    * gate, map-side, no added exchange); after
    * [[graft.io.Tombstones.purge]] the option is a no-op. NOTE on
    * geometry: bits are re-derived from the STORED (unfiltered) count,
    * so pending tombstones cannot shift the banding — but after a PURGE shrinks the store, a `bitsPerTable=0`
    * caller could re-derive different bits than the build used; an
    * index that retracts should pin the bits [[buildVectorIndex]]
    * returned, exactly as the streamed-maintenance path pins them. */
  def incrementalCosineVerdictsAgainstIndex(
      spark: org.apache.spark.sql.SparkSession, delta: DataFrame,
      bandsTable: String, vecsTable: String, threshold: Double = 0.45,
      tables: Int = 8, bitsPerTable: Int = 0,
      tombstonesTable: Option[String] = None): DataFrame = {
    val bandsC = graft.io.Bucketing.openIndex(spark, bandsTable, "vec-bands")
    val vecsC = graft.io.Bucketing.openIndex(spark, vecsTable, "vec-payload")
    val b = if (bitsPerTable > 0) bitsPerTable
            else adaptiveBitsPerTable(vecsC.count())
    incrementalCosineFrom(delta,
      graft.io.Tombstones.filterRetracted(spark, bandsC, "corpus_id",
        tombstonesTable, "vec-tombs"),
      graft.io.Tombstones.filterRetracted(spark, vecsC, "corpus_id",
        tombstonesTable, "vec-tombs"),
      tables, b, threshold)
  }
}
