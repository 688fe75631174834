package graft.ops

import graft.functions.VectorFunctions.{vec_dot, vec_norm, vec_sum}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation (topic balancing,
  * per-cluster sampling quotas, cluster-level dedup budgets).
  *
  * One Lloyd iteration, Spark-shaped: centroids are k deterministically
  * hash-sampled vectors (the same Knuth-scramble rule the IVF coarse
  * quantizer uses — no collect, no RNG state, replayable in SQL), the
  * assignment is a broadcast cross join scoring O(n*k) pairs, and the
  * update is one hash aggregation per cell. k is caller-fixed, so at
  * 100 TB the broadcast stays k rows and the shuffle carries one row per
  * vector into a k-group aggregate — map-side partials collapse it to k
  * rows per partition.
  */
object Clustering {

  /** Knuth multiplicative scramble for deterministic pseudo-random
    * centroid/seed sampling, OVERFLOW-SAFE: the id is domain-reduced to
    * 2²⁰ before the 2654435761 multiply, capping the product at ~2.8e15
    * (a raw `vec_id * 2654435761` overflows Long — an ANSI runtime
    * error — once ids pass ~3.4e9, exactly the range id-shifted
    * multi-shard corpora live in; caught by the sf0.8 amplified sweep,
    * SCALING.md). For ids below 2²⁰ the value is bit-identical to the
    * unreduced form, so every oracle replay is unchanged; above it the
    * scramble still samples uniformly within each 2²⁰ residue class,
    * which is all a seed-picking permutation needs. Oracles mirror the
    * same `% 1048576` reduction. */
  def knuthScramble(id: Column): Column =
    pmod(pmod(id, lit(1048576L)) * lit(2654435761L), lit(4294967296L))

  /** Assign every vector to its max-cosine centroid (ties broken toward
    * the higher centroid id, matching max-struct semantics). Returns one
    * row per vector: (vec_id, cell, cos, comp_sum). */
  def assign(embeddings: DataFrame, k: Int): DataFrame = {
    val scramble = knuthScramble(col("vec_id"))
    val cents = embeddings
      .orderBy(scramble.asc, col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        vec_norm(col("embedding")).as("cent_norm"))
    embeddings
      .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("cos",
        vec_dot(col("embedding"), col("cent_emb")) / (col("nrm") * col("cent_norm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), col("cent_id"))).as("m"),
        first(vec_sum(col("embedding"))).as("comp_sum"))
      .select(col("vec_id"), col("m.cent_id").as("cell"),
        col("m.cos").as("cos"), col("comp_sum"))
  }

  /** SemDeDup-style semantic dedup: cluster with the coarse quantizer,
    * then keep-first cosine dedup WITHIN cells only. The clustering is
    * what makes semantic dedup affordable — pair work is quadratic in
    * CELL size, not corpus size — so k is DERIVED from the corpus:
    * k = ceil(n / targetCellSize) via one metadata count (at warehouse
    * scale, substitute stored table stats for the count job). That keeps
    * mean cell size pinned at targetCellSize no matter how the corpus
    * grows; cross-cell near-misses are the accepted recall trade (the
    * SemDeDup paper's design). Cell-size SKEW is bounded by the
    * data-sampled centroids — dense regions contribute proportionally
    * many centroids (CurationSpec pins the max-cell bound on the
    * verification corpus) — but a corpus dominated by near-identical
    * vectors still concentrates cells; that is inherent to single-step
    * assignment, and the multi-iteration Lloyd refinement (`lloyd`)
    * is the data-adaptive upgrade path. Complements the LSH-prefiltered
    * dedup (Similarity.cosineDedupVerdicts): learned data-adaptive
    * cells vs random hyperplane buckets. One row per vector, always.
    *
    * `kOverride` bypasses the derivation (and its count job) when the
    * caller already knows the cell budget; the p41 oracle instead
    * replays the derivation itself (CEIL(COUNT(*)/64.0)) so parity
    * holds at any corpus size. */
  def semanticDedup(embeddings: DataFrame, targetCellSize: Int = 64,
                    threshold: Double = 0.45,
                    kOverride: Option[Int] = None): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot => dot, vec_norm => nrm}
    val k = kOverride.getOrElse {
      val n = embeddings.count()
      math.max(1L, (n + targetCellSize - 1) / targetCellSize).toInt
    }
    val cells = assign(embeddings, k).select(col("vec_id"), col("cell"))
    val emb = embeddings
      .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("n2"))
      .join(cells, Seq("vec_id"))
    val l = emb.select(col("cell"), col("vec_id").as("left_id"),
      col("embedding").as("l_emb"), col("n2").as("l_norm"))
    val r = emb.select(col("cell"), col("vec_id").as("right_id"),
      col("embedding").as("r_emb"), col("n2").as("r_norm"))
    val pairs = l.join(r, Seq("cell")).filter(col("left_id") < col("right_id"))
      .withColumn("cos_sim",
        round(dot(col("l_emb"), col("r_emb")) / (col("l_norm") * col("r_norm")), 6))
      .filter(col("cos_sim") >= threshold)
    val best = pairs.groupBy(col("right_id").as("vec_id"))
      .agg(max(struct(col("cos_sim"), col("left_id"))).as("m"))
      .select(col("vec_id"), col("m.left_id").as("dup_of"),
        col("m.cos_sim").as("dup_cos"))
    cells.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("dup_cos"))
  }

  // ---------------------------------------------------------------------
  // Multi-iteration Lloyd refinement
  // ---------------------------------------------------------------------

  /** Assignment against an explicit centroid table (cent_id, cent_emb):
    * broadcast O(n*k) scoring, argmax by (cos, cent_id) — the same
    * max-struct tie rule as `assign`. Carries the member embedding
    * through for the update half of the step. */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    val c = broadcast(cents.withColumn("cent_norm", vec_norm(col("cent_emb"))))
    emb.select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      .crossJoin(c)
      .withColumn("cos",
        vec_dot(col("embedding"), col("cent_emb")) /
          (col("nrm") * col("cent_norm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), col("cent_id"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("m.cent_id").as("cell"),
        col("m.cos").as("cos"), col("embedding"))
  }

  /** Centroid-update half of a spherical Lloyd step: per-dimension
    * exact-decimal sums of each cell's members' UNIT vectors, as
    * (cell, pos, m) rows. The direction maximizing the cell's cosine
    * cohesion sum_{v in c} cos(v, d) is the normalized sum of the
    * NORMALIZED members — using raw sums breaks the monotone objective
    * and the iteration can cycle (observed on the fixture). Cosine
    * assignment is scale-invariant, so the un-normalized unit-sum
    * serves directly as the next centroid.
    *
    * Determinism: each component is round(v_j/|v|, 6) — a double
    * quotient with an IRRATIONAL denominator, which never lands on an
    * exact half-decimal boundary, so both engines round identically
    * (contrast the mean's decimal/integer quotient, which hit such a
    * boundary and split engines by 1e-6) — then an exact decimal sum.
    * posexplode shuffles n*dim NARROW rows with map-side partial
    * aggregation — never a whole-vector aggregation buffer. */
  private def perDimSums(asg: DataFrame): DataFrame =
    asg.select(col("cell"), vec_norm(col("embedding")).as("nrm"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(round(col("v") / col("nrm"), 6).cast("decimal(28,6)"))
        .cast("double").as("m"))

  /** Reassemble per-dimension means into centroid vectors; cent_id is
    * the cell id, so centroid identity is stable across rounds. */
  private def meansToCentroids(means: DataFrame): DataFrame =
    means.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell").as("cent_id"),
        expr("transform(pm, x -> x.m)").as("cent_emb"))

  /** `rounds` full Lloyd iterations (assign -> exact-decimal centroid
    * update -> reassign) from the deterministic hash-sampled seed, with
    * `localCheckpoint` on each k-row centroid table to cut plan lineage
    * (the dedupGroupsDistributed discipline). Reports per final cell:
    * member count, mean cosine to the round's centroid (cohesion), and
    * the component-sum fingerprint of the NEXT centroid. Every
    * quantity follows the round-then-decimal-sum rule, so the whole
    * multi-round pipeline replays bit-for-bit in SQL (p42's oracle).
    * Float inputs are cast to array<double> up front — an exact
    * widening, so round 1 equals `assign`'s geometry. */
  def lloydReport(embeddings: DataFrame, k: Int = 8, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "at least one assignment round")
    // materialize the working set and each round's assignment once:
    // the final round's asg feeds BOTH the stats aggregate and the
    // centroid fingerprint, and each round re-scans emb — without the
    // checkpoints the whole multi-round chain re-executes per consumer
    val emb = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint()
    val scramble = Clustering.knuthScramble(col("vec_id"))
    var cents = emb.orderBy(scramble.asc, col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    var asg = assignTo(emb, cents).localCheckpoint()
    var means = perDimSums(asg)
    for (_ <- 1 until rounds) {
      cents = meansToCentroids(means).localCheckpoint()
      asg = assignTo(emb, cents).localCheckpoint()
      means = perDimSums(asg)
    }
    val stats = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(round(col("cos"), 6).cast("decimal(28,6)")).cast("double") /
          count(lit(1)), 6).as("mean_cos"))
    val fp = means.groupBy(col("cell"))
      .agg(round(sum(col("m").cast("decimal(28,6)")).cast("double"), 6)
        .as("new_centroid_comp_sum"))
    stats.join(fp, Seq("cell"))
  }

  /** Lloyd with a convergence stop: iterate until the RELATIVE change in
    * total cohesion (sum of member cosines, the spherical k-means
    * objective) drops below `eps`, or `maxRounds` is hit — the standard
    * inertia-tolerance criterion. Centroid-movement stopping was tried
    * and rejected: on noisy corpora a trickle of near-tie boundary
    * vectors keeps flipping cells forever, each flip perturbing a
    * centroid visibly while changing the objective by ~nothing, so
    * movement plateaus where the objective has long converged (observed
    * on the fixture). The objective is an exact-decimal sum — one
    * scalar collected per round, driver-visible metadata, not data
    * volume. Returns the final per-cell report plus rounds run. */
  def lloydConverged(embeddings: DataFrame, k: Int = 8, maxRounds: Int = 10,
                     eps: Double = 1e-3): (DataFrame, Int) = {
    // materialize the working set once: every round re-scans it for
    // assignment, so iterating against the source scan would re-read
    // (and re-decode) the parquet k times
    val emb = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint()
    val scramble = Clustering.knuthScramble(col("vec_id"))
    var cents = emb.orderBy(scramble.asc, col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .localCheckpoint()
    // localCheckpoint each round's assignment: the objective collect,
    // perDimSums, and the final report all reuse the materialized rows
    // instead of re-running the broadcast cross-join + argmax twice
    var asg = assignTo(emb, cents).localCheckpoint()
    var rounds = 1
    var prevObj = Double.NaN
    var done = false
    while (rounds < maxRounds && !done) {
      val obj = asg
        .agg(sum(round(col("cos"), 6).cast("decimal(28,6)")).cast("double"))
        .collect()(0).getDouble(0)
      if (!prevObj.isNaN &&
          math.abs(obj - prevObj) <= eps * math.max(math.abs(prevObj), 1e-12)) {
        done = true
      } else {
        prevObj = obj
        cents = meansToCentroids(perDimSums(asg)).localCheckpoint()
        asg = assignTo(emb, cents).localCheckpoint()
        rounds += 1
      }
    }
    val report = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(round(col("cos"), 6).cast("decimal(28,6)")).cast("double") /
          count(lit(1)), 6).as("mean_cos"))
    (report, rounds)
  }

  /** One k-means step reported per cell: member count, mean cosine to the
    * current centroid (cohesion), and the component sum of the UPDATED
    * centroid (the mean vector) — a scalar fingerprint, since
    * sum_j mean_members(v_j) = mean_members(sum_j v_j) by linearity.
    * Means follow the exact-decimal rule (round to 6dp, sum as decimal,
    * divide by count in double) so partial-aggregation order can never
    * change a bit. */
  def kmeansStep(embeddings: DataFrame, k: Int = 8): DataFrame =
    assign(embeddings, k)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("cos"), 6).cast("decimal(28,6)")).as("cos_sum"),
        sum(round(col("comp_sum"), 6).cast("decimal(28,6)")).as("comp_total"))
      .select(col("cell"), col("n_members"),
        round(col("cos_sum").cast("double") / col("n_members"), 6).as("mean_cos"),
        round(col("comp_total").cast("double") / col("n_members"), 6)
          .as("new_centroid_comp_sum"))

  /** Corpus-centroid outlier pruning — SemDeDup's sibling policy: flag
    * vectors whose cosine to the GLOBAL mean embedding falls below
    * `threshold` (embedding-space junk sits far from the corpus mass).
    * Per-dimension means follow the exact-decimal rule (round components
    * to 6dp, decimal sum, double divide) so the centroid is
    * partial-aggregation-order-free; per-vector cosines then run through
    * the native left-to-right VecDot against the broadcast centroid
    * literal — identical accumulation order to the oracle's list_sum.
    *
    * NOTE — eager execution: CONSTRUCTING this DataFrame runs the
    * centroid aggregation (one pass over the component stream, collected
    * to `dim` rows — 64 doubles regardless of corpus size; the q24
    * claim-set device). The returned plan is the single per-vector
    * scoring pass. */
  def centroidOutliers(embeddings: DataFrame,
                       threshold: Double = -0.15): DataFrame = {
    val cent = embeddings
      .select(posexplode(col("embedding"))).toDF("pos", "v")
      .groupBy(col("pos"))
      .agg((sum(round(col("v").cast("double"), 6).cast("decimal(28,6)"))
        .cast("double") / count(lit(1))).as("m"))
      .orderBy(col("pos")).collect().map(_.getDouble(1))
    // same left-to-right fold the oracle's list_sum does — IEEE addition
    // in identical order, so the scalar matches bit-for-bit
    val normM = math.sqrt(cent.foldLeft(0.0)((acc, x) => acc + x * x))
    embeddings.select(col("vec_id"),
        round(vec_dot(col("embedding"), typedLit(cent.toSeq)) /
          (vec_norm(col("embedding")) * lit(normM)), 6).as("centroid_cos"))
      .withColumn("is_outlier", col("centroid_cos") < lit(threshold))
  }
}
