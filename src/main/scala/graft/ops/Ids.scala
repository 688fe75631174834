package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global id assignment — the "give every training example a
  * dense 0..n-1 index" step (shard addressing, sample bookkeeping) —
  * WITHOUT a global sort.
  *
  * A single `row_number() OVER (ORDER BY ...)` funnels every row through
  * one partition: the anti-pattern at 100 TB. Instead: bucket rows by
  * range arithmetic on the order column, aggregate per-bucket counts
  * (tiny), prefix-sum those counts into bucket offsets with a window
  * over the BUCKET table (one row per bucket, not per row), broadcast
  * the offsets back, and number within buckets. Per-bucket windows are
  * bounded by the bucket width; the only single-partition work is the
  * offsets prefix sum, whose input is #buckets rows.
  */
object Ids {

  /** Dense 0-based `global_id` following (orderCol, tieCol) order.
    * `bucketWidth` is the order-key VALUE range per bucket — it must be
    * sized to the key's value range, not just to rows-per-bucket: the
    * offsets table has one row per occupied bucket, so a sparse key (say
    * a 64-bit hash) with a small width puts every row in its own bucket
    * and the single-partition prefix sum degenerates to a global sort.
    * Dense bounded keys (dates, lengths, sequence numbers) are the fit;
    * for sparse or unknown-range keys use [[contiguousIdsQuantile]],
    * whose bucket count is bounded by construction. Deterministic: same
    * data, same ids, any partitioning. */
  def contiguousIds(df: DataFrame, orderCol: Column, tieCol: Column,
                    bucketWidth: Long = 1024): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val withB = df.withColumn("id_bucket",
      floor(orderCol.cast("long") / lit(bucketWidth)).cast("long"))
    val w = Window.partitionBy(col("id_bucket"))
      .orderBy(orderCol.asc, tieCol.asc)
    withB.join(broadcast(bucketOffsets(withB)), "id_bucket")
      .withColumn("global_id",
        col("bucket_offset") + row_number().over(w).cast("long") - 1)
      .drop("id_bucket", "bucket_offset")
  }

  /** [[contiguousIds]] for sparse or unknown-range numeric order keys:
    * buckets are approximate-quantile ranges, so the bucket count is
    * bounded by `numBuckets` regardless of the key's value range (a
    * 64-bit hash key works). The ids are still exact and deterministic —
    * boundaries only decide bucket MEMBERSHIP; since each bucket is an
    * order-contiguous value range and equal keys always share a bucket,
    * the concatenated per-bucket (orderCol, tieCol) numbering reproduces
    * the total order whatever boundaries the sketch returns. One extra
    * pass over the data (the quantile sketch, a treeAggregate — no
    * shuffle of the rows themselves). */
  def contiguousIdsQuantile(df: DataFrame, orderCol: Column, tieCol: Column,
                            numBuckets: Int = 1024): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val keyed = df.withColumn("id_ord", orderCol.cast("double"))
    val probes = (1 until numBuckets).map(_.toDouble / numBuckets).toArray
    val bounds = keyed.stat.approxQuantile("id_ord", probes, 0.001)
      .distinct.sorted
    val splits = Double.NegativeInfinity +: bounds :+ Double.PositiveInfinity
    val bucketize = new org.apache.spark.ml.feature.Bucketizer()
      .setSplits(splits).setInputCol("id_ord").setOutputCol("id_bucket_d")
    val withB = bucketize.transform(keyed)
      .withColumn("id_bucket", col("id_bucket_d").cast("long"))
      .drop("id_bucket_d")
    val w = Window.partitionBy(col("id_bucket"))
      .orderBy(orderCol.asc, tieCol.asc)
    withB.join(broadcast(bucketOffsets(withB)), "id_bucket")
      .withColumn("global_id",
        col("bucket_offset") + row_number().over(w).cast("long") - 1)
      .drop("id_bucket", "bucket_offset", "id_ord")
  }

  /** Rows before each bucket: (id_bucket, bucket_offset), the prefix sum
    * of per-bucket counts. The unpartitioned `Window.orderBy` is
    * deliberate: it runs over the per-bucket aggregate, whose row count
    * is bounded by the bucket count, not by the input. */
  private def bucketOffsets(withB: DataFrame): DataFrame =
    withB.groupBy(col("id_bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .withColumn("bucket_offset",
        coalesce(
          sum(col("bucket_n")).over(Window.orderBy(col("id_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("bucket_n")
}
