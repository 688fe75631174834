package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive an AMPLIFIED scratch corpus above sf0.1 for the scaling
  * sweep (dev tool; testdata is read-only, output goes to a scratch
  * dir the caller owns): `k` id-shifted copies of `documents` and
  * `embeddings`, built so each copy reproduces the source's
  * within-copy distribution while copies stay textually/geometrically
  * DISJOINT:
  *
  *  - documents: every token gets a copy-tag suffix (`tok~i`), so no
  *    k-token window, line segment, shingle or char n-gram is shared
  *    ACROSS copies — the df histogram per window is exactly the
  *    source's, replicated k times. A plain union of identical copies
  *    would instead multiply every window's df by k, blowing the pair
  *    stages up ~k² as a DATA artifact (every doc a near-dup of its
  *    k−1 clones) and masking the operator slope the sweep measures.
  *    The heavy-hitter regime is exercised separately (DedupSpec's
  *    planted-skew spec + the skewSafe form).
  *  - embeddings: copy i rotates each vector by i components —
  *    norm-preserving, so cosine geometry within a copy is untouched
  *    while a vector and its rotated clones are far apart (no
  *    spurious near-dup mass).
  *
  * The other tables are copied through unchanged (the sweep's
  * doc/embedding-driven target rows never read them; SCALING.md notes
  * their counts stay 1×).
  *
  * runMain graft.tools.Amplify <srcSfDir> <outDir> [k=8]
  */
object Amplify {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Sessions.local(32)
    val idStride = 1000000000L

    def copies(df: DataFrame)(shape: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => shape(df, i)).reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    copies(docs) { (d, i) =>
      val text = when(lit(i) === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " "))
      d.select(
        (col("doc_id") + lit(i * idStride)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        // the token suffixes lengthen the text; keep the fixture
        // invariant n_chars = length(text) true in every copy
        length(text).cast("long").as("n_chars"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    copies(embs) { (e, i) =>
      val dim = 64
      val rotated =
        if (i == 0) col("embedding")
        else concat(slice(col("embedding"), i + 1, dim - i),
          slice(col("embedding"), 1, i))
      e.select((col("vec_id") + lit(i * idStride)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // pass-through tables (counts stay 1x — documented)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"AMPLIFY wrote ${k}x documents/embeddings to $out")
    spark.stop()
  }
}
