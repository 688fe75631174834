package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A generated document: ids and space-separated word tokens. */
final case class Doc(doc_id: Long, text: String)

/** A generated embedding row, in the shape the similarity operators read. */
final case class Emb(vec_id: Long, embedding: Array[Float])

/** Seeded input generators. The same seed gives the same inputs; the
  * program only ever sees the files these write. */
final class Gen(seed: Long) {
  val rnd = new scala.util.Random(seed)

  // ---- documents ---------------------------------------------------------

  private val vocabSize = 6000

  /** A word, skewed towards the low ranks like natural text. */
  private def word(): String = {
    val u = rnd.nextDouble()
    "w" + Integer.toString((vocabSize * u * u * u).toInt, 36)
  }

  /** 30..80 tokens: the classifier's label (more than 55 tokens) splits
    * the corpus roughly in half. */
  private def freshText(): String = Seq.fill(30 + rnd.nextInt(51))(word()).mkString(" ")

  /** A near-duplicate: 1-3 tokens of `src` replaced. */
  def nearDup(src: String): String = {
    val toks = src.split(" ")
    (1 to 1 + rnd.nextInt(3)).foreach(_ => toks(rnd.nextInt(toks.length)) = word())
    toks.mkString(" ")
  }

  /** `n` documents with ids from `idBase`; a `dupShare` of them are
    * near-duplicates of an earlier document of this corpus or of
    * `sources`. Returns the documents and the planted (copy, source) pairs. */
  def corpus(n: Int, idBase: Long, dupShare: Double,
             sources: IndexedSeq[Doc] = Vector.empty): (Vector[Doc], Vector[(Long, Long)]) = {
    val docs = mutable.ArrayBuffer[Doc]()
    val pairs = mutable.ArrayBuffer[(Long, Long)]()
    for (i <- 0 until n) {
      val pool = if (sources.nonEmpty) sources else docs
      val id = idBase + i
      if (pool.size > 10 && rnd.nextDouble() < dupShare) {
        val src = pool(rnd.nextInt(pool.size))
        docs += Doc(id, nearDup(src.text))
        pairs += id -> src.doc_id
      } else docs += Doc(id, freshText())
    }
    (docs.toVector, pairs.toVector)
  }

  // ---- embeddings --------------------------------------------------------

  private def unit(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  /** `n` random unit vectors of `dim`; every query (id % stride == 0) gets
    * one planted near twin (cosine above 0.999) at a non-query id. Returns
    * the rows and the (query, twin) pairs. */
  def embeddings(n: Int, dim: Int, stride: Int): (Vector[Emb], Map[Long, Long]) = {
    val vecs = Array.fill(n)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val queries = (0 until n by stride).toVector
    val twins = mutable.Map[Long, Long]()
    val free = rnd.shuffle((0 until n).filter(_ % stride != 0).toVector)
    queries.zip(free).foreach { case (q, t) =>
      vecs(t) = unit(vecs(q).map(x => x + 0.01 * rnd.nextGaussian() / math.sqrt(dim)))
      twins(q.toLong) = t.toLong
    }
    (vecs.zipWithIndex.map { case (v, i) => Emb(i.toLong, v) }.toVector, twins.toMap)
  }
}

object Gen {
  /** Write each slice as one parquet file, flat in `dir` (a stream source
    * reads a flat directory). */
  def writeParquetSlices[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, slices: Seq[Seq[T]], dir: Path): Unit = {
    Files.createDirectories(dir)
    slices.zipWithIndex.foreach { case (rows, i) =>
      val tmp = dir.resolve(f"_slice$i%03d")
      spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[T])
        .coalesce(1).write.parquet(tmp.toString)
      val listing = Files.list(tmp)
      val file =
        try listing.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
        finally listing.close()
      val dest = dir.resolve(f"slice-$i%03d.parquet")
      Files.move(file, dest)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** Copy every regular file of `from` into a fresh `to`. */
  def copyFiles(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val it = Files.list(from)
    try it.forEach { p =>
      if (Files.isRegularFile(p)) Files.copy(p, to.resolve(p.getFileName))
    } finally it.close()
  }

  /** Sum of the sizes of the regular files under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val it = Files.walk(dir)
      try {
        var n = 0L
        it.forEach(p => if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          n += Files.size(p))
        n
      } finally it.close()
    }

  /** Distinct word `n`-shingles of a text, as the program's tokenizer and
    * shingler form them (tokens split on single spaces). */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.split(" ", -1)
    val cnt = math.max(toks.length - n + 1, 1)
    (0 until cnt).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
