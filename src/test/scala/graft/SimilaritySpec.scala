package graft

import graft.functions.VectorFunctions.vec_dot
import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity invariants: exact math, LSH bucketing behavior. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** The sf0.01 fixture, beside the suite's default one. */
  private val sf001 = new java.io.File(sfDir).getParentFile.toPath.resolve("sf0.01").toString

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),     // identical to 0
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),     // close to 0
    (3L, Array(0.0f, 0.0f, 0.0f, 1.0f)))     // orthogonal to 0
    .toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0") {
    val c = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("l"), col("b.vec_id").as("r"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .collect().map(r => ((r.getAs[Long]("l"), r.getAs[Long]("r")), r.getAs[Double]("cos"))).toMap
    assert(c((0L, 1L)) === 1.0)
    assert(c((0L, 3L)) === 0.0)
    assert(c((0L, 2L)) > 0.99)
  }

  test("nearestNeighbor: identical vector pair are mutual nearest neighbors") {
    val nn = Similarity.nearestNeighbor(vecs).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("nn_id")).toMap
    assert(nn(0L) === 1L && nn(1L) === 0L)
  }

  test("bruteForceTopK on testdata: k rows per query, descending scores") {
    val topk = Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir), k = 5)
    val counts = topk.groupBy("q_id").count().select("count").as[Long].collect()
    assert(counts.nonEmpty && counts.forall(_ === 5L))
    val perQuery = topk.collect().groupBy(_.getAs[Long]("q_id"))
    perQuery.values.foreach { rows =>
      val scores = rows.map(_.getAs[Double]("cos_sim")).toSeq
      assert(scores === scores.sorted(Ordering[Double].reverse))
    }
  }

  test("lsh bucket is deterministic and identical vectors share a bucket") {
    val b = vecs.select(col("vec_id"), Similarity.lshBucket(col("embedding"), nBits = 8, dim = 4).as("bucket"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    val b2 = vecs.select(col("vec_id"), Similarity.lshBucket(col("embedding"), nBits = 8, dim = 4).as("bucket"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b === b2)
    assert(b(0L) === b(1L))
  }

  test("lshBucketsMulti equals one vec_dot > 0 test per plane, nulls and short vectors included") {
    val (tables, bits) = (4, 3)
    val planes = Similarity.hyperplanes(tables * bits, 64)
    def perPlane(emb: Column): Column = array((0 until tables).map { t =>
      (0 until bits).map { j =>
        when(vec_dot(emb, typedLit(planes(t * bits + j).toArray)) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    def agree(emb: DataFrame): Unit = {
      val rows = emb.select(col("vec_id"),
          Similarity.lshBucketsMulti(col("embedding"), tables, bits).as("native"),
          perPlane(col("embedding")).as("per_plane"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2), r.toString))
    }
    // generated code over a parquet scan
    agree(Tables.embeddings(spark, sf001))
    // interpreted eval over a local relation: a null embedding, a null
    // element (the dots that reach it are null, their bits clear) and a
    // short vector (dots run over the shorter length)
    val rnd = new java.util.Random(3L)
    def v(n: Int): Seq[Option[Float]] = Seq.fill(n)(Some(rnd.nextGaussian().toFloat))
    agree(Seq[(Long, Seq[Option[Float]])]((1L, null), (2L, v(64).updated(10, None)),
      (3L, v(10)), (4L, v(64))).toDF("vec_id", "embedding"))
  }

  test("ivfTopK finds high-recall neighbors vs brute force on testdata") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Similarity.bruteForceTopK(emb, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    // same queries, k rows each; recall over brute-force truth
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"ivf recall $recall too low") // random embeddings: cells are weakly informative
    assert(ivf.map(_._1) === brute.map(_._1))
  }

  test("ivfPqTopK ranks the IVF candidate set by quantized distance") {
    val emb = Tables.embeddings(spark, sfDir)
    val pq = Similarity.ivfPqTopK(emb, k = 5).cache()
    val rows = pq.collect()
    // k rows per query, ascending quantized distance, deterministic ties
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.length === 5, s"query $q must have k rows")
      val ds = rs.sortBy(_.getAs[Long]("c_id")).map(_.getAs[Double]("adist"))
      assert(ds.forall(d => d >= 0 - 1e-6), s"squared distances non-negative: $q")
    }
    // PQ candidates must come from the same coarse cells as exact IVF —
    // every returned pair must be an IVF candidate pair
    val ivfCand = Similarity.ivfTopK(emb, k = 1000000).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val pqPairs = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    assert(pqPairs.subsetOf(ivfCand), "PQ must rank within the IVF candidate set")
    pq.unpersist()
  }

  test("multi-table lshTopK holds a recall floor vs brute force on testdata") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Similarity.bruteForceTopK(emb, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val lsh = Similarity.lshTopK(emb, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // 8 tables amplify per-plane collision prob; a single fixed-width
    // table measured ~0.02 here — the floor guards against regressing to
    // that shape
    assert(recall > 0.4, s"multi-table lsh recall $recall too low")
  }

  /** (rows, sha-256 of the rows as sorted text): a bit-identity pin that
    * does not depend on the plan's row order. */
  private def pin(df: DataFrame): (Int, String) = {
    val rows = df.select("q_id", "c_id", "cos_sim").collect()
      .map(_.mkString(",")).sorted
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
    (rows.length, d.map("%02x".format(_)).mkString)
  }

  // The pins below were captured from the join-based candidate plan
  // (posexplode, broadcast bucket join, distinct, embedding-fetch join)
  // that the fused single-pass plan replaced.
  test("lshTopK and hardNegatives at defaults on sf0.01 are pinned to their rows") {
    val emb = Tables.embeddings(spark, sf001)
    assert(pin(Similarity.lshTopK(emb)) ===
      ((100, "d27ab64260a3f3a2e98c1ca92bc1ccba846e0ba082367abee9f58415865fa38f")))
    assert(pin(Similarity.hardNegatives(emb)) ===
      ((100, "d7dd7dfefa9e86e3229d46e4ee767603481c3890de6e2a9b1eb73a58147bd0d7")))
  }

  test("lshTopK over a 3-partition input with k = 5, stride 7, 4 bits is pinned to its rows") {
    val emb = Tables.embeddings(spark, sf001).repartition(3)
    assert(pin(Similarity.lshTopK(emb, k = 5, queryStride = 7, bitsPerTable = 4)) ===
      ((360, "d019fb7220240adc122157c7715d003aae2411c95258d78b7bd4cebae24fed2c")))
  }

  test("a stride that selects no query gives empty LSH outputs, not an exception") {
    val emb = Tables.embeddings(spark, sf001).filter(col("vec_id") > 0)
    assert(Similarity.lshTopK(emb, queryStride = 1000).collect().isEmpty)
    assert(Similarity.hardNegatives(emb, queryStride = 1000).collect().isEmpty)
  }

  test("lshTopK and hardNegatives with null embeddings and negative vec_ids are pinned to their rows") {
    // queries -7, 0, 7 and 14; 14 and the candidate 5 have no embedding,
    // so every code is 0 and the cosine is null: no neighbour, so query
    // 14 returns no rows and 5 is nobody's candidate
    val rnd = new java.util.Random(7L)
    val emb = (-10L to 19L).map { id =>
      (id, if (id == 5L || id == 14L) null else Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString(",")).sorted.toSeq
    assert(rows(Similarity.lshTopK(emb, k = 3, queryStride = 7, bitsPerTable = 2)) === Seq(
      "-7,-10,0.209665", "-7,17,0.204068", "-7,4,0.224178",
      "0,-8,0.203372", "0,18,0.214574", "0,8,0.172454",
      "7,-2,0.236929", "7,-5,0.205944", "7,19,0.284977"))
    assert(rows(Similarity.hardNegatives(emb, lo = -0.2, hi = 0.2, k = 3,
      queryStride = 7, bitsPerTable = 2)) === Seq(
      "-7,-9,0.158513", "-7,10,0.195508", "-7,13,0.139636",
      "0,-2,0.152571", "0,1,0.151713", "0,8,0.172454",
      "7,-3,0.199562", "7,1,0.153322", "7,8,0.154792"))
  }

  test("adaptiveBitsPerTable scales with corpus size, bounded") {
    assert(Similarity.adaptiveBitsPerTable(10) === 1)
    assert(Similarity.adaptiveBitsPerTable(500) === 3)
    assert(Similarity.adaptiveBitsPerTable(5000) === 7)
    assert(Similarity.adaptiveBitsPerTable(1L << 40) === 24) // capped
  }

  test("subvectors matches the transform/slice HOF formulation") {
    val df = Seq((1L, Array(1.0f, 2, 3, 4, 5, 6, 7, 8))).toDF("vec_id", "embedding")
    val native = df.select(posexplode(
        graft.functions.VectorFunctions.subvectors(col("embedding"), 4)))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
    val hof = df.select(posexplode(transform(sequence(lit(0), lit(3)),
        s => slice(col("embedding"), s * lit(2) + lit(1), lit(2)))))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
    assert(native === hof)
    assert(native.map(_._1) === Seq(0, 1, 2, 3))
    assert(native.map(_._2) === Seq(Seq(1.0f, 2), Seq(3.0f, 4), Seq(5.0f, 6), Seq(7.0f, 8)))
  }

  test("hardNegatives stays inside the cosine band and excludes near-dups") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val hn = Similarity.hardNegatives(emb, lo = 0.1, hi = 0.35, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Double]("cos_sim")))
    assert(hn.nonEmpty, "band [0.1, 0.35) should be populated on the fixture")
    assert(hn.forall { case (_, c) => c >= 0.1 && c < 0.35 })
    assert(hn.groupBy(_._1).forall(_._2.length <= 5))
  }

  test("rrfFuseTopK: candidates in both lists outrank single-list ones") {
    val lsh = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7))
      .toDF("q_id", "c_id", "cos_sim")
    val ivf = Seq((1L, 11L, 0.85), (1L, 13L, 0.6))
      .toDF("q_id", "c_id", "cos_sim")
    val fused = Similarity.rrfFuseTopK(Seq(lsh, ivf), k = 3)
      .collect().map(r => (r.getAs[Long]("c_id"), r.getAs[Double]("rrf_score"),
        r.getAs[Long]("n_lists")))
    // 11 appears in both lists (rank 2 + rank 1) -> top despite never rank-1 in lsh
    val byScore = fused.sortBy(-_._2)
    assert(byScore.head._1 === 11L && byScore.head._3 === 2L)
    assert(math.abs(byScore.head._2 - (1.0 / 62 + 1.0 / 61)) < 1e-8)
    // singles carry exactly their one contribution
    assert(fused.find(_._1 == 10L).get._3 === 1L)
    assert(fused.length === 3) // k=3 of 4 distinct candidates
  }

  test("cosineDedupVerdicts: identical lower-id vector marks the higher id a dup") {
    val v = Similarity.cosineDedupVerdicts(vecs, threshold = 0.99,
        tables = 2, bitsPerTable = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("is_dup"), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(v(0L)._1 === false)
    assert(v(1L) === ((true, Some(0L: java.lang.Long))))
    assert(v(3L)._1 === false)
  }

  test("hybridRrfTopK: cross-modal fusion arithmetic, both modalities contribute") {
    import spark.implicits._
    // doc 0 is the query (0 % 100 == 0). Lexically doc 1 shares the
    // query terms and doc 2 shares none; in vector space doc 2 is the
    // near neighbor and doc 1 is orthogonal — each modality ranks what
    // the other misses, the situation hybrid retrieval exists for.
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma delta extra"),
      (2L, "zzz yyy xxx www")).toDF("doc_id", "text")
    def unit(i: Int, j: Int, a: Float, b: Float): Array[Float] = {
      val v = Array.fill(64)(0.0f); v(i) = a; v(j) = b; v
    }
    val emb = Seq(
      (0L, unit(0, 1, 1.0f, 0.0f)),
      (1L, unit(2, 3, 1.0f, 0.0f)),   // orthogonal to the query
      (2L, unit(0, 1, 0.9f, 0.1f)))   // close to the query
      .toDF("vec_id", "embedding")
    val got = Similarity.hybridRrfTopK(docs, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (-r._3, r._2))
    // lexical list: doc 0 rank 1 (itself), doc 1 rank 2; vector list:
    // doc 2 rank 1, doc 1 rank 2 (self excluded). Fused contribs:
    // doc1 = round(1/62,9)*2, doc0 = doc2 = round(1/61,9) (tie -> id asc)
    val c61 = BigDecimal(1.0 / 61).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val c62 = BigDecimal(1.0 / 62).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(r => (r._1, r._2, r._4)).toSeq ===
      Seq((0L, 1L, 2L), (0L, 0L, 1L), (0L, 2L, 1L)))
    assert(got(0)._3 === c62 * 2)
    assert(got(1)._3 === c61 && got(2)._3 === c61)
  }
}
