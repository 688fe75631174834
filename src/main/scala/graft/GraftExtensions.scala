package graft

import graft.functions.{ArrayJaccard, CharNgrams, CharNgramsMultiset, MinHashSig, SigAgreement, SimHash64, SimHashMd5, SubVectors, VecDot, VecSum, WordNgrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions registration: exposes the engine's native
  * expressions to SQL, so `spark.sql("SELECT vec_dot(a, b) ...")` works
  * alongside the Column API. Install with either
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   --conf spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // retraction lifecycle on the SQL surface: RETRACT FROM ... /
    // PURGE RETRACTIONS FROM ... (see graft.sql.GraftSqlParser) — the
    // right-to-be-forgotten path callable without Scala
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))

    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array"),
      (args: Seq[Expression]) => SimHash64(args.head)))

    ext.injectFunction((FunctionIdentifier("simhash_md5"),
      info("simhash_md5",
        "simhash_md5(tokens) - 60-bit SQL-replayable (md5-hashed) SimHash"),
      (args: Seq[Expression]) => SimHashMd5(args.head)))

    ext.injectFunction((FunctionIdentifier("vec_sum"),
      info("vec_sum", "vec_sum(a) - component sum of a float/double array"),
      (args: Seq[Expression]) => VecSum(args.head)))

    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(tokens, n) - all word n-grams with multiplicity"),
      (args: Seq[Expression]) => {
        val n = args.lift(1) match {
          case None => 2
          case Some(Literal(v: Int, _)) => v
          case Some(other) => throw new IllegalArgumentException(
            s"word_ngrams: n must be an integer literal, got $other")
        }
        WordNgrams(args.head, n)
      }))

    ext.injectFunction((FunctionIdentifier("subvectors"),
      info("subvectors",
        "subvectors(a, parts) - split an array into `parts` equal contiguous sub-arrays"),
      (args: Seq[Expression]) => {
        val parts = args.lift(1) match {
          case Some(Literal(v: Int, _)) => v
          case other => throw new IllegalArgumentException(
            s"subvectors: parts must be an integer literal, got $other")
        }
        SubVectors(args.head, parts)
      }))

    ext.injectFunction((FunctionIdentifier("sig_agreement"),
      info("sig_agreement", "sig_agreement(a, b) - fraction of agreeing minhash positions"),
      (args: Seq[Expression]) => SigAgreement(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("array_jaccard"),
      info("array_jaccard", "array_jaccard(a, b) - exact set Jaccard of two string arrays"),
      (args: Seq[Expression]) => ArrayJaccard(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("char_ngrams"),
      info("char_ngrams", "char_ngrams(text, n) - distinct character n-grams of a string"),
      (args: Seq[Expression]) => {
        val n = args.lift(1) match {
          case None => 3
          case Some(Literal(v: Int, _)) => v
          case Some(other) => throw new IllegalArgumentException(
            s"char_ngrams: n must be an integer literal, got $other")
        }
        CharNgrams(args.head, n)
      }))

    ext.injectFunction((FunctionIdentifier("char_ngrams_multiset"),
      info("char_ngrams_multiset",
        "char_ngrams_multiset(text, n) - all character n-grams with multiplicity"),
      (args: Seq[Expression]) => {
        val n = args.lift(1) match {
          case None => 2
          case Some(Literal(v: Int, _)) => v
          case Some(other) => throw new IllegalArgumentException(
            s"char_ngrams_multiset: n must be an integer literal, got $other")
        }
        CharNgramsMultiset(args.head, n)
      }))

    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(tokens, n) - default 64-perm minhash signature"),
      (args: Seq[Expression]) => {
        // builders run before constant folding: demand a bare int literal
        // rather than silently falling back on a default shingle size
        val n = args.lift(1) match {
          case None => 2
          case Some(Literal(v: Int, _)) => v
          case Some(other) => throw new IllegalArgumentException(
            s"minhash_sig: shingle size must be an integer literal, got $other")
        }
        // the library's coefficients: SQL signatures must be bit-equal
        // to Dedup.minhashSignature's
        val (a, b) = graft.ops.Dedup.minhashCoeffs(64)
        MinHashSig(args.head, n, a, b, graft.ops.Dedup.MinhashP)
      }))
  }
}
