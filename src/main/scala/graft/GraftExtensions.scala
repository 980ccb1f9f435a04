package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CosineSim, MinGramMd5Hex, MinHashBandsExpr, OsaDistance, SimHashMd5, WinnowFingerprints}

/** The engine's custom SQL function surface, defined once and injected by
  * [[GraftExtensions]]. */
object GraftFunctionDefs {

  private def litInt(e: Expression, arg: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$arg must be an integer literal, got: $other")
  }

  private def arity(name: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${exprs.length}")

  /** (name, usage, builder) for every custom expression. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("osa_distance",
      "osa_distance(a, b) - optimal string alignment distance (transposition = 1 edit)",
      exprs => { arity("osa_distance", exprs, 2); OsaDistance(exprs.head, exprs(1)) }),
    ("simhash_md5",
      "simhash_md5(text, bits) - n-bit SimHash over whitespace tokens, md5-derived",
      exprs => { arity("simhash_md5", exprs, 2)
        SimHashMd5(exprs.head, litInt(exprs(1), "bits")) }),
    ("min_gram_md5",
      "min_gram_md5(text, k) - min md5 hex over character k-grams (one-permutation MinHash)",
      exprs => { arity("min_gram_md5", exprs, 2)
        MinGramMd5Hex(exprs.head, litInt(exprs(1), "k")) }),
    ("winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - sorted distinct window minima of k-gram hashes",
      exprs => { arity("winnow_fingerprints", exprs, 3)
        WinnowFingerprints(exprs.head, litInt(exprs(1), "k"), litInt(exprs(2), "w")) }),
    ("minhash_bands",
      "minhash_bands(text, k, bands) - MinHash band signatures over character k-grams (xxhash64 k-from-1)",
      exprs => { arity("minhash_bands", exprs, 3)
        MinHashBandsExpr(exprs.head, litInt(exprs(1), "k"), litInt(exprs(2), "bands")) }),
    ("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double array embeddings",
      exprs => { arity("cosine_sim", exprs, 2); CosineSim(exprs.head, exprs(1)) }),
  )
}

/** Cluster-deployable SQL-surface injection through the standard
  * `spark.sql.extensions` mechanism —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — so SQL-only users (JDBC/thrift server, notebook SQL cells) get the
  * same function surface as DataFrame users without any driver-side
  * registration call. Every [[GraftSession]] installs it and refuses a
  * session without it, so this is the one route for `GraftFunctionDefs.all`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctionDefs.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", "scala_udf"),
        builder))
    }
    // Plan rewrites: row_number()<=k window filters → bounded top-k
    // aggregation (no per-group sort; ≤k rows per group cross the shuffle).
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToTopK)
  }
}
