package graft.functions

import graft.{GraftExtensions, GraftFunctionDefs, SparkSpec}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal

/** SQL-surface registration: the registered function names must resolve
  * in `spark.sql` text and produce the same values as the DataFrame API
  * (they build the same expressions), and the extensions class must
  * inject without error.
  */
class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions match the DataFrame API expressions") {
    val r = spark.sql(
      """SELECT osa_distance('abcd', 'acbd') AS osa,
                simhash_md5('the quick brown fox', 60) AS sh,
                min_gram_md5('the quick brown fox', 8) AS mg,
                winnow_fingerprints('the quick brown fox', 8, 4) AS wf""").head
    assert(r.getInt(0) == 1) // one transposition = one OSA edit
    assert(r.getLong(1) == TextHash.simHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox"), 60))
    assert(r.getString(2) == TextHash.minGramMd5(
      org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox"), 8).toString)
    assert(r.getSeq[Long](3).nonEmpty)
  }

  test("non-literal size arguments are rejected with a clear message") {
    val e = intercept[Exception] {
      spark.sql("SELECT simhash_md5('x', length('abc'))").head
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("GraftExtensions injects every function def") {
    // builder-level smoke: applying the extensions must register all
    // names without throwing (a full spark.sql.extensions round-trip
    // needs a fresh SparkContext, which the shared-session suite avoids)
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(GraftFunctionDefs.all.map(_._1).toSet ==
      Set("osa_distance", "simhash_md5", "min_gram_md5", "winnow_fingerprints",
        "minhash_bands", "cosine_sim"))
    // every builder constructs a resolvable expression from literals
    val lit = Literal("abc")
    GraftFunctionDefs.all.foreach {
      case ("osa_distance", _, b) => assert(b(Seq(lit, lit)).resolved)
      case ("simhash_md5", _, b) => assert(b(Seq(lit, Literal(32))).resolved)
      case ("min_gram_md5", _, b) => assert(b(Seq(lit, Literal(8))).resolved)
      case ("winnow_fingerprints", _, b) => assert(b(Seq(lit, Literal(8), Literal(4))).resolved)
      case ("minhash_bands", _, b) => assert(b(Seq(lit, Literal(8), Literal(8))).resolved)
      case ("cosine_sim", _, b) =>
        val arr = org.apache.spark.sql.catalyst.expressions.Literal.create(
          Seq(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
        assert(b(Seq(arr, arr)).resolved)
      case (name, _, _) => fail(s"unexpected function $name")
    }
  }
}
