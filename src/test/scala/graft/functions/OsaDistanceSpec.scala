package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OsaDistanceSpec extends SparkSpec {
  test("OSA counts adjacent transposition as one edit (stringdist default, code/10:135)") {
    assert(OsaDistance.osa("ab", "ba") == 1)     // levenshtein would say 2
    assert(OsaDistance.osa("save the children", "svae the children") == 1)
    assert(OsaDistance.osa("abc", "abc") == 0)
    assert(OsaDistance.osa("", "abc") == 3)
    assert(OsaDistance.osa("kitten", "sitting") == 3)
    assert(OsaDistance.osa("ca", "abc") == 3)    // OSA (not full DL, which gives 2)
  }

  test("osa_distance works as a Column over a DataFrame") {
    import spark.implicits._
    val df = Seq(("ab", "ba"), ("kitten", "sitting"), (null, "x"))
      .toDF("a", "b")
    val out = df.select(OsaDistance.osa_distance(col("a"), col("b"))).collect()
    assert(out(0).getInt(0) == 1)
    assert(out(1).getInt(0) == 3)
    assert(out(2).isNullAt(0))
  }

  test("osa_distance is registered for the SQL surface") {
    val r = spark.sql("SELECT osa_distance('ab', 'ba') AS d").collect()(0).getInt(0)
    assert(r == 1)
  }

  test("osa_distance participates in whole-stage codegen (no silent fallback)") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false") // codegen errors throw
    try {
      // spark.range (not a local Seq) so ConvertToLocalRelation can't
      // constant-fold the project before execution
      val df = spark.range(2)
        .select(when(col("id") === 0, "martha").otherwise("kitten").as("a"),
          when(col("id") === 0, "marhta").otherwise("sitting").as("b"))
        .select(OsaDistance.osa_distance(col("a"), col("b")).as("d"))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 3))
      val gen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
      assert(gen.contains("OsaDistance$.MODULE$.osa"))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }
}
