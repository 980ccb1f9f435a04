package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.dedup.TextDedup
import graft.functions.TextFns
import org.apache.spark.sql.functions.{col, expr}
import java.nio.file.Files

/** The survivor-manifest queries over a corpus with NO near-duplicate
  * pair: the staged cluster state then holds no label rows at all, and
  * every document is its own singleton cluster and its own survivor.
  * The empty label relation must read back as empty — not fail schema
  * inference on a partitioned write that left no data files. */
class NoNearDupCorpusSpec extends SparkSpec {
  import spark.implicits._

  /** 60 documents of 12 random 6-letter words each: simhash distances
    * between unrelated texts sit near half the 60 bits, far above the
    * 3-bit near-dup threshold. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_nonneardup_").toString
    val rnd = new scala.util.Random(7)
    def word = (1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    (0L until 60L).map { id =>
      val text = Seq.fill(12)(word).mkString(" ")
      (id, text, "en", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private def manifest(name: String, keepPred: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sig = docs.select(col("doc_id"), TextDedup.simHashN(col("text"), 60).as("simhash"))
    assert(TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3).isEmpty,
      "fixture must hold no near-duplicate pair")
    val want = docs.filter(expr(keepPred))
      .select(col("doc_id"), TextFns.qualityScore(col("text"), TextQueries.qualityStops))
      .as[(Long, Double)].collect().toMap
    val got = SparkEntry.queries(name)(spark, dir)
      .select("component", "survivor_id", "n_members", "quality")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._2).sorted.toSeq == want.keys.toSeq.sorted,
      s"$name: every kept document must survive as its own cluster")
    got.foreach { case (c, sid, n, q) =>
      assert(c == sid && n == 1L, s"$name: $sid must be a singleton, got ($c, $n)")
      assert(math.abs(q - want(sid)) < 1e-9, s"$name: quality of $sid")
    }
  }

  test("q189: the CDC manifest over a corpus with no near-duplicate pair") {
    manifest("q189_stream_manifest_cdc", "doc_id % 13 <> 3 OR doc_id % 7 = 0")
  }

  test("q191: the as-of manifest over a corpus with no near-duplicate pair") {
    manifest("q191_manifest_asof", "doc_id % 13 <> 3 OR doc_id % 2 <> 0")
  }
}
