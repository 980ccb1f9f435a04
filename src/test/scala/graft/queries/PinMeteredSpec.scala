package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The staging and compaction builds pin their corpus-sized frames with
  * [[DedupQueries.pinMetered]] and read the row count off the same
  * checkpoint action as an observe() metric. Two claims are pinned here
  * against Spark upgrades: (1) the observed count is EXACT and the pin
  * serves the same rows; (2) a statically-empty observed subtree (AQE
  * may replace it with an empty relation and drop CollectMetrics,
  * returning an EMPTY metrics map) resolves to count 0 WITHOUT hanging
  * on Observation.get. */
class PinMeteredSpec extends SparkSpec {
  import spark.implicits._

  test("the observed count is exact and the pin serves the same rows") {
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(500)((rnd.nextLong().abs % 10000, rnd.nextLong().abs % 997))
    val df = rows.toDF("id", "component")
    val p = DedupQueries.pinMetered(df)
    assert(p.n == 500L)
    assert(p.df.as[(Long, Long)].collect().toSeq.sorted == rows.sorted,
      "the pin serves the same rows")
  }

  test("runtime-empty and statically-empty frames resolve to zero, no hang") {
    val df = Seq((1L, 2L)).toDF("id", "component")
    // runtime-empty: the filter survives analysis, the metric arrives as 0
    assert(DedupQueries.pinMetered(df.filter(col("id") > 100)).n == 0L)
    // statically-empty: limit(0) lets the optimizer prove emptiness —
    // the AQE-dropped-CollectMetrics path must default, not block
    assert(DedupQueries.pinMetered(df.limit(0)).n == 0L)
  }
}
