package graft.queries

import graft.{Probe, SparkSpec}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** [[DedupQueries.onPool]]: a fold pool thread is created once and
  * reused, and Spark's local properties are inherited at creation — so
  * each submission must carry its submitter's job description, or the
  * jobs read the label of whatever step first created the thread. */
class FoldPoolSpec extends SparkSpec {

  test("two pool submissions under different labels each read their own label") {
    def job(): Unit = spark.range(0, 10, 1, 1).write.format("noop").mode("overwrite").save()
    def submitUnder(label: String): Unit = DedupQueries.labeled(spark, label)(
      Await.result(DedupQueries.onPool(job()), Duration(5, "min")))
    val m = Probe.metered(spark.sparkContext) {
      submitUnder("pool:first")
      submitUnder("pool:second")
    }
    assert(m.jobs.nonEmpty, "no job ran")
    assert(m.jobs.map(_.site).distinct == Seq("pool:first", "pool:second"),
      s"sites: ${m.jobs.map(_.site)}")
  }
}
