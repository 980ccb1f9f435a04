package graft.queries

import graft.{Probe, SparkSpec}
import org.apache.spark.sql.functions.broadcast

/** The driver-held key-set discipline of the batch-sized fold frames
  * ([[DedupQueries.Held]]): a semi- or anti-join against a held key set
  * is an InSet filter ([[DedupQueries.semiIn]] / [[DedupQueries.antiIn]])
  * that must equal the broadcast join it replaced — null keys, duplicate
  * keys and empty key sets included — and must run no Spark job. */
class HeldSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Long])] =
    df.select("row", "k").collect().toSeq
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).sorted

  test("semiIn/antiIn equal leftsemi/left_anti joins on a broadcast key frame") {
    val rnd = new scala.util.Random(23)
    def key(): Option[Long] = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(12).toLong)
    for (trial <- 1 to 24) {
      val left = (0 until rnd.nextInt(40)).map(i => (i.toLong, key())).toDF("row", "k")
      // every fourth trial: an empty key set
      val keyFrame = Seq.fill(if (trial % 4 == 0) 0 else rnd.nextInt(15))(key()).toDF("k")
      val keys = keyFrame.collect().toSeq.map(_.get(0))
      assert(rows(DedupQueries.semiIn(left, "k", keys)) ==
        rows(left.join(broadcast(keyFrame), Seq("k"), "leftsemi")),
        s"trial $trial: semi form diverged (keys $keys)")
      assert(rows(DedupQueries.antiIn(left, "k", keys)) ==
        rows(left.join(broadcast(keyFrame), Seq("k"), "left_anti")),
        s"trial $trial: anti form diverged (keys $keys)")
    }
  }

  test("a held frame's keys, count and frame; its InSet filter runs no job") {
    val held = DedupQueries.Held(Seq((1L, 10L), (2L, 10L), (3L, 30L)).toDF("id", "component"))
    assert(held.n == 3L)
    assert(held.keys("component").toSet == Set(10L, 30L))
    assert(held.df.as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 10L), (3L, 30L)))
    val probe = (10L to 40L by 10L).toDF("component")
    val sc = spark.sparkContext
    val inSet = Probe.metered(sc)(
      DedupQueries.semiIn(held.df, "component", probe.collect().map(_.get(0))).collect())
    assert(inSet.value.length == 3 && inSet.jobs.isEmpty,
      s"the InSet filter over a held frame ran jobs: ${inSet.jobs}")
    val joined = Probe.metered(sc)(
      held.df.join(broadcast(probe), Seq("component"), "leftsemi").collect())
    assert(joined.value.length == 3 && joined.jobs.nonEmpty,
      "the broadcast form this replaces runs a job")
  }
}
