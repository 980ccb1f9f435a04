package graft

/** [[Probe.metered]], the one listener the runners read their job and
  * task numbers from: it counts what its body caused, all of it, and
  * nothing from before it. */
class ProbeSpec extends SparkSpec {

  /** One exchange over 10,000 rows and no partial aggregate, so exactly
    * 10,000 shuffle records are written. */
  private def repartitioned() = Probe.metered(spark.sparkContext) {
    spark.range(0, 10000, 1, 4).repartition(3)
      .write.format("noop").mode("overwrite").save()
  }

  test("metered sees every shuffle record and completed job of its body") {
    val m = repartitioned()
    assert(m.shuffleRecords == 10000L, s"shuffle records: ${m.tasks}")
    assert(m.jobs.nonEmpty, "at least one completed job")
    assert(m.jobs.forall(j => j.end >= j.start && j.tasks > 0), s"jobs: ${m.jobs}")
  }

  test("a second metered call sees none of the first call's events") {
    val first = repartitioned()
    val second = repartitioned()
    assert(second.shuffleRecords == 10000L, s"second call's tasks: ${second.tasks}")
    assert(second.jobs.map(_.id).min > first.jobs.map(_.id).max,
      s"jobs of the first call in the second: ${first.jobs} / ${second.jobs}")
  }

  test("a schema-less parquet read runs one inference job; a declared read runs none") {
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_infer_").toString
    spark.range(0, 10, 1, 1).write.mode("overwrite").parquet(s"$dir/t")
    val inferred = Probe.metered(spark.sparkContext)(spark.read.parquet(s"$dir/t"))
    assert(inferred.jobs.size == 1 &&
        inferred.jobs.head.kinds.exists(_.startsWith("ParallelCollectionRDD")),
      s"inference jobs: ${inferred.jobs}")
    val declared = Probe.metered(spark.sparkContext)(
      spark.read.schema("id BIGINT").parquet(s"$dir/t"))
    assert(declared.jobs.isEmpty, s"a declared read ran jobs: ${declared.jobs}")
  }

  test("a micro-batch's jobs read as <name>#<batch>, one site per batch") {
    import spark.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
    val q = in.toDF().writeStream.queryName("graft_probe_drain")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.format("noop").mode("overwrite").save() }
      .start()
    try {
      val m = Probe.metered(spark.sparkContext) {
        in.addData(1L, 2L)
        q.processAllAvailable()
        in.addData(3L)
        q.processAllAvailable()
      }
      val sites = m.jobs.map(_.site).toSet
      assert(sites.contains("graft_probe_drain#0") && sites.contains("graft_probe_drain#1"),
        s"sites: $sites")
      assert(!sites.exists(_.contains("\n")), s"a multi-line site is left: $sites")
    } finally q.stop()
  }
}
