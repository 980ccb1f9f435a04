package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EventPipelineSpec extends SparkSpec {

  private def ts(minute: Int) = new java.sql.Timestamp(
    java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli + minute * 60000L)

  test("hourlyAgg: tumbling window counts under watermark") {
    val sqlc = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventPipeline.Event](spark)
    input.addData(
      EventPipeline.Event(1, ts(5), 10, "click", 1.0),
      EventPipeline.Event(2, ts(20), 10, "click", 2.0),
      EventPipeline.Event(3, ts(70), 11, "view", 5.0))
    val q = EventPipeline.hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_start").toInstant.toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
      assert(rows == Set(
        ("2024-01-01T00:00:00Z", "click", 2L),
        ("2024-01-01T01:00:00Z", "view", 1L)))
    } finally q.stop()
  }

  test("hourlyAgg append mode: window seals only after the watermark passes it") {
    val sqlc = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventPipeline.Event](spark)
    val q = EventPipeline.hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly_append").outputMode("append").start()
    try {
      input.addData(EventPipeline.Event(1, ts(5), 10, "click", 1.0))
      q.processAllAvailable()
      // watermark (max event − 30 min) hasn't passed the 0:00 window yet
      assert(spark.table("hourly_append").count() == 0)
      // an event at t=120min pushes the watermark to 1:30 → hour 0 seals
      input.addData(EventPipeline.Event(2, ts(120), 10, "click", 2.0))
      q.processAllAvailable()
      input.addData(EventPipeline.Event(3, ts(125), 10, "view", 1.0))
      q.processAllAvailable()
      val emitted = spark.table("hourly_append").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_start").toInstant.toString, r.getAs[Long]("n")))
      assert(emitted.toSet == Set(("2024-01-01T00:00:00Z", 1L)))
    } finally q.stop()
  }

  test("dedupWithinWatermark: retransmitted ids dropped across batches, state ages out") {
    val sqlc = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventPipeline.Event](spark)
    val q = EventPipeline.dedupWithinWatermark(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      input.addData(
        EventPipeline.Event(1, ts(0), 10, "click", 1.0),
        EventPipeline.Event(1, ts(1), 10, "click", 1.0)) // in-batch dup
      q.processAllAvailable()
      input.addData(EventPipeline.Event(1, ts(2), 10, "click", 1.0)) // cross-batch dup
      input.addData(EventPipeline.Event(2, ts(5), 10, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("deduped").select("event_id").as[Long].collect().sorted
        .toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("cdcApply: a second run over the same stateDir continues from prior state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_rerun_").toString
    val state = s"$root/state"
    // the incremental pattern: each run drains the NEW files that landed
    // in the same input dir since the last run (the checkpoint under
    // stateDir remembers consumed files), merging into the same stateDir
    def run(rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      rows.toDF("entity", "sec", "event_id", "op", "value")
        .repartition(2).write.mode("append").parquet(s"$root/in")
      val ops = spark.readStream
        .schema("entity LONG, sec LONG, event_id LONG, op STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      EventPipeline.cdcApply(ops, state).awaitTermination()
    }
    // run 1: entity 1 updated, entity 2 updated
    run(Seq((1L, 10L, 1L, "U", 1.0), (2L, 10L, 2L, "U", 2.0)))
    // run 2, SAME stateDir (a fresh query whose batch ids restart at 0):
    // entity 2 gets a later op; entity 1's run-1 state must survive
    run(Seq((2L, 20L, 3L, "U", 5.0), (3L, 20L, 4L, "U", 3.0)))
    val out = EventPipeline.cdcState(spark, state)
      .select(col("entity"), col("m.value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 1.0, 2L -> 5.0, 3L -> 3.0),
      s"second run abandoned prior state: $out")
    // version pruning: at most the two newest versions remain
    assert(new java.io.File(state).listFiles()
      .map(_.getName).count(_.matches("v\\d+")) <= 2)
  }

  test("cdcApply: with _SUCCESS markers disabled, state still accumulates (listing fallback)") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      val root = java.nio.file.Files.createTempDirectory("graft_cdc_nomark_").toString
      val state = s"$root/state"
      def run(rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
        rows.toDF("entity", "sec", "event_id", "op", "value")
          .repartition(2).write.mode("append").parquet(s"$root/in")
        val ops = spark.readStream
          .schema("entity LONG, sec LONG, event_id LONG, op STRING, value DOUBLE")
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        EventPipeline.cdcApply(ops, state).awaitTermination()
      }
      run(Seq((1L, 10L, 1L, "U", 1.0)))
      assert(!new java.io.File(state).listFiles().exists(d =>
        new java.io.File(d, "_SUCCESS").exists()), "fixture: markers still written")
      run(Seq((2L, 20L, 2L, "U", 2.0)))
      val out = EventPipeline.cdcState(spark, state)
        .select(col("entity"), col("m.value")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out == Map(1L -> 1.0, 2L -> 2.0),
        s"marker gating discarded state under marksuccessfuljobs=false: $out")
    } finally hconf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("cdcApply: a dead batch's partial version dir is skipped and pruned") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_partial_").toString
    val state = s"$root/state"
    def run(rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      rows.toDF("entity", "sec", "event_id", "op", "value")
        .repartition(2).write.mode("append").parquet(s"$root/in")
      val ops = spark.readStream
        .schema("entity LONG, sec LONG, event_id LONG, op STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      EventPipeline.cdcApply(ops, state).awaitTermination()
    }
    run(Seq((1L, 10L, 1L, "U", 1.0)))
    // simulate a batch that died mid-write: a version dir newer than the
    // committed one, holding a torn file and NO _SUCCESS marker
    val vmax = new java.io.File(state).listFiles().map(_.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt).max
    val partial = new java.io.File(state, s"v${vmax + 1}")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // unreadable as parquet
    // serving must come from the committed version, not the partial
    assert(EventPipeline.cdcState(spark, state)
      .select("entity").as[Long].collect().toSeq == Seq(1L))
    // the retry merges from the committed version (reading the partial
    // would throw), lands past the partial, and prunes the dead dir
    run(Seq((2L, 20L, 2L, "U", 2.0)))
    val out = EventPipeline.cdcState(spark, state)
      .select(col("entity"), col("m.value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 1.0, 2L -> 2.0), s"partial dir poisoned the merge: $out")
    assert(!partial.exists(), "dead partial version dir was not pruned")
  }
}
