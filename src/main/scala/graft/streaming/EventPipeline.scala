package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming extension (SURVEY §2.10 — the reference is pure
  * batch; this is the streaming twin of graft.queries.EventQueries so the
  * same semantics run incrementally).
  *
  * Input contract: a streaming DataFrame with (event_id: long, ts:
  * timestamp, user_id: long, event_type: string, value: double).
  * Watermarks bound state; both queries are shuffle-once on their group
  * keys and scale with executor count, not with history.
  */
object EventPipeline {

  /** Tumbling 1-hour windowed aggregation with a 30-minute watermark —
    * the streaming form of q43_hourly_window. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming exact deduplication: drop rows repeating `idCols` while
    * their event time is within `delay` of the watermark — the streaming
    * twin of TextDedup.exactDedup for at-least-once sources. State is
    * bounded by the watermark (old keys age out), so memory is
    * O(keys per delay window), not O(stream history). */
  def dedupWithinWatermark(events: DataFrame, idCols: Seq[String],
      tsCol: String = "ts", delay: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming CDC apply via foreachBatch — the streaming twin of the
    * q87 batch argmax-agg. Each micro-batch reduces to one candidate row
    * per entity (partial-agg `max(struct(sec, event_id, op, value))` —
    * no window sort), then merges with the previous state version by the
    * same max. The merge is associative and commutative, so the final
    * table is independent of batch boundaries and arrival order.
    *
    * State is versioned parquet (`v0`, `v1`, …): each batch merges the
    * LATEST version on disk with its delta and writes the next version —
    * keyed off the directory listing, never the batch id, so a NEW run
    * over an existing stateDir (whose batch ids restart at 0) continues
    * from the accumulated state instead of silently abandoning it. The
    * max-merge is idempotent, so a retried batch re-merging state that
    * already contains its delta writes a new version with identical
    * rows. Only versions carrying a `_SUCCESS` marker count as state: a
    * batch that dies mid-write leaves a partial `v<next>` dir, and the
    * checkpoint-driven retry must merge from the newest COMPLETE version
    * (reading the partial would fail permanently under a v1 committer and
    * silently merge truncated state under a direct cloud committer). New
    * versions are numbered past every existing dir — complete or not —
    * so a retry never writes into the dir it is reading. All but the two
    * newest complete versions are pruned (current + rollback; dead
    * partial dirs go with them); the stream checkpoints under
    * `stateDir/_checkpoint`, so a restarted run neither re-reads consumed
    * input nor double-counts.
    * This is the engine-agnostic MERGE pattern; on a lakehouse table the
    * body becomes a single MERGE INTO. State volume = live entities
    * (keys), never stream history, and each batch's shuffle carries one
    * pre-reduced row per (entity × input partition).
    *
    * `ops` contract: (entity, sec: long, event_id: long, op: 'U'|'D',
    * value: double) where (sec, event_id) totally orders ops. */
  def cdcApply(ops: DataFrame, stateDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ops.writeStream
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val delta = batch.groupBy("entity")
          .agg(max(struct(col("sec"), col("event_id"), col("op"), col("value"))).as("m"))
        val merged = completeVersions(s, stateDir).maxOption match {
          case None => delta
          case Some(v) => graft.queries.StateFs.readParquet(s, s"$stateDir/v$v").union(delta)
            .groupBy("entity").agg(max(col("m")).as("m"))
        }
        // number past every existing dir, partial or complete, so the
        // write target is never the dir being read
        val next = (stateVersions(s, stateDir) :+ -1).max + 1
        merged.write.mode("overwrite").parquet(s"$stateDir/v$next")
        val f = hadoopFs(s, stateDir)
        val keep = completeVersions(s, stateDir).sorted.takeRight(2).toSet
        stateVersions(s, stateDir).filterNot(keep).foreach { v =>
          f.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v$v"), true)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  private def hadoopFs(s: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Version numbers present under `stateDir` (hadoop FS — the state
    * lives on object storage at cluster scale, not a local disk). */
  private def stateVersions(
      s: org.apache.spark.sql.SparkSession, stateDir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val f = hadoopFs(s, stateDir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt)
  }

  /** Versions whose write committed (the `_SUCCESS` marker exists — the
    * FileOutputCommitter and the S3A committers both write one on job
    * commit, and only on commit). A dir without it is a dead batch's
    * partial write and must be neither merged from nor served.
    *
    * When the session disables markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) every
    * version would read as incomplete — each batch would discard all
    * accumulated state and the prune would delete the version just
    * written — so completeness falls back to the plain listing there
    * (the pre-marker semantics, with that config's torn-write exposure
    * documented rather than silently converted into total state loss). */
  private def completeVersions(
      s: org.apache.spark.sql.SparkSession, stateDir: String): Seq[Int] = {
    val markersOn = s.sparkContext.hadoopConfiguration.getBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    val all = stateVersions(s, stateDir)
    if (!markersOn) all
    else {
      val f = hadoopFs(s, stateDir)
      all.filter(v =>
        f.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v$v/_SUCCESS")))
    }
  }

  /** Latest committed CDC state version written by [[cdcApply]]. */
  def cdcState(s: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame =
    graft.queries.StateFs.readParquet(s, s"$stateDir/v${completeVersions(s, stateDir).max}")

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
}
