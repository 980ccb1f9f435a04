package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures AQE's runtime skew-join split against the same join run
  * with the splitter disabled — the "let the optimizer handle it"
  * counterpart to q60's manual salting, so SCALING.md can say WHEN each
  * applies from numbers rather than folklore.
  *
  * Fixture: a sort-merge join where `hotFrac` of the fact rows carry
  * ONE join key (the q60 shape). With a hash shuffle that key lands in
  * a single reduce task: the stage's wall-clock is that task, and 31 of
  * 32 local cores idle. AQE's OptimizeSkewedJoin splits the oversized
  * partition into advisory-sized slices at RUNTIME (both sides of a SMJ
  * can replay the matching range), which salting achieves only by
  * rewriting the query. The thresholds are lowered here because the
  * bench-scale hot partition is ~MBs (at 100 TB the 256 MB default
  * triggers by itself — the knob moves, the mechanism is identical;
  * SCALING.md "Knobs that change at cluster scale").
  *
  * Salting stays necessary where AQE cannot reach: skewed AGGREGATION
  * keys (no join to split) and broadcast-ineligible skew under
  * non-equi conditions. The probe prints the skew-split evidence from
  * the final adaptive plan (`AQEShuffleRead skewed` nodes) so the speedup
  * is attributable, not coincidental.
  *
  * Usage: runMain graft.SkewProbe [sfDir] [hotFrac]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hotFrac = args.lift(1).map(_.toDouble).getOrElse(0.3)
    val spark = GraftSession.builder()
      // force the sort-merge path: skew split only applies to SMJ, and
      // a broadcast would hide the skew entirely (which is itself the
      // first-line fix when the dim side fits)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.enabled", "true")
      // bench-scale thresholds (hot partition is MBs here, not the
      // 256 MB production default — see Scaladoc)
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      // keep AQE from ALSO coalescing the comparison away
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // q60's skew shape from lineitem ×8 (copies shift l_orderkey so
    // the non-hot key space replicates): hotFrac of rows on key 0, the
    // rest uniform over 10k keys; the hot partition must clear the
    // (lowered) threshold by a wide margin
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val fact = (0 until 8).map(c =>
        base.withColumn("l_orderkey", col("l_orderkey") + c * 4564560L))
      .reduce(_ unionByName _)
      .select(
        when(pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(1000))
          < lit((hotFrac * 1000).toInt), 0L)
          .otherwise(pmod(hash(col("l_partkey")), lit(10000)).cast("long") + 1L)
          .as("k"),
        col("l_extendedprice"), col("l_quantity"),
        col("l_returnflag"), col("l_shipdate"))
    val dim = spark.range(10001).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("rate"))

    def joined = fact.join(dim, "k")
      .select(sum(col("l_extendedprice") * col("rate")).as("s"),
        count(lit(1)).as("n"))

    def run(skewFix: Boolean): (Double, String) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewFix.toString)
      var best = Double.MaxValue
      var plan = ""
      for (_ <- 1 to 3) {
        System.gc()
        val df = joined
        val t0 = System.nanoTime()
        // collect, not a noop write: the write path builds its OWN
        // QueryExecution, leaving df's adaptive plan unexecuted — its
        // toString would show the initial plan with no AQEShuffleRead
        // nodes and the skew evidence would read as absent
        df.collect() // one global-agg row
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) {
          best = sec
          // keep the plan FROM THE ITERATION THAT PRODUCED best, so the
          // reported time and its skewed_reads evidence are one run
          plan = df.queryExecution.executedPlan.toString
        }
      }
      (best, plan)
    }

    run(skewFix = false) // warm IO + codegen before either timed arm
    val (offSec, offPlan) = run(skewFix = false)
    val (onSec, onPlan) = run(skewFix = true)
    def skewReads(p: String) = p.linesIterator.count(_.trim.endsWith("AQEShuffleRead skewed"))
    if (sys.env.contains("SKEW_DEBUG")) println(onPlan)
    println(s"""{"probe":"skew_join_off","sec":${math.round(offSec * 100) / 100.0},"skewed_reads":${skewReads(offPlan)}}""")
    println(s"""{"probe":"skew_join_on","sec":${math.round(onSec * 100) / 100.0},"skewed_reads":${skewReads(onPlan)},"speedup":${math.round(offSec / onSec * 100) / 100.0}}""")

    semdedupHotCell(spark, sfDir, hotFrac)
    spark.stop()
  }

  /** The SEMDEDUP hot-cell probe: k ∝ N bounds the AVERAGE cell, but
    * embeddings cluster — a clustered corpus drops a large fraction of
    * vectors into ONE cell, and the within-cell pair join's work is
    * QUADRATIC in that cell's occupancy, so the hot cid's shuffle
    * partition becomes the stage: one task does (hotFrac·N)²/2 cosines
    * while the rest of the cluster idles. Measured here with the cell
    * assignment CONSTRUCTED directly (hotFrac of rows on cid 0, rest
    * uniform over 256 cells) — the skew mechanism is quantizer-
    * independent, and bypassing training isolates the join-side
    * straggler from training noise.
    *
    * Mitigation measured: AQE's OptimizeSkewedJoin, the same mechanism
    * as the join probe above — the pair join IS an equi-join on cid, so
    * the oversized partition splits into advisory-sized slices of one
    * side with the matching partition of the other side replicated per
    * slice: every within-cell pair is still produced exactly once per
    * (a-slice, full-b) pairing, the quadratic WORK is unchanged but
    * spread over slices·tasks instead of one. A manual secondary-hash
    * cell split would have to replicate one side explicitly to keep
    * cross-subcell pairs — AQE does that replication at runtime from
    * observed sizes, which is why it is the documented mitigation
    * (SCALING.md "Semantic dedup at scale"). Evidence: per-task
    * duration distribution (max vs p50) from a listener scoped to each
    * arm, plus the `AQEShuffleRead skewed` nodes in the adaptive plan
    * of the run that produced the time. */
  private def semdedupHotCell(spark: SparkSession, sfDir: String, hotFrac: Double): Unit = {
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // ×16 key-offset copies: enough rows that the hot cell's partition
    // clears the (lowered) skew threshold the way a production hot cell
    // clears the 256 MB default
    val cells = (0 until 16).map(c =>
        embBase.withColumn("vec_id", col("vec_id") + c * 1000000L))
      .reduce(_ unionByName _)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("__v"),
        when(pmod(hash(col("vec_id")), lit(1000)) < lit((hotFrac * 1000).toInt), 0L)
          .otherwise(pmod(hash(col("vec_id") + 7), lit(256)).cast("long") + 1L)
          .as("cid"))
      .localCheckpoint() // both pair sides + the anti spine read ONE materialization

    // per-task durations, scoped per arm: the straggler is visible as
    // max ≫ p50 in the off arm and collapses toward p50 in the on arm
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) { durations.add(te.taskInfo.duration); () }
    }
    spark.sparkContext.addSparkListener(listener)

    def run(skewFix: Boolean): (Double, String, Long, Long) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewFix.toString)
      var best = Double.MaxValue
      var plan = ""
      var bestTimes: Seq[Long] = Nil
      for (_ <- 1 to 3) {
        System.gc()
        durations.clear()
        val df = graft.dedup.SemDedup.semanticDedupOnCells(cells, tau = 0.3)
        val t0 = System.nanoTime()
        // collect, not count: count() builds its OWN QueryExecution and
        // df's adaptive plan would stay unexecuted — its toString would
        // show the initial plan with no skew evidence (the same hazard
        // as the noop write above); survivors are (vec_id, cid) ids only
        val n = df.collect().length
        val sec = (System.nanoTime() - t0) / 1e9
        require(n > 0, "semdedup probe produced no survivors")
        // task-end events ride the async listener bus and collect()
        // returns on job completion, racing their delivery — and the
        // straggler (the whole point of the off arm) is by construction
        // the LAST task to end, so snapshotting immediately would most
        // likely drop exactly the task_max evidence. Poll until the
        // queue is quiet (also fences the next iteration's clear()
        // against this job's stragglers).
        var lastSize = -1
        var quiet = 0
        var waited = 0
        while (quiet < 2 && waited < 5000) {
          Thread.sleep(100); waited += 100
          val s = durations.size()
          if (s == lastSize) quiet += 1 else { quiet = 0; lastSize = s }
        }
        if (sec < best) {
          best = sec
          plan = df.queryExecution.executedPlan.toString
          bestTimes = {
            import scala.jdk.CollectionConverters._
            durations.asScala.toSeq
          }
        }
      }
      val sorted = bestTimes.sorted
      val (p50, mx) = if (sorted.isEmpty) (0L, 0L)
        else (sorted(sorted.size / 2), sorted.last)
      (best, plan, p50, mx)
    }

    try {
      run(skewFix = false) // warm
      val (offSec, offPlan, offP50, offMax) = run(skewFix = false)
      val (onSec, onPlan, onP50, onMax) = run(skewFix = true)
      def skewReads(p: String) = p.linesIterator.count(_.trim.endsWith("AQEShuffleRead skewed"))
      if (sys.env.contains("SKEW_DEBUG")) println(onPlan)
      println(s"""{"probe":"semdedup_hot_cell_off","sec":${math.round(offSec * 100) / 100.0},"task_p50_ms":$offP50,"task_max_ms":$offMax,"skewed_reads":${skewReads(offPlan)}}""")
      println(s"""{"probe":"semdedup_hot_cell_on","sec":${math.round(onSec * 100) / 100.0},"task_p50_ms":$onP50,"task_max_ms":$onMax,"skewed_reads":${skewReads(onPlan)},"speedup":${math.round(offSec / onSec * 100) / 100.0}}""")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
