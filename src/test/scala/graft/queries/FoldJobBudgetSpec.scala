package graft.queries

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Per-micro-batch Spark JOB budget for the CDC fold family — the
  * round-17 overhead diet's regression tripwire. The fold's sf-scale
  * wall cost is dominated by fixed per-batch driver actions (pins,
  * isEmpty probes, bucket-list collects, the observed generation
  * writes, ledger segment appends), not data volume; r16 paid four
  * actions where one write sufficed, and the diet collapsed them
  * (observe() metrics on the write, skip-on-statically-empty branches,
  * no distinct+checkpoint on anti/semi-only frames). Those wins are
  * invisible to PlanBudgetSpec (shuffles) and the decade gates (bytes)
  * — a reintroduced per-fold count() or checkpoint changes neither,
  * but it adds a JOB. This spec meters jobs per fold on the bridge
  * fixture and pins them under measured+headroom ceilings.
  *
  * Budgets are UPPER bounds with ~12% headroom over measured (local[4],
  * AQE on): job counts are structural — plan-shape-deterministic, not
  * timing- or host-dependent — so a breach means a code change added
  * driver actions to the fold path, exactly what the diet removed.
  */
class FoldJobBudgetSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, lit, pmod}

  /** The hard job ceilings below are plan-shape dependent (AQE's
    * query-stage materialization ≈ 2.7 jobs per driver action) and were
    * measured on THIS Spark line — a version bump can legitimately move
    * them, which must read as "re-measure and re-pin", not as a fold
    * regression. The meter itself settles on a listener-bus DRAIN, not
    * a fixed sleep poll (which undercounts when the async bus stalls
    * past one interval on a loaded host). */
  private val pinnedSparkLine = "4.1."
  private def requirePinnedSpark(): Unit =
    assume(org.apache.spark.SPARK_VERSION.startsWith(pinnedSparkLine),
      s"job budgets are pinned to Spark $pinnedSparkLine" +
        s"x (running ${org.apache.spark.SPARK_VERSION}) — re-measure and re-pin")

  private def meteredJobs(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftListenerBridge
        .waitListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("survivorCdcStep: per-fold job count stays under the diet budget") {
    requirePinnedSpark()
    // the bridge fixture (ClusterRetractionSpec's): history clusters
    // A = {1,2} and B = {10,11}; batch 0 bridges them via arrival 21,
    // batch 1 deletes a history member, batch 2 deletes the bridge.
    // Three profiles: append-with-merge, delete-with-closure-walk,
    // delete-with-split — the fold family's costliest shapes.
    val dir = Files.createTempDirectory("graft_jobbudget_state_").toString
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("id", "component")
    labels.withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/labels")
    labels.withColumn("bucket", pmod(col("id"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/labels_byid")
    Seq((1L, 2L, 1L), (10L, 11L, 10L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val sdir = Files.createTempDirectory("graft_jobbudget_surv_").toString
    Seq((1L, 1L, 0.1), (2L, 1L, 0.3), (10L, 10L, 0.2), (11L, 10L, 0.2))
      .toDF("doc_id", "component", "quality")
      .withColumn("bucket", pmod(col("component"), lit(64)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$sdir/membership")
    Seq((1L, 2L, 2L, 0.3), (10L, 10L, 2L, 0.2))
      .toDF("component", "survivor_id", "n_members", "quality")
      .withColumn("bucket", pmod(col("component"), lit(64)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$sdir/manifest")
    val sigs = Seq((1L, 0L), (2L, 0L), (10L, 3L), (11L, 3L), (21L, 1L))
      .toDF("doc_id", "simhash").localCheckpoint()
    val root = Files.createTempDirectory("graft_jobbudget_root_").toString
    def step(id: Long, op: String, doc: Long): Int = {
      val b = Seq((op, doc,
          if (op == "I") java.lang.Long.valueOf(1L) else null.asInstanceOf[java.lang.Long],
          if (op == "I") java.lang.Double.valueOf(0.4) else null.asInstanceOf[java.lang.Double]))
        .toDF("op", "doc_id", "simhash", "quality")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"),
          $"quality".cast("double"))
      meteredJobs { DedupQueries.survivorCdcStep(dir, sdir, root, b, id, sigs); () }
    }
    def timed(body: => Int): (Int, Double) = {
      val t0 = System.nanoTime()
      val j = body
      (j, (System.nanoTime() - t0) / 1e9)
    }
    val (jAppend, wAppend) = timed(step(0, "I", 21L)) // bridge merge: the append profile
    val (jDelete, wDelete) = timed(step(1, "D", 2L))  // history delete: closure walk + re-election
    val (jSplit, wSplit)   = timed(step(2, "D", 21L)) // bridge delete: split + two re-elections
    // the wall on this NEAR-ZERO-DATA fixture is the fold family's
    // fixed per-batch overhead floor — the number SCALING.md's
    // trigger-rate bound is written against
    info(f"fold jobs — append=$jAppend (${wAppend}%.1fs) delete=$jDelete " +
      f"(${wDelete}%.1fs) split=$jSplit (${wSplit}%.1fs)")
    // measured with the one change ledger (the op ledger carries the
    // arrivals' quality; no second quality ledger to append or window):
    // append=29, delete=29, split=29 (local[4], AQE on). The history on
    // this same fixture: 30/32/32 with a separate quality ledger
    // (ceilings 34/36/36), 44/60/62 before declared state schemas and
    // driver-held batch frames (ceilings 60/72/74), the r17 diet
    // 63/74/76, r16's shape 82/100/102. Budgets = measured + ~12%
    // headroom; tighten only by REMOVING actions — a breach means a code
    // change added per-batch driver actions, exactly what the diet
    // removed.
    assert(jAppend <= 32, s"append-profile fold ran $jAppend jobs — over budget")
    assert(jDelete <= 32, s"delete-profile fold ran $jDelete jobs — over budget")
    assert(jSplit <= 32, s"split-profile fold ran $jSplit jobs — over budget")
  }

  test("componentsMergeStep: per-fold job count stays under the diet budget") {
    requirePinnedSpark()
    // the q172 merge fold: batch 0 seeds two pairs, batch 1 bridges
    // them (touched-state read + merge), the costliest merge profile.
    val root = Files.createTempDirectory("graft_jobbudget_merge_").toString
    def step(id: Long, edges: Seq[(Long, Long)]): Int = {
      val b = edges.toDF("id_a", "id_b")
      meteredJobs { DedupQueries.componentsMergeStep(root, b, id); () }
    }
    val jSeed = step(0, Seq((1L, 2L), (10L, 11L)))
    val jMerge = step(1, Seq((2L, 10L)))
    info(s"merge fold jobs — seed=$jSeed merge=$jMerge")
    // measured with driver-held batch frames: seed=6, merge=8 (every
    // key and bucket set is Scala over held rows, every semi/anti an
    // InSet filter); r20 measured 12/21 (ceilings 14/24). Same rule:
    // measured + ~12% headroom, tighten only by removing actions.
    assert(jSeed <= 7, s"seed-profile merge fold ran $jSeed jobs — over budget")
    assert(jMerge <= 9, s"merge-profile fold ran $jMerge jobs — over budget")
  }
}
