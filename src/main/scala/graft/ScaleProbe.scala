package graft

import graft.ann.Knn
import graft.dedup.TextDedup
import org.apache.spark.sql.functions._

/** Empirical scale probe for the quadratic-risk operators: generates a
  * deterministic synthetic corpus far larger than the bench tables and
  * times the dedup/ANN paths, printing one JSON line per measurement.
  * Usage: runMain graft.ScaleProbe [nDocs] [nVecs]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val nVecs = args.lift(1).map(_.toInt).getOrElse(50000)
    val spark = GraftSession.builder()
      // the recorded SCALING.md timings were taken at 32 shuffle
      // partitions, whatever the core count
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // synthetic docs: ~12 words drawn deterministically from id hashes;
    // every 50th doc duplicates its predecessor (planted near-dups)
    val docs = spark.range(nDocs)
      .withColumn("base", when(col("id") % 50 === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("text",
        concat_ws(" ", (0 until 12).map(i =>
          substring(md5(concat(col("base"), lit(s"w$i"))), 1, 6)): _*))
      .select("id", "text")
      .cache()
    docs.count()

    def time[T](name: String)(f: => T): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(s"""{"probe":"$name","sec":${(System.nanoTime() - t0) / 1e9},"result":"$r"}""")
    }

    time("exact_dedup")(TextDedup.exactDedup(docs.toDF(), "text", "id").count())
    time("minhash_lsh_pairs") {
      val bands = TextDedup.minHashBands(docs.toDF(), "text", 8, 8)
      TextDedup.lshCandidatePairs(bands, "id").count()
    }
    time("incremental_dedup") {
      // daily-increment shape: ~1% batch vs the rest as history; the
      // history side must stream once with no shuffle (see SCALING.md)
      TextDedup.incrementalDupFlags(
        docs.filter(col("id") % 100 =!= 0).toDF(),
        docs.filter(col("id") % 100 === 0).toDF(),
        "text", "id", 8, 4)
        .filter(col("dup_in_history")).count()
    }
    time("simhash")(docs.select(TextDedup.simHash32(col("text"))).count())
    time("simhash_neardup_components") {
      // full near-dup path at scale: 60-bit sigs -> banded pairs -> clusters
      val sig = docs.select(col("id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      val pairs = TextDedup.simHashNearDup(sig, "id", "simhash", 3)
      graft.dedup.Components.connectedComponents(pairs, "id_a", "id_b").count()
    }

    // top-k-per-key at scale: the same row_number()<=k query through the
    // stock Spark plan (rewrite off: WindowGroupLimit + two full
    // partition sorts) vs the BoundedTopK aggregate (rewrite on: O(n
    // log k) heap, no sort) — the 100 TB argument for
    // RewriteRankFilterToTopK, measured. nDocs*25 rows in 8 input
    // partitions (NOT one per thread): the rewrite's win is the
    // eliminated per-partition sort, so rows-per-partition is the scale
    // variable — cluster tasks run millions of rows, not thousands.
    locally {
      import org.apache.spark.sql.expressions.Window
      val rows = spark.range(0L, nDocs.toLong * 25, 1L, 8)
        .withColumn("grp", col("id") % (nDocs / 200))
        .withColumn("score",
          conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10).cast("long"))
      val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
      def top5 = rows.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).drop("rn")
      // shuffle bytes are reported as a sanity check that BOTH forms
      // bound what crosses the exchange (~k rows per group × map
      // partition): stock Spark 4 inserts a Partial WindowGroupLimit
      // below the exchange, so shuffle volume is NOT where the rewrite
      // wins — the eliminated full partition sorts are (see SCALING.md).
      val shuffled = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffled.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
      // the listener bus is async: poll until the byte counter stops
      // moving, or a late map-stage event lands in the NEXT measurement's
      // bucket (a fixed post-run sleep measured the window form at 2 MB —
      // off by ~50×)
      def drained(): Long = {
        var prev = -1L
        var stable = 0
        var waited = 0
        while (stable < 3 && waited < 10000) {
          val cur = shuffled.get()
          if (cur == prev) stable += 1 else stable = 0
          prev = cur
          Thread.sleep(200); waited += 200
        }
        prev
      }
      def measured(name: String)(f: => Long): Unit = {
        // min of two runs with pre-run GC settling (Bench methodology):
        // earlier probes leave old-gen debt that can double a single run
        var best = Double.MaxValue
        var bytes = 0L
        var r = 0L
        for (_ <- 1 to 2) {
          System.gc()
          drained()
          shuffled.set(0L)
          val t0 = System.nanoTime()
          r = f
          val sec = (System.nanoTime() - t0) / 1e9
          bytes = drained()
          if (sec < best) best = sec
        }
        println(s"""{"probe":"$name","sec":$best,""" +
          s""""shuffle_mb":${bytes / 1048576.0},"result":"$r"}""")
      }
      spark.conf.set("spark.graft.topk.rewrite.enabled", "false")
      measured("topk_window_sort")(top5.count())
      spark.conf.set("spark.graft.topk.rewrite.enabled", "true")
      measured("topk_bounded_agg")(top5.count())
    }

    val vecs = spark.range(nVecs)
      .withColumn("embedding", array((0 until 64).map(i =>
        (conv(substring(md5(concat(col("id"), lit(i))), 1, 6), 16, 10).cast("float") / 8388608f) - 1f): _*))
      .select(col("id").as("vec_id"), col("embedding"))
      .cache()
    vecs.count()
    time("ann_lsh_top3")(
      Knn.lshTopK(vecs, vecs.filter(col("vec_id") < 20), "vec_id", "embedding", 3, 8).count())

    // The pair-stage FLOP cut in isolation: ~nVecs × 100 pairs at
    // 64 dims (each candidate meets the ~100 same-parity queries of the
    // 200 on the __k = id % 2 join key), per-pair cosine the ONLY work —
    // fused kernel (dot + both norms per pair) vs norms factored per
    // side (one dot per pair). Results are bit-equal (VectorFnsSpec),
    // so the sums must match exactly; the time ratio is the cut the
    // Knn/Pq/SemDedup pair stages inherit where pairs dominate.
    {
      import graft.functions.VectorFns
      val pq = vecs.filter(col("vec_id") < 200)
        .select((col("vec_id") % 2).cast("int").as("__k"),
          col("embedding").as("__qvec"))
      time("pair_stage_fused") {
        vecs.select((col("vec_id") % 2).cast("int").as("__k"),
            col("embedding").as("__cvec"))
          .join(broadcast(pq), Seq("__k"))
          .select(sum(round(VectorFns.cosine(col("__qvec"), col("__cvec")), 6)).as("s"))
          .head.getDouble(0).round
      }
      time("pair_stage_factored") {
        vecs.select((col("vec_id") % 2).cast("int").as("__k"),
            col("embedding").as("__cvec"))
          .withColumn("__cn", VectorFns.normN(col("__cvec")))
          .join(broadcast(pq.withColumn("__qn", VectorFns.normN(col("__qvec")))), Seq("__k"))
          .select(sum(round(VectorFns.cosineFactored(
            VectorFns.dotN(col("__qvec"), col("__cvec")),
            col("__qn"), col("__cn")), 6)).as("s"))
          .head.getDouble(0).round
      }
      // production-width embeddings (512-dim), in the engine's REAL
      // pair shape: a broadcast HASH equi-join on a cell-like key
      // inside whole-stage codegen (the ivfTopK/semdedup plan) — NOT a
      // cross join, whose interpreted BroadcastNestedLoopJoin showed
      // per-pair expression-eval overhead swallowing the FLOP cut. The
      // per-pair arithmetic share grows with dim, so the factored
      // ratio climbs toward the 3× FLOP bound.
      val wide = spark.range(nVecs / 5)
        .withColumn("__k", (col("id") % 2).cast("int"))
        .withColumn("__cvec", array((0 until 512).map(i =>
          (conv(substring(md5(concat(col("id"), lit(s"d$i"))), 1, 6), 16, 10)
            .cast("float") / 8388608f) - 1f): _*))
        .select("__k", "__cvec").cache()
      wide.count()
      val wq = wide.limit(400).select(col("__k"), col("__cvec").as("__qvec"))
        .withColumn("__qn", VectorFns.normN(col("__qvec"))).cache()
      wq.count()
      time("pair_stage_fused_512d") {
        wide.join(broadcast(wq.select("__k", "__qvec")), Seq("__k"))
          .select(sum(round(VectorFns.cosine(col("__qvec"), col("__cvec")), 6)).as("s"))
          .head.getDouble(0).round
      }
      time("pair_stage_factored_512d") {
        wide.withColumn("__cn", VectorFns.normN(col("__cvec")))
          .join(broadcast(wq), Seq("__k"))
          .select(sum(round(VectorFns.cosineFactored(
            VectorFns.dotN(col("__qvec"), col("__cvec")),
            col("__qn"), col("__cn")), 6)).as("s"))
          .head.getDouble(0).round
      }
      wide.unpersist(); wq.unpersist()
    }

    // Shared fixture for the three SemDeDup probes: every 50th vector
    // duplicates its predecessor. Built and cached ONCE so the timers
    // measure dedup work, not three identical fixture builds.
    val vdup = spark.range(nVecs)
      .withColumn("base", when(col("id") % 50 === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("embedding", array((0 until 64).map(i =>
        (conv(substring(md5(concat(col("base"), lit(i))), 1, 6), 16, 10).cast("float") / 8388608f) - 1f): _*))
      .select(col("id").as("vec_id"), col("embedding"))
      .cache()
    vdup.count()

    // SemDeDup at scale: k grows with the corpus (k = nVecs/800, the
    // documented scaling rule) so the within-cell all-pairs term stays
    // ~linear in N; the assigned corpus is materialized ONCE inside the
    // timer (the IVF index build) rather than re-derived per plan leg.
    // Expected survivors = nVecs - nVecs/50 exactly (full recall: an
    // exact copy shares its original's cell and scores cosine 1.0).
    time("semantic_dedup") {
      val k = math.max(16, nVecs / 800)
      val cents = graft.ann.KMeans.fit(vdup, "vec_id", "embedding", k = k, iters = 2)
      val cells = graft.dedup.SemDedup.assignCells(vdup, "vec_id", "embedding", cents).cache()
      val kept = graft.dedup.SemDedup.semanticDedupOnCells(cells, tau = 0.999999).count()
      cells.unpersist()
      kept
    }

    // the same dedup under the two-level tree quantizer: k1·k2 ≈ k cells
    // but assignment is k1+k2 cosines per row instead of k — the term
    // that keeps growing once k scales with the corpus. Same recall
    // contract (identical vectors share a cell under any row-local
    // assignment).
    time("semantic_dedup_tree") {
      val side = math.max(4, math.ceil(math.sqrt(nVecs / 800.0)).toInt)
      val tq = graft.ann.KMeans.fitTree(vdup, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      val cells = graft.dedup.SemDedup.assignCellsTree(vdup, "vec_id", "embedding", tq).cache()
      val kept = graft.dedup.SemDedup.semanticDedupOnCells(cells, tau = 0.999999).count()
      cells.unpersist()
      kept
    }

    // Incremental (batch-vs-history) semantic dedup at scale, the q109
    // contract: ~1% batch against the rest as history; the quantizer
    // trains on history alone and the history side streams map-side into
    // broadcast joins (never reshuffles). Every 50th vector duplicates
    // its predecessor, so EVERY batch vector (id%100==0, hence id%50==0)
    // has its exact copy at id+1 in history → expected dup_in_history
    // count = nVecs/100 exactly.
    time("incremental_semantic_dedup") {
      val history = vdup.filter(col("vec_id") % 100 =!= 0)
      val batch = vdup.filter(col("vec_id") % 100 === 0)
      val k = math.max(16, nVecs / 800)
      val cents = graft.ann.KMeans.fit(history, "vec_id", "embedding", k = k, iters = 2)
      val flagged = graft.dedup.SemDedup.incrementalSemanticDedup(
        history, batch, "vec_id", "embedding", cents, tau = 0.999999)
        .filter(col("dup_in_history")).count()
      flagged
    }
    vdup.unpersist()

    // NB classifier apply throughput: the model trains in one agg pass
    // over nDocs labeled docs, then scoring is the pure map stage the
    // q110 plan assertion pins — this measures rows/sec through the
    // per-class literal-map fold (the realistic "classifier-filter 100
    // TB" unit cost).
    time("nb_classifier") {
      // bounded vocabulary (~997 tokens): NB's train collect is (class,
      // token)-sized, so the corpus must share words — the shared `docs`
      // fixture's per-doc-unique md5 tokens would make the "model"
      // corpus-sized, which is exactly what fit() must never be fed
      val labeled = spark.range(nDocs.toLong)
        .withColumn("lang", concat(lit("l"), (col("id") % 5).cast("string")))
        .withColumn("text", concat_ws(" ", (0 until 12).map(i =>
          substring(md5((pmod(col("id") * (i + 7), lit(997))).cast("string")), 1, 6)): _*))
      val m = graft.ml.NaiveBayes.fit(labeled, "lang", "text")
      labeled.select(graft.ml.NaiveBayes.best(col("text"), m).as("__b"))
        .select(graft.ml.NaiveBayes.predClass(col("__b"), m).as("p"))
        .groupBy("p").count().count()
    }

    // NB plan-literal cost: score()/best() embed the model as typedlit
    // maps, so plan analysis/optimization and the task binary scale with
    // the entry count — this times derivation (force executedPlan) and a
    // tiny run (task serialization + broadcast) at V and 10V entries,
    // 10V sitting exactly at the NaiveBayes.MaxModelRows ceiling. The
    // growth factor is the evidence behind the 100k bound.
    Seq(10000, 100000).foreach { entries =>
      val classes = (0 until 5).map(i => s"c$i")
      val perClass = entries / classes.length
      val synth = graft.ml.NaiveBayes.Model(
        classes,
        classes.map(_ -> -1609438L).toMap,
        classes.map(c => c -> (0 until perClass)
          .map(j => s"w$j" -> -(10000000L + j)).toMap).toMap,
        classes.map(_ -> -20000000L).toMap)
      // construction is INSIDE the timer: typedlit converts the Scala
      // maps to Catalyst MapData eagerly at Column-build time, and that
      // conversion is part of what a larger model costs per query
      def scored = spark.range(1000)
        .withColumn("text", concat_ws(" ", lit("w1"), lit("w7"), lit("zz")))
        .select(graft.ml.NaiveBayes.best(col("text"), synth).as("__b"))
      time(s"nb_plan_derive_${entries}") {
        scored.queryExecution.executedPlan; "derived"
      }
      time(s"nb_plan_run1k_${entries}")(scored.count())
    }

    spark.stop()
  }
}
