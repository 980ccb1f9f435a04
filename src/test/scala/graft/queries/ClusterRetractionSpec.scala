package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Retraction semantics for the maintained dedup clusters (q181/q185)
  * and the survivor manifest (q182), pinned on inputs small enough to
  * verify by hand. The sf-scale oracle checks prove engine == closure
  * over the post-delete corpus; these pin the three behaviors that
  * matter for a forget-request: a cluster SPLITS when a cut vertex is
  * deleted, a cluster DISSOLVES when deletion leaves no edges, and a
  * deleted survivor is RE-ELECTED from the remainder by quality. */
class ClusterRetractionSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, lit, pmod}

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Synthetic at-rest labels in the staged layout: bucket-partitioned
    * by pmod(component, 16) PLUS the doc-keyed `labels_byid` mirror
    * (pmod(id, 16)) — the pair every staged state carries since r17. */
  private def writeAtRestLabels(dir: String, rows: Seq[(Long, Long)]): Unit = {
    val df = rows.toDF("id", "component")
    df.withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/labels")
    df.withColumn("bucket", pmod(col("id"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/labels_byid")
  }

  private def writeAtRestManifest(sdir: String,
      rows: Seq[(Long, Long, Long, Double)]): Unit =
    rows.toDF("component", "survivor_id", "n_members", "quality")
      .withColumn("bucket", pmod(col("component"), lit(64)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$sdir/manifest")

  /** The maintained labels as of generation `g`, resolved through the
    * owners map (gen dirs hold only touched buckets); AtRest buckets
    * resolve against the compacted state when one landed below `g`. */
  private def labelsAt(dir: String, root: String, g: Long): Map[Long, Long] = {
    val stateDir = EventQueries.latestViewGen(s"$root/state", below = Some(g + 1))
      .getOrElse(dir)
    val gen = BucketedGens.latest(s"$root/labels", below = Some(g + 1)).get
    BucketedGens.read(spark, s"$root/labels", Some(gen),
        spark.read.parquet(s"$stateDir/labels")
          .select(col("id"), col("component"), col("bucket")))
      .select("id", "component").as[(Long, Long)].collect().toMap
  }

  private def manifestAtGen(sdir: String, root: String, g: Long)
      : Map[Long, (Long, Long, Double)] = {
    val stateDir = EventQueries.latestViewGen(s"$root/state", below = Some(g + 1))
      .getOrElse(sdir)
    val gen = BucketedGens.latest(s"$root/manifest", below = Some(g + 1)).get
    BucketedGens.read(spark, s"$root/manifest", Some(gen),
        spark.read.parquet(s"$stateDir/manifest"))
      .select("component", "survivor_id", "n_members", "quality")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("retractedTouchedLabels: deleting a cut vertex splits the chain") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val deleted = Seq(3L).toDF("doc_id")
    val out = DedupQueries.retractedTouchedLabels(edges, deleted)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L),
      s"chain minus its cut vertex must split into two components, got $out")
  }

  test("retractedTouchedLabels: deleting a pair's member dissolves the cluster") {
    val edges = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = DedupQueries.retractedTouchedLabels(edges, Seq(1L).toDF("doc_id"))
      .as[(Long, Long)].collect()
    assert(out.isEmpty, // the surviving member has no edges ⇒ no label row
      s"pair minus one member must leave NO labeled docs, got ${out.toSeq}")
  }

  /** Micro-corpus keyed to the fixture delete rule (doc_id % 13 == 3):
    * 3, 16, 29, 42 are deleted. Identical texts share a simhash
    * (hamming 0 ⇒ a pair); the double-spaced variant keeps the SAME
    * token stream (same simhash) but scores higher quality (longer raw
    * text), exactly the q174 fixture trick. */
  private def retractionCorpus(): String = {
    val t1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val t1hq = (1 to 30).map(i => s"alpha$i").mkString("  ") // same tokens, higher quality
    val t2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val t3 = (1 to 30).map(i => s"gamma$i").mkString(" ")
    val dir = Files.createTempDirectory("graft_retraction_spec_").toString
    Seq(
      (1L, t1, "en", "src0"),   // cluster {1, 2, 16}; 16 is the quality survivor
      (2L, t1, "en", "src0"),
      (16L, t1hq, "en", "src0"), // 16 % 13 == 3 → deleted ⇒ re-elect 1
      (4L, t2, "en", "src0"),   // untouched pair {4, 5} — pure pass-through
      (5L, t2, "en", "src0"),
      (3L, "a lone deleted document about nothing shared", "en", "src0"), // deleted singleton
      (6L, "a lone surviving document about nothing shared here", "en", "src0"),
      (29L, t3, "en", "src0"),  // both members deleted ⇒ cluster dissolves
      (42L, t3, "en", "src0"))
      .map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q181/q185: deletes shrink, dissolve, and pass through — batch == streamed") {
    val dir = retractionCorpus()
    val expected = Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L)
    val batch = q("q181_components_retraction", dir)
      .as[(Long, Long)].collect().toMap
    assert(batch == expected, s"got $batch")
    val streamed = q("q185_stream_components_retraction", dir)
      .as[(Long, Long)].collect().toMap
    assert(streamed == expected, s"streamed fold diverged from batch: $streamed")
  }

  test("componentsCdcStep: bridge merge, orig-closure rebuild, bridge-delete split") {
    // Synthetic at-rest state: two HISTORY pair-clusters A = {1, 2}
    // (comp 1) and B = {10, 11} (comp 10). Arrival 21 (21 % 7 == 0) is
    // a BRIDGE: sig 1 is within hamming 3 of A's sig 0 and B's sig 3,
    // so batch 0 merges A ∪ B ∪ {21}. Batch 1 deletes history doc 2 —
    // the rebuild must cover BOTH original components (orig-closure)
    // plus the appended-pair ledger, and the bridge keeps the merge
    // alive. Batch 2 deletes the bridge itself — the merged cluster
    // must split back, doc 1 dropping out edge-less.
    val dir = Files.createTempDirectory("graft_cdc_step_spec_").toString
    writeAtRestLabels(dir, Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
    Seq((1L, 2L, 1L), (10L, 11L, 10L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val sigs = Seq((1L, 0L), (2L, 0L), (10L, 3L), (11L, 3L), (21L, 1L))
      .toDF("doc_id", "simhash")
    val root = Files.createTempDirectory("graft_cdc_step_root_").toString
    def step(id: Long, rows: Seq[(String, java.lang.Long, java.lang.Long)]): Map[Long, Long] = {
      val b = rows.toDF("op", "doc_id", "simhash")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"))
      DedupQueries.componentsCdcStep(dir, root, b, id, sigs)
      labelsAt(dir, root, id)
    }
    assert(step(0, Seq(("I", 21L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 21L -> 1L),
      "the arrival must bridge both history clusters into one component")
    assert(step(1, Seq(("D", 2L, null))) ==
      Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 21L -> 1L),
      "deleting a history member must keep the bridge-merged cluster connected")
    assert(step(2, Seq(("D", 21L, null))) ==
      Map(10L -> 10L, 11L -> 10L),
      "deleting the bridge must split the merge and drop the edge-less remnant")
  }

  test("componentsCdcStep: split, bridge into ANOTHER original, delete the far fragment") {
    // The round-15 review scenario: O1 = chain {1,2,3,4}, O2 = chain
    // {10,11,12}. Batch 0 deletes 2 (O1 splits, doc 1 strands). Batch 1
    // bridges the stranded 1 to O2's 10 via arrival 21 → merged comp M
    // spans BOTH originals. Batch 2 deletes 4 — touching only O1's far
    // fragment {3,4} — and the rebuild of M must still READ O2's
    // at-rest edges (the comp↔orig closure, not one hop), or docs 11
    // and 12 silently vanish from the labels.
    val dir = Files.createTempDirectory("graft_cdc_closure_state_").toString
    writeAtRestLabels(dir,
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L), (12L, 10L)))
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (10L, 11L, 10L), (11L, 12L, 10L))
      .toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    // sigs: the bridge (2) is within hamming 3 of docs 1 (0) and 10 (1)
    // ONLY; everything else sits in DENSE far regions (20 set bits —
    // a sparse "far" sig is itself within hamming 3 of the bridge)
    val farA = ((1L << 20) - 1) << 20
    val farB = ((1L << 20) - 1) << 38
    val sigs = Seq((1L, 0L), (2L, farA), (3L, farA | 1L),
      (4L, farA | 2L), (10L, 1L), (11L, farB), (12L, farB | 1L),
      (21L, 2L)).toDF("doc_id", "simhash")
    val hist = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L)
    val root = Files.createTempDirectory("graft_cdc_closure_root_").toString
    def step(id: Long, rows: Seq[(String, java.lang.Long, java.lang.Long)]): Map[Long, Long] = {
      val b = rows.toDF("op", "doc_id", "simhash")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"))
      DedupQueries.componentsCdcStep(dir, root, b, id, sigs,
        historyPred = col("doc_id").isin(hist: _*))
      labelsAt(dir, root, id)
    }
    assert(step(0, Seq(("D", 2L, null))) ==
      Map(3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(step(1, Seq(("I", 21L, 2L))) ==
      Map(1L -> 1L, 21L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L, 3L -> 3L, 4L -> 3L))
    assert(step(2, Seq(("D", 4L, null))) ==
      Map(1L -> 1L, 21L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L),
      "the rebuild must cover the comp-orig CLOSURE: O2's edges feed M's rebuild")
  }

  test("componentsCdcStep: THREE-hop comp/orig closure — the walk iterates past one round") {
    // One level deeper than the far-fragment test: O1 = chain
    // {1,2,3,4}, O2 = chain {10,11,12}, O3 = pair {30,31}. Splits and
    // bridges chain them: comp{3,4} shares O1 with comp{1,50,10}
    // (bridge 50), which shares O2 with comp{12,60,30,31} (bridge 60),
    // which spans O3. Deleting doc 4 touches ONLY comp{3,4}; the walk
    // must traverse O1 → comp1 → O2 → comp12 → O3 (two full BFS
    // iterations) or O3's at-rest edge (30,31) goes unread and docs
    // 30/31 silently vanish from the rebuilt labels.
    val dir = Files.createTempDirectory("graft_cdc_3hop_state_").toString
    writeAtRestLabels(dir, Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (30L, 30L), (31L, 30L)))
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (10L, 11L, 10L), (11L, 12L, 10L), (30L, 31L, 30L))
      .toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    // sigs: bridge 50 (sig 2) pairs exactly {1 (0), 10 (4)}; bridge 60
    // (H^1) pairs exactly {12 (H), 30 (H^2), 31 (H^3)}; every other
    // history doc sits in its own far region (no probe reaches it)
    val G = ((1L << 10) - 1) << 20
    val K = ((1L << 10) - 1) << 34
    val H = ((1L << 10) - 1) << 46
    val sigs = Seq((1L, 0L), (2L, G), (3L, G ^ 1L), (4L, G ^ 2L),
      (10L, 4L), (11L, K), (12L, H), (30L, H ^ 2L), (31L, H ^ 3L),
      (50L, 2L), (60L, H ^ 1L)).toDF("doc_id", "simhash")
    val hist = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 30L, 31L)
    val root = Files.createTempDirectory("graft_cdc_3hop_root_").toString
    def step(id: Long, rows: Seq[(String, java.lang.Long, java.lang.Long)]): Map[Long, Long] = {
      val b = rows.toDF("op", "doc_id", "simhash")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"))
      DedupQueries.componentsCdcStep(dir, root, b, id, sigs,
        historyPred = col("doc_id").isin(hist: _*))
      labelsAt(dir, root, id)
    }
    assert(step(0, Seq(("D", 2L, null))) ==
      Map(3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
        30L -> 30L, 31L -> 30L),
      "O1 must split, doc 1 stranding edge-less")
    assert(step(1, Seq(("I", 50L, 2L))) ==
      Map(3L -> 3L, 4L -> 3L, 1L -> 1L, 50L -> 1L, 10L -> 1L,
        11L -> 1L, 12L -> 1L, 30L -> 30L, 31L -> 30L),
      "bridge 50 must merge stranded 1 with O2's cluster")
    assert(step(2, Seq(("D", 11L, null))) ==
      Map(3L -> 3L, 4L -> 3L, 1L -> 1L, 50L -> 1L, 10L -> 1L,
        30L -> 30L, 31L -> 30L),
      "deleting 11 must strand 12 while the 50-bridge keeps {1,50,10}")
    assert(step(3, Seq(("I", 60L, H ^ 1L))) ==
      Map(3L -> 3L, 4L -> 3L, 1L -> 1L, 50L -> 1L, 10L -> 1L,
        12L -> 12L, 60L -> 12L, 30L -> 12L, 31L -> 12L),
      "bridge 60 must merge stranded 12 with O3's pair")
    assert(step(4, Seq(("D", 4L, null))) ==
      Map(1L -> 1L, 50L -> 1L, 10L -> 1L,
        12L -> 12L, 60L -> 12L, 30L -> 12L, 31L -> 12L),
      "the 3-hop closure: deleting 4 must still read O3's at-rest edge " +
        "through O1 → comp1 → O2 → comp12 → O3")
  }

  test("survivorCdcStep replay: a re-delivered batch re-bases on the committed predecessor") {
    // crash-after-fold, before the checkpoint commit: the batch is
    // re-delivered with the SAME id, and the step must re-base on the
    // committed predecessor generation (below id) and land identical
    // state — q158's recovery discipline for the composed fold. Same
    // bridge fixture as the CDC step test, plus the survivor state.
    val dir = Files.createTempDirectory("graft_cdc_replay_state_").toString
    writeAtRestLabels(dir, Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
    Seq((1L, 2L, 1L), (10L, 11L, 10L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val sdir = Files.createTempDirectory("graft_cdc_replay_surv_").toString
    val q = Map(1L -> 0.1, 2L -> 0.3, 10L -> 0.2, 11L -> 0.2, 21L -> 0.4)
    Seq((1L, 1L, 0.1), (2L, 1L, 0.3), (10L, 10L, 0.2), (11L, 10L, 0.2))
      .toDF("doc_id", "component", "quality")
      .withColumn("bucket", pmod(col("component"), lit(64)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$sdir/membership")
    writeAtRestManifest(sdir, Seq((1L, 2L, 2L, 0.3), (10L, 10L, 2L, 0.2)))
    val sigs = Seq((1L, 0L), (2L, 0L), (10L, 3L), (11L, 3L), (21L, 1L))
      .toDF("doc_id", "simhash")
    val root = Files.createTempDirectory("graft_cdc_replay_root_").toString
    def step(id: Long, rows: Seq[(String, java.lang.Long)]): Unit = {
      val b = rows.map { case (op, d0) =>
        (op, d0,
          if (op == "I") java.lang.Long.valueOf(sigs.filter($"doc_id" === d0)
            .head.getLong(1)) else null.asInstanceOf[java.lang.Long],
          if (op == "I") java.lang.Double.valueOf(q(d0)) else null.asInstanceOf[java.lang.Double])
      }.toDF("op", "doc_id", "simhash", "quality")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"),
          $"quality".cast("double"))
      DedupQueries.survivorCdcStep(dir, sdir, root, b, id, sigs)
    }
    def manifestAt(g: Long): Map[Long, (Long, Long, Double)] =
      manifestAtGen(sdir, root, g)
    step(0, Seq(("I", 21L)))
    assert(manifestAt(0) == Map(1L -> ((21L, 5L, 0.4))),
      "the bridge merge must elect the highest-quality arrival")
    step(1, Seq(("D", 2L)))
    val after1 = manifestAt(1)
    step(1, Seq(("D", 2L))) // the re-delivered batch
    assert(manifestAt(1) == after1,
      "a replayed batch must land byte-identical manifest state")
    assert(after1 == Map(1L -> ((21L, 4L, 0.4))), s"got $after1")
    step(2, Seq(("D", 21L)))
    assert(manifestAt(2) == Map(1L -> ((1L, 1L, 0.1)), 10L -> ((10L, 2L, 0.2))),
      "the bridge delete must split the manifest back and re-elect per remnant")
    assert(labelsAt(dir, root, 2) == Map(10L -> 10L, 11L -> 10L))
  }

  test("componentsCdcStep: same-batch delete+append (upsert) applies D-then-I") {
    // history pair {1, 2} at sig 0. Batch 0 upserts doc 2 to a FAR
    // signature — the delete side must kill its at-rest edge (both
    // docs strand edge-less), and the re-append must probe with the
    // NEW sig. Batch 1 upserts doc 2 back to sig 0 — the probe against
    // the present corpus re-forms the pair, and crucially the at-rest
    // edge stays dead (doc 2's evidence is now ledger-only): the label
    // comes from the fresh probe pair, not resurrection.
    val dir = Files.createTempDirectory("graft_cdc_upsert_state_").toString
    writeAtRestLabels(dir, Seq((1L, 1L), (2L, 1L)))
    Seq((1L, 2L, 1L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val far = ((1L << 20) - 1) << 20
    val sigs = Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "simhash")
    val root = Files.createTempDirectory("graft_cdc_upsert_root_").toString
    def step(id: Long, rows: Seq[(String, java.lang.Long, java.lang.Long)]): Map[Long, Long] = {
      val b = rows.toDF("op", "doc_id", "simhash")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"))
      DedupQueries.componentsCdcStep(dir, root, b, id, sigs,
        historyPred = col("doc_id").isin(1L, 2L))
      labelsAt(dir, root, id)
    }
    assert(step(0, Seq(("D", 2L, null), ("I", 2L, far))) == Map.empty,
      "upserting doc 2 away must dissolve the pair (both docs edge-less)")
    assert(step(1, Seq(("D", 2L, null), ("I", 2L, 0L))) == Map(1L -> 1L, 2L -> 1L),
      "upserting doc 2 back must re-form the pair through a fresh probe")
  }

  test("survivorCompactStep truncates the ledgers and is invisible to later folds") {
    // history pairs {1,2} (comp 1) and {10,11} (comp 10); batch 0
    // bridges them via arrival 21 and deletes 2. Compaction (gen 2)
    // must fold those ledgers into a re-staged state — EMPTY
    // dels/apps/pairs beside full-snapshot owners — and batch 1's
    // delete of the bridge must then split the merge using at-rest
    // evidence alone (the bridge's pairs are at rest post-compaction).
    val dir = Files.createTempDirectory("graft_compact_state_").toString
    writeAtRestLabels(dir, Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
    Seq((1L, 2L, 1L), (10L, 11L, 10L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val sdir = Files.createTempDirectory("graft_compact_surv_").toString
    Seq((1L, 1L, 0.1), (2L, 1L, 0.3), (10L, 10L, 0.2), (11L, 10L, 0.2))
      .toDF("doc_id", "component", "quality")
      .withColumn("bucket", pmod(col("component"), lit(64)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$sdir/membership")
    writeAtRestManifest(sdir, Seq((1L, 2L, 2L, 0.3), (10L, 10L, 2L, 0.2)))
    // sigs CONSISTENT with the synthetic at-rest edges (compaction
    // re-derives pairs from sigs, so the fixture must agree with
    // itself): clusters at 0 and 63 (hamming 6 — no pair), bridge 21
    // at 7 (hamming 3 to both sides)
    val sigs = Seq((1L, 0L), (2L, 0L), (10L, 63L), (11L, 63L), (21L, 7L))
      .toDF("doc_id", "simhash")
    // TRUTHFUL state metas (r18): with a staged density on record,
    // the first compaction RE-BUCKETS (labels 16 → ~4, manifest
    // 64 → ~1 at this micro scale) — so every post-compaction fold,
    // pin, and later compaction below runs ACROSS an nb change, the
    // in-place-growth rule's other direction
    DedupQueries.writeStateMeta(dir, "labels", 16, 4L)
    DedupQueries.writeStateMeta(sdir, "manifest", 64, 2L)
    val hist = col("doc_id").isin(1L, 2L, 10L, 11L)
    val root = Files.createTempDirectory("graft_compact_root_").toString
    def step(id: Long, rows: Seq[(String, java.lang.Long, java.lang.Long, java.lang.Double)]): Unit = {
      val b = rows.toDF("op", "doc_id", "simhash", "quality")
        .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"),
          $"quality".cast("double"))
      DedupQueries.survivorCdcStep(dir, sdir, root, b, id, sigs, historyPred = hist)
      ()
    }
    step(1, Seq(("I", 21L, 7L, 0.4), ("D", 2L, null, null)))
    assert(labelsAt(dir, root, 1) == Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 21L -> 1L))
    assert(spark.read.parquet(s"$root/pairs/seg-1").count() > 0,
      "pre-compaction: the bridge's probe pairs ride the ledger segment")
    // per-batch ledger writes are O(batch) SEGMENTS: batch 1's ops
    // segment carries exactly its own 2 net ops, nothing cumulative
    assert(SegLedger.rows(s"$root/ops", 2L) == 2L,
      "the ops segment must hold only batch 1's net contribution")
    DedupQueries.survivorCompactStep(dir, sdir, root, 2L, sigs, historyPred = hist)
    // ledgers truncated — the segment vacuum dropped everything the
    // compacted state absorbed
    for (k <- Seq("ops", "pairs"))
      assert(SegLedger.dirs(s"$root/$k", Long.MaxValue).forall(_._1 > 2L),
        s"compaction must truncate the $k segments it absorbed")
    // re-bucketing happened: the compacted state's metas carry counts
    // rescaled to the staged density over the REBUILT standing rows
    // (labels {1,10,11,21} at density 4/16 → 4 buckets; manifest {1}
    // at density 2/64 → 1)
    val st2 = EventQueries.latestViewGen(s"$root/state", Some(3L)).get
    assert(DedupQueries.stateMeta(st2, "labels").map(_._1).contains(4),
      s"labels nb must rescale 16 -> 4, got ${DedupQueries.stateMeta(st2, "labels")}")
    assert(DedupQueries.stateMeta(st2, "manifest").map(_._1).contains(1),
      s"manifest nb must rescale 64 -> 1, got ${DedupQueries.stateMeta(st2, "manifest")}")
    // full-snapshot pointers: every bucket at the NEW rest
    val owners = BucketedGens.latest(s"$root/labels").get.owners
    assert(owners.values.forall(_ == BucketedGens.AtRest), s"got $owners")
    assert(labelsAt(dir, root, 2) == Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 21L -> 1L),
      "compaction must be invisible to the served labels")
    assert(manifestAtGen(sdir, root, 2) == Map(1L -> ((21L, 4L, 0.4))),
      "compaction must be invisible to the served manifest")
    // post-compaction fold: deleting the bridge splits the merge from
    // the COMPACTED at-rest evidence (the old ledger is gone). The
    // PRE-compaction generation is PINNED (retention policy): without
    // the pin, this fold's vacuum would erase gen-1 — the compaction's
    // full-snapshot owners reference nothing older — and the as-of
    // promise would be an accident of bucket sharing, not a guarantee.
    val preCompactManifest = manifestAtGen(sdir, root, 1)
    val preCompactLabels = labelsAt(dir, root, 1)
    spark.conf.set("graft.gens.pins", "1")
    try {
      step(3, Seq(("D", 21L, null, null)))
    } finally spark.conf.unset("graft.gens.pins")
    assert(labelsAt(dir, root, 3) == Map(10L -> 10L, 11L -> 10L),
      "post-compaction delete must split using the re-staged edges")
    assert(manifestAtGen(sdir, root, 3) ==
      Map(1L -> ((1L, 1L, 0.1)), 10L -> ((10L, 2L, 0.2))))
    assert(manifestAtGen(sdir, root, 1) == preCompactManifest,
      "the pinned pre-compaction manifest generation must stay as-of-servable")
    assert(labelsAt(dir, root, 1) == preCompactLabels,
      "the pinned pre-compaction label generation must stay as-of-servable")
    // MULTI-COMPACTION retention: pin gen 3 too — its AtRest buckets
    // resolve against the state snapshot compaction 2 landed, and two
    // FURTHER compactions later that snapshot must still exist: the
    // state vacuum is retention-aware (keeps every state a retained
    // generation re-bases on), not a blind below-base sweep.
    val atGen3 = manifestAtGen(sdir, root, 3)
    spark.conf.set("graft.gens.pins", "1,3")
    try {
      DedupQueries.survivorCompactStep(dir, sdir, root, 6L, sigs, historyPred = hist)
      step(7, Seq(("D", 11L, null, null)))
      DedupQueries.survivorCompactStep(dir, sdir, root, 10L, sigs, historyPred = hist)
    } finally spark.conf.unset("graft.gens.pins")
    assert(new java.io.File(s"$root/state/gen-2").exists(),
      "the state snapshot a pinned generation re-bases on was vacuumed away")
    assert(manifestAtGen(sdir, root, 3) == atGen3,
      "the pinned post-compaction generation must stay as-of-servable " +
        "across later compactions")
  }

  test("componentsCdcStep property: random I/D/U scripts under random batching == closure") {
    // Batching-independence, pinned the way signedPartials was in r14:
    // random corpus sigs (clustered around a few bases ± bit flips),
    // random history/arrival split, then a STATEFUL random script —
    // fresh arrivals (I), deletes of any present doc (D), re-appends of
    // deleted docs (I again), and UPSERTS (adjacent D+I of a present
    // doc with a NEWLY DRAWN signature and quality — a content edit),
    // cut at random batch boundaries so a D+I pair sometimes shares a
    // batch (the upsert path) and sometimes splits. The fold's final
    // labels must equal the from-scratch closure over exactly the
    // surviving docs UNDER THEIR CURRENT signatures, and the manifest
    // the from-scratch election under current qualities. The pair rule
    // is hamming ≤ 3 with NO band check: threshold 3 < 4 bands means
    // the pigeonhole guarantees banding full recall.
    val rnd = new scala.util.Random(20250815L)
    val mask60 = (1L << 60) - 1
    for (trial <- 1 to 6) {
      val bases = Array.fill(3)(rnd.nextLong() & mask60)
      val n = 24 + rnd.nextInt(12)
      val ids = (1L to n.toLong).toArray
      // CHAIN-shaped clusters, not just cliques: position p in a base's
      // chain carries the cumulative 2p-low-bit mask, so hamming between
      // positions i and j is 2|i−j| — adjacent docs pair (ham 2),
      // distant ones don't. Chains SPLIT under interior deletes, which
      // is what surfaces orig-closure bugs (cliques never split — the
      // r15 review found exactly the case the all-clique corpus missed).
      // A position repeats with prob ½, giving clique links inside the
      // chain too. drawSig is reused by upserts so edits re-cluster
      // instead of always stranding.
      val basePos = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
      def drawSig(): Long =
        if (rnd.nextBoolean()) {
          val b = rnd.nextInt(bases.length)
          val pos = basePos(b) % 14
          if (rnd.nextBoolean()) basePos(b) += 1
          bases(b) ^ ((1L << (2 * pos)) - 1)
        } else rnd.nextLong() & mask60
      val sigCur = scala.collection.mutable.Map(ids.map(id => id -> drawSig()): _*)
      val initialSig = sigCur.toMap
      // synthetic quality: 5 levels force ties (min-id tiebreak) while
      // staying the SAME doubles in the reference and the artifacts;
      // an upsert re-draws it (a content edit changes the score)
      val qualityCur = scala.collection.mutable.Map(
        ids.map(id => id -> (id % 5).toDouble / 10.0): _*)
      def pairsAmong(docs: Set[Long], sig: collection.Map[Long, Long]): Seq[(Long, Long)] =
        (for {
          a <- docs.toSeq; b <- docs.toSeq if a < b
          if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
        } yield (a, b)).sorted
      def closure(docs: Set[Long], sig: collection.Map[Long, Long]): Map[Long, Long] = {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
        }
        pairsAmong(docs, sig).foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keys.map(v => v -> find(v)).toMap
      }
      val hist = ids.filter(_ => rnd.nextDouble() < 0.6).toSet
      // stage the at-rest state from the reference closure over history
      val dir = Files.createTempDirectory(s"graft_cdc_prop_state_$trial").toString
      val histLabels = closure(hist, initialSig)
      writeAtRestLabels(dir, histLabels.toSeq)
      pairsAmong(hist, initialSig)
        .map { case (a, b) => (a, b, histLabels(a)) }
        .toDF("id_a", "id_b", "component")
        .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
        .write.partitionBy("bucket").parquet(s"$dir/edges")
      // truthful meta ⇒ compaction trials rescale nb to the micro
      // densities (often 1-10 buckets) — the property then proves
      // correctness ACROSS bucket-count changes, not just splices
      DedupQueries.writeStateMeta(dir, "labels", 16, histLabels.size.toLong)
      // ... and the survivor state over the same history
      val sdir = Files.createTempDirectory(s"graft_cdc_prop_surv_$trial").toString
      val membership = hist.toSeq.map(h =>
        (h, histLabels.getOrElse(h, h), qualityCur(h)))
      membership.toDF("doc_id", "component", "quality")
        .withColumn("bucket", pmod(col("component"), lit(64)).cast("int"))
        .write.partitionBy("bucket").parquet(s"$sdir/membership")
      def electManifest(rows: Seq[(Long, Long, Double)]): Map[Long, (Long, Long, Double)] =
        rows.groupBy(_._2).map { case (c, ms) =>
          val pick = ms.minBy(m => (-m._3, m._1))
          c -> ((pick._1, ms.size.toLong, pick._3))
        }
      writeAtRestManifest(sdir, electManifest(membership).toSeq
        .map { case (c, (sid, nm, qv)) => (c, sid, nm, qv) })
      DedupQueries.writeStateMeta(sdir, "manifest", 64,
        electManifest(membership).size.toLong)
      // the STATIC frame carries the INITIAL sigs — an upserted doc's
      // current sig must flow through the apps ledger, never from here
      val sigs = initialSig.toSeq.toDF("doc_id", "simhash")
      // stateful script: each emitted I records the sig/quality CURRENT
      // at emission time (the changelog row is the evidence)
      var present = hist
      val notYetArrived = scala.collection.mutable.Set(ids.filterNot(hist): _*)
      val script = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Double)]()
      def emitI(id0: Long): Unit = { script += (("I", id0, sigCur(id0), qualityCur(id0))); present += id0 }
      def emitD(id0: Long): Unit = { script += (("D", id0, 0L, 0.0)); present -= id0 }
      def pick(s0: collection.Set[Long]): Long = {
        val seq = s0.toSeq.sorted; seq(rnd.nextInt(seq.size))
      }
      for (step0 <- 1 to n) rnd.nextInt(6) match {
        case 0 | 1 if notYetArrived.nonEmpty => // fresh arrival
          val a = pick(notYetArrived); notYetArrived -= a; emitI(a)
        case 2 if present.nonEmpty =>           // forget (history OR arrival)
          emitD(pick(present))
        case 3 if (ids.toSet -- present -- notYetArrived).nonEmpty => // re-append of a deleted doc
          val x = pick(ids.toSet -- present -- notYetArrived)
          sigCur(x) = drawSig(); qualityCur(x) = (x % 5 + 1).toDouble / 12.0
          emitI(x)
        case 4 if present.nonEmpty =>           // upsert: adjacent D+I, new content
          val x = pick(present)
          emitD(x)
          sigCur(x) = drawSig(); qualityCur(x) = (x % 7).toDouble / 14.0
          emitI(x)
        case 5 if present.nonEmpty =>           // BARE I on a present doc —
          // also a full upsert: old evidence retracted, fresh probe
          // re-defines it under the re-drawn signature/quality
          val x = pick(present)
          sigCur(x) = drawSig(); qualityCur(x) = (x % 6 + step0 % 3).toDouble / 16.0
          emitI(x)
        case _ => ()
      }
      // all three compaction regimes EVERY run: trial ≡ 0 mod 3 → none,
      // ≡ 1 → one, ≡ 2 → two (the chained-state path — the second
      // compaction's base corpus is the first's own sigs snapshot, with
      // real churn folded in between); two-compaction trials force
      // enough batches for two distinct splice points after batch 0
      val nCompact = trial % 3
      val nBatches = math.max(1 + rnd.nextInt(4), if (nCompact == 2) 3 else 1)
      val cuts = Seq.fill(nBatches - 1)(rnd.nextInt(script.size + 1)).sorted
      // each row keeps its changelog position — the `seq` column is the
      // batch contract that makes multi-op-per-doc batches well-defined
      val batches = (Seq(0) ++ cuts ++ Seq(script.size)).sliding(2).collect {
        case Seq(a, b) =>
          script.slice(a, b).toSeq.zipWithIndex.map { case (r, k) => (r, (a + k).toLong) }
      }.toSeq
      val root = Files.createTempDirectory(s"graft_cdc_prop_root_$trial").toString
      // compaction splice points (gen ids double up: compaction 2i,
      // batch 2i+1) — the maintained artifacts must be invisible to
      // them; points start at batch 1 (before batch 0 there is no
      // committed generation to compact)
      val compactBefore: Set[Int] =
        rnd.shuffle((1 until batches.size).toList).take(nCompact).toSet
      var lastGen: Option[Long] = None
      batches.zipWithIndex.foreach { case (rows, i) =>
        if (compactBefore.contains(i) && lastGen.isDefined)
          DedupQueries.survivorCompactStep(dir, sdir, root, 2L * i, sigs,
            historyPred = col("doc_id").isin(hist.toSeq: _*))
        if (rows.nonEmpty) {
          val b = rows.map { case ((op, id0, sg, qv), seq) =>
            (op, id0,
              if (op == "I") java.lang.Long.valueOf(sg) else null.asInstanceOf[java.lang.Long],
              if (op == "I") java.lang.Double.valueOf(qv) else null.asInstanceOf[java.lang.Double],
              seq)
          }.toDF("op", "doc_id", "simhash", "quality", "seq")
            .select($"op", $"doc_id".cast("long"), $"simhash".cast("long"),
              $"quality".cast("double"), $"seq".cast("long"))
          // survivorCdcStep runs the label fold internally, so ONE
          // script exercises both maintained artifacts
          DedupQueries.survivorCdcStep(dir, sdir, root, b, 2L * i + 1, sigs,
            historyPred = col("doc_id").isin(hist.toSeq: _*))
          lastGen = Some(2L * i + 1)
        }
      }
      val got = lastGen match {
        case None => spark.read.parquet(s"$dir/labels")
          .select("id", "component").as[(Long, Long)].collect().toMap
        case Some(g) => labelsAt(dir, root, g)
      }
      val want = closure(present, sigCur)
      assert(got == want,
        s"trial $trial (n=$n, |hist|=${hist.size}, |present|=${present.size}, " +
          s"batches=${batches.map(_.size).mkString("/")}): fold diverged\n" +
          s"  got  ${got.toSeq.sorted}\n  want ${want.toSeq.sorted}\n" +
          s"  script ${script.toSeq}")
      // the maintained MANIFEST must equal the from-scratch election
      // over exactly the surviving docs under their final labels and
      // CURRENT qualities (upserts re-scored)
      val wantManifest = electManifest(present.toSeq.map(p =>
        (p, want.getOrElse(p, p), qualityCur(p))))
      val gotManifest = (lastGen match {
        case None => spark.read.parquet(s"$sdir/manifest")
          .select("component", "survivor_id", "n_members", "quality")
          .as[(Long, Long, Long, Double)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        case Some(g) => manifestAtGen(sdir, root, g)
      })
      assert(gotManifest == wantManifest,
        s"trial $trial: manifest fold diverged\n" +
          s"  got  ${gotManifest.toSeq.sortBy(_._1)}\n" +
          s"  want ${wantManifest.toSeq.sortBy(_._1)}\n" +
          s"  script ${script.toSeq}")
    }
  }

  test("q190: the size policy fires mid-stream and the manifest still matches q189") {
    // on the micro corpus one batch's segments outweigh 10% of the
    // standing manifest — the 0.1 policy fires (possibly more than once: ratio
    // re-crosses after each truncation here), and however many splices
    // land, the maintained manifest must equal q189's over the same
    // changelog. This is the policy-decides-the-splice-point guarantee;
    // the sf-scale oracle (same SQL text as q189) re-proves it per run.
    val dir = retractionCorpus()
    def rows(name: String) = q(name, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaCompaction = rows("q190_stream_manifest_compaction")
    assert(graft.streaming.StreamMetrics
        .segments("graft_stream_manifest_compaction_compactions").nonEmpty,
      "the size policy never fired — q190 degenerated to q189")
    assert(viaCompaction == rows("q189_stream_manifest_cdc"),
      "compaction must be invisible: q190 and q189 disagree on the manifest")
  }

  test("dels ledger: past maxSegments the fold checkpoints the delete set and truncates") {
    // the retraction family's dels ledger has no state-level compaction
    // (the r18 ADVICE finding): a long forget-request stream must not
    // accrue one segment dir per batch forever. Past maxSegments
    // standing segments, the fold folds the idempotent delete set into
    // a compact-<id> checkpoint BELOW the current batch (so a replayed
    // batch still reads everything strictly below itself) and vacuums
    // what it absorbed — and the maintained labels must be oblivious.
    val dir = Files.createTempDirectory("graft_dels_ckpt_state_").toString
    writeAtRestLabels(dir, Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 1L), (6L, 1L), (10L, 10L), (11L, 10L)))
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L),
      (10L, 11L, 10L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val root = Files.createTempDirectory("graft_dels_ckpt_root_").toString
    // the RETRACTION family's generations carry (id, component, orig,
    // bucket) — the AtRest resolution frame must match that shape
    // (atRestLabelGenRows' contract: orig == component at rest)
    def labelsNow(g: Long): Map[Long, Long] = {
      val gen = BucketedGens.latest(s"$root/labels", below = Some(g + 1)).get
      BucketedGens.read(spark, s"$root/labels", Some(gen),
          spark.read.parquet(s"$dir/labels")
            .select(col("id"), col("component"),
              col("component").as("orig"), col("bucket")))
        .select("id", "component").as[(Long, Long)].collect().toMap
    }
    def step(id: Long, doc: Long): Map[Long, Long] = {
      DedupQueries.componentsRetractStep(dir, root, Seq(doc).toDF("doc_id"), id)
      labelsNow(id)
    }
    spark.conf.set("graft.segledger.maxSegments", "2")
    try {
      assert(step(0, 2L) == Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 3L,
        10L -> 10L, 11L -> 10L))
      assert(step(1, 4L) == Map(5L -> 5L, 6L -> 5L, 10L -> 10L, 11L -> 10L))
      assert(step(2, 6L) == Map(10L -> 10L, 11L -> 10L))
      // batch 3 finds 3 standing segments > maxSegments=2 — it must
      // checkpoint {2,4,6} below itself before folding its own delete
      val after3 = step(3, 1L)
      assert(after3 == Map(10L -> 10L, 11L -> 10L), s"got $after3")
      assert(new java.io.File(s"$root/dels/compact-3/_SUCCESS").exists(),
        "the checkpoint must commit as compact-3")
      val standing = SegLedger.dirs(s"$root/dels", Long.MaxValue)
      assert(standing.map(_._1) == Seq(3L),
        s"segments 0-2 must be absorbed and vacuumed, got ${standing.map(_._1)}")
      assert(step(4, 3L) == Map(10L -> 10L, 11L -> 10L))
      // the reconstruction reads checkpoint + tail and sees every delete
      val cum = SegLedger.read(spark, s"$root/dels", Long.MaxValue,
          Seq.empty[Long].toDF("doc_id"))
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(cum == Set(1L, 2L, 3L, 4L, 6L), s"got $cum")
      // a replayed batch converges through the checkpointed ledger
      assert(step(4, 3L) == Map(10L -> 10L, 11L -> 10L),
        "a replayed batch must land identical labels")
    } finally spark.conf.unset("graft.segledger.maxSegments")
  }

  test("q182: a deleted survivor is re-elected; untouched manifest rows pass through") {
    val dir = retractionCorpus()
    val out = q("q182_survivor_reelection", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((1L, 2L)), // lost quality-survivor 16 → re-elected min-id 1 of {1, 2}
      4L -> ((4L, 2L)), // untouched cluster passes through
      6L -> ((6L, 1L))  // untouched singleton passes through
      // 3 (deleted singleton) and 29/42 (dissolved pair) have no rows
    ), s"got $out")
    // the STREAMED manifest fold (q188) must land on the same rows —
    // the deletes arrive in two ranged batches and each repairs only
    // its own touched originals
    val streamed = q("q188_stream_survivor_reelection", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == out, s"streamed manifest diverged: $streamed")
  }
}
