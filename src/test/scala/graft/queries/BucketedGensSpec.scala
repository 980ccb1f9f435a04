package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit, pmod}
import java.nio.file.Files

/** Unit coverage for the bucket-partitioned generation store — the
  * state-I/O discipline under every maintained cluster/manifest fold.
  * The integration specs (ClusterRetractionSpec) prove the folds; these
  * pin the store's own contracts: owners-map commit atomicity and
  * resolution, the AtRest/Empty sentinels, replay re-basing, and the
  * vacuum keeping exactly the replay window plus referenced gens. */
class BucketedGensSpec extends SparkSpec {
  import spark.implicits._

  private def atRestDir(rows: Seq[(Long, Long)]): String = {
    val dir = s"${Files.createTempDirectory("graft_bg_atrest_")}/labels"
    rows.toDF("id", "component")
      .withColumn("bucket", pmod(col("component"), lit(4)).cast("int"))
      .write.partitionBy("bucket").parquet(dir)
    dir
  }

  private def atRest(dir: String) =
    spark.read.parquet(dir).select(col("id"), col("component"), col("bucket"))

  private def writeGen(root: String, id: Long, rows: Seq[(Long, Long)]): Unit =
    rows.toDF("id", "component")
      .withColumn("bucket", pmod(col("component"), lit(4)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$root/gen-$id")

  test("latest ignores uncommitted dirs; commit is the owners file, not _SUCCESS") {
    val root = Files.createTempDirectory("graft_bg_latest_").toString
    writeGen(root, 0, Seq((1L, 1L))) // parquet _SUCCESS lands, owners does NOT
    assert(BucketedGens.latest(root).isEmpty,
      "a gen with parquet _SUCCESS but no owners map is a torn write")
    BucketedGens.commit(root, 0, BucketedGens.initialOwners(4) + (1 -> 0L), 1L)
    val g = BucketedGens.latest(root).get
    assert(g.genId == 0 && g.rows == 1L && g.owners(1) == 0L &&
      g.owners(0) == BucketedGens.AtRest)
    assert(BucketedGens.latest(root, below = Some(0L)).isEmpty,
      "below is strictly-below — the replay re-base read")
  }

  test("read resolves each bucket from its owning generation, AtRest from the staged state") {
    val rest = atRestDir(Seq((10L, 0L), (11L, 1L), (12L, 2L), (13L, 3L)))
    val root = Files.createTempDirectory("graft_bg_read_").toString
    // gen 0 rewrites bucket 1 (component 1 → re-labeled to 5 ⇒ bucket 1)
    writeGen(root, 0, Seq((11L, 5L)))
    BucketedGens.commit(root, 0, BucketedGens.initialOwners(4) + (1 -> 0L), 4L)
    // gen 1 rewrites buckets 2 (now empty) and 3
    writeGen(root, 1, Seq((13L, 7L)))
    BucketedGens.commit(root, 1,
      BucketedGens.latest(root, below = Some(1L)).get.owners ++
        Map(2 -> BucketedGens.Empty, 3 -> 1L), 3L)
    val g = BucketedGens.latest(root).get
    val got = BucketedGens.read(spark, root, Some(g), atRest(rest))
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 11L -> 5L, 13L -> 7L),
      s"bucket 0 at rest, 1 from gen 0, 2 empty, 3 from gen 1 — got $got")
    // pruned read: only bucket 3 requested → only gen 1 rows
    val pruned = BucketedGens.read(spark, root, Some(g), atRest(rest), Some(Seq(3)))
      .select("id").as[Long].collect().toSet
    assert(pruned == Set(13L))
  }

  test("read with no committed generation resolves every bucket at rest") {
    val rest = atRestDir(Seq((10L, 0L), (11L, 1L), (12L, 2L), (13L, 3L)))
    val root = Files.createTempDirectory("graft_bg_none_").toString
    def ids(gen: Option[BucketedGens.Gen], only: Option[Seq[Int]]) =
      BucketedGens.read(spark, root, gen, atRest(rest), only)
        .select("id").as[Long].collect().toSet
    assert(ids(None, None) == Set(10L, 11L, 12L, 13L), "None, all buckets: the at-rest frame")
    assert(ids(None, Some(Nil)).isEmpty, "no buckets asked: empty")
    assert(ids(None, Some(Seq(1, 3))) == Set(11L, 13L), "exactly the asked at-rest buckets")
    writeGen(root, 0, Seq((11L, 5L)))
    BucketedGens.commit(root, 0, BucketedGens.initialOwners(4) + (1 -> 0L), 4L)
    assert(ids(BucketedGens.latest(root), Some(Nil)).isEmpty,
      "no buckets asked is empty with a base too")
  }

  test("commitFold: written → id, touched-unwritten → Empty, untouched keeps its owner; vacuum runs") {
    import BucketedGens.{AtRest, Empty}
    val root = Files.createTempDirectory("graft_bg_commitfold_").toString
    // no base: every untouched bucket stays at rest
    writeGen(root, 0, Seq((11L, 1L)))
    BucketedGens.commitFold(spark, root, None, 0L, 4,
      touched = Seq(1, 2), written = Set(1), rows = 1L)
    val g0 = BucketedGens.latest(root).get
    assert(g0.genId == 0L && g0.rows == 1L && g0.ts.isEmpty)
    assert(g0.owners == Map(0 -> AtRest, 1 -> 0L, 2 -> Empty, 3 -> AtRest), s"${g0.owners}")
    // with a base: untouched buckets keep the base's owner (gen 0, Empty
    // or at rest); a torn dir below the new id is the vacuum's to sweep
    writeGen(root, 2, Seq((13L, 3L))) // parquet only, never committed
    writeGen(root, 3, Seq((12L, 2L)))
    BucketedGens.commitFold(spark, root, Some(g0), 3L, 4,
      touched = Seq(2, 3), written = Set(2), rows = 2L, ts = Some(5000L))
    val g3 = BucketedGens.latest(root).get
    assert(g3.genId == 3L && g3.rows == 2L && g3.ts.contains(5000L))
    assert(g3.owners == Map(0 -> AtRest, 1 -> 0L, 2 -> 3L, 3 -> Empty), s"${g3.owners}")
    def gens = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("gen-")).sorted
    assert(gens == Seq("gen-0", "gen-3"),
      s"vacuum sweeps the torn gen-2 and keeps gen-0 (owns bucket 1): $gens")
  }

  test("vacuum keeps the replay window and every generation still owning a bucket") {
    val rest = atRestDir(Seq((10L, 0L), (11L, 1L), (12L, 2L)))
    val root = Files.createTempDirectory("graft_bg_vac_").toString
    writeGen(root, 0, Seq((11L, 1L)))
    BucketedGens.commit(root, 0, BucketedGens.initialOwners(4) + (1 -> 0L), 3L)
    writeGen(root, 1, Seq((12L, 2L)))
    BucketedGens.commit(root, 1,
      BucketedGens.latest(root).get.owners + (2 -> 1L), 3L)
    writeGen(root, 2, Seq((12L, 2L)))
    val base = BucketedGens.latest(root, below = Some(2L))
    BucketedGens.commit(root, 2, base.get.owners + (2 -> 2L), 3L)
    BucketedGens.vacuum(root, base, 2L)
    def gens = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("gen-")).sorted
    // gen-0 still owns bucket 1 in base(=gen-1)'s map → kept
    assert(gens == Seq("gen-0", "gen-1", "gen-2"), s"got $gens")
    // next fold: gen 3 takes over bucket 1 → gen-0 becomes unreachable
    writeGen(root, 3, Seq((11L, 1L)))
    val base3 = BucketedGens.latest(root, below = Some(3L))
    BucketedGens.commit(root, 3, base3.get.owners + (1 -> 3L), 3L)
    BucketedGens.vacuum(root, base3, 3L)
    // base3 = gen-2 still references gen-0 (bucket 1) per ITS owners, so
    // gen-0 survives until a base stops referencing it
    assert(gens.contains("gen-2") && gens.contains("gen-3"))
    val g = BucketedGens.latest(root).get
    val got = BucketedGens.read(spark, root, Some(g), atRest(rest))
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 11L -> 1L, 12L -> 2L))
  }

  test("vacuum retention: pins and keepLast survive full-bucket rewrites, owners closure included") {
    // The as-of hazard the policy closes: a generation survives the
    // default vacuum only while a NEWER owners map still references it —
    // a batch that rewrites EVERY bucket (or a compaction's
    // full-snapshot commit) erases all history. Retention must also be
    // TRANSITIVE: keeping a pinned gen's own dir is useless if the dirs
    // its owners point at are deleted.
    def build(): (String, String) = {
      val rest = atRestDir(Seq((10L, 0L), (11L, 1L), (12L, 2L), (13L, 3L)))
      val root = Files.createTempDirectory("graft_bg_retain_").toString
      writeGen(root, 0, Seq((11L, 5L))) // bucket 1 only
      BucketedGens.commit(root, 0, BucketedGens.initialOwners(4) + (1 -> 0L), 4L)
      writeGen(root, 1, Seq((12L, 6L))) // bucket 2 only; owners still reference gen 0
      BucketedGens.commit(root, 1,
        BucketedGens.latest(root).get.owners + (2 -> 1L), 4L)
      // gens 2 and 3 rewrite EVERY bucket — nothing references 0/1 anymore
      for (g <- 2L to 3L) {
        writeGen(root, g, Seq((10L, 0L), (11L, 1L), (12L, 2L), (13L, 3L)))
        BucketedGens.commit(root, g, Map(0 -> g, 1 -> g, 2 -> g, 3 -> g), 4L)
      }
      (rest, root)
    }
    def gens(root: String) = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("gen-")).sorted
    // default policy: the full rewrites erase the history
    val (_, rootDef) = build()
    BucketedGens.vacuum(rootDef, BucketedGens.latest(rootDef, below = Some(3L)), 3L)
    assert(gens(rootDef) == Seq("gen-2", "gen-3"), s"got ${gens(rootDef)}")
    // pinned gen 1: survives AND its closure (gen 0, which it references
    // for bucket 1) survives with it — the snapshot still RESOLVES
    val (rest, root) = build()
    BucketedGens.vacuum(root, BucketedGens.latest(root, below = Some(3L)), 3L,
      pins = Set(1L))
    assert(gens(root) == Seq("gen-0", "gen-1", "gen-2", "gen-3"), s"got ${gens(root)}")
    val g1 = BucketedGens.latest(root, below = Some(2L)).get
    val got = BucketedGens.read(spark, root, Some(g1), atRest(rest))
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 11L -> 5L, 12L -> 6L, 13L -> 3L),
      s"the pinned snapshot must resolve through its own owners: $got")
    // keepLast horizon: the newest K committed generations stay servable
    val (_, rootK) = build()
    BucketedGens.vacuum(rootK, BucketedGens.latest(rootK, below = Some(3L)), 3L,
      keepLast = 4)
    assert(gens(rootK) == Seq("gen-0", "gen-1", "gen-2", "gen-3"),
      s"got ${gens(rootK)}")
  }

  test("shouldCompact: ledger-size policy flips at the threshold, floored at the compacted state") {
    // pure file-level fixture: segment metas + a manifest owners map —
    // the policy must cost zero Spark jobs, so its test needs none
    val root = Files.createTempDirectory("graft_policy_").toString
    def seg(kind: String, id: Long, rows: Long): Unit = {
      val d = new java.io.File(s"$root/$kind/seg-$id"); d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile()
      val w = new java.io.PrintWriter(new java.io.File(d, "_meta.json"), "UTF-8")
      try w.print(s"""{"rows":$rows}""") finally w.close()
    }
    seg("ops", 1, 100)
    assert(!DedupQueries.shouldCompact(root, 10, 0.05),
      "no committed manifest generation → nothing to compact against")
    BucketedGens.commit(s"$root/manifest", 3, BucketedGens.initialOwners(4), 1000)
    assert(DedupQueries.shouldCompact(root, 10, 0.05), "100 rows > 5% of 1000")
    assert(!DedupQueries.shouldCompact(root, 10, 0.15), "100 rows < 15% of 1000")
    seg("pairs", 5, 100)
    assert(DedupQueries.shouldCompact(root, 10, 0.15),
      "families sum: 200 rows > 15% of 1000")
    // a committed compacted state FLOORS the count — absorbed segments
    // (ids ≤ the state's gen) must never re-trigger the cadence
    new java.io.File(s"$root/state/gen-5").mkdirs()
    new java.io.File(s"$root/state/gen-5/_SUCCESS").createNewFile()
    assert(!DedupQueries.shouldCompact(root, 10, 0.05),
      "segments at or below the compacted state are absorbed, not pending")
    seg("ops", 7, 100)
    assert(DedupQueries.shouldCompact(root, 10, 0.05),
      "fresh post-compaction churn counts again")
    // the SEGMENT-COUNT bound: many tiny batches trigger even while the
    // row fraction stays low (caps the reconstruction plan's width)
    for (i <- 8L to 12L) seg("ops", i, 1)
    assert(!DedupQueries.shouldCompact(root, 20, 0.99, maxSegments = 64),
      "six small segments under both bounds must not fire")
    assert(DedupQueries.shouldCompact(root, 20, 0.99, maxSegments = 5),
      "crossing the segment-count bound must fire regardless of rows")
  }

  test("componentsRetractStep replay: same batch id re-bases and lands identical state") {
    // the q158 recovery discipline on the BUCKETED store: a re-delivered
    // delete batch must resolve the same predecessor owners and converge
    // to byte-identical owners + content
    val dir = Files.createTempDirectory("graft_bg_replay_state_").toString
    val lbl = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "component")
    lbl.withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/labels")
    lbl.withColumn("bucket", pmod(col("id"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/labels_byid")
    Seq((1L, 2L, 1L), (3L, 4L, 3L)).toDF("id_a", "id_b", "component")
      .withColumn("bucket", pmod(col("component"), lit(16)).cast("int"))
      .write.partitionBy("bucket").parquet(s"$dir/edges")
    val root = Files.createTempDirectory("graft_bg_replay_root_").toString
    def step(id: Long, del: Long): Unit = {
      DedupQueries.componentsRetractStep(dir, root, Seq(del).toDF("doc_id"), id)
      ()
    }
    def state(g: Long): (Map[Int, Long], Map[Long, Long]) = {
      val gen = BucketedGens.latest(s"$root/labels", below = Some(g + 1)).get
      val rows = BucketedGens.read(spark, s"$root/labels", Some(gen),
          spark.read.parquet(s"$dir/labels")
            .select(col("id"), col("component"), col("component").as("orig"), col("bucket")))
        .select("id", "component").as[(Long, Long)].collect().toMap
      (gen.owners, rows)
    }
    step(0, 2L)
    val after0 = state(0)
    assert(after0._2 == Map(3L -> 3L, 4L -> 3L),
      s"deleting 2 dissolves pair {1,2}: ${after0._2}")
    step(1, 3L)
    val after1 = state(1)
    step(1, 3L) // the re-delivered batch
    assert(state(1) == after1, "replay must land identical owners + rows")
    assert(after1._2 == Map.empty, s"both pairs dissolved: ${after1._2}")
    // and the earlier generation is still resolvable for the window
    assert(state(0) == after0)
  }
}
