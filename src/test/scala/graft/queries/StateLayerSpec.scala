package graft.queries

import graft.SparkSpec
import java.nio.file.Files

/** Unit pins for the round-18 state-layer surface: the compaction
  * re-bucketing rule, as-of-time generation resolution, segment-ledger
  * checkpoints (the dels-family bound), and the missing-meta footer
  * fallback. The integration behavior lives in ClusterRetractionSpec;
  * these pin the contracts in isolation. */
/** A local filesystem whose `rename` can be told to crash mid-flight —
  * the copy+delete non-atomic rename of an object store, as a Hadoop
  * scheme (`torn:`). No AbstractFileSystem binding exists for it, so
  * `StateFs.writeUtf8Atomic` exercises its delete+rename FALLBACK path
  * against it — the exact code a real no-atomic-rename store runs. */
class TornRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "torn"
  override def getUri: java.net.URI = java.net.URI.create("torn:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (TornRenameFileSystem.failRenames)
      throw new java.io.IOException(
        "torn: simulated crash inside a copy+delete rename")
    super.rename(src, dst)
  }
}

object TornRenameFileSystem {
  @volatile var failRenames: Boolean = false
}

class StateLayerSpec extends SparkSpec {
  import spark.implicits._

  test("rescaleBuckets: staged density held constant, ±2x hysteresis, degenerate inputs") {
    // density 10 rows/bucket staged (640 rows / 64 buckets)
    // 10x growth → 10x buckets
    assert(DedupQueries.rescaleBuckets(64, 640, 6400) == 640)
    // within the ±2x band the count must NOT jiggle
    assert(DedupQueries.rescaleBuckets(64, 640, 640) == 64)
    assert(DedupQueries.rescaleBuckets(64, 640, 1200) == 64)  // 1.875x ideal
    assert(DedupQueries.rescaleBuckets(64, 640, 350) == 64)   // 0.55x ideal
    // past the band it rescales BOTH directions
    assert(DedupQueries.rescaleBuckets(64, 640, 2000) == 200) // 3.1x
    assert(DedupQueries.rescaleBuckets(64, 640, 64) == 7)     // ceil(64/10)
    // sub-1 densities floor at one row per bucket (micro fixtures)
    assert(DedupQueries.rescaleBuckets(16, 4, 40) == 40)
    // no density on record / empty relation → carry the count forward
    assert(DedupQueries.rescaleBuckets(16, -1, 500) == 16)
    assert(DedupQueries.rescaleBuckets(16, 0, 500) == 16)
    assert(DedupQueries.rescaleBuckets(16, 100, 0) == 16)
  }

  test("rescaleBuckets min-bytes floor: growth capped by estimated bucket bytes") {
    // 10x row growth but the relation is still tiny (estimated 1 MB):
    // at an 8 MB floor the ideal 640 buckets would hold ~1.6 KB each —
    // the floor vetoes the growth and the count carries forward
    assert(DedupQueries.rescaleBuckets(64, 640, 6400,
      newBytesEst = 1L << 20, minBucketBytes = 8L << 20) == 64)
    // production density: 10 GB estimated → bytes allow >640 buckets,
    // the row rule decides as before
    assert(DedupQueries.rescaleBuckets(64, 640, 6400,
      newBytesEst = 10L << 30, minBucketBytes = 8L << 20) == 640)
    // partial headroom: bytes support 160 buckets (1.28 GB / 8 MB) —
    // growth is capped there, not at the row-ideal 640
    assert(DedupQueries.rescaleBuckets(64, 640, 6400,
      newBytesEst = 1280L << 20, minBucketBytes = 8L << 20) == 160)
    // the floor never forces a SHRINK: a tiny relation keeps its
    // standing count (hysteresis), and a below-band row shrink still
    // shrinks regardless of bytes
    assert(DedupQueries.rescaleBuckets(64, 640, 1200,
      newBytesEst = 1L, minBucketBytes = 8L << 20) == 64)
    assert(DedupQueries.rescaleBuckets(64, 640, 64,
      newBytesEst = 1L << 40, minBucketBytes = 8L << 20) == 7)
    // unknown bytes (-1) → pure row rule, the pre-r19 behavior
    assert(DedupQueries.rescaleBuckets(64, 640, 6400,
      newBytesEst = -1L, minBucketBytes = 8L << 20) == 640)
  }

  test("genAsOf: timestamped commits resolve by time; ts-less generations never match") {
    val root = Files.createTempDirectory("graft_genasof_").toString
    val owners = BucketedGens.initialOwners(2)
    BucketedGens.commit(root, 0, owners, 10L, ts = Some(1000L))
    BucketedGens.commit(root, 1, owners, 11L, ts = Some(2000L))
    BucketedGens.commit(root, 2, owners, 12L) // no timestamp (legacy commit)
    assert(BucketedGens.genAsOf(root, 999L).isEmpty,
      "an ask before the first timestamped commit resolves nothing")
    assert(BucketedGens.genAsOf(root, 1000L).map(_.genId).contains(0L),
      "the boundary is inclusive — ts == ask resolves that generation")
    assert(BucketedGens.genAsOf(root, 1500L).map(_.genId).contains(0L))
    assert(BucketedGens.genAsOf(root, 5000L).map(_.genId).contains(1L),
      "ts-less generations predate the time discipline and never match")
    // the parsed Gen round-trips rows and ts
    val g = BucketedGens.latest(root, below = Some(1L)).get
    assert(g.rows == 10L && g.ts.contains(1000L))
  }

  test("SegLedger: checkpoints chain, reads resolve through the latest, vacuum is cleanup") {
    val root = Files.createTempDirectory("graft_segckpt_").toString
    def empty = Seq.empty[Long].toDF("doc_id")
    def seg(id: Long, docs: Long*): Unit =
      SegLedger.append(docs.toDF("doc_id"), root, id)
    def readAll(below: Long): Set[Long] =
      SegLedger.read(spark, root, below, empty)
        .select("doc_id").distinct().as[Long].collect().toSet
    seg(0, 1L); seg(1, 2L); seg(2, 3L)
    SegLedger.checkpoint(spark, root, 3L, empty) // absorbs segs 0-2
    assert(readAll(3L) == Set(1L, 2L, 3L))
    assert(SegLedger.dirs(root, Long.MaxValue).isEmpty,
      "the checkpoint's vacuum drops every absorbed segment")
    // a REPLAYED checkpoint at a committed boundary must skip, not
    // self-overwrite (reading compact-3 while overwriting it would
    // throw) — only the absorbed-dir vacuum re-runs
    SegLedger.checkpoint(spark, root, 3L, empty)
    assert(readAll(3L) == Set(1L, 2L, 3L))
    seg(3, 4L); seg(4, 5L)
    // a SECOND checkpoint folds the first one plus the tail
    SegLedger.checkpoint(spark, root, 5L, empty)
    assert(readAll(5L) == Set(1L, 2L, 3L, 4L, 5L))
    assert(SegLedger.checkpointFloor(root, Long.MaxValue).contains(5L))
    seg(5, 6L)
    assert(readAll(99L) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // a read BELOW the checkpoint boundary ignores it (replay of an
    // older batch id after a crash-restored listing must not see a
    // future checkpoint)
    assert(SegLedger.checkpointFloor(root, 4L).isEmpty)
    // rows() counts the checkpoint's meta plus the tail, zero jobs
    assert(SegLedger.rows(root, 99L) == 6L)
  }

  test("standingCountSweeping: dirs stranded by a crashed checkpoint vacuum are swept") {
    // the r19 trigger accessor: a crash between compact-<n>/_SUCCESS and
    // its vacuum leaves absorbed dirs the read rule already ignores —
    // the trigger's standing count must ignore them too AND sweep them,
    // riding the listing it already pays
    val root = Files.createTempDirectory("graft_sweep_").toString
    def seg(id: Long, docs: Long*): Unit =
      SegLedger.append(docs.toDF("doc_id"), root, id)
    seg(0, 1L); seg(1, 2L)
    SegLedger.checkpoint(spark, root, 2L, Seq.empty[Long].toDF("doc_id"))
    // the crash window, reconstructed: an absorbed segment and an older
    // torn checkpoint dir both below the committed boundary
    seg(0, 1L)
    StateFs.mkdirs(s"$root/compact-1")
    seg(2, 3L); seg(3, 4L)
    assert(SegLedger.standingCountSweeping(root, 5L) == 2,
      "only segs 2 and 3 stand above the committed boundary")
    assert(!StateFs.exists(s"$root/seg-0"), "the absorbed segment is swept")
    assert(!StateFs.exists(s"$root/compact-1"), "the older checkpoint dir is swept")
    assert(StateFs.exists(s"$root/compact-2"), "the committed boundary stays")
    assert(SegLedger.read(spark, root, 5L, Seq.empty[Long].toDF("doc_id"))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("vacuum keepSince: timestamped generations inside the audit window survive") {
    val root = Files.createTempDirectory("graft_keepsince_").toString
    val owners = BucketedGens.initialOwners(2)
    BucketedGens.commit(root, 0, owners, 1L, ts = Some(1000L))
    BucketedGens.commit(root, 1, owners, 2L, ts = Some(2000L))
    BucketedGens.commit(root, 2, owners, 3L, ts = Some(3000L))
    BucketedGens.commit(root, 3, owners, 4L, ts = Some(4000L))
    val base = BucketedGens.latest(root, below = Some(3L)) // gen 2
    // horizon 2500: keep ts ≥ 2500 (gens 2, 3) PLUS the newest before
    // it (gen 1 — it serves asks in [2500, 3000)); gen 0 is out
    BucketedGens.vacuum(root, base, 3L, keepLast = 1, keepSince = Some(2500L))
    def kept = (0L to 3L).filter(g =>
      BucketedGens.latest(root, below = Some(g + 1)).exists(_.genId == g))
    assert(kept == Seq(1L, 2L, 3L), s"got $kept")
    assert(BucketedGens.genAsOf(root, 2500L).map(_.genId).contains(1L),
      "every as-of ask at or after the horizon must still resolve")
    // without the horizon the same vacuum drops gen 1 too
    val root2 = Files.createTempDirectory("graft_keepsince2_").toString
    (0 to 3).foreach(g => BucketedGens.commit(root2, g, owners, g + 1L,
      ts = Some(1000L * (g + 1))))
    BucketedGens.vacuum(root2, BucketedGens.latest(root2, below = Some(3L)), 3L,
      keepLast = 1)
    val kept2 = (0L to 3L).filter(g =>
      BucketedGens.latest(root2, below = Some(g + 1)).exists(_.genId == g))
    assert(kept2 == Seq(2L, 3L), s"got $kept2")
    // the SESSION-CONF path (the knob the operator actually turns)
    // reaches the same retention — the fold-side vacuum overload
    val root3 = Files.createTempDirectory("graft_keepsince3_").toString
    (0 to 3).foreach(g => BucketedGens.commit(root3, g, owners, g + 1L,
      ts = Some(1000L * (g + 1))))
    spark.conf.set("graft.gens.keepLast", "1")
    spark.conf.set("graft.gens.keepSince", "2500")
    try BucketedGens.vacuum(spark, root3,
      BucketedGens.latest(root3, below = Some(3L)), 3L)
    finally {
      spark.conf.unset("graft.gens.keepLast")
      spark.conf.unset("graft.gens.keepSince")
    }
    val kept3 = (0L to 3L).filter(g =>
      BucketedGens.latest(root3, below = Some(g + 1)).exists(_.genId == g))
    assert(kept3 == Seq(1L, 2L, 3L), s"conf-path retention diverged: $kept3")
  }

  test("the state layer runs against an explicit file:-scheme Hadoop URI root") {
    // the Hadoop-FS port's contract: the SAME fold code must run when
    // the root is a scheme-qualified URI (the shape hdfs:// and
    // object-store roots arrive in), not a bare local path. The merge
    // fold exercises the full surface — observed bucket-partitioned
    // generation writes, owners-map commit markers, latest/read
    // resolution, vacuum listings — and the segment ledger the rest.
    val root = "file:" + Files.createTempDirectory("graft_fsuri_").toString
    import org.apache.spark.sql.functions.col
    DedupQueries.componentsMergeStep(s"$root/cc",
      Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"), 0L)
    val rows = DedupQueries.componentsMergeStep(s"$root/cc",
      Seq((2L, 10L)).toDF("id_a", "id_b"), 1L)
    assert(rows == 4L)
    val g = BucketedGens.latest(s"$root/cc/labels").get
    assert(g.genId == 1L && g.rows == 4L)
    val labels = BucketedGens.read(spark, s"$root/cc/labels", Some(g),
        Seq.empty[(Long, Long, Int)].toDF("id", "component", "bucket"))
      .select(col("id"), col("component")).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    // segment ledger on the same qualified root
    SegLedger.append(Seq(7L).toDF("doc_id"), s"$root/led", 0L)
    SegLedger.append(Seq(8L).toDF("doc_id"), s"$root/led", 1L)
    assert(SegLedger.rows(s"$root/led", 99L) == 2L)
    SegLedger.checkpoint(spark, s"$root/led", 2L, Seq.empty[Long].toDF("doc_id"))
    assert(SegLedger.read(spark, s"$root/led", 99L, Seq.empty[Long].toDF("doc_id"))
      .select("doc_id").as[Long].collect().toSet == Set(7L, 8L))
  }

  test("commit protocol vs non-atomic rename: a torn marker reads as uncommitted; replay converges") {
    // Object-store emulation (r18 verdict ask #7): a scheme with NO
    // AbstractFileSystem binding forces writeUtf8Atomic onto its
    // delete+rename fallback, and the rename CRASHES mid-flight — the
    // copy+delete window of a store without atomic rename. The written
    // commit-protocol analysis claims this can only yield a MISSING
    // marker (never partial), which readers treat as "uncommitted,
    // resolve the predecessor", and a replay re-bases and converges.
    // This test is that claim, executed.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.torn.impl", classOf[TornRenameFileSystem].getName)
    val root = "torn:" + Files.createTempDirectory("graft_torn_").toString
    val owners = BucketedGens.initialOwners(2)
    // a clean commit through the torn scheme works (fallback rename OK)
    BucketedGens.commit(root, 0, owners, 10L, ts = Some(1000L))
    assert(BucketedGens.latest(root).exists(_.genId == 0L))
    // batch 1's marker rename tears — the crash window
    TornRenameFileSystem.failRenames = true
    try intercept[Exception] {
      BucketedGens.commit(root, 1, owners, 11L, ts = Some(2000L))
    } finally TornRenameFileSystem.failRenames = false
    // the torn generation parses as UNCOMMITTED: readers resolve gen 0,
    // by id and by time alike
    assert(BucketedGens.latest(root).exists(_.genId == 0L),
      "a torn marker must read as uncommitted, not partial")
    assert(BucketedGens.genAsOf(root, 5000L).exists(_.genId == 0L))
    // the replayed batch re-bases on gen 0, overwrites its torn dir
    // whole, and the family converges
    BucketedGens.commit(root, 1, owners, 11L, ts = Some(2000L))
    val g = BucketedGens.latest(root).get
    assert(g.genId == 1L && g.rows == 11L && g.ts.contains(2000L))
    // vacuum (which also sweeps torn temp litter under gen dirs via
    // whole-dir deletes) still runs through the torn scheme
    BucketedGens.vacuum(root, Some(g), 2L, keepLast = 1)
    assert(BucketedGens.latest(root).exists(_.genId == 1L))
  }

  test("drain staging rides the Hadoop FS seam: ordered batches, stamped mtimes, FS copy") {
    // the r19 port: stampDrainOrder / stageOrderedDrain / the sentinel
    // copy all list, move, stamp, and copy through StateFs — so the
    // streaming fixtures' drain-order contract (file-source drains by
    // MTIME) holds on any scheme, not just java.io.File's local disk
    val frames = Seq(Seq(1L).toDF("doc_id"), Seq(2L, 3L).toDF("doc_id"),
      Seq.empty[Long].toDF("doc_id"))
    val in = EventQueries.stageOrderedDrain("graft_fsdrain_", frames)
    val parts = StateFs.list(in).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.map(_.getName) ==
      Seq("batch-00.parquet", "batch-01.parquet", "batch-02.parquet"),
      "one file per frame, caller's ordinals — including the EMPTY batch")
    val mtimes = parts.map(p =>
      StateFs.fsOf(p).getFileStatus(p).getModificationTime)
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == 3,
      s"drain order must be strictly ascending mtimes: $mtimes")
    assert(spark.read.parquet(in).count() == 3L)
    // FS-seam copy used by the sentinel waves
    val dst = s"${new org.apache.hadoop.fs.Path(in).getParent}/copied.parquet"
    StateFs.copyFile(parts.head.toString, dst)
    assert(spark.read.parquet(dst).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    EventQueries.dropStaged(in)
    assert(!StateFs.exists(in), "dropStaged must remove the staged tree")
  }

  test("ANN segment lifecycle on a file:-scheme root: append, tombstone, serve, compact") {
    // the r19 port's contract for the index side: the streamed-segment
    // existence checks (q152/q164's serve guards) and the segment dirs
    // themselves work against a scheme-qualified Hadoop root — the
    // pre-r19 java.io.File probes would read "no segments" on any
    // non-local store and silently serve history alone
    val root = "file:" + Files.createTempDirectory("graft_annfs_").toString
    val seg0 = Seq((1L, 0, Seq(1, 2)), (2L, 1, Seq(3, 4)))
      .toDF("vec_id", "cell", "codes")
    val seg1 = Seq((3L, 0, Seq(5, 6))).toDF("vec_id", "cell", "codes")
    seg0.write.parquet(s"$root/rows/seg-0")
    seg1.write.parquet(s"$root/rows/seg-1")
    Seq(2L).toDF("vec_id").write.parquet(s"$root/tombs/seg-1")
    assert(StateFs.exists(s"$root/rows") && StateFs.exists(s"$root/tombs"))
    assert(!StateFs.exists(s"$root/neither"),
      "the empty-drain guard must read a missing dir as absent, not throw")
    // serving = segment union minus tombstones (q164's shape)
    val index = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/rows")
    val served = graft.ann.Pq.withoutTombstones(index,
      spark.read.option("recursiveFileLookup", "true").parquet(s"$root/tombs"))
    assert(served.select("vec_id").as[Long].collect().toSet == Set(1L, 3L))
    // compaction physically drops the tombstoned rows (q154's shape)
    graft.ann.Pq.compactIndex(
        Seq(spark.read.parquet(s"$root/rows/seg-0"),
          spark.read.parquet(s"$root/rows/seg-1")),
        tombstones = Some(Seq(2L).toDF("vec_id")))
      .write.mode("overwrite").parquet(s"$root/compacted")
    assert(spark.read.parquet(s"$root/compacted")
      .select("vec_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("writeUtf8Atomic: replace-in-place leaves the new content and no temp litter") {
    val dir = Files.createTempDirectory("graft_aw_").toString
    StateFs.writeUtf8Atomic(s"$dir/_owners.json", """{"v":1}""")
    StateFs.writeUtf8Atomic(s"$dir/_owners.json", """{"v":2}""")
    assert(StateFs.readUtf8(s"$dir/_owners.json") == """{"v":2}""")
    assert(StateFs.list(dir).map(_.getName) == Seq("_owners.json"),
      "temp staging files must not outlive the replace")
  }

  test("SegLedger.rows: a segment with a torn _meta.json counts its parquet footers and self-heals") {
    val root = Files.createTempDirectory("graft_segmeta_").toString
    SegLedger.append(Seq(1L, 2L, 3L).toDF("doc_id"), root, 0L)
    val meta = new java.io.File(s"$root/seg-0/_meta.json")
    assert(meta.exists())
    meta.delete() // the crash window: parquet committed, meta lost
    assert(SegLedger.rows(root, 1L) == 3L,
      "missing meta must count footers, not read as 0 rows")
    assert(meta.exists(), "the footer count must self-heal the meta")
    assert(SegLedger.rows(root, 1L) == 3L)
  }
}
