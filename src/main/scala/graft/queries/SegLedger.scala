package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-SEGMENT ledgers for the CDC fold family (round 17).
  *
  * The r16 shape rewrote each cumulative ledger (deletes, appends,
  * appended pairs, append qualities) whole every micro-batch —
  * O(churn-since-compaction) write I/O per batch, bounded only by how
  * often a compaction fires. Here each batch APPENDS one segment dir
  * holding only its own contribution (O(batch) write I/O); readers
  * union the committed segments and resolve last-writer-wins per doc
  * at read time, and a compaction truncates the family by vacuuming
  * every segment below its generation id.
  *
  * Layout under `root` (one root per ledger family):
  * {{{
  *   seg-<batchGen>/…parquet + _SUCCESS   // the batch's net contribution
  *   seg-<batchGen>/_meta.json            // {"rows":N} — the size policy's input
  *   compact-<n>/…parquet + _SUCCESS      // optional: union of segments id < n
  * }}}
  * Commit = parquet's own `_SUCCESS` (single atomic write per segment).
  * Replay discipline matches the generation stores: a re-delivered
  * batch reads segments STRICTLY BELOW its id and overwrites its own
  * segment whole, so folds converge under at-least-once delivery. The
  * row-count meta rides the write itself (observe() — no extra job);
  * it feeds the compaction trigger without ever re-reading a segment,
  * and a segment whose meta is MISSING (crash between the parquet
  * commit and the meta write) counts its parquet footers instead of
  * silently reading as 0.
  *
  * `compact-<n>` checkpoints are for families whose rows are IDEMPOTENT
  * INSERTS (the retraction family's `dels` — a doc id, never retracted):
  * they replace the per-fold union of an unbounded segment list with
  * one checkpoint read + the tail. They are NOT legal for the
  * last-writer-wins families (`ops`/`pairs`) — a checkpoint
  * collapses per-row segment ordinals, which LWW resolution needs;
  * those families truncate through the state-level compaction's read
  * floor instead.
  *
  * All filesystem access goes through [[StateFs]] (Hadoop `FileSystem`)
  * so the ledger runs unchanged on `file:`/`hdfs:`/object-store URIs. */
private[graft] object SegLedger {

  private def segNum(name: String): Long = name.stripPrefix("seg-").toLong

  /** Target rows per checkpoint output file (a dels row is one long —
    * ~4M rows ≈ 32 MB raw per file). */
  private val CheckpointRowsPerFile = 4L * 1000 * 1000

  /** The CHECKPOINT TRIGGER's accessor: the standing committed segment
    * count above the committed checkpoint boundary — and, riding the
    * same (already-paid) listing, an opportunistic sweep of dirs a
    * committed checkpoint has absorbed but a crashed post-checkpoint
    * vacuum stranded. Without the sweep, a crash between
    * `compact-<n>/_SUCCESS` and its vacuum leaves garbage the trigger
    * never cleans: the read rule excludes absorbed segments, so the
    * standing count stays low and [[checkpoint]] isn't re-invoked until
    * ~maxSegments MORE batches accrue. Correctness is unaffected either
    * way — this bounds stale disk, not state. */
  def standingCountSweeping(root: String, below: Long): Int = {
    val entries = StateFs.list(root)
    val committed = entries.filter(p => StateFs.exists(s"${p.toString}/_SUCCESS"))
      .map(_.getName).toSet
    val ckpt = committed
      .filter(_.startsWith("compact-"))
      .map(_.stripPrefix("compact-").toLong)
      .filter(_ <= below).maxOption
    ckpt.foreach { c =>
      entries.foreach { p =>
        val n = p.getName
        if ((n.startsWith("seg-") && segNum(n) < c) ||
            (n.startsWith("compact-") && n.stripPrefix("compact-").toLong < c))
          StateFs.delete(p.toString)
      }
    }
    val c = ckpt.getOrElse(Long.MinValue)
    entries.count { p =>
      val n = p.getName
      n.startsWith("seg-") && committed(n) && segNum(n) < below && segNum(n) >= c
    }
  }

  /** ONE root listing resolving both the committed checkpoint boundary
    * (largest `compact-<n>` with `_SUCCESS` and n ≤ `below`; `n` means
    * "absorbs every segment with id < n") AND the standing committed
    * segments in (`floor`, `below`) above that boundary — every public
    * entry point derives from this, so a fold pays one LIST round-trip
    * per family access, not one per sub-question (material on
    * object-store roots).
    *
    * Checkpoints cannot coexist with a state-compaction floor: a
    * checkpoint's absorbed range could straddle the floor and re-apply
    * rows the compacted state already absorbed — that family split
    * (idempotent-insert families checkpoint, floored LWW families
    * truncate via the state floor) is enforced here, loudly. */
  private def standing(root: String, below: Long, floor: Long)
      : (Option[Long], Seq[(Long, String)]) = {
    val entries = StateFs.list(root)
    val ckpt = entries
      .filter(p => p.getName.startsWith("compact-") &&
        StateFs.exists(s"${p.toString}/_SUCCESS"))
      .map(_.getName.stripPrefix("compact-").toLong)
      .filter(_ <= below).maxOption
    require(ckpt.isEmpty || floor == Long.MinValue,
      s"SegLedger: family $root carries a segment checkpoint AND a " +
        "state-compaction floor — checkpoints are for idempotent-insert " +
        "families without a floor; a floored family must truncate " +
        "through the state compaction only")
    val c = ckpt.getOrElse(Long.MinValue)
    val segs = entries
      .filter(p => p.getName.startsWith("seg-") &&
        StateFs.exists(s"${p.toString}/_SUCCESS"))
      .map(p => segNum(p.getName) -> p.toString)
      .filter { case (n, _) => n < below && n > floor && n >= c }
      .sortBy(_._1)
    (ckpt, segs)
  }

  /** The committed checkpoint a read below `below` resolves through
    * (the largest boundary ≤ `below`), if any. */
  def checkpointFloor(root: String, below: Long): Option[Long] =
    standing(root, below, Long.MinValue)._1

  /** Committed segments strictly below `below` and strictly ABOVE
    * `floor`, ordinal-sorted — segments absorbed by a committed
    * checkpoint (id < the checkpoint boundary) are excluded even before
    * their vacuum lands. The floor is the latest compacted state's
    * generation id: truncation is a READ RULE, not a filesystem fact —
    * a compaction's post-marker segment vacuum is pure cleanup, so a
    * crash between the marker and the vacuum (or a chained compaction
    * whose predecessor's segments still exist) can never resurrect
    * pre-compaction ledger state. */
  def dirs(root: String, below: Long,
      floor: Long = Long.MinValue): Seq[(Long, String)] =
    standing(root, below, floor)._2

  private def writeMeta(dir: String, rows: Long): Unit =
    StateFs.writeUtf8Atomic(s"$dir/_meta.json", s"""{"rows":$rows}""")

  /** Land batch `id`'s contribution as one segment. The `_meta.json`
    * row count is collected by the write action itself. */
  def append(df: DataFrame, root: String, id: Long): Unit = {
    val o = org.apache.spark.sql.Observation()
    df.observe(o, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$root/seg-$id")
    // a provably-empty batch frame can lose its CollectMetrics node to
    // AQE empty-propagation — missing metric ⟹ zero rows
    writeMeta(s"$root/seg-$id", o.get.get("n").fold(0L)(_.asInstanceOf[Long]))
  }

  /** Union of the committed segments in (`floor`, `below`) — resolved
    * through the latest committed checkpoint ≤ `below` when one exists
    * (its content rides in with `__seg` = the boundary − 1, legal only
    * for idempotent-insert families; see the class doc) — each row
    * tagged with its segment ordinal (`__seg` — the last-writer-wins
    * resolution key). `empty` declares the family's schema: every
    * segment and checkpoint is read with it (an inferring read runs one
    * Spark job per dir), and it is the result when no segment exists
    * yet. */
  def read(s: SparkSession, root: String, below: Long,
      empty: => DataFrame, floor: Long = Long.MinValue): DataFrame = {
    val (ckpt, segDirs) = standing(root, below, floor)
    lazy val schema = empty.schema
    def dir(p: String, n: Long) = s.read.schema(schema).parquet(p).withColumn("__seg", lit(n))
    val parts = ckpt.map(n => dir(s"$root/compact-$n", n - 1)).toSeq ++
      segDirs.map { case (n, p) => dir(p, n) }
    parts.reduceOption(_.unionByName(_))
      .getOrElse(empty.withColumn("__seg", lit(0L)))
  }

  /** LAST-WRITER-WINS per doc over a [[read]] of a per-doc family: the
    * row of each `doc_id` from its highest segment ordinal (`__seg`;
    * within one segment a doc carries exactly one net row). The one
    * definition the CDC fold's cumulative op state resolves through,
    * per fold and at compaction. */
  def lastWriterWins(segs: DataFrame): DataFrame =
    segs.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("__seg").desc)))
      .filter(col("__r") === 1).drop("__r")

  /** Total rows across committed segments in (`floor`, `below`) (plus
    * the resolving checkpoint's rows, when one exists) — read from the
    * metas, zero Spark jobs. A missing meta (crash between the parquet
    * commit and the meta write) falls back to the segment's parquet
    * FOOTER counts — still zero Spark jobs — and self-heals the meta so
    * the footers are opened once, not per trigger. */
  def rows(root: String, below: Long, floor: Long = Long.MinValue): Long = {
    // a present-but-unparseable meta (torn/corrupt JSON) falls through
    // to the same footer count + self-heal as a missing one — returning
    // 0 would silently under-count the compaction size policy
    def metaRows(dir: String): Long = {
      val parsed =
        if (!StateFs.exists(s"$dir/_meta.json")) None
        else """"rows"\s*:\s*(\d+)""".r
          .findFirstMatchIn(StateFs.readUtf8(s"$dir/_meta.json"))
          .map(_.group(1).toLong)
      parsed.getOrElse {
        val n = StateFs.parquetFooterRows(dir)
        writeMeta(dir, n)
        n
      }
    }
    val (ckptOpt, segDirs) = standing(root, below, floor)
    val ckpt = ckptOpt.map(n => metaRows(s"$root/compact-$n")).getOrElse(0L)
    ckpt + segDirs.map { case (_, p) => metaRows(p) }.sum
  }

  /** CHECKPOINT an idempotent-insert family (see the class doc): fold
    * every committed segment (and prior checkpoint) strictly below
    * `below` into one `compact-<below>` dir, then vacuum what it
    * absorbed. Bounds the per-fold reconstruction plan of a family that
    * has no state-level compaction (the retraction family's `dels`) —
    * without it a long delete stream accrues one segment dir per batch
    * forever and every fold unions an ever-growing read list.
    *
    * Crash-safe by construction: the checkpoint's parquet `_SUCCESS` is
    * its commit; before it lands, reads resolve through the intact
    * segments; after it, the read rule ([[dirs]]/[[read]]) already
    * excludes absorbed segments, so the trailing vacuum is cleanup. A
    * replayed fold re-runs the checkpoint at the same boundary and
    * overwrites it whole. Call with `below` = the current batch id,
    * BEFORE appending the batch's own segment — a replay of that batch
    * then still reads everything strictly below itself. */
  def checkpoint(s: SparkSession, root: String, below: Long,
      empty: => DataFrame): Unit = {
    // replay-safe by SKIP, not by re-run: a committed compact-<below>
    // IS the checkpoint (re-running would read it while overwriting
    // the same path — Spark rejects self-overwrite) — only the
    // absorbed-dir vacuum, pure cleanup, re-runs
    if (!StateFs.exists(s"$root/compact-$below/_SUCCESS")) {
      // partition count scales with the cumulative row count (from the
      // metas — zero Spark jobs): this family exists to bound an
      // UNBOUNDED insert stream, so a fixed repartition(1) would rewrite
      // an ever-growing single file on one core at every checkpoint
      val total = rows(root, below)
      val parts = math.max(1L, math.min(4096L,
        (total + CheckpointRowsPerFile - 1) / CheckpointRowsPerFile)).toInt
      val o = org.apache.spark.sql.Observation()
      read(s, root, below, empty).drop("__seg")
        .observe(o, count(lit(1)).as("n"))
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$root/compact-$below")
      writeMeta(s"$root/compact-$below",
        o.get.get("n").fold(0L)(_.asInstanceOf[Long]))
    }
    // vacuum what the committed checkpoint absorbed: segments below the
    // boundary and older checkpoints
    StateFs.list(root).foreach { p =>
      val n = p.getName
      if ((n.startsWith("seg-") && segNum(n) < below) ||
          (n.startsWith("compact-") && n.stripPrefix("compact-").toLong < below))
        StateFs.delete(p.toString)
    }
  }

  /** Compaction truncation: drop every segment strictly below `cutoff`.
    * Runs only AFTER the compaction's overall commit marker — a replay
    * that re-runs a partial compaction must find its inputs intact. */
  def vacuum(root: String, cutoff: Long): Unit =
    StateFs.list(root)
      .filter(p => (p.getName.startsWith("seg-") && segNum(p.getName) < cutoff) ||
        (p.getName.startsWith("compact-") &&
          p.getName.stripPrefix("compact-").toLong <= cutoff))
      .foreach(p => StateFs.delete(p.toString))
}
