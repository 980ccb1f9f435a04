package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned maintained-state generations — the state-I/O
  * discipline for every per-batch fold that maintains a corpus-sized
  * artifact (dedup cluster labels, the survivor manifest).
  *
  * The problem it solves: a fold whose COMPUTE is O(delta) but whose
  * generation write is a full snapshot pays O(standing state) I/O per
  * micro-batch — at a 10^10-doc corpus that is a full label-table
  * rewrite per batch. Here each generation dir holds ONLY the bucket
  * partitions the batch touched; every other bucket is SHARED with an
  * earlier generation through the owners map, so per-batch write I/O is
  * O(touched buckets), not O(corpus).
  *
  * Layout under `root`:
  * {{{
  *   gen-<id>/bucket=<b>/…parquet   // the buckets batch <id> rewrote
  *   gen-<id>/_owners.json          // {"rows":N,"ts":T,"owners":{"<b>":<gen>,…}}
  * }}}
  * The owners map names, for EVERY bucket, the generation dir holding
  * its current content; [[AtRest]] (-1) means the bucket is still the
  * staged at-rest state, untouched by any fold. `rows` carries the
  * standing row count so serving a count never re-reads the state;
  * `ts` (optional) is the batch's event-time watermark or a
  * caller-supplied commit timestamp — the [[genAsOf]] key that turns
  * "the manifest as of 2026-06-01" into a generation resolution.
  *
  * Commit discipline (q158's committed-predecessor rules, adapted):
  * the `_owners.json` file is the COMMIT MARKER, written after the
  * parquet payload — Spark's own `_SUCCESS` is not enough because a
  * crash between the payload and the owners map would leave a
  * generation that parses as committed but cannot be resolved. A
  * replayed batch id re-bases on the latest generation committed
  * STRICTLY BELOW it and overwrites its own torn dir whole, so folds
  * converge under foreachBatch's at-least-once delivery.
  *
  * One protocol per fold step: it resolves its predecessor content
  * only through [[read]] (on `latest(root, below = Some(id))`, which may
  * be None — every bucket still at rest) and commits only through
  * [[commitFold]] (owners map, marker, vacuum). Compaction's
  * full-snapshot commit stays an explicit [[commit]]: it re-points every
  * bucket at a NEW at-rest state rather than folding onto a base.
  *
  * All filesystem access goes through [[StateFs]] (Hadoop `FileSystem`),
  * so the store runs unchanged against `file:`, `hdfs:`, or object-store
  * URIs; the marker-last protocol's object-store caveats are documented
  * there. */
private[graft] object BucketedGens {

  /** One committed generation: which gen owns each bucket's current
    * content, the standing row count, and the optional commit
    * timestamp (epoch millis) for as-of-time resolution. */
  final case class Gen(genId: Long, owners: Map[Int, Long], rows: Long,
      ts: Option[Long] = None)

  /** Owner sentinel: the bucket's content is the staged at-rest state. */
  val AtRest: Long = -1L

  /** Owner sentinel: the bucket holds NO rows (every cluster in it
    * dissolved) — parquet cannot represent an empty partition dir, so
    * emptiness lives in the owners map and reads skip the bucket. */
  val Empty: Long = -2L

  /** The owners map before any fold ran: every bucket at rest. */
  def initialOwners(nBuckets: Int): Map[Int, Long] =
    (0 until nBuckets).map(_ -> AtRest).toMap

  private def ownersPath(root: String, genId: Long) =
    s"$root/gen-$genId/_owners.json"

  /** Commit generation `genId`: write the owners map + standing row
    * count (+ the batch timestamp when the caller supplies one)
    * ATOMICALLY (temp file + rename) after the parquet payload. */
  def commit(root: String, genId: Long, owners: Map[Int, Long], rows: Long,
      ts: Option[Long] = None): Unit = {
    val body = owners.toSeq.sortBy(_._1)
      .map { case (b, g) => s""""$b":$g""" }.mkString("{", ",", "}")
    StateFs.mkdirs(s"$root/gen-$genId")
    val tsField = ts.fold("")(t => s""""ts":$t,""")
    StateFs.writeUtf8Atomic(ownersPath(root, genId),
      s"""{"rows":$rows,$tsField"owners":$body}""")
  }

  private def genNumOf(name: String): Long = name.stripPrefix("gen-").toLong

  private def parse(root: String, genId: Long): Gen = {
    val text = StateFs.readUtf8(ownersPath(root, genId))
    val rows = """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"BucketedGens: no rows field in gen-$genId owners"))
    val ts = """"ts"\s*:\s*(-?\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
    val ownersBody = text.substring(text.indexOf("\"owners\""))
    val owners = """"(\d+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(ownersBody)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    Gen(genId, owners, rows, ts)
  }

  /** Committed generation ids under `root`, ascending. */
  private def committedIds(root: String): Seq[Long] =
    StateFs.list(root)
      .filter(p => p.getName.startsWith("gen-") &&
        StateFs.exists(s"${p.toString}/_owners.json"))
      .map(p => genNumOf(p.getName)).sorted

  /** Latest COMMITTED generation under `root` (optionally strictly below
    * `below` — the replay re-base read). Committed = owners file present. */
  def latest(root: String, below: Option[Long] = None): Option[Gen] =
    committedIds(root)
      .filter(id => below.forall(id < _))
      .lastOption.map(parse(root, _))

  /** AS-OF-TIME resolution: the latest committed generation whose
    * commit timestamp is ≤ `ts` — "the artifact as it stood at time T"
    * without knowing generation ids. Generations committed without a
    * timestamp never match (they predate the caller's time discipline);
    * None when no timestamped generation is old enough. Pair with the
    * retention policy: `genAsOf(root, ts).map(_.genId)` is the id to put
    * in `graft.gens.pins` to hold that snapshot. */
  def genAsOf(root: String, ts: Long): Option[Gen] =
    // newest-first with early stop: only markers NEWER than the answer
    // (plus any ts-less legacy gens passed over) are read — an as-of
    // ask against a long keepSince audit window pays a handful of
    // marker GETs, not one per retained generation
    committedIds(root).reverseIterator
      .map(parse(root, _))
      .find(_.ts.exists(_ <= ts))

  /** Read buckets `only` (or all) of generation `gen`: buckets grouped
    * by owning generation, ONE partition-pruned read per owner dir;
    * [[AtRest]] buckets come from `atRest` (the staged at-rest frame,
    * itself bucket-partitioned so the same pruning applies). Every
    * frame must carry the physical `bucket` partition column. `gen` =
    * None (no generation committed yet) means every bucket is at rest;
    * `only = Some(Nil)` is the empty read. Generation dirs are read with
    * `atRest`'s schema, so the frame must carry exactly the gen files'
    * columns: a read that infers runs one Spark job per owner dir. */
  def read(s: SparkSession, root: String, gen: Option[Gen],
      atRest: => DataFrame, only: Option[Seq[Int]] = None): DataFrame = {
    lazy val rest = atRest
    (gen, only) match {
      case (_, Some(bs)) if bs.isEmpty => rest.limit(0)
      case (None, None)     => rest
      case (None, Some(bs)) => rest.filter(col("bucket").isin(bs.map(Int.box): _*))
      case (Some(g), _) =>
        val wanted = only.fold(g.owners)(bs =>
          g.owners.filter { case (b, _) => bs.contains(b) })
        val parts = wanted.filter(_._2 != Empty)
          .groupBy(_._2).toSeq.sortBy(_._1).map { case (o, kv) =>
            val bs = kv.keys.toSeq.sorted
            val df = if (o == AtRest) rest
              else s.read.schema(rest.schema).parquet(s"$root/gen-$o")
            df.filter(col("bucket").isin(bs.map(Int.box): _*))
          }
        parts.reduceOption(_.unionByName(_)).getOrElse(rest.limit(0))
    }
  }

  /** Commit fold generation `id` on predecessor `base` and vacuum: a
    * `written` bucket is owned by `id`, a `touched` bucket the write
    * left empty becomes [[Empty]], every other bucket keeps base's owner
    * ([[AtRest]] when there is no base, over `nb` buckets). `rows` is
    * the caller's standing-count arithmetic. */
  def commitFold(s: SparkSession, root: String, base: Option[Gen], id: Long,
      nb: Int, touched: Seq[Int], written: Set[Int], rows: Long,
      ts: Option[Long] = None): Unit = {
    val owners = base.map(_.owners).getOrElse(initialOwners(nb)) ++
      touched.map(b => b -> (if (written(b)) id else Empty))
    commit(root, id, owners, rows, ts)
    vacuum(s, root, base, id)
  }

  /** Write a fold's generation payload with the count arithmetic riding
    * the WRITE action itself (observe() metrics) — one Spark job where
    * the r16 shape paid four per fold (localCheckpoint pins on the
    * predecessor and next frames plus two separate count actions).
    * `pred` is the predecessor content of the touched buckets; `build`
    * derives the next content FROM the observed predecessor (so the
    * pred-side metric sits inside the written plan and both counts
    * collect when the write runs). Returns (buckets the write actually
    * landed — a touched bucket absent here dissolved to Empty; next
    * rows; predecessor rows), i.e. everything the owners-map commit
    * arithmetic needs, with zero re-reads.
    *
    * `buckets` is the fold's touched-bucket list (bounded by the bucket
    * count), one metric per bucket — cheap, and file-system-independent
    * where listing the written dir would race eventual-consistency on
    * object stores. One aggregate expression per touched bucket is the
    * right shape while batches touch ≲10³ buckets (micro-batches by
    * design); a deployment whose single batch legitimately touches more
    * should flip the written-set side to a groupBy("bucket") pass — the
    * owners-map arithmetic is unchanged either way. */
  def observedWrite(pred: DataFrame, buckets: Seq[Int], dest: String)(
      build: DataFrame => DataFrame): (Set[Int], Long, Long) = {
    val oPred = org.apache.spark.sql.Observation()
    val oNext = org.apache.spark.sql.Observation()
    val perBucket = buckets.map(b =>
      count(when(col("bucket") === b, 1)).as(s"b$b"))
    writeBucketed(build(pred.observe(oPred, count(lit(1)).as("n")))
      .observe(oNext, count(lit(1)).as("n"), perBucket: _*), dest)
    // AQE may replace a PROVABLY-EMPTY subtree with an empty relation
    // once an upstream stage materializes empty — dropping the
    // CollectMetrics node with it, so its Observation resolves to an
    // EMPTY map. Empty-by-proof means the true aggregate is zero, which
    // is exactly what the arithmetic needs; read missing metrics as 0.
    val (mN, mP) = (oNext.get, oPred.get)
    def metric(mm: Map[String, Any], k: String): Long =
      mm.get(k).fold(0L)(_.asInstanceOf[Long])
    val written = buckets.filter(b => metric(mN, s"b$b") > 0L).toSet
    (written, metric(mN, "n"), metric(mP, "n"))
  }

  /** Write `df` under `dest` partitioned by its `bucket` column, ONE
    * file per bucket: a 32-partition frame sprayed through partitionBy
    * writes up to 32 near-empty files per bucket, and tiny-file overhead
    * (not row bytes) then dominates every later pruned read — one file
    * per bucket keeps point-read bytes proportional to rows (at batch
    * size the repartition shuffle is noise). Every bucketed write of the
    * state layer goes through here: generations, staged and compacted
    * states. */
  def writeBucketed(df: DataFrame, dest: String): Unit =
    df.repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dest)

  /** The owners CLOSURE of a committed generation: the gen itself plus
    * every generation its owners map references — the full set of dirs
    * a [[read]] against it can open. Retention must be transitive:
    * keeping a gen's own dir while deleting a dir its owners point at
    * leaves a snapshot that parses but cannot resolve. */
  private def ownersClosure(root: String, genId: Long): Set[Long] =
    if (!StateFs.exists(ownersPath(root, genId))) Set.empty
    else parse(root, genId).owners.values.toSet + genId

  /** Vacuum after committing `nextId` on predecessor `base`: a
    * committed generation strictly below `base` that owns no bucket in
    * any RETAINED generation's map is unreachable (a replay of the
    * in-flight batch re-bases on `base`, whose reads resolve only
    * through its own owners); an uncommitted dir below `nextId` is a
    * torn write. Gens still owning buckets stay — that is the point of
    * sharing.
    *
    * Retention is a POLICY, not an accident of bucket sharing:
    * `keepLast` retains the newest K committed generations (each with
    * its full owners closure — the snapshots an as-of audit like q191
    * can still resolve), and `pins` names generation ids retained
    * unconditionally (a legal hold on "the manifest as served at gen
    * k"), again closure-included. The default `keepLast = 2` is the
    * replay window (predecessor + current) — prior behavior. The keep
    * set ALWAYS includes `nextId`'s own committed owners closure, so a
    * caller committing an owners map that references a generation
    * absent from `base`'s map (legal — base is just the re-base point)
    * can never have a still-referenced dir deleted under it. */
  /** [[vacuum]] with retention read from the session conf — the knob an
    * operator turns without touching fold code: `graft.gens.keepLast`
    * (how many committed snapshots stay as-of-servable; default 2 = the
    * replay window), `graft.gens.pins` (comma-separated generation ids
    * under legal hold, kept until unpinned), and `graft.gens.keepSince`
    * (epoch millis: every TIMESTAMPED generation committed at or after
    * this instant stays, PLUS the newest one before it — so
    * [[genAsOf]] resolves for every ask ≥ the horizon; the audit-window
    * knob that pairs with time-keyed commits). Every fold-step vacuum
    * routes through here. Cost note: with a horizon set, the vacuum
    * reads one owners marker per committed generation per fold — fine
    * for day/week windows at minutes-cadence folds (hundreds of ~KB
    * driver-side reads); for very long windows over high-frequency
    * folds, pin coarser-grained `genAsOf` ids instead and let keepLast
    * bound the rest. */
  def vacuum(s: SparkSession, root: String, base: Option[Gen], nextId: Long): Unit = {
    val keepLast = s.conf.get("graft.gens.keepLast", "2").toInt
    val pins = s.conf.get("graft.gens.pins", "").split(",")
      .iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
    val keepSince = Option(s.conf.get("graft.gens.keepSince", ""))
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)
    vacuum(root, base, nextId, keepLast, pins, keepSince)
  }

  def vacuum(root: String, base: Option[Gen], nextId: Long,
      keepLast: Int = 2, pins: Set[Long] = Set.empty,
      keepSince: Option[Long] = None): Unit = {
    val committed = committedIds(root)
    // the time horizon: every timestamped gen at/after the horizon,
    // plus the newest one strictly before it (it serves asks in
    // [horizon, first-kept-gen's ts)); ts-less gens predate the time
    // discipline and are not retained by this rule
    val sinceKept: Set[Long] = keepSince.fold(Set.empty[Long]) { h =>
      val stamped = committed.map(parse(root, _)).filter(_.ts.isDefined)
      val (before, atOrAfter) = stamped.partition(_.ts.exists(_ < h))
      atOrAfter.map(_.genId).toSet ++ before.lastOption.map(_.genId)
    }
    val roots: Set[Long] =
      base.map(_.genId).toSet ++ pins ++ sinceKept ++
        committed.takeRight(math.max(keepLast, 1)).toSet + nextId
    val keep: Set[Long] =
      base.map(g => g.owners.values.toSet + g.genId).getOrElse(Set.empty) ++
        roots.flatMap(ownersClosure(root, _))
    StateFs.list(root)
      .filter(_.getName.startsWith("gen-"))
      .filter { p =>
        val id = genNumOf(p.getName)
        if (StateFs.exists(s"${p.toString}/_owners.json"))
          base.exists(id < _.genId) && !keep(id)
        else id < nextId // uncommitted = torn write; pins cover committed gens only
      }.foreach(p => StateFs.delete(p.toString))
  }
}
