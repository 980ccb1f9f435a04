package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StructField, StructType}

/** Filesystem seam for the maintained-state layer ([[BucketedGens]],
  * [[SegLedger]], the staged-state metas and compaction markers): every
  * listing, marker read/write, and recursive delete goes through the
  * Hadoop `FileSystem` API, resolved per-path from the active session's
  * Hadoop configuration — so the SAME generation-store code runs against
  * `file:` in this sandbox and `hdfs:`/object-store URIs on a cluster
  * (the pre-r18 layer called `java.io.File` directly and was local-only).
  *
  * Commit-protocol notes for non-POSIX stores:
  *  - Generation commit = the `_owners.json` marker, written LAST (after
  *    the parquet payload) via temp-file + rename. On HDFS and local fs
  *    the rename is atomic; on object stores it degrades to copy+delete
  *    of ONE small JSON object, whose non-atomic window can only yield a
  *    MISSING marker — which parses as "uncommitted", exactly the torn-
  *    write state the replay discipline already re-bases over. A
  *    partially-written marker is never visible because the content is
  *    staged under a temp name first. No other part of the protocol
  *    relies on rename.
  *  - Segment commit = parquet's own `_SUCCESS` (one atomic task-commit
  *    tree); compaction commit = an explicit empty `_SUCCESS` written
  *    after every artifact. Both are single-object creates — atomic on
  *    object stores too.
  *  - Listings are only ever used to find COMMITTED dirs (marker checked
  *    per entry), so list-after-write inconsistency windows read as
  *    "not committed yet", never as wrong content.
  */
private[graft] object StateFs {

  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private[graft] def fsOf(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  /** Immediate children of `dir` (empty when the dir is missing) —
    * name + path per entry, the shape every gen-/seg- listing needs. */
  def list(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
  }

  /** Recursive delete of exactly the tree given (no-op when missing). */
  def delete(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).mkdirs(p)
    ()
  }

  /** Create an empty marker file (`_SUCCESS`-style), overwriting. */
  def touch(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).create(p, true).close()
  }

  def readUtf8(path: String): String = {
    val p = new Path(path)
    val in = fsOf(p).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Marker write: stage under a temp sibling, then rename into place.
    * The rename goes through `FileContext` with `Rename.OVERWRITE` first
    * — an ATOMIC REPLACE on schemes that support it (HDFS, local), so a
    * replayed batch overwriting its own marker never exposes a
    * missing-marker window to concurrent readers. Schemes without an
    * AbstractFileSystem binding (some object-store connectors) fall back
    * to delete→rename, whose crash window leaves the marker MISSING —
    * which the commit protocol reads as "uncommitted, resolve the
    * predecessor", never partial; on those stores a replay-overwrite is
    * transiently served from the predecessor generation, the documented
    * reader-side tolerance. */
  def writeUtf8Atomic(path: String, body: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val replaced =
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: UnsupportedOperationException => false
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
      }
    if (!replaced) {
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        sys.error(s"StateFs: rename $tmp -> $p failed")
    }
    ()
  }

  /** Move a directory tree into place (staging-dir promotion). */
  def move(src: String, dst: String): Unit = {
    val (ps, pd) = (new Path(src), new Path(dst))
    val fs = fsOf(pd)
    if (fs.exists(pd)) fs.delete(pd, true)
    if (!fs.rename(ps, pd))
      sys.error(s"StateFs: rename $src -> $dst failed")
    ()
  }

  /** Total bytes under a directory tree (0 when missing) — one
    * `getContentSummary` round-trip, no per-file listing client-side. */
  def dirBytes(dir: String): Long = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Set a file's modification time (drain-order stamping). Hadoop's
    * `setTimes` takes (mtime, atime); -1 leaves atime untouched. */
  def setMtime(path: String, mtime: Long): Unit = {
    val p = new Path(path)
    fsOf(p).setTimes(p, mtime, -1L)
  }

  /** Copy one file (not a tree) src → dst, overwriting — a stream copy
    * through the FS API, so it works across schemes. */
  def copyFile(src: String, dst: String): Unit = {
    val (ps, pd) = (new Path(src), new Path(dst))
    val in = fsOf(ps).open(ps)
    try {
      val out = fsOf(pd).create(pd, true)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally out.close()
    } finally in.close()
  }

  /** Total row count across a parquet dir's data files, read from the
    * parquet FOOTERS — zero Spark jobs, no session needed. The
    * [[SegLedger]] meta fallback: a crash between a segment's parquet
    * commit and its `_meta.json` must count as its true rows, not 0. */
  def parquetFooterRows(dir: String): Long =
    list(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** The first data file under `path` in listing order, descending into
    * subdirectories (`partitionBy` output, segment trees) and skipping
    * `_`/`.` names — the file a schema-less read with `mergeSchema` off
    * takes its schema from. */
  private def firstDataFile(p: Path): Option[Path] = {
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isFile) Some(p)
    else fs.listStatus(p).toSeq.sortBy(_.getPath.getName).iterator
      .filterNot { st => val n = st.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .flatMap(st => if (st.isFile) Some(st.getPath) else firstDataFile(st.getPath))
      .nextOption()
  }

  /** The schema a schema-less parquet read of `path` infers, read from
    * one data file's footer on the driver — no Spark job (inference runs
    * a 1-task job per read). The conversion is inference's own
    * (`ParquetFileFormat.readSchemaFromFooter` under the session conf),
    * so Spark's row-metadata schema and `nanosAsLong` shape it the same.
    * `partitions` are `partitionBy` columns with the types partition
    * discovery gives them; they come last, as inference puts them.
    * Throws, naming `path`, when it holds no data file: a declared read
    * of nothing must not read as some other relation. */
  def parquetFooterSchema(s: SparkSession, path: String,
      partitions: StructField*): StructType = {
    val hconf = s.sparkContext.hadoopConfiguration
    val f = firstDataFile(new Path(path)).getOrElse(throw new IllegalStateException(
      s"no parquet data file under $path to read its schema from"))
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf),
      HadoopReadOptions.builder(hconf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try new Footer(f, r.getFooter) finally r.close()
    StructType(ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(s.sessionState.conf)) ++ partitions)
  }

  /** A parquet read of `path` with its schema declared from the footer
    * ([[parquetFooterSchema]]) instead of inferred. */
  def readParquet(s: SparkSession, path: String, partitions: StructField*): DataFrame =
    s.read.schema(parquetFooterSchema(s, path, partitions: _*)).parquet(path)
}
