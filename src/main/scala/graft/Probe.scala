package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query drill-down behind Bench's one-line totals. Each named query
  * is warmed and timed exactly as Bench does it (warm dir, then 3 runs
  * through [[Bench.trial]]), and the last run is broken down:
  *   - every Spark job's duration, task count and call site (the fold
  *     steps' `labeled` descriptions where set), in start order and
  *     summed by site, plus the gap between wall and summed job time —
  *     driver-side planning / codegen / filesystem work no job accounts
  *     for;
  *   - each streaming drain's per-batch `durationMs` and file-log
  *     `logOffset` trail from StreamMetrics — WAL and state commits run
  *     between jobs, so only this view decomposes a micro-batch.
  *
  * [[metered]] is the one listener every runner reads its job and task
  * numbers from; [[bestOf]] is the min-of-n timer over it.
  *
  * Usage: runMain graft.Probe <query[,query...]> [sfDir] [spark.conf=v ...]
  *   sfDir defaults to Bench's `SPARK_GRAFT_SF_DIR`.
  */
object Probe {
  /** One completed Spark job: ids and times as the scheduler reports
    * them, `site` the job description (the fold steps' `labeled` text)
    * or else the short call site, and `kinds` what each of its stages
    * runs — the stage's RDD class names in lineage order, joined by `>`
    * (a parquet schema-inference job reads `ParallelCollectionRDD>…`, a
    * broadcast of a pinned frame `…LocalCheckpointRDD`, a scan starts at
    * `FileScanRDD`). */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int, site: String,
      kinds: Seq[String] = Nil) {
    def secs: Double = (end - start) / 1e3
  }

  /** A stage's RDD class names in lineage (id) order, repeats dropped. */
  private def stageKinds(st: org.apache.spark.scheduler.StageInfo): String =
    st.rddInfos.sortBy(_.id).map(_.name).distinct.mkString(">")

  /** One finished task's duration and the bytes it read and shuffled. */
  final case class Task(durationMs: Long, inputBytes: Long,
      shuffleRecords: Long, shuffleBytes: Long)

  /** What [[metered]] saw while `value` was computed in `sec` seconds:
    * the jobs that completed, in start order, and every finished task. */
  final case class Metered[T](value: T, sec: Double, jobs: Seq[Job], tasks: Seq[Task]) {
    def inputBytes: Long = tasks.map(_.inputBytes).sum
    def shuffleRecords: Long = tasks.map(_.shuffleRecords).sum
    def shuffleBytes: Long = tasks.map(_.shuffleBytes).sum
    def maxTaskMs: Long = if (tasks.isEmpty) 0L else tasks.map(_.durationMs).max
    def p50TaskMs: Long =
      if (tasks.isEmpty) 0L else tasks.map(_.durationMs).sorted.apply(tasks.size / 2)
  }

  /** A micro-batch's description as Spark sets it
    * (`<name>\nid = …\nrunId = …\nbatch = N`) read as `<name>#N`, so a
    * drain's jobs group into one by-site row per batch instead of three
    * lines each; any other description passes through. */
  private val StreamBatch = """(?s)(.*)\nid = [^\n]*\nrunId = [^\n]*\nbatch = (\S+)""".r
  private[graft] def siteOf(description: String): String = description match {
    case StreamBatch(name, batch) => s"$name#$batch"
    case d => d
  }

  /** Run `body` under a listener of its own and return its value, wall
    * time, jobs and tasks. The listener bus is async: it is drained
    * before the listener joins, so no earlier event lands in this meter,
    * and again before it leaves, so every event `body` caused does. A
    * fixed sleep or a "counter stopped moving" poll instead undercounts
    * whenever the bus stalls past one interval on a loaded host — and the
    * straggler task a skew arm exists to show is by construction the
    * last event to arrive. */
  def metered[T](sc: SparkContext)(body: => T): Metered[T] = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")).map(siteOf)
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
        starts.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageInfos.map(_.numTasks).sum,
          site, e.stageInfos.sortBy(_.stageId).map(stageKinds)))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = Option(e.taskMetrics)
        tasks.add(Task(Option(e.taskInfo).map(_.duration).getOrElse(0L),
          m.map(_.inputMetrics.bytesRead).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
        ()
      }
    }
    org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val value = body
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
      import scala.jdk.CollectionConverters._
      Metered(value, sec, jobs.asScala.toSeq.sortBy(_.start), tasks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Best of `n` metered runs of `body`, each after a GC settle: earlier
    * work leaves old-gen debt that can double a single run. The value,
    * jobs and tasks returned are those of the run that set the minimum
    * wall, so a plan read from the value is the plan that was timed. */
  def bestOf[T](spark: SparkSession, n: Int)(body: => T): Metered[T] =
    (1 to n).map { _ =>
      System.gc()
      metered(spark.sparkContext)(body)
    }.minBy(_.sec)

  private val usage =
    "usage: runMain graft.Probe <query[,query...]> [sfDir] [spark.conf=v ...]"

  private def fail(msg: String): Nothing = {
    System.err.println(s"$msg\n$usage")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) fail("no query named")
    val names = args(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(fail("no sfDir given and SPARK_GRAFT_SF_DIR unset"))
    val confs = args.drop(2).toSeq.map { kv =>
      if (!kv.contains("=")) fail(s"conf argument '$kv' is not k=v")
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val spark = confs.foldLeft(GraftSession.builder()) { case (b, (k, v)) =>
      b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.StreamMetrics
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // every drain run re-records its sink, so a sink whose trail is
      // not this snapshot's was drained by this query, its last run last
      val before = StreamMetrics.progressNames.map(n => n -> StreamMetrics.progress(n)).toMap
      Bench.warmDir(sfDir).foreach { wd =>
        try fn(spark, wd).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"[warm] $name failed: ${e.getMessage}") }
      }
      val sc = spark.sparkContext
      val runs = (1 to 3).map { i =>
        // the timed write of the built frame reads `<query>:result` in
        // the tables below; the build's own jobs keep their labels
        val run = try metered(sc)(Bench.trial(spark, name, {
          val df = fn(spark, sfDir)
          sc.setJobDescription(s"$name:result")
          df
        })) finally sc.setJobDescription(null)
        val wall = run.value
        val total = run.jobs.map(_.secs).sum
        println(f"[probe] $name run$i wall=$wall%.2f s, jobs=${run.jobs.size}, " +
          f"sum(job)=$total%.2f s, driver-gap=${wall - total}%.2f s")
        (wall, run.jobs)
      }
      val walls = runs.map(_._1).sorted
      println(f"[probe] $name min=${walls.head}%.3f med=${walls(1)}%.3f max=${walls.last}%.3f")
      // timeline of the last run: gaps between jobs are driver time
      val last = runs.last._2
      var prevEnd = -1L
      last.foreach { j =>
        val gap = if (prevEnd < 0) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        println(f"[job] id=${j.id}%4d dur=${j.secs}%6.3f s " +
          f"gapBefore=$gap%6.3f s tasks=${j.tasks}%4d  ${j.site}  " +
          j.kinds.mkString("[", " | ", "]"))
      }
      println(s"[probe] $name by call site:")
      last.groupBy(_.site).toSeq
        .map { case (s, js) => (s, js.size, js.map(_.secs).sum) }
        .sortBy(-_._3)
        .foreach { case (s, n, t) => println(f"[site] $t%7.2f s  n=$n%3d  $s") }
      for (sink <- StreamMetrics.progressNames
          if !before.get(sink).exists(_ eq StreamMetrics.progress(sink))) {
        println(s"[sink] $sink")
        StreamMetrics.progress(sink).foreach { js =>
          def first(key: String, value: String) =
            s""""$key"\\s*:\\s*$value""".r.findFirstMatchIn(js).map(_.group(1))
          // row counts can read 0 for a consumed file (chained-stateful
          // two-source queries), so the offset trail is the reliable
          // "which batch ate which file" view
          val offs = "\"logOffset\"\\s*:\\s*(\\d+)".r.findAllMatchIn(js)
            .map(_.group(1)).mkString(",")
          println(s"[batch] id=${first("batchId", "(\\d+)").getOrElse("?")} " +
            s"rows=${first("numInputRows", "(\\d+)").getOrElse("?")} logOffsets=[$offs] " +
            s"durationMs{${first("durationMs", "\\{([^}]*)\\}").getOrElse("")}}")
        }
      }
    }
    spark.stop()
  }
}
