package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

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
  * Usage: runMain graft.Probe <query[,query...]> [sfDir] [spark.conf=v ...]
  *   sfDir defaults to Bench's `SPARK_GRAFT_SF_DIR`.
  */
object Probe {
  private final case class J(id: Int, start: Long, tasks: Int, site: String,
      var end: Long = -1L) {
    def secs: Double = (end - start) / 1e3
  }

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
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
        jobs.put(e.jobId, J(e.jobId, e.time, e.stageInfos.map(_.numTasks).sum, site))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    })
    import graft.streaming.StreamMetrics
    import scala.jdk.CollectionConverters._
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // every drain run re-records its sink, so a sink whose trail is
      // not this snapshot's was drained by this query, its last run last
      val before = StreamMetrics.progressNames.map(n => n -> StreamMetrics.progress(n)).toMap
      Bench.warmDir(sfDir).foreach { wd =>
        try fn(spark, wd).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"[warm] $name failed: ${e.getMessage}") }
      }
      // the bus is drained before each run and after it, so the map
      // holds exactly the jobs the run started
      val runs = (1 to 3).map { i =>
        org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
        jobs.clear()
        val wall = Bench.trial(spark, name, fn(spark, sfDir))
        org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
        val done = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
        val total = done.map(_.secs).sum
        println(f"[probe] $name run$i wall=$wall%.2f s, jobs=${done.size}, " +
          f"sum(job)=$total%.2f s, driver-gap=${wall - total}%.2f s")
        (wall, done)
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
          f"gapBefore=$gap%6.3f s tasks=${j.tasks}%4d  ${j.site}")
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
