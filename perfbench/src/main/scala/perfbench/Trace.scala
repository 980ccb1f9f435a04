package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events of a traced run, collected by listeners the benchmark
  * registers itself. Nothing is interpreted here: the records are dumped
  * as JSON when the run ends and `perfbench/layers.py` attributes them to
  * calls, builds the span tree and computes the per-layer metrics.
  *
  * The harness registers [[Engine]] for traced rounds only. `enabled`
  * gates [[PlanListener]], which the session conf registers for the
  * whole run, so a traced JVM can mix traced and untraced rounds and
  * report the tracing overhead from one process. */
object Trace {
  @volatile var enabled = false

  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int], desc: String)
  final class Stage(val id: Int, val jobId: Int) {
    var submit = 0L; var complete = 0L
    var tasks = 0; var failures = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final case class Plan(start: Long, analysisMs: Long, optimizerMs: Long,
      planningMs: Long, graftRulesNs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val progress = mutable.ArrayBuffer.empty[String]

  def recordPlan(p: Plan): Unit = synchronized { plans += p }

  /** Jobs, stages and tasks; streaming progress arrives on the same bus
    * as `onOtherEvent`, so one listener sees every engine event. */
  object Engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs(e.jobId) = Job(e.jobId, e.time, 0L, e.stageIds, desc.getOrElse(""))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    private def stage(id: Int): Option[Stage] =
      stageJob.get(id).filter(jobs.contains).map(j => stages.getOrElseUpdate(id, new Stage(id, j)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stage(e.stageInfo.stageId).foreach(_.submit =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stage(e.stageInfo.stageId).foreach(_.complete =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stage(e.stageId).foreach { s =>
        val i = e.taskInfo
        s.tasks += 1
        if (!i.successful) s.failures += 1
        s.durations += i.duration
        s.waitMs += math.max(0L, i.launchTime - s.submit)
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inBytes += m.inputMetrics.bytesRead; s.inRows += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spill += m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        synchronized { progress += p.progress.json }
      case _ =>
    }
  }

  /** Everything recorded so far, as one JSON object. */
  def dump(): String = synchronized {
    val js = jobs.values.map(j =>
      s"""{"id":${j.id},"start":${j.start},"end":${j.end},"stages":${j.stages.mkString("[", ",", "]")},"desc":${Json.str(j.desc)}}""")
    val ss = stages.values.map { s =>
      val d = s.durations.sorted
      val skew = if (d.size < 2 || d(d.size / 2) <= 0) 1.0 else d.last.toDouble / d(d.size / 2)
      s"""{"id":${s.id},"job":${s.jobId},"submit":${s.submit},"complete":${s.complete},"tasks":${s.tasks},"failures":${s.failures},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"wait_ms":${s.waitMs},"in_bytes":${s.inBytes},"in_rows":${s.inRows},"out_bytes":${s.outBytes},"shuffle_write":${s.shWrite},"shuffle_read":${s.shRead},"fetch_wait_ms":${s.fetchWaitMs},"spill":${s.spill},"skew":$skew}"""
    }
    val ps = plans.map(p =>
      s"""{"start":${p.start},"analysis_ms":${p.analysisMs},"optimizer_ms":${p.optimizerMs},"planning_ms":${p.planningMs},"graft_rules_ns":${p.graftRulesNs}}""")
    s"""{"jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")},"plans":${ps.mkString("[", ",", "]")},"progress":${progress.mkString("[", ",", "]")}}"""
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session the program creates (the drains use `newSession()`) gets
  * one; all instances record into [[Trace]]. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = if (Trace.enabled) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(_ min _)
    val graftNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum
    Trace.recordPlan(Trace.Plan(if (start == Long.MaxValue) 0L else start,
      ms("analysis"), ms("optimization"), ms("planning"), graftNs))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
