package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark process: a closed loop with one client over a
  * workload's query list, calling the engine's public entry points
  * (`QueryDef.build`, then a noop-sink write of the frame it returns).
  *
  * The JVM records raw timings and counters and writes them to
  * `--result` as JSON; `perfbench/run.py` turns them into metrics.
  *
  * {{{
  * Harness --workload W --input DIR --run-dir DIR --seconds S
  *         --trace 0|1 --cores C --result FILE
  * }}}
  *
  * The correctness pass comes first. Timed rounds follow while the next
  * one, taking as long as the one before, would end within `--seconds`.
  * An untraced run measures at least three rounds, so the median is
  * never the first round, which still carries JIT warm-up of the timed
  * path. A traced run measures at least four, traced in the order U,T,T,U,U,T,T,U,... so the traced and
  * untraced rounds it compares sit equally early and late in the run.
  */
object Harness {
  val workloads: Map[String, Seq[String]] = Map(
    "cva_spine" -> Seq("q94_cva_end_to_end", "q112_flagging_end_to_end",
      "q23_relevance_cascade", "q24_amount_waterfall", "q25_undouble_cap",
      "q30_fuzzy_match", "q09_split_rows"),
    "cdc_fold" -> Seq("q189_stream_manifest_cdc"))

  /** The session conf Bench times. A later change that builds sessions
    * elsewhere must keep it; the run refuses to measure a drifted conf. */
  def pinnedConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  final case class Call(round: Int, query: String, traced: Boolean, startMs: Long,
      buildS: Double, materializeS: Double, cpuS: Double, error: String)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val runDir = opt("run-dir")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val minRounds = if (trace) 4 else 3
    val cores = opt("cores").toInt
    val names = workloads.getOrElse(workload, fail(s"unknown workload $workload"))

    val builder = pinnedConf(cores).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = pinnedConf(cores).map { case (k, want) =>
      val got = spark.conf.getOption(k).getOrElse("")
      if (!got.split(",").map(_.trim).contains(want))
        fail(s"session conf drifted: $k=$got, the benchmark pins $want")
      k -> got
    }
    System.err.println("[perfbench] conf " + conf.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val sc = spark.sparkContext
    def drainBus(): Unit = org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)

    val sessionMs = System.currentTimeMillis()
    val entry = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql

    // Correctness pass, which is also the warm pass: every query runs once
    // on this run's own inputs and writes its result for the oracle compare,
    // then the same frame goes once into the timed path's noop sink, so the
    // first timed rounds do not pay that path's first use (on cdc_fold the
    // serve read is ~50 ms and its first runs read twice that).
    val out = s"$runDir/out"
    val checked = names.map { n =>
      n -> Try {
        val df = entry(n)(spark, input)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        df.write.format("noop").mode("overwrite").save()
      }.failed.map(describe).getOrElse("")
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), names.flatMap(n =>
      oracles.get(n).map(sql => s"${Json.str(n)}:${Json.str(sql)}")).mkString("{", ",", "}"))

    /** One closed-loop call: build, then materialize into the noop sink.
      * Cached blocks and GC debt are settled outside the timer, as Bench does. */
    def call(round: Int, n: String, traced: Boolean): Call = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      val startMs = System.currentTimeMillis()
      val cpu0 = Host.processCpuSeconds()
      val t0 = System.nanoTime()
      var t1 = 0L
      val err = Try {
        val df = entry(n)(spark, input)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
      }.failed.map(describe).getOrElse("")
      val t2 = System.nanoTime()
      if (t1 == 0L) t1 = t2
      Call(round, n, traced, startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        Host.processCpuSeconds() - cpu0, err)
    }

    val firstRoundMs = System.currentTimeMillis()
    System.err.println(s"[perfbench] setup: session ready ${(sessionMs - jvmStartMs) / 1e3} s " +
      s"after JVM start, correctness pass ${(firstRoundMs - sessionMs) / 1e3} s")
    val steal0 = Host.cpuJiffies()
    val calls = mutable.ArrayBuffer.empty[Call]
    val rounds = mutable.ArrayBuffer.empty[String]
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    val loop0 = System.nanoTime()
    var round = 0
    // a round starts only if, taking as long as the one before it, it
    // ends within --seconds
    var lastRoundS = 0.0
    while (round < minRounds || (System.nanoTime() - loop0) / 1e9 + lastRoundS <= seconds) {
      val round0 = System.nanoTime()
      round += 1
      // a traced JVM mixes traced and untraced rounds, so the tracing
      // overhead is measured inside one process; the engine listener is
      // registered only for a traced round, so its dispatch cost counts
      val traced = trace && (round % 4 == 2 || round % 4 == 3)
      if (traced) {
        // listener events are delivered asynchronously: the bus is empty
        // before the listener is added and after the round's events
        drainBus()
        sc.addSparkListener(Trace.Engine)
        Trace.enabled = true
      }
      val gc0 = Host.gcSeconds(); val io0 = Host.diskWriteBytes()
      val tmp0 = Host.treeBytes(tmpDir)
      names.foreach(n => calls += call(round, n, traced))
      if (traced) {
        drainBus()
        Trace.enabled = false
        sc.removeSparkListener(Trace.Engine)
      }
      val tmp1 = Host.treeBytes(tmpDir)
      lastRoundS = (System.nanoTime() - round0) / 1e9
      rounds += s"""{"round":$round,"traced":$traced,"gc_s":${Host.gcSeconds() - gc0},"disk_write_bytes":${Host.diskWriteBytes() - io0},"tmp_bytes_before":$tmp0,"tmp_bytes_after":$tmp1}"""
    }
    val steal = Host.stealFrac(steal0, Host.cpuJiffies())
    val traceJson = if (trace) Trace.dump() else "null"
    val vmHwmKb = Host.vmHwmKb()
    val calibration = Host.calibrate(spark)

    def callJson(cs: Seq[Call]) = cs.map(c =>
      s"""{"round":${c.round},"query":${Json.str(c.query)},"traced":${c.traced},"start_ms":${c.startMs},"build_s":${c.buildS},"materialize_s":${c.materializeS},"cpu_s":${c.cpuS},"error":${Json.str(c.error)}}""")
      .mkString("[", ",", "]")
    val checkJson = checked.map { case (n, e) => s"${Json.str(n)}:${Json.str(e)}" }
    val result =
      s"""{"workload":${Json.str(workload)},"queries":${names.map(Json.str).mkString("[", ",", "]")},""" +
      s""""conf":${conf.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
      s""""cores":$cores,"first_round_ms":$firstRoundMs,"correctness":${checkJson.mkString("{", ",", "}")},""" +
      s""""calls":${callJson(calls.toSeq)},"rounds":${rounds.mkString("[", ",", "]")},""" +
      s""""host":{"steal_frac":$steal,"calibration_s":$calibration,"vm_hwm_kb":$vmHwmKb},""" +
      s""""trace":$traceJson}"""
    Files.writeString(Paths.get(opt("result")), result)
    spark.stop()
  }

  private def describe(t: Throwable): String = {
    val m = s"${t.getClass.getName}: ${t.getMessage}"
    if (m.length > 500) m.take(500) else m
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(3)
  }
}

/** Process and host counters read from the JVM and /proc. */
object Host {
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def procLines(path: String): Seq[String] =
    Try(Files.readAllLines(Paths.get(path))).map { l =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq
    }.getOrElse(Nil)

  private def procField(path: String, key: String): Long =
    procLines(path).find(_.startsWith(key)).flatMap(l =>
      l.stripPrefix(key).trim.split("\\s+").headOption.flatMap(_.toLongOption)).getOrElse(0L)

  def diskWriteBytes(): Long = procField("/proc/self/io", "write_bytes:")
  def vmHwmKb(): Long = procField("/proc/self/status", "VmHWM:")

  /** (steal, total) jiffies of the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) = procLines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
    val v = l.split("\\s+").drop(1).flatMap(_.toLongOption)
    (if (v.length > 7) v(7) else 0L, v.take(8).sum)
  }.getOrElse((0L, 0L))

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def treeBytes(root: Path): Long = Try {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(p => Try(if (Files.isRegularFile(p)) Files.size(p) else 0L).getOrElse(0L)).sum
    } finally s.close()
  }.getOrElse(0L)

  /** Bench's host-drift calibration: a fixed CPU plus shuffle job, timed
    * once after the rounds, so a stalled host can be told from a regression. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0, 32L * 1000 * 1000, 1, 32)
      .select((col("id") % 1024).as("k"), (xxhash64(col("id")) % 1048576).as("h"))
      .groupBy("k").agg(sum("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
