package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  // Steady-state methodology: run each query once at the smallest SF
  // before timing it at the target SF, so the measurement charges the
  // query's data-proportional work, not its one-time codegen + JIT
  // compilation (cold-start was 2-4× on sub-second queries; the
  // generated code is identical across SFs, so the warm run compiles
  // exactly the classes the timed run uses).
  private[graft] def warmDir(sfDir: String): Option[String] =
    sys.env.get("SPARK_GRAFT_WARM_DIR").orElse {
      Option(new java.io.File(sfDir).getParentFile)
        .map(p => new java.io.File(p, "sf0.001"))
        .filter(f => f.exists && f.getPath != new java.io.File(sfDir).getPath)
        .map(_.getPath)
    }

  /** One timed trial in seconds, or -1.0 (logged) when the query fails. */
  private[graft] def trial(spark: SparkSession, name: String,
      build: => DataFrame): Double = {
    // settle block-manager + GC debt OUTSIDE the timer: queries that
    // pin frames (localCheckpoint) leave RDD blocks behind, and 100+
    // queries of leftovers in one session thrash the old gen — q85
    // measured 66 s in-bench vs 4 s alone before this cleanup
    // charged each query only its own state.
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    val t0 = System.nanoTime()
    // noop sink materializes EVERY output column — count() would let
    // Catalyst prune computed columns and undermeasure (a query can
    // "bench" in 0.2s yet cost seconds to actually produce)
    try { build.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9 }
    catch { case t: Throwable =>
      System.err.println(s"[bench] $name failed: $t"); -1.0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up codegen/IO paths so the first timed query isn't charged
    // for JVM/session initialization.
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    // HOST-DRIFT CALIBRATION: a fixed, SF-independent CPU+shuffle
    // workload timed FIRST and recorded in the sidecar. The same query
    // set has measured 150 s and 227 s on the same day on this host
    // (CPU steal) — the calibration constant lets a later reader
    // normalize totals across rounds before diagnosing "regressions".
    // Two runs, min, same as the queries; ~1 s on an unloaded host.
    val calibration = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0, 32L * 1000 * 1000, 1, 32)
          .select((org.apache.spark.sql.functions.col("id") % 1024).as("k"),
            // bounded per-row value: summing raw xxhash64 longs
            // overflows under Spark 4's default ANSI mode
            (org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("id")) % 1048576).as("h"))
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("h"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // Option, not a -1.0 sentinel: the sidecar field exists to
      // NORMALIZE totals (total / calibration), and a numeric consumer
      // dividing by -1.0 would silently flip signs — absence must read
      // as JSON null so naive readers fail loudly instead.
      try Some(math.min(once(), once()))
      catch { case t: Throwable =>
        System.err.println(s"[bench] calibration failed: $t"); None }
    }
    // Optional subset for local drill-downs (comma-separated name
    // prefixes); the driver runs the full set.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // Per-query times stream to a sidecar file (rewritten after every
    // query, so a hung run still shows progress): the driver keeps only
    // the last ~2000 chars of output, and at 104 queries the inline
    // per-query map alone was ~1.4 KB — ~150 queries would push the JSON
    // line out of the window again (the r1/r2 failure mode). The final
    // line carries the totals plus this file's path.
    val timesPath = new java.io.File("bench_times.json").getAbsolutePath
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // paths are environment-controlled — escape them or one backslash /
    // quote makes the machine-readable line unparseable
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def writeTimes(done: Seq[(String, Double)], rescuedNames: Seq[String]): Unit = {
      val qs = done.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString("{", ",", "}")
      // methodology marker: queries whose reported min includes a third,
      // cache-cleared trial (the >5 s environmental rescue below). Fast
      // queries stay min-of-two, so cross-round comparisons of a rescued
      // query are not apples-to-apples with pre-rescue rounds — the list
      // makes that visible instead of silent.
      val r = rescuedNames.sorted.map(n => s""""$n"""").mkString("[", ",", "]")
      val w = new java.io.PrintWriter(timesPath, "UTF-8")
      val cal = calibration.map(fmt).getOrElse("null")
      try w.println(s"""{"sf":${jstr(sfDir)},"calibration":$cal,"rescued":$r,"queries":$qs}""")
      finally w.close()
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val rescuedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.map { case (name, fn) =>
      warmDir(sfDir).foreach { wd =>
        try fn(spark, wd).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // Two timed runs, report the min: the first target-SF execution
      // carries JIT ramp-up of that query's generated code (the sf0.001
      // warm pass compiles but doesn't get C2-hot on wide 600k-row
      // loops) plus rare scheduler stalls measured at 10-60 s on an
      // otherwise sub-2 s query; the min is the steady-state number a
      // cluster run amortizes to.
      val times = (1 to 2).map(_ => trial(spark, name, fn(spark, sfDir)))
      val good = times.filter(_ >= 0)
      // Environmental rescue: the host occasionally throttles (CPU
      // steal / IO stalls) for minutes at a time — measured as the SAME
      // 104-query session totaling 52 s in one run and 169 s an hour
      // later, with streaming queries (fsync-chained) hit 10-20×. If
      // both trials land implausibly slow, one more trial often falls
      // outside the window and recovers the query's real cost; genuine
      // multi-second queries just pay one extra run.
      val rescued =
        if (good.nonEmpty && good.min > 5.0) {
          rescuedNames += name
          good ++ Seq(trial(spark, name, fn(spark, sfDir))).filter(_ >= 0)
        } else good
      // a failed query must read as a failure, not a fast time
      val t = if (rescued.isEmpty) -1.0 else rescued.min
      done += (name -> t)
      writeTimes(done.toSeq, rescuedNames.toSeq)
      name -> t
    }.toMap
    // failures carry a -1.0 sentinel per query; summing them would make
    // a failing round read FASTER — exclude them and flag the count.
    // Locale.ROOT (fmt above): the f-interpolator honors the JVM default
    // locale, and a comma decimal separator would emit invalid JSON.
    val failed = results.count(_._2 < 0)
    val total = results.values.filter(_ >= 0).sum
    val failedField = if (failed > 0) s""","failed":$failed""" else ""
    // Per-query visibility for the driver (r20): embed as much of the
    // per-query map as FITS — the whole line must land inside the
    // driver's 2000-char stdout tail window (r2's parsed:null; see
    // build.sbt), and 193 full-name entries are ~6 KB. Entries are
    // admitted in descending cost order, so what the window can't hold
    // is exactly the sub-second noise floor; the full map stays in
    // `queries_file` (additive: r19 and earlier embedded no entries).
    def line(qs: Seq[(String, Double)]): String = {
      val qf = qs.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString("{", ",", "}")
      val elided = results.size - qs.size
      val e = if (elided > 0) s""","queries_elided":$elided""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"queries":$qf$e,"queries_file":${jstr(timesPath)}$failedField,"sf":${jstr(sfDir)}}"""
    }
    val byCost = results.toSeq.sortBy(-_._2)
    // largest prefix (by descending cost) whose line fits the window,
    // with slack for the trailing newline and clock skew in `n`/`total`
    val kept = (results.size to 0 by -1).view
      .map(k => line(byCost.take(k)))
      .find(_.length <= 1900)
      .getOrElse(line(Nil))
    println(kept)
    spark.stop()
  }
}
