package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built — library users, Bench,
  * Verify, the probes and the test suites all start here, so every
  * entry point runs the optimizer that is benchmarked.
  *
  * Cores: `SPARK_GRAFT_CPUS`, else every available processor; they set
  * both `local[cores]` and the shuffle partition count. A master that
  * is already configured (spark-submit passes `spark.master` as a
  * system property) is left alone; on a cluster set `SPARK_GRAFT_CPUS`
  * to the total executor cores. Callers add only experiment-specific
  * settings on top, each with its reason.
  */
object GraftSession {
  private val extensions = "graft.GraftExtensions"

  def builder(): SparkSession.Builder = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.extensions", extensions)
      // BoundedTopK state is ~k rows per group, so the object-hash
      // aggregate can hold far more groups than the 128-group default
      // before its sort-based fallback (which would reintroduce the very
      // sort RewriteRankFilterToTopK removes)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
    if (sys.props.contains("spark.master")) b else b.master(s"local[$cores]")
  }

  /** [[builder]]'s session. `getOrCreate` hands back an already running
    * session as is, and its static conf — the extensions among it —
    * can no longer change; such a session would run stock Spark plans
    * without the engine's rules, so it is refused instead. */
  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    val loaded = s.sparkContext.getConf.get("spark.sql.extensions", "")
    if (!loaded.split(",").map(_.trim).contains(extensions))
      throw new IllegalStateException(
        s"the running SparkSession was built without $extensions " +
          s"(spark.sql.extensions='$loaded'); stop it and build the session " +
          s"through graft.GraftSession, or add $extensions to spark.sql.extensions")
    s
  }
}
