package graft

/** Every session — library, mains, probes, tests — is built by
  * GraftSession, so each runs the optimizer Bench times. */
class GraftSessionSpec extends SparkSpec {

  private def walk(dir: java.io.File): Seq[java.io.File] = {
    val fs = Option(dir.listFiles()).toSeq.flatten
    fs.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      fs.filter(_.isDirectory).flatMap(walk)
  }

  test("GraftSession is the only code that builds a SparkSession") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder("
    val hits = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => walk(new java.io.File(d))).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (l, i) if l.contains(needle) => (f.getName, i + 1)
        }.toList finally src.close()
      }
    assert(hits.map(_._1).distinct == Seq("GraftSession.scala"),
      s"build sessions through graft.GraftSession, not $needle: ${hits.mkString(", ")}")
  }

  test("runners are the six mains; new checks join a SpineProbe gate family") {
    // split so this file does not match its own needle
    val needle = "def " + "main("
    val mains = walk(new java.io.File("src/main/scala"))
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().exists(_.contains(needle)) finally src.close()
      }.map(_.getName).sorted
    assert(mains == Seq("Bench.scala", "Explain.scala", "Probe.scala", "Smoke.scala",
        "SpineProbe.scala", "Verify.scala"),
      s"a new main under src/main/scala: ${mains.mkString(", ")}")
  }

  test("the shared test session carries the engine conf") {
    assert(spark.conf.get("spark.sql.extensions").split(",").map(_.trim)
      .contains("graft.GraftExtensions"))
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
