package graft

/** Every session — library, mains, probes, tests — is built by
  * GraftSession, so each runs the optimizer Bench times. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession is the only code that builds a SparkSession") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder("
    def walk(dir: java.io.File): Seq[java.io.File] = {
      val fs = Option(dir.listFiles()).toSeq.flatten
      fs.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
        fs.filter(_.isDirectory).flatMap(walk)
    }
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

  test("the shared test session carries the engine conf") {
    assert(spark.conf.get("spark.sql.extensions").split(",").map(_.trim)
      .contains("graft.GraftExtensions"))
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
