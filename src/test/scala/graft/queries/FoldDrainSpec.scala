package graft.queries

import graft.SparkSpec

/** The one ledger-drain protocol every maintained-state fold runs
  * through ([[EventQueries.foldDrain]]): batch order, the per-batch
  * segment ledger the SpineProbe gates read by sink name, the sink
  * root, and staged-input cleanup when a step fails. */
class FoldDrainSpec extends SparkSpec {
  import spark.implicits._

  private val input = (1L to 20L).toDF("k")

  /** A 2-range staged drain: two parquet files = two micro-batches. */
  private def staged(): String =
    EventQueries.stageRangedDrain(input, 2, "k", "graft_folddrain_")

  test("foldDrain runs the step per batch in order and ledgers its returns") {
    val in = staged()
    val sink = "graft_test_fold_drain"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val root = EventQueries.foldDrain(spark, in, input.schema, sink) { (r, b, id) =>
      val n = b.count()
      seen.add((id, n, r))
      100L * id + n
    }
    import scala.jdk.CollectionConverters._
    val steps = seen.asScala.toSeq
    assert(steps.map(_._1) == Seq(0L, 1L), s"batch ids: $steps")
    assert(steps.map(_._2).sum == 20L, s"every row drains exactly once: $steps")
    assert(steps.forall(_._3 == root), "the step sees the returned root")
    assert(graft.streaming.StreamMetrics.segments(sink) ==
      steps.map { case (id, n, _) => (id, 100L * id + n) }.toVector)
    assert(new java.io.File(s"$root/cp").isDirectory, "checkpoint lives under root/cp")
    assert(graft.streaming.StreamMetrics.get(sink).isDefined, "progress snapshot recorded")
    assert(!new java.io.File(in).getParentFile.exists(), "staged input dropped")
  }

  test("a failing step propagates its error and still drops the staged input") {
    val in = staged()
    val err = intercept[Exception] {
      EventQueries.foldDrain(spark, in, input.schema, "graft_test_fold_drain_fail") {
        (_, _, id) => throw new IllegalStateException(s"fold step failed at batch $id")
      }
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == "fold step failed at batch 0"),
      s"the step's own error must propagate: $err")
    assert(!new java.io.File(in).getParentFile.exists(),
      "a failed drain must not leak its staged input copy")
  }

  test("a staged drain that throws propagates its error and drops the staged input") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val in = staged()
    val err = intercept[Exception] {
      EventQueries.drainStaged(in, "graft_test_drain_staged_fail")(
        spark.readStream.schema(input.schema).option("maxFilesPerTrigger", 1).parquet(in)
          .select(when(col("k") > 0, raise_error(lit("staged drain failed")))
            .otherwise(col("k")).as("k")))
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("staged drain failed"))),
      s"the drain's own error must propagate: $err")
    assert(!new java.io.File(in).getParentFile.exists(),
      "a failed drain must not leak its staged input copy")
  }

  test("foldDrain and drainToParquet are the only foreachBatch sinks under queries/") {
    val needle = ".foreachBatch"
    val memberDef = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
    def walk(dir: java.io.File): Seq[java.io.File] = {
      val fs = Option(dir.listFiles()).toSeq.flatten
      fs.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
        fs.filter(_.isDirectory).flatMap(walk)
    }
    val files = walk(new java.io.File("src/main/scala/graft/queries"))
    assert(files.nonEmpty, "run from the repository root")
    val hits = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.indices.filter(i => lines(i).contains(needle)).map { i =>
        val owner = lines.take(i).reverseIterator
          .collectFirst { case memberDef(name) => name }.getOrElse("?")
        s"${f.getName}:$owner"
      }
    }
    assert(hits.sorted == Seq("EventQueries.scala:drainToParquet",
        "EventQueries.scala:foldDrain"),
      s"ledger drains go through EventQueries.foldDrain, not a new $needle: " +
        hits.mkString(", "))
  }
}
