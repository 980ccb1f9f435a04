package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** `QueryDef.build` of the reference's product chain (the `cva_spine`
  * benchmark workload) plans its frame and runs no Spark job: its table
  * reads declare the footer schema instead of inferring it, and an
  * inferring parquet read runs one 1-task job per call. The declared
  * read must not change the plan either, or the time taken out of
  * `build` could move into the write. */
class BuildJobSpec extends SparkSpec {
  private val spine = Seq("q94_cva_end_to_end", "q112_flagging_end_to_end",
    "q23_relevance_cascade", "q24_amount_waterfall", "q25_undouble_cap",
    "q30_fuzzy_match", "q09_split_rows")
  private lazy val defs = SparkEntry.allDefs.map(q => q.name -> q).toMap

  test("build of each cva_spine query runs no Spark job once warm") {
    for (name <- spine) {
      val q = defs(name)
      q.build(spark, sf) // the warm call pays any one-time staging
      val m = Probe.metered(spark.sparkContext)(q.build(spark, sf))
      assert(m.jobs.isEmpty, s"$name: build ran ${m.jobs.size} jobs: " +
        m.jobs.map(j => s"${j.site} [${j.kinds.mkString(" | ")}]").mkString("; "))
    }
  }

  /** Physical plan text without expression and exchange plan ids. */
  private def planText(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String =
    spark.sessionState.executePlan(p).executedPlan.toString
      .replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "plan_id")

  test("each cva_spine query plans the same under the declared read as under the inferred one") {
    for (name <- spine) {
      val analyzed = defs(name).build(spark, sf).queryExecution.analyzed
      var swapped = 0
      // every path-read file relation, swapped for the relation a
      // schema-less read of the same paths infers (same output ids)
      val inferredPlan = analyzed.transformDown {
        case lr @ LogicalRelation(fs: HadoopFsRelation, _, None, false, _) =>
          val paths = fs.location.rootPaths.map(_.toString)
          val inf = spark.read.parquet(paths: _*).queryExecution.analyzed.collectFirst {
            case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
          }.get
          assert(inf.schema == fs.schema,
            s"$name: ${paths.mkString(",")} declares ${fs.schema.toDDL}, infers ${inf.schema.toDDL}")
          swapped += 1
          lr.copy(relation = inf)
      }
      assert(swapped > 0, s"$name reads no parquet path")
      val (declared, inferred) = (planText(analyzed), planText(inferredPlan))
      assert(declared == inferred, s"$name: the plan differs between the declared and " +
        s"the inferred read, first at: ${declared.lines.toArray.zip(inferred.lines.toArray)
          .find { case (a, b) => a != b }.getOrElse(("", ""))}")
    }
  }
}
