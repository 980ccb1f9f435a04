package graft.queries

import graft.SparkSpec
import graft.dedup.TextDedup
import graft.functions.TextFns
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** The fold state's declared read schemas ([[DedupQueries.stateSchemas]])
  * against what the writers produce. Every state and ledger read passes
  * its schema instead of inferring it (an inferring parquet read runs one
  * Spark job), and a declared column the files lack would read as null
  * with no error — so each declared schema must equal the schema Spark
  * infers from the files the staging, fold and compaction steps write. */
class DeclaredSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** 60 documents in 12 groups of identical texts (exact duplicates pair
    * at simhash distance 0); doc_id % 7 == 0 arrive through the
    * changelog, doc_id % 13 == 3 of history are deleted. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_declared_schema_").toString
    def text(g: Int) = {
      val rnd = new scala.util.Random(g)
      Seq.fill(12)((1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    }
    (0L until 60L).map { id =>
      val t = text((id % 12).toInt)
      (id, t, "en", "web", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private def assertDeclared(rel: String, path: String): Unit = {
    val declared = StructType.fromDDL(DedupQueries.stateSchemas(rel))
    val written = spark.read.parquet(path).schema
    assert(declared == written,
      s"$rel at $path: declared ${declared.toDDL} but the files hold ${written.toDDL}")
  }

  test("staged, folded and compacted state relations match their declared schemas") {
    val cc = DedupQueries.ccHistStateDir(spark, dir)
    val surv = DedupQueries.survivorHistStateDir(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sigs = docs.select(col("doc_id"), TextDedup.simHashN(col("text"), 60).as("simhash"))
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select(lit("I").as("op"), col("doc_id"), TextDedup.simHashN(col("text"), 60).as("simhash"),
        TextFns.qualityScore(col("text"), TextQueries.qualityStops).as("quality"))
      .unionByName(docs.filter(col("doc_id") % 13 === 3 && col("doc_id") % 7 =!= 0)
        .select(lit("D").as("op"), col("doc_id"), lit(null).cast("long").as("simhash"),
          lit(null).cast("double").as("quality")))
    val root = Files.createTempDirectory("graft_declared_schema_root_").toString
    DedupQueries.survivorCdcStep(cc, surv, root, batch, 0L, sigs)
    for (rel <- Seq("ops", "pairs")) {
      assert(SegLedger.rows(s"$root/$rel", 1L) > 0L, s"fixture: the $rel segment is empty")
      assertDeclared(rel, s"$root/$rel/seg-0")
    }
    for (rel <- Seq("labels", "labels_byid", "edges")) assertDeclared(rel, s"$cc/$rel")
    for (rel <- Seq("membership", "manifest")) assertDeclared(rel, s"$surv/$rel")
    DedupQueries.survivorCompactStep(cc, surv, root, 1L, sigs)
    val state = EventQueries.latestViewGen(s"$root/state", None)
      .getOrElse(fail("the compaction committed no state"))
    for (rel <- Seq("labels", "labels_byid", "edges", "sigs", "membership", "manifest"))
      assertDeclared(rel, s"$state/$rel")
    // the retraction family's delete ledger
    DedupQueries.componentsRetractStep(cc, s"$root/retract", Seq(3L).toDF("doc_id"), 0L)
    assertDeclared("dels", s"$root/retract/dels/seg-0")
  }

  test("a drain's readback declares its frame's schema, which is what inference gives") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val src = Files.createTempDirectory("graft_declared_drain_").toString
    spark.range(0, 20, 1, 2).select(col("id"), (col("id") % 3).as("k"))
      .write.parquet(s"$src/in")
    val in = spark.read.parquet(s"$src/in").schema
    for (update <- Seq(false, true)) {
      // `one` is NOT NULL in the frame; the files Spark writes say nullable
      val frame = spark.readStream.schema(in).parquet(s"$src/in")
        .select(col("id"), (col("k") + 1).as("k1"), lit(1).as("one"))
      val out = EventQueries.drainToParquet(frame, s"graft_declared_drain_$update", update)
      val rows = out.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths.head.toString
      }.getOrElse(fail("the readback reads no files"))
      val inferred = spark.read.parquet(rows).schema
      assert(out.schema == inferred,
        s"update=$update: declared ${out.schema.toDDL} but inference gives ${inferred.toDDL}")
      assert(out.count() == 20L)
    }
  }

  /** Schema-less reads kept on purpose, by file, each with its reason. */
  private val inferringAllowed: Map[String, String] = Map(
    "EventQueries.scala" ->
      "q162 reads its at-rest table with mergeSchema: the union of the files' schemas is the query")

  test("no schema-less parquet read in queries/, sources/, streaming/") {
    val roots = Seq("queries", "sources", "streaming")
      .map(d => new java.io.File(s"src/main/scala/graft/$d"))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    // `read`, any `.option(...)` calls, then `.parquet(`: no `.schema(`
    val inferring = """\bread((?:\s*\.\s*option\([^()]*\))*)\s*\.\s*parquet\(""".r
    val hits = roots.flatMap(_.listFiles().filter(_.getName.endsWith(".scala"))).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      inferring.findAllMatchIn(text).map { m =>
        (f.getName, text.substring(0, m.start).count(_ == '\n') + 1)
      }
    }
    val (allowed, left) = hits.partition { case (f, _) => inferringAllowed.contains(f) }
    assert(left.isEmpty,
      s"declare the schema (StateFs.readParquet / parquetFooterSchema, the writer's frame, " +
        s"stateRel, SegLedger's empty) instead of inferring it: " +
        left.map { case (f, l) => s"$f:$l" }.mkString(", "))
    // an allowlist entry whose read is gone must go too
    assert(allowed.map(_._1).toSet == inferringAllowed.keySet,
      s"stale allowlist entries: ${inferringAllowed.keySet -- allowed.map(_._1)}")
    assert(allowed.size == inferringAllowed.size,
      s"more than one allowed read in a file: ${allowed.mkString(", ")}")
  }
}
