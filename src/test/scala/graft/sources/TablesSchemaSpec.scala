package graft.sources

import graft.{Probe, SparkSpec}
import graft.queries.StateFs
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, MetadataBuilder, StructField}
import java.nio.file.Files

/** [[StateFs.parquetFooterSchema]], the schema every table read and
  * engine-written read declares, against what Spark's own inference
  * gives for the same files. A declared column the files lack reads as
  * null with no error, and a declared type or order that differs from
  * inference changes what the queries see — so each must be equal. */
class TablesSchemaSpec extends SparkSpec {
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"

  /** The declared read's schema equals the inferring read's (order,
    * types, nullability and field metadata included). */
  private def assertFooterInfers(path: String, partitions: StructField*): Unit = {
    val declared = spark.read
      .schema(StateFs.parquetFooterSchema(spark, path, partitions: _*)).parquet(path).schema
    val inferred = spark.read.parquet(path).schema
    assert(declared == inferred,
      s"$path: the footer declares ${declared.toDDL} but inference gives ${inferred.toDDL}")
  }

  private def withNanos[A](v: String)(f: => A): A = {
    val prev = spark.conf.getOption(nanos)
    spark.conf.set(nanos, v)
    try f finally prev.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }

  test("every table's footer schema is the inferred one, events under both nanosAsLong settings") {
    for (name <- Tables.names.filterNot(_ == "events"))
      assertFooterInfers(s"$sf/$name.parquet")
    for (v <- Seq("true", "false")) withNanos(v)(assertFooterInfers(s"$sf/events.parquet"))
  }

  test("Tables.load runs no Spark job") {
    for (name <- Tables.names) {
      val m = Probe.metered(spark.sparkContext)(Tables.load(spark, sf, name))
      assert(m.jobs.isEmpty, s"$name: ${m.jobs}")
    }
  }

  test("a Spark-written file's row metadata shapes the footer schema as it does inference") {
    val dir = Files.createTempDirectory("graft_footer_rowmeta_").toString
    val noted = new MetadataBuilder().putString("comment", "kept in the row metadata").build()
    spark.range(0, 20, 1, 2).select(col("id"), col("id").cast("short").as("s"),
        col("id").cast("string").as("t", noted))
      .write.parquet(s"$dir/t")
    val footer = StateFs.parquetFooterSchema(spark, s"$dir/t")
    assert(footer("t").metadata == noted, s"row metadata not read: ${footer.json}")
    assertFooterInfers(s"$dir/t")
  }

  test("partitionBy output: the partition columns come last, typed as discovery types them") {
    val dir = Files.createTempDirectory("graft_footer_parts_").toString
    spark.range(0, 40, 1, 2)
      .select((col("id") % 4).cast("long").as("day"), col("id"), (col("id") * 0.5).as("v"))
      .write.partitionBy("day").parquet(s"$dir/t")
    val footer = StateFs.parquetFooterSchema(spark, s"$dir/t", StructField("day", IntegerType))
    assert(footer.fieldNames.toSeq == Seq("id", "v", "day"), footer.toDDL)
    assertFooterInfers(s"$dir/t", StructField("day", IntegerType))
  }

  test("a directory with no data file fails naming the path; an empty write reads as empty") {
    val dir = Files.createTempDirectory("graft_footer_empty_").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val e = intercept[IllegalStateException](StateFs.parquetFooterSchema(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
    val missing = s"$dir/missing"
    val e2 = intercept[IllegalStateException](StateFs.readParquet(spark, missing))
    assert(e2.getMessage.contains(missing), e2.getMessage)
    // an empty frame's write still commits one schema-carrying file
    spark.range(0, 10).select(col("id"), col("id").cast("string").as("t"))
      .filter(col("id") < 0).write.parquet(s"$dir/none")
    assertFooterInfers(s"$dir/none")
    val read = StateFs.readParquet(spark, s"$dir/none")
    assert(read.count() == 0L)
    assert(read.schema.fieldNames.toSeq == Seq("id", "t"), read.schema.toDDL)
  }
}
