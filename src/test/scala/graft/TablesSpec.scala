package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.StructType

class TablesSpec extends SparkSpec {

  /** Write a one-row parquet file with the int64 columns of `message`,
    * replacing it if present (Spark cannot write TIMESTAMP(NANOS), which
    * the events table had in early data). */
  private def writeFile(file: String, message: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val row = new SimpleGroupFactory(schema).newGroup()
    (0 until schema.getFieldCount).foreach(i => row.append(schema.getFieldName(i), 1700000000000000000L))
    try w.write(row) finally w.close()
  }

  private def tempDir(): String = Files.createTempDirectory("tables-spec").toString

  test("a warm table read starts no Spark job") {
    Tables.documents(spark, sf).schema // warm
    // a plain spark.read.parquet runs one schema-inference job per read
    assert(jobsDuring(Tables.documents(spark, sf).schema) == 0)
  }

  test("a warm s3_html_parse noop write runs one Spark job") {
    // the scan job only; a plain read of documents adds an inference job: 2
    val q = SparkEntry.queries("s3_html_parse")
    def run(): Unit = q(spark, sf).write.mode("overwrite").format("noop").save()
    run()
    val jobs = jobsDuring(run())
    assert(jobs == 1, s"$jobs jobs")
  }

  test("a rewritten table is read with its new schema") {
    val dir = tempDir()
    // a directory written by Spark
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "'x' AS b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    assert(Tables(spark, dir, "t").filter("b = 'x'").count() == 3)
    // a single file rewritten in place
    writeFile(s"$dir/u.parquet", "message u { required int64 a; }")
    assert(Tables(spark, dir, "u").columns.toSeq == Seq("a"))
    writeFile(s"$dir/u.parquet", "message u { required int64 a; required int64 c; }")
    assert(Tables(spark, dir, "u").columns.toSeq == Seq("a", "c"))
    assert(Tables(spark, dir, "u").filter("c = a").count() == 1)
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Tables(spark, tempDir(), "lineitem"))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }

  test("events schemas follow nanosAsLong like an uncached read") {
    val dir = tempDir()
    val file = s"$dir/events.parquet"
    writeFile(file,
      "message e { required int64 event_id; required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    // the schema, or the class of the error that resolving it raised
    def outcome(schema: => StructType): Either[String, StructType] =
      Try(schema).toEither.left.map(_.getClass.getName)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      for (setting <- Seq("true", "false", "true", "false")) {
        spark.conf.set(key, setting)
        assert(outcome(Tables(spark, dir, "events").schema) == outcome(spark.read.parquet(file).schema),
          s"nanosAsLong=$setting")
      }
      val typed = Tables.events(spark, dir) // sets nanosAsLong itself
      val raw = spark.read.parquet(file)
      assert(typed.schema == raw.withColumn("ts", Tables.normalizedEventTs(raw.schema("ts").dataType)).schema)
      assert(typed.schema("ts").dataType.typeName == "timestamp")
      // the harness file, written as TIMESTAMP(MICROS)
      for (setting <- Seq("true", "false")) {
        spark.conf.set(key, setting)
        assert(Tables(spark, sf, "events").schema == spark.read.parquet(s"$sf/events.parquet").schema)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
