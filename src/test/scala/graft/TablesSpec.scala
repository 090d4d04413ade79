package graft

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.core.Tables

/** The per-session schema memo behind `Tables.load`: a repeated load
  * plans without a Spark job, and a rewritten path, a changed parquet
  * read setting or a missing path behave exactly as a plain
  * `spark.read.parquet` would. */
class TablesSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-tables").toString

  test("a repeated load of an unchanged path runs no Spark job") {
    val dir = freshDir()
    spark.range(20).selectExpr("id", "cast(id as string) as s")
      .write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = JobCount(spark.sparkContext)(Tables.load(spark, dir, "t").schema)
    val (second, secondJobs) = JobCount(spark.sparkContext)(Tables.load(spark, dir, "t").schema)
    assert(firstJobs > 0, "schema inference should cost a job on the first load")
    assert(secondJobs == 0)
    assert(second == first)
    assert(Tables.load(spark, dir, "t").count() == 20)
  }

  test("overwriting the path with a different schema re-infers") {
    val dir = freshDir()
    spark.range(5).selectExpr("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(5).selectExpr("id as a", "id * 2 as b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.selectExpr("sum(b)").head().getLong(0) == 20L)
  }

  test("a changed parquet read setting re-infers") {
    // written by parquet-mr, not Spark: a Spark-written file carries its
    // Spark schema in the footer, and inference takes that over the
    // settings, so binaryAsString would not change its type
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = freshDir()
    val schema = MessageTypeParser.parseMessageType("message t { required binary v; }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    try Seq("a", "b").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("v", v)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("v").dataType == BinaryType)
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "t").schema("v").dataType == StringType)
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("v").dataType == BinaryType)
      assert(Tables.load(spark, dir, "t").count() == 2)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing path still fails with PATH_NOT_FOUND") {
    val dir = freshDir()
    val e = intercept[AnalysisException](Tables.load(spark, dir, "absent"))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
