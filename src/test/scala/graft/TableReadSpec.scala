package graft

import graft.sources.{Layout, Tables}
import org.apache.spark.sql.{AnalysisException, DataFrame, functions => F}
import java.nio.file.Files

/** `Tables.parquet` opens a table without a Spark job and returns the
  * frame `spark.read.parquet` returns: same schema, same rows, same
  * error.
  */
class TableReadSpec extends SparkSuite {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def sample: DataFrame = Tables.events(spark, sf).limit(200)

  private def assertSameAsSpark(paths: String*): Unit = {
    var ours: DataFrame = null
    assert(jobsStartedBy { ours = Tables.parquet(spark, paths: _*) } == 0,
      "opening a table must start no Spark job")
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema)
    assert(ours.count() == theirs.count())
    assert(ours.exceptAll(theirs).isEmpty && theirs.exceptAll(ours).isEmpty)
  }

  test("day-partitioned table with .crc and _SUCCESS files") {
    val path = s"${tmp("graft-tr-part-")}/t"
    Layout.writePartitioned(sample, path, "ts", Seq("event_type"))
    val names = new java.io.File(path).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(names.exists(_.startsWith("p_day=")))
    assertSameAsSpark(path)
  }

  test("a single unpartitioned file") {
    val dir = s"${tmp("graft-tr-file-")}/t"
    sample.coalesce(1).write.parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assertSameAsSpark(file.getPath)
  }

  test("multiple paths") {
    val root = tmp("graft-tr-multi-")
    sample.filter(F.col("event_id") % 2 === 0).write.parquet(s"$root/a")
    sample.filter(F.col("event_id") % 2 === 1).write.parquet(s"$root/b")
    assertSameAsSpark(s"$root/b", s"$root/a")
  }

  test("TIMESTAMP(NANOS) file under spark.sql.legacy.parquet.nanosAsLong") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Spark cannot write TIMESTAMP(NANOS), so write the file with parquet-mr
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val file = s"${tmp("graft-tr-nanos-")}/events.parquet"
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 5L).foreach(i => writer.write(rows.newGroup()
      .append("event_id", i).append("ts", 1704067200000000000L + i * 1000000007L)))
    finally writer.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Tables.parquet(spark, file).schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assertSameAsSpark(file)
  }

  test("data files that also hold the partition column keep Spark's column order") {
    val root = tmp("graft-tr-overlap-")
    // stored as a string: the column takes the partition's inferred date type
    val days = sample.withColumn("p_day", F.to_date(F.col("ts")).cast("string"))
      .select("p_day", "event_id", "event_type")
    days.select("p_day").distinct().collect().map(_.getString(0)).foreach { d =>
      days.filter(F.col("p_day") === F.lit(d)).write.parquet(s"$root/p_day=$d")
    }
    val ours = Tables.parquet(spark, root)
    assert(ours.columns.toSeq == Seq("p_day", "event_id", "event_type"))
    assert(ours.schema("p_day").dataType == org.apache.spark.sql.types.DateType)
    assertSameAsSpark(root)
  }

  test("an empty directory raises Spark's own error") {
    val dir = tmp("graft-tr-empty-")
    val ours = intercept[AnalysisException](Tables.parquet(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition)
  }
}
