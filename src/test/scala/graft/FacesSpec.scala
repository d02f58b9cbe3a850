package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.faces.{Faces, Oracle, RowsOnly, Scratch}

/** The face registry and the hermeticity of face builds, on the shared
  * session with sf0.001 faces.
  */
class FacesSpec extends SparkSuite {

  private def tmpEntries: Set[String] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .map(_.getFileName.toString).toSet

  private def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
  }

  test("the registry declares each face once, with its oracle or a reason it has none") {
    val names = Faces.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.size == 269)
    val rowsOnly = Faces.all.collect { case f if f.check.isInstanceOf[RowsOnly] => f }
    assert(Faces.all.count(_.check.isInstanceOf[Oracle]) == 249)
    assert(rowsOnly.size == 20)
    rowsOnly.foreach { f =>
      val RowsOnly(reason) = f.check: @unchecked
      assert(reason.trim.nonEmpty, f.name)
    }
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet -- rowsOnly.map(_.name))
    // derived once: the driver reads the same maps on every call
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("building a fan-out face and a stream face leaves the session conf and java.io.tmpdir as they were") {
    val stream = Faces.all.find(_.name == "stream_dedup_state").get
    assert(stream.shufflePartitions.contains(8))
    val conf = spark.conf.getAll
    val before = tmpEntries
    SparkEntry.queries("q1_agg")(spark, sf).collect()
    SparkEntry.queries("stream_dedup_state")(spark, sf).collect()
    assert(spark.conf.getAll == conf)
    // Spark and its native codecs unpack their own entries there
    // (snappy, lz4, session artifacts); graft's are all named graft*
    val created = (tmpEntries -- before).filter(_.startsWith("graft"))
    assert(created - Scratch.root.getFileName.toString == Set.empty)
  }

  test("a second build of a fixture face does not rewrite its fixture") {
    SparkEntry.queries("sql_time_travel")(spark, sf).collect()
    val dir = Scratch.fixture(sf, "versioned")(_ => fail("the fixture was rewritten"))
    val written = files(dir)
    assert(written.nonEmpty)
    val rows = SparkEntry.queries("sql_time_travel")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(files(dir) == written)
  }
}
