package graft

import org.apache.spark.sql.Row
import graft.faces.{Faces, RowsOnly}

/** The faces with no DuckDB oracle are checked here instead: by the
  * repo-wide determinism contract (see `Tables.fanOut`) a face's rows
  * do not depend on how its shuffles are partitioned.
  */
class PartitionInvarianceSpec extends SparkSuite {

  private val rowsOnly = Faces.all.filter(_.check.isInstanceOf[RowsOnly])

  private def rowsAt(partitions: Int, face: String): Map[Row, Int] = {
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    SparkEntry.queries(face)(spark, sf).collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
  }

  test("every rows-only face returns the same row multiset at 1 and at 7 shuffle partitions") {
    assert(rowsOnly.size == 20)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val differing =
      try {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        rowsOnly.map(_.name).filter { face =>
          val one = rowsAt(1, face)
          assert(one.nonEmpty, face)
          one != rowsAt(7, face)
        }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(differing.isEmpty, s"partition-dependent rows: ${differing.mkString(", ")}")
  }
}
