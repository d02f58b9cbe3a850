package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.faces.{Face, Faces, Oracle}

/** Driver contract, derived from the face registry ([[graft.faces.Faces]],
  * one file per family under `graft/faces/`): one `queries` entry per
  * SURVEY.md §2 operator, and DuckDB `oracleSql` for every face whose
  * semantics are SQL-expressible. The others declare why they have
  * none, and the driver checks their rows only for presence.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * q1_agg: always 6 (returnflag, linestatus) groups — robust to the
    * sparse dimension chains of the smallest scale factor (q5 yields a
    * single row there).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Faces.all.map(f => f.name -> (f.run _)).toMap

  val oracleSql: Map[String, String] =
    Faces.all.collect { case Face(name, _, Oracle(sql), _) => name -> sql }.toMap
}
