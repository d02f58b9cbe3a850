package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.operators.Upsert

class UpsertSpec extends SparkSuite {
  import spark.implicits._

  private def target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("k", "name", "v")
  private def batch = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")

  test("idempotentAppend keeps existing rows for present keys, appends absent keys") {
    val out = Upsert.idempotentAppend(target, batch, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("freshRows ignores duplicated target keys and collapses keys repeated in the batch") {
    val dupTarget = target.unionByName(target).unionByName(
      Seq((2L, "b-again", 21.0)).toDF("k", "name", "v"))
    val repeated = batch.unionByName(Seq((4L, "d", 40.0), (5L, "e", 50.0)).toDF("k", "name", "v"))
    def rows(df: DataFrame) =
      df.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val fresh = rows(Upsert.freshRows(dupTarget, repeated, Seq("k")))
    assert(fresh == Seq((4L, "d", 40.0), (5L, "e", 50.0)))
    // the spelling with a distinct() on the key side gives the same rows
    assert(fresh == rows(repeated.dropDuplicates("k")
      .join(dupTarget.select("k").distinct(), Seq("k"), "left_anti")))
  }

  test("merge updates matched keys from source and inserts unmatched") {
    val out = Upsert.merge(target, batch, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("dedupLatest keeps exactly the newest row per key") {
    val df = Seq(
      (1L, "x", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, "x", 2.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (1L, "y", 3.0, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
    ).toDF("k", "g", "v", "ts")
    val out = Upsert.dedupLatest(df, Seq("k", "g"), "ts")
      .orderBy("k", "g").collect().map(r => (r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("x", 2.0), ("y", 3.0)))
  }
}
