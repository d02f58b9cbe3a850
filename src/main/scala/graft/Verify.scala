package graft

/** The correctness face, over [[Harness]]:
  *
  *   graft.Verify <sfDir> <outDir> [face...]
  *
  * dumps each face's rows (default: every face) to `<outDir>/<face>`
  * parquet, plus `oracle_sql.json` and `queries.json` for the DuckDB
  * compare (`tools/check.py`).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [face...]")
    val spark = Harness.session()
    try Harness.verify(spark, args(0), args(1), args.toSeq.drop(2))
    finally spark.stop()
  }
}
