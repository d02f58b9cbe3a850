package graft

import org.apache.spark.sql.SparkSession

/** Focused bench: time (and optionally explain) just the queries named
  * on the command line — the plan-iteration loop, vs Bench's full
  * sweep. `SPARK_GRAFT_EXPLAIN=1` dumps the formatted physical plan
  * once per query before timing.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark: SparkSession = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    try { force("q1_agg") } catch { case _: Throwable => } // warmup

    // mirror Bench's methodology (r17): per-face quiesce (clear cached
    // relations + collect the previous faces' garbage OUTSIDE the
    // timed window) and one untimed warmup rep absorbing codegen/JIT —
    // without these, a multi-face BenchOne run inflates its tail faces
    // 2-3x and A/B comparisons across list positions lie
    def quiesce(): Unit = {
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
    }

    for (name <- args) {
      quiesce()
      if (explain) SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      try force(name) catch { case _: Throwable => }
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        force(name)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"BENCHONE $name%-28s median=${times.sorted.apply(1)}%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
