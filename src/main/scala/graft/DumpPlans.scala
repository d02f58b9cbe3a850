package graft

/** Deliverable helper: writes `.explain("formatted")` output for the
  * named SparkEntry faces to files (`<outDir>/<face>_<tag>.txt`) — the
  * plans/rNN before/after evidence the optimization rounds commit.
  * Usage: runMain graft.DumpPlans <sfDir> <outDir> <tag> <face> ...
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: DumpPlans <sfDir> <outDir> <tag> <face> ...")
    val Array(d, outDir, tag) = args.take(3)
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.drop(3).foreach { n =>
      val df = SparkEntry.queries(n)(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
