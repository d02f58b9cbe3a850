package graft

/** Ad-hoc plan auditor: prints codegen-span / exchange counts and the
  * head of the executed plan for the named SparkEntry faces — the
  * per-round "is this the plan I'd want at 100 TB" review loop
  * (`sbt "runMain graft.ExplainFaces <sfDir> <face> ..."`). Not part
  * of the driver contract.
  */
object ExplainFaces {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    args.drop(1).foreach { n =>
      val df = SparkEntry.queries(n)(spark, d)
      val plan = df.queryExecution.executedPlan.toString
      val wsc = "WholeStageCodegen".r.findAllIn(plan).size
      val exch = "Exchange".r.findAllIn(plan).size
      println(s"== $n: codegen spans=$wsc exchanges=$exch")
      println(plan.linesIterator.take(16).mkString("\n"))
    }
    spark.stop()
  }
}
