package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared lazy session per suite; sf0.001 fixtures. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts, counted by a listener on a job tag
    * so jobs of other threads (running streams) are not counted.
    */
  def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    started.get
  }
}
