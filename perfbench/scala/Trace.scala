package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer's public function, as the benchmark made it.
  * Wall and the JVM-wide deltas (GC, Hadoop `file:` statistics) are
  * inclusive of child spans; Spark jobs are attributed to the innermost
  * span through a job tag set on the calling thread, which the stream
  * execution threads started inside the span inherit.
  */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  val delta: mutable.Map[String, Double] = mutable.Map.empty
  val extra: mutable.Map[String, Double] = mutable.Map.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

private final case class JobRec(span: Int, start: Long, var end: Long)
private final case class StageRec(span: Int, var tasks: Int, var sum: Long, var max: Long)
private final case class QeRec(qeId: Long, phases: Seq[(String, Long, Long)],
                               observed: Map[String, Map[String, Long]])

/** Spans around calls into graft, plus the listeners that attribute
  * Spark jobs, tasks, planning phases, observed metrics and stream
  * progress to them.
  *
  * A QueryExecutionListener is installed in both modes: the observed
  * metrics it collects feed the correctness checks, and an execution
  * belongs to the span open when it was planned. With `full = true`
  * (the traced run) a SparkListener and a StreamingQueryListener are
  * added, spans tag their jobs, and each span snapshots GC time and the
  * `file:` FileSystem call count ([[CountingLocalFileSystem]]) at entry
  * and exit.
  */
final class Tracer(spark: SparkSession, val full: Boolean, val runId: String) {
  private val TagPrefix = "perfbench-span-"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastClosed: Span = _
  var pass: Int = -1
  /** While set, calls run without a span (warm-up is not measured). */
  var warming: Boolean = false

  // raw listener records, joined to spans after the listener bus drains
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]
  private val taskSums = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
  private val querySpan = mutable.Map.empty[String, Int]

  private def spanOfTags(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt }
      .getOrElse(-1)

  /** The innermost span open at `ms` (one client thread: open spans nest). */
  private def spanAt(ms: Long): Int = {
    val open = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (open.isEmpty) -1 else open.maxBy(_.id).id
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val observed = qe.observedMetrics.map { case (name, row: Row) =>
        name -> row.schema.fieldNames.zipWithIndex.collect {
          case (f, i) if !row.isNullAt(i) && row.get(i).isInstanceOf[java.lang.Number] =>
            f -> row.get(i).asInstanceOf[java.lang.Number].longValue()
        }.toMap
      }
      val phases = qe.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }
      if (phases.nonEmpty && (full || observed.nonEmpty)) qes.add(QeRec(qe.id, phases, observed))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val s = spanOfTags(tags)
      jobs.synchronized {
        jobs(e.jobId) = JobRec(s, e.time, e.time)
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val s = stageSpan.getOrElse(e.stageId, -1)
      val m = e.taskMetrics
      val acc = taskSums.getOrElseUpdate(s, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      acc("tasks") += 1
      if (m != null) {
        acc("cpu_s") += m.executorCpuTime / 1e9
        acc("shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        acc("in_records") += m.inputMetrics.recordsRead.toDouble
        acc("in_bytes") += m.inputMetrics.bytesRead.toDouble
        acc("out_bytes") += m.outputMetrics.bytesWritten.toDouble
      }
      val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), StageRec(s, 0, 0L, 0L))
      val d = math.max(0L, e.taskInfo.duration)
      st.tasks += 1; st.sum += d; st.max = math.max(st.max, d)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit =
      progress.add(event.progress.id.toString -> event.progress)
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  }

  spark.listenerManager.register(qeListener)
  if (full) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Record a span measured before the tracer existed (session start). */
  def record(name: String, startMs: Long, startNs: Long, endNs: Long): Unit = {
    val s = new Span(spans.size, name, -1, pass, startMs, startNs)
    s.endNs = endNs; s.endMs = startMs + (endNs - startNs) / 1000000L
    spans += s
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def snapshot(): Map[String, Double] =
    if (full) Map("gc_s" -> gcMs / 1000.0,
                  "fs_ops" -> CountingLocalFileSystem.ops.get.toDouble)
    else Map.empty

  /** Run `body` as one call of `name`; returns its result. */
  def span[T](name: String)(body: => T): T = if (warming) body else {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), pass,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    if (full) {
      stack.headOption.foreach(p => sc.removeJobTag(TagPrefix + p.id))
      sc.addJobTag(TagPrefix + s.id)
    }
    stack = s :: stack
    val before = snapshot()
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      snapshot().foreach { case (k, v) => s.delta(k) = v - before.getOrElse(k, 0.0) }
      stack = stack.tail
      lastClosed = s
      if (full) {
        sc.removeJobTag(TagPrefix + s.id)
        stack.headOption.foreach(p => sc.addJobTag(TagPrefix + p.id))
      }
    }
  }

  /** The span a streaming query started inside belongs to. */
  def bindQuery(queryId: String): Unit =
    stack.headOption.foreach(s => querySpan.synchronized(querySpan(queryId) = s.id))

  /** Add a counter the benchmark measured around the span that closed last. */
  def noteLast(key: String, value: Double): Unit =
    if (!warming && lastClosed != null) {
      lastClosed.extra(key) = lastClosed.extra.getOrElse(key, 0.0) + value
    }

  /** Observed metrics per span id: for each `observe` name, the values
    * of the last execution planned inside that span. Call after the
    * listener bus drained.
    */
  def observedBySpan(): Map[Int, Map[String, Map[String, Long]]] = {
    val bySpan = mutable.Map.empty[Int, mutable.Map[String, (Long, Map[String, Long])]]
    qes.asScala.foreach { r =>
      val s = spanAt(r.phases.map(_._2).max)
      if (s >= 0) r.observed.foreach { case (name, vals) =>
        val m = bySpan.getOrElseUpdate(s, mutable.Map.empty)
        if (m.get(name).forall(_._1 < r.qeId)) m(name) = (r.qeId, vals)
      }
    }
    bySpan.map { case (s, m) => s -> m.map { case (k, (_, v)) => k -> v }.toMap }.toMap
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }

  /** Finish tracing after the session stopped (the listener bus is then
    * drained): attribute every record to its span and aggregate. Returns
    * the span log, each span with its counters.
    */
  def finish(): Seq[Map[String, Any]] = {
    val children = spans.groupBy(_.parent)
    def descendants(id: Int): Seq[Int] =
      children.getOrElse(id, Nil).toSeq.flatMap(c => c.id +: descendants(c.id))
    val jobsBySpan = jobs.values.groupBy(_.span)
    val stagesBySpan = stages.values.groupBy(_.span)
    val phasesBySpan = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    if (full) qes.asScala.foreach { r =>
      // a planning phase belongs to the innermost span open when it began:
      // analysis runs where the frame is built, optimization and planning
      // where it is forced
      r.phases.foreach { case (_, st, en) =>
        val s = spanAt(st)
        if (s >= 0) phasesBySpan(s) += (en - st) / 1000.0
      }
    }
    val progBySpan = progress.asScala.toSeq.groupBy { case (q, _) =>
      querySpan.synchronized(querySpan.getOrElse(q, -1)) }
    val counters = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val childWall = kids.map(_.wallS).sum
      val m = mutable.Map[String, Double](
        "wall_s" -> s.wallS, "self_s" -> (s.wallS - childWall))
      if (full) {
        val own = (s.id +: descendants(s.id)).flatMap(id => jobsBySpan.getOrElse(id, Nil))
        // wall during which none of the span's jobs ran
        val iv = own.map(j => (math.max(j.start, s.startMs), math.min(j.end, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { covered += curE - curS; curS = a; curE = b } else curE = math.max(curE, b)
        }
        covered += curE - curS
        m("driver_s") = math.max(0.0, s.wallS - covered / 1000.0)
        m("jobs") = jobsBySpan.getOrElse(s.id, Nil).size.toDouble
        val t = taskSums.getOrElse(s.id, Map.empty[String, Double])
        Seq("tasks", "cpu_s", "shuffle_bytes", "in_records", "in_bytes", "out_bytes")
          .foreach(k => m(k) = t.getOrElse(k, 0.0))
        m("max_task_share") = stagesBySpan.getOrElse(s.id, Nil)
          .map(st => if (st.tasks <= 1) 1.0 else if (st.sum == 0) 1.0 / st.tasks
                     else st.max.toDouble / st.sum)
          .foldLeft(0.0)(math.max)
        m("gc_s") = s.delta.getOrElse("gc_s", 0.0)
        m("fs_ops") = s.delta.getOrElse("fs_ops", 0.0)
        m("plan_s") = phasesBySpan(s.id)
        val prog = progBySpan.getOrElse(s.id, Nil).map(_._2)
        if (prog.nonEmpty) {
          def phase(k: String) = median(prog.map(p =>
            Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0) / 1000.0))
          Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
            .foreach(k => m(s"${k}_s") = phase(k))
          val ops = prog.flatMap(_.stateOperators.toSeq)
          m("state_commit_s") = ops.map(_.commitTimeMs.toDouble).sum / 1000.0
          val last = prog.last.stateOperators
          m("state_rows") = last.map(_.numRowsTotal.toDouble).sum
          m("state_bytes") = last.map(_.memoryUsedBytes.toDouble).sum
        }
      }
      s.extra.foreach { case (k, v) => m(k) = v }
      s.id -> m.toMap
    }.toMap
    spans.toSeq.map { s =>
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "run_id" -> runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "counters" -> counters(s.id))
    }
  }
}
