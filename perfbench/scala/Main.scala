package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession, functions => F}
import org.apache.spark.sql.streaming.Trigger

import graft.{CorpusPipeline, FxPipeline, GraftSession, GraftSql}
import graft.sources.RawJson
import graft.streaming.{EventStream, Replay}

/** One benchmark run in one JVM: set-up, warm-up, then a fixed number
  * of passes of the workload, driven through graft's public
  * API by a single client thread (closed loop: a call starts when the
  * previous one returned). Writes a results file the runner checks.
  *
  * Usage: graft.perfbench.Main <manifest.json>
  */
object Main {

  /** What a workload records while it runs. */
  final class Results {
    val ops = mutable.ArrayBuffer.empty[Double]      // latency of each unit call, s
    val secondary = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val extra = mutable.Map.empty[String, Any]

    /** Time one unit call; a throw counts as a failed operation. */
    def op[T](kind: mutable.ArrayBuffer[Double])(body: => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val r = body
        kind += (System.nanoTime() - t0) / 1e9
        Some(r)
      } catch {
        case e: Exception =>
          failures += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    }
  }

  trait Workload {
    def setup(): Unit
    def warmup(): Unit
    def pass(i: Int): Unit
  }

  def main(args: Array[String]): Unit = {
    val m = Json.read(args(0))
    val root = m.get("root").asText
    val cpus = m.get("cpus").asInt
    val passes = m.get("passes").asInt
    val full = m.get("trace").asBoolean
    val sessionStartMs = System.currentTimeMillis()
    val sessionStartNs = System.nanoTime()
    val spark = GraftSession.local(cpus)
    val sessionEndNs = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, full, m.get("run_id").asText)
    tracer.record("GraftSession.local", sessionStartMs, sessionStartNs, sessionEndNs)
    val res = new Results
    val w: Workload = m.get("workload").asText match {
      case "fx_daily"      => new FxDaily(spark, tracer, res, m.get("fx"), root)
      case "sql_reports"   => new SqlReports(spark, tracer, res, m.get("sql"), root)
      case "corpus_build"  => new CorpusBuild(spark, tracer, res, m.get("corpus"), root)
      case "stream_replay" => new StreamReplay(spark, tracer, res, m.get("stream"), root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupNs = System.nanoTime()
    w.setup()
    val warmNs = System.nanoTime()
    tracer.warming = true
    w.warmup()
    tracer.warming = false
    val warmEndNs = System.nanoTime()
    res.ops.clear(); res.secondary.clear(); res.failures.clear(); res.attempted = 0
    // the timed section starts from a collected heap, so whether a
    // collection falls inside it does not depend on what set-up left behind
    System.gc()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val setupEndMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    var i = 0
    while (i < passes) {
      tracer.pass = i
      val p0 = System.nanoTime()
      w.pass(i)
      res.passes(i) = res.passes(i) + ("wall_s" -> (System.nanoTime() - p0) / 1e9)
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    // live heap: collect until blocks freed by Spark's reference cleaner
    // (broadcasts, shuffles of dropped frames) are gone too
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    spark.stop() // drains the listener bus before the records are joined
    val log = tracer.finish()

    // observed metrics: per pass, one map per top-level call, holding
    // the `observe` fields emitted anywhere inside that call
    val observed = tracer.observedBySpan()
    val byParent = log.groupBy(_("parent").asInstanceOf[Int])
    def subtree(id: Int): Seq[Int] =
      id +: byParent.getOrElse(id, Nil).flatMap(c => subtree(c("id").asInstanceOf[Int]))
    val observePerPass = (0 until i).map { p =>
      log.filter(c => c("pass") == p && c("parent") == -1).map { c =>
        subtree(c("id").asInstanceOf[Int]).flatMap(s => observed.getOrElse(s, Map.empty))
          .flatMap { case (n, vals) => vals.map { case (f, v) => s"$n.$f" -> v } }.toMap
      }.filter(_.nonEmpty)
    }
    // per-layer: each span name's counters averaged over its calls
    val perSpan = log.groupBy(_("name").asInstanceOf[String]).map { case (name, calls) =>
      val keys = calls.flatMap(_("counters").asInstanceOf[Map[String, Double]].keys).distinct
      name -> (keys.map { k =>
        k -> calls.map(_("counters").asInstanceOf[Map[String, Double]].getOrElse(k, 0.0)).sum / calls.size
      }.toMap + ("calls" -> calls.size.toDouble))
    }
    if (full) Json.save(m.get("spans_out").asText, log)
    Json.save(m.get("out").asText, Map(
      "setup_end_ms" -> setupEndMs,
      "setup_phases_s" -> Map(
        "jvm_start" -> (sessionStartMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
        "session" -> (sessionEndNs - sessionStartNs) / 1e9,
        "tracer" -> (setupNs - sessionEndNs) / 1e9,
        "setup_calls" -> (warmNs - setupNs) / 1e9,
        "warmup" -> (warmEndNs - warmNs) / 1e9),
      "timed_wall_s" -> wall,
      "cpu_s" -> cpu,
      "heap_live_mb" -> heapMb,
      "passes" -> res.passes.toSeq,
      "ops" -> res.ops.toSeq,
      "secondary" -> res.secondary.toSeq,
      "attempted" -> res.attempted,
      "failures" -> res.failures.toSeq,
      "observe" -> observePerPass,
      "per_span" -> perSpan,
      "extra" -> res.extra.toMap,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576))
  }

  def texts(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** Result rows in a form the runner can compare with DuckDB's. */
  def plain(row: Row): Seq[Any] = row.toSeq.map {
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => b.doubleValue
    case x => x
  }

  /** In a traced run, count the data files `call` adds under `dir` and
    * attribute them to the span it closed last (listing stays outside
    * the span's wall). */
  def newFiles[T](spark: SparkSession, tr: Tracer, dir: String)(call: => T): T =
    if (!tr.full || tr.warming) call
    else {
      val before = dirFiles(spark, dir)
      val r = call
      tr.noteLast("out_files", (dirFiles(spark, dir) - before).toDouble)
      r
    }

  /** Data files under `dir` (hidden and metadata files excluded). */
  def dirFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) n += 1
      }
      n
    }
  }
}

import Main._

/** DAG 1 then DAG 2, day by day, over the delivery batches of the feed:
  * every batch through `FxPipeline.ingestJson`, every day closed by
  * `FxPipeline.report`. A pass replays the whole feed into a fresh table.
  */
final class FxDaily(spark: SparkSession, tr: Tracer, res: Results, cfg: JsonNode, root: String)
    extends Workload {
  private val files = texts(cfg.get("files"))
  private val warmFiles = texts(cfg.get("warm_files"))
  private def replay(batches: Seq[String], perDay: Int, base: String): Unit = {
    val raw = s"$base/raw"
    val report = s"$base/report"
    batches.grouped(perDay).foreach { day =>
      day.foreach { f =>
        newFiles(spark, tr, raw)(res.op(res.ops)(
          tr.span("FxPipeline.ingestJson")(FxPipeline.ingestJson(spark, f, raw))))
      }
      newFiles(spark, tr, report)(res.op(res.secondary)(
        tr.span("FxPipeline.report")(FxPipeline.report(spark, raw, report))))
    }
  }

  def setup(): Unit = ()
  def warmup(): Unit = replay(warmFiles, cfg.get("warm_batches_per_day").asInt, s"$root/fx/warm")
  def pass(i: Int): Unit = {
    val base = s"$root/fx/p$i"
    replay(files, cfg.get("batches_per_day").asInt, base)
    res.passes += Map("raw" -> s"$base/raw", "report" -> s"$base/report")
  }
}

/** A seeded mix of BigQuery-dialect reports through `GraftSql.load`,
  * each result forced with `collect`. The FX table is built in set-up
  * by `FxPipeline.backfill` from the generated feed, landed as parquet.
  */
final class SqlReports(spark: SparkSession, tr: Tracer, res: Results, cfg: JsonNode, root: String)
    extends Workload {
  private val queries = cfg.get("queries").elements().asScala
    .map(q => q.get("id").asText -> q.get("sql").asText).toMap
  private val mix = texts(cfg.get("mix"))
  private val first = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]

  def setup(): Unit = {
    val raw = s"$root/sql/fx"
    val source = spark.read.parquet(cfg.get("feed").asText)
    newFiles(spark, tr, raw)(tr.span("FxPipeline.backfill")(
      FxPipeline.backfill(spark, source, raw,
        java.time.LocalDate.parse(cfg.get("from_day").asText),
        java.time.LocalDate.parse(cfg.get("to_day").asText))))
    res.extra("fx_table") = raw
    spark.read.parquet(raw).createOrReplaceTempView("fx")
    cfg.get("tables").properties().asScala.foreach { e =>
      spark.read.parquet(e.getValue.asText).createOrReplaceTempView(e.getKey)
    }
  }

  private def run(id: String): Unit =
    res.op(res.ops) {
      val df = tr.span("GraftSql.load")(GraftSql.load(spark, queries(id)))
      tr.span("sql.execute")(df.collect())
    }.foreach { r =>
      val got = r.toSeq.map(plain)
      first.get(id) match {
        case None => first(id) = got
        case Some(want) if want != got =>
          res.failures += s"query $id: result differs from its first execution"
        case _ =>
      }
    }

  // every query of the mix once: code generation and the JIT see each
  // statement before it is timed
  def warmup(): Unit = mix.foreach(id => GraftSql.load(spark, queries(id)).collect())
  def pass(i: Int): Unit = {
    mix.foreach(run)
    res.passes += Map("queries" -> mix.size)
    res.extra("results") = first.toMap
  }
}

/** `CorpusPipeline.run` with the default `Config` over the generated
  * crawl drop, shards to a fresh directory per run. A corpus
  * build is one pipeline run per job, so its users pay code generation
  * and first-use costs on every run: the run is measured cold, once per
  * JVM, with no warm-up. The traced run calls the three stages `run` is
  * made of for the default `Config`.
  */
final class CorpusBuild(spark: SparkSession, tr: Tracer, res: Results, cfg: JsonNode, root: String)
    extends Workload {
  private val cc = CorpusPipeline.Config()

  private def build(path: String, shards: String): Unit = {
    val docs = spark.read.parquet(path)
    res.op(res.ops)(tr.span("CorpusPipeline.run") {
      if (!tr.full) CorpusPipeline.run(spark, docs, "doc_id", "text", "source", shards, cc)
      else {
        val cleaned = tr.span("CorpusPipeline.filterAndClean")(
          CorpusPipeline.filterAndClean(docs, "doc_id", "text", "source", cc))
        val deduped = tr.span("CorpusPipeline.dedup")(
          CorpusPipeline.dedup(cleaned, "doc_id", "text", cc))
        newFiles(spark, tr, shards)(tr.span("CorpusPipeline.mixAndPack")(
          CorpusPipeline.mixAndPack(deduped, "doc_id", "text", "source", shards, cc)))
      }
    })
  }

  def setup(): Unit = ()
  def warmup(): Unit = ()
  def pass(i: Int): Unit = {
    val shards = s"$root/corpus/p$i"
    build(cfg.get("path").asText, shards)
    res.passes += Map("shards" -> shards)
  }
}

/** The generated feed as time slices, one micro-batch each, then two
  * `Trigger.AvailableNow` queries back to back: the state-store dedup
  * into a checkpointed parquet sink, and the foreachBatch MERGE.
  */
final class StreamReplay(spark: SparkSession, tr: Tracer, res: Results, cfg: JsonNode, root: String)
    extends Workload {
  private var schema: org.apache.spark.sql.types.StructType = _

  private def slices(feed: String, dir: String, splits: Int): Unit = {
    val t0 = cfg.get("t0_us").asLong
    val width = cfg.get("slice_us").asLong
    val events = RawJson.loadEvents(spark, feed)
    val slice = F.least(F.lit(splits - 1), F.greatest(F.lit(0),
      F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(width))))
    schema = newFiles(spark, tr, dir)(tr.span("Replay.writeSlices")(
      Replay.writeSlices(events, dir, slice, splits)))
  }

  private def replay(in: String, base: String): Unit = {
    // a micro-batch is an operation; a query that throws is one failed operation
    def batches(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      q.recentProgress.foreach { p =>
        res.attempted += 1
        res.ops += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1000.0
      }
    def guarded(body: => Unit): Unit =
      try body catch {
        case e: Exception =>
          res.attempted += 1
          res.failures += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    guarded(tr.span("EventStream.dedupStream") {
      val q = EventStream.dedupStream(Replay.readSliced(spark, in, schema))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/dedup")
        .option("checkpointLocation", s"$base/dedup_chk")
        .trigger(Trigger.AvailableNow()).start()
      tr.bindQuery(q.id.toString)
      q.awaitTermination()
      batches(q)
    })
    var gen = 0
    var target: Option[String] = None
    guarded(newFiles(spark, tr, s"$base/merge")(tr.span("EventStream.mergeSink") {
      val q = EventStream.mergeSink(Replay.readSliced(spark, in, schema),
          Seq("user_id", "event_type"),
          () => target.map(spark.read.parquet(_)),
          merged => {
            gen += 1
            val p = s"$base/merge/$gen"
            merged.coalesce(1).write.mode("overwrite").parquet(p)
            target = Some(p)
          },
          orderCol = Some("ts"), byEventTime = true, tieBreak = Seq("event_id"))
        .option("checkpointLocation", s"$base/merge_chk").start()
      tr.bindQuery(q.id.toString)
      q.awaitTermination()
      batches(q)
    }))
    res.passes += Map("dedup" -> s"$base/dedup", "merge" -> target.getOrElse(""))
  }

  def setup(): Unit = slices(cfg.get("feed").asText, s"$root/stream/in", cfg.get("splits").asInt)
  // two replays of the same slices into outputs of their own: after one,
  // the first timed pass still ran a fifth slower than the next
  def warmup(): Unit = {
    (0 until 2).foreach(k => replay(s"$root/stream/in", s"$root/stream/warm$k"))
    res.passes.clear()
  }
  def pass(i: Int): Unit = replay(s"$root/stream/in", s"$root/stream/p$i")
}
