package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.jdk.CollectionConverters._

/** The one runner behind graft's two measurement mains, [[Bench]]
  * and [[Verify]]: face selection, forcing, quiescing, per-face timing,
  * plan writing and the Verify dump, each written once.
  *
  * Every other entry takes a live session and never stops it; only the
  * two mains build ([[session]]) and stop sessions, so a spec drives the
  * same code on its shared session.
  */
object Harness {

  private val json = new ObjectMapper()

  /** The mains' session, on `SPARK_GRAFT_CPUS` cores. Its managed
    * tables (the DDL faces create some) live in the JVM's scratch
    * root, so two runs on one box never share a warehouse.
    */
  def session(): SparkSession = {
    val cpus = GraftSession.envCpus
    val spark = GraftSession.builder(cpus).master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", faces.Scratch.root.resolve("warehouse").toString)
      .getOrCreate()
    graft.functions.SqlFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The faces named on the command line, in the order given; no names
    * means every face, sorted. An unknown name fails before any face
    * runs.
    */
  def select(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keySet
    val unknown = names.filterNot(all)
    require(unknown.isEmpty, s"unknown face(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sorted else names
  }

  /** One stderr line per swallowed failure: face, what failed, cause. */
  private def report(tag: String, face: String, what: String, e: Throwable): Unit = {
    val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
    System.err.println(s"[$tag] $face $what failed: ${e.getClass.getName}: $msg")
  }

  /** Runs a face to completion through the `noop` sink: unlike
    * `count()`, which lets Catalyst prune every projected column, it
    * times the whole plan of scan-shaped faces.
    */
  private def force(spark: SparkSession, sfDir: String, face: String): Unit =
    SparkEntry.queries(face)(spark, sfDir).write.mode("overwrite").format("noop").save()

  private def warm(spark: SparkSession, sfDir: String, face: String): Unit =
    try force(spark, sfDir, face)
    catch { case e: Throwable => report("bench", face, "warm-up", e) }

  /** Between faces: drop cached relations (a face that persists an
    * intermediate must not charge its memory to the NEXT face) and
    * collect the previous faces' garbage OUTSIDE the timed window — by
    * face ~50 of a sweep the heap carries tens of GB of dead
    * shuffle/codegen/scan debris, and its collection lands inside
    * whichever face triggers it (observed: 3-4x inflation on faces
    * that time flat in isolation).
    */
  private def quiesce(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    System.gc()
  }

  /** Median of three timed runs: one-off JIT/GC/IO noise would
    * otherwise double a face's time (observed 2-3x swings), and a
    * median is robust to one outlier in either direction where min
    * would hide a real regression behind one lucky run. A crashed run
    * records -1: a time-to-crash must never pass as a (flatteringly
    * fast) benchmark number.
    */
  private def medianOf3(spark: SparkSession, sfDir: String, face: String): Double =
    try (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      force(spark, sfDir, face)
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    catch { case e: Throwable => report("bench", face, "timed rep", e); -1.0 }

  /** One face's time and, when the rerun defence fired, its (first,
    * second) medians.
    *
    * One UNTIMED warm rep first: the first execution of a face carries
    * its codegen compile + JIT (observed 2-3x inflation), and a
    * partially-warmed second rep can still drag the median. After it
    * the three timed reps are homogeneous.
    *
    * Rerun defence: three consecutive committed sweeps carried
    * inflations that evaporated in isolation (one face at 39x
    * its isolated median). A median 1.5x above the trailing sweep's
    * (and more than half a second over it: tiny faces jitter in
    * relative terms) earns ONE re-measure after a full quiesce. The
    * RERUN median is reported, not min(first, second): min would let
    * one lucky rerun hide a genuine regression. A face that is really
    * slower says so in the quiesced rerun too, and the recorded pair
    * lets a reader judge both.
    */
  private def time(spark: SparkSession, sfDir: String, face: String,
                   trailing: Option[Double]): (Double, Option[(Double, Double)]) = {
    quiesce(spark)
    warm(spark, sfDir, face)
    val first = medianOf3(spark, sfDir, face)
    trailing match {
      case Some(prev) if prev > 0 && first > prev * 1.5 && first - prev > 0.5 =>
        quiesce(spark)
        Thread.sleep(200)
        warm(spark, sfDir, face)
        val second = medianOf3(spark, sfDir, face)
        (if (second >= 0) second else first, Some(first -> second))
      case _ => (first, None)
    }
  }

  /** Per-face medians of the trailing sweep (the `queries` map of a
    * previous `bench_times.json`), the reference of the rerun defence.
    * A non-numeric entry loses only itself; a missing or unreadable
    * file disables the defence.
    */
  def trailing(path: Path): Map[String, Double] =
    try {
      json.readTree(path.toFile).get("queries").properties().asScala
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble() }.toMap
    } catch { case _: Throwable => Map.empty }

  /** Times the named faces (no names: the full sweep) and returns the
    * one-line result, `{"metric":"total",...}`. Only the full sweep
    * writes `out`: a consumer that keeps only a ~2 kB tail of stdout
    * truncates the per-face map, so the file carries every face's
    * time into the next diff — and the rerun defence's trailing map.
    */
  def bench(spark: SparkSession, sfDir: String, out: Path, names: Seq[String]): String = {
    val faces = select(names)
    val prev = trailing(out)
    // one cheap scan-agg + one sketch face prime codegen, parquet
    // footer caches and the shuffle machinery
    Seq("q1_agg", "dedup_exact").foreach(warm(spark, sfDir, _))
    val times = faces.map(f => f -> time(spark, sfDir, f, prev.get(f)))
    val line = json.createObjectNode()
    line.put("metric", "total")
    line.put("value", times.map(_._2._1).filter(_ >= 0).sum)
    line.put("unit", "sec")
    val qs = line.putObject("queries")
    val failed = line.putArray("failed")
    val rerun = line.putObject("rerun")
    for ((f, (t, _)) <- times) qs.put(f, t)
    for ((f, (t, _)) <- times if t == -1.0) failed.add(f)
    for ((f, (_, Some((a, b)))) <- times) rerun.putArray(f).add(a).add(b)
    line.put("sf", sfDir)
    val text = json.writeValueAsString(line)
    if (names.isEmpty)
      try Files.write(out, (text + "\n").getBytes(UTF_8))
      catch { case _: Throwable => () } // a read-only cwd must not fail the bench
    text
  }

  /** Writes each face's formatted plan to `<outDir>/<face>_<tag>.txt`
    * (the plans/rNN evidence format) and returns one summary line per
    * face: the exchanges of that plan, and the codegen spans of the
    * final plan. Under AQE, codegen spans exist only once the stages
    * ran, so the face runs once after its plan is written.
    */
  def plans(spark: SparkSession, sfDir: String, outDir: String, tag: String,
            names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    select(names).map { face =>
      val qe = SparkEntry.queries(face)(spark, sfDir).queryExecution
      val file = Paths.get(outDir, s"${face}_$tag.txt")
      Files.write(file, qe.explainString(FormattedMode).getBytes(UTF_8))
      val exchanges = "Exchange".r.findAllIn(qe.executedPlan.toString).size
      SQLExecution.withNewExecutionId(qe, Some("plans"))(qe.executedPlan.executeCollect())
      val spans = Stages.collect(qe.executedPlan) { case w: WholeStageCodegenExec => w }.size
      s"$face: codegen spans=$spans exchanges=$exchanges -> $file"
    }
  }

  /** Plan traversal that descends into adaptive plans and query stages. */
  private object Stages extends AdaptiveSparkPlanHelper

  /** The correctness dump: each selected face's rows to
    * `<outDir>/<face>` parquet, every face's oracle SQL to
    * `oracle_sql.json`, and the selected names to `queries.json` so the
    * checker can tell a failed dump from a missing face.
    */
  def verify(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String],
             oracleSql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    val faces = select(names)
    Files.createDirectories(Paths.get(outDir))
    faces.foreach { face =>
      try SparkEntry.queries(face)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$face")
      catch { case e: Throwable => report("verify", face, "dump", e) }
    }
    val oracle = json.createObjectNode()
    oracleSql.foreach { case (k, v) => oracle.put(k, v) }
    json.writeValue(Paths.get(outDir, "oracle_sql.json").toFile, oracle)
    json.writeValue(Paths.get(outDir, "queries.json").toFile, faces.sorted.toArray)
  }
}
