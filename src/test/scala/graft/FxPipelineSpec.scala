package graft

import graft.sources.Tables
import org.apache.spark.sql.{functions => F}
import java.nio.file.Files

class FxPipelineSpec extends SparkSuite {

  test("end-to-end: ingest twice is idempotent; report matches direct aggregation") {
    val root = Files.createTempDirectory("graft-fxpipe-").toString
    val raw = s"$root/exchange_rate"
    val rep = s"$root/exchange_rate_report"
    val events = Tables.events(spark, sf)

    // run 1: first half of the feed; run 2: full feed (overlapping redelivery)
    val batch1 = events.filter(F.col("event_id") < 500)
    FxPipeline.ingest(spark, batch1, raw)
    val afterFirst = spark.read.parquet(raw).count()
    assert(afterFirst == batch1.count())

    FxPipeline.ingest(spark, events, raw)
    val afterSecond = spark.read.parquet(raw).count()
    assert(afterSecond == events.count(), "redelivered rows must not duplicate")

    // re-running the same batch changes nothing
    FxPipeline.ingest(spark, events, raw)
    assert(spark.read.parquet(raw).count() == afterSecond)

    // report: per-day averages merged; matches aggregation over the raw table
    val out = FxPipeline.report(spark, raw, rep)
    val want = spark.read.parquet(raw)
      .groupBy(F.to_date(F.col("ts")).as("day"), F.col("event_type"))
      .agg(F.avg("rate").as("avg_rate"))
    val got = out.select("day", "event_type", "avg_rate")
    assert(got.count() == want.count())
    assert(got.exceptAll(want.select("day", "event_type", "avg_rate")).count() == 0)

    // re-running report is stable (MERGE overwrites with identical rows);
    // count the first result BEFORE the swap invalidates its file listing
    val firstCount = out.count()
    val out2 = FxPipeline.report(spark, raw, rep)
    assert(out2.count() == firstCount)
  }

  /** (path, length, mtime) of every data file under the table root. */
  private def fileStamps(root: String): Map[String, (Long, Long)] = {
    val base = new java.io.File(root)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(base).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  test("ingest is incremental: a second batch leaves existing files untouched") {
    val root = Files.createTempDirectory("graft-fxincr-").toString
    val raw = s"$root/exchange_rate"
    val events = Tables.events(spark, sf)
    val batch1 = events.filter(F.col("event_id") < 500)
    FxPipeline.ingest(spark, batch1, raw)
    val stamps1 = fileStamps(raw)
    assert(stamps1.nonEmpty)

    // second run redelivers batch1 and adds the rest: every file from
    // run 1 must survive bit-for-bit (same path, length, mtime) — the
    // O(batch) append contract, vs an O(table) rewrite
    FxPipeline.ingest(spark, events, raw)
    val stamps2 = fileStamps(raw)
    for ((p, s) <- stamps1)
      assert(stamps2.get(p).contains(s), s"run-1 file rewritten or removed: $p")
    assert(spark.read.parquet(raw).count() == events.count())

    // pure redelivery appends nothing at all
    FxPipeline.ingest(spark, events, raw)
    assert(fileStamps(raw) == stamps2, "no-op ingest must not write files")
  }

  test("first-run ingest dedups intra-batch key redelivery like every later run") {
    val root = Files.createTempDirectory("graft-fxfirstdup-").toString
    val raw = s"$root/exchange_rate"
    val events = Tables.events(spark, sf).filter(F.col("event_id") < 100)
    val withDup = events.unionByName(events.limit(5)) // 5 keys delivered twice in batch 1
    FxPipeline.ingest(spark, withDup, raw)
    assert(spark.read.parquet(raw).count() == events.count(),
      "intra-batch duplicates must collapse on the very first run")
  }

  test("idempotency anti-join prunes the target scan to the batch's days") {
    val root = Files.createTempDirectory("graft-fxprune-").toString
    val raw = s"$root/exchange_rate"
    val events = Tables.events(spark, sf)
    FxPipeline.ingest(spark, events, raw)
    val oneDay = events.filter(F.to_date(F.col("ts")) === "2024-01-05")
    assert(oneDay.count() > 0)
    val pruned = FxPipeline.prunedToBatchDays(spark.read.parquet(raw), oneDay)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("p_day >= ") || plan.contains("(p_day")), plan)
    // and the pruning is sound: all rows of the day survive
    assert(pruned.count() == oneDay.count())
  }

  test("pruneToBatchDays=false catches redeliveries whose producer re-stamped ts") {
    val root = Files.createTempDirectory("graft-fxrestamp-").toString
    val events = Tables.events(spark, sf).filter(F.col("event_id") < 200)
    // the redelivery arrives with ts shifted out of the original day
    // range — exactly the feed the pruning contract forbids
    val restamped = events.withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS"))

    // default pruning MISSES the restamped keys (the documented hazard):
    val prunedRaw = s"$root/pruned"
    FxPipeline.ingest(spark, events, prunedRaw)
    FxPipeline.ingest(spark, restamped, prunedRaw)
    assert(spark.read.parquet(prunedRaw).count() == 2 * events.count(),
      "restamped redelivery lands outside the pruned window: duplicates (why the flag exists)")

    // the full-key anti-join stays exact:
    val fullRaw = s"$root/full"
    FxPipeline.ingest(spark, events, fullRaw)
    FxPipeline.ingest(spark, restamped, fullRaw, pruneToBatchDays = false)
    assert(spark.read.parquet(fullRaw).count() == events.count(),
      "pruneToBatchDays=false must dedup re-stamped redeliveries globally")
  }

  test("full reference DAG from raw JSON: feed -> typed load -> idempotent ingest -> report") {
    val root = Files.createTempDirectory("graft-fxdag-").toString
    val feed = s"$root/feed"
    val raw = s"$root/exchange_rate"
    val rep = s"$root/exchange_rate_report"
    // the extract step's output: newline-JSON with a malformed line mixed in
    val events = Tables.events(spark, sf)
    events.select(F.to_json(F.struct(
        F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value"),
        F.unix_micros(F.col("ts")).as("ts_us"))).as("value"))
      .write.mode("overwrite").text(feed)
    java.nio.file.Files.write(java.nio.file.Paths.get(feed, "bad.json"),
      "{\"event_id\": broken\nnull".getBytes("UTF-8"))

    // transform+load: typed parse (bad lines quarantined) -> idempotent append
    FxPipeline.ingestJson(spark, feed, raw)
    assert(spark.read.parquet(raw).count() == events.count(), "clean rows land, bad lines don't")

    // re-running the whole DAG (redelivered feed) changes nothing
    FxPipeline.ingestJson(spark, feed, raw)
    assert(spark.read.parquet(raw).count() == events.count())

    // report step: per-day averages match direct aggregation over the
    // feed. Round to 9dp before comparing — the two aggregations sum
    // the same values in DIFFERENT physical orders (day-partitioned
    // sorted layout vs original file order), which legitimately moves
    // ~1 ULP on double sums; bit-exact equality here would couple the
    // test to Spark's split planning
    val out = FxPipeline.report(spark, raw, rep)
      .select(F.col("day"), F.col("event_type"), F.round(F.col("avg_rate"), 9).as("r"))
    val want = events.groupBy(F.to_date(F.col("ts")).as("day"), F.col("event_type"))
      .agg(F.round(F.avg("value"), 9).as("r"))
    assert(out.count() == want.count())
    assert(out.exceptAll(want).count() == 0)
  }

  test("ingestJson and report into existing tables open them without schema jobs") {
    val root = Files.createTempDirectory("graft-fxjobs-").toString
    val feed = s"$root/feed"
    val raw = s"$root/exchange_rate"
    val rep = s"$root/exchange_rate_report"
    Tables.events(spark, sf).select(F.to_json(F.struct(
        F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value"),
        F.unix_micros(F.col("ts")).as("ts_us"))).as("value"))
      .write.text(feed)
    FxPipeline.ingestJson(spark, feed, raw)
    FxPipeline.report(spark, raw, rep)
    // a second call into the existing tables: 9 and 8 jobs when every
    // table open inferred its schema in a job of its own
    val ingestJobs = jobsStartedBy(FxPipeline.ingestJson(spark, feed, raw))
    assert(ingestJobs <= 6, s"ingestJson started $ingestJobs jobs")
    val reportJobs = jobsStartedBy(FxPipeline.report(spark, raw, rep))
    assert(reportJobs <= 5, s"report started $reportJobs jobs")
  }

  test("backfill replays per-day task instances; interrupted backfill resumes; catchUp tops up") {
    val root = Files.createTempDirectory("graft-backfill-").toString
    val raw = s"$root/exchange_rate"
    val events = Tables.events(spark, sf)
    val span = events.agg(F.min(F.to_date(F.col("ts"))), F.max(F.to_date(F.col("ts")))).head()
    val (lo, hi) = (span.getDate(0).toLocalDate, span.getDate(1).toLocalDate)
    assert(java.time.temporal.ChronoUnit.DAYS.between(lo, hi) >= 3,
      "fixture must span several days for a meaningful backfill")

    // full backfill == one bulk ingest, day-partitioned
    FxPipeline.backfill(spark, events, raw, lo, hi)
    assert(spark.read.parquet(raw).count() == events.count())

    // interrupted backfill (first half of the window) + re-run of the
    // FULL window = Airflow re-running a failed backfill: completed
    // days no-op, the rest fill in, nothing duplicates
    val raw2 = s"$root/exchange_rate_resume"
    val mid = lo.plusDays(java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2)
    FxPipeline.backfill(spark, events, raw2, lo, mid)
    val partial = spark.read.parquet(raw2).count()
    assert(partial > 0 && partial < events.count())
    FxPipeline.backfill(spark, events, raw2, lo, hi)
    assert(spark.read.parquet(raw2).count() == events.count())

    // catchUp: ingest half the feed, then catch up with the full feed —
    // the partial tail day tops up, idempotency dedups the overlap
    val raw3 = s"$root/exchange_rate_catchup"
    FxPipeline.ingest(spark, events.filter(F.col("event_id") < 300), raw3)
    FxPipeline.catchUp(spark, events, raw3)
    assert(spark.read.parquet(raw3).count() == events.count())
    // an up-to-date table catches up to a data-file no-op: the tail-day
    // replay anti-joins to zero fresh rows, so no data file is touched
    val before = fileStamps(raw3)
    FxPipeline.catchUp(spark, events, raw3)
    assert(spark.read.parquet(raw3).count() == events.count())
    assert(fileStamps(raw3) == before, "no data file may be rewritten by an up-to-date catchUp")
  }

  test("recoverInterrupted restores a table stranded mid-swap") {
    val root = Files.createTempDirectory("graft-fxrecover-").toString
    val raw = s"$root/exchange_rate"
    val rep = s"$root/exchange_rate_report"
    val events = Tables.events(spark, sf)
    FxPipeline.ingest(spark, events, raw)
    val expected = FxPipeline.report(spark, raw, rep).count()

    // simulate a crash between retire and promote: target gone, .old holds the data
    val fs = new org.apache.hadoop.fs.Path(rep)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(rep), new org.apache.hadoop.fs.Path(rep + ".old")))

    // next run must restore the retired copy, not rebuild from one batch
    val out = FxPipeline.report(spark, raw, rep)
    assert(out.count() == expected)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(rep + ".old")))
  }
}
