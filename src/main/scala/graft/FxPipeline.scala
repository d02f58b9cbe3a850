package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.operators.Upsert
import graft.sources.{Layout, Tables}

/** The reference's two DAGs, end-to-end, as one composable library
  * pipeline (SURVEY.md §1) — what an Airflow task would call per run:
  *
  *  DAG 1 (`FXRate_Reporting_Pipeline`): fetch JSON → typed rows →
  *  idempotent load into the raw table
  *  (idempotent_fx_pipeline.py:24-115).
  *  DAG 2 (`FXRate_Reporting_Pipeline_v2`): aggregate per day → MERGE
  *  into the report table (fx_pipeline_with_merge.py:147-211).
  *
  * External orchestration (Airflow/cron) just invokes `ingest` and
  * `report` on a schedule; all state lives in the day-partitioned
  * parquet tables, so every run is idempotent and re-runnable — the
  * property the reference implements three different ways.
  *
  * Each stage is wrapped in `observe` so row counts surface as query
  * metrics (the Spark-native form of the reference's per-step
  * logging.info counts).
  */
object FxPipeline {

  /** Parse a raw JSON-ish batch (here: the events feed) into the typed
    * rate schema and idempotently append into `rawPath`.
    *
    * Incremental by construction: only the anti-join survivors (rows
    * whose key is genuinely new) are written, as NEW files appended
    * into the day-partitioned layout — O(batch) I/O per run, matching
    * the reference's WRITE_APPEND disposition
    * (idempotent_fx_pipeline.py:89-106). Existing files are never
    * rewritten; at 100 TB a full-table stage-and-swap per micro-batch
    * would be an O(table) write for an O(batch) logical change.
    */
  /** @param pruneToBatchDays restrict the idempotency key lookup to the
    *   batch's day range (default). Correct ONLY under the
    *   `prunedToBatchDays` contract — redelivered keys keep their
    *   original event timestamp. A feed whose producer re-stamps `ts`
    *   on retry (ingestion-time stamping, clock drift) must pass
    *   `false` to anti-join against the full key set: O(table-keys)
    *   instead of O(touched partitions), but globally unique.
    */
  def ingest(spark: SparkSession, batch: DataFrame, rawPath: String,
             pruneToBatchDays: Boolean = true): DataFrame = {
    val typed = batch.select(
        F.col("event_id"),
        F.col("ts"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value").as("rate"))
      .observe("fx_ingest", F.count(F.lit(1)).as("batch_rows"))
    recoverInterrupted(spark, rawPath)
    readTableIfExists(spark, rawPath) match {
      case None =>
        // first run applies the same intra-batch key dedup freshRows
        // applies on every later run — a key delivered twice in the
        // very first batch must still be one stored row
        Layout.writePartitioned(typed.dropDuplicates(Seq("event_id")), rawPath,
          "ts", Seq("event_type", "user_id"))
      case Some(t) =>
        val lookup = if (pruneToBatchDays) prunedToBatchDays(t, typed) else t
        val fresh = Upsert.freshRows(lookup, typed, Seq("event_id"))
        Layout.appendPartitioned(fresh, rawPath, "ts", Seq("event_type", "user_id"))
    }
    spark.catalog.refreshByPath(rawPath)
    Tables.parquet(spark, rawPath)
  }

  /** The reference DAG-1 in one call: raw newline-JSON feed → typed
    * rows under the explicit schema (malformed lines DROPPED on this
    * path — a feed that needs auditing should inspect
    * `RawJson.corruptRecords(RawJson.load(...))` before ingesting) →
    * idempotent O(batch) append. `extract` (the HTTP fetch) stays with
    * the orchestrator; everything after the bytes land is here.
    */
  def ingestJson(spark: SparkSession, feedPath: String, rawPath: String): DataFrame = {
    val typed = graft.sources.RawJson.loadEvents(spark, feedPath)
    ingest(spark, typed, rawPath)
  }

  /** Restrict the idempotency key lookup to the batch's day range.
    *
    * CONTRACT (same one a partition-pruned BigQuery MERGE states): a
    * redelivered key arrives with its ORIGINAL event timestamp, so it
    * can only collide inside the batch's own [min(day), max(day)]
    * window and the anti-join never needs the rest of the table. A
    * producer that re-stamps timestamps on retry (clock drift,
    * ingestion-time stamping) breaks this silently — such feeds stay
    * inside the pipeline and pass `ingest(..., pruneToBatchDays =
    * false)` to anti-join against the full key set, trading an
    * O(table-keys) scan for global uniqueness. The literal day bounds
    * (one 2-value driver fetch over the tiny batch) become
    * `PartitionFilters` on the target scan, so a 100 TB table is read
    * only for its touched partitions.
    */
  private[graft] def prunedToBatchDays(target: DataFrame, batch: DataFrame): DataFrame = {
    val range = batch
      .agg(F.min(F.to_date(F.col("ts"))).as("lo"), F.max(F.to_date(F.col("ts"))).as("hi"))
      .head()
    if (range.isNullAt(0)) target.limit(0)
    else target.filter(F.col("p_day").between(range.getDate(0), range.getDate(1)))
  }

  /** First-run detection must be precise: treating ANY read failure as
    * "table absent" would let a transient error (permissions, corrupt
    * footer, interrupted swap) silently replace the full table with
    * one batch. Only a genuinely missing path qualifies; everything
    * else propagates. Existence goes through the Hadoop FileSystem API
    * so hdfs:///s3a:// paths resolve correctly, not just local ones.
    */
  private def readTableIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(Tables.parquet(spark, path)) else None
  }

  /** Heal the crash window of a previous `stageAndSwap`: if a run died
    * between retiring the live table and promoting staging, the target
    * path is missing while the complete previous copy sits in
    * '<path>.old'. Left alone, the next run would treat the missing
    * target as first-run and silently rebuild the table from a single
    * batch — so every pipeline entry point restores the retired copy
    * first (rename back, then delete any half-written staging dir).
    */
  private[graft] def recoverInterrupted(spark: SparkSession, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val retired = new org.apache.hadoop.fs.Path(path + ".old")
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target) && fs.exists(retired)) {
      if (!fs.rename(retired, target))
        throw new java.io.IOException(s"could not restore interrupted swap: $retired -> $path")
      if (fs.exists(staging)) fs.delete(staging, true)
      spark.catalog.refreshByPath(path)
    }
  }

  /** Write to a staging directory then swap — a lazily-planned merge
    * reads the very files an in-place overwrite deletes (the reference
    * hits the same hazard and stages through temp BigQuery tables;
    * a table format with snapshot isolation subsumes this on a real
    * deployment).
    */
  private def stageAndSwap(path: String)(write: String => Unit): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val target = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val retired = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing target alongside a retired copy means an interrupted
    // swap the caller failed to recover — aborting beats deleting the
    // only complete copy below
    if (!fs.exists(target) && fs.exists(retired))
      throw new java.io.IOException(
        s"interrupted swap detected for $path (recoverInterrupted not run)")
    write(staging.toString)
    // retire-then-promote: the live table is renamed aside (not deleted)
    // before the staging copy moves in, so a failure at any step leaves
    // at least one complete copy on disk
    if (fs.exists(retired)) fs.delete(retired, true)
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, retired))
      throw new java.io.IOException(s"could not retire $path")
    if (!fs.rename(staging, target)) {
      if (hadOld) fs.rename(retired, target) // roll back
      throw new java.io.IOException(s"swap failed: $staging -> $path")
    }
    if (hadOld) fs.delete(retired, true)
    // drop the session-wide cached file listing for the swapped path
    spark.catalog.refreshByPath(path)
  }

  /** Per-day averages MERGE'd into the report table. The merged result
    * covers every day, so the whole (small — one row per day×type)
    * report table is rewritten via stage-and-swap; a raw-sized table
    * would instead aggregate only fresh days and route through
    * `Layout.overwriteDayPartitions` to rewrite O(changed days).
    */
  /** Airflow-style BACKFILL: replay the daily ingest for every day in
    * [fromDay, toDay], oldest first — one "task instance" per day,
    * exactly how `airflow dags backfill` re-runs the reference's
    * @daily DAG over a missed window (the reference makes its loads
    * idempotent for precisely this replay, idempotent_fx_pipeline.py
    * :75-92). Each day's slice goes through [[ingest]], so a crashed
    * backfill resumes by re-running the same call: completed days
    * no-op through the event-key anti-join, a partially-ingested day
    * tops up, and each instance stays O(that day's batch) with the
    * key lookup pruned to its day.
    *
    * The loop is driver-side over CALENDAR DAYS (bounded, like
    * `Layout.compactDays`), not over data.
    */
  def backfill(spark: SparkSession, source: DataFrame, rawPath: String,
               fromDay: java.time.LocalDate, toDay: java.time.LocalDate): DataFrame = {
    require(!fromDay.isAfter(toDay), s"backfill window is empty: $fromDay > $toDay")
    var day = fromDay
    while (!day.isAfter(toDay)) {
      val slice = source.filter(F.to_date(F.col("ts")) === F.lit(java.sql.Date.valueOf(day)))
      ingest(spark, slice, rawPath)
      day = day.plusDays(1)
    }
    Tables.parquet(spark, rawPath)
  }

  /** Airflow's `catchup=True` on schedule resume: ingest every source
    * day from the table's newest ingested day (inclusive — a partial
    * tail day tops up; idempotency dedups the overlap) through the
    * source's newest day. A missing table backfills the whole source
    * span. Returns the up-to-date table.
    */
  def catchUp(spark: SparkSession, source: DataFrame, rawPath: String): DataFrame = {
    val span = source.agg(
      F.min(F.to_date(F.col("ts"))).as("lo"), F.max(F.to_date(F.col("ts"))).as("hi")).head()
    if (span.isNullAt(0)) return Tables.parquet(spark, rawPath) // empty source: nothing to do
    val (srcLo, srcHi) = (span.getDate(0).toLocalDate, span.getDate(1).toLocalDate)
    val from = readTableIfExists(spark, rawPath) match {
      case None => srcLo
      case Some(t) =>
        val last = t.agg(F.max(F.to_date(F.col("ts")))).head()
        if (last.isNullAt(0)) srcLo
        else {
          val d = last.getDate(0).toLocalDate
          if (d.isBefore(srcLo)) srcLo else d
        }
    }
    if (from.isAfter(srcHi)) Tables.parquet(spark, rawPath)
    else backfill(spark, source, rawPath, from, srcHi)
  }

  def report(spark: SparkSession, rawPath: String, reportPath: String): DataFrame = {
    recoverInterrupted(spark, reportPath)
    val raw = Tables.parquet(spark, rawPath)
    val agg = raw
      .groupBy(F.to_date(F.col("ts")).as("day"), F.col("event_type"))
      .agg(F.avg("rate").as("avg_rate"), F.count(F.lit(1)).as("n"))
      .withColumn("ts", F.col("day").cast("timestamp"))
      .observe("fx_report", F.count(F.lit(1)).as("report_rows"))
    val existing = readTableIfExists(spark, reportPath).map(_.drop("p_day"))
    val merged = existing match {
      case Some(t) => Upsert.merge(t, agg, Seq("day", "event_type"))
      case None    => agg
    }
    stageAndSwap(reportPath)(Layout.writePartitioned(merged, _, "ts", Seq("event_type")))
    Tables.parquet(spark, reportPath)
  }
}
