package graft.sources

import org.apache.spark.sql.{DataFrame, functions => F}

/** Physical-layout operator (SURVEY.md §2 A8): the reference README's
  * "partition by DATE(date), cluster by (from_cur,to_cur)" advice,
  * re-expressed as Spark table layout. Day-partitioned directories
  * give partition pruning on date filters; sorting within partitions
  * gives parquet min/max row-group pruning on the cluster keys —
  * the same two effects BigQuery partitioning + clustering buy.
  */
object Layout {

  /** Write `df` day-partitioned on `tsCol` and sorted by `clusterCols`
    * within each partition. `repartition` on the partition value keeps
    * one shuffle task per day-file set (avoids the classic
    * every-task-writes-every-partition small-files explosion).
    */
  def writePartitioned(df: DataFrame, path: String, tsCol: String,
                       clusterCols: Seq[String]): Unit =
    df.withColumn("p_day", F.to_date(F.col(tsCol)))
      .repartition(F.col("p_day"))
      .sortWithinPartitions(clusterCols.map(F.col): _*)
      .write.mode("overwrite").partitionBy("p_day").parquet(path)

  /** Append `df` as NEW files into an existing day-partitioned layout,
    * leaving every existing file untouched — the reference's
    * WRITE_APPEND disposition. Cost is O(batch) regardless of table
    * size; combined with a keyed anti-join upstream this is the
    * idempotent-ingest write path that survives 100 TB (a rewrite of
    * the full table per micro-batch would be O(table)).
    */
  def appendPartitioned(df: DataFrame, path: String, tsCol: String,
                        clusterCols: Seq[String]): Unit =
    df.withColumn("p_day", F.to_date(F.col(tsCol)))
      .repartition(F.col("p_day"))
      .sortWithinPartitions(clusterCols.map(F.col): _*)
      .write.mode("append").partitionBy("p_day").parquet(path)

  /** Write `df` Z-ORDER clustered on two numeric columns — the
    * Delta/Iceberg `OPTIMIZE ZORDER BY (x, y)` layout as plain
    * parquet. Each key is min/max-scaled into [0, 2^bits) (one tiny
    * 4-value aggregate collected driver-side), the two bucket streams
    * interleave into a Morton z-value (native codegen'd expression),
    * and the frame range-partitions + sorts on z before the write.
    * Because the z curve is monotone in each coordinate, every output
    * file covers an axis-aligned rectangle of (x, y) space: its
    * parquet min/max stats are NARROW ON BOTH columns, so a predicate
    * on EITHER key prunes files and row groups. A single-column sort
    * gets this only for its leading key — the trailing key's per-file
    * span stays ~the full domain (ZOrderSpec measures exactly this).
    * At 100 TB this is the layout for tables filtered on two
    * independent dimensions (e.g. user × time, document × source):
    * clustering quality degrades gracefully with skew because ranks
    * come from the value DISTRIBUTION bounds; heavily-skewed keys
    * should be bucketed by rank (ntile) upstream first.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    bits: Int = 16, numFiles: Int = 8): Unit = {
    val b = df.agg(F.min(F.col(xCol)).cast("double"), F.max(F.col(xCol)).cast("double"),
      F.min(F.col(yCol)).cast("double"), F.max(F.col(yCol)).cast("double")).head()
    require(!b.anyNull, s"writeZOrdered: $xCol/$yCol must have non-null bounds")
    val top = (1L << bits) - 1
    // null keys bucket to 0 (the origin corner), as MortonInterleave's
    // contract states — a null bucket would give those rows a null
    // z-value and park them un-clustered in the nulls-first partition
    def bucket(c: String, lo: Double, hi: Double) =
      if (hi == lo) F.lit(0L)
      else F.coalesce(F.least(F.lit(top), F.greatest(F.lit(0L),
        ((F.col(c).cast("double") - lo) / (hi - lo) * top).cast("long"))), F.lit(0L))
    val z = graft.functions.native.morton_interleave(
      bucket(xCol, b.getDouble(0), b.getDouble(1)),
      bucket(yCol, b.getDouble(2), b.getDouble(3)), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, F.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` hash-BUCKETED on `bucketCols` (and sorted inside each
    * bucket) as an external table at `path`. Two tables bucketed the
    * same way on the join key co-locate: Spark plans their join with
    * NO shuffle exchange on either side — at 100 TB this turns the
    * nightly fact⋈fact join from two full-table shuffles into a
    * map-side merge. The bucket count is part of the physical
    * contract: pick it once per table family (same count both sides)
    * and size it so a bucket fits an executor core's memory.
    */
  def writeBucketed(df: DataFrame, table: String, path: String, buckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val sorted = if (sortCols.isEmpty) bucketCols else sortCols
    df.write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sorted.head, sorted.tail: _*)
      .option("path", path)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Compact the small files that O(batch) appends accumulate. A
    * 5-minute ingest cadence writes ~288 files per day partition; at
    * 100 TB that is millions of sub-row-group files whose open/footer
    * costs dominate scans. Rewrites ONLY day partitions holding more
    * than `maxFilesPerDay` files — read with partition pruning,
    * re-sorted on `clusterCols` (appends are sorted per-file only;
    * compaction restores the per-day sort and with it the min/max
    * row-group pruning A8 promises), committed via dynamic partition
    * overwrite so untouched days never rewrite and a mid-job crash
    * leaves the original files in place (staging commit).
    *
    * Concurrency: the snapshot-then-overwrite shape races with ingest —
    * an append landing in a snapshotted day between materialization and
    * commit would be silently deleted by the overwrite. Guard: after the
    * snapshot materializes, each crowded day's file listing (name,
    * length, mtime) is re-checked against the pre-snapshot listing and
    * any day that changed is SKIPPED this run (its new files survive;
    * the still-crowded day compacts on the next run). The re-check
    * narrows the window to the commit itself but cannot close it — do
    * not run compaction truly concurrently with ingest into the same
    * day; at a 5-minute cadence, skip-on-change makes interleaving safe.
    *
    * Returns the compacted day values. Driver-side work is one
    * partition-directory listing — O(days), metadata only.
    */
  def compactDays(spark: org.apache.spark.sql.SparkSession, path: String,
                  clusterCols: Seq[String], maxFilesPerDay: Int = 8): Seq[String] =
    compactDaysWithHook(spark, path, clusterCols, maxFilesPerDay, () => ())

  /** [[compactDays]] with a test seam: `afterSnapshot` runs between the
    * snapshot materializing and the concurrent-change re-check, letting
    * a spec interleave an append deterministically.
    */
  private[graft] def compactDaysWithHook(
      spark: org.apache.spark.sql.SparkSession, path: String,
      clusterCols: Seq[String], maxFilesPerDay: Int,
      afterSnapshot: () => Unit): Seq[String] = {
    require(maxFilesPerDay >= 1, s"maxFilesPerDay must be >= 1, got $maxFilesPerDay")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val crowded = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_day="))
      .map(d => d.getPath.getName.stripPrefix("p_day=") -> dataFileSignature(fs, d.getPath))
      // a null-day partition (__HIVE_DEFAULT_PARTITION__, e.g. rows
      // whose nullable ts loaded as null) is not date-addressable by
      // the overwrite filter — skip it rather than crash every
      // subsequent compaction run on Date.valueOf
      .collect { case (day, sig) if sig.size > maxFilesPerDay &&
        scala.util.Try(java.sql.Date.valueOf(day)).isSuccess => day -> sig }
    if (crowded.isEmpty) return Nil
    var committed: Seq[String] = Nil
    withDynamicPartitionOverwrite(spark) {
      val snapshot = Tables.parquet(spark, path)
        .filter(F.col("p_day").isInCollection(crowded.map(c => java.sql.Date.valueOf(c._1))))
        // Spark (rightly) refuses to overwrite a path its plan reads
        // from; localCheckpoint truncates the lineage to executor-held
        // blocks. Only the crowded days materialize — bounded per run —
        // and a failure before the commit leaves every original file in
        // place (compaction is idempotent: just re-run).
        .localCheckpoint()
      afterSnapshot()
      // re-list: drop any day whose files changed since the snapshot
      // (concurrent append) — overwriting it would delete the new rows
      val unchanged = crowded.collect { case (day, sig)
        if dataFileSignature(fs, new org.apache.hadoop.fs.Path(root, s"p_day=$day")) == sig => day }
      if (unchanged.nonEmpty) {
        snapshot
          .filter(F.col("p_day").isInCollection(unchanged.map(java.sql.Date.valueOf)))
          .repartition(F.col("p_day"))
          .sortWithinPartitions(clusterCols.map(F.col): _*)
          .write.mode("overwrite").partitionBy("p_day").parquet(path)
        committed = unchanged
      }
    }
    spark.catalog.refreshByPath(path)
    committed
  }

  /** Data files of one partition directory as (name, length, mtime) —
    * the identity used to detect concurrent writes. Excludes both
    * Hadoop hidden-file conventions: '_' (e.g. _SUCCESS) AND '.'
    * (e.g. ChecksumFileSystem's .part-*.crc companions, which would
    * otherwise double the count and trigger compaction early).
    */
  private def dataFileSignature(fs: org.apache.hadoop.fs.FileSystem,
                                dir: org.apache.hadoop.fs.Path): Set[(String, Long, Long)] =
    fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toSet

  /** Run `body` with dynamic partition-overwrite mode, restoring the
    * previous session setting afterwards.
    */
  private def withDynamicPartitionOverwrite(
      spark: org.apache.spark.sql.SparkSession)(body: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Replace ONLY the day partitions present in `df`, leaving all other
    * days untouched — the reference's per-day WRITE_TRUNCATE
    * disposition ("latest analysis of the day overwrites previous",
    * reference README.md), done safely at table scale with dynamic
    * partition overwrite instead of a full-table truncate.
    */
  def overwriteDayPartitions(df: DataFrame, path: String, tsCol: String): Unit =
    withDynamicPartitionOverwrite(df.sparkSession) {
      df.withColumn("p_day", F.to_date(F.col(tsCol)))
        .repartition(F.col("p_day"))
        .write.mode("overwrite").partitionBy("p_day").parquet(path)
    }
}
