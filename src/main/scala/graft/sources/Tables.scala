package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

/** Loaders for the test-data star schema + events/documents/embeddings.
  *
  * Each table is a single parquet file per scale factor; on a real
  * deployment these would be partitioned directories — the API is the
  * same. Loading stays fully declarative so Catalyst can push filters
  * and prune columns into the parquet scan.
  */
object Tables {
  /** Open a parquet table — one or more files or (day-partitioned)
    * directories — WITHOUT a Spark job. A plain `spark.read.parquet`
    * infers the data schema in a 1-task job that reads one footer;
    * here that footer is read on the driver ([[FooterSchema]]) and
    * handed over as the schema. Partition columns are still inferred
    * from the directory names, and where the footer cannot stand in
    * for Spark's inference the plain read runs instead, so the frame
    * (schema, rows, errors) is the one `spark.read.parquet` returns.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    FooterSchema.infer(spark, paths) match {
      case None => spark.read.parquet(paths: _*)
      case Some(data) =>
        val df = spark.read.schema(data).parquet(paths: _*)
        val part = FooterSchema.partitionSchema(df)
        val resolver = spark.sessionState.conf.resolver
        def partOf(name: String) = part.find(p => resolver(p.name, name))
        if (!data.exists(f => partOf(f.name).isDefined)) df
        else {
          // the data files also hold a partition column: Spark keeps it
          // at its data position but with the partition's value and
          // inferred type, so reopen with it inferred and move it back
          val order = data.map(f => partOf(f.name).fold(f.name)(_.name)) ++
            part.map(_.name).filterNot(n => data.exists(f => resolver(f.name, n)))
          spark.read.schema(StructType(data.filterNot(f => partOf(f.name).isDefined)))
            .parquet(paths: _*)
            .select(order.map(n => F.col("`" + n.replace("`", "``") + "`")): _*)
        }
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    fanOut(spark, spark.read.parquet(s"$dir/$name.parquet"), s"$dir/$name.parquet")

  /** Scan-parallelism floor (r17, guide §2.5 "input skew"): each
    * calibration table is ONE parquet file with ONE row group, so its
    * scan is ONE task no matter how many cores the session has — and
    * every downstream per-row projection (geography folds, tokenize/
    * md5 pipelines, WKT rendering) inherits that single-thread ceiling
    * until the first exchange. `maxPartitionBytes` cannot help: splits
    * land on row-group boundaries, and there is only one.
    *
    * When (and only when) the input is too small to fill the machine —
    * its natural split count is below the session parallelism — fan
    * the rows out round-robin right after the scan: a few MB cross one
    * in-process exchange once, and the heavy map work above it runs on
    * every core. At production scale the condition is FALSE (a 100 TB
    * table has thousands of row groups ≥ cores, naturalSplits wins)
    * and the scan's own splits stand — this is a data-size-derived
    * floor, not a local[32] constant. Sub-192 KB dims (region, nation,
    * supplier, part) stay unfanned: they broadcast into joins, and an
    * exchange would cost more than their scan.
    *
    * Correctness: every face is partition-invariant by the repo-wide
    * determinism contract (integer/decimal folds, hash-keyed sampling,
    * total-order limits), so a round-robin fan-out changes no result —
    * re-verified against the DuckDB oracle this round.
    */
  private def fanOut(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    try {
      // OPT-IN (r17, measured per face): the fan-out exchange wins only
      // on single-pass map-heavy faces (JSON parse, gopher folds, DSIR
      // scoring, embeddings: 1.3-2.5x) — a face that references the
      // same table from many subtrees or runs many small jobs pays the
      // exchange per reference and regresses 2-4x (fx_incremental 1.1
      // -> 4.0 s, sql_matview_refresh 0.8 -> 2.0 s measured). So the
      // default is OFF and the winning faces opt in via
      // SparkEntry.withFanout; SPARK_GRAFT_FANOUT=on flips the global
      // default for A/B sweeps.
      if (spark.conf.get("spark.graft.scan.fanout",
          sys.env.getOrElse("SPARK_GRAFT_FANOUT", "off")) != "on") return df
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val bytes =
        if (st.isFile) st.getLen
        else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      val naturalSplits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
      val par = spark.sparkContext.defaultParallelism
      if (bytes >= 192 * 1024L && naturalSplits < par) df.repartition(par)
      else df
    } catch { case _: Throwable => df }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives as either parquet TIMESTAMP(NANOS) — which
    * Spark reads as an epoch-nanos long under
    * spark.sql.legacy.parquet.nanosAsLong=true — or plain
    * timestamp[us] without timezone, which Spark reads as
    * TIMESTAMP_NTZ. Both normalize to the session TIMESTAMP type so
    * downstream `unix_micros`/date arithmetic resolves: nanos truncate
    * to micros (the same truncation DuckDB applies casting
    * TIMESTAMP_NS → TIMESTAMP), and NTZ casts under the session's UTC
    * zone — value-preserving, matching DuckDB's naive-as-UTC reading.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer division: `/` on longs coerces to double, whose 53-bit
        // mantissa cannot represent 2024-epoch nanos (ULP = 256 ns) — that
        // lands ~2% of rows on the wrong microsecond
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
