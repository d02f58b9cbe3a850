package graft

import graft.sources.{NioLocalFileSystem, NioLocalFs}
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for correctness-parity with the DuckDB oracle (UTC timezone)
  * and for scale (AQE on, shuffle partitions sized to the machine
  * rather than Spark's default 200). ANSI mode stays at the Spark 4
  * default (ON): overflow and invalid casts throw instead of silently
  * nulling — the same strictness the DuckDB oracle applies. The local
  * `file:` filesystem is the fork-free one of [[graft.sources.NioLocalFileSystem]].
  * On a real cluster the same builder applies — only master/partitions
  * change.
  */
object GraftSession {
  def builder(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession
      .builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as epoch-nanos long and convert in the loader.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .config(FileImplKey, fileImpl(new SparkConf()))

  private[graft] val FileImplKey = "spark.hadoop.fs.file.impl"

  /** The `file:` FileSystem to bind: one already set in `conf` (a
    * `-Dspark.hadoop.fs.file.impl` system property, which a builder
    * option would otherwise override) is kept.
    */
  private[graft] def fileImpl(conf: SparkConf): String =
    conf.get(FileImplKey, classOf[NioLocalFileSystem].getName)

  /** The cores a main runs on: `SPARK_GRAFT_CPUS`, else the machine's. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int): SparkSession = {
    val spark = builder(cpus).master(s"local[$cpus]").getOrCreate()
    graft.functions.SqlFunctions.register(spark)
    spark
  }
}
