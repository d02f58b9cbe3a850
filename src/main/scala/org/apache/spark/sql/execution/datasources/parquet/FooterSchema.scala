package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{StructType, VariantType}
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet schema inference: the data schema
  * `spark.read.parquet(paths)` would infer, read from ONE footer
  * without a Spark job. Spark's own inference (`ParquetUtils.
  * inferSchema`) picks one file — `_common_metadata`, else `_metadata`,
  * else the first data file in path order — and reads its footer in a
  * 1-task job (`mergeSchemasInParallel`). This object picks the file
  * the same way, walking only as far as the first visible file instead
  * of listing the whole table, and calls what that job's task calls:
  * `readParquetFootersInParallel` + `readSchemaFromFooter`, under the
  * same converter settings. It lives in this package because those
  * members are package-private.
  *
  * Summary files are looked for at the top of each root only (where
  * Parquet's output committer writes them), not in subdirectories.
  */
object FooterSchema {

  /** The inferred data schema, or `None` where only Spark's own
    * inference is exact and the caller must fall back to the plain
    * read (keeping Spark's error and behaviour): no visible file, a
    * missing path or unreadable footer, `mergeSchema` on, a stream
    * sink directory (read through its `_spark_metadata` log), or a
    * VariantType column (Spark 4.1 infers a shredding schema for it).
    */
  def infer(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    try {
      val roots = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(hadoopConf)
        SparkHadoopUtil.get.globPathIfNecessary(fs, fs.makeQualified(path))
          .map(q => fs -> fs.getFileStatus(q))
      }
      val tops = roots.map { case (fs, st) =>
        fs -> (if (st.isDirectory) fs.listStatus(st.getPath) else Array(st))
      }
      if (tops.exists(_._2.exists(_.getPath.getName == "_spark_metadata"))) return None
      def summaries(name: String) =
        tops.flatMap(_._2.filter(s => s.isFile && s.getPath.getName == name))
      val byPath = Ordering.by[FileStatus, String](_.getPath.toString)
      val chosen = summaries(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE).minOption(byPath)
        .orElse(summaries(ParquetFileWriter.PARQUET_METADATA_FILE).minOption(byPath))
        .orElse(tops.flatMap { case (fs, top) => firstData(fs, top) }.minOption(byPath))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      chosen.toSeq
        .flatMap(f => ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(f), conf.ignoreCorruptFiles))
        .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
        .headOption
        .filterNot(_.existsRecursively(_.isInstanceOf[VariantType]))
    } catch { case NonFatal(_) => None }
  }

  /** The first visible data file under `children`, depth-first in name
    * order with directories keyed by a trailing '/': exactly the order
    * of the full path strings ParquetUtils sorts the leaf files by.
    * Hidden `_`/`.` names are skipped as Spark's file listing skips them.
    */
  private def firstData(fs: FileSystem, children: Array[FileStatus]): Option[FileStatus] =
    children
      .filterNot { s =>
        val name = s.getPath.getName
        HadoopFSUtils.shouldFilterOutPathName(name) ||
          name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
          name == ParquetFileWriter.PARQUET_METADATA_FILE
      }
      .sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else ""))
      .iterator
      .flatMap(s => if (s.isDirectory) firstData(fs, fs.listStatus(s.getPath)) else Some(s))
      .nextOption()

  /** The partition columns Spark inferred for a file-source frame. */
  def partitionSchema(df: DataFrame): StructType =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].partitionSchema
    }.getOrElse(new StructType())
}
