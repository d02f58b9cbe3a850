package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path
import graft.sources.Tables

/** Lineage truncation for iterative / multi-stage operators, with a
  * caller-chosen durability level.
  *
  * `localCheckpoint` blocks live on EXECUTORS: fast (no FS round
  * trip), but losing one executor mid-job kills the computation
  * unrecoverably — truncated lineage cannot recompute. That is an
  * acceptable trade on local[n] (one JVM: if it dies the job dies
  * anyway) and a bad one on a 1000-executor cluster, where executor
  * churn is routine. Operators that truncate lineage therefore take
  * `checkpointDir: Option[String]`:
  *
  *  - `None`   → `localCheckpoint()` (single-JVM / dev default);
  *  - `Some(d)`→ a durable parquet stage under `d` — any executor loss
  *    recomputes from the staged files, like `RDD.checkpoint` but with
  *    columnar storage, deterministic per-stage paths, and explicit
  *    cleanup (Spark's own checkpoint files are neither inspectable
  *    nor reliably cleaned).
  *
  * Ownership contract: the LAST stage backs whatever frame the
  * operator returns, so the operator must not delete it; the caller
  * deletes `checkpointDir` when done with the result. Intermediate
  * stages are the operator's to drop as soon as a later stage has
  * materialized.
  */
object Staging {

  /** Truncate `df`'s lineage under the chosen durability level.
    * `name` keys the stage's subdirectory (must be unique within one
    * operator invocation's `checkpointDir`). An already-existing stage
    * path is a LOUD error: it means two operator invocations share a
    * `checkpointDir`, and overwriting would silently corrupt the frame
    * the earlier invocation returned (which still reads those files) —
    * give each invocation a fresh directory.
    */
  def stage(df: DataFrame, checkpointDir: Option[String], name: String): DataFrame =
    checkpointDir match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val path = s"$dir/$name"
        val p = new Path(path)
        val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(p))
          throw new IllegalStateException(
            s"stage path $path already exists — checkpointDir '$dir' is being reused across " +
              "operator invocations; use a fresh directory per invocation (the previous " +
              "invocation's returned frame still reads its last stage)")
        df.write.parquet(path)
        Tables.parquet(df.sparkSession, path)
    }

  /** Lazy lineage truncation: mark `df` for executor-local
    * materialization WITHOUT running a job now (`localCheckpoint
    * (eager = false)`). The first action that touches the frame
    * computes it ONCE and caches the blocks; every further consumer —
    * including a second subtree of the SAME plan, e.g. a broadcast
    * stats aggregate alongside the main stream — reads the cached
    * blocks instead of recomputing the lineage. This is the tool for
    * "one expensive projection feeds two plan subtrees" (the
    * search_bm25 shape: the tokenized corpus feeds both the (N,
    * avgdl) stats aggregate and the tf stream): eager [[stage]] would
    * fire a construction-time job, no staging scans the corpus twice.
    * Same durability trade as the `None` branch of [[stage]]: blocks
    * live on executors, so an executor loss mid-job is unrecoverable —
    * fine on local[n], use known table stats (not staging at all) on
    * a 1000-executor cluster. Storage lifetime: the cached blocks are
    * reclaimed by Spark's ContextCleaner once the frame (its RDD)
    * becomes unreachable — repeated operator invocations do not
    * accumulate live blocks beyond the frames the caller still holds.
    */
  def stageLazy(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** Recursively delete a staged path (no-op if absent). */
  def drop(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}
