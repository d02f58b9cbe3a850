package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Keyed mutation operators re-expressing the reference's three load
  * strategies (see SURVEY.md §2 A-block):
  *
  *  - `idempotentAppend` — reference `insert_to_bigquery`'s
  *    check-then-append (idempotent_fx_pipeline.py:75-92): a batch is
  *    appended only where its key is absent from the target.
  *  - `merge` — reference MERGE upsert (fx_pipeline_with_merge.py:96-112):
  *    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT on a key.
  *  - `dedupLatest` — README "dedupe logic / unique keys": keep the
  *    newest row per key.
  *
  * All are plain `DataFrame => DataFrame` transforms. The plan-shape
  * contract: with the reference's tiny per-run batches, the delta side
  * broadcasts and the 100 TB target's payload never shuffles —
  * `idempotentAppend`/`freshRows` via a broadcastable anti-join,
  * `merge` via its UPDATE ∪ INSERT decomposition (see its scaladoc;
  * the insert half additionally moves the target's slim key
  * projection once).
  */
object Upsert {

  /** Append `batch` rows whose key is absent from `target`.
    * Anti-join instead of the reference's COUNT-then-skip round trip:
    * one distributed pass, no driver decision point, per-key (not
    * per-batch) granularity — strictly more precise idempotency.
    */
  def idempotentAppend(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(freshRows(target, batch, keys))

  /** Just the batch rows whose key is absent from `target` — the
    * incremental-write half of `idempotentAppend`. Pipelines that
    * append files (instead of materializing the union) write ONLY
    * this frame: O(batch) output regardless of table size.
    */
  def freshRows(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    batch
      .dropDuplicates(keys) // a key delivered twice IN the batch is still one logical row
      // a left-anti join keeps a batch row iff NO target row matches it,
      // so duplicated target keys need no distinct() aggregate first
      .join(target.select(keys.map(F.col): _*), keys, "left_anti")

  /** MERGE: rows in both sides take `source`'s non-key values; rows
    * only in `target` or only in `source` pass through. Equivalent to
    * BigQuery `MERGE ... WHEN MATCHED THEN UPDATE SET <all non-key>
    * WHEN NOT MATCHED THEN INSERT *`.
    *
    * Decomposed into UPDATE ∪ INSERT rather than one full-outer join,
    * because Spark cannot broadcast a full-outer join — that shape
    * forces BOTH sides through a full-width shuffle+sort even when
    * the delta is 30 rows (the reference's per-run case):
    *  - UPDATE: `target LEFT OUTER source` with per-column
    *    presence-based pick — the small delta broadcasts and the
    *    100 TB target streams map-side, never shuffled;
    *  - INSERT: `source LEFT ANTI target.keys` — only the slim key
    *    projection of the target moves, never its payload columns.
    * Columns come from `target`'s schema; `source` must contain them
    * all. A duplicate-keyed target updates every matching row, like
    * BigQuery MERGE.
    *
    * `source` feeds BOTH halves, so it must be deterministic (a
    * rand()/sample()-derived delta could update with one evaluation
    * and insert from another); cache an expensive source upstream if
    * recomputation matters. When the delta is too large to broadcast,
    * the update half degrades to the same full-width shuffle the old
    * full-outer shape always paid, plus one slim key-projection
    * shuffle for the insert half — the small-delta case this is
    * optimized for is the reference's every-run reality.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    // "matched" must be detected by row presence, not key-null checks —
    // keys join null-safely (<=>), so a null-keyed source row is a
    // legitimate match whose update would otherwise be dropped
    val t = target.alias("t")
    val s = source.withColumn("__s_present", F.lit(1)).alias("s")
    val cond = keys.map(k => F.col(s"t.$k") <=> F.col(s"s.$k")).reduce(_ && _)
    val matched = F.col("s.__s_present").isNotNull
    val updateCols: Seq[Column] = target.columns.toSeq.map { c =>
      F.when(matched, F.col(s"s.$c")).otherwise(F.col(s"t.$c")).as(c)
    }
    val updated = t.join(s, cond, "left_outer").select(updateCols: _*)
    val antiCond = keys.map(k => F.col(s"s.$k") <=> F.col(s"t.$k")).reduce(_ && _)
    val inserts = s.join(t.select(keys.map(F.col): _*).alias("t"), antiCond, "left_anti")
      .select(target.columns.toSeq.map(c => F.col(s"s.$c").as(c)): _*)
    updated.unionByName(inserts)
  }

  /** Keep the single newest row per key, ordered by `ts` descending
    * with `tieBreak` columns as deterministic tie-breakers.
    *
    * Uses max_by-style struct aggregation (one shuffle with map-side
    * partial aggregation) rather than a row_number window (which
    * requires a full sort of every partition's rows).
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], ts: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ordCols = (ts +: tieBreak).map(F.col)
    val payload = F.struct(df.columns.map(F.col): _*)
    val ranked = F.struct(ordCols :+ payload.as("__row"): _*)
    df.groupBy(keys.map(F.col): _*)
      .agg(F.max(ranked).as("__top"))
      .select(F.col("__top.__row.*"))
  }
}
