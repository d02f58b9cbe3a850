package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.DataType

import graft.functions.bloom
import graft.sources.Tables

/** Bloom-reduced semi/anti joins — applying a droplist (or allowlist)
  * to a corpus when the list side is past broadcast size but its KEY
  * SET still sketches into megabytes.
  *
  * The problem shape: `corpus.join(droplist, keys, "left_anti")` with
  * a droplist of 10⁸⁻⁹ keys. Spark can't broadcast it, so the plan
  * shuffles the FULL corpus width on the key — at 100 TB that is the
  * single most expensive stage in a dedup/decontamination pass
  * (compare C8's droplist application, E5a at web scale). A Bloom
  * filter of the droplist keys costs ~9.6 bits/key at 1% fpp (120 MB
  * for 10⁸ keys — closure-shippable where the droplist itself is
  * not), and Bloom "no" answers are EXACT. So:
  *
  *   anti: corpus rows whose key hash misses the filter pass through
  *         MAP-ONLY (they definitely have no match); only the hits —
  *         true matches + fpp·|corpus| false positives — enter the
  *         exact anti-join, whose shuffled left side shrinks from
  *         |corpus| to roughly |matches|.
  *   semi: misses are dropped map-only; hits verify via exact
  *         semi-join (false positives must not survive).
  *
  * Both return EXACTLY the rows of the plain join — false positives
  * are resolved by the exact join on the reduced side, false
  * negatives don't exist — so the driver oracle hash-checks against
  * the plain spelling. Multiset semantics (duplicate corpus rows) and
  * SQL NULL semantics (a NULL key never equals anything: anti keeps
  * the row, semi drops it) are preserved; NULL-key rows are routed
  * without probing the filter, whose hash input would otherwise be
  * the hash seed, not a key value.
  *
  * The filter itself is built by [[graft.functions.BloomFilterAgg]]
  * — one aggregation over the droplist's key projection (map-side
  * partial bitsets OR-merged; the shuffle carries partitions×filter
  * bytes, never keys) — and lands on the driver as ONE bounded row
  * (the documented bounded-collect pattern, like IVF centroids).
  * At multi-GB filter sizes prefer raising `fpp` (the exact join
  * absorbs the extra positives) over a bigger sketch.
  */
object BloomJoin {

  /** One 64-bit hash over the key columns — the codegen'd built-in
    * xxhash64, computed identically on both sides so equal keys
    * always collide (the no-false-negative precondition).
    */
  private def keyHash(keys: Seq[String]): Column = F.xxhash64(keys.map(F.col): _*)

  private def anyKeyNull(keys: Seq[String]): Column =
    keys.map(F.col(_).isNull).reduce(_ || _)

  /** Serialized Bloom filter of `df`'s key tuples. NULL-bearing key
    * tuples are excluded: they can never match in SQL equality, so
    * inserting them would only raise the false-positive rate.
    */
  def buildFilter(df: DataFrame, keys: Seq[String], expectedItems: Long,
                  fpp: Double = 0.01): Array[Byte] = {
    val row = df
      .filter(!anyKeyNull(keys))
      .agg(bloom.bloom_agg(keyHash(keys), expectedItems, fpp).as("f"))
      .head()
    row.getAs[Array[Byte]]("f")
  }

  private def buildFilterTyped(df: DataFrame, keys: Seq[String],
                               types: Seq[org.apache.spark.sql.types.DataType],
                               expectedItems: Long, fpp: Double): Array[Byte] =
    df.filter(!anyKeyNull(keys))
      .agg(bloom.bloom_agg(typedKeyHash(keys, types), expectedItems, fpp).as("f"))
      .head().getAs[Array[Byte]]("f")

  /** xxhash64 is TYPE-sensitive where SQL equality is not: an INT 5
    * and a BIGINT 5 join equal but hash differently, which would send
    * true matches down the definite-negative branch — a silent wrong
    * answer. Both sides' hash inputs therefore cast to the SQL common
    * type of each key pair (the same widening the exact join's
    * equality performs) before hashing.
    */
  private def commonKeyTypes(left: DataFrame, list: DataFrame,
                             keys: Seq[String]): Seq[org.apache.spark.sql.types.DataType] =
    keys.map { k =>
      val (lt, rt) = (left.schema(k).dataType, list.schema(k).dataType)
      if (lt == rt) lt
      else org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findTightestCommonType(lt, rt).getOrElse(throw new IllegalArgumentException(
          s"key '$k' has no common type between corpus ($lt) and list ($rt)"))
    }

  private def typedKeyHash(keys: Seq[String],
                           types: Seq[org.apache.spark.sql.types.DataType]): Column =
    F.xxhash64(keys.zip(types).map { case (k, t) => F.col(k).cast(t) }: _*)

  /** Exact `left.join(list, keys, "left_anti")` with the corpus side
    * reduced map-only before the shuffle. `keys` name columns present
    * under the SAME names on both sides (join-using semantics).
    * `expectedItems` sizes the filter (list key-tuple count;
    * overshooting wastes bits, undershooting raises fpp — both safe).
    *
    * `left` is scanned TWICE (misses and hits branches) and `list`
    * once more than the plain join (the filter build). Both must be
    * DETERMINISTIC snapshots (a file-backed frame, not a
    * rand()/monotonically_increasing_id-bearing or re-ingested
    * source): if the two scans of `left` could disagree, the union of
    * the filtered branches would drop or duplicate rows relative to
    * the plain anti-join. Persist nondeterministic inputs first.
    */
  def antiJoin(left: DataFrame, list: DataFrame, keys: Seq[String],
               expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val types = commonKeyTypes(left, list, keys)
    val filter = buildFilterTyped(list, keys, types, expectedItems, fpp)
    antiApply(left, list, keys, types, filter)
  }

  /** Exact `left.join(list, keys, "left_semi")`: misses drop map-only,
    * hits verify exactly (a false positive must not survive). Same
    * determinism/snapshot requirement as [[antiJoin]].
    */
  def semiJoin(left: DataFrame, list: DataFrame, keys: Seq[String],
               expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val types = commonKeyTypes(left, list, keys)
    val filter = buildFilterTyped(list, keys, types, expectedItems, fpp)
    semiApply(left, list, keys, types, filter)
  }

  private def antiApply(left: DataFrame, list: DataFrame, keys: Seq[String],
                        types: Seq[DataType], filter: Array[Byte]): DataFrame = {
    val probe = bloom.bloom_might_contain(typedKeyHash(keys, types), filter)
    // definite negatives (and NULL keys, which never match): map-only pass
    val misses = left.filter(anyKeyNull(keys) || !probe)
    // possible positives: exact anti-join on the reduced side. The
    // using-join moves key columns FIRST in its output (Spark 4, even
    // for anti joins), so re-select the left frame's own order — the
    // positional unionAll below would otherwise misalign (and silently
    // type-coerce) whenever a key is not the leading column
    val hits = left.filter(!anyKeyNull(keys) && probe)
      .join(list.select(keys.map(F.col): _*), keys, "left_anti")
      .select(left.columns.map(F.col).toSeq: _*)
    misses.unionAll(hits)
  }

  private def semiApply(left: DataFrame, list: DataFrame, keys: Seq[String],
                        types: Seq[DataType], filter: Array[Byte]): DataFrame = {
    val probe = bloom.bloom_might_contain(typedKeyHash(keys, types), filter)
    // same column-order restore as antiApply: keep the left frame's
    // own order regardless of key position
    left.filter(!anyKeyNull(keys) && probe)
      .join(list.select(keys.map(F.col): _*), keys, "left_semi")
      .select(left.columns.map(F.col).toSeq: _*)
  }

  // ─────────────── persisted filter (multi-query reuse) ───────────────

  /** A saved filter plus the key/type contract it was hashed under —
    * what [[loadFilter]] returns and the `*Persisted` joins consume.
    */
  final case class PersistedFilter(filter: Array[Byte], keys: Seq[String],
                                   keyTypes: Seq[DataType])

  /** Build the list's filter ONCE and persist it (single-row parquet:
    * filter bytes + key names + key types as DataType JSON) — the
    * multi-query reuse surface: a decontamination droplist is built
    * one time and then applied to every table of a corpus without
    * re-scanning the list. Keys hash under the LIST's own column
    * types; at apply time each corpus key casts to the stored type,
    * which preserves exactness for any corpus key type (a value that
    * could equal a list key casts losslessly; one that cannot match
    * lands in either branch safely — a spurious probe hit is absorbed
    * by the exact join, a miss is a true negative).
    */
  def buildAndSaveFilter(spark: SparkSession, list: DataFrame, keys: Seq[String],
                         expectedItems: Long, path: String,
                         fpp: Double = 0.01): PersistedFilter = {
    val types = keys.map(k => list.schema(k).dataType)
    val bytes = buildFilterTyped(list, keys, types, expectedItems, fpp)
    import spark.implicits._
    Seq((bytes, keys, types.map(_.json)))
      .toDF("filter", "keys", "key_types")
      .coalesce(1).write.mode("overwrite").parquet(path)
    PersistedFilter(bytes, keys, types)
  }

  def loadFilter(spark: SparkSession, path: String): PersistedFilter = {
    val row = Tables.parquet(spark, path).head()
    PersistedFilter(
      row.getAs[Array[Byte]]("filter"),
      row.getSeq[String](row.fieldIndex("keys")),
      row.getSeq[String](row.fieldIndex("key_types")).map(DataType.fromJson))
  }

  /** [[antiJoin]] against a persisted filter: no filter-build job —
    * only the exact join still reads `list`. Key columns cast to the
    * stored types before hashing (see [[buildAndSaveFilter]]).
    */
  def antiJoinPersisted(left: DataFrame, list: DataFrame,
                        saved: PersistedFilter): DataFrame =
    antiApply(left, list, saved.keys, saved.keyTypes, saved.filter)

  /** [[semiJoin]] against a persisted filter. */
  def semiJoinPersisted(left: DataFrame, list: DataFrame,
                        saved: PersistedFilter): DataFrame =
    semiApply(left, list, saved.keys, saved.keyTypes, saved.filter)
}
