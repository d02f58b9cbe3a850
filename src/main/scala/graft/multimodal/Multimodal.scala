package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types._
import graft.functions.native

/** Multimodal-column plumbing (SURVEY.md §2 F-block): media payloads
  * travel as opaque `binary` columns next to a typed metadata struct.
  *
  * Three stages, three mechanisms — each the strongest Spark shape its
  * semantics allow:
  *  - decode/feature-extract: `mapPartitions` behind an explicit
  *    `PayloadCodec` contract (a real codec amortizes native-lib setup
  *    per partition; the container has no codec libraries, so
  *    `StubCodec` computes deterministic byte-level features).
  *  - resize: the native codegen'd `native.strided_bytes` expression
  *    (the aHash downsample below) — binary in, bounded binary out,
  *    no UDF serialization boundary. Only the
  *    SAMPLING RULE stands in for a real scaler; the dataflow is the
  *    production dataflow.
  *  - frame sampling: pure built-in Column composition (`sequence` +
  *    binary `substring`) — byte-exact frame slicing with bounded,
  *    stride-controlled explode fan-out; nothing stubbed at all.
  */
object Multimodal {

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("head_byte", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** The codec contract a deployment fills in: `open` runs once per
    * partition (load the native library, allocate decode contexts,
    * spin worker threads), `decode` runs per payload against that
    * amortized setup, `close` releases it at task completion. This is
    * the batch shape that makes per-image/per-frame JNI affordable at
    * 100 TB — setup cost divides by partition size, not row count.
    */
  trait PayloadCodec extends Serializable {
    def open(): Unit = ()
    def decode(payload: Array[Byte]): (Long, Int, Long)
    def close(): Unit = ()
  }

  /** STUB codec: stands in for image/audio decode (no codec libs in
    * this container). Deterministic byte-level features only — a
    * deployment swaps in a PayloadCodec whose decode calls the real
    * library; nothing else changes.
    */
  object StubCodec extends PayloadCodec {
    def decode(payload: Array[Byte]): (Long, Int, Long) = {
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum = sum * 31 + (payload(i) & 0xff); i += 1 }
      (payload.length.toLong, if (payload.isEmpty) -1 else payload(0) & 0xff, sum)
    }
  }

  /** Attach an opaque payload column + metadata struct to `documents`
    * (the test corpus has no real media, so the payload is the utf-8
    * text bytes — the pipeline shape is identical for jpeg/wav bytes).
    */
  def withPayload(documents: DataFrame): DataFrame =
    documents.select(
      F.col("doc_id"),
      F.col("text").cast("binary").as("payload"),
      F.struct(F.col("source"), F.col("lang"), F.col("n_chars")).as("meta"))

  /** Frame sampling: split the payload into fixed-size frames, keep
    * every `stride`-th one, exploded to (doc_id, frame_idx, frame)
    * rows. Pure built-in composition — `sequence` generates exactly
    * the kept indices (so the explode fan-out is len/(frameBytes·
    * stride), never len/frameBytes) and binary `substring` slices
    * byte-exactly. This stage has no stub in it: only downstream
    * interpretation of the slices as video frames needs a codec.
    */
  def frameSampleStub(withBin: DataFrame, frameBytes: Int = 32, stride: Int = 4): DataFrame = {
    val nFrames = F.ceil(F.length(F.col("payload")).cast("double") / frameBytes).cast("int")
    withBin
      .filter(F.length(F.col("payload")) > 0)
      .select(F.col("doc_id"), F.col("payload"),
        F.explode(F.sequence(F.lit(0), nFrames - 1, F.lit(stride))).as("frame_idx"))
      .select(F.col("doc_id"), F.col("frame_idx"),
        F.substring(F.col("payload"), F.col("frame_idx") * frameBytes + 1, F.lit(frameBytes))
          .as("frame"))
  }

  /** F4: average-hash perceptual fingerprint of the payload — the
    * aHash member of the pHash family (the published image near-dup
    * recipe: downsample, threshold each cell against the mean, pack
    * the bits). The downsample is the F2 `StridedBytes` stage (a real
    * codec swaps in true pixel decode+rescale; every stage after the
    * thumbnail is EXACT integer arithmetic, so the whole fingerprint
    * replays in a SQL oracle): thumb byte j becomes bit j (1 iff
    * byte > floor(mean)), packed little-endian into one LONG —
    * `thumbBytes ≤ 60` keeps the hash inside the positive signed-64
    * range both engines share.
    *
    * Emits (idCol, phash); empty payloads surface with NULL phash
    * (nothing to fingerprint — route them by metadata rules instead).
    * Map-only; the in-row folds run over ≤ 60 elements.
    */
  def averageHash(withBin: DataFrame, idCol: String = "doc_id",
                  payloadCol: String = "payload", thumbBytes: Int = 60): DataFrame =
    // one codegen'd node ([[graft.functions.AHash64]]): thumbnail
    // index law + floor-mean + bit pack in a single compute() per row.
    // A Column-composed spelling here is a §4-rule-3 trap: downstream
    // filters and the candidate equi-join's implicit IsNotNull push
    // below the staging and re-evaluate the folds per element. A real
    // codec deployment decodes/rescales into a thumb column first and
    // hashes THAT (ahash64 of an already-m-byte payload is the
    // identity sampling).
    withBin.select(F.col(idCol),
      native.ahash64(F.col(payloadCol), thumbBytes).as("phash"))

  /** F4 pairs: near-duplicate payloads by perceptual-hash banding —
    * the C3 SimHash contract on media fingerprints: 4 bands × 15 bits
    * block candidates, then exact `bit_count(xor)` verifies. The
    * default `maxHamming = 3` is the banding's RECALL GUARANTEE: two
    * hashes within 3 differing bits always share an untouched band by
    * pigeonhole, so no qualifying pair can be missed. Raising
    * `maxHamming` past 3 is allowed but returns only the qualifying
    * pairs that ALSO share a band (≥ 4 bits can spread one-per-band
    * and escape candidate generation — the standard banding trade,
    * same as C3's 4×13 at its verify threshold); callers accepting
    * that subset semantics should say so where they consume the
    * output. The candidate join shuffles (band, bucket) keys — never
    * all pairs; bucket skew (constant-color thumbs) is AQE's
    * skew-join case. Emits (id_a, id_b, hamming) with id_a < id_b,
    * NULL hashes excluded.
    */
  def perceptualPairs(hashed: DataFrame, idCol: String = "doc_id",
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 60, s"maxHamming=$maxHamming out of range")
    // NO filter on the derived hash: a Filter node here would be
    // predicate-pushed below the staged aHash projections, re-inlining
    // the whole hex->bytes->mean->pack pipeline into the predicate
    // (observed 175 s at sf0.1 — §4 staging rule 3). NULL phash rows
    // flow into the banding with NULL buckets and drop out of the
    // equi-join by SQL join semantics — same exclusion, no Filter.
    val banded = hashed
      .select(F.col(idCol), F.col("phash"), F.explode(F.array(
        (0 until 4).map(b => F.struct(
          F.lit(b).as("band"),
          (F.shiftright(F.col("phash"), 15 * b).bitwiseAND(F.lit(32767L))).as("bucket"))): _*))
        .as("__bb"))
      .select(F.col(idCol), F.col("phash"),
        F.col("__bb.band").as("band"), F.col("__bb.bucket").as("bucket"))
    val a = banded.select(F.col(idCol).as("id_a"), F.col("phash").as("__ha"),
      F.col("band"), F.col("bucket"))
    val b = banded.select(F.col(idCol).as("id_b"), F.col("phash").as("__hb"),
      F.col("band"), F.col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(F.col("id_a") < F.col("id_b"))
      .select(F.col("id_a"), F.col("id_b"),
        F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("long").as("hamming"))
      .filter(F.col("hamming") <= maxHamming)
      .distinct()
  }

  /** F5: video-style near-dup by SHARED FRAME FINGERPRINTS — the
    * composition of F3 (frame sampling) and F4 (perceptual hashing)
    * that video dedup pipelines actually run: sample every
    * `stride`-th frame, aHash each frame, and call two payloads
    * near-duplicates when their distinct frame-fingerprint SETS
    * intersect in ≥ `minShared` values (|H_a ∩ H_b| — a re-encoded
    * or truncated copy still shares its aligned keyframes even though
    * the whole-payload hash (F4) no longer matches; prefix
    * truncation keeps frame alignment, which is why shared-set
    * matching catches it).
    *
    * Scale shape: frames are a bounded explode (len/(frameBytes·
    * stride) rows); per-frame aHash is the native codegen'd
    * expression (one compute per frame — the §4-rule-3-safe join
    * key); per-payload sets collapse in ONE keyed aggregate before
    * any join, so a constant frame repeated within a video costs one
    * row; the frame-df cap (`maxDf`) drops fingerprints carried by
    * more than `maxDf` payloads BEFORE the pair join — black frames /
    * intro cards are boilerplate, not signal, and their uncapped
    * fan-out is quadratic (the E5a ubiquitous-shingle rule). The
    * pair join shuffles (fingerprint) keys only.
    *
    * Emits (id_a, id_b, n_shared), id_a < id_b. Everything after the
    * thumbnail is integer arithmetic, so frames → hashes → sets →
    * intersection counts replay in the DuckDB oracle.
    */
  def framePhashPairs(withBin: DataFrame, idCol: String = "doc_id",
                      frameBytes: Int = 32, stride: Int = 4, thumbBytes: Int = 60,
                      minShared: Int = 2, maxDf: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    require(maxDf >= 1, s"maxDf=$maxDf must be >= 1")
    val frames = frameSampleStub(withBin, frameBytes, stride)
    val hashed = frames.select(F.col(idCol),
      native.ahash64(F.col("frame"), thumbBytes).as("fhash"))
    // distinct fingerprint set per payload — one keyed aggregate;
    // in-video repetition collapses here
    val sets = hashed.groupBy(idCol, "fhash").agg(F.count(F.lit(1)).as("__n"))
      .select(F.col(idCol), F.col("fhash"))
    // boilerplate-frame cap: df over payloads, computed on the slim
    // (id, fhash) set — the filter sits on an aggregate output, safely
    // above the staged hash derivation
    val kept = sets.join(
      sets.groupBy("fhash").agg(F.count(F.lit(1)).as("__df"))
        .filter(F.col("__df") <= maxDf).select("fhash"),
      Seq("fhash"))
    val a = kept.select(F.col(idCol).as("id_a"), F.col("fhash"))
    val b = kept.select(F.col(idCol).as("id_b"), F.col("fhash"))
    a.join(b, Seq("fhash"))
      .filter(F.col("id_a") < F.col("id_b"))
      .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).as("n_shared"))
      .filter(F.col("n_shared") >= minShared)
  }

  /** Batched per-partition decode → feature rows, through the codec
    * contract. Takes a FACTORY, not an instance: each task constructs
    * its own codec, so concurrent partitions never share decode state
    * (a serialized singleton instance would deserialize to one shared
    * JVM object under local[N], and the first task to finish would
    * close() contexts its siblings still use). `close` registers only
    * after `open` succeeds — a failed open has nothing to release.
    */
  def decodeFeatures(spark: SparkSession, withBin: DataFrame,
                     codecFactory: () => PayloadCodec = () => StubCodec): DataFrame = {
    val rdd = withBin.select("doc_id", "payload").rdd.mapPartitions { it =>
      val codec = codecFactory()
      codec.open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => codec.close()))
      it.map { r =>
        val (len, head, sum) = codec.decode(r.getAs[Array[Byte]]("payload"))
        Row(r.getAs[Long]("doc_id"), len, head, sum)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }
}
