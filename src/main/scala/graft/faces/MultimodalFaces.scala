package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import graft.multimodal.Multimodal
import Kit._

/** Driver faces of section F, multimodal plumbing. */
private[graft] object MultimodalFaces {

  val all: Seq[Face] = Seq(
    Face("mm_meta_extract", (s, d) => {
      val withBin = Multimodal.withPayload(Tables.documents(s, d))
      Multimodal.decodeFeatures(s, withBin)
        .join(withBin.select(F.col("doc_id"), F.col("meta.source").as("source")), "doc_id")
        .select("doc_id", "byte_len", "head_byte", "source")
        .orderBy("doc_id")
    }, Oracle(
      // byte-level semantics on BOTH sides: encode() is DuckDB's UTF-8
      // encoder (CAST(text AS BLOB) rejects non-ASCII), hex-prefix is
      // the first byte — matches stubDecode's payload(0)&0xff / -1,
      // including non-ASCII heads and empty docs
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |       CASE WHEN octet_length(encode(text)) = 0 THEN -1
          |            ELSE CAST(('0x' || substr(hex(encode(text)), 1, 2)) AS INT) END AS head_byte,
          |       source
          |FROM documents ORDER BY doc_id""".stripMargin)),
    // F4: perceptual near-dup pairs over media payloads — aHash
    // (strided thumbnail → mean-threshold bits → 60-bit pack) banded
    // 4×15 the C3 way, exact bit_count(xor) verify. maxHamming=4 is
    // past the banding's ≤3 recall guarantee: BOTH engines apply the
    // same band-then-verify rule, so the (identical) subset semantics
    // hash cleanly. Every stage after the thumbnail is integer
    // arithmetic, so thumbnail, fingerprint, banding and verification
    // ALL replay in DuckDB; re-keyed every-50th-doc replicas (the C2b
    // decoration) guarantee hamming-0 pairs
    Face("mm_phash_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
      val decorated = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 === 0)
          .withColumn("doc_id", F.col("doc_id") + 1000000L))
      val withBin = Multimodal.withPayload(decorated)
      Multimodal.perceptualPairs(Multimodal.averageHash(withBin), maxHamming = 4)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // replays F4 end to end: strided thumbnail byte sample (the
      // StridedBytes index law (i*n)//m), floor-mean threshold bits,
      // little-endian 60-bit pack, 4x15 banding, bit_count(xor) verify
        """WITH d AS (SELECT doc_id, text FROM documents
          |           UNION ALL
          |           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
          |p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM d),
          |b0 AS (SELECT doc_id, least(60, n) AS m,
          |              [CAST(('0x' || substr(hx, 2*((i*n)//least(60,n))+1, 2)) AS BIGINT) for i in range(0, least(60,n))] AS bytes
          |       FROM p WHERE n > 0),
          |mn AS (SELECT doc_id, bytes, m, list_sum(bytes) // m AS mean FROM b0),
          |h AS (SELECT doc_id,
          |        CAST(coalesce(list_sum([CASE WHEN bytes[j+1] > mean THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END for j in range(0, m)]), 0) AS BIGINT) AS phash
          |      FROM mn),
          |bd AS (SELECT doc_id, phash, band, (phash >> (15*band)) & 32767 AS bucket
          |       FROM h, (SELECT unnest(range(0, 4)) AS band)),
          |pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |              CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          |       FROM bd a JOIN bd b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
          |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin)),
    // F5: video-style near-dup by shared FRAME fingerprints — F3
    // frame sampling (32-byte frames, stride 2) composed with F4
    // aHash per frame, payloads paired by the size of their distinct
    // fingerprint-set intersection. Decorations: re-keyed exact
    // replicas (share every sampled frame) and half-prefix truncations
    // (share the aligned prefix frames — the case the whole-payload
    // hash F4 misses). Integer end to end after the frame slice, so
    // frames → hashes → sets → intersection counts replay in DuckDB
    Face("mm_frame_phash", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val deco = docs
        .unionByName(docs.filter(F.col("doc_id") % 50 === 0)
          .select((F.col("doc_id") + 1000000L).as("doc_id"), F.col("text")))
        .unionByName(docs.filter(F.col("doc_id") % 30 === 0)
          .select((F.col("doc_id") + 2000000L).as("doc_id"),
            F.col("text").substr(F.lit(1),
              (F.length(F.col("text")) / 2).cast("int")).as("text")))
      val withBin = deco.select(F.col("doc_id"), F.col("text").cast("binary").as("payload"))
      Multimodal.framePhashPairs(withBin, frameBytes = 32, stride = 2,
          minShared = 2, maxDf = 1000)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // per-frame aHash replay: frames are 32-byte hex slices (≤ 60,
      // so the thumbnail law is the identity), mean-threshold bits,
      // distinct sets per payload, pair counts = set intersections
        """WITH d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id,
          |         substr(text, 1, CAST(length(text) AS INT) // 2) AS text
          |  FROM documents WHERE doc_id % 30 = 0),
          |p AS (SELECT doc_id, hex(encode(text)) AS hx,
          |             octet_length(encode(text)) AS n
          |      FROM d WHERE octet_length(encode(text)) > 0),
          |fi AS (SELECT doc_id, hx,
          |              unnest(range(0, CAST(ceil(CAST(n AS DOUBLE)/32.0) AS BIGINT), 2)) AS f
          |       FROM p),
          |fr AS (SELECT doc_id, substr(hx, 2*(f*32) + 1, 64) AS fhx FROM fi),
          |fb AS (SELECT doc_id, length(fhx)//2 AS m,
          |         [CAST(('0x' || substr(fhx, 2*j+1, 2)) AS BIGINT)
          |          for j in range(0, CAST(length(fhx)//2 AS INT))] AS bytes
          |       FROM fr),
          |mn AS (SELECT doc_id, bytes, m, list_sum(bytes) // m AS mean FROM fb),
          |hz AS (SELECT doc_id,
          |         CAST(coalesce(list_sum([CASE WHEN bytes[j+1] > mean
          |           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
          |           for j in range(0, CAST(m AS INT))]), 0) AS BIGINT) AS fhash
          |       FROM mn),
          |sets AS (SELECT DISTINCT doc_id, fhash FROM hz)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
          |FROM sets a JOIN sets b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY id_a, id_b""".stripMargin)),
  )
}
