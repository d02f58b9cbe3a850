package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.native
import graft.multimodal.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSuite {

  /** Resize: deterministic fixed-budget byte downsample via the native
    * `StridedBytes` expression — binary → bounded binary inside
    * whole-stage codegen, metadata updated. A codec-backed expression
    * would give true pixel rescaling with the same schema and plan.
    */
  private def resizeStub(withBin: DataFrame, targetBytes: Int): DataFrame =
    withBin.withColumn("thumb", native.strided_bytes(F.col("payload"), targetBytes))
      .withColumn("thumb_len", F.length(F.col("thumb")))

  test("payload plumbing: byte_len equals text length, features deterministic") {
    val docs = Tables.documents(spark, sf)
    val withBin = Multimodal.withPayload(docs)
    val feats = Multimodal.decodeFeatures(spark, withBin)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feats.keySet == texts.keySet)
    texts.foreach { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      val (len, head, sum) = feats(id)
      assert(len == bytes.length.toLong, s"doc $id")
      assert(head == (bytes.head & 0xff))
      var s = 0L; bytes.foreach(b => s = s * 31 + (b & 0xff))
      assert(sum == s)
    }
  }

  test("resize stub emits bounded thumbnails; frame sampling strides deterministically") {
    val docs = Tables.documents(spark, sf)
    val withBin = Multimodal.withPayload(docs)
    val resized = resizeStub(withBin, targetBytes = 64)
    assert(resized.agg(org.apache.spark.sql.functions.max("thumb_len")).head().getInt(0) <= 64)
    assert(resized.count() == docs.count())

    val frames = Multimodal.frameSampleStub(withBin, frameBytes = 32, stride = 4)
    val one = frames.filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
      .orderBy("frame_idx").collect()
    assert(one.nonEmpty)
    assert(one.map(_.getInt(1)).forall(_ % 4 == 0), "only every 4th frame kept")
    val text0 = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
      .head().getString(1)
    assert(one.head.getAs[Array[Byte]](2).sameElements(text0.getBytes("UTF-8").take(32)))

    // thumbnail content is the exact strided-byte formula
    val bytes0 = text0.getBytes("UTF-8")
    val m = math.min(64, bytes0.length)
    val wantThumb = Array.tabulate(m)(i => bytes0((i.toLong * bytes0.length / m).toInt))
    val gotThumb = resized.filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
      .head().getAs[Array[Byte]]("thumb")
    assert(gotThumb.sameElements(wantThumb))
  }

  test("frame slicing reassembles to the original payload at stride 1") {
    val docs = Tables.documents(spark, sf).limit(20)
    val withBin = Multimodal.withPayload(docs)
    val frames = Multimodal.frameSampleStub(withBin, frameBytes = 32, stride = 1)
      .orderBy("doc_id", "frame_idx").collect()
    val byDoc = frames.groupBy(_.getLong(0))
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, fs) <- byDoc) {
      val reassembled = fs.sortBy(_.getInt(1)).flatMap(_.getAs[Array[Byte]](2))
      assert(reassembled.sameElements(texts(id).getBytes("UTF-8")), s"doc $id")
    }
  }

  /** Independent driver-side aHash: strided sample → floor-mean →
    * threshold bits → little-endian pack, restated from the contract.
    */
  private def refAHash(payload: Array[Byte], thumbBytes: Int): Option[Long] = {
    if (payload.isEmpty) return None
    val m = math.min(thumbBytes, payload.length)
    val thumb = Array.tabulate(m)(i => payload((i.toLong * payload.length / m).toInt) & 0xff)
    val mean = thumb.map(_.toLong).sum / m
    Some(thumb.zipWithIndex.map { case (b, j) => if (b > mean) 1L << j else 0L }.sum)
  }

  test("average hash matches an independent driver-side reference; empty payloads NULL") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(80)
    val withBin = Multimodal.withPayload(docs)
    val got = Multimodal.averageHash(withBin)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, t) =>
      assert(got(id) == refAHash(t.getBytes("UTF-8"), 60), s"doc $id")
    }
    // crafted payloads: empty -> NULL, constant bytes -> all-zero hash
    // (nothing strictly above the mean)
    val crafted = Seq(
      (1L, Array.emptyByteArray),
      (2L, Array.fill[Byte](100)(42)),
      (3L, Array.tabulate[Byte](100)(i => i.toByte))).toDF("doc_id", "payload")
    val ch = Multimodal.averageHash(crafted)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(ch(1L).isEmpty)
    assert(ch(2L).contains(0L))
    assert(ch(3L) == refAHash(Array.tabulate[Byte](100)(i => i.toByte), 60))
  }

  test("perceptual pairs: exact payload dups at hamming 0, small perturbations found, banding bound holds") {
    import spark.implicits._
    val base = Array.tabulate[Byte](60)(i => if (i % 2 == 0) 10 else 120)
    // flip 2 thumbnail cells across the mean: hamming 2 from base
    val near = base.clone(); near(4) = 121; near(7) = 9
    // scramble half the cells: far from base
    val far = Array.tabulate[Byte](60)(i => if (i % 4 < 2) 10 else 120)
    val df = Seq((1L, base), (2L, base.clone()), (3L, near), (4L, far))
      .toDF("doc_id", "payload")
    val hashed = Multimodal.averageHash(df)
    val pairs = Multimodal.perceptualPairs(hashed, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L, "identical payloads must pair at hamming 0")
    assert(pairs((1L, 3L)) == 2L, "2-cell perturbation must pair at hamming 2")
    assert(!pairs.contains((1L, 4L)), "scrambled payload must not pair")
    // pigeonhole: every pair within 3 bits shares a band, so the
    // banded join CANNOT miss them — verified against brute force
    val all = hashed.collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    want.foreach { case (k, h) => assert(pairs.get(k).contains(h), s"missed pair $k") }
  }

  test("perceptual pairs on the real corpus decorated with replicas; determinism holds") {
    import org.apache.spark.sql.{functions => F}
    val docs = Tables.documents(spark, sf)
    // re-keyed replicas of every 50th doc: identical payloads pair at
    // hamming 0 (the corpus itself has no exact text duplicates)
    val decorated = docs.unionByName(
      docs.filter(F.col("doc_id") % 50 === 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000L))
    val withBin = Multimodal.withPayload(decorated)
    val hashed = Multimodal.averageHash(withBin)
    val pairs = Multimodal.perceptualPairs(hashed, maxHamming = 4)
    val zero = pairs.filter(F.col("hamming") === 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    docs.filter(F.col("doc_id") % 50 === 0).select("doc_id").collect().map(_.getLong(0))
      .foreach(id => assert(zero.contains((id, id + 1000000L)), s"replica pair for $id"))
    val a = pairs.collect().map(_.toString).sorted.toSeq
    val b = Multimodal.perceptualPairs(
      Multimodal.averageHash(withBin.repartition(7)), maxHamming = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("frame phash pairs: replicas share all frames, truncations share the prefix, boilerplate caps out") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    // synthetic "videos": 8 frames of 32 md5-hex bytes each (distinct
    // content per frame); vid 2 = exact copy of vid 1, vid 3 =
    // first-half prefix of vid 1, vid 4 = unrelated
    def frame(v: Int, f: Int): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"v$v-f$f".getBytes("UTF-8")).map("%02x".format(_)).mkString
    def video(v: Int, frames: Int): String = (0 until frames).map(frame(v, _)).mkString
    val vids = Seq(
      (1L, video(1, 8)), (2L, video(1, 8)),
      (3L, video(1, 8).substring(0, 4 * 32)), (4L, video(4, 8)))
      .toDF("doc_id", "text")
    val withBin = vids.select($"doc_id", $"text".cast("binary").as("payload"))
    // reference expectation: distinct aHash sets per video, pair
    // counts = set intersections (frame hashes may collide — the
    // reference fold absorbs that instead of assuming 8 distinct)
    def hashSet(text: String, stride: Int): Set[Long] =
      text.getBytes("UTF-8").grouped(32).grouped(stride).map(_.head)
        .flatMap(refAHash(_, 60)).toSet
    val sets1 = hashSet(video(1, 8), 1)
    val sets3 = hashSet(video(1, 8).substring(0, 4 * 32), 1)
    val sets4 = hashSet(video(4, 8), 1)
    assert(sets1.size >= 4, "fixture frames too collision-prone to test with")

    val pairs = Multimodal.framePhashPairs(withBin, frameBytes = 32, stride = 1,
        minShared = 1, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == sets1.size.toLong, s"got $pairs want full-set ${sets1.size}")
    assert(pairs((1L, 3L)) == (sets1 & sets3).size.toLong)
    assert(pairs((2L, 3L)) == (sets1 & sets3).size.toLong)
    assert(pairs.get((1L, 4L)).forall(_ == (sets1 & sets4).size.toLong))
    // no pairs within a single video
    assert(Multimodal.framePhashPairs(withBin.filter($"doc_id" === 1L),
      frameBytes = 32, stride = 1, minShared = 1).count() == 0)

    // stride skips frames deterministically (samples 0, 2, 4, ...)
    val strided = Multimodal.framePhashPairs(withBin, frameBytes = 32, stride = 2,
        minShared = 1).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(strided((1L, 2L)) == hashSet(video(1, 8), 2).size.toLong)

    // minShared gates: raising it past the 1↔3 intersection drops that
    // pair but keeps the full replica
    val gated = Multimodal.framePhashPairs(withBin, frameBytes = 32, stride = 1,
        minShared = (sets1 & sets3).size + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated.contains((1L, 2L)) && !gated.contains((1L, 3L)))

    // boilerplate cap: an intro frame prepended to EVERY video (df=5
    // with the intro-only clip) caps out at maxDf=4 — 1↔4 lose their
    // only shared frame, real pairs lose exactly the intro
    val intro = frame(9, 0)
    val introHash = refAHash(intro.getBytes("UTF-8"), 60).get
    assert(!sets1.contains(introHash) && !sets4.contains(introHash))
    val withIntro = vids.select($"doc_id",
      F.concat(F.lit(intro), $"text").cast("binary").as("payload"))
      .unionByName(Seq((5L, intro)).toDF("doc_id", "text")
        .select($"doc_id", $"text".cast("binary").as("payload")))
    val uncapped = Multimodal.framePhashPairs(withIntro, frameBytes = 32, stride = 1,
        minShared = 1, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = Multimodal.framePhashPairs(withIntro, frameBytes = 32, stride = 1,
        minShared = 1, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(uncapped((1L, 4L)) == 1L + (sets1 & sets4).size.toLong)
    assert(!capped.contains((1L, 4L)) || capped((1L, 4L)) == (sets1 & sets4).size.toLong)
    assert(uncapped((1L, 2L)) == capped((1L, 2L)) + 1L)
    assert(!capped.keys.exists(k => k._2 == 5L || k._1 == 5L))
  }

  test("a custom codec factory flows through decodeFeatures (contract is swappable)") {
    val docs = Tables.documents(spark, sf).limit(10)
    val out = Multimodal.decodeFeatures(spark, Multimodal.withPayload(docs),
        () => new Multimodal.PayloadCodec {
          def decode(payload: Array[Byte]): (Long, Int, Long) = (7L, 7, 7L)
        })
      .collect()
    assert(out.length == 10 && out.forall(r => r.getLong(1) == 7L && r.getInt(2) == 7))
  }
}
