package graft

import org.apache.spark.sql.{functions => F}
import graft.operators.Bpe
import graft.sources.Tables

/** BPE vocabulary induction: exact equality with an independent
  * driver-side reference implementation, the encode/train round-trip
  * invariant, and monotone compression.
  */
class BpeSpec extends SparkSuite {

  /** Reference BPE on a word-frequency dict — written independently of
    * the operator (plain Scala collections, no Spark), same contract:
    * weight-desc / pair-asc ties, pairs with weight < 2 never merge.
    */
  private def referenceBpe(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var dict: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector } { case (_, n) => n }(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    while (continue && out.size < rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- dict; i <- 0 until syms.size - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) continue = false
      else {
        // tie order must be Spark's UTF8String binary order, not Java
        // UTF-16 String order — they disagree for supplementary chars
        implicit val u8: Ordering[String] =
          (x: String, y: String) => org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
        val ((a, b), w) = eligible.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((a, b, w))
        dict = dict.groupMapReduce { case (syms, _) =>
          val res = Vector.newBuilder[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) { res += (a + b); i += 2 }
            else { res += syms(i); i += 1 }
          }
          res.result()
        } { case (_, n) => n }(_ + _)
      }
    }
    out.toSeq
  }

  private def wordFreqs(n: Int): Map[String, Long] = {
    val docs = Tables.documents(spark, sf)
    docs.select(F.explode(graft.functions.text.tokens(F.col("text"))).as("w"))
      .filter(F.length(F.col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("train matches the independent reference implementation merge for merge") {
    val got = Bpe.train(Tables.documents(spark, sf), "text", rounds = 15)
    val want = referenceBpe(wordFreqs(0), rounds = 15)
    assert(got == want, s"\n got: $got\nwant: $want")
    assert(got.nonEmpty, "corpus should yield at least one merge")
  }

  test("byte-level train: hex-renamed char table on ASCII, UTF-8 byte split beyond it") {
    import spark.implicits._
    // pure-ASCII corpus: byte-level BPE IS char-level BPE under the
    // 2-hex renaming (1 char = 1 byte), so the tables must agree
    // merge for merge after mapping chars to their hex bytes
    val ascii = Seq.fill(6)("the cat sat on the mat").toDF("text")
    def hexOf(s: String): String =
      s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    val chars = Bpe.train(ascii, "text", rounds = 8)
    val bytes = Bpe.train(ascii, "text", rounds = 8, byteLevel = true)
    assert(bytes == chars.map { case (a, b, w) => (hexOf(a), hexOf(b), w) },
      s"\nchar: $chars\nbyte: $bytes")
    // multi-byte chars split into their UTF-8 bytes: 'éé' repeated
    // makes (C3, A9) the top pair — a merge INSIDE one character,
    // exactly what byte fallback means
    val multi = Seq.fill(4)("éé zz").toDF("text")
    val m = Bpe.train(multi, "text", rounds = 1, byteLevel = true)
    assert(m.head._1 == "C3" && m.head._2 == "A9", m.toString)
  }

  test("batched rounds equal one-at-a-time exactly on a conflict-heavy corpus") {
    import spark.implicits._
    // overlapping-symbol chains — the top pairs share symbols ((a,b)
    // vs (b,a) vs (b,c)) — plus exact weight ties: the cases where a
    // naive skip-and-continue batch reorders the merge table, and the
    // prefix+tie-drop rule must fall back to smaller batches
    val docs = (
      Seq.fill(40)("ababab abab") ++ Seq.fill(39)("bcbc bcbcbc") ++
        Seq.fill(38)("cdcdcd") ++ Seq.fill(38)("efefef") ++ // tied weights
        Seq.fill(20)("xyxy zwzw") ++ Seq.fill(7)("qq rr ss")
      ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val oneAtATime = Bpe.train(docs, "text", rounds = 20, batch = 1)
    assert(oneAtATime.size > 5, "corpus must exercise several rounds")
    for (bs <- Seq(2, 4, 16, 64))
      assert(Bpe.train(docs, "text", rounds = 20, batch = bs) == oneAtATime,
        s"batch=$bs diverged from one-at-a-time")
  }

  test("encode reproduces end-of-training symbols (the BPE round-trip invariant)") {
    val docs = Tables.documents(spark, sf)
    val merges3 = Bpe.train(docs, "text", rounds = 12).map { case (a, b, _) => (a, b) }
    // train-side final state: replay the merges over the word dict
    val words = docs.select(F.explode(graft.functions.text.tokens(F.col("text"))).as("w"))
      .filter(F.length(F.col("w")) > 0).distinct()
    var syms = words.select(F.col("w"),
      F.array_remove(F.split(F.col("w"), ""), "").as("sym"))
    for ((a, b) <- merges3)
      syms = syms.select(F.col("w"), graft.functions.native.merge_pair(F.col("sym"), a, b).as("sym"))
    val trained = syms.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // encode-side: one ApplyBpe pass from raw chars
    val encoded = words.select(F.col("w"),
        Bpe.encode(F.array_remove(F.split(F.col("w"), ""), ""), merges3).as("sym"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(encoded == trained)
  }

  test("each merge strictly shrinks the weighted symbol count; tokenCount is consistent") {
    val docs = Tables.documents(spark, sf)
    val freqs = wordFreqs(0)
    val merges = Bpe.train(docs, "text", rounds = 10)
    // weighted total symbols after k merges drops by the k-th weight
    def total(ms: Seq[(String, String)]): Long = {
      val counted = freqs.map { case (w, n) =>
        var syms = w.map(_.toString).toVector
        for ((a, b) <- ms) {
          val res = Vector.newBuilder[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) { res += (a + b); i += 2 }
            else { res += syms(i); i += 1 }
          }
          syms = res.result()
        }
        syms.size * n
      }
      counted.sum
    }
    val prefix = merges.map { case (a, b, _) => (a, b) }
    // each merge removes one symbol per greedy occurrence: strictly
    // positive, and bounded by the counted weight (overlapping
    // self-pairs like (x,x) in "xxx" count 2 but merge once)
    for (k <- 1 to merges.size) {
      val before = total(prefix.take(k - 1))
      val after = total(prefix.take(k))
      assert(after < before, s"merge $k (${merges(k - 1)}) must shrink the corpus")
      assert(after >= before - merges(k - 1)._3,
        s"merge $k (${merges(k - 1)}) removed more symbols than its weight")
    }
    // tokenCount: per-doc BPE tokens <= whitespace-token chars, >= word count
    val tc = Bpe.tokenCount(docs, "doc_id", "text", prefix)
    val base = docs.select(F.col("doc_id"),
      F.size(graft.functions.text.tokens(F.col("text"))).as("n_words"),
      F.length(F.regexp_replace(F.col("text"), "\\s", "")).as("n_chars"))
    val joined = tc.join(base, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (bpe, words, chars) = (r.getLong(1), r.getInt(2), r.getInt(3))
      assert(bpe >= words && bpe <= chars, s"doc ${r.getLong(0)}: $bpe not in [$words, $chars]")
    }
  }

  test("BPE token counts drive sequence packing: real-tokenizer context budgets") {
    val docs = Tables.documents(spark, sf)
    val merges = Bpe.train(docs, "text", rounds = 10).map { case (a, b, _) => (a, b) }
    val costed = docs.select(F.col("doc_id"), F.col("text"))
      .join(Bpe.tokenCount(docs, "doc_id", "text", merges), "doc_id")
    val budget = 512L
    val packed = graft.operators.Packing
      .packGreedy(costed, "doc_id", "n_bpe_tokens", budget, buckets = 8)
    val seqs = packed.join(costed, "doc_id")
      .groupBy("bucket", "seq").agg(F.sum("n_bpe_tokens").as("toks"), F.count(F.lit(1)).as("n"))
      .collect()
    assert(seqs.nonEmpty)
    // every multi-doc sequence respects the BPE-token budget; docs
    // individually over budget sit alone in their sequence
    seqs.foreach { r =>
      assert(r.getLong(2) <= budget || r.getLong(3) == 1,
        s"bucket ${r.get(0)} seq ${r.get(1)}: ${r.getLong(2)} tokens in ${r.getLong(3)} docs")
    }
    // nothing dropped
    assert(packed.count() == costed.count())
  }

  test("durable staging path trains identically to localCheckpoint") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-stage-").toString
    // batch = 1 forces one trip per merge so the stageEvery cadence
    // (now counted in round-TRIPS) actually fires within 8 rounds
    val a = Bpe.train(docs, "text", rounds = 8, checkpointDir = None, stageEvery = 3, batch = 1)
    val b = Bpe.train(docs, "text", rounds = 8, checkpointDir = Some(dir), stageEvery = 3, batch = 1)
    assert(a == b)
    // stages actually materialized on disk
    assert(new java.io.File(s"$dir/bpe").exists())
  }

  test("min-rank encode equals sequential one-pass-per-rank application for well-formed tables") {
    import spark.implicits._
    // sequential reference: apply each merge in rank order, ONE
    // left-to-right non-overlapping pass — the E19 oracle's replay
    def sequential(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms: Seq[String] = word.map(_.toString)
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toSeq
      }
      syms
    }
    val merges = faces.Kit.bpeFixtureMerges
    // crafted words exercising consecutive occurrences, boundary
    // anchoring, and chained merges (t+h then th+e), plus the corpus
    val words = Seq("the", "then", "anthem", "thethe", "ththe", "standing",
      "inn", "nnn", "ananan", "x", "er", "round", "ininging") ++
      graft.sources.Tables.documents(spark, sf)
        .select(F.explode(graft.functions.text.tokens(F.col("text"))))
        .filter(F.length(F.col("col")) > 0)
        .limit(2000).collect().map(_.getString(0)).toSeq
    val got = words.toDF("w")
      .select(F.col("w"), graft.operators.Bpe.encode(
        F.array_remove(F.split(F.col("w"), ""), ""), merges).as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach { w =>
      assert(got(w) == sequential(w, merges), s"word '$w'")
    }
    // a NON-well-formed table is exactly where the two applications
    // diverge — documents why the E19 contract demands well-formedness
    val bad = Seq(("a", "bc"), ("b", "c"))
    val badGot = Seq("abc").toDF("w")
      .select(graft.operators.Bpe.encode(
        F.array_remove(F.split(F.col("w"), ""), ""), bad).as("e"))
      .head().getSeq[String](0)
    assert(badGot == Seq("abc"), "min-rank re-enables the rank-0 merge")
    assert(sequential("abc", bad) == Seq("a", "bc"), "sequential cannot")
  }
}
