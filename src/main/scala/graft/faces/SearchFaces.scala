package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import graft.operators.Similarity
import Kit._

/** Driver faces of section D, similarity search. */
private[graft] object SearchFaces {

  val all: Seq[Face] = Seq(
    // hybrid retrieval: RRF fusion of the integer-tf lexical leg and
    // the D1 cosine leg — ranks come from bounded top-k arrays, and
    // 1/(60+rank) on integer ranks is bit-exact IEEE division, so
    // the fused scores hash across engines
    Face("search_hybrid", (s, d) => {
      val docs = Tables.documents(s, d)
      val vecs = Tables.embeddings(s, d)
      val queries = docs.filter(F.col("doc_id") % 50 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
        .join(vecs.select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec")), "qid")
      graft.operators.Hybrid.rrfSearch(docs, "doc_id", "text",
          vecs, "vec_id", "embedding", queries, "qid", "qtext", "qvec",
          k = 10, n = 20)
        .orderBy("qid", "doc_id")
    }, Oracle(
      // legs replay exactly: integer Σtf + row_number for the lexical
      // ranks, the D1 cosine formula for the vector ranks, bit-exact
      // double division for RRF; CAST(1 AS DOUBLE) keeps DuckDB off
      // its decimal-division path
        s"""WITH q AS (
          |  SELECT d.doc_id AS qid, d.text AS qtext, e.embedding AS qvec
          |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
          |  WHERE d.doc_id % 50 = 0),
          |tf AS (
          |  SELECT doc_id, token, COUNT(*) AS tf FROM (
          |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
          |    FROM documents) GROUP BY doc_id, token),
          |qt AS (
          |  SELECT qid, unnest(list_distinct(string_split_regex(lower(trim(qtext)), '\\s+'))) AS token
          |  FROM q),
          |-- stopword guard: query tokens in > 10% of docs carry no
          |-- ranking signal and only fan out the join (same cap as the
          |-- Spark side; df computed over query-matching tokens)
          |rare AS (
          |  SELECT token FROM (
          |    SELECT token, COUNT(*) AS df FROM tf
          |    WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY token)
          |  WHERE CAST(df AS DOUBLE) <= (SELECT COUNT(*) FROM documents) * CAST(0.1 AS DOUBLE)),
          |lex AS (
          |  SELECT qid, doc_id, SUM(tf) AS s FROM qt
          |  JOIN rare USING (token) JOIN tf USING (token) GROUP BY qid, doc_id),
          |lexn AS (
          |  SELECT qid, doc_id, lex_rank FROM (
          |    SELECT qid, doc_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS lex_rank
          |    FROM lex) WHERE lex_rank <= 20),
          |cos AS (
          |  SELECT q.qid, e.vec_id AS doc_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS c
          |  FROM q JOIN embeddings e ON TRUE),
          |cosn AS (
          |  SELECT qid, doc_id, vec_rank FROM (
          |    SELECT qid, doc_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY c DESC, doc_id) AS vec_rank
          |    FROM cos) WHERE vec_rank <= 20),
          |fused AS (
          |  SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.doc_id, v.doc_id) AS doc_id,
          |         COALESCE(CAST(1 AS DOUBLE)/(l.lex_rank + 60), CAST(0 AS DOUBLE)) +
          |           COALESCE(CAST(1 AS DOUBLE)/(v.vec_rank + 60), CAST(0 AS DOUBLE)) AS rrf,
          |         COALESCE(l.lex_rank, 0) AS lex_rank,
          |         COALESCE(v.vec_rank, 0) AS vec_rank
          |  FROM lexn l FULL OUTER JOIN cosn v ON l.qid = v.qid AND l.doc_id = v.doc_id)
          |SELECT qid, doc_id, rrf, lex_rank, vec_rank FROM (
          |  SELECT qid, doc_id, rrf, lex_rank, vec_rank,
          |         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rn
          |  FROM fused) WHERE rn <= 10
          |ORDER BY qid, doc_id""".stripMargin)),

    // deterministic training-order shuffle: seeded hash permutation
    // into balanced shards — membership map-only, order one
    // exchange+sort per shard key, everything replayable from
    // (seed, id); the md5-hash-law recipe S2/S3 already prove
    Face("pack_shuffle", (s, d) => {
      graft.operators.Packing.shuffleOrder(
          Tables.documents(s, d).select("doc_id"), "doc_id", seed = 7L, nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    }, Oracle(
        """WITH h AS (
          |  SELECT doc_id,
          |         CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
          |  FROM documents)
          |SELECT doc_id, hv % 8 AS shard,
          |       row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
          |FROM h ORDER BY shard, pos""".stripMargin)),
    // D11: standalone BM25 ranking (the bm25Leg face) — idf is libm
    // ln, so rows-only at the driver gate (the D2 discipline); the
    // scoring contract is pinned against an independent driver-side
    // BM25 in HybridSpec, and the join/topk routing is already
    // hash-gated through search_hybrid's lexical leg. The fixture
    // vocabulary is 31 near-uniform tokens, so the stopword df cap
    // stays OFF here: idf-downweighting common terms IS BM25's
    // treatment of them (at web scale the cap guards join fan-out,
    // which 500 fixture docs don't have)
    Face("search_bm25", (s, d) => {
      val docs = Tables.documents(s, d)
      // every 250th doc as a query: with the df cap off, the q·d
      // token join is the cost, and the uniform fixture vocabulary
      // matches every query token to every doc — 20 queries at sf0.1
      // keeps the uncapped join linear in the corpus while still
      // exercising the full scorer
      val queries = docs.filter(F.col("doc_id") % 250 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
      graft.operators.Hybrid.bm25Leg(docs, "doc_id", "text", queries, "qid", "qtext",
          n = 10, maxDfFraction = 1.0)
        .orderBy("qid", "rank")
    }, RowsOnly("BM25 idf is a libm ln whose double bits differ across engines; scoring is pinned against a driver-side BM25 in HybridSpec and the routing is hash-gated by search_bm25_hits")),
    // D11b: the INTEGER half of BM25 under the hash gate (the E15b
    // hits discipline) — per-(q,d) matched-term count, Σtf, Σdf and
    // dl are exactly the quantities the libm idf/saturation consumes,
    // so search_bm25 stays rows-only ONLY for the log itself
    Face("search_bm25_hits", (s, d) => {
      val docs = Tables.documents(s, d)
      val queries = docs.filter(F.col("doc_id") % 250 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
      graft.operators.Hybrid.bm25Hits(docs, "doc_id", "text", queries, "qid", "qtext")
        .orderBy("qid", "doc_id")
    }, Oracle(
      // replays interpolated KN's integer face: even-doc training
      // bigram counts, continuation counts derived from the SAME
      // table, then the three-way mass classification per scored
      // position; <2-token docs would surface 0s via the join-back
      // BM25's integer half: the same tokenize → semi-join → tf/df/dl
      // pipeline as the scorer, counts only — every column replays
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |           FROM documents),
          |tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM t),
          |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS token FROM t
          |      WHERE doc_id % 250 = 0),
          |tf AS (SELECT tok.doc_id, tok.token, COUNT(*) AS tf, MIN(tok.dl) AS dl
          |       FROM tok WHERE tok.token IN (SELECT DISTINCT token FROM q)
          |       GROUP BY tok.doc_id, tok.token),
          |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
          |SELECT q.qid, tf.doc_id,
          |       CAST(COUNT(*) AS BIGINT) AS n_terms,
          |       CAST(SUM(tf.tf) AS BIGINT) AS tf_sum,
          |       CAST(SUM(df.df) AS BIGINT) AS df_sum,
          |       CAST(MIN(tf.dl) AS BIGINT) AS dl
          |FROM q JOIN tf ON q.token = tf.token JOIN df ON q.token = df.token
          |GROUP BY q.qid, tf.doc_id ORDER BY q.qid, tf.doc_id""".stripMargin)),

    Face("ann_bruteforce_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, q, 10).orderBy("qid", "rank")
    }, Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |scored AS (
          |  SELECT q.qid, e.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM q JOIN embeddings e ON e.vec_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // D15: Matryoshka two-stage retrieval — prefix-cosine candidate
    // generation (first 16 of 64 dims) + exact full-dim re-rank of
    // the bounded top-32. Both stages deterministic double arithmetic
    // (slice + index-ordered cosine), so the WHOLE composition —
    // stage-1 cut included — replays in DuckDB under the hash gate
    // (unlike the trained IVF/LSH routes, nothing needs pinning)
    Face("ann_matryoshka_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.matryoshkaTopK(e, q, k = 10, prefixDim = 16, rerank = 32)
        .orderBy("qid", "rank")
    }, Oracle(
      // matryoshka replay: prefix slices via list slicing, the
      // stage-1 top-32 cut as a window (same (score DESC, id) law as
      // the bounded aggregate), exact re-rank over the candidates
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |s1 AS (
          |  SELECT q.qid, e.vec_id,
          |         ${cosSql("q.qvec[1:16]", "e.embedding[1:16]")} AS pcos
          |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
          |cand AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rn
          |    FROM s1)
          |  WHERE rn <= 32),
          |scored AS (
          |  SELECT c.qid, c.vec_id,
          |         ${cosSql("q.qvec", "e.embedding")} AS cos
          |  FROM cand c JOIN embeddings e USING (vec_id) JOIN q USING (qid))
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // D16: binary-quantized retrieval — sign-bit fingerprints (32
    // bits/word so every word is a small positive sum both engines
    // share), hamming-ranked candidates under the (ham ASC, id ASC)
    // law, exact cosine re-rank of the bounded top-32. Integer stage
    // 1 + proven-parity stage 2 ⇒ the whole composition replays in
    // DuckDB — hash-green with ties handled identically
    Face("ann_binary_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.binaryTopK(e, q, k = 10, dim = 64, rerank = 32)
        .orderBy("qid", "rank")
    }, Oracle(
      // binary-quantization replay: 32-bit sign words as list sums,
      // hamming via bit_count(xor) over the two words, the stage-1
      // cut as a (ham ASC, id ASC) window, exact re-rank on top
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |qb AS (SELECT qid, qvec,
          |         [CAST(list_sum([CASE WHEN qvec[32*w + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
          |                         ELSE CAST(0 AS BIGINT) END for i in range(0, 32)]) AS BIGINT)
          |          for w in range(0, 2)] AS bits
          |       FROM q),
          |cb AS (SELECT vec_id,
          |         [CAST(list_sum([CASE WHEN embedding[32*w + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
          |                         ELSE CAST(0 AS BIGINT) END for i in range(0, 32)]) AS BIGINT)
          |          for w in range(0, 2)] AS bits
          |       FROM embeddings),
          |s1 AS (SELECT qb.qid, cb.vec_id,
          |         bit_count(xor(qb.bits[1], cb.bits[1])) + bit_count(xor(qb.bits[2], cb.bits[2])) AS ham
          |       FROM qb JOIN cb ON cb.vec_id <> qb.qid),
          |cand AS (SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
          |    FROM s1) WHERE rn <= 32),
          |scored AS (
          |  SELECT c.qid, c.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
          |  FROM cand c JOIN embeddings e USING (vec_id) JOIN q USING (qid))
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // D14/SQL: BigQuery's VECTOR_SEARCH TVF through GraftSql.load —
    // two calls in ONE statement (COSINE and default-EUCLIDEAN
    // distance), exercising the multi-occurrence rewrite. Both
    // distance types replay in DuckDB as index-ordered list folds
    // (the D1 oracle recipe); top-k cut ties can't occur (all
    // fixture vectors distinct), so the window replay is exact
    Face("sql_vector_search", (s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("vsq_base")
      Tables.embeddings(s, d).filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding"))
        .createOrReplaceTempView("vsq_q")
      graft.GraftSql.load(s,
        """SELECT * FROM (
          |  SELECT 'cos' AS face, query.qid AS qid, base.vec_id AS vec_id, distance
          |  FROM VECTOR_SEARCH(TABLE vsq_base, 'embedding', TABLE vsq_q,
          |                     top_k => 10, distance_type => 'COSINE')
          |  UNION ALL
          |  SELECT 'l2' AS face, query.qid AS qid, base.vec_id AS vec_id, distance
          |  FROM VECTOR_SEARCH(TABLE vsq_base, 'embedding', TABLE vsq_q, top_k => 10)
          |) ORDER BY face, qid, distance, vec_id""".stripMargin)
    }, Oracle(
      // VECTOR_SEARCH replay: same q×base scoring as ann_bruteforce,
      // but BigQuery semantics — self-match INCLUDED, distance =
      // 1−cos / L2 (index-ordered list folds), smallest first
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |cos_d AS (
          |  SELECT q.qid, e.vec_id,
          |         1.0 - (${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")}))) AS distance
          |  FROM q JOIN embeddings e ON TRUE),
          |l2_d AS (
          |  SELECT q.qid, e.vec_id,
          |         sqrt(list_aggregate(list_transform(list_zip(q.qvec, e.embedding),
          |              x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))*(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))),
          |              'sum')) AS distance
          |  FROM q JOIN embeddings e ON TRUE),
          |both_f AS (
          |  SELECT 'cos' AS face, qid, vec_id, distance,
          |         row_number() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
          |  FROM cos_d
          |  UNION ALL
          |  SELECT 'l2' AS face, qid, vec_id, distance,
          |         row_number() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
          |  FROM l2_d)
          |SELECT face, qid, vec_id, distance FROM both_f
          |WHERE rn <= 10 ORDER BY face, qid, distance, vec_id""".stripMargin)),
    // A35 options surface (round 13): VECTOR_SEARCH routed through a
    // CREATE VECTOR INDEX cell layout. fraction_lists_to_search=1.0
    // probes every list, so the probed-cell union covers the corpus
    // and the result equals brute force bit-for-bit — gating the DDL,
    // the centroid training, the probe ranking, the partition-filter
    // route and the exact re-rank against a fully independent oracle;
    // the nprobe < num_lists pruning behavior is spec-pinned
    // (TypedSqlSpec checks the pruned scan reads fewer files)
    Face("sql_vector_search_ivf", (s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("vsi_base")
      Tables.embeddings(s, d).filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding"))
        .createOrReplaceTempView("vsi_q")
      graft.GraftSql.load(s,
        """CREATE VECTOR INDEX IF NOT EXISTS vsi_idx ON vsi_base(embedding)
          |OPTIONS(index_type = 'IVF', distance_type = 'COSINE',
          |        ivf_options = '{"num_lists": 4}')""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT query.qid AS qid, base.vec_id AS vec_id, distance
          |FROM VECTOR_SEARCH(TABLE vsi_base, 'embedding', TABLE vsi_q,
          |                   top_k => 10, distance_type => 'COSINE',
          |                   options => '{"use_brute_force": false, "fraction_lists_to_search": 1.0}')
          |ORDER BY qid, distance, vec_id""".stripMargin)
    }, Oracle(
      // the IVF-indexed route with fraction_lists_to_search = 1.0
      // probes every cell, so the independent replay is exactly the
      // brute-force cosine top-10
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |cos_d AS (
          |  SELECT q.qid, e.vec_id,
          |         1.0 - (${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")}))) AS distance
          |  FROM q JOIN embeddings e ON TRUE),
          |r AS (SELECT qid, vec_id, distance,
          |        row_number() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
          |      FROM cos_d)
          |SELECT qid, vec_id, distance FROM r WHERE rn <= 10
          |ORDER BY qid, distance, vec_id""".stripMargin)),
    // the 4×-narrower-corpus routing of D1: float queries score int8
    // codes directly (cosine is scale-invariant) — oracle recomputes
    // the same quantization in SQL, so this one IS hash-checkable
    Face("ann_bruteforce_int8", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopKInt8(e, q, 10).orderBy("qid", "rank")
    }, Oracle(
        s"""WITH qz AS (SELECT vec_id, embedding,
          |              list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |            FROM embeddings),
          |codes AS (SELECT vec_id,
          |            list_transform(embedding, e -> round(CAST(e AS DOUBLE) * 127 / s)) AS c
          |          FROM qz),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |scored AS (
          |  SELECT q.qid, c.vec_id,
          |         ${dot("q.qvec", "c.c")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("c.c", "c.c")})) AS cos
          |  FROM q JOIN codes c ON c.vec_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // D10: MMR diversification of a brute-force top-20 candidate list
    // (λ=0.75 so 1−λ=0.25 is exactly representable in both engines);
    // candidates carry their vectors via a corpus self-join, the fold
    // replays in SQL as m chained argmax steps
    Face("search_mmr", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val cands = Similarity.bruteForceTopK(e, q, 20)
        .join(e.select(F.col("vec_id"), F.col("embedding")), Seq("vec_id"))
      Similarity.mmrRerank(cands, m = 8, lambda = 0.75)
        .orderBy("qid", "mmr_rank")
    }, Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
           |scored AS (
           |  SELECT q.qid, e.vec_id, e.embedding AS vec, ${cosSql("q.qvec", "e.embedding")} AS score
           |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
           |cand AS (
           |  SELECT qid, vec_id, vec, score FROM (
           |    SELECT qid, vec_id, vec, score,
           |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
           |    FROM scored) WHERE rank <= 20),
           |p1 AS (
           |  SELECT qid, vec_id, vec, 0.75*score AS mmr FROM cand
           |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id) = 1),
           |s1 AS (SELECT qid, [vec_id] AS ids, [vec] AS vecs FROM p1),
           |$mmrSteps
           |u AS (
           |  $mmrUnion)
           |SELECT qid, vec_id, CAST(r AS INT) AS mmr_rank, mmr AS mmr_score
           |FROM u ORDER BY qid, mmr_rank""".stripMargin)),
    Face("ann_lsh_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.lshTopK(e, q, 10).orderBy("qid", "rank")
    }, RowsOnly("seeded random-hyperplane LSH has no DuckDB equivalent; recall is pinned in SimilaritySpec and the banding logic is hash-gated by ann_lsh_topk_pinned")),
    // the LSH routing under a FULL hash oracle (the D3b recipe applied
    // to hyperplanes): planes pinned to every-64th corpus vectors, so
    // signature signs, banding, the bucket join, and the exact-cosine
    // re-rank all replay in DuckDB. ann_lsh_topk keeps the
    // random-family face (rows-only, recall-pinned)
    Face("ann_lsh_topk_pinned", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val planes = e.filter(F.col("vec_id") % 64 === 2).orderBy("vec_id").limit(16)
        .select(F.col("vec_id").as("pid"), F.col("embedding").as("pvec"))
      Similarity.lshTopKPinned(e, q, 10, planes, bands = 4).orderBy("qid", "rank")
    }, Oracle(
      // term-for-term replay of the pinned-centroid IVF routing:
      // NearestCell normalizes each centroid component first (x/nrm,
      // double), then dots the raw float vector against it — the CASE
      // keeps a zero-norm centroid unnormalized, as compute() does.
      // Probe ranking and the in-cell top-k use the CosineSim formula
      // (dot / (sqrt(qq) * sqrt(cc))); all ties break on the lower id,
      // matching the aggregates' (score desc, id asc) contract.
      // replays the pinned hyperplane-LSH routing: dense plane
      // positions by pid rank, bit = (dot > 0) — sign-identical to the
      // Spark side's cosine > 0 (positive norms never flip a sign, and
      // a zero dot is not-positive through both spellings) — bucket =
      // Σ bit·2^(pos mod bandBits) per band, candidate join on
      // (band, bucket), exact-cosine top-10 by (cos DESC, vec_id)
        s"""WITH pl0 AS (
          |  SELECT vec_id AS pid, embedding AS pvec FROM embeddings
          |  WHERE vec_id % 64 = 2 ORDER BY vec_id LIMIT 16),
          |nb AS (SELECT CAST(count(*) // 4 AS INT) AS bits FROM pl0),
          |pl AS (
          |  SELECT pvec,
          |         CAST((rn - 1) // bits AS INT) AS band,
          |         CAST(CAST(1 AS BIGINT) << ((rn - 1) % bits) AS BIGINT) AS w
          |  FROM (SELECT pvec, row_number() OVER (ORDER BY pid) AS rn FROM pl0), nb),
          |csig AS (
          |  SELECT e.vec_id, pl.band,
          |         SUM(CASE WHEN ${dot("e.embedding", "pl.pvec")} > 0 THEN pl.w ELSE 0 END) AS bucket
          |  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id, pl.band),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |qsig AS (
          |  SELECT q.qid, pl.band,
          |         SUM(CASE WHEN ${dot("q.qvec", "pl.pvec")} > 0 THEN pl.w ELSE 0 END) AS bucket
          |  FROM q CROSS JOIN pl GROUP BY q.qid, pl.band),
          |cand AS (
          |  SELECT DISTINCT qsig.qid, csig.vec_id
          |  FROM csig JOIN qsig ON csig.band = qsig.band AND csig.bucket = qsig.bucket
          |  WHERE qsig.qid <> csig.vec_id),
          |scored AS (
          |  SELECT c.qid, c.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM cand c JOIN q ON q.qid = c.qid
          |         JOIN embeddings e ON e.vec_id = c.vec_id)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // fully-quantized candidate path: banding AND scoring on int8
    // codes, float corpus never touched (hyperplane signs are
    // scale-invariant). Recall vs float baseline pinned in
    // SimilaritySpec -> rows-only here like the other LSH paths.
    Face("ann_lsh_int8", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.lshTopKInt8(e, q, 10).orderBy("qid", "rank")
    }, RowsOnly("seeded random-hyperplane LSH over int8 codes has no DuckDB equivalent; recall against the float path is pinned in SimilaritySpec")),

    Face("ann_ivf_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.ivfTopK(e, q, 10, nprobe = 5).orderBy("qid", "rank")
    }, RowsOnly("IVF cells come from k-means training over the corpus; recall against brute force is pinned in SimilaritySpec and the pinned-centroid routing is hash-gated by ann_ivf_topk_pinned")),
    // the IVF routing under a FULL hash oracle: centroids pinned to
    // every 128th corpus vector (taken verbatim from the data, no
    // k-means), so assignment (normalized-centroid dot, lowest-cell
    // tie-break), nprobe cell probing, and the in-cell exact top-k are
    // all deterministic double arithmetic DuckDB replays term-for-term.
    // ann_ivf_topk keeps the trained-centroid face (rows-only,
    // recall-pinned); this row proves the routing machinery itself.
    Face("ann_ivf_topk_pinned", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val cent = e.filter(F.col("vec_id") % 128 === 3)
        .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
      Similarity.ivfTopK(e, q, 10, nprobe = 5, precomputed = Some(cent))
        .orderBy("qid", "rank")
    }, Oracle(
        s"""WITH cent AS (
          |  SELECT vec_id AS cell, embedding AS c,
          |         sqrt(${dot("embedding", "embedding")}) AS nrm
          |  FROM embeddings WHERE vec_id % 128 = 3),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM embeddings e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |probe AS (
          |  SELECT q.qid, cn.cell,
          |         row_number() OVER (PARTITION BY q.qid
          |           ORDER BY ${dot("q.qvec", "cn.c")} /
          |             (sqrt(${dot("q.qvec", "q.qvec")}) * cn.nrm) DESC, cn.cell ASC) AS prn
          |  FROM q CROSS JOIN cn),
          |p AS (SELECT qid, cell FROM probe WHERE prn <= 5),
          |scored AS (
          |  SELECT q.qid, e.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM q JOIN p ON p.qid = q.qid
          |         JOIN a ON a.cell = p.cell
          |         JOIN embeddings e ON e.vec_id = a.vec_id AND e.vec_id <> q.qid)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // product-quantized ADC path (D8): m-byte codes (32× narrower
    // than the float vectors), per-row scoring = m LUT lookups,
    // exact-cosine re-rank of the bounded candidate set. Rows-only:
    // recall vs brute force is pinned in SimilaritySpec
    Face("ann_pq_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.pqTopK(e, q, 10).orderBy("qid", "rank")
    }, RowsOnly("PQ codebooks come from k-means training over the corpus; recall against brute force is pinned in SimilaritySpec and the pinned-codebook ADC path is hash-gated by ann_pq_topk_pinned")),
    // D13: hard-negative mining (the DPR contrastive-training recipe)
    // — top-k highest-cosine corpus items per query EXCLUDING the
    // known positives (qid+1, qid+2 here, an arithmetic relevant set
    // DuckDB re-derives); fetch=20 ≥ k + |positives| so exclusion
    // can't starve a query. Deterministic double arithmetic end to
    // end — full hash oracle
    Face("ann_hard_negatives", (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val pos = (0L until 5L).flatMap(qid => Seq((qid, qid + 1), (qid, qid + 2)))
        .toDF("qid", "vec_id")
      Similarity.hardNegatives(e, q, pos, k = 10, fetch = 20).orderBy("qid", "rank")
    }, Oracle(
      // replays D13: brute-force cosine minus the (qid, qid+1/qid+2)
      // positive pairs, top-10 of the remaining negatives — equal to
      // Spark's fetch-then-anti because fetch >= k + |positives|
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |pos AS (SELECT qid, qid + o AS vec_id
          |        FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
          |             (SELECT unnest([1, 2]) AS o)),
          |scored AS (
          |  SELECT q.qid, e.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM q JOIN embeddings e ON e.vec_id <> q.qid),
          |neg AS (SELECT s.* FROM scored s
          |        LEFT JOIN pos p ON s.qid = p.qid AND s.vec_id = p.vec_id
          |        WHERE p.qid IS NULL)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM neg)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // the PQ ADC + re-rank routing under a FULL hash oracle (the D3b
    // recipe applied to D8): codebooks pinned to the subvector slices
    // of every 32nd corpus vector (16 anchors, no k-means), so encode
    // (normalized L2 argmin, lowest-code tie-break), the per-query
    // LUT, the ADC candidate cut, and the exact-cosine re-rank are all
    // deterministic double arithmetic DuckDB replays term-for-term.
    // ann_pq_topk keeps the trained-codebook face (rows-only,
    // recall-pinned in SimilaritySpec).
    Face("ann_pq_topk_pinned", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      Similarity.pqTopK(e, q, 10, m = 8, rerank = 64,
          codebooks = Some(pinnedPqCodebooks(e)))
        .orderBy("qid", "rank")
    }, Oracle(
      // term-for-term replay of the pinned-codebook PQ routing: encode
      // = argmin squared L2 of each NORMALIZED subvector over the 16
      // anchor slices (lowest code on ties); lut = RAW query subvector
      // dotted with each anchor slice; adc sums the m lut hits in
      // subquantizer order (list(... ORDER BY s) keeps the IEEE
      // accumulation order of the native expression); rerank-64 cut by
      // (adc DESC, vec_id), final top-10 by exact cosine
        s"""WITH anch AS (
          |  SELECT (vec_id - 1) // 32 AS j, embedding AS a
          |  FROM embeddings WHERE vec_id % 32 = 1
          |  ORDER BY vec_id LIMIT 256),
          |sub AS (
          |  SELECT sq.s, anch.j, list_slice(anch.a, sq.s*8 + 1, sq.s*8 + 8) AS c
          |  FROM anch CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sq),
          |nv AS (
          |  SELECT vec_id, sqrt(${dot("embedding", "embedding")}) AS nrm, embedding
          |  FROM embeddings),
          |nvn AS (
          |  SELECT vec_id,
          |         CASE WHEN nrm > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
          |              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
          |  FROM nv),
          |enc AS (
          |  SELECT nvn.vec_id, sub.s, sub.j,
          |         row_number() OVER (PARTITION BY nvn.vec_id, sub.s ORDER BY
          |           list_aggregate(list_transform(list_zip(list_slice(nvn.v, sub.s*8 + 1, sub.s*8 + 8), sub.c),
          |             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum') ASC,
          |           sub.j ASC) AS rn
          |  FROM nvn CROSS JOIN sub),
          |codes AS (SELECT vec_id, s, j FROM enc WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |lut AS (
          |  SELECT q.qid, sub.s, sub.j,
          |         ${dot("list_slice(q.qvec, sub.s*8 + 1, sub.s*8 + 8)", "sub.c")} AS pdot
          |  FROM q CROSS JOIN sub),
          |adc AS (
          |  SELECT l.qid, c.vec_id,
          |         list_aggregate(list(l.pdot ORDER BY l.s), 'sum') AS adc
          |  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.j
          |  WHERE c.vec_id <> l.qid
          |  GROUP BY l.qid, c.vec_id),
          |cand AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
          |    FROM adc) WHERE rn <= 64),
          |scored AS (
          |  SELECT cand.qid, cand.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM cand JOIN q ON q.qid = cand.qid
          |            JOIN embeddings e ON e.vec_id = cand.vec_id)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // D12: IVF-PQ composed — the FAISS production shape: pinned
    // centroids route each query to nprobe cells (PartitionFilters
    // prune the layout listing), the pruned scan ADC-scores m bytes
    // per vector, the bounded candidate set re-ranks exact-cosine
    // against the float column of the same pruned cells. Layout built
    // once per (JVM, sf). Under a FULL hash oracle: the pinned
    // centroids + codebooks make the whole composition deterministic
    // (D3b assignment/probe + D8b encode/LUT/ADC replayed in DuckDB);
    // SimilaritySpec additionally pins recall AND the probe-all ≡
    // plain-PQ bit-equality reduction
    Face("ann_ivfpq_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      val cent = e.filter(F.col("vec_id") % 128 === 3)
        .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
      val cb = pinnedPqCodebooks(e)
      val path = Scratch.fixture(d, "ivfpq")(Similarity.writeIvfPqLayout(e, _, cent, cb))
      Similarity.ivfPqTopK(s, path, q, 10, cent, cb, nprobe = 5, rerank = 64)
        .orderBy("qid", "rank")
    }, Oracle(
      // replays the COMPOSED IVF-PQ (D12) end to end: the D3b pinned
      // assignment/probe block routes each query to its 5 cells, the
      // D8b pinned encode/LUT/ADC block scores ONLY vectors in those
      // cells, rerank-64 cut by (adc DESC, vec_id), final top-10 by
      // exact cosine — every stage deterministic double arithmetic
        s"""WITH cent AS (
          |  SELECT vec_id AS cell, embedding AS c,
          |         sqrt(${dot("embedding", "embedding")}) AS nrm
          |  FROM embeddings WHERE vec_id % 128 = 3),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM embeddings e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |probe AS (
          |  SELECT q.qid, cn.cell,
          |         row_number() OVER (PARTITION BY q.qid
          |           ORDER BY ${dot("q.qvec", "cn.c")} /
          |             (sqrt(${dot("q.qvec", "q.qvec")}) * cn.nrm) DESC, cn.cell ASC) AS prn
          |  FROM q CROSS JOIN cn),
          |p AS (SELECT qid, cell FROM probe WHERE prn <= 5),
          |anch AS (
          |  SELECT (vec_id - 1) // 32 AS j, embedding AS a
          |  FROM embeddings WHERE vec_id % 32 = 1
          |  ORDER BY vec_id LIMIT 256),
          |sub AS (
          |  SELECT sq.s, anch.j, list_slice(anch.a, sq.s*8 + 1, sq.s*8 + 8) AS c
          |  FROM anch CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sq),
          |nv AS (
          |  SELECT vec_id, sqrt(${dot("embedding", "embedding")}) AS nrm, embedding
          |  FROM embeddings),
          |nvn AS (
          |  SELECT vec_id,
          |         CASE WHEN nrm > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
          |              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
          |  FROM nv),
          |enc AS (
          |  SELECT nvn.vec_id, sub.s, sub.j,
          |         row_number() OVER (PARTITION BY nvn.vec_id, sub.s ORDER BY
          |           list_aggregate(list_transform(list_zip(list_slice(nvn.v, sub.s*8 + 1, sub.s*8 + 8), sub.c),
          |             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum') ASC,
          |           sub.j ASC) AS rn
          |  FROM nvn CROSS JOIN sub),
          |codes AS (SELECT vec_id, s, j FROM enc WHERE rn = 1),
          |lut AS (
          |  SELECT q.qid, sub.s, sub.j,
          |         ${dot("list_slice(q.qvec, sub.s*8 + 1, sub.s*8 + 8)", "sub.c")} AS pdot
          |  FROM q CROSS JOIN sub),
          |adc AS (
          |  SELECT l.qid, c.vec_id,
          |         list_aggregate(list(l.pdot ORDER BY l.s), 'sum') AS adc
          |  FROM codes c
          |  JOIN a ON a.vec_id = c.vec_id
          |  JOIN p ON p.cell = a.cell
          |  JOIN lut l ON l.qid = p.qid AND l.s = c.s AND l.j = c.j
          |  WHERE c.vec_id <> l.qid
          |  GROUP BY l.qid, c.vec_id),
          |cand AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, vec_id,
          |           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
          |    FROM adc) WHERE rn <= 64),
          |scored AS (
          |  SELECT cand.qid, cand.vec_id,
          |         ${dot("q.qvec", "e.embedding")} /
          |           (sqrt(${dot("q.qvec", "q.qvec")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos
          |  FROM cand JOIN q ON q.qid = cand.qid
          |            JOIN embeddings e ON e.vec_id = cand.vec_id)
          |SELECT qid, vec_id, cos, rank FROM (
          |  SELECT qid, vec_id, cos,
          |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
  )
}
