package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import graft.operators.Dedup
import Kit._

/** Driver faces of section C, the dedup family. */
private[graft] object DedupFaces {

      // the whole k-means training loop replayed: same quantization as
      // the int8 faces, seeds = 8 lowest ids (cluster id = rank), two
      // unrolled Lloyd iterations with exact integer centroid sums,
      // final strict fold-order assignment
  private[faces] val clusterKmeansOracleSql: String =
        s"""WITH qz AS (SELECT vec_id, embedding,
          |              list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |            FROM embeddings),
          |km_codes AS (SELECT vec_id,
          |               list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 127 / s) AS BIGINT)) AS v
          |             FROM qz),
          |km_seeds AS (SELECT vec_id FROM km_codes ORDER BY vec_id LIMIT 8),
          |kc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
          |               list_transform(v, x -> CAST(x AS DOUBLE)) AS c
          |        FROM km_codes WHERE vec_id IN (SELECT vec_id FROM km_seeds)),
          |${kmIter(1)}
          |${kmIter(2)}
          |fin AS (SELECT cd.vec_id, cc.cluster, ${kmDist("cd.v", "cc.c")} AS dist
          |        FROM km_codes cd CROSS JOIN kc2 cc)
          |SELECT vec_id, cluster, dist FROM (
          |  SELECT vec_id, cluster, dist,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
          |  FROM fin) WHERE rn = 1 ORDER BY vec_id""".stripMargin

  val all: Seq[Face] = Seq(
    Face("dedup_exact", (s, d) => {
      Dedup.exact(Tables.documents(s, d), "text", "doc_id").orderBy("keep_id")
    }, Oracle(
        """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),
    Face("dedup_minhash_lsh", (s, d) => {
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text").orderBy("id_a", "id_b")
    }, RowsOnly("seeded MinHash permutations have no DuckDB equivalent; the pinned-hash pipeline is hash-gated by dedup_minhash_lsh_pinned")),
    // the md5-pinned face of the above: same LSH pipeline shape
    // (signature -> bands -> bucket join -> estimate filter), every
    // hash an explicit md5 so DuckDB replays the WHOLE pipeline —
    // candidate generation included — as list arithmetic. The corpus
    // gets a re-keyed copy of every 50th doc (like the droplist_exact
    // faces) so true duplicates are guaranteed in the candidate set
    Face("dedup_minhash_lsh_pinned", (s, d) => {
      val docs = Tables.documents(s, d, fanOut = true).select("doc_id", "text")
      val rekeyed = docs.filter(F.col("doc_id") % 50 === 0)
        .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
      Dedup.minhashPairsPinned(docs.unionByName(rekeyed), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }, Oracle(
      // list-arithmetic replay of the exact shingle Jaccard: same
      // tokenization (lower/trim/\s+), same distinct 3-token windows
      // (short docs -> one whole-doc shingle via the greatest/least
      // clamps), same inter/union division
      // full-pipeline replay of the pinned MinHash-LSH face: same
      // tokenization/shingles as the jaccard oracle, signature slot i =
      // min md5('i:' || shingle) (hex minima order identically in both
      // engines), band bucket = md5 of the '|'-joined 3-slot slice,
      // candidate pairs from the bucket self-join, estimate = matching
      // slots / 12
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
          |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |      FROM corpus),
          |sh AS (SELECT doc_id,
          |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
          |           i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS s
          |       FROM t),
          |sig AS (SELECT doc_id,
          |          [list_min(list_transform(s, x -> md5(i::VARCHAR || ':' || x)))
          |           for i in range(0, 12)] AS sig
          |        FROM sh WHERE len(s) > 0),
          |band AS (SELECT doc_id,
          |           b, md5(array_to_string(sig[b*3+1 : b*3+3], '|')) AS bucket
          |         FROM sig, range(0, 4) AS r(b)),
          |c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |      FROM band a JOIN band b
          |        ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
          |e AS (SELECT id_a, id_b,
          |        CAST(len([1 for i in range(1, 13) if sa.sig[i] = sb.sig[i]]) AS DOUBLE) / 12
          |          AS est_jaccard
          |      FROM c JOIN sig sa ON c.id_a = sa.doc_id
          |             JOIN sig sb ON c.id_b = sb.doc_id)
          |SELECT id_a, id_b, est_jaccard FROM e
          |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin)),
    // linear-output routing of the above (see dedup_embedding_droplist)
    Face("dedup_text_droplist", (s, d) => {
      Dedup.textDropList(Tables.documents(s, d), "doc_id", "text").orderBy("drop_id")
    }, RowsOnly("the drop-list routing of the seeded MinHash family; the exact routing is hash-gated by dedup_text_droplist_exact")),
    // the droplist's EXACT half under a full hash oracle: reason-filter
    // pushes through the union and folds the randomized LSH branch to
    // an empty relation (PlanSpec-asserted), leaving the deterministic
    // content-hash collapse — min-id witness per duplicate. The corpus
    // is the documents table plus a re-keyed copy of every 50th doc
    // (the small SFs carry no exact duplicates; same derived-fixture
    // pattern as the fx target/batch queries, modeled identically in
    // the oracle)
    Face("dedup_text_droplist_exact", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val rekeyed = docs.filter(F.col("doc_id") % 50 === 0)
        .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
      Dedup.textDropList(docs.unionByName(rekeyed), "doc_id", "text")
        .filter(F.col("reason") === "exact").orderBy("drop_id")
    }, Oracle(
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
          |rep AS (
          |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
          |  FROM corpus GROUP BY md5(text))
          |SELECT c.doc_id AS drop_id, r.keep_id,
          |       'exact' AS reason, CAST(1.0 AS DOUBLE) AS est_jaccard
          |FROM corpus c JOIN rep r ON md5(c.text) = r.h
          |WHERE c.doc_id <> r.keep_id
          |ORDER BY drop_id""".stripMargin)),
    // the exact all-pairs face of C4 (no banding): every pair's true
    // shingle Jaccard, fully replayed by DuckDB list arithmetic — the
    // hash gate for the shingle/jaccard machinery the LSH face reuses.
    // All-pairs is the point here, so the input is CAPPED at a
    // calibration size (doc_id < 1000 — the full sf0.01 slice, a
    // bounded prefix of larger sfs): the algebra pins identically,
    // and the n² term stops scaling with sf (round 16 — this face was
    // 8% of the r15 driver sweep at sf0.1 for zero added coverage).
    // Corpus-scale routing stays dedup_ngram_jaccard.
    Face("dedup_ngram_jaccard_exact", (s, d) => {
      Dedup.ngramJaccardAllPairs(
          Tables.documents(s, d)
            .filter(F.col("doc_id") % 2 === 0 && F.col("doc_id") < 1000),
          "doc_id", "text")
        .orderBy("id_a", "id_b")
    }, Oracle(
        """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
          |           FROM documents WHERE doc_id % 2 = 0 AND doc_id < 1000),
          |sh AS (SELECT doc_id,
          |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
          |           i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS s
          |       FROM t),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |             len(list_intersect(a.s, b.s)) AS inter,
          |             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS un
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b,
          |       CASE WHEN un = 0 THEN 1.0 ELSE CAST(inter AS DOUBLE) / un END AS jaccard
          |FROM p
          |WHERE CASE WHEN un = 0 THEN 1.0 ELSE CAST(inter AS DOUBLE) / un END >= 0.5
          |ORDER BY id_a, id_b""".stripMargin)),
    Face("dedup_simhash", (s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text").orderBy("id_a", "id_b")
    }, RowsOnly("seeded SimHash token hashing has no DuckDB equivalent; the pinned pipeline is hash-gated by dedup_simhash_pinned")),
    // the md5-pinned face of the above (the C2b pattern): 32-bit
    // fingerprint from md5-prefix token hashes, so vote fold, banding,
    // candidate join and bit_count verify ALL replay in DuckDB;
    // re-keyed every-50th duplicates guarantee hamming-0 pairs
    Face("dedup_simhash_pinned", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val rekeyed = docs.filter(F.col("doc_id") % 50 === 0)
        .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
      Dedup.simhashPairsPinned(docs.unionByName(rekeyed), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }, Oracle(
      // replays the pinned SimHash pipeline term-for-term: 52-bit
      // md5-prefix token hash, ±1 vote per bit with token MULTIPLICITY
      // (every occurrence votes), bit set iff the sum is strictly
      // positive, 4×13-bit banding, bit_count(xor) verify ≤ 4
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
          |tok AS (SELECT doc_id,
          |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          |        FROM corpus),
          |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT) AS h FROM tok),
          |vote AS (SELECT doc_id, j,
          |           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |         FROM h, UNNEST(generate_series(0, 51)) AS g(j)
          |         GROUP BY doc_id, j),
          |sim AS (SELECT doc_id,
          |          CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
          |            AS sim
          |        FROM vote GROUP BY doc_id),
          |banded AS (SELECT doc_id, sim, band, (sim >> (band * 13)) & 8191 AS bucket
          |           FROM sim, UNNEST(generate_series(0, 3)) AS bb(band)),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |                CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
          |         FROM banded a JOIN banded b
          |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
          |SELECT id_a, id_b, hamming FROM cand
          |WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin)),
    Face("dedup_ngram_jaccard", (s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text").orderBy("id_a", "id_b")
    }, RowsOnly("MinHash-banded candidates from a seeded hash family; the all-pairs n-gram Jaccard algebra is hash-gated by dedup_ngram_jaccard_exact")),
    Face("dedup_embedding", (s, d) => {
      Dedup.embeddingPairs(Tables.embeddings(s, d), "vec_id", "embedding", "label", threshold = 0.35)
        .orderBy("id_a", "id_b")
    }, Oracle(
        s"""WITH p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |         ${dot("a.embedding", "b.embedding")} AS dp,
          |         sqrt(${dot("a.embedding", "a.embedding")}) AS na,
          |         sqrt(${dot("b.embedding", "b.embedding")}) AS nb
          |  FROM embeddings a JOIN embeddings b
          |    ON a.label = b.label AND a.vec_id < b.vec_id)
          |SELECT id_a, id_b, dp/(na*nb) AS cos FROM p
          |WHERE dp/(na*nb) >= 0.35 ORDER BY id_a, id_b""".stripMargin)),
    // cross-cell variant: LSH banding candidates + exact cosine verify
    // (no blocking column needed; no DuckDB equivalent for the
    // hyperplane family -> rows-only, recall/exactness in DedupSpec)
    Face("dedup_embedding_lsh", (s, d) => {
      Dedup.embeddingPairsLsh(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
        .orderBy("id_a", "id_b")
    }, RowsOnly("seeded random-hyperplane LSH candidates have no DuckDB equivalent; recall and exactness are pinned in DedupSpec")),
    // linear-output routing of the above: the DROP LIST a dedup
    // pipeline actually consumes — exact clusters collapse before the
    // LSH stage, each duplicate id appears exactly once (pairs are
    // quadratic in cluster size; see Dedup.embeddingDropList scaladoc)
    Face("dedup_embedding_droplist", (s, d) => {
      Dedup.embeddingDropList(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
        .orderBy("drop_id")
    }, RowsOnly("the drop-list routing of dedup_embedding_lsh's seeded hyperplane family; the exact routing is hash-gated by dedup_embedding_droplist_exact")),

    // the embedding droplist's EXACT half under a full hash oracle —
    // same construction as dedup_text_droplist_exact: the reason
    // filter folds the randomized LSH branch away, leaving the
    // vector-VALUE collapse (DuckDB groups by the list directly);
    // duplicates derive from a re-keyed copy of every 50th vector
    Face("dedup_embedding_droplist_exact", (s, d) => {
      val vecs = Tables.embeddings(s, d).select("vec_id", "embedding")
      val rekeyed = vecs.filter(F.col("vec_id") % 50 === 0)
        .select((F.col("vec_id") + 100000L).as("vec_id"), F.col("embedding"))
      Dedup.embeddingDropList(vecs.unionByName(rekeyed), "vec_id", "embedding", threshold = 0.35)
        .filter(F.col("reason") === "exact").orderBy("drop_id")
    }, Oracle(
        """WITH corpus AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
          |rep AS (
          |  SELECT embedding AS v, MIN(vec_id) AS keep_id
          |  FROM corpus GROUP BY embedding)
          |SELECT c.vec_id AS drop_id, r.keep_id,
          |       'exact' AS reason, CAST(1.0 AS DOUBLE) AS cos
          |FROM corpus c JOIN rep r ON c.embedding = r.v
          |WHERE c.vec_id <> r.keep_id
          |ORDER BY drop_id""".stripMargin)),

    // transitive duplicate clusters: connected components over the
    // near-dup pair set (alternating large-star/small-star, O(log²)
    // rounds of keyed shuffles); every id gets its canonical min-id
    // root — the oracle recomputes the same clusters with a DuckDB
    // recursive CTE (transitive closure, fine at oracle scale)
    // C15 (round 14): fuzzy string join — q-gram banded candidates +
    // exact levenshtein verify. Supplier names are long enough
    // (≥ q·(k+1)) that the banding is provably COMPLETE, so the DuckDB
    // oracle is the INDEPENDENT all-pairs levenshtein — a hash match
    // proves the candidate generation lost nothing
    Face("dedup_fuzzy_pairs", (s, d) => {
      Dedup.editDistancePairs(Tables.supplier(s, d), "s_suppkey", "s_name", maxDist = 1)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // the INDEPENDENT all-pairs verify: banding completeness means
      // the candidate route must reproduce the brute-force answer
        """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
          |       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
          |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
          |WHERE levenshtein(a.s_name, b.s_name) <= 1
          |ORDER BY id_a, id_b""".stripMargin)),

    Face("dedup_clusters", (s, d) => {
      val pairs = Dedup.embeddingPairs(
        Tables.embeddings(s, d), "vec_id", "embedding", "label", threshold = 0.35)
      Dedup.connectedComponents(pairs, "id_a", "id_b").orderBy("id")
    }, Oracle(
      // same pair set as dedup_embedding; components via recursive-CTE
      // transitive closure (quadratic in cluster size — oracle-only;
      // the engine runs the O(log²)-round star algorithm)
        s"""WITH RECURSIVE
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM embeddings a JOIN embeddings b
          |    ON a.label = b.label AND a.vec_id < b.vec_id
          |  WHERE ${dot("a.embedding", "b.embedding")} /
          |        (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) >= 0.35),
          |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e
          |  UNION
          |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id),
          |root AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id)
          |SELECT r.id, r.root, c.cluster_size
          |FROM root r JOIN (SELECT root, COUNT(*) AS cluster_size FROM root GROUP BY root) c USING (root)
          |ORDER BY id""".stripMargin)),
    // C13: SemDeDup over the replica-decorated embeddings with PINNED
    // centroids (the D3b recipe: every 128th vector verbatim), so
    // assignment, within-cell pairs, components, and the
    // boundary-keep rule (lowest cos-to-centroid, id tie) are all
    // deterministic double arithmetic the oracle replays term-for-term
    Face("dedup_semantic", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cent = e.filter(F.col("vec_id") % 128 === 3)
        .select(F.col("vec_id").as("cell"), F.col("embedding").as("centroid"))
      Dedup.semanticDedup(semanticFixture(e), "vec_id", "embedding", cent, tau = 0.98)
        .orderBy("vec_id")
    }, Oracle(
      // term-for-term SemDeDup replay: decorated corpus, pinned-cell
      // assignment (normalized-centroid dot, lowest cell on ties),
      // within-cell pairs at cos >= 0.98, recursive-CTE components
      // (min-root, the C9 contract), keep = per-root argmin of
      // (cos_to_centroid, id)
        s"""WITH RECURSIVE
          |ed AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
          |  FROM embeddings WHERE vec_id % 20 = 0
          |  UNION ALL
          |  SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id % 40 = 0),
          |cent AS (
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
          |  FROM ed e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |cc AS (
          |  SELECT a.vec_id, a.cell, ${cosSql("e.embedding", "cn.c")} AS ccos
          |  FROM a JOIN ed e USING (vec_id) JOIN cn ON cn.cell = a.cell),
          |p AS (
          |  SELECT ax.vec_id AS id_a, ay.vec_id AS id_b
          |  FROM a ax JOIN a ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          |       JOIN ed ex ON ex.vec_id = ax.vec_id
          |       JOIN ed ey ON ey.vec_id = ay.vec_id
          |  WHERE ${cosSql("ex.embedding", "ey.embedding")} >= 0.98),
          |e2 AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e2
          |  UNION
          |  SELECT e2.u, reach.r FROM e2 JOIN reach ON e2.v = reach.id),
          |rt AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id),
          |kp AS (
          |  SELECT root, id AS keep_id FROM (
          |    SELECT rt.root, rt.id,
          |           row_number() OVER (PARTITION BY rt.root ORDER BY cc.ccos ASC, rt.id ASC) AS krn
          |    FROM rt JOIN cc ON cc.vec_id = rt.id) t
          |  WHERE krn = 1)
          |SELECT cc.vec_id, cc.cell, COALESCE(rt.root, cc.vec_id) AS component,
          |       cc.ccos AS cos_centroid,
          |       (rt.id IS NULL OR cc.vec_id = kp.keep_id) AS keep
          |FROM cc LEFT JOIN rt ON rt.id = cc.vec_id
          |        LEFT JOIN kp ON kp.root = rt.root
          |ORDER BY vec_id""".stripMargin)),

    // C13b: the PUBLISHED SemDeDup recipe end to end — k-means the
    // embeddings (D17's deterministic int8 loop), then dedup within
    // the LEARNED cells (dedup_semantic's pinned-centroid face gates
    // the dedup half alone; this face gates train + assignment + pairs
    // + components + keep rule as ONE replay)
    Face("dedup_semantic_kmeans", (s, d) => {
      val e = Tables.embeddings(s, d)
      val codes = e
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
      val cents = graft.operators.Clustering.kmeansTrain(codes, k = 8, iters = 2)
      Dedup.semanticDedup(semanticFixture(e), "vec_id", "embedding",
          graft.operators.Clustering.centroidsFrame(s, cents), tau = 0.98)
        .orderBy("vec_id")
    }, Oracle(
      // the full published SemDeDup pipeline in one replay: the
      // kmeans training CTEs feed the cent table (double centroids
      // cast REAL — the cell-frame storage type), then the
      // dedup_semantic structure verbatim over the decorated corpus
        s"""WITH RECURSIVE
          |qz AS (SELECT vec_id, embedding,
          |         list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |       FROM embeddings),
          |km_codes AS (SELECT vec_id,
          |               list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 127 / s) AS BIGINT)) AS v
          |             FROM qz),
          |km_seeds AS (SELECT vec_id FROM km_codes ORDER BY vec_id LIMIT 8),
          |kc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
          |               list_transform(v, x -> CAST(x AS DOUBLE)) AS c
          |        FROM km_codes WHERE vec_id IN (SELECT vec_id FROM km_seeds)),
          |${kmIter(1)}
          |${kmIter(2)}
          |ed AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
          |  FROM embeddings WHERE vec_id % 20 = 0
          |  UNION ALL
          |  SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id % 40 = 0),
          |cent AS (
          |  SELECT cluster AS cell, list_transform(c, x -> CAST(x AS REAL)) AS c
          |  FROM kc2),
          |cent2 AS (SELECT cell, c, sqrt(${dot("c", "c")}) AS nrm FROM cent),
          |cn AS (
          |  SELECT cell, c, nrm,
          |         list_transform(c, x -> CASE WHEN nrm = 0 THEN CAST(x AS DOUBLE)
          |                                     ELSE CAST(x AS DOUBLE) / nrm END) AS cnorm
          |  FROM cent2),
          |assign AS (
          |  SELECT e.vec_id, cn.cell,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY ${dot("e.embedding", "cn.cnorm")} DESC, cn.cell ASC) AS rn
          |  FROM ed e CROSS JOIN cn),
          |a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
          |cc AS (
          |  SELECT a.vec_id, a.cell, ${cosSql("e.embedding", "cn.c")} AS ccos
          |  FROM a JOIN ed e USING (vec_id) JOIN cn ON cn.cell = a.cell),
          |p AS (
          |  SELECT ax.vec_id AS id_a, ay.vec_id AS id_b
          |  FROM a ax JOIN a ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          |       JOIN ed ex ON ex.vec_id = ax.vec_id
          |       JOIN ed ey ON ey.vec_id = ay.vec_id
          |  WHERE ${cosSql("ex.embedding", "ey.embedding")} >= 0.98),
          |e2 AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e2
          |  UNION
          |  SELECT e2.u, reach.r FROM e2 JOIN reach ON e2.v = reach.id),
          |rt AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id),
          |kp AS (
          |  SELECT root, id AS keep_id FROM (
          |    SELECT rt.root, rt.id,
          |           row_number() OVER (PARTITION BY rt.root ORDER BY cc.ccos ASC, rt.id ASC) AS krn
          |    FROM rt JOIN cc ON cc.vec_id = rt.id) t
          |  WHERE krn = 1)
          |SELECT cc.vec_id, cc.cell, COALESCE(rt.root, cc.vec_id) AS component,
          |       cc.ccos AS cos_centroid,
          |       (rt.id IS NULL OR cc.vec_id = kp.keep_id) AS keep
          |FROM cc LEFT JOIN rt ON rt.id = cc.vec_id
          |        LEFT JOIN kp ON kp.root = rt.root
          |ORDER BY vec_id""".stripMargin)),

    // int8 embedding quantization (4× storage/shuffle-width cut for the
    // ANN/dedup corpus): native codegen'd expression; exploded to
    // (vec_id, pos, code) scalar rows so the oracle hash is robust
    Face("ann_quantize", (s, d) => {
      Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.scale").as("scale"),
          F.posexplode(F.col("q.codes")).as(Seq("pos", "code")))
        .orderBy("vec_id", "pos")
    }, Oracle(
        """WITH q AS (SELECT vec_id, embedding,
          |             list_max(list_transform(embedding, e -> abs(CAST(COALESCE(e, 0) AS DOUBLE)))) AS scale
          |           FROM embeddings)
          |SELECT vec_id, scale, CAST(i - 1 AS INT) AS pos,
          |       CASE WHEN scale = 0 THEN CAST(0 AS TINYINT)
          |            ELSE CAST(round(CAST(COALESCE(embedding[i], 0) AS DOUBLE) * 127 / scale) AS TINYINT)
          |       END AS code
          |FROM q, UNNEST(generate_series(1, len(embedding))) AS g(i)
          |ORDER BY vec_id, pos""".stripMargin)),

    // BigQuery's vector scalar spellings (COSINE_DISTANCE /
    // EUCLIDEAN_DISTANCE) in plain SQL — registry-routed to the native
    // codegen'd VecDistance, strict fold order, so both distances
    // hash-replay with DuckDB's ordered list folds
    Face("q_vector_distance", (s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("vd_e")
      graft.GraftSql.load(s,
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       COSINE_DISTANCE(a.embedding, b.embedding) AS cos_d,
          |       EUCLIDEAN_DISTANCE(a.embedding, b.embedding) AS l2_d
          |FROM vd_e a JOIN vd_e b
          |  ON a.vec_id < 5 AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
          |ORDER BY id_a, id_b""".stripMargin)
    }, Oracle(
      // the scalar distance spellings replay with the same ordered
      // folds the native expression documents
        s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       1.0 - ${cosSql("a.embedding", "b.embedding")} AS cos_d,
          |       sqrt(${kmDist("a.embedding", "b.embedding")}) AS l2_d
          |FROM embeddings a JOIN embeddings b
          |  ON a.vec_id < 5 AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
          |ORDER BY id_a, id_b""".stripMargin)),

    // D17: learned clustering over the quantized corpus — the cell
    // design / SemDeDup prelude. Deterministic int8 k-means (seeds =
    // the k lowest ids, 2 Lloyd steps, exact BIGINT centroid sums);
    // the oracle replays the quantization, both iterations' integer
    // centroid updates and the strict fold-order distances, so the
    // WHOLE training loop sits under the hash gate
    Face("cluster_kmeans", (s, d) => {
      val codes = Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
      graft.operators.Clustering.kmeansAssign(codes, k = 8, iters = 2)
        .orderBy("vec_id")
    }, Oracle(clusterKmeansOracleSql)),

    // A43: the BQML clustering workflow as STATEMENTS — CREATE MODEL
    // kmeans trains the D17 loop, ML.PREDICT assigns with BigQuery's
    // 1-based centroid_id; same DuckDB replay as cluster_kmeans
    // shifted by one, so the statement route sits under its own hash
    Face("sql_ml_kmeans", (s, d) => {
      Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
        .createOrReplaceTempView("mlk_src")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MODEL mlk_model
          |OPTIONS(model_type = 'kmeans', num_clusters = 8, max_iterations = 2)
          |AS SELECT vec_id, vec FROM mlk_src""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT vec_id, centroid_id, centroid_distance
          |FROM ML.PREDICT(MODEL mlk_model, TABLE mlk_src)
          |ORDER BY vec_id""".stripMargin)
    }, Oracle(
        s"""WITH qz AS (SELECT vec_id, embedding,
          |              list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
          |            FROM embeddings),
          |km_codes AS (SELECT vec_id,
          |               list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 127 / s) AS BIGINT)) AS v
          |             FROM qz),
          |km_seeds AS (SELECT vec_id FROM km_codes ORDER BY vec_id LIMIT 8),
          |kc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
          |               list_transform(v, x -> CAST(x AS DOUBLE)) AS c
          |        FROM km_codes WHERE vec_id IN (SELECT vec_id FROM km_seeds)),
          |${kmIter(1)}
          |${kmIter(2)}
          |fin AS (SELECT cd.vec_id, cc.cluster, ${kmDist("cd.v", "cc.c")} AS dist
          |        FROM km_codes cd CROSS JOIN kc2 cc)
          |SELECT vec_id, cluster + 1 AS centroid_id, dist AS centroid_distance FROM (
          |  SELECT vec_id, cluster, dist,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
          |  FROM fin) WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // deterministic k-per-key sample via the bounded TopK aggregate
    // (reservoir-sample replacement that parallelizes; md5-hash order)
    // S14 (round 14): SOFT dedup — duplicate-cluster members keep with
    // probability 1/|cluster| via the integer hash threshold, singletons
    // always survive; clusters from the C9 components over embedding
    // near-dup pairs, so the face gates the whole clusters→sizes→
    // threshold pipeline (the oracle replays components recursively AND
    // the md5 threshold arithmetic)
    Face("sample_soft_dedup", (s, d) => {
      val e = Tables.embeddings(s, d)
      val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding", "label", threshold = 0.35)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.operators.Sampling.softDedup(
          e.select("vec_id"), "vec_id", clusters)
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.when(F.col("kept"), 1L).otherwise(0L)).as("n_kept"),
          F.min(F.when(F.col("kept"), F.col("vec_id"))).as("min_kept"))
        .orderBy("cluster_size")
    }, Oracle(
      // the C9 components replay feeding the 2^52-div-size integer
      // threshold; singletons (no pair) coalesce to size 1
        s"""WITH RECURSIVE
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM embeddings a JOIN embeddings b
          |    ON a.label = b.label AND a.vec_id < b.vec_id
          |  WHERE ${dot("a.embedding", "b.embedding")} /
          |        (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) >= 0.35),
          |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT u AS id, v AS r FROM e
          |  UNION
          |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id),
          |root AS (SELECT id, LEAST(id, MIN(r)) AS root FROM reach GROUP BY id),
          |cz AS (SELECT r.id, c.cluster_size
          |       FROM root r JOIN (SELECT root, COUNT(*) AS cluster_size FROM root GROUP BY root) c USING (root)),
          |k AS (SELECT vec_id, COALESCE(cz.cluster_size, 1) AS cluster_size,
          |             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13)) AS BIGINT)
          |               < (4503599627370496 // COALESCE(cz.cluster_size, 1)) AS kept
          |      FROM embeddings LEFT JOIN cz ON cz.id = embeddings.vec_id)
          |SELECT cluster_size, COUNT(*) AS n,
          |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |       MIN(CASE WHEN kept THEN vec_id END) AS min_kept
          |FROM k GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    Face("sample_per_key", (s, d) => {
      graft.operators.Sampling.perKeyDeterministic(
          Tables.events(s, d), Seq("user_id"), "event_id", k = 3)
        .orderBy("user_id", "event_id")
    }, Oracle(
        """SELECT user_id, event_id FROM (
          |  SELECT user_id, event_id,
          |         row_number() OVER (PARTITION BY user_id
          |           ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT),
          |                    event_id) AS rn
          |  FROM events) WHERE rn <= 3
          |ORDER BY user_id, event_id""".stripMargin)),
    // deterministic 90/10 train/holdout split by document hash:
    // map-only, no RNG, stable under incremental re-processing
    Face("sample_split", (s, d) => {
      graft.operators.Sampling.splitByHash(Tables.documents(s, d), "doc_id", 9, 10)
        .groupBy("split")
        .agg(F.count(F.lit(1)).as("n"), F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("split")
    }, Oracle(
        s"""WITH s AS (
          |  SELECT doc_id,
          |         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
          |                   < ${(1L << 52) / 10 * 9} THEN 'train' ELSE 'holdout' END AS split
          |  FROM documents)
          |SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          |FROM s GROUP BY split ORDER BY split""".stripMargin)),
    // S12: seeded deterministic k-fold assignment — the
    // cross-validation splitter; map-only, RNG-free, fold membership
    // engine-replayable (hash52 of "seed:id" mod k)
    Face("sample_kfold", (s, d) => {
      graft.operators.Sampling.kFold(Tables.documents(s, d), "doc_id", k = 5, seed = 7L)
        .groupBy("fold")
        .agg(F.count(F.lit(1)).as("n"), F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("fold")
    }, Oracle(
      // replays S12's fold law: 52-bit md5 prefix of "seed:id" mod k
        """WITH f AS (
          |  SELECT doc_id,
          |         CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 5 AS fold
          |  FROM documents)
          |SELECT fold, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          |FROM f GROUP BY fold ORDER BY fold""".stripMargin)),
    // class-rebalancing pass: keep all purchases, 1/10 of clicks, 3/10
    // of views, half of everything else — map-only, RNG-free, stable
    // under incremental re-processing (same md5-prefix hash as S2)
    Face("sample_stratified", (s, d) => {
      graft.operators.Sampling.stratifiedByHash(Tables.events(s, d), "event_id", "event_type",
          Map("purchase" -> ((1, 1)), "click" -> ((1, 10)), "view" -> ((3, 10))),
          defaultFraction = (1, 2))
        .select("event_id", "event_type")
        .orderBy("event_id")
    }, Oracle(
        s"""SELECT event_id, event_type FROM events
          |WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
          |      < CASE event_type
          |          WHEN 'purchase' THEN ${1L << 52}
          |          WHEN 'click' THEN ${(1L << 52) / 10 * 1}
          |          WHEN 'view' THEN ${(1L << 52) / 10 * 3}
          |          ELSE ${(1L << 52) / 2 * 1} END
          |ORDER BY event_id""".stripMargin)),
    // duplicated-SPAN removal (the Lee et al. exact-substring dedup,
    // re-expressed as k-token-window df): windows appearing verbatim
    // in >= 2 distinct docs are cut from every carrier, each doc's
    // unique remainder survives — finer-grained than document dedup,
    // coarser than line boilerplate
    Face("dedup_spans", (s, d) => {
      graft.operators.Spans.dropDuplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }, Oracle(
      // replays the window-df contract: md5 over space-joined 8-token
      // slices, cross-doc distinct df >= 2, covered = union of
      // duplicated windows, rebuild in position order
        """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
          |w AS (SELECT doc_id, p, md5(array_to_string(toks[p+1:p+8], ' ')) AS h
          |      FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks)-8+1, 0))) AS p FROM t)),
          |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY h) WHERE df >= 2),
          |starts AS (SELECT doc_id, p FROM w JOIN dup USING (h)),
          |cov AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) AS pos FROM starts),
          |tok AS (SELECT doc_id, pos, toks[pos+1] AS tok
          |        FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t)),
          |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
          |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos WHERE c.pos IS NULL),
          |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id),
          |tot AS (SELECT doc_id, len(toks) AS n FROM t)
          |SELECT tot.doc_id AS doc_id, COALESCE(agg.clean, '') AS clean_text,
          |       CAST(tot.n - COALESCE(agg.n_kept, 0) AS BIGINT) AS tokens_dropped
          |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
          |ORDER BY doc_id""".stripMargin)),
    // span-level BENCHMARK DECONTAMINATION (C14): cut every 8-token
    // window shared with the bench set from its carriers — even a
    // SINGLE carrier (df-based dedup can't; contamination doesn't
    // recur). The bench frame is derived deterministically (the
    // 12-token prefix of every 25th doc) so contaminated prefixes are
    // guaranteed and DuckDB re-derives the identical bench windows.
    Face("dedup_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = F.split(F.trim(F.col("text")), "\\s+")
      val bench = docs.filter(F.col("doc_id") % 25 === 0)
        .filter(F.size(toks) >= 12)
        .select(F.array_join(F.slice(toks, 1, 12), " ").as("text"))
      graft.operators.Spans.decontaminateSpans(docs, bench, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }, Oracle(
      // replays C14 end to end: bench = 12-token prefixes of every
      // 25th doc, bench window hashes, semi-join against corpus
      // windows, covered-union rebuild in position order
        """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
          |b AS (SELECT toks[1:12] AS bt FROM t WHERE doc_id % 25 = 0 AND len(toks) >= 12),
          |bw AS (SELECT DISTINCT md5(array_to_string(bt[p+1:p+8], ' ')) AS h
          |       FROM (SELECT bt, unnest(range(0, len(bt)-8+1)) AS p FROM b)),
          |w AS (SELECT doc_id, p, md5(array_to_string(toks[p+1:p+8], ' ')) AS h
          |      FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks)-8+1, 0))) AS p FROM t)),
          |starts AS (SELECT DISTINCT doc_id, p FROM w JOIN bw USING (h)),
          |cov AS (SELECT DISTINCT doc_id, p + unnest(range(0, 8)) AS pos FROM starts),
          |tok AS (SELECT doc_id, pos, toks[pos+1] AS tok
          |        FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t)),
          |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
          |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos WHERE c.pos IS NULL),
          |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, COUNT(*) AS n_kept
          |        FROM kept GROUP BY doc_id),
          |tot AS (SELECT doc_id, len(toks) AS n FROM t)
          |SELECT tot.doc_id AS doc_id, COALESCE(agg.clean, '') AS clean_text,
          |       CAST(tot.n - COALESCE(agg.n_kept, 0) AS BIGINT) AS tokens_dropped
          |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
          |ORDER BY doc_id""".stripMargin)),

    // per-source quality-calibrated pruning: keep each source's top
    // half by score — a RELATIVE floor (an absolute one keeps a clean
    // source's chaff and drops a noisy source's best). Exact-percentile
    // threshold here for the oracle; the 100 TB routing is the
    // approx_percentile sketch path (accuracy-pinned in SamplingSpec),
    // the same exact/approx split as q_percentile.
    Face("sample_top_fraction", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("score", F.length(F.col("text")).cast("double"))
      graft.operators.Sampling.topFractionByScore(docs, Seq("source"), "score", 0.5, exact = true)
        .select("doc_id", "source", "score")
        .orderBy("doc_id")
    }, Oracle(
        """WITH sc AS (SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS score FROM documents),
          |th AS (SELECT source, quantile_cont(score, 0.5) AS thr FROM sc GROUP BY source)
          |SELECT doc_id, sc.source AS source, score
          |FROM sc JOIN th ON sc.source = th.source
          |WHERE score >= thr ORDER BY doc_id""".stripMargin)),
    // exactly-k sample allocated across sources proportional to char
    // volume (largest-remainder apportionment, BigInt-exact), drawn
    // within each source as the alloc_g smallest-md5 rows — RNG-free,
    // so DuckDB replays allocation AND draw end to end
    Face("sample_apportioned", (s, d) => {
      val docs = Tables.documents(s, d)
      val w = docs.groupBy("source").agg(F.sum("n_chars").as("weight"))
      graft.operators.Sampling.apportionedSample(docs, Seq("source"), "doc_id", 100, Some(w))
        .orderBy("source", "doc_id")
    }, Oracle(
      // replays BOTH halves of S10: Hamilton allocation in exact
      // integer arithmetic (hugeint // and % on DuckDB's side, BigInt
      // on Spark's driver), then the per-source draw as the alloc_g
      // smallest-md5 rows — the same hash52 + id tie order as S1
        """WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents
          |             WHERE doc_id IS NOT NULL GROUP BY source),
          |wt AS (SELECT source, SUM(n_chars) AS w FROM documents GROUP BY source),
          |g AS (SELECT cnt.source AS source, n, w FROM cnt JOIN wt ON cnt.source = wt.source),
          |tot AS (SELECT SUM(w) AS tw FROM g),
          |a0 AS (SELECT source, n, (100 * w) // tw AS base, (100 * w) % tw AS rem FROM g, tot),
          |a1 AS (SELECT source, n, base,
          |              row_number() OVER (ORDER BY rem DESC, source) AS rr FROM a0),
          |lo AS (SELECT 100 - SUM(base) AS leftover FROM a0),
          |alloc AS (SELECT source,
          |                 LEAST(base + CASE WHEN rr <= (SELECT leftover FROM lo)
          |                              THEN 1 ELSE 0 END, n) AS kg FROM a1),
          |h AS (SELECT source, doc_id,
          |             row_number() OVER (PARTITION BY source
          |               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
          |                        doc_id) AS rn
          |      FROM documents WHERE doc_id IS NOT NULL)
          |SELECT h.source AS source, h.doc_id AS doc_id
          |FROM h JOIN alloc ON h.source = alloc.source
          |WHERE rn <= kg ORDER BY source, doc_id""".stripMargin)),
    // S11: DSIR importance-scored selection — hashed unigram+bigram
    // buckets folded against a weight table riding the plan as a
    // literal (map-only), then the bounded top-k aggregate; the
    // fixture weight table is md5-derived integer centi-nats so DuckDB
    // replays hashing, scoring, and the (score DESC, id) pick exactly
    // (the real fit path is DsirSpec's job — its ln() is libm)
    Face("sample_dsir", (s, d) => {
      val scored = graft.operators.Dsir.score(
        Tables.documents(s, d, fanOut = true), "doc_id", "text", dsirFixtureWeights)
      graft.operators.Dsir.selectTopK(scored, "doc_id", 100).orderBy("rank")
    }, Oracle(
      // replays S11 end to end: unigram+bigram stream, 52-bit
      // md5-prefix bucket, the md5-derived centi-nat weight per bucket
      // (same law the Scala fixture array is built from), integer sum,
      // and the (score DESC, doc_id) top-100 pick
        s"""WITH l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_concat(toks,
           |        CASE WHEN len(toks) >= 2
           |          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
           |          ELSE []::VARCHAR[] END) AS grams FROM l),
           |s AS (SELECT doc_id,
           |  CAST(coalesce(list_sum(list_transform(grams, x ->
           |    (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % $dsirBuckets AS VARCHAR)), 1, 13)) AS BIGINT) % 2001) - 1000)), 0) AS BIGINT) AS dsir_score
           |  FROM g)
           |SELECT doc_id, dsir_score,
           |  CAST(row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS INT) AS rank
           |FROM s QUALIFY rank <= 100 ORDER BY rank""".stripMargin)),
    // S11's Gumbel-top-k sampling face under a full hash oracle: the
    // noise is md5-derived (hash -> u in (0,1] -> -ln(-ln u)), RNG-free,
    // and the EMITTED columns are all integers — the libm ln only
    // enters the ordering KEY, where md5-uniform noise keeps every
    // pairwise key gap astronomically wider than cross-engine ulp
    // drift, so the (key DESC, id) pick replays exactly in DuckDB
    Face("sample_dsir_gumbel", (s, d) => {
      val scored = graft.operators.Dsir.score(
        Tables.documents(s, d, fanOut = true), "doc_id", "text", dsirFixtureWeights)
      graft.operators.Dsir.sampleGumbel(scored, "doc_id", 100, seed = 7L).orderBy("rank")
    }, Oracle(
      // replays the Gumbel-top-k draw: same score fold, then the
      // pinned noise key — u = (52-bit md5 prefix of '7:<id>' + 1) /
      // (2^52 + 1), key = score/1e5 − ln(−ln u) — and the (key DESC,
      // id) top-100; every emitted column is an integer, so libm ulp
      // drift in ln cannot reach the hash (it would need two keys
      // within ~1e-15 of each other, which md5-uniform noise excludes)
        s"""WITH l AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_concat(toks,
           |        CASE WHEN len(toks) >= 2
           |          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
           |          ELSE []::VARCHAR[] END) AS grams FROM l),
           |s AS (SELECT doc_id,
           |  CAST(coalesce(list_sum(list_transform(grams, x ->
           |    (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % $dsirBuckets AS VARCHAR)), 1, 13)) AS BIGINT) % 2001) - 1000)), 0) AS BIGINT) AS dsir_score
           |  FROM g),
           |k AS (SELECT doc_id, dsir_score,
           |  CAST(dsir_score AS DOUBLE) / 100000.0 +
           |    (- ln(- ln((CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0) / 4503599627370497.0))) AS gkey
           |  FROM s)
           |SELECT doc_id, dsir_score,
           |  CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS INT) AS rank
           |FROM k QUALIFY rank <= 100 ORDER BY rank""".stripMargin)),
    // corpus mixing: √-temperature source re-weighting before the
    // training mix — rare sources keep more, the web-crawl-sized one
    // keeps less, overall volume ≈ 1/2; exact-IEEE threshold tree so
    // the DuckDB oracle reproduces membership bit-for-bit
    Face("corpus_mix", (s, d) => {
      graft.operators.Mixing.temperatureMixBySqrt(Tables.documents(s, d), "doc_id", "source", 1, 2)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }, Oracle(
      // mirrors Mixing.temperatureMixBySqrt's threshold tree verbatim:
      // every float op (sqrt, *, /) is IEEE exactly-rounded over exact
      // integer-valued operands, left-associated — bit-identical across
      // engines; membership is then an integer hash comparison
        s"""WITH counts AS (
          |  SELECT source, COUNT(*) AS n FROM documents
          |  WHERE doc_id IS NOT NULL AND source IS NOT NULL GROUP BY source),
          |w AS (SELECT source, n,
          |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
          |      FROM counts),
          |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(SUM(w) AS BIGINT) AS wsum FROM w),
          |thr AS (SELECT source,
          |          least(CAST(${1L << 52} AS BIGINT),
          |                CAST(floor(CAST((total * 1) // 2 AS DOUBLE) * w / wsum / n
          |                           * 4503599627370496.0) AS BIGINT)) AS h
          |        FROM w, tot)
          |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
          |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) < h
          |ORDER BY d.doc_id""".stripMargin)),
    // S13: budgeted mixing with UP-sampling — per-source size budgets
    // drive full-epoch replication plus a hash-gated partial epoch
    // (the Llama-recipe composition corpus_mix can't express: it only
    // downsamples). Budgets derive deterministically from per-source
    // totals (rank mod 4 cycles four regimes: 2 epochs + third,
    // partial-only, exact-3-multiple with NO partial, 1 + quarter),
    // so the DuckDB oracle re-derives budgets, allocation, replicas
    // and the partial-epoch hash gate — integer end-to-end
    Face("corpus_mix_budget", (s, d) => {
      val docs = Tables.documents(s, d)
      val tot = docs.groupBy("source")
        .agg(F.sum(F.col("n_chars").cast("long")).as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val budgets = tot.keys.toSeq.sorted.zipWithIndex.map { case (src, i) =>
        val t = tot(src)
        src -> (i % 4 match {
          case 0 => 2 * t + t / 3
          case 1 => t / 2
          case 2 => 3 * t
          case _ => t + t / 4
        })
      }.toMap
      graft.operators.Mixing.mixToBudget(docs, "doc_id", "source", "n_chars", budgets)
        .withColumn("epoch", F.col("epoch").cast("long"))
        .groupBy("source", "epoch")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("n_chars").cast("long")).as("size_sum"),
          F.min("doc_id").as("min_id"), F.max("doc_id").as("max_id"))
        .orderBy("source", "epoch")
    }, Oracle(
      // budgeted-mix replay: budgets re-derive from ranked per-source
      // totals, full epochs via generate_series (empty when full=0 —
      // unnest drops the row), the partial epoch via the hash52 gate
        s"""WITH tot AS (
          |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t,
          |         CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS rk
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
          |  GROUP BY source),
          |alloc AS (
          |  SELECT source, t,
          |         CASE rk % 4 WHEN 0 THEN 2*t + t // 3 WHEN 1 THEN t // 2
          |                     WHEN 2 THEN 3*t ELSE t + t // 4 END AS b
          |  FROM tot),
          |a2 AS (
          |  SELECT source, b // t AS full_e,
          |         CAST(floor(CAST(b % t AS DOUBLE) / CAST(t AS DOUBLE)
          |                    * 4503599627370496.0) AS BIGINT) AS thr
          |  FROM alloc),
          |reps AS (
          |  SELECT d.doc_id, d.source, d.n_chars,
          |         unnest(generate_series(0, a2.full_e - 1)) AS epoch
          |  FROM documents d JOIN a2 USING (source)
          |  UNION ALL
          |  SELECT d.doc_id, d.source, d.n_chars, a2.full_e AS epoch
          |  FROM documents d JOIN a2 USING (source)
          |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) < a2.thr)
          |SELECT source, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n,
          |       CAST(SUM(n_chars) AS BIGINT) AS size_sum,
          |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          |FROM reps GROUP BY source, epoch ORDER BY source, epoch""".stripMargin)),

    // line-level boilerplate removal: lines appearing in >= 2 distinct
    // docs are chrome, everything else survives in order; on this
    // single-line corpus that empties exact-duplicate docs (multi-line
    // behavior is BoilerplateSpec's job)
    Face("dedup_lines", (s, d) => {
      graft.operators.Boilerplate.dropBoilerplateLines(
          Tables.documents(s, d), "doc_id", "text", minDf = 2)
        .orderBy("doc_id")
    }, Oracle(
      // line df over distinct docs, then anti-join + ordered rebuild;
      // DuckDB groups raw lines where Spark groups md5(line) — equal
      // up to md5 collisions (the dedup_exact equivalence)
        """WITH lines AS (
          |  SELECT doc_id, ls[i] AS line, i AS pos
          |  FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls FROM documents) t,
          |       UNNEST(generate_series(1, len(ls))) AS u(i)),
          |dfc AS (
          |  SELECT line FROM (
          |    SELECT line, COUNT(*) AS df FROM (
          |      SELECT DISTINCT doc_id, line FROM lines WHERE line <> '') GROUP BY line)
          |  WHERE df >= 2),
          |kept AS (
          |  SELECT l.doc_id, l.line, l.pos FROM lines l
          |  LEFT JOIN dfc d ON l.line = d.line WHERE d.line IS NULL),
          |rebuilt AS (
          |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
          |         COUNT(*) AS n_kept
          |  FROM kept GROUP BY doc_id)
          |SELECT d.doc_id,
          |       coalesce(r.clean_text, '') AS clean_text,
          |       CAST(len(string_split(coalesce(d.text, ''), chr(10)))
          |            - coalesce(r.n_kept, 0) AS BIGINT) AS lines_dropped
          |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin)),
    // sequence packing: greedy fill of 1000-char context windows in
    // hash-bucketed (hash, id) order — streaming sorted-group scan,
    // O(1) state per bucket; oracle replays the law as a recursive CTE
    Face("pack_sequences", (s, d) => {
      graft.operators.Packing.packGreedy(Tables.documents(s, d), "doc_id", "n_chars",
          budget = 1000L, buckets = 8)
        .orderBy("doc_id")
    }, Oracle(
      // replays Packing.packGreedy's law sequentially per bucket: all
      // quantities exact integers, same (hash, id) order — parity is
      // arithmetic-free; recursion depth = max docs per bucket
        """WITH RECURSIVE t AS (
          |  SELECT doc_id, n_chars AS cost,
          |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
          |o AS (
          |  SELECT doc_id, cost, h % 8 AS bucket,
          |         row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
          |  FROM t),
          |packed AS (
          |  SELECT doc_id, cost, bucket, rn,
          |         CAST(0 AS BIGINT) AS seq, CAST(1 AS BIGINT) AS slot, cost AS fill
          |  FROM o WHERE rn = 1
          |  UNION ALL
          |  SELECT o.doc_id, o.cost, o.bucket, o.rn,
          |         CASE WHEN p.fill + o.cost <= 1000 THEN p.seq ELSE p.seq + 1 END,
          |         CASE WHEN p.fill + o.cost <= 1000 THEN p.slot + 1 ELSE CAST(1 AS BIGINT) END,
          |         CASE WHEN p.fill + o.cost <= 1000 THEN p.fill + o.cost ELSE o.cost END
          |  FROM o JOIN packed p ON o.bucket = p.bucket AND o.rn = p.rn + 1)
          |SELECT doc_id, bucket, seq, slot FROM packed ORDER BY doc_id""".stripMargin)),
  )
}
