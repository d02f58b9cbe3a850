package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.{aggregates, native}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 D-block).
  *
  * Scale shape: the query set is small and broadcast; the corpus side
  * streams through a native cosine + a bounded TopKByScore aggregate.
  * Map-side partial aggregation reduces every partition to ≤ k rows
  * per query BEFORE the exchange, so no corpus-sized shuffle or sort
  * exists anywhere in the top-k path (a window row_number() would
  * sort every candidate per query across the cluster).
  */
object Similarity {

  /** Per-query top-k over a scored frame via the bounded aggregate;
    * ordering (cos desc, id asc) is deterministic, rank is 1-based.
    */
  private def topK(scored: DataFrame, qidCol: String, idCol: String, k: Int): DataFrame =
    scored.groupBy(F.col(qidCol))
      .agg(aggregates.top_k_by_score(F.col("cos"), F.col(idCol), k).as("top"))
      .select(F.col(qidCol), F.posexplode(F.col("top")).as(Seq("pos", "t")))
      .select(F.col(qidCol), F.col("t.id").as(idCol), F.col("t.score").as("cos"),
        (F.col("pos") + 1).cast("int").as("rank"))

  /** Exact cosine top-k per query vector (the correctness baseline). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val scored = corpus.as("c")
      .join(F.broadcast(queries.as("q")), F.col(qidCol) =!= F.col(idCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** Top-k over an int8-QUANTIZED corpus: cosine is scale-invariant,
    * so the codes score DIRECTLY against float queries — no dequantize
    * multiply anywhere, just a byte→float widening cast inside codegen.
    * The corpus representation is 4× narrower than float vectors, which
    * at 100 TB is 4× less scan I/O and 4× less of every downstream
    * shuffle/broadcast; the price is quantization noise in the ranking
    * (recall vs the float baseline pinned in SimilaritySpec). In a
    * persisted deployment the codes column is what sits on disk
    * (`native.int8_quantize` at write time) — the inline quantize here
    * is for API symmetry with the float variant.
    */
  def bruteForceTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val qc = corpus.select(F.col(idCol),
      native.int8_quantize(F.col(vecCol)).getField("codes").cast("array<float>").as("__codes"))
    val scored = qc.as("c")
      .join(F.broadcast(queries.as("q")), F.col(qidCol) =!= F.col(idCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col("__codes")))
    topK(scored, qidCol, idCol, k)
  }

  /** Matryoshka (MRL) two-stage retrieval (Kusupati et al. 2022) —
    * the dimension-axis member of the compression ladder (int8 cuts
    * bytes-per-dim 4×, PQ cuts to m codes; MRL cuts the DIMENSIONS:
    * an MRL-trained embedding's first `prefixDim` coordinates are
    * themselves a valid embedding). Stage 1 scores the corpus by
    * PREFIX cosine — with a persisted prefix column the hot scan
    * reads dim/prefixDim× fewer bytes — and keeps the top `rerank`
    * candidates per query through the bounded aggregate; stage 2
    * re-ranks ONLY those candidates by full-dimension exact cosine
    * (the bounded candidate set broadcasts back against the corpus —
    * the corpus never shuffles, the D8 re-rank contract).
    *
    * Both stages are deterministic double arithmetic (slice + the
    * exact CosineSim), so unlike the trained-index routes (IVF/LSH)
    * the WHOLE operator replays in a SQL oracle — recall vs the
    * full-dim baseline is a property of the embedding's MRL training,
    * not of any randomness here (on non-MRL embeddings the prefix is
    * just a lossy projection; SimilaritySpec pins the fixture
    * recall). `rerank = corpus size` reduces bit-exactly to
    * [[bruteForceTopK]] (spec-pinned).
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     prefixDim: Int, rerank: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(prefixDim >= 1, s"prefixDim=$prefixDim must be >= 1")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val qPrefix = queries.select(F.col(qidCol),
      F.slice(F.col(qvecCol), 1, prefixDim).as("__qpre"))
    val cPrefix = corpus.select(F.col(idCol),
      F.slice(F.col(vecCol), 1, prefixDim).as("__cpre"))
    val stage1 = cPrefix.as("c")
      .join(F.broadcast(qPrefix.as("q")), F.col(qidCol) =!= F.col(idCol))
      .withColumn("__pcos", native.cosine_sim(F.col("__qpre"), F.col("__cpre")))
    val candidates = topKGeneric(stage1, qidCol, idCol, "__pcos", rerank)
    // exact re-rank: the ≤ |q|·rerank candidate list broadcasts into
    // the corpus (full vectors read only for candidates), queries
    // broadcast for the final cosine
    val withVec = corpus.join(
      F.broadcast(candidates.withColumnRenamed(idCol, "__cid")),
      F.col(idCol) === F.col("__cid")).drop("__cid")
    val scored = withVec.as("c")
      .join(F.broadcast(queries.as("q")), Seq(qidCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** Sign-bit packing for binary quantization: word w carries bits
    * 32w..32w+31, bit i set iff coordinate > 0 — 32 bits per long
    * keeps every word a small positive sum both engines replay
    * exactly (the C3b vote-fold law; packing 64 bits into one long
    * would put bit 63 on the sign, where `1 << 63` semantics diverge
    * across engines). A flat static expression — no HOF lambda, all
    * codegen'd conditionals.
    */
  private def packSignBits(vec: org.apache.spark.sql.Column, dim: Int): org.apache.spark.sql.Column = {
    val words = (dim + 31) / 32
    F.array((0 until words).map { w =>
      val n = math.min(32, dim - 32 * w)
      (0 until n).map { i =>
        F.when(F.element_at(vec, 32 * w + i + 1) > 0f, F.lit(1L << i)).otherwise(F.lit(0L))
      }.reduce(_ + _).cast("long")
    }: _*)
  }

  /** D16: BINARY-quantized retrieval — 1 bit per dimension (the
    * binary-quantization feature production vector stores ship:
    * 32× less than float, no training, no codebooks): stage 1 ranks
    * the corpus by HAMMING distance between sign-bit fingerprints
    * (bit = coordinate > 0; for high-dimensional unit vectors the
    * angle is ≈ π·hamming/dim, so hamming order approximates cosine
    * order), keeping the top `rerank` per query through the bounded
    * aggregate under the deterministic (hamming ASC, id ASC) law —
    * hamming TIES are common (integers in 0..dim), which is exactly
    * why the total order matters; stage 2 re-ranks candidates by
    * exact full-precision cosine (bounded broadcast back, the D8
    * contract). A persisted sign-bit column (the [[writePrefixLayout]]
    * pattern) makes the hot scan dim/8 bytes per vector.
    *
    * Everything in stage 1 is integer arithmetic and stage 2 is the
    * proven exact cosine, so the WHOLE operator replays in a SQL
    * oracle — no pinning, no randomness. `rerank = corpus` reduces
    * bit-exactly to [[bruteForceTopK]] (spec-pinned).
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                 rerank: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(dim >= 1, s"dim=$dim must be >= 1")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    // the caller's dim must match the stored vectors (the matryoshka
    // layout-probe discipline): a larger dim would element_at past
    // the array — null sign bits silently zero-pad the fingerprint
    // and skew the hamming ranking; a smaller dim silently ignores
    // trailing coordinates. One-row probes, loud on either side.
    def probeDim(df: DataFrame, col: String, side: String): Unit = {
      val got = df.select(F.size(F.col(col)).as("n")).limit(1).collect()
      require(got.isEmpty || got.head.getInt(0) == dim,
        s"binaryTopK: $side vectors have dim ${got.headOption.map(_.getInt(0)).getOrElse(-1)}, " +
          s"caller asked dim=$dim — pass the true width")
    }
    probeDim(corpus, vecCol, "corpus")
    probeDim(queries, qvecCol, "query")
    val qBits = queries.select(F.col(qidCol), packSignBits(F.col(qvecCol), dim).as("__qbits"))
    val cBits = corpus.select(F.col(idCol), packSignBits(F.col(vecCol), dim).as("__cbits"))
    val stage1 = cBits.as("c")
      .join(F.broadcast(qBits.as("q")), F.col(qidCol) =!= F.col(idCol))
      .withColumn("__ham", F.aggregate(
        F.zip_with(F.col("__qbits"), F.col("__cbits"),
          (x, y) => F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0L), (acc, x) => acc + x))
      .withColumn("__negham", -F.col("__ham").cast("double"))
    val candidates = topKGeneric(stage1, qidCol, idCol, "__negham", rerank)
    val withVec = corpus.join(
      F.broadcast(candidates.withColumnRenamed(idCol, "__cid")),
      F.col(idCol) === F.col("__cid")).drop("__cid")
    val scored = withVec
      .join(F.broadcast(queries), Seq(qidCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** D15 layout: one table carrying (id, prefix, embedding) — the
    * deployment shape of [[matryoshkaTopK]]. Parquet column pruning
    * splits the two access patterns (the D12 discipline): the stage-1
    * scan reads (id, prefix) — dim/prefixDim× fewer vector bytes —
    * and never deserializes the embedding column; the bounded re-rank
    * reads (id, embedding) for candidate rows only.
    */
  def writePrefixLayout(corpus: DataFrame, path: String, prefixDim: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(prefixDim >= 1, s"prefixDim=$prefixDim must be >= 1")
    corpus.select(F.col(idCol),
        F.slice(F.col(vecCol), 1, prefixDim).as("prefix"),
        F.col(vecCol))
      .write.mode("overwrite").parquet(path)
  }

  /** [[matryoshkaTopK]] over a persisted [[writePrefixLayout]] table.
    * The caller's `prefixDim` must match the stored prefix width (a
    * silent mismatch would score truncated-vs-padded prefixes — loud
    * via a one-row probe instead).
    */
  def matryoshkaTopKFromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                               queries: DataFrame, k: Int, prefixDim: Int, rerank: Int,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val layout = Tables.parquet(spark, path)
    val stored = layout.select(F.size(F.col("prefix")).as("n")).limit(1).collect()
    require(stored.isEmpty || stored.head.getInt(0) == prefixDim,
      s"layout at $path stores prefix width ${stored.headOption.map(_.getInt(0)).getOrElse(-1)}, " +
        s"caller asked prefixDim=$prefixDim — rewrite the layout or match the parameter")
    val qPrefix = queries.select(F.col(qidCol),
      F.slice(F.col(qvecCol), 1, prefixDim).as("__qpre"))
    val stage1 = layout.select(F.col(idCol), F.col("prefix").as("__cpre"))
      .join(F.broadcast(qPrefix), F.col(qidCol) =!= F.col(idCol))
      .withColumn("__pcos", native.cosine_sim(F.col("__qpre"), F.col("__cpre")))
    val candidates = topKGeneric(stage1, qidCol, idCol, "__pcos", rerank)
    val withVec = layout.select(F.col(idCol), F.col(vecCol)).join(
      F.broadcast(candidates.withColumnRenamed(idCol, "__cid")),
      F.col(idCol) === F.col("__cid")).drop("__cid")
    val scored = withVec
      .join(F.broadcast(queries), Seq(qidCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** BigQuery's `VECTOR_SEARCH` table function, library face (the
    * SQL route is `GraftSql.load`): for every QUERY ROW, the `topK`
    * nearest base rows under `distanceType` — EUCLIDEAN (L2, the
    * BigQuery default), COSINE (1 − cos), or DOT_PRODUCT (negative
    * dot), all computed by the codegen'd [[native.vec_distance]] in
    * one index-ordered pass. Output is BigQuery's shape: (`query`
    * STRUCT of the query row, `base` STRUCT of the base row,
    * `distance` DOUBLE), smaller distance = nearer; nothing is
    * excluded (a query that exists in the base table surfaces
    * itself, as in BigQuery).
    *
    * Scale: queries broadcast (the D1 contract — per-query-batch
    * linear scan of the base side, map-only until the bounded top-k
    * aggregate, which carries ≤ k rows per partition per query into
    * one exchange). Duplicate query rows form separate groups via an
    * internal per-row id; ties inside a group break on a
    * content-hash of the base row — deterministic for fixed data,
    * but not meaningful ranking (BigQuery leaves tie order
    * undefined). Beyond brute-force scale, route through the IVF/PQ
    * layouts ([[ivfTopK]], [[ivfPqTopK]]) instead — BigQuery's own
    * `options => '{"use_brute_force": false}'` split.
    */
  def vectorSearch(base: DataFrame, baseCol: String,
                   queries: DataFrame, queryCol: String,
                   topK: Int = 10,
                   distanceType: String = "EUCLIDEAN"): DataFrame = {
    val mode = distanceType.toUpperCase(java.util.Locale.ROOT)
    require(graft.functions.VecDistance.Modes.contains(mode),
      s"distance_type must be one of ${graft.functions.VecDistance.Modes.mkString(", ")}, got $distanceType")
    require(topK >= 1, s"top_k must be positive, got $topK")
    val qs = queries
      .withColumn("__qrow", F.monotonically_increasing_id())
      .select(F.col("__qrow"),
        F.struct(queries.columns.map(F.col).toIndexedSeq: _*).as("query"),
        F.col(queryCol).as("__qv"))
    val bs = base.select(
      F.struct(base.columns.map(F.col).toIndexedSeq: _*).as("base"),
      F.col(baseCol).as("__bv"))
    bs.crossJoin(F.broadcast(qs))
      .withColumn("distance", native.vec_distance(F.col("__qv"), F.col("__bv"), mode))
      .groupBy("__qrow")
      .agg(aggregates.top_k_payload(-F.col("distance"), F.xxhash64(F.col("base")),
        F.struct(F.col("query"), F.col("base"), F.col("distance")), topK).as("__top"))
      .select(F.explode(F.col("__top")).as("__e"))
      .select(F.col("__e.query").as("query"), F.col("__e.base").as("base"),
        F.col("__e.distance").as("distance"))
  }

  /** Per-cell centroids of a (cell, vec) assignment: mean per
    * dimension, reassembled in index order — plain DataFrame algebra
    * (posexplode collapses in the partial aggregation, so the shuffle
    * moves one row per cell×dim). The result is tiny and broadcasts.
    * At 100 TB compute this ONCE and persist it; `ivfTopK` accepts the
    * precomputed frame so repeated query sets never re-scan the corpus
    * for centroids.
    */
  def ivfCentroids(corpus: DataFrame, cellCol: String = "label",
                   vecCol: String = "embedding"): DataFrame =
    corpus
      .select(F.col(cellCol).as("cell"), F.posexplode(F.col(vecCol)).as(Seq("dim", "x")))
      .groupBy("cell", "dim").agg(F.avg("x").as("mx"))
      .groupBy("cell")
      .agg(F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("mx")))).as("pairs"))
      .select(F.col("cell"),
        F.transform(F.col("pairs"), p => p.getField("mx").cast("float")).as("centroid"))

  /** Refine label-seeded centroids with `iters` Lloyd steps under the
    * cosine metric: assign every vector to its nearest centroid (map-
    * only NearestCell pass), recompute per-cell means. Each iteration
    * costs one corpus aggregation — the training loop a 100 TB
    * deployment runs once per corpus version and persists.
    */
  def trainCentroids(corpus: DataFrame, cellCol: String = "label",
                     vecCol: String = "embedding", iters: Int = 2): DataFrame = {
    var centroids = ivfCentroids(corpus, cellCol, vecCol)
    var it = 0
    while (it < iters) {
      val cent = collectCentroids(centroids)
      val assigned = corpus.withColumn("__cell",
        native.nearest_cell(F.col(vecCol), cent.map(_._1), cent.map(_._2)))
      centroids = ivfCentroids(assigned, "__cell", vecCol)
      it += 1
    }
    // pin the final result as a local relation: callers re-collect the
    // returned frame (ivfTopK does), and returning the lazy aggregation
    // would re-run the last iteration's full-corpus pass a second time
    val finalCent = collectCentroids(centroids)
    import corpus.sparkSession.implicits._
    finalCent.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
  }

  /** IVF ANN: coarse-quantize the corpus into cells, search only the
    * `nprobe` cells whose centroids are nearest each query.
    *
    * Centroids seed from `cellCol`'s per-cell means, then every corpus
    * vector is RE-assigned to its nearest centroid by cosine (one
    * Lloyd step). The raw label partition is whatever upstream chose —
    * often not cosine-tight — while probing ranks cells by centroid
    * cosine; unless assignment uses the same metric, true neighbors
    * sit in cells the probe never ranks highly and recall collapses.
    * The reassignment is a map-only native expression over the
    * driver-collected centroid table (bounded: cells × dim — the same
    * data a broadcast would ship), so it adds ZERO shuffles.
    *
    * Pass `precomputed` to reuse a persisted centroid table — the
    * 100 TB shape: centroids computed once per corpus version, the
    * assignment written as a partition column, a query touching only
    * nprobe cells' partitions.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 3,
              cellCol: String = "label", lloydIters: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qvec",
              precomputed: Option[DataFrame] = None): DataFrame = {
    val centroids = precomputed.getOrElse(
      trainCentroids(corpus, cellCol, vecCol, lloydIters))
    val cent = collectCentroids(centroids)
    val assigned = corpus.withColumn("cell",
      native.nearest_cell(F.col(vecCol), cent.map(_._1), cent.map(_._2)))
    // nprobe nearest cells per query
    val probed = queries.join(F.broadcast(centroids))
      .withColumn("ccos", native.cosine_sim(F.col(qvecCol), F.col("centroid")))
    val probeTop = topKGeneric(probed, qidCol, "cell", "ccos", nprobe)
      .select(F.col(qidCol), F.col("cell"))
    // search only the probed cells
    val scored = assigned
      .join(F.broadcast(probeTop.join(queries, qidCol)), Seq("cell"))
      .filter(F.col(qidCol) =!= F.col(idCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** Write the corpus CELL-PARTITIONED: the nearest-centroid
    * assignment becomes a partition directory, so an ANN probe prunes
    * at the file-listing level — at 100 TB a query reads only
    * nprobe/ncells of the table and no job ever lists the rest. This
    * is the persisted half of the IVF design; `ivfTopKFromLayout`
    * is the read half.
    */
  def writeCellLayout(corpus: DataFrame, path: String, centroids: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cent = collectCentroids(centroids)
    corpus.withColumn("cell",
        native.nearest_cell(F.col(vecCol), cent.map(_._1), cent.map(_._2)))
      .repartition(F.col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** ANN top-k over a cell-partitioned layout written by
    * `writeCellLayout`. The probe step ranks cells per query against
    * the (tiny) centroid table, the union of probed cell ids becomes a
    * literal partition filter (`cell IN (...)`) — PartitionFilters in
    * the scan, only those directories read — and the per-query cell
    * routing then happens with a broadcast join inside the pruned
    * scan. The driver materializes only |queries|×nprobe probe pairs.
    */
  def ivfTopKFromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, k: Int, nprobe: Int = 3,
                        centroids: DataFrame,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val probed = queries.join(F.broadcast(centroids))
      .withColumn("ccos", native.cosine_sim(F.col(qvecCol), F.col("centroid")))
    val probeTop = topKGeneric(probed, qidCol, "cell", "ccos", nprobe)
      .select(F.col(qidCol), F.col("cell"))
    val wantedCells = probeTop.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned = Tables.parquet(spark, path)
      .filter(F.col("cell").isin(wantedCells: _*))
    val scored = pruned
      .join(F.broadcast(probeTop.join(queries, qidCol)), Seq("cell"))
      .filter(F.col(qidCol) =!= F.col(idCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** BigQuery-shaped VECTOR_SEARCH over a cell-partitioned layout
    * written by [[writeCellLayout]] — the SQL surface's `options =>
    * '{"use_brute_force": false}'` route (A35 + D3 composed). Probing
    * ranks cells per query against the bounded centroid table by
    * cosine (the metric the layout was built under), the union of
    * probed cell ids becomes a literal partition filter — only those
    * directories are listed or read — and the exact
    * [[native.vec_distance]] re-ranks inside the probed cells. Output
    * shape and tie discipline match [[vectorSearch]] exactly: (query
    * STRUCT, base STRUCT, distance), smaller = nearer, ties broken on
    * a content hash of the base row, self-matches included. Recall is
    * the IVF trade: EXACT within probed cells; a true neighbor living
    * in an unprobed cell is unseen. `nprobe` (BigQuery's
    * fraction_lists_to_search × num_lists) trades scan for recall;
    * nprobe = num_lists reproduces brute force bit-for-bit.
    */
  def vectorSearchFromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                             centroids: DataFrame, baseCol: String,
                             queries: DataFrame, queryCol: String,
                             topKn: Int, distanceType: String, nprobe: Int): DataFrame = {
    val mode = distanceType.toUpperCase(java.util.Locale.ROOT)
    require(graft.functions.VecDistance.Modes.contains(mode),
      s"distance_type must be one of ${graft.functions.VecDistance.Modes.mkString(", ")}, got $distanceType")
    require(topKn >= 1, s"top_k must be positive, got $topKn")
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    val qs = queries
      .withColumn("__qrow", F.monotonically_increasing_id())
      .select(F.col("__qrow"),
        F.struct(queries.columns.map(F.col).toIndexedSeq: _*).as("query"),
        F.col(queryCol).as("__qv"))
    val probed = qs.join(F.broadcast(centroids))
      .withColumn("__ccos", native.cosine_sim(F.col("__qv"), F.col("centroid")))
    val probeTop = topKGeneric(probed, "__qrow", "cell", "__ccos", nprobe)
      .withColumnRenamed("cell", "__cell")
    val wantedCells = probeTop.select("__cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val layout = Tables.parquet(spark, path)
    // literal IN on the partition column in ITS OWN type — a cast on
    // the column side would defeat partition pruning
    val lits: Seq[Any] = layout.schema("cell").dataType match {
      case org.apache.spark.sql.types.LongType => wantedCells.toSeq
      case _ => wantedCells.toSeq.map(_.toInt)
    }
    val pruned = layout.filter(F.col("cell").isin(lits: _*))
    val baseCols = pruned.columns.filter(_ != "cell")
    val bs = pruned.select(F.col("cell").cast("long").as("__cell"),
      F.struct(baseCols.map(F.col).toIndexedSeq: _*).as("base"),
      F.col(baseCol).as("__bv"))
    bs.join(F.broadcast(probeTop.join(qs, "__qrow")), Seq("__cell"))
      .withColumn("distance", native.vec_distance(F.col("__qv"), F.col("__bv"), mode))
      .groupBy("__qrow")
      .agg(aggregates.top_k_payload(-F.col("distance"), F.xxhash64(F.col("base")),
        F.struct(F.col("query"), F.col("base"), F.col("distance")), topKn).as("__top"))
      .select(F.explode(F.col("__top")).as("__e"))
      .select(F.col("__e.query").as("query"), F.col("__e.base").as("base"),
        F.col("__e.distance").as("distance"))
  }

  /** Driver-side image of a centroid frame, sorted for deterministic
    * argmax tie-breaks (bounded: cells × dim).
    */
  private[operators] def collectCentroids(centroids: DataFrame): Array[(Long, Array[Float])] =
    centroids.select(F.col("cell").cast("long"), F.col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** topK over an arbitrary long-castable id column. */
  private def topKGeneric(scored: DataFrame, qidCol: String, idCol: String,
                          scoreCol: String, k: Int): DataFrame =
    scored.groupBy(F.col(qidCol))
      .agg(aggregates.top_k_by_score(F.col(scoreCol), F.col(idCol).cast("long"), k).as("top"))
      .select(F.col(qidCol), F.explode(F.col("top")).as("t"))
      .select(F.col(qidCol), F.col("t.id").as(idCol))

  /** LSH-bucketed ANN: native random-hyperplane signatures, banded so
    * a candidate only needs one matching band of the signature; exact
    * cosine ranks the candidates. Trades recall for never touching
    * most of the corpus — the scale path when brute force is too hot.
    *
    * Recall comes from two knobs that cost nothing corpus-side:
    * `bands` (more bands = more independent chances to collide; the
    * corpus emits one row per band either way) and `multiprobe`
    * (each QUERY band also probes every Hamming-1 bucket variant —
    * a near-miss on one plane of a band still finds the bucket).
    * Multiprobe multiplies only the tiny broadcast query side by
    * (1 + bandBits); the corpus side and the join fan-in stay put.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 48,
              bands: Int = 8, multiprobe: Boolean = true,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    def withBands(df: DataFrame, vec: String, id: String, prefix: String,
                  probe: Boolean): DataFrame =
      Lsh.hyperplaneBands(df, id, vec, planes, bands, probe, keepVec = true)
        .withColumnRenamed("band", s"${prefix}band")
        .withColumnRenamed("bucket", s"${prefix}bucket")
    val c = withBands(corpus, vecCol, idCol, "c_", probe = false)
    val q = withBands(queries, qvecCol, qidCol, "q_", probe = multiprobe)
    val candidates = c.join(F.broadcast(q),
        F.col("c_band") === F.col("q_band") && F.col("c_bucket") === F.col("q_bucket") &&
          F.col(qidCol) =!= F.col(idCol))
      .select(F.col(qidCol), F.col(qvecCol), F.col(idCol), F.col(vecCol))
      .distinct()
    val scored = candidates.withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** The hash-oracle face of the D2 routing (the D3b/D8b recipe
    * applied to hyperplane LSH): hyperplanes PINNED to caller-chosen
    * data vectors instead of the seeded random family, so signature
    * bits (sign of the cosine against each plane), banding, the
    * bucket equi-join, and the exact-cosine re-rank are ALL
    * deterministic double arithmetic any engine replays term-for-term
    * — the banding/bucket/verify LOGIC shared with [[lshTopK]] gets a
    * full DuckDB gate while D2 keeps the random-family production
    * face (its per-row codegen'd `hyperplane_sig` needs no plane
    * join). Bit positions are the DENSE rank of `pid` ascending;
    * plane p of band b contributes `1 << (pos mod bandBits)` to
    * bucket b = pos div bandBits.
    *
    * Plan shape: the plane table is bounded (bands × bandBits rows,
    * broadcast); each side's signature is one broadcast cross join +
    * one keyed aggregate; candidates join on (band, bucket) with the
    * query side broadcast. The corpus-side cross join is planes× the
    * scan — acceptable for the oracle/calibration runs this face
    * exists for; corpus scale stays D2's single-pass signature.
    */
  def lshTopKPinned(corpus: DataFrame, queries: DataFrame, k: Int,
                    hyperplanes: DataFrame, bands: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qidCol: String = "qid", qvecCol: String = "qvec",
                    pidCol: String = "pid", pvecCol: String = "pvec"): DataFrame = {
    val nPlanes = hyperplanes.count()
    require(nPlanes > 0, "no hyperplanes given")
    require(nPlanes % bands == 0,
      s"nPlanes=$nPlanes must be a multiple of bands=$bands (trailing planes would be unbanded)")
    val bandBits = (nPlanes / bands).toInt
    val w = org.apache.spark.sql.expressions.Window.orderBy(pidCol)
    // tiny frame: the unpartitioned window is |planes| rows
    val pl = hyperplanes
      .withColumn("__pos", F.row_number().over(w) - 1)
      .select(F.col(pvecCol).as("__pvec"),
        (F.col("__pos") / bandBits).cast("int").as("__band"),
        F.expr(s"CAST(shiftleft(CAST(1 AS BIGINT), __pos % $bandBits) AS BIGINT)").as("__w"))
    def sigs(df: DataFrame, id: String, vec: String): DataFrame =
      df.crossJoin(F.broadcast(pl))
        .select(F.col(id), F.col("__band"),
          F.when(native.cosine_sim(F.col(vec), F.col("__pvec")) > 0, F.col("__w"))
            .otherwise(0L).as("__c"))
        .groupBy(F.col(id), F.col("__band"))
        .agg(F.sum("__c").as("__bucket"))
    val cSig = sigs(corpus, idCol, vecCol)
    val qSig = sigs(queries, qidCol, qvecCol)
      .withColumnRenamed("__band", "__qband").withColumnRenamed("__bucket", "__qbucket")
    val cands = cSig.join(F.broadcast(qSig),
        F.col("__band") === F.col("__qband") && F.col("__bucket") === F.col("__qbucket") &&
          F.col(qidCol) =!= F.col(idCol))
      .select(F.col(qidCol), F.col(idCol)).distinct()
    val scored = cands
      .join(F.broadcast(queries), qidCol)
      .join(corpus, idCol)
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** LSH ANN over an int8-QUANTIZED corpus — the fully-quantized
    * candidate path: banding AND scoring both run on the codes, so the
    * float corpus vectors are never touched (with a persisted codes
    * column, never even read: 4× less scan I/O, and every banding
    * exchange moves byte arrays, not floats).
    *
    * Why this is sound: a hyperplane signature bit is sign(w·x), and
    * codes ≈ x·127/scale with scale > 0 — a positive multiple, so the
    * codes produce the SAME signature as the float vector up to
    * rounding noise on near-zero dots; and cosine is scale-invariant,
    * so the codes score directly against float queries (the D6
    * argument). Queries stay float (they are tiny and broadcast);
    * corpus signatures come from the same hyperplane family, so the
    * band join is cross-representation-consistent. Recall vs the
    * float brute force is pinned in SimilaritySpec.
    */
  def lshTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 48,
                  bands: Int = 8, multiprobe: Boolean = true,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    // one quantize pass; the persisted deployment shape is
    // writeInt8CodesLayout + lshTopKInt8FromLayout
    val qc = corpus.select(F.col(idCol),
      native.int8_quantize(F.col(vecCol)).getField("codes").cast("array<float>").as("__codes"))
    int8CodesTopK(qc, queries, k, planes, bands, multiprobe, idCol, qidCol, qvecCol)
  }

  /** Persist the int8 codes column: (idCol, codes array<tinyint>) —
    * ~1 byte per element on disk (parquet dictionary/bit-pack) vs 4
    * for the float vectors. Queries over the layout
    * ([[lshTopKInt8FromLayout]]) scan ONLY this narrow table; the
    * float corpus is never read (spec-asserted on the scan schema).
    * Quantize once at write time, not per query — the D4 layout
    * principle applied to the code representation.
    */
  def writeInt8CodesLayout(corpus: DataFrame, path: String,
                           idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    corpus.select(F.col(idCol),
        native.int8_quantize(F.col(vecCol)).getField("codes").as("codes"))
      .write.mode("overwrite").parquet(path)

  /** [[lshTopKInt8]] over a persisted [[writeInt8CodesLayout]] table. */
  def lshTopKInt8FromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                            queries: DataFrame, k: Int, planes: Int = 48,
                            bands: Int = 8, multiprobe: Boolean = true,
                            idCol: String = "vec_id",
                            qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val qc = Tables.parquet(spark, path)
      .select(F.col(idCol), F.col("codes").cast("array<float>").as("__codes"))
    int8CodesTopK(qc, queries, k, planes, bands, multiprobe, idCol, qidCol, qvecCol)
  }

  private def int8CodesTopK(qc: DataFrame, queries: DataFrame, k: Int, planes: Int,
                            bands: Int, multiprobe: Boolean,
                            idCol: String, qidCol: String, qvecCol: String): DataFrame = {
    val c = Lsh.hyperplaneBands(qc, idCol, "__codes", planes, bands,
        probe = false, keepVec = true)
      .withColumnRenamed("band", "c_band").withColumnRenamed("bucket", "c_bucket")
    val q = Lsh.hyperplaneBands(queries, qidCol, qvecCol, planes, bands,
        probe = multiprobe, keepVec = true)
      .withColumnRenamed("band", "q_band").withColumnRenamed("bucket", "q_bucket")
    val candidates = c.join(F.broadcast(q),
        F.col("c_band") === F.col("q_band") && F.col("c_bucket") === F.col("q_bucket") &&
          F.col(qidCol) =!= F.col(idCol))
      .select(F.col(qidCol), F.col(qvecCol), F.col(idCol), F.col("__codes"))
      .distinct()
    val scored = candidates.withColumn("cos",
      native.cosine_sim(F.col(qvecCol), F.col("__codes")))
    topK(scored, qidCol, idCol, k)
  }

  // ---------------------------------------------------------------- PQ

  /** Train product-quantization codebooks: m per-subspace codebooks of
    * ksub codewords each, fit with `iters` Lloyd steps (L2 metric) on
    * the L2-NORMALIZED corpus — normalization makes dot(q, x̂) rank
    * identically to cosine(q, x), which is what lets the decomposed
    * ADC sum stand in for the cosine the rest of the D-block ranks by.
    *
    * Deterministic end to end: codewords seed from the ksub corpus
    * vectors ranked first by xxhash64(id), every iteration is one
    * corpus aggregation (encode is a map-only plan-embedded
    * expression, the per-(subspace, code, dim) means shuffle
    * m·ksub·dsub rows), and empty clusters keep their previous
    * codeword. The returned structure is m × ksub × dsub floats —
    * kilobytes; at 100 TB this trains ONCE per corpus version (on a
    * sample if desired) and persists alongside the codes table.
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 64, iters: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Seq[Float]]] = {
    val normed = corpus.select(F.col(idCol).as("__id"),
      native.l2_normalize(F.col(vecCol)).as("__nv"))
    val seedRows = normed.withColumn("__h", F.xxhash64(F.col("__id")))
      .orderBy("__h", "__id").limit(ksub)
      .select("__nv").collect().map(_.getSeq[Float](0).toArray)
    require(seedRows.nonEmpty, "pqTrain: empty corpus")
    val dim = seedRows.head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    var books: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      Array.tabulate(seedRows.length) { j => seedRows(j).slice(s * dsub, (s + 1) * dsub) }
    }
    var it = 0
    while (it < iters) {
      val cb = books.map(_.map(_.toSeq).toSeq).toSeq
      // one corpus pass: encode, fan each row out to its m (subspace,
      // code, subvector) triples, mean per (subspace, code, dim) —
      // the ivfCentroids shape, collapsed in partial aggregation
      val means = normed
        .select(F.col("__nv"),
          native.pq_encode(F.col("__nv"), cb, normalize = false).as("__codes"))
        .select(F.explode(F.array((0 until m).map(s => F.struct(
            F.lit(s).as("s"),
            // codes are stored as signed bytes; pmod undoes the sign
            // extension so codewords >= 128 (ksub up to 256) index
            // correctly — the driver-side mirror of `getByte & 0xff`
            F.pmod(F.element_at(F.col("__codes"), s + 1).cast("int"), F.lit(256)).as("code"),
            F.slice(F.col("__nv"), s * dsub + 1, dsub).as("sub"))): _*)).as("sc"))
        .select(F.col("sc.s").as("s"), F.col("sc.code").as("code"),
          F.posexplode(F.col("sc.sub")).as(Seq("dim", "x")))
        .groupBy("s", "code", "dim").agg(F.avg("x").as("mx"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        val (s, code) = (r.getInt(0), r.getInt(1))
        if (code < next(s).length) next(s)(code)(r.getInt(2)) = r.getDouble(3).toFloat
      }
      books = next
      it += 1
    }
    books.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** ANN top-k over PQ codes with exact re-rank: every corpus vector
    * is an m-byte code (32× narrower than dim=64 floats), a query
    * scores a row with m LUT lookups (PqAdcScore), the bounded top-k
    * aggregate keeps the best `rerank` candidates per query, and ONLY
    * those rows come back for an exact-cosine re-rank against the
    * float vectors (a broadcast of |queries|·rerank ids into the
    * corpus scan).
    *
    * Scale shape: the ADC scan is map-only over the codes table +
    * one bounded exchange; the re-rank touches `rerank` corpus rows
    * per query. Nothing shuffles the corpus. With
    * [[writePqCodesLayout]] persisted, the hot scan reads m bytes per
    * vector ([[pqTopKFromLayout]]) and the float table is touched
    * only by the (tiny) re-rank join.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
             ksub: Int = 64, iters: Int = 3, rerank: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding",
             qidCol: String = "qid", qvecCol: String = "qvec",
             codebooks: Option[Seq[Seq[Seq[Float]]]] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqTrain(corpus, m, ksub, iters, idCol, vecCol))
    val codes = corpus.select(F.col(idCol),
      native.pq_encode(F.col(vecCol), cb).as("__codes"))
    adcRerankTopK(codes, corpus, queries, k, rerank, cb, idCol, vecCol, qidCol, qvecCol)
  }

  /** Persist the PQ codes column: (idCol, m-byte codes). The ADC scan
    * of [[pqTopKFromLayout]] reads ONLY this table — for dim=64,
    * m=8 that is 32× less scan I/O than the float vectors, and the
    * exchange that follows is bounded top-k rows, not corpus rows.
    */
  def writePqCodesLayout(corpus: DataFrame, path: String, codebooks: Seq[Seq[Seq[Float]]],
                         idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    corpus.select(F.col(idCol),
        native.pq_encode(F.col(vecCol), codebooks).as("__codes"))
      .write.mode("overwrite").parquet(path)

  /** [[pqTopK]] over a persisted [[writePqCodesLayout]] table; the
    * float `corpus` frame is touched only by the bounded re-rank join.
    */
  def pqTopKFromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                       corpus: DataFrame, queries: DataFrame, k: Int,
                       codebooks: Seq[Seq[Seq[Float]]], rerank: Int = 64,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val codes = Tables.parquet(spark, path)
    adcRerankTopK(codes, corpus, queries, k, rerank, codebooks, idCol, vecCol, qidCol, qvecCol)
  }

  /** D12: persist the IVF-PQ layout — the FAISS-production composition
    * of the D4 cell routing and the D8 PQ compression: every vector
    * lands in its nearest-centroid cell PARTITION carrying its m-byte
    * PQ code AND its float vector in one table. The two access
    * patterns split by parquet's own column pruning: the ADC scan
    * reads (id, codes) — m bytes a vector — and never deserializes
    * the embedding column; the bounded re-rank reads (id, embedding)
    * for candidate rows only. One layout, both halves of the query.
    */
  def writeIvfPqLayout(corpus: DataFrame, path: String, centroids: DataFrame,
                       codebooks: Seq[Seq[Seq[Float]]],
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cent = collectCentroids(centroids)
    corpus
      .withColumn("cell",
        native.nearest_cell(F.col(vecCol), cent.map(_._1), cent.map(_._2)))
      .withColumn("__codes", native.pq_encode(F.col(vecCol), codebooks))
      .repartition(F.col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** D12: ANN top-k over an IVF-PQ layout — coarse cell routing THEN
    * compressed scoring, the shape a 100 TB vector corpus actually
    * serves: the probe ranks cells against the tiny centroid table,
    * the union of probed cells becomes a PartitionFilters prune (only
    * nprobe/ncells of the table is listed or read), the pruned scan
    * ADC-scores m bytes per vector against per-query LUTs, the
    * bounded top-`rerank` candidates re-rank exact-cosine against the
    * float column of the SAME pruned cells. Nothing shuffles the
    * corpus: probe pairs and LUTs broadcast in, candidates bound
    * every exchange.
    *
    * Probing every cell reduces this EXACTLY to [[pqTopKFromLayout]]
    * (spec-pinned bit equality) — nprobe trades recall for the prune,
    * PQ trades scan bytes for the re-rank, independently tunable.
    */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                queries: DataFrame, k: Int, centroids: DataFrame,
                codebooks: Seq[Seq[Seq[Float]]],
                nprobe: Int = 3, rerank: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding",
                qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val probed = queries.join(F.broadcast(centroids))
      .withColumn("ccos", native.cosine_sim(F.col(qvecCol), F.col("centroid")))
    val probeTop = topKGeneric(probed, qidCol, "cell", "ccos", nprobe)
      .select(F.col(qidCol), F.col("cell"))
    val wantedCells = probeTop.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val layout = Tables.parquet(spark, path)
      .filter(F.col("cell").isin(wantedCells: _*))
    val q = queries.select(F.col(qidCol),
      native.pq_lut(F.col(qvecCol), codebooks).as("__lut"))
    val adc = layout.select(F.col("cell"), F.col(idCol), F.col("__codes"))
      .join(F.broadcast(probeTop.join(q, qidCol)), Seq("cell"))
      .filter(F.col(qidCol) =!= F.col(idCol))
      .withColumn("adc", native.pq_adc(F.col("__codes"), F.col("__lut")))
    val cand = topKGeneric(adc, qidCol, idCol, "adc", rerank)
    val scored = layout.select(F.col(idCol), F.col(vecCol))
      .join(F.broadcast(cand.join(queries, qidCol)), Seq(idCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  private def adcRerankTopK(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                            k: Int, rerank: Int, cb: Seq[Seq[Seq[Float]]],
                            idCol: String, vecCol: String,
                            qidCol: String, qvecCol: String): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val q = queries.select(F.col(qidCol), native.pq_lut(F.col(qvecCol), cb).as("__lut"))
    val adcScored = codes.join(F.broadcast(q), F.col(qidCol) =!= F.col(idCol))
      .withColumn("adc", native.pq_adc(F.col("__codes"), F.col("__lut")))
    val cand = topKGeneric(adcScored, qidCol, idCol, "adc", rerank)
    val scored = corpus.select(F.col(idCol), F.col(vecCol))
      .join(F.broadcast(cand.join(queries, qidCol)), Seq(idCol))
      .withColumn("cos", native.cosine_sim(F.col(qvecCol), F.col(vecCol)))
    topK(scored, qidCol, idCol, k)
  }

  /** D13: hard-negative mining for contrastive training (the DPR
    * recipe, Karpukhin et al. 2020: a retriever trains on
    * (query, positive, hard negatives) where the negatives are the
    * top-scoring NON-relevant corpus items — random negatives are too
    * easy and the model plateaus). `positives` lists the known
    * relevant pairs (qidCol, idCol); the miner scores the corpus per
    * query (any topK leg — brute force here; swap an IVF/PQ frame in
    * by passing its output as `scored`), anti-joins the positive set
    * so no relevant item leaks into the negatives, and keeps the
    * top-`k` hardest per query with a final 1-based rank.
    *
    * Scale shape: scoring is the D1 broadcast scan (or the caller's
    * ANN frame — candidates already bounded); the positive set is
    * per-query-bounded and broadcast into a left-anti; the rank comes
    * from the bounded top-k aggregate, never a window. Mining fetches
    * `fetch ≥ k + max positives per query` candidates so the anti-join
    * cannot starve a query whose positives fill the top ranks.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, positives: DataFrame,
                    k: Int, fetch: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val f = if (fetch > 0) fetch else k * 2
    require(f >= k, s"fetch ($f) must be >= k ($k)")
    val cand = bruteForceTopK(corpus, queries, f, idCol, vecCol, qidCol, qvecCol)
    val pos = positives.select(F.col(qidCol), F.col(idCol).cast("long").as(idCol))
    val negs = cand.join(F.broadcast(pos), Seq(qidCol, idCol), "left_anti")
    negs
      .groupBy(F.col(qidCol))
      .agg(aggregates.top_k_by_score(F.col("cos"), F.col(idCol), k).as("top"))
      .select(F.col(qidCol), F.posexplode(F.col("top")).as(Seq("pos", "t")))
      .select(F.col(qidCol), F.col("t.id").as(idCol), F.col("t.score").as("cos"),
        (F.col("pos") + 1).cast("int").as("rank"))
  }

  // public: encoder-generated code instantiates these reflectively
  final case class MmrCand(qid: Long, id: Long, score: Double, vec: Array[Float])
  final case class MmrPick(qid: Long, id: Long, mmr_rank: Int, mmr_score: Double)

  /** CosineSim's exact arithmetic (float→double widening, index-order
    * accumulation, dot/(√na·√nb)) on plain arrays — the MMR fold must
    * produce the same bits the SQL oracle's list arithmetic does.
    */
  private def cosArrays(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** D10: Maximal-Marginal-Relevance diversification (Carbonell &
    * Goldstein 1998) of a per-query candidate list — the standard
    * retrieval post-processing step after ANY top-k leg (D1/D2/D3/D8
    * or a D9 fusion): pick `m` results trading relevance against
    * redundancy,
    *   MMR(d) = λ·score(d) − (1−λ)·max_{s ∈ selected} cos(d, s),
    * with the empty-selected-set penalty 0 (first pick is pure
    * relevance) and ties broken by lowest id — fully deterministic.
    *
    * `candidates` carries (qid, id, score, vec) — a topK output joined
    * with its vectors. Per-query candidate counts are bounded by the
    * upstream k, so this is a RERANKER of bounded lists, not a corpus
    * operator: the per-group buffer is O(k·dim), the whole pass one
    * hash exchange on qid (`flatMapSortedGroups`), and the greedy fold
    * costs O(m·k) cosines of the bounded set. Pairwise cosines use
    * CosineSim's exact arithmetic, so with an exactly-representable λ
    * (e.g. 0.75) a SQL oracle replays every pick bit-for-bit.
    */
  def mmrRerank(candidates: DataFrame, m: Int, lambda: Double,
                qidCol: String = "qid", idCol: String = "vec_id",
                scoreCol: String = "cos", vecCol: String = "embedding"): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val session = candidates.sparkSession
    import session.implicits._
    val ds = candidates.select(
      F.col(qidCol).cast("long").as("qid"),
      F.col(idCol).cast("long").as("id"),
      F.col(scoreCol).cast("double").as("score"),
      F.col(vecCol).as("vec")).as[MmrCand]
    ds.groupByKey(_.qid)
      .flatMapSortedGroups($"score".desc, $"id") { (_, it) =>
        val cands = it.toArray // bounded by the upstream top-k contract
        val n = cands.length
        val take = math.min(m, n)
        val selected = new Array[Int](take)
        val used = new Array[Boolean](n)
        val out = Seq.newBuilder[MmrPick]
        var r = 0
        var exhausted = false
        while (r < take && !exhausted) {
          var best = -1; var bestVal = Double.NegativeInfinity; var bestId = Long.MaxValue
          var i = 0
          while (i < n) {
            if (!used(i)) {
              var pen = 0.0
              if (r > 0) {
                var maxSim = Double.NegativeInfinity
                var j = 0
                while (j < r) {
                  val c = cosArrays(cands(i).vec, cands(selected(j)).vec)
                  if (c > maxSim) maxSim = c
                  j += 1
                }
                pen = maxSim
              }
              val v = lambda * cands(i).score - (1 - lambda) * pen
              if (v > bestVal || (v == bestVal && cands(i).id < bestId)) {
                best = i; bestVal = v; bestId = cands(i).id
              }
            }
            i += 1
          }
          // a NaN objective (zero-norm vector ⇒ NaN cosine) never
          // compares greater: if every remaining candidate is NaN,
          // stop selecting instead of picking arbitrarily
          if (best < 0) exhausted = true
          else {
            used(best) = true; selected(r) = best
            out += MmrPick(cands(best).qid, cands(best).id, r + 1, bestVal)
            r += 1
          }
        }
        out.result()
      }
      .toDF()
      .withColumnRenamed("qid", qidCol)
      .withColumnRenamed("id", idCol)
  }
}
