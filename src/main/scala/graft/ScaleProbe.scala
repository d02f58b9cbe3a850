package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Scale-shape probe (SURVEY.md §6): replicates the sf0.1 tables
  * (events ×20 with day-shifted replicas, documents/embeddings ×10
  * with id offsets), times the headline operators at both sizes, and
  * measures the incremental-ingest contract directly — appending one
  * replica-worth of batch into the full-size table must cost O(batch),
  * not O(table).
  *
  * Diagnostic main, not part of the driver contract:
  *   sbt "runMain graft.ScaleProbe"   (SPARK_GRAFT_SF_DIR to override)
  */
object ScaleProbe {
  private val root = "/tmp/graft_scale"

  private def buildIfAbsent(spark: SparkSession, sfDir: String): Unit = {
    val done = new java.io.File(s"$root/_BUILT")
    if (done.exists()) return
    val e = graft.sources.Tables.events(spark, sfDir)
    val maxId = e.agg(F.max("event_id")).head().getLong(0) + 1
    val e20 = (0 until 20).map { i =>
      e.withColumn("event_id", F.col("event_id") + F.lit(i * maxId))
        .withColumn("ts", F.col("ts") + F.expr(s"INTERVAL $i DAYS"))
    }.reduce(_ unionByName _)
    e20.write.mode("overwrite").parquet(s"$root/events.parquet")
    val d = graft.sources.Tables.documents(spark, sfDir)
    val maxDoc = d.agg(F.max("doc_id")).head().getLong(0) + 1
    (0 until 10).map(i => d.withColumn("doc_id", F.col("doc_id") + F.lit(i * maxDoc)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/documents.parquet")
    val v = graft.sources.Tables.embeddings(spark, sfDir)
    val maxVec = v.agg(F.max("vec_id")).head().getLong(0) + 1
    (0 until 10).map(i => v.withColumn("vec_id", F.col("vec_id") + F.lit(i * maxVec)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root/embeddings.parquet")
    done.createNewFile()
  }

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** 50× documents/embeddings replica dir (the heavy-family decade
    * probe — one order past the 10× table for the 100 TB claims).
    * Only the doc/vector tables: the ops probed at 50× never touch
    * events.
    */
  private val root50 = s"$root/x50"
  private def buildX50(spark: SparkSession, sfDir: String): Unit = {
    val done = new java.io.File(s"$root50/_BUILT")
    if (done.exists()) return
    val d = graft.sources.Tables.documents(spark, sfDir)
    val maxDoc = d.agg(F.max("doc_id")).head().getLong(0) + 1
    (0 until 50).map(i => d.withColumn("doc_id", F.col("doc_id") + F.lit(i * maxDoc)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root50/documents.parquet")
    val v = graft.sources.Tables.embeddings(spark, sfDir)
    val maxVec = v.agg(F.max("vec_id")).head().getLong(0) + 1
    (0 until 50).map(i => v.withColumn("vec_id", F.col("vec_id") + F.lit(i * maxVec)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root50/embeddings.parquet")
    done.createNewFile()
  }

  /** 50× events (separate marker — only the geography decade probe
    * needs it; 30 M rows, built on demand).
    */
  private def buildX50Events(spark: SparkSession, sfDir: String): Unit = {
    val done = new java.io.File(s"$root50/_BUILT_EVENTS")
    if (done.exists()) return
    val e = graft.sources.Tables.events(spark, sfDir)
    val maxId = e.agg(F.max("event_id")).head().getLong(0) + 1
    (0 until 50).map { i =>
      e.withColumn("event_id", F.col("event_id") + F.lit(i * maxId))
        .withColumn("ts", F.col("ts") + F.expr(s"INTERVAL ${i % 25} DAYS"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$root50/events.parquet")
    done.createNewFile()
  }

  /** median-of-3 wall seconds (same policy as Bench: robust to one
    * outlier in either direction, where min would mask a regression
    * behind one lucky cached run).
    */
  private def time(f: => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // --bm25-fixedq: BM25 with a FIXED query set (the driver query
    // grows queries with the corpus, conflating |Q| and corpus growth
    // — the D9 hybridProbe rationale), production df cap ON: the
    // slope isolates the per-corpus-row cost of the lexical scorer
    if (args.headOption.contains("--bm25-fixedq")) {
      buildIfAbsent(spark, sfDir)
      def bm25Probe(dir: String): Double = {
        val docs = graft.sources.Tables.documents(spark, dir)
        val queries = graft.sources.Tables.documents(spark, sfDir)
          .filter(F.col("doc_id") % 250 === 0)
          .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
        time(force(graft.operators.Hybrid.bm25Leg(docs, "doc_id", "text",
          queries, "qid", "qtext", n = 10)))
      }
      val b1 = bm25Probe(sfDir)
      val b2 = bm25Probe(root)
      println(f"""{"probe":"scale","ops":[{"op":"search_bm25_fixedq","base_sec":$b1%.2f,"scaled_sec":$b2%.2f}]}""")
      spark.stop()
      return
    }

    // --statements: the A33/A31 statement-tier scale contracts.
    //  - versioned_append: append the SAME fixed batch into a 1× vs
    //    20× Versioned table — flat timing proves the O(batch) commit
    //    claim (copy-on-write: the manifest extends the live set, no
    //    existing byte is touched, cost tracks the batch not the
    //    table);
    //  - versioned_read_deep: latest-read after 1 vs 50 commits —
    //    flat timing proves the reader opens manifests, not history
    //    (O(#manifests) metadata, O(live) scan);
    //  - matview_refresh: refreshMaterialized with the SAME fixed
    //    batch against a 1× vs 20× state table — flat timing proves
    //    O(batch) incremental maintenance (state payload never
    //    shuffles; the delta folds via the slim-key merge);
    //  - sql_versioned_dml / sql_matview_refresh: the full driver
    //    statement trajectories at 1× vs 20× events — linear slope
    //    (each statement is one corpus pass by construction).
    if (args.headOption.contains("--statements")) {
      buildIfAbsent(spark, sfDir)
      import graft.sources.Versioned
      def eventsOf(dir: String) = graft.sources.Tables.events(spark, dir)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
      val fixedBatch = eventsOf(sfDir).filter(F.col("event_id") % 20 === 0)
        .withColumn("event_id", F.col("event_id") + F.lit(1000000000L))
      def appendProbe(dir: String, tag: String): Double = {
        val vt = s"$root/versioned_probe_$tag"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vt))
        Versioned.overwrite(eventsOf(dir), vt, Some(1000L)) // table build: untimed
        val t0 = System.nanoTime()
        Versioned.append(fixedBatch, vt, Some(2000L))
        (System.nanoTime() - t0) / 1e9 // single run: a repeat re-appends
      }
      val apBase = appendProbe(sfDir, "base")
      val apBig = appendProbe(root, "big")
      // deep-history reader: the SAME total content as 1 commit vs 50
      // commits — the delta is pure log depth (50 manifests + 50 live
      // dirs vs 1), isolating the reader's metadata cost from data
      // volume
      def readDeep(splitCommits: Boolean, tag: String): Double = {
        val vt = s"$root/versioned_deep_$tag"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vt))
        val slice = eventsOf(sfDir).filter(F.col("event_id") % 50 === 0)
        val slices = (0 until 50).map(i => slice.withColumn("event_id",
          F.col("event_id") + F.lit(i.toLong * 10000000L)))
        if (splitCommits)
          slices.zipWithIndex.foreach { case (s, i) =>
            Versioned.append(s, vt, Some(1000L + i)) }
        else Versioned.append(slices.reduce(_ unionByName _), vt, Some(1000L))
        time(force(Versioned.read(spark, vt)))
      }
      val rdShallow = readDeep(splitCommits = false, "shallow")
      val rdDeep = readDeep(splitCommits = true, "deep")
      def mvProbe(dir: String, tag: String): Double = {
        import org.apache.spark.sql.{functions => FF}
        val ev = graft.sources.Tables.events(spark, dir)
        ev.filter(FF.col("event_id") % 7 =!= 0).createOrReplaceTempView(s"svp_seed_$tag")
        GraftSql.load(spark,
          s"""CREATE OR REPLACE MATERIALIZED VIEW svp_mv_$tag AS
             |SELECT event_type, SUM(CAST(value AS DECIMAL(30,6))) AS v_sum, COUNT(*) AS n
             |FROM svp_seed_$tag GROUP BY event_type""".stripMargin)
        val delta = graft.sources.Tables.events(spark, sfDir)
          .filter(FF.col("event_id") % 7 === 0)
        val t0 = System.nanoTime()
        GraftSql.refreshMaterialized(spark, s"svp_mv_$tag", delta)
        (System.nanoTime() - t0) / 1e9 // single run: a repeat double-folds
      }
      val mvBase = mvProbe(sfDir, "base")
      val mvBig = mvProbe(root, "big")
      // A45: change-history read of the SAME fixed delta over a 1× vs
      // 20× base commit — flat timing proves appendsBetween scans the
      // delta directories the manifest names, never the table (the
      // CDC consumer's O(changed bytes) contract)
      def cdcProbe(dir: String, tag: String): Double = {
        val vt = s"$root/versioned_cdc_$tag"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vt))
        Versioned.overwrite(eventsOf(dir), vt, Some(1000L)) // base table: untimed
        Versioned.append(fixedBatch, vt, Some(2000L))       // the fixed delta
        time(force(Versioned.appendsBetween(spark, vt, Some(1500L), None)))
      }
      val cdcBase = cdcProbe(sfDir, "base")
      val cdcBig = cdcProbe(root, "big")
      force(SparkEntry.queries("q1_agg")(spark, sfDir)) // warmup for the trajectories
      val stRows = Seq("sql_versioned_dml", "sql_matview_refresh").map { name =>
        val base = time(force(SparkEntry.queries(name)(spark, sfDir)))
        val big = time(force(SparkEntry.queries(name)(spark, root)))
        f"""{"op":"$name","base_sec":$base%.2f,"scaled_sec":$big%.2f}"""
      }
      println("{\"probe\":\"scale_statements\",\"ops\":[" +
        (Seq(
          f"""{"op":"versioned_append_fixed_batch","base_sec":$apBase%.2f,"scaled_sec":$apBig%.2f}""",
          f"""{"op":"versioned_read_deep","base_sec":$rdShallow%.2f,"scaled_sec":$rdDeep%.2f}""",
          f"""{"op":"matview_refresh_fixed_batch","base_sec":$mvBase%.2f,"scaled_sec":$mvBig%.2f}""",
          f"""{"op":"versioned_appends_fixed_window","base_sec":$cdcBase%.2f,"scaled_sec":$cdcBig%.2f}""") ++
          stRows).mkString(",") + "]}")
      spark.stop()
      return
    }

    // --fuzzy: C15 fuzzy edit-distance join at 1× vs 10× names under
    // the WORST-case prefix skew (every supplier name shares the
    // 'Supplier#0000' boilerplate prefix — exactly the blowup the
    // Ed-Join kq+1-rarest-grams prefix filter exists to kill).
    // Replicas perturb the tail so they are near-dups, not exact
    // dups: output pairs grow with input, candidates must not grow
    // quadratically. The replica dirs carry no supplier table, so the
    // fixture builds in-memory from sfDir.
    if (args.headOption.contains("--fuzzy")) {
      import graft.operators.Dedup
      def names(mult: Int): DataFrame = {
        val s0 = graft.sources.Tables.supplier(spark, sfDir)
          .select(F.col("s_suppkey").as("id0"), F.col("s_name").as("nm"))
        (0 until mult).map { i =>
          s0.select((F.col("id0") + F.lit(i * 10000000L)).as("id"),
            (if (i == 0) F.col("nm")
             else F.concat(F.col("nm"), F.lit((i % 10).toString))).as("nm"))
        }.reduce(_ unionByName _)
      }
      def probe(mult: Int): Double = {
        val df = names(mult)
        time(force(Dedup.editDistancePairs(df, "id", "nm", maxDist = 1)))
      }
      probe(1) // warmup
      val f1 = probe(1)
      val f10 = probe(10)
      println(f"""{"probe":"scale_fuzzy","ops":[{"op":"dedup_fuzzy_pairs_skew","base_sec":$f1%.2f,"x10_sec":$f10%.2f}]}""")
      spark.stop()
      return
    }

    // --geo: the q_st_join pair-finding slope — 10× points spread over
    // 10× AREA (each replica shifts 25° in longitude, so replicas
    // never pair with each other): output grows ×10 with input, and a
    // flat per-input-row cost is exactly the output-bounded claim the
    // grid-cell candidate join makes. A densifying replica (same
    // window) would grow output quadratically — that is a property of
    // the DATA, not the operator, and is not probed here.
    if (args.headOption.contains("--geo")) {
      import graft.operators.Geo
      def pts(mult: Int, keyCol: String, tag: String): DataFrame = {
        val base = graft.sources.Tables.customer(spark, sfDir).select(
          F.col("c_custkey").as(keyCol),
          ((F.col("c_custkey") * 7 % 200).cast("double") / 10.0 - 10.0).as(s"${tag}_lng0"),
          ((F.col("c_custkey") * 13 % 100).cast("double") / 10.0 - 5.0).as(s"${tag}_lat"))
        (0 until mult).map { i =>
          base.select((F.col(keyCol) + F.lit(i * 10000000L)).as(keyCol),
            (F.col(s"${tag}_lng0") + F.lit((i % 13) * 25.0 - 150.0)).as(s"${tag}_lng"),
            F.col(s"${tag}_lat"))
        }.reduce(_ unionByName _)
      }
      def probe(mult: Int): Double =
        time(force(Geo.dwithinJoin(
          pts(mult, "lid", "l"), "l_lng", "l_lat",
          pts(mult, "rid", "r"), "r_lng", "r_lat", 25000.0)))
      probe(1) // warmup
      val g1 = probe(1)
      val g10 = probe(10)
      println(f"""{"probe":"scale_geo","ops":[{"op":"q_st_join_spread","base_sec":$g1%.2f,"x10_sec":$g10%.2f}]}""")
      spark.stop()
      return
    }

    // --x50 [ops...]: the decade-further probe — 50× docs/vectors,
    // default = the three heaviest doc families from the 10× table.
    // Ops that read EVENTS (the geography faces) trigger the separate
    // 50× events build.
    if (args.headOption.contains("--x50")) {
      buildX50(spark, sfDir)
      val ops50 = if (args.length > 1) args.drop(1).toSeq
        else Seq("dedup_spans", "dedup_semantic", "text_backoff_hits")
      val eventsOps = Set("q_st_line", "q_st_poly", "q_st_point", "q_st_pred",
        "q_aead", "q_aead_det")
      if (ops50.exists(eventsOps)) buildX50Events(spark, sfDir)
      force(SparkEntry.queries("dedup_exact")(spark, sfDir)) // warmup
      val rows50 = ops50.map { name =>
        val base = time(force(SparkEntry.queries(name)(spark, sfDir)))
        val big = time(force(SparkEntry.queries(name)(spark, root50)))
        f"""{"op":"$name","base_sec":$base%.2f,"x50_sec":$big%.2f}"""
      }
      println("{\"probe\":\"scale50\",\"ops\":[" + rows50.mkString(",") + "]}")
      spark.stop()
      return
    }

    buildIfAbsent(spark, sfDir)

    // optional trailing args: probe only these driver-query ops (the
    // named probes below still run unless any filter is given)
    val only = args.toSet
    val allOps = Seq("fx_daily_report", "fx_merge_upsert", "fx_asof_rate", "fx_gapfill",
      "fx_completeness",
      "dedup_exact", "dedup_simhash", "dedup_minhash_lsh", "dedup_text_droplist",
      "dedup_embedding_lsh", "dedup_embedding_droplist", "dedup_clusters", "dedup_lines",
      "dedup_spans", "dedup_semantic", "dedup_decontaminate",
      "text_contamination", "text_rare_tokens", "text_surprisal", "text_bpe_vocab",
      "text_chunk", "text_chunk_lines", "text_classifier_score", "text_bigram_surprisal",
      "text_classifier_train", "text_backoff_hits", "text_kn_hits", "text_kn3_hits", "text_lang_id_trained",
      "text_bpe_encode",
      "text_gopher_rules", "text_gopher_repetition", "text_gopher_dup_ngrams",
      "text_c4_filters",
      "corpus_mix", "corpus_mix_budget", "pack_sequences", "sample_apportioned",
      "sample_dsir", "sample_kfold",
      "q_approx_topk",
      "ann_bruteforce_topk", "ann_lsh_topk", "ann_lsh_int8", "ann_ivf_topk",
      "ann_pq_topk", "ann_ivfpq_topk", "ann_hard_negatives", "ann_matryoshka_topk",
      "ann_binary_topk",
      "search_bm25", "search_bm25_hits", "text_backoff_surprisal", "mm_phash_pairs",
      "text_normalize", "mm_frame_phash", "q_search_fn", "eval_pr_curve",
      // (sql_wildcard_tables reads orders, which the replica dir does
      // not carry — its scale story is plan-level shard pruning,
      // spec-pinned, not a growth slope)
      "q_json_array", "q_date_spine", "q_bq_functions", "sql_merge_conditional",
      "sql_partition_ddl", "sql_appends", "sql_changes", "sql_search_index",
      "q_hll_sketch", "q_kll_sketch", "q_bq_functions3",
      // round-8 late additions: learned clustering (iters × one
      // corpus pass each), positional phrase matching (token stream
      // filtered to the phrase's terms before any shuffle), and the
      // BQML statement route over the same loop.
      // (dedup_semantic_kmeans is deliberately absent: its face pins
      // k=8 for the oracle, so in-cell pair counts grow quadratically
      // with the corpus — production scales k with corpus size
      // (cells ≈ corpus/10⁴, the C13 scaladoc) and its linear-cell
      // slope is dedup_semantic's row above)
      "cluster_kmeans", "search_phrase", "sql_ml_kmeans", "text_embed",
      // round-11: unigram tokenizer (dict-sized EM — replicated docs
      // keep the dict CONSTANT, so the slope isolates the corpus pass)
      "text_unigram_seed", "text_unigram_tokens",
      // round-14: soft dedup (cluster map join + map-only threshold —
      // the slope tracks dedup_clusters' components cost above it).
      // dedup_fuzzy_pairs is absent from THIS list: the replica dir
      // carries no supplier table — its 10× skewed-prefix slope runs
      // under the dedicated --fuzzy probe above
      "sample_soft_dedup",
      // round-15: geography folds over 20× events — map-only scans
      // whose slope must track the row count, nothing else
      "q_st_point", "q_st_line", "q_st_poly",
      // round-16: per-row cipher cost (the AEAD slope IS the per-row
      // AES work — map-only), boundary predicates (projection folds),
      // the statement trajectories (each statement one corpus pass),
      // and the streaming replay (slice write + 4 O(batch) folds)
      "q_aead", "q_aead_det", "q_st_pred", "sql_ddl_lifecycle",
      "sql_statement_forms", "text_bpe_bytes_encode", "stream_incremental_report")
    val ops = if (only.isEmpty) allOps else allOps.filter(only)
    force(SparkEntry.queries("fx_daily_report")(spark, sfDir)) // warmup
    val rows = ops.map { name =>
      val base = time(force(SparkEntry.queries(name)(spark, sfDir)))
      val big = time(force(SparkEntry.queries(name)(spark, root)))
      f"""{"op":"$name","base_sec":$base%.2f,"scaled_sec":$big%.2f}"""
    }
    if (only.nonEmpty) { // filtered run: driver-query ops only
      println("{\"probe\":\"scale\",\"ops\":[" + rows.mkString(",") + "]}")
      spark.stop()
      return
    }

    // D4: cell-partitioned ANN layout — layout build is a one-time
    // (amortized) cost; the timed path is the nprobe-pruned query
    def layoutProbe(dir: String, tag: String): Double = {
      import graft.operators.Similarity
      val e = graft.sources.Tables.embeddings(spark, dir)
      val layout = s"$root/cell_layout_$tag"
      val centPath = s"$layout.centroids"
      if (!new java.io.File(s"$layout/_SUCCESS").exists()) {
        Similarity.trainCentroids(e).write.mode("overwrite").parquet(centPath)
        Similarity.writeCellLayout(e, layout, spark.read.parquet(centPath))
      }
      val cents = spark.read.parquet(centPath)
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      time(force(Similarity.ivfTopKFromLayout(spark, layout, q, 10, nprobe = 3, centroids = cents)))
    }
    val layoutBase = layoutProbe(sfDir, "base")
    val layoutBig = layoutProbe(root, "big")
    val layoutRow =
      f"""{"op":"ann_ivf_from_layout","base_sec":$layoutBase%.2f,"scaled_sec":$layoutBig%.2f}"""

    // D8: persisted PQ codes — the timed path scans m bytes/vector +
    // the bounded re-rank; codebook training and the codes write are
    // the one-time layout cost
    def pqLayoutProbe(dir: String, tag: String): Double = {
      import graft.operators.Similarity
      val e = graft.sources.Tables.embeddings(spark, dir)
      val layout = s"$root/pq_layout_$tag"
      val cbPath = s"$layout.codebooks"
      if (!new java.io.File(s"$layout/_SUCCESS").exists()) {
        val cb = Similarity.pqTrain(e)
        import spark.implicits._
        cb.zipWithIndex.map { case (book, s) => (s, book.map(_.toArray).toArray) }
          .toDF("s", "book").write.mode("overwrite").parquet(cbPath)
        Similarity.writePqCodesLayout(e, layout, cb)
      }
      val cb = spark.read.parquet(cbPath).orderBy("s").collect()
        .map(_.getSeq[scala.collection.Seq[Float]](1).map(_.toSeq).toSeq).toSeq
      val q = e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec"))
      time(force(Similarity.pqTopKFromLayout(spark, layout, e, q, 10, cb)))
    }
    val pqBase = pqLayoutProbe(sfDir, "base")
    val pqBig = pqLayoutProbe(root, "big")
    val pqRow =
      f"""{"op":"ann_pq_from_layout","base_sec":$pqBase%.2f,"scaled_sec":$pqBig%.2f}"""

    // C11: DedupIndex.ingest — the O(batch)-per-tick contract. The
    // SAME batch (one re-keyed replica of the sf0.1 docs) ingests into
    // an index over the base corpus and one over the 10× corpus; flat
    // timing = ingest cost is independent of corpus size. Single timed
    // run each (a repeat would be a pure self-match no-op).
    def indexProbe(corpusDir: String, tag: String): Double = {
      import graft.operators.DedupIndex
      val ipath = s"$root/dedup_index_$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ipath))
      spark.sql(s"DROP TABLE IF EXISTS dix_probe_${tag}_sigs")
      spark.sql(s"DROP TABLE IF EXISTS dix_probe_${tag}_bands")
      val corpus = graft.sources.Tables.documents(spark, corpusDir).select("doc_id", "text")
      DedupIndex.create(spark, s"dix_probe_$tag", ipath, corpus, "doc_id", "text")
      val batch = graft.sources.Tables.documents(spark, sfDir)
        .select((F.col("doc_id") + 10000000L).as("doc_id"), F.col("text"))
      val t0 = System.nanoTime()
      DedupIndex.ingest(spark, s"dix_probe_$tag", ipath, batch, "doc_id", "text").count()
      (System.nanoTime() - t0) / 1e9
    }
    val ixBase = indexProbe(sfDir, "base")
    val ixBig = indexProbe(root, "big")
    val indexRow =
      f"""{"op":"dedup_index_ingest","base_sec":$ixBase%.2f,"scaled_sec":$ixBig%.2f}"""

    // S6: packed-shard export end-to-end (pack + slot-ordered rebuild +
    // bucket-partitioned write)
    def exportProbe(corpusDir: String, tag: String): Double = {
      import graft.operators.Packing
      val docs = graft.sources.Tables.documents(spark, corpusDir)
        .select(F.col("doc_id"), F.col("text"))
        .withColumn("__cost", F.length(F.col("text")).cast("long"))
      time(Packing.exportSequences(docs, "doc_id", "text", "__cost",
        2048L, 32, s"$root/shards_$tag", 1024))
    }
    val exBase = exportProbe(sfDir, "base")
    val exBig = exportProbe(root, "big")
    val exportRow =
      f"""{"op":"pack_export","base_sec":$exBase%.2f,"scaled_sec":$exBig%.2f}"""

    // S7: the corpus pipeline end-to-end (filter→clean→dedup→mix→pack→
    // export) — the composed system, not just its stages
    def pipelineProbe(corpusDir: String, tag: String): Double = {
      val docs = graft.sources.Tables.documents(spark, corpusDir)
        .select("doc_id", "text", "source")
      time(CorpusPipeline.run(spark, docs, "doc_id", "text", "source",
        s"$root/corpus_$tag",
        CorpusPipeline.Config(langs = graft.functions.text.langLexicon.map(_._1),
          minQuality = 0.0)))
    }
    val cpBase = pipelineProbe(sfDir, "base")
    val cpBig = pipelineProbe(root, "big")
    val pipelineRow =
      f"""{"op":"corpus_pipeline","base_sec":$cpBase%.2f,"scaled_sec":$cpBig%.2f}"""

    // RangeJoin: a FIXED interval set (derived from the base table)
    // probed by 1× vs 20× points — output grows linearly with points,
    // so flat-to-linear timing means the binned equi-join is doing the
    // work, with no nested-loop blow-up anywhere
    def rangeProbe(dir: String): Double = {
      val base = graft.sources.Tables.events(spark, sfDir)
      val intervals = base.filter(F.col("event_id") % 1000 === 0)
        .select(F.col("event_id").as("range_key"),
          (F.col("value") - 0.05).as("lo"), (F.col("value") + 0.05).as("hi"))
      val points = graft.sources.Tables.events(spark, dir)
        .select(F.col("event_id").as("point_key"), F.col("value"))
      time(force(graft.operators.RangeJoin.join(points, intervals, "value", "lo", "hi",
          binWidth = Some(0.1))
        .groupBy("range_key").agg(F.count(F.lit(1)).as("n"))))
    }
    val rjRow =
      f"""{"op":"range_join","base_sec":${rangeProbe(sfDir)}%.2f,"scaled_sec":${rangeProbe(root)}%.2f}"""

    // overlapJoin: FIXED left interval set × 1×/20× right intervals —
    // linear-in-right timing means the bin-ownership dedup emits once
    // per pair with no quadratic or distinct term anywhere
    def overlapProbe(dir: String): Double = {
      val base = graft.sources.Tables.events(spark, sfDir)
      val a = base.filter(F.col("event_id") % 1000 === 0)
        .select(F.col("event_id").as("a_key"),
          (F.col("value") - 0.05).as("a_lo"), (F.col("value") + 0.05).as("a_hi"))
      val b = graft.sources.Tables.events(spark, dir)
        .filter(F.col("event_id") % 10 === 0)
        .select(F.col("event_id").as("b_key"),
          (F.col("value") - 0.05).as("b_lo"), (F.col("value") + 0.05).as("b_hi"))
      time(force(graft.operators.RangeJoin.overlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          binWidth = Some(0.1))
        .groupBy("a_key").agg(F.count(F.lit(1)).as("n"))))
    }
    val ovRow =
      f"""{"op":"overlap_join","base_sec":${overlapProbe(sfDir)}%.2f,"scaled_sec":${overlapProbe(root)}%.2f}"""

    // Incremental.merge: fold the SAME fixed batch of partials into a
    // 1× vs 20× state table — the state side is map-only (broadcast
    // combine + slim-key anti), so the delta's cost cannot grow faster
    // than a state scan
    def mergeProbe(dir: String): Double = {
      import graft.operators.Incremental
      val keys = Seq("day", "event_type")
      def part(df: DataFrame) = Incremental.partials(
        df.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts")))), keys, Seq(
          F.sum(F.col("value").cast("decimal(30,2)")).as("value_sum"),
          F.count(F.lit(1)).as("n_cnt")))
      val state = part(graft.sources.Tables.events(spark, dir))
      val delta = part(graft.sources.Tables.events(spark, sfDir).filter(F.col("event_id") % 20 === 0))
      time(force(Incremental.merge(state, delta, keys)))
    }
    val imRow =
      f"""{"op":"incremental_merge","base_sec":${mergeProbe(sfDir)}%.2f,"scaled_sec":${mergeProbe(root)}%.2f}"""

    // D9: hybrid retrieval with a FIXED query set (the driver query
    // grows queries with the corpus, which conflates |Q| and |corpus|
    // growth — here only the corpus scales, so the slope isolates the
    // per-corpus-row cost of the two legs)
    def hybridProbe(dir: String): Double = {
      val docs = graft.sources.Tables.documents(spark, dir)
      val vecs = graft.sources.Tables.embeddings(spark, dir)
      val baseDocs = graft.sources.Tables.documents(spark, sfDir)
      val baseVecs = graft.sources.Tables.embeddings(spark, sfDir)
      val queries = baseDocs.filter(F.col("doc_id") % 50 === 0)
        .select(F.col("doc_id").as("qid"), F.col("text").as("qtext"))
        .join(baseVecs.select(F.col("vec_id").as("qid"), F.col("embedding").as("qvec")), "qid")
      time(force(graft.operators.Hybrid.rrfSearch(docs, "doc_id", "text",
        vecs, "vec_id", "embedding", queries, "qid", "qtext", "qvec", k = 10, n = 20)))
    }
    val hybridRow =
      f"""{"op":"search_hybrid_fixedq","base_sec":${hybridProbe(sfDir)}%.2f,"scaled_sec":${hybridProbe(root)}%.2f}"""

    // A24: Bloom-reduced anti-join vs the plain spelling, in the
    // regime it exists for — droplist past broadcast size (simulated
    // by disabling auto-broadcast): plain shuffles the whole corpus
    // on the key; bloom passes definite negatives map-only and
    // shuffles only the hits. Fixed 5%-of-base droplist against the
    // 1× and 10× corpus.
    def bloomProbe(corpusDir: String): (Double, Double) = {
      import graft.operators.BloomJoin
      val docs = graft.sources.Tables.documents(spark, corpusDir).select("doc_id", "text")
      val drop = graft.sources.Tables.documents(spark, sfDir)
        .filter(F.col("doc_id") % 20 === 0).select("doc_id")
      val items = math.max(1L, drop.count())
      // BOTH thresholds: the static one plans the shuffle join, and
      // AQE's runtime one must not convert it back to broadcast —
      // otherwise the probe compares two broadcast plans
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, "-1"))
      try {
        val b = time(force(BloomJoin.antiJoin(docs, drop, Seq("doc_id"), items)))
        val p = time(force(docs.join(drop, Seq("doc_id"), "left_anti")))
        (b, p)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (blBase, plBase) = bloomProbe(sfDir)
    val (blBig, plBig) = bloomProbe(root)
    val bloomRow =
      f"""{"op":"bloom_anti_join","base_sec":$blBase%.2f,"scaled_sec":$blBig%.2f}"""
    val plainAntiRow =
      f"""{"op":"plain_anti_join","base_sec":$plBase%.2f,"scaled_sec":$plBig%.2f}"""
    // the metric wall time can't show at fixture scale (50k rows
    // shuffle in milliseconds): the fraction of corpus rows entering
    // the exact join's exchange under bloom — plain shuffles 1.0
    val bloomHitFraction = {
      import graft.operators.BloomJoin
      val docs = graft.sources.Tables.documents(spark, root).select("doc_id", "text")
      val drop = graft.sources.Tables.documents(spark, sfDir)
        .filter(F.col("doc_id") % 20 === 0).select("doc_id")
      val filter = BloomJoin.buildFilter(drop, Seq("doc_id"), math.max(1L, drop.count()))
      val hits = docs.filter(graft.functions.bloom.bloom_might_contain(
        F.xxhash64(F.col("doc_id")), filter)).count()
      hits.toDouble / docs.count()
    }

    // incremental-ingest contract: append one fresh day-shifted replica
    // batch into the full 2M-row table; cost must track the batch.
    // Single timed run — a repeat would be a pure redelivery no-op.
    val rawPath = s"$root/ingest_probe/exchange_rate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ingest_probe"))
    val big = spark.read.parquet(s"$root/events.parquet")
    val maxId = big.agg(F.max("event_id")).head().getLong(0) + 1
    FxPipeline.ingest(spark, big, rawPath) // build the big table (O(table), once)
    val batch = spark.read.parquet(s"$root/events.parquet")
      .filter(F.col("event_id") < 100000)
      .withColumn("event_id", F.col("event_id") + F.lit(maxId))
      .withColumn("ts", F.col("ts") + F.expr("INTERVAL 40 DAYS"))
    val t0 = System.nanoTime()
    FxPipeline.ingest(spark, batch, rawPath)
    val tIngest = (System.nanoTime() - t0) / 1e9
    val tableRows = spark.read.parquet(rawPath).count()

    println("{\"probe\":\"scale\",\"ops\":[" +
      (rows ++ Seq(layoutRow, pqRow, indexRow, exportRow, pipelineRow, rjRow, ovRow, imRow,
        hybridRow, bloomRow, plainAntiRow)).mkString(",") +
      f"""],"bloom_hit_fraction":$bloomHitFraction%.4f,""" +
      f""""ingest_batch_sec":$tIngest%.2f,"ingest_table_rows":$tableRows}""")
    spark.stop()
  }
}
