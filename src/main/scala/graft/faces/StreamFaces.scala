package graft
package faces

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.sources.Tables
import graft.operators.Upsert
import graft.functions.{text => T}
import Kit._

/** Driver faces of section G, streaming sinks under the batch
  * CORRECTNESS gate. graft.streaming.Replay writes
  * the input as modification-time-ordered single-file slices and
  * streams them back one file per micro-batch under
  * Trigger.AvailableNow — the whole trajectory is deterministic, so
  * the sink's FINAL state is exactly what a plain batch SQL oracle
  * computes. Reference anchor: the every-minute idempotent ingest
  * loop (idempotent_fx_pipeline.py:75-92) IS this shape — files
  * land, each lands once, state folds forward. The sinks' final states
  * are trajectory-independent by design (event-time-wins merge;
  * commuting decimal partials; first-processed-survives dedup with
  * pinned slice order), so each oracle is the plain batch semantics.
  */
private[graft] object StreamFaces {

  val all: Seq[Face] = Seq(
    // G3 gate: foreachBatch MERGE-upsert with the EVENT-TIME-wins
    // merge policy — the final table is the latest (ts, event_id) row
    // per (user_id, event_type) no matter how rows split across
    // micro-batches, which is the same row fx_dedup_latest's oracle
    // selects. State persists via stage-per-generation parquet (the
    // production shape: never overwrite the file you are reading).
    Face("stream_merge_upsert", (s, d) => {
      val base = Scratch.scratch(d, "smu")
      val e = Tables.events(s, d)
        .select("user_id", "event_type", "event_id", "value", "ts")
      val schema = graft.streaming.Replay.writeSlices(
        e, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      var gen = 0
      var statePath: Option[String] = None
      val q = graft.streaming.EventStream.mergeSink(
          stream, Seq("user_id", "event_type"),
          () => statePath.map(s.read.parquet(_)),
          merged => {
            gen += 1
            val p = s"$base/state/$gen"
            // state is a few hundred rows: one file per commit, not one
            // per shuffle partition (it is re-read every micro-batch)
            merged.coalesce(1).write.mode("overwrite").parquet(p)
            statePath = Some(p)
          },
          orderCol = Some("ts"), byEventTime = true, tieBreak = Seq("event_id"))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(statePath.getOrElse(
          throw new IllegalStateException("stream produced no state")))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    }, Oracle(
        """SELECT user_id, event_type, event_id, value FROM (
          |  SELECT user_id, event_type, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin), shufflePartitions = Some(8)),

    // G8 gate: incremental-report sink — four micro-batches fold
    // O(batch) decimal partials into the persisted state; additive
    // decimal sums commute, so the final state equals the one-shot
    // aggregate bit-for-bit (fx_incremental_report's oracle). The
    // (state, batchId) pair persists atomically per batch — the
    // replay guard the sink documents.
    Face("stream_incremental_report", (s, d) => {
      val base = Scratch.scratch(d, "sir")
      val e = Tables.events(s, d).withColumn("day", evDay(F.col("ts")))
        .select("day", "event_type", "value", "event_id")
      val schema = graft.streaming.Replay.writeSlices(
        e, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val keys = Seq("day", "event_type")
      val measures = Seq(
        F.sum(F.col("value").cast("decimal(30,2)")).as("value_sum"),
        F.count(F.lit(1)).as("n_cnt"))
      var state: Option[(String, Long)] = None
      val q = graft.streaming.EventStream.incrementalReportSink(
          stream, keys, measures,
          () => state.map { case (p, id) => (s.read.parquet(p), id) },
          (st, id) => {
            val p = s"$base/state/$id"
            st.coalesce(1).write.mode("overwrite").parquet(p)
            state = Some((p, id))
          })
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(state.getOrElse(
          throw new IllegalStateException("stream produced no state"))._1)
        .select(F.col("day"), F.col("event_type"),
          (F.col("value_sum").cast("double") / F.col("n_cnt")).as("avg_value"),
          F.col("n_cnt").as("n"))
        .orderBy("day", "event_type")
    }, Oracle(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), shufflePartitions = Some(8)),

    // G7 gate: streaming corpus ingest against the persisted
    // DedupIndex. The fixture makes every near-dup decision EXACT
    // while still driving the full MinHash/banded machinery: doc
    // content is eight repetitions of its group token, so docs of one
    // group share an identical single shingle (est-Jaccard 1.0) and
    // docs of different groups share none (est ~0 — a cross-group
    // slot collision needs a 64-bit hash collision). Groups 0-9 are
    // pre-seeded into the index; the survivor of every other group is
    // its first-processed doc = min (slice, doc_id), which the oracle
    // replays as one ROW_NUMBER.
    Face("stream_dedup_ingest", (s, d) => {
      val base = Scratch.scratch(d, "sdi")
      val token = F.concat(F.lit("g"), F.col("grp").cast("string"))
      def withText(df: DataFrame): DataFrame = df.withColumn("text",
        F.concat_ws(" ", F.array(Seq.fill(8)(token): _*)))
      val docs = withText(Tables.orders(s, d)
        .filter(F.col("o_orderkey") % 11 === 0)
        .select(F.col("o_orderkey").as("doc_id"),
          (F.col("o_orderkey") % 25).as("grp")))
      val seed = withText(s.range(0, 10).select(
        (F.col("id") + 10000000L).as("doc_id"), F.col("id").as("grp")))
      graft.operators.DedupIndex.create(s, "sdi16_idx", s"$base/index",
        seed, "doc_id", "text", k = 64, bands = 16, buckets = 4)
      val schema = graft.streaming.Replay.writeSlices(
        docs, s"$base/in", F.pmod(F.col("doc_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val q = graft.streaming.EventStream.dedupIngestSink(
          stream, "sdi16_idx", s"$base/index", "doc_id", "text",
          writeSurvivors = sv =>
            sv.select("doc_id", "grp").write.mode("append").parquet(s"$base/out"))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("doc_id")
    }, Oracle(
        """WITH docs AS (SELECT o_orderkey AS doc_id, o_orderkey % 25 AS grp
          |              FROM orders WHERE o_orderkey % 11 = 0),
          |ranked AS (SELECT doc_id, grp,
          |                  ROW_NUMBER() OVER (PARTITION BY grp
          |                                     ORDER BY doc_id % 4, doc_id) AS rn
          |           FROM docs)
          |SELECT doc_id, grp FROM ranked WHERE rn = 1 AND grp >= 10
          |ORDER BY doc_id""".stripMargin), shufflePartitions = Some(8)),

    // A18/A32/B35/B41/B42 driver face (round 16): the statement forms
    // that were spec-only, under one content hash. A Versioned target
    // takes two INSERT shapes (positional + explicit column list; the
    // src marker equals event_id % 3 by construction, so the oracle
    // replays it arithmetically), CTAS snapshots the post-insert
    // state, CREATE EXTERNAL TABLE mounts the raw events parquet, and
    // the probe query runs SELECT * EXCEPT, the PIVOT and UNPIVOT
    // clauses (round-tripping: unpivoting the pivot restores the
    // per-type count), and GROUP BY ALL.
    Face("sql_statement_forms", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("stf_events")
      val base = Scratch.scratch(d, "stf")
      val ts = Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00"))
      val seedDf = Tables.events(s, d).filter(F.col("event_id") % 3 === 0)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"),
          F.lit(0L).as("src"))
      graft.sources.Versioned.overwrite(seedDf, s"$base/t", ts)
      graft.sources.Versioned.register(s, "stf_t", s"$base/t")
      graft.GraftSql.load(s,
        """INSERT INTO stf_t
          |SELECT event_id, event_type, value, 1 FROM stf_events
          |WHERE event_id % 3 = 1""".stripMargin)
      graft.GraftSql.load(s,
        """INSERT INTO stf_t (event_id, event_type, value, src)
          |SELECT event_id, event_type, value, 2 FROM stf_events
          |WHERE event_id % 3 = 2""".stripMargin)
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE stf_ctas AS
          |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ctas_n
          |FROM stf_t GROUP BY event_type""".stripMargin)
      graft.GraftSql.load(s,
        s"CREATE OR REPLACE EXTERNAL TABLE stf_ext " +
          s"OPTIONS(format = 'PARQUET', uris = ['$d/events.parquet'])")
      graft.GraftSql.load(s,
        """WITH gba AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS gba_n
          |             FROM stf_events GROUP BY ALL),
          |     exc AS (SELECT * EXCEPT (props, ts) FROM stf_ext),
          |     pvt AS (SELECT * FROM (SELECT event_type, event_id % 2 AS par FROM stf_events)
          |             PIVOT (COUNT(*) FOR par IN (0 AS even, 1 AS odd))),
          |     unp AS (SELECT event_type, k, v FROM pvt UNPIVOT (v FOR k IN (even, odd))),
          |     t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t,
          |                  CAST(SUM(src) AS BIGINT) AS src_sum
          |           FROM stf_t GROUP BY event_type)
          |SELECT t.event_type, t.n_t, t.src_sum, c.ctas_n, g.gba_n,
          |       (SELECT CAST(COUNT(*) AS BIGINT) FROM exc) AS exc_n,
          |       CAST(p.even AS BIGINT) AS even, CAST(p.odd AS BIGINT) AS odd,
          |       (SELECT CAST(SUM(v) AS BIGINT) FROM unp
          |        WHERE unp.event_type = t.event_type) AS unp_sum
          |FROM t JOIN stf_ctas c ON c.event_type = t.event_type
          |       JOIN gba g ON g.event_type = t.event_type
          |       JOIN pvt p ON p.event_type = t.event_type
          |ORDER BY t.event_type""".stripMargin)
    }, Oracle(
      // statement forms: src equals event_id % 3 by construction;
      // CTAS/GROUP BY ALL/unpivot all replay as the same per-type
      // count; the pivot legs split it by event_id parity
        """WITH t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t,
          |                  CAST(SUM(event_id % 3) AS BIGINT) AS src_sum,
          |                  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even,
          |                  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS odd
          |           FROM events GROUP BY event_type)
          |SELECT event_type, n_t, src_sum,
          |       n_t AS ctas_n, n_t AS gba_n,
          |       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS exc_n,
          |       even, odd, n_t AS unp_sum
          |FROM t ORDER BY event_type""".stripMargin)),

    // G9 gate: streaming SCD2 maintenance. Observations slice by
    // EVENT-TIME week (the sink's time-ordered-per-key contract: a
    // later micro-batch carries later observations), and applyBatch ≡
    // full recompute is the Scd2 law the spec pins — so the oracle is
    // the SAME full-history SQL as fx_scd2.
    Face("stream_scd2", (s, d) => {
      val base = Scratch.scratch(d, "ssc")
      val t0 = 1704067200000000L // 2024-01-01T00:00:00Z epoch micros
      val h = Tables.events(s, d).select(
        F.col("event_type"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"),
        F.floor(F.col("value") / 10).cast("long").as("band"))
      val weekSlice = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.col("ts_us") - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(h, s"$base/in", weekSlice, 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      var state: Option[(String, Long)] = None
      val q = graft.streaming.EventStream.scd2Sink(
          stream, Seq("event_type"), "ts_us", "event_id", Seq("band"),
          () => state.map { case (p, id) => (s.read.parquet(p), id) },
          (st, id) => {
            val p = s"$base/state/$id"
            st.coalesce(1).write.mode("overwrite").parquet(p)
            state = Some((p, id))
          })
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(state.getOrElse(
          throw new IllegalStateException("stream produced no state"))._1)
        .select(F.col("event_type"), F.col("band"),
          F.col("valid_from").as("vf_us"), F.col("valid_to").as("vt_us"),
          F.col("is_current"))
        .orderBy("event_type", "vf_us")
    },
      // G9: applyBatch ≡ full recompute (the Scd2 law) — the oracle is
      // fx_scd2's full-history SQL verbatim
      Oracle(scd2OracleSql), shufflePartitions = Some(8)),

    // G13 gate: streaming materialized-view maintenance — four
    // micro-batches fold into an EMPTY-seeded MV through
    // refreshMaterialized; the registered view's final state must
    // equal the one-shot aggregate (the sql_matview_refresh oracle).
    Face("stream_matview", (s, d) => {
      val base = Scratch.scratch(d, "smv")
      val ev = Tables.events(s, d)
      ev.filter(F.lit(false)).createOrReplaceTempView("smv_seed")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE MATERIALIZED VIEW smv_report AS
          |SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       SUM(CAST(value AS DECIMAL(30,6))) AS v_sum, COUNT(*) AS n,
          |       MIN(value) AS v_min, MAX(value) AS v_max
          |FROM smv_seed WHERE event_type <> 'click' GROUP BY 1, 2""".stripMargin)
      val src = ev.select("event_id", "event_type", "value", "ts")
      val schema = graft.streaming.Replay.writeSlices(
        src, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      var last: Option[Long] = None
      val q = graft.streaming.EventStream.materializedViewSink(
          stream, "smv_report", () => last, id => last = Some(id))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.table("smv_report")
        .select(F.col("day"), F.col("event_type"),
          F.col("v_sum").cast("double").as("v_sum"),
          F.col("n"), F.col("v_min"), F.col("v_max"))
        .orderBy("day", "event_type")
    }, Oracle(
      // G13: empty-seeded MV + 4 refreshes ≡ the one-shot aggregate
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       COUNT(*) AS n, MIN(value) AS v_min, MAX(value) AS v_max
          |FROM events WHERE event_type <> 'click'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), shufflePartitions = Some(8)),

    // G14 gate: streaming versioned-commit sink — each micro-batch
    // lands as a time-travelable commit at baseTsUs + batchId (the
    // manifest IS the exactly-once ledger). Week-sliced input makes
    // every AS OF cut a TIME PREFIX, so the oracle replays the
    // time-travel read as a plain ts predicate; the commit count pins
    // the ledger itself.
    Face("stream_versioned", (s, d) => {
      val base = Scratch.scratch(d, "svn")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d).select("event_id", "event_type", "value", "ts")
      val weekSlice = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", weekSlice, 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val q = graft.streaming.EventStream.versionedAppendSink(stream, s"$base/t", 1000000L)
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      val full = graft.sources.Versioned.read(s, s"$base/t")
        .groupBy("event_type").agg(F.count(F.lit(1)).as("n_total"))
      val asOf1 = graft.sources.Versioned.readAsOf(s, s"$base/t", 1000001L)
        .groupBy("event_type").agg(F.count(F.lit(1)).as("n_asof1"))
      val nCommits = graft.sources.Versioned.commits(s, s"$base/t").length.toLong
      full.join(asOf1, Seq("event_type"), "left")
        .select(F.col("event_type"), F.col("n_total"),
          F.coalesce(F.col("n_asof1"), F.lit(0L)).as("n_asof1"),
          F.lit(nCommits).as("commits"))
        .orderBy("event_type")
    }, Oracle(
      // G14: week-sliced commits make AS OF a plain time predicate;
      // the ledger holds exactly 4 commits
        """SELECT event_type, COUNT(*) AS n_total,
          |       CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <
          |                          1704067200000000 + 16 * 86400000000 THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_asof1,
          |       CAST(4 AS BIGINT) AS commits
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin), shufflePartitions = Some(8)),

    // G15 gate: streaming MERGE into a versioned table. The input is
    // pre-collapsed to one row per (key, week) — merge's unique-
    // source-keys contract — and week order makes last-merge-wins
    // coincide with global latest-per-key; AS OF commit 1 replays as
    // latest-per-key over the first two weeks.
    Face("stream_versioned_merge", (s, d) => {
      val base = Scratch.scratch(d, "svm")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .select("user_id", "event_type", "event_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val perWeek = Upsert.dedupLatest(ev.withColumn("wk", week),
        Seq("user_id", "event_type", "wk"), "ts", Seq("event_id"))
      val schema = graft.streaming.Replay.writeSlices(perWeek, s"$base/in", F.col("wk"), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
      val q = graft.streaming.EventStream.versionedMergeSink(
          stream, s"$base/t", Seq("user_id", "event_type"), 2000000L)
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      val commits = graft.sources.Versioned.commits(s, s"$base/t").length.toLong
      val asof1 = graft.sources.Versioned.readAsOf(s, s"$base/t", 2000001L).count()
      graft.sources.Versioned.read(s, s"$base/t")
        .select("user_id", "event_type", "event_id", "value")
        .withColumn("commits", F.lit(commits))
        .withColumn("asof1_n", F.lit(asof1))
        .orderBy("user_id", "event_type")
    }, Oracle(
      // G15: last-merge-wins over per-week-latest slices = global
      // latest per key; AS OF commit 1 = distinct keys of weeks 0-1
        """WITH r AS (SELECT user_id, event_type, event_id, value,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |           FROM events),
          |a AS (SELECT user_id, event_type,
          |        row_number() OVER (PARTITION BY user_id, event_type
          |                           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |      FROM events
          |      WHERE epoch_us(CAST(ts AS TIMESTAMP)) < 1704067200000000 + 16 * 86400000000)
          |SELECT user_id, event_type, event_id, value,
          |       CAST(4 AS BIGINT) AS commits,
          |       (SELECT COUNT(*) FROM a WHERE rn = 1) AS asof1_n
          |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin), shufflePartitions = Some(8)),

    // G2 gate: the STATE-STORE dedup path (dropDuplicatesWithinWatermark)
    // — unlike the foreachBatch sinks this drives Spark's stateful
    // operator itself. Every third event is duplicated INSIDE its
    // event-time-week slice (same id, same ts — so the duplicate pair
    // always shares a micro-batch and the watermark can never expire
    // between them), and time-ordered slices keep every row on or
    // ahead of the watermark (no late drops): the emitted set is each
    // event exactly once.
    Face("stream_dedup_state", (s, d) => {
      val base = Scratch.scratch(d, "sdd")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .filter(F.col("event_id") % 4 === 0)
        .select("event_id", "event_type", "user_id", "value", "ts")
      val src = ev.unionByName(ev.filter(F.col("event_id") % 3 === 0))
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(src, s"$base/in", week, 4)
      val deduped = graft.streaming.EventStream.dedupStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema))
      val q = deduped.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.countDistinct(F.col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }, Oracle(
      // G2: the state-store dedup emits each id exactly once
        """SELECT event_type, COUNT(*) AS n,
          |       COUNT(DISTINCT event_id) AS n_ids
          |FROM events WHERE event_id % 4 = 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin), shufflePartitions = Some(8)),

    // G16 gate: streaming cluster assignment — centroids train in
    // BATCH (the lambda shape), the stream assigns statelessly; the
    // emitted set equals the batch kmeansAssign, so the oracle is
    // cluster_kmeans' DuckDB k-means replay verbatim.
    Face("stream_cluster_assign", (s, d) => {
      val base = Scratch.scratch(d, "sca")
      val codes = Tables.embeddings(s, d)
        .select(F.col("vec_id"), graft.functions.native.int8_quantize(F.col("embedding")).as("q"))
        .select(F.col("vec_id"), F.col("q.codes").cast("array<int>").as("vec"))
      val centroids = graft.operators.Clustering.kmeansTrain(codes, k = 8, iters = 2)
      val schema = graft.streaming.Replay.writeSlices(
        codes, s"$base/in", F.pmod(F.col("vec_id"), F.lit(4)), 4)
      val assigned = graft.streaming.EventStream.clusterAssignStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema), centroids, "vec")
      val q = assigned.select("vec_id", "cluster", "dist")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("vec_id")
    }, Oracle(DedupFaces.clusterKmeansOracleSql), shufflePartitions = Some(8)),

    // G17 gate: streaming text embedding — E24's trainless embedder on
    // a stream; emitted vectors equal the batch pipeline, so the
    // oracle is text_embed's replay verbatim.
    Face("stream_embed", (s, d) => {
      val base = Scratch.scratch(d, "sem")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val schema = graft.streaming.Replay.writeSlices(
        docs, s"$base/in", F.pmod(F.col("doc_id"), F.lit(4)), 4)
      val embedded = graft.streaming.EventStream.embedStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema), "doc_id", "text", 32)
      val q = embedded.select("doc_id", "embedding")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("doc_id"), F.posexplode(F.col("embedding")).as(Seq("pos", "v")))
        .orderBy("doc_id", "pos")
    }, Oracle(SqlFaces.textEmbedOracleSql), shufflePartitions = Some(8)),

    // G6 gate: the stream-stream interval join — Spark's buffered
    // two-sided join state, driven across four event-time-week
    // micro-batches. State retention follows watermark − interval, so
    // boundary pairs (purchase early in week N, signup late in week
    // N−1 within the hour) survive eviction and the emitted set is
    // EXACTLY the batch interval join, each pair once.
    Face("stream_join", (s, d) => {
      val base = Scratch.scratch(d, "ssj")
      val t0 = 1704067200000000L
      // calibration cap: the buffered two-sided state is the cost —
      // a quarter of the users exercises it identically
      val ev = Tables.events(s, d)
        .filter(F.pmod(F.col("user_id"), F.lit(4)) === 0)
        .select("event_id", "event_type", "user_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val joined = graft.streaming.EventStream.enrichPurchases(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema))
      val q = joined.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("event_id"), F.col("user_id"),
          F.unix_micros(F.col("p_ts")).as("p_us"), F.col("amount"),
          F.unix_micros(F.col("s_ts")).as("s_us"), F.col("rate"))
        .orderBy("event_id", "s_us", "rate")
    }, Oracle(
      // G6: the stream-stream interval join emits exactly the batch
      // interval join's pairs
        """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts,
          |                  value AS amount
          |           FROM events WHERE event_type = 'purchase' AND user_id % 4 = 0),
          |     g AS (SELECT user_id AS s_user, CAST(ts AS TIMESTAMP) AS s_ts,
          |                  value AS rate
          |           FROM events WHERE event_type = 'signup' AND user_id % 4 = 0)
          |SELECT event_id, user_id, epoch_us(p_ts) AS p_us, amount,
          |       epoch_us(s_ts) AS s_us, rate
          |FROM p JOIN g ON user_id = s_user AND s_ts <= p_ts
          |              AND s_ts >= p_ts - INTERVAL 1 HOUR
          |ORDER BY event_id, s_us, rate""".stripMargin), shufflePartitions = Some(8)),

    // G1 gate: the event-time windowed aggregate WITH watermark —
    // Spark's stateful window operator itself. Day windows, zero-lag
    // watermark, event-time-week slices (time-ordered, so no late
    // drops); after the final no-data watermark-advance batch the
    // emitted set is every day window strictly before the data's last
    // day (the last day's window end exceeds max event time, so it
    // never finalizes) — a pure batch predicate for the oracle.
    Face("stream_windowed_report", (s, d) => {
      val base = Scratch.scratch(d, "swr")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .filter(F.col("event_id") % 4 === 0)
        .select("event_id", "event_type", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val report = graft.streaming.EventStream.windowedReport(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema),
        window = "1 day", watermark = "0 seconds")
      val q = report.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("window_start"), F.col("event_type"), F.col("n"))
        .orderBy("window_start", "event_type")
    }, Oracle(
      // G1: day windows finalize strictly before the data's last day
        """WITH src AS (SELECT * FROM events WHERE event_id % 4 = 0),
          |mx AS (SELECT date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS m FROM src)
          |SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
          |       event_type, COUNT(*) AS n
          |FROM src
          |WHERE date_trunc('day', CAST(ts AS TIMESTAMP)) < (SELECT m FROM mx)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), shufflePartitions = Some(8)),

    // G20 gate: the range-sessionize sink — interval merging is
    // associative over merged results, so the maintained session
    // table is trajectory-independent and equals the one-shot merge;
    // the oracle is the classic gaps-and-islands rewrite.
    Face("stream_range_sessionize", (s, d) => {
      val base = Scratch.scratch(d, "srs")
      val ranges = Tables.events(s, d).select(F.col("user_id"),
        F.struct(evDay(F.col("ts")).as("range_start"),
          F.date_add(evDay(F.col("ts")),
            (F.pmod(F.col("user_id"), F.lit(5)) + 1).cast("int")).as("range_end")).as("rng"),
        F.col("event_id"))
      val schema = graft.streaming.Replay.writeSlices(
        ranges, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val stream = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
        .drop("event_id")
      var state: Option[(String, Long)] = None
      val q = graft.streaming.EventStream.rangeSessionizeSink(
          stream, "rng", Seq("user_id"),
          () => state.map { case (p, id) => (s.read.parquet(p), id) },
          (st, id) => {
            val p = s"$base/state/$id"
            st.coalesce(1).write.mode("overwrite").parquet(p)
            state = Some((p, id))
          })
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      s.read.parquet(state.getOrElse(
          throw new IllegalStateException("stream produced no state"))._1)
        .select(F.col("user_id"), F.col("rng.range_start").as("ss"),
          F.col("rng.range_end").as("se"))
        .orderBy("user_id", "ss")
    }, Oracle(
      // G20: interval merge as gaps-and-islands — a new island starts
      // where the range start exceeds every previous end (MEETS:
      // adjacency merges, so strict > starts the island)
        """WITH r AS (SELECT user_id,
          |                  CAST(date_trunc('day', ts) AS DATE) AS rs,
          |                  CAST(date_trunc('day', ts) AS DATE) + CAST(user_id % 5 + 1 AS INT) AS re
          |           FROM events),
          |d AS (SELECT DISTINCT user_id, rs, re FROM r),
          |o AS (SELECT user_id, rs, re,
          |             MAX(re) OVER (PARTITION BY user_id ORDER BY rs, re
          |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |      FROM d),
          |i AS (SELECT *, SUM(CASE WHEN pm IS NULL OR rs > pm THEN 1 ELSE 0 END)
          |               OVER (PARTITION BY user_id ORDER BY rs, re) AS island
          |      FROM o)
          |SELECT user_id, MIN(rs) AS ss, MAX(re) AS se
          |FROM i GROUP BY user_id, island ORDER BY user_id, ss""".stripMargin), shufflePartitions = Some(8)),

    // G11 gate: stream-static enrich join — the dim broadcasts into
    // every micro-batch, left_outer keeps unmatched events flowing
    // with NULL attributes; the emitted set is the plain batch join.
    Face("stream_enrich_dim", (s, d) => {
      import s.implicits._
      val base = Scratch.scratch(d, "sed")
      val dim = Seq(("click", 1L), ("view", 2L), ("purchase", 3L))
        .toDF("event_type", "type_rank")
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value", "ts")
      val schema = graft.streaming.Replay.writeSlices(
        ev, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val enriched = graft.streaming.EventStream.enrichFromDim(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema),
        dim, Seq("event_type"))
      val q = enriched.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy("event_type", "type_rank")
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy("event_type")
    }, Oracle(
      // G11: the broadcast enrich equals the plain left join
        """SELECT event_type,
          |       CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
          |                            WHEN 'purchase' THEN 3 END AS BIGINT) AS type_rank,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin), shufflePartitions = Some(8)),

    // G10 gate: the streaming constraints gate — clean rows to the
    // accept sink, violators quarantined with their per-row blame
    // list AND the batch id (event-time-week slices make the batch id
    // itself oracle-computable). Two Satisfies rules with controlled
    // labels keep the violated-array rendering deterministic.
    Face("stream_constraints_gate", (s, d) => {
      val base = Scratch.scratch(d, "scg")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val rules = Seq(
        graft.operators.Constraints.Satisfies("value_small", F.col("value") < 40),
        graft.operators.Constraints.Satisfies("user_even",
          F.pmod(F.col("user_id"), F.lit(2)) === 0))
      val q = graft.streaming.EventStream.constraintsGateSink(
          graft.streaming.Replay.readSliced(s, s"$base/in", schema), rules,
          ok => ok.write.mode("append").parquet(s"$base/ok"),
          dead => dead
            .select(F.col("event_type"), F.col("batch_id"),
              F.array_join(F.col("violated"), ",").as("violated"))
            .write.mode("append").parquet(s"$base/dead"))
        .option("checkpointLocation", s"$base/chk").start()
      q.awaitTermination()
      val ok = s.read.parquet(s"$base/ok").groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"))
        .select(F.lit("ok").as("kind"), F.col("event_type"),
          F.lit(-1L).as("batch_id"), F.lit("").as("violated"), F.col("n"))
      val dead = s.read.parquet(s"$base/dead")
        .groupBy("event_type", "batch_id", "violated")
        .agg(F.count(F.lit(1)).as("n"))
        .select(F.lit("dead").as("kind"), F.col("event_type"),
          F.col("batch_id"), F.col("violated"), F.col("n"))
      ok.unionByName(dead).orderBy("kind", "event_type", "batch_id", "violated")
    }, Oracle(
      // G10: the gate partition + per-row blame + the week batch id
        """WITH e AS (SELECT event_type, user_id, value,
          |             GREATEST(0, LEAST(3, CAST(FLOOR(
          |               (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
          |               / (8 * 86400000000)) AS BIGINT))) AS batch_id,
          |             (NOT COALESCE(value < 40, FALSE)) AS v1,
          |             (NOT COALESCE(user_id % 2 = 0, FALSE)) AS v2
          |           FROM events)
          |SELECT * FROM (
          |  SELECT 'ok' AS kind, event_type, CAST(-1 AS BIGINT) AS batch_id,
          |         '' AS violated, COUNT(*) AS n
          |  FROM e WHERE NOT v1 AND NOT v2 GROUP BY event_type
          |  UNION ALL
          |  SELECT 'dead', event_type, batch_id,
          |         CASE WHEN v1 AND v2 THEN 'satisfies(value_small),satisfies(user_even)'
          |              WHEN v1 THEN 'satisfies(value_small)' ELSE 'satisfies(user_even)' END,
          |         COUNT(*)
          |  FROM e WHERE v1 OR v2 GROUP BY 1, 2, 3, 4)
          |ORDER BY kind, event_type, batch_id, violated""".stripMargin), shufflePartitions = Some(8)),

    // G4 gate: custom-state sessionization (flatMapGroupsWithState,
    // event-time timeout). Week slices + a zero-lag watermark pin the
    // trajectory; a session emits when its successor opens or when the
    // final no-data watermark advance times it out — so the emitted
    // set is every gap-rule session except a user's LAST session
    // whose (end + gap) is not strictly below the global max event
    // time. Session arithmetic runs at the sink's millisecond
    // precision (java.sql.Timestamp.getTime); the fixture was checked
    // free of ms/µs boundary and timeout-equality edges at every sf.
    // The double `total_value` column is excluded (stream add order
    // differs) — start/end/count are exact.
    Face("stream_sessionize", (s, d) => {
      val base = Scratch.scratch(d, "sss")
      val t0 = 1704067200000000L
      val ev = Tables.events(s, d)
        .filter(F.pmod(F.col("user_id"), F.lit(4)) === 0)
        .select("user_id", "value", "ts")
      val week = F.greatest(F.lit(0), F.least(F.lit(3),
        F.floor((F.unix_micros(F.col("ts")) - F.lit(t0)) / F.lit(8L * 86400000000L)))).cast("int")
      val schema = graft.streaming.Replay.writeSlices(ev, s"$base/in", week, 4)
      val sessions = graft.streaming.EventStream.sessionize(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema),
        gapMinutes = 30, watermark = "0 seconds")
      val q = sessions.toDF.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(F.col("user_id"),
          F.unix_micros(F.col("session_start")).as("start_us"),
          F.unix_micros(F.col("session_end")).as("end_us"),
          F.col("n_events"))
        .orderBy("user_id", "start_us")
    }, Oracle(
      // G4: gap-rule sessions at millisecond precision; a user's last
      // session survives only if timed out by the final watermark
        """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS tms
          |           FROM events WHERE user_id % 4 = 0),
          |mx AS (SELECT MAX(tms) AS m FROM e),
          |o AS (SELECT user_id, tms,
          |             lag(tms) OVER (PARTITION BY user_id ORDER BY tms) AS pt FROM e),
          |i AS (SELECT user_id, tms,
          |             SUM(CASE WHEN pt IS NULL OR tms - pt > 1800000 THEN 1 ELSE 0 END)
          |               OVER (PARTITION BY user_id ORDER BY tms) AS island FROM o),
          |sess AS (SELECT user_id, island, MIN(tms) AS sms, MAX(tms) AS ems,
          |                COUNT(*) AS n_events
          |         FROM i GROUP BY user_id, island),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY sms DESC) AS r
          |       FROM sess)
          |SELECT user_id, sms * 1000 AS start_us, ems * 1000 AS end_us, n_events
          |FROM rk WHERE r > 1 OR ems + 1800000 < (SELECT m FROM mx)
          |ORDER BY user_id, start_us""".stripMargin), shufflePartitions = Some(8)),

    // G18+G19 gate: the avro streaming SINK and SOURCE back to back —
    // four parquet micro-batches land as epoch-unique avro shards
    // (G18), then the file-name-watermark avro source streams them
    // back out (G19); content must round-trip bit-for-bit.
    Face("stream_avro_roundtrip", (s, d) => {
      val base = Scratch.scratch(d, "sar")
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value")
      val schema = graft.streaming.Replay.writeSlices(
        ev, s"$base/in", F.pmod(F.col("event_id"), F.lit(4)), 4)
      val q1 = graft.streaming.Replay.readSliced(s, s"$base/in", schema)
        .writeStream.format("graft-avro")
        .option("checkpointLocation", s"$base/chk1")
        .option("compression", "none")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/avro")
      q1.awaitTermination()
      val q2 = s.readStream.schema(schema).format("graft-avro").load(s"$base/avro")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_id")
    }, Oracle(
      // G18/G19: sink→source avro round-trip is the identity
        """SELECT event_id, event_type, user_id, value
          |FROM events ORDER BY event_id""".stripMargin), shufflePartitions = Some(8)),

    // G12 gate: the streaming corpus filter+score front door —
    // stateless map-only, so the emitted set is the batch expressions'
    // verdict doc for doc. The oracle replays all three signal
    // families (Gopher rule gate at DEFAULT thresholds, quality
    // floor, hashed classifier score): every gate ratio is the same
    // IEEE double in both engines, so the threshold compares are
    // exact.
    Face("stream_corpus_filter", (s, d) => {
      val base = Scratch.scratch(d, "scf")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val schema = graft.streaming.Replay.writeSlices(
        docs, s"$base/in", F.pmod(F.col("doc_id"), F.lit(4)), 4)
      // thresholds matched to the synthetic corpus (the E16 face's
      // discipline — the default stopword octet barely appears in it)
      val filtered = graft.streaming.EventStream.corpusFilterStream(
        graft.streaming.Replay.readSliced(s, s"$base/in", schema), "text",
        graft.operators.QualityRules.GopherThresholds(minWords = 40,
          maxMeanWordLen = 6.0, stopwords = Seq("the", "a", "and", "of", "to")),
        minQuality = 0.6,
        weights = graft.operators.TextClassifier.hashedWeights(4096))
      val q = filtered.select("doc_id", "clf_score")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("doc_id")
    }, Oracle(
      // G12: gopher DEFAULT thresholds ∧ quality floor ∧ the hashed
      // classifier score — all three signal replays composed
        """WITH m AS (
          |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks,
          |    string_split(text, chr(10)) AS ls,
          |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_cnt,
          |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ell_cnt
          |  FROM documents),
          |g AS (SELECT doc_id, toks,
          |    CAST(len(toks) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mwl,
          |    CAST(hash_cnt + ell_cnt AS DOUBLE) / len(toks) AS swr,
          |    CAST(len(list_filter(ls, l -> starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '-')
          |                                OR starts_with(ltrim(l), '*'))) AS DOUBLE) / len(ls) AS blf,
          |    CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE)
          |      / len(ls) AS elf,
          |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(toks) AS awf,
          |    CAST(len(list_intersect(list_distinct(toks),
          |         ['the','a','and','of','to'])) AS BIGINT) AS nsd,
          |    (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.3)
          |     + ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.4)
          |     + ((1.0 - ABS((CAST(len(list_filter(toks,
          |          t -> t IN ('the','a','an','of','to','and','in','is','on','for','with','at','by'))) AS DOUBLE)
          |         / len(toks)) - 0.3)) * 0.3) AS quality
          |  FROM m),
          |p AS (SELECT doc_id, toks FROM g
          |      WHERE n_words >= 40 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 6.0
          |        AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8 AND nsd >= 2
          |        AND quality >= 0.6),
          |f AS (SELECT doc_id, list_concat(toks,
          |        CASE WHEN len(toks) >= 2
          |             THEN [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]
          |             ELSE []::VARCHAR[] END) AS feats FROM p),
          |sc AS (SELECT doc_id, len(feats) AS n,
          |        list_sum(list_transform(feats, x ->
          |          (((CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % 4096)
          |            * 2654435761) % 1001) - 500)) AS raw
          |       FROM f)
          |SELECT doc_id, CAST(raw AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0) AS clf_score
          |FROM sc ORDER BY doc_id""".stripMargin), shufflePartitions = Some(8)),

    // A55 driver face (round 14): unenforced PRIMARY KEY / FOREIGN KEY
    // constraints on CREATE TABLE, surfaced through
    // INFORMATION_SCHEMA.TABLE_CONSTRAINTS × KEY_COLUMN_USAGE — the
    // hash pins the clause split (STRUCT commas survive), BigQuery's
    // generated names (pk$, fk$N), the enforced=NO invariant and the
    // key-column ordinals
    Face("sql_constraints_meta", (s, d) => {
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TABLE cm_orders (o_id INT64 NOT NULL, PRIMARY KEY (o_id) NOT ENFORCED)")
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE cm_items (
          |  i_id INT64 NOT NULL, o_id INT64, p_id INT64,
          |  meta STRUCT<a INT64, b STRING>,
          |  PRIMARY KEY (i_id) NOT ENFORCED,
          |  CONSTRAINT fk_order FOREIGN KEY (o_id) REFERENCES cm_orders(o_id) NOT ENFORCED,
          |  FOREIGN KEY (p_id) REFERENCES cm_parts(p_id) NOT ENFORCED)""".stripMargin)
      graft.GraftSql.load(s,
        """SELECT tc.table_name, tc.constraint_name, tc.constraint_type, tc.enforced,
          |       k.column_name, CAST(k.ordinal_position AS BIGINT) AS ord
          |FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS tc
          |JOIN INFORMATION_SCHEMA.KEY_COLUMN_USAGE k ON k.constraint_name = tc.constraint_name
          |WHERE tc.table_name IN ('cm_orders', 'cm_items')
          |ORDER BY tc.table_name, tc.constraint_name, ord""".stripMargin)
    }, Oracle(
      // constraint metadata is session-catalog state with a pinned
      // rendering — the oracle is the literal expected rows
        """SELECT * FROM (VALUES
          |  ('cm_items', 'cm_items.fk$2', 'FOREIGN KEY', 'NO', 'p_id', CAST(1 AS BIGINT)),
          |  ('cm_items', 'cm_items.pk$', 'PRIMARY KEY', 'NO', 'i_id', CAST(1 AS BIGINT)),
          |  ('cm_items', 'fk_order', 'FOREIGN KEY', 'NO', 'o_id', CAST(1 AS BIGINT)),
          |  ('cm_orders', 'cm_orders.pk$', 'PRIMARY KEY', 'NO', 'o_id', CAST(1 AS BIGINT))
          |) AS t(table_name, constraint_name, constraint_type, enforced, column_name, ord)
          |ORDER BY table_name, constraint_name, ord""".stripMargin)),

    // A56 driver face (round 14): the metadata LIFECYCLE verbs —
    // ALTER ... SET OPTIONS (merge + NULL-clears), ALTER TABLE
    // ADD/DROP CONSTRAINT, and the nested-schema COLUMN_FIELD_PATHS
    // walk (struct fields recurse; repeated structs recurse through
    // the array element, BigQuery's shape) — one pinned-literal hash
    Face("sql_meta_lifecycle", (s, d) => {
      graft.GraftSql.load(s,
        """CREATE OR REPLACE TABLE ml_t (a INT64, b INT64,
          |  meta STRUCT<x INT64, tags ARRAY<STRUCT<k STRING, v STRING>>>)""".stripMargin)
      graft.GraftSql.load(s,
        "ALTER TABLE ml_t SET OPTIONS(description = 'altered', labels = [('t', 'x')])")
      graft.GraftSql.load(s,
        "ALTER TABLE ml_t SET OPTIONS(labels = NULL, owner = 'fx-team')")
      graft.GraftSql.load(s, "ALTER TABLE ml_t ADD PRIMARY KEY (a) NOT ENFORCED")
      graft.GraftSql.load(s,
        "ALTER TABLE ml_t ADD CONSTRAINT fk_b FOREIGN KEY (b) REFERENCES o(x) NOT ENFORCED")
      graft.GraftSql.load(s, "ALTER TABLE ml_t DROP CONSTRAINT fk_b")
      graft.GraftSql.load(s,
        """SELECT 'opt' AS kind, option_name AS name, option_value AS val
          |FROM INFORMATION_SCHEMA.TABLE_OPTIONS WHERE table_name = 'ml_t'
          |UNION ALL
          |SELECT 'con', constraint_name, constraint_type
          |FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS WHERE table_name = 'ml_t'
          |UNION ALL
          |SELECT 'fp', field_path, data_type
          |FROM INFORMATION_SCHEMA.COLUMN_FIELD_PATHS
          |WHERE table_name = 'ml_t' AND column_name = 'meta'
          |ORDER BY kind, name""".stripMargin)
    }, Oracle(
      // the lifecycle face pins the post-ALTER state literally
        """SELECT * FROM (VALUES
          |  ('con', 'ml_t.pk$', 'PRIMARY KEY'),
          |  ('fp', 'meta', 'STRUCT<x INT64, tags ARRAY<STRUCT<k STRING, v STRING>>>'),
          |  ('fp', 'meta.tags', 'ARRAY<STRUCT<k STRING, v STRING>>'),
          |  ('fp', 'meta.tags.k', 'STRING'),
          |  ('fp', 'meta.tags.v', 'STRING'),
          |  ('fp', 'meta.x', 'INT64'),
          |  ('opt', 'description', '"altered"'),
          |  ('opt', 'owner', '"fx-team"')
          |) AS t(kind, name, val) ORDER BY kind, name""".stripMargin)),

    // A57 driver face (round 14): ROW ACCESS POLICIES — BigQuery's
    // row-level security on the session-catalog model. The face hashes
    // BOTH regimes in one frame: two policies active (a row passes if
    // ANY grants it — the OR rule) and the post-DROP single-policy
    // view; the returned plans are analyzed eagerly, so the first
    // SELECT keeps its two-policy semantics after the drop
    Face("sql_row_policy", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("rp_events")
      graft.GraftSql.load(s, "DROP ALL ROW ACCESS POLICIES ON rp_events")
      graft.GraftSql.load(s,
        """CREATE ROW ACCESS POLICY p_click ON rp_events
          |GRANT TO ('user:analyst@example.com') FILTER USING (event_type = 'click')""".stripMargin)
      graft.GraftSql.load(s,
        "CREATE ROW ACCESS POLICY p_big ON rp_events FILTER USING (value > 4.0)")
      val q = """SELECT event_type, COUNT(*) AS n,
                |       CAST(MIN(event_id) AS BIGINT) AS min_id
                |FROM rp_events GROUP BY event_type""".stripMargin
      val both = graft.GraftSql.load(s, q).withColumn("phase", F.lit("both"))
      graft.GraftSql.load(s, "DROP ROW ACCESS POLICY p_big ON rp_events")
      val one = graft.GraftSql.load(s, q).withColumn("phase", F.lit("click_only"))
      both.unionByName(one).orderBy("phase", "event_type")
    }, Oracle(
      // row policies replay as WHERE clauses: OR of actives, then the
      // single survivor
        """WITH b AS (
          |  SELECT event_type, COUNT(*) AS n, CAST(MIN(event_id) AS BIGINT) AS min_id,
          |         'both' AS phase
          |  FROM events WHERE event_type = 'click' OR value > 4.0 GROUP BY event_type),
          |o AS (
          |  SELECT event_type, COUNT(*) AS n, CAST(MIN(event_id) AS BIGINT) AS min_id,
          |         'click_only' AS phase
          |  FROM events WHERE event_type = 'click' GROUP BY event_type)
          |SELECT * FROM b UNION ALL SELECT * FROM o
          |ORDER BY phase, event_type""".stripMargin)),

    // A36c driver face: a stored procedure defined and CALLed through
    // the SQL surface; the procedure parameterizes a gated aggregate,
    // the caller passes script variables — the oracle replays the
    // fully-substituted statement, so the hash gates definition,
    // scope binding and CALL execution
    Face("sql_procedure", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("proc_events")
      graft.GraftScript.run(s,
        """CREATE OR REPLACE PROCEDURE evt_report(gate FLOAT64, cap INT64)
          |BEGIN
          |  SELECT event_type, COUNT(*) AS n,
          |         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |  FROM proc_events
          |  WHERE value > gate AND event_id % cap != 0
          |  GROUP BY event_type ORDER BY event_type;
          |END;
          |DECLARE g FLOAT64 DEFAULT 1.0;
          |CALL evt_report(g, 7);""".stripMargin)
    }, Oracle(
      // the stored-procedure face replays as the fully-substituted
      // statement (g=1.0, cap=7)
        """SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE value > 1.0 AND event_id % 7 != 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A15b driver face: the GENERAL MERGE surface — conditional WHEN
    // clauses, a DELETE action and a conditional INSERT in one
    // statement (first-match-wins). The oracle replays the whole
    // trajectory as a LEFT JOIN with CASE/filters, so a hash match
    // proves clause ordering, the delete cut, the conditional insert
    // gate and the update's all-from-source values
    Face("sql_merge_conditional", (s, d) => {
      val e = Tables.events(s, d).select("event_id", "event_type", "value")
      e.filter(F.pmod(F.col("event_id"), F.lit(2)) === 0).createOrReplaceTempView("mc_tgt")
      e.filter(F.pmod(F.col("event_id"), F.lit(3)) === 0).createOrReplaceTempView("mc_src")
      graft.GraftSql.load(s,
        """MERGE INTO mc_tgt T USING mc_src S ON T.event_id = S.event_id
          |WHEN MATCHED AND S.event_type = 'click' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET T.event_type = S.event_type, T.value = S.value
          |WHEN NOT MATCHED AND S.value > 1.0 THEN
          |  INSERT (event_id, event_type, value) VALUES (S.event_id, S.event_type, S.value)""".stripMargin)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("value").cast("decimal(30,6)")).cast("double").as("v_sum"),
          F.min("event_id").as("min_id"), F.max("event_id").as("max_id"))
        .orderBy("event_type")
    }, Oracle(
      // general MERGE: kept-target half (unmatched pass, matched
      // clicks deleted, other matched rows take source values) UNION
      // the gated inserts — then one aggregate
        """WITH t AS (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
          |s AS (SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0),
          |kept AS (
          |  SELECT t.event_id,
          |         CASE WHEN s.event_id IS NOT NULL THEN s.event_type ELSE t.event_type END AS event_type,
          |         CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
          |  FROM t LEFT JOIN s ON t.event_id = s.event_id
          |  WHERE s.event_id IS NULL OR s.event_type <> 'click'),
          |ins AS (
          |  SELECT s.event_id, s.event_type, s.value
          |  FROM s LEFT JOIN t ON s.event_id = t.event_id
          |  WHERE t.event_id IS NULL AND s.value > 1.0),
          |result AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
          |SELECT event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum,
          |       MIN(event_id) AS min_id, MAX(event_id) AS max_id
          |FROM result GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A33b driver face: TRANSACTIONAL DML — INSERT/DELETE/UPDATE
    // statements against a registered Versioned table land as commits
    // (INSERT as an O(batch) APPEND commit, the mutations as snapshot
    // commits; the manifest write is the atomic commit point), and
    // the pre-image stays readable AS OF the pinned first commit.
    // The oracle replays the whole trajectory as filters + a CASE —
    // hash-green proves the commit log, the per-verb routing, and the
    // history cut
    Face("sql_versioned_dml", (s, d) => {
      val dir = Scratch.scratch(d, "vdml")
      val e = Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
      def third(i: Int) = e.filter(F.pmod(F.col("event_id"), F.lit(3)) === i)
      graft.sources.Versioned.overwrite(third(0), dir,
        Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00")))
      graft.sources.Versioned.register(s, "vd_events", dir)
      third(1).createOrReplaceTempView("vd_incoming")
      graft.GraftSql.load(s, "INSERT INTO vd_events SELECT * FROM vd_incoming")
      graft.GraftSql.load(s, "DELETE FROM vd_events WHERE event_type = 'click'")
      graft.GraftSql.load(s, "UPDATE vd_events SET value = value * 2 WHERE event_type = 'purchase'")
      graft.GraftSql.load(s,
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM vd_events FOR SYSTEM_TIME AS OF TIMESTAMP '2024-06-01 00:00:00'
          |GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM vd_events GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)
    }, Oracle(
      // versioned-DML replay: asof = the pinned first commit (third
      // 0); latest = thirds 0+1 minus clicks with purchase values
      // doubled (value*2 is exact in IEEE doubles)
        """WITH cur AS (
          |  SELECT event_type,
          |         CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
          |  FROM events WHERE event_id % 3 IN (0, 1) AND event_type <> 'click')
          |SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM cur GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)),

    // A46 driver face: BEGIN TRANSACTION ... COMMIT / ROLLBACK — a
    // multi-statement transaction over a registered Versioned table
    // (the reference's stage-then-merge shape,
    // fx_pipeline_with_merge.py:96-112, as ONE atomic commit). The
    // committed transaction's three verbs land as a single manifest
    // commit (asserted), the rolled-back transaction's destructive
    // DELETE leaves no trace, and the pre-image stays readable AS OF
    // the pinned first commit. The oracle replays the committed
    // trajectory as filters + CASE — hash-green proves staging,
    // read-your-writes ordering, the single commit point and the
    // rollback
    Face("sql_transaction", (s, d) => {
      val dir = Scratch.scratch(d, "txn")
      val e = Tables.events(s, d)
        .select(F.col("event_id"), F.col("event_type"), F.col("value"))
      graft.sources.Versioned.overwrite(
        e.filter(F.pmod(F.col("event_id"), F.lit(3)) === 0), dir,
        Some(graft.GraftSql.parseTsLiteralUs("2024-01-01 00:00:00")))
      graft.sources.Versioned.register(s, "tx_events", dir)
      e.filter(F.pmod(F.col("event_id"), F.lit(3)) === 1 && F.col("value") > 2.0)
        .createOrReplaceTempView("tx_incoming")
      graft.GraftScript.run(s,
        """BEGIN TRANSACTION;
          |INSERT INTO tx_events SELECT * FROM tx_incoming;
          |DELETE FROM tx_events WHERE event_type = 'click';
          |UPDATE tx_events SET value = value * 2 WHERE event_type = 'purchase';
          |COMMIT TRANSACTION;
          |BEGIN TRANSACTION;
          |DELETE FROM tx_events WHERE value >= 0;
          |ROLLBACK TRANSACTION;""".stripMargin)
      require(graft.sources.Versioned.commits(s, dir).map(_.action) ==
        Seq("overwrite", "txn"),
        "the committed transaction must land as exactly ONE commit, the rollback as none")
      graft.GraftSql.load(s,
        """SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM tx_events FOR SYSTEM_TIME AS OF TIMESTAMP '2024-06-01 00:00:00'
          |GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM tx_events GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)
    }, Oracle(
      // transaction replay: asof = the pinned first commit (third 0);
      // latest = the COMMITTED transaction's trajectory (insert the
      // gated third 1, delete clicks, double purchases — value*2 is
      // exact in IEEE doubles); the rolled-back DELETE contributes
      // nothing
        """WITH cur AS (
          |  SELECT event_type,
          |         CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
          |  FROM events
          |  WHERE (event_id % 3 = 0 OR (event_id % 3 = 1 AND value > 2.0))
          |    AND event_type <> 'click')
          |SELECT 'asof' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
          |UNION ALL
          |SELECT 'latest' AS face, event_type, COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v_sum
          |FROM cur GROUP BY event_type
          |ORDER BY face, event_type""".stripMargin)),

    // A35 driver face: a BigQuery multi-statement script (DECLARE /
    // SET / IF / WHILE around distributed statements) through
    // GraftScript.run. Every variable is an INT64 scalar derived from
    // the data, so the whole control-flow trajectory — the IF branch
    // taken, the WHILE fold across buckets, the final substituted
    // literals — replays in DuckDB as plain SQL under the hash gate
    Face("sql_script", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("script_events")
      graft.GraftScript.run(s,
        """DECLARE hi INT64 DEFAULT (SELECT MAX(event_id) FROM script_events);
          |DECLARE bucket_n INT64;
          |IF hi >= 100 THEN SET bucket_n = 4; ELSE SET bucket_n = 2; END IF;
          |DECLARE i INT64 DEFAULT 0;
          |DECLARE acc INT64 DEFAULT 0;
          |WHILE i < bucket_n DO
          |  SET acc = acc + (SELECT COUNT(*) FROM script_events
          |                   WHERE event_id % bucket_n = i AND event_type <> 'click');
          |  SET i = i + 1;
          |END WHILE;
          |ASSERT acc <= (SELECT COUNT(*) FROM script_events) AS 'fold overflow';
          |SELECT event_type, COUNT(*) AS n, acc AS nonclick_total, bucket_n AS buckets
          |FROM script_events WHERE event_id <= hi
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }, Oracle(
      // the script's replay: hi = max id covers every row, the IF
      // picks 4 buckets (every sf has >= 100 events), the WHILE fold
      // across the 4 residue classes sums to the plain non-click count
        """SELECT event_type, COUNT(*) AS n,
          |       (SELECT COUNT(*) FROM events WHERE event_type <> 'click') AS nonclick_total,
          |       CAST(4 AS BIGINT) AS buckets
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A36d driver face: the loop verbs driving a distributed statement
    // — LOOP/BREAK doubles a step past a bound, REPEAT/UNTIL with
    // CONTINUE folds the odd integers; all INT64 state, so the final
    // substituted statement replays as plain SQL under the hash gate
    Face("sql_script_loops", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("script_loop_events")
      graft.GraftScript.run(s,
        """DECLARE step INT64 DEFAULT 1;
          |DECLARE floor_v INT64 DEFAULT 0;
          |DECLARE i INT64 DEFAULT 0;
          |LOOP
          |  SET step = step * 2;
          |  IF step >= 40 THEN BREAK; END IF;
          |END LOOP;
          |REPEAT
          |  SET i = i + 1;
          |  IF MOD(i, 2) = 0 THEN CONTINUE; END IF;
          |  SET floor_v = floor_v + i;
          |UNTIL i >= 9 END REPEAT;
          |SELECT event_type, COUNT(*) AS n
          |FROM script_loop_events
          |WHERE event_id % step < floor_v
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }, Oracle(
      // the loop verbs' replay: LOOP/BREAK doubles to 64, the
      // REPEAT/UNTIL+CONTINUE fold of the odd integers 1..9 is 25
        """SELECT event_type, COUNT(*) AS n
          |FROM events WHERE event_id % 64 < 25
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A36b driver face: the DYNAMIC half of the scripting surface —
    // FOR ... IN iterates the bounded distinct-type list, each
    // iteration binds @params into an EXECUTE IMMEDIATE count whose
    // INTO result folds into a scalar. Every quantity is an INT64 (or
    // an exact double comparison both engines share), so the whole
    // loop trajectory — row order, param binding, the fold — replays
    // in DuckDB as one scalar subquery under the hash gate
    Face("sql_script_dynamic", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("script_dyn_events")
      graft.GraftScript.run(s,
        """DECLARE total INT64 DEFAULT 0;
          |DECLARE cnt INT64;
          |FOR t IN (SELECT DISTINCT event_type AS et FROM script_dyn_events ORDER BY et) DO
          |  EXECUTE IMMEDIATE
          |    'SELECT COUNT(*) FROM script_dyn_events WHERE event_type = @et AND value > ' || '@floor'
          |    INTO cnt USING t.et AS et, 1.0 AS floor;
          |  SET total = total + cnt;
          |END FOR;
          |SELECT event_type, COUNT(*) AS n, total AS gated_total
          |FROM script_dyn_events GROUP BY event_type ORDER BY event_type""".stripMargin)
    }, Oracle(
      // the dynamic script's replay: the FOR/EXECUTE IMMEDIATE fold
      // over per-type gated counts equals one scalar subquery
        """SELECT event_type, COUNT(*) AS n,
          |       (SELECT COUNT(*) FROM events WHERE value > 1.0) AS gated_total
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A38 driver face: BigQuery SQL UDFs (CREATE TEMP FUNCTION ... AS
    // (expr)) translated onto Spark 4's native SQL functions, which
    // Catalyst INLINES at every call site — so the whole query plans
    // as if the expressions were written in place (codegen, pushdown
    // intact). Two composed functions (cents quantization + an
    // integer band rule) drive a grouped aggregate; everything after
    // ROUND is integer arithmetic, so the DuckDB oracle replays the
    // query with the function bodies inlined by hand — a hash match
    // proves the translation + inlining change nothing
    Face("sql_udf", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("udf_li")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TEMP FUNCTION price_cents(p FLOAT64) RETURNS INT64 " +
          "AS (CAST(ROUND(p * 100) AS INT64))")
      graft.GraftSql.load(s,
        "CREATE OR REPLACE TEMP FUNCTION cents_band(c INT64) AS " +
          "(CASE WHEN c % 10 < 5 THEN 'low_digit' ELSE 'high_digit' END)")
      graft.GraftSql.load(s,
        """SELECT cents_band(price_cents(l_extendedprice)) AS band,
          |       COUNT(*) AS n, SUM(price_cents(l_extendedprice)) AS cents_sum
          |FROM udf_li GROUP BY band ORDER BY band""".stripMargin)
    }, Oracle(
      // the UDF query with both function bodies inlined by hand —
      // cents are integers after ROUND, so the replay is hash-exact
        """SELECT CASE WHEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 10 < 5
          |            THEN 'low_digit' ELSE 'high_digit' END AS band,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
          |FROM lineitem GROUP BY band ORDER BY band""".stripMargin)),

    // the sketch face of the same state table: COUNT(DISTINCT user) per
    // type maintained incrementally via mergeable HLL binaries — the
    // measure a raw-sum state cannot carry (distincts don't add).
    // Gate-green (round 12) by the exact-regime discipline: at gate
    // scale the per-type cardinality sits far below the lgK=14
    // sketch's coupon-promotion threshold, so the LIST/SET-mode
    // estimate IS the exact distinct count and merge = coupon union is
    // order-invariant — DuckDB replays it as COUNT(DISTINCT). Beyond
    // coupon mode the estimate becomes approximate; IncrementalSpec
    // pins split-invariance + accuracy there.
    Face("fx_incremental_users", (s, d) => {
      val e = Tables.events(s, d)
      val keys = Seq("event_type")
      def part(b: DataFrame) = graft.operators.Incremental.partials(b, keys, Seq(
        F.hll_sketch_agg(F.col("user_id"), 14).as("users_hll"),
        F.count(F.lit(1)).as("n_cnt")))
      val state = graft.operators.Incremental.mergeAll(
        (0 to 3).map(i => part(e.filter(F.pmod(F.col("event_id"), F.lit(4)) === i))), keys)
      state.select(F.col("event_type"),
          F.hll_sketch_estimate(F.col("users_hll")).as("approx_users"),
          F.col("n_cnt").as("n"))
        .orderBy("event_type")
    }, Oracle(
      // exact-regime HLL: below the coupon-promotion threshold the
      // Datasketches estimate IS the distinct count (LIST/SET mode
      // stores hashes exactly; merge is coupon union) — COUNT(DISTINCT)
      // replays it
        """SELECT event_type, COUNT(DISTINCT user_id) AS approx_users, COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // the exact companion face of fx_incremental_users: the SAME
    // 4-split mergeAll fold, but with the state keyed at
    // (event_type, user_id) granularity so distinct-users is a plain
    // row count over the state — fully SQL-replayable, giving the fold
    // logic (combine join + fresh-key anti + staging) a hash gate the
    // HLL face can't have. The per-user key space is exactly the shape
    // where a broadcast delta would OOM at 100 TB, so this runs the
    // broadcastDelta=false shuffle path — gating it too.
    Face("fx_incremental_users_exact", (s, d) => {
      val e = Tables.events(s, d)
      val keys = Seq("event_type", "user_id")
      def part(b: DataFrame) = graft.operators.Incremental.partials(b, keys, Seq(
        F.count(F.lit(1)).as("n_cnt")))
      val state = graft.operators.Incremental.mergeAll(
        (0 to 3).map(i => part(e.filter(F.pmod(F.col("event_id"), F.lit(4)) === i))),
        keys, broadcastDelta = false)
      state.groupBy("event_type")
        .agg(F.count(F.lit(1)).as("exact_users"), F.sum("n_cnt").as("n"))
        .orderBy("event_type")
    }, Oracle(
      // the state fold at (event_type, user_id) granularity reproduces
      // the whole-history distinct count exactly — COUNT(DISTINCT) is
      // the oracle; per-type n re-sums the per-user counts
        """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // range (interval) join via the binning rewrite — a bare inequality
    // join would plan as BroadcastNestedLoopJoin; RangeJoin turns it
    // into a shuffled equi-join on (priority, bin) with ≤2× build-side
    // replication. Intervals: a ±5000 price band around every 100th
    // order; points: all orders of the same priority.
    Face("q_range_join", (s, d) => {
      val o = Tables.orders(s, d)
      val points = o.select(F.col("o_orderkey").as("point_key"),
        F.col("o_totalprice"), F.col("o_orderpriority"))
      val intervals = o.filter(F.col("o_orderkey") % 100 === 0)
        .select(F.col("o_orderkey").as("range_key"),
          (F.col("o_totalprice") - 5000.0).as("lo"),
          (F.col("o_totalprice") + 5000.0).as("hi"),
          F.col("o_orderpriority"))
      graft.operators.RangeJoin.join(points, intervals, "o_totalprice", "lo", "hi",
          keys = Seq("o_orderpriority"), binWidth = Some(10000.0))
        .groupBy("range_key")
        .agg(F.count(F.lit(1)).as("n_points"), dsum(F.col("o_totalprice")).as("sum_price"))
        .orderBy("range_key")
    }, Oracle(
        """WITH r AS (SELECT o_orderkey AS range_key, o_totalprice - 5000.0 AS lo,
          |                  o_totalprice + 5000.0 AS hi, o_orderpriority
          |           FROM orders WHERE o_orderkey % 100 = 0)
          |SELECT r.range_key, COUNT(*) AS n_points,
          |       CAST(SUM(CAST(p.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
          |FROM orders p JOIN r ON p.o_orderpriority = r.o_orderpriority
          |                    AND p.o_totalprice >= r.lo AND p.o_totalprice < r.hi
          |GROUP BY r.range_key ORDER BY r.range_key""".stripMargin)),

    // A27: interval×interval overlap join (binned equi-join + bin-ownership
    // dedup — each overlapping pair emitted exactly once, no distinct)
    Face("q_overlap_join", (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(F.col("o_orderkey") % 50 === 0)
        .select(F.col("o_orderkey").as("a_key"),
          (F.col("o_totalprice") - 2500.0).as("a_lo"),
          (F.col("o_totalprice") + 2500.0).as("a_hi"),
          F.col("o_orderpriority"))
      val b = o.filter(F.col("o_orderkey") % 70 === 0)
        .select(F.col("o_orderkey").as("b_key"),
          (F.col("o_totalprice") - 2500.0).as("b_lo"),
          (F.col("o_totalprice") + 2500.0).as("b_hi"),
          F.col("o_orderpriority"))
      graft.operators.RangeJoin.overlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          keys = Seq("o_orderpriority"), binWidth = Some(5000.0))
        .groupBy("a_key")
        .agg(F.count(F.lit(1)).as("n_overlaps"), F.sum("b_key").as("sum_b_key"))
        .orderBy("a_key")
    }, Oracle(
        """WITH a AS (SELECT o_orderkey AS a_key, o_totalprice - 2500.0 AS a_lo,
          |                  o_totalprice + 2500.0 AS a_hi, o_orderpriority
          |           FROM orders WHERE o_orderkey % 50 = 0),
          |     b AS (SELECT o_orderkey AS b_key, o_totalprice - 2500.0 AS b_lo,
          |                  o_totalprice + 2500.0 AS b_hi, o_orderpriority
          |           FROM orders WHERE o_orderkey % 70 = 0)
          |SELECT a.a_key, COUNT(*) AS n_overlaps, CAST(SUM(b.b_key) AS BIGINT) AS sum_b_key
          |FROM a JOIN b ON a.o_orderpriority = b.o_orderpriority
          |             AND a.a_lo < b.b_hi AND b.b_lo < a.a_hi
          |GROUP BY a.a_key ORDER BY a.a_key""".stripMargin)),
  )
}
