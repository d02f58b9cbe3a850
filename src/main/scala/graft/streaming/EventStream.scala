package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Upsert
import graft.sources.Tables

/** Structured-Streaming re-expression of the reference's cadence
  * (SURVEY.md §2 G-block): DAG-1's every-minute ingestion becomes a
  * stream source; DAG-2's periodic aggregation becomes an event-time
  * windowed aggregate with a watermark; the report-table MERGE becomes
  * a foreachBatch upsert reusing the exact batch operator.
  *
  * The same pipeline runs unchanged against a Kafka/file/socket source
  * on a cluster — only the `readStream` format changes.
  */
object EventStream {

  /** events.parquet schema as the stream source sees it when ts
    * arrives as parquet TIMESTAMP(NANOS) = epoch-nanos long under
    * nanosAsLong. Newer feeds write plain timestamp[us] (no zone),
    * which Spark types TIMESTAMP_NTZ — [[readEvents]] probes the
    * directory's footer and adapts.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming read of an events directory, ts normalized to the
    * session TIMESTAMP type at µs precision regardless of the feed's
    * on-disk spelling (epoch-nanos long, timestamp[us] NTZ, or already
    * zoned). The one-off batch read probes footers only — a streaming
    * source needs its schema before the first micro-batch. An EMPTY
    * (or not-yet-populated) directory cannot be probed, so a feed
    * that starts empty MUST declare its wire type via `wireTsType`
    * (LongType = legacy epoch-nanos, TimestampNTZType = timestamp[us],
    * TimestampType = zoned µs); with no declaration and no files the
    * read FAILS FAST — a silent nanos default would misparse a µs
    * feed 1000× once files arrive. A directory must hold ONE
    * generation of files (mixed nanos/µs generations need a migration
    * rewrite, not schema inference); an explicit `wireTsType` also
    * skips the probe read entirely.
    */
  def readEvents(spark: SparkSession, dir: String,
                 wireTsType: Option[DataType] = None): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tsType = wireTsType.getOrElse {
      try Tables.parquet(spark, dir).schema("ts").dataType
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"readEvents: cannot probe the ts wire type of '$dir' (empty or " +
              "not yet populated). Pass wireTsType explicitly (LongType for " +
              "legacy epoch-nanos feeds, TimestampNTZType for timestamp[us]) " +
              "so the stream starts under the feed's real schema.")
      }
    }
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = spark.readStream.schema(schema).parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", F.col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Kafka source wiring — the reference's every-minute extract as a
    * real stream. `spark-sql-kafka-0-10` must sit on the deployment
    * classpath (this container has no broker or connector jar, so
    * tests exercise `decodeKafka` on wire-shaped frames and this
    * method's option plumbing stops at the provider lookup).
    *
    * `maxOffsetsPerTrigger` bounds micro-batch size — the backfill
    * safety valve at 100 TB topic depth; `failOnDataLoss=true` keeps
    * expired-offset gaps loud (silent gaps poison the idempotent
    * ingest's "seen key" assumption).
    */
  def readKafka(spark: SparkSession, bootstrapServers: String, topic: String,
                startingOffsets: String = "earliest",
                maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    var r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "true")
    maxOffsetsPerTrigger.foreach(n => r = r.option("maxOffsetsPerTrigger", n.toString))
    decodeKafka(r.load())
  }

  /** Kafka wire frame (binary key/value + topic/partition/offset) →
    * typed events: the JSON payload decodes under the same explicit
    * schema as the raw-JSON batch loader (graft.sources.RawJson), so
    * batch backfill and stream tail agree field-for-field. Malformed
    * payloads are dropped here (a Kafka DLQ owns quarantine on a real
    * deployment); decode is one codegen'd from_json projection.
    */
  def decodeKafka(wire: DataFrame): DataFrame = {
    import graft.sources.RawJson
    val schema = RawJson.eventSchema.add(RawJson.CorruptCol, StringType)
    wire
      .select(F.from_json(F.col("value").cast("string"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> RawJson.CorruptCol)).as("r"))
      .filter(F.col("r").isNotNull) // the JSON literal `null` parses to a NULL struct: malformed, drop it
      .select("r.*")
      .filter(F.col(RawJson.CorruptCol).isNull).drop(RawJson.CorruptCol)
      .withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
  }

  /** G1: event-time windowed aggregate with watermark — the streaming
    * analogue of fx_daily_report (per-window avg/count by type).
    */
  def windowedReport(events: DataFrame, window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(F.window(F.col("ts"), window), F.col("event_type"))
      .agg(F.avg("value").as("avg_value"), F.count(F.lit(1)).as("n"))
      .select(F.col("window.start").as("window_start"), F.col("event_type"),
        F.col("avg_value"), F.col("n"))

  /** G2: streaming idempotent ingest — keyed dedup bounded by the
    * watermark (state stays finite at 100 TB/day because expired keys
    * are dropped with the watermark).
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** G4: sessionization via flatMapGroupsWithState — groups a user's
    * events into sessions closed by `gapMinutes` of inactivity. The
    * canonical custom-state streaming operator: state per user is one
    * small (start, last, n, sum) tuple, bounded by the event-time
    * timeout, so state size is O(active users) regardless of input
    * volume.
    */
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "2 hours"): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60L * 1000L
    events.withWatermark("ts", watermark)
      .select(F.col("user_id"), F.col("ts"), F.col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[SessionState]) => {
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          for ((_, ts, v) <- sorted) {
            val t = ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                // late (pre-watermark) rows may arrive out of order: the
                // session window only ever widens
                cur = Some(s.copy(start = math.min(s.start, t),
                  last = math.max(s.last, t), n = s.n + 1, sum = s.sum + v))
              case Some(s) =>
                closed += SessionOut(user, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.last), s.n, s.sum)
                cur = Some(SessionState(t, t, 1, v))
              case None =>
                cur = Some(SessionState(t, t, 1, v))
            }
          }
          if (state.hasTimedOut) {
            cur.foreach(s => closed += SessionOut(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.sum))
            state.remove()
          } else cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.last + gapMs)
          }
          closed.result().iterator
        })
  }

  /** G6: stream-stream interval join — each purchase event joins the
    * same user's signup (rate-bearing) events from the preceding
    * `maxAge` window. Both sides carry watermarks and the join
    * predicate carries the time interval, so Spark bounds the buffered
    * state on each side to the watermark+interval horizon — O(recent
    * traffic), not O(stream history), which is what keeps a
    * stream-stream join alive at 100 TB/day. Inner join ⇒ append-mode
    * output.
    */
  def enrichPurchases(events: DataFrame, maxAge: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(F.col("event_type") === "purchase")
      .select(F.col("event_id"), F.col("user_id"), F.col("ts").as("p_ts"),
        F.col("value").as("amount"))
      .withWatermark("p_ts", watermark)
    val signups = events.filter(F.col("event_type") === "signup")
      .select(F.col("user_id").as("s_user"), F.col("ts").as("s_ts"),
        F.col("value").as("rate"))
      .withWatermark("s_ts", watermark)
    purchases.join(signups, F.expr(
      s"user_id = s_user AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL $maxAge"))
      .select("event_id", "user_id", "p_ts", "amount", "s_ts", "rate")
  }

  /** G11: stream-static enrich join — each streaming event joins a
    * STATIC dimension frame (user / currency / source metadata) on
    * `keys`. The static side broadcasts into every micro-batch, so the
    * join is STATELESS — no watermark, no buffered join state (unlike
    * G6's stream-stream buffers): at 100 TB/day the stream side stays
    * map-only and the only cost is re-broadcasting the dim per batch.
    * Spark re-resolves the static plan each micro-batch, so a dim
    * backed by a table that is rewritten between triggers is picked up
    * on the next trigger — the standard "attach dimension attributes
    * at ingest" shape. Inner or left_outer per `joinType` (left_outer
    * keeps unmatched events flowing with NULL attributes instead of
    * silently dropping them — usually what an ingest wants).
    */
  def enrichFromDim(stream: DataFrame, dim: DataFrame, keys: Seq[String],
                    joinType: String = "left_outer"): DataFrame =
    stream.join(F.broadcast(dim), keys, joinType)

  /** G12: streaming corpus filter+score — the per-doc signal family
    * (E1 quality, E16 Gopher rules, E14 classifier votes) is stateless
    * map-only Column algebra, so a crawl STREAM filters and scores
    * through exactly the batch expressions: no state store, no
    * watermark, Trigger-agnostic, and a doc's verdict is identical to
    * the batch pipeline's by construction (spec pins parity). This is
    * the front door of a streaming corpus build: gate cheap-first
    * (rules, quality floor), decorate survivors with the classifier
    * score, hand off to the C11/G7 dedup-ingest sink downstream.
    */
  def corpusFilterStream(docs: DataFrame, textCol: String,
                         gopher: graft.operators.QualityRules.GopherThresholds,
                         minQuality: Double,
                         weights: Array[Int],
                         buckets: Int = 4096): DataFrame = {
    val t = F.col(textCol)
    val gated = docs.filter(
      graft.operators.QualityRules.gopherPass(t, gopher) &&
        graft.functions.text.qualityScore(t) >= minQuality)
    // the classifier fold is the same native expression the batch
    // scorer uses; staged token slot per the §4 rule
    gated
      .withColumn("__toks", graft.functions.text.tokens(t))
      .withColumn("__v", graft.functions.native.hashed_vote_sum(F.col("__toks"), weights.toSeq))
      .withColumn("clf_score",
        F.col("__v.raw").cast("double") / (F.col("__v.n_features").cast("double") * 1000.0))
      .drop("__toks", "__v")
  }

  /** G16: streaming cluster assignment — the D17/A43 predict half on
    * a stream. Assignment is STATELESS map-only (the centroid matrix
    * is plan-embedded, bounded k×dim), so it composes with any
    * source/sink and needs no state store or watermark: train in
    * batch ([[graft.operators.Clustering.kmeansTrain]] or CREATE
    * MODEL), assign on arrival — the lambda-architecture shape a
    * streaming ingest actually runs, with batch/stream column AND
    * value parity (StreamingSpec pins it row for row).
    */
  def clusterAssignStream(stream: DataFrame, centroids: Seq[Seq[Double]],
                          vecCol: String): DataFrame =
    graft.operators.Clustering.withClusterColumns(stream, centroids, vecCol)

  /** G17: streaming text embedding — E24's trainless feature-hashing
    * embedder on a stream. Like G16 it is STATELESS map-only (tokens →
    * grams → md5 scatter, all per-row projections), so documents
    * arriving on a stream leave with their embedding attached and can
    * flow straight into [[clusterAssignStream]] — the full
    * ingest→embed→cluster lambda path with zero state stores.
    * StreamingSpec pins batch/stream vector parity row for row.
    */
  def embedStream(stream: DataFrame, idCol: String, textCol: String,
                  dim: Int): DataFrame =
    graft.operators.Embedding.hashEmbedding(stream, idCol, textCol, dim)

  /** G3: MERGE-upsert sink — every micro-batch merges into the target
    * via the same batch operator (reference's staged-MERGE pattern).
    * `readTarget`/`writeTarget` abstract the table store (parquet dir
    * here; Delta/Iceberg on a real deployment).
    */
  def mergeSink(stream: DataFrame, keys: Seq[String],
                readTarget: () => Option[DataFrame],
                writeTarget: DataFrame => Unit,
                orderCol: Option[String] = None,
                byEventTime: Boolean = false,
                tieBreak: Seq[String] = Nil): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // at-least-once sources can redeliver a key within one micro-batch;
        // merge requires unique source keys (it would fan out otherwise).
        // With an order column the newest row wins deterministically;
        // without one, duplicates are assumed to be exact redeliveries.
        val deduped = orderCol match {
          case Some(ts) => Upsert.dedupLatest(batch, keys, ts, tieBreak)
          case None     => batch.dropDuplicates(keys)
        }
        val merged = readTarget() match {
          case Some(t) if byEventTime =>
            // EVENT-TIME wins, not arrival order: a matched key keeps
            // whichever row carries the greater (orderCol, tieBreak) —
            // out-of-order micro-batches (backfill replay, partition
            // catch-up after an executor stall) then converge to the
            // SAME final state as the in-order run, which is what lets
            // a batch oracle gate the whole trajectory
            val ts = orderCol.getOrElse(throw new IllegalArgumentException(
              "byEventTime merge needs orderCol"))
            Upsert.dedupLatest(t.unionByName(deduped), keys, ts, tieBreak)
          case Some(t) => Upsert.merge(t, deduped, keys)
          case None    => deduped
        }
        writeTarget(merged)
      }

  /** G7: streaming corpus ingest — each micro-batch of documents
    * dedups against the persisted [[graft.operators.DedupIndex]]
    * (exact + near dups of everything already ingested, then of the
    * batch itself) and only the survivors reach `writeSurvivors`. The
    * index append keeps per-batch cost O(batch) no matter how large
    * the accumulated corpus grows — the streaming face of C11, exactly
    * as mergeSink is the streaming face of A3. At-least-once
    * redelivery is absorbed by the index's idempotency: a redelivered
    * doc matches its own already-appended signature and drops.
    */
  def dedupIngestSink(stream: DataFrame, indexName: String, indexPath: String,
                      idCol: String, textCol: String, threshold: Double = 0.5,
                      writeSurvivors: DataFrame => Unit = _ => ())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val survivors = graft.operators.DedupIndex.ingest(
          batch.sparkSession, indexName, indexPath, batch, idCol, textCol, threshold)
        writeSurvivors(survivors)
      }

  /** One micro-batch of the incremental-report sink: aggregate the
    * batch to partials and fold them into the state — UNLESS this
    * batchId is already applied. foreachBatch is at-least-once (after
    * a crash between the state write and the checkpoint commit, the
    * SAME batchId replays), and additive `_sum`/`_cnt` measures are
    * not idempotent — re-merging would double-count. The guard is the
    * standard foreachBatch exactly-once recipe: persist (state,
    * lastBatchId) atomically (stage-and-swap on parquet, one
    * transaction on Delta/Iceberg) and skip any batchId ≤ the stored
    * one (batchIds are monotone within a checkpointed query).
    * Returns None when the batch was a replay (nothing to write).
    */
  def applyReportBatch(state: Option[(DataFrame, Long)], batch: DataFrame, batchId: Long,
                       keys: Seq[String], measures: Seq[org.apache.spark.sql.Column],
                       broadcastDelta: Boolean = true)
      : Option[DataFrame] =
    state match {
      case Some((_, last)) if batchId <= last => None
      case _ =>
        val delta = graft.operators.Incremental.partials(batch, keys, measures)
        Some(state.fold(delta) { case (st, _) =>
          graft.operators.Incremental.merge(st, delta, keys, broadcastDelta) })
    }

  /** G8: incremental-report sink — the streaming face of
    * [[graft.operators.Incremental]], as mergeSink is of A3: each
    * micro-batch folds O(batch) partial aggregates into the persisted
    * report state; the raw stream is never retained, yet the state
    * table answers the full-history report (including `_hll` distinct
    * sketches) at any moment. `readState`/`writeState` abstract the
    * store: writeState MUST persist the batchId with the state in one
    * atomic commit for the replay guard to hold. `broadcastDelta`
    * follows [[graft.operators.Incremental.merge]]: set it false when
    * the per-batch key space (per-user state) outgrows broadcast
    * capacity.
    */
  def incrementalReportSink(stream: DataFrame, keys: Seq[String],
                            measures: Seq[org.apache.spark.sql.Column],
                            readState: () => Option[(DataFrame, Long)],
                            writeState: (DataFrame, Long) => Unit,
                            broadcastDelta: Boolean = true)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyReportBatch(readState(), batch, batchId, keys, measures, broadcastDelta)
          .foreach(writeState(_, batchId))
      }

  /** One micro-batch of streaming interval sessionization (the
    * streaming face of B63's RANGE_SESSIONIZE, round 13): the state
    * is the current SESSION table — (partition keys..., rangeCol) of
    * already-merged intervals. Interval merging is ASSOCIATIVE over
    * merged results (a session range preserves exactly its members'
    * coverage, and both MEETS adjacency and OVERLAPS strict-overlap
    * connectivity are determined by coverage), so a batch needs only
    * the sessions of the KEYS IT TOUCHES: re-sessionize (touched
    * sessions ∪ batch ranges), pass untouched keys through — O(batch
    * + touched-state) per tick, never a full re-merge. Same atomic
    * (state, batchId) replay guard as [[applyReportBatch]] — merging
    * the same batch twice is NOT idempotent for counts downstream
    * even though coverage would be.
    */
  def applySessionizeBatch(state: Option[(DataFrame, Long)], batch: DataFrame,
                           batchId: Long, rangeCol: String, partCols: Seq[String],
                           mode: String = "MEETS"): Option[DataFrame] = {
    import org.apache.spark.sql.{functions => F}
    state match {
      case Some((_, last)) if batchId <= last => None
      case _ =>
        val batchRanges = batch.select(partCols.map(F.col) :+ F.col(rangeCol): _*)
        val merged = state match {
          case None =>
            graft.operators.Resample.sessionizeRanges(batchRanges, rangeCol, partCols, mode)
              .select(partCols.map(F.col) :+ F.col("session_range").as(rangeCol): _*)
              .distinct()
          case Some((st, _)) =>
            val touchedKeys = batch.select(partCols.map(F.col): _*).distinct()
            val touched = st.join(F.broadcast(touchedKeys), partCols, "left_semi")
            val untouched = st.join(F.broadcast(touchedKeys), partCols, "left_anti")
            val re = graft.operators.Resample.sessionizeRanges(
              touched.unionByName(batchRanges), rangeCol, partCols, mode)
              .select(partCols.map(F.col) :+ F.col("session_range").as(rangeCol): _*)
              .distinct()
            untouched.unionByName(re)
        }
        Some(merged)
    }
  }

  /** G20: streaming interval-sessionization sink — maintains the
    * merged session table across micro-batches. Same store contract
    * as [[incrementalReportSink]]: writeState must commit (state,
    * batchId) atomically.
    */
  def rangeSessionizeSink(stream: DataFrame, rangeCol: String, partCols: Seq[String],
                          readState: () => Option[(DataFrame, Long)],
                          writeState: (DataFrame, Long) => Unit,
                          mode: String = "MEETS")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySessionizeBatch(readState(), batch, batchId, rangeCol, partCols, mode)
          .foreach(writeState(_, batchId))
      }

  /** One micro-batch of the SCD2 sink: fold the batch's observations
    * into the interval table via [[graft.operators.Scd2.applyBatch]]
    * — UNLESS this batchId is already applied. applyBatch is NOT
    * redelivery-idempotent (a replayed non-leading run would re-open
    * intervals the state already closed, duplicating history rows),
    * so the same atomic (state, batchId) guard as
    * [[applyReportBatch]] applies. Returns None on a replay.
    */
  def applyScd2Batch(state: Option[(DataFrame, Long)], batch: DataFrame, batchId: Long,
                     keys: Seq[String], tsCol: String, tieCol: String,
                     attrs: Seq[String],
                     assertNoLateData: Boolean = false): Option[DataFrame] =
    state match {
      case Some((_, last)) if batchId <= last => None
      case Some((st, _)) =>
        Some(graft.operators.Scd2.applyBatch(st, batch, keys, tsCol, tieCol, attrs,
          assertNoLateData))
      case None =>
        Some(graft.operators.Scd2.fromHistory(batch, keys, tsCol, tieCol, attrs))
    }

  /** G9: streaming SCD2 maintenance — the streaming face of A25, as
    * G8 is of A23: each micro-batch of dimension observations
    * closes/extends/opens validity intervals in the persisted state;
    * closed intervals are immutable, so per-tick work is
    * O(open ∪ batch) regardless of history depth. Micro-batches must
    * arrive time-ordered per key (the streaming source's natural
    * order for an observation feed); `writeState` MUST persist the
    * batchId with the state in one atomic commit. `assertNoLateData`
    * follows [[graft.operators.Scd2.applyBatch]]: opt-in per-tick
    * guard that fails the batch loudly instead of corrupting history
    * when the source violates the time-ordered contract.
    */
  def scd2Sink(stream: DataFrame, keys: Seq[String], tsCol: String, tieCol: String,
               attrs: Seq[String],
               readState: () => Option[(DataFrame, Long)],
               writeState: (DataFrame, Long) => Unit,
               assertNoLateData: Boolean = false)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyScd2Batch(readState(), batch, batchId, keys, tsCol, tieCol, attrs,
          assertNoLateData)
          .foreach(writeState(_, batchId))
      }

  /** G10: streaming quality gate with dead-letter routing — the
    * streaming face of A26, as G8 is of A23: each micro-batch is
    * annotated with the row-local rules it breaks
    * ([[graft.operators.Constraints.annotate]], map-only), clean rows
    * flow to `writeAccepted` under the stream's own schema, and
    * violating rows land in `writeDeadLetter` carrying their
    * `violated` rule list plus the batchId — the
    * quarantine-not-crash alternative to `assertAll`'s all-or-nothing
    * gate (a poison message must not wedge an every-minute ingest;
    * it must park where an operator can inspect and replay it).
    *
    * The batch is staged once (localCheckpoint-free: foreachBatch
    * frames are stable within the tick, and the two sinks each filter
    * the SAME annotated plan, so the rule columns evaluate beside the
    * scan both times — cheaper than materializing for map-only
    * rules). Redelivery contract: both sinks are at-least-once, like
    * every append path here — downstream dedup is the id-keyed
    * C11/G7 index or an idempotent writer; dead-letter rows carry
    * (batch_id, violated) so replays are distinguishable.
    */
  def constraintsGateSink(stream: DataFrame,
                          rules: Seq[graft.operators.Constraints.Rule],
                          writeAccepted: DataFrame => Unit,
                          writeDeadLetter: DataFrame => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val annotated = graft.operators.Constraints.annotate(batch, rules)
        writeAccepted(annotated.filter(F.size(F.col("violated")) === 0).drop("violated"))
        writeDeadLetter(annotated.filter(F.size(F.col("violated")) > 0)
          .withColumn("batch_id", F.lit(batchId)))
      }

  /** G13: streaming MATERIALIZED-VIEW maintenance — the streaming face
    * of A31, as G8 is of A23: each micro-batch of new source rows
    * folds into the MV's state via `GraftSql.refreshMaterialized`
    * (O(batch) per tick — the view's WHERE chain rebinds onto the
    * batch, partials merge without reshuffling state), and the
    * registered view answers from the refreshed state after every
    * tick. This is BigQuery's auto-refresh MV loop made explicit.
    *
    * Redelivery contract (the G8 guard): `refreshMaterialized` is
    * additive — a replayed batch double-counts — so the sink folds a
    * batch ONLY when its batchId exceeds `readLastBatch()`, and
    * `commitBatch` must persist the applied batchId atomically with
    * whatever durability the caller gives the MV state
    * (`GraftSql.materializedState` is the persistable face). The MV
    * must already exist in this session (create it with the A31
    * statement before starting the stream) — a missing name fails
    * the first tick loudly rather than silently creating state.
    */
  def materializedViewSink(stream: DataFrame, name: String,
                           readLastBatch: () => Option[Long],
                           commitBatch: Long => Unit,
                           broadcastDelta: Boolean = true)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    // the MV registry and its registered view live in the STREAM's
    // session — foreachBatch hands the function a per-batch session
    // CLONE, whose identity would miss the registry and whose temp
    // catalog would swallow the refreshed view registration
    val session = stream.sparkSession
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!readLastBatch().exists(batchId <= _)) {
          graft.GraftSql.refreshMaterialized(session, name, batch, broadcastDelta)
          commitBatch(batchId)
        }
      }
  }

  /** One micro-batch of the versioned-commit sink: append the batch
    * to the A33 [[graft.sources.Versioned]] table as the commit whose
    * timestamp is exactly `baseTsUs + batchId` — UNLESS that
    * timestamp already exists in the log (a redelivered batch after a
    * crash between the manifest write — the commit point — and the
    * checkpoint commit). Deterministic batchId→timestamp mapping
    * makes the MANIFEST the exactly-once ledger: no side-channel
    * batchId store (the G8 recipe) is needed, because the commit
    * timestamp IS the batchId. Returns None on a replay.
    */
  def applyVersionedBatch(batch: DataFrame, table: String, baseTsUs: Long,
                          batchId: Long): Option[graft.sources.Versioned.Commit] = {
    val ts = baseTsUs + batchId
    val prior = graft.sources.Versioned.commits(batch.sparkSession, table)
    if (prior.exists(_.commitTsUs == ts)) None
    else Some(graft.sources.Versioned.append(batch, table, Some(ts)))
  }

  /** G14: stream → versioned table, one time-travelable commit per
    * micro-batch — the streaming face of A33, as G8 is of A23: the
    * full history of an ingest stream stays queryable AS OF any
    * commit time, with [[graft.sources.Versioned.vacuum]] as the
    * retention knob. `baseTsUs` must exceed every pre-stream commit
    * timestamp in the table (the strictly-increasing commit guard is
    * loud otherwise) and anchors the batchId→timestamp ledger above;
    * per-tick cost is the batch write plus one ~100-byte manifest,
    * O(batch) regardless of table size (copy-on-write appends never
    * touch existing files).
    */
  def versionedAppendSink(stream: DataFrame, table: String, baseTsUs: Long)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyVersionedBatch(batch, table, baseTsUs, batchId); ()
      }

  /** G15: streaming MERGE upsert into a versioned table — the G3
    * foreachBatch-MERGE sink landed on the A39 transactional contract
    * instead of a temp-view snapshot: each micro-batch upserts into
    * the table's LATEST version via `Upsert.merge` and commits the
    * result as a labeled snapshot at timestamp `baseTsUs + batchId`,
    * so the manifest stays the exactly-once ledger (G14's rule: a
    * replayed batch's timestamp already exists and skips — and unlike
    * raw appends, a re-MERGED batch would even be idempotent in
    * CONTENT, but the skip keeps the version history clean too).
    * Every pre-merge state remains readable AS OF its commit — the
    * dimension-table ingest that can answer "what did this row say
    * before tick N". Per-tick cost is the merge (delta broadcasts,
    * target streams map-side) plus the result write. A FRESH target
    * (no prior commit) bootstraps: merging into an empty target is
    * pure insert, so the first micro-batch commits directly — the
    * same self-seeding contract as [[versionedAppendSink]], so a
    * stream can be pointed at a table that does not exist yet.
    */
  def versionedMergeSink(stream: DataFrame, table: String, keys: Seq[String],
                         baseTsUs: Long)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ts = baseTsUs + batchId
        val spark = batch.sparkSession
        val prior = graft.sources.Versioned.commits(spark, table)
        if (!prior.exists(_.commitTsUs == ts)) {
          val merged =
            if (prior.isEmpty) batch // bootstrap: merge into empty ≡ insert all
            else graft.operators.Upsert.merge(
              graft.sources.Versioned.read(spark, table), batch, keys)
          graft.sources.Versioned.overwrite(merged, table, Some(ts), label = "merge")
        }
        ()
      }
}
