package graft

import graft.sources.Typed
import org.apache.spark.sql.{functions => F}

class TypedSqlSpec extends SparkSuite {

  test("typed Dataset facade round-trips the tables") {
    import spark.implicits._
    val evs = Typed.events(spark, sf)
    assert(evs.filter(_.event_type == "purchase").count() > 0)
    val highValue = evs.groupByKey(_.user_id)
      .mapValues(_.value).reduceGroups(_ + _)
    assert(highValue.count() == evs.map(_.user_id).distinct().count())
    assert(Typed.documents(spark, sf).head().text.nonEmpty)
    assert(Typed.embeddings(spark, sf).head().embedding.length == 64)
  }

  test("whole engine reachable through spark.sql on registered views") {
    Typed.registerAllViews(spark, sf)
    val daily = spark.sql(
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    val api = SparkEntry.queries("fx_daily_report")(spark, sf)
      .select("day", "event_type", "avg_value")
    assert(daily.exceptAll(api).count() == 0 && api.exceptAll(daily).count() == 0)

    val topk = spark.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin)
    assert(topk.count() == 5)

    graft.functions.native.registerAll(spark)
    val sketch = spark.sql(
      "SELECT doc_id, graft_simhash(split(lower(text), '\\\\s+')) AS sim FROM documents LIMIT 5")
    assert(sketch.count() == 5)
  }

  test("recursive CTE walk partitions the customer table exactly once, depth-bounded") {
    Typed.registerAllViews(spark, sf)
    val out = SparkEntry.queries("q_recursive_cte")(spark, sf).collect()
    val total = spark.table("customer").count()
    // every customer lands in the trie exactly once: digits-of-key
    // parenthood is total over contiguous keys, so member counts
    // across (root, depth) sum to |customer|
    assert(out.map(_.getLong(2)).sum == total,
      s"walk dropped or duplicated members: ${out.map(_.getLong(2)).sum} vs $total")
    // depth bounded by digits of the max key
    val maxKey = spark.table("customer").agg(F.max("c_custkey")).head().getLong(0)
    val maxDepth = out.map(_.getInt(1)).max
    assert(maxDepth <= maxKey.toString.length - 1, s"depth $maxDepth exceeds digit bound")
    assert(maxDepth >= 1, "recursion never fired")
    // roots are exactly the single-digit keys present
    val roots = out.map(_.getLong(0)).distinct.sorted
    val expect = spark.table("customer").filter(F.col("c_custkey") < 10)
      .select("c_custkey").collect().map(_.getLong(0)).sorted
    assert(roots.sameElements(expect))
  }

  test("GraftSql.merge runs the reference's MERGE statement verbatim") {
    import spark.implicits._
    // the reference's exchange_rate table + temp-table delta
    // (fx_pipeline_with_merge.py:90-104), same columns, same statement
    // shape — day 1 gets updated rates, day 3 is new
    Seq(
      ("2024-01-01", "EUR", "USD", 1.08, "2024-01-01T10:00:00Z"),
      ("2024-01-01", "EUR", "GBP", 0.86, "2024-01-01T10:00:00Z"),
      ("2024-01-02", "EUR", "USD", 1.09, "2024-01-02T10:00:00Z"))
      .toDF("date", "from_cur", "to_cur", "rate", "timestamp")
      .createOrReplaceTempView("exchange_rate")
    Seq(
      ("2024-01-01", "EUR", "USD", 1.10, "2024-01-03T10:00:00Z"), // matched: update
      ("2024-01-03", "EUR", "USD", 1.11, "2024-01-03T10:00:00Z")) // not matched: insert
      .toDF("date", "from_cur", "to_cur", "rate", "timestamp")
      .createOrReplaceTempView("exchange_rate_temp")
    val merged = GraftSql.merge(spark,
      """MERGE INTO exchange_rate T
        |USING exchange_rate_temp S
        |ON T.date = S.date
        |   AND T.from_cur = S.from_cur
        |   AND T.to_cur = S.to_cur
        |WHEN MATCHED THEN
        |    UPDATE SET
        |        T.rate = S.rate,
        |        T.timestamp = S.timestamp
        |WHEN NOT MATCHED THEN
        |    INSERT (date, from_cur, to_cur, rate, timestamp)
        |    VALUES (S.date, S.from_cur, S.to_cur, S.rate, S.timestamp)""".stripMargin)
    val got = merged.orderBy("date", "to_cur")
      .collect().map(r => (r.getString(0), r.getString(2), r.getDouble(3), r.getString(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", "GBP", 0.86, "2024-01-01T10:00:00Z"),
      ("2024-01-01", "USD", 1.10, "2024-01-03T10:00:00Z"), // updated in place
      ("2024-01-02", "USD", 1.09, "2024-01-02T10:00:00Z"),
      ("2024-01-03", "USD", 1.11, "2024-01-03T10:00:00Z"))) // inserted
    // library-call equivalence: the SQL surface IS Upsert.merge
    val lib = graft.operators.Upsert.merge(
      spark.table("exchange_rate"), spark.table("exchange_rate_temp"),
      Seq("date", "from_cur", "to_cur"))
    assert(merged.exceptAll(lib).count() == 0 && lib.exceptAll(merged).count() == 0)
  }

  test("GraftSql.merge: insert-only MERGE is the check-then-append DAG; bad shapes are loud") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("tgt")
    Seq((2L, "REDELIVERED"), (3L, "c")).toDF("k", "v").createOrReplaceTempView("src")
    // WHEN NOT MATCHED alone = idempotent append (existing key untouched)
    val appended = GraftSql.merge(spark,
      "MERGE INTO tgt T USING src S ON T.k = S.k WHEN NOT MATCHED THEN INSERT *")
    val got = appended.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // UPDATE SET * / INSERT * full upsert also parses
    val full = GraftSql.merge(spark,
      "MERGE INTO tgt T USING src S ON T.k = S.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(full.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "REDELIVERED"), (3L, "c")))
    // unsupported shapes fail loudly instead of merging wrong
    for (bad <- Seq(
      "MERGE INTO tgt T USING src S ON T.k < S.k WHEN NOT MATCHED THEN INSERT *",
      "MERGE INTO tgt T USING src S ON T.k = S.k WHEN MATCHED THEN UPDATE SET T.v = 'const' WHEN NOT MATCHED THEN INSERT *",
      "SELECT 1"))
      intercept[IllegalArgumentException] { GraftSql.merge(spark, bad) }
  }

  test("GraftSql.merge general path: conditional clauses, DELETE actions, first-match-wins, update-only") {
    import spark.implicits._
    def tgt(): Unit = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "v", "n").createOrReplaceTempView("gm_tgt")
    // source carries an EXTRA column (flag) the target lacks — clause
    // conditions may reference it; values still come from (k, v, n)
    Seq((1L, "A", 11L, "upd"), (2L, "B", 21L, "del"), (4L, "D", 40L, "new"),
      (5L, "E", 50L, "skip"))
      .toDF("k", "v", "n", "flag").createOrReplaceTempView("gm_src")
    def run(sql: String): Seq[(Long, String, Long)] =
      GraftSql.merge(spark, sql).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

    // DELETE + conditional UPDATE + conditional INSERT in one statement
    tgt()
    val got = run(
      """MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'del' THEN DELETE
        |WHEN MATCHED AND S.flag = 'upd' THEN UPDATE SET T.v = S.v, T.n = S.n
        |WHEN NOT MATCHED AND S.flag = 'new' THEN INSERT (k, v, n) VALUES (S.k, S.v, S.n)""".stripMargin)
    // 1 updated, 2 deleted, 3 untouched (no clause fired), 4 inserted,
    // 5 filtered out by the insert condition
    assert(got == Seq((1L, "A", 11L), (3L, "c", 30L), (4L, "D", 40L)), s"got $got")

    // first-match-wins: an earlier DELETE shadows a later catch-all
    // UPDATE for the same row
    tgt()
    val shadowed = run(
      """MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(shadowed == Seq((1L, "A", 11L), (3L, "c", 30L), (4L, "D", 40L), (5L, "E", 50L)),
      s"got $shadowed")

    // update-only (no WHEN NOT MATCHED) is legal BigQuery and now runs
    tgt()
    val updOnly = run(
      "MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k WHEN MATCHED THEN UPDATE SET T.v = S.v, T.n = S.n")
    assert(updOnly == Seq((1L, "A", 11L), (2L, "B", 21L), (3L, "c", 30L)), s"got $updOnly")

    // delete-only sync: matched rows vanish, nothing inserts
    tgt()
    val delOnly = run("MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k WHEN MATCHED THEN DELETE")
    assert(delOnly == Seq((3L, "c", 30L)), s"got $delOnly")

    // a NULL condition selects nothing (three-valued logic): the row
    // falls through to the next clause / stays untouched
    tgt()
    Seq((1L, "Z", 99L, null.asInstanceOf[String]))
      .toDF("k", "v", "n", "flag").createOrReplaceTempView("gm_nullsrc")
    val nullCond = run(
      """MERGE INTO gm_tgt T USING gm_nullsrc S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET T.v = S.v, T.n = S.n""".stripMargin)
    assert(nullCond == Seq((1L, "Z", 99L), (2L, "b", 20L), (3L, "c", 30L)), s"got $nullCond")

    // NOT MATCHED BY SOURCE THEN DELETE: the full sync — the target
    // becomes exactly the source's content
    tgt()
    val synced = run(
      """MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(synced == Seq((1L, "A", 11L), (2L, "B", 21L), (4L, "D", 40L), (5L, "E", 50L)),
      s"got $synced")
    // conditional BY SOURCE: only stale unmatched rows below the bar
    // are dropped (target-only condition)
    tgt()
    val partial = run(
      """MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k
        |WHEN NOT MATCHED BY SOURCE AND T.n < 25 THEN DELETE""".stripMargin)
    assert(partial == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      s"matched rows keep, only unmatched below 25 drop: got $partial")
    // (all of 1,2 are matched; 3 is unmatched with n=30 — survives)

    // BY SOURCE UPDATE is loud (outside the all-from-source contract)
    assert(intercept[IllegalArgumentException] {
      GraftSql.merge(spark,
        """MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'""".stripMargin)
    }.getMessage.contains("THEN DELETE only"))

    // cardinality: a target row matched by two source rows is loud on
    // the general path too
    tgt()
    Seq((1L, "x", 1L, "upd"), (1L, "y", 2L, "upd"))
      .toDF("k", "v", "n", "flag").createOrReplaceTempView("gm_dupsrc")
    val e = intercept[Exception] {
      GraftSql.merge(spark,
        """MERGE INTO gm_tgt T USING gm_dupsrc S ON T.k = S.k
          |WHEN MATCHED AND S.flag = 'upd' THEN UPDATE SET T.v = S.v, T.n = S.n""".stripMargin).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " | " + msgs(t.getCause)
    assert(msgs(e).contains("MERGE_CARDINALITY_VIOLATION"), s"got: $e")

    // ...but the sentinel is DEFERRED to the firing rows (BigQuery's
    // actual rule): a multi-match whose clause condition selects
    // exactly ONE of the source rows applies that one cleanly
    tgt()
    Seq((1L, "x", 1L, "upd"), (1L, "y", 2L, "skip"))
      .toDF("k", "v", "n", "flag").createOrReplaceTempView("gm_dupsrc1")
    val one = run(
      """MERGE INTO gm_tgt T USING gm_dupsrc1 S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'upd' THEN UPDATE SET T.v = S.v, T.n = S.n""".stripMargin)
    assert(one == Seq((1L, "x", 1L), (2L, "b", 20L), (3L, "c", 30L)),
      s"single firing row of a multi-match applies, no violation: got $one")
    // ...and a multi-match where NO clause fires keeps the target row
    // exactly once (the fan-out collapses, no duplicate)
    tgt()
    val none = run(
      """MERGE INTO gm_tgt T USING gm_dupsrc1 S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'never' THEN UPDATE SET T.v = S.v, T.n = S.n""".stripMargin)
    assert(none == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      s"non-firing multi-match keeps the target row once: got $none")
    // a DELETE firing on one of several matched source rows drops the row
    tgt()
    val delOne = run(
      """MERGE INTO gm_tgt T USING gm_dupsrc1 S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'upd' THEN DELETE""".stripMargin)
    assert(delOne == Seq((2L, "b", 20L), (3L, "c", 30L)),
      s"single firing DELETE of a multi-match applies: got $delOne")

    // reachability: a clause after an unconditional one is dead text —
    // Spark's parser rejects the SQL spelling itself (ParseException);
    // generalMerge keeps its own loud require as defense for plan-level
    // callers
    val r = intercept[Exception] {
      GraftSql.merge(spark,
        """MERGE INTO gm_tgt T USING gm_src S ON T.k = S.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN MATCHED AND S.flag = 'del' THEN DELETE""".stripMargin)
    }
    assert(r.getMessage.toLowerCase.contains("unreachable") ||
      r.getMessage.toLowerCase.contains("condition"), s"got: ${r.getMessage.take(200)}")
  }

  test("general MERGE pays the __t_id arbitration window ONLY for duplicate-keyed sources") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "n").createOrReplaceTempView("gw_tgt")
    Seq((1L, "A", 11L, "upd"), (9L, "Z", 90L, "upd"))
      .toDF("k", "v", "n", "flag").createOrReplaceTempView("gw_src")
    // conditional clauses force the general path; a key-unique source
    // cannot fan out, so no per-target-row window may appear
    val unique = GraftSql.merge(spark,
      """MERGE INTO gw_tgt T USING gw_src S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'upd' THEN UPDATE SET T.v = S.v, T.n = S.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (S.k, S.v, S.n)""".stripMargin)
    assert(unique.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "key-unique source must not pay the arbitration window")
    val got = unique.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((1L, "A", 11L), (2L, "b", 20L), (9L, "Z", 90L)), s"got $got")
    // BY-SOURCE-only merges join a DISTINCT key projection — never windowed
    val bySrc = GraftSql.merge(spark,
      "MERGE INTO gw_tgt T USING gw_src S ON T.k = S.k WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(bySrc.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "BY-SOURCE-only merge must not pay the arbitration window")
    // a duplicate-keyed source takes the arbitration plan (the deferred
    // sentinel + fan-out collapse need the target-row identity)
    Seq((1L, "x", 1L, "upd"), (1L, "y", 2L, "skip"))
      .toDF("k", "v", "n", "flag").createOrReplaceTempView("gw_dup")
    val dup = GraftSql.merge(spark,
      """MERGE INTO gw_tgt T USING gw_dup S ON T.k = S.k
        |WHEN MATCHED AND S.flag = 'upd' THEN UPDATE SET T.v = S.v, T.n = S.n""".stripMargin)
    assert(dup.queryExecution.optimizedPlan.collect { case w: LWindow => w }.nonEmpty,
      "duplicate-keyed source must arbitrate per target row")
  }

  test("GraftSql.merge follows SQL semantics on null keys and raises on duplicate source keys") {
    import spark.implicits._
    // SQL `=` never matches null: the null-keyed target row must pass
    // through untouched and the null-keyed source row must INSERT
    // (Upsert.merge alone would null-safely match them)
    Seq((Some(1L), "t1"), (None, "tnull")).toDF("k", "v").createOrReplaceTempView("ntgt")
    Seq((Some(1L), "s1"), (None, "snull")).toDF("k", "v").createOrReplaceTempView("nsrc")
    val merged = GraftSql.merge(spark,
      "MERGE INTO ntgt T USING nsrc S ON T.k = S.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toSeq.sorted
    assert(merged == Seq((-1L, "snull"), (-1L, "tnull"), (1L, "s1")),
      s"null keys must not match under SQL '=': got $merged")
    // BigQuery raises only when one TARGET row matches several source
    // rows; a silent fan-out would duplicate the target
    Seq((1L, "x")).toDF("k", "v").createOrReplaceTempView("dtgt")
    Seq((1L, "a"), (1L, "b")).toDF("k", "v").createOrReplaceTempView("dsrc")
    val e = intercept[Exception] {
      GraftSql.merge(spark,
        "MERGE INTO dtgt T USING dsrc S ON T.k = S.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        .collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " | " + msgs(t.getCause)
    assert(msgs(e).contains("MERGE_CARDINALITY_VIOLATION"), s"got: $e")
    // ...but duplicate source keys matching NO target row are legal:
    // each inserts, exactly like BigQuery (both statement forms)
    Seq((9L, "a"), (9L, "b")).toDF("k", "v").createOrReplaceTempView("usrc")
    for (stmt <- Seq(
      "MERGE INTO dtgt T USING usrc S ON T.k = S.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "MERGE INTO dtgt T USING usrc S ON T.k = S.k WHEN NOT MATCHED THEN INSERT *")) {
      val out = GraftSql.merge(spark, stmt).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(out == Seq((1L, "x"), (9L, "a"), (9L, "b")), s"$stmt -> $out")
    }
    // a ghost column in UPDATE SET is a loud error, not a silent no-op
    intercept[IllegalArgumentException] {
      GraftSql.merge(spark,
        "MERGE INTO dtgt T USING dsrc S ON T.k = S.k WHEN MATCHED THEN UPDATE SET T.v = S.v, T.ghost = S.ghost WHEN NOT MATCHED THEN INSERT *")
    }
  }

  test("GraftSql.insert runs the reference's check-then-append as one SQL statement") {
    import spark.implicits._
    // the reference's fx table + incoming batch (idempotent_fx_pipeline
    // .py:73-92 checks COUNT(*) on the day-key then appends; as SQL
    // text that is one INSERT ... WHERE NOT EXISTS statement)
    Seq(
      ("2024-01-01", "EUR", "USD", 1.08),
      ("2024-01-01", "EUR", "GBP", 0.86))
      .toDF("date", "from_cur", "to_cur", "rate")
      .createOrReplaceTempView("fx_rates")
    Seq(
      ("2024-01-01", "EUR", "USD", 9.99), // key present: must NOT append
      ("2024-01-02", "EUR", "USD", 1.09)) // fresh key: appends
      .toDF("date", "from_cur", "to_cur", "rate")
      .createOrReplaceTempView("fx_batch")
    val stmt =
      """INSERT INTO fx_rates
        |SELECT b.date, b.from_cur, b.to_cur, b.rate FROM fx_batch b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM fx_rates t
        |  WHERE t.date = b.date AND t.from_cur = b.from_cur AND t.to_cur = b.to_cur)""".stripMargin
    val out = GraftSql.load(spark, stmt)
    val got = out.orderBy("date", "to_cur").collect()
      .map(r => (r.getString(0), r.getString(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("2024-01-01", "GBP", 0.86), ("2024-01-01", "USD", 1.08), ("2024-01-02", "USD", 1.09)))
    // library-call equivalence: the statement IS Upsert.idempotentAppend
    val lib = graft.operators.Upsert.idempotentAppend(
      spark.table("fx_rates"), spark.table("fx_batch"),
      Seq("date", "from_cur", "to_cur"))
    assert(out.exceptAll(lib).count() == 0 && lib.exceptAll(out).count() == 0)
    // scale shape: Catalyst plans the NOT EXISTS as a LEFT ANTI join
    // (freshRows' shape) — never a per-row subquery or nested loop over
    // non-broadcast sides
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(1500))
  }

  test("GraftSql.insert dispositions: append, explicit column order, OVERWRITE; bad shapes loud") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("ins_tgt")
    Seq(("c", 3L)).toDF("v", "k").createOrReplaceTempView("ins_src")
    // explicit column list permutes positionally
    val appended = GraftSql.load(spark,
      "INSERT INTO ins_tgt (v, k) SELECT v, k FROM ins_src")
    assert(appended.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // implicit list is positional against the target schema, with casts
    val cast = GraftSql.insert(spark, "INSERT INTO ins_tgt SELECT 4, 'd'")
    assert(cast.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (4L, "d")))
    assert(cast.schema == spark.table("ins_tgt").schema)
    // INSERT OVERWRITE = WRITE_TRUNCATE: only the batch survives
    val replaced = GraftSql.insert(spark, "INSERT OVERWRITE TABLE ins_tgt SELECT k, v FROM ins_src")
    assert(replaced.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((3L, "c")))
    // SQL semantics: no batch dedup without a NOT EXISTS guard
    Seq((9L, "x"), (9L, "x")).toDF("k", "v").createOrReplaceTempView("ins_dup")
    assert(GraftSql.insert(spark, "INSERT INTO ins_tgt SELECT * FROM ins_dup")
      .filter($"k" === 9L).count() == 2)
    for (bad <- Seq(
      "INSERT INTO ins_tgt (v) SELECT v FROM ins_src", // missing column
      "INSERT INTO ins_tgt SELECT k FROM ins_src", // arity
      "INSERT INTO ins_tgt (k, k) SELECT k, k FROM ins_src", // duplicate
      "SELECT 1"))
      intercept[IllegalArgumentException] { GraftSql.insert(spark, bad) }
  }

  test("GraftSql.createTableAs executes bare BigQuery CTAS text onto parquet") {
    spark.sql("DROP TABLE IF EXISTS ctas_report")
    val df = GraftSql.load(spark,
      """CREATE TABLE ctas_report AS
        |SELECT from_cur, to_cur, rate FROM fx_batch WHERE rate > 1.0""".stripMargin)
    assert(df.count() == spark.table("fx_batch").filter("rate > 1.0").count())
    // it landed as a parquet (not Hive) table in the session catalog
    val provider = spark.sql("DESCRIBE TABLE EXTENDED ctas_report")
      .filter("col_name = 'Provider'").collect()
    assert(provider.length == 1 && provider(0).getString(1).equalsIgnoreCase("parquet"))
    spark.sql("DROP TABLE ctas_report")
  }

  test("GraftSql.delete: WHERE-true rows go, NULL-predicate rows stay (3VL)") {
    import spark.implicits._
    Seq((1L, Some(2.0)), (2L, Some(0.5)), (3L, None))
      .toDF("k", "rate").createOrReplaceTempView("del_t")
    val out = GraftSql.load(spark, "DELETE FROM del_t WHERE rate > 1.0")
    // rate > 1.0 is NULL for k=3 — BigQuery keeps it; filter(not(cond))
    // alone would drop it
    assert(out.select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // hash parity with the library spelling of the survivor set
    val lib = spark.table("del_t").filter(!F.coalesce(F.col("rate") > 1.0, F.lit(false)))
    assert(out.collect().toSet == lib.collect().toSet)
    val e = intercept[IllegalArgumentException](
      GraftSql.delete(spark, "SELECT 1"))
    assert(e.getMessage.contains("not a DELETE"))
  }

  test("GraftSql.truncate: empty frame under the exact target schema, via load dispatch too") {
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 0.5)).toDF("k", "name", "rate")
      .createOrReplaceTempView("trunc_t")
    val out = GraftSql.load(spark, "TRUNCATE TABLE trunc_t")
    assert(out.count() == 0)
    assert(out.schema == spark.table("trunc_t").schema)
    assert(GraftSql.truncate(spark, "TRUNCATE TABLE trunc_t").count() == 0)
    val e = intercept[IllegalArgumentException](
      GraftSql.truncate(spark, "SELECT 1"))
    assert(e.getMessage.contains("not a TRUNCATE"))
  }

  test("GraftSql.alter: ADD/DROP/RENAME COLUMN evolve the snapshot; unsupported shapes loud") {
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 0.5)).toDF("k", "name", "rate")
      .createOrReplaceTempView("alt_t")
    // ADD: appended, NULL-filled, declared type — via load dispatch too
    val added = GraftSql.load(spark, "ALTER TABLE alt_t ADD COLUMN region STRING")
    assert(added.columns.toSeq == Seq("k", "name", "rate", "region"))
    assert(added.schema("region").dataType == org.apache.spark.sql.types.StringType)
    assert(added.filter(org.apache.spark.sql.functions.col("region").isNotNull).count() == 0)
    assert(added.count() == 2)
    // multiple columns in one statement
    val added2 = GraftSql.alter(spark,
      "ALTER TABLE alt_t ADD COLUMNS (region STRING, n INT)")
    assert(added2.columns.toSeq == Seq("k", "name", "rate", "region", "n"))
    // DROP: removes the column; IF EXISTS tolerates a missing one
    val dropped = GraftSql.alter(spark, "ALTER TABLE alt_t DROP COLUMN rate")
    assert(dropped.columns.toSeq == Seq("k", "name"))
    assert(GraftSql.alter(spark,
      "ALTER TABLE alt_t DROP COLUMN IF EXISTS ghost").columns.toSeq ==
      Seq("k", "name", "rate"))
    // RENAME: header-only rewrite, values untouched
    val renamed = GraftSql.alter(spark, "ALTER TABLE alt_t RENAME COLUMN rate TO fx_rate")
    assert(renamed.columns.toSeq == Seq("k", "name", "fx_rate"))
    assert(renamed.orderBy("k").select("fx_rate").as[Double].collect().toSeq == Seq(2.0, 0.5))
    // loud failures: existing name, missing column, nested path, rename collision
    assert(intercept[IllegalArgumentException](GraftSql.alter(spark,
      "ALTER TABLE alt_t ADD COLUMN name STRING")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](GraftSql.alter(spark,
      "ALTER TABLE alt_t DROP COLUMN ghost")).getMessage.contains("missing column"))
    assert(intercept[IllegalArgumentException](GraftSql.alter(spark,
      "ALTER TABLE alt_t RENAME COLUMN rate TO name")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](GraftSql.alter(spark,
      "ALTER TABLE alt_t DROP COLUMN k, name, rate")).getMessage.contains("every column"))
  }

  test("GraftSql.update: expression SET on selected rows only, schema never drifts") {
    import spark.implicits._
    Seq((1L, 2.0f, "a"), (2L, 0.5f, "b"), (3L, 4.0f, "c"))
      .toDF("k", "rate", "tag").createOrReplaceTempView("upd_t")
    val out = GraftSql.load(spark,
      "UPDATE upd_t SET rate = rate * 2, tag = upper(tag) WHERE k >= 2")
    // schema preserved: rate stays FloatType although rate * 2 widens to double
    assert(out.schema("rate").dataType == org.apache.spark.sql.types.FloatType)
    val got = out.orderBy("k").collect().map(r => (r.getLong(0), r.getFloat(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 2.0f, "a"), (2L, 1.0f, "B"), (3L, 8.0f, "C")))
    // unknown SET column and duplicate SET are loud
    val e1 = intercept[IllegalArgumentException](
      GraftSql.update(spark, "UPDATE upd_t SET nope = 1 WHERE k = 1"))
    assert(e1.getMessage.contains("not a target column"))
    val e2 = intercept[IllegalArgumentException](
      GraftSql.update(spark, "UPDATE upd_t SET rate = 1, rate = 2 WHERE k = 1"))
    assert(e2.getMessage.contains("duplicate column"))
    // a bare UPDATE never silently rewrites the whole table (BigQuery
    // rejects it; WHERE TRUE is the explicit spelling)
    val e3 = intercept[IllegalArgumentException](
      GraftSql.update(spark, "UPDATE upd_t SET rate = 0"))
    assert(e3.getMessage.contains("WHERE"))
    assert(GraftSql.update(spark, "UPDATE upd_t SET rate = 0 WHERE TRUE")
      .select(F.sum("rate")).head().getDouble(0) == 0.0)
  }

  test("GraftSql.delete/update resolve statement aliases in WHERE and SET") {
    import spark.implicits._
    Seq((1L, 2.0), (2L, 0.5)).toDF("k", "rate").createOrReplaceTempView("alias_t")
    val del = GraftSql.delete(spark, "DELETE FROM alias_t AS d WHERE d.rate > 1.0")
    assert(del.select("k").as[Long].collect().toSeq == Seq(2L))
    val upd = GraftSql.update(spark,
      "UPDATE alias_t AS a SET a.rate = a.rate * 10 WHERE a.k = 2")
    assert(upd.orderBy("k").select("rate").as[Double].collect().toSeq == Seq(2.0, 5.0))
  }

  test("GraftSql.assertStatement: BigQuery ASSERT text guards a load script") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("assert_stage")
    // a passing assertion with a scalar subquery, BigQuery-style
    GraftSql.assertStatement(spark,
      "ASSERT (SELECT COUNT(*) FROM assert_stage WHERE id IS NULL) = 0 AS 'no null keys'")
    // failing: the message surfaces
    val e = intercept[IllegalStateException] {
      GraftSql.assertStatement(spark,
        "ASSERT (SELECT COUNT(*) FROM assert_stage) = 99 AS 'exactly 99 rows'")
    }
    assert(e.getMessage == "exactly 99 rows")
    // no AS clause -> the expression itself is the message
    val e2 = intercept[IllegalStateException] {
      GraftSql.assertStatement(spark, "ASSERT 1 = 2")
    }
    assert(e2.getMessage.contains("1 = 2"))
    // NULL result = unprovable = failed (Constraints.Satisfies semantics)
    intercept[IllegalStateException] {
      GraftSql.assertStatement(spark, "ASSERT CAST(NULL AS BOOLEAN)")
    }
    // non-ASSERT text rejects loudly
    intercept[IllegalArgumentException] {
      GraftSql.assertStatement(spark, "SELECT 1")
    }
    // SQL-escaped quotes in the message unescape
    val e3 = intercept[IllegalStateException] {
      GraftSql.assertStatement(spark, "ASSERT 1 = 2 AS 'can''t load'")
    }
    assert(e3.getMessage == "can't load")
    // the one-entry-point dispatch recognizes the verb too: a load
    // script with ASSERT lines runs through `load` unchanged
    assert(GraftSql.load(spark,
      "ASSERT (SELECT COUNT(*) FROM assert_stage) = 2 AS 'two rows'").count() == 0)
    intercept[IllegalStateException] {
      GraftSql.load(spark, "ASSERT 1 = 2 AS 'via load'")
    }
    // quote-aware AS split: a trailing literal shaped like an AS
    // clause inside the EXPRESSION must not split it
    GraftSql.assertStatement(spark, "ASSERT 'a' <> 'x AS ''y'''")
    val e4 = intercept[IllegalStateException] {
      GraftSql.assertStatement(spark, "ASSERT 'x AS ''y''' <> 'x AS ''y'''")
    }
    assert(e4.getMessage.startsWith("assertion failed:"), "expression-only, no bogus message")
    // a CAST's AS is not a message clause
    GraftSql.assertStatement(spark, "ASSERT CAST(1 AS INT) = 1")
    // both at once: tricky literal in the expression AND a real message
    val e5 = intercept[IllegalStateException] {
      GraftSql.assertStatement(spark, "ASSERT 'a' = 'x AS ''y''' AS 'real message'")
    }
    assert(e5.getMessage == "real message")
  }

  test("GraftSql.export: EXPORT DATA statement lands sharded CSV/JSON/parquet") {
    import spark.implicits._
    val src = Seq((1L, "a;x", 1.5), (2L, "b", 2.5), (3L, null.asInstanceOf[String], 3.5))
      .toDF("id", "name", "score")
    src.createOrReplaceTempView("export_src")
    val dir = java.nio.file.Files.createTempDirectory("graft-export-").toString

    // CSV with header + custom delimiter (the quoted ';' value must
    // not split the OPTIONS list)
    val out = GraftSql.load(spark,
      s"""EXPORT DATA OPTIONS(
         |  uri='$dir/csv/shard-*.csv', format='CSV',
         |  header=true, field_delimiter=';') AS
         |SELECT id, name FROM export_src ORDER BY id""".stripMargin)
    assert(out.count() == 3)
    val back = spark.read.option("header", "true").option("sep", ";").csv(s"$dir/csv")
    assert(back.columns.toSeq == Seq("id", "name"))
    assert(back.count() == 3)
    assert(back.filter(F.col("name") === "a;x").count() == 1, "delimiter inside value survives")

    // JSON (newline-delimited) + round trip
    GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/json/*.json', format='JSON') AS SELECT * FROM export_src")
    val j = spark.read.json(s"$dir/json")
    assert(j.count() == 3 && j.columns.sorted.toSeq == Seq("id", "name", "score"))

    // PARQUET + overwrite semantics: second export without
    // overwrite=true must refuse; with it, replaces
    GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/pq/*', format='PARQUET') AS SELECT id FROM export_src")
    intercept[Exception] {
      GraftSql.export(spark,
        s"EXPORT DATA OPTIONS(uri='$dir/pq/*', format='PARQUET') AS SELECT id FROM export_src")
    }
    GraftSql.export(spark, s"EXPORT DATA OPTIONS(uri='$dir/pq/*', format='PARQUET', " +
      "overwrite=true) AS SELECT id FROM export_src WHERE id = 1")
    assert(spark.read.parquet(s"$dir/pq").count() == 1)

    // bad shapes are loud: no wildcard, two wildcards, unknown option,
    // CSV-only option on parquet. AVRO stopped being a loud in round
    // 11 (the graft-avro bridge) — it now exports for real
    intercept[IllegalArgumentException] { GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/x/out.csv', format='CSV') AS SELECT 1") }
    intercept[IllegalArgumentException] { GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/*/x-*.csv', format='CSV') AS SELECT 1") }
    GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/av/*', format='AVRO') AS SELECT 1 AS one")
    assert(spark.read.format("graft-avro").load(s"$dir/av").count() == 1L)
    intercept[IllegalArgumentException] { GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/x/*', format='PARQUET', banana=1) AS SELECT 1") }
    intercept[IllegalArgumentException] { GraftSql.export(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/x/*', format='PARQUET', header=true) AS SELECT 1") }
  }

  test("GraftSql.load routes plain queries (SELECT/WITH/UNION) through the same entry point") {
    graft.sources.Typed.registerAllViews(spark, sf)
    val a = GraftSql.load(spark,
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type")
    val b = spark.sql(
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type")
    assert(a.collect().toSeq == b.collect().toSeq)
    val cte = GraftSql.load(spark,
      """WITH t AS (SELECT value FROM events WHERE value > 0)
        |SELECT COUNT(*) AS n FROM t UNION ALL SELECT 0 AS n""".stripMargin)
    assert(cte.count() == 2)
    // unsupported DDL still parses to a Command and stays loud with
    // the dispatcher's own error (not a catalog error from a silent
    // spark.sql passthrough); DROP is routed since round 8 and
    // carries its own loud message for a missing target
    val e = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "ANALYZE TABLE events COMPUTE STATISTICS")
    }
    assert(e.getMessage.contains("not a DML statement"))
    val d = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "DROP TABLE no_such_table_xyz")
    }
    assert(d.getMessage.contains("IF EXISTS"))
  }

  test("GraftSql.createExternal: EXTERNAL TABLE mounts parquet/CSV/JSON files; dispositions match BigQuery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-").toString
    val src = Seq((1L, "a", 1.5), (2L, "b,x", 2.5), (3L, "c", 3.5)).toDF("id", "name", "score")
    src.write.parquet(s"$dir/pq")
    src.write.option("header", "true").option("sep", ";").csv(s"$dir/csv")
    src.write.json(s"$dir/json")

    // parquet through the one-entry load dispatch, glob uri
    GraftSql.load(spark,
      s"CREATE EXTERNAL TABLE ext_pq OPTIONS(format='PARQUET', uris=['$dir/pq/*.parquet'])")
    assert(spark.table("ext_pq").count() == 3)
    assert(spark.sql("SELECT SUM(id) AS s FROM ext_pq").head().getLong(0) == 6L)

    // CSV with a declared schema — the DECIMAL(10,2) comma must not
    // break the schema capture, the quoted ';' delimiter must not
    // split the OPTIONS list, skip_leading_rows=1 is the header row
    GraftSql.createExternal(spark,
      s"""CREATE EXTERNAL TABLE ext_csv (id BIGINT, name STRING, score DECIMAL(10,2))
         |OPTIONS(format='CSV', uris=['$dir/csv/*.csv'],
         |        skip_leading_rows=1, field_delimiter=';')""".stripMargin)
    val csvBack = spark.table("ext_csv")
    assert(csvBack.schema("id").dataType.typeName == "long")
    assert(csvBack.schema("score").dataType.typeName.startsWith("decimal"))
    assert(csvBack.count() == 3)
    assert(csvBack.filter(F.col("name") === "b,x").count() == 1,
      "comma inside a value survives the ';' delimiter")

    // newline-delimited JSON under BigQuery's format name
    GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_json OPTIONS(format='NEWLINE_DELIMITED_JSON', uris=['$dir/json/*.json'])")
    assert(spark.table("ext_json").count() == 3 &&
      spark.table("ext_json").columns.sorted.toSeq == Seq("id", "name", "score"))

    // dispositions: bare re-create raises; IF NOT EXISTS keeps the
    // original mount (the CSV-without-header columns would be _c0..);
    // OR REPLACE swaps (two uris double the rows)
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_pq OPTIONS(format='PARQUET', uris=['$dir/pq'])") }
    GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE IF NOT EXISTS ext_pq OPTIONS(format='CSV', uris=['$dir/csv/*.csv'])")
    assert(spark.table("ext_pq").columns.sorted.toSeq == Seq("id", "name", "score"),
      "IF NOT EXISTS must keep the original mount")
    GraftSql.createExternal(spark,
      s"CREATE OR REPLACE EXTERNAL TABLE ext_pq OPTIONS(format='PARQUET', " +
        s"uris=['$dir/pq/*.parquet', '$dir/pq/*.parquet'])")
    assert(spark.table("ext_pq").count() == 6, "OR REPLACE swapped to the two-uri mount")

    // loud shapes: AVRO over a dir with no .avro files (the format is
    // SUPPORTED since round 11 — the loud is the empty file set),
    // unknown option, missing uris, missing format, contradictory
    // dispositions, CSV-only option on parquet, >1 header row
    assert(intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_b1 OPTIONS(format='AVRO', uris=['$dir/pq'])") }
      .getMessage.contains("no avro files"))
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_b2 OPTIONS(format='PARQUET', uris=['$dir/pq'], banana=1)") }
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      "CREATE EXTERNAL TABLE ext_b3 OPTIONS(format='PARQUET')") }
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_b4 OPTIONS(uris=['$dir/pq'])") }
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE OR REPLACE EXTERNAL TABLE IF NOT EXISTS ext_b5 OPTIONS(format='PARQUET', uris=['$dir/pq'])") }
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_b6 OPTIONS(format='PARQUET', uris=['$dir/pq'], field_delimiter=';')") }
    intercept[IllegalArgumentException] { GraftSql.createExternal(spark,
      s"CREATE EXTERNAL TABLE ext_b7 OPTIONS(format='CSV', uris=['$dir/csv'], skip_leading_rows=2)") }
  }

  test("GraftSql.loadData: LOAD DATA INTO appends with load-time coercion, OVERWRITE truncates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-loaddata-").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score").write.parquet(s"$dir/p1")
    // batch 2 has the same columns in a DIFFERENT order and id as a
    // string — LOAD appends by name and coerces to the table's types
    Seq(("x", "3", 3.5), ("y", "4", 4.5)).toDF("name", "id", "score").write.parquet(s"$dir/p2")
    Seq((9L, "z", 9.5)).toDF("id", "name", "score").write.parquet(s"$dir/p3")

    // missing target: INTO creates it (CREATE_IF_NEEDED)
    GraftSql.load(spark,
      s"LOAD DATA INTO ld_t FROM FILES(format='PARQUET', uris=['$dir/p1/*.parquet'])")
    assert(spark.table("ld_t").count() == 2)
    // append: by-name, reordered, string id coerced to BIGINT
    GraftSql.load(spark,
      s"LOAD DATA INTO ld_t FROM FILES(format='PARQUET', uris=['$dir/p2/*.parquet'])")
    val t = spark.table("ld_t")
    assert(t.count() == 4)
    assert(t.schema("id").dataType.typeName == "long", "coerced to the table's type")
    assert(t.filter(F.col("id") === 3L && F.col("name") === "x").count() == 1)
    assert(t.columns.toSeq == Seq("id", "name", "score"), "table column order wins")
    // OVERWRITE truncates to the new files
    GraftSql.load(spark,
      s"LOAD DATA OVERWRITE ld_t FROM FILES(format='PARQUET', uris=['$dir/p3/*.parquet'])")
    assert(spark.table("ld_t").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // CSV with declared schema loads through the same FILES options
    Seq((5L, "w", 5.5)).toDF("id", "name", "score")
      .write.option("header", "true").csv(s"$dir/c1")
    GraftSql.load(spark,
      s"""LOAD DATA INTO ld_t (id BIGINT, name STRING, score DOUBLE)
         |FROM FILES(format='CSV', uris=['$dir/c1/*.csv'], skip_leading_rows=1)""".stripMargin)
    assert(spark.table("ld_t").count() == 2)
    // column-set mismatch is loud with the ALTER hint
    Seq((1L, "q")).toDF("id", "extra").write.parquet(s"$dir/p4")
    val e = intercept[IllegalArgumentException] { GraftSql.load(spark,
      s"LOAD DATA INTO ld_t FROM FILES(format='PARQUET', uris=['$dir/p4/*.parquet'])") }
    assert(e.getMessage.contains("ALTER TABLE"))
    // unsupported clauses fail with the supported shape
    val e2 = intercept[IllegalArgumentException] { GraftSql.load(spark,
      s"LOAD DATA INTO ld_t FROM FILES(format='PARQUET', uris=['$dir/p3']) WITH CONNECTION conn") }
    assert(e2.getMessage.contains("LOAD DATA"))
    intercept[IllegalArgumentException] { GraftSql.loadData(spark,
      s"LOAD DATA INTO TEMP TABLE ld_x FROM FILES(format='PARQUET', uris=['$dir/p3'])") }
  }

  test("GraftSql: VECTOR_SEARCH table function resolves through load") {
    import spark.implicits._
    def v(xs: Float*) = xs.toArray
    Seq((1L, v(1f, 0f)), (2L, v(0f, 1f)), (3L, v(0.6f, 0.8f)))
      .toDF("id", "emb").createOrReplaceTempView("vs_base")
    Seq((10L, v(1f, 0f))).toDF("qid", "emb").createOrReplaceTempView("vs_q")
    // full call: named args, struct field access in the outer SELECT
    val out = GraftSql.load(spark,
      """SELECT query.qid AS qid, base.id AS id, distance
        |FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q,
        |                   top_k => 2, distance_type => 'COSINE')
        |ORDER BY distance""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((10L, 1L), (10L, 3L)))
    // 4-arg form: query column named differently
    Seq((20L, v(0f, 1f))).toDF("qid", "qv").createOrReplaceTempView("vs_q2")
    val out2 = GraftSql.load(spark,
      "SELECT base.id AS id FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q2, 'qv', top_k => 1)")
    assert(out2.head().getLong(0) == 2L)
    // the default distance type is EUCLIDEAN, default top_k 10
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q)")
      .head().getLong(0) == 3L)
    // a string literal containing the call is untouched
    assert(GraftSql.load(spark,
      "SELECT 'VECTOR_SEARCH(TABLE x)' AS s").head().getString(0).contains("VECTOR_SEARCH"))
    // FILTERED search (round 13): a parenthesized SELECT as the base —
    // the metadata predicate runs before the distance scan, so the
    // nearest unfiltered row (id 1) cannot appear
    val filtered = GraftSql.load(spark,
      """SELECT base.id AS id
        |FROM VECTOR_SEARCH((SELECT * FROM vs_base WHERE id > 1), 'emb', TABLE vs_q,
        |                   top_k => 1, distance_type => 'COSINE')""".stripMargin)
    assert(filtered.head().getLong(0) == 3L)
    // subquery QUERY side works too, and speaks the dialect (pipe ok)
    assert(GraftSql.load(spark,
      """SELECT COUNT(*) AS n
        |FROM VECTOR_SEARCH(TABLE vs_base, 'emb',
        |                   (SELECT qid, emb FROM vs_q), top_k => 2)""".stripMargin)
      .head().getLong(0) == 2L)
    // a subquery base cannot ride the index route (the layout is per
    // registered table) — loud, never a silent full scan
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      """SELECT * FROM VECTOR_SEARCH((SELECT * FROM vs_base), 'emb', TABLE vs_q,
        |options => '{"use_brute_force": false}')""".stripMargin) }
      .getMessage.contains("indexed TABLE"))
    // options: use_brute_force => true is the same brute-force scan
    assert(GraftSql.load(spark,
      """SELECT COUNT(*) AS n FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q,
        |options => '{"use_brute_force": true}')""".stripMargin).head().getLong(0) == 3L)
    // use_brute_force => false without a registered index is loud
    val e1 = intercept[IllegalArgumentException] { GraftSql.load(spark,
      """SELECT * FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q,
        |options => '{"use_brute_force": false}')""".stripMargin) }
    assert(e1.getMessage.contains("CREATE VECTOR INDEX"))
    // fraction + brute force is the BigQuery-rejected combination
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      """SELECT * FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q,
        |options => '{"use_brute_force": true, "fraction_lists_to_search": 0.5}')""".stripMargin) }
    // options must be a JSON object of known scalar knobs
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT * FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q, options => '[1]')") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      """SELECT * FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q, options => '{"banana": 1}')""") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT * FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q, banana => 1)") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT * FROM VECTOR_SEARCH(TABLE vs_base, TABLE vs_q)") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT * FROM VECTOR_SEARCH(TABLE vs_base, 'emb', TABLE vs_q, top_k => 'five')") }
  }

  test("GraftSql: CREATE VECTOR INDEX routes VECTOR_SEARCH through the cell layout") {
    import spark.implicits._
    def v(xs: Float*) = xs.toArray
    // two tight, well-separated clusters so probing is unambiguous
    val base = Seq(
      (1L, v(1f, 0.01f)), (2L, v(1f, -0.01f)), (3L, v(0.99f, 0f)),
      (11L, v(0.01f, 1f)), (12L, v(-0.01f, 1f)), (13L, v(0f, 0.99f)))
    base.toDF("id", "emb").createOrReplaceTempView("vix_base")
    Seq((100L, v(1f, 0f)), (101L, v(0f, 1f)))
      .toDF("qid", "emb").createOrReplaceTempView("vix_q")
    GraftSql.load(spark,
      """CREATE VECTOR INDEX vix_idx ON vix_base(emb)
        |OPTIONS(index_type = 'IVF', distance_type = 'COSINE',
        |        ivf_options = '{"num_lists": 2}')""".stripMargin)
    // duplicate CREATE is loud; IF NOT EXISTS is the quiet spelling
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "CREATE VECTOR INDEX vix_idx ON vix_base(emb)") }
    GraftSql.load(spark, "CREATE VECTOR INDEX IF NOT EXISTS vix_idx ON vix_base(emb)")
    // fraction 1.0 probes both lists: equals brute force exactly
    val all = GraftSql.load(spark,
      """SELECT query.qid AS qid, base.id AS id, distance
        |FROM VECTOR_SEARCH(TABLE vix_base, 'emb', TABLE vix_q, top_k => 3,
        |  distance_type => 'COSINE', options => '{"fraction_lists_to_search": 1.0}')
        |ORDER BY qid, distance, id""".stripMargin).collect()
    val brute = GraftSql.load(spark,
      """SELECT query.qid AS qid, base.id AS id, distance
        |FROM VECTOR_SEARCH(TABLE vix_base, 'emb', TABLE vix_q, top_k => 3,
        |  distance_type => 'COSINE')
        |ORDER BY qid, distance, id""".stripMargin).collect()
    assert(all.toSeq == brute.toSeq)
    // fraction 0.5 probes ONE list per query: each query sees only its
    // own cluster — exact within probed cells, the IVF contract
    val pruned = GraftSql.load(spark,
      """SELECT query.qid AS qid, base.id AS id
        |FROM VECTOR_SEARCH(TABLE vix_base, 'emb', TABLE vix_q, top_k => 10,
        |  distance_type => 'COSINE', options => '{"fraction_lists_to_search": 0.5}')
        |ORDER BY qid, id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq == Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 11L), (101L, 12L), (101L, 13L)))
    // the index refuses a distance type it was not built under
    val em = intercept[IllegalArgumentException] { GraftSql.load(spark,
      """SELECT * FROM VECTOR_SEARCH(TABLE vix_base, 'emb', TABLE vix_q,
        |distance_type => 'EUCLIDEAN', options => '{"use_brute_force": false}')""".stripMargin) }
    assert(em.getMessage.contains("COSINE"))
    // DDL louds: unsupported index/distance types and option keys
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "CREATE VECTOR INDEX vix2 ON vix_base(emb) OPTIONS(index_type = 'TREE_AH')") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "CREATE VECTOR INDEX vix2 ON vix_base(emb) OPTIONS(distance_type = 'EUCLIDEAN')") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "CREATE VECTOR INDEX vix2 ON vix_base(emb) OPTIONS(banana = '1')") }
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      "CREATE VECTOR INDEX vix2 ON vix_base(nope)") }
    // DROP unregisters: the indexed route goes loud again
    GraftSql.load(spark, "DROP VECTOR INDEX vix_idx")
    intercept[IllegalArgumentException] { GraftSql.load(spark,
      """SELECT * FROM VECTOR_SEARCH(TABLE vix_base, 'emb', TABLE vix_q,
        |options => '{"use_brute_force": false}')""".stripMargin) }
    intercept[IllegalArgumentException] { GraftSql.load(spark, "DROP VECTOR INDEX vix_idx") }
    GraftSql.load(spark, "DROP VECTOR INDEX IF EXISTS vix_idx")
  }

  test("GraftSql: INFORMATION_SCHEMA.TABLES/COLUMNS expose the session catalog") {
    import spark.implicits._
    Seq((1L, "a", 2.5)).toDF("id", "name", "score").createOrReplaceTempView("is_demo")
    val t = GraftSql.load(spark,
      "SELECT table_name, table_type FROM INFORMATION_SCHEMA.TABLES WHERE table_name = 'is_demo'")
    assert(t.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("is_demo", "VIEW")))
    val c = GraftSql.load(spark,
      """SELECT column_name, ordinal_position, data_type
        |FROM INFORMATION_SCHEMA.COLUMNS WHERE table_name = 'is_demo'
        |ORDER BY ordinal_position""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(c.toSeq == Seq(("id", 1L, "INT64"), ("name", 2L, "STRING"), ("score", 3L, "FLOAT64")))
    // joins over the metadata views work like any table
    val n = GraftSql.load(spark,
      """SELECT COUNT(*) AS n FROM INFORMATION_SCHEMA.COLUMNS c
        |JOIN INFORMATION_SCHEMA.TABLES t ON c.table_name = t.table_name
        |WHERE t.table_name = 'is_demo'""".stripMargin).head().getLong(0)
    assert(n == 3L)
    // unsupported metadata views are loud; string literals untouched
    val e = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT * FROM INFORMATION_SCHEMA.JOBS")
    }
    assert(e.getMessage.contains("TABLES"))
    assert(GraftSql.load(spark, "SELECT 'INFORMATION_SCHEMA.JOBS' AS s")
      .head().getString(0).contains("JOBS"))
  }

  test("GraftSql: INFORMATION_SCHEMA.PARTITIONS lists physical layouts from file metadata") {
    import spark.implicits._
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 06:00:00"), "a", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-03-01 18:00:00"), "b", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-03-02 09:00:00"), "a", 3.0),
      (4L, java.sql.Timestamp.valueOf("2024-03-04 12:00:00"), "c", 4.0))
      .toDF("id", "ts", "k", "v").createOrReplaceTempView("ispart_src")
    GraftSql.load(spark,
      """CREATE OR REPLACE TABLE ispart_t PARTITION BY DATE(ts) CLUSTER BY k
        |AS SELECT * FROM ispart_src""".stripMargin)
    val p = GraftSql.load(spark,
      """SELECT partition_id, total_rows, total_logical_bytes
        |FROM INFORMATION_SCHEMA.PARTITIONS WHERE table_name = 'ispart_t'
        |ORDER BY partition_id""".stripMargin).collect()
    assert(p.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("20240301", 2L), ("20240302", 1L), ("20240304", 1L)))
    assert(p.forall(_.getLong(2) > 0L)) // real file sizes, not zeros
    // joins to COLUMNS like any metadata table
    val joined = GraftSql.load(spark,
      """SELECT p.partition_id, c.n_cols, p.total_rows
        |FROM INFORMATION_SCHEMA.PARTITIONS p
        |JOIN (SELECT table_name, COUNT(*) AS n_cols FROM INFORMATION_SCHEMA.COLUMNS
        |      GROUP BY table_name) c ON p.table_name = c.table_name
        |WHERE p.table_name = 'ispart_t' ORDER BY p.partition_id""".stripMargin).collect()
    // the layout carries (id, ts, k, v) plus the p_day partition column
    assert(joined.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("20240301", 5L, 2L), ("20240302", 5L, 1L), ("20240304", 5L, 1L)))
    // a Versioned table surfaces one unpartitioned row stamped with its
    // commit time
    val vdir = java.nio.file.Files.createTempDirectory("ispart_v").toString
    graft.sources.Versioned.overwrite(
      Seq((10L, "x"), (11L, "y")).toDF("id", "s"), vdir)
    graft.sources.Versioned.register(spark, "ispart_v", vdir)
    val v = GraftSql.load(spark,
      """SELECT partition_id, total_rows FROM INFORMATION_SCHEMA.PARTITIONS
        |WHERE table_name = 'ispart_v'""".stripMargin).collect()
    assert(v.length == 1 && v(0).isNullAt(0) && v(0).getLong(1) == 2L)
    // DROP removes the registry entry and with it the metadata row
    GraftSql.load(spark, "DROP TABLE ispart_t")
    assert(GraftSql.load(spark,
      """SELECT COUNT(*) AS n FROM INFORMATION_SCHEMA.PARTITIONS
        |WHERE table_name = 'ispart_t'""".stripMargin).head().getLong(0) == 0L)
  }

  test("GraftSql.createView: plain views register the stored query; dispositions match BigQuery") {
    Typed.registerAllViews(spark, sf)
    val direct = spark.sql(
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type")
    // through the one-entry load dispatch, like every other statement
    GraftSql.load(spark,
      "CREATE VIEW v_counts AS SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type")
    val throughView = spark.sql("SELECT * FROM v_counts")
    assert(throughView.exceptAll(direct).count() == 0 &&
      direct.exceptAll(throughView).count() == 0, "view query must equal the direct query")
    // bare re-create raises; IF NOT EXISTS no-ops; OR REPLACE swaps
    intercept[IllegalArgumentException] {
      GraftSql.createView(spark, "CREATE VIEW v_counts AS SELECT 1 AS one")
    }
    GraftSql.createView(spark, "CREATE VIEW IF NOT EXISTS v_counts AS SELECT 1 AS one")
    assert(spark.table("v_counts").columns.toSeq == Seq("event_type", "n"),
      "IF NOT EXISTS must not replace")
    GraftSql.createView(spark, "CREATE OR REPLACE VIEW v_counts AS SELECT 1 AS one")
    assert(spark.table("v_counts").columns.toSeq == Seq("one"))
    // loud shapes: multi-part names, OR REPLACE + IF NOT EXISTS, column lists
    intercept[IllegalArgumentException] {
      GraftSql.createView(spark, "CREATE VIEW ds.v2 AS SELECT 1 AS one")
    }
    intercept[IllegalArgumentException] {
      GraftSql.createView(spark, "CREATE OR REPLACE VIEW IF NOT EXISTS v3 AS SELECT 1 AS one")
    }
    intercept[IllegalArgumentException] {
      GraftSql.createView(spark, "CREATE VIEW v4 (a, b) AS SELECT 1, 2")
    }
  }

  test("GraftSql: CREATE MATERIALIZED VIEW initializes state; refreshes fold batches and equal the full recompute") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    def part(i: Int) = ev.filter(F.abs(F.hash(F.col("event_id"))) % 3 === i)
    part(0).createOrReplaceTempView("mv_events")
    ev.createOrReplaceTempView("mv_events_full")
    // expression key via GROUP BY ordinal + every mergeable measure
    // class; decimal sums so refresh order cannot drift the recompute
    def query(src: String) =
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |       SUM(CAST(value AS DECIMAL(30,6))) AS v_sum,
         |       COUNT(*) AS n, MIN(value) AS v_min, MAX(value) AS v_max,
         |       AVG(CAST(value AS DECIMAL(30,6))) AS v_avg
         |FROM $src WHERE event_type <> 'click' GROUP BY 1, 2""".stripMargin
    GraftSql.load(spark, s"CREATE MATERIALIZED VIEW mv_report AS ${query("mv_events")}")

    def keyed(df: org.apache.spark.sql.DataFrame): Map[(String, String), (Double, Long, Double, Double, Double)] =
      df.collect().map { r =>
        (r.getDate(0).toString, r.getString(1)) ->
          ((r.getDecimal(2).doubleValue, r.getLong(3), r.getDouble(4), r.getDouble(5),
            r.getDecimal(6).doubleValue))
      }.toMap
    // initial content ≡ the direct query over the creation-time source
    val direct0 = keyed(spark.sql(query("mv_events")))
    val mv0 = keyed(spark.table("mv_report"))
    assert(mv0.keySet == direct0.keySet)
    mv0.foreach { case (k, (s, n, mn, mx, av)) =>
      val (s2, n2, mn2, mx2, av2) = direct0(k)
      assert(s == s2 && n == n2 && mn == mn2 && mx == mx2, s"key $k")
      // avg: Spark's native AVG and the maintained sum/cnt division
      // round at different decimal scales — equal to well past 1e-9
      assert(math.abs(av - av2) < 1e-9, s"avg drift at $k: $av vs $av2")
    }
    // two O(batch) refreshes, then ≡ the full recompute over ALL rows
    GraftSql.refreshMaterialized(spark, "mv_report", part(1))
    GraftSql.refreshMaterialized(spark, "mv_report", part(2))
    val full = keyed(spark.sql(query("mv_events_full")))
    val mvN = keyed(spark.table("mv_report"))
    assert(mvN.keySet == full.keySet, "refresh must surface new keys and keep old ones")
    mvN.foreach { case (k, (s, n, mn, mx, av)) =>
      val (s2, n2, mn2, mx2, av2) = full(k)
      assert(s == s2 && n == n2 && mn == mn2 && mx == mx2, s"key $k after refresh")
      assert(math.abs(av - av2) < 1e-9, s"avg drift at $k after refresh: $av vs $av2")
    }
    // the state table carries the Incremental mergeable-suffix contract
    assert(GraftSql.materializedState(spark, "mv_report").columns.toSeq ==
      Seq("day", "event_type", "v_sum_sum", "n_cnt", "v_min_min", "v_max_max",
        "v_avg_sum", "v_avg_cnt"))
    // the WHERE re-applies to refresh batches: no clicks ever enter
    assert(spark.table("mv_report").filter(F.col("event_type") === "click").count() == 0)
  }

  test("GraftSql materialized views: HLL distinct face is refresh-order invariant; unsupported shapes are loud") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    def part(i: Int) = ev.filter(F.abs(F.hash(F.col("event_id"))) % 3 === i)
    part(0).createOrReplaceTempView("mv_hll_src")
    ev.createOrReplaceTempView("mv_hll_full")
    val q = "SELECT event_type, APPROX_COUNT_DISTINCT(user_id) AS users FROM %s GROUP BY event_type"
    GraftSql.createView(spark,
      s"CREATE MATERIALIZED VIEW mv_users AS ${q.format("mv_hll_src")}")
    GraftSql.refreshMaterialized(spark, "mv_users", part(1))
    GraftSql.refreshMaterialized(spark, "mv_users", part(2), broadcastDelta = false)
    // HLL union is order-free and split-invariant: three folds ≡ one
    // single-shot sketch over the full source
    GraftSql.createView(spark,
      s"CREATE MATERIALIZED VIEW mv_users_full AS ${q.format("mv_hll_full")}")
    val folded = spark.table("mv_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = spark.table("mv_users_full").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == oneShot, s"sketch fold drift: $folded vs $oneShot")

    // loud shapes
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.createView(spark, sql) }.getMessage
    assert(bad("CREATE MATERIALIZED VIEW m1 AS SELECT e.event_type, COUNT(*) AS n " +
      "FROM mv_hll_src e JOIN mv_hll_full f ON e.event_id = f.event_id GROUP BY e.event_type")
      .contains("ONE table"))
    assert(bad("CREATE MATERIALIZED VIEW m2 AS SELECT event_type, " +
      "COUNT(DISTINCT user_id) AS u FROM mv_hll_src GROUP BY event_type")
      .contains("APPROX_COUNT_DISTINCT"))
    assert(bad("CREATE MATERIALIZED VIEW m3 AS SELECT event_type, COUNT(*) " +
      "FROM mv_hll_src GROUP BY event_type").contains("alias"))
    assert(bad("CREATE MATERIALIZED VIEW m4 AS SELECT * FROM mv_hll_src")
      .contains("GROUP BY aggregate"))
    assert(bad("CREATE TEMPORARY MATERIALIZED VIEW m5 AS SELECT event_type, COUNT(*) AS n " +
      "FROM mv_hll_src GROUP BY event_type").contains("contradictory"))
    assert(bad("CREATE MATERIALIZED VIEW m6 AS SELECT COUNT(*) AS n " +
      "FROM mv_hll_src GROUP BY event_type").contains("SELECT list"))
    assert(bad("CREATE MATERIALIZED VIEW m7 AS SELECT event_type, " +
      "percentile(value, 0.5) AS p FROM mv_hll_src GROUP BY event_type")
      .contains("not mergeable"))
    intercept[IllegalArgumentException] {
      GraftSql.refreshMaterialized(spark, "never_created", ev.limit(1))
    }
  }

  test("GraftSql.createFunction: BigQuery SQL UDFs translate to Spark SQL functions and inline") {
    import graft.sources.Tables
    Tables.part(spark, sf).createOrReplaceTempView("udf_part")

    // scalar with BigQuery types + RETURNS, through load dispatch
    GraftSql.load(spark,
      """CREATE TEMP FUNCTION price_cents(p FLOAT64) RETURNS INT64
        |AS (CAST(ROUND(p * 100) AS INT64));""".stripMargin)
    // inferred return type + composition (body calls an earlier UDF)
    GraftSql.load(spark,
      "CREATE TEMP FUNCTION price_band(p FLOAT64) AS " +
        "(CASE WHEN price_cents(p) < 91000 THEN 'low' " +
        "WHEN price_cents(p) < 180000 THEN 'mid' ELSE 'high' END)")
    val got = GraftSql.load(spark,
      "SELECT price_band(p_retailprice) AS band, COUNT(*) AS n " +
        "FROM udf_part GROUP BY band").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.sql(
      """SELECT CASE WHEN CAST(ROUND(p_retailprice * 100) AS BIGINT) < 91000 THEN 'low'
        |            WHEN CAST(ROUND(p_retailprice * 100) AS BIGINT) < 180000 THEN 'mid'
        |            ELSE 'high' END AS band, COUNT(*) AS n
        |FROM udf_part GROUP BY band""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.values.sum > 0, s"UDF result drift: $got vs $want")

    // dispositions: bare re-create raises (Spark), OR REPLACE swaps,
    // IF NOT EXISTS no-ops
    intercept[Exception] {
      GraftSql.load(spark, "CREATE TEMP FUNCTION price_cents(p FLOAT64) AS (1)")
    }
    GraftSql.load(spark,
      "CREATE OR REPLACE TEMP FUNCTION price_cents(p FLOAT64) RETURNS INT64 AS (0)")
    GraftSql.load(spark,
      "CREATE TEMP FUNCTION IF NOT EXISTS price_cents(p FLOAT64) AS ('ignored')")
    assert(spark.sql("SELECT price_cents(9.9) AS v").head().getLong(0) == 0L)

    // table function with RETURNS TABLE<...> resolves in FROM position
    GraftSql.load(spark,
      """CREATE TEMP TABLE FUNCTION pricey(floor FLOAT64)
        |RETURNS TABLE<p_partkey INT64, p_retailprice FLOAT64>
        |AS (SELECT p_partkey, p_retailprice FROM udf_part WHERE p_retailprice > floor);""".stripMargin)
    val tvf = GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM pricey(910.0)").head().getLong(0)
    val direct = spark.table("udf_part").filter(F.col("p_retailprice") > 910.0).count()
    assert(tvf == direct && tvf > 0)

    // loud shapes
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("CREATE TEMP TABLE FUNCTION tf1(x INT64) AS (SELECT x)")
      .contains("RETURNS TABLE"))
    assert(bad("CREATE TEMP FUNCTION js1(x INT64) RETURNS INT64 LANGUAGE js AS \"return x\"")
      .contains("LANGUAGE"))
    assert(bad("CREATE TEMP FUNCTION t2(x ANY TYPE) AS (x)").contains("ANY TYPE"))
    assert(bad("CREATE TEMP FUNCTION t3(x INT64) OPTIONS(description='d') AS (x)")
      .contains("OPTIONS"))

    // the type map never touches string literals or backticked
    // identifiers spelled like type names
    GraftSql.load(spark,
      "CREATE OR REPLACE TEMP FUNCTION lit_safe() RETURNS STRING AS ('keep INT64 text')")
    assert(spark.sql("SELECT lit_safe() AS v").head().getString(0) == "keep INT64 text")

    // in the BODY the type map applies only inside CAST type
    // positions: a column reference spelled like a type keyword
    // (`datetime`, `bytes`) passes through verbatim instead of
    // silently becoming TIMESTAMP_NTZ / BINARY — while the CAST
    // target in the same body still maps (the parameter list and
    // RETURNS clause stay pure type text, where collisions remain a
    // documented don't)
    { import spark.implicits._
      Seq(("2024", 4L)).toDF("datetime", "bytes").createOrReplaceTempView("udf_coll") }
    GraftSql.load(spark,
      "CREATE OR REPLACE TEMP TABLE FUNCTION body_safe() RETURNS TABLE<n INT64> " +
        "AS (SELECT CAST(LENGTH(datetime) + bytes AS INT64) AS n FROM udf_coll)")
    assert(GraftSql.load(spark, "SELECT n FROM body_safe()").head().getLong(0) == 8L)
    // SAFE_CAST spells to TRY_CAST: overflow yields NULL, not an error
    GraftSql.load(spark,
      "CREATE OR REPLACE TEMP FUNCTION safe_num(s STRING) AS (SAFE_CAST(s AS INT64))")
    assert(spark.sql("SELECT safe_num('12') AS v").head().getLong(0) == 12L)
    assert(spark.sql("SELECT safe_num('nope') AS v").head().isNullAt(0))
  }

  test("GraftSql PARTITION BY / CLUSTER BY CTAS: routes to Layout, round-trips, dispositions, louds") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
      .select(F.col("event_id"), F.col("ts"), F.col("user_id"), F.col("value"))
    ev.createOrReplaceTempView("pc_events")
    GraftSql.load(spark,
      """CREATE OR REPLACE TABLE pc_daily PARTITION BY DATE(ts) CLUSTER BY user_id
        |AS SELECT event_id, ts, user_id, value FROM pc_events""".stripMargin)
    val t = spark.table("pc_daily")
    // the layout materializes the p_day directory column; content
    // round-trips exactly
    assert(t.columns.contains("p_day"))
    assert(t.count() == ev.count())
    assert(t.select(F.sum("event_id")).head().getLong(0) ==
      ev.select(F.sum("event_id")).head().getLong(0))
    // day dirs exist on disk
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dirs = new java.io.File(s"$wh/graft_part_pc_daily").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("p_day=")) > 5, dirs.mkString(","))

    // dispositions: bare re-create raises, IF NOT EXISTS no-ops
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.load(spark,
        "CREATE TABLE pc_daily PARTITION BY DATE(ts) AS SELECT * FROM pc_events")
    }
    assert(e1.getMessage.contains("already exists"))
    GraftSql.load(spark,
      "CREATE TABLE IF NOT EXISTS pc_daily PARTITION BY DATE(ts) AS SELECT * FROM pc_events LIMIT 1")
    assert(spark.table("pc_daily").count() == ev.count(), "IF NOT EXISTS must no-op")

    // TIMESTAMP_TRUNC day spelling and a partition-only create
    GraftSql.load(spark,
      """CREATE OR REPLACE TABLE pc_trunc PARTITION BY TIMESTAMP_TRUNC(ts, DAY)
        |AS SELECT event_id, ts FROM pc_events""".stripMargin)
    assert(spark.table("pc_trunc").count() == ev.count())

    // CLUSTER BY alone with two numeric keys takes the z-order route
    GraftSql.load(spark,
      """CREATE OR REPLACE TABLE pc_z CLUSTER BY user_id, value
        |AS SELECT user_id, value FROM pc_events""".stripMargin)
    assert(spark.table("pc_z").count() == ev.count())
    assert(spark.table("pc_z").select(F.sum("user_id")).head().getLong(0) ==
      ev.select(F.sum("user_id")).head().getLong(0))

    // louds: non-day granularity, a non-identifier cluster column
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("CREATE OR REPLACE TABLE pc_bad PARTITION BY TIMESTAMP_TRUNC(ts, MONTH) AS SELECT * FROM pc_events")
      .contains("day partitioning"))
    assert(bad("CREATE OR REPLACE TABLE pc_bad PARTITION BY RANGE_BUCKET(user_id, GENERATE_ARRAY(0,100,10)) AS SELECT * FROM pc_events")
      .contains("day partitioning"))
    assert(bad("CREATE OR REPLACE TABLE pc_bad CLUSTER BY user_id + 1 AS SELECT * FROM pc_events")
      .contains("identifier"))
  }

  test("GraftSql JSON array surface: JSON_EXTRACT_ARRAY + UNNEST, lax paths, WITH OFFSET, louds") {
    import spark.implicits._
    Seq(
      (1L, """{"ks": [1, 2, 3], "tags": ["a", "b"], "nested": [{"v": 1}, {"v": 2}]}"""),
      (2L, """{"ks": [10], "tags": []}"""),
      (3L, """{"tags": ["c"]}""")).toDF("id", "j").createOrReplaceTempView("jar_t")

    // comma-UNNEST over the extracted array; id 3 lacks ks → lax NULL
    // → no rows (BigQuery's comma-join semantics)
    val got = GraftSql.load(spark,
      "SELECT id, CAST(e AS BIGINT) AS e FROM jar_t, " +
        "UNNEST(JSON_EXTRACT_ARRAY(j, '$.ks')) AS e ORDER BY id, e")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 10L)))

    // CROSS JOIN spelling + the VALUE spelling over a string array;
    // the empty array drops its row
    val tags = GraftSql.load(spark,
      "SELECT id, t FROM jar_t CROSS JOIN " +
        "UNNEST(JSON_VALUE_ARRAY(j, '$.tags')) AS t ORDER BY id, t")
    assert(tags.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (1L, "b"), (3L, "c")))

    // WITH OFFSET AS o takes posexplode: 0-based positions
    val off = GraftSql.load(spark,
      "SELECT id, o, CAST(e AS BIGINT) AS e FROM jar_t, " +
        "UNNEST(JSON_QUERY_ARRAY(j, '$.ks')) AS e WITH OFFSET AS o WHERE id = 1 ORDER BY o")
    assert(off.collect().map(r => (r.getInt(1).toLong, r.getLong(2))).toSeq ==
      Seq((0L, 1L), (1L, 2L), (2L, 3L)))

    // composite elements arrive as re-parseable JSON text
    val nested = GraftSql.load(spark,
      "SELECT CAST(get_json_object(e, '$.v') AS BIGINT) AS v FROM jar_t, " +
        "UNNEST(JSON_EXTRACT_ARRAY(j, '$.nested')) AS e ORDER BY v")
    assert(nested.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // LEFT JOIN UNNEST keeps empty/missing-array rows with NULL
    // elements (explode_outer), including the vestigial ON TRUE
    val left = GraftSql.load(spark,
      "SELECT id, t FROM jar_t LEFT JOIN " +
        "UNNEST(JSON_VALUE_ARRAY(j, '$.tags')) AS t ON TRUE ORDER BY id, t")
    assert(left.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) "∅" else r.getString(1))).toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, "∅"), (3L, "c")))

    // louds: no driving table, missing element alias, RIGHT JOIN
    def badU(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(badU("SELECT e FROM UNNEST(JSON_EXTRACT_ARRAY('{}', '$.k')) AS e")
      .contains("driving table"))
    assert(badU("SELECT e FROM jar_t, UNNEST(JSON_EXTRACT_ARRAY(j, '$.ks'))")
      .contains("alias"))
    assert(badU("SELECT e FROM jar_t RIGHT JOIN UNNEST(JSON_EXTRACT_ARRAY(j, '$.ks')) AS e")
      .contains("RIGHT"))
  }

  test("GraftSql GENERATE_ARRAY family: sequence semantics with BigQuery's empty-on-mismatch guard") {
    def arr(sql: String): Seq[String] =
      GraftSql.load(spark, sql).head().getSeq[Any](0).map(String.valueOf)
    assert(arr("SELECT GENERATE_ARRAY(1, 4) AS a") == Seq("1", "2", "3", "4"))
    // BigQuery: unreachable stop → EMPTY, never Spark's helpful countdown
    assert(arr("SELECT GENERATE_ARRAY(5, 1) AS a") == Seq.empty)
    assert(arr("SELECT GENERATE_ARRAY(5, 1, -2) AS a") == Seq("5", "3", "1"))
    assert(arr("SELECT GENERATE_ARRAY(1, 5, -1) AS a") == Seq.empty)
    assert(arr("SELECT GENERATE_ARRAY(0, 10, 5) AS a") == Seq("0", "5", "10"))
    // expression step: the guard evaluates dynamically
    assert(arr("SELECT GENERATE_ARRAY(1, 3, (SELECT -1)) AS a") == Seq.empty)
    assert(arr("SELECT GENERATE_DATE_ARRAY(DATE'2024-01-01', DATE'2024-01-04') AS a")
      == Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    assert(arr("SELECT GENERATE_DATE_ARRAY(DATE'2024-01-04', DATE'2024-01-01') AS a")
      == Seq.empty)
    assert(arr("SELECT GENERATE_DATE_ARRAY(DATE'2024-01-05', DATE'2024-01-01', INTERVAL -2 DAY) AS a")
      == Seq("2024-01-05", "2024-01-03", "2024-01-01"))
    assert(arr("SELECT GENERATE_DATE_ARRAY(DATE'2024-01-01', DATE'2024-01-05', INTERVAL -1 DAY) AS a")
      == Seq.empty)
    assert(arr("SELECT GENERATE_TIMESTAMP_ARRAY(TIMESTAMP'2024-01-01 00:00:00', " +
      "TIMESTAMP'2024-01-01 06:00:00', INTERVAL 3 HOUR) AS a").size == 3)
    // the date-spine idiom: the macro composes with UNNEST
    val spine = GraftSql.load(spark,
      "SELECT day FROM (SELECT 1 AS one), " +
        "UNNEST(GENERATE_DATE_ARRAY(DATE'2024-02-01', DATE'2024-02-03')) AS day ORDER BY day")
    assert(spine.collect().map(_.get(0).toString).toSeq ==
      Seq("2024-02-01", "2024-02-02", "2024-02-03"))
    // louds: timestamp array needs a step; interval steps must be literal
    def badG(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(badG("SELECT GENERATE_TIMESTAMP_ARRAY(TIMESTAMP'2024-01-01 00:00:00', " +
      "TIMESTAMP'2024-01-02 00:00:00') AS a").contains("INTERVAL"))
    assert(badG("SELECT GENERATE_DATE_ARRAY(DATE'2024-01-01', DATE'2024-01-05', CURRENT_DATE()) AS a")
      .contains("literal INTERVAL"))
    // FRACTIONAL bounds/steps (r11): the transform route — count fixed
    // up front, values by multiplication (exactly-representable cases
    // are bit-exact)
    assert(arr("SELECT GENERATE_ARRAY(0.0, 2.0, 0.5) AS a")
      == Seq("0.0", "0.5", "1.0", "1.5", "2.0"))
    assert(arr("SELECT GENERATE_ARRAY(0.5, 3.5) AS a") // fractional bounds, default step 1
      == Seq("0.5", "1.5", "2.5", "3.5"))
    assert(arr("SELECT GENERATE_ARRAY(2.0, 0.0, -0.5) AS a")
      == Seq("2.0", "1.5", "1.0", "0.5", "0.0"))
    // direction mismatch stays EMPTY; step that overshoots stops short
    assert(arr("SELECT GENERATE_ARRAY(2.0, 0.0, 0.5) AS a") == Seq.empty)
    assert(arr("SELECT GENERATE_ARRAY(0.0, 1.1, 0.5) AS a") == Seq("0.0", "0.5", "1.0"))
    // zero step is loud (BigQuery errors there too)
    intercept[Exception] { GraftSql.load(spark, "SELECT GENERATE_ARRAY(0.0, 1.0, 0.0) AS a").collect() }
  }

  test("SELECT * EXCEPT / star expansion: BigQuery's column-exclusion idiom is native") {
    import spark.implicits._
    Seq((1L, "x", 2.0)).toDF("a", "b", "c").createOrReplaceTempView("sex_t")
    assert(GraftSql.load(spark, "SELECT * EXCEPT (b) FROM sex_t").columns.toSeq == Seq("a", "c"))
    assert(GraftSql.load(spark, "SELECT * EXCEPT (a, c) FROM sex_t").columns.toSeq == Seq("b"))
  }

  test("GraftSql DROP statements: views, materialized views, versioned names, functions, louds") {
    import spark.implicits._
    // plain view
    Seq((1L, "a")).toDF("k", "v").createOrReplaceTempView("drop_v")
    GraftSql.load(spark, "DROP TABLE drop_v")
    assert(!spark.catalog.tableExists("drop_v"))
    // missing: IF EXISTS no-ops, bare is loud
    GraftSql.load(spark, "DROP VIEW IF EXISTS drop_v")
    val e = intercept[IllegalArgumentException] { GraftSql.load(spark, "DROP TABLE drop_v") }
    assert(e.getMessage.contains("IF EXISTS"))
    // materialized view: DROP clears the registry so a bare re-CREATE
    // works (no ghost state)
    Seq((1L, 2.0)).toDF("k", "x").createOrReplaceTempView("drop_mv_src")
    GraftSql.load(spark,
      "CREATE MATERIALIZED VIEW drop_mv AS SELECT k, SUM(x) AS s FROM drop_mv_src GROUP BY k")
    GraftSql.load(spark, "DROP MATERIALIZED VIEW drop_mv")
    assert(!spark.catalog.tableExists("drop_mv"))
    GraftSql.load(spark,
      "CREATE MATERIALIZED VIEW drop_mv AS SELECT k, SUM(x) AS s FROM drop_mv_src GROUP BY k")
    assert(spark.table("drop_mv").count() == 1)
    GraftSql.load(spark, "DROP VIEW drop_mv")
    // DROP MATERIALIZED VIEW on a plain view is loud
    Seq((1L, "a")).toDF("k", "v").createOrReplaceTempView("drop_plain")
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "DROP MATERIALIZED VIEW drop_plain")
    }.getMessage.contains("not a materialized view"))
    GraftSql.load(spark, "DROP VIEW drop_plain")
    // versioned name: DROP unregisters — FOR SYSTEM_TIME stops
    // resolving; the on-disk log survives and re-register restores
    val dir = java.nio.file.Files.createTempDirectory("graft-drop-").toString
    graft.sources.Versioned.append(Seq((1L, "a")).toDF("id", "v"), dir, Some(1000L))
    graft.sources.Versioned.register(spark, "drop_vt", dir)
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM drop_vt FOR SYSTEM_TIME AS OF '2024-01-01'").head().getLong(0) == 1L)
    GraftSql.load(spark, "DROP TABLE drop_vt")
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT * FROM drop_vt FOR SYSTEM_TIME AS OF '2024-01-01'")
    }.getMessage.contains("not a registered versioned table"))
    graft.sources.Versioned.register(spark, "drop_vt", dir)
    assert(spark.table("drop_vt").count() == 1)
    GraftSql.load(spark, "DROP TABLE drop_vt")
    // function
    GraftSql.load(spark, "CREATE TEMP FUNCTION drop_fn(x INT64) AS (x + 1)")
    GraftSql.load(spark, "DROP FUNCTION drop_fn")
    intercept[Exception] { spark.sql("SELECT drop_fn(1)").collect() }
    GraftSql.load(spark, "DROP FUNCTION IF EXISTS drop_fn")
  }

  test("GraftSql CREATE TABLE (schema): empty-table DDL with BigQuery types; LOAD target round trip") {
    import spark.implicits._
    GraftSql.load(spark,
      "CREATE OR REPLACE TABLE sch_t (id INT64, price NUMERIC, name STRING, ok BOOL, d DATE)")
    val t = spark.table("sch_t")
    assert(t.count() == 0)
    assert(t.schema.map(f => (f.name, f.dataType.sql)).toList ==
      List(("id", "BIGINT"), ("price", "DECIMAL(38,9)"), ("name", "STRING"),
        ("ok", "BOOLEAN"), ("d", "DATE")))
    // nested types share the ARRAY<>/STRUCT<> syntax
    GraftSql.load(spark,
      "CREATE OR REPLACE TABLE sch_nested (tags ARRAY<STRING>, meta STRUCT<k INT64, v STRING>)")
    assert(spark.table("sch_nested").schema("tags").dataType.sql == "ARRAY<STRING>")
    // the natural LOAD DATA target: land rows into the declared schema
    val dir = java.nio.file.Files.createTempDirectory("graft-sch-").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "name").write.parquet(s"$dir/p")
    GraftSql.load(spark, "CREATE OR REPLACE TABLE sch_tgt (id INT64, name STRING)")
    GraftSql.load(spark,
      s"LOAD DATA INTO sch_tgt FROM FILES(format='PARQUET', uris=['$dir/p/*.parquet'])")
    assert(spark.table("sch_tgt").count() == 2)
    // dispositions + louds
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "CREATE TABLE sch_t (a INT64)")
    }.getMessage.contains("already exists"))
    GraftSql.load(spark, "CREATE TABLE IF NOT EXISTS sch_t (zzz STRING)")
    assert(spark.table("sch_t").columns.length == 5, "IF NOT EXISTS must no-op")
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark,
        "CREATE TABLE sch_part (a INT64, ts TIMESTAMP) PARTITION BY DATE(ts)")
    }.getMessage.contains("materialization"))
    for (n <- Seq("sch_t", "sch_nested", "sch_tgt"))
      GraftSql.load(spark, s"DROP TABLE $n")
  }

  test("GraftSql CREATE TABLE LIKE / COPY: schema-only and pinned-snapshot creates") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("lk_src")
    // LIKE: schema, zero rows
    GraftSql.load(spark, "CREATE OR REPLACE TABLE lk_empty LIKE lk_src")
    assert(spark.table("lk_empty").columns.toSeq == Seq("k", "v"))
    assert(spark.table("lk_empty").count() == 0)
    // COPY: full content, pinned against source replacement
    GraftSql.load(spark, "CREATE OR REPLACE TABLE lk_copy COPY lk_src")
    assert(spark.table("lk_copy").count() == 2)
    Seq((9L, "z")).toDF("k", "v").createOrReplaceTempView("lk_src")
    assert(spark.table("lk_copy").count() == 2,
      "COPY must not see through to the replaced source")
    // SNAPSHOT pairs with CLONE only
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "CREATE SNAPSHOT TABLE lk_s COPY lk_src")
    }.getMessage.contains("CLONE"))
    GraftSql.load(spark, "DROP TABLE lk_empty")
    GraftSql.load(spark, "DROP TABLE lk_copy")
  }

  test("GraftSql BigQuery function spellings: renames, datetime macros, format verbs, subscripts") {
    import spark.implicits._
    def one(sql: String) = GraftSql.load(spark, sql).head()
    Seq((1L, 10.0, "alpha"), (2L, 0.0, "beta"), (3L, 5.0, "alphabet"))
      .toDF("k", "x", "s").createOrReplaceTempView("bqf_t")
    // tier 1: renames
    val agg = one("SELECT COUNTIF(x > 1.0) AS n, LOGICAL_AND(k > 0) AS all_pos, " +
      "LOGICAL_OR(x = 0.0) AS any_zero FROM bqf_t")
    assert(agg.getLong(0) == 2 && agg.getBoolean(1) && agg.getBoolean(2))
    val row = one("SELECT SAFE_DIVIDE(10.0, 0.0) AS d, STRPOS('abcab', 'b') AS p, " +
      "STARTS_WITH('alphabet', 'alpha') AS sw, ENDS_WITH('alphabet', 'bet') AS ew, " +
      "REGEXP_CONTAINS('alpha', '^a.*a$') AS rc, FORMAT('%d-%s', 7, 'x') AS f, " +
      "ARRAY_LENGTH(array(1, 2, 3)) AS al, ARRAY_TO_STRING(array('a', 'b'), '|') AS ats")
    assert(row.isNullAt(0) && row.getInt(1) == 2 && row.getBoolean(2) && row.getBoolean(3)
      && row.getBoolean(4) && row.getString(5) == "7-x" && row.getInt(6) == 3
      && row.getString(7) == "a|b")
    // tier 2: datetime macros (truncation toward zero, both signs)
    assert(one("SELECT TIMESTAMP_DIFF(TIMESTAMP'2024-01-02 06:30:00', " +
      "TIMESTAMP'2024-01-01 00:00:00', HOUR) AS h").getLong(0) == 30L)
    assert(one("SELECT TIMESTAMP_DIFF(TIMESTAMP'2024-01-01 00:00:00', " +
      "TIMESTAMP'2024-01-02 06:30:00', HOUR) AS h").getLong(0) == -30L)
    assert(one("SELECT DATE_DIFF(DATE'2024-03-01', DATE'2024-02-01', DAY) AS d").getLong(0) == 29L)
    assert(one("SELECT TIMESTAMP_ADD(TIMESTAMP'2024-01-01 00:00:00', INTERVAL 90 MINUTE) AS t")
      .getTimestamp(0).toString.startsWith("2024-01-01 01:30"))
    assert(one("SELECT DATE_ADD(DATE'2024-01-31', INTERVAL 1 MONTH) AS d")
      .getDate(0).toString == "2024-02-29")
    assert(one("SELECT DATE_SUB(DATE'2024-01-10', INTERVAL 2 WEEK) AS d")
      .getDate(0).toString == "2023-12-27")
    // Spark's own 2-arg date_add passes through untouched
    assert(one("SELECT DATE_ADD(DATE'2024-01-01', 5) AS d").getDate(0).toString == "2024-01-06")
    // format verbs translate; literal letters survive quoted
    assert(one("SELECT FORMAT_DATE('%Y/%m', DATE'2024-03-05') AS s").getString(0) == "2024/03")
    assert(one("SELECT FORMAT_TIMESTAMP('%F %H:%M', TIMESTAMP'2024-01-02 03:04:05') AS s")
      .getString(0) == "2024-01-02 03:04")
    assert(one("SELECT PARSE_DATE('%Y-%m-%d', '2024-07-04') AS d")
      .getDate(0).toString == "2024-07-04")
    // ANY_VALUE(x HAVING MAX/MIN y) — BigQuery's argmax spelling;
    // bare ANY_VALUE stays Spark-native
    val hv = one("SELECT ANY_VALUE(s HAVING MAX x) AS top, " +
      "ANY_VALUE(s HAVING MIN x) AS bottom, ANY_VALUE(k) AS anyk FROM bqf_t")
    assert(hv.getString(0) == "alpha" && hv.getString(1) == "beta")

    // x [NOT] IN UNNEST(arr) → array_contains, NULL semantics kept
    val iu = one("SELECT 2 IN UNNEST(array(1, 2, 3)) AS a, " +
      "9 NOT IN UNNEST(array(1, 2, 3)) AS b, " +
      "CAST(NULL AS INT) IN UNNEST(array(1)) AS c, " +
      "LENGTH('ab') IN UNNEST(array(2, 5)) AS d")
    assert(iu.getBoolean(0) && iu.getBoolean(1) && iu.isNullAt(2) && iu.getBoolean(3))
    val iuCol = GraftSql.load(spark,
      "SELECT k FROM bqf_t WHERE k IN UNNEST(array(1, 3)) ORDER BY k")
    assert(iuCol.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // bare bracket array literals (BigQuery's `[...]` spelling):
    // literal position, chained subscript, nesting, IN UNNEST,
    // keyword-preceded; map/array subscripts on identifiers untouched
    assert(one("SELECT [1, 2, 3][OFFSET(1)] AS e").getInt(0) == 2)
    assert(one("SELECT ARRAY_LENGTH([[1], [2, 3]]) AS n").getInt(0) == 2)
    assert(one("SELECT 2 IN UNNEST([1, 2, 3]) AS a").getBoolean(0))
    assert(one("SELECT CASE WHEN 1 = 1 THEN [1, 2] ELSE [3] END[OFFSET(0)] AS x").getInt(0) == 1)
    assert(GraftSql.load(spark,
      "SELECT k FROM bqf_t WHERE k IN UNNEST([1, 3]) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // tier 3: array subscripts (OFFSET 0-based, ORDINAL 1-based)
    assert(one("SELECT array('a', 'b', 'c')[OFFSET(1)] AS e").getString(0) == "b")
    assert(one("SELECT array('a', 'b', 'c')[ORDINAL(1)] AS e").getString(0) == "a")
    // SAFE_OFFSET/SAFE_ORDINAL: NULL on any out-of-range index,
    // never an error (BigQuery's SAFE_ contract), via the bounds-
    // guarded subscript — in range, past end, negative, zero-ordinal
    val so = one("SELECT array('a', 'b', 'c')[SAFE_OFFSET(1)] AS a, " +
      "array('a', 'b', 'c')[SAFE_OFFSET(3)] AS b, " +
      "array('a', 'b', 'c')[SAFE_OFFSET(-1)] AS c, " +
      "array('a', 'b', 'c')[SAFE_ORDINAL(3)] AS d, " +
      "array('a', 'b', 'c')[SAFE_ORDINAL(0)] AS e, " +
      "array('a', 'b', 'c')[SAFE_ORDINAL(4)] AS f")
    assert(so.getString(0) == "b" && so.isNullAt(1) && so.isNullAt(2))
    assert(so.getString(3) == "c" && so.isNullAt(4) && so.isNullAt(5))
    // operand capture: qualified column, call, parenthesized group,
    // chained subscript; NULL index and NULL array both yield NULL
    Seq((1L, Seq("x", "y"))).toDF("k", "arr").createOrReplaceTempView("safe_t")
    val so2 = one("SELECT safe_t.arr[SAFE_OFFSET(1)] AS a, " +
      "slice(arr, 1, 2)[SAFE_OFFSET(5)] AS b, " +
      "(arr)[SAFE_ORDINAL(2)] AS c, " +
      "array(array('p', 'q'))[OFFSET(0)][SAFE_OFFSET(1)] AS d, " +
      "arr[SAFE_OFFSET(CAST(NULL AS INT))] AS e, " +
      "CAST(NULL AS ARRAY<STRING>)[SAFE_OFFSET(0)] AS f FROM safe_t")
    assert(so2.getString(0) == "y" && so2.isNullAt(1) && so2.getString(2) == "y")
    assert(so2.getString(3) == "q" && so2.isNullAt(4) && so2.isNullAt(5))
    // louds
    def badF(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    // MONTH boundaries count now (round 14): exactly one Feb→Mar crossing
    assert(GraftSql.load(spark,
      "SELECT DATE_DIFF(DATE'2024-03-01', DATE'2024-02-01', MONTH) AS d")
      .head().getLong(0) == 1L)
    assert(badF("SELECT DATE_DIFF(DATE'2024-03-01', DATE'2024-02-01', DECADE) AS d")
      .contains("not supported"))
    assert(badF("SELECT FORMAT_DATE('%q', DATE'2024-03-05') AS s").contains("%q"))
    assert(badF("SELECT TIMESTAMP_ADD(TIMESTAMP'2024-01-01 00:00:00', x) AS t")
      .contains("literal interval"))
  }

  test("GraftSql ordered aggregates: STRING_AGG/ARRAY_AGG with ORDER BY, LIMIT, DISTINCT, louds") {
    import spark.implicits._
    Seq((1L, "c", 30L), (1L, "a", 10L), (1L, "b", 20L), (2L, "z", 5L), (2L, null, 1L))
      .toDF("g", "v", "o").createOrReplaceTempView("oa_t")
    def one(sql: String) = GraftSql.load(spark, sql).orderBy("g").collect()
    // STRING_AGG orders by the key; NULL elements drop in both dialects
    val sa = one("SELECT g, STRING_AGG(v, '|' ORDER BY o) AS s FROM oa_t GROUP BY g")
    assert(sa.map(_.getString(1)).toSeq == Seq("a|b|c", "z"))
    // default separator is ','; multiple keys pass through
    val sa2 = one("SELECT g, STRING_AGG(v ORDER BY o DESC, v) AS s FROM oa_t GROUP BY g")
    assert(sa2.map(_.getString(1)).toSeq == Seq("c,b,a", "z"))
    // ARRAY_AGG sorts by key, drops NULL elements, LIMIT slices
    val aa = one("SELECT g, ARRAY_AGG(v ORDER BY o) AS a, " +
      "ARRAY_AGG(o ORDER BY o LIMIT 2) AS first2 FROM oa_t GROUP BY g")
    assert(aa.map(_.getSeq[String](1)).toSeq == Seq(Seq("a", "b", "c"), Seq("z")))
    assert(aa.map(_.getSeq[Long](2)).toSeq == Seq(Seq(10L, 20L), Seq(1L, 5L)))
    // DISTINCT requires key = expr (BigQuery's own rule)
    val ad = one("SELECT g, ARRAY_AGG(DISTINCT v ORDER BY v) AS a FROM oa_t GROUP BY g")
    assert(ad.map(_.getSeq[String](1)).toSeq == Seq(Seq("a", "b", "c"), Seq("z")))
    // plain forms stay native (no ORDER BY -> untouched)
    assert(graft.sql.Functions.rewriteBqFunctions("SELECT array_agg(x) FROM t") ==
      "SELECT array_agg(x) FROM t")
    // louds
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("SELECT g, ARRAY_AGG(v ORDER BY o DESC) AS a FROM oa_t GROUP BY g")
      .contains("ascending"))
    assert(bad("SELECT g, ARRAY_AGG(DISTINCT v ORDER BY o) AS a FROM oa_t GROUP BY g")
      .contains("k = e"))
    assert(bad("SELECT g, STRING_AGG(v ORDER BY o LIMIT 2) AS s FROM oa_t GROUP BY g")
      .contains("ARRAY_AGG"))
  }

  test("GraftSql APPROX spellings: QUANTILES exact regime, TOP_COUNT fields, COUNT_DISTINCT runs") {
    import spark.implicits._
    Seq.tabulate(40)(i => (i % 4, i.toDouble)).toDF("g", "x")
      .createOrReplaceTempView("ap_t")
    // small group => the GK sketch is exact: 0/25/50/75/100 percentiles
    // of 0..36 step 4 within group g=0
    val q = GraftSql.load(spark,
      "SELECT APPROX_QUANTILES(x, 4) AS qs FROM ap_t WHERE g = 0").collect().head
    assert(q.getSeq[Double](0) == Seq(0.0, 8.0, 16.0, 28.0, 36.0))
    // TOP_COUNT: BigQuery's struct field names, exact at this scale
    val t = GraftSql.load(spark,
      "SELECT APPROX_TOP_COUNT(g, 2) AS tc FROM ap_t").collect().head
    val rows = t.getSeq[org.apache.spark.sql.Row](0)
    assert(rows.length == 2 && rows.forall(_.getLong(1) == 10L))
    assert(t.schema(0).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("value", "count"))
    // COUNT_DISTINCT renames to the HLL sketch (estimate near exact here)
    val c = GraftSql.load(spark,
      "SELECT APPROX_COUNT_DISTINCT(x) AS n FROM ap_t").collect().head.getLong(0)
    assert(math.abs(c - 40L) <= 3L)
    // louds
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("SELECT APPROX_QUANTILES(x, n) AS q FROM ap_t").contains("literal integer"))
    assert(bad("SELECT APPROX_QUANTILES(DISTINCT x, 2) AS q FROM ap_t").contains("deduplicate"))
  }

  test("GraftSql hash/encoding family: BYTES digests, lowercase TO_HEX, FROM_HEX padding, base64") {
    val r = GraftSql.load(spark,
      "SELECT MD5('abc') AS m, TO_HEX(MD5('abc')) AS mh, TO_HEX(SHA1('abc')) AS s1, " +
        "TO_HEX(SHA256('abc')) AS s2, TO_HEX(FROM_HEX('abc')) AS pad, " +
        "FROM_BASE64(TO_BASE64(MD5('abc'))) AS rt, TO_BASE64(MD5('abc')) AS b64")
      .collect().head
    // BigQuery MD5 returns BYTES (16 of them), not Spark's hex string
    assert(r.getAs[Array[Byte]]("m").length == 16)
    assert(r.getAs[String]("mh") == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getAs[String]("s1") == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getAs[String]("s2") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getAs[String]("pad") == "0abc") // odd-length left-pads, BigQuery's rule
    assert(r.getAs[Array[Byte]]("rt").toSeq == r.getAs[Array[Byte]]("m").toSeq)
    assert(r.getAs[String]("b64") == "kAFQmDzST7DWlj99KOF/cg==")
    val e = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT MD5('a', 'b') AS m")
    }
    assert(e.getMessage.contains("MD5 takes"))
  }

  test("GraftSql ARRAY(SELECT ...) subqueries: filter/sort/transform/distinct pipeline, offsets, louds") {
    import spark.implicits._
    Seq((1L, Seq(3, 1, 4, 1, 5)), (2L, Seq(2, 7, 2))).toDF("id", "xs")
      .createOrReplaceTempView("arrsub_t")
    val r = GraftSql.load(spark,
      """SELECT id,
        |  ARRAY(SELECT x * 10 FROM UNNEST(xs) AS x WHERE x > 1) AS big,
        |  ARRAY(SELECT x FROM UNNEST(xs) AS x ORDER BY x DESC) AS sorted_desc,
        |  ARRAY(SELECT DISTINCT x + id FROM UNNEST(xs) AS x) AS dis,
        |  ARRAY(SELECT x * 100 + o FROM UNNEST(xs) AS x WITH OFFSET AS o) AS with_pos
        |FROM arrsub_t ORDER BY id""".stripMargin).collect()
    assert(r(0).getSeq[Int](1) == Seq(30, 40, 50))
    assert(r(0).getSeq[Int](2) == Seq(5, 4, 3, 1, 1))
    assert(r(0).getSeq[Long](3) == Seq(4L, 2L, 5L, 6L)) // first-seen order, outer column bound
    assert(r(0).getSeq[Int](4) == Seq(300, 101, 402, 103, 504))
    assert(r(1).getSeq[Int](1) == Seq(20, 70, 20))
    // nested subqueries resolve inner-first
    val n = GraftSql.load(spark,
      """SELECT ARRAY(SELECT y + 1 FROM UNNEST(
        |  ARRAY(SELECT x * 2 FROM UNNEST(xs) AS x WHERE x > 3)) AS y) AS nested
        |FROM arrsub_t WHERE id = 1""".stripMargin).collect().head
    assert(n.getSeq[Int](0) == Seq(9, 11))
    // louds: table source, offset+where, distinct+order, foreign sort key
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("SELECT ARRAY(SELECT id FROM arrsub_t) AS a").contains("UNNEST"))
    assert(bad("SELECT ARRAY(SELECT x FROM UNNEST(xs) AS x WITH OFFSET AS o WHERE x > 1) AS a FROM arrsub_t")
      .contains("ORIGINAL"))
    assert(bad("SELECT ARRAY(SELECT DISTINCT x FROM UNNEST(xs) AS x ORDER BY x) AS a FROM arrsub_t")
      .contains("DISTINCT"))
    assert(bad("SELECT ARRAY(SELECT x FROM UNNEST(xs) AS x ORDER BY id) AS a FROM arrsub_t")
      .contains("element itself"))
    // duplicate struct field names are LEGAL in BigQuery — the construction
    // succeeds (read back positionally; by-name access would be ambiguous)
    val dup = GraftSql.load(spark,
      "SELECT ARRAY(SELECT AS STRUCT x, x FROM UNNEST(xs) AS x) AS a FROM arrsub_t WHERE id = 2")
      .collect().head
    val dupArr = dup.getSeq[org.apache.spark.sql.Row](0)
    assert(dupArr.map(s => (s.getInt(0), s.getInt(1))) == Seq((2, 2), (7, 7), (2, 2)))
    // an unnamed non-identifier expression stays loud (anonymous field)
    assert(bad("SELECT ARRAY(SELECT AS STRUCT x + 1 FROM UNNEST(xs) AS x) AS a FROM arrsub_t")
      .contains("needs a name"))
    // backticked aliases/identifiers contribute their unquoted text
    val bt = GraftSql.load(spark,
      "SELECT ARRAY(SELECT AS STRUCT x AS `my field`, `x` FROM UNNEST(xs) AS x) AS a FROM arrsub_t WHERE id = 2")
      .selectExpr("a[0].`my field` AS f1", "a[0].x AS f2").collect().head
    assert(bt.getInt(0) == 2 && bt.getInt(1) == 2)
  }

  test("GraftSql GREATEST/LEAST null-propagation, DIV truncation, IEEE_DIVIDE infinities") {
    val r = GraftSql.load(spark,
      "SELECT GREATEST(1, 5, 3) AS g, GREATEST(1, CAST(NULL AS INT), 3) AS gn, " +
        "LEAST(4, 2) AS l, LEAST(CAST(NULL AS INT), 2) AS ln, " +
        "DIV(-7, 2) AS d, DIV(7, 2) AS d2, " +
        "IEEE_DIVIDE(1, 0) AS inf, IEEE_DIVIDE(0, 0) AS nan").collect().head
    assert(r.getInt(0) == 5 && r.isNullAt(1)) // BigQuery: one NULL arg -> NULL
    assert(r.getInt(2) == 2 && r.isNullAt(3))
    assert(r.getLong(4) == -3L && r.getLong(5) == 3L) // toward zero, both signs; INT64 result
    assert(r.getDouble(6).isPosInfinity && r.getDouble(7).isNaN)
    // EXTRACT: ISOWEEK maps to Spark's ISO WEEK; WEEK and
    // WEEK(<WEEKDAY>) rewrite to BigQuery's Sunday-start 0-based
    // boundary arithmetic; every other part passes through native
    val w = GraftSql.load(spark,
      "SELECT EXTRACT(ISOWEEK FROM DATE '2024-01-01') AS iw, " +
        "EXTRACT(YEAR FROM DATE '2024-03-05') AS y").collect().head
    assert(w.getInt(0) == 1 && w.getInt(1) == 2024)
    // 2024-01-01 is a Monday: before the first Sunday (Jan 7) → week 0
    // under WEEK and WEEK(SUNDAY); Jan 7 starts week 1; Dec 31 2023 is
    // a Sunday → week 53 (BigQuery's documented [0,53] range).
    // WEEK(MONDAY): Jan 1 IS the year's first Monday → week 1.
    val wk = GraftSql.load(spark,
      "SELECT EXTRACT(WEEK FROM DATE '2024-01-01') AS w0, " +
        "EXTRACT(WEEK FROM DATE '2024-01-07') AS w1, " +
        "EXTRACT(WEEK FROM DATE '2024-01-13') AS w1b, " +
        "EXTRACT(WEEK FROM DATE '2024-01-14') AS w2, " +
        "EXTRACT(WEEK FROM DATE '2023-12-31') AS w53, " +
        "EXTRACT(WEEK(SUNDAY) FROM DATE '2024-01-01') AS ws, " +
        "EXTRACT(WEEK(MONDAY) FROM DATE '2024-01-01') AS wm, " +
        "EXTRACT(WEEK(TUESDAY) FROM DATE '2024-01-01') AS wt").collect().head
    assert(wk.getInt(0) == 0 && wk.getInt(1) == 1 && wk.getInt(2) == 1)
    assert(wk.getInt(3) == 2 && wk.getInt(4) == 53)
    assert(wk.getInt(5) == 0 && wk.getInt(6) == 1 && wk.getInt(7) == 0)
    intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT EXTRACT(WEEK(NODAY) FROM DATE '2024-01-01') AS w")
    }
  }

  test("named WINDOW clause: BigQuery's WINDOW w AS (...) spelling is native Spark, pinned") {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("id", "g", "v")
      .createOrReplaceTempView("win_t")
    val r = GraftSql.load(spark,
      """SELECT id, SUM(v) OVER w AS s, RANK() OVER w AS rk
        |FROM win_t
        |WINDOW w AS (PARTITION BY g ORDER BY id)
        |ORDER BY id""".stripMargin).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getInt(2))).toSeq
    assert(r == Seq((1L, 10.0, 1), (2L, 30.0, 2), (3L, 30.0, 1)))
    // BigQuery's window REFINEMENT (`w2 AS (w1 ORDER BY ...)`) merges
    // textually into a full spec before Catalyst (r10)
    val ref = GraftSql.load(spark,
      """SELECT id, RANK() OVER w2 AS rk, COUNT(*) OVER w1 AS n FROM win_t
        |WINDOW w1 AS (PARTITION BY g), w2 AS (w1 ORDER BY id DESC)
        |ORDER BY id""".stripMargin).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    assert(ref == Seq((1L, 2, 2L), (2L, 1, 2L), (3L, 1, 1L)))
    // chains fold left-to-right; the refinement may append a frame
    val chain = GraftSql.load(spark,
      """SELECT id, SUM(v) OVER w3 AS s FROM win_t
        |WINDOW w1 AS (PARTITION BY g), w2 AS (w1 ORDER BY id),
        |       w3 AS (w2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY id""".stripMargin).collect().map(_.getDouble(1)).toSeq
    assert(chain == Seq(10.0, 30.0, 30.0))
    // composition louds: redefined PARTITION BY, double ORDER BY,
    // framed base, later-defined base
    def badw(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(badw("""SELECT id, RANK() OVER w2 AS rk FROM win_t
        |WINDOW w1 AS (PARTITION BY g ORDER BY id), w2 AS (w1 ORDER BY v)""".stripMargin)
      .contains("already has one"))
    assert(badw("""SELECT id, RANK() OVER w2 AS rk FROM win_t
        |WINDOW w1 AS (PARTITION BY g), w2 AS (w1 PARTITION BY id)""".stripMargin)
      .contains("PARTITION BY"))
    assert(badw("""SELECT id, SUM(v) OVER w2 AS s FROM win_t
        |WINDOW w1 AS (ORDER BY id ROWS UNBOUNDED PRECEDING), w2 AS (w1)""".stripMargin)
      .contains("frame"))
    assert(badw("""SELECT id, RANK() OVER w1 AS rk FROM win_t
        |WINDOW w1 AS (w2 ORDER BY id), w2 AS (PARTITION BY g)""".stripMargin)
      .contains("EARLIER"))
  }

  test("QUALIFY: window filters with ORDER/LIMIT outside, WINDOW clause + refinement inside, louds") {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 5.0))
      .toDF("id", "g", "v").createOrReplaceTempView("qual_t")
    // the canonical top-1-per-group idiom, ORDER BY applied AFTER
    val r = GraftSql.load(spark,
      """SELECT id, g FROM qual_t
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1
        |ORDER BY g""".stripMargin).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(r == Seq((2L, "a"), (3L, "b")))
    // predicate referencing a select-item ALIAS (lateral resolution)
    val al = GraftSql.load(spark,
      """SELECT id, RANK() OVER (PARTITION BY g ORDER BY v DESC) AS rk FROM qual_t
        |QUALIFY rk <= 1 ORDER BY id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(al == Seq(2L, 3L))
    // LIMIT stays outside: filter first, then limit
    val lim = GraftSql.load(spark,
      """SELECT id FROM qual_t
        |QUALIFY RANK() OVER (ORDER BY v DESC) <= 3 ORDER BY id LIMIT 2""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(lim == Seq(1L, 2L))
    // named WINDOW clause AFTER the QUALIFY (BigQuery's clause order)
    // moves into the wrap; the predicate refines it INLINE (B48)
    val w = GraftSql.load(spark,
      """SELECT id, g FROM qual_t
        |QUALIFY ROW_NUMBER() OVER (w ORDER BY v DESC) = 1
        |WINDOW w AS (PARTITION BY g)
        |ORDER BY g""".stripMargin).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(w == Seq((2L, "a"), (3L, "b")))
    // nested: QUALIFY inside a subquery composes with an outer agg
    val n = GraftSql.load(spark,
      """SELECT COUNT(*) AS n FROM (
        |  SELECT id FROM qual_t QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY id) = 1)""".stripMargin)
      .head().getLong(0)
    assert(n == 2L)
    // a trailing statement semicolon is not part of the predicate
    val semi = GraftSql.load(spark,
      "SELECT id FROM qual_t QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1;")
      .collect().map(_.getLong(0)).toSet
    assert(semi == Set(2L, 3L))
    // QUALIFY after GROUP BY: windows over the aggregated rows
    val ga = GraftSql.load(spark,
      """SELECT g, SUM(v) AS sv FROM qual_t GROUP BY g
        |QUALIFY RANK() OVER (ORDER BY SUM(v) DESC) = 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(ga == Seq(("b", 35.0)))
    // QUALIFY binds its own SELECT under set operations: the filtered
    // first branch unions the raw second
    val u = GraftSql.load(spark,
      """SELECT id FROM qual_t
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1
        |UNION ALL SELECT id FROM qual_t WHERE id = 4""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(u == Set(2L, 3L, 4L))
    // ...and on the SECOND branch (the last SELECT before the clause)
    val u2 = GraftSql.load(spark,
      """SELECT id FROM qual_t WHERE id = 1
        |UNION ALL SELECT id FROM qual_t
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(u2 == Set(1L, 2L, 3L))
    // two subqueries, each with its own QUALIFY, rewrite independently
    val dbl = GraftSql.load(spark,
      """SELECT a.id AS x, b.id AS y FROM
        |  (SELECT id, g FROM qual_t QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1) a
        |JOIN
        |  (SELECT id, g FROM qual_t QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) = 1) b
        |ON a.g = b.g ORDER BY x""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dbl == Seq((2L, 1L), (3L, 4L)))
    def badQ(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(badQ("""SELECT DISTINCT g FROM qual_t
        |QUALIFY ROW_NUMBER() OVER (ORDER BY g) = 1""".stripMargin).contains("DISTINCT"))
    assert(badQ("""SELECT g, SUM(v) AS sv FROM qual_t GROUP BY ALL
        |QUALIFY RANK() OVER (ORDER BY SUM(v)) = 1""".stripMargin).contains("GROUP BY ALL"))
    assert(badQ("SELECT 1 AS x QUALIFY ROW_NUMBER() OVER (ORDER BY 1) = 1")
      .contains("FROM"))
    // a grouping column that merely STARTS with 'all' is not GROUP BY ALL
    val allish = GraftSql.load(spark,
      """SELECT g AS allocation, SUM(v) AS sv FROM qual_t GROUP BY allocation
        |QUALIFY RANK() OVER (ORDER BY SUM(v) DESC) = 1""".stripMargin).collect()
    assert(allish.length == 1 && allish.head.getString(0) == "b")
  }

  test("pipe syntax |>: operator chain rewrites to standard SQL") {
    import spark.implicits._
    Seq((1L, "a", 10.0, 1), (2L, "a", 20.0, 2), (3L, "b", 30.0, 1), (4L, "b", 5.0, 2))
      .toDF("id", "g", "v", "k").createOrReplaceTempView("pipe_t")
    // FROM base |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY
    val agg = GraftSql.load(spark,
      """FROM pipe_t
        ||> WHERE v > 5
        ||> AGGREGATE SUM(v) AS sv, COUNT(*) AS n GROUP BY g
        ||> ORDER BY g""".stripMargin).collect()
    assert(agg.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq(("a", 30.0, 2L), ("b", 30.0, 1L)))
    // WHERE after AGGREGATE filters aggregate outputs (HAVING semantics)
    val hav = GraftSql.load(spark,
      """FROM pipe_t |> AGGREGATE SUM(v) AS sv GROUP BY g |> WHERE sv > 31""".stripMargin)
      .collect()
    assert(hav.length == 1 && hav.head.getString(0) == "b")
    // EXTEND a window column, then filter on it (the QUALIFY idiom)
    val top = GraftSql.load(spark,
      "FROM pipe_t |> EXTEND RANK() OVER (ORDER BY v DESC) AS rk |> WHERE rk = 1")
      .collect()
    assert(top.length == 1 && top.head.getLong(0) == 3L)
    // SET / DROP / RENAME / SELECT — and || concat survives the scanner
    val row = GraftSql.load(spark,
      """FROM pipe_t |> SET v = v * 2 |> DROP k |> RENAME g AS grp
        ||> EXTEND grp || '!' AS gx |> WHERE id = 1 |> SELECT id, grp, v, gx""".stripMargin)
      .collect().head
    assert((row.getLong(0), row.getString(1), row.getDouble(2), row.getString(3)) ==
      (1L, "a", 20.0, "a!"))
    // AS alias + JOIN
    val n = GraftSql.load(spark,
      """FROM pipe_t |> AS l |> JOIN pipe_t AS r ON l.id = r.id
        ||> AGGREGATE COUNT(*) AS n""".stripMargin).head().getLong(0)
    assert(n == 4L)
    // set operation with a parenthesized operand
    val u = GraftSql.load(spark,
      """FROM pipe_t |> WHERE id = 1 |> SELECT id
        ||> UNION ALL (SELECT id FROM pipe_t WHERE id = 2)""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(u == Set(1L, 2L))
    // GROUP AND ORDER BY with direction
    val gaob = GraftSql.load(spark,
      "FROM pipe_t |> AGGREGATE SUM(v) AS sv GROUP AND ORDER BY g DESC").collect()
    assert(gaob.map(_.getString(0)).toSeq == Seq("b", "a"))
    // DISTINCT + LIMIT/OFFSET
    assert(GraftSql.load(spark, "FROM pipe_t |> SELECT g |> DISTINCT").count() == 2L)
    val lim = GraftSql.load(spark,
      "FROM pipe_t |> ORDER BY id |> LIMIT 2 OFFSET 1").collect().map(_.getLong(0)).toSeq
    assert(lim == Seq(2L, 3L))
    // a pipe chain nested as a parenthesized subquery
    assert(GraftSql.load(spark,
      "SELECT * FROM (FROM pipe_t |> WHERE id <= 2) ORDER BY id").count() == 2L)
    // the subquery nest flattens: the OPTIMIZED plan of the piped
    // spelling equals the standard spelling's (canonicalized) — the
    // rewrite costs nothing physically
    val piped = GraftSql.load(spark,
      "FROM pipe_t |> WHERE v > 5 |> AGGREGATE SUM(v) AS sv GROUP BY g |> ORDER BY g")
      .queryExecution.optimizedPlan.canonicalized
    val std = GraftSql.load(spark,
      "SELECT g, SUM(v) AS sv FROM pipe_t WHERE v > 5 GROUP BY g ORDER BY g")
      .queryExecution.optimizedPlan.canonicalized
    assert(piped == std, s"piped plan:\n$piped\nstandard plan:\n$std")
    // louds
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("FROM pipe_t |> CALL foo()").contains("not supported"))
    assert(bad("FROM pipe_t |> SELECT id |> UNION (SELECT id FROM pipe_t)")
      .contains("ALL or DISTINCT"))
    assert(bad("pipe_t |> WHERE id = 1").contains("must start with FROM"))
  }

  test("INFORMATION_SCHEMA.VIEWS: DDL-created view definitions") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "tag").createOrReplaceTempView("isv_base")
    GraftSql.load(spark,
      "CREATE OR REPLACE VIEW isv_view AS SELECT id, upper(tag) AS tag FROM isv_base")
    val rows = GraftSql.load(spark,
      "SELECT table_name, view_definition, use_standard_sql FROM INFORMATION_SCHEMA.VIEWS " +
        "WHERE table_name = 'isv_view'").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1).toUpperCase.startsWith("SELECT ID"))
    assert(rows.head.getString(2) == "YES")
    // joinable against TABLES; the base temp view has no definition row
    val joined = GraftSql.load(spark,
      """SELECT t.table_name, v.view_definition
        |FROM INFORMATION_SCHEMA.TABLES t
        |LEFT JOIN INFORMATION_SCHEMA.VIEWS v USING (table_name)
        |WHERE t.table_name IN ('isv_view', 'isv_base')
        |ORDER BY t.table_name""".stripMargin).collect()
    assert(joined.length == 2)
    assert(joined.head.getString(0) == "isv_base" && joined.head.isNullAt(1))
    assert(joined(1).getString(0) == "isv_view" && !joined(1).isNullAt(1))
    // DROP removes the definition row
    GraftSql.load(spark, "DROP VIEW isv_view")
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.VIEWS WHERE table_name = 'isv_view'")
      .collect().isEmpty)
    // unknown views stay loud, naming the available set (ROUTINES
    // graduated to a real view in round 13 — JOBS is the stand-in)
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT * FROM INFORMATION_SCHEMA.JOBS")
    }.getMessage.contains(".VIEWS"))
  }

  test("INSTR 3-arg position form maps to locate; REGEXP_INSTR extended args are loud") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // BigQuery INSTR(value, sub, position): search starts at position
    assert(one("INSTR('banana', 'an', 3)").getInt(0) == 4)
    // negative position (BigQuery's backward search) raises at
    // runtime instead of silently returning 0
    assertThrows[Exception] {
      GraftSql.load(spark, "SELECT INSTR('banana', 'an', -1) AS v").collect()
    }
    assert(one("INSTR('banana', 'an')").getInt(0) == 2) // 2-arg native
    assert(one("STRPOS('banana', 'na')").getInt(0) == 3) // rename still maps
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, s"SELECT $sql AS v") }.getMessage
    assert(bad("INSTR('banana', 'an', 1, 2)").contains("occurrence"))
    assert(bad("REGEXP_INSTR('banana', 'an', 2)").contains("group-index"))
    // Spark's 3-arg REGEXP_EXTRACT keeps its group-index semantics
    // (the documented deliberate divergence — see the README note)
    assert(one("regexp_extract('a12b', '([0-9]+)([a-z])', 2)").getString(0) == "b")
    // LOG(x, base) is BigQuery's argument order (Spark's is reversed —
    // a silent reciprocal otherwise); 1-arg LOG stays the natural log
    assert(one("LOG(8, 2)").getDouble(0) == 3.0)
    assert(math.abs(one("LOG(CAST(2.718281828459045 AS DOUBLE))").getDouble(0) - 1.0) < 1e-12)
    assert(one("BYTE_LENGTH('héllo')").getInt(0) == 6)
  }

  test("PERCENTILE_CONT / PERCENTILE_DISC: BigQuery's analytic percentile spellings") {
    import spark.implicits._
    Seq((1, 1.0), (1, 2.0), (1, 4.0), (2, 10.0)).toDF("g", "x")
      .createOrReplaceTempView("pctw_t")
    // the window spelling BigQuery requires — OVER passes through
    val r = GraftSql.load(spark,
      "SELECT DISTINCT g, PERCENTILE_CONT(x, 0.5) OVER (PARTITION BY g) AS m " +
        "FROM pctw_t ORDER BY g").collect()
    assert(r.map(row => (row.getInt(0), row.getDouble(1))).toSeq == Seq((1, 2.0), (2, 10.0)))
    // DISC returns an EXISTING element (smallest with cume_dist >= p)
    val d = GraftSql.load(spark,
      "SELECT DISTINCT g, PERCENTILE_DISC(x, 0.5) OVER (PARTITION BY g) AS m " +
        "FROM pctw_t ORDER BY g").collect()
    assert(d.map(row => (row.getInt(0), row.getDouble(1))).toSeq == Seq((1, 2.0), (2, 10.0)))
    // linear interpolation at quarter rank over {1,2,4}: 1 + 0.5*(2-1)
    assert(GraftSql.load(spark,
      "SELECT PERCENTILE_CONT(x, 0.25) AS m FROM pctw_t WHERE g = 1").head().getDouble(0) == 1.5)
    // IGNORE NULLS is the default — strips; RESPECT NULLS is loud
    assert(GraftSql.load(spark,
      "SELECT PERCENTILE_CONT(x, 0.5 IGNORE NULLS) AS m FROM pctw_t WHERE g = 1")
      .head().getDouble(0) == 2.0)
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT PERCENTILE_CONT(x, 0.5 RESPECT NULLS) AS m FROM pctw_t")
    }.getMessage.contains("RESPECT"))
  }

  test("ML.FEATURE_CROSS / ML.POLYNOMIAL_EXPAND: combinational TRANSFORM preprocessors") {
    import spark.implicits._
    Seq(("x", "y", "z", 2.0, 3.0)).toDF("a", "b", "c", "p", "q")
      .createOrReplaceTempView("mlfc_t")
    val fc = GraftSql.load(spark,
      "SELECT ML.FEATURE_CROSS(STRUCT(a, b, c), 3) AS f FROM mlfc_t")
      .select("f.*").collect().head
    val fcDf = GraftSql.load(spark,
      "SELECT ML.FEATURE_CROSS(STRUCT(a, b, c), 3) AS f FROM mlfc_t").select("f.*")
    assert(fcDf.columns.toSeq == Seq("a_X_b", "a_X_c", "b_X_c", "a_X_b_X_c"))
    assert(fc.getString(0) == "x_y" && fc.getString(2) == "y_z" &&
      fc.getString(3) == "x_y_z")
    // default degree 2 crosses pairs only
    assert(GraftSql.load(spark,
      "SELECT ML.FEATURE_CROSS(STRUCT(a, b, c)) AS f FROM mlfc_t")
      .select("f.*").columns.length == 3)
    // polynomial: monomials with repetition, degree-major, input order
    val pe = GraftSql.load(spark,
      "SELECT ML.POLYNOMIAL_EXPAND(STRUCT(p, q)) AS f FROM mlfc_t").select("f.*")
    assert(pe.columns.toSeq == Seq("p", "q", "p_p", "p_q", "q_q"))
    assert(pe.collect().head.toSeq == Seq(2.0, 3.0, 4.0, 6.0, 9.0))
    def bad(sql: String): String =
      intercept[Exception] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("SELECT ML.FEATURE_CROSS(STRUCT(upper(a), b)) AS f FROM mlfc_t")
      .contains("bare column"))
    assert(bad("SELECT ML.POLYNOMIAL_EXPAND(STRUCT(p, q), 9) AS f FROM mlfc_t")
      .contains("degree"))
    assert(bad("SELECT ML.FEATURE_CROSS(STRUCT(a)) AS f FROM mlfc_t")
      .contains("two features"))
  }

  test("TIME type: literal, constructor, wrap arithmetic, trunc, parse/format") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // the carrier is 1970-01-01-pinned TIMESTAMP_NTZ
    assert(one("CAST(TIME '12:34:56' AS STRING)").getString(0) == "1970-01-01 12:34:56")
    assert(one("FORMAT_TIME('%H:%M:%S', TIME(TIMESTAMP '2024-03-15 10:47:33'))")
      .getString(0) == "10:47:33")
    assert(one("FORMAT_TIME('%H:%M:%S', TIME(7, 5, 9))").getString(0) == "07:05:09")
    // ADD/SUB wrap around 24h (BigQuery's rule)
    assert(one("FORMAT_TIME('%H:%M:%S', TIME_ADD(TIME '23:30:00', INTERVAL 45 MINUTE))")
      .getString(0) == "00:15:00")
    assert(one("FORMAT_TIME('%H:%M:%S', TIME_SUB(TIME '00:15:00', INTERVAL 30 MINUTE))")
      .getString(0) == "23:45:00")
    // DIFF is the SIGNED span (no wrap); TRUNC snaps down
    assert(one("TIME_DIFF(TIME '12:00:00', TIME '10:30:00', MINUTE)").getLong(0) == 90L)
    assert(one("TIME_DIFF(TIME '10:30:00', TIME '12:00:00', MINUTE)").getLong(0) == -90L)
    assert(one("FORMAT_TIME('%H:%M:%S', TIME_TRUNC(TIME '12:34:56', HOUR))")
      .getString(0) == "12:00:00")
    // parse defaults the date fields to the epoch pin
    assert(one("FORMAT_TIME('%H:%M:%S', PARSE_TIME('%H:%M', '07:30'))")
      .getString(0) == "07:30:00")
    // EXTRACT(TIME FROM ts) equals the constructor; scalar parts and
    // ordering are native on the carrier
    assert(one("EXTRACT(TIME FROM TIMESTAMP '2024-03-15 10:47:33') = " +
      "TIME(TIMESTAMP '2024-03-15 10:47:33')").getBoolean(0))
    assert(one("EXTRACT(HOUR FROM TIME '12:34:56')").getInt(0) == 12)
    assert(one("TIME '09:00:00' < TIME '10:00:00'").getBoolean(0))
    // quoted text containing the literal shape stays opaque
    assert(one("""'TIME ''12:00:00'''""").getString(0).startsWith("TIME"))
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, s"SELECT $sql AS v") }.getMessage
    assert(bad("TIME_ADD(TIME '12:00:00', INTERVAL 1 DAY)").contains("DAY"))
    assert(bad("TIME_DIFF(TIME '12:00:00', TIME '10:00:00', WEEK)").contains("WEEK"))
    // the 2-arg form is TIME(ts, tz) — the named zone's wall clock
    assert(one("TIME(TIMESTAMP '2024-01-01 23:30:00', 'Asia/Tokyo')")
      .getAs[java.time.LocalDateTime](0).toString.startsWith("1970-01-01T08:30"))
    // the 6-part civil DATETIME constructor (round 15) lands on the
    // _NTZ carrier
    assert(one("DATETIME(2024, 2, 29, 23, 5, 7)")
      .getAs[java.time.LocalDateTime](0).toString == "2024-02-29T23:05:07")
    assert(one("DATETIME(2024, 2, 29, 23, 5, 7) = TIMESTAMP_NTZ '2024-02-29 23:05:07'")
      .getBoolean(0))
    assert(bad("DATETIME(DATE '2024-01-01', TIME '10:00:00', 'x')").contains("DATETIME takes"))
    // the (date, time) COMBINE overload type-dispatches at analysis
    // (a non-literal second argument routes the native; a literal
    // string keeps the timezone path)
    assert(one("DATETIME(DATE '2024-02-29', TIME '23:05:07')")
      .getAs[java.time.LocalDateTime](0).toString == "2024-02-29T23:05:07")
    assert(one("DATETIME(TIMESTAMP '2024-01-01 23:30:00', concat('Asia/', 'Tokyo'))")
      .getAs[java.time.LocalDateTime](0).toString == "2024-01-02T08:30")
    // TIMESTAMP(date): midnight of the civil date as the UTC instant
    assert(one("TIMESTAMP(DATE '2024-07-04') = TIMESTAMP '2024-07-04 00:00:00'")
      .getBoolean(0))
  }

  test("FORMAT / ERROR / LAST_DAY: the everyday scalar verbs") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    assert(one("FORMAT('ev-%06d:%s', 42, 'click')").getString(0) == "ev-000042:click")
    assert(one("FORMAT('%x|%o|%5d', 255, 8, 7)").getString(0) == "ff|10|    7")
    assert(one("FORMAT('%i%%', 3)").getString(0) == "3%") // C's %i alias
    assert(one("FORMAT('%.3f', CAST(1.5 AS DOUBLE))").getString(0) == "1.500")
    assert(one("LAST_DAY(DATE '2024-02-10')").getDate(0).toString == "2024-02-29")
    assert(one("LAST_DAY(DATE '2024-05-10', QUARTER)").getDate(0).toString == "2024-06-30")
    assert(one("LAST_DAY(DATE '2024-05-10', YEAR)").getDate(0).toString == "2024-12-31")
    // ERROR raises only on the taken branch
    assert(one("CASE WHEN 1 = 1 THEN 'ok' ELSE ERROR('boom') END").getString(0) == "ok")
    assertThrows[Exception] {
      GraftSql.load(spark, "SELECT CASE WHEN 1 = 2 THEN 'ok' ELSE ERROR('boom') END AS v")
        .collect()
    }
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, s"SELECT $sql AS v") }.getMessage
    // IEEE predicates under BigQuery's three-valued table
    val ie = one("struct(IS_NAN(CAST('NaN' AS FLOAT64)), IS_NAN(1.0), " +
      "IS_NAN(CAST(NULL AS FLOAT64)), IS_INF(CAST('Infinity' AS FLOAT64)), " +
      "IS_INF(CAST('-Infinity' AS FLOAT64)), IS_INF(CAST('NaN' AS FLOAT64)), " +
      "IS_INF(CAST(NULL AS FLOAT64)))").getStruct(0)
    assert(ie.getBoolean(0) && !ie.getBoolean(1) && ie.isNullAt(2))
    assert(ie.getBoolean(3) && ie.getBoolean(4) && !ie.getBoolean(5) && ie.isNullAt(6))
    assert(one("SESSION_USER()").getString(0).nonEmpty)
    // ARRAY_SLICE: zero-based inclusive, negative from end, clamping, NULLs
    val sl = one("struct(ARRAY_SLICE([1, 2, 3, 4, 5], 1, 3), " +
      "ARRAY_SLICE([1, 2, 3, 4, 5], -2, -1), ARRAY_SLICE([1, 2, 3], 2, 9), " +
      "ARRAY_SLICE([1, 2, 3], 2, 1), ARRAY_SLICE([1, 2, 3], -9, 0), " +
      "ARRAY_SLICE(CAST(NULL AS ARRAY<INT>), 0, 1))").getStruct(0)
    assert(sl.getSeq[Int](0) == Seq(2, 3, 4))
    assert(sl.getSeq[Int](1) == Seq(4, 5))
    assert(sl.getSeq[Int](2) == Seq(3))       // end clamps to the last slot
    assert(sl.getSeq[Int](3) == Seq())        // start > end → empty
    assert(sl.getSeq[Int](4) == Seq(1))       // start clamps to 0
    assert(sl.isNullAt(5))
    assert(bad("FORMAT('%t', 1)").contains("%t"))
    assert(bad("FORMAT('%u', 1)").contains("not supported"))
    assert(bad("FORMAT(col, 1)").contains("literal"))
    assert(one("LAST_DAY(DATE '2024-01-01', WEEK)").getDate(0).toString == "2024-01-06")
    assert(bad("LAST_DAY(DATE '2024-01-01', DECADE)").contains("not supported"))
  }

  test("RANGE<DATE> surface: literal, constructor, accessors, predicates, split") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // literal + accessors (half-open [start, end))
    assert(one("RANGE_START(RANGE<DATE> '[2023-01-01, 2023-12-31)')")
      .getDate(0).toString == "2023-01-01")
    assert(one("RANGE_END(RANGE<DATE> '[2023-01-01, 2023-12-31)')")
      .getDate(0).toString == "2023-12-31")
    assert(one("RANGE_END(RANGE<DATE> '[2023-01-01, UNBOUNDED)')").isNullAt(0))
    // constructor form mirrors the literal
    assert(one("RANGE(DATE '2023-01-01', DATE '2023-02-01') = " +
      "RANGE<DATE> '[2023-01-01, 2023-02-01)'").getBoolean(0))
    // containment: start inclusive, end exclusive, unbounded sides
    assert(one("RANGE_CONTAINS(RANGE<DATE> '[2023-01-01, 2023-02-01)', DATE '2023-01-01')").getBoolean(0))
    assert(!one("RANGE_CONTAINS(RANGE<DATE> '[2023-01-01, 2023-02-01)', DATE '2023-02-01')").getBoolean(0))
    assert(one("RANGE_CONTAINS(RANGE<DATE> '[UNBOUNDED, 2023-02-01)', DATE '1900-01-01')").getBoolean(0))
    assert(one("RANGE_CONTAINS(RANGE<DATE> '[2023-01-01, UNBOUNDED)', DATE '2999-01-01')").getBoolean(0))
    // overlap: half-open adjacency does NOT overlap
    assert(one("RANGE_OVERLAPS(RANGE<DATE> '[2023-01-01, 2023-03-01)', " +
      "RANGE<DATE> '[2023-02-01, 2023-04-01)')").getBoolean(0))
    assert(!one("RANGE_OVERLAPS(RANGE<DATE> '[2023-01-01, 2023-02-01)', " +
      "RANGE<DATE> '[2023-02-01, 2023-03-01)')").getBoolean(0))
    assert(one("RANGE_OVERLAPS(RANGE<DATE> '[UNBOUNDED, UNBOUNDED)', " +
      "RANGE<DATE> '[2023-02-01, 2023-03-01)')").getBoolean(0))
    // GENERATE_RANGE_ARRAY: last sub-range partial, half-open ends meet
    val rows = GraftSql.load(spark,
      """SELECT explode(GENERATE_RANGE_ARRAY(
        |  RANGE<DATE> '[2023-01-01, 2023-01-18)', INTERVAL 7 DAY)) AS r""".stripMargin)
      .selectExpr("r.range_start", "r.range_end").collect()
    assert(rows.map(r => (r.getDate(0).toString, r.getDate(1).toString)).toSeq == Seq(
      ("2023-01-01", "2023-01-08"), ("2023-01-08", "2023-01-15"),
      ("2023-01-15", "2023-01-18")))
    // quoted text containing the literal shape stays opaque
    assert(one("""'RANGE<DATE> ''[2023-01-01, 2023-12-31)'''""").getString(0)
      .startsWith("RANGE<DATE>"))
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, s"SELECT $sql AS v") }.getMessage
    assert(bad("GENERATE_RANGE_ARRAY(RANGE(DATE '2023-01-01', DATE '2023-02-01'), 7)")
      .contains("INTERVAL"))
    assert(bad("RANGE_CONTAINS(RANGE(DATE '2023-01-01', DATE '2023-02-01'))")
      .contains("RANGE_CONTAINS"))
  }

  test("DATE_BUCKET / TIMESTAMP_BUCKET / DATETIME_BUCKET: anchored fixed-width buckets") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // independent expectation via java.time: default origin 1950-01-01
    val origin = java.time.LocalDate.of(1950, 1, 1)
    val d = java.time.LocalDate.of(2024, 3, 15)
    val diff = java.time.temporal.ChronoUnit.DAYS.between(origin, d)
    val expected = d.minusDays(Math.floorMod(diff, 7L))
    assert(one("DATE_BUCKET(DATE '2024-03-15', INTERVAL 7 DAY)")
      .getDate(0).toLocalDate == expected)
    // floor semantics BEFORE the origin (bucket [1949-12-25, 1950-01-01))
    assert(one("DATE_BUCKET(DATE '1949-12-31', INTERVAL 1 WEEK)")
      .getDate(0).toString == "1949-12-25")
    // month family with explicit day-1 origin
    assert(one("DATE_BUCKET(DATE '2024-05-10', INTERVAL 3 MONTH, DATE '2024-01-01')")
      .getDate(0).toString == "2024-04-01")
    assert(one("DATE_BUCKET(DATE '2023-11-02', INTERVAL 1 YEAR, DATE '2020-01-01')")
      .getDate(0).toString == "2023-01-01")
    // timestamp path: 10:47 in 90-minute buckets from midnight -> 10:30
    assert(one("TIMESTAMP_BUCKET(TIMESTAMP '2024-03-15 10:47:00', " +
      "INTERVAL 90 MINUTE, TIMESTAMP '2024-03-15 00:00:00')")
      .getTimestamp(0).toString.startsWith("2024-03-15 10:30:00"))
    // DATETIME_BUCKET returns the NTZ type
    val df = GraftSql.load(spark, "SELECT DATETIME_BUCKET(TIMESTAMP_NTZ '2024-03-15 10:47:00', " +
      "INTERVAL 1 DAY) AS v")
    assert(df.schema.head.dataType == org.apache.spark.sql.types.TimestampNTZType)
    // mid-month origin for a month width raises AT RUNTIME (assert_true)
    assertThrows[Exception] {
      GraftSql.load(spark,
        "SELECT DATE_BUCKET(DATE '2024-05-10', INTERVAL 1 MONTH, DATE '2024-01-15') AS v")
        .collect()
    }
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, s"SELECT $sql AS v") }.getMessage
    assert(bad("DATE_BUCKET(DATE '2024-01-01', INTERVAL 1 HOUR)").contains("HOUR"))
    assert(bad("TIMESTAMP_BUCKET(TIMESTAMP '2024-01-01 00:00:00', INTERVAL 1 MONTH)")
      .contains("MONTH"))
    assert(bad("DATE_BUCKET(DATE '2024-01-01', 7)").contains("INTERVAL"))
  }

  test("JSON_KEYS + strict typed accessors (BOOL/INT64/FLOAT64/STRING)") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    def keys(expr: String): Seq[String] = one(expr).getSeq[String](0)
    // strict (default): nested objects recurse, arrays are opaque;
    // sorted unique dotted paths
    assert(keys("""JSON_KEYS('{"b": {"c": 1}, "a": 2}')""") == Seq("a", "b", "b.c"))
    assert(keys("""JSON_KEYS('{"a": [{"x": 1}], "b": 2}')""") == Seq("a", "b"))
    // max_depth counts path segments
    assert(keys("""JSON_KEYS('{"a": {"b": {"c": 1}}}', 2)""") == Seq("a", "a.b"))
    assert(keys("""JSON_KEYS('{"a": {"b": 1}, "c": 2}', 1)""") == Seq("a", "c"))
    // lax unwraps ONE array level; lax recursive unwraps any nesting
    assert(keys("""JSON_KEYS('{"a": [{"b": 1}]}', mode => 'lax')""") == Seq("a", "a.b"))
    assert(keys("""JSON_KEYS('{"a": [[{"b": 1}]]}', mode => 'lax')""") == Seq("a"))
    assert(keys("""JSON_KEYS('{"a": [[{"b": 1}]]}', mode => "lax recursive")""") ==
      Seq("a", "a.b"))
    // non-identifier keys come back double-quoted (pinned); scalar or
    // (strict) array roots are EMPTY, not NULL; junk/NULL input is NULL
    assert(keys("""JSON_KEYS('{"a.b": 1}')""") == Seq("\"a.b\""))
    assert(keys("""JSON_KEYS('[{"a": 1}]')""") == Seq.empty)
    assert(keys("""JSON_KEYS('7')""") == Seq.empty)
    assert(one("""JSON_KEYS('nope{')""").isNullAt(0))
    assert(one("""JSON_KEYS(CAST(NULL AS STRING))""").isNullAt(0))
    // strict accessors: exact-type reads
    assert(one("""BOOL('true')""").getBoolean(0))
    assert(one("""INT64('42')""").getLong(0) == 42L)
    assert(one("""INT64('10.0')""").getLong(0) == 10L) // integral fraction ok
    assert(one("""INT64('1e3')""").getLong(0) == 1000L)
    assert(one("""FLOAT64('1.5')""").getDouble(0) == 1.5)
    assert(one("""STRING('"hi"')""").getString(0) == "hi")
    // FLOAT64 wide_number_mode: exact (default) raises past the
    // double-lossless regime; round accepts nearest
    assert(one("""FLOAT64('9007199254740993', wide_number_mode => 'round')""")
      .getDouble(0) == 9007199254740992.0)
    // SAFE forms null out instead of raising
    assert(one("""SAFE.BOOL('1')""").isNullAt(0))
    assert(one("""SAFE.INT64('1.5')""").isNullAt(0))
    assert(one("""SAFE.INT64('1e30')""").isNullAt(0))
    assert(one("""SAFE.STRING('42')""").isNullAt(0))
    assert(one("""SAFE.FLOAT64('"x"')""").isNullAt(0))
    assert(one("""SAFE.INT64(CAST(NULL AS STRING))""").isNullAt(0))
    // overflowing exponents parse to an infinite double node — the
    // SAFE forms NULL, strict raises TYPED (never a leaked
    // NumberFormatException), and 'round' takes the IEEE overflow
    assert(one("""SAFE.FLOAT64('1e400')""").isNullAt(0))
    assert(one("""SAFE.INT64('1e400')""").isNullAt(0))
    assert(one("""FLOAT64('1e400', wide_number_mode => 'round')""")
      .getDouble(0).isPosInfinity)
    assert(one("""SAFE.INT64('-9223372036854775808')""").getLong(0) == Long.MinValue)
    assert(one("""SAFE.INT64('-9223372036854775809')""").isNullAt(0))
    // strict forms RAISE with the SAFE hint (BigQuery's behavior)
    def bad(sql: String): String = {
      val df = GraftSql.load(spark, s"SELECT $sql AS v")
      intercept[Exception] { df.collect() }.getMessage
    }
    assert(bad("""BOOL('1')""").contains("SAFE.BOOL"))
    assert(bad("""INT64('1.5')""").contains("SAFE.INT64"))
    assert(bad("""STRING('42')""").contains("SAFE.STRING"))
    assert(bad("""FLOAT64('9007199254740993')""").contains("wide_number_mode"))
    assert(intercept[Exception] {
      GraftSql.load(spark, """SELECT JSON_KEYS('{"a":1}', mode => 'bogus') AS v""")
    }.getMessage.contains("mode"))
  }

  test("JSON_OBJECT / JSON_ARRAY / PARSE_JSON / TO_JSON: the constructor family") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // objects: typed values, insertion order, JSON-null for NULL
    // values, last-wins duplicate keys
    assert(one("""JSON_OBJECT('a', 1, 'b', 'x', 'c', true)""").getString(0) ==
      """{"a":1,"b":"x","c":true}""")
    assert(one("""JSON_OBJECT('a', CAST(NULL AS STRING))""").getString(0) == """{"a":null}""")
    assert(one("""JSON_OBJECT('a', 1, 'a', 2)""").getString(0) == """{"a":2}""")
    assert(one("JSON_OBJECT()").getString(0) == "{}")
    // arrays: heterogeneous element types are fine (each encodes
    // independently)
    assert(one("""JSON_ARRAY(1, 'two', false, CAST(NULL AS INT))""").getString(0) ==
      """[1,"two",false,null]""")
    assert(one("JSON_ARRAY()").getString(0) == "[]")
    // constructors compose with the mutators
    assert(one("""JSON_SET(JSON_OBJECT('a', 1), '$.b', 2)""").getString(0) ==
      """{"a":1,"b":2}""")
    // PARSE_JSON canonicalizes; SAFE form nulls on junk, strict raises
    assert(one("""PARSE_JSON('{ "a" : 1 ,"b":[ 1, 2 ] }')""").getString(0) ==
      """{"a":1,"b":[1,2]}""")
    assert(one("""SAFE.PARSE_JSON('nope{')""").isNullAt(0))
    assert(one("""SAFE.PARSE_JSON(CAST(NULL AS STRING))""").isNullAt(0))
    // TO_JSON == TO_JSON_STRING here (string-carried JSON, no JSON type)
    assert(one("""TO_JSON(named_struct('a', 1))""").getString(0) == """{"a":1}""")
    // pretty_print (round 13): BigQuery's exact layout — 2-space
    // indent, no space before the colon, own-line elements, empty
    // containers stay inline
    assert(one("""TO_JSON_STRING(named_struct('a', 1, 'b', array(1, 2)), true)""")
      .getString(0) == "{\n  \"a\": 1,\n  \"b\": [\n    1,\n    2\n  ]\n}")
    assert(one("""TO_JSON_STRING(named_struct('a', 1), false)""").getString(0) == """{"a":1}""")
    assert(one("""JSON_SET(TO_JSON_STRING(named_struct('e', array())), '$.e[0]', 1)""")
      .getString(0) == """{"e":[1]}""")
    assert(intercept[Exception] {
      GraftSql.load(spark, "SELECT TO_JSON_STRING(named_struct('a', 1), maybe) AS v")
    }.getMessage.contains("boolean literal"))
    def bad(sql: String): String =
      intercept[Exception] { GraftSql.load(spark, s"SELECT $sql AS v").collect() }.getMessage
    assert(bad("""PARSE_JSON('nope{')""").contains("SAFE.PARSE_JSON"))
    assert(bad("""JSON_OBJECT('a')""").contains("alternating"))
    assert(bad("""JSON_OBJECT(CAST(NULL AS STRING), 1)""").contains("NULL"))
    assert(bad("""PARSE_JSON('1', wide_number_mode => 'round')""").contains("wide_number_mode"))
  }

  test("JSON_SET / JSON_REMOVE / JSON_ARRAY_APPEND / JSON_STRIP_NULLS: the mutator family") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // SET: overwrite, create (new keys land LAST), nested create,
    // array element, beyond-end padding, root replacement
    assert(one("""JSON_SET('{"a":1}', '$.a', 2)""").getString(0) == """{"a":2}""")
    assert(one("""JSON_SET('{"a":1}', '$.b', 'x')""").getString(0) == """{"a":1,"b":"x"}""")
    assert(one("""JSON_SET('{}', '$.a.b', true)""").getString(0) == """{"a":{"b":true}}""")
    assert(one("""JSON_SET('{"t":[1,2]}', '$.t[1]', 9)""").getString(0) == """{"t":[1,9]}""")
    assert(one("""JSON_SET('{"t":[1]}', '$.t[3]', 9)""").getString(0) == """{"t":[1,null,null,9]}""")
    assert(one("""JSON_SET('{"a":1}', '$', 5)""").getString(0) == "5")
    // multi-pair spelling nests
    assert(one("""JSON_SET('{}', '$.a', 1, '$.b', 2)""").getString(0) == """{"a":1,"b":2}""")
    // incompatible path step → no-op (the BigQuery rule)
    assert(one("""JSON_SET('{"a":1}', '$.a.b', 2)""").getString(0) == """{"a":1}""")
    // recursive creation types by LOOKAHEAD: a missing member whose
    // next step is an index creates an ARRAY (BigQuery's rule), with
    // beyond-zero padding; deeper mixed chains follow suit
    assert(one("""JSON_SET('{"a":1}', '$.b[0]', 9)""").getString(0) == """{"a":1,"b":[9]}""")
    assert(one("""JSON_SET('{"a":1}', '$.b[2]', 9)""").getString(0) == """{"a":1,"b":[null,null,9]}""")
    assert(one("""JSON_SET('{}', '$.x.y[1].z', 9)""").getString(0) ==
      """{"x":{"y":[null,{"z":9}]}}""")
    // intermediate array index beyond the end pads then creates
    assert(one("""JSON_SET('{"a":[1]}', '$.a[2].b', 9)""").getString(0) ==
      """{"a":[1,null,{"b":9}]}""")
    // a no-op is a TRUE no-op: the pre-existing incompatible node is
    // hit before anything is created, so no empty-container residue
    assert(one("""JSON_SET('{"a":1}', '$.a.b[0]', 9)""").getString(0) == """{"a":1}""")
    assert(one("""JSON_SET('{"a":{"b":5}}', '$.a.b[0].c', 9)""").getString(0) ==
      """{"a":{"b":5}}""")
    // REMOVE: object member, array shift, missing path no-op
    assert(one("""JSON_REMOVE('{"a":1,"b":2}', '$.a')""").getString(0) == """{"b":2}""")
    assert(one("""JSON_REMOVE('{"t":[1,2,3]}', '$.t[0]')""").getString(0) == """{"t":[2,3]}""")
    assert(one("""JSON_REMOVE('{"a":1}', '$.zz')""").getString(0) == """{"a":1}""")
    // ARRAY_APPEND: root array, nested path, non-array no-op
    assert(one("""JSON_ARRAY_APPEND('[1]', '$', 2)""").getString(0) == "[1,2]")
    assert(one("""JSON_ARRAY_APPEND('{"t":["a"]}', '$.t', 'b')""").getString(0) == """{"t":["a","b"]}""")
    assert(one("""JSON_ARRAY_APPEND('{"t":1}', '$.t', 2)""").getString(0) == """{"t":1}""")
    // STRIP_NULLS: objects recursively AND array elements (BigQuery
    // include_arrays default), empties stay
    assert(one("""JSON_STRIP_NULLS('{"a":null,"b":{"c":null,"d":1},"e":[null,2]}')""")
      .getString(0) == """{"b":{"d":1},"e":[2]}""")
    assert(one("""JSON_STRIP_NULLS('{"a":null}')""").getString(0) == "{}")
    // INSERT: create-only — existing values untouched
    assert(one("""JSON_INSERT('{"a":1}', '$.a', 2)""").getString(0) == """{"a":1}""")
    assert(one("""JSON_INSERT('{"a":1}', '$.b', 2)""").getString(0) == """{"a":1,"b":2}""")
    assert(one("""JSON_INSERT('{}', '$.a.b', 1)""").getString(0) == """{"a":{"b":1}}""")
    assert(one("""JSON_INSERT('{"t":[1]}', '$.t[0]', 9)""").getString(0) == """{"t":[1]}""")
    assert(one("""JSON_INSERT('{"t":[1]}', '$.t[2]', 9)""").getString(0) == """{"t":[1,null,9]}""")
    // REPLACE: overwrite-only — missing paths untouched, nothing created
    assert(one("""JSON_REPLACE('{"a":1}', '$.a', 2)""").getString(0) == """{"a":2}""")
    assert(one("""JSON_REPLACE('{"a":1}', '$.b', 2)""").getString(0) == """{"a":1}""")
    assert(one("""JSON_REPLACE('{}', '$.a.b', 1)""").getString(0) == "{}")
    assert(one("""JSON_REPLACE('{"t":[1]}', '$.t[4]', 9)""").getString(0) == """{"t":[1]}""")
    // ARRAY_INSERT: shifting, pads beyond end, non-array no-op
    assert(one("""JSON_ARRAY_INSERT('{"t":[1,2]}', '$.t[1]', 9)""").getString(0) ==
      """{"t":[1,9,2]}""")
    assert(one("""JSON_ARRAY_INSERT('[1]', '$[3]', 9)""").getString(0) == "[1,null,null,9]")
    assert(one("""JSON_ARRAY_INSERT('{"t":1}', '$.t[0]', 9)""").getString(0) == """{"t":1}""")
    // TYPE: the six names; invalid → NULL
    assert(one("""JSON_TYPE('{"a":1}')""").getString(0) == "object")
    assert(one("""JSON_TYPE('[1]')""").getString(0) == "array")
    assert(one("""JSON_TYPE('"x"')""").getString(0) == "string")
    assert(one("""JSON_TYPE('1.5')""").getString(0) == "number")
    assert(one("""JSON_TYPE('true')""").getString(0) == "boolean")
    assert(one("""JSON_TYPE('null')""").getString(0) == "null")
    assert(one("""JSON_TYPE('nope{')""").isNullAt(0))
    // invalid / NULL json → NULL
    assert(one("""JSON_SET('nope{', '$.a', 1)""").isNullAt(0))
    assert(one("""JSON_STRIP_NULLS(CAST(NULL AS STRING))""").isNullAt(0))
    // louds: named args, root remove, bad path
    def bad(sql: String): String =
      intercept[Exception] { GraftSql.load(spark, s"SELECT $sql AS v").collect() }.getMessage
    assert(bad("""JSON_STRIP_NULLS('{}', include_arrays => false)""").contains("not supported"))
    assert(bad("""JSON_REMOVE('{"a":1}', '$')""").contains("root"))
    assert(bad("""JSON_SET('{}', '$.a', 1, '$.b')""").contains("pairs") ||
      bad("""JSON_SET('{}', '$.a', 1, '$.b')""").contains("takes"))
    assert(bad("""JSON_ARRAY_INSERT('[1]', '$.t', 9)""").contains("array index"))
  }

  test("CREATE MODEL logistic_reg: train / ML.PREDICT / ML.EVALUATE / DROP lifecycle") {
    import spark.implicits._
    def bad(sql: String): String =
      intercept[Exception] { GraftSql.load(spark, sql).collect() }.getMessage
    // a separable two-class corpus the perceptron must fully learn
    val rows = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, s"good great fine item$i", "pos")
      else (i.toLong, s"bad awful poor item$i", "neg")
    }
    rows.toDF("id", "text", "label").createOrReplaceTempView("lg_t")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL lg_m OPTIONS(model_type = 'logistic_reg', " +
        "input_label_cols = ['label'], max_iterations = 3) AS SELECT id, text, label FROM lg_t")
    val pred = GraftSql.load(spark,
      """SELECT id, label, predicted_label, predicted_label_raw, predicted_probs
        |FROM ML.PREDICT(MODEL lg_m, TABLE lg_t) ORDER BY id""".stripMargin).collect()
    assert(pred.length == 40)
    val acc = pred.count(r => r.getString(1) == r.getString(2))
    assert(acc == 40, s"separable corpus must be fully learned, got $acc/40")
    // the probs array carries both classes; the winner's sigmoid is the larger
    val probs = pred.head.getSeq[org.apache.spark.sql.Row](4)
    assert(probs.map(_.getString(0)).sorted == Seq("neg", "pos"))
    // ML.EVALUATE: perfect confusion → all four metrics 1.0; the
    // default (no input) evaluates on the training query
    val ev = GraftSql.load(spark, "SELECT * FROM ML.EVALUATE(MODEL lg_m)").collect().head
    assert(Seq("precision", "recall", "accuracy", "f1_score").forall(
      GraftSql.load(spark, "SELECT * FROM ML.EVALUATE(MODEL lg_m)").columns.contains))
    assert((0 to 3).forall(i => ev.getDouble(i) == 1.0), ev.toString)
    val ev2 = GraftSql.load(spark,
      "SELECT * FROM ML.EVALUATE(MODEL lg_m, TABLE lg_t)").collect().head
    assert(ev2 == ev)
    // louds: unknown option, bad label list, wrong AS shape, one class
    assert(bad("CREATE OR REPLACE MODEL lg_x OPTIONS(model_type = 'logistic_reg', " +
      "l1_reg = 0.1) AS SELECT id, text, label FROM lg_t").contains("l1_reg"))
    // a multi-column label list is loud twice over: the OPTIONS comma
    // split rejects the bracket fragment before the shape check could
    val multi = bad("CREATE OR REPLACE MODEL lg_x OPTIONS(model_type = 'logistic_reg', " +
      "input_label_cols = ['a','b']) AS SELECT id, text, label FROM lg_t")
    assert(multi.contains("one_column") || multi.contains("key=value"))
    assert(bad("CREATE OR REPLACE MODEL lg_x OPTIONS(model_type = 'logistic_reg', " +
      "input_label_cols = 'label') AS SELECT id, text, label FROM lg_t")
      .contains("one_column"))
    assert(bad("CREATE OR REPLACE MODEL lg_x OPTIONS(model_type = 'logistic_reg') " +
      "AS SELECT id, text FROM lg_t").contains("(id, text, label)"))
    assert(bad("CREATE OR REPLACE MODEL lg_x OPTIONS(model_type = 'logistic_reg', " +
      "input_label_cols = ['label']) AS SELECT id, text, 'one' AS label FROM lg_t")
      .contains("2..64"))
    // ML.WEIGHTS: the nonzero hashed weight table, one head per class
    val w = GraftSql.load(spark,
      "SELECT * FROM ML.WEIGHTS(MODEL lg_m) ORDER BY class_label, bucket").collect()
    assert(w.nonEmpty && w.forall(r => r.getLong(2) != 0L))
    assert(w.map(_.getString(0)).distinct.sorted.toSeq == Seq("neg", "pos"))
    assert(w.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 4096))
    assert(bad("SELECT * FROM ML.CENTROIDS(MODEL lg_m)").contains("ML.WEIGHTS"))
    // DROP MODEL removes the logistic entry too
    GraftSql.load(spark, "DROP MODEL lg_m")
    assert(bad("SELECT * FROM ML.PREDICT(MODEL lg_m, TABLE lg_t)").contains("CREATE MODEL"))
    // non-string labels: INT64 labels train (as their string forms) and
    // ML.EVALUATE casts the input label the same way — no ClassCast
    rows.map { case (id, t, l) => (id, t, if (l == "pos") 1L else 0L) }
      .toDF("id", "text", "label").createOrReplaceTempView("lg_int")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL lg_mi OPTIONS(model_type = 'logistic_reg', " +
        "max_iterations = 3) AS SELECT id, text, label FROM lg_int")
    val evi = GraftSql.load(spark, "SELECT * FROM ML.EVALUATE(MODEL lg_mi)").collect().head
    assert((0 to 3).forall(i => evi.getDouble(i) == 1.0), evi.toString)
    val predi = GraftSql.load(spark,
      "SELECT predicted_label FROM ML.PREDICT(MODEL lg_mi, TABLE lg_int)").collect()
    assert(predi.map(_.getString(0)).toSet == Set("0", "1"))
    GraftSql.load(spark, "DROP MODEL lg_mi")
    // a mis-ordered select list (text in the id slot, id in the text
    // slot) is LOUD, not a silent train-on-ids
    assert(bad("CREATE OR REPLACE MODEL lg_x OPTIONS(model_type = 'logistic_reg') " +
      "AS SELECT text, id, label FROM lg_t").contains("must be STRING"))
  }

  test("CREATE MODEL TRANSFORM: preprocessing re-applies at train, predict and evaluate") {
    import spark.implicits._
    def bad(sql: String): String =
      intercept[Exception] { GraftSql.load(spark, sql).collect() }.getMessage
    // raw (title, body) columns — the TRANSFORM derives the text
    val rows = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "GOOD", s"Great Fine item$i", "pos")
      else (i.toLong, "BAD", s"Awful Poor item$i", "neg")
    }
    rows.toDF("id", "title", "body", "label").createOrReplaceTempView("lgt_t")
    GraftSql.load(spark,
      """CREATE OR REPLACE MODEL lgt_m
        |TRANSFORM(id, LOWER(CONCAT(title, ' ', body)) AS text, label)
        |OPTIONS(model_type = 'logistic_reg', input_label_cols = ['label'],
        |        max_iterations = 3)
        |AS SELECT id, title, body, label FROM lgt_t""".stripMargin)
    // predict on the RAW table: the transform re-applies internally,
    // the caller sees their own columns + predicted_* (passthrough)
    val p = GraftSql.load(spark,
      "SELECT * FROM ML.PREDICT(MODEL lgt_m, TABLE lgt_t) ORDER BY id")
    assert(p.columns.toSet ==
      Set("id", "title", "body", "label", "predicted_label", "predicted_label_raw",
        "predicted_probs"))
    val rowsOut = p.collect()
    assert(rowsOut.length == 40)
    assert(rowsOut.forall(r =>
      r.getString(r.fieldIndex("label")) == r.getString(r.fieldIndex("predicted_label"))))
    // evaluate (default input = the training query, re-transformed)
    val ev = GraftSql.load(spark, "SELECT * FROM ML.EVALUATE(MODEL lgt_m)").collect().head
    assert((0 to 3).forall(i => ev.getDouble(i) == 1.0), ev.toString)
    // louds: TRANSFORM on kmeans; transform not emitting the contract
    assert(bad("CREATE OR REPLACE MODEL lgt_k TRANSFORM(id, v) " +
      "OPTIONS(model_type = 'kmeans', num_clusters = 2) AS SELECT 1 AS id")
      .contains("logistic_reg"))
    assert(bad("CREATE OR REPLACE MODEL lgt_b TRANSFORM(id, title, body, label) " +
      "OPTIONS(model_type = 'logistic_reg', input_label_cols = ['label']) " +
      "AS SELECT id, title, body, label FROM lgt_t").contains("(id, text, label)"))
  }

  test("CREATE MODEL linear_reg: closed-form OLS train / ML.PREDICT / ML.EVALUATE / ML.WEIGHTS / DROP") {
    import spark.implicits._
    def bad(sql: String): String =
      intercept[Exception] { GraftSql.load(spark, sql).collect() }.getMessage
    // exactly-linear integer data: y = 3 + 2x — the closed form
    // recovers the coefficients EXACTLY (all sums exact, the final
    // divisions exact), so predictions and metrics are bit-pinnable
    (0 until 20).map(i => (i.toLong, 3L + 2L * i)).toDF("x", "label")
      .createOrReplaceTempView("lin_t")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL lin_m OPTIONS(model_type = 'linear_reg') " +
        "AS SELECT x, label FROM lin_t")
    val pred = GraftSql.load(spark,
      "SELECT x, label, predicted_label FROM ML.PREDICT(MODEL lin_m, TABLE lin_t) ORDER BY x")
      .collect()
    assert(pred.length == 20)
    assert(pred.forall(r => r.getDouble(2) == r.getLong(1).toDouble),
      "exact linear data must predict exactly")
    // ML.EVALUATE: zero residuals → mse exactly 0.0, r2 exactly 1.0
    // (the algebraic fold is exact integer arithmetic here); default
    // input = the training query
    val ev = GraftSql.load(spark, "SELECT * FROM ML.EVALUATE(MODEL lin_m)").collect().head
    assert(ev.getDouble(ev.fieldIndex("mean_squared_error")) == 0.0, ev.toString)
    assert(ev.getDouble(ev.fieldIndex("r2_score")) == 1.0, ev.toString)
    val ev2 = GraftSql.load(spark,
      "SELECT * FROM ML.EVALUATE(MODEL lin_m, TABLE lin_t)").collect().head
    assert(ev2 == ev)
    // ML.WEIGHTS: named inputs, '__INTERCEPT__' for the bias
    val w = GraftSql.load(spark, "SELECT * FROM ML.WEIGHTS(MODEL lin_m)").collect()
    assert(w.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("__INTERCEPT__", 3.0), ("x", 2.0)))
    assert(bad("SELECT * FROM ML.CENTROIDS(MODEL lin_m)").contains("ML.WEIGHTS"))
    // multi-feature (Gaussian elimination path): y = 1 + 2a + 3b
    (0 until 30).map(i => (i.toLong, ((i * 7) % 11).toLong, 1L + 2L * i + 3L * ((i * 7) % 11)))
      .toDF("a", "b", "label").createOrReplaceTempView("lin2_t")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL lin2_m OPTIONS(model_type = 'linear_reg', " +
        "optimize_strategy = 'NORMAL_EQUATION') AS SELECT a, b, label FROM lin2_t")
    val w2 = GraftSql.load(spark, "SELECT * FROM ML.WEIGHTS(MODEL lin2_m)").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(w2("__INTERCEPT__") - 1.0) < 1e-9 &&
      math.abs(w2("a") - 2.0) < 1e-9 && math.abs(w2("b") - 3.0) < 1e-9, w2.toString)
    // decimal features keep their scale exactly
    (0 until 20).map(i => (BigDecimal(i) / 4, BigDecimal(3) + BigDecimal(i) / 2))
      .toDF("x", "label").createOrReplaceTempView("lind_t")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL lind_m OPTIONS(model_type = 'linear_reg') " +
        "AS SELECT CAST(x AS DECIMAL(9,2)) AS x, CAST(label AS DECIMAL(9,2)) AS label " +
        "FROM lind_t")
    val wd = GraftSql.load(spark, "SELECT * FROM ML.WEIGHTS(MODEL lind_m)").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(wd("__INTERCEPT__") == 3.0 && wd("x") == 2.0, wd.toString)
    // TRANSFORM: (id, features..., label), predictions join back on id
    (0 until 20).map(i => (i.toLong, i.toDouble, 3L + 2L * i))
      .toDF("id", "xr", "label").createOrReplaceTempView("lint_t")
    GraftSql.load(spark,
      """CREATE OR REPLACE MODEL lint_m
        |TRANSFORM(id, CAST(xr AS DECIMAL(9,0)) AS x, label)
        |OPTIONS(model_type = 'linear_reg')
        |AS SELECT id, xr, label FROM lint_t""".stripMargin)
    val pt = GraftSql.load(spark,
      "SELECT * FROM ML.PREDICT(MODEL lint_m, TABLE lint_t) ORDER BY id")
    assert(pt.columns.toSet == Set("id", "xr", "label", "predicted_label"))
    assert(pt.collect().forall(r =>
      r.getDouble(r.fieldIndex("predicted_label")) == r.getLong(r.fieldIndex("label")).toDouble))
    val evt = GraftSql.load(spark, "SELECT * FROM ML.EVALUATE(MODEL lint_m)").collect().head
    assert(evt.getDouble(1) == 1.0, evt.toString)
    // louds: double feature (no true decimal width), unknown/GD
    // options, max_iterations (no iteration exists), missing label,
    // NULL labels, missing predict column
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg') " +
      "AS SELECT xr, label FROM lint_t").contains("integral or DECIMAL"))
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg', " +
      "l2_reg = 0.1) AS SELECT x, label FROM lin_t").contains("l2_reg"))
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg', " +
      "optimize_strategy = 'batch_gradient_descent') AS SELECT x, label FROM lin_t")
      .contains("closed form"))
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg', " +
      "max_iterations = 5) AS SELECT x, label FROM lin_t").contains("max_iterations"))
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg') " +
      "AS SELECT x AS a, label AS b FROM lin_t").contains("label"))
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg') " +
      "AS SELECT x, IF(x = 3, CAST(NULL AS BIGINT), label) AS label FROM lin_t")
      .contains("NULL"))
    assert(bad("SELECT * FROM ML.PREDICT(MODEL lin_m, (SELECT 1 AS z))")
      .contains("feature column"))
    // constant feature: singular normal equations are loud
    assert(bad("CREATE OR REPLACE MODEL lin_x OPTIONS(model_type = 'linear_reg') " +
      "AS SELECT CAST(7 AS BIGINT) AS x, label FROM lin_t").contains("degenerate"))
    // DROP MODEL removes the linear entry
    GraftSql.load(spark, "DROP MODEL lin_m")
    assert(bad("SELECT * FROM ML.PREDICT(MODEL lin_m, TABLE lin_t)").contains("CREATE MODEL"))
    GraftSql.load(spark, "DROP MODEL lin2_m")
    GraftSql.load(spark, "DROP MODEL lind_m")
    GraftSql.load(spark, "DROP MODEL lint_m")
  }

  test("GAP_FILL TVF: day-bucket densify with locf/null methods, louds for the rest") {
    import spark.implicits._
    Seq(("x", "2024-03-01", 1.0), ("x", "2024-03-04", 4.0), ("y", "2024-03-02", 2.0))
      .toDF("k", "d", "v").select($"k", F.to_date($"d").as("d"), $"v")
      .createOrReplaceTempView("gap_t")
    val r = GraftSql.load(spark,
      """SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd',
        |  bucket_width => INTERVAL 1 DAY,
        |  partitioning_columns => ['k'],
        |  value_columns => [('v', 'locf')])
        |ORDER BY k, d""".stripMargin).collect()
    // span 03-01..03-04 × 2 keys = 8 rows; x carries 1.0 through 03-03,
    // y is null before its first observation then carries 2.0
    assert(r.length == 8)
    val x = r.filter(_.getString(0) == "x").map(_.getDouble(2)).toSeq
    assert(x == Seq(1.0, 1.0, 1.0, 4.0))
    val y = r.filter(_.getString(0) == "y")
    assert(y.head.isNullAt(2) && y(1).getDouble(2) == 2.0 && y(3).getDouble(2) == 2.0)
    // 'null' method densifies without filling
    val nl = GraftSql.load(spark,
      """SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd',
        |  bucket_width => INTERVAL 1 DAY, partitioning_columns => ['k'],
        |  value_columns => [('v', 'null')]) ORDER BY k, d""".stripMargin).collect()
    assert(nl.count(_.isNullAt(2)) == 5)
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    // hour buckets graduated to the timestamp grid late in round 13;
    // month-family and multi-day widths stay loud
    assert(bad("SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd', " +
      "bucket_width => INTERVAL 1 MONTH)").contains("MONTH"))
    assert(bad("SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd', " +
      "bucket_width => INTERVAL 3 DAY)").contains("INTERVAL 1 DAY"))
    // 'linear' (round 13) interpolates between bracketing observations;
    // unbracketed leading/trailing gaps stay null
    val ln = GraftSql.load(spark,
      """SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd',
        |  bucket_width => INTERVAL 1 DAY, partitioning_columns => ['k'],
        |  value_columns => [('v', 'linear')]) ORDER BY k, d""".stripMargin).collect()
    val lx = ln.filter(_.getString(0) == "x").map(_.getDouble(2)).toSeq
    assert(lx == Seq(1.0, 2.0, 3.0, 4.0))
    val ly = ln.filter(_.getString(0) == "y")
    assert(ly.head.isNullAt(2) && ly(1).getDouble(2) == 2.0 && ly(3).isNullAt(2))
    assert(bad("SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd', " +
      "bucket_width => INTERVAL 1 DAY, value_columns => [('v', 'spline')])")
      .contains("spline"))
    assert(bad("SELECT * FROM GAP_FILL(TABLE gap_t, ts_column => 'd', " +
      "bucket_width => INTERVAL 1 DAY, origin => 1)").contains("origin"))
  }

  test("LAX_INT64/FLOAT64/BOOL/STRING: the pinned lax JSON scalar coercion table") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // INT64: exact integral, double-rounding half away, bools, junk
    assert(one("LAX_INT64('123')").getLong(0) == 123L)
    assert(one("LAX_INT64('\"45\"')").getLong(0) == 45L)     // quoted unwraps
    assert(one("LAX_INT64('1.5')").getLong(0) == 2L)
    assert(one("LAX_INT64('-1.5')").getLong(0) == -2L)       // away from zero
    assert(one("LAX_INT64('1e2')").getLong(0) == 100L)
    assert(one("LAX_INT64('9223372036854775807')").getLong(0) == Long.MaxValue) // no double detour
    assert(one("LAX_INT64('true')").getLong(0) == 1L)
    assert(one("LAX_INT64('abc')").isNullAt(0))
    assert(one("LAX_INT64('{\"a\":1}')").isNullAt(0))        // object
    assert(one("LAX_INT64('null')").isNullAt(0))             // JSON null
    assert(one("LAX_INT64('1e30')").isNullAt(0))             // beyond INT64: NULL, not ANSI overflow
    assert(one("LAX_INT64('-1e30')").isNullAt(0))
    // FLOAT64: numerics only, bools NULL
    assert(one("LAX_FLOAT64('1.25')").getDouble(0) == 1.25)
    assert(one("LAX_FLOAT64('\"2.5\"')").getDouble(0) == 2.5)
    assert(one("LAX_FLOAT64('true')").isNullAt(0))
    // BOOL: word forms + numeric truthiness
    assert(one("LAX_BOOL('true')").getBoolean(0))
    assert(one("LAX_BOOL('\"FALSE\"')").getBoolean(0) == false)
    assert(one("LAX_BOOL('10')").getBoolean(0))
    assert(one("LAX_BOOL('0')").getBoolean(0) == false)
    assert(one("LAX_BOOL('[1]')").isNullAt(0))               // array
    // STRING: unwrap quoted, keep scalar text
    assert(one("LAX_STRING('\"hi\"')").getString(0) == "hi")
    assert(one("LAX_STRING('123')").getString(0) == "123")
    assert(one("LAX_STRING('true')").getString(0) == "true")
    assert(one("LAX_STRING('null')").isNullAt(0))
    // composes with the JSON extractors (the migration idiom)
    import spark.implicits._
    Seq(("""{"k": "7", "f": 2.5}""")).toDF("j").createOrReplaceTempView("lax_t")
    val r = GraftSql.load(spark,
      "SELECT LAX_INT64(get_json_object(j, '$.k')) AS k, " +
        "LAX_FLOAT64(get_json_object(j, '$.f')) AS f FROM lax_t").head()
    assert(r.getLong(0) == 7L && r.getDouble(1) == 2.5)
  }

  test("JSON_VALUE/JSON_QUERY/JSON_EXTRACT[_SCALAR]: variant-backed scalar path accessors") {
    import spark.implicits._
    Seq("""{"s":"x","n":12,"f":1.5,"b":true,"o":{"c":1},"arr":[1,2],"z":null,"tricky":"{not json"}""")
      .toDF("j").createOrReplaceTempView("jv_t")
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v FROM jv_t").collect().head
    // JSON_QUERY/JSON_EXTRACT: JSON text — strings quoted, objects verbatim
    assert(one("JSON_QUERY(j, '$.s')").getString(0) == "\"x\"")
    assert(one("JSON_EXTRACT(j, '$.n')").getString(0) == "12")
    assert(one("JSON_QUERY(j, '$.o')").getString(0) == """{"c":1}""")
    assert(one("JSON_QUERY(j, '$.arr')").getString(0) == "[1,2]")
    assert(one("JSON_QUERY(j, '$.z')").getString(0) == "null") // JSON null is the TEXT null
    assert(one("JSON_QUERY(j, '$.missing')").isNullAt(0))
    // JSON_VALUE/JSON_EXTRACT_SCALAR: unquoted scalars; non-scalars NULL
    assert(one("JSON_VALUE(j, '$.s')").getString(0) == "x")
    assert(one("JSON_EXTRACT_SCALAR(j, '$.n')").getString(0) == "12")
    assert(one("JSON_VALUE(j, '$.f')").getString(0) == "1.5")
    assert(one("JSON_VALUE(j, '$.b')").getString(0) == "true")
    assert(one("JSON_VALUE(j, '$.o')").isNullAt(0))
    assert(one("JSON_VALUE(j, '$.arr')").isNullAt(0))
    assert(one("JSON_VALUE(j, '$.z')").isNullAt(0))
    // a STRING that merely starts with '{' is still a scalar
    assert(one("JSON_VALUE(j, '$.tricky')").getString(0) == "{not json")
    // invalid JSON document → NULL, not an error
    assert(one("JSON_VALUE('oops', '$.a')").isNullAt(0))
    assert(one("JSON_QUERY('oops', '$.a')").isNullAt(0))
    // default path is the root
    assert(one("JSON_VALUE('\"plain\"')").getString(0) == "plain")
    // composes with LAX_*: the full migration idiom
    assert(one("LAX_INT64(JSON_QUERY(j, '$.f'))").getLong(0) == 2L)
  }

  test("ML.MIN_MAX_SCALER / ML.STANDARD_SCALER: analytic preprocessing over windows") {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0), (4L, "b", 5.0))
      .toDF("id", "g", "v").createOrReplaceTempView("sc_t")
    val mm = GraftSql.load(spark,
      """SELECT id, ML.MIN_MAX_SCALER(v) OVER (PARTITION BY g) AS s
        |FROM sc_t ORDER BY id""".stripMargin).collect().map(_.getDouble(1)).toSeq
    assert(mm == Seq(0.0, 0.5, 1.0, 0.5)) // group b degenerates to the midpoint
    val st = GraftSql.load(spark,
      """SELECT id, ML.STANDARD_SCALER(v) OVER (PARTITION BY g) AS s
        |FROM sc_t ORDER BY id""".stripMargin).collect()
    // group a: mean 20, sample stddev 10 → -1, 0, 1
    assert(math.abs(st(0).getDouble(1) + 1.0) < 1e-12)
    assert(math.abs(st(1).getDouble(1)) < 1e-12)
    assert(math.abs(st(2).getDouble(1) - 1.0) < 1e-12)
    // single-row window: sample stddev undefined → NULL
    assert(st(3).isNullAt(1))
    // named windows + the empty global window both duplicate cleanly
    val named = GraftSql.load(spark,
      """SELECT id, ML.MIN_MAX_SCALER(v) OVER w AS s FROM sc_t
        |WINDOW w AS (PARTITION BY g) ORDER BY id""".stripMargin)
      .collect().map(_.getDouble(1)).toSeq
    assert(named == mm)
    val global = GraftSql.load(spark,
      "SELECT ML.MIN_MAX_SCALER(id) OVER () AS s FROM sc_t ORDER BY id")
      .collect().map(_.getDouble(0)).toSeq
    assert(global == Seq(0.0, 1.0 / 3, 2.0 / 3, 1.0))
    // the OVER-less TRANSFORM spelling is loud
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT ML.MIN_MAX_SCALER(v) AS s FROM sc_t")
    }.getMessage.contains("analytic form"))
  }

  test("ML.ROBUST_SCALER / ML.MAX_ABS_SCALER: the outlier-robust and [-1,1] scalers") {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 1000.0))
      .toDF("id", "v").createOrReplaceTempView("rs_t")
    val r = GraftSql.load(spark,
      "SELECT id, ML.ROBUST_SCALER(v) OVER () AS s FROM rs_t ORDER BY id").collect()
    // median 30, p25 = 20, p75 = 40 (exact percentile, n=5) → IQR 20
    assert(r.map(_.getDouble(1)).toSeq == Seq(-1.0, -0.5, 0.0, 0.5, 48.5))
    val m = GraftSql.load(spark,
      "SELECT id, ML.MAX_ABS_SCALER(v) OVER () AS s FROM rs_t ORDER BY id").collect()
    assert(m.map(_.getDouble(1)).toSeq == Seq(0.01, 0.02, 0.03, 0.04, 1.0))
    // negative values scale into [-1, 1]; an all-zero window is NULL
    Seq((1L, -4.0), (2L, 2.0), (3L, 0.0)).toDF("id", "v")
      .createOrReplaceTempView("rs_neg")
    val n = GraftSql.load(spark,
      "SELECT id, ML.MAX_ABS_SCALER(v) OVER () AS s FROM rs_neg ORDER BY id")
      .collect().map(_.getDouble(1)).toSeq
    assert(n == Seq(-1.0, 0.5, 0.0))
    Seq((1L, 0.0)).toDF("id", "v").createOrReplaceTempView("rs_zero")
    assert(GraftSql.load(spark,
      "SELECT ML.MAX_ABS_SCALER(v) OVER () AS s FROM rs_zero").head().isNullAt(0))
    // constant group: zero IQR → NULL (never a divide-by-zero Inf)
    Seq((1L, 5.0), (2L, 5.0)).toDF("id", "v").createOrReplaceTempView("rs_const")
    assert(GraftSql.load(spark,
      "SELECT ML.ROBUST_SCALER(v) OVER () AS s FROM rs_const").head().isNullAt(0))
  }

  test("ML.BUCKETIZE / ML.QUANTILE_BUCKETIZE / ML.IMPUTER: the rest of the preprocessing pack") {
    import spark.implicits._
    Seq((1L, "a", 5.0), (2L, "a", 15.0), (3L, "a", 25.0), (4L, "a", 35.0))
      .toDF("id", "g", "v").createOrReplaceTempView("bk_t")
    // split-point bins: bin_1 below the first split, bin_{k+1} at it
    val b = GraftSql.load(spark,
      "SELECT id, ML.BUCKETIZE(v, [10, 20, 30]) AS b FROM bk_t ORDER BY id")
      .collect().map(_.getString(1)).toSeq
    assert(b == Seq("bin_1", "bin_2", "bin_3", "bin_4"))
    assert(GraftSql.load(spark,
      "SELECT ML.BUCKETIZE(CAST(NULL AS DOUBLE), [1]) AS b").head().isNullAt(0))
    // quantile bucketize = ntile ordered by the feature
    val qb = GraftSql.load(spark,
      "SELECT id, ML.QUANTILE_BUCKETIZE(v, 2) OVER (PARTITION BY g) AS b FROM bk_t ORDER BY id")
      .collect().map(_.getString(1)).toSeq
    assert(qb == Seq("bin_1", "bin_1", "bin_2", "bin_2"))
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT ML.QUANTILE_BUCKETIZE(v, 2) OVER (ORDER BY id) AS b FROM bk_t")
    }.getMessage.contains("ORDER BY"))
    // imputer: mean / median / most_frequent fill NULL holes only
    Seq((1L, Some(10.0)), (2L, None), (3L, Some(20.0)), (4L, Some(10.0)))
      .toDF("id", "v").createOrReplaceTempView("imp_t")
    val imp = GraftSql.load(spark,
      """SELECT id, ML.IMPUTER(v, 'mean') OVER () AS m,
        |       ML.IMPUTER(v, 'median') OVER () AS md,
        |       ML.IMPUTER(v, 'most_frequent') OVER () AS mf
        |FROM imp_t ORDER BY id""".stripMargin).collect()
    assert(imp(1).getDouble(1) == (10.0 + 20.0 + 10.0) / 3) // mean fills
    assert(imp(1).getDouble(2) == 10.0)                     // median fills
    assert(imp(1).getDouble(3) == 10.0)                     // mode fills
    assert(imp(0).getDouble(1) == 10.0 && imp(2).getDouble(2) == 20.0) // non-null untouched
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT ML.IMPUTER(v, 'zero') OVER () AS m FROM imp_t")
    }.getMessage.contains("strategy"))
  }

  test("ML.LABEL_ENCODER / ML.ONE_HOT_ENCODER: alphabetical vocabulary, threshold-1 regime") {
    import spark.implicits._
    Seq((1L, Some("pear")), (2L, Some("apple")), (3L, None),
        (4L, Some("banana")), (5L, Some("apple")))
      .toDF("id", "fruit").createOrReplaceTempView("enc_t")
    val le = GraftSql.load(spark,
      "SELECT id, ML.LABEL_ENCODER(fruit, 1000, 1) OVER () AS code FROM enc_t ORDER BY id")
      .collect().map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq
    // apple=1, banana=2, pear=3 alphabetically; NULL encodes 0
    assert(le == Seq(3L, 1L, 0L, 2L, 1L))
    val oh = GraftSql.load(spark,
      "SELECT id, ML.ONE_HOT_ENCODER(fruit, 'none', 1000, 1) OVER () AS oh FROM enc_t ORDER BY id")
      .collect().map { r =>
        val a = r.getSeq[org.apache.spark.sql.Row](1)
        (a.length, a.head.getLong(0), a.head.getDouble(1))
      }.toSeq
    assert(oh == Seq((1, 3L, 1.0), (1, 1L, 1.0), (1, 0L, 1.0), (1, 2L, 1.0), (1, 1L, 1.0)))
    // per-partition vocabularies via the spec
    val pp = GraftSql.load(spark,
      """SELECT id, ML.LABEL_ENCODER(fruit, 1000, 1) OVER (PARTITION BY id % 2) AS code
        |FROM enc_t ORDER BY id""".stripMargin).collect().map(_.getLong(1)).toSeq
    // odd ids {1,3,5}: apple=1, pear=2 (null row 3 -> 0);
    // even ids {2,4}: apple=1, banana=2
    assert(pp == Seq(2L, 1L, 0L, 2L, 1L))
    // louds: implicit defaults, non-1 threshold, ORDER BY, drop modes,
    // and the runtime top_k overflow raise
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT ML.LABEL_ENCODER(fruit) OVER () AS c FROM enc_t")
    }.getMessage.contains("top_k"))
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT ML.LABEL_ENCODER(fruit, 1000, 5) OVER () AS c FROM enc_t")
    }.getMessage.contains("FREQUENCY"))
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT ML.LABEL_ENCODER(fruit, 1000, 1) OVER (ORDER BY id) AS c FROM enc_t")
    }.getMessage.contains("ORDER BY"))
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      "SELECT ML.ONE_HOT_ENCODER(fruit, 'most_frequent', 1000, 1) OVER () AS c FROM enc_t")
    }.getMessage.contains("drop"))
    val overflow = intercept[Exception] { GraftSql.load(spark,
      "SELECT ML.LABEL_ENCODER(fruit, 2, 1) OVER () AS c FROM enc_t").collect() }
    assert(overflow.getMessage.contains("top_k") || overflow.getCause != null)
  }

  test("TO_CODE_POINTS family + UNICODE/ASCII/CHR/SOUNDEX/INITCAP + TEXT_ANALYZE") {
    val r = GraftSql.load(spark,
      """SELECT TO_CODE_POINTS('abc') AS cps,
        |       TO_CODE_POINTS(FROM_HEX('00ff')) AS bps,
        |       CODE_POINTS_TO_STRING([99, 97, 102, 233]) AS cafe,
        |       TO_HEX(CODE_POINTS_TO_BYTES([0, 255])) AS bhex,
        |       UNICODE('âbcd') AS u1, UNICODE('') AS u0, ASCII('abcd') AS a1,
        |       CHR(97) AS c1, CHR(0) AS c0, LENGTH(CHR(769)) AS clen,
        |       SOUNDEX('Robert') AS sx, INITCAP('hello-world foo_bar aB') AS ic,
        |       INITCAP('a.b,c', '.') AS ic2,
        |       TEXT_ANALYZE('Hello, WORLD-42!') AS ta,
        |       TEXT_ANALYZE('a b', analyzer => 'NO_OP_ANALYZER') AS tn""".stripMargin).head()
    assert(r.getSeq[Long](0) == Seq(97L, 98L, 99L))
    assert(r.getSeq[Long](1) == Seq(0L, 255L))
    assert(r.getString(2) == "café")
    assert(r.getString(3) == "00ff")
    assert(r.getLong(4) == 226L && r.getLong(5) == 0L && r.getLong(6) == 97L)
    assert(r.getString(7) == "a" && r.getString(8) == "" && r.getInt(9) == 1)
    assert(r.getString(10) == "r163")
    assert(r.getString(11) == "Hello-World Foo_Bar Ab")
    assert(r.getString(12) == "A.B,c")
    assert(r.getSeq[String](13) == Seq("hello", "world", "42"))
    assert(r.getSeq[String](14) == Seq("a b"))
    // astral characters are ONE code point, and CHR round-trips them
    val g = GraftSql.load(spark,
      "SELECT TO_CODE_POINTS(CHR(119070)) AS a, UNICODE(CHR(119070)) AS u").head()
    assert(g.getSeq[Long](0) == Seq(119070L) && g.getLong(1) == 119070L)
    // raises: non-ASCII first char, invalid code points, byte range
    for (bad <- Seq(
        "SELECT ASCII('âbc') AS x",
        "SELECT CODE_POINTS_TO_STRING([55296]) AS x",
        "SELECT CODE_POINTS_TO_STRING([1114112]) AS x",
        "SELECT CODE_POINTS_TO_BYTES([256]) AS x",
        "SELECT CHR(55296) AS x"))
      intercept[Exception](GraftSql.load(spark, bad).collect())
    // TEXT_ANALYZE louds: pattern analyzer and a stray named argument
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT TEXT_ANALYZE('x', analyzer => 'PATTERN_ANALYZER') AS t"))
      .getMessage.contains("PATTERN_ANALYZER"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT TEXT_ANALYZE('x', analyzer_options => '{}') AS t"))
      .getMessage.contains("analyzer"))
  }

  test("INFORMATION_SCHEMA.SEARCH_INDEXES / VECTOR_INDEXES / ROUTINES mirror the DDL registries") {
    graft.sources.Typed.registerAllViews(spark, sf)
    GraftSql.load(spark, "DROP SEARCH INDEX IF EXISTS meta_sidx")
    GraftSql.load(spark, "DROP VECTOR INDEX IF EXISTS meta_vidx")
    GraftSql.load(spark,
      "CREATE SEARCH INDEX meta_sidx ON documents (doc_id, text) OPTIONS(analyzer = 'NO_OP_ANALYZER')")
    GraftSql.load(spark,
      """CREATE VECTOR INDEX meta_vidx ON embeddings (embedding)
        |OPTIONS(index_type = 'IVF', distance_type = 'COSINE',
        |        ivf_options = '{"num_lists": 4}')""".stripMargin)
    GraftSql.load(spark,
      "CREATE OR REPLACE TEMP FUNCTION meta_twice(x INT64) RETURNS INT64 AS (x * 2)")
    val si = GraftSql.load(spark,
      """SELECT index_name, table_name, index_status, analyzer, id_column, text_column
        |FROM INFORMATION_SCHEMA.SEARCH_INDEXES WHERE index_name = 'meta_sidx'""".stripMargin).head()
    assert(si.getString(1) == "documents" && si.getString(2) == "ACTIVE" &&
      si.getString(3) == "NO_OP_ANALYZER" && si.getString(4) == "doc_id" &&
      si.getString(5) == "text")
    val vi = GraftSql.load(spark,
      """SELECT table_name, column_name, index_type, distance_type, num_lists, index_status
        |FROM INFORMATION_SCHEMA.VECTOR_INDEXES WHERE index_name = 'meta_vidx'""".stripMargin).head()
    assert(vi.getString(0) == "embeddings" && vi.getString(1) == "embedding" &&
      vi.getString(2) == "IVF" && vi.getString(3) == "COSINE" &&
      vi.getLong(4) == 4L && vi.getString(5) == "ACTIVE")
    val ro = GraftSql.load(spark,
      """SELECT routine_type, data_type, routine_body, routine_definition
        |FROM INFORMATION_SCHEMA.ROUTINES WHERE routine_name = 'meta_twice'""".stripMargin).head()
    assert(ro.getString(0) == "FUNCTION" && ro.getString(1) == "BIGINT" &&
      ro.getString(2) == "SQL" && ro.getString(3) == "(x * 2)")
    // drops unregister from the views
    GraftSql.load(spark, "DROP SEARCH INDEX meta_sidx")
    GraftSql.load(spark, "DROP VECTOR INDEX meta_vidx")
    GraftSql.load(spark, "DROP FUNCTION meta_twice")
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.SEARCH_INDEXES WHERE index_name = 'meta_sidx'").count() == 0)
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.VECTOR_INDEXES WHERE index_name = 'meta_vidx'").count() == 0)
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.ROUTINES WHERE routine_name = 'meta_twice'").count() == 0)
    // unknown views stay loud
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.JOBS")).getMessage.contains("SEARCH_INDEXES"))
  }

  test("INTERVAL: range literals, MAKE_INTERVAL, JUSTIFY trio, canonical text, arithmetic") {
    def one(q: String) = GraftSql.load(spark, q).head()
    // the range literal parses at rewrite time; graft_interval_text is
    // BigQuery's canonical CAST(i AS STRING) byte layout
    assert(one("SELECT graft_interval_text(INTERVAL '1-2 3 4:5:6.5' YEAR TO SECOND) AS t")
      .getString(0) == "1-2 3 4:5:6.5")
    assert(one("SELECT graft_interval_text(INTERVAL '10:20:30' HOUR TO SECOND) AS t")
      .getString(0) == "0-0 0 10:20:30")
    assert(one("SELECT graft_interval_text(INTERVAL '-1-2 -3 -4:5:6' YEAR TO SECOND) AS t")
      .getString(0) == "-1-2 -3 -4:5:6")
    assert(one("SELECT graft_interval_text(INTERVAL '2 12' DAY TO HOUR) AS t")
      .getString(0) == "0-0 2 12:0:0")
    // MAKE_INTERVAL: positional, named, and Spark's own 7-arg untouched
    assert(one("SELECT graft_interval_text(MAKE_INTERVAL(1, 2, 3, 4, 5, 6)) AS t")
      .getString(0) == "1-2 3 4:5:6")
    assert(one("SELECT graft_interval_text(MAKE_INTERVAL(day => 3, year => 1)) AS t")
      .getString(0) == "1-0 3 0:0:0")
    assert(one("SELECT graft_interval_text(make_interval(1, 2, 0, 3, 4, 5, 6)) AS t")
      .getString(0) == "1-2 3 4:5:6")
    // EXTRACT and timestamp arithmetic are Spark-native on the carrier
    val ex = one(
      """SELECT EXTRACT(YEAR FROM MAKE_INTERVAL(1, 14)) AS y,
        |       EXTRACT(MONTH FROM MAKE_INTERVAL(1, 14)) AS m,
        |       TIMESTAMP '2024-01-31 00:00:00' + MAKE_INTERVAL(0, 1) AS ts,
        |       graft_interval_text(MAKE_INTERVAL(0, 1, 1) + MAKE_INTERVAL(0, 1, 2)) AS s2""".stripMargin)
    assert(ex.getAs[Number](0).longValue == 2L && ex.getAs[Number](1).longValue == 2L)
    assert(ex.getTimestamp(2).toString.startsWith("2024-02-29"))
    assert(ex.getString(3) == "0-2 3 0:0:0")
    // JUSTIFY: 30-day and 24-hour rolls, truncation toward zero on negatives
    assert(one("SELECT graft_interval_text(JUSTIFY_DAYS(INTERVAL '0-0 65 0:0:0' YEAR TO SECOND)) AS t")
      .getString(0) == "0-2 5 0:0:0")
    assert(one("SELECT graft_interval_text(JUSTIFY_HOURS(INTERVAL '50:0:0' HOUR TO SECOND)) AS t")
      .getString(0) == "0-0 2 2:0:0")
    assert(one("SELECT graft_interval_text(JUSTIFY_INTERVAL(INTERVAL '0-0 35 49:30:0' YEAR TO SECOND)) AS t")
      .getString(0) == "0-1 7 1:30:0")
    assert(one("SELECT graft_interval_text(JUSTIFY_DAYS(INTERVAL '0-0 -65 0:0:0' YEAR TO SECOND)) AS t")
      .getString(0) == "-0-2 -5 0:0:0")
    // JUSTIFY_INTERVAL's mixed-sign borrow (Postgres interval_justify):
    // '1 month -1 hour' normalizes down to 29 days 23:00:00, and the
    // mirrored input to its negation; JUSTIFY_HOURS alone must NOT borrow
    assert(one("SELECT graft_interval_text(JUSTIFY_INTERVAL(MAKE_INTERVAL(0, 1, 0, -1))) AS t")
      .getString(0) == "0-0 29 23:0:0")
    assert(one("SELECT graft_interval_text(JUSTIFY_INTERVAL(MAKE_INTERVAL(0, -1, 0, 1))) AS t")
      .getString(0) == "0-0 -29 -23:0:0")
    assert(one("SELECT graft_interval_text(JUSTIFY_HOURS(MAKE_INTERVAL(0, 1, 0, -1))) AS t")
      .getString(0) == "0-1 0 -1:0:0")
    // louds: mixed args, unknown part, malformed payloads
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT MAKE_INTERVAL(1, day => 2) AS i")).getMessage.contains("mix"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT MAKE_INTERVAL(week => 2) AS i")).getMessage.contains("unknown part"))
    intercept[Exception](GraftSql.load(spark,
      "SELECT INTERVAL '1-2' YEAR TO SECOND AS i"))
    intercept[Exception](GraftSql.load(spark,
      "SELECT INTERVAL '1:2:3:4' HOUR TO SECOND AS i"))
  }

  test("ML.TRANSFORM replays the stored TRANSFORM; no-TRANSFORM models pass through") {
    import spark.implicits._
    Seq((1L, 2L, 10L, 100L), (2L, 1L, 20L, 210L), (3L, 3L, 30L, 290L), (4L, 1L, 40L, 410L))
      .toDF("k", "ln", "qty", "label").createOrReplaceTempView("mt_src")
    GraftSql.load(spark,
      """CREATE OR REPLACE MODEL mt_model
        |TRANSFORM(k * 10 + ln AS rid, qty + ln AS qsum, label)
        |OPTIONS(model_type = 'linear_reg')
        |AS SELECT k, ln, qty, label FROM mt_src""".stripMargin)
    val out = GraftSql.load(spark,
      "SELECT rid, qsum, label FROM ML.TRANSFORM(MODEL mt_model, TABLE mt_src) ORDER BY rid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((12L, 12L, 100L), (21L, 21L, 210L), (33L, 33L, 290L), (41L, 41L, 410L)))
    // a subquery input works; a no-TRANSFORM model is the identity
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM ML.TRANSFORM(MODEL mt_model, (SELECT * FROM mt_src WHERE k > 1))")
      .head().getLong(0) == 3L)
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL mt_plain OPTIONS(model_type = 'linear_reg') " +
        "AS SELECT qty, label FROM mt_src")
    val plain = GraftSql.load(spark,
      "SELECT * FROM ML.TRANSFORM(MODEL mt_plain, TABLE mt_src)")
    assert(plain.columns.toSeq == Seq("k", "ln", "qty", "label") && plain.count() == 4L)
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT * FROM ML.TRANSFORM(MODEL nope_model, TABLE mt_src)"))
      .getMessage.contains("no model"))
    GraftSql.load(spark, "DROP MODEL mt_model")
    GraftSql.load(spark, "DROP MODEL mt_plain")
  }

  test("TO_BASE32 / FROM_BASE32 / SAFE_CONVERT_BYTES_TO_STRING") {
    def one(q: String) = GraftSql.load(spark, q).head()
    // RFC 4648 test vectors ('foobar' family)
    val vectors = Seq(
      "" -> "", "f" -> "MY======", "fo" -> "MZXQ====", "foo" -> "MZXW6===",
      "foob" -> "MZXW6YQ=", "fooba" -> "MZXW6YTB", "foobar" -> "MZXW6YTBOI======")
    for ((in, b32) <- vectors) {
      val r = one(s"SELECT TO_BASE32(CAST('$in' AS BINARY)) AS e, " +
        s"SAFE_CONVERT_BYTES_TO_STRING(FROM_BASE32('$b32')) AS d")
      assert(r.getString(0) == b32, s"encode '$in'")
      assert(r.getString(1) == in, s"decode '$b32'")
    }
    // lowercase decodes; non-canonical forms raise
    assert(one("SELECT SAFE_CONVERT_BYTES_TO_STRING(FROM_BASE32('mzxw6ytb')) AS d")
      .getString(0) == "fooba")
    for (bad <- Seq("MZXW6", "MZXW6Y==", "M=======", "1ZXW6===", "MZXW6==="))
      if (bad != "MZXW6===") // that one IS canonical ('foo')
        intercept[Exception](GraftSql.load(spark, s"SELECT FROM_BASE32('$bad') AS x").collect())
    // strict UTF-8: valid passes, malformed is NULL (never U+FFFD)
    val u = one("SELECT SAFE_CONVERT_BYTES_TO_STRING(CODE_POINTS_TO_BYTES([99, 97, 102, 195, 169])) AS ok, " +
      "SAFE_CONVERT_BYTES_TO_STRING(CODE_POINTS_TO_BYTES([255, 254])) AS bad")
    assert(u.getString(0) == "café" && u.isNullAt(1))
  }

  test("ML.FEATURE_INFO training stats + INFORMATION_SCHEMA.MODELS") {
    import spark.implicits._
    Seq((1L, 10L, 100L), (2L, 19L, 210L), (3L, 31L, 290L), (4L, 40L, 410L))
      .toDF("qty", "w", "label").createOrReplaceTempView("fi_src")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL fi_model OPTIONS(model_type = 'linear_reg') " +
        "AS SELECT qty, w, label FROM fi_src")
    val fi = GraftSql.load(spark,
      "SELECT * FROM ML.FEATURE_INFO(MODEL fi_model) ORDER BY input").collect()
    assert(fi.map(_.getString(0)).toSeq == Seq("qty", "w"))
    val q = fi.head
    assert(q.getDouble(1) == 1.0 && q.getDouble(2) == 4.0) // min, max
    assert(q.getDouble(3) == 2.5 && q.getDouble(4) == 2.5) // mean, median
    assert(math.abs(q.getDouble(5) - math.sqrt(5.0 / 3.0)) < 1e-15) // stddev
    assert(q.isNullAt(6) && q.getLong(7) == 0L) // category_count, null_count
    // MODELS lists every registry with BigQuery's type spellings
    val m = GraftSql.load(spark,
      "SELECT model_type FROM INFORMATION_SCHEMA.MODELS WHERE model_name = 'fi_model'").head()
    assert(m.getString(0) == "LINEAR_REGRESSION")
    // non-linear models are loud, unknown models are loud
    Seq((1L, "a b", "x"), (2L, "c d", "y"), (3L, "a d", "x"), (4L, "b c", "y"))
      .toDF("id", "text", "label").createOrReplaceTempView("fi_log_src")
    GraftSql.load(spark,
      "CREATE OR REPLACE MODEL fi_log OPTIONS(model_type = 'logistic_reg') " +
        "AS SELECT id, text, label FROM fi_log_src")
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT * FROM ML.FEATURE_INFO(MODEL fi_log)")).getMessage.contains("hashed"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT * FROM ML.FEATURE_INFO(MODEL fi_nope)")).getMessage.contains("no model"))
    GraftSql.load(spark, "DROP MODEL fi_model")
    GraftSql.load(spark, "DROP MODEL fi_log")
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.MODELS WHERE model_name IN ('fi_model', 'fi_log')")
      .count() == 0)
  }

  test("REGEXP_REPLACE backreferences and REGEXP_EXTRACT_ALL group rules") {
    def one(q: String) = GraftSql.load(spark, q).head()
    // BigQuery \N backreference (raw text \\1) -> Java $N; literal $ stays literal
    assert(one("SELECT REGEXP_REPLACE('banana', '(an)', '<\\\\1>') AS r").getString(0)
      == "b<an><an>a")
    assert(one("SELECT REGEXP_REPLACE('cost 25 and 7', '([0-9]+)', '$\\\\1') AS r").getString(0)
      == "cost $25 and $7")
    // an escaped backslash means the same in both dialects
    assert(one("SELECT REGEXP_REPLACE('a.b', '\\\\.', '\\\\\\\\') AS r").getString(0)
      == "a\\b")
    // idempotence across the fixpoint: the rewritten text survives a
    // second pass byte-identically
    val once = graft.sql.Functions.rewriteBqFunctions(
      "SELECT REGEXP_REPLACE(x, '(a)', '$\\\\1') AS r FROM t")
    assert(graft.sql.Functions.rewriteBqFunctions(once) == once)
    // EXTRACT_ALL: group-free regex returns FULL matches; one group
    // extracts it; two is BigQuery's own error
    assert(one("SELECT REGEXP_EXTRACT_ALL('a1 b22 c3', '[0-9]+') AS r")
      .getSeq[String](0) == Seq("1", "22", "3"))
    assert(one("SELECT REGEXP_EXTRACT_ALL('a1 b22', '[a-z]([0-9]+)') AS r")
      .getSeq[String](0) == Seq("1", "22"))
    assert(one("SELECT REGEXP_EXTRACT_ALL('a(1)', 'a\\\\((.)\\\\)') AS r")
      .getSeq[String](0) == Seq("1")) // escaped parens don't count as groups
    assert(one("SELECT REGEXP_EXTRACT_ALL('xab', '(?:x)(a)') AS r")
      .getSeq[String](0) == Seq("a")) // (?: doesn't count
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT REGEXP_EXTRACT_ALL('a', '(a)(b)') AS r")).getMessage.contains("capturing"))
    // lexer escapes in the replacement keep their PARSED meaning: '\n'
    // is a newline after Spark lexes it, never Java's escaped letter n
    assert(one("SELECT REGEXP_REPLACE('a b', ' ', '\\n') AS r").getString(0) == "a\nb")
    // Spark's octal escapes only fire for a 0-1 first digit: '\234'
    // lexes to the THREE chars "234" (review-caught model divergence)
    assert(one("SELECT REGEXP_REPLACE('x', 'x', '\\234') AS r").getString(0) == "234")
    assert(one("SELECT REGEXP_REPLACE('x', 'x', '\\101') AS r").getString(0) == "A")
    // '(' inside a character class is not a capturing group
    assert(one("SELECT REGEXP_EXTRACT_ALL('(1)', '[(]([0-9])') AS r")
      .getSeq[String](0) == Seq("1"))
    assert(one("SELECT REGEXP_REPLACE('a b', ' ', '\\t') AS r").getString(0) == "a\tb")
    assert(one("SELECT REGEXP_REPLACE('a b', ' ', '\\u0041') AS r").getString(0) == "aAb")
    // Spark's own 4-arg form (position) passes through under Java semantics
    assert(one("SELECT REGEXP_REPLACE('aaa', 'a', 'b', 2) AS r").getString(0) == "abb")
    // named groups ARE capturing (re2 and Java agree): one named group
    // extracts it; lookbehind stays non-capturing; (?P< is Java-fatal → loud
    assert(one("SELECT REGEXP_EXTRACT_ALL('a1 b22', '[a-z](?<d>[0-9]+)') AS r")
      .getSeq[String](0) == Seq("1", "22"))
    assert(one("SELECT REGEXP_EXTRACT_ALL('a1 b2', '(?<=a)[0-9]') AS r")
      .getSeq[String](0) == Seq("1"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT REGEXP_EXTRACT_ALL('a1', '(?P<d>[0-9])') AS r")).getMessage.contains("re2-only"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT REGEXP_EXTRACT_ALL('a1', '(?<d>a)(b)') AS r")).getMessage.contains("capturing"))
  }

  test("the epoch-conversion family is Spark-native under BigQuery's names") {
    val r = GraftSql.load(spark,
      """SELECT UNIX_SECONDS(TIMESTAMP '2024-01-02 03:04:05') AS us,
        |       UNIX_MILLIS(TIMESTAMP '2024-01-02 03:04:05.678') AS ms,
        |       UNIX_MICROS(TIMESTAMP '2024-01-02 03:04:05.678901') AS mu,
        |       TIMESTAMP_SECONDS(1704164645) AS ts,
        |       TIMESTAMP_MILLIS(1704164645678) AS tm,
        |       TIMESTAMP_MICROS(1704164645678901) AS tu,
        |       UNIX_DATE(DATE '2024-01-02') AS ud,
        |       DATE_FROM_UNIX_DATE(19724) AS d2""".stripMargin).head()
    assert(r.getLong(0) == 1704164645L)
    assert(r.getLong(1) == 1704164645678L)
    assert(r.getLong(2) == 1704164645678901L)
    assert(r.getTimestamp(3).toString.startsWith("2024-01-02 03:04:05"))
    assert(r.getTimestamp(4).toString.startsWith("2024-01-02 03:04:05.678"))
    assert(r.getTimestamp(5).toString.startsWith("2024-01-02 03:04:05.678901"))
    assert(r.getInt(6) == 19724 && r.getDate(7).toString == "2024-01-02")
  }

  test("timezone-argument forms: TRUNC/DATE/FORMAT/PARSE/CURRENT_DATE with a named zone") {
    // fixed instants bracketing the Europe/Paris 2024-03-31 spring-forward
    // (01:00 UTC): before it Paris is CET (+1), after CEST (+2)
    val r = GraftSql.load(spark,
      """SELECT
        |  TIMESTAMP_TRUNC(TIMESTAMP '2024-03-31 00:30:00', DAY, 'Europe/Paris') AS t_before,
        |  TIMESTAMP_TRUNC(TIMESTAMP '2024-03-31 01:30:00', DAY, 'Europe/Paris') AS t_after,
        |  TIMESTAMP_TRUNC(TIMESTAMP '2024-03-31 01:30:00', HOUR, 'Asia/Kathmandu') AS t_ktm,
        |  DATE(TIMESTAMP '2024-03-31 20:30:00', 'Asia/Tokyo') AS d_tokyo,
        |  DATE(TIMESTAMP '2024-03-31 20:30:00', 'America/Lima') AS d_lima,
        |  FORMAT_TIMESTAMP('%Y-%m-%d %H:%M', TIMESTAMP '2024-03-31 01:30:00', 'Europe/Paris') AS f,
        |  PARSE_TIMESTAMP('%Y-%m-%d %H:%M', '2024-03-31 03:30', 'Europe/Paris') AS p,
        |  TIMESTAMP('2024-03-31 03:30:00', 'Europe/Paris') AS t2,
        |  DATETIME(TIMESTAMP '2024-03-31 01:30:00', 'Europe/Paris') AS dt,
        |  DATE(2024, 3, 31) AS mk""".stripMargin).head()
    // Paris midnight on the DST day is still CET: 23:00 UTC the day before
    assert(r.getTimestamp(0).toString.startsWith("2024-03-30 23:00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-03-30 23:00:00"))
    // +05:45 offset: hour boundaries land on :15 UTC
    assert(r.getTimestamp(2).toString.startsWith("2024-03-31 01:15:00"))
    assert(r.getDate(3).toString == "2024-04-01" && r.getDate(4).toString == "2024-03-31")
    // 01:30 UTC is 03:30 CEST (clock jumped 02:00→03:00 half an hour earlier)
    assert(r.getString(5) == "2024-03-31 03:30")
    // reading the civil time back crosses the gap correctly: 03:30 CEST = 01:30 UTC
    assert(r.getTimestamp(6).toString.startsWith("2024-03-31 01:30:00"))
    assert(r.getTimestamp(7).toString.startsWith("2024-03-31 01:30:00"))
    assert(r.getAs[java.time.LocalDateTime](8).toString.startsWith("2024-03-31T03:30")) // civil NTZ
    assert(r.getDate(9).toString == "2024-03-31")
    // CURRENT_DATE(tz): runs, and the tz rendering stays within one day
    // of UTC's today in a no-DST zone either side of the dateline
    val cd = GraftSql.load(spark,
      """SELECT CURRENT_DATE() AS utc, CURRENT_DATE('Pacific/Kiritimati') AS east,
        |       CURRENT_DATE('Etc/GMT+12') AS west""".stripMargin).head()
    assert(!cd.isNullAt(1) && !cd.isNullAt(2))
    assert(cd.getDate(1).toLocalDate.toEpochDay - cd.getDate(2).toLocalDate.toEpochDay >= 0L)
    // EXTRACT ... AT TIME ZONE: localized parts, composing with the
    // WEEK rewrite on the next fixpoint pass
    val ex = GraftSql.load(spark,
      """SELECT EXTRACT(HOUR FROM TIMESTAMP '2024-03-31 01:30:00' AT TIME ZONE 'Europe/Paris') AS h,
        |       EXTRACT(DATE FROM TIMESTAMP '2024-03-31 20:30:00' AT TIME ZONE 'Asia/Tokyo') AS d,
        |       EXTRACT(WEEK FROM TIMESTAMP '2024-01-06 23:30:00' AT TIME ZONE 'Asia/Tokyo') AS w""".stripMargin).head()
    assert(ex.getAs[Number](0).intValue == 3) // 01:30 UTC = 03:30 CEST
    assert(ex.getDate(1).toString == "2024-04-01")
    // Jan 6 23:30 UTC is Jan 7 in Tokyo — a Sunday, starting BQ week 1
    assert(ex.getAs[Number](2).intValue == 1)
    // loud: tz on the DATE/DATETIME_TRUNC forms; the 6-part DATETIME
    // constructor is implemented since round 15 (civil constructors)
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT DATE_TRUNC(DATE '2024-01-01', DAY, 'Europe/Paris') AS x"))
      .getMessage.contains("TIMESTAMP_TRUNC only"))
    assert(GraftSql.load(spark, "SELECT DATETIME(2024, 1, 1, 6, 30, 0) AS x")
      .head().getAs[java.time.LocalDateTime](0).toString == "2024-01-01T06:30")
  }

  test("week units: WEEK/WEEK(<WEEKDAY>)/ISOWEEK truncation, LAST_DAY, boundary DIFFs") {
    // 2024-01-06 is a SATURDAY; 2024-01-07 a Sunday
    val r = GraftSql.load(spark,
      """SELECT DATE_TRUNC(DATE '2024-01-06', WEEK) AS sat_sun,
        |       DATE_TRUNC(DATE '2024-01-07', WEEK) AS sun_sun,
        |       DATE_TRUNC(DATE '2024-01-06', ISOWEEK) AS sat_mon,
        |       DATE_TRUNC(DATE '2024-01-06', WEEK(SATURDAY)) AS sat_sat,
        |       TIMESTAMP_TRUNC(TIMESTAMP '2024-01-06 22:15:00', WEEK) AS ts_sun,
        |       LAST_DAY(DATE '2024-01-06', WEEK) AS ld_wk,
        |       LAST_DAY(DATE '2024-01-06', ISOWEEK) AS ld_iso,
        |       DATE_DIFF(DATE '2024-01-07', DATE '2024-01-06', WEEK) AS wd,
        |       DATE_DIFF(DATE '2024-01-08', DATE '2024-01-07', WEEK) AS wd0,
        |       DATE_DIFF(DATE '2024-02-01', DATE '2024-01-31', MONTH) AS md,
        |       DATE_DIFF(DATE '2025-01-01', DATE '2024-12-31', QUARTER) AS qd,
        |       DATE_DIFF(DATE '2024-12-30', DATE '2024-12-29', ISOYEAR) AS iyd,
        |       DATETIME_DIFF(TIMESTAMP '2024-01-01 02:01:00',
        |                     TIMESTAMP '2024-01-01 01:59:00', HOUR) AS hb,
        |       TIMESTAMP_DIFF(TIMESTAMP '2024-01-01 02:01:00',
        |                      TIMESTAMP '2024-01-01 01:59:00', HOUR) AS hs""".stripMargin).head()
    assert(r.getDate(0).toString == "2023-12-31") // Saturday's week began last Sunday
    assert(r.getDate(1).toString == "2024-01-07") // a Sunday starts its own week
    assert(r.getDate(2).toString == "2024-01-01") // ISO week: Monday
    assert(r.getDate(3).toString == "2024-01-06") // Saturday-start week: itself
    assert(r.getTimestamp(4).toString.startsWith("2023-12-31 00:00:00"))
    assert(r.getDate(5).toString == "2024-01-06") // Sunday-start week ends Saturday
    assert(r.getDate(6).toString == "2024-01-07") // ISO week ends Sunday
    // boundary semantics: Sat→Sun crosses a week boundary, Sun→Mon doesn't
    assert(r.getLong(7) == 1L && r.getLong(8) == 0L)
    assert(r.getLong(9) == 1L && r.getLong(10) == 1L)
    // 2024-12-30 is ISO year 2025; 2024-12-29 is ISO year 2024
    assert(r.getLong(11) == 1L)
    // civil HOUR boundary crossed vs zero whole timestamp hours
    assert(r.getLong(12) == 1L && r.getLong(13) == 0L)
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT DATE_TRUNC(DATE '2024-01-06', WEEK(CASUALDAY)) AS x"))
      .getMessage.contains("unknown weekday"))
  }

  test("PRIMARY KEY / FOREIGN KEY NOT ENFORCED + TABLE_CONSTRAINTS/KEY_COLUMN_USAGE") {
    GraftSql.load(spark,
      """CREATE OR REPLACE TABLE kc_t (
        |  a INT64 NOT NULL, b INT64, c STRUCT<x INT64, y STRING>,
        |  PRIMARY KEY (a) NOT ENFORCED,
        |  CONSTRAINT fk_b FOREIGN KEY (b) REFERENCES other(z) NOT ENFORCED)""".stripMargin)
    val tc = GraftSql.load(spark,
      """SELECT constraint_name, constraint_type, enforced
        |FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS WHERE table_name = 'kc_t'
        |ORDER BY constraint_name""".stripMargin).collect()
    assert(tc.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("fk_b", "FOREIGN KEY", "NO"), ("kc_t.pk$", "PRIMARY KEY", "NO")))
    val kcu = GraftSql.load(spark,
      """SELECT constraint_name, column_name, CAST(ordinal_position AS BIGINT) AS o,
        |       position_in_unique_constraint IS NULL AS pk_null
        |FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE WHERE table_name = 'kc_t'
        |ORDER BY constraint_name""".stripMargin).collect()
    assert(kcu.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq(("fk_b", "b", 1L, false), ("kc_t.pk$", "a", 1L, true)))
    // the STRUCT column survived the clause split with its comma
    assert(spark.table("kc_t").schema("c").dataType.typeName == "struct")
    // louds: bare ENFORCED, duplicate PK, unknown key column
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("CREATE OR REPLACE TABLE kc_e (a INT64, PRIMARY KEY (a) ENFORCED)")
      .contains("NOT ENFORCED"))
    assert(bad("CREATE OR REPLACE TABLE kc_d (a INT64, b INT64, " +
      "PRIMARY KEY (a) NOT ENFORCED, PRIMARY KEY (b) NOT ENFORCED)")
      .contains("more than one"))
    assert(bad("CREATE OR REPLACE TABLE kc_m (a INT64, PRIMARY KEY (zz) NOT ENFORCED)")
      .contains("no such column"))
    // ALTER lifecycle: ADD keeps fk$N advancing past CREATE-time FKs,
    // DROP PRIMARY KEY removes just the PK, SET OPTIONS merges + clears
    GraftSql.load(spark,
      "ALTER TABLE kc_t ADD FOREIGN KEY (b) REFERENCES other2(w) NOT ENFORCED")
    assert(GraftSql.load(spark,
      "SELECT constraint_name FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS " +
        "WHERE table_name = 'kc_t' ORDER BY constraint_name")
      .collect().map(_.getString(0)).toSeq == Seq("fk_b", "kc_t.fk$1", "kc_t.pk$"))
    // generated names take the first FREE slot: after a drop, re-adding
    // regenerates fk$1 instead of colliding with a survivor
    GraftSql.load(spark,
      "ALTER TABLE kc_t ADD FOREIGN KEY (a) REFERENCES other3(v) NOT ENFORCED")
    GraftSql.load(spark, "ALTER TABLE kc_t DROP CONSTRAINT kc_t.fk$1")
    GraftSql.load(spark,
      "ALTER TABLE kc_t ADD FOREIGN KEY (b) REFERENCES other4(u) NOT ENFORCED")
    assert(GraftSql.load(spark,
      "SELECT constraint_name FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS " +
        "WHERE table_name = 'kc_t' AND constraint_type = 'FOREIGN KEY' ORDER BY 1")
      .collect().map(_.getString(0)).toSeq == Seq("fk_b", "kc_t.fk$1", "kc_t.fk$2"))
    GraftSql.load(spark, "ALTER TABLE kc_t DROP CONSTRAINT kc_t.fk$1")
    GraftSql.load(spark, "ALTER TABLE kc_t DROP CONSTRAINT kc_t.fk$2")
    GraftSql.load(spark, "ALTER TABLE kc_t DROP PRIMARY KEY")
    assert(bad("ALTER TABLE kc_t ADD CONSTRAINT fk_b FOREIGN KEY (b) " +
      "REFERENCES z(z) NOT ENFORCED").contains("already has a constraint"))
    assert(bad("ALTER TABLE kc_t DROP CONSTRAINT nope").contains("no constraint"))
    GraftSql.load(spark, "ALTER TABLE IF EXISTS kc_gone SET OPTIONS(description = 'x')")
    GraftSql.load(spark, "ALTER TABLE kc_t SET OPTIONS(description = 'd1', tier = 'hot')")
    GraftSql.load(spark, "ALTER TABLE kc_t SET OPTIONS(description = NULL, tier = 'cold')")
    assert(GraftSql.load(spark,
      "SELECT option_name, option_value FROM INFORMATION_SCHEMA.TABLE_OPTIONS " +
        "WHERE table_name = 'kc_t' ORDER BY option_name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("tier", "\"cold\"")))
    // drop clears the rows
    GraftSql.load(spark, "DROP TABLE kc_t")
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS WHERE table_name = 'kc_t'")
      .count() == 0)
  }

  test("ROW ACCESS POLICY: OR of grants, drop restores, louds") {
    GraftSql.load(spark,
      "CREATE OR REPLACE VIEW rap_t AS SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'a')) AS t(id, k)")
    GraftSql.load(spark, "CREATE ROW ACCESS POLICY ra ON rap_t FILTER USING (k = 'a')")
    assert(GraftSql.load(spark, "SELECT * FROM rap_t").count() == 2)
    GraftSql.load(spark, "CREATE ROW ACCESS POLICY rb ON rap_t FILTER USING (id = 3)")
    // ANY policy grants → 3 rows visible
    assert(GraftSql.load(spark, "SELECT * FROM rap_t").count() == 3)
    // IF NOT EXISTS no-ops; bare duplicate is loud; OR REPLACE swaps
    GraftSql.load(spark, "CREATE ROW ACCESS POLICY IF NOT EXISTS ra ON rap_t FILTER USING (k = 'zz')")
    assert(GraftSql.load(spark, "SELECT * FROM rap_t").count() == 3)
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "CREATE ROW ACCESS POLICY ra ON rap_t FILTER USING (k = 'zz')"))
      .getMessage.contains("already exists"))
    GraftSql.load(spark, "CREATE OR REPLACE ROW ACCESS POLICY ra ON rap_t FILTER USING (k = 'b')")
    assert(GraftSql.load(spark, "SELECT * FROM rap_t").count() == 2) // b + id=3
    // drops: one, unknown (loud / IF EXISTS), all restores the raw view
    GraftSql.load(spark, "DROP ROW ACCESS POLICY rb ON rap_t")
    assert(GraftSql.load(spark, "SELECT * FROM rap_t").count() == 1)
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "DROP ROW ACCESS POLICY nope ON rap_t")).getMessage.contains("no policy"))
    GraftSql.load(spark, "DROP ROW ACCESS POLICY IF EXISTS nope ON rap_t")
    // the metadata view lists the active policy with predicate + grantees
    GraftSql.load(spark,
      "CREATE ROW ACCESS POLICY rg ON rap_t GRANT TO ('user:x@y.z') FILTER USING (id < 2)")
    val pol = GraftSql.load(spark,
      """SELECT row_access_policy_name, filter_predicate, grantees
        |FROM INFORMATION_SCHEMA.ROW_ACCESS_POLICIES WHERE table_name = 'rap_t'
        |ORDER BY row_access_policy_name""".stripMargin).collect()
    assert(pol.map(_.getString(0)).toSeq == Seq("ra", "rg"))
    assert(pol(1).getString(1) == "id < 2" && pol(1).getString(2) == "'user:x@y.z'")
    GraftSql.load(spark, "DROP ALL ROW ACCESS POLICIES ON rap_t")
    assert(GraftSql.load(spark, "SELECT * FROM rap_t").count() == 4)
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.ROW_ACCESS_POLICIES WHERE table_name = 'rap_t'")
      .count() == 0)
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "CREATE ROW ACCESS POLICY x ON rap_gone FILTER USING (1 = 1)"))
      .getMessage.contains("no such table"))
    GraftSql.load(spark, "DROP VIEW rap_t")
  }

  test("OPTIONS(...) on CREATE TABLE/VIEW + INFORMATION_SCHEMA.TABLE_OPTIONS") {
    GraftSql.load(spark, "CREATE OR REPLACE VIEW topts_src AS SELECT 1 AS x, 2 AS y")
    GraftSql.load(spark,
      """CREATE OR REPLACE VIEW topts_v
        |OPTIONS(description = 'it''s a view', labels = [('a', 'b')])
        |AS SELECT x FROM topts_src""".stripMargin)
    val rows = GraftSql.load(spark,
      """SELECT option_name, option_type, option_value
        |FROM INFORMATION_SCHEMA.TABLE_OPTIONS
        |WHERE table_name = 'topts_v' ORDER BY option_name""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("description", "labels"))
    assert(rows(0).getString(2) == "\"it's a view\"") // '' unescapes, BigQuery double-quotes
    assert(rows(0).getString(1) == "STRING")
    assert(rows(1).getString(2) == "[STRUCT(\"a\", \"b\")]")
    assert(rows(1).getString(1) == "ARRAY<STRUCT<STRING, STRING>>")
    // OR REPLACE without OPTIONS clears the recorded metadata
    GraftSql.load(spark, "CREATE OR REPLACE VIEW topts_v AS SELECT y FROM topts_src")
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.TABLE_OPTIONS WHERE table_name = 'topts_v'")
      .count() == 0)
    // column-level OPTIONS is loud, never silently table metadata
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "CREATE OR REPLACE TABLE topts_c (a INT64 OPTIONS(description = 'col'), b STRING)"))
      .getMessage.contains("column-level OPTIONS"))
    // a FAILING replacement query leaves the original table intact
    GraftSql.load(spark, "CREATE OR REPLACE TABLE topts_keep AS SELECT 1 AS x")
    intercept[Exception](GraftSql.load(spark,
      "CREATE OR REPLACE TABLE topts_keep AS SELECT no_such_col FROM topts_src"))
    assert(GraftSql.load(spark, "SELECT x FROM topts_keep").head().getInt(0) == 1)
    GraftSql.load(spark, "DROP TABLE topts_keep")
    // schema-DDL table form + INT64/BOOL typing; DROP clears the rows
    GraftSql.load(spark,
      "CREATE OR REPLACE TABLE topts_t (a INT64) OPTIONS(partition_expiration_days = 7, require_partition_filter = true)")
    val t = GraftSql.load(spark,
      """SELECT option_name, option_type, option_value FROM INFORMATION_SCHEMA.TABLE_OPTIONS
        |WHERE table_name = 'topts_t' ORDER BY option_name""".stripMargin).collect()
    assert(t.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("partition_expiration_days", "INT64", "7"),
        ("require_partition_filter", "BOOL", "true")))
    GraftSql.load(spark, "DROP TABLE topts_t")
    assert(GraftSql.load(spark,
      "SELECT * FROM INFORMATION_SCHEMA.TABLE_OPTIONS WHERE table_name = 'topts_t'")
      .count() == 0)
    GraftSql.load(spark, "DROP VIEW topts_v")
    GraftSql.load(spark, "DROP VIEW topts_src")
  }

  test("RTAS materializes before dropping: self-reference, shadowed tables, '' labels") {
    // self-referencing replace reads the OLD table (BigQuery's common
    // `CREATE OR REPLACE TABLE t AS SELECT ... FROM t` pattern)
    GraftSql.load(spark, "CREATE OR REPLACE TABLE rtas_self AS SELECT 1 AS x")
    GraftSql.load(spark,
      "CREATE OR REPLACE TABLE rtas_self AS SELECT x + 1 AS x FROM rtas_self")
    GraftSql.load(spark,
      "CREATE OR REPLACE TABLE rtas_self AS SELECT x + 10 AS x FROM rtas_self")
    assert(GraftSql.load(spark, "SELECT x FROM rtas_self").head().getInt(0) == 12)
    // a RUNTIME failure mid-replacement leaves the original intact too
    // (not just analysis errors): the replacement materializes first
    intercept[Exception](GraftSql.load(spark,
      "CREATE OR REPLACE TABLE rtas_self AS " +
        "SELECT CAST(raise_error('boom') AS INT) AS x FROM rtas_self"))
    assert(GraftSql.load(spark, "SELECT x FROM rtas_self").head().getInt(0) == 12)
    GraftSql.load(spark, "DROP TABLE rtas_self")
    // a temp view shadowing a same-named managed table: replace
    // destroys BOTH and the new table's data survives readable
    GraftSql.load(spark, "CREATE OR REPLACE TABLE rtas_shadow AS SELECT 1 AS x")
    spark.sql("SELECT 99 AS x").createOrReplaceTempView("rtas_shadow")
    GraftSql.load(spark, "CREATE OR REPLACE TABLE rtas_shadow AS SELECT 7 AS x")
    assert(GraftSql.load(spark, "SELECT x FROM rtas_shadow").head().getInt(0) == 7)
    assert(spark.sessionState.catalog.getTempView("rtas_shadow").isEmpty)
    GraftSql.load(spark, "DROP TABLE rtas_shadow")
    // a replaced VERSIONED name loses its commit-log registration —
    // later DML must never route through the old table's path
    val vdir = s"${System.getProperty("java.io.tmpdir")}/graft_rtas_v_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vdir))
    graft.sources.Versioned.overwrite(spark.sql("SELECT 1 AS x"), vdir)
    graft.sources.Versioned.register(spark, "rtas_v", vdir)
    GraftSql.load(spark, "CREATE OR REPLACE TABLE rtas_v AS SELECT 5 AS x")
    assert(GraftSql.load(spark, "SELECT x FROM rtas_v").head().getInt(0) == 5)
    assert(graft.sources.Versioned.registeredPath(spark, "rtas_v").isEmpty,
      "replace must unregister the Versioned name")
    GraftSql.load(spark, "DROP TABLE rtas_v")
    // a MULTI-part replace target must not take down an unrelated
    // session temp view sharing the last name part
    spark.sql("SELECT 42 AS x").createOrReplaceTempView("rtas_mp")
    GraftSql.load(spark, "CREATE OR REPLACE TABLE default.rtas_mp AS SELECT 7 AS x")
    assert(spark.sessionState.catalog.getTempView("rtas_mp").isDefined,
      "unrelated temp view must survive a qualified replace")
    assert(spark.sql("SELECT x FROM rtas_mp").head().getInt(0) == 42)
    spark.catalog.dropTempView("rtas_mp")
    spark.sql("DROP TABLE default.rtas_mp")
    // labels tuples carry the '' quote escape, like scalar strings
    GraftSql.load(spark,
      """CREATE OR REPLACE VIEW rtas_lbl OPTIONS(labels = [('k', 'it''s')])
        |AS SELECT 1 AS x""".stripMargin)
    val lbl = GraftSql.load(spark,
      "SELECT option_value FROM INFORMATION_SCHEMA.TABLE_OPTIONS " +
        "WHERE table_name = 'rtas_lbl'").head().getString(0)
    assert(lbl == "[STRUCT(\"k\", \"it's\")]")
    GraftSql.load(spark, "DROP VIEW rtas_lbl")
  }

  test("ALTER TABLE RENAME TO: object, data and recorded metadata move together") {
    GraftSql.load(spark, "DROP TABLE IF EXISTS ren_b")
    GraftSql.load(spark,
      "CREATE OR REPLACE TABLE ren_a OPTIONS(description = 'keep me') AS SELECT 3 AS x")
    GraftSql.load(spark, "ALTER TABLE ren_a RENAME TO ren_b")
    assert(GraftSql.load(spark, "SELECT x FROM ren_b").head().getInt(0) == 3)
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM INFORMATION_SCHEMA.TABLES WHERE table_name = 'ren_a'")
      .head().getLong(0) == 0L)
    // recorded OPTIONS metadata rides to the new name
    assert(GraftSql.load(spark,
      "SELECT option_value FROM INFORMATION_SCHEMA.TABLE_OPTIONS WHERE table_name = 'ren_b'")
      .head().getString(0) == "\"keep me\"")
    // a VERSIONED registration follows its commit log
    val vdir = s"${System.getProperty("java.io.tmpdir")}/graft_ren_v_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vdir))
    graft.sources.Versioned.overwrite(spark.sql("SELECT 9 AS x"), vdir)
    graft.sources.Versioned.register(spark, "ren_v", vdir)
    GraftSql.load(spark, "ALTER TABLE ren_v RENAME TO ren_v2")
    assert(graft.sources.Versioned.registeredPath(spark, "ren_v").isEmpty)
    assert(graft.sources.Versioned.registeredPath(spark, "ren_v2").contains(vdir))
    assert(GraftSql.load(spark, "SELECT x FROM ren_v2").head().getInt(0) == 9)
    spark.catalog.dropTempView("ren_v2")
    // louds: missing source, existing target
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "ALTER TABLE ren_missing RENAME TO zz")).getMessage.contains("no such"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "ALTER TABLE ren_b RENAME TO ren_b")).getMessage.contains("already exists"))
    GraftSql.load(spark, "DROP TABLE ren_b")
  }

  test("RENAME TO on a row-policed table renames the TABLE and rebuilds the shadow") {
    // regression (round-16 advice): a temp view shadowing a catalog
    // table must not ride alone — renaming only the shadow would leave
    // the underlying table readable, UNFILTERED, under the old name
    GraftSql.load(spark, "DROP TABLE IF EXISTS ren_pol2")
    GraftSql.load(spark, "CREATE OR REPLACE TABLE ren_pol AS " +
      "SELECT * FROM (SELECT 1 AS id, 'a' AS k UNION ALL SELECT 2, 'b')")
    GraftSql.load(spark, "CREATE ROW ACCESS POLICY p1 ON ren_pol FILTER USING (k = 'a')")
    assert(GraftSql.load(spark, "SELECT * FROM ren_pol").count() == 1)
    GraftSql.load(spark, "ALTER TABLE ren_pol RENAME TO ren_pol2")
    // old name is GONE entirely — no unfiltered table left behind
    assert(!spark.catalog.tableExists("ren_pol"))
    // new name reads FILTERED (the policy moved and re-applied)
    assert(GraftSql.load(spark, "SELECT * FROM ren_pol2").count() == 1)
    // dropping the policy at the new name restores the full table
    GraftSql.load(spark, "DROP ALL ROW ACCESS POLICIES ON ren_pol2")
    assert(GraftSql.load(spark, "SELECT * FROM ren_pol2").count() == 2)
    GraftSql.load(spark, "DROP TABLE ren_pol2")
    // an UNRELATED temp view shadowing a catalog table refuses the
    // rename before any state moves
    GraftSql.load(spark, "CREATE OR REPLACE TABLE ren_shad AS SELECT 5 AS x")
    spark.sql("SELECT 6 AS x").createOrReplaceTempView("ren_shad")
    val ex = intercept[IllegalArgumentException](GraftSql.load(spark,
      "ALTER TABLE ren_shad RENAME TO ren_shad2"))
    assert(ex.getMessage.contains("shadowed"))
    spark.catalog.dropTempView("ren_shad")
    GraftSql.load(spark, "DROP TABLE ren_shad")
  }

  test("ROW ACCESS POLICY on a managed table: dropping the last policy drops the shadow") {
    GraftSql.load(spark, "CREATE OR REPLACE TABLE rap_mt AS " +
      "SELECT * FROM (SELECT 1 AS id, 'a' AS k UNION ALL SELECT 2, 'b')")
    GraftSql.load(spark, "CREATE ROW ACCESS POLICY p1 ON rap_mt FILTER USING (k = 'a')")
    assert(GraftSql.load(spark, "SELECT * FROM rap_mt").count() == 1)
    // the filter rides a shadow temp view over the catalog table
    assert(spark.sessionState.catalog.getTempView("rap_mt").isDefined)
    GraftSql.load(spark, "DROP ROW ACCESS POLICY p1 ON rap_mt")
    // restore must NOT leave a temp view where none existed before
    assert(spark.sessionState.catalog.getTempView("rap_mt").isEmpty)
    assert(GraftSql.load(spark, "SELECT * FROM rap_mt").count() == 2)
    GraftSql.load(spark, "DROP TABLE rap_mt")
  }

  test("ST_GEOGPOINT / ST_DISTANCE / ST_DWITHIN / ST_X / ST_Y: the point-geography core") {
    val r = GraftSql.load(spark,
      """SELECT ST_DISTANCE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(0, 90)) AS quarter,
        |       ST_DISTANCE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(180, 0)) AS half,
        |       ST_DISTANCE(ST_GEOGPOINT(2.3522, 48.8566), ST_GEOGPOINT(2.3522, 48.8566)) AS zero,
        |       ST_DWITHIN(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0), 112000) AS near,
        |       ST_DWITHIN(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0), 111000) AS far,
        |       ST_X(ST_GEOGPOINT(2.3522, 48.8566)) AS x,
        |       ST_Y(ST_GEOGPOINT(2.3522, 48.8566)) AS y""".stripMargin).head()
    // quarter / half great circles on the R=6371010 sphere: πR/2, πR
    assert(math.abs(r.getDouble(0) - math.Pi * 6371010.0 / 2) < 1e-3)
    assert(math.abs(r.getDouble(1) - math.Pi * 6371010.0) < 1e-3)
    assert(r.getDouble(2) == 0.0)
    // 1° of longitude at the equator ≈ 111,195 m on this sphere
    assert(r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getDouble(5) == 2.3522 && r.getDouble(6) == 48.8566)
    // ST_GEOHASH against the published test vectors (lng-first
    // interleave, base32): Wikipedia's (57.64911N, 10.40744E) →
    // u4pruydqqvj and (42.6N, 5.6W) → ezs42
    val gh = GraftSql.load(spark,
      """SELECT ST_GEOHASH(ST_GEOGPOINT(10.40744, 57.64911), 11) AS a,
        |       ST_GEOHASH(ST_GEOGPOINT(-5.6, 42.6), 5) AS b,
        |       ST_GEOHASH(ST_GEOGPOINT(-5.6, 42.6)) AS c""".stripMargin).head()
    assert(gh.getString(0) == "u4pruydqqvj")
    assert(gh.getString(1) == "ezs42")
    assert(gh.getString(2).length == 12 && gh.getString(2).startsWith("ezs42"))
    // WKT I/O: parse, render, round-trip; non-POINT WKT raises at runtime
    val wk = GraftSql.load(spark,
      """SELECT ST_X(ST_GEOGFROMTEXT('POINT(10.40744 57.64911)')) AS x,
        |       ST_Y(ST_GEOGFROMTEXT(' point( -5.6  42.6 ) ')) AS y,
        |       ST_ASTEXT(ST_GEOGPOINT(-5.6, 42.6)) AS t,
        |       ST_ASTEXT(ST_GEOGFROMTEXT(ST_ASTEXT(ST_GEOGPOINT(10.40744, 57.64911)))) AS rt""".stripMargin).head()
    assert(wk.getDouble(0) == 10.40744 && wk.getDouble(1) == 42.6)
    assert(wk.getString(2) == "POINT(-5.6 42.6)")
    assert(wk.getString(3) == "POINT(10.40744 57.64911)")
    intercept[Exception](GraftSql.load(spark,
      "SELECT ST_X(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)')) AS x").collect())
    // latitude domain raises at runtime; non-point surface is loud at rewrite
    intercept[Exception](GraftSql.load(spark,
      "SELECT ST_DISTANCE(ST_GEOGPOINT(0, 91), ST_GEOGPOINT(0, 0)) AS d").collect())
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT ST_UNION(a, b) AS c FROM t")).getMessage.contains("not implemented"))
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT ST_INTERSECTION(a, b) AS g FROM t")).getMessage.contains("not implemented"))
  }

  test("AEAD/KEYS: keyset JSON carrier, GCM round-trips, pinned vector, SAFE forms, louds") {
    val ksJson = """{"primaryKeyId":1,"key":[{"keyId":1,"type":"AES_GCM",""" +
      """"key":"000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"}]}"""
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark,
        s"WITH k AS (SELECT KEYS.KEYSET_FROM_JSON('$ksJson') AS ks) SELECT $expr AS v FROM k")
        .collect().head
    // carrier round-trip + key count
    assert(one("KEYS.KEYSET_TO_JSON(ks)").getString(0) == ksJson)
    assert(one("KEYS.KEYSET_LENGTH(ks)").getLong(0) == 1L)
    // encrypt/decrypt round-trips, string and bytes; AAD is bound
    assert(one("AEAD.DECRYPT_STRING(ks, AEAD.ENCRYPT(ks, 'héllo wörld', 'ad'), 'ad')")
      .getString(0) == "héllo wörld")
    assert(one("AEAD.DECRYPT_BYTES(ks, AEAD.ENCRYPT(ks, 'raw', 'x'), 'x')")
      .getAs[Array[Byte]](0).toSeq == "raw".getBytes("UTF-8").toSeq)
    // ciphertext length is 1 + 4 + 12 + |pt| + 16, deterministic
    assert(one("BYTE_LENGTH(AEAD.ENCRYPT(ks, 'abcde', ''))").getAs[Number](0).longValue == 38L)
    // the PINNED vector: a fixed key + IV ciphertext generated by an
    // independent AES-GCM implementation decrypts to the known text
    val pinned = "01000000016465666768696a6b6c6d6e6f3c73bb461e9b37f84a423a86bd" +
      "0c0498060c763237a55f482470e6f03e4a6d5b"
    assert(one(s"AEAD.DECRYPT_STRING(ks, FROM_HEX('$pinned'), 'ad1')")
      .getString(0) == "the graft engine")
    // wrong AAD: loud on the plain form, NULL on SAFE.
    intercept[Exception](
      one(s"AEAD.DECRYPT_STRING(ks, FROM_HEX('$pinned'), 'wrong')"))
    assert(one(s"SAFE.AEAD.DECRYPT_STRING(ks, FROM_HEX('$pinned'), 'wrong')").isNullAt(0))
    // an added raw key decrypts what the base keyset cannot: the base
    // holds only keyId 0 (wrong bytes); ADD assigns max+1 = 1, exactly
    // the id the pinned blob routes to. A keyset whose keyId 1 holds
    // the WRONG bytes fails loudly — prefix routing is exact
    val ksWrong = ksJson.replace("000102", "ff0102")
    val ksBase = """{"primaryKeyId":0,"key":[{"keyId":0,"type":"AES_GCM",""" +
      """"key":"ff0102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"}]}"""
    assert(one(
      s"""AEAD.DECRYPT_STRING(
         |  KEYS.ADD_KEY_FROM_RAW_BYTES(KEYS.KEYSET_FROM_JSON('$ksBase'), 'AES_GCM',
         |                              FROM_HEX('000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f')),
         |  FROM_HEX('$pinned'), 'ad1')""".stripMargin).getString(0) == "the graft engine")
    intercept[Exception](one(
      s"AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('$ksWrong'), FROM_HEX('$pinned'), 'ad1')"))
    // NEW_KEYSET: random but well-formed — round-trips its own data
    assert(GraftSql.load(spark,
      """WITH k AS (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS ks)
        |SELECT AEAD.DECRYPT_STRING(ks, AEAD.ENCRYPT(ks, 'spin', 'a'), 'a') AS v
        |FROM k""".stripMargin).head().getString(0) == "spin")
    // louds: wrapped keysets, junk keyset bytes, GCM encrypt on a SIV keyset
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT KEYS.ROTATE_KEYSET(b'x', 'AEAD_AES_GCM_256') AS v"))
      .getMessage.contains("NEW_KEYSET"))
    intercept[Exception](one("AEAD.DECRYPT_STRING(CAST('junk' AS BYTES), ks, 'a')"))
  }

  test("geo shape ops: BUFFER 32-gon, SIMPLIFY DP, CONVEXHULL canonical ring, CLOSESTPOINT, DUMP") {
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark, s"SELECT $expr AS v").collect().head
    // BUFFER: 33 vertices (closed bit-exactly), contains its center,
    // area within a 32-gon's ratio of the circle (0.99358...)
    val buf = GraftSql.load(spark,
      """SELECT ST_NUMPOINTS(b) AS np,
        |       element_at(b, 1) = element_at(b, 33) AS closed,
        |       ST_CONTAINS(b, ST_GEOGPOINT(10.0, 45.0)) AS has_center,
        |       FLOOR(ST_AREA(b) / (pi() * 20000.0 * 20000.0) * 1000) AS ratio_m
        |FROM (SELECT ST_BUFFER(ST_GEOGPOINT(10.0, 45.0), 20000.0) AS b)""".stripMargin).head()
    assert(buf.getInt(0) == 33 && buf.getBoolean(1) && buf.getBoolean(2))
    assert(buf.getLong(3) == 993L, s"32-gon/circle area ratio: ${buf.getLong(3)}")
    // SIMPLIFY: sub-tolerance wiggles drop, super-tolerance ones stay;
    // tolerance 0 keeps every non-collinear vertex and drops the
    // exactly-collinear one
    val line = "ST_MAKELINE(ST_GEOGPOINT(0.0, 0.0), ST_GEOGPOINT(0.5, 0.001), " +
      "ST_GEOGPOINT(1.0, 0.0), ST_GEOGPOINT(1.5, 0.01), ST_GEOGPOINT(2.0, 0.0))"
    assert(one(s"ST_NUMPOINTS(ST_SIMPLIFY($line, 500.0))").getInt(0) == 4)
    assert(one(s"ST_NUMPOINTS(ST_SIMPLIFY($line, 0.0))").getInt(0) == 5)
    assert(one(s"ST_NUMPOINTS(ST_SIMPLIFY($line, 2000.0))").getInt(0) == 2)
    val collinear = "ST_MAKELINE(ST_GEOGPOINT(0.0, 0.0), ST_GEOGPOINT(1.0, 1.0), " +
      "ST_GEOGPOINT(2.0, 2.0))"
    assert(one(s"ST_NUMPOINTS(ST_SIMPLIFY($collinear, 0.0))").getInt(0) == 2)
    // a closed ring keeps its closure and its shape at small tolerance
    val ring = "ST_MAKEPOLYGON(ST_MAKELINE(ST_GEOGPOINT(0.0, 0.0), ST_GEOGPOINT(2.0, 0.0), " +
      "ST_GEOGPOINT(2.0, 2.0), ST_GEOGPOINT(0.0, 2.0)))"
    assert(one(s"ST_EQUALS(ST_SIMPLIFY($ring, 10.0), $ring)").getBoolean(0))
    // CONVEXHULL: canonical closed CCW ring from the lexicographically
    // smallest vertex; interior/edge/duplicate points never surface
    val cloud = "ST_MAKELINE(ST_GEOGPOINT(2.0, 2.0), ST_GEOGPOINT(0.0, 0.0), " +
      "ST_GEOGPOINT(1.0, 1.0), ST_GEOGPOINT(2.0, 0.0), ST_GEOGPOINT(0.0, 2.0), " +
      "ST_GEOGPOINT(1.0, 0.0), ST_GEOGPOINT(0.0, 0.0))"
    assert(one(s"ST_ASTEXT(ST_CONVEXHULL($cloud))").getString(0) ==
      "POLYGON((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
    // collinear cloud degenerates to the extreme segment
    assert(one(s"ST_ASTEXT(ST_CONVEXHULL($collinear))").getString(0) ==
      "LINESTRING(0.0 0.0, 2.0 2.0)")
    // CLOSESTPOINT: vertical segment, dyadic projection is EXACT;
    // beyond the end it clamps to the endpoint
    val seg = "ST_MAKELINE(ST_GEOGPOINT(5.0, 9.0), ST_GEOGPOINT(5.0, 11.0))"
    assert(one(s"ST_EQUALS(ST_CLOSESTPOINT($seg, ST_GEOGPOINT(5.5, 10.25)), " +
      "ST_GEOGPOINT(5.0, 10.25))").getBoolean(0))
    assert(one(s"ST_EQUALS(ST_CLOSESTPOINT($seg, ST_GEOGPOINT(5.5, 12.0)), " +
      "ST_GEOGPOINT(5.0, 11.0))").getBoolean(0))
    // DUMP: the single-shape carriers wrap to a one-element array
    assert(one(s"size(ST_DUMP($seg))").getInt(0) == 1)
    assert(one(s"ST_EQUALS(element_at(ST_DUMP($seg), 1), $seg)").getBoolean(0))
    // boolean ops stay loud, with the kernel named
    assert(intercept[IllegalArgumentException](GraftSql.load(spark,
      "SELECT ST_UNION(a, b) AS u FROM t")).getMessage.contains("clipping"))
  }

  test("WKT/GeoJSON negative paths stay loud: malformed numerics, arity, structure") {
    def loud(expr: String): Unit = withClue(expr) {
      intercept[Exception](GraftSql.load(spark, s"SELECT $expr AS v").collect())
    }
    // numeric strictness (round-15 rule): Java-isms like '1d' or hex
    // floats are NOT WKT numbers
    loud("ST_GEOGFROMTEXT('POINT(1d 2)')")
    loud("ST_GEOGFROMTEXT('POINT(0x1p3 2)')")
    loud("ST_LINEFROMTEXT('LINESTRING(0 0, 3 Infinity)')")
    // structure: unbalanced parens, wrong arity, nested rings
    loud("ST_GEOGFROMTEXT('POINT(1 2')")
    loud("ST_GEOGFROMTEXT('POINT(1)')")
    loud("ST_GEOGFROMTEXT('POINT(1 2 3)')")
    loud("ST_LINEFROMTEXT('LINESTRING(1 2)')")
    loud("ST_LINEFROMTEXT('LINESTRING((0 0, 1 1))')")
    loud("ST_POLYGONFROMTEXT('POLYGON(0 0, 1 0, 1 1, 0 0)')")
    loud("ST_POLYGONFROMTEXT('POLYGON((0 0, 1 0, 1 1, 0 0), (2 2, 3 2, 3 3, 2 2))')")
    // ring closure and minimum size
    loud("ST_POLYGONFROMTEXT('POLYGON((0 0, 1 0, 1 1, 2 2))')")
    loud("ST_POLYGONFROMTEXT('POLYGON((0 0, 1 0, 0 0))')")
    // shape/name mismatches are loud, not coerced
    loud("ST_LINEFROMTEXT('POLYGON((0 0, 1 0, 1 1, 0 0))')")
    loud("ST_POLYGONFROMTEXT('LINESTRING(0 0, 1 1)')")
    loud("ST_GEOGFROMTEXT('MULTIPOINT(1 2, 3 4)')")
    // GeoJSON: missing/garbled fields, non-numeric coordinates,
    // unsupported shapes
    loud("""ST_GEOGFROMGEOJSON('{"type":"Point"}')""")
    loud("""ST_GEOGFROMGEOJSON('{"type":"Pointy","coordinates":[1,2]}')""")
    loud("""ST_GEOGFROMGEOJSON('{"type":"Point","coordinates":[1,"x"]}')""")
    loud("""ST_GEOGFROMGEOJSON('{"type":"LineString","coordinates":[[0,0],[1,1]]}')""")
    loud("""ST_GEOGFROMGEOJSON('not json at all')""")
  }

  test("DETERMINISTIC AEAD: AES-SIV round-trips, determinism, SAFE forms, key-type gates") {
    val sivJson = """{"primaryKeyId":1,"key":[{"keyId":1,"type":"AES_SIV",""" +
      """"key":"fffefdfcfbfaf9f8f7f6f5f4f3f2f1f0f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff"}]}"""
    def one(expr: String): org.apache.spark.sql.Row =
      GraftSql.load(spark,
        s"WITH k AS (SELECT KEYS.KEYSET_FROM_JSON('$sivJson') AS ks) SELECT $expr AS v FROM k")
        .collect().head
    // round-trips, string and bytes; AAD is bound
    assert(one("DETERMINISTIC_DECRYPT_STRING(ks, DETERMINISTIC_ENCRYPT(ks, 'héllo wörld', 'ad'), 'ad')")
      .getString(0) == "héllo wörld")
    assert(one("DETERMINISTIC_DECRYPT_BYTES(ks, DETERMINISTIC_ENCRYPT(ks, 'raw', 'x'), 'x')")
      .getAs[Array[Byte]](0).toSeq == "raw".getBytes("UTF-8").toSeq)
    // DETERMINISM — the family's contract: two independent calls yield
    // the same bytes (GCM's fresh-IV ENCRYPT never does)
    assert(one("DETERMINISTIC_ENCRYPT(ks, 'same', 'ad') = DETERMINISTIC_ENCRYPT(ks, 'same', 'ad')")
      .getBoolean(0))
    assert(!one("DETERMINISTIC_ENCRYPT(ks, 'same', 'ad') = DETERMINISTIC_ENCRYPT(ks, 'diff', 'ad')")
      .getBoolean(0))
    // ciphertext length: 1 + 4 (wire) + 16 (V) + |pt| (CTR stream)
    assert(one("BYTE_LENGTH(DETERMINISTIC_ENCRYPT(ks, 'abcde', ''))").getAs[Number](0).longValue == 26L)
    // wrong AAD: loud plain, NULL SAFE.
    intercept[Exception](one(
      "DETERMINISTIC_DECRYPT_STRING(ks, DETERMINISTIC_ENCRYPT(ks, 'p', 'a'), 'wrong')"))
    assert(one(
      "SAFE.DETERMINISTIC_DECRYPT_STRING(ks, DETERMINISTIC_ENCRYPT(ks, 'p', 'a'), 'wrong')")
      .isNullAt(0))
    // key-type gates: GCM encrypt rejects a SIV primary and vice versa
    intercept[Exception](one("AEAD.ENCRYPT(ks, 'p', 'a')"))
    val gcmJson = """{"primaryKeyId":1,"key":[{"keyId":1,"type":"AES_GCM",""" +
      """"key":"000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"}]}"""
    intercept[Exception](GraftSql.load(spark,
      s"SELECT DETERMINISTIC_ENCRYPT(KEYS.KEYSET_FROM_JSON('$gcmJson'), 'p', 'a') AS v")
      .collect())
    // NEW_KEYSET mints a working SIV keyset; ADD_KEY_FROM_RAW_BYTES
    // appends a SIV key that decrypts what the base cannot
    assert(GraftSql.load(spark,
      """WITH k AS (SELECT KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256') AS ks)
        |SELECT DETERMINISTIC_DECRYPT_STRING(ks, DETERMINISTIC_ENCRYPT(ks, 'spin', 'a'), 'a') AS v
        |FROM k""".stripMargin).head().getString(0) == "spin")
    val ct = one("TO_HEX(DETERMINISTIC_ENCRYPT(ks, 'routed', 'z'))").getString(0)
    // the base holds only keyId 0; ADD assigns max+1 = 1, exactly the
    // id the ciphertext's wire prefix routes to
    val base = """{"primaryKeyId":0,"key":[{"keyId":0,"type":"AES_GCM",""" +
      """"key":"00000000000000000000000000000000"}]}"""
    assert(GraftSql.load(spark,
      s"""SELECT DETERMINISTIC_DECRYPT_STRING(
         |  KEYS.ADD_KEY_FROM_RAW_BYTES(KEYS.KEYSET_FROM_JSON('$base'), 'AES_SIV',
         |    FROM_HEX('fffefdfcfbfaf9f8f7f6f5f4f3f2f1f0f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff')),
         |  FROM_HEX('$ct'), 'z') AS v""".stripMargin).head().getString(0) == "routed")
  }

  test("non-point geography: ST_MAKELINE/LENGTH/MAKEPOLYGON/AREA/CONTAINS + WKT round-trips") {
    val R = 6371010.0
    // lengths on known great-circle arcs: quarter meridian, then a
    // 2-segment polyline summing two quarters
    val len = GraftSql.load(spark,
      """SELECT ST_LENGTH(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(0, 90))) AS quarter,
        |       ST_LENGTH(ST_MAKELINE(ST_GEOGPOINT(0, -90), ST_GEOGPOINT(0, 0), ST_GEOGPOINT(0, 90))) AS half,
        |       ST_NUMPOINTS(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 1), ST_GEOGPOINT(2, 0))) AS np,
        |       ST_LENGTH(ST_MAKELINE(array(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(90, 0)))) AS arrform""".stripMargin).head()
    assert(math.abs(len.getDouble(0) - math.Pi * R / 2) < 1e-3)
    assert(math.abs(len.getDouble(1) - math.Pi * R) < 1e-3)
    assert(len.getInt(2) == 3)
    assert(math.abs(len.getDouble(3) - math.Pi * R / 2) < 1e-3)
    // ST_MAKEPOLYGON closes an open ring; ST_PERIMETER sums it
    val quad = "ST_MAKEPOLYGON(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(2, 0), " +
      "ST_GEOGPOINT(2, 2), ST_GEOGPOINT(0, 2)))"
    val poly = GraftSql.load(spark,
      s"""SELECT ST_NUMPOINTS($quad) AS np,
         |       ST_AREA($quad) AS area,
         |       ST_PERIMETER($quad) AS perim,
         |       ST_CONTAINS($quad, ST_GEOGPOINT(1, 1)) AS inside,
         |       ST_CONTAINS($quad, ST_GEOGPOINT(3, 1)) AS outside,
         |       ST_INTERSECTS($quad, ST_GEOGPOINT(0.1, 0.1)) AS corner_in,
         |       ST_WITHIN(ST_GEOGPOINT(1, 1), $quad) AS within_in,
         |       ST_DISJOINT($quad, ST_GEOGPOINT(3, 1)) AS disj""".stripMargin).head()
    assert(poly.getInt(0) == 5)
    // 2°×2° band at the equator: exactly R²·Δλ·(sin 2° − sin 0) on
    // the spherical shoelace (constant-lat edges are exact)
    val expected = R * R * (2 * math.Pi / 180) * math.sin(math.toRadians(2))
    assert(math.abs(poly.getDouble(1) - expected) / expected < 1e-12)
    assert(poly.getDouble(2) > 4 * 111000 * 2 * 0.98 && poly.getDouble(2) < 4 * 111320 * 2)
    assert(poly.getBoolean(3) && !poly.getBoolean(4) && poly.getBoolean(5))
    assert(poly.getBoolean(6) && poly.getBoolean(7))
    // a NON-CONVEX ring (arrow): the notch point is outside
    val arrow = "ST_MAKEPOLYGON(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(4, 0), " +
      "ST_GEOGPOINT(4, 4), ST_GEOGPOINT(2, 1), ST_GEOGPOINT(0, 4)))"
    val nc = GraftSql.load(spark,
      s"""SELECT ST_CONTAINS($arrow, ST_GEOGPOINT(2, 2)) AS notch,
         |       ST_CONTAINS($arrow, ST_GEOGPOINT(0.5, 0.5)) AS lobe""".stripMargin).head()
    assert(!nc.getBoolean(0) && nc.getBoolean(1))
    // hemisphere ring along the equator (4 antimeridian-wrapped
    // constant-lat edges): area 2πR², perimeter 2πR
    val hemi = "ST_MAKEPOLYGON(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(90, 0), " +
      "ST_GEOGPOINT(180, 0), ST_GEOGPOINT(-90, 0)))"
    val h = GraftSql.load(spark,
      s"SELECT ST_AREA($hemi) AS a, ST_PERIMETER($hemi) AS p").head()
    assert(math.abs(h.getDouble(0) - 2 * math.Pi * R * R) / (2 * math.Pi * R * R) < 1e-12)
    assert(math.abs(h.getDouble(1) - 2 * math.Pi * R) < 1e-3)
    // WKT: render + exact parse round-trip for both carriers
    val wkt = GraftSql.load(spark,
      s"""SELECT ST_ASTEXT(ST_MAKELINE(ST_GEOGPOINT(-5.6, 42.6), ST_GEOGPOINT(10.25, -3.5))) AS lt,
         |       ST_ASTEXT($quad) AS pt,
         |       ST_LINEFROMTEXT('LINESTRING(-5.6 42.6, 10.25 -3.5)') =
         |         ST_MAKELINE(ST_GEOGPOINT(-5.6, 42.6), ST_GEOGPOINT(10.25, -3.5)) AS lrt,
         |       ST_POLYGONFROMTEXT(ST_ASTEXT($quad)) = $quad AS prt,
         |       ST_ASTEXT(ST_GEOGPOINT(-5.6, 42.6)) AS ptx""".stripMargin).head()
    assert(wkt.getString(0) == "LINESTRING(-5.6 42.6, 10.25 -3.5)")
    assert(wkt.getString(1) == "POLYGON((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
    assert(wkt.getBoolean(2) && wkt.getBoolean(3))
    assert(wkt.getString(4) == "POINT(-5.6 42.6)")
    // ST_BOUNDINGBOX: exact min/max folds; ST_MAXDISTANCE: the vertex
    // diameter (exact for vertex carriers — endpoint quasiconvexity)
    val bb = GraftSql.load(spark,
      """SELECT ST_BOUNDINGBOX(ST_MAKELINE(ST_GEOGPOINT(-5.5, 2.25), ST_GEOGPOINT(10.75, -3.5),
        |                                  ST_GEOGPOINT(0.25, 7.0))) AS b,
        |       ST_MAXDISTANCE(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(0, 45)),
        |                      ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(0, -45))) AS m""".stripMargin).head()
    val box = bb.getStruct(0)
    assert(box.getDouble(0) == -5.5 && box.getDouble(1) == -3.5 &&
      box.getDouble(2) == 10.75 && box.getDouble(3) == 7.0)
    // farthest vertices are lat +45 vs -45: a quarter great circle
    assert(math.abs(bb.getDouble(1) - math.Pi * R / 2) < 1e-3)
    // ST_CENTROID: planar shoelace centroid — exact on the quad, and
    // correct on the NON-CONVEX arrow (not the vertex mean)
    val ce = GraftSql.load(spark,
      s"""SELECT ST_X(ST_CENTROID($quad)) AS x, ST_Y(ST_CENTROID($quad)) AS y,
         |       ST_Y(ST_CENTROID($arrow)) AS ay""".stripMargin).head()
    assert(ce.getDouble(0) == 1.0 && ce.getDouble(1) == 1.0)
    // the arrow's mass sits low: centroid y below the 1.8 vertex mean
    assert(ce.getDouble(2) < 1.8 && ce.getDouble(2) > 0.0)
    // ST_SNAPTOGRID: nearest-multiple snap, IEEE-exact fold
    assert(GraftSql.load(spark,
      "SELECT ST_ASTEXT(ST_SNAPTOGRID(ST_MAKELINE(ST_GEOGPOINT(0.3, 1.26), " +
        "ST_GEOGPOINT(-0.3, -1.26)), 0.5)) AS t").head().getString(0) ==
      "LINESTRING(0.5 1.5, -0.5 -1.5)")
    // GeoJSON render on all three carriers + exact point parse
    val gj = GraftSql.load(spark,
      s"""SELECT ST_ASGEOJSON(ST_GEOGPOINT(-5.6, 42.6)) AS p,
         |       ST_ASGEOJSON(ST_MAKELINE(ST_GEOGPOINT(0.5, 1.25), ST_GEOGPOINT(2.75, -3.5))) AS l,
         |       ST_ASGEOJSON($quad) AS po,
         |       ST_X(ST_GEOGFROMGEOJSON(ST_ASGEOJSON(ST_GEOGPOINT(-5.6, 42.6)))) AS rx""".stripMargin).head()
    assert(gj.getString(0) == """{"type":"Point","coordinates":[-5.6,42.6]}""")
    assert(gj.getString(1) == """{"type":"LineString","coordinates":[[0.5,1.25],[2.75,-3.5]]}""")
    assert(gj.getString(2).startsWith("""{"type":"Polygon","coordinates":[[[0.0,0.0],"""))
    assert(gj.getDouble(3) == -5.6)
    intercept[Exception](GraftSql.load(spark,
      """SELECT ST_GEOGFROMGEOJSON('{"type":"LineString","coordinates":[[0,0],[1,1]]}') AS g""")
      .collect())
    // louds: open-ring polygon WKT, holes, degenerate MAKEPOLYGON
    intercept[Exception](GraftSql.load(spark,
      "SELECT ST_POLYGONFROMTEXT('POLYGON((0 0, 1 0, 1 1))') AS g").collect())
    intercept[Exception](GraftSql.load(spark,
      "SELECT ST_POLYGONFROMTEXT('POLYGON((0 0, 4 0, 4 4, 0 0), (1 1, 2 1, 2 2, 1 1))') AS g").collect())
    intercept[Exception](GraftSql.load(spark,
      "SELECT ST_MAKEPOLYGON(ST_MAKELINE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 1))) AS g").collect())
  }

  test("PARSE_NUMERIC / PARSE_BIGNUMERIC and their SAFE forms") {
    val r = GraftSql.load(spark,
      """SELECT PARSE_NUMERIC(' 12.345678901 ') AS a,
        |       PARSE_NUMERIC('1.5e3') AS b,
        |       PARSE_NUMERIC('-0.0000000005') AS c,
        |       PARSE_BIGNUMERIC('0.123456789012345678') AS d,
        |       SAFE.PARSE_NUMERIC('not a number') AS e""".stripMargin).head()
    // NUMERIC scale 9, half away from zero
    assert(r.getDecimal(0).toPlainString == "12.345678901")
    assert(r.getDecimal(1).toPlainString == "1500.000000000")
    assert(r.getDecimal(2).toPlainString == "-0.000000001") // |-5e-10| rounds AWAY
    assert(r.getDecimal(3).toPlainString == "0.123456789012345678")
    assert(r.isNullAt(4))
    intercept[Exception](GraftSql.load(spark,
      "SELECT PARSE_NUMERIC('junk') AS x").collect())
  }

  test("FARM_FINGERPRINT / ML.HASH_BUCKETIZE: FarmHash Fingerprint64 stable hashing") {
    import spark.implicits._
    // the reference implementation's own values (Guava = the
    // open-source FarmHash BigQuery documents): pin a few, plus
    // determinism, the bytes/string split, and null propagation
    def fp(s: String): Long =
      com.google.common.hash.Hashing.farmHashFingerprint64()
        .hashBytes(s.getBytes("UTF-8")).asLong()
    val r = GraftSql.load(spark,
      "SELECT FARM_FINGERPRINT('abc') AS a, FARM_FINGERPRINT('') AS e, " +
        "FARM_FINGERPRINT(CAST('abc' AS BINARY)) AS ab, " +
        "FARM_FINGERPRINT(CAST(NULL AS STRING)) AS n").head()
    assert(r.getLong(0) == fp("abc"))
    assert(r.getLong(1) == fp(""))
    assert(r.getLong(2) == r.getLong(0), "bytes and the string's UTF-8 agree")
    assert(r.isNullAt(3))
    // the stable-sampling idiom partitions rows deterministically
    Seq.tabulate(100)(i => (i.toLong, s"id-$i")).toDF("id", "s")
      .createOrReplaceTempView("ff_t")
    val counts = GraftSql.load(spark,
      """SELECT MOD(ABS(FARM_FINGERPRINT(s)), 4) AS b, COUNT(*) AS n
        |FROM ff_t GROUP BY b ORDER BY b""".stripMargin).collect()
    assert(counts.map(_.getLong(1)).sum == 100L && counts.length == 4)
    val again = GraftSql.load(spark,
      """SELECT MOD(ABS(FARM_FINGERPRINT(s)), 4) AS b, COUNT(*) AS n
        |FROM ff_t GROUP BY b ORDER BY b""".stripMargin).collect()
    assert(counts.map(_.getLong(1)).toSeq == again.map(_.getLong(1)).toSeq)
    // hash bucketize: every bucket in [0, n), stable
    val hb = GraftSql.load(spark,
      "SELECT ML.HASH_BUCKETIZE(s, 7) AS b FROM ff_t").collect().map(_.getLong(0))
    assert(hb.forall(b => b >= 0 && b < 7))
    assert(hb.distinct.length > 1)
  }

  test("ML.NGRAMS: per-row n-gram pipelines over token arrays") {
    import spark.implicits._
    Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("x")), (3L, Seq.empty[String]))
      .toDF("id", "toks").createOrReplaceTempView("ng_t")
    def grams(expr: String, id: Long): Seq[String] =
      GraftSql.load(spark, s"SELECT $expr AS g FROM ng_t WHERE id = $id")
        .head().getSeq[String](0)
    assert(grams("ML.NGRAMS(toks, [2])", 1L) == Seq("a b", "b c", "c d"))
    assert(grams("ML.NGRAMS(toks, [1, 2], '_')", 1L) ==
      Seq("a", "b", "c", "d", "a_b", "b_c", "c_d"))
    assert(grams("ML.NGRAMS(toks, [2, 3], '-')", 1L) ==
      Seq("a-b", "b-c", "c-d", "a-b-c", "b-c-d"))
    // shorter-than-n inputs contribute nothing, never error
    assert(grams("ML.NGRAMS(toks, [2, 3])", 2L) == Seq.empty)
    assert(grams("ML.NGRAMS(toks, [1])", 3L) == Seq.empty)
    // the plan stays per-row: no Generate/explode in the pipeline
    val plan = GraftSql.load(spark,
      "SELECT ML.NGRAMS(toks, [2]) AS g FROM ng_t").queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"n-grams must not explode:\n$plan")
  }

  test("round-11 rewrites never touch string literals or identifier lookalikes") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "g").createOrReplaceTempView("lit_t")
    // QUALIFY inside a string literal is data, not a clause
    assert(GraftSql.load(spark, "SELECT 'use QUALIFY rn = 1 here' AS s FROM lit_t")
      .head().getString(0) == "use QUALIFY rn = 1 here")
    // OVER ( inside a string with a WINDOW clause in the statement
    val s2 = GraftSql.load(spark,
      """SELECT 'OVER (w ORDER BY x)' AS s, COUNT(*) OVER w AS n FROM lit_t
        |WINDOW w AS (PARTITION BY g)""".stripMargin).head()
    assert(s2.getString(0) == "OVER (w ORDER BY x)" && s2.getLong(1) == 1L)
    // GENERATE_ARRAY with a fractional literal inside a STRING arg of
    // another function stays untouched
    assert(GraftSql.load(spark, "SELECT 'GENERATE_ARRAY(0.0, 1.0, 0.5)' AS s")
      .head().getString(0) == "GENERATE_ARRAY(0.0, 1.0, 0.5)")
    // a column named qualify_flag is not the QUALIFY keyword
    Seq((1L, true)).toDF("id", "qualify_flag").createOrReplaceTempView("lit_t2")
    assert(GraftSql.load(spark, "SELECT qualify_flag FROM lit_t2").head().getBoolean(0))
    // COMMENTS are stripped before the rewrites: keywords inside them
    // can no longer trigger anything, and strings survive intact
    val c = GraftSql.load(spark,
      """SELECT id, -- use QUALIFY rn = 1 and GENERATE_ARRAY(0.0, 1.0) here
        |       /* ML.IMPUTER(v, 'mean') OVER () */
        |       'keep -- this /* and */ this' AS s
        |FROM lit_t""".stripMargin).head()
    assert(c.getLong(0) == 1L)
    assert(c.getString(1) == "keep -- this /* and */ this")
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT 1 /* unterminated")
    }.getMessage.contains("unterminated"))
  }

  test("Spark-lexed literals, comments and hints are opaque to the dialect passes") {
    def one(sql: String): String = GraftSql.load(spark, sql).head().getString(0)
    // double-quoted and backslash-escaped literals keep their content
    assert(one("SELECT \"COUNTIF(x > 1)\" AS msg") == "COUNTIF(x > 1)")
    assert(one("""SELECT 'don\'t COUNTIF(x > 1)' AS msg""") == "don't COUNTIF(x > 1)")
    assert(one("""SELECT r'a\' AS msg""") == "a\\")
    // a quote inside them no longer desynchronizes the QUALIFY scan
    for (lit <- Seq("\"it's\"", """'it\'s'""")) {
      val rows = GraftSql.load(spark, s"SELECT $lit AS a, x FROM VALUES (1),(2) AS t(x) " +
        "QUALIFY ROW_NUMBER() OVER (ORDER BY x) = 1").collect()
      assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("it's", 1)), lit)
    }
    // hints steer the plan exactly as through spark.sql
    val hinted = "SELECT /*+ REPARTITION(3) */ x FROM VALUES (1),(2) AS t(x)"
    assert(GraftSql.load(spark, hinted).rdd.getNumPartitions == 3)
    assert(spark.sql(hinted).rdd.getNumPartitions == 3)
    // nested block comments nest, as Spark's lexer nests them
    assert(GraftSql.load(spark, "SELECT /* a /* b */ c */ 1 AS one").head().getInt(0) == 1)
    // a bracket inside a literal does not break the operand capture of
    // IN UNNEST and SAFE_OFFSET
    assert(GraftSql.load(spark,
      "SELECT concat(')', 'x') IN UNNEST(array(')x', 'y')) AS a").head().getBoolean(0))
    assert(one("SELECT split(')a', ')')[SAFE_OFFSET(1)] AS b") == "a")
  }

  test("inline OVER (w ...) refinement: merges with the named base; same composition louds") {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("id", "g", "v")
      .createOrReplaceTempView("winl_t")
    // inline ORDER BY against an order-less base, plus a bare OVER (w)
    // (native Spark) reading the same base in the same statement
    val r = GraftSql.load(spark,
      """SELECT id, RANK() OVER (w ORDER BY id DESC) AS rk, COUNT(*) OVER (w) AS n
        |FROM winl_t
        |WINDOW w AS (PARTITION BY g)
        |ORDER BY id""".stripMargin).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 2, 2L), (2L, 1, 2L), (3L, 1, 1L)))
    // inline FRAME against a chained (already-refined) base — the
    // q_range_window shape: wp → wo chain in the clause, frame inline
    val s = GraftSql.load(spark,
      """SELECT id, SUM(v) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |FROM winl_t
        |WINDOW wp AS (PARTITION BY g), wo AS (wp ORDER BY id)
        |ORDER BY id""".stripMargin).collect().map(_.getDouble(1)).toSeq
    assert(s == Seq(10.0, 30.0, 30.0))
    // the OVER site may precede the WINDOW clause textually AND be
    // inside a QUALIFY-less subquery — both directions of the scan
    val sub = GraftSql.load(spark,
      """SELECT MAX(rk) AS m FROM (
        |  SELECT RANK() OVER (w ORDER BY v) AS rk FROM winl_t WINDOW w AS (PARTITION BY g))""".stripMargin)
      .collect().head.getInt(0)
    assert(sub == 2)
    def badw(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(badw("""SELECT id, RANK() OVER (w PARTITION BY id ORDER BY v) AS rk FROM winl_t
        |WINDOW w AS (PARTITION BY g)""".stripMargin)
      .contains("PARTITION BY"))
    assert(badw("""SELECT id, RANK() OVER (w ORDER BY v) AS rk FROM winl_t
        |WINDOW w AS (PARTITION BY g ORDER BY id)""".stripMargin)
      .contains("already has one"))
    assert(badw("""SELECT id, SUM(v) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM winl_t
        |WINDOW w AS (ORDER BY id ROWS UNBOUNDED PRECEDING)""".stripMargin)
      .contains("frame"))
  }

  test("GraftSql scalar/EXISTS subqueries over UNNEST: COUNT/MAX/MIN/EXISTS as HOFs, table forms untouched") {
    import spark.implicits._
    Seq((1L, Seq(3, 1, 4)), (2L, Seq.empty[Int])).toDF("id", "xs")
      .createOrReplaceTempView("scsub_t")
    val r = GraftSql.load(spark,
      """SELECT id,
        |  (SELECT COUNT(*) FROM UNNEST(xs) AS x WHERE x > 1) AS n_big,
        |  (SELECT COUNT(x) FROM UNNEST(xs) AS x) AS n_all,
        |  (SELECT MAX(x * 10) FROM UNNEST(xs) AS x) AS mx,
        |  (SELECT MIN(x) FROM UNNEST(xs) AS x WHERE x > 1) AS mn,
        |  EXISTS(SELECT 1 FROM UNNEST(xs) AS x WHERE x = 4) AS has4,
        |  NOT EXISTS(SELECT 1 FROM UNNEST(xs) AS x WHERE x = 9) AS no9
        |FROM scsub_t ORDER BY id""".stripMargin).collect()
    assert(r(0).getLong(1) == 2L && r(0).getLong(2) == 3L)
    assert(r(0).getInt(3) == 40 && r(0).getInt(4) == 3)
    assert(r(0).getBoolean(5) && r(0).getBoolean(6))
    // empty array: COUNT 0, MAX/MIN NULL, EXISTS false
    assert(r(1).getLong(1) == 0L && r(1).isNullAt(3) && !r(1).getBoolean(5))
    // NULL array follows BigQuery's empty-on-NULL rule: COUNT 0 (not
    // NULL) and EXISTS FALSE (not NULL) even under ANSI size(NULL)=NULL
    Seq((1L, null.asInstanceOf[Seq[Int]])).toDF("id", "xs")
      .createOrReplaceTempView("scsub_null")
    val nu = GraftSql.load(spark,
      """SELECT
        |  (SELECT COUNT(*) FROM UNNEST(xs) AS x) AS n_star,
        |  (SELECT COUNT(x) FROM UNNEST(xs) AS x) AS n_x,
        |  EXISTS(SELECT 1 FROM UNNEST(xs) AS x WHERE x = 4) AS hs
        |FROM scsub_null""".stripMargin).collect().head
    assert(nu.getLong(0) == 0L && nu.getLong(1) == 0L && !nu.getBoolean(2),
      s"NULL array must read as empty: $nu")
    // a scalar subquery over a TABLE passes through to Catalyst untouched
    val t = GraftSql.load(spark,
      "SELECT (SELECT COUNT(*) FROM scsub_t) AS n").collect().head
    assert(t.getLong(0) == 2L)
    // a derived table over a plain SELECT is untouched too
    val d = GraftSql.load(spark,
      "SELECT SUM(i) AS s FROM (SELECT id AS i FROM scsub_t) sub").collect().head
    assert(d.getLong(0) == 3L)
  }

  test("GraftSql SELECT AS STRUCT: struct-element arrays, scalar struct subqueries, inline constructor, louds") {
    import spark.implicits._
    Seq((1L, Seq(3, 1, 4)), (2L, Seq.empty[Int])).toDF("id", "xs")
      .createOrReplaceTempView("asst_t")
    val r = GraftSql.load(spark,
      """SELECT id,
        |  ARRAY(SELECT AS STRUCT x AS v, x * 10 AS t
        |        FROM UNNEST(xs) AS x WHERE x > 1 ORDER BY x) AS recs,
        |  (SELECT AS STRUCT x AS v, x * 2 AS d FROM UNNEST(xs) AS x WHERE x = 4) AS one,
        |  (SELECT AS STRUCT id AS i, id * 3 AS t) AS inline
        |FROM asst_t ORDER BY id""".stripMargin).collect()
    val recs = r(0).getSeq[org.apache.spark.sql.Row](1)
    assert(recs.map(x => (x.getInt(0), x.getInt(1))) == Seq((3, 30), (4, 40)), s"got $recs")
    assert(r(0).getStruct(2).getInt(0) == 4 && r(0).getStruct(2).getInt(1) == 8)
    assert(r(0).getStruct(3).getLong(0) == 1L && r(0).getStruct(3).getLong(1) == 3L)
    // empty array: empty struct array, NULL scalar struct
    assert(r(1).getSeq[org.apache.spark.sql.Row](1).isEmpty && r(1).isNullAt(2))
    // field access composes on the rewritten scalar form
    val f = GraftSql.load(spark,
      "SELECT (SELECT AS STRUCT x AS v FROM UNNEST(xs) AS x WHERE x = 3).v AS v3 " +
        "FROM asst_t WHERE id = 1").collect().head
    assert(f.getInt(0) == 3)
    // a bare identifier contributes its own name as the field name
    val b = GraftSql.load(spark,
      "SELECT ARRAY(SELECT AS STRUCT x, x + 1 AS nxt FROM UNNEST(xs) AS x WHERE x = 1) AS a " +
        "FROM asst_t WHERE id = 1")
    assert(b.schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("x", "nxt"))
    assert(b.collect().head.getSeq[org.apache.spark.sql.Row](0).head.getInt(0) == 1)
    // BigQuery's scalar-subquery cardinality contract: >1 element is loud
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " | " + msgs(t.getCause)
    val e = intercept[Exception] {
      GraftSql.load(spark,
        "SELECT (SELECT AS STRUCT x AS v FROM UNNEST(xs) AS x WHERE x > 1) AS s " +
          "FROM asst_t WHERE id = 1").collect()
    }
    assert(msgs(e).contains("more than one element"), s"got: $e")
    // louds: AS STRUCT * and an unnamed expression field
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT ARRAY(SELECT AS STRUCT * FROM UNNEST(xs) AS x) AS a FROM asst_t")
    }.getMessage.contains("name the fields"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT ARRAY(SELECT AS STRUCT x + 1 FROM UNNEST(xs) AS x) AS a FROM asst_t")
    }.getMessage.contains("needs a name"))
  }

  test("GraftSql NET.HOST: best-effort host extraction; REG_DOMAIN/PUBLIC_SUFFIX resolve via the PSL snapshot") {
    val r = GraftSql.load(spark,
      "SELECT NET.HOST('https://User@Sub.Example.COM:8080/p?q=1') AS a, " +
        "NET.HOST('//example.com/path') AS b, " +
        "NET.HOST('www.example.com/path') AS c, " +
        "NET.HOST('mailto:person@example.org') AS d, " +
        "NET.HOST('') AS e").collect().head
    assert(r.getString(0) == "sub.example.com")
    assert(r.getString(1) == "example.com")
    assert(r.getString(2) == "www.example.com")
    assert(r.getString(3) == "example.org")
    assert(r.isNullAt(4))
    // PSL resolution: longest-match ccSLD, wildcard, exception, and the
    // NULL contract (a host that IS a suffix has nothing registered).
    val d = GraftSql.load(spark,
      "SELECT NET.REG_DOMAIN('http://a.example.co.uk') AS rd, " +
        "NET.PUBLIC_SUFFIX('http://a.example.co.uk') AS ps, " +
        "NET.REG_DOMAIN('http://a.b.ck') AS wild, " +        // *.ck → b.ck is the suffix
        "NET.REG_DOMAIN('http://www.ck') AS exc, " +          // !www.ck exception → suffix ck
        "NET.REG_DOMAIN('http://co.uk') AS bare, " +          // host IS a suffix → NULL
        "NET.REG_DOMAIN('http://192.168.0.1/x') AS ip")       // IP literal → NULL
      .collect().head
    assert(d.getString(0) == "example.co.uk")
    assert(d.getString(1) == "co.uk")
    assert(d.getString(2) == "a.b.ck")
    assert(d.getString(3) == "www.ck")
    assert(d.isNullAt(4))
    assert(d.isNullAt(5))
  }

  test("GraftSql KLL_QUANTILES family: typed sketches, partial-merge law, point/array reads, louds") {
    import spark.implicits._
    Seq((0, 1L), (0, 2L), (0, 3L), (1, 4L), (1, 5L), (1, 6L), (1, 7L))
      .toDF("g", "x").createOrReplaceTempView("kll_t")
    // per-group INIT, then the merge law: reading the merged partials
    // equals reading the union (exact regime — every sample kept)
    val m = GraftSql.load(spark,
      """WITH p AS (SELECT g, KLL_QUANTILES.INIT_INT64(x, 1000) AS sk FROM kll_t GROUP BY g)
        |SELECT KLL_QUANTILES.MERGE_POINT_INT64(sk, 0.5) AS med,
        |       KLL_QUANTILES.EXTRACT_POINT_INT64(KLL_QUANTILES.MERGE_PARTIAL(sk), 0) AS lo,
        |       KLL_QUANTILES.MERGE_INT64(sk, 2) AS qs FROM p""".stripMargin)
      .collect().head
    assert(m.getLong(0) == 4L && m.getLong(1) == 1L)
    assert(m.getSeq[Long](2) == Seq(1L, 4L, 7L))
    // per-group point reads straight off the INIT sketch
    val per = GraftSql.load(spark,
      """WITH p AS (SELECT g, KLL_QUANTILES.INIT_INT64(x) AS sk FROM kll_t GROUP BY g)
        |SELECT g, KLL_QUANTILES.EXTRACT_POINT_INT64(sk, 1e0) AS mx FROM p ORDER BY g""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(per == Seq((0, 3L), (1, 7L)))
    // FLOAT64 route returns doubles
    val f = GraftSql.load(spark,
      """SELECT KLL_QUANTILES.EXTRACT_POINT_FLOAT64(
        |  KLL_QUANTILES.INIT_FLOAT64(x / 2), 0.5) AS med FROM kll_t""".stripMargin)
      .collect().head.getDouble(0)
    assert(f == 2.0)
    // louds: typed sketches don't cross-read, precision range, verbs
    def root(t: Throwable): Throwable = if (t.getCause == null) t else root(t.getCause)
    val mism = intercept[Exception] {
      GraftSql.load(spark,
        """SELECT KLL_QUANTILES.EXTRACT_POINT_FLOAT64(
          |  KLL_QUANTILES.INIT_INT64(x), 0.5) AS v FROM kll_t""".stripMargin).collect()
    }
    assert(root(mism).getMessage.contains("typed"))
    val prec = intercept[Exception] {
      GraftSql.load(spark, "SELECT KLL_QUANTILES.INIT_INT64(x, 7) AS s FROM kll_t").collect()
    }
    assert(root(prec).getMessage.contains("16..65536"))
    // an unknown verb never matches the rewrite names and fails TYPED
    // at analysis (unresolved function naming the spelling)
    val verb = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.load(spark, "SELECT KLL_QUANTILES.FROBNICATE(x) AS s FROM kll_t")
    }
    assert(verb.getMessage.toUpperCase.contains("FROBNICATE"))
  }

  test("GraftSql RANGE_BUCKET: boundary count semantics, literal arrays, NULL point") {
    import spark.implicits._
    Seq((0, 5), (1, 10), (2, 25), (3, 35), (4, 9)).toDF("i", "x")
      .createOrReplaceTempView("rb_t")
    // below-first → 0; on a boundary → next bucket (half-open rule);
    // past-last → array length
    val r = GraftSql.load(spark,
      "SELECT i, RANGE_BUCKET(x, [10, 20, 30]) AS b FROM rb_t ORDER BY i")
      .collect().map(_.getLong(1)).toSeq
    assert(r == Seq(0L, 1L, 2L, 3L, 0L))
    // NULL point → NULL; expression arrays work too
    val n = GraftSql.load(spark,
      "SELECT RANGE_BUCKET(CAST(NULL AS INT), [1, 2]) AS b, " +
        "RANGE_BUCKET(15, array(10, 20)) AS b2").collect().head
    assert(n.isNullAt(0) && n.getLong(1) == 1L)
    val e = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT RANGE_BUCKET(x) AS b FROM rb_t")
    }
    assert(e.getMessage.contains("boundaries"))
  }

  test("GraftSql HLL_COUNT family: partial sketches merge exactly in the sparse regime, louds") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (4L, "b"), (5L, "b"))
      .toDF("uid", "g").createOrReplaceTempView("hll_t")
    // per-group EXTRACT and cross-group MERGE / MERGE_PARTIAL→EXTRACT:
    // sparse-mode sketches are exact, and sketches of {1,2} and
    // {3,4,5} union to 5 — the mergeability law itself
    val per = GraftSql.load(spark,
      """WITH p AS (SELECT g, HLL_COUNT.INIT(uid) AS sk FROM hll_t GROUP BY g)
        |SELECT g, HLL_COUNT.EXTRACT(sk) AS n FROM p ORDER BY g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(per == Seq(("a", 2L), ("b", 3L)))
    val merged = GraftSql.load(spark,
      """WITH p AS (SELECT g, HLL_COUNT.INIT(uid) AS sk FROM hll_t GROUP BY g)
        |SELECT HLL_COUNT.MERGE(sk) AS n,
        |       HLL_COUNT.EXTRACT(HLL_COUNT.MERGE_PARTIAL(sk)) AS n2 FROM p""".stripMargin)
      .collect().head
    assert(merged.getLong(0) == 5L && merged.getLong(1) == 5L)
    // precision passes through as lgConfigK (aggregates cannot nest —
    // BigQuery's own rule — so INIT lives in the subquery)
    assert(GraftSql.load(spark,
      "SELECT HLL_COUNT.MERGE(sk) AS n FROM " +
        "(SELECT g, HLL_COUNT.INIT(uid, 14) AS sk FROM hll_t GROUP BY g)")
      .collect().head.getLong(0) == 5L)
    // louds: BigQuery's 22..24 precision tail, arity
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("SELECT HLL_COUNT.INIT(uid, 24) AS s FROM hll_t").contains("21"))
    assert(bad("SELECT HLL_COUNT.MERGE(uid, 2) AS n FROM hll_t").contains("sketch"))
  }

  test("vector distance SQL spellings: registry functions match the native Column API") {
    import spark.implicits._
    val a = Seq(1.0f, 2.0f, 2.0f)
    val b = Seq(2.0f, 1.0f, 2.0f)
    // BigQuery's scalar spellings resolve in plain SQL (any arg type
    // castable to float vectors) and equal the native expressions
    val r = spark.sql(
      "SELECT COSINE_DISTANCE(array(1.0, 2.0, 2.0), array(2.0, 1.0, 2.0)) AS c, " +
        "EUCLIDEAN_DISTANCE(array(1.0, 2.0, 2.0), array(2.0, 1.0, 2.0)) AS e").collect().head
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    assert(r.getDouble(0) == 1.0 - dot / (na * nb))
    assert(r.getDouble(1) == math.sqrt(a.zip(b).map { case (x, y) =>
      (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum))
    // Column-API parity on a real frame
    val df = Seq((a, b)).toDF("va", "vb")
    val both = df.select(
      graft.functions.native.vec_distance(F.col("va"), F.col("vb"), "cosine").as("n"),
      F.expr("cosine_distance(va, vb)").as("s")).collect().head
    assert(both.getDouble(0) == both.getDouble(1))
    // arity is loud
    assert(intercept[Exception] {
      spark.sql("SELECT COSINE_DISTANCE(array(1.0)) AS c").collect()
    }.getMessage.contains("2 vector arguments"))
  }

  test("GraftSql function batch 2: TRUNC arg order, SPLIT literal, EDIT_DISTANCE cap, NORMALIZE") {
    import spark.implicits._
    def one(sql: String) = GraftSql.load(spark, sql).collect().head
    // TIMESTAMP_TRUNC/DATE_TRUNC: BigQuery's (value, unit) order with
    // typed results; Spark's own ('unit', value) passes through
    val t = one("SELECT TIMESTAMP_TRUNC(TIMESTAMP'2024-03-15 13:47:11', HOUR) AS h, " +
      "DATE_TRUNC(DATE'2024-03-15', MONTH) AS m, " +
      "date_trunc('HOUR', TIMESTAMP'2024-03-15 13:47:11') AS sp")
    assert(t.getTimestamp(0).toString == "2024-03-15 13:00:00.0")
    assert(t.getDate(1).toString == "2024-03-01")
    assert(t.getTimestamp(2) == t.getTimestamp(0))
    // SPLIT: the 2-arg literal form takes BigQuery LITERAL-delimiter
    // semantics — '|' and '.' are the divergence cases vs Spark's
    // regex split; regex splitting stays on the 3-arg form
    val sp = one("SELECT SPLIT('a|b|c', '|') AS p, SPLIT('x.y', '.') AS q, " +
      "SPLIT('a,b') AS r, split('a1b2c', '[0-9]', -1) AS s, split('a b', '\\\\s+', -1) AS u")
    assert(sp.getSeq[String](0) == Seq("a", "b", "c"))
    assert(sp.getSeq[String](1) == Seq("x", "y"))
    assert(sp.getSeq[String](2) == Seq("a", "b"))
    assert(sp.getSeq[String](3) == Seq("a", "b", "c"))
    assert(sp.getSeq[String](4) == Seq("a", "b"))
    // EDIT_DISTANCE: exact, and the max_distance form CAPS at max
    val ed = one("SELECT EDIT_DISTANCE('kitten', 'sitting') AS d, " +
      "EDIT_DISTANCE('kitten', 'sitting', 2) AS dc, " +
      "EDIT_DISTANCE('kitten', 'sitting', max_distance => 10) AS dn")
    assert(ed.getInt(0) == 3 && ed.getInt(1) == 2 && ed.getInt(2) == 3)
    // NORMALIZE / NORMALIZE_AND_CASEFOLD: keyword forms, casefold
    // catches the sharp s; CONTAINS_SUBSTR is the NFKC-casefold check
    val n = one("SELECT NORMALIZE('a\\u0301') AS nfc, NORMALIZE('\\ufb01', NFKC) AS lig, " +
      "NORMALIZE_AND_CASEFOLD('Gro\\u00dfe') AS cf, " +
      "CONTAINS_SUBSTR('The GROSSE house', 'grosse') AS cs, " +
      "CONTAINS_SUBSTR('abc', 'zz') AS no")
    assert(n.getString(0) == "\u00e1" && n.getString(1) == "fi")
    assert(n.getString(2) == "grosse")
    assert(n.getBoolean(3) && !n.getBoolean(4))
    // ARRAY_FIRST/ARRAY_LAST/ARRAY_CONCAT/TO_JSON_STRING
    val a = one("SELECT ARRAY_FIRST(array(7, 8, 9)) AS f, ARRAY_LAST(array(7, 8, 9)) AS l, " +
      "ARRAY_CONCAT(array(1), array(2, 3)) AS c, " +
      "TO_JSON_STRING(named_struct('a', 1, 'b', 'x')) AS j")
    assert(a.getInt(0) == 7 && a.getInt(1) == 9)
    assert(a.getSeq[Int](2) == Seq(1, 2, 3))
    assert(a.getString(3) == """{"a":1,"b":"x"}""")
    // WEEK truncation is Sunday-start arithmetic now; SPLIT '' stays loud
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(GraftSql.load(spark,
      "SELECT TIMESTAMP_TRUNC(TIMESTAMP '2024-01-06 10:00:00', WEEK) AS w")
      .head().getTimestamp(0).toString.startsWith("2023-12-31 00:00:00"))
    assert(bad("SELECT SPLIT('ab', '') AS s").contains("non-empty"))
  }

  test("GraftSql SAFE. prefix: CAST/arithmetic/parse forms NULL on error, qualifiers untouched") {
    import spark.implicits._
    def one(sql: String) = GraftSql.load(spark, sql).collect().head
    // SAFE.CAST → TRY_CAST with the BigQuery type mapped in the cast
    // type position; SAFE.DIVIDE → try_divide
    val r = one("SELECT SAFE.CAST('abc' AS INT64) AS a, SAFE.CAST('7' AS INT64) AS b, " +
      "SAFE.DIVIDE(1.0, 0.0) AS c, SAFE.MULTIPLY(3, 4) AS d")
    assert(r.isNullAt(0) && r.getLong(1) == 7L && r.isNullAt(2) && r.getInt(3) == 12)
    // SAFE.PARSE_DATE/TIMESTAMP: NULL on unparseable, value on parseable
    val p = one("SELECT SAFE.PARSE_DATE('%Y-%m-%d', 'not a date') AS a, " +
      "SAFE.PARSE_DATE('%Y-%m-%d', '2024-07-04') AS b, " +
      "SAFE.PARSE_TIMESTAMP('%Y-%m-%d %H:%M:%S', 'nope') AS c")
    assert(p.isNullAt(0) && p.getDate(1).toString == "2024-07-04" && p.isNullAt(2))
    // the plain (non-SAFE) statement-level SAFE_CAST spelling works too
    val s2 = one("SELECT SAFE_CAST('x' AS BOOL) AS a")
    assert(s2.isNullAt(0))
    // a `safe` QUALIFIER is not a SAFE. call — only name( rewrites
    Seq((1L, 2L)).toDF("x", "y").createOrReplaceTempView("safe")
    assert(one("SELECT safe.x FROM safe").getLong(0) == 1L)
    // unsupported SAFE. functions are loud with the supported list
    val e = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT SAFE.SUBSTR('abc', 1, 2) AS s")
    }
    assert(e.getMessage.contains("drop the prefix"))
  }

  test("GROUP BY ALL is native Spark surface through load") {
    import spark.implicits._
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v").createOrReplaceTempView("gba_t")
    val r = GraftSql.load(spark,
      "SELECT g, SUM(v) AS s FROM gba_t GROUP BY ALL ORDER BY g").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq == Seq(("a", 3L), ("b", 3L)))
  }

  test("PIVOT/UNPIVOT SQL spellings are native Spark surface through load") {
    import spark.implicits._
    Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L))
      .toDF("g", "c", "v").createOrReplaceTempView("pv_t")
    // BigQuery's PIVOT shape parses and computes natively
    val p = GraftSql.load(spark,
      "SELECT * FROM (SELECT g, c, v FROM pv_t) PIVOT (SUM(v) FOR c IN ('x', 'y')) ORDER BY g")
      .collect()
    assert(p.map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq == Seq(("a", 1L, 2L), ("b", 3L, -1L)))
    // and UNPIVOT (BigQuery's column-to-rows verb) — Spark 4 native
    val u = GraftSql.load(spark,
      "SELECT g, name, val FROM (SELECT g, SUM(v) AS s1, MAX(v) AS s2 FROM pv_t GROUP BY g) " +
        "UNPIVOT (val FOR name IN (s1, s2)) ORDER BY g, name").collect()
    assert(u.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", "s1", 3L), ("a", "s2", 2L), ("b", "s1", 3L), ("b", "s2", 3L)))
  }

  test("GraftSql CREATE SEARCH INDEX: postings view lifecycle, query parity, louds") {
    import spark.implicits._
    Seq((1L, "slow fast x"), (2L, "fast slow fast"), (3L, "slow"))
      .toDF("doc_id", "text").createOrReplaceTempView("si_t")
    GraftSql.load(spark, "CREATE SEARCH INDEX si_idx ON si_t (doc_id, text)")
    // the index IS a queryable postings view: phrase adjacency by join
    val r = GraftSql.load(spark,
      """SELECT p0.doc_id AS doc_id, COUNT(*) AS n
        |FROM si_idx p0 JOIN si_idx p1
        |  ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 AND p1.token = 'fast'
        |WHERE p0.token = 'slow'
        |GROUP BY p0.doc_id ORDER BY doc_id""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((1L, 1L), (2L, 1L)))
    // the operator read-half agrees with the direct corpus scan
    val viaIdx = graft.operators.InvertedIndex.phraseFromPostings(
        spark.table("si_idx"), Seq("slow", "fast"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(viaIdx == Map(1L -> 1L, 2L -> 1L))
    // analyzers (round 12): the statement default is LOG_ANALYZER —
    // non-alphanumeric-run tokens, exactly SEARCH()'s analyzer — and
    // NO_OP_ANALYZER indexes the whole value as one term
    Seq((1L, "Fast-Track: alpha!"), (2L, "fast track"), (3L, "alpha"))
      .toDF("doc_id", "text").createOrReplaceTempView("si_an")
    GraftSql.load(spark,
      "CREATE SEARCH INDEX si_log ON si_an (doc_id, text) OPTIONS(analyzer = 'LOG_ANALYZER')")
    val logToks = GraftSql.load(spark,
      "SELECT token FROM si_log WHERE doc_id = 1 ORDER BY pos").collect().map(_.getString(0))
    assert(logToks.toSeq == Seq("fast", "track", "alpha"))
    // indexed containment == the SEARCH() scalar, punctuation included
    val viaIdxLog = graft.operators.InvertedIndex.searchFromPostings(
      spark.table("si_log"), Seq("fast", "track")).collect().map(_.getLong(0)).toSet
    val viaFn = GraftSql.load(spark,
      "SELECT doc_id FROM si_an WHERE SEARCH(text, 'fast track')")
      .collect().map(_.getLong(0)).toSet
    assert(viaIdxLog == viaFn && viaIdxLog == Set(1L, 2L))
    GraftSql.load(spark,
      "CREATE SEARCH INDEX si_noop ON si_an (doc_id, text) OPTIONS(analyzer = 'NO_OP_ANALYZER')")
    val noop = GraftSql.load(spark,
      "SELECT doc_id FROM si_noop WHERE token = 'Fast-Track: alpha!'").collect()
    assert(noop.map(_.getLong(0)).toSeq == Seq(1L))
    GraftSql.load(spark, "DROP SEARCH INDEX si_log")
    GraftSql.load(spark, "DROP SEARCH INDEX si_noop")
    // dispositions + teardown (BigQuery's ON-table drop form accepted)
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("CREATE SEARCH INDEX si_an2 ON si_an (doc_id, text) " +
      "OPTIONS(analyzer = 'PATTERN_ANALYZER')").contains("not supported"))
    assert(bad("CREATE SEARCH INDEX si_an2 ON si_an (doc_id, text) " +
      "OPTIONS(analyzer_options = '{}')").contains("analyzer_options"))
    assert(bad("CREATE SEARCH INDEX si_idx ON si_t (doc_id, text)").contains("already exists"))
    GraftSql.load(spark, "CREATE SEARCH INDEX IF NOT EXISTS si_idx ON si_t (doc_id, text)")
    GraftSql.load(spark, "DROP SEARCH INDEX si_idx ON si_t")
    assert(bad("DROP SEARCH INDEX si_idx").contains("no such index"))
    GraftSql.load(spark, "DROP SEARCH INDEX IF EXISTS si_idx")
    assert(bad("CREATE SEARCH INDEX bad_idx ON si_t (text)").contains("row-key"))
  }

  test("GraftSql BQML: CREATE MODEL kmeans, ML.PREDICT, ML.DISTANCE, DROP MODEL, dispositions") {
    import spark.implicits._
    Seq((0L, Seq(0, 0)), (1L, Seq(10, 10)), (2L, Seq(1, 0)),
      (3L, Seq(11, 10)), (4L, Seq(0, 1)), (5L, Seq(10, 11)))
      .toDF("id", "feat").createOrReplaceTempView("ml_t")
    GraftSql.load(spark,
      "CREATE MODEL ml_m OPTIONS(model_type = 'kmeans', num_clusters = 2, " +
        "max_iterations = 5) AS SELECT id, feat FROM ml_t")
    // PREDICT over a query: input columns pass through, centroid_id is
    // 1-based, assignment matches the library operator
    val p = GraftSql.load(spark,
      "SELECT id, centroid_id, centroid_distance " +
        "FROM ML.PREDICT(MODEL ml_m, (SELECT id, feat FROM ml_t)) ORDER BY id").collect()
    assert(p.map(_.getLong(1)).toSeq == Seq(1L, 2L, 1L, 2L, 1L, 2L))
    val lib = graft.operators.Clustering.kmeansAssign(
      Seq((0L, Seq(0, 0)), (1L, Seq(10, 10)), (2L, Seq(1, 0)),
        (3L, Seq(11, 10)), (4L, Seq(0, 1)), (5L, Seq(10, 11))).toDF("id", "v"),
      k = 2, iters = 5, idCol = "id", vecCol = "v").orderBy("id").collect()
    assert(p.map(_.getDouble(2)).toSeq == lib.map(_.getDouble(2)).toSeq)
    // TABLE input form; extra columns pass through
    val p2 = GraftSql.load(spark,
      "SELECT * FROM ML.PREDICT(MODEL ml_m, TABLE ml_t) ORDER BY id")
    assert(p2.columns.sorted.toSeq ==
      Seq("centroid_distance", "centroid_id", "feat", "id"))
    // ML.CENTROIDS dumps model state: k × dim rows, 1-based ids/positions
    val cents = GraftSql.load(spark,
      "SELECT * FROM ML.CENTROIDS(MODEL ml_m) ORDER BY centroid_id, feature").collect()
    assert(cents.length == 2 * 2)
    assert(cents.map(_.getInt(0)).toSeq == Seq(1, 1, 2, 2))
    assert(cents.map(_.getInt(1)).toSeq == Seq(1, 2, 1, 2))
    // dispositions: bare duplicate raises, IF NOT EXISTS no-ops,
    // OR REPLACE swaps
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("CREATE MODEL ml_m OPTIONS(model_type = 'kmeans', num_clusters = 2) " +
      "AS SELECT id, feat FROM ml_t").contains("already exists"))
    GraftSql.load(spark, "CREATE MODEL IF NOT EXISTS ml_m OPTIONS(model_type = 'kmeans', " +
      "num_clusters = 3) AS SELECT id, feat FROM ml_t")
    GraftSql.load(spark, "CREATE OR REPLACE MODEL ml_m OPTIONS(model_type = 'kmeans', " +
      "num_clusters = 3, max_iterations = 1) AS SELECT id, feat FROM ml_t")
    val p3 = GraftSql.load(spark,
      "SELECT max(centroid_id) AS m FROM ML.PREDICT(MODEL ml_m, TABLE ml_t)")
    assert(p3.collect().head.getLong(0) == 3L)
    // ML.DISTANCE spellings route to the registry functions
    val d = GraftSql.load(spark,
      "SELECT ML.DISTANCE(array(1.0, 0.0), array(0.0, 1.0), 'EUCLIDEAN') AS e, " +
        "ML.DISTANCE(array(1.0, 0.0), array(1.0, 0.0), 'COSINE') AS c").collect().head
    assert(d.getDouble(0) == math.sqrt(2.0) && d.getDouble(1) == 0.0)
    // ML.EVALUATE: BigQuery's kmeans metrics against hand-computed
    // values (S_i, M_ij, Davies–Bouldin, mean squared distance) —
    // defaulting to the stored TRAINING query when no input is given
    GraftSql.load(spark, "CREATE OR REPLACE MODEL ml_ev OPTIONS(model_type = 'kmeans', " +
      "num_clusters = 2, max_iterations = 5) AS SELECT id, feat FROM ml_t")
    val ev = GraftSql.load(spark,
      "SELECT * FROM ML.EVALUATE(MODEL ml_ev, (SELECT id, feat FROM ml_t))").collect().head
    val sI = (math.sqrt(2.0) + 2 * math.sqrt(5.0)) / 9.0
    val expDb = 2 * sI / (10.0 * math.sqrt(2.0))
    assert(math.abs(ev.getDouble(0) - expDb) < 1e-9, s"db: ${ev.getDouble(0)} vs $expDb")
    assert(math.abs(ev.getDouble(1) - 4.0 / 9.0) < 1e-9)
    val evDefault = GraftSql.load(spark,
      "SELECT * FROM ML.EVALUATE(MODEL ml_ev)").collect().head
    assert(math.abs(evDefault.getDouble(0) - ev.getDouble(0)) < 1e-12)
    // louds: model_type options, float features, missing model, bad metric
    // (logistic_reg is implemented since round 12 — a kmeans option on
    // it is loud, as is a genuinely unknown model class)
    assert(bad("CREATE MODEL ml_x OPTIONS(model_type = 'logistic_reg', num_clusters = 2) " +
      "AS SELECT id, feat FROM ml_t").contains("num_clusters"))
    assert(bad("CREATE MODEL ml_x OPTIONS(model_type = 'arima_plus') " +
      "AS SELECT id, feat FROM ml_t").contains("not supported"))
    assert(bad("SELECT * FROM ML.PREDICT(MODEL nope, TABLE ml_t)").contains("CREATE MODEL"))
    assert(bad("SELECT ML.DISTANCE(array(1.0), array(1.0), 'DOT_PRODUCT') AS x")
      .contains("DOT_PRODUCT"))
    Seq((0L, Seq(0.5f))).toDF("id", "feat").createOrReplaceTempView("ml_f")
    assert(bad("CREATE MODEL ml_x OPTIONS(model_type = 'kmeans', num_clusters = 1) " +
      "AS SELECT id, feat FROM ml_f").contains("quantize"))
    // an input already carrying the output column names is loud, not
    // silently shadowed
    GraftSql.load(spark, "CREATE OR REPLACE MODEL ml_shadow OPTIONS(model_type = 'kmeans', " +
      "num_clusters = 1, max_iterations = 1) AS SELECT id, feat FROM ml_t")
    assert(bad("SELECT * FROM ML.PREDICT(MODEL ml_shadow, " +
      "(SELECT id, feat, 9 AS centroid_id FROM ml_t))").contains("rename"))
    GraftSql.load(spark, "DROP MODEL ml_shadow")
    // teardown: DROP MODEL removes, bare re-drop is loud, IF EXISTS no-ops
    GraftSql.load(spark, "DROP MODEL ml_m")
    assert(bad("DROP MODEL ml_m").contains("no such model"))
    GraftSql.load(spark, "DROP MODEL IF EXISTS ml_m")
    assert(bad("SELECT * FROM ML.PREDICT(MODEL ml_m, TABLE ml_t)").contains("CREATE MODEL"))
  }

  test("GraftSql star REPLACE: value/name parity, EXCEPT composition, multiplication untouched") {
    import spark.implicits._
    Seq((1L, "ab", 2.5), (2L, "cd", 4.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("sr_t")
    // bare star: replaced column keeps name and type, gets new value
    val r = GraftSql.load(spark,
      "SELECT * REPLACE (v * 2 AS v, upper(s) AS s) FROM sr_t ORDER BY id")
    assert(r.columns.sorted.toSeq == Seq("id", "s", "v"))
    assert(r.collect().map(x => (x.getAs[Long]("id"), x.getAs[String]("s"), x.getAs[Double]("v"))).toSeq ==
      Seq((1L, "AB", 5.0), (2L, "CD", 8.0)))
    // EXCEPT + REPLACE compose; qualified star; expression with AS inside CAST
    val r2 = GraftSql.load(spark,
      "SELECT t.* EXCEPT (s) REPLACE (CAST(id AS STRING) AS id) FROM sr_t t WHERE t.id = 2")
    assert(r2.columns.sorted.toSeq == Seq("id", "v"))
    assert(r2.collect().head.getAs[String]("id") == "2")
    // a replaced column can be consumed by name downstream
    val r3 = GraftSql.load(spark,
      "SELECT sum(v) AS sv FROM (SELECT * REPLACE (v * 10 AS v) FROM sr_t)")
    assert(r3.collect().head.getAs[Double]("sv") == 65.0)
    // star REPLACE inside a CTE and under UNION branches
    val r5 = GraftSql.load(spark,
      "WITH c AS (SELECT * REPLACE (v + 1 AS v) FROM sr_t) " +
        "SELECT sum(v) AS sv FROM c")
    assert(r5.collect().head.getAs[Double]("sv") == 8.5)
    // multiplication by the string function REPLACE stays untouched
    val r4 = GraftSql.load(spark,
      "SELECT id * REPLACE('3', 'x', 'y') AS m FROM sr_t ORDER BY id")
    assert(r4.collect().map(_.getAs[Long]("m")).toSeq == Seq(3L, 6L))
    // an item containing a bracketed array literal with commas must not
    // mis-split, and a backticked name with parens must not move the
    // balanced-paren capture
    val r6 = GraftSql.load(spark,
      "SELECT * REPLACE ([10,20,30][OFFSET(CAST(id AS INT64) - 1)] AS v, `s` AS s) " +
        "FROM sr_t ORDER BY id")
    assert(r6.columns.sorted.toSeq == Seq("id", "s", "v"))
    assert(r6.collect().map(_.getAs[Int]("v")).toSeq == Seq(10, 20))
    // backticked identifier containing a paren inside the REPLACE list
    Seq((1L, 2L)).toDF("id", "x(y").createOrReplaceTempView("sr_bt")
    val r7 = GraftSql.load(spark,
      "SELECT * REPLACE (`x(y` * 2 AS `x(y`) FROM sr_bt")
    assert(r7.collect().head.getAs[Long]("x(y") == 4L)
    // louds: item without AS
    val e = intercept[IllegalArgumentException] {
      GraftSql.load(spark, "SELECT * REPLACE (v + 1) FROM sr_t")
    }
    assert(e.getMessage.contains("AS name"))
  }

  test("GraftSql wildcard tables: _TABLE_SUFFIX union by name, table-level pruning, louds") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("wt_events_20240101")
    Seq((3L, "c")).toDF("id", "v").createOrReplaceTempView("wt_events_20240102")
    // schema drift across shards: the Feb shard lacks `v`
    Seq((9L, 1.5)).toDF("id", "w").createOrReplaceTempView("wt_events_20240201")

    val all = GraftSql.load(spark,
      "SELECT _TABLE_SUFFIX AS sfx, id, v FROM wt_events_* ORDER BY id")
    assert(all.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("20240101", 1L), ("20240101", 2L), ("20240102", 3L), ("20240201", 9L)))
    assert(all.collect().last.isNullAt(2), "missing column must read NULL on the odd shard")

    // a suffix predicate prunes TABLES, not rows: one surviving scan
    val pruned = GraftSql.load(spark,
      "SELECT id FROM wt_events_* WHERE _TABLE_SUFFIX = '20240102'")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("LocalTableScan".r.findAllIn(plan).size == 1,
      s"expected exactly one surviving shard scan:\n$plan")

    // range predicate keeps two shards
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM wt_events_* WHERE _TABLE_SUFFIX >= '20240102'")
      .head().getLong(0) == 2L)

    // JOIN position rewrites too
    Seq((1L, "x")).toDF("id", "tag").createOrReplaceTempView("wt_dim")
    val j = GraftSql.load(spark,
      "SELECT d.tag, e._TABLE_SUFFIX AS sfx FROM wt_dim d JOIN wt_events_* e ON d.id = e.id")
    assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("x", "20240101")))

    // backticked + dataset-qualified + partial suffix: BigQuery's
    // common spelling `ds.events_2024*`
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM `proj.ds.wt_events_202401*`").head().getLong(0) == 3L)

    // stars outside FROM/JOIN table position stay untouched
    assert(GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM wt_events_20240101").head().getLong(0) == 2L)

    // expression-position FROM with arithmetic must NOT reach the
    // wildcard resolver: substring/EXTRACT have their own FROM keyword
    Seq(("abcdef", 2L)).toDF("s", "n").createOrReplaceTempView("wt_exprfrom")
    assert(GraftSql.load(spark,
      "SELECT substring(s FROM n*2) AS sub FROM wt_exprfrom").head().getString(0) == "def")
    assert(GraftSql.load(spark,
      "SELECT EXTRACT(YEAR FROM timestamp_seconds(n*250000000)) AS y FROM wt_exprfrom")
      .head().getInt(0) == 1985)
    // ...and a real wildcard elsewhere in the same statement still fires
    assert(GraftSql.load(spark,
      "SELECT substring(e.v FROM n*1 - 1) AS sub FROM wt_exprfrom x JOIN wt_events_* e ON e.id = x.n")
      .head().getString(0) == "b")

    // louds: zero matches, mid-name wildcard, empty prefix
    def bad(sql: String): String =
      intercept[IllegalArgumentException] { GraftSql.load(spark, sql) }.getMessage
    assert(bad("SELECT 1 FROM wt_zzz_*").contains("matches no registered"))
    assert(bad("SELECT 1 FROM wt_events_*x").contains("trailing"))
  }

  test("GraftSql: ORC round-trips through EXPORT DATA, EXTERNAL TABLE and LOAD DATA") {
    import graft.sources.Tables
    Tables.region(spark, sf).createOrReplaceTempView("orc_src")
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-").toString
    GraftSql.load(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/out/*.orc', format='ORC') AS SELECT * FROM orc_src")
    GraftSql.load(spark,
      s"CREATE EXTERNAL TABLE orc_ext OPTIONS(format='ORC', uris=['$dir/out/*.orc'])")
    val want = spark.table("orc_src").orderBy("r_regionkey").collect().toSeq
    assert(spark.table("orc_ext").orderBy("r_regionkey").collect().toSeq == want)
    spark.table("orc_src").limit(0).createOrReplaceTempView("orc_tgt")
    GraftSql.load(spark,
      s"LOAD DATA INTO orc_tgt FROM FILES(format='ORC', uris=['$dir/out/*.orc'])")
    assert(spark.table("orc_tgt").orderBy("r_regionkey").collect().toSeq == want)
  }

  test("GraftSql: hive-partitioned EXTERNAL TABLE surfaces partition columns and prunes directories") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-hive-").toString
    Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(s"$base/t")
    GraftSql.load(spark,
      s"CREATE EXTERNAL TABLE hive_ext OPTIONS(format='PARQUET', " +
        s"hive_partition_uri_prefix='$base/t', uris=['$base/t/day=*'])")
    val ext = spark.table("hive_ext")
    assert(ext.columns.contains("day"), "partition column must surface")
    assert(ext.count() == 3L)
    // equality predicate prunes the other day's DIRECTORY from the scan
    val pruned = ext.filter(F.col("day") === "2024-01-02")
    assert(pruned.collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    // the predicate lands in PartitionFilters (directory pruning),
    // not PushedFilters (row filtering inside every file)
    val scan = pruned.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("day"), s"day must be a partition filter:\n$scan")
    // AVRO + hive prefix is loud (the bridge lists files itself)
    assert(intercept[IllegalArgumentException] { GraftSql.load(spark,
      s"CREATE EXTERNAL TABLE hive_bad OPTIONS(format='AVRO', " +
        s"hive_partition_uri_prefix='$base/t', uris=['$base/t/day=*'])")
    }.getMessage.contains("hive_partition_uri_prefix"))
  }

  test("GraftSql: AVRO round-trips through EXPORT DATA, EXTERNAL TABLE and LOAD DATA") {
    // via the engine's own DSv2 bridge (sources/AvroSource.scala);
    // deep typed coverage lives in AvroSpec
    import graft.sources.Tables
    Tables.region(spark, sf).createOrReplaceTempView("avro_rt_src")
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-rt-").toString
    GraftSql.load(spark,
      s"EXPORT DATA OPTIONS(uri='$dir/out/*.avro', format='AVRO') AS SELECT * FROM avro_rt_src")
    GraftSql.load(spark,
      s"CREATE EXTERNAL TABLE avro_rt_ext OPTIONS(format='AVRO', uris=['$dir/out'])")
    val want = spark.table("avro_rt_src").orderBy("r_regionkey").collect().toSeq
    assert(spark.table("avro_rt_ext").orderBy("r_regionkey").collect().toSeq == want)
    spark.table("avro_rt_src").limit(0).createOrReplaceTempView("avro_rt_tgt")
    GraftSql.load(spark,
      s"LOAD DATA INTO avro_rt_tgt FROM FILES(format='AVRO', uris=['$dir/out'])")
    assert(spark.table("avro_rt_tgt").orderBy("r_regionkey").collect().toSeq == want)
  }

  test("GraftSql: BigQuery TABLESAMPLE SYSTEM runs as Spark row sampling") {
    import graft.sources.Tables
    Tables.orders(spark, sf).createOrReplaceTempView("ts_orders")
    val total = spark.table("ts_orders").count()
    val sampled = GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM ts_orders TABLESAMPLE SYSTEM (10 PERCENT) REPEATABLE (7)")
      .head().getLong(0)
    assert(sampled > 0 && sampled < total / 2,
      s"10% sample returned $sampled of $total rows")
    // REPEATABLE makes the sample reproducible run to run
    val again = GraftSql.load(spark,
      "SELECT COUNT(*) AS n FROM ts_orders TABLESAMPLE SYSTEM (10 PERCENT) REPEATABLE (7)")
      .head().getLong(0)
    assert(sampled == again)
    // the rewrite never touches string literals
    val lit = GraftSql.load(spark,
      "SELECT 'TABLESAMPLE SYSTEM (5 PERCENT)' AS s").head().getString(0)
    assert(lit == "TABLESAMPLE SYSTEM (5 PERCENT)")
  }

  test("versioned DML: statements against a registered Versioned table commit new versions; snapshots pin history") {
    import graft.sources.Versioned
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vdml-").toString + "/t"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "k", "v")
    Versioned.overwrite(base, dir, Some(1000L))
    Versioned.register(spark, "vdml_t", dir)

    // INSERT lands as an APPEND COMMIT: live set extends, only the new
    // rows' directory is written
    Seq((4L, "c", 40.0)).toDF("id", "k", "v").createOrReplaceTempView("vdml_new")
    GraftSql.load(spark, "INSERT INTO vdml_t SELECT * FROM vdml_new")
    assert(spark.table("vdml_t").count() == 4)
    val afterInsert = Versioned.commits(spark, dir)
    assert(afterInsert.last.action == "insert" && afterInsert.last.live.size == 2,
      s"INSERT must append-commit, got ${afterInsert.last}")

    // a snapshot taken here pins the 4-row state across later DML
    GraftSql.load(spark, "CREATE SNAPSHOT TABLE vdml_snap CLONE vdml_t")
    GraftSql.load(spark, "DELETE FROM vdml_t WHERE k = 'a'")
    assert(spark.table("vdml_t").count() == 2)
    assert(spark.table("vdml_snap").count() == 4, "snapshot must pin the pre-DELETE state")

    GraftSql.load(spark, "UPDATE vdml_t SET v = v * 2 WHERE k = 'b'")
    assert(spark.table("vdml_t").filter($"k" === "b").head().getDouble(2) == 40.0)

    Seq((2L, "b", 99.0), (9L, "z", 9.0)).toDF("id", "k", "v")
      .createOrReplaceTempView("vdml_delta")
    GraftSql.load(spark,
      """MERGE INTO vdml_t t USING vdml_delta s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, k, v) VALUES (s.id, s.k, s.v)""".stripMargin)
    val fin = spark.table("vdml_t").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(fin == Map(2L -> 99.0, 4L -> 40.0, 9L -> 9.0), s"got $fin")

    // the pre-image is still readable AS OF the pinned first commit,
    // and every verb left its label in the log
    assert(Versioned.readAsOf(spark, dir, 1000L).count() == 3)
    assert(Versioned.commits(spark, dir).map(_.action) ==
      Seq("overwrite", "insert", "snapshot", "delete", "update", "merge")
      || Versioned.commits(spark, dir).map(_.action) ==
      Seq("overwrite", "insert", "delete", "update", "merge"),
      s"got ${Versioned.commits(spark, dir).map(_.action)}")

    // clone dispositions
    intercept[IllegalArgumentException] {
      GraftSql.load(spark, "CREATE TABLE vdml_snap CLONE vdml_t")
    }
    GraftSql.load(spark, "CREATE TABLE IF NOT EXISTS vdml_snap CLONE vdml_t") // no-op
    assert(spark.table("vdml_snap").count() == 4)
    GraftSql.load(spark, "CREATE OR REPLACE TABLE vdml_snap CLONE vdml_t")    // swap
    assert(spark.table("vdml_snap").count() == 3)
    // a CTAS mentioning 'clone' as a column name does not misroute
    // (unique name: managed-table locations outlive the session)
    val ctasName = s"vdml_ctas_${System.nanoTime()}"
    GraftSql.load(spark, s"CREATE TABLE $ctasName AS SELECT id AS clone FROM vdml_snap")
    assert(spark.table(ctasName).columns.toSeq == Seq("clone"))

    // DESCRIBE HISTORY reads the commit log (newest first), metadata
    // only; a plain view is loud
    val hist = GraftSql.load(spark, "DESCRIBE HISTORY vdml_t").collect()
    assert(hist.map(_.getString(2)).toSeq ==
      Seq("merge", "update", "delete", "insert", "overwrite"), s"got ${hist.toSeq}")
    assert(hist.map(_.getLong(0)).toSeq == (hist.length - 1 to 0 by -1).map(_.toLong))
    // commit_ts preserves MICROSECONDS: every displayed timestamp
    // reconstructs the exact commitTsUs, so copying one into FOR
    // SYSTEM_TIME AS OF resolves to the same commit (the 1000µs seed
    // and any sub-ms ledger spacing would collapse under ms rounding)
    val shownUs = hist.map { r =>
      val t = r.getTimestamp(1)
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    }.toSeq
    assert(shownUs == Versioned.commits(spark, dir).sortBy(-_.version).map(_.commitTsUs),
      s"commit_ts lost precision: $shownUs")
    intercept[IllegalArgumentException] {
      GraftSql.load(spark, "DESCRIBE HISTORY vdml_snap")
    }

    // ALTER TABLE commits a schema-evolution version; LOAD DATA INTO
    // commits an append; both stay time-travelable
    GraftSql.load(spark, "ALTER TABLE vdml_t ADD COLUMN note STRING")
    assert(spark.table("vdml_t").columns.toSeq == Seq("id", "k", "v", "note"))
    val ld = java.nio.file.Files.createTempDirectory("graft-vdml-ld-").toString
    Seq((100L, "ld", 1.0, "loaded")).toDF("id", "k", "v", "note")
      .write.parquet(s"$ld/p1")
    GraftSql.load(spark,
      s"LOAD DATA INTO vdml_t FROM FILES(format='PARQUET', uris=['$ld/p1/*.parquet'])")
    assert(spark.table("vdml_t").count() == 4)
    val log = Versioned.commits(spark, dir).map(_.action)
    assert(log.takeRight(2) == Seq("alter", "load"), s"got $log")
    assert(log.count(_ == "load") == 1 &&
      Versioned.commits(spark, dir).last.live.size >= 2,
      "LOAD DATA INTO must append-commit")
    // pre-ALTER history still reads under the OLD schema
    assert(Versioned.readAsOf(spark, dir, 1000L).columns.toSeq == Seq("id", "k", "v"))

    // OPTIMIZE compacts the append-commit live-set debt into one dir
    // (content-identical); VACUUM RETAIN 0 HOURS drops pre-now
    // history; both loud on plain views
    val preOpt = spark.table("vdml_t").orderBy("id").collect().toSeq
    assert(Versioned.commits(spark, dir).last.live.size >= 2)
    val rep = GraftSql.load(spark, "OPTIMIZE vdml_t").head()
    assert(rep.getString(0) == "optimize")
    assert(Versioned.commits(spark, dir).last.live.size == 1)
    assert(Versioned.commits(spark, dir).last.action == "compact")
    assert(spark.table("vdml_t").orderBy("id").collect().toSeq == preOpt)
    intercept[IllegalArgumentException] {
      GraftSql.load(spark, "OPTIMIZE vdml_snap")
    }

    // TRUNCATE commits an EMPTY version that stays readable (the
    // empty-write edge: the commit must still carry schema-bearing
    // files), and the pre-truncate state survives AS OF
    GraftSql.load(spark, "TRUNCATE TABLE vdml_t")
    assert(spark.table("vdml_t").count() == 0)
    assert(spark.table("vdml_t").columns.nonEmpty)
    assert(Versioned.commits(spark, dir).last.action == "truncate")
    assert(Versioned.readAsOf(spark, dir, 1000L).count() == 3)

    // VACUUM RETAIN 0 HOURS drops pre-now history; the latest (empty)
    // state still reads, deep time travel is gone
    val vac = GraftSql.load(spark, "VACUUM vdml_t RETAIN 0 HOURS").head()
    assert(vac.getString(0) == "vacuum" && vac.getLong(2) > 0)
    assert(spark.table("vdml_t").count() == 0)
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, dir, 1000L)
    }
  }

  test("streaming sessionization groups events by inactivity gap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-").toString
    java.nio.file.Files.copy(
      new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(s"$dir/events.parquet").toPath)
    val q = graft.streaming.EventStream
      .sessionize(graft.streaming.EventStream.readEvents(spark, dir), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess")
    // sessions close only via timeout/next-session in one replayed batch,
    // so we at least require: closed sessions are well-formed
    sessions.collect().foreach { r =>
      assert(!r.getTimestamp(1).after(r.getTimestamp(2)))
      assert(r.getLong(3) >= 1)
    }
    // deterministic lower bound: a user whose consecutive events are
    // >30min apart closes a session at each such gap within the batch
    import spark.implicits._
    val gaps = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
      .collect().groupBy(_._1).values.map { rows =>
        val ts = rows.map(_._2.getTime).sorted
        ts.zip(ts.drop(1)).count { case (a, b) => b - a > 30L * 60 * 1000 }
      }.sum
    assert(sessions.count() >= gaps,
      s"expected at least $gaps closed sessions, got ${sessions.count()}")
  }
}
