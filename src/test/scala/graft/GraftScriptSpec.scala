package graft

import org.apache.spark.sql.{functions => F}

class GraftScriptSpec extends SparkSuite {
  import spark.implicits._

  test("DECLARE / SET / substitution: scalars ride statements as typed literals") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v").createOrReplaceTempView("scr_t")
    val out = GraftScript.run(spark,
      """-- a BigQuery-style script
        |DECLARE cutoff INT64 DEFAULT 1;
        |DECLARE label STRING;
        |SET label = (SELECT name FROM scr_t WHERE id = cutoff + 1);
        |SELECT id, name FROM scr_t WHERE id > cutoff AND name <> label ORDER BY id;
        |""".stripMargin)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // multiple names per DECLARE; NULL default; typed NULL in exprs
    val out2 = GraftScript.run(spark,
      """DECLARE a, b INT64;
        |SET a = 5;
        |SELECT a AS a, b AS b, a + b AS s""".stripMargin)
    val r = out2.head()
    assert(r.getLong(0) == 5L && r.isNullAt(1) && r.isNullAt(2))
    // string values escape their quotes on substitution
    val out3 = GraftScript.run(spark,
      """DECLARE s STRING DEFAULT 'it''s';
        |SELECT s AS v, length(s) AS n""".stripMargin)
    assert(out3.head().getString(0) == "it's" && out3.head().getInt(1) == 4)
  }

  test("scripts lex literals, comments and hints the way Spark does") {
    // a ';' inside a double-quoted literal or a comment ends nothing
    val r = GraftScript.run(spark,
      """DECLARE n INT64 DEFAULT 1;
        |SELECT "a;b" AS s, 'it\'s;' AS t, n AS n -- trailing; comment
        |;""".stripMargin).head()
    assert(r.getString(0) == "a;b" && r.getString(1) == "it's;" && r.getLong(2) == 1L)
    val q = GraftScript.run(spark,
      """SELECT "it's" AS a, x FROM VALUES (1),(2) AS t(x)
        |QUALIFY ROW_NUMBER() OVER (ORDER BY x) = 1;""".stripMargin).collect()
    assert(q.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("it's", 1)))
    val hinted = GraftScript.run(spark,
      "/* a /* nested */ comment */ SELECT /*+ REPARTITION(3) */ x FROM VALUES (1),(2) AS t(x);")
    assert(hinted.rdd.getNumPartitions == 3)
    assert(GraftScript.run(spark, "SELECT /* a /* b */ c */ 1 AS one;").head().getInt(0) == 1)
  }

  test("IF / ELSEIF / ELSE and WHILE drive distributed statements") {
    Seq((1L, 5.0), (2L, 15.0), (3L, 25.0), (4L, 35.0))
      .toDF("id", "v").createOrReplaceTempView("scr_u")
    val out = GraftScript.run(spark,
      """DECLARE n INT64 DEFAULT (SELECT COUNT(*) FROM scr_u);
        |DECLARE verdict STRING;
        |IF n > 100 THEN SET verdict = 'big';
        |ELSEIF n > 2 THEN SET verdict = 'medium';
        |ELSE SET verdict = 'small';
        |END IF;
        |SELECT verdict AS verdict""".stripMargin)
    assert(out.head().getString(0) == "medium")
    // WHILE: fold per-bucket counts through a variable
    val out2 = GraftScript.run(spark,
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE acc INT64 DEFAULT 0;
        |WHILE i < 4 DO
        |  SET acc = acc + (SELECT COUNT(*) FROM scr_u WHERE id % 4 = i);
        |  SET i = i + 1;
        |END WHILE;
        |SELECT acc AS total, i AS iters""".stripMargin)
    assert(out2.head().getLong(0) == 4L && out2.head().getLong(1) == 4L)
    // nested IF inside WHILE inside BEGIN
    val out3 = GraftScript.run(spark,
      """BEGIN
        |DECLARE i INT64 DEFAULT 0;
        |DECLARE odd INT64 DEFAULT 0;
        |WHILE i < 5 DO
        |  IF i % 2 = 1 THEN SET odd = odd + i; END IF;
        |  SET i = i + 1;
        |END WHILE;
        |SELECT odd AS odd;
        |END;""".stripMargin)
    assert(out3.head().getLong(0) == 4L)
  }

  test("substitution is quote-aware and leaves qualified column paths alone") {
    Seq((1L, 7L)).toDF("id", "n").createOrReplaceTempView("scr_q")
    val out = GraftScript.run(spark,
      """DECLARE n INT64 DEFAULT 99;
        |SELECT 'n stays' AS lit, t.n AS coln, n AS varn FROM scr_q t""".stripMargin)
    val r = out.head()
    assert(r.getString(0) == "n stays", "inside a string literal: untouched")
    assert(r.getLong(1) == 7L, "qualified t.n is the column")
    assert(r.getLong(2) == 99L, "bare n is the variable")
  }

  test("scripts run GraftSql verbs: ASSERT guards, CREATE VIEW + SELECT chains") {
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").createOrReplaceTempView("scr_v")
    val out = GraftScript.run(spark,
      """DECLARE minv FLOAT64 DEFAULT (SELECT MIN(v) FROM scr_v);
        |ASSERT minv > 0 AS 'values must be positive';
        |CREATE OR REPLACE VIEW scr_view AS SELECT id, v * 2 AS v2 FROM scr_v;
        |SELECT SUM(v2) AS s FROM scr_view""".stripMargin)
    assert(out.head().getDouble(0) == 60.0)
    val e = intercept[Exception] {
      GraftScript.run(spark,
        """DECLARE maxv FLOAT64 DEFAULT (SELECT MAX(v) FROM scr_v);
          |ASSERT maxv < 15 AS 'cap exceeded';
          |SELECT 1 AS one""".stripMargin)
    }
    assert(e.getMessage.contains("cap exceeded"))
  }

  test("LOOP / REPEAT / BREAK / CONTINUE: BigQuery loop verbs with signal scoping") {
    // LOOP runs until BREAK; CONTINUE skips the rest of the iteration
    val out = GraftScript.run(spark,
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE acc INT64 DEFAULT 0;
        |LOOP
        |  SET i = i + 1;
        |  IF i >= 10 THEN BREAK; END IF;
        |  IF MOD(i, 2) = 0 THEN CONTINUE; END IF;
        |  SET acc = acc + i;
        |END LOOP;
        |SELECT acc AS acc, i AS i""".stripMargin)
    val r = out.head()
    assert(r.getLong(0) == 25L && r.getLong(1) == 10L) // 1+3+5+7+9
    // REPEAT runs the body at least once, CONTINUE jumps to UNTIL
    val rep = GraftScript.run(spark,
      """DECLARE n INT64 DEFAULT 100;
        |REPEAT
        |  SET n = n + 1;
        |  CONTINUE;
        |  SET n = n + 1000;
        |UNTIL n >= 101 END REPEAT;
        |SELECT n AS n""".stripMargin)
    assert(rep.head().getLong(0) == 101L)
    // LEAVE is BREAK's synonym, in WHILE too
    val wl = GraftScript.run(spark,
      """DECLARE i INT64 DEFAULT 0;
        |WHILE TRUE DO
        |  SET i = i + 1;
        |  IF i = 3 THEN LEAVE; END IF;
        |END WHILE;
        |SELECT i AS i""".stripMargin)
    assert(wl.head().getLong(0) == 3L)
    // a BREAK crossing a BEGIN...EXCEPTION block is control flow, not
    // an error: the handler must NOT swallow it
    val bx = GraftScript.run(spark,
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE caught INT64 DEFAULT 0;
        |LOOP
        |  SET i = i + 1;
        |  BEGIN
        |    IF i = 2 THEN BREAK; END IF;
        |  EXCEPTION WHEN ERROR THEN
        |    SET caught = caught + 1;
        |  END;
        |END LOOP;
        |SELECT i AS i, caught AS caught""".stripMargin)
    assert(bx.head().getLong(0) == 2L && bx.head().getLong(1) == 0L)
    // louds: BREAK outside a loop, labels, BREAK across CALL, runaway LOOP
    assert(intercept[IllegalArgumentException] {
      GraftScript.run(spark, "BREAK;")
    }.getMessage.contains("outside a loop"))
    assert(intercept[IllegalArgumentException] {
      GraftScript.run(spark, "LOOP BREAK my_label; END LOOP;")
    }.getMessage.contains("labeled"))
    assert(intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        """CREATE OR REPLACE PROCEDURE bad_brk() BEGIN BREAK; END;
          |LOOP CALL bad_brk(); END LOOP;""".stripMargin)
    }.getMessage.contains("procedure"))
    assert(intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "DECLARE x INT64 DEFAULT 0; LOOP SET x = 1; END LOOP;", maxIterations = 20)
    }.getMessage.contains("20 iterations"))
  }

  test("loud shapes: undeclared SET, re-DECLARE, runaway WHILE, missing THEN") {
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "SET x = 1;")
    }
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "DECLARE x INT64; DECLARE x INT64;")
    }
    val e = intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "DECLARE i INT64 DEFAULT 0; WHILE i < 10 DO SET i = i + 0; END WHILE;",
        maxIterations = 50)
    }
    assert(e.getMessage.contains("50 iterations"))
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "IF TRUE SELECT 1; END IF;")
    }
  }

  test("EXECUTE IMMEDIATE: dynamic sql with named/positional params and INTO binding") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v").createOrReplaceTempView("exi_t")
    // dynamic text built from a variable; named @params; INTO binds
    val out = GraftScript.run(spark,
      """DECLARE tbl STRING DEFAULT 'exi_t';
        |DECLARE total FLOAT64;
        |DECLARE cnt INT64;
        |EXECUTE IMMEDIATE 'SELECT SUM(v), COUNT(*) FROM ' || tbl || ' WHERE id >= @lo'
        |  INTO total, cnt USING 2 AS lo;
        |SELECT total AS total, cnt AS cnt""".stripMargin)
    val r = out.head()
    assert(r.getDouble(0) == 50.0 && r.getLong(1) == 2L)

    // positional ? params; result set becomes the script result
    val out2 = GraftScript.run(spark,
      "EXECUTE IMMEDIATE 'SELECT id FROM exi_t WHERE id > ? AND name <> ? ORDER BY id' USING 1, 'b';")
    assert(out2.collect().map(_.getLong(0)).toSeq == Seq(3L))

    // zero rows → INTO binds NULLs; >1 rows is loud
    val out3 = GraftScript.run(spark,
      """DECLARE x INT64 DEFAULT 9;
        |EXECUTE IMMEDIATE 'SELECT id FROM exi_t WHERE id > 100' INTO x;
        |SELECT x AS x""".stripMargin)
    assert(out3.head().isNullAt(0))
    intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "DECLARE x INT64; EXECUTE IMMEDIATE 'SELECT id FROM exi_t' INTO x;")
    }
    // loud: unknown @param, unused USING, mixing named and positional,
    // non-string sql expression
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "EXECUTE IMMEDIATE 'SELECT @nope' USING 1 AS lo;")
    }
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "EXECUTE IMMEDIATE 'SELECT 1' USING 1 AS lo;")
    }
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "EXECUTE IMMEDIATE 'SELECT ? + @lo' USING 1, 2 AS lo;")
    }
    intercept[IllegalArgumentException] {
      GraftScript.run(spark, "EXECUTE IMMEDIATE NULL;")
    }
    // @@system variables pass through verbatim (not parameters): the
    // statement still parses @@session-style names where the engine
    // defines them — here we just prove the binder leaves them alone
    val e2 = intercept[Exception] {
      GraftScript.run(spark, "EXECUTE IMMEDIATE 'SELECT @@undefined_sysvar';")
    }
    assert(!e2.getMessage.contains("USING"),
      s"@@var must not be treated as a parameter: ${e2.getMessage}")

    // per the BigQuery contract, the dynamic text gets NO variable
    // substitution — an undeclared reference stays an identifier and
    // fails to resolve (variables enter only through USING)
    intercept[Exception] {
      GraftScript.run(spark,
        "DECLARE lo INT64 DEFAULT 1; EXECUTE IMMEDIATE 'SELECT id FROM exi_t WHERE id > lo';")
    }
  }

  test("FOR ... IN iterates a bounded result with v.col row references") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v").createOrReplaceTempView("for_t")
    // classic orchestration shape: per-row maintenance accumulating
    // into a scalar — the fold replays the grouped sum
    val out = GraftScript.run(spark,
      """DECLARE acc FLOAT64 DEFAULT 0.0;
        |DECLARE names STRING DEFAULT '';
        |FOR row IN (SELECT id, name, v FROM for_t WHERE id >= 2 ORDER BY id) DO
        |  SET acc = acc + row.v;
        |  SET names = names || row.name;
        |END FOR;
        |SELECT acc AS acc, names AS names""".stripMargin)
    val r = out.head()
    assert(r.getDouble(0) == 50.0 && r.getString(1) == "bc")

    // loud: bare struct reference, unknown column, unbounded loop
    // query, variable collision
    intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "FOR r IN (SELECT id FROM for_t) DO SELECT r; END FOR;")
    }
    val e = intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "FOR r IN (SELECT id FROM for_t) DO SELECT r.nope; END FOR;")
    }
    assert(e.getMessage.contains("no column"))
    intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "FOR r IN (SELECT id FROM for_t) DO SELECT r.id; END FOR;", maxIterations = 2)
    }
    intercept[IllegalArgumentException] {
      GraftScript.run(spark,
        "DECLARE r INT64; FOR r IN (SELECT id FROM for_t) DO SELECT r.id; END FOR;")
    }
  }

  test("stored procedures: CREATE PROCEDURE + CALL with IN params, fresh scope, DROP") {
    import spark.implicits._
    Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("id", "x").createOrReplaceTempView("proc_t")
    // definition + call through the SQL entry point (one-statement
    // scripts); args evaluate in the caller's scope
    GraftSql.load(spark,
      """CREATE OR REPLACE PROCEDURE proc_sum(lo INT64, hi INT64)
        |BEGIN
        |  SELECT CAST(SUM(x) AS DOUBLE) AS s FROM proc_t WHERE id BETWEEN lo AND hi;
        |END;""".stripMargin)
    assert(GraftSql.load(spark, "CALL proc_sum(2, 3)").head().getDouble(0) == 10.0)
    // caller variables feed arguments; the body's scope is FRESH
    // (caller vars invisible inside, body vars never leak out)
    val out = GraftScript.run(spark,
      """DECLARE lo INT64 DEFAULT 1;
        |DECLARE unrelated STRING DEFAULT 'caller';
        |CALL proc_sum(lo, lo + 1);
        |SELECT unrelated AS v;""".stripMargin)
    assert(out.head().getString(0) == "caller")
    val leak = intercept[Exception] {
      GraftScript.run(spark,
        """CREATE OR REPLACE PROCEDURE p_leaky(n INT64)
          |BEGIN SELECT secret AS v; END;""".stripMargin + "CALL p_leaky(1);")
    } // 'secret' resolves nowhere: fresh scope has only params
    assert(leak != null)
    // a procedure body sees only its params, not caller variables
    intercept[Exception] {
      GraftScript.run(spark,
        """DECLARE hidden INT64 DEFAULT 9;
          |CREATE OR REPLACE PROCEDURE p_scope()
          |BEGIN SELECT hidden AS v; END;
          |CALL p_scope();""".stripMargin)
    }
    // procedures with EXCEPTION handlers; RAISE inside propagates
    GraftSql.load(spark,
      """CREATE OR REPLACE PROCEDURE p_guard(n INT64)
        |BEGIN
        |  IF n < 0 THEN RAISE USING MESSAGE = 'negative'; END IF;
        |  SELECT n * 2 AS v;
        |EXCEPTION WHEN ERROR THEN
        |  SELECT -1 AS v;
        |END;""".stripMargin)
    assert(GraftSql.load(spark, "CALL p_guard(5)").head().getLong(0) == 10L)
    assert(GraftSql.load(spark, "CALL p_guard(-5)").head().getInt(0) == -1)
    // dispositions + louds
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark,
        "CREATE PROCEDURE proc_sum(a INT64, b INT64) BEGIN SELECT 1 AS v; END;")
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "CALL proc_sum(1)")
    }.getMessage.contains("parameter"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "CALL no_such_proc()")
    }.getMessage.contains("no such procedure"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark,
        "CREATE PROCEDURE p_out(OUT r INT64) BEGIN SELECT 1 AS v; END;")
    }.getMessage.contains("IN only"))
    // DROP PROCEDURE
    GraftSql.load(spark, "DROP PROCEDURE proc_sum")
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "CALL proc_sum(1, 2)")
    }.getMessage.contains("no such procedure"))
    GraftSql.load(spark, "DROP PROCEDURE IF EXISTS proc_sum")
    assert(intercept[IllegalArgumentException] {
      GraftSql.load(spark, "DROP PROCEDURE proc_sum")
    }.getMessage.contains("IF EXISTS"))
  }

  test("EXCEPTION handlers: failures jump to the handler, @@error.message binds, RAISE re-raises") {
    // the body fails mid-way; pre-failure effects KEPT, handler runs
    val out = GraftScript.run(spark,
      """DECLARE phase STRING DEFAULT 'start';
        |BEGIN
        |  SET phase = 'body';
        |  ASSERT 1 = 2 AS 'deliberate failure';
        |  SET phase = 'unreached';
        |EXCEPTION WHEN ERROR THEN
        |  SELECT phase AS phase, @@error.message AS msg;
        |END;""".stripMargin)
    val r = out.head()
    assert(r.getString(0) == "body", "effects before the failure must be kept")
    assert(r.getString(1).contains("deliberate failure"),
      s"@@error.message must carry the body's error, got: ${r.getString(1)}")

    // a clean body never runs the handler
    val clean = GraftScript.run(spark,
      """BEGIN
        |  SELECT 1 AS ok;
        |EXCEPTION WHEN ERROR THEN
        |  SELECT 0 AS ok;
        |END;""".stripMargin)
    assert(clean.head().getInt(0) == 1)

    // bare RAISE re-raises the ORIGINAL error out of the handler
    val re = intercept[Exception] {
      GraftScript.run(spark,
        """BEGIN
          |  ASSERT FALSE AS 'original boom';
          |EXCEPTION WHEN ERROR THEN
          |  RAISE;
          |END;""".stripMargin)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " | " + msgs(t.getCause)
    assert(msgs(re).contains("original boom"), s"got $re")

    // RAISE USING MESSAGE raises a scripted error anywhere
    val raised = intercept[GraftScriptException] {
      GraftScript.run(spark,
        "DECLARE n INT64 DEFAULT 3; RAISE USING MESSAGE = CONCAT('bad n=', CAST(n AS STRING));")
    }
    assert(raised.getMessage == "bad n=3")

    // nested handlers: the inner handles its own error, the outer
    // still sees ITS error after the inner block completed
    val nested = GraftScript.run(spark,
      """BEGIN
        |  BEGIN
        |    RAISE USING MESSAGE = 'inner';
        |  EXCEPTION WHEN ERROR THEN
        |    SELECT @@error.message AS inner_msg;
        |  END;
        |  RAISE USING MESSAGE = 'outer';
        |EXCEPTION WHEN ERROR THEN
        |  SELECT @@error.message AS outer_msg;
        |END;""".stripMargin)
    assert(nested.head().getString(0) == "outer")

    // louds: @@error.message / bare RAISE outside a handler; EXCEPTION
    // outside BEGIN
    val e1 = intercept[IllegalArgumentException] {
      GraftScript.run(spark, "SELECT @@error.message AS m;")
    }
    assert(e1.getMessage.contains("EXCEPTION handler"))
    val e2 = intercept[IllegalArgumentException] { GraftScript.run(spark, "RAISE;") }
    assert(e2.getMessage.contains("only valid inside"))
    val e3 = intercept[IllegalArgumentException] {
      GraftScript.run(spark, "EXCEPTION WHEN ERROR THEN SELECT 1; END;")
    }
    assert(e3.getMessage.contains("BEGIN"))
    // transactions are statements now (TransactionSpec owns the
    // semantics): an empty read-only transaction runs clean, and a
    // stray COMMIT/ROLLBACK is loud
    assert(GraftScript.run(spark,
      "BEGIN TRANSACTION; SELECT 1 AS one; COMMIT TRANSACTION;").head().getInt(0) == 1)
    for (txn <- Seq("COMMIT;", "ROLLBACK TRANSACTION;"))
      assert(intercept[IllegalArgumentException] { GraftScript.run(spark, txn) }
        .getMessage.contains("without an open transaction"), txn)
  }
}
