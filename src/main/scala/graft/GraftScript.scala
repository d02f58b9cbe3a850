package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sql.Lexer

/** BigQuery multi-statement scripts (procedural language) over the
  * [[GraftSql]] statement surface — the form the reference's DAGs
  * submit their SQL in (a BigQuery job routinely carries
  * `DECLARE ...; MERGE ...; ASSERT ...;` as one script).
  *
  * Supported procedural statements (BigQuery "procedural language"
  * docs):
  *  - `DECLARE a [, b ...] TYPE [DEFAULT expr];` — BigQuery types
  *    INT64/FLOAT64/STRING/BOOL/DATE/TIMESTAMP/NUMERIC (or any Spark
  *    DDL type); DEFAULT evaluates like SET, otherwise NULL.
  *  - `SET name = expr;` — expr is any scalar SQL expression,
  *    including a scalar subquery `(SELECT ...)`; evaluated over the
  *    session's tables with variables substituted, cast to the
  *    declared type.
  *  - `IF cond THEN ... [ELSEIF cond THEN ...] [ELSE ...] END IF;`
  *  - `WHILE cond DO ... END WHILE;`, `LOOP ... END LOOP;` and
  *    `REPEAT ... UNTIL cond END REPEAT;` — all bounded by
  *    `maxIterations` (default 10 000) so a script bug fails loudly
  *    instead of spinning the driver. Bare `BREAK;`/`LEAVE;` exits
  *    and `CONTINUE;`/`ITERATE;` advances the INNERMOST loop
  *    (labels are loud); both are control-flow signals, never caught
  *    by an EXCEPTION handler they cross, and never cross a CALL
  *    boundary (BigQuery's rules). REPEAT's CONTINUE jumps to the
  *    UNTIL check.
  *  - `BEGIN ... END;` blocks (single variable scope, not BigQuery's
  *    per-block scoping — re-DECLARE in a block raises here).
  *  - `EXECUTE IMMEDIATE sql_expr [INTO v, ...] [USING expr [AS name],
  *    ...];` — dynamic SQL: the sql expression evaluates to a STRING
  *    (it may be built from variables), parameters bind as `@name`
  *    (named) or `?` (positional) literals quote-aware, the statement
  *    runs through [[GraftSql.load]]; INTO binds a ≤1-row result's
  *    columns to declared variables (0 rows → NULLs, >1 loud), as
  *    BigQuery does. Unbound/unused parameters are loud. Per the
  *    BigQuery contract the dynamic text itself gets NO variable
  *    substitution — variables enter only through USING.
  *  - `FOR v IN (query) DO ... END FOR;` — driver-side iteration over
  *    a BOUNDED query result (≤ maxIterations rows, loud otherwise);
  *    the loop variable is the row, referenced `v.col` (substituted
  *    as typed literals per iteration). Set-based statements remain
  *    the way to touch big tables — FOR is for orchestration shapes
  *    (per-partition maintenance, per-table DDL), like the reference
  *    DAG's per-day task loop.
  *  - every [[GraftSql.load]] statement (SELECT/MERGE/INSERT/CTAS/
  *    DELETE/UPDATE/TRUNCATE/ALTER/ASSERT/EXPORT/CREATE VIEW/
  *    EXTERNAL TABLE/LOAD DATA/VECTOR_SEARCH/time travel) as the
  *    plain statements in between.
  *
  *  - `BEGIN ... EXCEPTION WHEN ERROR THEN ... END;` — BigQuery's
  *    one exception-handler shape: a failure anywhere in the body
  *    jumps to the handler (effects up to the failure are KEPT — a
  *    script is not a transaction, BigQuery's rule too); the handler
  *    reads the message via `@@error.message` (loud outside a
  *    handler), bare `RAISE;` re-raises the caught error, and `RAISE
  *    USING MESSAGE = expr;` raises a fresh scripted error anywhere.
  *    Handlers nest (the inner handler's error state shadows the
  *    outer's for its duration); an error INSIDE a handler
  *    propagates out, as in BigQuery.
  *
  * RETURN is rejected loudly (the last result-set statement is the
  * script's result).
  *
  * Variable references are substituted TEXTUALLY (quote- and
  * backtick-aware, whole identifiers only) as typed literals before
  * each statement runs. BigQuery resolves a name collision between a
  * variable and a column in favor of the COLUMN; here the variable
  * wins — scripts that shadow column names with variables are
  * rejected by nothing, so don't (BigQuery's own style guide says the
  * same). Values substitute as literals: strings escape their
  * quotes, dates/timestamps carry their type keyword, NULL
  * substitutes as a typed CAST(NULL AS t) so expressions keep their
  * declared type.
  *
  * `run` returns the result of the LAST executed statement that
  * produced rows (BigQuery returns the script's last result set);
  * an empty frame if none did.
  *
  * Scale: scripting is DRIVER-side control flow around fully
  * distributed statements — each statement plans and runs exactly as
  * it would standalone; variables hold scalars only (a collect of
  * one row), never data.
  */
object GraftScript {

  private final case class Lit(sparkType: String, value: Option[String]) {
    // value is the ALREADY-RENDERED literal text (typed), None = NULL
    def render: String = value.getOrElse(s"CAST(NULL AS $sparkType)")
  }

  private val bqTypes = Map(
    "INT64" -> "BIGINT", "FLOAT64" -> "DOUBLE", "STRING" -> "STRING",
    "BOOL" -> "BOOLEAN", "BOOLEAN" -> "BOOLEAN", "DATE" -> "DATE",
    "TIMESTAMP" -> "TIMESTAMP", "DATETIME" -> "TIMESTAMP_NTZ",
    "NUMERIC" -> "DECIMAL(38,9)", "BIGNUMERIC" -> "DECIMAL(38,18)",
    "INT" -> "BIGINT", "INTEGER" -> "BIGINT")

  def run(spark: SparkSession, script: String, maxIterations: Int = 10000): DataFrame = {
    val stmts = parseBlock(new Cursor(script), endKeyword = None)
    val vars = scala.collection.mutable.LinkedHashMap.empty[String, Lit]
    // FOR-loop row variables: name → (column → literal); referenced as
    // `v.col` in the body
    val structVars = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Lit]]
    var last: Option[DataFrame] = None
    // the error a running EXCEPTION handler is handling (None outside
    // handlers); stacked save/restore supports nested BEGIN blocks
    var currentError: Option[Throwable] = None

    def substitute(sql: String): String = {
      if (vars.isEmpty && structVars.isEmpty &&
        !sql.toLowerCase(java.util.Locale.ROOT).contains("@@error")) return sql
      val out = new StringBuilder
      var i = 0
      var prevWord = "" // last bare word emitted (for the AS-alias rule)
      while (i < sql.length) {
        val c = sql.charAt(i)
        val e = Lexer.opaqueEnd(sql, i)
        if (e > i) {
          out ++= sql.substring(i, e)
          if (c == '`') prevWord = ""
          i = e
        }
        else if (c == '@' && sql.regionMatches(true, i, "@@error.message", 0, 15)) {
          // the system variable an EXCEPTION handler reads: rendered
          // as a string literal of the caught error's message
          val msg = currentError.map(e => Option(e.getMessage).getOrElse(e.toString))
            .getOrElse(throw new IllegalArgumentException(
              "@@error.message is only valid inside an EXCEPTION handler"))
          out ++= renderLiteral(msg, "STRING")
          prevWord = ""
          i += 15
        }
        else if (Character.isLetter(c) || c == '_') {
          var j = i
          while (j < sql.length && (Character.isLetterOrDigit(sql.charAt(j)) || sql.charAt(j) == '_')) j += 1
          val word = sql.substring(i, j)
          // never a variable reference: a qualified path component
          // (x.word / word.x) is a column, and the identifier after
          // AS is an alias or a CAST target type
          val prevDot = i > 0 && sql.charAt(i - 1) == '.'
          val nextDot = j < sql.length && sql.charAt(j) == '.'
          val isAlias = prevWord.equalsIgnoreCase("AS")
          if (!prevDot && !isAlias && structVars.contains(word.toLowerCase)) {
            // FOR-loop row variable: must be field-referenced v.col
            require(nextDot,
              s"FOR loop variable $word holds a row; reference a column as $word.<name>")
            var fs = j + 1
            while (fs < sql.length && (Character.isLetterOrDigit(sql.charAt(fs)) || sql.charAt(fs) == '_')) fs += 1
            val field = sql.substring(j + 1, fs)
            require(field.nonEmpty, s"FOR loop variable $word: expected $word.<column>")
            val lit = structVars(word.toLowerCase).getOrElse(field.toLowerCase,
              throw new IllegalArgumentException(
                s"FOR loop variable $word has no column $field " +
                  s"(columns: ${structVars(word.toLowerCase).keys.mkString(", ")})"))
            out ++= lit.render
            prevWord = field
            i = fs
          } else {
            vars.get(word.toLowerCase) match {
              case Some(l) if !prevDot && !nextDot && !isAlias => out ++= l.render
              case _ => out ++= word
            }
            prevWord = word
            i = j
          }
        } else {
          if (!Character.isWhitespace(c)) prevWord = ""
          out += c; i += 1
        }
      }
      out.toString
    }

    def evalRaw(expr: String, sparkType: String): Any = {
      val df = spark.sql(s"SELECT CAST((${substitute(expr)}) AS $sparkType) AS v")
      val rows = df.collect()
      require(rows.length == 1,
        s"scalar expression returned ${rows.length} rows: $expr")
      rows.head.get(0)
    }

    def evalScalar(expr: String, sparkType: String): Lit = {
      val v = evalRaw(expr, sparkType)
      Lit(sparkType, Option(v).map(renderLiteral(_, sparkType)))
    }

    def evalCond(expr: String): Boolean =
      evalScalar(expr, "BOOLEAN").value.contains("true")

    def exec(ss: Seq[Stmt]): Unit = ss.foreach {
      case Declare(names, bqType, default) =>
        val sparkType = bqTypes.getOrElse(bqType.toUpperCase(java.util.Locale.ROOT), bqType)
        val init = default.map(e => evalScalar(e, sparkType))
          .getOrElse(Lit(sparkType, None))
        names.foreach { n =>
          val k = n.toLowerCase
          require(!vars.contains(k), s"variable $n already declared")
          vars(k) = init
        }
      case SetVar(name, expr) =>
        val k = name.toLowerCase
        val cur = vars.getOrElse(k, throw new IllegalArgumentException(
          s"SET of undeclared variable $name (DECLARE it first)"))
        vars(k) = evalScalar(expr, cur.sparkType)
      case If(branches, orElse) =>
        branches.find(b => evalCond(b._1)) match {
          case Some((_, body)) => exec(body)
          case None => exec(orElse)
        }
      case While(cond, body) =>
        var n = 0; var go = true
        while (go && evalCond(cond)) {
          n += 1
          require(n <= maxIterations,
            s"WHILE exceeded $maxIterations iterations — raise maxIterations " +
              "if the loop is genuinely that long")
          try exec(body)
          catch { case _: ContinueSignal => (); case _: BreakSignal => go = false }
        }
      case Loop(body) =>
        var n = 0; var go = true
        while (go) {
          n += 1
          require(n <= maxIterations,
            s"LOOP exceeded $maxIterations iterations — BREAK/LEAVE is the only " +
              "exit; raise maxIterations if the loop is genuinely that long")
          try exec(body)
          catch { case _: ContinueSignal => (); case _: BreakSignal => go = false }
        }
      case Repeat(body, untilCond) =>
        // body first, then the UNTIL check — CONTINUE jumps to the
        // check (BigQuery's REPEAT semantics)
        var n = 0; var go = true
        while (go) {
          n += 1
          require(n <= maxIterations,
            s"REPEAT exceeded $maxIterations iterations — raise maxIterations " +
              "if the loop is genuinely that long")
          try { exec(body); if (evalCond(untilCond)) go = false }
          catch {
            case _: ContinueSignal => if (evalCond(untilCond)) go = false
            case _: BreakSignal => go = false
          }
        }
      case BreakStmt => throw new BreakSignal
      case ContinueStmt => throw new ContinueSignal
      case Block(body) => exec(body)
      case TryBlock(body, handler) =>
        try exec(body)
        catch {
          case s: BreakSignal => throw s
          case s: ContinueSignal => throw s
          case scala.util.control.NonFatal(e) =>
            // effects up to the failure are kept (BigQuery's rule —
            // a script is not a transaction); the handler sees the
            // error through @@error.message, stacked for nesting
            val prev = currentError
            currentError = Some(e)
            try exec(handler) finally currentError = prev
        }
      case Raise(None) =>
        throw currentError.getOrElse(new IllegalArgumentException(
          "bare RAISE re-raises the current error and is only valid inside " +
            "an EXCEPTION handler; use RAISE USING MESSAGE = '...' elsewhere"))
      case Raise(Some(expr)) =>
        val msg = evalRaw(expr, "STRING") match {
          case s: String => s
          case _ => "RAISE with NULL message"
        }
        throw new GraftScriptException(msg)
      case CreateProc(name, orReplace, params, body) =>
        val k = procKey(spark, name)
        require(orReplace || !procRegistry.contains(k),
          s"procedure $name already exists (use CREATE OR REPLACE PROCEDURE)")
        val typed = params.map { case (pn, bq) =>
          pn -> bqTypes.getOrElse(bq.toUpperCase(java.util.Locale.ROOT), bq) }
        require(typed.map(_._1.toLowerCase).distinct.size == typed.size,
          s"procedure $name: duplicate parameter names")
        procRegistry(k) = Proc(typed, body)
      case Call(name, argExprs) =>
        val proc = procRegistry.getOrElse(procKey(spark, name),
          throw new IllegalArgumentException(
            s"CALL $name: no such procedure (CREATE PROCEDURE it first)"))
        require(argExprs.length == proc.params.length,
          s"CALL $name: ${argExprs.length} argument(s) for ${proc.params.length} parameter(s)")
        // arguments evaluate in the CALLER's scope, then the body runs
        // in a FRESH scope holding only the parameters (IN semantics —
        // the procedure's variables never leak back)
        val bound = proc.params.zip(argExprs).map { case ((pn, pt), e) =>
          pn.toLowerCase -> evalScalar(e, pt) }
        val savedVars = vars.toSeq
        val savedStruct = structVars.toSeq
        vars.clear(); structVars.clear()
        bound.foreach { case (k2, v) => vars(k2) = v }
        try exec(proc.body)
        catch {
          case _: BreakSignal | _: ContinueSignal =>
            // control flow never crosses a CALL boundary (BigQuery's
            // rule: the loop must be in the same body)
            throw new IllegalArgumentException(
              s"BREAK/CONTINUE inside procedure $name must sit inside a loop " +
                "in that procedure's own body")
        }
        finally {
          vars.clear(); vars ++= savedVars
          structVars.clear(); structVars ++= savedStruct
        }
      case ExecImmediate(sqlExpr, into, using) =>
        val dyn = evalRaw(sqlExpr, "STRING") match {
          case s: String => s
          case _ => throw new IllegalArgumentException(
            "EXECUTE IMMEDIATE: the sql expression evaluated to NULL (need a STRING)")
        }
        // USING params: named → @name placeholders, bare → positional
        // ?. BigQuery types USING params by their expression; here
        // each evaluates under its natural type via a typeless SELECT
        def evalAny(expr: String): Lit = {
          val df = spark.sql(s"SELECT (${substitute(expr)}) AS v")
          val rows = df.collect()
          require(rows.length == 1, s"USING expression returned ${rows.length} rows: $expr")
          val t = df.schema.head.dataType.sql
          Lit(t, Option(rows.head.get(0)).map(renderLiteral(_, t)))
        }
        val namedLits = using.collect { case (e, Some(n)) => n.toLowerCase -> evalAny(e) }.toMap
        val posLits = using.collect { case (e, None) => evalAny(e) }
        require(namedLits.isEmpty || posLits.isEmpty,
          "EXECUTE IMMEDIATE USING: don't mix named (expr AS name) and positional (expr) parameters")
        val sqlText = bindParams(dyn, namedLits, posLits)
        val df = GraftSql.load(spark, sqlText)
        if (into.nonEmpty) {
          val rows = df.collect()
          require(rows.length <= 1,
            s"EXECUTE IMMEDIATE ... INTO: query returned ${rows.length} rows (at most one)")
          require(df.schema.length == into.length,
            s"EXECUTE IMMEDIATE ... INTO: query has ${df.schema.length} columns " +
              s"for ${into.length} INTO variables")
          into.zipWithIndex.foreach { case (n, idx) =>
            val k = n.toLowerCase
            val cur = vars.getOrElse(k, throw new IllegalArgumentException(
              s"EXECUTE IMMEDIATE INTO undeclared variable $n (DECLARE it first)"))
            val v = if (rows.isEmpty) null else rows.head.get(idx)
            // re-render under the DECLARED type (the value may arrive
            // under the query's own type — BigQuery coerces on
            // assignment)
            vars(k) = Lit(cur.sparkType, Option(v).map(x =>
              s"CAST(${renderLiteral(x, cur.sparkType)} AS ${cur.sparkType})"))
          }
        } else if (df.schema.nonEmpty) last = Some(df)
      case ForIn(v, query, body) =>
        val k = v.toLowerCase
        require(!vars.contains(k) && !structVars.contains(k),
          s"FOR loop variable $v collides with a declared variable")
        val df = GraftSql.load(spark, substitute(query))
        val rows = df.collect()
        require(rows.length <= maxIterations,
          s"FOR ... IN: the loop query returned ${rows.length} rows " +
            s"(> maxIterations=$maxIterations) — FOR iterates driver-side over a " +
            "BOUNDED result; fold large tables with a set-based statement instead")
        val fields = df.schema.fields
        try {
          val it = rows.iterator; var go = true
          while (go && it.hasNext) {
            val r = it.next()
            structVars(k) = fields.zipWithIndex.map { case (f, i2) =>
              val t = f.dataType.sql
              f.name.toLowerCase -> Lit(t, Option(r.get(i2)).map(renderLiteral(_, t)))
            }.toMap
            try exec(body)
            catch { case _: ContinueSignal => (); case _: BreakSignal => go = false }
          }
        } finally structVars.remove(k)
      case Plain(sql) =>
        val df = GraftSql.load(spark, substitute(sql))
        if (df.schema.nonEmpty) last = Some(df)
    }

    try exec(stmts)
    catch {
      case _: BreakSignal | _: ContinueSignal =>
        throw new IllegalArgumentException(
          "BREAK/LEAVE/CONTINUE/ITERATE outside a loop (LOOP / WHILE / REPEAT / FOR ... IN)")
      case scala.util.control.NonFatal(e) =>
        // an UNCAUGHT error fails the script: an open transaction
        // rolls back (BigQuery's rule). A CAUGHT error — TryBlock —
        // leaves the transaction open for the handler, which is where
        // BigQuery's canonical `EXCEPTION WHEN ERROR THEN ROLLBACK
        // TRANSACTION;` pattern runs.
        if (GraftSql.txnActive(spark)) GraftSql.rollbackTransaction(spark)
        throw e
    }
    if (GraftSql.txnActive(spark)) {
      // loud, not silent: a script that opens a transaction must
      // close it — silent rollback would discard work invisibly
      GraftSql.rollbackTransaction(spark)
      throw new IllegalArgumentException(
        "script ended with an OPEN transaction — it was rolled back; " +
          "end the transaction with COMMIT or ROLLBACK")
    }
    last.getOrElse(spark.emptyDataFrame)
  }

  // ── parser ─────────────────────────────────────────────────────────

  private sealed trait Stmt
  private final case class Plain(sql: String) extends Stmt
  private final case class TryBlock(body: Seq[Stmt], handler: Seq[Stmt]) extends Stmt
  private final case class Raise(message: Option[String]) extends Stmt
  private final case class CreateProc(name: String, orReplace: Boolean,
                                      params: Seq[(String, String)],
                                      body: Seq[Stmt]) extends Stmt
  private final case class Call(name: String, args: Seq[String]) extends Stmt

  // ── stored procedures (session registry) ─────────────────────────
  private final case class Proc(params: Seq[(String, String)], body: Seq[Stmt])
  private val procRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Proc]
  private def procKey(spark: SparkSession, name: String): (Int, String) =
    (System.identityHashCode(spark), name.toLowerCase(java.util.Locale.ROOT))

  /** Remove a registered procedure (DROP PROCEDURE's registry half);
    * returns whether it existed.
    */
  private[graft] def dropProcedure(spark: SparkSession, name: String): Boolean =
    procRegistry.remove(procKey(spark, name)).isDefined
  private final case class Declare(names: Seq[String], bqType: String,
                                   default: Option[String]) extends Stmt
  private final case class SetVar(name: String, expr: String) extends Stmt
  private final case class If(branches: Seq[(String, Seq[Stmt])],
                              orElse: Seq[Stmt]) extends Stmt
  private final case class While(cond: String, body: Seq[Stmt]) extends Stmt
  private final case class Loop(body: Seq[Stmt]) extends Stmt
  private final case class Repeat(body: Seq[Stmt], untilCond: String) extends Stmt
  private case object BreakStmt extends Stmt
  private case object ContinueStmt extends Stmt
  // control-flow signals, NOT errors: an EXCEPTION handler must never
  // swallow a BREAK/CONTINUE crossing a BEGIN block (BigQuery's rule),
  // so TryBlock rethrows these before its NonFatal arm
  private final class BreakSignal extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private final class ContinueSignal extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private final case class Block(body: Seq[Stmt]) extends Stmt
  private final case class ExecImmediate(sqlExpr: String, into: Seq[String],
                                         using: Seq[(String, Option[String])]) extends Stmt
  private final case class ForIn(varName: String, query: String,
                                 body: Seq[Stmt]) extends Stmt

  /** Bind EXECUTE IMMEDIATE parameters into the dynamic text:
    * `@name` → the named literal, top-level `?` → the next positional
    * literal (quote-aware; `@@system` variables untouched). Unused
    * and unknown parameters are loud — a silently-unbound `@name`
    * would reach the engine as an identifier.
    */
  private def bindParams(sql: String, named: Map[String, Lit],
                         positional: Seq[Lit]): String = {
    val out = new StringBuilder
    var i = 0
    var posUsed = 0
    val namedUsed = scala.collection.mutable.Set.empty[String]
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) { out ++= sql.substring(i, e); i = e }
      else if (c == '@' && i + 1 < sql.length && sql.charAt(i + 1) == '@') {
        // @@system_variable: not a parameter — emit verbatim
        out ++= "@@"
        i += 2
        while (i < sql.length && (Character.isLetterOrDigit(sql.charAt(i)) || sql.charAt(i) == '_')) {
          out += sql.charAt(i); i += 1
        }
      } else if (c == '@' && i + 1 < sql.length) {
        var j = i + 1
        while (j < sql.length && (Character.isLetterOrDigit(sql.charAt(j)) || sql.charAt(j) == '_')) j += 1
        val name = sql.substring(i + 1, j)
        require(name.nonEmpty, s"EXECUTE IMMEDIATE: bare '@' in dynamic sql")
        val lit = named.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(
            s"EXECUTE IMMEDIATE: no USING parameter named $name " +
              s"(have: ${named.keys.mkString(", ")})"))
        namedUsed += name.toLowerCase
        out ++= lit.render
        i = j
      } else if (c == '?') {
        require(posUsed < positional.length,
          s"EXECUTE IMMEDIATE: more ? placeholders than USING parameters (${positional.length})")
        out ++= positional(posUsed).render
        posUsed += 1
        i += 1
      } else { out += c; i += 1 }
    }
    require(posUsed == positional.length,
      s"EXECUTE IMMEDIATE: ${positional.length} positional USING parameters " +
        s"but only $posUsed ? placeholders")
    val unusedNamed = named.keySet -- namedUsed
    require(unusedNamed.isEmpty,
      s"EXECUTE IMMEDIATE: USING parameters never referenced: ${unusedNamed.mkString(", ")}")
    out.toString
  }

  private final class Cursor(val text: String) {
    var pos = 0
    def eof: Boolean = { skipWs(); pos >= text.length }
    def skipWs(): Unit = {
      pos = Lexer.skipSpace(text, pos)
      while (Lexer.isComment(text, pos)) {
        require(Lexer.closed(text, pos), "unterminated /* comment */ in script")
        pos = Lexer.skipSpace(text, Lexer.opaqueEnd(text, pos))
      }
    }
    /** Case-insensitive keyword (sequence) at the cursor, consumed if
      * present; each word must end at an identifier boundary.
      */
    def keyword(words: String*): Boolean = {
      skipWs()
      val save = pos
      for (w <- words) {
        skipWs()
        // the identifier-boundary check applies to word-like keywords
        // only ('=' may be followed directly by a digit)
        if (!text.regionMatches(true, pos, w, 0, w.length) ||
          (Lexer.isWord(w.last) && pos + w.length < text.length &&
            Lexer.isWord(text.charAt(pos + w.length)))) {
          pos = save; return false
        }
        pos += w.length
      }
      true
    }
    def peekKeyword(words: String*): Boolean = {
      val save = pos; val r = keyword(words: _*); pos = save; r
    }
    def ident(): String = {
      skipWs()
      require(pos < text.length, "unexpected end of script (expected identifier)")
      if (text.charAt(pos) == '`') {
        require(Lexer.closed(text, pos), "unterminated backtick identifier")
        val e = Lexer.opaqueEnd(text, pos)
        val s = text.substring(pos + 1, e - 1); pos = e; s
      } else {
        val start = pos
        while (pos < text.length && Lexer.isWord(text.charAt(pos))) pos += 1
        require(pos > start, s"expected identifier at: ${text.substring(start, math.min(start + 30, text.length))}")
        text.substring(start, pos)
      }
    }
    /** Raw type text: up to a top-level ',' or ')' (neither consumed);
      * parens nest (DECIMAL(38,9)), quotes are opaque.
      */
    def typeText(): String = {
      skipWs()
      val start = pos
      toClose(commaStops = true)
      text.substring(start, pos).trim
    }
    /** Raw text up to the ')' closing the CURRENT paren level (not
      * consumed); top-level commas are part of the text.
      */
    def rawUntilCloseParen(): String = {
      val start = pos
      require(toClose(commaStops = false), "unterminated ( ... ) in script")
      text.substring(start, pos)
    }
    // moves to the ')' closing the current level (or a top-level ','
    // when `commaStops`); false at the end of the text
    private def toClose(commaStops: Boolean): Boolean = {
      var depth = 0
      while (pos < text.length) {
        val e = Lexer.opaqueEnd(text, pos)
        if (e > pos) pos = e
        else {
          val ch = text.charAt(pos)
          if (depth == 0 && (ch == ')' || (commaStops && ch == ','))) return true
          if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
          pos += 1
        }
      }
      false
    }
    /** Raw text up to (not consuming) the first of the given
      * STOPPERS — a top-level ';' or a top-level keyword from `stop`
      * — quote-aware, paren-aware (keywords inside parens don't
      * stop: `(SELECT ... WHERE x THEN ...)` can't happen, but a
      * scalar subquery containing e.g. CASE ... END must not trip
      * the END matcher).
      */
    def until(stopKeywords: Seq[Seq[String]], stopSemicolon: Boolean): String = {
      skipWs()
      val start = pos
      var depth = 0
      while (pos < text.length) {
        val c = text.charAt(pos)
        val e = Lexer.opaqueEnd(text, pos)
        if (e > pos) pos = e
        else if (c == '(') { depth += 1; pos += 1 }
        else if (c == ')') { depth -= 1; pos += 1 }
        else if (depth == 0 && c == ';' && stopSemicolon) {
          return text.substring(start, pos).trim
        } else if (depth == 0 && (Character.isLetter(c)) &&
          (pos == 0 || !Lexer.isWord(text.charAt(pos - 1))) &&
          stopKeywords.exists(ks => peekKeywordAt(ks))) {
          return text.substring(start, pos).trim
        } else pos += 1
      }
      // EOF ends a ';'-terminated scan (the final statement's ';' is
      // optional); a scan for a mandatory keyword (THEN / DO) must
      // find it
      require(stopSemicolon,
        s"unexpected end of script while scanning for " +
          s"${stopKeywords.map(_.mkString(" ")).mkString(" / ")}")
      text.substring(start).trim
    }
    private def peekKeywordAt(words: Seq[String]): Boolean = {
      val save = pos; val r = keyword(words: _*); pos = save; r
    }
    def expect(words: String*): Unit =
      require(keyword(words: _*),
        s"expected ${words.mkString(" ")} at: ${text.substring(pos, math.min(pos + 40, text.length))}")
    def semicolon(): Unit = {
      skipWs()
      if (pos < text.length && text.charAt(pos) == ';') pos += 1
    }
  }

  /** Statements until `endKeyword` (exclusive; None = end of text).
    * The end keyword is NOT consumed.
    */
  private def parseBlock(c: Cursor, endKeyword: Option[Seq[Seq[String]]]): Seq[Stmt] = {
    val out = scala.collection.mutable.ListBuffer.empty[Stmt]
    def atEnd: Boolean = c.eof ||
      endKeyword.exists(_.exists(ks => c.peekKeyword(ks: _*)))
    while (!atEnd) {
      require(!c.peekKeyword("RETURN"),
        "RETURN is not supported in scripts (the last result-set statement is the " +
          "script's result; in a procedure, structure with IF/loops instead)")
      require(!c.peekKeyword("EXCEPTION"),
        "EXCEPTION belongs to a BEGIN block: BEGIN ... EXCEPTION WHEN ERROR THEN ... END")
      if (c.peekKeyword("CREATE", "PROCEDURE") ||
          c.peekKeyword("CREATE", "OR", "REPLACE", "PROCEDURE")) {
        c.keyword("CREATE")
        val orReplace = c.keyword("OR", "REPLACE")
        c.expect("PROCEDURE")
        val name = c.ident()
        c.skipWs(); c.expect("(")
        val params = scala.collection.mutable.ListBuffer.empty[(String, String)]
        c.skipWs()
        if (!c.keyword(")")) {
          var go = true
          while (go) {
            var pn = c.ident()
            // BigQuery parameter modes: IN is the supported default;
            // OUT/INOUT write back to caller variables — not here
            if (pn.equalsIgnoreCase("IN")) pn = c.ident()
            else require(!pn.equalsIgnoreCase("OUT") && !pn.equalsIgnoreCase("INOUT"),
              s"procedure parameter mode ${pn.toUpperCase} is not supported (IN only)")
            val t = c.typeText()
            require(t.nonEmpty, s"procedure parameter $pn: missing type")
            params += ((pn, t))
            c.skipWs()
            if (!c.keyword(",")) { c.expect(")"); go = false }
          }
        }
        c.expect("BEGIN")
        val body = parseBlock(c, Some(Seq(Seq("END"), Seq("EXCEPTION"))))
        val stmts = if (c.keyword("EXCEPTION")) {
          c.expect("WHEN", "ERROR", "THEN")
          val handler = parseBlock(c, Some(Seq(Seq("END"))))
          Seq(TryBlock(body, handler))
        } else body
        c.expect("END"); c.semicolon()
        out += CreateProc(name, orReplace, params.toSeq, stmts)
      } else if (c.keyword("CALL")) {
        val name = c.ident()
        c.skipWs(); c.expect("(")
        val raw = c.rawUntilCloseParen() // args to the matching ')'
        c.skipWs(); c.expect(")")
        c.semicolon()
        val args = Lexer.splitTop(raw)
        out += Call(name, args)
      } else
      if (c.keyword("DECLARE")) {
        val names = scala.collection.mutable.ListBuffer(c.ident())
        c.skipWs()
        while (c.pos < c.text.length && c.text.charAt(c.pos) == ',') {
          c.pos += 1; names += c.ident(); c.skipWs()
        }
        // the type may be multi-token (DECIMAL(38,9)) — read to
        // DEFAULT or ';'
        val typeAndMaybe = c.until(Seq(Seq("DEFAULT")), stopSemicolon = true)
        val default = if (c.keyword("DEFAULT")) {
          Some(c.until(Nil, stopSemicolon = true))
        } else None
        c.semicolon()
        require(typeAndMaybe.nonEmpty, s"DECLARE ${names.mkString(",")}: missing type")
        out += Declare(names.toSeq, typeAndMaybe, default)
      } else if (c.keyword("SET")) {
        val name = c.ident()
        c.skipWs(); c.expect("=")
        val expr = c.until(Nil, stopSemicolon = true)
        c.semicolon()
        out += SetVar(name, expr)
      } else if (c.keyword("IF")) {
        val branches = scala.collection.mutable.ListBuffer.empty[(String, Seq[Stmt])]
        val cond = c.until(Seq(Seq("THEN")), stopSemicolon = false)
        c.expect("THEN")
        val stops = Seq(Seq("ELSEIF"), Seq("ELSE"), Seq("END", "IF"))
        branches += cond -> parseBlock(c, Some(stops))
        while (c.keyword("ELSEIF")) {
          val cond2 = c.until(Seq(Seq("THEN")), stopSemicolon = false)
          c.expect("THEN")
          branches += cond2 -> parseBlock(c, Some(stops))
        }
        val orElse = if (c.keyword("ELSE"))
          parseBlock(c, Some(Seq(Seq("END", "IF")))) else Seq.empty
        c.expect("END", "IF"); c.semicolon()
        out += If(branches.toSeq, orElse)
      } else if (c.keyword("WHILE")) {
        val cond = c.until(Seq(Seq("DO")), stopSemicolon = false)
        c.expect("DO")
        val body = parseBlock(c, Some(Seq(Seq("END", "WHILE"))))
        c.expect("END", "WHILE"); c.semicolon()
        out += While(cond, body)
      } else if (c.keyword("LOOP")) {
        // BigQuery's unconditional loop: BREAK/LEAVE is the only exit
        val body = parseBlock(c, Some(Seq(Seq("END", "LOOP"))))
        c.expect("END", "LOOP"); c.semicolon()
        out += Loop(body)
      } else if (c.keyword("REPEAT")) {
        val body = parseBlock(c, Some(Seq(Seq("UNTIL"))))
        c.expect("UNTIL")
        val cond = c.until(Seq(Seq("END", "REPEAT")), stopSemicolon = false)
        c.expect("END", "REPEAT"); c.semicolon()
        out += Repeat(body, cond)
      } else if (c.keyword("BREAK") || c.keyword("LEAVE")) {
        c.skipWs()
        require(c.eof || c.text.charAt(c.pos) == ';',
          "labeled BREAK/LEAVE is not supported — bare BREAK exits the innermost loop")
        c.semicolon()
        out += BreakStmt
      } else if (c.keyword("CONTINUE") || c.keyword("ITERATE")) {
        c.skipWs()
        require(c.eof || c.text.charAt(c.pos) == ';',
          "labeled CONTINUE/ITERATE is not supported — bare CONTINUE advances the innermost loop")
        c.semicolon()
        out += ContinueStmt
      } else if (c.peekKeyword("BEGIN", "TRANSACTION")) {
        // a STATEMENT, not a block: BEGIN TRANSACTION routes to
        // GraftSql's transaction dispatch (COMMIT/ROLLBACK reach it
        // through the plain branch naturally)
        val sql = c.until(Nil, stopSemicolon = true)
        c.semicolon()
        out += Plain(sql)
      } else if (c.keyword("BEGIN")) {
        val body = parseBlock(c, Some(Seq(Seq("END"), Seq("EXCEPTION"))))
        if (c.keyword("EXCEPTION")) {
          // BigQuery's one handler shape: EXCEPTION WHEN ERROR THEN
          c.expect("WHEN", "ERROR", "THEN")
          val handler = parseBlock(c, Some(Seq(Seq("END"))))
          c.expect("END"); c.semicolon()
          out += TryBlock(body, handler)
        } else {
          c.expect("END"); c.semicolon()
          out += Block(body)
        }
      } else if (c.keyword("RAISE")) {
        c.skipWs()
        val msg = if (c.keyword("USING")) {
          c.expect("MESSAGE"); c.skipWs(); c.expect("=")
          Some(c.until(Nil, stopSemicolon = true))
        } else None
        c.semicolon()
        out += Raise(msg)
      } else if (c.keyword("EXECUTE", "IMMEDIATE")) {
        val sqlExpr = c.until(Seq(Seq("INTO"), Seq("USING")), stopSemicolon = true)
        require(sqlExpr.nonEmpty, "EXECUTE IMMEDIATE: missing sql expression")
        val into = if (c.keyword("INTO")) {
          val ns = scala.collection.mutable.ListBuffer(c.ident())
          c.skipWs()
          while (c.pos < c.text.length && c.text.charAt(c.pos) == ',') {
            c.pos += 1; ns += c.ident(); c.skipWs()
          }
          ns.toSeq
        } else Nil
        val using = if (c.keyword("USING")) {
          val text = c.until(Nil, stopSemicolon = true)
          require(text.nonEmpty, "EXECUTE IMMEDIATE USING: missing parameter list")
          Lexer.splitTop(text).map(parseUsingItem)
        } else Nil
        c.semicolon()
        out += ExecImmediate(sqlExpr, into, using)
      } else if (c.keyword("FOR")) {
        val v = c.ident()
        c.expect("IN")
        val q = c.until(Seq(Seq("DO")), stopSemicolon = false)
        c.expect("DO")
        val body = parseBlock(c, Some(Seq(Seq("END", "FOR"))))
        c.expect("END", "FOR"); c.semicolon()
        out += ForIn(v, stripOuterParens(q), body)
      } else {
        // one plain SQL statement to the next top-level ';' — CASE
        // ... END inside it sits behind no block keyword ambiguity
        // because plain statements never contain top-level
        // END IF/END WHILE (those belong to the enclosing block,
        // which the ';' ends before)
        val sql = c.until(Nil, stopSemicolon = true)
        c.semicolon()
        if (sql.nonEmpty) out += Plain(sql)
      }
    }
    out.toSeq
  }

  /** A USING item: `expr [AS name]` — the LAST top-level AS followed
    * by a lone identifier is the parameter name (an `AS` inside a
    * string literal or a `CAST(x AS T)`'s parens never splits).
    */
  private def parseUsingItem(item: String): (String, Option[String]) = {
    val lastAs = Lexer.lastTopWord(item, "AS")
    if (lastAs < 0) return (item, None)
    val name = item.substring(lastAs + 2).trim
    if ("""^[A-Za-z_]\w*$""".r.pattern.matcher(name).matches())
      (item.substring(0, lastAs).trim, Some(name))
    else (item, None)
  }

  private def stripOuterParens(q0: String): String = {
    val q = q0.trim
    if (!q.startsWith("(") || !q.endsWith(")")) return q
    // only strip if the opening paren matches the FINAL char
    if (Lexer.closeParen(q, 0) != q.length - 1) q
    else q.substring(1, q.length - 1).trim
  }

  private def renderLiteral(v: Any, sparkType: String): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => b.toString
    // keep the declared integral width: a bare `99` parses as INT and
    // would silently narrow an INT64 variable's expressions
    case n @ (_: Long | _: Int | _: Short | _: Byte) => s"CAST($n AS $sparkType)"
    case d: java.math.BigDecimal => s"CAST('${d.toPlainString}' AS $sparkType)"
    case d: Double => doubleLit(d)
    case f: Float => doubleLit(f.toDouble)
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case t: java.time.LocalDateTime => s"TIMESTAMP_NTZ '${t.toString.replace('T', ' ')}'"
    case t: java.time.Instant => s"TIMESTAMP '$t'"
    case d: java.time.LocalDate => s"DATE '$d'"
    case other => throw new IllegalArgumentException(
      s"script variables hold scalars; cannot carry ${other.getClass.getSimpleName} " +
        "(arrays/structs belong in tables)")
  }

  private def doubleLit(d: Double): String =
    if (d.isNaN) "CAST('NaN' AS DOUBLE)"
    else if (d.isPosInfinity) "CAST('Infinity' AS DOUBLE)"
    else if (d.isNegInfinity) "CAST('-Infinity' AS DOUBLE)"
    // 17 significant digits round-trip any double exactly
    else s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
}

/** A scripted `RAISE USING MESSAGE = ...` error — its own class so
  * tests and callers can distinguish deliberate script raises from
  * engine failures.
  */
final class GraftScriptException(message: String) extends RuntimeException(message)
