package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import graft.operators.{Incremental, Staging, Upsert}
import graft.sql.Lexer
import graft.sql.Lexer.isWord

/** SQL-statement MERGE — the reference's users write upserts as SQL
  * text (fx_pipeline_with_merge.py:90-104: `MERGE t USING s ON ...
  * WHEN MATCHED THEN UPDATE SET ... WHEN NOT MATCHED THEN INSERT
  * ...`), and a migrating user hits that surface on day one. Plain
  * parquet Spark can PARSE `MERGE INTO` (Catalyst produces a
  * `MergeIntoTable` plan) but cannot EXECUTE it without a
  * row-level-operation catalog — so this object completes the path:
  * Catalyst's own parser does the SQL-dialect work, the plan is
  * validated against the upsert shapes the engine supports, and
  * execution routes to `Upsert.merge` / `Upsert.idempotentAppend`,
  * inheriting their broadcastable UPDATE ∪ INSERT decomposition (the
  * target's payload never shuffles for a small delta).
  *
  * Supported statement shapes (the reference's, i.e. BigQuery's
  * idempotent-load patterns):
  *  - `WHEN MATCHED THEN UPDATE SET ...` + `WHEN NOT MATCHED THEN
  *    INSERT ...` → `Upsert.merge` (upsert);
  *  - `WHEN NOT MATCHED THEN INSERT ...` alone → `Upsert
  *    .idempotentAppend` (check-then-append, DAG variant 2);
  *  - `UPDATE SET *` / `INSERT *` or explicit same-name column lists.
  * Everything else (conditional actions, DELETE, expression-valued
  * assignments, WHEN NOT MATCHED BY SOURCE) raises
  * IllegalArgumentException naming the unsupported clause — loud
  * beats silently-wrong merge semantics.
  *
  * The ON clause must be a conjunction of qualified same-name column
  * equalities (`T.k = S.k AND ...`), which is the key-match shape both
  * reference DAGs use; UPDATE assignments must cover every non-key
  * target column so the statement means the same thing as
  * `Upsert.merge`'s take-all-from-source semantics.
  *
  * Statement semantics are SQL's, not the library's: a null key never
  * matches under `=` (null-keyed source rows insert; null-keyed target
  * rows pass through — `Upsert.merge` alone would match them
  * null-safely), and a TARGET row matching more than one source row
  * raises `MERGE_CARDINALITY_VIOLATION` at execution, as BigQuery
  * does, instead of silently fanning the target row out. Duplicate
  * source keys that match no target row are legal — each inserts, in
  * both the upsert and insert-only forms.
  *
  * Returns the merged frame (view-over-parquet tables are immutable
  * snapshots — persist via `FxPipeline`'s stage-and-swap or
  * `Layout`'s partition overwrite, same as every library-call merge).
  *
  * ISOLATION: statement semantics only — the snapshot-derived result
  * is not an atomic table mutation, so merges must be serialized per
  * target (single writer), unlike BigQuery's snapshot-isolated MERGE.
  * On a Delta/Iceberg catalog the same statement text executes
  * natively with ACID semantics; this object's validation accepts a
  * strict subset of those dialects, so statements migrate unchanged.
  * See README "Isolation contract".
  */
object GraftSql {

  /** One SQL entry point for every load idiom the reference's DAGs
    * use: dispatches on the parsed statement class —
    * `MERGE` → [[merge]], `INSERT INTO ... SELECT` → [[insert]],
    * `CREATE TABLE ... AS SELECT` → [[createTableAs]]. A migrating
    * BigQuery user feeds their load scripts here unchanged.
    */
  def load(spark: SparkSession, sql00: String): DataFrame = {
    // comments carry no statement semantics; hints stay (they steer
    // the plan) and every pass skips them as opaque text
    val sql0 = Lexer.stripComments(sql00)
    // native-expression SQL spellings (COSINE_DISTANCE etc.) — cheap,
    // idempotent, and statements must see them whatever session the
    // caller built
    graft.functions.SqlFunctions.register(spark)
    // CREATE TABLE / [MATERIALIZED] VIEW carrying an OPTIONS(...)
    // metadata clause (round 14): split the clause off textually,
    // dispatch the stripped statement as usual, then record the pairs
    // for INFORMATION_SCHEMA.TABLE_OPTIONS (a re-create WITHOUT the
    // clause clears stale metadata — recorded only after the create
    // succeeds, so a failed statement leaves the old rows alone).
    // Scoped to plain TABLE/VIEW heads — EXTERNAL TABLE,
    // SNAPSHOT/CLONE, index and model DDL don't match and keep
    // consuming their own OPTIONS. An IF NOT EXISTS no-op keeps the
    // existing table's recorded options (BigQuery's disposition).
    sql0 match {
      case CreateOptionsHeadRe(ine, rawName) =>
        val (stripped, bodyOpt) = splitOptionsClause(sql0)
        val name = viewName(rawName)
        val existed = spark.catalog.tableExists(name)
        val res = loadDispatch(spark, stripped)
        if (ine == null || !existed) {
          bodyOpt match {
            case Some(body) => recordTableOptions(spark, name, body)
            case None => tableOptionsRegistry.remove(mvKey(spark, name))
          }
          // replacing a table/view drops its row policies (BigQuery's
          // rule) — the stale raw frame must never shadow the new one
          rowPolicyRegistry.remove(mvKey(spark, name))
          rowPolicyRawRegistry.remove(mvKey(spark, name))
        }
        res
      case _ => loadDispatch(spark, sql0)
    }
  }

  /** The textual dialect passes `load` applies before dispatch, in
    * order. Time travel and VECTOR_SEARCH resolve before the function
    * rewrites so every statement class (SELECT, INSERT ... SELECT,
    * EXPORT) can use them, time travel first so a TVF's TABLE
    * argument may itself be an AS OF reference.
    */
  private[graft] def passes(spark: SparkSession): Seq[(String, String => String)] = Seq(
    "pipes" -> (graft.sql.Pipes.rewritePipes(_)),
    "timeTravel" -> (rewriteTimeTravel(spark, _)),
    "wildcardTables" -> (rewriteWildcardTables(spark, _)),
    "changeTvf" -> (rewriteChangeTvf(spark, _)),
    "gapFillTvf" -> (rewriteGapFillTvf(spark, _)),
    "rangeSessionizeTvf" -> (rewriteRangeSessionizeTvf(spark, _)),
    "vectorSearch" -> (rewriteVectorSearch(spark, _)),
    "mlPredict" -> (graft.sql.Models.rewriteMlPredict(spark, _)),
    "informationSchema" -> (rewriteInformationSchema(spark, _)),
    "tableSample" -> (rewriteTableSample(_)),
    "starReplace" -> (rewriteStarReplace(_)),
    "jsonArrayFns" -> (graft.sql.Functions.rewriteJsonArrayFns(_)),
    "generateFns" -> (graft.sql.Functions.rewriteGenerateFns(_)),
    "bqFunctions" -> (graft.sql.Functions.rewriteBqFunctions(_)),
    "arraySubquery" -> (rewriteArraySubquery(_)),
    "scalarUnnestSubquery" -> (rewriteScalarUnnestSubquery(_)),
    "unnest" -> (graft.sql.Functions.rewriteUnnest(_)),
    "qualify" -> (rewriteQualify(_)),
    "mlScaler" -> (graft.sql.Models.rewriteMlScaler(_)),
    "windowRefinement" -> (rewriteWindowRefinement(_)))

  private def loadDispatch(spark: SparkSession, sql0: String): DataFrame = {
    val sql = passes(spark).foldLeft(sql0) { case (text, (_, pass)) => pass(text) }
    // ASSERT is a BigQuery scripting verb Catalyst cannot parse —
    // recognize it before parsePlan so load scripts run unchanged;
    // it produces no result set, so a passing assertion yields the
    // empty frame
    if (BeginTxnRe.pattern.matcher(sql).matches()) {
      beginTransaction(spark)
      spark.emptyDataFrame
    } else if (CommitTxnRe.pattern.matcher(sql).matches()) {
      commitTransaction(spark)
      spark.emptyDataFrame
    } else if (RollbackTxnRe.pattern.matcher(sql).matches()) {
      rollbackTransaction(spark)
      spark.emptyDataFrame
    } else if (AssertRe.pattern.matcher(sql).matches()) {
      assertStatement(spark, sql)
      spark.emptyDataFrame
    } else if (ExportRe.pattern.matcher(sql).matches()) {
      export(spark, sql)
    } else if (ViewHeadRe.pattern.matcher(sql).matches()) {
      createView(spark, sql)
    } else if (ExternalHeadRe.pattern.matcher(sql).matches()) {
      createExternal(spark, sql)
    } else if (LoadDataHeadRe.pattern.matcher(sql).matches()) {
      loadData(spark, sql)
    } else if (FunctionHeadRe.pattern.matcher(sql).matches()) {
      createFunction(spark, sql)
    } else if (graft.sql.Models.ModelHeadRe.pattern.matcher(sql).matches()) {
      graft.sql.Models.createModel(spark, sql)
    } else if (graft.sql.Models.DropModelRe.pattern.matcher(sql).matches()) {
      graft.sql.Models.dropModel(spark, sql)
    } else if (SearchIndexHeadRe.pattern.matcher(sql).matches()) {
      createSearchIndex(spark, sql)
    } else if (DropSearchIndexRe.pattern.matcher(sql).matches()) {
      dropSearchIndex(spark, sql)
    } else if (VectorIndexHeadRe.pattern.matcher(sql).matches()) {
      createVectorIndex(spark, sql)
    } else if (DropVectorIndexRe.pattern.matcher(sql).matches()) {
      dropVectorIndex(spark, sql)
    } else if (CloneRe.pattern.matcher(sql).matches()) {
      createClone(spark, sql)
    } else if (PartCtasHeadRe.pattern.matcher(sql).matches()) {
      createPartitionedTable(spark, sql)
    } else if (DropRe.pattern.matcher(sql).matches()) {
      dropStatement(spark, sql)
    } else if (ProcHeadRe.pattern.matcher(sql).matches() ||
      CallHeadRe.pattern.matcher(sql).matches()) {
      // stored procedures live in the scripting layer — a standalone
      // CREATE PROCEDURE / CALL statement is a one-statement script
      GraftScript.run(spark, sql)
    } else if (EmptyTableRe.pattern.matcher(sql).matches()) {
      createEmptyTable(spark, sql)
    } else if (HistoryRe.pattern.matcher(sql).matches()) {
      describeHistory(spark, sql)
    } else if (RowPolicyHeadRe.pattern.matcher(sql).matches()) {
      rowAccessPolicy(spark, sql)
    } else if (AlterOptionsRe.pattern.matcher(sql).matches()) {
      alterSetOptions(spark, sql)
    } else if (AlterConstraintHeadRe.pattern.matcher(sql).matches()) {
      alterConstraint(spark, sql)
    } else if (OptimizeRe.pattern.matcher(sql).matches() ||
      VacuumRe.pattern.matcher(sql).matches()) {
      maintenance(spark, sql)
    } else spark.sessionState.sqlParser.parsePlan(sql) match {
      case m: MergeIntoTable =>
        commitIfVersioned(spark, dmlTargetName(m.targetTable), "merge")(mergeParsed(spark, m))
      case i: InsertIntoStatement =>
        dmlTargetName(i.table).flatMap(n =>
          graft.sources.Versioned.registeredPath(spark, n).map((n, _))) match {
          case Some((n, path)) =>
            // the transactional fast path: an APPEND disposition lands
            // as an APPEND COMMIT — only the new rows write (O(batch),
            // the FxPipeline ingest shape), the manifest extends the
            // live set, and the pre-image stays readable AS OF
            val (_, aligned, over) = insertAligned(spark, i)
            if (txnActive(spark)) {
              if (over) txnStageOverwrite(spark, n, path, aligned)
              else txnStageAppend(spark, n, path, aligned)
            } else {
              if (over) graft.sources.Versioned.overwrite(aligned, path, label = "insert overwrite")
              else graft.sources.Versioned.append(aligned, path, label = "insert")
              graft.sources.Versioned.register(spark, n, path)
            }
          case None => insertParsed(spark, i)
        }
      case c: CreateTableAsSelect => ctasParsed(spark, c.name, sql)
      case r: ReplaceTableAsSelect =>
        // resolve the REPLACEMENT query before the old table is
        // touched: analysis errors (missing columns/tables) are the
        // common failure class and must leave the original intact. A
        // runtime failure mid-write can still lose it — the V1 session
        // catalog has no atomic swap (stated; BigQuery's OR REPLACE is
        // atomic)
        spark.sessionState.executePlan(r.query).assertAnalyzed()
        ctasParsed(spark, r.name, sql, replace = true)
      case d: DeleteFromTable =>
        commitIfVersioned(spark, dmlTargetName(d.table), "delete")(deleteParsed(spark, d))
      case u: UpdateTable =>
        commitIfVersioned(spark, dmlTargetName(u.table), "update")(updateParsed(spark, u))
      case t: org.apache.spark.sql.catalyst.plans.logical.TruncateTable =>
        commitIfVersioned(spark, alterTargetName(t.table),
          "truncate")(truncateParsed(spark, t))
      case a: AddColumns =>
        commitIfVersioned(spark, alterTargetName(a.table), "alter")(addColumnsParsed(spark, a))
      case dc: DropColumns =>
        commitIfVersioned(spark, alterTargetName(dc.table), "alter")(dropColumnsParsed(spark, dc))
      case r: RenameColumn =>
        commitIfVersioned(spark, alterTargetName(r.table), "alter")(renameColumnParsed(spark, r))
      case rt: org.apache.spark.sql.catalyst.plans.logical.RenameTable =>
        renameTableParsed(spark, rt)
      // a plain query (SELECT / WITH / UNION / VALUES / TABLE) — the
      // statements BigQuery scripts interleave with their DML; any
      // parsed NON-command plan runs over the registered views, so
      // `load` is the whole script entry point. Unsupported DDL still
      // parses to a Command and stays loud below.
      case q if !q.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] =>
        spark.sql(sql)
      case other => throw new IllegalArgumentException(
        s"not a DML statement (parsed to ${other.nodeName}); " +
          "supported: MERGE, INSERT INTO ... SELECT, CREATE TABLE ... AS SELECT, " +
          "DELETE, UPDATE, TRUNCATE, ALTER TABLE ADD/DROP/RENAME COLUMN / RENAME TO, " +
          "ASSERT, EXPORT DATA, CREATE [MATERIALIZED] VIEW, CREATE EXTERNAL TABLE, " +
          "LOAD DATA, CREATE [TEMP] [TABLE] FUNCTION")
    }
  }

  /** BigQuery `SELECT [t.]* [EXCEPT (...)] REPLACE (expr AS col, ...)`
    * → Spark `[t.]* EXCEPT (col, ...), (expr) AS col, ...` — the
    * star-modifier pair, closing the round-8 `* REPLACE` trade.
    * `EXCEPT` alone is native Spark 4 surface and passes through
    * untouched; when `REPLACE` is present the replaced names join the
    * EXCEPT list and the replacement expressions are appended as
    * ordinary aliased items. SEMANTICS NOTE (the one divergence,
    * stated): BigQuery keeps a replaced column at its ORIGINAL star
    * position; this rewrite moves it to the end of the expansion.
    * Values, names and types are identical — only positional order
    * differs, so name-addressed consumers (joins, aggregates, writes
    * by name, the driver's name-sorted gate) see no difference; a
    * downstream UNION-by-position over the bare star should spell its
    * projection explicitly.
    *
    * A `*` only counts as a star in SELECT-item position (preceded by
    * `SELECT`/`DISTINCT`/`ALL`, a comma, `(`, or a qualifying `.`) —
    * `x * REPLACE(s, 'a', 'b')` stays multiplication-by-function-call.
    * Quote-aware; each REPLACE item requires a top-level ` AS name`
    * (loud otherwise).
    */
  /** BigQuery named-WINDOW REFINEMENT — `WINDOW w1 AS (PARTITION BY
    * g), w2 AS (w1 ORDER BY ts)` — merged TEXTUALLY into a full spec
    * before Catalyst (Spark's grammar has named windows, not
    * refinement). BigQuery's composition rules are enforced loudly:
    * the base must be defined EARLIER in the same WINDOW clause, the
    * refinement cannot redefine PARTITION BY, may add ORDER BY only
    * when the base has none, and a refined base must not carry a
    * frame clause; the refinement's own frame is appended. Chains
    * (w3 refining w2) fold left-to-right through the already-merged
    * text. The INLINE form — `OVER (w ORDER BY ...)` / `OVER (w ROWS
    * ...)`, at least as common in the wild as the clause form (round
    * 11) — rides the same merge: every OVER body opening with a name
    * defined in the statement's WINDOW clause folds against that
    * (already-merged) base under the same composition rules. `OVER
    * (w)` with no refinement is native Spark and passes through.
    * Textual scope note: names resolve against WINDOW definitions
    * wherever the OVER appears — with several subquery WINDOW clauses
    * defining the SAME name the first clause's fold wins (spell such
    * queries in full).
    */
  private[graft] def rewriteWindowRefinement(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("WINDOW")) return sql
    // (partition-by, order-by, frame) thirds of a window spec body;
    // loud on leading garbage so a half-parsed refinement can't land
    def splitSpec(spec: String, what: String): (String, String, String) = {
      val pi = Lexer.topWord(spec, "PARTITION")
      val oi = Lexer.topWord(spec, "ORDER")
      val fi = Seq("ROWS", "RANGE", "GROUPS").map(Lexer.topWord(spec, _))
        .filter(_ >= 0).sorted.headOption.getOrElse(-1)
      val marks = Seq(pi, oi, fi).filter(_ >= 0).sorted
      val first = marks.headOption.getOrElse(spec.length)
      require(spec.substring(0, first).trim.isEmpty,
        s"cannot parse window spec $what: unexpected text before " +
          s"PARTITION BY/ORDER BY/frame in '${spec.trim}'")
      def sliceFrom(at: Int): String =
        if (at < 0) ""
        else spec.substring(at, marks.find(_ > at).getOrElse(spec.length)).trim
      (sliceFrom(pi), sliceFrom(oi), sliceFrom(fi))
    }
    val frameKw = Set("PARTITION", "ORDER", "ROWS", "RANGE", "GROUPS")
    val replacements = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    // OVER-body spans already folded (several WINDOW clauses in one
    // statement must not re-replace the same inline site)
    val inlineDone = scala.collection.mutable.Set.empty[Int]
    var i = Lexer.indexOfWord(sql, "WINDOW")
    while (i >= 0) {
      // try to parse `name AS ( ... ) [, ...]` after the keyword —
      // anything else means WINDOW was an identifier; keep scanning
      var j = i + 6
      val defs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val spans = scala.collection.mutable.ListBuffer.empty[(String, Int, Int)]
      var ok = true; var more = true
      while (ok && more) {
        j = Lexer.skipSpace(sql, j)
        // window name: bare identifier or backticked
        val nameStart = j
        if (j < sql.length && sql.charAt(j) == '`') {
          ok = Lexer.closed(sql, j); j = Lexer.opaqueEnd(sql, j)
        } else {
          while (j < sql.length && isWord(sql.charAt(j))) j += 1
        }
        val name = sql.substring(nameStart, j)
        if (name.isEmpty) ok = false
        if (ok) {
          j = Lexer.skipSpace(sql, j)
          if (Lexer.wordAt(sql, "AS", j)) j += 2
          else ok = false
        }
        if (ok) {
          j = Lexer.skipSpace(sql, j)
          val close = if (j < sql.length && sql.charAt(j) == '(') Lexer.closeParen(sql, j) else -1
          if (close >= 0) {
            val open = j
            j = close + 1
            val key = name.stripPrefix("`").stripSuffix("`")
              .toLowerCase(java.util.Locale.ROOT)
            defs(key) = sql.substring(open + 1, close)
            spans += ((key, open + 1, close))
            val k = Lexer.skipSpace(sql, j)
            if (k < sql.length && sql.charAt(k) == ',') { j = k + 1 }
            else more = false
          } else ok = false
        }
      }
      if (spans.nonEmpty && ok) {
        // fold refinements left-to-right through the merged text
        val HeadIdent = """(?s)^\s*(`[^`]+`|[A-Za-z_]\w*)\s*(.*)$""".r
        spans.foreach { case (key, bs, be) =>
          val body = defs(key)
          body match {
            case HeadIdent(tok0, rest) =>
              val tok = tok0.stripPrefix("`").stripSuffix("`")
                .toLowerCase(java.util.Locale.ROOT)
              if (!frameKw(tok.toUpperCase(java.util.Locale.ROOT)) && tok != key) {
                require(defs.contains(tok) && defs.keysIterator.indexOf(tok) <
                  defs.keysIterator.indexOf(key),
                  s"window $key references '$tok0', which is not a window defined " +
                    "EARLIER in the same WINDOW clause (BigQuery's refinement rule)")
                val (p1, o1, f1) = splitSpec(defs(tok), s"base $tok0")
                val (p2, o2, f2) = splitSpec(rest, s"refinement $key")
                require(p2.isEmpty,
                  s"window $key cannot redefine PARTITION BY — it inherits $tok0's")
                require(o2.isEmpty || o1.isEmpty,
                  s"window $key cannot add ORDER BY: base $tok0 already has one")
                require(f1.isEmpty,
                  s"window $key cannot refine $tok0: a refined base must not have " +
                    "a frame clause")
                val merged = Seq(p1, if (o2.nonEmpty) o2 else o1, f2)
                  .filter(_.nonEmpty).mkString(" ")
                defs(key) = merged
                replacements += ((bs, be, merged))
              }
            case _ => // empty or keyword-led spec: plain definition
          }
        }
        // inline `OVER (w ORDER BY ... / frame)` refinement: scan
        // every OVER site; a body opening with a name defined in
        // THIS clause's defs merges with the (already-folded) base
        // under the same composition rules. Bare `OVER (w)` is
        // native Spark — only a non-empty tail is a refinement.
        var k = Lexer.indexOfWord(sql, "OVER")
        while (k >= 0) {
          var j2 = Lexer.skipSpace(sql, k + 4)
          if (j2 < sql.length && sql.charAt(j2) == '(' && !inlineDone(j2)) {
            val open = j2
            j2 = Lexer.closeParen(sql, open) + 1
            if (j2 > 0) {
              val body = sql.substring(open + 1, j2 - 1)
              body match {
                case HeadIdent(tok0, rest) if rest.trim.nonEmpty =>
                  val tok = tok0.stripPrefix("`").stripSuffix("`")
                    .toLowerCase(java.util.Locale.ROOT)
                  if (!frameKw(tok.toUpperCase(java.util.Locale.ROOT)) &&
                    defs.contains(tok)) {
                    val (p1, o1, f1) = splitSpec(defs(tok), s"base $tok0")
                    val (p2, o2, f2) = splitSpec(rest, s"inline refinement of $tok0")
                    require(p2.isEmpty,
                      s"OVER ($tok0 ...) cannot redefine PARTITION BY — it " +
                        s"inherits $tok0's")
                    require(o2.isEmpty || o1.isEmpty,
                      s"OVER ($tok0 ...) cannot add ORDER BY: base $tok0 " +
                        "already has one")
                    require(f1.isEmpty,
                      s"OVER ($tok0 ...) cannot refine $tok0: a refined base " +
                        "must not have a frame clause")
                    val merged = Seq(p1, if (o2.nonEmpty) o2 else o1, f2)
                      .filter(_.nonEmpty).mkString(" ")
                    replacements += ((open + 1, j2 - 1, merged))
                    inlineDone += open
                  }
                case _ =>
              }
            }
          }
          k = Lexer.indexOfWord(sql, "OVER", k + 4)
        }
      }
      i = Lexer.indexOfWord(sql, "WINDOW", i + 6)
    }
    if (replacements.isEmpty) sql
    else {
      val sb = new StringBuilder(sql)
      replacements.sortBy(-_._1).foreach { case (bs, be, txt) =>
        sb.replace(bs, be, txt)
      }
      sb.toString
    }
  }

  /** BigQuery's `QUALIFY` clause — filter on window-function results —
    * is not in Spark's grammar. Textual rewrite, innermost-first for
    * nested subqueries: the owning SELECT gains `(pred) AS __qualify`
    * as its last item, the SELECT wraps as `SELECT * EXCEPT
    * (__qualify) FROM (...) WHERE __qualify`, and ORDER BY/LIMIT stay
    * OUTER (BigQuery evaluates QUALIFY before ordering/limiting). A
    * trailing WINDOW clause (BigQuery places it after QUALIFY) moves
    * INTO the wrapped select so `OVER w` references keep resolving;
    * the B48 refinement merge runs after this rewrite and sees the
    * final shape. Zero extra plan cost: Catalyst collapses the wrap
    * into the same Window + Filter it would plan natively.
    *
    * Scope (loud otherwise): the predicate may use window functions
    * inline or reference select-item ALIASES (Spark's lateral column
    * alias resolution covers the item position); `SELECT DISTINCT ...
    * QUALIFY` and `GROUP BY ALL ... QUALIFY` are rejected — appending
    * the predicate item would change the distinct/grouping key set.
    */

  private[graft] def rewriteQualify(sql0: String): String = {
    var sql = sql0
    var guard = 0
    while (guard < 32) {
      val next = rewriteOneQualify(sql)
      if (next == sql) return sql
      sql = next; guard += 1
    }
    sql
  }

  private def rewriteOneQualify(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("QUALIFY")) return sql
    def isKw(kw: String, i: Int): Boolean = Lexer.wordAt(sql, kw, i)
    // one scan: deepest QUALIFY token + its paren stack
    var best = -1; var bestStack: List[Int] = Nil
    val stack = scala.collection.mutable.Stack.empty[Int]
    var i = 0
    while (i < sql.length) {
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(') stack.push(i)
        else if (c == ')') { if (stack.nonEmpty) stack.pop() }
        else if (isKw("QUALIFY", i) && stack.size >= (if (best < 0) 0 else bestStack.size)) {
          best = i; bestStack = stack.toList
        }
        i += 1
      }
    }
    if (best < 0) return sql
    val regionStart = bestStack.headOption.map(_ + 1).getOrElse(0)
    // matching close paren of the innermost enclosing open
    val regionEnd = bestStack.headOption.map { open =>
      val close = Lexer.closeParen(sql, open)
      require(close >= 0, "unbalanced parentheses around QUALIFY")
      close
    }.getOrElse(sql.length)
    var selectPos = -1
    Lexer.foreachCode(sql, regionStart, best)((j, d) =>
      if (d == 0 && isKw("SELECT", j)) selectPos = j)
    require(selectPos >= 0, "QUALIFY without an owning SELECT")
    var fromPos = -1
    Lexer.foreachCode(sql, selectPos, best)((j, d) =>
      if (d == 0 && fromPos < 0 && isKw("FROM", j)) fromPos = j)
    require(fromPos >= 0, "QUALIFY requires a FROM clause")
    // loud scopes: DISTINCT head, GROUP BY ALL
    val afterSelect = sql.substring(selectPos + 6).trim
    require(!afterSelect.toUpperCase(java.util.Locale.ROOT).startsWith("DISTINCT"),
      "SELECT DISTINCT ... QUALIFY is not supported — the predicate column would " +
        "change the distinct key set; QUALIFY in a subquery, DISTINCT outside")
    var groupByAll = false
    Lexer.foreachCode(sql, fromPos, best)((j, d) =>
      if (d == 0 && isKw("GROUP", j)) {
        val rest = sql.substring(j, math.min(sql.length, j + 40))
          .toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        // word boundary after ALL: `GROUP BY allocation` is a plain
        // grouping column, not the ALL keyword
        if (rest.startsWith("GROUP BY ALL") &&
            (rest.length == 12 || !Character.isJavaIdentifierPart(rest.charAt(12))))
          groupByAll = true
      })
    require(!groupByAll,
      "GROUP BY ALL ... QUALIFY is not supported — the predicate item would join " +
        "the inferred grouping keys; spell the GROUP BY columns")
    // predicate end: first region-top-level WINDOW/ORDER/LIMIT/set-op
    val predStart = best + 7
    var predEnd = regionEnd
    var windowStart = -1
    Lexer.foreachCode(sql, predStart, regionEnd)((j, d) =>
      if (d == 0 && predEnd == regionEnd &&
        (sql.charAt(j) == ';' ||
          isKw("WINDOW", j) || isKw("ORDER", j) || isKw("LIMIT", j) ||
          isKw("UNION", j) || isKw("INTERSECT", j) || isKw("EXCEPT", j))) {
        predEnd = j
        if (isKw("WINDOW", j)) windowStart = j
      })
    val pred = sql.substring(predStart, predEnd).trim
    require(pred.nonEmpty, "QUALIFY needs a predicate")
    // a trailing WINDOW clause moves INTO the wrap; it ends at the
    // next region-top-level ORDER/LIMIT/set-op
    var windowEnd = windowStart
    if (windowStart >= 0) {
      windowEnd = regionEnd
      Lexer.foreachCode(sql, windowStart + 6, regionEnd)((j, d) =>
        if (d == 0 && windowEnd == regionEnd &&
          (sql.charAt(j) == ';' ||
            isKw("ORDER", j) || isKw("LIMIT", j) || isKw("UNION", j) ||
            isKw("INTERSECT", j) || isKw("EXCEPT", j))) windowEnd = j)
    }
    val windowText = if (windowStart >= 0) " " + sql.substring(windowStart, windowEnd) else ""
    val tail = if (windowStart >= 0) sql.substring(windowEnd, regionEnd)
      else sql.substring(predEnd, regionEnd)
    val inner = sql.substring(selectPos, fromPos) + ", (" + pred + ") AS __qualify " +
      sql.substring(fromPos, best) + windowText
    val rewritten = "SELECT * EXCEPT (__qualify) FROM (" + inner + ") WHERE __qualify " + tail
    sql.substring(0, selectPos) + rewritten + sql.substring(regionEnd)
  }

  private[graft] def rewriteStarReplace(sql0: String): String = {
    val upper = sql0.toUpperCase(java.util.Locale.ROOT)
    if (!upper.contains("REPLACE")) return sql0
    // last top-level word-bounded AS in an item → (expr, name)
    def parseItem(item: String): (String, String) = {
      val lastAs = Lexer.lastTopWord(item, "AS")
      require(lastAs > 0, s"* REPLACE item needs `expr AS name`: $item")
      (item.substring(0, lastAs).trim, item.substring(lastAs + 2).trim)
    }
    // one past the paren closing the one at `open`
    def captureParen(sql: String, open: Int): Int = {
      val close = Lexer.closeParen(sql, open)
      require(close >= 0, "* REPLACE: unbalanced parens")
      close + 1
    }
    val out = new StringBuilder
    var i = 0
    while (i < sql0.length) {
      val c = sql0.charAt(i)
      val e = Lexer.opaqueEnd(sql0, i)
      if (e > i) { out ++= sql0.substring(i, e); i = e }
      else if (c == '*') {
        val t2 = out.toString.reverse.dropWhile(_.isWhitespace).reverse
        val starPosition = t2.nonEmpty && {
          val last = t2.last
          last == '.' || last == ',' || last == '(' || {
            var k = t2.length
            while (k > 0 && isWord(t2.charAt(k - 1))) k -= 1
            val w = t2.substring(k).toUpperCase(java.util.Locale.ROOT)
            w == "SELECT" || w == "DISTINCT" || w == "ALL"
          }
        }
        if (!starPosition) { out += c; i += 1 }
        else {
          // optional EXCEPT (...) then REPLACE (...)
          val p = Lexer.skipSpace(sql0, i + 1)
          var exceptRaw = ""
          var exceptEnd = -1
          if (upper.startsWith("EXCEPT", p) &&
            (p + 6 >= sql0.length || !isWord(sql0.charAt(p + 6)))) {
            val q = Lexer.skipSpace(sql0, p + 6)
            if (q < sql0.length && sql0.charAt(q) == '(') {
              val e = captureParen(sql0, q)
              exceptRaw = sql0.substring(q + 1, e - 1).trim
              exceptEnd = e
            }
          }
          val rp = Lexer.skipSpace(sql0, if (exceptEnd >= 0) exceptEnd else i + 1)
          val hasReplace = upper.startsWith("REPLACE", rp) &&
            (rp + 7 >= sql0.length || !isWord(sql0.charAt(rp + 7))) && {
              val q = Lexer.skipSpace(sql0, rp + 7)
              q < sql0.length && sql0.charAt(q) == '('
            }
          if (!hasReplace) { out += c; i += 1 }
          else {
            val open = sql0.indexOf('(', rp + 7)
            val end = captureParen(sql0, open)
            val items = Lexer.splitTop(sql0.substring(open + 1, end - 1)).map(parseItem)
            require(items.nonEmpty, "* REPLACE needs at least one `expr AS name` item")
            val names = items.map(_._2)
            val exceptList = (if (exceptRaw.nonEmpty) Seq(exceptRaw) else Nil) ++ names
            out ++= s"* EXCEPT (${exceptList.mkString(", ")}), "
            out ++= items.map { case (e, n) => s"($e) AS $n" }.mkString(", ")
            i = end
          }
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** BigQuery `TABLESAMPLE SYSTEM (n PERCENT)` → Spark
    * `TABLESAMPLE (n PERCENT)` (quote-aware token drop). Semantics
    * note, deliberate: BigQuery's SYSTEM samples STORAGE BLOCKS
    * (approximate, non-uniform over rows); Spark's PERCENT samples
    * rows Bernoulli — a BETTER estimator under the same "give me
    * roughly n% cheaply" contract, and `REPEATABLE (seed)` composes
    * for reproducible runs. Statistical sampling is inherently
    * engine-specific, so no oracle claims exactness here — the
    * deterministic sampling surface is the S-block (hash thresholds,
    * exactly-k, k-fold).
    */
  private[graft] def rewriteTableSample(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("TABLESAMPLE")) return sql
    val out = new StringBuilder
    var from = 0
    var i = Lexer.indexOfWord(sql, "TABLESAMPLE")
    while (i >= 0) {
      val j = Lexer.skipSpace(sql, i + 11)
      if (Lexer.wordAt(sql, "SYSTEM", j)) {
        // drop the SYSTEM token, keep one space
        out ++= sql.substring(from, i + 11) += ' '
        from = j + 6
      }
      i = Lexer.indexOfWord(sql, "TABLESAMPLE", i + 11)
    }
    out ++= sql.substring(from)
    out.toString
  }

  private val AssertRe = """(?is)^\s*ASSERT\b.*""".r

  /** Split an ASSERT statement into (expression, optional message).
    * The AS-message clause is found by a QUOTE-AWARE scan, not a
    * regex: an `AS` inside a string literal (including one whose
    * literal ends the expression, like `ASSERT c <> 'x AS ''y'''`)
    * never splits, because only a top-level `AS` followed by a
    * complete quoted literal running to the end of the statement
    * counts as the message clause.
    */
  private def parseAssert(sql: String): (String, Option[String]) = {
    val t = sql.trim.stripSuffix(";").trim
    require(t.length >= 6 && t.substring(0, 6).equalsIgnoreCase("ASSERT") &&
      (t.length == 6 || Character.isWhitespace(t.charAt(6))),
      "not an ASSERT statement")
    val body = t.substring(6).trim
    val Lit = """(?s)\s*'((?:[^']|'')*)'\s*""".r
    var i = Lexer.indexOfWord(body, "AS")
    while (i >= 0) {
      if (i > 0 && Character.isWhitespace(body.charAt(i - 1)) && i + 2 < body.length &&
          Character.isWhitespace(body.charAt(i + 2))) {
        body.substring(i + 2) match {
          case Lit(msg) =>
            return (body.substring(0, i).trim, Some(msg.replace("''", "'")))
          case _ => () // AS not followed by a literal-to-end (e.g. CAST(x AS INT))
        }
      }
      i = Lexer.indexOfWord(body, "AS", i + 2)
    }
    (body, None)
  }

  /** BigQuery `ASSERT <bool_expr> [AS 'message']` — the scripting
    * guard a load script runs before publishing (the statement face
    * of [[graft.operators.Constraints.assertAll]]). The expression
    * may hold scalar subqueries over registered views
    * (`ASSERT (SELECT COUNT(*) FROM stage WHERE key IS NULL) = 0`),
    * exactly as in BigQuery. Catalyst has no ASSERT statement, so the
    * verb is recognized here and the expression evaluates through
    * `spark.sql` — one driver-side boolean. A NULL result fails (an
    * unprovable assertion is a failed assertion, matching
    * `Constraints.Satisfies`).
    */
  def assertStatement(spark: SparkSession, sql: String): Unit = {
    require(AssertRe.pattern.matcher(sql).matches(), "not an ASSERT statement")
    val (expr, msg) = parseAssert(sql)
    val row = spark.sql(s"SELECT CAST(($expr) AS BOOLEAN) AS ok").head()
    if (row.isNullAt(0) || !row.getBoolean(0))
      throw new IllegalStateException(
        msg.getOrElse(s"assertion failed: ${expr.trim}"))
  }

  private val ExportRe =
    """(?is)^\s*EXPORT\s+DATA\s+OPTIONS\s*\((.*?)\)\s*AS\s+(.*?)\s*;?\s*$""".r

  /** BigQuery `EXPORT DATA OPTIONS(uri=..., format=...) AS SELECT ...`
    * — the statement face of a sharded file export (BigQuery docs:
    * "Exporting table data"; the DAGs' results leave the warehouse
    * this way). Catalyst has no EXPORT statement, so the verb is
    * recognized here, the query runs through `spark.sql` over the
    * registered views, and the result lands as a sharded directory
    * write — Spark's native parallel sink, one file per partition,
    * which is exactly BigQuery's `*`-wildcard sharding model.
    *
    * Options (the BigQuery names):
    *  - `uri` (required): must contain exactly one `*`, like
    *    BigQuery's single-wildcard rule. Files land in the directory
    *    containing the `*`; shard NAMES are the engine's own
    *    (`part-NNNNN-...`) — the wildcard position inside the
    *    basename is advisory, as each engine numbers its own shards.
    *  - `format` (required): CSV | JSON (newline-delimited, BigQuery's
    *    export JSON) | PARQUET | ORC | AVRO (round 11: the engine's own
    *    DSv2 bridge on the avro core jars — sources/AvroSource.scala).
    *  - `overwrite` (default false): false = the target directory
    *    must not already exist (BigQuery semantics: non-overwrite
    *    exports never clobber); true = replace.
    *  - `header`, `field_delimiter` (CSV only), `compression`
    *    (gzip/snappy/none — passed through to the writer).
    *
    * Returns the exported frame (bench/inspection face); the write
    * has already happened — this statement is a SINK, the one verb in
    * this object whose side effect is the point.
    */
  def export(spark: SparkSession, sql: String): DataFrame = sql match {
    case ExportRe(optStr, query) =>
      requireNoTxn(spark, "EXPORT DATA")
      val opts = parseOptions(optStr)
      val known = Set("uri", "format", "overwrite", "header", "field_delimiter", "compression")
      val unknown = opts.keySet -- known
      require(unknown.isEmpty, s"unsupported EXPORT DATA option(s): ${unknown.mkString(", ")}")
      val uri = opts.getOrElse("uri", throw new IllegalArgumentException(
        "EXPORT DATA requires uri='...'"))
      require(uri.count(_ == '*') == 1,
        s"uri must contain exactly one '*' wildcard (BigQuery's sharding rule): $uri")
      val starDir = uri.substring(0, uri.indexOf('*')) match {
        case d if d.contains('/') => d.substring(0, d.lastIndexOf('/'))
        case _ => throw new IllegalArgumentException(s"uri has no directory part: $uri")
      }
      val fmt = opts.getOrElse("format", throw new IllegalArgumentException(
        "EXPORT DATA requires format='CSV'|'JSON'|'PARQUET'|'ORC'|'AVRO'")).toUpperCase
      val writerFmt = fmt match {
        case "CSV" => "csv"
        case "JSON" => "json" // Spark's json IS newline-delimited — BigQuery's export format
        case "PARQUET" => "parquet"
        case "ORC" => "orc" // Spark ships the ORC source natively
        case "AVRO" => "graft-avro" // the engine's own DSv2 bridge (sources/AvroSource.scala)
        case other => throw new IllegalArgumentException(s"unsupported format: $other")
      }
      for (o <- Seq("header", "field_delimiter") if opts.contains(o))
        require(fmt == "CSV", s"option $o applies to CSV only")
      opts.get("overwrite").foreach(v => require(v == "true" || v == "false",
        s"overwrite must be true or false, got: $v"))
      val overwrite = opts.get("overwrite").contains("true")
      val df = spark.sql(query)
      // the avro bridge is DSv2: save() accepts Append/Overwrite only,
      // so non-overwrite existence protection is checked here (same
      // BigQuery never-clobber semantics, same error)
      val mode =
        if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
        else if (writerFmt != "graft-avro") org.apache.spark.sql.SaveMode.ErrorIfExists
        else {
          val p = new org.apache.hadoop.fs.Path(starDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          require(!fs.exists(p), s"path $starDir already exists (EXPORT DATA never " +
            "clobbers without overwrite=true)")
          org.apache.spark.sql.SaveMode.Append
        }
      var w = df.write.format(writerFmt).mode(mode)
      opts.get("header").foreach(v => w = w.option("header", v))
      opts.get("field_delimiter").foreach(v => w = w.option("sep", v))
      opts.get("compression").foreach(v => w = w.option("compression", v))
      w.save(starDir)
      df
    case _ => throw new IllegalArgumentException("not an EXPORT DATA statement")
  }

  /** OPTIONS(k='v', k2=true, ...) body → lowercase-keyed map; values
    * are SQL strings (with '' escapes), booleans, or bare numbers.
    * A ',' or '=' inside a quoted value never splits.
    */
  private[graft] def parseOptions(body: String): Map[String, String] =
    parseOptionPairs(body).map { case (k, raw) =>
      k -> (if (raw.startsWith("'") && raw.endsWith("'") && raw.length >= 2)
        raw.substring(1, raw.length - 1).replace("''", "'")
      else raw.toLowerCase)
    }.toMap

  // ───────────── CREATE EXTERNAL TABLE ─────────────

  private val ExternalHeadRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?EXTERNAL\s+TABLE\b.*""".r
  private val ExternalRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?EXTERNAL\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*""" +
      """(?:\((.*?)\)\s*)?OPTIONS\s*\((.*)\)\s*;?\s*$""").r

  /** Split the `uris = ['a', 'b']` list out of an OPTIONS body: the
    * bracketed span is removed from the scalar body and comma-split
    * itself. Returns (body without the uris entry, uri list — empty
    * when absent).
    */
  private def extractUris(body: String): (String, Seq[String]) = {
    val m = """(?is)(^|,)\s*uris\s*=\s*\[""".r.findFirstMatchIn(body) match {
      case None => return (body, Nil)
      case Some(x) => x
    }
    val i = Lexer.closeParen(body, m.end - 1)
    require(i >= 0, s"unterminated uris list in OPTIONS: $body")
    val uris = {
      Lexer.splitTop(body.substring(m.end, i)).map { t =>
        require(t.startsWith("'") && t.endsWith("'") && t.length >= 2,
          s"uris entries must be quoted strings, got: $t")
        t.substring(1, t.length - 1).replace("''", "'")
      }
    }
    require(uris.nonEmpty, "uris list must not be empty")
    // drop the whole `uris = [...]` entry, keeping at most one comma
    val before = body.substring(0, m.start).reverse.dropWhile(_ == ',').reverse
    val after = body.substring(i + 1).dropWhile(c => c == ' ' || c == ',')
    val sep = if (before.trim.nonEmpty && after.trim.nonEmpty) "," else ""
    (before + sep + after, uris)
  }

  /** BigQuery `CREATE [OR REPLACE] EXTERNAL TABLE [IF NOT EXISTS] name
    * [(schema)] OPTIONS(format=..., uris=[...])` — the statement that
    * mounts warehouse-external files as a queryable table (BigQuery
    * docs: "Create external tables"). This engine's tables are
    * session views over files already, so the external table IS the
    * native object: the statement becomes a `spark.read` registration
    * under the same three dispositions as [[createView]] (bare
    * re-create raises, IF NOT EXISTS no-ops, OR REPLACE swaps).
    *
    * Options: `uris` (required; each entry may carry glob wildcards —
    * Spark's reader expands them, which is BigQuery's `*` model),
    * `format` (required: PARQUET | JSON/NEWLINE_DELIMITED_JSON —
    * Spark's json source IS newline-delimited | CSV | ORC | AVRO,
    * round 11 via the engine's own DSv2 bridge), and for CSV:
    * `header`/`skip_leading_rows` (0 or 1), `field_delimiter`. The
    * optional schema list (needed for CSV/JSON typing; parquet carries
    * its own) is passed to the reader as a DDL string. Schema-less CSV
    * reads land all-string columns (same as BigQuery without
    * autodetect); a declared schema is applied verbatim.
    *
    * Returns the registered table's frame.
    */
  def createExternal(spark: SparkSession, sql: String): DataFrame = sql match {
    case ExternalRe(orReplace, ifNotExists, rawName, schema, optBody) =>
      require(orReplace == null || ifNotExists == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive (BigQuery rejects the combination)")
      val name = viewName(rawName)
      val exists = spark.catalog.tableExists(name)
      if (ifNotExists != null && exists) return spark.table(name)
      require(orReplace != null || !exists,
        s"table '$name' already exists (use OR REPLACE or IF NOT EXISTS)")
      val df = readFiles(spark, schema, optBody, "CREATE EXTERNAL TABLE")
      df.createOrReplaceTempView(name)
      spark.table(name)
    case _ => throw new IllegalArgumentException(
      "not a CREATE EXTERNAL TABLE statement (expected: CREATE [OR REPLACE] EXTERNAL TABLE " +
        "[IF NOT EXISTS] name [(schema)] OPTIONS(format='...', uris=['...']))")
  }

  /** The shared file-reader half of [[createExternal]] and
    * [[loadData]]: format/uris/CSV options out of an OPTIONS/FILES
    * body, declared schema applied as a DDL string.
    */
  private def readFiles(spark: SparkSession, schema: String, optBody: String,
                        verb: String): DataFrame = {
    val (scalarBody, uris) = extractUris(optBody)
    val opts = parseOptions(scalarBody)
    val known = Set("format", "header", "skip_leading_rows", "field_delimiter",
      "compression", "hive_partition_uri_prefix")
    val unknown = opts.keySet -- known
    require(unknown.isEmpty, s"unsupported $verb option(s): ${unknown.mkString(", ")}")
    require(uris.nonEmpty, s"$verb requires uris=['...']")
    val fmt = opts.getOrElse("format", throw new IllegalArgumentException(
      s"$verb requires format='PARQUET'|'JSON'|'CSV'|'ORC'|'AVRO'")).toUpperCase
    val readerFmt = fmt match {
      case "PARQUET" => "parquet"
      case "JSON" | "NEWLINE_DELIMITED_JSON" => "json"
      case "CSV" => "csv"
      case "ORC" => "orc" // Spark ships the ORC source natively
      case "AVRO" => "graft-avro" // the engine's own DSv2 bridge (sources/AvroSource.scala)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    for (o <- Seq("header", "skip_leading_rows", "field_delimiter") if opts.contains(o))
      require(readerFmt == "csv", s"option $o applies to CSV only")
    opts.get("skip_leading_rows").foreach(v => require(v == "0" || v == "1",
      s"skip_leading_rows must be 0 or 1 (one header line), got: $v"))
    var reader = spark.read.format(readerFmt)
    Option(schema).map(_.trim).filter(_.nonEmpty).foreach(s => reader = reader.schema(s))
    val header = opts.get("header").contains("true") ||
      opts.get("skip_leading_rows").contains("1")
    if (readerFmt == "csv") reader = reader.option("header", header.toString)
    opts.get("field_delimiter").foreach(v => reader = reader.option("sep", v))
    opts.get("compression").foreach(v => reader = reader.option("compression", v))
    // BigQuery's hive-partitioned external tables: the prefix anchors
    // key=value path inference, so `day=2024-01-01/...` directories
    // surface as a typed partition COLUMN and equality predicates
    // prune directories from the scan (Spark's basePath is the same
    // contract; AUTO layout — BigQuery's CUSTOM schema-in-prefix
    // spelling is not supported, spell the keys in the paths)
    opts.get("hive_partition_uri_prefix").foreach { prefix =>
      require(readerFmt != "graft-avro",
        "hive_partition_uri_prefix is not supported for AVRO (the graft-avro " +
          "bridge lists files itself; partition the table as parquet/orc/csv/json)")
      reader = reader.option("basePath", prefix)
    }
    reader.load(uris: _*)
  }

  // ───────────── LOAD DATA ─────────────

  private val LoadDataHeadRe =
    """(?is)^\s*LOAD\s+DATA\b.*""".r
  private val LoadDataRe =
    ("""(?is)^\s*LOAD\s+DATA\s+(INTO|OVERWRITE)\s+""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*""" +
      """(?:\((.*?)\)\s*)?FROM\s+FILES\s*\((.*)\)\s*;?\s*$""").r

  /** BigQuery's `LOAD DATA {INTO | OVERWRITE} table [(schema)] FROM
    * FILES(format=..., uris=[...])` — the SQL spelling of a load job
    * (the reference's `LoadJobConfig` path as a statement). Shares
    * [[createExternal]]'s FILES parser and formats; the difference is
    * the disposition onto an EXISTING session table:
    *
    *  - `INTO` appends — WRITE_APPEND: the new files must carry
    *    exactly the target's column names (any order); each column is
    *    cast to the target's type (BigQuery's load-time coercion),
    *    then the table's view becomes old ∪ new. A missing target is
    *    simply created (BigQuery's CREATE_IF_NEEDED default).
    *  - `OVERWRITE` replaces — WRITE_TRUNCATE.
    *
    * `WITH PARTITION COLUMNS` / `WITH CONNECTION` / `TEMP TABLE` /
    * `OVERWRITE PARTITIONS` don't parse here and fail loudly with the
    * supported shape. Returns the table's new content; persistence
    * follows the usual stage-and-swap contract.
    */
  def loadData(spark: SparkSession, sql: String): DataFrame = sql match {
    case LoadDataRe(verb, rawName, schema, optBody) =>
      requireNoTxn(spark, "LOAD DATA")
      val name = viewName(rawName)
      val df = readFiles(spark, schema, optBody, "LOAD DATA")
      // a registered Versioned target commits the load: INTO as an
      // O(batch) append commit of only the new files' rows, OVERWRITE
      // as a snapshot commit — the A39 transactional contract
      graft.sources.Versioned.registeredPath(spark, name).foreach { path =>
        val existing = spark.table(name)
        if (verb.equalsIgnoreCase("OVERWRITE"))
          graft.sources.Versioned.overwrite(df, path, label = "load overwrite")
        else {
          require(df.columns.map(_.toLowerCase).toSet ==
              existing.columns.map(_.toLowerCase).toSet,
            s"LOAD DATA INTO $name: file columns ${df.columns.sorted.mkString(",")} " +
              s"do not match table columns ${existing.columns.sorted.mkString(",")} " +
              "(BigQuery appends by name; evolve the table first via ALTER TABLE)")
          val aligned = df.select(existing.schema.fields.map(f =>
            org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
          graft.sources.Versioned.append(aligned, path, label = "load")
        }
        return graft.sources.Versioned.register(spark, name, path)
      }
      val result =
        if (verb.equalsIgnoreCase("OVERWRITE") || !spark.catalog.tableExists(name)) df
        else {
          val existing = spark.table(name)
          val have = df.columns.map(_.toLowerCase).toSet
          val want = existing.columns.map(_.toLowerCase).toSet
          require(have == want,
            s"LOAD DATA INTO $name: file columns ${df.columns.sorted.mkString(",")} " +
              s"do not match table columns ${existing.columns.sorted.mkString(",")} " +
              "(BigQuery appends by name; evolve the table first via ALTER TABLE)")
          // load-time coercion: each file column cast to the target's
          // declared type, in the target's column order
          val aligned = df.select(existing.schema.fields.map(f =>
            org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
          existing.unionByName(aligned)
        }
      result.createOrReplaceTempView(name)
      spark.table(name)
    case _ => throw new IllegalArgumentException(
      "not a supported LOAD DATA statement (expected: LOAD DATA {INTO | OVERWRITE} name " +
        "[(schema)] FROM FILES(format='...', uris=['...']); PARTITION COLUMNS / " +
        "CONNECTION / TEMP TABLE clauses are not supported)")
  }

  // ── CREATE TABLE (schema) — empty-table DDL ──────────────────────

  private val EmptyTableRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*""" +
      """\((.+)\)\s*;?\s*$""").r

  /** `CREATE [OR REPLACE] TABLE [IF NOT EXISTS] name (col TYPE, ...)`
    * — BigQuery's plain schema-declared empty table, the natural
    * TARGET for a later `LOAD DATA INTO` / `INSERT` (without it a
    * migrating script's first statement has nothing to land in).
    * Types map through the same tokenwise BigQuery→Spark map as
    * function signatures (INT64→BIGINT, NUMERIC→DECIMAL(38,9),
    * ARRAY<>/STRUCT<> shared); the empty frame registers under A31's
    * three dispositions. A trailing PARTITION BY / CLUSTER BY /
    * OPTIONS clause is loud — partitioning here is physical layout,
    * which belongs to materialization: use the `PARTITION BY ... AS
    * SELECT` form (A41) once there are rows to lay out.
    */
  def createEmptyTable(spark: SparkSession, sql: String): DataFrame = sql match {
    case EmptyTableRe(orReplace, ifNotExists, rawName, schemaText) =>
      require(orReplace == null || ifNotExists == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive (BigQuery rejects the combination)")
      val name = viewName(rawName)
      for (bad <- Seq("PARTITION\\s+BY", "CLUSTER\\s+BY", "OPTIONS"))
        require(!s"""(?is).*\\)\\s*$bad\\b.*""".r.pattern.matcher(sql).matches(),
          "CREATE TABLE (schema) with PARTITION BY/CLUSTER BY/OPTIONS is not supported " +
            "here — physical layout belongs to materialization; use CREATE TABLE ... " +
            "PARTITION BY ... AS SELECT (A41) once there are rows")
      val exists = spark.catalog.tableExists(name)
      if (exists && ifNotExists != null) return spark.table(name)
      require(!exists || orReplace != null,
        s"table '$name' already exists (use OR REPLACE or IF NOT EXISTS)")
      // split PRIMARY KEY / FOREIGN KEY ... NOT ENFORCED clauses off
      // the column list (BigQuery's unenforced metadata constraints —
      // surfaced through TABLE_CONSTRAINTS / KEY_COLUMN_USAGE, never
      // validated: NOT ENFORCED is the only BigQuery mode)
      val (colDefs, constraints) = splitConstraintClauses(name, schemaText)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        graft.sql.Functions.mapBqTypes(colDefs.mkString(", ")))
      // key columns must exist in THIS table (referenced-table columns
      // are unchecked — BigQuery resolves them lazily too)
      constraints.foreach(c => c.columns.foreach(col =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(col)),
          s"constraint ${c.name}: no such column '$col' in $name")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .createOrReplaceTempView(name)
      if (constraints.nonEmpty) constraintRegistry(mvKey(spark, name)) = constraints
      else constraintRegistry.remove(mvKey(spark, name))
      spark.table(name)
    case _ => throw new IllegalArgumentException(
      "not a CREATE TABLE (schema) statement (expected: CREATE [OR REPLACE] TABLE " +
        "[IF NOT EXISTS] name (col TYPE, ...))")
  }

  /** One unenforced table constraint: PRIMARY KEY or FOREIGN KEY with
    * its column list and (FK only) referenced table/columns.
    */
  private[graft] case class TableConstraint(name: String, kind: String,
                                            columns: Seq[String],
                                            refTable: String, refColumns: Seq[String])

  private val constraintRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Seq[TableConstraint]]

  private val PkClauseRe =
    """(?is)^(?:CONSTRAINT\s+([A-Za-z_][\w$]*)\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)\s*((?:NOT\s+)?ENFORCED)?$""".r
  private val FkClauseRe =
    ("""(?is)^(?:CONSTRAINT\s+([A-Za-z_][\w$]*)\s+)?FOREIGN\s+KEY\s*\(([^)]*)\)\s*""" +
      """REFERENCES\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*""" +
      """\(([^)]*)\)\s*((?:NOT\s+)?ENFORCED)?$""").r

  /** Separate a CREATE TABLE body into column definitions and
    * constraint clauses. The comma split is paren/angle/quote-aware
    * (STRUCT<a INT64, b STRING> columns keep their commas). Unnamed
    * constraints take BigQuery's generated spellings (`pk$`, `fk$N`);
    * a bare ENFORCED is loud — BigQuery only accepts NOT ENFORCED.
    */
  private def splitConstraintClauses(table: String, body: String)
      : (Seq[String], Seq[TableConstraint]) = {
    val parts = Lexer.splitTop(body, angles = true)
    val cols = scala.collection.mutable.ListBuffer.empty[String]
    val cons = scala.collection.mutable.ListBuffer.empty[TableConstraint]
    var fkN = 0
    parts.filter(_.nonEmpty).foreach {
      case PkClauseRe(nm, colList, enforced) =>
        require(enforced != null && enforced.toUpperCase(java.util.Locale.ROOT).startsWith("NOT"),
          s"PRIMARY KEY on $table must be declared NOT ENFORCED (BigQuery's only mode)")
        require(!cons.exists(_.kind == "PRIMARY KEY"),
          s"table $table declares more than one PRIMARY KEY")
        cons += TableConstraint(Option(nm).getOrElse(s"$table.pk$$"), "PRIMARY KEY",
          colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq, "", Nil)
      case FkClauseRe(nm, colList, refTbl, refCols, enforced) =>
        require(enforced != null && enforced.toUpperCase(java.util.Locale.ROOT).startsWith("NOT"),
          s"FOREIGN KEY on $table must be declared NOT ENFORCED (BigQuery's only mode)")
        fkN += 1
        cons += TableConstraint(Option(nm).getOrElse(s"$table.fk$$$fkN"), "FOREIGN KEY",
          colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          viewName(refTbl), refCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case colDef =>
        require(!"(?is).*\\bOPTIONS\\s*\\(.*".r.pattern.matcher(colDef).matches(),
          s"column-level OPTIONS(...) is not supported (column: ${colDef.take(40)}) — " +
            "this engine records TABLE-level OPTIONS only")
        cols += colDef
    }
    (cols.toSeq, cons.toSeq)
  }

  // ── DROP TABLE / VIEW / FUNCTION ─────────────────────────────────

  private val DropRe =
    ("""(?is)^\s*DROP\s+(?:(MATERIALIZED)\s+)?(?:EXTERNAL\s+)?""" +
      """(TABLE|VIEW|(?:TEMP(?:ORARY)?\s+)?FUNCTION|PROCEDURE)\s+(?:(IF\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""").r

  private val ProcHeadRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\b.*""".r
  private val CallHeadRe = """(?is)^\s*CALL\b.*""".r

  /** `DROP [EXTERNAL] TABLE | [MATERIALIZED] VIEW | [TEMP] FUNCTION
    * [IF EXISTS] name` — the teardown half every migrated script
    * carries. This engine's tables ARE session views (the A31/A32
    * catalog model), so TABLE and VIEW drop the same object class —
    * BigQuery's table-vs-view kind check has nothing to bite on and
    * is documented away rather than faked. Dropping:
    *
    *  - removes the temp view (or the managed saveAsTable table — the
    *    A13 bucketed layouts — via native DROP TABLE);
    *  - unregisters an A33 Versioned name, so `FOR SYSTEM_TIME AS OF`
    *    stops resolving — the on-disk commit log is NOT deleted
    *    (BigQuery keeps dropped tables restorable; re-register
    *    restores the name);
    *  - clears A31 materialized-view state, so a later bare CREATE
    *    of the same name works (no ghost registry entry);
    *  - FUNCTION routes to Spark's own DROP TEMPORARY FUNCTION.
    *
    * `IF EXISTS` no-ops on a missing name; a bare DROP of a missing
    * name is loud (BigQuery's rule).
    */
  def dropStatement(spark: SparkSession, sql: String): DataFrame = sql match {
    case DropRe(mat, kind, ifExists, rawName) =>
      val name = viewName(rawName)
      val kindUp = kind.toUpperCase(java.util.Locale.ROOT)
      if (kindUp.endsWith("FUNCTION")) {
        require(mat == null, "DROP MATERIALIZED FUNCTION is not a statement")
        val ie = if (ifExists != null) "IF EXISTS " else ""
        spark.sql(s"DROP TEMPORARY FUNCTION $ie$name")
        routineRegistry.remove(mvKey(spark, name))
        return spark.emptyDataFrame
      }
      if (kindUp == "PROCEDURE") {
        require(mat == null, "DROP MATERIALIZED PROCEDURE is not a statement")
        val existed = GraftScript.dropProcedure(spark, name)
        require(existed || ifExists != null,
          s"DROP PROCEDURE $name: no such procedure (use IF EXISTS to ignore)")
        return spark.emptyDataFrame
      }
      val isMv = mvRegistry.contains(mvKey(spark, name))
      require(mat == null || isMv || ifExists != null,
        s"DROP MATERIALIZED VIEW $name: not a materialized view")
      val isTemp = spark.catalog.tableExists(name)
      if (!isTemp) {
        require(ifExists != null,
          s"DROP $kindUp $name: no such table or view (use IF EXISTS to ignore)")
        return spark.emptyDataFrame
      }
      mvRegistry.remove(mvKey(spark, name))
      partRegistry.remove(mvKey(spark, name))
      viewDefRegistry.remove(mvKey(spark, name))
      tableOptionsRegistry.remove(mvKey(spark, name))
      constraintRegistry.remove(mvKey(spark, name))
      rowPolicyRegistry.remove(mvKey(spark, name))
      rowPolicyRawRegistry.remove(mvKey(spark, name))
      graft.sources.Versioned.unregister(spark, name)
      if (!spark.catalog.dropTempView(name) && !spark.catalog.dropGlobalTempView(name))
        spark.sql(s"DROP TABLE `$name`") // a managed (saveAsTable) table
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a supported DROP statement (expected: DROP [EXTERNAL] TABLE | " +
        "[MATERIALIZED] VIEW | [TEMP] FUNCTION [IF EXISTS] name)")
  }

  // ── CREATE TABLE ... PARTITION BY ... CLUSTER BY ... AS SELECT ──

  private val PartCtasHeadRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+""" +
      """((?:PARTITION|CLUSTER)\s+BY\b.*)$""").r
  private val PartCtasBodyRe =
    """(?is)^(?:PARTITION\s+BY\s+(.+?)\s+)?(?:CLUSTER\s+BY\s+(.+?)\s+)?AS\s+(.+?)\s*;?\s*$""".r

  /** BigQuery `CREATE TABLE t PARTITION BY <day-expr> [CLUSTER BY
    * cols] AS SELECT ...` — the physical-design DDL (the README's own
    * partition+cluster sentence) as a statement. Routing:
    *
    *  - `PARTITION BY DATE(ts)` / `TIMESTAMP_TRUNC(ts, DAY)` / a bare
    *    date column → [[graft.sources.Layout.writePartitioned]]: the
    *    result lands day-partitioned on a materialized `p_day`
    *    directory column (this engine's `_PARTITIONDATE` analogue),
    *    sorted inside each partition on the CLUSTER BY columns — a
    *    day-filtered read of the registered table shows
    *    PartitionFilters (PlanSpec-pinned), and min/max row-group
    *    stats prune on the cluster keys.
    *  - `CLUSTER BY x, y` with NO partition clause and exactly two
    *    columns → [[graft.sources.Layout.writeZOrdered]]: every file
    *    covers an (x, y) rectangle, so predicates on EITHER key prune
    *    files.
    *  - `CLUSTER BY cols` otherwise → range-partition + in-file sort
    *    on the columns (leading-key min/max pruning).
    *
    * The table materializes under the session warehouse dir and
    * registers as a session view (the A31/A32 catalog model); the
    * query body runs back through [[load]], so wildcard tables, time
    * travel and the other rewrites compose. Dispositions as
    * [[createExternal]]: bare re-create raises, IF NOT EXISTS no-ops,
    * OR REPLACE swaps. Other partition granularities (MONTH,
    * RANGE_BUCKET, integer-range) are loud — day is the layout this
    * engine's compaction/pruning contract is built on.
    */
  def createPartitionedTable(spark: SparkSession, sql: String): DataFrame = sql match {
    case PartCtasHeadRe(orReplace, ifNotExists, rawName, rest) =>
      import org.apache.spark.sql.{functions => F}
      require(orReplace == null || ifNotExists == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive (BigQuery rejects the combination)")
      val name = viewName(rawName)
      val exists = spark.catalog.tableExists(name)
      if (exists && ifNotExists != null) return spark.table(name)
      require(!exists || orReplace != null,
        s"table '$name' already exists (use OR REPLACE or IF NOT EXISTS)")
      val (pSpec, cSpec, body) = rest match {
        case PartCtasBodyRe(p, c, b) => (Option(p).map(_.trim),
          Option(c).map(_.trim), b.trim)
        case _ => throw new IllegalArgumentException(
          "expected: CREATE TABLE name [PARTITION BY day_expr] " +
            "[CLUSTER BY col, ...] AS SELECT ...")
      }
      require(pSpec.nonEmpty || cSpec.nonEmpty, "no PARTITION BY or CLUSTER BY clause")
      val ident = """(?i)^[A-Za-z_][\w$]*$"""
      val tsCol = pSpec.map { e =>
        val DateRe = """(?is)^DATE\s*\(\s*([A-Za-z_][\w$]*)\s*\)$""".r
        val TruncRe = """(?is)^TIMESTAMP_TRUNC\s*\(\s*([A-Za-z_][\w$]*)\s*,\s*DAY\s*\)$""".r
        // the TIMESTAMP_TRUNC spelling arrives PRE-REWRITTEN by the
        // function macros (BigQuery arg order → Spark's)
        val TruncSparkRe = """(?is)^date_trunc\s*\(\s*'DAY'\s*,\s*\(?\s*([A-Za-z_][\w$]*)\s*\)?\s*\)$""".r
        e match {
          case DateRe(c) => c
          case TruncRe(c) => c
          case TruncSparkRe(c) => c
          case c if c.matches(ident) => c
          case other => throw new IllegalArgumentException(
            s"PARTITION BY '$other' is not supported — day partitioning only: " +
              "DATE(ts_col), TIMESTAMP_TRUNC(ts_col, DAY), or a date column")
        }
      }
      val clusterCols = cSpec.map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
      clusterCols.foreach(c => require(c.matches(ident),
        s"CLUSTER BY column '$c' is not a plain identifier"))
      val df = load(spark, body)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val path = s"${wh.stripSuffix("/")}/graft_part_$name"
      tsCol match {
        case Some(ts) =>
          // no CLUSTER BY: sort days internally on the partition key
          // itself so row groups stay min/max-prunable on it
          val sortCols = if (clusterCols.nonEmpty) clusterCols else Seq(ts)
          graft.sources.Layout.writePartitioned(df, path, ts, sortCols)
        case None if clusterCols.size == 2 =>
          graft.sources.Layout.writeZOrdered(df, path, clusterCols.head, clusterCols(1))
        case None =>
          df.repartitionByRange(clusterCols.map(F.col): _*)
            .sortWithinPartitions(clusterCols.map(F.col): _*)
            .write.mode("overwrite").parquet(path)
      }
      graft.sources.Tables.parquet(spark, path).createOrReplaceTempView(name)
      partRegistry(mvKey(spark, name)) = path
      spark.table(name)
    case _ => throw new IllegalArgumentException(
      "not a partitioned/clustered CTAS (expected: CREATE [OR REPLACE] TABLE " +
        "[IF NOT EXISTS] name PARTITION BY day_expr [CLUSTER BY cols] AS SELECT ...)")
  }

  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""".r

  /** `DESCRIBE HISTORY t` — the Delta-spelled audit verb over an A33
    * Versioned table's commit log (BigQuery exposes the same facts
    * through INFORMATION_SCHEMA job/change views): one row per commit
    * with (version, commit_ts TIMESTAMP, action, n_live_dirs),
    * newest first. Metadata-sized — reads manifests only, never data.
    */
  def describeHistory(spark: SparkSession, sql: String): DataFrame = sql match {
    case HistoryRe(rawName) =>
      val name = viewName(rawName)
      val path = graft.sources.Versioned.registeredPath(spark, name).getOrElse(
        throw new IllegalArgumentException(
          s"DESCRIBE HISTORY $name: not a registered Versioned table " +
            "(register via Versioned.register; plain views have no history)"))
      val cs = graft.sources.Versioned.commits(spark, path)
      import spark.implicits._
      cs.sortBy(-_.version).map { c =>
          // preserve MICROSECONDS: commits can differ only below 1 ms
          // (the G14 baseTsUs+batchId ledger, sub-ms test seeds), and a
          // displayed commit_ts must round-trip into FOR SYSTEM_TIME AS
          // OF without resolving to an earlier commit
          val t = new java.sql.Timestamp(c.commitTsUs / 1000L)
          t.setNanos(((math.floorMod(c.commitTsUs, 1000000L)) * 1000L).toInt)
          (c.version, t, c.action, c.live.size)
        }
        .toDF("version", "commit_ts", "action", "n_live_dirs")
    case _ => throw new IllegalArgumentException(
      "not a DESCRIBE HISTORY statement (expected: DESCRIBE HISTORY table)")
  }

  // ───────────── OPTIMIZE / VACUUM ─────────────

  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+RETAIN\s+(\d+)\s+HOURS\s*;?\s*$""".r

  /** Maintenance verbs over A33 Versioned tables (Delta spellings —
    * BigQuery runs both automatically, so a migrating operator meets
    * them as background jobs; here they are explicit statements):
    * `OPTIMIZE t` compacts the live set into one commit
    * ([[graft.sources.Versioned.compact]] — append-commit file debt),
    * `VACUUM t RETAIN n HOURS` drops history older than now − n hours
    * ([[graft.sources.Versioned.vacuum]] — the time-travel horizon,
    * BigQuery's 7-day window as an explicit knob). Both return a
    * 1-row report frame.
    */
  def maintenance(spark: SparkSession, sql: String): DataFrame = {
    requireNoTxn(spark, "OPTIMIZE/VACUUM")
    import spark.implicits._
    def path(rawName: String): (String, String) = {
      val name = viewName(rawName)
      name -> graft.sources.Versioned.registeredPath(spark, name).getOrElse(
        throw new IllegalArgumentException(
          s"$name is not a registered Versioned table (OPTIMIZE/VACUUM maintain " +
            "the A33 commit log; plain views have no file debt or history)"))
    }
    sql match {
      case OptimizeRe(rawName) =>
        val (name, p) = path(rawName)
        val c = graft.sources.Versioned.compact(spark, p)
        graft.sources.Versioned.register(spark, name, p)
        Seq(("optimize", name, c.version)).toDF("verb", "table", "new_version")
      case VacuumRe(rawName, hours) =>
        val (name, p) = path(rawName)
        val horizon = System.currentTimeMillis() * 1000L - hours.toLong * 3600L * 1000000L
        val dropped = graft.sources.Versioned.vacuum(spark, p, horizon)
        Seq(("vacuum", name, dropped.length.toLong)).toDF("verb", "table", "dropped_versions")
      case _ => throw new IllegalArgumentException(
        "not a maintenance statement (expected: OPTIMIZE t | VACUUM t RETAIN n HOURS)")
    }
  }

  // ───────────── CREATE [SNAPSHOT] TABLE ... CLONE ─────────────

  private val CloneRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(SNAPSHOT)\s+)?TABLE\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+(CLONE|COPY|LIKE)\s+""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""").r

  /** BigQuery's zero-copy clone verbs: `CREATE SNAPSHOT TABLE s CLONE
    * t [FOR SYSTEM_TIME AS OF ts]` (read-only point-in-time copy) and
    * `CREATE TABLE c CLONE t` (writable clone). The AS OF clause is
    * resolved by [[load]]'s time-travel rewrite before this parser
    * sees the text, so the source here is always a plain name.
    *
    * Zero-copy semantics, matching BigQuery's: the clone references
    * the source's CURRENT data, not a materialized copy. A Versioned
    * source resolves through its pinned manifest (a true storage-level
    * snapshot: later DML commits to the source never touch the cloned
    * files — only `vacuum` past the clone point can, the same horizon
    * rule BigQuery applies to its 7-day window). A plain view source
    * pins the source's current PLAN — a file-backed view snapshots;
    * a derived view stays lazy (materialize via CTAS when the inputs
    * themselves will mutate). On this engine tables ARE session
    * views, so "snapshot" and "clone" differ only in intent — both
    * register the pinned frame under the new name, with A31's three
    * dispositions.
    */
  def createClone(spark: SparkSession, sql: String): DataFrame = sql match {
    case CloneRe(orReplace, snapshot, ifNotExists, rawName, verb, rawSrc) =>
      requireNoTxn(spark, "CREATE TABLE CLONE/SNAPSHOT")
      val name = viewName(rawName)
      val src = viewName(rawSrc)
      val verbUp = verb.toUpperCase(java.util.Locale.ROOT)
      require(snapshot == null || verbUp == "CLONE",
        s"CREATE SNAPSHOT TABLE pairs with CLONE, not $verbUp")
      val exists = spark.catalog.tableExists(name)
      if (exists && ifNotExists != null) return spark.table(name)
      require(!exists || orReplace != null,
        s"table $name already exists (use OR REPLACE or IF NOT EXISTS)")
      val srcDf = graft.sources.Versioned.registeredPath(spark, src) match {
        case Some(path) => graft.sources.Versioned.read(spark, path)
        case None => spark.table(src)
      }
      // CLONE and COPY both register the pinned frame: snapshots in
      // this engine are immutable (a Versioned source resolves
      // through its pinned manifest; a plain view pins its current
      // plan), so BigQuery's zero-copy CLONE and physical COPY
      // coincide — later writes to the source can never show through
      // either. LIKE is BigQuery's schema-only create: same pin,
      // zero rows.
      val df = if (verbUp == "LIKE") srcDf.limit(0) else srcDf
      df.createOrReplaceTempView(name)
      spark.table(name)
    case _ => throw new IllegalArgumentException(
      "not a supported statement (expected: CREATE [OR REPLACE] [SNAPSHOT] TABLE " +
        "[IF NOT EXISTS] name CLONE|COPY|LIKE source [FOR SYSTEM_TIME AS OF ts])")
  }

  // ───────────── CREATE [TEMP] [TABLE] FUNCTION ─────────────

  private val FunctionHeadRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE\s+)?FUNCTION\b.*""".r
  private val FunctionRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(TEMP(?:ORARY)?)\s+)?(?:(TABLE)\s+)?FUNCTION\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*\((.*)$""").r

  /** BigQuery's SQL UDF DDL — `CREATE [OR REPLACE] [TEMP] FUNCTION
    * name(p T, ...) [RETURNS T] AS (expr)` and the table-function form
    * `CREATE [TEMP] TABLE FUNCTION name(...) RETURNS TABLE<a T, ...>
    * AS (SELECT ...)` — translated onto Spark 4's native SQL UDFs
    * (`CREATE TEMPORARY FUNCTION ... RETURN body`), so the body is
    * INLINED by Catalyst at every call site (`ResolveSQLFunctions`
    * rewrites the call into the plan — codegen, pushdown and pruning
    * all see through it; nothing interprets per row). BigQuery types
    * map tokenwise (INT64→BIGINT, FLOAT64→DOUBLE, NUMERIC→
    * DECIMAL(38,9), `RETURNS TABLE<...>`'s outer angles → parens).
    *
    * Dialect notes, all loud:
    *  - `LANGUAGE js` has no engine here; `OPTIONS(...)` /
    *    `DETERMINISTIC` / templated `ANY TYPE` params are rejected.
    *  - persistent (non-TEMP) functions register session-scoped like
    *    every table/view in this engine (the A31 rationale) — a
    *    dataset-qualified name keeps its last component.
    *  - `IF NOT EXISTS` is resolved here (registered name → no-op):
    *    Spark refuses the clause on temporary functions.
    *  - a TABLE FUNCTION must declare `RETURNS TABLE<...>`: without
    *    it Spark would register the body as a SCALAR subquery
    *    expression and table-position calls would not resolve.
    *
    * Scalar functions compose (a body may call an earlier UDF);
    * recursion is refused by Spark's resolver, not silently looped.
    */
  def createFunction(spark: SparkSession, sql: String): DataFrame = sql match {
    case FunctionRe(orReplace, _, tableFn, ifNotExists, rawName, rest0) =>
      val name = viewName(rawName)
      if (ifNotExists != null && spark.catalog.functionExists(name))
        return spark.emptyDataFrame
      // split `rest0` = "params) [RETURNS ...] AS body" at the
      // matching close paren (quote-aware; param defaults could carry
      // parens/commas inside)
      val i = Lexer.closeParen("(" + rest0, 0)
      require(i >= 0, s"CREATE FUNCTION $name: unbalanced parameter list")
      val params = rest0.substring(0, i - 1).trim
      var tail = rest0.substring(i).trim.stripSuffix(";").trim
      def checkClauses(text: String): Unit =
        for (bad <- Seq("LANGUAGE", "OPTIONS", "DETERMINISTIC", "NOT DETERMINISTIC"))
          require(!s"""(?is)^$bad\\b.*""".r.pattern.matcher(text.trim).matches(),
            s"CREATE FUNCTION $name: $bad is not supported here " +
              "(SQL-body functions only: ... [RETURNS T] AS (expr))")
      checkClauses(tail)
      require(!"""(?is).*\bANY\s+TYPE\b.*""".r.pattern.matcher(params).matches(),
        s"CREATE FUNCTION $name: templated ANY TYPE parameters are not supported " +
          "(declare concrete BigQuery/Spark types)")
      // optional RETURNS clause
      var returns = ""
      if ("""(?is)^RETURNS\b.*""".r.pattern.matcher(tail).matches()) {
        tail = tail.substring("RETURNS".length).trim
        if ("""(?is)^TABLE\s*<.*""".r.pattern.matcher(tail).matches()) {
          val lt = tail.indexOf('<')
          var j = lt; var d = 0
          var done = -1
          while (j < tail.length && done < 0) {
            val c = tail.charAt(j)
            if (c == '<') d += 1
            else if (c == '>') { d -= 1; if (d == 0) done = j }
            j += 1
          }
          require(done > 0, s"CREATE FUNCTION $name: unbalanced RETURNS TABLE<...>")
          returns = s"RETURNS TABLE(${graft.sql.Functions.mapBqTypes(tail.substring(lt + 1, done))})"
          tail = tail.substring(done + 1).trim
          checkClauses(tail)
        } else {
          // scalar return type runs to the top-level AS keyword
          val m = """(?is)^(.*?)\bAS\b""".r.findFirstMatchIn(tail).getOrElse(
            throw new IllegalArgumentException(
              s"CREATE FUNCTION $name: missing AS (body) after RETURNS"))
          val typeText = m.group(1).trim
          // a LANGUAGE/OPTIONS clause between RETURNS and AS would be
          // swallowed into the type text — reject it there too
          for (bad <- Seq("LANGUAGE", "OPTIONS", "DETERMINISTIC"))
            require(!s"""(?is).*\\b$bad\\b.*""".r.pattern.matcher(typeText).matches(),
              s"CREATE FUNCTION $name: $bad is not supported here " +
                "(SQL-body functions only: ... [RETURNS T] AS (expr))")
          returns = s"RETURNS ${graft.sql.Functions.mapBqTypes(typeText)}"
          tail = tail.substring(m.group(1).length).trim
        }
      }
      require(tableFn == null || returns.startsWith("RETURNS TABLE"),
        s"CREATE TABLE FUNCTION $name: declare RETURNS TABLE<col TYPE, ...> — " +
          "without it the body would register as a scalar subquery expression " +
          "and FROM-position calls would not resolve")
      require("""(?is)^AS\b.*""".r.pattern.matcher(tail).matches(),
        s"CREATE FUNCTION $name: expected AS (body), got: ${tail.take(40)}")
      val body = tail.substring(2).trim
      require(body.nonEmpty, s"CREATE FUNCTION $name: empty body")
      val rep = if (orReplace != null) "OR REPLACE " else ""
      // the body is BigQuery dialect too (`CAST(x AS INT64)`), but
      // unlike the parameter list it mixes type text with arbitrary
      // identifiers — so the map applies ONLY inside CAST/SAFE_CAST/
      // TRY_CAST type positions, never to bare identifiers: a column
      // named `datetime` or `bytes` passes through untouched instead
      // of being silently rewritten into a type keyword
      val ddl = s"CREATE ${rep}TEMPORARY FUNCTION $name(${graft.sql.Functions.mapBqTypes(params)}) " +
        s"$returns RETURN ${graft.sql.Functions.mapBqTypesInCasts(body)}"
      spark.sql(ddl)
      routineRegistry(mvKey(spark, name)) = RoutineState(
        params, returns.stripPrefix("RETURNS").trim, body, tableFn != null)
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a supported CREATE FUNCTION statement (expected: CREATE [OR REPLACE] " +
        "[TEMP] [TABLE] FUNCTION [IF NOT EXISTS] name(p TYPE, ...) " +
        "[RETURNS T | RETURNS TABLE<a T, ...>] AS (body))")
  }


  /** `TRUNCATE TABLE t` — BigQuery's table reset (and the DML spelling
    * of the WRITE_TRUNCATE disposition A18's INSERT OVERWRITE covers):
    * returns the empty frame under the target's exact schema. Same
    * contract as [[delete]]: persist the result (an empty overwrite)
    * via stage-and-swap; on Delta/Iceberg the same text runs natively.
    */
  def truncate(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case t: org.apache.spark.sql.catalyst.plans.logical.TruncateTable => truncateParsed(spark, t)
      case other => throw new IllegalArgumentException(
        s"not a TRUNCATE statement (parsed to ${other.nodeName})")
    }

  private def truncateParsed(spark: SparkSession,
                             t: org.apache.spark.sql.catalyst.plans.logical.TruncateTable): DataFrame =
    t.table match {
      case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        spark.table(ut.multipartIdentifier.mkString(".")).limit(0)
      case other => throw new IllegalArgumentException(
        s"TRUNCATE target must be a named table, got: ${other.nodeName}")
    }

  /** BigQuery's schema-evolution DDL as SQL text — `ALTER TABLE t
    * ADD COLUMN c TYPE`, `DROP COLUMN [IF EXISTS] c`, `RENAME COLUMN
    * a TO b` — the verbs a warehouse table accumulates over its life.
    * Routed to the snapshot rewrite like every DML verb here: ADD
    * appends the column NULL-filled (BigQuery's added columns are
    * NULLABLE and land at the end; FIRST/AFTER positions and nested
    * field paths are rejected loudly), DROP removes top-level columns
    * (honoring IF EXISTS; dropping every column is an error), RENAME
    * is a pure header rewrite. Same persistence/isolation contract as
    * [[delete]]: the returned frame is the evolved snapshot — persist
    * via stage-and-swap; on Delta/Iceberg the same text executes
    * natively as a metadata-only change.
    */
  def alter(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case a: AddColumns => addColumnsParsed(spark, a)
      case d: DropColumns => dropColumnsParsed(spark, d)
      case r: RenameColumn => renameColumnParsed(spark, r)
      case other => throw new IllegalArgumentException(
        s"not a supported ALTER statement (parsed to ${other.nodeName}); " +
          "supported: ADD COLUMN(s), DROP COLUMN(s), RENAME COLUMN")
    }

  private def alterTargetName(table: LogicalPlan): Option[String] = table match {
    case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
      if ut.multipartIdentifier.length == 1 =>
      Some(ut.multipartIdentifier.head)
    case _ => None
  }

  private def alterTarget(spark: SparkSession, table: LogicalPlan): DataFrame =
    table match {
      case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        spark.table(ut.multipartIdentifier.mkString("."))
      case other => throw new IllegalArgumentException(
        s"ALTER target must be a named table, got: ${other.nodeName}")
    }

  private def addColumnsParsed(spark: SparkSession, a: AddColumns): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val df = alterTarget(spark, a.table)
    val existing = df.columns.map(_.toLowerCase).toSet
    a.columnsToAdd.foreach { c =>
      require(c.path.isEmpty,
        s"ADD COLUMN supports top-level columns only, got nested path: ${c.name.mkString(".")}")
      require(c.position.isEmpty,
        "FIRST/AFTER column positions are unsupported (BigQuery appends added columns)")
      require(c.default.isEmpty,
        "DEFAULT on ADD COLUMN is unsupported; backfill with UPDATE after adding")
      require(c.nullable,
        s"added column '${c.colName}' must be nullable (BigQuery: added columns are NULLABLE)")
      require(!existing(c.colName.toLowerCase), s"column already exists: ${c.colName}")
    }
    val added = a.columnsToAdd.map(_.colName.toLowerCase)
    require(added.distinct.length == added.length,
      s"duplicate column in ADD list: ${a.columnsToAdd.map(_.colName).mkString(", ")}")
    df.select(df.columns.map(F.col).toSeq ++
      a.columnsToAdd.map(c => F.lit(null).cast(c.dataType).as(c.colName)): _*)
  }

  private def dropColumnsParsed(spark: SparkSession, d: DropColumns): DataFrame = {
    val df = alterTarget(spark, d.table)
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val requested = d.columnsToDrop.map {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName =>
        require(f.name.size == 1,
          s"DROP COLUMN supports top-level columns only, got: ${f.name.mkString(".")}")
        f.name.head
      case other => throw new IllegalArgumentException(
        s"DROP COLUMN target must be a column name, got: $other")
    }
    val (present, missing) = requested.partition(c => byLower.contains(c.toLowerCase))
    if (missing.nonEmpty && !d.ifExists)
      throw new IllegalArgumentException(
        s"cannot DROP missing column(s): ${missing.mkString(", ")} (use IF EXISTS to ignore)")
    val dropSet = present.map(_.toLowerCase).toSet
    require(dropSet.size < df.columns.length,
      "DROP COLUMN would remove every column of the table")
    df.drop(present.map(c => byLower(c.toLowerCase)): _*)
  }

  /** `ALTER TABLE t RENAME TO t2` — BigQuery's table rename on the
    * session-catalog model: the object moves (Versioned registration
    * follows its commit log, a temp view re-registers, a managed
    * table renames natively with its directory), and EVERY recorded
    * metadata entry — MV state, view definition, partition layout,
    * constraints, table options, row policies — rides to the new key
    * (BigQuery renames carry their metadata too).
    */
  private def renameTableParsed(spark: SparkSession,
      rt: org.apache.spark.sql.catalyst.plans.logical.RenameTable): DataFrame = {
    val oldParts = rt.child match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        u.multipartIdentifier
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        u.multipartIdentifier
      case other => throw new IllegalArgumentException(
        s"RENAME target must be a named table, got: ${other.nodeName}")
    }
    require(oldParts.size == 1 && rt.newName.size == 1,
      "ALTER TABLE ... RENAME TO supports single-part names (the session-catalog model)")
    val (oldN, newN) = (oldParts.head, rt.newName.head)
    require(spark.catalog.tableExists(oldN),
      s"ALTER TABLE RENAME: no such table or view '$oldN'")
    require(!spark.catalog.tableExists(newN),
      s"ALTER TABLE RENAME: target name '$newN' already exists")
    // a temp view shadowing a catalog table is only legal to rename
    // when the row-policy machinery created the shadow — reject the
    // unrelated-shadow case BEFORE any registry mutation
    val tempShadow0 = spark.sessionState.catalog.getTempView(oldN).isDefined
    val catalogTable0 = spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(oldN))
    if (tempShadow0 && catalogTable0 &&
        graft.sources.Versioned.registeredPath(spark, oldN).isEmpty)
      require(rowPolicyRawRegistry.contains(mvKey(spark, oldN)),
        s"ALTER TABLE RENAME: '$oldN' is a catalog table shadowed by an " +
          "unrelated temp view — drop or rename the temp view first " +
          "(only row-access-policy shadows ride a table rename)")
    def move[V](m: scala.collection.concurrent.TrieMap[(Int, String), V]): Unit =
      m.remove(mvKey(spark, oldN)).foreach(v => m(mvKey(spark, newN)) = v)
    move(mvRegistry); move(viewDefRegistry); move(partRegistry)
    move(constraintRegistry); move(tableOptionsRegistry)
    move(rowPolicyRegistry); move(rowPolicyRawRegistry)
    graft.sources.Versioned.registeredPath(spark, oldN) match {
      case Some(path) =>
        graft.sources.Versioned.unregister(spark, oldN)
        spark.catalog.dropTempView(oldN)
        graft.sources.Versioned.register(spark, newN, path)
      case None =>
        val tempShadow = spark.sessionState.catalog.getTempView(oldN).isDefined
        val catalogTable = spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(oldN))
        if (tempShadow && catalogTable) {
          // a temp view SHADOWING a catalog table (the row-access-policy
          // filter view is the one producer of this pairing here).
          // Re-registering only the view would leave the underlying
          // table readable — unfiltered — under the old name: rename
          // the TABLE natively and rebuild the shadow at the new name.
          spark.catalog.dropTempView(oldN)
          deleteWarehouseDir(spark, newN)
          spark.sql(s"ALTER TABLE `$oldN` RENAME TO `$newN`")
          val newKey = mvKey(spark, newN)
          // the pre-mutation guard above proved this is a row-policy
          // shadow, and move() relocated its raw capture to newKey:
          // re-capture the raw frame against the renamed table (the old
          // capture's file index points at the moved directory), then
          // re-apply the moved policies as the new shadow view
          val raw = rowPolicyRawRegistry(newKey)
          rowPolicyRawRegistry(newKey) =
            RowPolicyRaw(spark.table(newN), raw.shadowsCatalogObject)
          reapplyRowPolicies(spark, newN)
        } else if (tempShadow) {
          val df = spark.table(oldN)
          spark.catalog.dropTempView(oldN)
          df.createOrReplaceTempView(newN)
        } else {
          // no live catalog entry carries the target name (required
          // above), so anything at its warehouse location is a
          // forgotten-across-sessions remnant the native rename would
          // otherwise trip over (LOCATION_ALREADY_EXISTS)
          deleteWarehouseDir(spark, newN)
          spark.sql(s"ALTER TABLE `$oldN` RENAME TO `$newN`")
        }
    }
    spark.emptyDataFrame
  }

  private def renameColumnParsed(spark: SparkSession, r: RenameColumn): DataFrame = {
    val df = alterTarget(spark, r.table)
    val old = r.column match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName =>
        require(f.name.size == 1,
          s"RENAME COLUMN supports top-level columns only, got: ${f.name.mkString(".")}")
        f.name.head
      case other => throw new IllegalArgumentException(
        s"RENAME COLUMN target must be a column name, got: $other")
    }
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val from = byLower.getOrElse(old.toLowerCase, throw new IllegalArgumentException(
      s"cannot RENAME missing column: $old"))
    require(!byLower.contains(r.newName.toLowerCase),
      s"RENAME target name already exists: ${r.newName}")
    df.withColumnRenamed(from, r.newName)
  }

  /** `DELETE FROM t [AS a] WHERE cond` — BigQuery's row-deletion DML
    * as SQL text. Plain parquet Spark parses the statement
    * (`DeleteFromTable`) but cannot execute it without a row-level-
    * operation catalog; here it routes to the snapshot rewrite: keep
    * every row the predicate does NOT select. SQL three-valued logic
    * applies — a row whose predicate evaluates NULL is KEPT (BigQuery
    * deletes only WHERE-true rows), which `filter(not(cond))` alone
    * would get wrong.
    *
    * Same contract as [[merge]]: returns the surviving frame; persist
    * via stage-and-swap / partition overwrite, single writer per
    * target. On Delta/Iceberg the same text executes natively.
    */
  def delete(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case d: DeleteFromTable => deleteParsed(spark, d)
      case other => throw new IllegalArgumentException(
        s"not a DELETE statement (parsed to ${other.nodeName})")
    }

  private def deleteParsed(spark: SparkSession, d: DeleteFromTable): DataFrame = {
    val (targetDf, _) = resolve(spark, d.table)
    import org.apache.spark.sql.{functions => F}
    val cond = org.apache.spark.sql.graftbridge.Bridge.column(d.condition)
    targetDf.filter(!F.coalesce(cond, F.lit(false)))
  }

  /** `UPDATE t [AS a] SET c = expr, ... WHERE cond` — BigQuery's
    * in-place DML as SQL text, routed to the snapshot rewrite: every
    * assigned column becomes `CASE WHEN cond THEN expr ELSE old END`,
    * cast back to the column's existing type so the table schema
    * never drifts (BigQuery rejects type-changing UPDATEs). Rows the
    * predicate does not select — including NULL evaluations — pass
    * through bit-untouched. Unlike MERGE's deliberately-strict
    * column-copy assignments, SET accepts arbitrary expressions over
    * the target row (`SET rate = rate * 2`): there is no second table
    * whose semantics could silently diverge.
    *
    * Same persistence/isolation contract as [[delete]].
    */
  def update(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case u: UpdateTable => updateParsed(spark, u)
      case other => throw new IllegalArgumentException(
        s"not an UPDATE statement (parsed to ${other.nodeName})")
    }

  private def updateParsed(spark: SparkSession, u: UpdateTable): DataFrame = {
    val (targetDf, targetQuals) = resolve(spark, u.table)
    import org.apache.spark.sql.{functions => F}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // BigQuery REJECTS a bare UPDATE (users write WHERE TRUE for a
    // full-table rewrite); Spark's parser allows omitting WHERE, so
    // guard loudly rather than silently updating every row
    val cond = u.condition.map(bridge.column).getOrElse(throw new IllegalArgumentException(
      "UPDATE requires a WHERE clause (BigQuery semantics); write WHERE TRUE explicitly " +
        "for a full-table update"))
    val byName = targetDf.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val assigned = u.assignments.map { as =>
      val name = as.key match {
        case k: UnresolvedAttribute => k.nameParts match {
          case Seq(col) => col
          case Seq(qual, col) if targetQuals(qual.toLowerCase) => col
          case _ => throw new IllegalArgumentException(
            s"SET target must be a target column: ${as.key}")
        }
        case other => throw new IllegalArgumentException(
          s"SET target must be a column, got: $other")
      }
      val field = byName.getOrElse(name.toLowerCase, throw new IllegalArgumentException(
        s"SET assigns '$name', which is not a target column"))
      field.name -> bridge.column(as.value)
    }
    require(assigned.map(_._1.toLowerCase).distinct.length == assigned.length,
      s"duplicate column in SET list: ${assigned.map(_._1).mkString(", ")}")
    val sets = assigned.toMap
    targetDf.select(targetDf.schema.fields.toSeq.map { f =>
      sets.get(f.name) match {
        case Some(v) =>
          F.when(F.coalesce(cond, F.lit(false)), v.cast(f.dataType))
            .otherwise(F.col(f.name)).as(f.name)
        case None => F.col(f.name)
      }
    }: _*)
  }

  /** SQL-statement INSERT — the reference's two non-MERGE load
    * dispositions as SQL text (the DAGs issue them through the client
    * API: WRITE_APPEND loads, ` FXRate_Reporting_Pipeline.py`:75-90,
    * and the COUNT-guarded check-then-append,
    * idempotent_fx_pipeline.py:73-92):
    *
    *  - `INSERT INTO t [(cols)] SELECT ...` → append (WRITE_APPEND);
    *  - `INSERT OVERWRITE [TABLE] t SELECT ...` → replace
    *    (WRITE_TRUNCATE);
    *  - `INSERT INTO t SELECT ... FROM s WHERE NOT EXISTS (SELECT 1
    *    FROM t WHERE t.k = s.k ...)` — the check-then-append idiom a
    *    BigQuery user writes as one statement instead of the DAG's
    *    COUNT round trip. The correlated NOT EXISTS needs no special
    *    routing: Catalyst's subquery rewrite plans it as a LEFT ANTI
    *    join against the target's key projection — exactly
    *    `Upsert.freshRows`' shape (asserted in TypedSqlSpec), with
    *    per-key granularity instead of the reference's per-batch skip.
    *
    * SQL semantics throughout: positional column mapping (an explicit
    * column list permutes but must cover every target column —
    * parquet views have no DEFAULT values), values cast to the target
    * schema, and NO batch dedup — a key delivered twice in the batch
    * inserts twice unless the statement's own NOT EXISTS guards it
    * (BigQuery behaves the same; `Upsert.idempotentAppend` is the
    * stricter library surface).
    *
    * Like [[merge]], returns the loaded frame — view-over-parquet
    * tables are immutable snapshots; persist via `FxPipeline`'s
    * append/stage-and-swap.
    */
  def insert(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case i: InsertIntoStatement => insertParsed(spark, i)
      case other => throw new IllegalArgumentException(
        s"not an INSERT statement (parsed to ${other.nodeName})")
    }

  private def insertParsed(spark: SparkSession, ins: InsertIntoStatement): DataFrame = {
    val (targetDf, aligned, overwrite) = insertAligned(spark, ins)
    if (overwrite) aligned else targetDf.unionByName(aligned)
  }

  /** The INSERT statement's pieces, for callers that commit appends as
    * appends: (current target, type-aligned new rows, overwrite?).
    */
  private def insertAligned(spark: SparkSession,
                            ins: InsertIntoStatement): (DataFrame, DataFrame, Boolean) = {
    require(ins.partitionSpec.isEmpty,
      "PARTITION spec is not supported: day layouts route through Layout.writePartitioned")
    require(!ins.ifPartitionNotExists, "IF NOT EXISTS is not supported")
    val (targetDf, _) = resolve(spark, ins.table)
    val rows = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, ins.query)

    import org.apache.spark.sql.{functions => F}
    // BY NAME maps the query's own output names; otherwise mapping is
    // positional (against the explicit column list, or the full target
    // schema) — SQL INSERT semantics in both dialects
    val renamed =
      if (ins.byName) {
        require(ins.userSpecifiedCols.isEmpty,
          "BY NAME cannot be combined with an explicit column list")
        rows
      } else {
        val names: Seq[String] =
          if (ins.userSpecifiedCols.nonEmpty) ins.userSpecifiedCols else targetDf.columns.toSeq
        require(rows.columns.length == names.length,
          s"INSERT column arity mismatch: query yields ${rows.columns.length} columns, " +
            s"statement names ${names.length}")
        rows.toDF(names: _*)
      }
    require(renamed.columns.map(_.toLowerCase).distinct.length == renamed.columns.length,
      s"duplicate column in INSERT column list: ${renamed.columns.mkString(", ")}")
    require(renamed.columns.map(_.toLowerCase).sorted.toSeq ==
        targetDf.columns.map(_.toLowerCase).sorted.toSeq,
      s"INSERT must provide every target column (got ${renamed.columns.mkString(", ")}; " +
        s"target has ${targetDf.columns.mkString(", ")}) — parquet views have no DEFAULTs")
    val aligned = renamed
      .select(targetDf.schema.fields.toSeq.map(f => F.col(f.name).cast(f.dataType).as(f.name)): _*)
    (targetDf, aligned, ins.overwrite)
  }

  /** `CREATE TABLE name AS SELECT ...` — executed natively (Spark
    * plans CTAS over the session catalog; the provider is forced to
    * parquet so the reference's bare BigQuery CTAS text, with no
    * USING clause, lands on the engine's own storage format), then
    * the created table is returned for inspection.
    */
  def createTableAs(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case c: CreateTableAsSelect => ctasParsed(spark, c.name, sql)
      case r: ReplaceTableAsSelect =>
        // resolve the REPLACEMENT query before the old table is
        // touched: analysis errors (missing columns/tables) are the
        // common failure class and must leave the original intact. A
        // runtime failure mid-write can still lose it — the V1 session
        // catalog has no atomic swap (stated; BigQuery's OR REPLACE is
        // atomic)
        spark.sessionState.executePlan(r.query).assertAnalyzed()
        ctasParsed(spark, r.name, sql, replace = true)
      case other => throw new IllegalArgumentException(
        s"not a CTAS statement (parsed to ${other.nodeName})")
    }

  // delete a managed warehouse directory for a single-part default-db
  // name (the managed-CTAS shape this engine produces) — the in-memory
  // catalog forgets tables across sessions but their directories
  // persist, so creates and renames must clear stale remnants. Called
  // ONLY when no live catalog entry can still point at the location.
  private def deleteWarehouseDir(spark: SparkSession, quotedName: String): Unit = {
    val bare = quotedName.replace("`", "")
    if (!bare.contains(".")) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(
        s"${wh.stripSuffix("/")}/${bare.toLowerCase(java.util.Locale.ROOT)}")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  // swap the target identifier of a `CREATE OR REPLACE TABLE name`
  // header for the staging name, dropping the OR REPLACE — the
  // materialize-first half of the RTAS swap below
  private def swapRtasHeader(sql: String, tmpQuoted: String): String = {
    val HeadRe = ("""(?is)^(\s*CREATE\s+)OR\s+REPLACE\s+(TABLE\s+)""" +
      """((?:`[^`]*`|[A-Za-z_][\w$]*)(?:\s*\.\s*(?:`[^`]*`|[A-Za-z_][\w$]*))*)""").r
    HeadRe.findFirstMatchIn(sql) match {
      case Some(m) =>
        sql.substring(0, m.start) + m.group(1) + m.group(2) + tmpQuoted + sql.substring(m.end)
      case None => throw new IllegalArgumentException(
        s"cannot rewrite REPLACE TABLE header in: ${sql.take(80)}")
    }
  }

  private def ctasParsed(spark: SparkSession, nameNode: LogicalPlan, sql: String,
                         replace: Boolean = false): DataFrame = {
    val parts = nameNode match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(ps, _) => ps
      case other => throw new IllegalArgumentException(s"unexpected CTAS identifier: $other")
    }
    // re-quote each part: a quoted name containing '.' must not be
    // re-parsed as database.table
    def quote(ps: Seq[String]) = ps.map(p => s"`${p.replace("`", "``")}`").mkString(".")
    val name = quote(parts)
    // the V1 session catalog has no REPLACE TABLE AS SELECT — emulate
    // BigQuery's OR REPLACE disposition WITHOUT dropping first: the
    // replacement is materialized under a staging name (so a
    // self-referencing `CREATE OR REPLACE TABLE t AS SELECT ... FROM t`
    // still reads the old t, and ANY failure — analysis or runtime —
    // leaves the original untouched), then the old object is dropped
    // and the staging table renamed into place. The drop+rename window
    // is the only non-atomic residue (stated; BigQuery's OR REPLACE is
    // fully atomic).
    val tmpName = if (replace) quote(parts.init :+ (parts.last + "__rtas_tmp")) else ""
    val sqlRun =
      if (!replace) sql
      else {
        // clear any staging leftovers from a crashed earlier run.
        // The `__rtas_tmp` suffix is RESERVED for this swap: a user
        // table deliberately named <t>__rtas_tmp is indistinguishable
        // from crash debris and will be cleared here (stated).
        spark.sql(s"DROP TABLE IF EXISTS $tmpName")
        deleteWarehouseDir(spark, tmpName)
        swapRtasHeader(sql, tmpName)
      }
    // bare CTAS (no USING) must mean a parquet table, not a Hive one —
    // applied only for THIS statement (save/restore: a library call
    // must not change the session's behavior for unrelated user SQL)
    val key = "spark.sql.legacy.createHiveTableByDefault"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.sql(sqlRun)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    if (replace) {
      // the replacement exists under the staging name — NOW destroy
      // the previous object: a shadowing temp view AND any same-named
      // catalog table both go (BigQuery replaces "the name"). The
      // catalog API takes RAW names (no backticks); the temp view
      // must go first so DROP TABLE hits the actual table — and only
      // for SINGLE-part targets (a multi-part somedb.t must never
      // take down an unrelated session view named t).
      if (parts.size == 1) {
        spark.catalog.dropTempView(parts.last)
        spark.catalog.dropGlobalTempView(parts.last)
      }
      if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE $name")
      // only now is a location delete safe: no catalog entry survives
      // the drops above, so anything left at the target location is a
      // forgotten-across-sessions remnant (a temp-view-only drop used
      // to delete a live managed table's data here)
      deleteWarehouseDir(spark, name)
      // replace destroys the previous object in BigQuery — every
      // piece of its recorded state goes with it (a stale MV entry
      // would let REFRESH overwrite the new table with the old
      // query). Registry keys may carry either the quoted or the
      // bare spelling depending on which DDL recorded them — clear
      // both, and unregister a Versioned name so later DML can never
      // route through the replaced table's old commit log.
      for (k <- Seq(name, parts.last)) {
        mvRegistry.remove(mvKey(spark, k))
        viewDefRegistry.remove(mvKey(spark, k))
        partRegistry.remove(mvKey(spark, k))
        constraintRegistry.remove(mvKey(spark, k))
        tableOptionsRegistry.remove(mvKey(spark, k))
        rowPolicyRegistry.remove(mvKey(spark, k))
        rowPolicyRawRegistry.remove(mvKey(spark, k))
      }
      if (parts.size == 1) graft.sources.Versioned.unregister(spark, parts.last)
      spark.sql(s"ALTER TABLE $tmpName RENAME TO $name")
    }
    spark.table(name)
  }

  def merge(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case mi: MergeIntoTable => mergeParsed(spark, mi)
      case other => throw new IllegalArgumentException(
        s"not a MERGE statement (parsed to ${other.nodeName})")
    }

  private def mergeParsed(spark: SparkSession, m: MergeIntoTable): DataFrame = {
    // NOT MATCHED BY SOURCE: the sync shape — DELETE actions only
    // (an UPDATE here writes expressions over the bare target row,
    // outside this engine's strict all-from-source value contract)
    m.notMatchedBySourceActions.foreach {
      case _: DeleteAction => ()
      case other => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED BY SOURCE supports THEN DELETE only (the sync shape), got: $other")
    }

    val (targetDf, targetQuals) = resolve(spark, m.targetTable)
    val (sourceDf, sourceQuals) = resolve(spark, m.sourceTable)
    val targetCols = targetDf.columns.map(_.toLowerCase).toSeq

    // ON clause -> key columns (T.k = S.k conjunctions, either order)
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        val (t, s) = orient(a, b, targetQuals, sourceQuals)
        require(t.equalsIgnoreCase(s),
          s"ON clause must match same-name key columns, got $a = $b")
        t.toLowerCase
      case other => throw new IllegalArgumentException(
        s"ON clause must be a conjunction of column equalities, got: $other")
    }

    // clause validation — values stay STRICT (all-from-source,
    // same-name, full coverage) in every shape; what generalizes in
    // the multi-clause path is WHICH rows each clause selects
    def validateUpdate(u: UpdateAction): Unit = {
      val assigned = u.assignments.map(sameNameAssignment(_, targetQuals, sourceQuals))
      assigned.foreach(c => require(targetCols.contains(c),
        s"UPDATE SET assigns '$c', which is not a target column"))
      val missing = targetCols.diff(assigned ++ keys)
      require(missing.isEmpty,
        s"UPDATE SET must cover every non-key target column (missing: ${missing.mkString(", ")}); " +
          "Upsert.merge takes all non-key values from the source")
    }
    def validateInsert(a: InsertAction): Unit = {
      val assigned = a.assignments.map(sameNameAssignment(_, targetQuals, sourceQuals))
      assigned.foreach(c => require(targetCols.contains(c),
        s"INSERT names '$c', which is not a target column"))
      val missing = targetCols.diff(assigned)
      require(missing.isEmpty,
        s"INSERT must provide every target column (missing: ${missing.mkString(", ")})")
    }
    m.matchedActions.foreach {
      case _: DeleteAction => ()
      case _: UpdateStarAction => ()
      case u: UpdateAction => validateUpdate(u)
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other (UPDATE SET [*] / DELETE only)")
    }
    m.notMatchedActions.foreach {
      case _: InsertStarAction => ()
      case a: InsertAction => validateInsert(a)
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action: $other (INSERT [*] only)")
    }
    // BigQuery's reachability rule: only the LAST clause of each
    // group may omit AND <condition> — an unconditional clause
    // swallows every row, making later clauses dead text
    for (group <- Seq(m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions))
      group.dropRight(1).foreach(a => require(a.condition.isDefined,
        "clauses after an unconditional WHEN clause are unreachable — " +
          "only the last clause in each group may omit AND <condition>"))

    // the broadcast-optimized fast path handles the two classic
    // single-clause unconditional shapes; everything else (clause
    // conditions, DELETE actions, several clauses, update-only)
    // routes through the general first-match-wins plan
    val simpleMatched: Option[Boolean] = m.matchedActions match {
      case Nil => Some(false)
      case Seq(UpdateStarAction(None)) => Some(true)
      case Seq(u: UpdateAction) if u.condition.isEmpty => Some(true)
      case _ => None
    }
    val simpleInsert: Option[Boolean] = m.notMatchedActions match {
      case Nil => Some(false)
      case Seq(InsertStarAction(None)) => Some(true)
      case Seq(i: InsertAction) if i.condition.isEmpty => Some(true)
      case _ => None
    }
    require(m.matchedActions.nonEmpty || m.notMatchedActions.nonEmpty ||
      m.notMatchedBySourceActions.nonEmpty,
      "MERGE needs WHEN MATCHED and/or WHEN NOT MATCHED [BY SOURCE]")
    val (hasUpdate, hasInsert) = (simpleMatched, simpleInsert) match {
      case (Some(u), Some(ins)) if ins && m.notMatchedBySourceActions.isEmpty => (u, ins)
      case _ =>
        val keyNames0 = targetDf.columns.filter(c => keys.contains(c.toLowerCase)).toSeq
        require(keyNames0.length == keys.distinct.length,
          s"ON-clause keys ${keys.mkString(", ")} must all exist in the target")
        return generalMerge(spark, m, targetDf, sourceDf, targetQuals, sourceQuals, keyNames0)
    }

    val keyNames = targetDf.columns.filter(c => keys.contains(c.toLowerCase)).toSeq
    require(keyNames.length == keys.distinct.length,
      s"ON-clause keys ${keys.mkString(", ")} must all exist in the target")

    import org.apache.spark.sql.{functions => F}
    val src = sourceDf.select(targetDf.columns.map(F.col).toSeq: _*)
    // SQL `=` never matches a null key, but Upsert.merge's library
    // contract joins null-safely (<=>). Route null-keyed source rows
    // AROUND the merge: under the statement's semantics they can match
    // nothing, so they are pure inserts, and null-keyed target rows
    // pass through untouched — statement semantics, not library ones.
    val anyKeyNull = keyNames.map(F.col(_).isNull).reduce(_ || _)
    val srcMatchable = src.filter(!anyKeyNull)
    val srcNullKeyed = src.filter(anyKeyNull)
    val targetKeys = targetDf.select(keyNames.map(F.col): _*).distinct()
    (hasUpdate, hasInsert) match {
      case (true, true) =>
        // BigQuery's MERGE_CARDINALITY_VIOLATION is defined for a
        // TARGET row matching more than one source row — duplicate
        // source keys that match nothing are legal (each inserts).
        // Raise declaratively (inside the plan, result stays lazy) for
        // exactly the matched-duplicate case: one window over the small
        // delta plus one slim key-projection join.
        val w = org.apache.spark.sql.expressions.Window.partitionBy(keyNames.map(F.col): _*)
        val checked = srcMatchable
          .withColumn("__src_key_count", F.count(F.lit(1)).over(w))
          .join(targetKeys.withColumn("__t_present", F.lit(1)), keyNames, "left")
          .filter(F.when(F.col("__src_key_count") === 1 || F.col("__t_present").isNull, F.lit(true))
            .otherwise(F.raise_error(F.concat(F.lit(
              "[MERGE_CARDINALITY_VIOLATION] target row matches more than one source row for key ("),
              F.concat_ws(",", keyNames.map(F.col): _*), F.lit(")"))).isNotNull))
          .select(targetDf.columns.map(F.col).toSeq: _*)
        // Upsert.merge inserts EVERY unmatched source row (its anti-join
        // does not dedup), so unmatched duplicate keys behave exactly
        // like BigQuery: both insert
        Upsert.merge(targetDf, checked, keyNames).unionByName(srcNullKeyed)
      case (false, true) =>
        // insert-only: each source row not matching any target row
        // inserts — including duplicate source keys (BigQuery inserts
        // both; no cardinality rule applies without WHEN MATCHED).
        // freshRows' per-key dedup would collapse them, so anti-join
        // directly.
        val inserts = srcMatchable.join(targetKeys, keyNames, "left_anti")
        targetDf.unionByName(inserts).unionByName(srcNullKeyed)
      case other => throw new IllegalStateException(
        s"unreachable fast-path shape $other — the dispatch above routes it to generalMerge")
    }
  }

  /** The general MERGE plan — BigQuery's full WHEN-clause surface
    * beyond the two broadcast-optimized unconditional shapes:
    * multiple `WHEN MATCHED [AND cond] THEN UPDATE SET [*] | DELETE`
    * clauses (FIRST match wins, per BigQuery; a NULL condition
    * selects nothing) and multiple `WHEN NOT MATCHED [AND cond] THEN
    * INSERT` clauses, including update-/delete-only statements.
    * Values stay strict (all-from-source, validated upstream), so
    * clause order decides WHICH action fires, never WHAT an update
    * writes — the one frame shape serves every clause.
    *
    * Plan shape: one left-outer join of the target against the
    * key-matchable source (the FULL source row rides along, so clause
    * conditions may reference source columns outside the target
    * schema), a first-match `__pick` CASE choosing the winning clause
    * per matched row (DELETE picks filter out, UPDATE picks take
    * source values, no pick keeps the target row), and the insert
    * half as the usual slim-key anti-join with its own first-match
    * pick. The cardinality sentinel is DEFERRED to the picked rows —
    * BigQuery's MERGE_CARDINALITY_VIOLATION fires only when more than
    * one UPDATE/DELETE would actually apply to the same target row, so
    * a multi-match whose clause conditions select at most one source
    * row is legal (the fan-out is collapsed per target-row identity).
    * Cost: the join shuffles like
    * any target-wide MERGE rewrite (BigQuery's DML rewrites too);
    * the small-delta broadcast optimization belongs to the
    * unconditional fast path.
    */
  private def generalMerge(spark: SparkSession, m: MergeIntoTable,
                           targetDf: DataFrame, sourceDf: DataFrame,
                           targetQuals: Set[String], sourceQuals: Set[String],
                           keyNames: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // clause conditions re-qualify onto the joined frame's t/s aliases
    def remap(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, c) if targetQuals(q.toLowerCase) => UnresolvedAttribute(Seq("t", c))
        case Seq(q, c) if sourceQuals(q.toLowerCase) => UnresolvedAttribute(Seq("s", c))
        case _ => a // unqualified: the resolver decides (ambiguity is loud)
      }
    }
    def condOf(a: MergeAction, matchedSide: Boolean): Column =
      a.condition.map(e => F.coalesce(bridge.column(
        if (matchedSide) remap(e) else stripSourceQual(e, sourceQuals)),
        F.lit(false))).getOrElse(F.lit(true))

    val anyKeyNull = keyNames.map(F.col(_).isNull).reduce(_ || _)
    val srcMatchable = sourceDf.filter(!anyKeyNull)
    val targetKeys = targetDf.select(keyNames.map(F.col): _*).distinct()

    val needJoin = m.matchedActions.nonEmpty || m.notMatchedBySourceActions.nonEmpty
    val updatedHalf: DataFrame = if (!needJoin) targetDf else {
      // the source side of the target join: with matched clauses the
      // FULL checked source row rides along (clause conditions may
      // read any source column, and the cardinality sentinel guards
      // multi-match); with ONLY BY-SOURCE clauses a slim DISTINCT key
      // projection carries the match flag — no fan-out is possible,
      // so no sentinel is needed
      val sSide: DataFrame = if (m.matchedActions.nonEmpty) srcMatchable
        else srcMatchable.select(keyNames.map(F.col): _*).distinct()
      // Fan-out (and therefore BigQuery's deferred cardinality rule)
      // is only reachable when a matched clause exists AND the source
      // holds duplicate join keys. Probe that with one slim aggregate
      // over the key projection; the key-unique source — the
      // overwhelmingly common case — then skips the per-target-row
      // arbitration window (an extra full-width shuffle+sort) and the
      // BY-SOURCE-only path (distinct key projection) never needs it.
      // Caveat (same class as the __t_id note below): the probe
      // re-evaluates the source plan separately from the join, so a
      // NONDETERMINISTIC source (rand()-derived keys, unstable
      // sampling) can probe unique yet fan out at execution —
      // duplicating target rows past the sentinel. Callers with such
      // sources must persist/localCheckpoint the source first;
      // deterministic sources (every driver face, the reference's
      // shape) see identical data in both evaluations.
      val needArbitration = m.matchedActions.nonEmpty &&
        !srcMatchable.groupBy(keyNames.map(F.col): _*).count()
          .filter(F.col("count") > 1).isEmpty
      // __t_id gives each target row an identity so the DEFERRED
      // cardinality sentinel (BigQuery's actual rule: error only when
      // >1 UPDATE/DELETE would apply to the SAME target row — a
      // multi-match whose clause conditions select at most one source
      // row is legal) and the fan-out collapse can both arbitrate per
      // target row even when the target holds duplicate keys.
      // Caveat: monotonically_increasing_id is stable only per task
      // attempt — under task retry with a nondeterministic upstream the
      // ids can reassign across the window shuffle; callers with such
      // upstreams should persist/localCheckpoint the target first.
      val t = if (needArbitration)
        targetDf.withColumn("__t_id", F.monotonically_increasing_id()).alias("t")
      else targetDf.alias("t")
      val s = sSide.withColumn("__s_present", F.lit(1)).alias("s")
      val joinCond = keyNames.map(k => F.col(s"t.$k") === F.col(s"s.$k")).reduce(_ && _)
      val matched = F.col("s.__s_present").isNotNull
      // first-match-wins picks: 0 = no clause fired (keep the row)
      val pick = m.matchedActions.zipWithIndex.foldRight(F.lit(0): Column) {
        case ((a, i), rest) => F.when(condOf(a, matchedSide = true), F.lit(i + 1)).otherwise(rest)
      }
      // BY-SOURCE picks evaluate over the bare target row (there is
      // no source row; BigQuery forbids source references there, and
      // here a source reference reads NULL → the clause never fires)
      val bsPick = m.notMatchedBySourceActions.zipWithIndex.foldRight(F.lit(0): Column) {
        case ((a, i), rest) => F.when(condOf(a, matchedSide = true), F.lit(i + 1)).otherwise(rest)
      }
      val joined = t.join(s, joinCond, "left_outer")
        .withColumn("__pick", F.when(matched, pick).otherwise(F.lit(0)))
        .withColumn("__bs_pick",
          if (m.notMatchedBySourceActions.isEmpty) F.lit(0)
          else F.when(!matched, bsPick).otherwise(F.lit(0)))
      // deferred cardinality sentinel + fan-out collapse (duplicate-key
      // sources only): partition the joined frame by target-row
      // identity; loud when two matched clauses fire on one target
      // row, and when the clauses select at most one source row keep
      // exactly one copy (the firing pair if any) so a benign
      // multi-match never duplicates the target row
      val withPick = if (!needArbitration) joined else {
        val wT = org.apache.spark.sql.expressions.Window.partitionBy(F.col("t.__t_id"))
        val wTOrd = wT.orderBy(F.when(F.col("__pick") =!= 0, F.lit(0)).otherwise(F.lit(1)))
        joined
          .withColumn("__fire_cnt",
            F.sum(F.when(F.col("__pick") =!= 0, F.lit(1)).otherwise(F.lit(0))).over(wT))
          .filter(F.when(F.col("__fire_cnt") <= 1, F.lit(true))
            .otherwise(F.raise_error(F.concat(F.lit(
              "[MERGE_CARDINALITY_VIOLATION] more than one matched UPDATE/DELETE applies to one target row for key ("),
              F.concat_ws(",", keyNames.map(k => F.col(s"t.$k")): _*), F.lit(")"))).isNotNull))
          .withColumn("__t_rn", F.row_number().over(wTOrd))
          .filter(F.col("__t_rn") === 1)
      }
      val deleteIdx = m.matchedActions.zipWithIndex
        .collect { case (_: DeleteAction, i) => i + 1 }
      val updateIdx = m.matchedActions.zipWithIndex
        .collect { case (a, i) if !a.isInstanceOf[DeleteAction] => i + 1 }
      val kept0 = if (deleteIdx.isEmpty) withPick
        else withPick.filter(!F.col("__pick").isin(deleteIdx.map(Integer.valueOf): _*))
      // every BY-SOURCE action is DELETE (validated): any pick drops
      val kept = if (m.notMatchedBySourceActions.isEmpty) kept0
        else kept0.filter(F.col("__bs_pick") === 0)
      kept.select(targetDf.columns.toSeq.map { c =>
        if (updateIdx.isEmpty) F.col(s"t.$c").as(c)
        else F.when(F.col("__pick").isin(updateIdx.map(Integer.valueOf): _*), F.col(s"s.$c"))
          .otherwise(F.col(s"t.$c")).as(c)
      }: _*)
    }

    val inserts: DataFrame = if (m.notMatchedActions.isEmpty)
      targetDf.limit(0)
    else {
      // null-keyed source rows never match: pure insert candidates;
      // the rest anti-join the slim target key projection
      val candidates = sourceDf.filter(anyKeyNull)
        .unionByName(srcMatchable.join(targetKeys, keyNames, "left_anti"))
      val insPick = m.notMatchedActions.zipWithIndex.foldRight(F.lit(0): Column) {
        case ((a, i), rest) => F.when(condOf(a, matchedSide = false), F.lit(i + 1)).otherwise(rest)
      }
      candidates.withColumn("__ins_pick", insPick)
        .filter(F.col("__ins_pick") =!= 0)
        .select(targetDf.columns.toSeq.map(c => F.col(c)): _*)
    }
    updatedHalf.unionByName(inserts)
  }

  /** NOT MATCHED conditions evaluate over the SOURCE frame alone
    * (BigQuery's rule — there is no target row to reference): strip
    * source qualifiers so `S.col` resolves on the bare frame; a
    * target-qualified reference survives un-stripped and fails
    * resolution loudly.
    */
  private def stripSourceQual(e: Expression, sourceQuals: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, c) if sourceQuals(q.toLowerCase) => UnresolvedAttribute(Seq(c))
        case _ => a
      }
    }

  // ───────────── CREATE [MATERIALIZED] VIEW ─────────────

  private val ViewHeadRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:(?:MATERIALIZED|(?:GLOBAL\s+)?TEMP(?:ORARY)?)\s+)*VIEW\b.*""".r

  private val ViewRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(MATERIALIZED)\s+|((?:GLOBAL\s+)?TEMP(?:ORARY)?)\s+)*VIEW\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+AS\s+(.+?)\s*;?\s*$""").r

  /** What a materialized view maintains, per SELECT-list aggregate:
    * `out` is the user-facing column name, `kind` the mergeable class,
    * `arg` the (unresolved) argument expression. AVG stores two state
    * columns (`out_sum`, `out_cnt`) and divides at read; the others
    * store one. The state schema IS the [[Incremental]] suffix
    * contract, so MV state tables persist/reload like any A23 state.
    */
  private case class MvMeasure(out: String, kind: String, arg: Expression)

  private case class MvState(keyOut: Seq[String], keyExprs: Seq[Expression],
                             child: LogicalPlan, measures: Seq[MvMeasure],
                             state: DataFrame, generation: Int,
                             stagingDir: Option[String])

  private val mvRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), MvState]

  // A41 CTAS layouts (name → on-disk path), consulted by
  // INFORMATION_SCHEMA.PARTITIONS — file-level metadata only
  private val partRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]

  // DDL-created view definitions, for INFORMATION_SCHEMA.VIEWS —
  // only views created through createView carry a definition (a temp
  // view registered directly on the session has no SQL text to show)
  private val viewDefRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]

  // OPTIONS(description=..., labels=[...]) metadata attached by CREATE
  // TABLE / CREATE [MATERIALIZED] VIEW, surfaced through
  // INFORMATION_SCHEMA.TABLE_OPTIONS — rows are (option_name,
  // option_type, option_value) in BigQuery's own rendering
  private val tableOptionsRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Seq[(String, String, String)]]

  // a plain TABLE/VIEW create head (no EXTERNAL / SNAPSHOT / index /
  // model keyword can appear between CREATE and the kind) — the only
  // statements whose OPTIONS clause is bare table metadata
  private val CreateOptionsHeadRe =
    ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:MATERIALIZED\s+)?(?:TABLE|VIEW)\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      // single-part names only (the session-catalog model viewName
      // enforces), and never CREATE TABLE FUNCTION's keyword
      """(?!FUNCTION\b)(`[^`.]+`|[A-Za-z_][\w$]*)[\s(].*""").r

  private def mvKey(spark: SparkSession, name: String): (Int, String) = {
    // strip one level of backtick quoting so `t` and t share a key:
    // DDL paths record metadata under whichever spelling the statement
    // used, and a rename/replace that only relocated the bare spelling
    // would strand `quoted` entries under the old name
    val n =
      if (name.length >= 2 && name.head == '`' && name.last == '`')
        name.substring(1, name.length - 1).replace("``", "`")
      else name
    (System.identityHashCode(spark), n.toLowerCase)
  }

  /** Split one top-level `OPTIONS ( ... )` clause out of a DDL
    * statement, stopping at the first top-level `AS` keyword so an
    * OPTIONS-shaped call inside the query body is never touched. Only
    * a TOP-LEVEL clause is table metadata: a column-level OPTIONS(...)
    * sits inside the column-list parens and must stay put (the schema
    * splitter rejects it loudly). Returns (sql without the clause, the
    * raw body if one was found).
    */
  private[graft] def splitOptionsClause(sql: String): (String, Option[String]) = {
    def optionsAt(i: Int) = Lexer.wordAt(sql, "OPTIONS", i) &&
      sql.startsWith("(", Lexer.skipSpace(sql, i + 7))
    val i = Lexer.findTop(sql, 0, sql.length)(i => Lexer.wordAt(sql, "AS", i) || optionsAt(i))
    if (i < 0 || !optionsAt(i)) (sql, None)
    else {
      val p = Lexer.skipSpace(sql, i + 7)
      val q = Lexer.closeParen(sql, p)
      require(q >= 0, s"unbalanced OPTIONS(...) in: ${sql.take(80)}")
      (sql.substring(0, i) + sql.substring(q + 1), Some(sql.substring(p + 1, q)))
    }
  }

  /** OPTIONS body → ordered (key, raw value) pairs; a labels list
    * `labels=[('k','v'), ('k2','v2')]` keeps its inner commas.
    */
  private def parseOptionPairs(body: String): Seq[(String, String)] = {
    require(Lexer.terminated(body), s"unterminated string in OPTIONS: $body")
    Lexer.splitTop(body).filter(_.nonEmpty).map { p =>
      val eq = p.indexOf('=')
      require(eq > 0, s"OPTIONS entry is not key=value: '$p'")
      (p.substring(0, eq).trim.toLowerCase, p.substring(eq + 1).trim)
    }
  }

  /** One TABLE_OPTIONS row in BigQuery's rendering: strings
    * double-quoted, booleans lowercase, numbers as written, a labels
    * list as `[STRUCT("k", "v"), ...]`; anything else surfaces as its
    * literal text under STRING.
    */
  private def optionRow(k: String, raw: String): (String, String, String) = {
    val t = raw.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      (k, "STRING", "\"" + t.substring(1, t.length - 1).replace("''", "'") + "\"")
    else if (t.equalsIgnoreCase("true") || t.equalsIgnoreCase("false"))
      (k, "BOOL", t.toLowerCase)
    else if (t.matches("[-+]?\\d+")) (k, "INT64", t)
    else if (t.matches("[-+]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][-+]?\\d+)?")) (k, "FLOAT64", t)
    else if (t.startsWith("[")) {
      // quoted members match through the '' escape (same rule the
      // scalar string path applies), and unescape before rendering
      val TupleRe = """\(\s*'((?:[^']|'')*)'\s*,\s*'((?:[^']|'')*)'\s*\)""".r
      def unesc(s: String) = s.replace("''", "'")
      val tuples = TupleRe.findAllMatchIn(t)
        .map(m => s"""STRUCT("${unesc(m.group(1))}", "${unesc(m.group(2))}")""").toSeq
      (k, "ARRAY<STRUCT<STRING, STRING>>", tuples.mkString("[", ", ", "]"))
    } else (k, "STRING", t)
  }

  private[graft] def recordTableOptions(spark: SparkSession, name: String, body: String): Unit =
    tableOptionsRegistry(mvKey(spark, name)) =
      parseOptionPairs(body).map { case (k, v) => optionRow(k, v) }

  // ── ROW ACCESS POLICIES ──────────────────────────────────────────
  //
  // BigQuery's row-level security on the session-catalog model: a
  // policy re-registers the table's view as (raw rows) FILTER (OR of
  // all policy predicates) — BigQuery's rule that a user sees a row
  // if ANY policy grants it. The FIRST policy captures the raw frame;
  // dropping the last restores it. GRANT TO grantees parse and are
  // recorded but do not gate (a single-principal session engine —
  // stated); policy metadata surfaces through the registry used by
  // DROP ALL.

  private case class RowPolicy(filter: String, grantees: String)
  // the raw capture remembers whether the policed name was a CATALOG
  // object (managed table / view) rather than a temp view: the policy
  // filter shadows a catalog table with a temp view, and dropping the
  // last policy must then drop the shadow — not re-register the raw
  // frame as a fresh temp view that never existed before
  private case class RowPolicyRaw(frame: DataFrame, shadowsCatalogObject: Boolean)
  private val rowPolicyRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Map[String, RowPolicy]]
  private val rowPolicyRawRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), RowPolicyRaw]

  private[graft] val RowPolicyHeadRe =
    """(?is)^\s*(?:CREATE|DROP)\s+(?:OR\s+REPLACE\s+)?(?:ALL\s+)?ROW\s+ACCESS\s+POLIC(?:Y|IES)\b.*""".r
  private val CreateRowPolicyRe =
    ("""(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?ROW\s+ACCESS\s+POLICY\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """([A-Za-z_][\w$]*)\s+ON\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+""" +
      """(?:GRANT\s+TO\s*\((.*?)\)\s+)?FILTER\s+USING\s*\((.*)\)\s*;?\s*$""").r
  private val DropRowPolicyRe =
    ("""(?is)^\s*DROP\s+ROW\s+ACCESS\s+POLICY\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_][\w$]*)\s+""" +
      """ON\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""").r
  private val DropAllRowPoliciesRe =
    ("""(?is)^\s*DROP\s+ALL\s+ROW\s+ACCESS\s+POLICIES\s+""" +
      """ON\s+((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s*;?\s*$""").r

  private def reapplyRowPolicies(spark: SparkSession, name: String): Unit = {
    val key = mvKey(spark, name)
    val raw = rowPolicyRawRegistry.getOrElse(key,
      throw new IllegalStateException(s"row-policy raw frame missing for $name"))
    rowPolicyRegistry.getOrElse(key, Map.empty) match {
      case ps if ps.isEmpty =>
        // last policy gone: a catalog table gets its shadow temp view
        // dropped (reads resolve back to the table itself); a name
        // that WAS a temp view gets the raw frame re-registered
        if (raw.shadowsCatalogObject) spark.catalog.dropTempView(name)
        else raw.frame.createOrReplaceTempView(name)
        rowPolicyRawRegistry.remove(key)
      case ps =>
        val pred = ps.values.map(p => s"(${p.filter})").mkString(" OR ")
        raw.frame.filter(pred).createOrReplaceTempView(name)
    }
  }

  def rowAccessPolicy(spark: SparkSession, sql: String): DataFrame = sql match {
    case CreateRowPolicyRe(orReplace, ifNotExists, pName, rawName, grantees, filter) =>
      require(orReplace == null || ifNotExists == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive (BigQuery rejects the combination)")
      val name = viewName(rawName)
      require(spark.catalog.tableExists(name),
        s"CREATE ROW ACCESS POLICY: no such table or view '$name'")
      val key = mvKey(spark, name)
      val existing = rowPolicyRegistry.getOrElse(key, Map.empty)
      if (existing.contains(pName) && ifNotExists != null) return spark.emptyDataFrame
      require(!existing.contains(pName) || orReplace != null,
        s"row access policy '$pName' already exists on $name (use OR REPLACE or IF NOT EXISTS)")
      // first policy captures the RAW frame before any filtering,
      // recording whether the name resolved to a catalog object (the
      // shadow-vs-restore distinction above)
      if (!rowPolicyRawRegistry.contains(key)) {
        val isCatalogObject =
          spark.sessionState.catalog.getTempView(name).isEmpty &&
            spark.sessionState.catalog.getGlobalTempView(name).isEmpty
        rowPolicyRawRegistry(key) = RowPolicyRaw(spark.table(name), isCatalogObject)
      }
      rowPolicyRegistry(key) = existing +
        (pName -> RowPolicy(filter.trim, Option(grantees).map(_.trim).getOrElse("")))
      reapplyRowPolicies(spark, name)
      spark.emptyDataFrame
    case DropRowPolicyRe(ifExists, pName, rawName) =>
      val name = viewName(rawName)
      val key = mvKey(spark, name)
      val existing = rowPolicyRegistry.getOrElse(key, Map.empty)
      if (!existing.contains(pName)) {
        require(ifExists != null,
          s"DROP ROW ACCESS POLICY: no policy '$pName' on $name (use IF EXISTS)")
        return spark.emptyDataFrame
      }
      val remaining = existing - pName
      if (remaining.isEmpty) rowPolicyRegistry.remove(key)
      else rowPolicyRegistry(key) = remaining
      reapplyRowPolicies(spark, name)
      spark.emptyDataFrame
    case DropAllRowPoliciesRe(rawName) =>
      val name = viewName(rawName)
      val key = mvKey(spark, name)
      if (rowPolicyRegistry.contains(key)) {
        rowPolicyRegistry.remove(key)
        reapplyRowPolicies(spark, name)
      }
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a ROW ACCESS POLICY statement (expected: CREATE [OR REPLACE] ROW ACCESS " +
        "POLICY [IF NOT EXISTS] name ON table [GRANT TO (...)] FILTER USING (expr), " +
        "DROP ROW ACCESS POLICY [IF EXISTS] name ON table, " +
        "DROP ALL ROW ACCESS POLICIES ON table)")
  }

  private val AlterOptionsRe =
    ("""(?is)^\s*ALTER\s+(?:TABLE|(?:MATERIALIZED\s+)?VIEW)\s+(?:(IF\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+""" +
      """SET\s+OPTIONS\s*\(.*\)\s*;?\s*$""").r

  /** `ALTER TABLE|[MATERIALIZED] VIEW [IF EXISTS] name SET
    * OPTIONS(...)` — BigQuery's metadata update verb: listed options
    * MERGE over the recorded set; an option set to NULL clears
    * (BigQuery's remove spelling). IF EXISTS no-ops on a missing name.
    */
  def alterSetOptions(spark: SparkSession, sql: String): DataFrame = sql match {
    case AlterOptionsRe(ifExists, rawName) =>
      val name = viewName(rawName)
      if (!spark.catalog.tableExists(name)) {
        require(ifExists != null,
          s"ALTER ... SET OPTIONS: no such table or view '$name' (use IF EXISTS)")
        return spark.emptyDataFrame
      }
      val (_, bodyOpt) = splitOptionsClause(sql)
      val pairs = parseOptionPairs(bodyOpt.getOrElse(""))
      val existing = tableOptionsRegistry.getOrElse(mvKey(spark, name), Nil)
      val (cleared, set) = pairs.partition(_._2.trim.equalsIgnoreCase("NULL"))
      val clearedKeys = cleared.map(_._1).toSet
      val setRows = set.map { case (k, v) => optionRow(k, v) }
      val setKeys = setRows.map(_._1).toSet
      val merged = existing.filterNot(r => clearedKeys(r._1) || setKeys(r._1)) ++ setRows
      if (merged.nonEmpty) tableOptionsRegistry(mvKey(spark, name)) = merged
      else tableOptionsRegistry.remove(mvKey(spark, name))
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not an ALTER ... SET OPTIONS statement")
  }

  private val AlterConstraintHeadRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?:`[^`]+`|[A-Za-z_][\w$]*)""" +
      """(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*\s+(?:ADD\s+(?:CONSTRAINT\b|PRIMARY\s+KEY|FOREIGN\s+KEY)|""" +
      """DROP\s+(?:CONSTRAINT\b|PRIMARY\s+KEY)).*$""").r
  private val AlterAddRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+""" +
      """ADD\s+(.*?)\s*;?\s*$""").r
  private val AlterDropRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?""" +
      """((?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*)\s+""" +
      """DROP\s+(?:CONSTRAINT\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_][\w$.]*)|(PRIMARY\s+KEY))\s*;?\s*$""").r

  /** `ALTER TABLE t ADD [CONSTRAINT name] PRIMARY KEY|FOREIGN KEY ...
    * NOT ENFORCED` and `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name
    * | DROP PRIMARY KEY` — the post-create halves of A55's constraint
    * DDL, reusing the CREATE-time clause parser (so the same NOT
    * ENFORCED / name / column rules apply).
    */
  def alterConstraint(spark: SparkSession, sql: String): DataFrame = sql match {
    case AlterAddRe(ifExists, rawName, clause) =>
      val name = viewName(rawName)
      if (!spark.catalog.tableExists(name)) {
        require(ifExists != null,
          s"ALTER TABLE: no such table '$name' (use IF EXISTS)")
        return spark.emptyDataFrame
      }
      val existing = constraintRegistry.getOrElse(mvKey(spark, name), Nil)
      // reparse through the CREATE-time splitter with the existing
      // FK count folded in (generated fk$N names keep advancing)
      val (_, parsed) = splitConstraintClauses(name, clause)
      require(parsed.size == 1 && parsed.head.columns.nonEmpty,
        s"ALTER TABLE $name ADD: expected one PRIMARY KEY / FOREIGN KEY ... NOT ENFORCED clause, got: $clause")
      var c = parsed.head
      if (c.kind == "FOREIGN KEY" && c.name == s"$name.fk$$1") {
        // first FREE generated name (count+1 collides after a drop:
        // fk$1 dropped of {fk$1, fk$2} would regenerate fk$2)
        val used = existing.map(_.name).toSet
        var n = 1
        while (used(s"$name.fk$$$n")) n += 1
        c = c.copy(name = s"$name.fk$$$n")
      }
      require(!(c.kind == "PRIMARY KEY" && existing.exists(_.kind == "PRIMARY KEY")),
        s"table $name already has a PRIMARY KEY — DROP PRIMARY KEY first")
      require(!existing.exists(_.name == c.name),
        s"table $name already has a constraint named '${c.name}'")
      val schema = spark.table(name).schema
      c.columns.foreach(col => require(schema.fieldNames.exists(_.equalsIgnoreCase(col)),
        s"constraint ${c.name}: no such column '$col' in $name"))
      constraintRegistry(mvKey(spark, name)) = existing :+ c
      spark.emptyDataFrame
    case AlterDropRe(ifExists, rawName, conIfExists, conName, pk) =>
      val name = viewName(rawName)
      if (!spark.catalog.tableExists(name)) {
        require(ifExists != null,
          s"ALTER TABLE: no such table '$name' (use IF EXISTS)")
        return spark.emptyDataFrame
      }
      val existing = constraintRegistry.getOrElse(mvKey(spark, name), Nil)
      val remaining =
        if (pk != null) {
          require(existing.exists(_.kind == "PRIMARY KEY"),
            s"table $name has no PRIMARY KEY to drop")
          existing.filterNot(_.kind == "PRIMARY KEY")
        } else {
          val hit = existing.exists(_.name == conName)
          require(hit || conIfExists != null,
            s"table $name has no constraint named '$conName' (use IF EXISTS)")
          existing.filterNot(_.name == conName)
        }
      if (remaining.nonEmpty) constraintRegistry(mvKey(spark, name)) = remaining
      else constraintRegistry.remove(mvKey(spark, name))
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a supported ALTER TABLE constraint statement (expected: ADD [CONSTRAINT " +
        "name] PRIMARY KEY|FOREIGN KEY ... NOT ENFORCED, DROP CONSTRAINT [IF EXISTS] " +
        "name, DROP PRIMARY KEY)")
  }

  /** `CREATE [OR REPLACE] [MATERIALIZED] VIEW name [IF NOT EXISTS] AS
    * SELECT ...` — the last BigQuery DDL verbs a daily user hits.
    *
    * **Plain view** → temp-view registration of the analyzed query (a
    * BigQuery view is a named stored query; this engine's tables are
    * themselves session views, and Spark refuses a *persistent* view
    * over temp relations, so the temp catalog is the one right target).
    * `OR REPLACE` swaps, `IF NOT EXISTS` no-ops, a bare re-CREATE of an
    * existing name raises — BigQuery's three dispositions.
    *
    * **Materialized view** → the README "Upsert pattern" generalized:
    * BigQuery's incremental-MV class (an aggregate over one table with
    * an optional WHERE) initializes an [[Incremental]] partial-
    * aggregate state table from the source's current rows, and
    * [[refreshMaterialized]] folds each new-rows batch in O(batch) —
    * the state payload never reshuffles, raw history can expire, the
    * registered view always answers from state. Supported aggregates
    * map onto the mergeable suffix contract: SUM → `_sum`, COUNT →
    * `_cnt`, MIN/MAX → `_min`/`_max`, AVG → `_sum`+`_cnt` divided at
    * read (never stored, so it stays exact under merging), and
    * APPROX_COUNT_DISTINCT → a Datasketches HLL `_hll` sketch
    * (union-mergeable; its estimate is the sketch's, which may differ
    * by approximation noise from Spark's HLL++ `approx_count_distinct`
    * — both are estimates of the same count). Exact `COUNT(DISTINCT)`
    * is NOT mergeable and raises with a pointer at the sketch route.
    * Every aggregate must be aliased (the state schema needs stable
    * names); every grouping expression must appear in the SELECT list.
    *
    * Exactness contract (the A23 discipline): SUM over doubles is
    * order-sensitive, so an MV whose refresh order must reproduce the
    * full recompute bit-for-bit should sum exact types (integers or
    * `CAST(x AS DECIMAL(...))`, as the reference's report queries do).
    *
    * Returns the view's current content. MV state is session-scoped
    * (like the temp views it reads); persist it like any A23 state
    * table via [[materializedState]] if the report must outlive the
    * session.
    */
  def createView(spark: SparkSession, sql: String): DataFrame = sql match {
    case ViewRe(orReplace, materialized, temp, ifNotExists, rawName, query) =>
      require(temp == null || materialized == null,
        "TEMPORARY MATERIALIZED VIEW is contradictory — materialized state is the point")
      val name = viewName(rawName)
      val replace = orReplace != null
      val skipExisting = ifNotExists != null
      require(!(replace && skipExisting),
        "OR REPLACE and IF NOT EXISTS are mutually exclusive (BigQuery rejects the combination)")
      if (materialized != null) {
        val res = createMaterialized(spark, name, query, replace, skipExisting)
        viewDefRegistry(mvKey(spark, name)) = query.trim
        res
      } else {
        val exists = spark.catalog.tableExists(name)
        if (skipExisting && exists) spark.table(name)
        else {
          val df = spark.sql(query)
          if (replace) df.createOrReplaceTempView(name)
          else {
            require(!exists, s"view '$name' already exists (use OR REPLACE or IF NOT EXISTS)")
            df.createTempView(name)
          }
          viewDefRegistry(mvKey(spark, name)) = query.trim
          spark.table(name)
        }
      }
    case _ => throw new IllegalArgumentException(
      "unsupported CREATE VIEW form: expected CREATE [OR REPLACE] [MATERIALIZED] VIEW " +
        "name [IF NOT EXISTS] AS SELECT ... (no column lists / OPTIONS)")
  }

  private[graft] def viewName(raw: String): String = {
    // split on dots OUTSIDE backticks, unquote the part
    val parts = Lexer.splitTop(raw, '.')
    require(parts.length == 1,
      s"view names are single-part in this engine (temp catalog), got '$raw'; " +
        "dataset-qualified names belong to a real catalog deployment")
    parts.head.replace("`", "")
  }

  private def createMaterialized(spark: SparkSession, name: String, query: String,
                                 replace: Boolean, skipExisting: Boolean): DataFrame = {
    val key = mvKey(spark, name)
    if (skipExisting && mvRegistry.contains(key)) return spark.table(name)
    require(replace || !mvRegistry.contains(key),
      s"materialized view '$name' already exists (use OR REPLACE or IF NOT EXISTS)")
    val agg = spark.sessionState.sqlParser.parsePlan(query) match {
      case a: Aggregate => a
      case other => throw new IllegalArgumentException(
        s"a materialized view must be a GROUP BY aggregate over one table " +
          s"(BigQuery's incrementally-maintainable class), got ${other.nodeName}; " +
          "a non-aggregate query has no state to maintain — use a plain CREATE VIEW")
    }
    validateMvSource(agg.child)
    // GROUP BY ordinals (GROUP BY 1, 2) resolve against the select
    // list — Spark 4's parser emits UnresolvedOrdinal for them
    def byOrdinal(v: Int): Expression = {
      require(v >= 1 && v <= agg.aggregateExpressions.length,
        s"GROUP BY ordinal $v out of range")
      agg.aggregateExpressions(v - 1) match {
        case Alias(c, _) => c
        case e => e
      }
    }
    val groupExprs = agg.groupingExpressions.map {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal(v) => byOrdinal(v)
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => byOrdinal(v)
      case e => e
    }
    val groupSql = groupExprs.map(_.sql)
    val keyOut = scala.collection.mutable.ArrayBuffer.empty[String]
    val keyExprs = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val measures = scala.collection.mutable.ArrayBuffer.empty[MvMeasure]
    agg.aggregateExpressions.foreach {
      case item if stripMvAlias(item).exists(e => groupSql.contains(e.sql)) =>
        val e = stripMvAlias(item).get
        keyOut += itemName(item)
        keyExprs += e
      case Alias(f: UnresolvedFunction, out) => measures += mvMeasure(f, out)
      case f: UnresolvedFunction => throw new IllegalArgumentException(
        s"alias every aggregate in a materialized view (the state schema needs a stable " +
          s"name): un-aliased ${f.nameParts.mkString(".")}(...)")
      case UnresolvedAlias(f: UnresolvedFunction, _) => throw new IllegalArgumentException(
        s"alias every aggregate in a materialized view (the state schema needs a stable " +
          s"name): un-aliased ${f.nameParts.mkString(".")}(...)")
      case other => throw new IllegalArgumentException(
        s"materialized-view SELECT items must be grouping expressions or aliased " +
          s"aggregates, got: ${other.sql}")
    }
    require(keyExprs.map(_.sql).sorted == groupSql.sorted.distinct,
      "every GROUP BY expression must appear in the SELECT list (the state table is " +
        s"keyed by the output columns); grouped ${groupSql.mkString(", ")} vs selected " +
        s"keys ${keyExprs.map(_.sql).mkString(", ")}")
    val outNames = (keyOut ++ measures.map(_.out)).map(_.toLowerCase)
    require(outNames.distinct.length == outNames.length,
      s"duplicate output column in materialized view: ${outNames.mkString(", ")}")
    require(measures.nonEmpty, "a materialized view needs at least one aggregate measure")

    val source = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, agg.child)
    val state0 = mvPartials(source, keyOut.toSeq, keyExprs.toSeq, measures.toSeq)
    val staged = Staging.stage(state0, None, s"$name-state-0")
    val mv = MvState(keyOut.toSeq, keyExprs.toSeq, agg.child, measures.toSeq,
      staged, 0, None)
    mvRegistry(key) = mv
    registerMvView(spark, name, mv)
  }

  private def stripMvAlias(e: Expression): Option[Expression] = e match {
    case Alias(c, _) => Some(c)
    case UnresolvedAlias(c, _) => Some(c)
    case a: UnresolvedAttribute => Some(a)
    case _ => None
  }

  private def itemName(e: Expression): String = e match {
    case Alias(_, n) => n
    case a: UnresolvedAttribute => a.nameParts.last
    case UnresolvedAlias(a: UnresolvedAttribute, _) => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"alias this grouping expression in the SELECT list: ${other.sql}")
  }

  private def validateMvSource(p: LogicalPlan): Unit = p match {
    case _: UnresolvedRelation => ()
    case SubqueryAlias(_, c) => validateMvSource(c)
    case Filter(cond, c) =>
      require(cond.find(_.isInstanceOf[SubqueryExpression]).isEmpty,
        "materialized-view WHERE clauses cannot contain subqueries (the refresh could " +
          "not rebind them to a batch)")
      validateMvSource(c)
    case other => throw new IllegalArgumentException(
      s"materialized views read ONE table with an optional WHERE (BigQuery's " +
        s"incrementally-maintainable class), got ${other.nodeName}; joins and " +
        "subqueries belong in a plain view or a batch pipeline")
  }

  private def mvMeasure(f: UnresolvedFunction, out: String): MvMeasure = {
    require(f.filter.isEmpty, "FILTER (WHERE ...) aggregate clauses are not supported " +
      "in materialized views — fold the condition into the WHERE or the argument")
    val fn = f.nameParts.map(_.toLowerCase).mkString(".")
    if (f.isDistinct) {
      require(fn != "count", "COUNT(DISTINCT ...) is not mergeable across refreshes; " +
        "use APPROX_COUNT_DISTINCT — maintained as a Datasketches HLL sketch whose " +
        "union is exact (the A23 _hll recipe)")
      throw new IllegalArgumentException(s"DISTINCT aggregates are not mergeable: $fn")
    }
    fn match {
      case "count" => f.arguments match {
        case Seq(_: UnresolvedStar) => MvMeasure(out, "count_star", Literal(1))
        case Seq(a) => MvMeasure(out, "count", a)
        case _ => throw new IllegalArgumentException("COUNT takes one argument or *")
      }
      case "sum" | "min" | "max" | "avg" | "mean" | "approx_count_distinct" =>
        require(f.arguments.length == 1, s"$fn takes exactly one argument")
        MvMeasure(out, if (fn == "mean") "avg" else fn, f.arguments.head)
      case other => throw new IllegalArgumentException(
        s"aggregate '$other' is not mergeable for incremental maintenance; supported: " +
          "SUM, COUNT, COUNT(*), MIN, MAX, AVG, APPROX_COUNT_DISTINCT")
    }
  }

  /** One batch (or the full source) → partial-aggregate state rows
    * under the [[Incremental]] suffix contract.
    */
  private def mvPartials(frame: DataFrame, keyOut: Seq[String],
                         keyExprs: Seq[Expression], measures: Seq[MvMeasure]): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val keyCols = keyOut.zip(keyExprs).map { case (n, e) => bridge.column(e).as(n) }
    val stateCols = measures.flatMap { m =>
      val arg = bridge.column(m.arg)
      m.kind match {
        case "sum" => Seq(F.sum(arg).as(s"${m.out}_sum"))
        case "count_star" => Seq(F.count(F.lit(1)).as(s"${m.out}_cnt"))
        case "count" => Seq(F.count(arg).as(s"${m.out}_cnt"))
        case "min" => Seq(F.min(arg).as(s"${m.out}_min"))
        case "max" => Seq(F.max(arg).as(s"${m.out}_max"))
        case "avg" => Seq(F.sum(arg).as(s"${m.out}_sum"), F.count(arg).as(s"${m.out}_cnt"))
        case "approx_count_distinct" => Seq(F.hll_sketch_agg(arg).as(s"${m.out}_hll"))
      }
    }
    frame.groupBy(keyCols: _*).agg(stateCols.head, stateCols.tail: _*)
  }

  private def mvFinal(mv: MvState): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types.DecimalType
    mv.state.select(mv.keyOut.map(F.col) ++ mv.measures.map { m =>
      m.kind match {
        case "sum" => F.col(s"${m.out}_sum").as(m.out)
        case "count_star" | "count" => F.col(s"${m.out}_cnt").as(m.out)
        case "min" => F.col(s"${m.out}_min").as(m.out)
        case "max" => F.col(s"${m.out}_max").as(m.out)
        case "avg" =>
          mv.state.schema(s"${m.out}_sum").dataType match {
            case dt: DecimalType =>
              // match native AVG's s+4 result scale: Column-level Divide
              // goes through DecimalPrecision's precision-loss scale
              // adjustment (which would truncate back to the sum's
              // scale), so pre-widen the dividend's scale — the
              // adjusted division then rounds at s+4, the same digit
              // native Average's post-analysis cast rounds at
              val s4 = math.min(38, dt.scale + 4)
              (F.col(s"${m.out}_sum").cast(DecimalType(38, s4)) /
                F.col(s"${m.out}_cnt")).cast(DecimalType(38, s4)).as(m.out)
            case _ => (F.col(s"${m.out}_sum") / F.col(s"${m.out}_cnt")).as(m.out)
          }
        case "approx_count_distinct" =>
          F.hll_sketch_estimate(F.col(s"${m.out}_hll")).as(m.out)
      }
    }: _*)
  }

  private def registerMvView(spark: SparkSession, name: String, mv: MvState): DataFrame = {
    val fin = mvFinal(mv)
    fin.createOrReplaceTempView(name)
    fin
  }

  /** Fold one batch of NEW SOURCE ROWS into a materialized view's
    * state — O(batch): the batch re-runs the view's WHERE + partial
    * aggregation, then [[Incremental.merge]] combines it with the
    * state (broadcast delta by default; `broadcastDelta=false` for
    * per-user-scale key spaces). The registered view re-points at the
    * new state; the returned frame is the refreshed content.
    *
    * Each refresh STAGES the merged state ([[Staging]]: localCheckpoint
    * by default, durable parquet stages under `stagingDir`) — `merge`
    * reads its state twice, so an unstaged refresh chain would re-run
    * every earlier fold ~2^k times (the [[Incremental.mergeAll]] note).
    *
    * NOT redelivery-idempotent (additive sums): a replayed batch
    * double-counts. Streaming callers guard on batchId exactly as the
    * G8 `incrementalReportSink` does.
    */
  def refreshMaterialized(spark: SparkSession, name: String, batch: DataFrame,
                          broadcastDelta: Boolean = true,
                          stagingDir: Option[String] = None): DataFrame = {
    val key = mvKey(spark, name)
    val mv = mvRegistry.getOrElse(key, throw new IllegalArgumentException(
      s"no materialized view '$name' in this session (plain views don't refresh — " +
        "they re-read their source on every query)"))
    // rebind the view's source relation to the batch: the child plan
    // (alias/WHERE chain) re-applies verbatim over the new rows
    val rebound = mv.child.transformUp {
      case _: UnresolvedRelation => batch.queryExecution.analyzed
    }
    val batchFrame = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, rebound)
    val delta = mvPartials(batchFrame, mv.keyOut, mv.keyExprs, mv.measures)
    val gen = mv.generation + 1
    val dir = stagingDir.orElse(mv.stagingDir)
    val merged = Staging.stage(
      Incremental.merge(mv.state, delta, mv.keyOut, broadcastDelta),
      dir, s"$name-state-$gen")
    dir.foreach(d => if (mv.generation > 0) Staging.drop(spark, s"$d/$name-state-${mv.generation}"))
    val next = mv.copy(state = merged, generation = gen, stagingDir = dir)
    mvRegistry(key) = next
    registerMvView(spark, name, next)
  }

  /** The raw partial-aggregate state of a materialized view — the A23
    * state-table face, for persistence (write it, reload it, re-create
    * the MV elsewhere) or inspection.
    */
  def materializedState(spark: SparkSession, name: String): DataFrame =
    mvRegistry.getOrElse(mvKey(spark, name), throw new IllegalArgumentException(
      s"no materialized view '$name' in this session")).state

  /** Table reference -> (DataFrame, accepted qualifiers): the explicit
    * alias if given, plus the relation name's last part.
    */
  /** The target-table name of a DML endpoint plan, when it is a plain
    * SINGLE-part named relation (what the Versioned registry keys on —
    * this engine's tables are all single-part session views, and a
    * qualified `db.events` must NOT silently hit a registered
    * `events`).
    */
  private def dmlTargetName(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, u: UnresolvedRelation) if u.multipartIdentifier.length == 1 =>
      Some(u.multipartIdentifier.head)
    case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
      Some(u.multipartIdentifier.head)
    case _ => None
  }

  /** Transactional DML: when the statement's target is a REGISTERED
    * [[graft.sources.Versioned]] table, the verb's result snapshot
    * lands as a NEW COMMIT (the manifest write is the atomic commit
    * point — a crash mid-write leaves unreferenced debris the next
    * commit reclaims, never a half-visible table; racing writers fail
    * loudly at the create-exclusive manifest) and the session view
    * refreshes to it. This is the transactional-catalog MERGE story
    * without Delta/Iceberg jars: same statement text, single-writer
    * ACID on plain parquet, pre-image readable
    * `FOR SYSTEM_TIME AS OF` until [[graft.sources.Versioned.vacuum]].
    * MERGE/DELETE/UPDATE commit full snapshots (BigQuery DML rewrites
    * too); INSERT's append disposition commits ONLY the new rows
    * (O(batch) — handled at the dispatch site). Unregistered targets
    * keep the plain snapshot-return contract.
    */
  private def commitIfVersioned(spark: SparkSession, nameOpt: Option[String],
                                action: String)(result: => DataFrame): DataFrame = {
    val hit = nameOpt.flatMap(n =>
      graft.sources.Versioned.registeredPath(spark, n).map(p => (n, p)))
    hit match {
      case Some((n, path)) if txnActive(spark) =>
        // inside BEGIN TRANSACTION the verb STAGES: the session view
        // moves to the pending plan (read-your-writes) but no commit
        // lands until COMMIT
        txnStageOverwrite(spark, n, path, result)
      case Some((n, path)) =>
        graft.sources.Versioned.overwrite(result, path, label = action)
        graft.sources.Versioned.register(spark, n, path)
      case None => result
    }
  }

  // ───────────── multi-statement transactions ─────────────
  //
  // BigQuery's `BEGIN TRANSACTION; <DML/SELECT...>; COMMIT;` over
  // registered Versioned tables — the stage-then-merge shape the
  // reference's merge DAG runs as separate jobs
  // (fx_pipeline_with_merge.py:96-112), made atomic. Inside a
  // transaction every DML verb whose target is a registered Versioned
  // table STAGES its result: the session temp view refreshes to the
  // pending (lazy) plan so later statements in the transaction read
  // their own writes, but nothing lands on disk until COMMIT — which
  // first writes every touched table's DATA (phase one: expensive,
  // invisible — a data dir without a manifest is debris) and then
  // lands the manifests in one tight metadata-only pass (phase two:
  // each manifest write is the per-table atomic point). ROLLBACK — or
  // a crash/error anywhere before COMMIT — restores the views to the
  // last committed versions; the staged data is unreferenced debris,
  // reclaimed by Versioned.vacuum. Lazy staging is sound because
  // Versioned data files are immutable: a pending plan over version N
  // still reads version N's bytes at COMMIT time.
  //
  // Scope (BigQuery's rule, narrowed to this engine's catalog): DML
  // (INSERT/UPDATE/DELETE/MERGE/TRUNCATE) on registered Versioned
  // tables + any read-only statement. Side-effecting statements that
  // cannot be rolled back (EXPORT DATA, LOAD DATA, OPTIMIZE/VACUUM,
  // CLONE) are loud inside a transaction. DML on UNregistered targets
  // keeps its pure snapshot-return contract (no side effect, nothing
  // to roll back). Atomicity caveat: with several tables in one
  // transaction the manifests land sequentially — a crash INSIDE that
  // metadata-only loop can expose a prefix; single-table transactions
  // (the reference's shape) are fully atomic.

  private final class TxnTable(val name: String, val path: String,
                               var pending: DataFrame) {
    var appendOnly: Boolean = true
    var appended: Option[DataFrame] = None // union of the O(batch) insert batches
  }
  private final class TxnState {
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, TxnTable]
  }
  // keyed by the SESSION OBJECT (SparkSession does not override
  // equals, so this is reference identity), not identityHashCode:
  // identity hash codes can collide across live sessions, and a
  // collision here would let two sessions clobber each other's staged
  // state — with the object key a collision degrades to a bucket
  // share, never a clobber. An abandoned mid-transaction session is
  // at worst a leaked entry (same exposure as Versioned's registry).
  private val txns = scala.collection.concurrent.TrieMap.empty[SparkSession, TxnState]
  private def txnKey(spark: SparkSession): SparkSession = spark
  private[graft] def txnActive(spark: SparkSession): Boolean = txns.contains(txnKey(spark))

  private def beginTransaction(spark: SparkSession): Unit = {
    require(!txnActive(spark),
      "nested BEGIN TRANSACTION is not supported (BigQuery's rule too): " +
        "COMMIT or ROLLBACK the open transaction first")
    txns(txnKey(spark)) = new TxnState
  }

  private[graft] def rollbackTransaction(spark: SparkSession): Unit = {
    val st = txns.remove(txnKey(spark)).getOrElse(throw new IllegalArgumentException(
      "ROLLBACK without an open transaction"))
    st.tables.valuesIterator.foreach(t =>
      graft.sources.Versioned.register(spark, t.name, t.path))
  }

  // crash-injection seam for the phase-two unwind spec: invoked with
  // each table's name just before its manifest lands; production value
  // is a no-op (TransactionSpec swaps in a thrower to pin the
  // committed-prefix contract)
  private[graft] var txnPhaseTwoFailpoint: String => Unit = _ => ()

  private def commitTransaction(spark: SparkSession): Unit = {
    val key = txnKey(spark)
    val st = txns.getOrElse(key, throw new IllegalArgumentException(
      "COMMIT without an open transaction"))
    val touched = st.tables.valuesIterator.toSeq
    // phase one: stage every table's data; a failure here rolls back
    // (the already-staged directories are unreferenced debris)
    val staged =
      try touched.map { t =>
        if (t.appendOnly)
          t -> graft.sources.Versioned.stage(t.appended.get, t.path,
            append = true, "txn insert", None)
        else
          t -> graft.sources.Versioned.stage(t.pending, t.path,
            append = false, "txn", None)
      }
      catch {
        case scala.util.control.NonFatal(e) =>
          txns.remove(key)
          touched.foreach(t => graft.sources.Versioned.register(spark, t.name, t.path))
          throw e
      }
    // phase two: the commit point — metadata-only manifest writes.
    // Single-table transactions are fully atomic (one create-exclusive
    // manifest). With several tables a failure mid-loop (e.g. a racing
    // committer's create-exclusive collision) exposes a committed
    // PREFIX that nothing can roll back — so the unwind is LOUD: the
    // transaction is closed, every touched view re-registered to its
    // on-disk state (committed prefix included), and the error names
    // exactly which tables landed.
    val landed = scala.collection.mutable.ArrayBuffer.empty[String]
    try staged.foreach { case (t, s) =>
      txnPhaseTwoFailpoint(t.name)
      graft.sources.Versioned.finishStaged(spark, s)
      landed += t.name
    }
    catch {
      case scala.util.control.NonFatal(e) =>
        txns.remove(key)
        touched.foreach(t => graft.sources.Versioned.register(spark, t.name, t.path))
        throw new IllegalStateException(
          s"COMMIT failed in phase two after landing [${landed.mkString(", ")}] of " +
            s"[${touched.map(_.name).mkString(", ")}]: the landed prefix is COMMITTED " +
            "and cannot be rolled back (manifests are the per-table atomic points); " +
            "the remaining tables kept their previous versions. Transaction closed; " +
            "views restored to on-disk state.", e)
    }
    touched.foreach(t => graft.sources.Versioned.register(spark, t.name, t.path))
    txns.remove(key)
  }

  private def txnTable(spark: SparkSession, name: String, path: String): TxnTable =
    txns(txnKey(spark)).tables.getOrElseUpdate(name.toLowerCase(java.util.Locale.ROOT),
      new TxnTable(name, path, spark.table(name)))

  /** Stage a full-snapshot verb (UPDATE/DELETE/MERGE/TRUNCATE/ALTER/
    * INSERT OVERWRITE): the pending content becomes `result`.
    */
  private def txnStageOverwrite(spark: SparkSession, name: String, path: String,
                                result: DataFrame): DataFrame = {
    val t = txnTable(spark, name, path)
    t.appendOnly = false; t.appended = None
    t.pending = result
    result.createOrReplaceTempView(name)
    spark.table(name)
  }

  /** Stage an append-disposition INSERT: pending extends by the batch;
    * an all-append transaction COMMITs as ONE append commit writing
    * only the new rows (O(batch), the FxPipeline ingest shape).
    */
  private def txnStageAppend(spark: SparkSession, name: String, path: String,
                             rows: DataFrame): DataFrame = {
    val t = txnTable(spark, name, path)
    if (t.appendOnly)
      t.appended = Some(t.appended.map(_.unionByName(rows)).getOrElse(rows))
    t.pending = t.pending.unionByName(rows)
    t.pending.createOrReplaceTempView(name)
    spark.table(name)
  }

  private def requireNoTxn(spark: SparkSession, what: String): Unit =
    require(!txnActive(spark),
      s"$what is not allowed inside a transaction — it cannot be rolled back " +
        "(BigQuery forbids it in transactions too); COMMIT or ROLLBACK first")

  private val BeginTxnRe = """(?is)^\s*BEGIN\s+TRANSACTION\s*;?\s*$""".r
  private val CommitTxnRe = """(?is)^\s*COMMIT(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val RollbackTxnRe = """(?is)^\s*ROLLBACK(?:\s+TRANSACTION)?\s*;?\s*$""".r

  private def resolve(spark: SparkSession, p: LogicalPlan): (DataFrame, Set[String]) = p match {
    case SubqueryAlias(ident, u: UnresolvedRelation) =>
      // carry the statement's alias onto the frame so alias-qualified
      // expressions (DELETE ... AS d WHERE d.x, UPDATE ... SET a.y)
      // resolve; MERGE re-derives columns by name and is indifferent
      (spark.table(u.multipartIdentifier.mkString(".")).as(ident.name),
        Set(ident.name.toLowerCase, u.multipartIdentifier.last.toLowerCase))
    case u: UnresolvedRelation =>
      (spark.table(u.multipartIdentifier.mkString(".")), Set(u.multipartIdentifier.last.toLowerCase))
    case other => throw new IllegalArgumentException(
      s"DML endpoints must be named tables/views, got: ${other.nodeName}")
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Order an equality's two attribute sides as (targetCol, sourceCol)
    * using their qualifiers; both sides must be qualified — an
    * unqualified name in a two-table statement is the ambiguity
    * BigQuery itself rejects.
    */
  private def orient(a: UnresolvedAttribute, b: UnresolvedAttribute,
                     targetQuals: Set[String], sourceQuals: Set[String]): (String, String) = {
    def q(x: UnresolvedAttribute): (String, String) = x.nameParts match {
      case Seq(qual, col) => (qual.toLowerCase, col)
      case _ => throw new IllegalArgumentException(
        s"qualify ON-clause columns with the table alias, got: $x")
    }
    val (qa, ca) = q(a); val (qb, cb) = q(b)
    if (targetQuals(qa) && sourceQuals(qb)) (ca, cb)
    else if (targetQuals(qb) && sourceQuals(qa)) (cb, ca)
    else throw new IllegalArgumentException(
      s"ON clause must compare target vs source columns, got $a = $b " +
        s"(target aliases: $targetQuals, source: $sourceQuals)")
  }

  /** Validate `t.c = s.c` (same column both sides, value unqualified or
    * source-qualified, key unqualified or target-qualified) and return
    * the lower-cased column name.
    */
  private def sameNameAssignment(as: Assignment,
                                 targetQuals: Set[String], sourceQuals: Set[String]): String = {
    val keyCol = as.key match {
      case k: UnresolvedAttribute => k.nameParts match {
        case Seq(col) => col
        case Seq(qual, col) if targetQuals(qual.toLowerCase) => col
        case _ => throw new IllegalArgumentException(s"assignment target must be a target column: ${as.key}")
      }
      case other => throw new IllegalArgumentException(s"assignment target must be a column, got: $other")
    }
    val valCol = as.value match {
      case v: UnresolvedAttribute => v.nameParts match {
        case Seq(col) => col
        case Seq(qual, col) if sourceQuals(qual.toLowerCase) => col
        case _ => throw new IllegalArgumentException(s"assignment value must be a source column: ${as.value}")
      }
      case other => throw new IllegalArgumentException(
        s"only column-to-column assignments are supported (no expressions), got: $other")
    }
    require(keyCol.equalsIgnoreCase(valCol),
      s"assignment must copy the same-named source column, got $keyCol = $valCol; " +
        "renaming through MERGE would silently diverge from the library merge semantics")
    keyCol.toLowerCase
  }

  // ── BigQuery time travel: `t FOR SYSTEM_TIME AS OF <timestamp>` ──
  //
  // Catalyst parses TIMESTAMP AS OF only for v2 catalog tables; this
  // engine's tables are session views, so the clause is resolved
  // TEXTUALLY before dispatch: each top-level (outside quotes)
  // `name FOR SYSTEM_TIME AS OF <literal>` span is replaced by a
  // fresh temp view over `Versioned.readAsOf(name's registered
  // directory, literal)`. Only literal UTC timestamps are accepted —
  // BigQuery allows arbitrary timestamp expressions, but resolving
  // those would mean evaluating SQL mid-rewrite; a migrating script
  // inlines the constant (loud error says so). The table must have
  // been registered via `Versioned.register`: plain session views
  // keep no history to travel to.

  private[graft] val asOfCounter = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def rewriteTimeTravel(spark: SparkSession, sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("SYSTEM_TIME")) return sql
    // match spans of FOR\s+SYSTEM_TIME\s+AS\s+OF in code
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val m = TimeTravelRe.pattern.matcher(sql)
    var i = Lexer.indexOfWord(sql, "FOR")
    while (i >= 0) {
      val hit = m.region(i, sql.length).lookingAt()
      if (hit) spans += ((i, m.end))
      i = Lexer.indexOfWord(sql, "FOR", if (hit) m.end else i + 3)
    }
    if (spans.isEmpty) return sql
    // rewrite right-to-left so earlier spans' indices stay valid
    var out = sql
    spans.reverseIterator.foreach { case (start, end) =>
      // backwards over whitespace to the table identifier
      var e = start - 1
      while (e >= 0 && Character.isWhitespace(out.charAt(e))) e -= 1
      require(e >= 0, "FOR SYSTEM_TIME AS OF with no table reference before it")
      var s = e
      val name =
        if (out.charAt(e) == '`') {
          s = out.lastIndexOf('`', e - 1)
          require(s >= 0, "unterminated backtick before FOR SYSTEM_TIME")
          out.substring(s + 1, e)
        } else {
          while (s >= 0 && (Character.isLetterOrDigit(out.charAt(s)) ||
            out.charAt(s) == '_' || out.charAt(s) == '.')) s -= 1
          s += 1
          require(s <= e, "FOR SYSTEM_TIME AS OF must follow a table name")
          out.substring(s, e + 1)
        }
      // forward: optional TIMESTAMP keyword, then a quoted literal
      var p = Lexer.skipSpace(out, end)
      if (p + 9 <= out.length &&
        out.substring(p, p + 9).equalsIgnoreCase("TIMESTAMP")) {
        p += 9
        p = Lexer.skipSpace(out, p)
      }
      require(p < out.length && out.charAt(p) == '\'',
        s"FOR SYSTEM_TIME AS OF needs a literal timestamp (TIMESTAMP '...' or '...'); " +
          s"expressions are not evaluated here — inline the constant (table $name)")
      require(Lexer.closed(out, p), "unterminated timestamp literal after FOR SYSTEM_TIME AS OF")
      val q = Lexer.opaqueEnd(out, p) - 1
      val tsUs = parseTsLiteralUs(out.substring(p + 1, q))
      val path = graft.sources.Versioned.registeredPath(spark, name).getOrElse(
        throw new IllegalArgumentException(
          s"'$name' is not a registered versioned table — Versioned.register(spark, " +
            s"\"$name\", dir) first; plain session views keep no history to travel to"))
      val view = s"${name}__asof_${asOfCounter.incrementAndGet()}"
      graft.sources.Versioned.readAsOf(spark, path, tsUs).createOrReplaceTempView(view)
      out = out.substring(0, s) + view + out.substring(q + 1)
    }
    out
  }

  private val TimeTravelRe = """(?i)FOR\s+SYSTEM_TIME\s+AS\s+OF""".r

  // ── BigQuery wildcard tables + _TABLE_SUFFIX ─────────────────────

  /** BigQuery wildcard tables: `FROM events_*` (bare or backticked,
    * optionally dataset-qualified — the last component carries the
    * wildcard) matches every registered session view whose name
    * starts with the prefix; the reference is rewritten to a temp
    * view over the UNION BY NAME of the matches, each branch carrying
    * `_TABLE_SUFFIX` — the characters after the prefix — as a
    * per-branch LITERAL column.
    *
    * That literal is the scale contract: a `WHERE _TABLE_SUFFIX
    * BETWEEN 'a' AND 'b'` predicate pushes through the union,
    * CONSTANT-FOLDS inside each branch, and non-matching branches
    * collapse to empty relations — the optimizer prunes whole
    * TABLES' scans from the plan, not rows (spec-pinned on the
    * physical plan), which is exactly BigQuery's sharded-table cost
    * model. Shards may differ in schema: columns union by name,
    * missing ones read NULL (BigQuery's rule for wildcard scans).
    *
    * Only FROM/JOIN table positions rewrite — `SELECT *`, `a.*`,
    * `COUNT(*)` stars are untouched. Loud shapes: a `*` anywhere but
    * the end of the name (BigQuery allows only a trailing wildcard),
    * an empty prefix (`FROM *` would match the whole catalog), and a
    * wildcard matching no registered table.
    */
  private[graft] def rewriteWildcardTables(spark: SparkSession, sql: String): String = {
    if (!sql.contains("*")) return sql
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    if (!upper.contains("FROM") && !upper.contains("JOIN")) return sql
    // SQL has an EXPRESSION `FROM` keyword inside a closed set of
    // standard functions (`substring(s FROM n*2)`, `EXTRACT(x FROM
    // a*b)`, `TRIM(... FROM s)`, ...). A FROM at a paren depth opened
    // by one of those calls is NOT a table clause — arithmetic after
    // it must never reach the wildcard resolver. Track each paren's
    // owning word to know which kind of FROM we are looking at.
    val exprFromFns = Set("SUBSTRING", "SUBSTR", "EXTRACT", "TRIM", "POSITION", "OVERLAY")
    val parenStack = scala.collection.mutable.Stack.empty[Boolean]
    def wordBefore(p: Int): String = {
      var e = p - 1
      while (e >= 0 && Character.isWhitespace(sql.charAt(e))) e -= 1
      var b = e
      while (b >= 0 && isWord(sql.charAt(b))) b -= 1
      if (e < 0 || b == e) "" else upper.substring(b + 1, e + 1)
    }
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) { out ++= sql.substring(i, e); i = e }
      else if (c == '(') { parenStack.push(exprFromFns(wordBefore(i))); out += c; i += 1 }
      else if (c == ')') { if (parenStack.nonEmpty) parenStack.pop(); out += c; i += 1 }
      else if (Character.isLetter(c) && (i == 0 || !isWord(sql.charAt(i - 1)))) {
        var j = i
        while (j < sql.length && isWord(sql.charAt(j))) j += 1
        val w = upper.substring(i, j)
        out ++= sql.substring(i, j)
        i = j
        if ((w == "FROM" || w == "JOIN") && !(parenStack.nonEmpty && parenStack.top)) {
          while (i < sql.length && Character.isWhitespace(sql.charAt(i))) {
            out += sql.charAt(i); i += 1
          }
          if (i < sql.length && sql.charAt(i) == '`') {
            require(Lexer.closed(sql, i), "unterminated backtick in table reference")
            val close = Lexer.opaqueEnd(sql, i) - 1
            val ref = sql.substring(i + 1, close)
            if (ref.contains("*")) out ++= wildcardView(spark, ref)
            else out ++= sql.substring(i, close + 1)
            i = close + 1
          } else if (i < sql.length &&
            (Character.isLetter(sql.charAt(i)) || sql.charAt(i) == '_')) {
            var k = i
            while (k < sql.length &&
              (isWord(sql.charAt(k)) || sql.charAt(k) == '.' || sql.charAt(k) == '*')) k += 1
            val ref = sql.substring(i, k)
            if (ref.contains("*")) out ++= wildcardView(spark, ref)
            else out ++= ref
            i = k
          } // else: subquery `(`, VALUES, etc — untouched
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Resolve one wildcard reference to a temp view over the union of
    * matching session views; returns the view name. See
    * [[rewriteWildcardTables]] for semantics.
    */
  private def wildcardView(spark: SparkSession, ref: String): String = {
    import org.apache.spark.sql.{functions => F}
    require(ref.endsWith("*") && ref.indexOf('*') == ref.length - 1,
      s"wildcard table '$ref': only a single trailing * is supported (BigQuery's rule)")
    val base = ref.dropRight(1)
    // dataset-qualified prefixes keep their last component (the
    // single-part temp-catalog rule every statement here follows)
    val prefix = base.substring(base.lastIndexOf('.') + 1)
    require(prefix.nonEmpty,
      s"wildcard table '$ref': empty prefix would match the whole catalog — " +
        "name the shard family (e.g. events_*)")
    val lower = prefix.toLowerCase(java.util.Locale.ROOT)
    val matches = spark.catalog.listTables().collect()
      .map(_.name)
      .filter(n => n.toLowerCase(java.util.Locale.ROOT).startsWith(lower) &&
        !n.contains("__wild_") && !n.contains("__asof_"))
      .sorted.toSeq
    require(matches.nonEmpty,
      s"wildcard table '$ref' matches no registered table or view")
    val unioned = matches.map { n =>
        spark.table(n).withColumn("_TABLE_SUFFIX", F.lit(n.substring(prefix.length)))
      }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val view = s"__wild_${asOfCounter.incrementAndGet()}"
    unioned.createOrReplaceTempView(view)
    view
  }

  // ── BigQuery VECTOR_SEARCH table function ────────────────────────
  //
  // `FROM VECTOR_SEARCH(TABLE base, 'col', TABLE queries [, 'qcol'],
  // top_k => 5, distance_type => 'COSINE')` — resolved textually like
  // time travel (Catalyst has no TVF registry for session views): the
  // call span is replaced by a temp view over
  // `Similarity.vectorSearch`, which emits BigQuery's (query STRUCT,
  // base STRUCT, distance) shape. `options =>` carries BigQuery's
  // index switch: use_brute_force / fraction_lists_to_search route
  // through a CREATE VECTOR INDEX cell layout (see that DDL below);
  // no options means brute force. Composes with time travel: the
  // TABLE arg may be a versioned table AS OF rewritten first.

  private[graft] def rewriteVectorSearch(spark: SparkSession, sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("VECTOR_SEARCH")) return sql
    // (start, argStart, argEnd, end) of each VECTOR_SEARCH ( args ) call
    val spans = Lexer.calls(sql, "VECTOR_SEARCH").map { case (i, open, q) =>
      require(q >= 0, "unbalanced parentheses in VECTOR_SEARCH call")
      (i, open + 1, q, q + 1)
    }
    if (spans.isEmpty) return sql
    var out = sql
    spans.reverseIterator.foreach { case (start, argStart, argEnd, end) =>
      val df = vectorSearchFromArgs(spark, out.substring(argStart, argEnd))
      val view = s"__vector_search_${asOfCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      out = out.substring(0, start) + view + out.substring(end)
    }
    out
  }

  /** Parse a VECTOR_SEARCH argument list and run the search. */
  private def vectorSearchFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val parts = Lexer.splitTop(argBody)
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    val StrRe = """(?s)^'(.*)'$""".r
    val NamedRe = """(?is)^([A-Za-z_]\w*)\s*=>\s*(.+)$""".r
    var tables = List.empty[String]
    var strs = List.empty[String]
    var named = Map.empty[String, String]
    parts.map(_.trim).filter(_.nonEmpty).foreach {
      case TableRe(name) =>
        require(named.isEmpty && strs.size <= (if (tables.isEmpty) 0 else 1),
          "VECTOR_SEARCH arguments out of order: TABLE base, 'column', TABLE queries " +
            "[, 'query_column'], then named arguments")
        tables :+= name
      // BigQuery also takes a parenthesized SELECT wherever a TABLE
      // goes — the FILTERED-search spelling (metadata predicate
      // before the distance scan). Runs through load, so the subquery
      // speaks the full dialect.
      case q if q.startsWith("(") && q.endsWith(")") =>
        require(named.isEmpty && strs.size <= (if (tables.isEmpty) 0 else 1),
          "VECTOR_SEARCH arguments out of order: base, 'column', queries " +
            "[, 'query_column'], then named arguments")
        tables :+= q
      case NamedRe(key, value) => named += key.toLowerCase -> value.trim
      case StrRe(v) =>
        require(named.isEmpty, "positional arguments must precede named arguments")
        strs :+= v.replace("''", "'")
      case other => throw new IllegalArgumentException(
        s"unsupported VECTOR_SEARCH argument: $other")
    }
    require(tables.size == 2 && strs.nonEmpty && strs.size <= 2,
      "VECTOR_SEARCH needs (TABLE base, 'column', TABLE queries [, 'query_column'] " +
        "[, top_k => n] [, distance_type => '...'])")
    val unknown = named.keySet -- Set("top_k", "distance_type", "options")
    require(unknown.isEmpty, s"unknown VECTOR_SEARCH named argument(s): ${unknown.mkString(", ")}")
    val topK = named.get("top_k").map { v =>
      require(v.matches("\\d+"), s"top_k must be an integer literal, got $v"); v.toInt
    }.getOrElse(10)
    val distance = named.get("distance_type").map {
      case StrRe(v) => v
      case other => throw new IllegalArgumentException(
        s"distance_type must be a string literal, got $other")
    }.getOrElse("EUCLIDEAN")
    def strip(n: String) = if (n.startsWith("`")) n.substring(1, n.length - 1) else n
    val baseCol = strs.head
    val queryCol = strs.lift(1).getOrElse(baseCol)
    // `options =>`: BigQuery's index/brute-force switch. Absent (or an
    // empty object) → brute force, the engine's historical default.
    // use_brute_force=false or fraction_lists_to_search → route
    // through a registered CREATE VECTOR INDEX cell layout — loud
    // when none exists, never a silent full scan pretending to be an
    // index probe.
    val opts = named.get("options").map {
      case StrRe(v) => parseJsonOptionObject(v.replace("''", "'"), "VECTOR_SEARCH options")
      case other => throw new IllegalArgumentException(
        s"options must be a quoted JSON literal, got $other")
    }.getOrElse(Map.empty[String, Any])
    val unknownOpt = opts.keySet -- Set("use_brute_force", "fraction_lists_to_search")
    require(unknownOpt.isEmpty,
      s"unsupported VECTOR_SEARCH option(s): ${unknownOpt.toSeq.sorted.mkString(", ")} " +
        "(supported: use_brute_force, fraction_lists_to_search)")
    val bruteFlag = opts.get("use_brute_force").map {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"use_brute_force must be a JSON boolean, got $other")
    }
    val fraction = opts.get("fraction_lists_to_search").map {
      case d: java.lang.Double =>
        require(d > 0.0 && d <= 1.0,
          s"fraction_lists_to_search must be in (0, 1], got $d")
        d.doubleValue()
      case other => throw new IllegalArgumentException(
        s"fraction_lists_to_search must be a JSON number, got $other")
    }
    require(!(bruteFlag.contains(true) && fraction.nonEmpty),
      "fraction_lists_to_search cannot be combined with use_brute_force = true " +
        "(BigQuery rejects the combination too)")
    val useIndex = bruteFlag.contains(false) || fraction.nonEmpty
    def resolveArg(arg: String): DataFrame =
      if (arg.startsWith("(")) load(spark, arg.substring(1, arg.length - 1))
      else spark.table(strip(arg))
    if (useIndex) {
      require(!tables.head.startsWith("("),
        "VECTOR_SEARCH with use_brute_force=false needs the indexed TABLE " +
          "itself as the base (the index layout is registered per table) — " +
          "filter the RESULT, or use the brute-force route for a subquery base")
      val baseName = viewName(strip(tables.head))
      val st = vectorIndexFor(spark, baseName, baseCol).getOrElse(
        throw new IllegalArgumentException(
          s"VECTOR_SEARCH use_brute_force=false: no vector index registered on " +
            s"$baseName($baseCol) — CREATE VECTOR INDEX first, or set use_brute_force => true"))
      require(distance.toUpperCase(java.util.Locale.ROOT) == "COSINE",
        s"the vector index on $baseName($baseCol) was built for COSINE; " +
          s"distance_type '$distance' cannot use it (set use_brute_force => true)")
      // BigQuery's default fraction auto-tunes; here it is a stated 5%
      val nprobe = math.max(1,
        math.ceil(fraction.getOrElse(0.05) * st.numLists).toInt)
      import spark.implicits._
      val cents = st.centroids.toDF("cell", "centroid")
      graft.operators.Similarity.vectorSearchFromLayout(
        spark, st.path, cents, baseCol,
        resolveArg(tables(1)), queryCol, topK, distance, nprobe)
    } else {
      graft.operators.Similarity.vectorSearch(
        resolveArg(tables.head), baseCol,
        resolveArg(tables(1)), queryCol, topK, distance)
    }
  }

  // ── BigQuery ARRAY(SELECT ...) subqueries over UNNEST ────────────
  //
  // THE BigQuery array-manipulation idiom — `ARRAY(SELECT f(x) FROM
  // UNNEST(arr) AS x WHERE p(x) [ORDER BY x])` — rewritten to the
  // higher-order-function pipeline it denotes: filter → array_sort →
  // transform (→ array_distinct), which stays a per-row map (no
  // Generate, no join — the 100 TB shape: element pipelines never
  // leave the row). Scope and louds:
  //  - FROM must be UNNEST(expr) with an alias (a table there is a
  //    real correlated subquery — loud with the join route);
  //  - ORDER BY supports the bare element (ASC/DESC) — sorting
  //    happens BEFORE the transform so output order follows the
  //    element, SQL's scoping;
  //  - WITH OFFSET binds ORIGINAL positions, so it composes with the
  //    transform's (x, i) lambda but not with WHERE (filtering would
  //    renumber — loud) or ORDER BY;
  //  - DISTINCT applies after the transform; DISTINCT + ORDER BY is
  //    loud (sort-then-dedup would not preserve the requested order).
  // Nested ARRAY(SELECT ...) handles recursively. Lambda bodies may
  // reference outer row columns, as BigQuery's do.

  private[graft] def rewriteArraySubquery(sql: String): String = {
    var i = Lexer.indexOfWord(sql, "ARRAY")
    while (i >= 0) {
      val p = Lexer.skipSpace(sql, i + 5)
      if (sql.startsWith("(", p) && Lexer.wordAt(sql, "SELECT", Lexer.skipSpace(sql, p + 1))) {
        val r = Lexer.closeParen(sql, p)
        require(r >= 0, "unbalanced parentheses in ARRAY(SELECT ...)")
        val repl = arraySubqueryToHof(sql.substring(p + 1, r))
        return rewriteArraySubquery(sql.substring(0, i) + repl + sql.substring(r + 1))
      }
      i = Lexer.indexOfWord(sql, "ARRAY", p)
    }
    sql
  }

  // ── scalar / EXISTS subqueries over UNNEST ───────────────────────
  //
  // The companion idiom: `(SELECT COUNT(*) FROM UNNEST(arr) AS x
  // WHERE p)` and `EXISTS(SELECT 1 FROM UNNEST(arr) AS x WHERE p)` —
  // again per-row HOFs (size/filter/array_max/exists), never a
  // Generate or a correlated join. Conservative by design: only a
  // COUNT/COUNT(*)/MAX/MIN head (or the EXISTS wrapper) rewrites, and
  // a parenthesized SELECT in FROM/JOIN position is skipped — every
  // other shape passes through untouched for Catalyst (real scalar
  // subqueries over TABLES are native Spark and must keep working).
  // SUM/AVG heads pass through too (their NULL-skipping fold is the
  // caller's `aggregate(...)` to spell) — Catalyst then fails typed
  // on the unparseable UNNEST, naming the spot.

  private[graft] def rewriteScalarUnnestSubquery(sql: String): String = {
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    def prevWord(at: Int): String = {
      var e = at - 1
      while (e >= 0 && Character.isWhitespace(sql.charAt(e))) e -= 1
      if (e >= 0 && sql.charAt(e) == ',') return ","
      val end = e
      while (e >= 0 && isWord(sql.charAt(e))) e -= 1
      if (end < 0) "" else upper.substring(e + 1, end + 1)
    }
    var i = 0
    while (i < sql.length) {
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) i = e
      else if (sql.charAt(i) == '(') {
        val exists = prevWord(i) == "EXISTS"
        if (upper.startsWith("SELECT", Lexer.skipSpace(sql, i + 1)) &&
          (exists || !Set("FROM", "JOIN", "UNNEST").contains(prevWord(i)))) {
          val r = Lexer.closeParen(sql, i)
          require(r >= 0, "unbalanced parentheses in subquery")
          val body = sql.substring(i + 1, r)
          scalarUnnestToHof(body, exists) match {
            case Some(repl) =>
              val start = if (exists) {
                var e = i - 1
                while (e >= 0 && Character.isWhitespace(sql.charAt(e))) e -= 1
                e - "EXISTS".length + 1
              } else i
              return rewriteScalarUnnestSubquery(
                sql.substring(0, start) + repl + sql.substring(r + 1))
            case None => i += 1
          }
        } else i += 1
      } else i += 1
    }
    sql
  }

  /** `SELECT <head> FROM UNNEST(e) AS x [WHERE p]` → Some(HOF) when
    * the shape is confidently ours; None = leave the text alone.
    */
  private def scalarUnnestToHof(body: String, exists: Boolean): Option[String] = {
    val upper = body.toUpperCase(java.util.Locale.ROOT)
    val selAt = Lexer.topWord(body, "SELECT")
    val fromAt = Lexer.topWord(body, "FROM")
    if (selAt != 0 && body.substring(0, selAt).trim.nonEmpty) return None
    if (fromAt < 0) {
      // `(SELECT AS STRUCT a, b)` without FROM — BigQuery's inline
      // struct constructor over the outer row: exactly one row, so
      // it maps straight to named_struct with no cardinality guard
      if (selAt != 0 || exists) return None
      return body.substring(selAt + "SELECT".length).trim match {
        case AsStructRe(list) => Some(s"(${structFieldList(list)})")
        case _ => None
      }
    }
    var p = Lexer.skipSpace(body, fromAt + 4)
    if (!upper.startsWith("UNNEST", p)) return None
    val head = body.substring(selAt + "SELECT".length, fromAt).trim
    p += "UNNEST".length
    p = Lexer.skipSpace(body, p)
    if (p >= body.length || body.charAt(p) != '(') return None
    val q = Lexer.closeParen(body, p)
    if (q < 0) return None
    val arrExpr = body.substring(p + 1, q).trim
    var rest = body.substring(q + 1)
    val AliasRe = """(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)\s*""".r
    val alias = AliasRe.findFirstMatchIn(rest) match {
      case Some(m) if !m.group(1).equalsIgnoreCase("WHERE") =>
        rest = rest.substring(m.end); Some(m.group(1))
      case _ => None
    }
    val WhereRe = """(?is)^\s*WHERE\s+(.*?)\s*$""".r
    val pred = WhereRe.findFirstMatchIn(rest).map { m => rest = rest.substring(m.end); m.group(1) }
    if (rest.trim.nonEmpty) return None
    if (pred.isDefined && alias.isEmpty) return None // predicate with nothing to bind
    val arr = s"($arrExpr)"
    val filtered = pred match {
      case Some(w) => s"filter($arr, ${alias.get} -> ($w))"
      case None => arr
    }
    // BigQuery treats a NULL array as empty in these positions (EXISTS →
    // FALSE, COUNT → 0); Spark's size(NULL) is NULL under ANSI, so pin the
    // empty-on-NULL semantics with coalesce.
    if (exists) return Some(s"(coalesce(size($filtered), 0) > 0)")
    // `(SELECT AS STRUCT f1, f2 FROM UNNEST(e) AS x [WHERE p])` — a
    // scalar struct subquery: per-element structs with BigQuery's
    // scalar-subquery cardinality contract (NULL on zero elements,
    // loud on more than one)
    head match {
      case AsStructRe(list) =>
        require(alias.isDefined, "SELECT AS STRUCT over UNNEST needs the element alias")
        val m = s"transform($filtered, ${alias.get} -> ${structFieldList(list)})"
        return Some(s"(CASE WHEN coalesce(size($m), 0) > 1 THEN try_element_at($m, " +
          "CAST(raise_error('scalar subquery over UNNEST returned more than one element') AS INT)) " +
          s"ELSE try_element_at($m, 1) END)")
      case _ =>
    }
    val HeadRe = """(?is)^(COUNT|MAX|MIN)\s*\(\s*(.*?)\s*\)$""".r
    head match {
      case HeadRe(fn, inner) =>
        fn.toUpperCase(java.util.Locale.ROOT) match {
          case "COUNT" if inner == "*" || inner == "1" =>
            Some(s"CAST(coalesce(size($filtered), 0) AS BIGINT)")
          case "COUNT" =>
            require(alias.isDefined, "COUNT(expr) over UNNEST needs the element alias")
            Some(s"CAST(coalesce(size(filter(transform($filtered, ${alias.get} -> ($inner)), " +
              "__c -> __c IS NOT NULL)), 0) AS BIGINT)")
          case "MAX" =>
            require(alias.isDefined, "MAX(expr) over UNNEST needs the element alias")
            Some(s"array_max(transform($filtered, ${alias.get} -> ($inner)))")
          case "MIN" =>
            require(alias.isDefined, "MIN(expr) over UNNEST needs the element alias")
            Some(s"array_min(transform($filtered, ${alias.get} -> ($inner)))")
          case _ => None
        }
      case _ => None
    }
  }

  /** `AS STRUCT e1 [AS f1], e2 [AS f2], ...` field list → a
    * `named_struct('f1', (e1), ...)` expression. Field names follow
    * BigQuery's rule: an explicit `AS name`, else a bare (possibly
    * dotted) identifier contributes its last component; any other
    * unnamed expression is loud (BigQuery would emit an anonymous
    * field — unrepresentable in a Spark struct).
    */
  private def structFieldList(list: String): String = {
    val items = Lexer.splitTop(list)
    require(items.forall(_.nonEmpty), s"empty field in AS STRUCT list: $list")
    val fields = items.map { item =>
      val lastAs = Lexer.lastTopWord(item, "AS")
      if (lastAs > 0) (item.substring(0, lastAs).trim, item.substring(lastAs + 2).trim)
      else {
        require(item.matches("""(`[^`]+`|[A-Za-z_]\w*)(\.(`[^`]+`|[A-Za-z_]\w*))*"""),
          s"AS STRUCT field '$item' needs a name — BigQuery would emit an anonymous " +
            "field, unrepresentable in a Spark struct; add `AS name`")
        // last dot outside backticks (dots inside `...` are part of the name)
        var lastDot = -1
        Lexer.foreachCode(item, 0, item.length)((j, _) => if (item.charAt(j) == '.') lastDot = j)
        (item, item.substring(lastDot + 1))
      }
    }
    // a quoted alias/identifier contributes its unquoted text as the name
    val named = fields.map { case (e, n0) =>
      val n = if (n0.length >= 2 && n0.head == '`' && n0.last == '`') n0.substring(1, n0.length - 1) else n0
      (e, n)
    }
    named.map { case (e, n) => s"'${n.replace("'", "''")}', ($e)" }
      .mkString("named_struct(", ", ", ")")
  }

  private val AsStructRe = """(?is)^AS\s+STRUCT\s+(.*)$""".r

  /** One `SELECT ... FROM UNNEST(...) ...` body → the HOF pipeline. */
  private def arraySubqueryToHof(body0: String): String = {
    // nested array subqueries in any piece resolve first
    val body = rewriteArraySubquery(body0)
    val upper = body.toUpperCase(java.util.Locale.ROOT)
    val selAt = Lexer.topWord(body, "SELECT")
    require(selAt >= 0, "ARRAY(...) subquery must start with SELECT")
    var exprStart = selAt + "SELECT".length
    val distinct = {
      val t = body.substring(exprStart)
      val m = """(?is)^\s*DISTINCT\s""".r.findFirstIn(t)
      m.foreach(s => exprStart += s.length)
      m.isDefined
    }
    val fromAt = Lexer.topWord(body, "FROM", exprStart)
    require(fromAt >= 0, "ARRAY(SELECT ...) needs FROM UNNEST(array_expr) AS alias")
    val expr0 = body.substring(exprStart, fromAt).trim
    require(expr0 != "*", "ARRAY(SELECT * ...) is not supported — name the element")
    // `SELECT AS STRUCT f1, f2, ...` — BigQuery's repeated-record
    // constructor: each element maps to a named struct
    val expr = expr0 match {
      case AsStructRe(list) =>
        require(list.trim != "*",
          "ARRAY(SELECT AS STRUCT * ...) is not supported — name the fields")
        structFieldList(list)
      case e => e
    }
    var p = Lexer.skipSpace(body, fromAt + 4)
    require(upper.startsWith("UNNEST", p),
      "ARRAY subqueries are supported over UNNEST element pipelines only — a table " +
        "there is a correlated subquery; compose it as a join + ARRAY_AGG instead")
    p += "UNNEST".length
    p = Lexer.skipSpace(body, p)
    require(p < body.length && body.charAt(p) == '(', "UNNEST needs (array_expr)")
    val q = Lexer.closeParen(body, p)
    require(q >= 0, "unbalanced parentheses in UNNEST(...)")
    val arrExpr = body.substring(p + 1, q).trim
    var rest = body.substring(q + 1)
    val AliasRe = """(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)\s*""".r
    val alias = AliasRe.findFirstMatchIn(rest) match {
      case Some(m) if !Set("WHERE", "ORDER", "WITH").contains(
          m.group(1).toUpperCase(java.util.Locale.ROOT)) =>
        rest = rest.substring(m.end); m.group(1)
      case _ => throw new IllegalArgumentException(
        "ARRAY(SELECT ... FROM UNNEST(e) AS x): the element alias is required")
    }
    val OffsetRe = """(?is)^\s*WITH\s+OFFSET\s+(?:AS\s+)?([A-Za-z_]\w*)\s*""".r
    val offset = OffsetRe.findFirstMatchIn(rest).map { m => rest = rest.substring(m.end); m.group(1) }
    val WhereRe = """(?is)^\s*WHERE\s+(.*?)\s*(?=$|ORDER\s+BY\s)""".r
    val pred = WhereRe.findFirstMatchIn(rest).map { m => rest = rest.substring(m.end); m.group(1) }
    val OrderRe = """(?is)^\s*ORDER\s+BY\s+([A-Za-z_]\w*)\s*(ASC|DESC)?\s*$""".r
    val order = OrderRe.findFirstMatchIn(rest).map { m =>
      rest = rest.substring(m.end)
      (m.group(1), Option(m.group(2)).forall(_.equalsIgnoreCase("ASC")))
    }
    require(rest.trim.isEmpty,
      s"unsupported trailing clause in ARRAY(SELECT ...): '${rest.trim.take(60)}' " +
        "(supported: FROM UNNEST(e) AS x [WITH OFFSET AS o] [WHERE p] [ORDER BY x [ASC|DESC]])")
    offset.foreach { _ =>
      require(pred.isEmpty && order.isEmpty,
        "WITH OFFSET binds ORIGINAL array positions — WHERE/ORDER BY would renumber " +
          "or reorder them; filter or sort on a transformed (value, offset) struct instead")
    }
    order.foreach { case (key, _) =>
      require(key.equalsIgnoreCase(alias),
        s"ARRAY(SELECT ...) ORDER BY supports the element itself ('$alias'), got '$key'")
      require(!distinct,
        "DISTINCT with ORDER BY in an ARRAY subquery is not supported — dedup would " +
          "not preserve the requested order; sort the array_distinct result instead")
    }
    val arr = s"($arrExpr)"
    val filtered = pred match {
      case Some(w) => s"filter($arr, $alias -> ($w))"
      case None => arr
    }
    val ordered = order match {
      case Some((_, asc)) =>
        if (asc) s"array_sort($filtered)" else s"reverse(array_sort($filtered))"
      case None => filtered
    }
    val mapped = offset match {
      case Some(o) => s"transform($ordered, ($alias, $o) -> ($expr))"
      case None => s"transform($ordered, $alias -> ($expr))"
    }
    if (distinct) s"array_distinct($mapped)" else mapped
  }

  // ── BigQuery change-history TVFs: APPENDS / CHANGES ──────────────
  //
  // `FROM APPENDS(TABLE t, start, end)` / `FROM CHANGES(TABLE t,
  // start, end)` over a REGISTERED Versioned table (the A33 commit
  // log IS the change history) — resolved textually like
  // VECTOR_SEARCH. Timestamps are UTC literals (TIMESTAMP '...' or
  // bare '...', the time-travel dialect) or NULL (= table creation /
  // now); BigQuery's window rule: start inclusive, end exclusive.
  // Output = the table's columns plus `_change_type` /
  // `_change_timestamp` pseudo-columns; the reader-half cost tiers
  // (delta-dirs-only appends, free compacts, snapshot-diff rewrites)
  // live on [[graft.sources.Versioned.appendsBetween]]/
  // [[graft.sources.Versioned.changesBetween]].

  private[graft] def rewriteChangeTvf(spark: SparkSession, sql: String): String = {
    var out = sql
    Seq("APPENDS", "CHANGES").foreach { kw =>
      var scan = true
      while (scan) {
        tvfSpan(out, kw) match {
          case None => scan = false
          case Some((start, argStart, argEnd, end)) =>
            val df = changeTvfFromArgs(spark, kw, out.substring(argStart, argEnd))
            val view = s"__${kw.toLowerCase}_${asOfCounter.incrementAndGet()}"
            df.createOrReplaceTempView(view)
            out = out.substring(0, start) + view + out.substring(end)
        }
      }
    }
    out
  }

  /** BigQuery's `GAP_FILL` time-series TVF, resolved textually like
    * APPENDS/CHANGES (A45): build the gap-filled frame from the named
    * arguments, register it as a temp view, splice the view name in.
    * Honored surface: `ts_column => '<col>'` (required),
    * `bucket_width => INTERVAL 1 DAY` (date grid) or a sub-day
    * `INTERVAL n HOUR|MINUTE|SECOND` (timestamp grid, round 13 —
    * month-family widths stay loud, a month grid is not
    * fixed-width), `partitioning_columns => ['a', ...]`
    * (optional), `value_columns => [('col', 'locf'|'null'|'linear'),
    * ...]` (optional — [[graft.operators.Resample.gapFill]]
    * carries the methods). The input table must be one row per
    * (partitioning, ts) bucket, the shape BigQuery documents.
    */
  /** BigQuery `RANGE_SESSIONIZE(TABLE t, 'range_col' [, ['part', ...]]
    * [, 'MEETS'|'OVERLAPS'])` — resolves textually like GAP_FILL (the
    * TVF-as-view pattern) and runs Resample.sessionizeRanges. Output
    * is the input rows plus `session_range` (BigQuery's shape).
    */
  private[graft] def rewriteRangeSessionizeTvf(spark: SparkSession, sql: String): String = {
    var out = sql
    var scan = true
    while (scan) {
      tvfSpan(out, "RANGE_SESSIONIZE") match {
        case None => scan = false
        case Some((start, argStart, argEnd, end)) =>
          val df = rangeSessionizeFromArgs(spark, out.substring(argStart, argEnd))
          val view = s"__range_sessionize_${asOfCounter.incrementAndGet()}"
          df.createOrReplaceTempView(view)
          out = out.substring(0, start) + view + out.substring(end)
      }
    }
    out
  }

  private def rangeSessionizeFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    val args = Lexer.splitTop(argBody)
    require(args.size >= 2 && args.size <= 4,
      "RANGE_SESSIONIZE takes (TABLE t, 'range_col' [, ['part', ...]] [, 'MEETS'|'OVERLAPS'])")
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    val name = args.head match {
      case TableRe(n) => viewName(n)
      case other => throw new IllegalArgumentException(
        s"RANGE_SESSIONIZE's first argument must be TABLE <name>, got: $other")
    }
    def unq(s: String, what: String): String = {
      require(s.length >= 2 && s.head == '\'' && s.last == '\'',
        s"RANGE_SESSIONIZE expects a quoted $what, got: $s")
      s.substring(1, s.length - 1)
    }
    val rangeCol = unq(args(1), "range column name")
    def listOf(s: String): Seq[String] = {
      require(s.startsWith("[") && s.endsWith("]"),
        s"RANGE_SESSIONIZE expects a [bracketed] list, got: $s")
      val body = s.substring(1, s.length - 1).trim
      if (body.isEmpty) Nil
      else body.split(",").map(p => unq(p.trim, "partition column")).toSeq
    }
    // the optional bracketed partition list and the optional trailing
    // mode string are distinguished by their first character
    val rest = args.drop(2)
    val (partCols, modeTxt) = rest match {
      case Seq() => (Nil, "MEETS")
      case Seq(one) if one.startsWith("[") => (listOf(one), "MEETS")
      case Seq(one) => (Nil, unq(one, "sessionize mode"))
      case Seq(lst, m) =>
        require(lst.startsWith("["),
          s"RANGE_SESSIONIZE's third argument must be a [bracketed] partition list, got: $lst")
        (listOf(lst), unq(m, "sessionize mode"))
      case other => throw new IllegalArgumentException(
        s"RANGE_SESSIONIZE: too many arguments: ${other.mkString(", ")}")
    }
    graft.operators.Resample.sessionizeRanges(
      spark.table(name), rangeCol, partCols,
      modeTxt.toUpperCase(java.util.Locale.ROOT))
  }

  private[graft] def rewriteGapFillTvf(spark: SparkSession, sql: String): String = {
    var out = sql
    var scan = true
    while (scan) {
      tvfSpan(out, "GAP_FILL") match {
        case None => scan = false
        case Some((start, argStart, argEnd, end)) =>
          val df = gapFillFromArgs(spark, out.substring(argStart, argEnd))
          val view = s"__gap_fill_${asOfCounter.incrementAndGet()}"
          df.createOrReplaceTempView(view)
          out = out.substring(0, start) + view + out.substring(end)
      }
    }
    out
  }

  private def gapFillFromArgs(spark: SparkSession, argBody: String): DataFrame = {
    // value_columns carries nested lists
    val args = Lexer.splitTop(argBody)
    require(args.nonEmpty, "GAP_FILL needs (TABLE t, ts_column => ..., bucket_width => ...)")
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    val name = args.head match {
      case TableRe(n) => viewName(n)
      case other => throw new IllegalArgumentException(
        s"GAP_FILL's first argument must be TABLE <name>, got: $other")
    }
    val named = args.tail.map { a =>
      val arrow = a.indexOf("=>")
      require(arrow > 0, s"GAP_FILL expects named arguments (name => value), got: $a")
      (a.substring(0, arrow).trim.toLowerCase(java.util.Locale.ROOT),
        a.substring(arrow + 2).trim)
    }.toMap
    val known = Set("ts_column", "bucket_width", "partitioning_columns", "value_columns")
    val unknown = named.keySet -- known
    require(unknown.isEmpty, s"GAP_FILL arguments not supported: ${unknown.mkString(", ")}")
    def unq(s: String): String = {
      require(s.length >= 2 && s.head == '\'' && s.last == '\'',
        s"GAP_FILL expects a quoted column name, got: $s")
      s.substring(1, s.length - 1)
    }
    val tsCol = unq(named.getOrElse("ts_column",
      throw new IllegalArgumentException("GAP_FILL requires ts_column => '<col>'")))
    val width = named.getOrElse("bucket_width",
      throw new IllegalArgumentException(
        "GAP_FILL requires bucket_width => INTERVAL n unit"))
    // INTERVAL 1 DAY rides the date-grid engine; sub-day widths
    // (HOUR/MINUTE/SECOND, any positive n) ride the timestamp grid
    // (Resample.gapFillTs, round 13). Multi-day/month widths stay
    // loud — a month grid is not fixed-width.
    val WidthRe = """(?is)INTERVAL\s+'?(\d+)'?\s+([A-Za-z]+)""".r
    val stepMicros: Option[Long] = width.trim match {
      case WidthRe(nTxt, unit) => unit.toUpperCase(java.util.Locale.ROOT) match {
        case "DAY" =>
          require(nTxt == "1",
            s"GAP_FILL bucket_width '$width' is not supported — INTERVAL 1 DAY, " +
              "or a sub-day HOUR/MINUTE/SECOND width")
          None
        case "HOUR" => Some(nTxt.toLong * 3600000000L)
        case "MINUTE" => Some(nTxt.toLong * 60000000L)
        case "SECOND" => Some(nTxt.toLong * 1000000L)
        case other => throw new IllegalArgumentException(
          s"GAP_FILL bucket_width unit '$other' is not supported " +
            "(DAY, HOUR, MINUTE, SECOND — month-family grids are not fixed-width)")
      }
      case other => throw new IllegalArgumentException(
        s"GAP_FILL bucket_width must be INTERVAL n unit, got: $other")
    }
    def listItems(s: String): Seq[String] = {
      require(s.startsWith("[") && s.endsWith("]"),
        s"GAP_FILL expects a [bracketed] list, got: $s")
      Lexer.splitTop(s.substring(1, s.length - 1))
    }
    val partCols = named.get("partitioning_columns").map(listItems(_).map(unq)).getOrElse(Nil)
    val valCols = named.get("value_columns").map(listItems(_).map { p =>
      require(p.startsWith("(") && p.endsWith(")"),
        s"GAP_FILL value_columns items are ('col', 'method') pairs, got: $p")
      val halves = p.substring(1, p.length - 1).split(",").map(_.trim)
      require(halves.length == 2, s"GAP_FILL value_columns pair needs (col, method): $p")
      (unq(halves(0)), unq(halves(1)).toLowerCase(java.util.Locale.ROOT))
    }).getOrElse(Nil)
    stepMicros match {
      case None =>
        graft.operators.Resample.gapFill(spark.table(name), partCols, tsCol, valCols)
      case Some(us) =>
        graft.operators.Resample.gapFillTs(spark.table(name), partCols, tsCol, valCols, us)
    }
  }

  /** First `kw ( args )` call span in `sql`, as (start, argStart,
    * argEnd, end); None if the keyword never occurs as a call. Only
    * calls whose FIRST argument starts with `TABLE ` are taken — an
    * unrelated function that happens to share the name passes through
    * untouched.
    */
  private def tvfSpan(sql: String, kw: String): Option[(Int, Int, Int, Int)] =
    Lexer.calls(sql, kw).iterator.map { case (i, p, q) =>
      require(q >= 0, s"unbalanced parentheses in $kw call")
      (i, p + 1, q, q + 1)
    }.find { case (_, a, b, _) =>
      sql.substring(a, b).trim.toUpperCase(java.util.Locale.ROOT).startsWith("TABLE ")
    }

  private def changeTvfFromArgs(spark: SparkSession, kw: String,
                                argBody: String): DataFrame = {
    val args = Lexer.splitTop(argBody)
    val TableRe = """(?is)^TABLE\s+(`[^`]+`|[A-Za-z_][\w$.]*)$""".r
    val TsRe = """(?is)^(?:TIMESTAMP\s+)?'(.*)'$""".r
    require(args.nonEmpty && args.size <= 3,
      s"$kw needs (TABLE t [, start_timestamp [, end_timestamp]]) — literals or NULL")
    val name = args.head match {
      case TableRe(n) => viewName(n)
      case other => throw new IllegalArgumentException(
        s"$kw's first argument must be TABLE <name>, got: $other")
    }
    def ts(raw: String): Option[Long] = raw match {
      case r if r.equalsIgnoreCase("NULL") => None
      case TsRe(lit) => Some(parseTsLiteralUs(lit))
      case other => throw new IllegalArgumentException(
        s"$kw timestamps must be UTC literals or NULL, got: $other")
    }
    val startUs = args.lift(1).flatMap(ts)
    val endUs = args.lift(2).flatMap(ts)
    val path = graft.sources.Versioned.registeredPath(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"$kw: '$name' is not a registered versioned table — change history " +
          "lives in the commit log (Versioned.register the table first)"))
    if (kw == "APPENDS")
      graft.sources.Versioned.appendsBetween(spark, path, startUs, endUs)
    else
      graft.sources.Versioned.changesBetween(spark, path, startUs, endUs)
  }


  // ── CREATE SEARCH INDEX ──────────────────────────────────────────
  //
  // BigQuery's search-index DDL, mapped to the thing an index IS in
  // this engine: the MATERIALIZED POSITIONAL POSTINGS table
  // (doc_id, pos, token — InvertedIndex.positionalPostings), written
  // once to warehouse parquet clustered by token and registered as a
  // session view under the index name, so phrase/token queries join
  // posting lists instead of re-tokenizing the corpus (the
  // phraseFromPostings read half; at 100 TB the index build is the
  // one corpus tokenize, amortized over every query after it). One
  // stated divergence from BigQuery's `ON t(col)`: the column list
  // here is (idCol, textCol) — postings need a row key. DROP SEARCH
  // INDEX unregisters the view; the on-disk postings survive
  // (re-CREATE rebuilds; the restorable-drop model).

  private val SearchIndexRe =
    ("""(?is)^\s*CREATE\s+SEARCH\s+INDEX\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """(`[^`]+`|[A-Za-z_][\w$]*)\s+ON\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*\(\s*""" +
      """([A-Za-z_][\w$]*)\s*,\s*([A-Za-z_][\w$]*)\s*\)""" +
      """(?:\s+OPTIONS\s*\(([^()]*)\))?\s*;?\s*$""").r
  private val SearchIndexHeadRe = """(?is)^\s*CREATE\s+SEARCH\s+INDEX\b.*""".r
  private val DropSearchIndexRe =
    ("""(?is)^\s*DROP\s+SEARCH\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?""" +
      """(`[^`]+`|[A-Za-z_][\w$]*)(?:\s+ON\s+(?:`[^`]+`|[A-Za-z_][\w$.]*))?\s*;?\s*$""").r

  def createSearchIndex(spark: SparkSession, sql: String): DataFrame = sql match {
    case SearchIndexRe(ifNot, rawName, rawTbl, idCol, textCol, optBody) =>
      val name = viewName(rawName)
      if (spark.catalog.tableExists(name)) {
        if (ifNot != null) return spark.emptyDataFrame
        throw new IllegalArgumentException(
          s"search index '$name' already exists (use IF NOT EXISTS, or DROP SEARCH INDEX)")
      }
      // OPTIONS(analyzer = ...): LOG_ANALYZER (BigQuery's default —
      // non-alphanumeric-run tokenization, EXACTLY the B31 SEARCH()
      // analyzer, so the index answers what the scalar computes) or
      // NO_OP_ANALYZER (whole value = one term). PATTERN_ANALYZER and
      // analyzer_options are loud — a silently different token set
      // would corrupt every query against the index.
      val opts = Option(optBody).map(parseOptions).getOrElse(Map.empty)
      val unknownOpts = opts.keySet -- Set("analyzer")
      require(unknownOpts.isEmpty,
        s"unsupported CREATE SEARCH INDEX option(s): ${unknownOpts.toSeq.sorted.mkString(", ")} " +
          "(supported: analyzer)")
      val analyzer = opts.getOrElse("analyzer", "LOG_ANALYZER")
        .toUpperCase(java.util.Locale.ROOT) match {
        case "LOG_ANALYZER" => "LOG"
        case "NO_OP_ANALYZER" => "NO_OP"
        case other => throw new IllegalArgumentException(
          s"analyzer '$other' is not supported (LOG_ANALYZER, NO_OP_ANALYZER)")
      }
      val postings = graft.operators.InvertedIndex.positionalPostings(
        spark.table(viewName(rawTbl)), idCol, textCol, analyzer)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val path = s"${wh.stripSuffix("/")}/graft_searchidx_$name"
      import org.apache.spark.sql.{functions => FF}
      postings.repartition(FF.col("token"))
        .write.mode("overwrite").parquet(path)
      graft.sources.Tables.parquet(spark, path).createOrReplaceTempView(name)
      searchIdxRegistry(mvKey(spark, name)) = SearchIdxState(
        viewName(rawTbl), idCol, textCol,
        if (analyzer == "LOG") "LOG_ANALYZER" else "NO_OP_ANALYZER")
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a CREATE SEARCH INDEX statement (expected: CREATE SEARCH INDEX " +
        "[IF NOT EXISTS] name ON table (id_col, text_col) — unlike BigQuery's " +
        "column list, postings need the row-key column named first)")
  }

  def dropSearchIndex(spark: SparkSession, sql: String): DataFrame = sql match {
    case DropSearchIndexRe(ifExists, rawName) =>
      val name = viewName(rawName)
      val existed = spark.catalog.dropTempView(name)
      searchIdxRegistry.remove(mvKey(spark, name))
      require(existed || ifExists != null,
        s"DROP SEARCH INDEX $name: no such index (use IF EXISTS to ignore)")
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException("not a DROP SEARCH INDEX statement")
  }

  // ── CREATE VECTOR INDEX ──────────────────────────────────────────
  //
  // BigQuery's ANN-index DDL mapped to the D3 persisted design: the
  // indexed table is written CELL-PARTITIONED under the warehouse
  // (Similarity.writeCellLayout — nearest-centroid assignment as a
  // partition directory), centroids train from a deterministic
  // hash-seeded assignment refined by Lloyd passes, and the bounded
  // (num_lists × dim) centroid table rides in the session registry.
  // A VECTOR_SEARCH with `options => '{"use_brute_force": false}'`
  // then routes through Similarity.vectorSearchFromLayout: probed
  // cells become a literal partition filter, so at 100 TB a query
  // reads nprobe/num_lists of the table and never lists the rest.
  // Honored OPTIONS: index_type = 'IVF' (TREE_AH is loud — a
  // different structure, not a knob), distance_type = 'COSINE' (the
  // layout's probe metric; others are loud rather than silently
  // probing under the wrong metric), ivf_options =
  // '{"num_lists": N}'. DROP VECTOR INDEX unregisters; the on-disk
  // layout survives (the restorable-drop model, like SEARCH INDEX).

  private case class VecIndexState(table: String, col: String, path: String,
                                   numLists: Int,
                                   centroids: Seq[(Long, Seq[Float])])

  private val vecIdxRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), VecIndexState]

  // metadata mirrors for the INFORMATION_SCHEMA.*_INDEXES / ROUTINES
  // views — bounded (one row per DDL statement), session-keyed like
  // vecIdxRegistry
  private case class SearchIdxState(table: String, idCol: String,
                                    textCol: String, analyzer: String)
  private val searchIdxRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), SearchIdxState]
  private case class RoutineState(params: String, dataType: String,
                                  body: String, tableFn: Boolean)
  private val routineRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), RoutineState]

  private val VectorIndexRe =
    ("""(?is)^\s*CREATE\s+VECTOR\s+INDEX\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" +
      """(`[^`]+`|[A-Za-z_][\w$]*)\s+ON\s+(`[^`]+`|[A-Za-z_][\w$.]*)\s*\(\s*""" +
      """([A-Za-z_][\w$]*)\s*\)(?:\s+OPTIONS\s*\((.*)\))?\s*;?\s*$""").r
  private val VectorIndexHeadRe = """(?is)^\s*CREATE\s+VECTOR\s+INDEX\b.*""".r
  private val DropVectorIndexRe =
    ("""(?is)^\s*DROP\s+VECTOR\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?""" +
      """(`[^`]+`|[A-Za-z_][\w$]*)(?:\s+ON\s+(?:`[^`]+`|[A-Za-z_][\w$.]*))?\s*;?\s*$""").r

  def createVectorIndex(spark: SparkSession, sql: String): DataFrame = sql match {
    case VectorIndexRe(ifNot, rawName, rawTbl, vecCol, optBody) =>
      val name = viewName(rawName)
      val key = mvKey(spark, name)
      if (vecIdxRegistry.contains(key)) {
        if (ifNot != null) return spark.emptyDataFrame
        throw new IllegalArgumentException(
          s"vector index '$name' already exists (use IF NOT EXISTS, or DROP VECTOR INDEX)")
      }
      val opts = Option(optBody).map(parseOptions).getOrElse(Map.empty)
      val unknownOpts = opts.keySet -- Set("index_type", "distance_type", "ivf_options")
      require(unknownOpts.isEmpty,
        s"unsupported CREATE VECTOR INDEX option(s): ${unknownOpts.toSeq.sorted.mkString(", ")} " +
          "(supported: index_type, distance_type, ivf_options)")
      val idxType = opts.getOrElse("index_type", "ivf").toUpperCase(java.util.Locale.ROOT)
      require(idxType == "IVF",
        s"index_type '$idxType' is not supported (IVF only; TREE_AH is a different " +
          "structure, not a knob on this one)")
      val dist = opts.getOrElse("distance_type", "cosine").toUpperCase(java.util.Locale.ROOT)
      require(dist == "COSINE",
        s"distance_type '$dist' is not supported for vector indexes (COSINE — the " +
          "cell layout's probe metric; brute-force VECTOR_SEARCH serves the others)")
      val numLists = opts.get("ivf_options").map { j =>
        val o = parseJsonOptionObject(j, "ivf_options")
        val unknown = o.keySet -- Set("num_lists")
        require(unknown.isEmpty,
          s"unsupported ivf_options key(s): ${unknown.toSeq.sorted.mkString(", ")} (supported: num_lists)")
        o.get("num_lists") match {
          case Some(d: java.lang.Double) =>
            require(d == d.toInt && d.toInt >= 1, s"num_lists must be a positive integer, got $d")
            d.toInt
          case Some(other) => throw new IllegalArgumentException(
            s"num_lists must be a JSON number, got $other")
          case None => 8
        }
      }.getOrElse(8)
      val base = spark.table(viewName(rawTbl))
      require(base.columns.map(_.toLowerCase(java.util.Locale.ROOT)).contains(
        vecCol.toLowerCase(java.util.Locale.ROOT)),
        s"CREATE VECTOR INDEX: table $rawTbl has no column '$vecCol'")
      // deterministic seeding: hash the vector itself into num_lists
      // cells, then Lloyd-refine under cosine (the probe metric)
      import org.apache.spark.sql.{functions => FF}
      val seeded = base.withColumn("__seed",
        FF.pmod(FF.xxhash64(FF.col(vecCol)), FF.lit(numLists.toLong)))
      val centroids = graft.operators.Similarity.trainCentroids(seeded, "__seed", vecCol, iters = 2)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val path = s"${wh.stripSuffix("/")}/graft_vecidx_$name"
      graft.operators.Similarity.writeCellLayout(base, path, centroids, vecCol = vecCol)
      val cent = centroids.select(FF.col("cell").cast("long"), FF.col("centroid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
      vecIdxRegistry(key) = VecIndexState(
        viewName(rawTbl), vecCol.toLowerCase(java.util.Locale.ROOT), path, numLists, cent)
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      "not a CREATE VECTOR INDEX statement (expected: CREATE VECTOR INDEX " +
        "[IF NOT EXISTS] name ON table (vector_col) [OPTIONS(index_type = 'IVF', " +
        "distance_type = 'COSINE', ivf_options = '{\"num_lists\": n}')])")
  }

  def dropVectorIndex(spark: SparkSession, sql: String): DataFrame = sql match {
    case DropVectorIndexRe(ifExists, rawName) =>
      val name = viewName(rawName)
      val existed = vecIdxRegistry.remove(mvKey(spark, name)).nonEmpty
      require(existed || ifExists != null,
        s"DROP VECTOR INDEX $name: no such index (use IF EXISTS to ignore)")
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException("not a DROP VECTOR INDEX statement")
  }

  /** The session's vector index on `table`(`col`), if one is registered. */
  private def vectorIndexFor(spark: SparkSession, table: String, col: String): Option[VecIndexState] = {
    val sid = System.identityHashCode(spark)
    val t = table.toLowerCase(java.util.Locale.ROOT)
    val c = col.toLowerCase(java.util.Locale.ROOT)
    vecIdxRegistry.toSeq.sortBy(_._1._2).collectFirst {
      case ((s, _), st) if s == sid && st.table == t && st.col == c => st
    }
  }

  /** Parse a small JSON OBJECT literal (option payloads) to a
    * Scala map of Boolean / Double / String values — loud on
    * anything else; these are knobs, not documents.
    */
  private def parseJsonOptionObject(j: String, what: String): Map[String, Any] = {
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(j)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"$what is not valid JSON: $j", e) }
    require(node != null && node.isObject, s"$what must be a JSON object, got: $j")
    val buf = Map.newBuilder[String, Any]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      val v: Any = e.getValue match {
        case b if b.isBoolean => java.lang.Boolean.valueOf(b.asBoolean())
        case n if n.isNumber => java.lang.Double.valueOf(n.asDouble())
        case t if t.isTextual => t.asText()
        case other => throw new IllegalArgumentException(
          s"$what values must be scalars, got: $other")
      }
      buf += e.getKey -> v
    }
    buf.result()
  }

  // ── INFORMATION_SCHEMA.TABLES / .COLUMNS / .PARTITIONS ───────────
  //
  // BigQuery's metadata views, scoped to this engine's session
  // catalog (temp views ARE the tables here). Resolved textually like
  // the other non-Catalyst references: each top-level
  // `INFORMATION_SCHEMA.TABLES|COLUMNS` becomes a temp view built
  // from spark.catalog at statement time — metadata-sized, never a
  // data scan. Column shapes follow BigQuery's: TABLES carries
  // (table_catalog, table_schema, table_name, table_type), COLUMNS
  // adds (column_name, ordinal_position, is_nullable, data_type)
  // with BigQuery type spellings for the common scalars (INT64,
  // FLOAT64, STRING, BOOL, ...) and Spark DDL for the rest.

  private[graft] def rewriteInformationSchema(spark: SparkSession, sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("INFORMATION_SCHEMA")) return sql
    // each view: its BigQuery name → builder, in creation order
    val views: Seq[(String, SparkSession => DataFrame)] = Seq(
      "TABLES" -> (tablesView(_)), "COLUMNS" -> (columnsView(_)),
      "PARTITIONS" -> (partitionsView(_)), "VIEWS" -> (viewsView(_)),
      "TABLE_OPTIONS" -> (tableOptionsView(_)),
      "TABLE_CONSTRAINTS" -> (tableConstraintsView(_)),
      "KEY_COLUMN_USAGE" -> (keyColumnUsageView(_)),
      "COLUMN_FIELD_PATHS" -> (columnFieldPathsView(_)),
      "ROW_ACCESS_POLICIES" -> (rowAccessPoliciesView(_)),
      "SEARCH_INDEXES" -> (searchIndexesView(_)), "VECTOR_INDEXES" -> (vectorIndexesView(_)),
      "ROUTINES" -> (routinesView(_)), "MODELS" -> (graft.sql.Models.modelsView(_)),
      "SCHEMATA" -> (schemataView(_)))
    def viewOf(name: String) = "__information_schema_" + name.toLowerCase(java.util.Locale.ROOT)
    val out = new StringBuilder
    val used = scala.collection.mutable.Set.empty[String]
    var from = 0
    var i = Lexer.indexOfWord(sql, "INFORMATION_SCHEMA")
    while (i >= 0) {
      // a dataset-qualified x.INFORMATION_SCHEMA is not this catalog's
      if (sql.startsWith(".", i + 18) && (i == 0 || sql.charAt(i - 1) != '.')) {
        val rest = i + 19
        val name = views.map(_._1).find(Lexer.wordAt(sql, _, rest)).getOrElse(
          throw new IllegalArgumentException(
            "only INFORMATION_SCHEMA.TABLES, .COLUMNS, .PARTITIONS, .TABLE_OPTIONS, " +
              ".TABLE_CONSTRAINTS, .KEY_COLUMN_USAGE, .COLUMN_FIELD_PATHS, " +
              ".ROW_ACCESS_POLICIES, .VIEWS, .SCHEMATA, .SEARCH_INDEXES, " +
              ".VECTOR_INDEXES, .ROUTINES and .MODELS are available (a session " +
              "catalog has no jobs metadata)"))
        out ++= sql.substring(from, i) ++= viewOf(name)
        used += name
        from = rest + name.length
      }
      i = Lexer.indexOfWord(sql, "INFORMATION_SCHEMA", i + 18)
    }
    out ++= sql.substring(from)
    views.foreach { case (name, view) =>
      if (used(name)) view(spark).createOrReplaceTempView(viewOf(name))
    }
    out.toString
  }

  /** INFORMATION_SCHEMA.SCHEMATA — BigQuery's dataset listing. A
    * session catalog has exactly ONE dataset (the session scope every
    * other metadata view reports as table_schema = 'session'), so the
    * view is that single row in BigQuery's column shape; the
    * timestamps are NULL (a session has no persisted creation time —
    * stated, and it keeps the row deterministic for the oracle).
    */
  private def schemataView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // BigQuery's positional order: catalog, schema, owner, the two
    // timestamps, then location (SELECT * consumers see the same shape)
    Seq(("graft", "session", null: String))
      .toDF("catalog_name", "schema_name", "schema_owner")
      .withColumn("creation_time",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
      .withColumn("last_modified_time",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
      .withColumn("location", org.apache.spark.sql.functions.lit("graft-session"))
  }

  /** INFORMATION_SCHEMA.SEARCH_INDEXES — this session's A44 indexes
    * from the DDL registry (one row per index; creation timestamps
    * are deliberately OMITTED rather than faked — they are the one
    * nondeterministic column BigQuery carries here). */
  private def searchIndexesView(spark: SparkSession): DataFrame = {
    val sid = System.identityHashCode(spark)
    import spark.implicits._
    searchIdxRegistry.toSeq.collect {
      case ((s, n), st) if s == sid =>
        (n, st.table, "ACTIVE", st.analyzer, st.idCol, st.textCol)
    }.sortBy(_._1)
      .toDF("index_name", "table_name", "index_status", "analyzer",
        "id_column", "text_column")
  }

  /** INFORMATION_SCHEMA.VECTOR_INDEXES — this session's A50 indexes. */
  private def vectorIndexesView(spark: SparkSession): DataFrame = {
    val sid = System.identityHashCode(spark)
    import spark.implicits._
    vecIdxRegistry.toSeq.collect {
      case ((s, n), st) if s == sid =>
        (n, st.table, st.col, "IVF", "COSINE", st.numLists.toLong, "ACTIVE")
    }.sortBy(_._1)
      .toDF("index_name", "table_name", "column_name", "index_type",
        "distance_type", "num_lists", "index_status")
  }

  /** INFORMATION_SCHEMA.ROUTINES — this session's A38 SQL functions
    * (BigQuery's core columns; routine_body is always 'SQL' here —
    * the only body kind the engine registers). */
  private def routinesView(spark: SparkSession): DataFrame = {
    val sid = System.identityHashCode(spark)
    import spark.implicits._
    routineRegistry.toSeq.collect {
      case ((s, n), st) if s == sid =>
        (n, if (st.tableFn) "TABLE FUNCTION" else "FUNCTION",
          if (st.dataType.isEmpty) null else st.dataType, "SQL", st.body)
    }.sortBy(_._1)
      .toDF("routine_name", "routine_type", "data_type", "routine_body",
        "routine_definition")
  }

  /** INFORMATION_SCHEMA.VIEWS — BigQuery's shape (table_catalog,
    * table_schema, table_name, view_definition, check_option,
    * use_standard_sql). Lists views created through the DDL path
    * (CREATE [MATERIALIZED] VIEW), which are the ones with a SQL
    * definition to show; directly-registered temp views appear in
    * TABLES but not here (no definition text exists — stated).
    */
  private def viewsView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sid = System.identityHashCode(spark)
    viewDefRegistry.toSeq
      .collect { case ((s, n), q) if s == sid && spark.catalog.tableExists(n) =>
        ("graft", "session", n, q, "NONE", "YES")
      }
      .sortBy(_._3)
      .toDF("table_catalog", "table_schema", "table_name",
        "view_definition", "check_option", "use_standard_sql")
  }

  /** BigQuery's `INFORMATION_SCHEMA.TABLE_OPTIONS`: one row per
    * OPTIONS(...) pair attached by CREATE TABLE / [MATERIALIZED] VIEW,
    * in BigQuery's rendering (strings double-quoted, labels as
    * `[STRUCT("k", "v"), ...]`). Scoped like TABLES: dropped names
    * disappear (the drop clears the registry AND the exists filter
    * guards a direct catalog drop).
    */
  private def tableOptionsView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sid = System.identityHashCode(spark)
    tableOptionsRegistry.toSeq
      .collect { case ((s, n), rows) if s == sid && spark.catalog.tableExists(n) =>
        rows.map { case (k, t, v) => ("graft", "session", n, k, t, v) }
      }
      .flatten
      .sortBy(r => (r._3, r._4))
      .toDF("table_catalog", "table_schema", "table_name",
        "option_name", "option_type", "option_value")
  }

  /** BigQuery's `INFORMATION_SCHEMA.TABLE_CONSTRAINTS`: one row per
    * declared (unenforced) PRIMARY KEY / FOREIGN KEY. `enforced` is
    * always NO — NOT ENFORCED is BigQuery's only constraint mode.
    */
  private def tableConstraintsView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sid = System.identityHashCode(spark)
    constraintRegistry.toSeq
      .collect { case ((s, n), rows) if s == sid && spark.catalog.tableExists(n) =>
        rows.map(c => ("graft", "session", c.name, "graft", "session", n,
          c.kind, "NO", "NO", "NO"))
      }
      .flatten.sortBy(r => (r._6, r._3))
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_catalog", "table_schema", "table_name",
        "constraint_type", "is_deferrable", "initially_deferred", "enforced")
  }

  /** BigQuery's `INFORMATION_SCHEMA.KEY_COLUMN_USAGE`: one row per key
    * column of each constraint, 1-based ordinal; FK rows carry
    * `position_in_unique_constraint` (the referenced-key ordinal), PK
    * rows NULL there — BigQuery's shape.
    */
  private def keyColumnUsageView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sid = System.identityHashCode(spark)
    constraintRegistry.toSeq
      .collect { case ((s, n), rows) if s == sid && spark.catalog.tableExists(n) =>
        rows.flatMap(c => c.columns.zipWithIndex.map { case (col, i) =>
          ("graft", "session", c.name, "graft", "session", n, col,
            (i + 1).toLong,
            if (c.kind == "FOREIGN KEY") Option((i + 1).toLong) else None)
        })
      }
      .flatten.sortBy(r => (r._6, r._3, r._8))
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "position_in_unique_constraint")
  }

  /** BigQuery's `INFORMATION_SCHEMA.ROW_ACCESS_POLICIES`: one row per
    * active policy with its filter predicate text and recorded
    * grantees (informational — the session engine does not gate by
    * principal, stated at the DDL).
    */
  private def rowAccessPoliciesView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sid = System.identityHashCode(spark)
    rowPolicyRegistry.toSeq
      .collect { case ((s, n), ps) if s == sid && spark.catalog.tableExists(n) =>
        ps.toSeq.map { case (pn, p) =>
          ("graft", "session", n, pn, p.filter, p.grantees)
        }
      }
      .flatten.sortBy(r => (r._3, r._4))
      .toDF("table_catalog", "table_schema", "table_name",
        "row_access_policy_name", "filter_predicate", "grantees")
  }

  private def sessionTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => !t.name.startsWith("__"))
      .map(_.name).sorted

  /** BigQuery's `INFORMATION_SCHEMA.COLUMN_FIELD_PATHS`: one row per
    * column AND per nested STRUCT field (dotted path — repeated
    * structs recurse through the array element without an index step,
    * BigQuery's shape), with the BigQuery type spelling at each step.
    */
  private def columnFieldPathsView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def walk(path: String, dt: DataType): Seq[(String, String)] = {
      val here = Seq(path -> bqTypeName(dt))
      dt match {
        case s: StructType =>
          here ++ s.fields.flatMap(f => walk(s"$path.${f.name}", f.dataType))
        case a: ArrayType => a.elementType match {
          case s: StructType =>
            here ++ s.fields.flatMap(f => walk(s"$path.${f.name}", f.dataType))
          case _ => here
        }
        case _ => here
      }
    }
    sessionTables(spark).flatMap { n =>
      spark.table(n).schema.fields.flatMap(f =>
        walk(f.name, f.dataType).map { case (p, t) => ("graft", "session", n, f.name, p, t) })
    }.toDF("table_catalog", "table_schema", "table_name",
      "column_name", "field_path", "data_type")
  }

  private def tablesView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    sessionTables(spark)
      .map(n => ("graft", "session", n, "VIEW"))
      .toDF("table_catalog", "table_schema", "table_name", "table_type")
  }

  private def columnsView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    sessionTables(spark).flatMap { n =>
      spark.table(n).schema.fields.zipWithIndex.map { case (f, idx) =>
        ("graft", "session", n, f.name, (idx + 1).toLong,
          if (f.nullable) "YES" else "NO", bqTypeName(f.dataType))
      }
    }.toDF("table_catalog", "table_schema", "table_name", "column_name",
      "ordinal_position", "is_nullable", "data_type")
  }

  /** BigQuery's `INFORMATION_SCHEMA.PARTITIONS` over this engine's
    * PHYSICAL tables: one row per `p_day=` directory of an A41
    * partitioned CTAS layout (partition_id = YYYYMMDD, BigQuery's
    * day-partition spelling), and one unpartitioned row
    * (partition_id NULL) for clustered-only CTAS layouts and for A33
    * Versioned tables (latest commit's live set; last_modified_time
    * is the commit timestamp). total_rows comes from parquet FOOTERS
    * and sizes/mtimes from the file listing — one directory listing
    * plus one footer read per file, never a data scan, metadata-sized
    * like the real view. Plain temp views have no physical layout and
    * so no row here, matching the TABLES/COLUMNS session-catalog scope
    * note above.
    */
  private def partitionsView(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path) =
      fs.listStatus(dir).toSeq.filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    def footerRows(st: org.apache.hadoop.fs.FileStatus): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }
    val sid = System.identityHashCode(spark)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Option[String], Long, Long, java.sql.Timestamp)]
    val partTables = partRegistry.toSeq
      .collect { case ((s, n), p) if s == sid => (n, p) }.sortBy(_._1)
    for ((name, path) <- partTables) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) {
        val dayDirs = fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_day="))
          .sortBy(_.getPath.getName)
        if (dayDirs.nonEmpty) {
          for (d <- dayDirs) {
            val files = dataFiles(fs, d.getPath)
            if (files.nonEmpty)
              buf += (("graft", "session", name,
                Some(d.getPath.getName.stripPrefix("p_day=").replace("-", "")),
                files.map(footerRows).sum, files.map(_.getLen).sum,
                new java.sql.Timestamp(files.map(_.getModificationTime).max)))
          }
        } else {
          val files = dataFiles(fs, root)
          if (files.nonEmpty)
            buf += (("graft", "session", name, None,
              files.map(footerRows).sum, files.map(_.getLen).sum,
              new java.sql.Timestamp(files.map(_.getModificationTime).max)))
        }
      }
    }
    for ((name, table) <- graft.sources.Versioned.registeredTables(spark)) {
      val cs = graft.sources.Versioned.commits(spark, table)
      if (cs.nonEmpty) {
        val latest = cs.maxBy(_.version)
        val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
        val files = latest.live.flatMap { d =>
          val p = new org.apache.hadoop.fs.Path(s"$table/$d")
          if (fs.exists(p)) dataFiles(fs, p) else Nil
        }
        buf += (("graft", "session", name, None,
          files.map(footerRows).sum, files.map(_.getLen).sum,
          new java.sql.Timestamp(latest.commitTsUs / 1000L)))
      }
    }
    buf.toSeq.toDF("table_catalog", "table_schema", "table_name",
      "partition_id", "total_rows", "total_logical_bytes", "last_modified_time")
  }

  private def bqTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => "INT64"
      case DoubleType | FloatType => "FLOAT64"
      case StringType => "STRING"
      case BooleanType => "BOOL"
      case BinaryType => "BYTES"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMP"
      case TimestampNTZType => "DATETIME"
      case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
      case a: ArrayType => s"ARRAY<${bqTypeName(a.elementType)}>"
      case s: StructType =>
        s"STRUCT<${s.fields.map(f => s"${f.name} ${bqTypeName(f.dataType)}").mkString(", ")}>"
      case other => other.sql
    }
  }

  /** Literal → epoch micros, UTC. Accepts `yyyy-MM-dd[ HH:mm:ss[.f…]]`
    * with an optional `T` separator and an optional explicit-UTC
    * suffix (`Z`, `+00:00`, ` UTC`); any other zone offset is loud —
    * the engine's timestamps are zone-naive-as-UTC throughout.
    */
  private[graft] def parseTsLiteralUs(raw: String): Long = {
    var t = raw.trim
    if (t.length > 10 && (t.charAt(10) == 'T' || t.charAt(10) == 't'))
      t = t.substring(0, 10) + " " + t.substring(11)
    Seq(" UTC", "+00:00", "+00", "Z", "z").foreach { suf =>
      if (t.endsWith(suf)) t = t.dropRight(suf.length).trim }
    val timePart = if (t.length > 10) t.substring(10) else ""
    require(!timePart.contains('+') && !timePart.contains('-'),
      s"FOR SYSTEM_TIME AS OF supports UTC literals only, got '$raw'")
    try {
      val ldt =
        if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
        else {
          val dot = t.indexOf('.')
          val (main, nanos) =
            if (dot < 0) (t, 0L)
            else (t.substring(0, dot),
              t.substring(dot + 1).padTo(9, '0').take(9).toLong)
          java.time.LocalDateTime.parse(main.replace(' ', 'T')).plusNanos(nanos)
        }
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    } catch {
      case e @ (_: java.time.format.DateTimeParseException | _: NumberFormatException) =>
        throw new IllegalArgumentException(
          s"cannot parse timestamp literal '$raw' (want yyyy-MM-dd[ HH:mm:ss[.ffffff]])", e)
    }
  }
}
