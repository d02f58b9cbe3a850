package graft.sql

import Lexer.isWord

/** BigQuery pipe-syntax rewrite family, split out of [[graft.GraftSql]]
  * (round 13 — pure mechanical move, same textual behavior).
  */
private[graft] object Pipes {
  /** BigQuery PIPE SYNTAX (GA 2024): `FROM t |> WHERE c |> AGGREGATE
    * SUM(x) AS s GROUP BY g |> ORDER BY s` — a linear chain of table
    * operators. Rewritten TEXTUALLY into nested standard SQL ahead of
    * Catalyst (the QUALIFY/wildcard mechanism; comments are already
    * stripped): each operator wraps the accumulated query in one
    * subquery, and Catalyst's CollapseProject / predicate pushdown
    * flatten the nest back out, so the physical plan is the same one
    * the standard spelling gets. Supported operators: SELECT, EXTEND,
    * SET (→ `* REPLACE`), DROP (→ `* EXCEPT`), RENAME, AS, WHERE
    * (post-AGGREGATE it filters aggregate outputs = HAVING/QUALIFY
    * semantics, exactly BigQuery's rule), AGGREGATE ... [GROUP [AND
    * ORDER] BY ...], DISTINCT, ORDER BY, LIMIT [OFFSET], JOIN (all
    * types), PIVOT / UNPIVOT / TABLESAMPLE (delegated to the standard
    * clauses), UNION / INTERSECT / EXCEPT ALL|DISTINCT. Anything else
    * is loud. Stated trades: RENAME moves the renamed column to the
    * end of the row (BigQuery keeps its position — a textual rewrite
    * has no schema to re-order by); a pipe chain must start with
    * `FROM ...` or a standalone standard query, so embedding a pipe
    * query inside a bigger statement needs parentheses (which is how
    * BigQuery scripts spell it anyway).
    */
  private[graft] def rewritePipes(sql0: String): String = {
    if (!sql0.contains("|>")) return sql0
    var sql = sql0
    var guard = 0
    while (guard < 64 && sql.contains("|>")) {
      val next = rewriteOnePipeRegion(sql)
      if (next == sql) return sql
      sql = next; guard += 1
    }
    sql
  }

  /** One region pass: locate the first `|>`; if it sits inside
    * parentheses, rewrite that innermost region's content, else the
    * whole statement. Re-scanning after each splice handles nesting
    * (a pipe subquery inside a pipe operand) without recursion depth
    * bookkeeping.
    */
  private def rewriteOnePipeRegion(sql: String): String = {
    // first |> and its enclosing open-paren stack
    var first = -1; var stackAtFirst: List[Int] = Nil
    val stack = scala.collection.mutable.Stack.empty[Int]
    var i = 0
    while (i < sql.length && first < 0) {
      val e = Lexer.opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(') stack.push(i)
        else if (c == ')') { if (stack.nonEmpty) stack.pop() }
        else if (c == '|' && i + 1 < sql.length && sql.charAt(i + 1) == '>' &&
          (i == 0 || sql.charAt(i - 1) != '|')) {
          first = i; stackAtFirst = stack.toList
        }
        i += 1
      }
    }
    if (first < 0) return sql
    stackAtFirst.headOption match {
      case None => pipeToStandard(sql)
      case Some(open) =>
        val close = Lexer.closeParen(sql, open)
        require(close >= 0, "pipe syntax: unbalanced parentheses around |>")
        sql.substring(0, open + 1) + pipeToStandard(sql.substring(open + 1, close)) +
          sql.substring(close)
    }
  }

  /** Fold one pipe chain (no nested-paren pipes — the caller splices
    * innermost-first) into nested standard SQL.
    */
  private def pipeToStandard(text: String): String = {
    // split on top-level |>
    def isPipe(k: Int) = text.startsWith("|>", k) && (k == 0 || text.charAt(k - 1) != '|')
    val segs = scala.collection.mutable.ListBuffer.empty[String]
    var start = 0
    var at = Lexer.findTop(text, 0, text.length)(isPipe)
    while (at >= 0) {
      segs += text.substring(start, at); start = at + 2
      at = Lexer.findTop(text, start, text.length)(isPipe)
    }
    segs += text.substring(start)
    if (segs.size < 2) return text
    // `expr [AS alias]` — last top-level AS
    def exprAlias(item: String): (String, Option[String]) = {
      val last = Lexer.lastTopWord(item, "AS")
      if (last < 0) (item.trim, None)
      else (item.substring(0, last).trim, Some(item.substring(last + 2).trim))
    }
    val base = segs.head.trim
    val baseUp = base.toUpperCase(java.util.Locale.ROOT)
    require(base.nonEmpty, "pipe syntax: the chain has no base query before the first |>")
    var q =
      if (baseUp.startsWith("FROM") && (base.length == 4 || !isWord(base.charAt(4))))
        s"SELECT * $base"
      else if (baseUp.startsWith("SELECT") || baseUp.startsWith("WITH") ||
        baseUp.startsWith("(")) base
      else throw new IllegalArgumentException(
        s"pipe syntax: the chain must start with FROM or a standalone query, got: $base")
    var pendingAlias: Option[String] = None
    def fromQ: String = {
      val a = pendingAlias.map(n => s" AS $n").getOrElse("")
      pendingAlias = None
      s"FROM ($q)$a"
    }
    segs.tail.foreach { seg0 =>
      val seg = seg0.trim
      require(seg.nonEmpty, "pipe syntax: empty |> operator")
      val segUp = seg.toUpperCase(java.util.Locale.ROOT)
      val kwEnd = seg.indexWhere(!isWord(_)) match { case -1 => seg.length; case e => e }
      val kw = segUp.substring(0, kwEnd)
      val rest = seg.substring(kwEnd).trim
      kw match {
        case "WHERE" => q = s"SELECT * $fromQ WHERE $rest"
        case "SELECT" => q = s"SELECT $rest $fromQ"
        case "EXTEND" => q = s"SELECT *, $rest $fromQ"
        case "SET" =>
          val items = Lexer.splitTop(rest).map { it =>
            val eq = it.indexOf('=')
            require(eq > 0, s"pipe SET expects `col = expr`, got: $it")
            s"${it.substring(eq + 1).trim} AS ${it.substring(0, eq).trim}"
          }
          q = s"SELECT * REPLACE (${items.mkString(", ")}) $fromQ"
        case "DROP" => q = s"SELECT * EXCEPT ($rest) $fromQ"
        case "RENAME" =>
          val items = Lexer.splitTop(rest).map { it =>
            val (old, nw) = exprAlias(it)
            require(nw.isDefined, s"pipe RENAME expects `old AS new`, got: $it")
            (old, nw.get)
          }
          // stated trade: renamed columns land at the END of the row
          q = s"SELECT * EXCEPT (${items.map(_._1).mkString(", ")}), " +
            s"${items.map { case (o, n) => s"$o AS $n" }.mkString(", ")} $fromQ"
        case "AS" =>
          require(rest.nonEmpty && pendingAlias.isEmpty, s"pipe AS expects one alias: $seg")
          pendingAlias = Some(rest)
        case "ORDER" => q = s"SELECT * $fromQ $seg"
        case "LIMIT" => q = s"SELECT * $fromQ $seg"
        case "DISTINCT" =>
          require(rest.isEmpty, s"pipe DISTINCT takes no arguments, got: $rest")
          q = s"SELECT DISTINCT * $fromQ"
        case "AGGREGATE" =>
          val g = Lexer.topWord(rest, "GROUP")
          val (aggPart, groupPart, orderToo) =
            if (g < 0) (rest, "", false)
            else {
              val m = java.util.regex.Pattern
                .compile("(?is)\\AGROUP\\s+(AND\\s+ORDER\\s+)?BY\\b\\s*")
                .matcher(rest.substring(g))
              require(m.find(),
                s"pipe AGGREGATE: expected GROUP [AND ORDER] BY after GROUP: ${rest.substring(g)}")
              (rest.substring(0, g).trim, rest.substring(g + m.end()).trim, m.group(1) != null)
            }
          require(aggPart.nonEmpty || groupPart.nonEmpty,
            "pipe AGGREGATE needs aggregate expressions and/or GROUP BY items")
          if (groupPart.isEmpty) q = s"SELECT $aggPart $fromQ"
          else {
            // group item: expr [AS alias] [ASC|DESC (GROUP AND ORDER BY only)]
            val gItems = Lexer.splitTop(groupPart).map { it0 =>
              val up = it0.toUpperCase(java.util.Locale.ROOT)
              val (it, dir) =
                if (up.endsWith(" DESC")) (it0.substring(0, it0.length - 5).trim, " DESC")
                else if (up.endsWith(" ASC")) (it0.substring(0, it0.length - 4).trim, "")
                else (it0, "")
              val (expr, alias) = exprAlias(it)
              (expr, alias, dir)
            }
            val gSelect = gItems.map { case (e, a, _) => a.map(n => s"$e AS $n").getOrElse(e) }
            val selItems = (gSelect ++ (if (aggPart.nonEmpty) Seq(aggPart) else Nil)).mkString(", ")
            val orderBy =
              if (orderToo)
                " ORDER BY " + gItems.zipWithIndex
                  .map { case ((_, _, dir), ix) => s"${ix + 1}$dir" }.mkString(", ")
              else ""
            q = s"SELECT $selItems $fromQ GROUP BY ${gItems.map(_._1).mkString(", ")}$orderBy"
          }
        case "JOIN" | "LEFT" | "RIGHT" | "FULL" | "INNER" | "CROSS" =>
          q = s"SELECT * $fromQ $seg"
        case "PIVOT" | "UNPIVOT" | "TABLESAMPLE" =>
          q = s"SELECT * $fromQ $seg"
        case "UNION" | "INTERSECT" | "EXCEPT" =>
          val restUp = rest.toUpperCase(java.util.Locale.ROOT)
          val (mode, operandsText) =
            if (restUp.startsWith("ALL")) ("ALL", rest.substring(3).trim)
            else if (restUp.startsWith("DISTINCT")) ("DISTINCT", rest.substring(8).trim)
            else throw new IllegalArgumentException(
              s"pipe $kw needs ALL or DISTINCT (BigQuery requires it): $seg")
          val operands = Lexer.splitTop(operandsText)
          require(operands.nonEmpty && operands.forall(_.nonEmpty),
            s"pipe $kw needs at least one parenthesized query operand")
          q = operands.foldLeft(s"SELECT * FROM ($q)") { (acc, op) =>
            s"$acc $kw $mode SELECT * FROM ($op)"
          }
          pendingAlias.foreach(_ => throw new IllegalArgumentException(
            "pipe AS directly before a set operation is not supported — alias after it"))
        case other => throw new IllegalArgumentException(
          s"pipe operator $other is not supported (supported: SELECT, EXTEND, SET, DROP, " +
            "RENAME, AS, WHERE, AGGREGATE [GROUP [AND ORDER] BY], DISTINCT, ORDER BY, " +
            "LIMIT, JOIN, PIVOT, UNPIVOT, TABLESAMPLE, UNION/INTERSECT/EXCEPT ALL|DISTINCT)")
      }
    }
    pendingAlias.map(n => s"SELECT * FROM ($q) AS $n").getOrElse(q)
  }
}
