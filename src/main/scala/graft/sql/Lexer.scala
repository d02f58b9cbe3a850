package graft.sql

/** The one lexer under graft's textual dialect passes. Its token
  * classes match Spark 4.1's `SqlBaseLexer` at default settings, so a
  * pass never rewrites what Spark would read as data or as a comment:
  *  - `'…'` and `"…"` strings, with backslash escapes and `''`/`""`
  *    doubling (two adjacent literals to Spark — the span is the same);
  *  - `R'…'` / `R"…"` raw strings, which have no escapes;
  *  - backtick identifiers, a doubled backtick escaping one;
  *  - `--` line comments (a backslash-newline continues one);
  *  - nested `/* … */` comments;
  *  - `/*+ … */` hints, kept whole as opaque text.
  * Everything else is code. The scan allocates nothing per character:
  * [[opaqueEnd]] answers one index, and the helpers below walk code
  * positions with it. An unterminated token runs to the end of the
  * text.
  */
object Lexer {

  def isWord(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** Index just past the literal, backtick identifier, comment or hint
    * that starts at `i`; `i` itself when `sql(i)` is code.
    */
  def opaqueEnd(sql: String, i: Int): Int = {
    val e = tokenEnd(sql, i)
    if (e < 0) sql.length else e
  }

  /** False when the token starting at `i` runs off the end unclosed. */
  def closed(sql: String, i: Int): Boolean = tokenEnd(sql, i) >= 0

  // opaqueEnd, or ~length for an unterminated token
  private def tokenEnd(sql: String, i: Int): Int = {
    val n = sql.length
    if (i >= n) return i
    val c = sql.charAt(i)
    val c1 = if (i + 1 < n) sql.charAt(i + 1) else '\u0000'
    c match {
      case '\'' | '"' => quotedEnd(sql, i + 1, c, escapes = true)
      case '`' => quotedEnd(sql, i + 1, '`', escapes = false)
      case 'r' | 'R' if (c1 == '\'' || c1 == '"') && (i == 0 || !isWord(sql.charAt(i - 1))) =>
        quotedEnd(sql, i + 2, c1, escapes = false)
      case '-' if c1 == '-' =>
        var j = i + 2
        while (j < n && sql.charAt(j) != '\n' && sql.charAt(j) != '\r')
          j += (if (sql.charAt(j) == '\\' && j + 1 < n && sql.charAt(j + 1) == '\n') 2 else 1)
        math.min(j, n)
      case '/' if c1 == '*' =>
        if (i + 2 < n && sql.charAt(i + 2) == '+') {
          val e = sql.indexOf("*/", i + 3)
          if (e < 0) ~n else e + 2
        } else {
          var depth = 1; var j = i + 2
          while (j < n && depth > 0) {
            if (sql.startsWith("*/", j)) { depth -= 1; j += 2 }
            else if (sql.startsWith("/*", j) && !sql.startsWith("/*+", j)) { depth += 1; j += 2 }
            else j += 1
          }
          if (depth > 0) ~n else j
        }
      case _ => i
    }
  }

  // past the closing `q` of a quoted token whose body starts at `from`;
  // a backtick identifier escapes a backtick by doubling it
  private def quotedEnd(sql: String, from: Int, q: Char, escapes: Boolean): Int = {
    var j = from
    while (j < sql.length) {
      val c = sql.charAt(j)
      if (escapes && c == '\\') j += 2
      else if (c == q && q == '`' && j + 1 < sql.length && sql.charAt(j + 1) == '`') j += 2
      else if (c == q) return j + 1
      else j += 1
    }
    ~sql.length
  }

  /** True for a comment token (not a hint) starting at `i`. */
  def isComment(sql: String, i: Int): Boolean =
    sql.startsWith("--", i) || (sql.startsWith("/*", i) && !sql.startsWith("/*+", i))

  /** First non-whitespace position at or after `i`. */
  def skipSpace(sql: String, i: Int): Int = {
    var j = i
    while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
    j
  }

  /** `kw` as a whole word at `i`, case-insensitively. */
  def wordAt(sql: String, kw: String, i: Int): Boolean =
    sql.regionMatches(true, i, kw, 0, kw.length) &&
      (i == 0 || !isWord(sql.charAt(i - 1))) &&
      (i + kw.length >= sql.length || !isWord(sql.charAt(i + kw.length)))

  /** The first code position at or after `from` where `kw` stands as
    * a whole word (case-insensitive); -1 when there is none.
    */
  def indexOfWord(sql: String, kw: String, from: Int = 0): Int = {
    var i = from
    while (i < sql.length) {
      val e = opaqueEnd(sql, i)
      if (e > i) i = e
      else if (wordAt(sql, kw, i)) return i
      else i += 1
    }
    -1
  }

  /** The first code position at or after `from`, at bracket depth 0
    * relative to `from`, where `kw` stands as a whole word; -1 when
    * there is none.
    */
  def topWord(sql: String, kw: String, from: Int = 0): Int =
    findTop(sql, from, sql.length)(wordAt(sql, kw, _))

  /** The last top-level code position where `kw` stands as a whole
    * word (an item's alias `AS`, say); -1 when there is none.
    */
  def lastTopWord(sql: String, kw: String): Int = {
    var last = -1
    foreachCode(sql, 0, sql.length)((i, depth) => if (depth == 0 && wordAt(sql, kw, i)) last = i)
    last
  }

  /** Index of the `)` or `]` closing the bracket at `open`; nested
    * `(`/`[` pairs and opaque tokens are skipped. -1 when unbalanced.
    */
  def closeParen(sql: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < sql.length) {
      val e = opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
    }
    -1
  }

  /** Index of the `(` or `[` that the bracket at `close` closes, found
    * by scanning `sql` from its start; -1 when it closes none (or sits
    * inside an opaque token).
    */
  def openParen(sql: String, close: Int): Int = {
    var opens = List.empty[Int]; var i = 0
    while (i <= close && i < sql.length) {
      val e = opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[') opens ::= i
        else if (c == ')' || c == ']') {
          if (i == close) return opens.headOption.getOrElse(-1)
          opens = opens.drop(1)
        }
        i += 1
      }
    }
    -1
  }

  /** Each `name (` call in code as (start, open paren, close paren).
    * The scan resumes after a call's close, so calls nested in its
    * arguments are not reported; an unbalanced call (close -1) ends it.
    */
  def calls(sql: String, name: String): Seq[(Int, Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int, Int)]
    var i = indexOfWord(sql, name)
    while (i >= 0) {
      val p = skipSpace(sql, i + name.length)
      if (p < sql.length && sql.charAt(p) == '(') {
        val close = closeParen(sql, p)
        out += ((i, p, close))
        i = if (close < 0) -1 else indexOfWord(sql, name, close + 1)
      } else i = indexOfWord(sql, name, p)
    }
    out.result()
  }

  /** Calls `f(i, depth)` for every code position in `[from, until)`,
    * with the `(`/`[` depth relative to `from`; opening and closing
    * brackets themselves are not reported.
    */
  def foreachCode(sql: String, from: Int, until: Int)(f: (Int, Int) => Unit): Unit = {
    var depth = 0; var i = from
    while (i < until) {
      val e = opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else f(i, depth)
        i += 1
      }
    }
  }

  /** The first position in `[from, until)` at bracket depth 0 where
    * `p` holds; -1 when there is none.
    */
  def findTop(sql: String, from: Int, until: Int)(p: Int => Boolean): Int = {
    var depth = 0; var i = from
    while (i < until) {
      val e = opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (depth == 0 && p(i)) return i
        i += 1
      }
    }
    -1
  }

  /** `sql` cut at every top-level `sep` (outside brackets and opaque
    * tokens; `<…>` count as brackets when `angles`), pieces trimmed; a
    * blank last piece (a trailing `sep`, or no text) is dropped.
    */
  def splitTop(sql: String, sep: Char = ',', angles: Boolean = false): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var start = 0; var depth = 0; var i = 0
    while (i < sql.length) {
      val e = opaqueEnd(sql, i)
      if (e > i) i = e
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[' || (angles && c == '<')) depth += 1
        else if (c == ')' || c == ']' || (angles && c == '>')) depth -= 1
        else if (c == sep && depth == 0) { parts += sql.substring(start, i).trim; start = i + 1 }
        i += 1
      }
    }
    val last = sql.substring(start).trim
    if (last.nonEmpty) parts += last
    parts.result()
  }

  /** True when every literal, identifier and comment in `sql` closes. */
  def terminated(sql: String): Boolean = {
    var i = 0
    while (i < sql.length) {
      val e = tokenEnd(sql, i)
      if (e < 0) return false
      i = if (e > i) e else i + 1
    }
    true
  }

  /** `sql` without its comments: a line comment drops up to its
    * newline, a block comment becomes one space; hints stay, since
    * they steer the plan.
    */
  def stripComments(sql: String): String = {
    if (sql.indexOf("--") < 0 && sql.indexOf("/*") < 0) return sql
    val out = new java.lang.StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      val e = opaqueEnd(sql, i)
      if (e == i) { out.append(sql.charAt(i)); i += 1 }
      else {
        if (!isComment(sql, i)) out.append(sql, i, e)
        else if (sql.charAt(i) == '/') {
          require(closed(sql, i), "unterminated /* comment */ in statement")
          out.append(' ')
        }
        i = e
      }
    }
    out.toString
  }
}
