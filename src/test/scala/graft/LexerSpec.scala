package graft

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.sql.Lexer

/** The dialect lexer agrees with Spark's own: every span it reports
  * as a string literal parses (and only parses — no job runs) to one
  * Literal with the expected value, every backtick span to one
  * attribute, and dropping the comments it finds leaves the parsed
  * plan unchanged. The helpers above it skip the same spans.
  */
class LexerSpec extends SparkSuite {
  private def parser = spark.sessionState.sqlParser

  // (token text, the value Spark reads)
  private val literals = Seq(
    "'plain'" -> "plain",
    """'don\'t COUNTIF(x > 1)'""" -> "don't COUNTIF(x > 1)",
    "\"COUNTIF(x > 1)\"" -> "COUNTIF(x > 1)",
    "\"it's\"" -> "it's",
    """"say \"hi\""""" -> "say \"hi\"",
    """'a\\'""" -> "a\\",
    """r'a\'""" -> "a\\",
    """R"x\ny"""" -> "x\\ny",
    "'-- no comment'" -> "-- no comment",
    "'/* nor this */'" -> "/* nor this */",
    "'`tick`'" -> "`tick`")

  test("every literal span parses to one Literal with the expected value") {
    val jobs = jobsStartedBy {
      for ((tok, value) <- literals) {
        val sql = s"SELECT $tok AS v FROM t WHERE x = 1"
        val at = sql.indexOf(tok)
        assert(Lexer.opaqueEnd(sql, at) == at + tok.length, s"span of $tok in: $sql")
        parser.parseExpression(tok) match {
          case Literal(v, _) => assert(String.valueOf(v) == value, s"value of $tok")
          case other => fail(s"$tok parsed to $other")
        }
      }
    }
    assert(jobs == 0)
  }

  test("every backtick span parses to one attribute") {
    for ((tok, name) <- Seq("`my col`" -> "my col", "`a``b`" -> "a`b", "`it's`" -> "it's",
        "`x -- y`" -> "x -- y")) {
      val sql = s"SELECT $tok, 'z' FROM t"
      assert(Lexer.opaqueEnd(sql, 7) == 7 + tok.length, s"span of $tok")
      parser.parseExpression(tok) match {
        case a: UnresolvedAttribute => assert(a.nameParts == Seq(name))
        case other => fail(s"$tok parsed to $other")
      }
    }
  }

  test("comments strip to the same plan; nested comments nest; hints stay") {
    val cases = Seq(
      "SELECT 1 AS one -- trailing 'quote\n, 2 AS two",
      "SELECT /* a /* b */ c */ 1 AS one",
      "SELECT 'x' AS s /* it's */, \"--\" AS d",
      "SELECT /*+ REPARTITION(3) */ x FROM VALUES (1), (2) AS t(x)")
    // expression ids differ per parse; the plans must not
    def plan(sql: String) = parser.parsePlan(sql).toString.replaceAll("#\\d+", "")
    for (sql <- cases) assert(plan(Lexer.stripComments(sql)) == plan(sql), sql)
    assert(Lexer.stripComments(cases(1)) == "SELECT   1 AS one")
    assert(Lexer.stripComments(cases(3)) == cases(3))
    assert(Lexer.stripComments("SELECT 1 -- c\nFROM t") == "SELECT 1 \nFROM t")
    val e = intercept[IllegalArgumentException](Lexer.stripComments("SELECT 1 /* a /* b */"))
    assert(e.getMessage.contains("unterminated"))
  }

  test("helpers skip literals, identifiers and comments") {
    val sql = "f(')', \"(\", `)`, /* ) */ g(1)) + x"
    assert(Lexer.closeParen(sql, 1) == sql.indexOf(" + x") - 1)
    assert(Lexer.closeParen("f((1)", 1) == -1)
    assert(Lexer.splitTop("a, 'b,c', f(d, e), [1, 2], \"g,h\"") ==
      Seq("a", "'b,c'", "f(d, e)", "[1, 2]", "\"g,h\""))
    assert(Lexer.splitTop("STRUCT<a INT, b INT> x, y", angles = true) ==
      Seq("STRUCT<a INT, b INT> x", "y"))
    assert(Lexer.splitTop("  ") == Nil)
    val q = "SELECT 'QUALIFY', `qualify`, \"qualify\" -- qualify\n FROM t QUALIFY x"
    assert(Lexer.indexOfWord(q, "QUALIFY") == q.lastIndexOf("QUALIFY"))
    assert(Lexer.indexOfWord("SELECT qualifying FROM t", "QUALIFY") == -1)
    assert(Lexer.topWord("a (FROM b) FROM c", "FROM") == 11)
    assert(Lexer.lastTopWord("CAST(x AS INT) AS y", "AS") == 15)
    assert(Lexer.calls("f(a) + f (g(f(1))) + f", "f").map(_._1) == Seq(0, 7))
    assert(Lexer.terminated("SELECT 'a', \"b\", `c` -- d"))
    for (open <- Seq("SELECT 'a", "SELECT \"a\\\"", "SELECT `a", "/* a /* b */", "r'a"))
      assert(!Lexer.terminated(open), open)
  }
}
