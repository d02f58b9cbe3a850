package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** SQL spellings for the native vector expressions — BigQuery's
  * vector scalar surface (`COSINE_DISTANCE`, `EUCLIDEAN_DISTANCE`,
  * the functions its VECTOR_SEARCH documentation defines) wired to
  * [[VecDistance]] through the session function registry, NOT a
  * Scala UDF: calls stay codegen'd and the strict index-order
  * accumulation contract (DuckDB-replayable) carries over to SQL
  * statements verbatim.
  *
  * Arguments are cast to `array<float>` at the registry boundary
  * (SQL literals arrive as array<double>/array<int>). Registration is
  * session-scoped and adds only the names the session's registry
  * lacks: [[graft.GraftSession]] registers them once, and the call in
  * [[graft.GraftSql.load]] (every statement) gives a session built
  * elsewhere, e.g. by `spark.newSession()`, the spellings without
  * replacing any.
  */
object SqlFunctions {

  private def vecF(e: Expression): Expression = Cast(e, ArrayType(FloatType))

  private def dist(mode: String)(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"${mode.toLowerCase}_distance expects exactly 2 vector arguments, got ${args.length}")
    VecDistance(vecF(args.head), vecF(args(1)), mode)
  }

  // BigQuery NORMALIZE / NORMALIZE_AND_CASEFOLD: the form is a BARE
  // KEYWORD second argument (NFC default) — intercepted here before
  // it could resolve as a column; a string literal spelling is
  // accepted too
  private def formOf(fn: String, args: Seq[Expression]): String = {
    if (args.length < 2) "NFC"
    else {
      val f = args(1) match {
        case a: UnresolvedAttribute => a.name
        case e if e.foldable => String.valueOf(e.eval())
        case other => throw new IllegalArgumentException(
          s"$fn: the form must be a bare keyword or literal (NFC/NFD/NFKC/NFKD), got $other")
      }
      val up = f.toUpperCase(java.util.Locale.ROOT)
      require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(up),
        s"$fn: unknown Unicode normalization form '$f'")
      up
    }
  }

  private def norm(casefold: Boolean, fn: String)(args: Seq[Expression]): Expression = {
    require(args.nonEmpty && args.length <= 2, s"$fn takes (value [, form])")
    NormalizeText(args.head, formOf(fn, args), casefold)
  }

  /** (name, builder, registry source) of every spelling: the vector
    * and NORMALIZE forms, then the graft_-prefixed native family +
    * SEARCH, the same list the extensions inject.
    */
  private val spellings: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("cosine_distance", dist("COSINE") _, "scala_udf"),
    ("euclidean_distance", dist("EUCLIDEAN") _, "scala_udf"),
    ("normalize", norm(casefold = false, "NORMALIZE") _, "scala_udf"),
    ("normalize_and_casefold", norm(casefold = true, "NORMALIZE_AND_CASEFOLD") _, "scala_udf")) ++
    graft.functions.native.sqlFunctions.map { case (name, _, builder) => (name, builder, "built-in") }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, builder, source) <- spellings if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, source)
  }
}
