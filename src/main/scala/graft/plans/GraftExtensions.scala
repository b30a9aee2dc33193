package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.aggregate

/** Session-extension entry point — the (c) tier of the extension
  * preference order: whole-session integration of graft's native
  * expressions via `SparkSessionExtensions`.
  *
  * Activate at session build time with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` to make
  * the native expressions (`cosine_similarity_native`,
  * `squared_distance_native`, `hilbert_index`, `unicode_normalize`) and the
  * sketch aggregates (`misra_gries`, `count_min`) callable from SQL text,
  * not just the Column API.
  *
  * For an already-running session, [[GraftExtensions.register]] adds the
  * same SQL functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def binary(
      name: String,
      cls: Class[_],
      build: (Expression, Expression) => Expression
  ): FunctionDescription =
    (
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getCanonicalName, name),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"$name expects exactly 2 arguments, got ${args.length}"
          )
        build(args(0), args(1))
      }
    )

  /** The SQL-callable native expressions. `hilbert_index(x, y, bits)` and
    * `unicode_normalize(s, 'NFC')` take their static parameter as a
    * foldable literal (the expression needs it at construction). */
  val functions: Seq[FunctionDescription] = Seq(
    binary(
      "cosine_similarity_native",
      classOf[CosineSimilarityExpr],
      CosineSimilarityExpr(_, _)
    ),
    binary(
      "squared_distance_native",
      classOf[SquaredDistanceExpr],
      SquaredDistanceExpr(_, _)
    ),
    (
      FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndexExpr].getCanonicalName, "hilbert_index"),
      (args: Seq[Expression]) => args match {
        case Seq(x, y, Literal(bits: Int, org.apache.spark.sql.types.IntegerType)) =>
          HilbertIndexExpr(x, y, bits)
        case Seq(x, y) => HilbertIndexExpr(x, y, 16)
        case _ =>
          throw new IllegalArgumentException(
            "hilbert_index expects (x, y[, bits literal])"
          )
      }
    ),
    (
      FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalizeExpr].getCanonicalName, "unicode_normalize"),
      (args: Seq[Expression]) => args match {
        case Seq(s, Literal(form, org.apache.spark.sql.types.StringType)) =>
          UnicodeNormalizeExpr(s, form.toString)
        case Seq(s) => UnicodeNormalizeExpr(s, "NFC")
        case _ =>
          throw new IllegalArgumentException(
            "unicode_normalize expects (str[, form literal])"
          )
      }
    ),
    // Mergeable sketch AGGREGATES (graft.functions.Sketches), SQL-callable:
    // the builder hands the analyzer a bare ScalaAggregator (an
    // AggregateFunction) and resolution wraps it into an AggregateExpression
    // exactly like a built-in aggregate — map-side partials and executor
    // merges included, so the SQL form keeps the sketches' one-pass
    // guarantees. Static parameters (capacity / depth / width) must be
    // integer literals: the Aggregator needs them at construction.
    (
      FunctionIdentifier("misra_gries"),
      new ExpressionInfo(
        classOf[graft.functions.Sketches.MisraGries].getCanonicalName,
        "misra_gries"
      ),
      (args: Seq[Expression]) => args match {
        case Seq(v, Literal(cap: Int, org.apache.spark.sql.types.IntegerType)) =>
          aggregate.ScalaAggregator(
            Seq(v),
            new graft.functions.Sketches.MisraGries(cap),
            stringEncoder,
            mapStringLongEncoder,
            aggregatorName = Some("misra_gries")
          )
        case _ =>
          throw new IllegalArgumentException(
            "misra_gries expects (value, capacity int literal)"
          )
      }
    ),
    (
      FunctionIdentifier("count_min"),
      new ExpressionInfo(
        classOf[graft.functions.Sketches.CountMin].getCanonicalName,
        "count_min"
      ),
      (args: Seq[Expression]) => args match {
        case Seq(
              v,
              Literal(depth: Int, org.apache.spark.sql.types.IntegerType),
              Literal(width: Int, org.apache.spark.sql.types.IntegerType)
            ) =>
          aggregate.ScalaAggregator(
            Seq(v),
            new graft.functions.Sketches.CountMin(depth, width),
            stringEncoder,
            longArrayEncoder,
            aggregatorName = Some("count_min")
          )
        case _ =>
          throw new IllegalArgumentException(
            "count_min expects (value, depth int literal, width int literal)"
          )
      }
    )
  )

  // Explicit AgnosticEncoder construction (shared with the sketches'
  // buffer/output encoders) — NO scala-reflect TypeTags, so the SQL
  // functions resolve under REPL/embedded classloaders too.
  import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, ExpressionEncoder}

  private def stringEncoder: ExpressionEncoder[String] =
    ExpressionEncoder(AgnosticEncoders.StringEncoder)

  private def mapStringLongEncoder: ExpressionEncoder[Map[String, Long]] =
    graft.functions.Sketches.mapStringLongEncoder

  private def longArrayEncoder: ExpressionEncoder[Array[Long]] =
    graft.functions.Sketches.longArrayEncoder

  /** Register the SQL functions into an already-built session (the
    * config-time path above goes through the same descriptors). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
