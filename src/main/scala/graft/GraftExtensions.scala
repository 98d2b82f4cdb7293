package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.TextExpressions.{UnicodeNormalize, WordTokens}
import graft.functions.VectorExpressions._

/** SparkSessionExtensions wiring: makes the engine's SQL functions
  * ([[GraftExtensions.functions]]) available to ANY session whose builder
  * is given
  *
  * {{{
  *   .withExtensions(new GraftExtensions)            // programmatic
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * For an already-running session, `GraftExtensions.register(spark)`
  * installs the same table into the session's function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft}
  import org.apache.spark.sql.types.LongType

  /** The one SQL function table: name, `DESCRIBE FUNCTION` info and
    * builder. Index geometry and normalization form are plan-time
    * constants, so those arguments must be literals. */
  private[graft] val functions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_f32", classOf[CosineSimilarityF32])(es => CosineSimilarityF32(es(0), es(1))),
    fn("dot_f32", classOf[DotProductF32])(es => DotProductF32(es(0), es(1))),
    fn("l2_norm_f32", classOf[L2NormF32])(es => L2NormF32(es.head)),
    // hyperplane_bucket_f32(vec, planes, dim[, seed])
    fn("hyperplane_bucket_f32", classOf[HyperplaneBucketF32])(es =>
      HyperplaneBucketF32(es(0), litInt(es(1), "planes"), litInt(es(2), "dim"),
        if (es.size > 3) litLong(es(3), "seed") else 42L)),
    // morton_z(a, b) — Z-order clustering key; expands to the same
    // shift/mask expression tree as graft.ops.Layout.mortonZ (composed
    // builtins, fully codegen'd — no custom Expression needed)
    fn("morton_z", classOf[GraftExtensions])(es => mortonZExpr(es(0), es(1))),
    fn("quantize_audit_int8_f32", classOf[QuantizeAuditInt8F32])(es =>
      QuantizeAuditInt8F32(es.head)),
    // unicode_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD')
    fn("unicode_normalize", classOf[UnicodeNormalize])(es =>
      UnicodeNormalize(es(0), litString(es(1), "form"))),
    // word_tokens(s) / lower_word_tokens(s): the \w+ runs of s / lower(s)
    fn("word_tokens", classOf[WordTokens])(es => WordTokens(es.head, lower = false)),
    fn("lower_word_tokens", classOf[WordTokens])(es => WordTokens(es.head, lower = true)))

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Installs [[functions]] into a running session (`SELECT cosine_f32(a, b) ...`). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }

  /** Catalyst twin of [[graft.ops.Layout.mortonZ]] for the SQL function
    * registry (a Column built outside an analyzer run cannot be re-used as
    * a function-builder result — the tree must be native Expressions).
    */
  private[graft] def mortonZExpr(a: Expression, b: Expression): Expression = {
    def spread(x: Expression): Expression = {
      val steps = Seq(
        16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
        4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
        1 -> 0x5555555555555555L)
      val base = BitwiseAnd(Cast(x, LongType), Literal(0x7FFFFFFFL))
      steps.foldLeft(base: Expression) { case (c, (sh, m)) =>
        BitwiseAnd(BitwiseOr(c, ShiftLeft(c, Literal(sh))), Literal(m))
      }
    }
    BitwiseOr(spread(a), ShiftLeft(spread(b), Literal(1)))
  }

  private[graft] def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private[graft] def litLong(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private[graft] def litString(e: Expression, name: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }
}
