package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.TextExpressions.UnicodeNormalize
import graft.functions.VectorExpressions._

/** SparkSessionExtensions wiring: makes the engine's native expressions
  * available to ANY session whose builder is given
  *
  * {{{
  *   .withExtensions(new GraftExtensions)            // programmatic
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * For an already-running session, `VectorFunctions.register(spark)`
  * installs the same functions into the temp registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((new FunctionIdentifier("cosine_f32"),
      new ExpressionInfo(classOf[CosineSimilarityF32].getName, "cosine_f32"),
      (es: Seq[Expression]) => CosineSimilarityF32(es(0), es(1))))
    e.injectFunction((new FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "dot_f32"),
      (es: Seq[Expression]) => DotProductF32(es(0), es(1))))
    e.injectFunction((new FunctionIdentifier("l2_norm_f32"),
      new ExpressionInfo(classOf[L2NormF32].getName, "l2_norm_f32"),
      (es: Seq[Expression]) => L2NormF32(es.head)))
    // hyperplane_bucket_f32(vec, planes, dim[, seed]) — the index geometry
    // arguments must be literals (they parameterize plan-time constants)
    e.injectFunction((new FunctionIdentifier("hyperplane_bucket_f32"),
      new ExpressionInfo(classOf[HyperplaneBucketF32].getName, "hyperplane_bucket_f32"),
      (es: Seq[Expression]) => HyperplaneBucketF32(es(0),
        GraftExtensions.litInt(es(1), "planes"),
        GraftExtensions.litInt(es(2), "dim"),
        if (es.size > 3) GraftExtensions.litLong(es(3), "seed") else 42L)))
    // morton_z(a, b) — Z-order clustering key; expands to the same
    // shift/mask expression tree as graft.ops.Layout.mortonZ (composed
    // builtins, fully codegen'd — no custom Expression needed)
    e.injectFunction((new FunctionIdentifier("morton_z"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "morton_z"),
      (es: Seq[Expression]) => GraftExtensions.mortonZExpr(es(0), es(1))))
    // unicode_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD') — form is a
    // plan-time constant
    e.injectFunction((new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (es: Seq[Expression]) => UnicodeNormalize(es(0),
        GraftExtensions.litString(es(1), "form"))))
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft}
  import org.apache.spark.sql.types.LongType

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
