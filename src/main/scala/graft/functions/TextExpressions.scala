package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native Catalyst expression.
  *
  * Text dedup at corpus scale is only as good as its canonical form:
  * `é` written as U+00E9 and as `e` + U+0301 are different byte strings,
  * so hash-based exact dedup misses them unless every document is brought
  * to one normalization form first. Spark has no built-in NFC/NFD/NFKC/NFKD
  * function (DuckDB ships `nfc_normalize`; ICU collations address sorting,
  * not projection), so this wraps `java.text.Normalizer` — the JDK's
  * implementation of the Unicode standard forms — as a codegen'd unary
  * expression: no UDF serialization, stays inside whole-stage codegen,
  * and the per-row fast path (`Normalizer.isNormalized`) makes the common
  * already-normalized case a cheap scan.
  */
object TextExpressions {

  /** `unicode_normalize(s, form)` with form ∈ NFC | NFD | NFKC | NFKD
    * (plan-time constant). Null propagates.
    */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression {
    require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"unsupported normalization form $form (use NFC/NFD/NFKC/NFKD)")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }
    override def dataType: DataType = StringType
    override def prettyName: String = "unicode_normalize"

    override def nullSafeEval(a: Any): Any =
      Kernels.normalize(a.asInstanceOf[UTF8String], form)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => Kernels.call("normalize", a, s"\"$form\""))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}

/** Column-level API for the text kernels (SQL names:
  * [[graft.GraftExtensions]]). */
object TextFunctions {
  import TextExpressions._

  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    GraftExpressionBridge.column(
      UnicodeNormalize(GraftExpressionBridge.expression(text), form))
}
