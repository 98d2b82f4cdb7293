package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative data-quality checks (dbt-test / Deequ-style) evaluated at
  * engine scale: every row-level rule folds into ONE pass over the table
  * (a single hash-agg of conditional counters — no per-rule jobs), and the
  * relational rules (key uniqueness, referential integrity) are one
  * aggregation / one anti-join each.
  *
  * The output grain is (rule, n_violations): the contract table a pipeline
  * gates on before publishing a snapshot.
  */
object Checks {

  /** A named row-level rule: a violation is a row where `valid` is FALSE
    * or NULL (nulls fail closed — an unevaluable rule is a violation).
    */
  final case class Rule(name: String, valid: Column)

  def notNull(c: String): Rule = Rule(s"not_null_$c", col(c).isNotNull)
  def inRange(c: String, lo: Double, hi: Double): Rule =
    Rule(s"range_$c", col(c) >= lo && col(c) <= hi)
  def positive(c: String): Rule = Rule(s"positive_$c", col(c) > 0)

  /** All row-level rules in one pass: conditional sums over one scan.
    * Zero-row input reports 0 per rule (not null — `sum` over no rows is
    * null, and a null count would let a gate like `n_violations =!= 0`
    * silently pass).
    */
  private[graft] def violations(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val counters = rules.map(r =>
      coalesce(sum(when(coalesce(r.valid, lit(false)), 0L).otherwise(1L)),
        lit(0L)).as(r.name))
    val wide = df.agg(counters.head, counters.tail: _*)
    wide.unpivot(Array.empty, rules.map(r => col(r.name)).toArray,
        "rule", "n_violations")
  }

  /** Duplicate-key rule: one row per violated key value. */
  private def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .where(col("n_rows") > 1)

  /** Referential-integrity rule: child rows whose `fk` has no match in
    * `parent.pk` (null FKs are not orphans — use [[notNull]] to forbid
    * them). One left-anti join; Spark broadcasts the parent side when it
    * fits, else shuffles both on the key.
    */
  private def orphans(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    child.where(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)), Seq(fk), "left_anti")

  /** Full check suite summary: row rules + key uniqueness + referential
    * counts, one row per rule.
    */
  def summary(df: DataFrame, rules: Seq[Rule],
      uniqueKey: Seq[String] = Nil,
      refChecks: Seq[(String, DataFrame, String, String)] = Nil): DataFrame = {
    val row = violations(df, rules)
    val uniq = if (uniqueKey.isEmpty) None
    else Some(duplicateKeys(df, uniqueKey)
      .agg(coalesce(sum(col("n_rows") - 1), lit(0L)).as("n_violations"))
      .select(lit("unique_" + uniqueKey.mkString("_")).as("rule"),
        col("n_violations")))
    val refs = refChecks.map { case (name, parent, fk, pk) =>
      orphans(df, fk, parent, pk)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    }
    (Seq(row) ++ uniq ++ refs).reduce(_.unionByName(_))
  }
}
