package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** A deterministic, cross-engine-reproducible natural log.
  *
  * libm `ln` is NOT a portable function: its last ulp differs between
  * implementations (measured on this host: Java `Math.log` and DuckDB `ln`
  * disagree by 1 ulp on ~0.02 % of inputs — including BM25-shaped idf
  * inputs), so any score built on libm `ln` can never be bit-exact across
  * engines. This object replaces libm with a FULLY SPECIFIED algorithm
  * whose every step is an IEEE-754 double operation with one correctly-
  * rounded result (`+ - * /`, `floor`, exact powers of two): any two
  * engines executing the spec produce bit-identical doubles.
  *
  * The single source of truth is [[lnStages]]: a list of (column, SQL
  * expression) stages written in the common subset of Spark SQL and DuckDB
  * SQL. The engine consumes it via `selectExpr`/`withColumn` (Catalyst
  * codegen), the oracle via a CTE chain — the same strings, so the two
  * sides cannot drift.
  *
  * Algorithm: decompose x = m·2^e with m ∈ [√2/2, √2] (the libm-computed
  * `floor(log2 x)` is only a SEED — exact comparisons against exact
  * `pow(2,e)` correct any off-by-one, so a 1-ulp-sloppy log2 cannot change
  * the result), then ln m via the atanh series s·(1 + t/3 + … + t¹²/25),
  * s = (m−1)/(m+1), t = s² ≤ 0.0295, truncation ≪ 2⁻⁵³. Total |rel err|
  * ≲ 4e-16 — scoring-grade accuracy, NOT a correctly-rounded ln; the point
  * is reproducibility, not the last ulp of accuracy.
  *
  * `pow(2.0, e)` exactness for all e ∈ [−1022, 1023] is verified on both
  * engines (harness check; IEEE pow is exact on these).
  */
object ExactMath {

  private val Ln2 = java.lang.Math.log(2.0) // one double constant, embedded as a literal
  private val Sqrt2 = java.lang.Math.sqrt(2.0)

  /** Shortest round-trip literal, forced to DOUBLE through a string cast:
    * both engines' string→double parsers are correctly rounded, so the
    * literal re-reads to the identical double. A BARE decimal literal
    * would be unsafe — DuckDB types it DECIMAL, and DECIMAL→DOUBLE of a
    * 17-significant-digit constant (int64 numerator > 2⁵³) double-rounds,
    * which can be 1 ulp off the correctly-rounded parse.
    */
  private def lit(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  /** Stage list computing `out` = deterministic ln of column `x` (x > 0).
    * Each stage may reference columns of earlier stages. Valid as both a
    * Spark SQL and a DuckDB expression; intermediate stages are prefixed
    * `__ln_` (callers drop them).
    */
  private[graft] def lnStages(x: String, out: String): Seq[(String, String)] = {
    // Horner form of Q(t) = 1 + t/3 + t^2/5 + ... + t^12/25
    val horner = (12 to 1 by -1).foldLeft(lit(1.0 / 25)) { (acc, k0) =>
      val k = k0 - 1 // coefficient 1/(2k+1) for term t^k
      val c = if (k == 0) lit(1.0) else lit(1.0 / (2 * k + 1))
      s"($acc * __ln_t + $c)"
    }
    Seq(
      s"__ln_e0" -> s"floor(log2($x))",
      s"__ln_p0" -> s"pow(2.0, __ln_e0)",
      s"__ln_e1" -> (s"CASE WHEN __ln_p0 > ($x) THEN __ln_e0 - 1.0 " +
        s"WHEN __ln_p0 * 2.0 <= ($x) THEN __ln_e0 + 1.0 ELSE __ln_e0 + 0.0 END"),
      s"__ln_p1" -> (s"CASE WHEN __ln_p0 > ($x) THEN __ln_p0 / 2.0 " +
        s"WHEN __ln_p0 * 2.0 <= ($x) THEN __ln_p0 * 2.0 ELSE __ln_p0 END"),
      s"__ln_m0" -> s"($x) / __ln_p1",
      s"__ln_e" -> s"CASE WHEN __ln_m0 > ${lit(Sqrt2)} THEN __ln_e1 + 1.0 ELSE __ln_e1 END",
      s"__ln_m" -> s"CASE WHEN __ln_m0 > ${lit(Sqrt2)} THEN __ln_m0 / 2.0 ELSE __ln_m0 END",
      s"__ln_s" -> "(__ln_m - 1.0) / (__ln_m + 1.0)",
      s"__ln_t" -> "__ln_s * __ln_s",
      s"__ln_q" -> horner,
      out -> s"((2.0 * __ln_s) * __ln_q) + (__ln_e * ${lit(Ln2)})")
  }

  /** Engine side: append `out` = ln(`x`) to `df` via the shared stages,
    * dropping intermediates. All stages are builtin arithmetic — fully
    * codegen'd, no UDF.
    */
  def lnColumn(df: DataFrame, x: String, out: String): DataFrame = {
    val staged = lnStages(x, out).foldLeft(df) { case (d, (name, sql)) =>
      d.withColumn(name, expr(sql))
    }
    staged.drop(lnStages(x, out).map(_._1).filter(_ != out): _*)
  }

  /** Oracle side: the same stages as a DuckDB CTE chain. `src` must hold
    * column(s) referenced by `x`; the final CTE `outCte` has all of src's
    * columns plus `out` (intermediates excluded).
    */
  def lnCtes(src: String, x: String, out: String, outCte: String,
      prefix: String = "lnx"): String = {
    val stages = lnStages(x, out)
    val named = stages.zipWithIndex.map { case ((name, sql), i) =>
      val from = if (i == 0) src else s"$prefix${i - 1}"
      s"$prefix$i AS (SELECT *, $sql AS $name FROM $from)"
    }.mkString(",\n")
    val dropCols = stages.map(_._1).filter(_ != out).mkString(", ")
    named + s",\n$outCte AS (SELECT * EXCLUDE ($dropCols) FROM $prefix${stages.size - 1})"
  }
}
