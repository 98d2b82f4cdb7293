package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every native function run twice over the same rows: interpreted (each
  * expression's `nullSafeEval`) and compiled (its `doGenCode`). The DuckDB
  * oracle sees only one of the two, so they must agree bit for bit.
  * `ConvertToLocalRelation` is excluded so the local rows are evaluated by
  * the physical plan, not folded on the driver at optimization time. */
class EvalModeParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dim = 64
  private val cents = Similarity.fixedCentroids(8, dim, seed = 3L)
  private val sup = Similarity.fixedCentroids(4, dim, seed = 7L)
  private val sub = Similarity.fixedCentroids(16, dim, seed = 13L)
  private val codebooks = Array.tabulate(8)(i =>
    Similarity.fixedCentroids(16, 8, seed = 100L + i))

  /** Runs `df` with codegen on (`CODEGEN_ONLY`, whole-stage) or off
    * (`NO_CODEGEN`); returns its rows sorted by the first column and
    * whether the plan was whole-stage compiled. */
  private def run(compiled: Boolean)(df: => DataFrame): (Seq[Seq[Any]], Boolean) = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> compiled.toString,
      "spark.sql.codegen.factoryMode" -> (if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val d = df
      val rows = d.collect().sortBy(_.getLong(0)).map(r => bits(r).asInstanceOf[Seq[Any]])
      val wholeStage = find(d.queryExecution.executedPlan)(
        _.isInstanceOf[WholeStageCodegenExec]).nonEmpty
      (rows.toSeq, wholeStage)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Doubles as their bits (NaN canonical), so equality is bit equality. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def assertParity(df: => DataFrame): Seq[Seq[Any]] = {
    val (interpreted, interpretedWholeStage) = run(compiled = false)(df)
    val (compiled, compiledWholeStage) = run(compiled = true)(df)
    assert(!interpretedWholeStage && compiledWholeStage,
      "the two runs must take the interpreted and the compiled path")
    assert(interpreted.nonEmpty && interpreted.size == compiled.size)
    interpreted.zip(compiled).foreach { case (i, c) =>
      assert(i == c, s"interpreted $i != compiled $c")
    }
    interpreted
  }

  /** (id, v, w): the embeddings fixture, each row's `w` the next row's
    * vector, plus a null, a zero, a short and an empty vector. */
  private def vectors: DataFrame = {
    val fixture = graft.Tables.embeddings(spark, sf).orderBy("vec_id")
      .select("embedding").collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0))
    val edge = Seq(null, Seq.fill(dim)(0f), Seq(0.5f, -1.25f, 3f), Seq.empty[Float])
    val vs = fixture.toSeq ++ edge
    val rows = vs.indices.map(i => Row(i.toLong, vs(i), vs((i + 1) % vs.size)))
    val vec = ArrayType(FloatType, containsNull = true)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", LongType), StructField("v", vec), StructField("w", vec))))
  }

  test("vector kernels: interpreted and compiled evaluation are bit-identical") {
    val v = col("v")
    graft.GraftExtensions.register(spark)
    val rows = assertParity(vectors.select(col("id"),
      VectorFunctions.cosineF32(v, col("w")),
      expr("dot_f32(v, w)"),
      VectorFunctions.l2NormF32(v),
      VectorFunctions.hyperplaneBucketF32(v, planes = 12, dim = dim),
      VectorFunctions.nearestCentroidF32(v, cents, dim),
      VectorFunctions.centroidMinSqDistF32(v, cents, dim),
      VectorFunctions.hierCellF32(v, sup, sub, 4, dim),
      VectorFunctions.quantizeAuditInt8F32(v),
      VectorFunctions.pqResidualCodesF32(v,
        VectorFunctions.nearestCentroidF32(v, cents, dim), cents, codebooks, 8)))
    val nan = java.lang.Double.doubleToLongBits(Double.NaN)
    // the zero vector's cosine is 0/0 and the null vector propagates null
    assert(rows.exists(_(1) == nan) && rows.exists(_(1) == null))
  }

  /** (id, s): the documents fixture plus `extra`. */
  private def texts(extra: String*): DataFrame = {
    import spark.implicits._
    val ts = graft.Tables.documents(spark, sf).select("text").as[String]
      .collect().toSeq ++ extra
    spark.createDataFrame(java.util.Arrays.asList(
      ts.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
  }

  test("unicode_normalize: interpreted and compiled evaluation are bit-identical") {
    val df = texts("caf\u00e9", "cafe\u0301", "\ufb01 \u2460 \u212b", "", null)
    assertParity(df.select(col("id") +: Seq("NFC", "NFD", "NFKC", "NFKD")
      .map(f => TextFunctions.unicodeNormalize(col("s"), f)): _*))
  }

  test("word tokens: interpreted and compiled evaluation are bit-identical") {
    graft.GraftExtensions.register(spark)
    val df = texts("The END_1.", "x\u212Ay \u0130 \u03a3\u03a3", "a\ud83d\ude00B", "", "...", null)
    val rows = assertParity(df.select(col("id"),
      expr("word_tokens(s)"), expr("lower_word_tokens(s)")))
    assert(rows.exists(_(1) == Seq("The", "END_1")) && rows.exists(_(2) == Seq("xky", "i")))
  }
}
