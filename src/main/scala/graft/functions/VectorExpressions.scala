package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expressions for embedding math over `array<float>`.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is
  * correct but interpreted: each element pays lambda-dispatch overhead and
  * the zipped intermediate array is materialized per row. These expressions
  * fuse dot/norm/cosine into one tight primitive loop over the underlying
  * `ArrayData`, participate in whole-stage codegen via `doGenCode`, and
  * allocate nothing — at 100 TB of embeddings the brute-force scorer is
  * exactly this inner loop, so it must be a codegen'd kernel, not an
  * interpreted fold.
  *
  * Each loop is written once, in [[Kernels]]: `nullSafeEval` calls it
  * directly and `doGenCode` emits a static call to it, with any plan-time
  * table (centroids, hyperplanes, codebooks) passed as a reference object.
  * Null vectors propagate null.
  */
object VectorExpressions {

  private val F32Vector = ArrayType(FloatType)

  /** The one input check of the vector kernels: each argument has its
    * `argTypes` type, where `array<float>` accepts either element
    * nullability. */
  trait F32Args extends Expression {
    protected def argTypes: Seq[DataType] = children.map(_ => F32Vector)
    override def checkInputDataTypes(): TypeCheckResult = {
      val got = children.map(_.dataType)
      val ok = got.length == argTypes.length && argTypes.zip(got).forall {
        case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => true
        case (want, have) => want == have
      }
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (${argTypes.map(_.simpleString).mkString(", ")}) " +
          s"arguments, got (${got.map(_.simpleString).mkString(", ")})")
    }
  }

  /** cosine(a, b) = a·b / (‖a‖·‖b‖), one pass over both arrays. */
  case class CosineSimilarityF32(left: Expression, right: Expression)
      extends BinaryExpression with F32Args {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_f32"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => Kernels.call("cosine", a, b))

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** a·b in one pass. */
  case class DotProductF32(left: Expression, right: Expression)
      extends BinaryExpression with F32Args {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_f32"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => Kernels.call("dot", a, b))

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sign-random-projection LSH bucket id over an `array<float>` embedding:
    * bit i of the result = (v · h_i) > 0 for `planes` seeded Gaussian
    * hyperplanes. Fuses the whole bucket computation (planes × dim
    * multiply-adds) into one codegen'd loop with the hyperplanes as a flat
    * `double[]` reference object — the per-row bucketing cost at 100 TB is
    * exactly this kernel, and the HOF formulation it replaces paid
    * interpreted lambda dispatch per element per plane.
    *
    * Bit-parity contract with the reference formulation
    * (`Similarity.hyperplaneBucket`): same seeded generation order
    * (plane-major), same left-to-right double accumulation, same strict
    * `> 0.0` threshold.
    */
  case class HyperplaneBucketF32(child: Expression, planes: Int, dim: Int,
      seed: Long) extends UnaryExpression with F32Args {
    require(planes >= 1 && planes <= 63, s"planes must be in [1,63], got $planes")
    override def dataType: DataType = LongType
    override def prettyName: String = "hyperplane_bucket_f32"

    // flat row-major [planes * dim]; generation order matches
    // Similarity.hyperplanes(dim, planes, seed)
    @transient private lazy val hp: Array[Double] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(planes * dim)(rnd.nextGaussian())
    }

    override def nullSafeEval(a: Any): Any =
      Kernels.hyperplaneBucket(a.asInstanceOf[ArrayData], hp, planes, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val hpRef = ctx.addReferenceObj("hyperplanes", hp, "double[]")
      defineCodeGen(ctx, ev, a => Kernels.call("hyperplaneBucket", a, hpRef, planes, dim))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Squared L2 distance to the NEAREST centroid (the value the argmin
    * kernel discards): the prototypicality score of Sorscher et al. 2022
    * data pruning — far from every prototype = outlier/noise. The same
    * scan as [[NearestCentroidF32]] (`Kernels.scanSqL2`), so (argmin,
    * mindist) pairs from the two kernels are always consistent, and an
    * oracle can reproduce the value as `least(d_0..d_{k-1})` of
    * identically-ordered sums.
    */
  case class CentroidMinSqDistF32(child: Expression, centroidsFlat: Array[Double],
      dim: Int) extends UnaryExpression with F32Args {
    require(dim > 0 && centroidsFlat.length % dim == 0,
      s"centroid table length ${centroidsFlat.length} not a multiple of dim $dim")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "centroid_min_sqdist_f32"

    override def nullSafeEval(a: Any): Any =
      Kernels.centroidMinSqDist(a.asInstanceOf[ArrayData], centroidsFlat, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("centroids", centroidsFlat, "double[]")
      defineCodeGen(ctx, ev, a => Kernels.call("centroidMinSqDist", a, cRef, dim))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Two-level (hierarchical) coarse assignment: argmin over k1 SUPER
    * centroids, then argmin over that super cell's k2 SUB centroids —
    * k1 + k2 distance evaluations instead of k1 × k2. This is the
    * assignment shape that keeps scaled-k clustering linear when the
    * cell count tracks the corpus (see SCALING.md's next-decade caveat):
    * with k1 = k2 = √k, assignment cost is O(√k · dim) per vector.
    * Returns the flat cell id `super · k2 + sub`. Both levels run the scan
    * of [[NearestCentroidF32]] (same accumulation order, lowest-id
    * tie-break), so an oracle reproduces the id with two nested
    * earliest-minimum CASE chains.
    *
    * `subFlat` is row-major (k1 × k2) × dim: super cell c's sub table is
    * rows [c·k2, (c+1)·k2).
    */
  case class HierCellF32(child: Expression, superFlat: Array[Double],
      subFlat: Array[Double], k2: Int, dim: Int) extends UnaryExpression with F32Args {
    require(dim > 0 && k2 > 0 && superFlat.length % dim == 0,
      s"super table length ${superFlat.length} not a multiple of dim $dim")
    private val k1 = superFlat.length / dim
    require(subFlat.length == k1 * k2 * dim,
      s"sub table length ${subFlat.length} != k1*k2*dim = ${k1 * k2 * dim}")
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hier_cell_f32"

    override def nullSafeEval(a: Any): Any =
      Kernels.hierCell(a.asInstanceOf[ArrayData], superFlat, subFlat, k2, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val supRef = ctx.addReferenceObj("superCentroids", superFlat, "double[]")
      val subRef = ctx.addReferenceObj("subCentroids", subFlat, "double[]")
      defineCodeGen(ctx, ev, a => Kernels.call("hierCell", a, supRef, subRef, k2, dim))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** IVF coarse-quantizer assignment: index (argmin) of the nearest
    * centroid by squared L2 distance, over an `array<float>` embedding.
    * The centroid table (k × dim doubles, flat row-major) is a plan-time
    * constant referenced from generated code — one fused loop per row, no
    * per-row allocation. Ties break to the LOWEST centroid id
    * (deterministic across engines and partitionings).
    */
  case class NearestCentroidF32(child: Expression, centroidsFlat: Array[Double],
      dim: Int) extends UnaryExpression with F32Args {
    require(dim > 0 && centroidsFlat.length % dim == 0,
      s"centroid table length ${centroidsFlat.length} not a multiple of dim $dim")
    override def dataType: DataType = IntegerType
    override def prettyName: String = "nearest_centroid_f32"

    override def nullSafeEval(a: Any): Any =
      Kernels.nearestCentroid(a.asInstanceOf[ArrayData], centroidsFlat, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("centroids", centroidsFlat, "double[]")
      defineCodeGen(ctx, ev, a => Kernels.call("nearestCentroid", a, cRef, dim))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Int8 scalar-quantization audit over an `array<float>` embedding in
    * ONE fused pass: min/max scan, affine codes, code stats, and the max
    * reconstruction error, returned as a struct — no intermediate arrays
    * materialize at all (the HOF formulation allocates the cast copy, the
    * codes array, and the error array per row). At 100 TB the quantization
    * projection is exactly this loop.
    *
    * Bit-parity contract with the HOF formulation in
    * [[graft.ops.Quantize]] and the DuckDB oracle: same double-precision
    * operation order, and round-half-up on the (always non-negative)
    * scaled value implemented exactly — `floor`-based tricks drift one ulp
    * on values just below .5.
    */
  case class QuantizeAuditInt8F32(child: Expression) extends UnaryExpression with F32Args {
    override def dataType: DataType = QuantizeAuditInt8F32.schema
    override def prettyName: String = "quantize_audit_int8_f32"

    override def nullSafeEval(a: Any): Any =
      Kernels.audit(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => Kernels.call("audit", a))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object QuantizeAuditInt8F32 {
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema: StructType = StructType(Seq(
      StructField("n_dims", LongType, nullable = false),
      StructField("qmin", DoubleType, nullable = true),
      StructField("qmax", DoubleType, nullable = true),
      StructField("c_sum", LongType, nullable = true),
      StructField("c_min", LongType, nullable = true),
      StructField("c_max", LongType, nullable = true),
      StructField("max_abs_err", DoubleType, nullable = true)))
  }

  /** ‖v‖₂ in one pass. */
  case class L2NormF32(child: Expression) extends UnaryExpression with F32Args {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "l2_norm_f32"

    override def nullSafeEval(a: Any): Any =
      Kernels.l2Norm(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => Kernels.call("l2Norm", a))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fused residual product-quantization encoder: codes quantize the IVF
    * residual x − c(x) (Jégou et al. 2011 §III) — for each subspace `i`,
    * the argmin over `kSub` codebook entries of the residual slice's
    * squared L2, all in ONE codegen'd pass per row with no residual array
    * materialized. Residual PQ is the recall-correct composition with a
    * coarse quantizer (flat PQ wastes code entropy re-describing the
    * centroid offset). Arithmetic contract (mirrored by the SQL oracle):
    * every term is `((double)x_j − coarse_j) − cb_j`, squared-L2
    * accumulated left-to-right, strictly-smaller argmin update
    * (earliest-minimum tie-break).
    */
  case class PqResidualCodesF32(left: Expression, right: Expression,
      coarseFlat: Array[Double], codebooksFlat: Array[Double],
      m: Int, kSub: Int, dSub: Int) extends BinaryExpression with F32Args {
    require(coarseFlat.length % (m * dSub) == 0,
      s"coarse table length ${coarseFlat.length} not a multiple of dim ${m * dSub}")
    require(codebooksFlat.length == m * kSub * dSub,
      s"codebook table length ${codebooksFlat.length} != $m*$kSub*$dSub")
    override protected def argTypes: Seq[DataType] = Seq(F32Vector, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "pq_residual_codes_f32"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.pqResidualCodes(a.asInstanceOf[ArrayData],
        b.asInstanceOf[Int], coarseFlat, codebooksFlat, m, kSub, dSub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val coarseRef = ctx.addReferenceObj("coarse", coarseFlat, "double[]")
      val cbRef = ctx.addReferenceObj("codebooks", codebooksFlat, "double[]")
      defineCodeGen(ctx, ev, (a, b) =>
        Kernels.call("pqResidualCodes", a, b, coarseRef, cbRef, m, kSub, dSub))
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}

/** Column-level API for the native vector kernels (SQL names:
  * [[graft.GraftExtensions]]). */
object VectorFunctions {
  import VectorExpressions._

  private def asColumn(e: Expression): Column = GraftExpressionBridge.column(e)

  def cosineF32(a: Column, b: Column): Column =
    asColumn(CosineSimilarityF32(expression(a), expression(b)))
  def l2NormF32(v: Column): Column = asColumn(L2NormF32(expression(v)))
  def hyperplaneBucketF32(v: Column, planes: Int, dim: Int = 64,
      seed: Long = 42L): Column =
    asColumn(HyperplaneBucketF32(expression(v), planes, dim, seed))
  def nearestCentroidF32(v: Column, centroidsFlat: Array[Double], dim: Int): Column =
    asColumn(NearestCentroidF32(expression(v), centroidsFlat, dim))
  def centroidMinSqDistF32(v: Column, centroidsFlat: Array[Double], dim: Int): Column =
    asColumn(CentroidMinSqDistF32(expression(v), centroidsFlat, dim))
  def hierCellF32(v: Column, superFlat: Array[Double], subFlat: Array[Double],
      k2: Int, dim: Int): Column =
    asColumn(HierCellF32(expression(v), superFlat, subFlat, k2, dim))
  def quantizeAuditInt8F32(v: Column): Column =
    asColumn(QuantizeAuditInt8F32(expression(v)))
  def pqResidualCodesF32(v: Column, centroidId: Column,
      coarseFlat: Array[Double], codebooks: Array[Array[Double]],
      dSub: Int): Column = {
    val kSub = codebooks(0).length / dSub
    asColumn(PqResidualCodesF32(expression(v), expression(centroidId),
      coarseFlat, codebooks.flatten, codebooks.length, kSub, dSub))
  }

  private def expression(c: Column): Expression = GraftExpressionBridge.expression(c)
}
