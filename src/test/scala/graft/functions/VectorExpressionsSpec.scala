package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.Tables.embeddings(spark, sf)

  test("native cosine is bit-identical to the HOF formulation") {
    val q = emb.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0)
    val both = emb.select(
      $"vec_id",
      VectorFunctions.cosineF32($"embedding", typedLit(q)).as("native"),
      Similarity.cosine(Similarity.toDoubleVec($"embedding"),
        typedLit(q.map(_.toDouble))).as("hof"))
    assert(both.where($"native" =!= $"hof").count() == 0)
  }

  test("native l2 norm is bit-identical to the HOF formulation") {
    val both = emb.select(
      VectorFunctions.l2NormF32($"embedding").as("native"),
      Similarity.l2Norm(Similarity.toDoubleVec($"embedding")).as("hof"))
    assert(both.where($"native" =!= $"hof").count() == 0)
  }

  test("dot product: known values, null propagation") {
    val df = Seq(
      (1L, Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(4.0f, 5.0f, 6.0f))),
      (2L, None: Option[Array[Float]], Some(Array(1.0f)))).toDF("id", "a", "b")
    graft.GraftExtensions.register(spark)
    val got = df.select($"id", expr("dot_f32(a, b)").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(32.0))
    assert(got(2L).isEmpty)
  }

  test("native hyperplane bucket is bit-identical to the HOF formulation") {
    val both = emb.select(
      $"vec_id",
      VectorFunctions.hyperplaneBucketF32($"embedding", planes = 12, dim = 64).as("native"),
      Similarity.hyperplaneBucket(
        Similarity.toDoubleVec($"embedding"), planes = 12, dim = 64).as("hof"))
    assert(both.where($"native" =!= $"hof").count() == 0)
  }

  test("SQL registration: cosine_f32 usable from spark.sql") {
    graft.GraftExtensions.register(spark)
    graft.Tables.embeddings(spark, sf).createOrReplaceTempView("emb_v")
    val n = spark.sql(
      """SELECT vec_id, cosine_f32(embedding, embedding) AS self_sim FROM emb_v""")
      .where(abs(col("self_sim") - 1.0) > 1e-9).count()
    assert(n == 0)
  }

  test("SQL registration: hyperplane_bucket_f32 matches the Column API") {
    graft.GraftExtensions.register(spark)
    graft.Tables.embeddings(spark, sf).createOrReplaceTempView("emb_v2")
    val viaSql = spark.sql(
      "SELECT vec_id, hyperplane_bucket_f32(embedding, 12, 64) AS b FROM emb_v2")
    val viaApi = graft.Tables.embeddings(spark, sf).select(
      $"vec_id", VectorFunctions.hyperplaneBucketF32($"embedding", 12, 64).as("b2"))
    assert(viaSql.join(viaApi, "vec_id").where($"b" =!= $"b2").count() == 0)
    // non-literal geometry argument is rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT hyperplane_bucket_f32(embedding, vec_id + 1, 64) FROM emb_v2")
        .collect()
    }
    assert(e.getMessage.contains("planes"))
  }

  test("type check rejects non-float arrays") {
    val bad = Seq((1L, Array(1.0, 2.0))).toDF("id", "v")
    val e = intercept[Exception] {
      bad.select(VectorFunctions.l2NormF32($"v")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("l2_norm_f32") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("centroid min-sqdist kernel: consistent with argmin, correct on hand geometry") {
    // two centroids on the axes; v = (3,4,...0) is 9+16=25-ish from e0-ish
    val cents = Array(1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    val df = Seq(
      (1L, Seq(1.0f, 0f, 0f, 0f)),   // exactly centroid 0 -> dist 0
      (2L, Seq(0f, 1.0f, 0f, 0f)),   // exactly centroid 1 -> dist 0
      (3L, Seq(0.5f, 0.5f, 0f, 0f))  // equidistant: 0.25+0.25 = 0.5 to both
    ).toDF("vec_id", "v")
    val out = df.select($"vec_id",
      VectorFunctions.nearestCentroidF32($"v", cents, 4).as("cid"),
      VectorFunctions.centroidMinSqDistF32($"v", cents, 4).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((0, 0.0)))
    assert(out(2L) === ((1, 0.0)))
    assert(out(3L)._1 === 0) // tie breaks to the lowest id
    assert(math.abs(out(3L)._2 - 0.5) < 1e-12)
  }

  test("hierarchical cell kernel: matches a driver-side two-level argmin on real vectors") {
    val sup = Similarity.fixedCentroids(4, 64, seed = 7L)
    val sub = Similarity.fixedCentroids(16, 64, seed = 13L)
    val rows = emb.where($"embedding".isNotNull && size($"embedding") === 64 &&
        !exists($"embedding", _.isNull))
      .select($"vec_id",
        VectorFunctions.hierCellF32($"embedding", sup, sub, 4, 64).as("cell"),
        $"embedding")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](2).map(_.toDouble).toArray
      def argmin(flat: Array[Double], from: Int, n: Int): Int =
        (0 until n).minBy { c =>
          val off = (from + c) * 64
          var d = 0.0; var j = 0
          while (j < 64) { val x = v(j) - flat(off + j); d += x * x; j += 1 }
          d
        }
      val s = argmin(sup, 0, 4)
      val expect = s * 4 + argmin(sub, s * 4, 4)
      assert(r.getInt(1) === expect, s"vec ${r.getLong(0)}")
    }
  }
}
