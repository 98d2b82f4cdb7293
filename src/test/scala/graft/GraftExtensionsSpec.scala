package graft

class GraftExtensionsSpec extends SparkSpec {

  test("one function table: exactly the seven SQL names, each resolves after register") {
    assert(GraftExtensions.functions.map(_._1.funcName).toSet == Set(
      "cosine_f32", "dot_f32", "l2_norm_f32", "hyperplane_bucket_f32", "morton_z",
      "quantize_audit_int8_f32", "unicode_normalize"))
    assert(GraftExtensions.functions.size == 7)
    GraftExtensions.register(spark)
    val (composed, decomposed) = ("caf\u00e9", "cafe\u0301")
    val r = spark.sql(
      s"""SELECT cosine_f32(v, v), dot_f32(v, v), l2_norm_f32(v),
        |  hyperplane_bucket_f32(v, 4, 2), morton_z(1, 2),
        |  quantize_audit_int8_f32(v).n_dims, unicode_normalize('$decomposed', 'NFC')
        |FROM (SELECT CAST(array(3, 4) AS array<float>) AS v)""".stripMargin).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 25.0 && r.getDouble(2) == 5.0)
    assert(!r.isNullAt(3) && r.getLong(4) == 9L && r.getLong(5) == 2L)
    assert(r.getString(6) == composed)
  }
}
