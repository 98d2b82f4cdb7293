package graft.ops

import java.sql.Date

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ResampleSpec extends SparkSpec {
  import spark.implicits._

  private val obs = Seq(
    ("A", Date.valueOf("2024-01-01"), Some(10.0)),
    ("A", Date.valueOf("2024-01-04"), Some(20.0)),
    ("B", Date.valueOf("2024-02-10"), Some(5.0)))
    .toDF("k", "d", "v")

  test("resampleDailyLocf: gaps carry the prior value; observed rows flagged") {
    val out = Resample.resampleDailyLocf(obs, "k", "d", Seq("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(("A", "2024-01-01")) == ((10.0, true)))
    assert(out(("A", "2024-01-02")) == ((10.0, false)), "gap carries forward")
    assert(out(("A", "2024-01-03")) == ((10.0, false)))
    assert(out(("A", "2024-01-04")) == ((20.0, true)), "new observation replaces")
    assert(out(("B", "2024-02-10")) == ((5.0, true)))
    assert(out.size == 5)
  }

  test("resampleDailyLocf: a null-valued OBSERVED cell inherits the prior " +
    "value (per-column ignoreNulls carry, the spine+join semantics)") {
    // k=A observes v=10 on day 1, v=null on day 3 (still an observation of
    // w), v absent entirely on day 2. The LOCF contract: day 3 shows
    // v=10.0 (carried over the null cell) with is_observed deciding from
    // the ORIGINAL cells (v null, w non-null → true); day 2 is a gap row
    // (w carried? no — w is a value column here too, so it carries).
    val obs2 = Seq(
      ("A", Date.valueOf("2024-01-01"), Some(10.0), Some(1L)),
      ("A", Date.valueOf("2024-01-03"), None: Option[Double], Some(3L)))
      .toDF("k", "d", "v", "w")
    val out = Resample.resampleDailyLocf(obs2, "k", "d", Seq("v", "w"))
      .collect()
      .map(r => r.getDate(1).toString ->
        ((r.getDouble(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out("2024-01-01") == ((10.0, 1L, true)))
    assert(out("2024-01-02") == ((10.0, 1L, false)), "gap carries both")
    assert(out("2024-01-03") == ((10.0, 3L, true)),
      "null observed cell inherits prior value; w updates; flagged observed")
    assert(out.size == 3)
  }
}
