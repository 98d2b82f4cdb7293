package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, ResolvedHint}
import org.apache.spark.sql.functions._

/** Every [[DriverBound]] consumer under [[DriverBound.distributedOnly]]:
  * each takes its distributed side — shown by its retained checkpoints,
  * its plan or its job count — and returns exactly what its driver side
  * returns on the same input. */
class DriverBoundSpec extends SparkSpec {
  import spark.implicits._

  private def fromDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("connectedComponents: the seam runs the label loop, same labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 9L), (3L, 1L)).toDF("a", "b")
    def labels(r: Checkpoints.CachedResult) =
      try r.df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      finally r.release()
    val drv = Dedup.connectedComponentsCached(edges, "a", "b")
    assert(fromDriver(drv.df) && drv.caches.isEmpty,
      "a 5-edge set must take the driver union-find (nothing retained)")
    val dist = DriverBound.distributedOnly(
      Dedup.connectedComponentsCached(edges, "a", "b"))
    assert(!fromDriver(dist.df) && dist.caches.size == 2,
      "the seam must retain the loop's label checkpoint beside the edges")
    assert(labels(dist) == labels(drv))
  }

  test("runFixedPoint: the seam runs the checkpointed rounds, same ranks") {
    val edges = ((1L to 60L).map(i => (i % 11, i % 7)) :+ ((20L, 21L))).toDF("s", "d")
    def ranks(r: Checkpoints.CachedResult) =
      try r.df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      finally r.release()
    val drv = PageRank.runFixedPointCached(edges, "s", "d", iters = 6)
    assert(fromDriver(drv.df) && drv.caches.size == 2,
      "a small graph must replay on the driver (setup frames only)")
    val dist = DriverBound.distributedOnly(
      PageRank.runFixedPointCached(edges, "s", "d", iters = 6))
    assert(!fromDriver(dist.df) && dist.caches.size > 2,
      "the seam must retain the rounds' in-mass checkpoints")
    assert(ranks(dist) == ranks(drv))
  }

  test("fitQualityClassifier: the seam runs a job per round, same weights") {
    val docs = ((0 until 8).map(i => (i.toLong, s"good words here $i", true)) ++
      (0 until 8).map(i => (100L + i, s"spam spam click $i", false)))
      .toDF("doc_id", "text", "is_good")
    val sc = spark.sparkContext
    def fit(group: String) = {
      sc.setJobGroup(group, group)
      try {
        val w = TextAnalysis.fitQualityClassifier(docs, "doc_id", "text",
          "is_good", buckets = 64, rounds = 4).as[(Long, Long)].collect()
        (w.sortBy(_._1).toSeq, sc.statusTracker.getJobIdsForGroup(group).length)
      } finally sc.clearJobGroup()
    }
    val (wDrv, jobsDrv) = fit("driver-bound-fit-driver")
    val (wDist, jobsDist) = DriverBound.distributedOnly(
      fit("driver-bound-fit-distributed"))
    // the driver side runs every round after one collect; the distributed
    // side collects each round's gradient, so it runs at least `rounds`
    // more jobs
    assert(jobsDist >= jobsDrv + 4, s"jobs: distributed $jobsDist, driver $jobsDrv")
    assert(wDist == wDrv)
  }

  test("keepCanonical: the seam drops the broadcast hints, same survivors") {
    val docs = (0L to 20L).map(i => (i, i * 7 % 11)).toDF("doc_id", "w")
    val pairs = Seq((1L, 2L), (2L, 5L), (8L, 9L), (15L, 3L)).toDF("id_a", "id_b")
    def kept() = Dedup.keepCanonical(docs, "doc_id", pairs, "id_a", "id_b",
      Seq(col("w").desc, col("doc_id")))
    def hinted(df: DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.nonEmpty
    val drv = kept()
    val dist = DriverBound.distributedOnly(kept())
    assert(hinted(drv), "small label set must broadcast")
    assert(!hinted(dist), "the seam must take the shuffled-join plan")
    def ids(df: DataFrame) = df.select("doc_id").as[Long].collect().toSet
    assert(ids(dist) == ids(drv))
  }
}
