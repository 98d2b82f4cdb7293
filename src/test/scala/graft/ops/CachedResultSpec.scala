package graft.ops

import graft.SparkSpec

/** Every operator that holds storage on its caller's behalf has one entry
  * point, returning a [[Checkpoints.CachedResult]]; consuming the result
  * and calling `release()` must leave no RDD persisted behind.
  */
class CachedResultSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
  private def graph = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L),
    (2L, 4L)).toDF("s", "d")
  private val index = Similarity.IvfIndex(
    Array(1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0), dim = 4)
  private def vecs = Seq(
    (1L, Seq(0.9f, 0.1f, 0f, 0f)),
    (2L, Seq(0.9f, 0.1f, 0f, 0f)),
    (3L, Seq(0.1f, 0.9f, 0f, 0f))).toDF("vec_id", "v")
  private def corpus = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower"),
    (3L, "newest newest newest newest newest newest"),
    (4L, "widest widest widest")).toDF("doc_id", "text")
  private val merges = Seq(("e", "s"), ("es", "t"))

  /** (entry point, whether the run holds storage until released, run). */
  private def entryPoints: Seq[(String, Boolean, () => Checkpoints.CachedResult)] =
    Seq(
      ("connectedComponentsCached (driver side)", false,
        () => Dedup.connectedComponentsCached(edges, "a", "b")),
      ("connectedComponentsCached (distributed)", true,
        () => DriverBound.distributedOnly(
          Dedup.connectedComponentsCached(edges, "a", "b"))),
      ("semanticDedupCached", true,
        () => Dedup.semanticDedupCached(vecs, "vec_id", "v", index)),
      ("semanticDedupHierCached", true,
        () => Dedup.semanticDedupHierCached(vecs, "vec_id", "v",
          index.centroidsFlat, index.centroidsFlat, k2 = 1, dim = 4)),
      ("runCached", true,
        () => PageRank.runCached(graph, "s", "d", iters = 8)),
      ("runFixedPointCached (driver side)", true,
        () => PageRank.runFixedPointCached(graph, "s", "d", iters = 8)),
      ("runFixedPointCached (distributed)", true,
        () => DriverBound.distributedOnly(
          PageRank.runFixedPointCached(graph, "s", "d", iters = 8))),
      ("encodeCachedWithModel", true,
        () => Bpe.encodeCachedWithModel(corpus, "doc_id", "text", merges)._1),
      ("bigramLogProbCached", true,
        () => TextAnalysis.bigramLogProbCached(corpus, "doc_id")),
      ("tokenizePackCached", true,
        () => Curate.tokenizePackCached(corpus, "doc_id", "text", merges,
          packBudget = 16L, packBuckets = 2)))

  test("every storage-holding entry point: consume, release(), nothing stays persisted") {
    val sc = spark.sparkContext
    val failures = entryPoints.flatMap { case (name, holds, run) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val r = run()
      assert(r.df.collect().nonEmpty, s"$name: empty result")
      val held = sc.getPersistentRDDs.keySet.toSet -- before
      r.release()
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      (if (held.nonEmpty != holds) Seq(s"$name: held ${held.size} RDDs")
       else Nil) ++
        (if (left.nonEmpty) Seq(s"$name: left $left after release()") else Nil)
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
