package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SemDeDup ([[Dedup.semanticDedupCached]]): cluster-bounded cosine dedup
  * with greedy lowest-id keep, on hand-built two-cluster geometry.
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated centroids on the first two axes
  private val index = Similarity.IvfIndex(
    Array(1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0), dim = 4)

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "v")

  test("duplicates inside a cluster drop the higher id, keep the lowest") {
    val df = vecs(
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),   // cluster 0
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),   // exact dup of 1 → dropped
      (3L, Seq(0.9f, 0.1f, 0.001f, 0f)), // near dup of 1 → dropped
      (4L, Seq(0.1f, 0.9f, 0f, 0f)),   // cluster 1, unique
      (5L, Seq(0f, 0.8f, 0.6f, 0f))    // cluster 1, far from 4 → kept
    )
    val out = consume(Dedup.semanticDedupCached(df, "vec_id", "v", index,
        minCosine = 0.95))(_.collect())
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((0L, false)))
    assert(out(2L) === ((0L, true)))
    assert(out(3L) === ((0L, true)))
    assert(out(4L) === ((1L, false)))
    assert(out(5L) === ((1L, false)))
  }

  // unit vector at `deg` degrees in the (axis 0, axis 2) plane: every such
  // vector with |deg| < 45 lands in cluster 0, and the cosine of two of
  // them is the cosine of their angle difference
  private def at(deg: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    Seq(math.cos(r).toFloat, 0f, math.sin(r).toFloat, 0f)
  }

  private def drops(rows: (Long, Seq[Float])*): Map[Long, Boolean] =
    consume(Dedup.semanticDedupCached(vecs(rows: _*), "vec_id", "v", index,
        minCosine = 0.95))(_.collect())
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap

  test("chain A–B, B–C: B and C drop, so C has no kept neighbour") {
    // cos 15° = 0.966 ≥ 0.95 for A–B and B–C; cos 30° = 0.866 for A–C.
    // C drops on its dropped lower-id neighbour B — the paper's rule, not
    // keepCanonical's one-kept-per-component rule
    assert(drops((1L, at(0)), (2L, at(15)), (3L, at(30))) ===
      Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("V shape A–C, B–C: only C drops, A and B are both kept") {
    // A and B are 30° apart (not neighbours); C sits 15° from each
    assert(drops((1L, at(-15)), (2L, at(15)), (3L, at(0))) ===
      Map(1L -> false, 2L -> false, 3L -> true))
  }

  test("near-duplicates split across clusters are NOT compared (the documented SemDeDup bound)") {
    // two identical vectors equidistant-ish but assigned to different
    // centroids by construction: one leans to axis 0, one to axis 1
    val df = vecs(
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0.1f, 0.9f, 0f, 0f))
    )
    val out = consume(Dedup.semanticDedupCached(df, "vec_id", "v", index,
        minCosine = 0.0))(_.collect())
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // even at threshold 0 nothing drops — candidates never cross clusters
    assert(out === Map(1L -> false, 2L -> false))
  }

  test("drop decisions are invariant under repartitioning") {
    val df = vecs((1 to 40).map(i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 5).toFloat, 1f, 0.5f))): _*)
    val a = consume(Dedup.semanticDedupCached(df, "vec_id", "v", index))(
      _.orderBy("vec_id").collect().toSeq)
    val b = consume(Dedup.semanticDedupCached(df.repartition(7), "vec_id",
      "v", index))(_.orderBy("vec_id").collect().toSeq)
    assert(a === b)
  }

  test("hier variant: same drops as flat when every super cell holds one sub cell") {
    // k2 = 1 with sub == super makes the two-level argmin degenerate to
    // the flat one — the hier composition must then agree cell-for-cell
    val df = vecs(
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, Seq(0.1f, 0.9f, 0f, 0f)),
      (4L, Seq(0.1f, 0.9f, 0.001f, 0f))
    )
    val flat = consume(Dedup.semanticDedupCached(df, "vec_id", "v", index,
      minCosine = 0.95))(_.orderBy("vec_id").collect().toSeq)
    val hier = consume(Dedup.semanticDedupHierCached(df, "vec_id", "v",
      index.centroidsFlat, index.centroidsFlat, k2 = 1, dim = 4,
      minCosine = 0.95))(_.orderBy("vec_id").collect().toSeq)
    assert(hier === flat)
  }

  test("Cached variants: executor storage released after consume+release (bounded across repeated calls)") {
    // the property a long-running caller (per-batch streaming invocation)
    // needs: Dataset.unpersist silently no-ops on localCheckpoint blocks,
    // so only the CachedResult handles + Checkpoints.release bound storage
    val df = vecs(
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, Seq(0.1f, 0.9f, 0f, 0f)))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { i =>
      val flat = Dedup.semanticDedupCached(df, "vec_id", "v", index)
      assert(flat.df.count() == 3)
      flat.release()
      val hier = Dedup.semanticDedupHierCached(df, "vec_id", "v",
        index.centroidsFlat, index.centroidsFlat, k2 = 1, dim = 4)
      assert(hier.df.count() == 3)
      hier.release()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"call $i left checkpoint blocks behind: $leaked")
    }
  }

  test("trainHierCentroids: shapes, sub-block locality, empty-cell padding") {
    // 3 tight natural clusters; k1 = 4 forces at least one empty/short
    // super cell whose sub block must pad with the super centroid
    val pts = (0 until 30).map { i =>
      val c = i % 3
      (i.toLong, Seq(
        (if (c == 0) 10f else 0f) + i * 0.001f,
        (if (c == 1) 10f else 0f),
        (if (c == 2) 10f else 0f), 0f))
    }
    val df = vecs(pts: _*)
    val (sup, sub) = Similarity.trainHierCentroids(df, "vec_id", "v",
      k1 = 4, k2 = 2, sampleSize = 30, iters = 5)
    assert(sup.length === 4 * 4)           // k1 × dim
    assert(sub.length === 4 * 2 * 4)       // (k1·k2) × dim
    // determinism: identical tables from a repartitioned input
    val (sup2, sub2) = Similarity.trainHierCentroids(df.repartition(5),
      "vec_id", "v", k1 = 4, k2 = 2, sampleSize = 30, iters = 5)
    assert(sup.toSeq === sup2.toSeq && sub.toSeq === sub2.toSeq)
    // each sub centroid lies nearer its own super centroid than any other
    // (block locality), except padded blocks which equal the super exactly
    (0 until 4).foreach { c =>
      (0 until 2).foreach { s =>
        val subC = sub.slice((c * 2 + s) * 4, (c * 2 + s) * 4 + 4)
        val dists = (0 until 4).map { o =>
          val supO = sup.slice(o * 4, o * 4 + 4)
          subC.zip(supO).map { case (a, b) => (a - b) * (a - b) }.sum
        }
        assert(dists(c) <= dists.min + 1e-9,
          s"sub cell ($c,$s) strays from its super block")
      }
    }
  }
}
