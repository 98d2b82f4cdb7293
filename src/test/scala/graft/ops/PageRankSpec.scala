package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference implementation (same algorithm, plain Scala). */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
      damping: Double): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val dangling = nodes.filterNot(outDeg.contains).map(rank).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outDeg(s) }.sum).toMap
      val base = (1.0 - damping) / n + damping * dangling / n
      rank = nodes.map(id => id -> (base + damping * in.getOrElse(id, 0.0))).toMap
    }
    rank
  }

  test("matches the driver-side reference within float tolerance") {
    // hub (1), chain, a dangling node (5), and a cycle
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L),
      (4L, 5L), (6L, 1L), (2L, 6L), (6L, 2L))
    val got = consume(PageRank.runCached(edges.toDF("s", "d"), "s", "d",
      iters = 15))(_.collect()).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ref(edges, iters = 15, damping = 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, r) =>
      assert(math.abs(r - want(id)) < 1e-9, s"node $id: $r vs ${want(id)}")
    }
    // probability mass conserved
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the hub out-ranks the dangling leaf
    assert(got(1L) > got(5L))
  }

  test("uniform cycle converges to uniform ranks") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val got = consume(PageRank.runCached(edges.toDF("s", "d"), "s", "d",
      iters = 20))(_.collect()).map(r => r.getDouble(1))
    got.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-9))
  }

  test("fixed-point variant tracks the double variant to ~1e-12 and conserves mass") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L),
      (4L, 5L), (6L, 1L), (2L, 6L), (6L, 2L))
    val scale = 1000000000000000L
    val fp = consume(PageRank.runFixedPointCached(edges.toDF("s", "d"), "s",
      "d", iters = 15))(_.collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dbl = consume(PageRank.runCached(edges.toDF("s", "d"), "s", "d",
      iters = 15))(_.collect()).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fp.keySet == dbl.keySet)
    fp.foreach { case (id, r) =>
      assert(math.abs(r.toDouble / scale - dbl(id)) < 1e-12,
        s"node $id: fp ${r.toDouble / scale} vs double ${dbl(id)}")
    }
    // integer division leaks at most one unit per node per round: mass
    // stays within iters × n units of exactly 1.0 — and never exceeds it
    val mass = fp.values.sum
    assert(mass <= scale && mass > scale - 15L * fp.size * 2,
      s"mass $mass vs scale $scale")
  }

  test("fixed-point is bit-identical across repartitionings (merge-order independence)") {
    val edges = (1L to 200L).map(i => (i % 17, i % 23)) ++
      Seq((100L, 101L), (101L, 100L))
    val df = edges.toDF("s", "d")
    // forced distributed: this pins the DISTRIBUTED loop's merge-order
    // independence, which the driver replay would otherwise bypass at
    // these sizes
    def ranks(in: DataFrame) = DriverBound.distributedOnly {
      consume(PageRank.runFixedPointCached(in, "s", "d", iters = 5))(
        _.collect()).map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(ranks(df) == ranks(df.repartition(7)))
  }
  test("fixed-point driver replay is bit-identical to the distributed loop") {
    // dangling node (4 has no out-edges), duplicate edge (weight), cycle
    val edges = (1L to 200L).map(i => (i % 17, i % 23)) ++
      Seq((100L, 101L), (101L, 100L), (5L, 42L), (7L, 7L), (100L, 101L))
    val df = edges.toDF("s", "d")
    def ranks() = consume(PageRank.runFixedPointCached(df, "s", "d",
      iters = 6))(_.collect()).map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val drv = ranks()
    val dist = DriverBound.distributedOnly(ranks())
    assert(drv == dist, s"driver replay diverged: $drv vs $dist")
  }

  test("runCached/runFixedPointCached: checkpoint storage released after consume") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L), (2L, 4L))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = PageRank.runCached(edges.toDF("s", "d"), "s", "d", iters = 8)
    assert(r.df.count() == 4)
    r.release()
    val fp = PageRank.runFixedPointCached(edges.toDF("s", "d"), "s", "d",
      iters = 8)
    assert(fp.df.count() == 4)
    fp.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"checkpoint blocks left behind: $leaked")
  }
}
