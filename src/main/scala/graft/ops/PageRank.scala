package graft.ops

import graft.ops.Checkpoints.CutOps

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the canonical iterative-numeric graph
  * workload (influence/centrality over citation, link, or interaction
  * graphs).
  *
  * Scale shape (same discipline as
  * [[Dedup.connectedComponentsCached]]): each iteration is one shuffled
  * equi-join (ranks ⋈ edges on src) plus one partial-aggregatable sum to
  * dst grain and a small AQE-broadcast node join — no driver-side
  * per-row work. Per-iteration floor cuts (the r4 verdict's finding,
  * tightened in r5):
  *  - the dangling mass (rank parked on nodes with no out-edges,
  *    teleported uniformly) is FUSED into the contribution aggregation
  *    as a sentinel dst key and re-enters the next round through a
  *    broadcast 1-row scalar carrier — no separate dangling job, no
  *    driver round-trip inside the loop;
  *  - each node's out-degree is CARRIED on the rank frame itself
  *    (static per graph), so rounds never re-join the degree table;
  *  - the degree table builds in ONE shuffle (union-tagged endpoints,
  *    not distinct + agg + re-join), and short loops (≤4 rounds) skip
  *    lineage checkpointing entirely — at that depth the forced
  *    materializations cost more than the lineage they cap.
  * (A union-leg rebuild folding the node table into the contribution
  * aggregation was tried and measured SLOWER — it trades the small
  * AQE-broadcast node join for a full node-table shuffle per round.
  * r6 closed the remaining floor-cut candidate the same way: seeding a
  * zero-mass sentinel row so the dangling scalar becomes a filter of
  * the contribution aggregate instead of its own global aggregation
  * measured ~0.25 s/3-round query SLOWER under a warmup-controlled
  * interleaved A/B at sf0.1 — the extra union-leg query stage per
  * round costs more than the saved SinglePartition exchange. A naive
  * sequential A/B had shown the opposite, +0.8 s "saved": cross-variant
  * JIT warmth; interleave and jointly warm before trusting a variant
  * comparison. See SCALING.md §PageRank.)
  * The contribution aggregate is lazily `localCheckpoint`ed every 2nd
  * round (every round was measured slower — each forced materialization
  * adds AQE job-scheduling gaps); exchange reuse dedups the shared
  * subtrees of the uncheckpointed rounds, and the final action cascades
  * the materializations.
  *
  * Float caveat: rank sums are double aggregations whose low bits depend
  * on partition merge order — PageRank is therefore NOT cross-engine
  * oracle-able bit-exactly; verification is a driver-side reference
  * implementation under tolerance (PageRankSpec).
  */
object PageRank {

  /** Sentinel dst key carrying the round's dangling mass through the
    * SAME shuffle/aggregation as the real contributions. Reserved: an
    * input node with this id would collide (both `run`s fail fast). */
  private val DanglingKey = Long.MinValue

  /** Static graph frames, one materialization pass each:
    * (edges, nodes-with-degree (id, out_deg nullable), node count).
    * The degree table needs ONE shuffle (union-tagged endpoints →
    * groupBy, out_deg = count of src-tagged rows, 0 → null marks
    * dangling) instead of distinct + degree-agg + re-join. The
    * sentinel-collision check shares the node-count aggregate — no
    * extra job. */
  private def graphFrames(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame, Long) = {
    // LAZY checkpoints: the node-count aggregate below is the single
    // setup job that materializes e AND nodesDeg (blocks cache on first
    // compute) — eager checkpoints here cost two extra full-scan jobs
    // null endpoints are dropped (they are not nodes; an unfiltered null
    // dst would misroute its contribution to the dangling sentinel)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .cutLineage(false)
    val nodesDeg = e.select(col("src").as("id"), lit(1L).as("d"))
      .unionByName(e.select(col("dst").as("id"), lit(0L).as("d")))
      .groupBy(col("id"))
      .agg(when(sum(col("d")) > 0L, sum(col("d"))).as("out_deg"))
      .cutLineage(false)
    val row = nodesDeg.agg(count(lit(1)),
      count(when(col("id") === DanglingKey, lit(1)))).head()
    require(row.getLong(1) == 0L,
      s"node id $DanglingKey is reserved as the dangling-mass sentinel")
    (e, nodesDeg, row.getLong(0))
  }

  /** @param edges   directed edge list (duplicate edges count as weight)
    * @param iters   fixed iteration count (10–20 suffices at damping 0.85)
    * @param damping probability of following an edge vs teleporting
    * @return (id, rank); ranks sum to ~1 (dangling mass redistributed),
    *         with every internally-checkpointed frame (edges, degree
    *         table, periodic in-mass checkpoints) handed out for release
    *         ([[Checkpoints.CachedResult]]) — consume the ranks, then
    *         `release()`
    */
  def runCached(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, damping: Double = 0.85): Checkpoints.CachedResult = {
    val (e, nodesDeg, n0) = graphFrames(edges, srcCol, dstCol)
    val caches = scala.collection.mutable.ListBuffer[DataFrame](e, nodesDeg)
    val n = n0.toDouble
    var ranks = nodesDeg.withColumn("rank", lit(1.0 / n))
    (0 until iters).foreach { i =>
      // ONE left join routes BOTH streams: a node with out-edges fans out
      // one contribution row per edge; a dangling node survives the left
      // join unmatched and its full rank lands on the sentinel key — no
      // where-split, no union, one aggregation serves both
      var inMass = ranks
        .join(e, col("id") === col("src"), "left_outer")
        .select(coalesce(col("dst"), lit(DanglingKey)).as("dst"),
          when(col("out_deg").isNotNull, col("rank") / col("out_deg"))
            .otherwise(col("rank")).as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_mass"))
      // alternate rounds rely on exchange reuse to dedup the shared
      // subtree; a lazy checkpoint every 2nd round caps lineage depth
      // once the loop is deep enough to need it (checkpointing every
      // round — or a ≤4-round loop at all — was measured SLOWER: each
      // forced materialization adds AQE job-scheduling gaps)
      if (iters > 4 && i % 2 == 0) {
        inMass = inMass.cutLineage(false)
        caches += inMass
      }
      // the dangling scalar stays DISTRIBUTED: a broadcast 1-row carrier
      // (agg over the ≤1 sentinel row, so exactly one row always exists)
      val dangling = inMass.where(col("dst") === DanglingKey)
        .agg(coalesce(sum(col("in_mass")), lit(0.0)).as("__dm"))
      // same IEEE op order as the former driver-side base:
      // (1-d)/n + (d·dm)/n, then + d·in_mass; the nodesDeg side is
      // small and AQE plans this as a broadcast join — a union-leg
      // rebuild through the aggregation was tried and measured SLOWER
      // (it forces a full node-table shuffle every round)
      ranks = nodesDeg
        .join(inMass.where(col("dst") =!= DanglingKey)
          .select(col("dst").as("id"), col("in_mass")), Seq("id"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("id"), col("out_deg"),
          (lit((1.0 - damping) / n) + lit(damping) * col("__dm") / lit(n) +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
      // no rank checkpoint: the frame is one join+projection over the
      // (periodically checkpointed) inMass and the cached nodesDeg —
      // exchange reuse carries the uncheckpointed rounds
    }
    Checkpoints.CachedResult(ranks.select(col("id"), col("rank")),
      caches.toSeq)
  }

  /** Fixed-point PageRank: ranks are BIGINT multiples of 1/`scale`, and
    * every operation — contribution split, damping, teleport base — is
    * integer multiply/divide. Integer sums are associative and
    * commutative, so the result is independent of partition merge order
    * and therefore CROSS-ENGINE BIT-EXACT (the property the double
    * variant above fundamentally cannot have); the DuckDB oracle unrolls
    * the same recurrence as chained CTEs with `//` floor division.
    *
    * Precision: one unit = 1e-15 of total mass (plenty below any ranking
    * tie that matters); remainders dropped by integer division leak a few
    * ulps of mass per round — deterministically, identically in both
    * engines.
    *
    * Overflow bound: total mass is `scale` (1e15), so every sum is
    * ≤ 1e15 and every pre-division product ≤ dampingDen·scale ≈ 1e17,
    * far under 2^63. (DuckDB's SUM(BIGINT) widens to HUGEINT; the final
    * CAST normalizes.)
    *
    * Same iteration shape as [[runCached]]: per round one shuffled
    * equi-join plus a partial-aggregatable integer sum to dst grain (the
    * dangling mass fused in as the sentinel key, re-entering via a
    * broadcast 1-row carrier; out-degree carried on the rank frame — zero
    * per-iteration driver jobs, no degree re-join), constant-depth
    * lineage via lazy localCheckpoint. Internal checkpoints are handed
    * out as in [[runCached]].
    */
  def runFixedPointCached(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, dampingNum: Long = 85L, dampingDen: Long = 100L,
      scale: Long = 1000000000000000L): Checkpoints.CachedResult = {
    val (e, nodesDeg, n) = graphFrames(edges, srcCol, dstCol)
    val caches = scala.collection.mutable.ListBuffer[DataFrame](e, nodesDeg)
    // e and nodesDeg are materialized by graphFrames' setup aggregate
    val driverSide = DriverBound.collect(e, DriverBound.PageRankEdges)(
      fixedPointDriverSide(_, nodesDeg, n, iters, dampingNum, dampingDen, scale))
    if (driverSide.nonEmpty)
      return Checkpoints.CachedResult(driverSide.get, caches.toSeq)
    var ranks = nodesDeg.withColumn("rank_fp", lit(scale / n))
    (0 until iters).foreach { i =>
      // same one-left-join routing as [[runCached]] (see comment there)
      var inMass = ranks
        .join(e, col("id") === col("src"), "left_outer")
        .select(coalesce(col("dst"), lit(DanglingKey)).as("dst"),
          when(col("out_deg").isNotNull, expr("rank_fp div out_deg"))
            .otherwise(col("rank_fp")).as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_mass"))
      if (iters > 4 && i % 2 == 0) { // see runCached()
        inMass = inMass.cutLineage(false)
        caches += inMass
      }
      val dangling = inMass.where(col("dst") === DanglingKey)
        .agg(coalesce(sum(col("in_mass")), lit(0L)).as("__dm"))
      // teleport + redistributed dangling mass: BIGINT `div` of
      // nonnegative operands == the oracle's `//` == the former Scala
      // Long `/`; products bounded by dampingNum·scale ≈ 1e17 < 2^63
      ranks = nodesDeg
        .join(inMass.where(col("dst") =!= DanglingKey)
          .select(col("dst").as("id"), col("in_mass")), Seq("id"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("id"), col("out_deg"),
          (expr(s"((${dampingDen - dampingNum} * ${scale}L + $dampingNum * __dm)" +
            s" div (${dampingDen * n}L)) ") +
            expr(s"($dampingNum * coalesce(in_mass, 0L)) div $dampingDen")).as("rank_fp"))
      // no rank checkpoint — see runCached()
    }
    Checkpoints.CachedResult(ranks.select(col("id"), col("rank_fp")),
      caches.toSeq)
  }

  /** Driver-side replay of [[runFixedPointCached]]'s integer recurrence
    * over a collected (bounded) graph. Arithmetic parity with the distributed
    * expressions, op by op: init = `scale / n` (the same Scala Long
    * division the `lit` evaluates), contribution = `rank_fp / out_deg`,
    * new rank = `((dampingDen−dampingNum)·scale + dampingNum·dm) /
    * (dampingDen·n) + (dampingNum·in_mass) / dampingDen` — every operand
    * nonnegative, so Java `/` (truncate) == Spark `div` == the oracle's
    * `//`. Integer sums are order-independent, so accumulation order
    * cannot diverge from the distributed partial aggregation.
    */
  private def fixedPointDriverSide(eRows: Array[Row], nodesDeg: DataFrame,
      n: Long, iters: Int, dampingNum: Long, dampingDen: Long,
      scale: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // eRows: (src, dst) non-null longs by graphFrames
    val nd = nodesDeg.collect() // (id, out_deg nullable) — dangling = null
    val deg = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var ranks = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val init: Long = scale / n  // same eager Scala division as the lit()
    nd.foreach { r =>
      val id = r.getLong(0)
      if (!r.isNullAt(1)) deg.put(id, r.getLong(1))
      ranks.put(id, init)
    }
    (0 until iters).foreach { _ =>
      val inMass = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      var dm = 0L
      nd.foreach { r =>
        if (r.isNullAt(1)) dm += ranks.get(r.getLong(0))
      }
      var j = 0
      while (j < eRows.length) {
        val src = eRows(j).getLong(0); val dst = eRows(j).getLong(1)
        val c: Long = ranks.get(src) / deg.get(src)
        val prev = inMass.get(dst)
        inMass.put(dst, if (prev == null) c else prev + c)
        j += 1
      }
      val base = ((dampingDen - dampingNum) * scale + dampingNum * dm) /
        (dampingDen * n)
      val next = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      nd.foreach { r =>
        val id = r.getLong(0)
        val im = inMass.get(id)
        next.put(id, base +
          (if (im == null) 0L else dampingNum * im / dampingDen))
      }
      ranks = next
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("rank_fp", LongType)))
    val out = new java.util.ArrayList[Row]()
    nd.foreach { r =>
      val id = r.getLong(0)
      out.add(Row(id, ranks.get(id): Long))
    }
    nodesDeg.sparkSession.createDataFrame(out, schema)
  }
}
