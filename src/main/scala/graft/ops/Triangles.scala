package graft.ops

import graft.ops.Checkpoints.CutOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Triangle counting over an undirected edge list — the structural motif
  * behind clustering coefficients, community strength, and link-spam
  * signals.
  *
  * Scale shape: the naive 3-way self-join explodes on hub nodes (a degree-d
  * node contributes O(d²) wedges). The standard fix, used here: orient
  * every edge from its lower-(degree, id) endpoint to the higher one — a
  * total order, so each triangle survives as exactly ONE directed path
  * x→y→z plus its closing edge x→z. Wedge volume drops from Σ d² on raw
  * degrees to the degeneracy-bounded Σ in·out of the oriented graph
  * (hubs receive edges; they rarely emit them), the difference between
  * feasible and not on power-law graphs. The count itself is the
  * EDGE-ITERATOR form: per oriented edge, intersect the two endpoints'
  * out-adjacency arrays in place — the wedge set is never materialized
  * or shuffled as rows (the r11 path⋈edge semi-join paid exactly that;
  * the r12 bivar decade A/B measured the intersect form faster at x10
  * and x100 with fewer exchanges). Everything else is shuffled
  * equi-joins + one sum: AQE handles residual skew.
  *
  * For graphs too large even for that, [[approxSparsified]] implements
  * DOULION (Tsourakakis et al., KDD'09): keep each edge iff a hash accepts
  * it (probability 1/pInv), count triangles on the sample, scale by pInv³.
  * The md5-based edge sampler makes the SAMPLE deterministic and
  * engine-portable, so even the approximate count is oracle-checkable.
  */
object Triangles {

  /** Canonical undirected edge set: u < v, self-loops and duplicates out. */
  def canonical(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(least(col(aCol), col(bCol)).cast(LongType).as("u"),
        greatest(col(aCol), col(bCol)).cast(LongType).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** One row: (n_nodes, n_edges, n_triangles) for the canonical graph.
    *
    * Shared subtrees are materialized ONCE via lazy localCheckpoints
    * (the bigramLogProb pattern — blocks free on ContextCleaner GC after
    * the caller's frame reference dies): the canonical edge set feeds
    * the degree table, the orientation join, and the edge count; the
    * degree table feeds both orientation legs and the node count. The
    * un-checkpointed form re-executed each consumer's whole upstream —
    * exchange REUSE never fires here because the edge-building subtrees
    * carry order-nondeterministic expressions (collect_set in the
    * co-purchase caller) — which the r11 x10 anatomy probe measured as
    * 42 exchanges / 16 sequential jobs for a 3-join query. */
  def countExact(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = canonical(edges, aCol, bCol).cutLineage(false)
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .cutLineage(false)
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    // orient low→high in the (deg, id) total order
    val directed = und.join(du, "u").join(dv, "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("x"), col("v").as("y")))
        .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .cutLineage(false) // feeds the adjacency build AND the edge probe
    // Edge-iterator core (r12): triangles touching oriented edge (x,y)
    // are |N⁺(x) ∩ N⁺(y)| — each triangle's unique directed path x→y→z
    // plus closing edge x→z puts z in BOTH out-neighbor lists of exactly
    // one edge (x,y), so the per-edge intersect sizes sum to the exact
    // count. vs the r11 path⋈closing-edge plan: the Σ in·out wedge set
    // is never MATERIALIZED as rows, never shuffled, and the heavy
    // probe-side exchange of the semi-join disappears — each edge reads
    // two bounded adjacency arrays (oriented out-degree is
    // degeneracy-bounded: hubs receive edges, they rarely emit them) and
    // intersects them in place (hash-set build over the smaller array).
    // Bivar-measured faster than the wedge join at x10 AND x100 decades
    // (SCALING_R12_TRI.json) with fewer exchanges.
    val adj = directed.groupBy(col("x"))
      .agg(sort_array(collect_list(col("y"))).as("nbrs"))
      .cutLineage(false) // probed by both endpoints' lookup legs
    val tri = directed
      .join(adj, "x")
      .join(adj.select(col("x").as("y"), col("nbrs").as("nbrs_y")), "y")
      .select(size(array_intersect(col("nbrs"), col("nbrs_y"))).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).cast(LongType)
        .as("n_triangles"))
    val stats = und
      .agg(count(lit(1)).cast(LongType).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).cast(LongType).as("n_nodes")))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** DOULION: deterministic md5 edge sampling at rate 1/pInv, exact count
    * on the sample, unbiased estimate = count · pInv³ (exact in double for
    * any plausible count).
    */
  def approxSparsified(edges: DataFrame, aCol: String, bCol: String,
      pInv: Int = 10): DataFrame = {
    // The sampler is a pure function of the canonical (u, v) pair, so it
    // commutes with dedup: filter BEFORE the first distinct and the big
    // edge-instance stream never reaches a shuffle at full volume.
    // countExact's canonical() then dedups only the surviving ~1/pInv.
    val pre = edges.select(least(col(aCol), col(bCol)).cast(LongType).as("u"),
        greatest(col(aCol), col(bCol)).cast(LongType).as("v"))
      .where(col("u") =!= col("v"))
    val sampled = pre.where(
      conv(substring(md5(concat(col("u").cast("string"), lit("_"),
        col("v").cast("string"))), 1, 8), 16, 10)
        .cast(LongType) % pInv === 0)
    countExact(sampled, "u", "v")
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        (col("n_triangles") * lit(pInv.toDouble * pInv * pInv))
          .as("est_total"))
  }
}
