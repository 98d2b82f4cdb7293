package graft.ops

import graft.ops.Checkpoints.CutOps

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), n-gram Jaccard (shingle inverted
  * index), MinHash + LSH banding (sub-quadratic candidate generation),
  * SimHash (64-bit near-dup signature).
  *
  * Scale design (100 TB corpora):
  *  - Exact dedup is one hash-partitioned aggregation on a 128-bit digest —
  *    the digest (16 B) shuffles instead of the document bodies.
  *  - Pairwise Jaccard is never computed all-pairs: candidates come from an
  *    inverted shingle index (equi-join, hash-partitioned by shingle) with a
  *    document-frequency cap that removes boilerplate shingles — the classic
  *    skew guard; without it one viral shingle creates a quadratic bucket.
  *  - MinHash banding turns near-dup search into `bands` equi-joins on
  *    (band, bandHash): cost ∝ Σ bucket², controlled by band geometry, and
  *    each join is an ordinary shuffled equi-join AQE can skew-split.
  *  - All signatures use xxhash64 + affine rehash (no RNG at runtime, fully
  *    deterministic, codegen'd — no UDFs anywhere).
  */
object Dedup {

  /** Exact duplicate groups by content digest: one row per distinct text
    * with the surviving (minimum) id and the duplicate count.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep exactly one row per distinct `textCol` (min id wins). */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Distinct (doc_id, shingle) pairs built WITHOUT array lambdas:
    * tokenize → posexplode → window `lead` to assemble n-grams → hash
    * dedup. Every expression here is codegen'd. The obvious alternative —
    * a `transform` higher-order function building the shingle array
    * in-row — evaluates interpreted (measured: ~43 s of CPU for a 1.5 MB
    * corpus vs ~1 s for this formulation). The window's ClusteredDistribution
    * on doc_id is satisfied by the explicit repartition, so shingle
    * assembly adds NO extra shuffle.
    */
  private def explodedShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    rawShingles(docs, idCol, textCol, n)
      .dropDuplicates("doc_id", "shingle")

  /** (doc_id, shingle) WITH within-document multiplicity — the pre-dedup
    * gram stream. The dedup in [[explodedShingles]] is already
    * exchange-free: completeGrams' HashPartitioning(doc_id) satisfies the
    * dedup aggregate's ClusteredDistribution(doc_id, shingle), so deferring
    * the dedup past the shingle exchange saves nothing and ships raw
    * multiplicity (measured a wash — see [[jaccardPairsFromExploded]]'s
    * probe note). */
  private[graft] def rawShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    completeGrams(docs, idCol, textCol, n)
      .select(col("doc_id"),
        concat_ws(" ", (col("tok") +: (1 until n).map(i => col(s"__t$i"))): _*)
          .as("shingle"))

  /** The shared n-gram assembly both dedup paths sit on: tokenize →
    * posexplode → `lead` windows → keep only complete grams. Returns
    * (doc_id, pos, tok, __t1..__t(n-1)). The explicit repartition exists
    * because AQE's byte-based coalescing would fold this tiny-but-CPU-
    * heavy stage back to one task, and it satisfies the window's
    * ClusteredDistribution so gram assembly adds NO extra shuffle.
    */
  private def completeGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // width sized by the post-shuffle explosion (n lead columns per token
    // row), not the pre-explosion bytes AQE sees — graft.Conf scaladoc has
    // the full rule; floors at defaultParallelism, so small-SF plans keep
    // the exact pre-r6 shape
    val par = graft.Conf.sizedShufflePartitions(docs, rowMultiplier = n.toDouble)
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leadCols = (1 until n).map(i => lead(col("tok"), i).over(w).as(s"__t$i"))
    toks
      .select((Seq(col("doc_id"), col("pos"), col("tok")) ++ leadCols): _*)
      .where(col(s"__t${n - 1}").isNotNull) // drop incomplete trailing grams
  }

  /** Exact n-gram Jaccard near-duplicate pairs via an inverted shingle
    * index.
    *
    * The document-frequency cap is applied in TWO phases so no aggregation
    * buffer is ever unbounded: first `groupBy(shingle).count` (a plain
    * partial-aggregatable count — a viral boilerplate shingle present in
    * 10⁸ docs costs one Long per map task, not a 10⁸-element array), then a
    * semi-join of the exploded index against the surviving shingle set, and
    * only THEN `collect_list`, whose buffer is provably ≤ `maxDocFreq`
    * elements. Collecting first and filtering on `size(ids)` after would
    * materialize the full postings array of a hot shingle in a single
    * ObjectHashAggregate buffer before discarding it — an OOM at 100 TB.
    *
    * Cache lifetime: the capped postings are read by two consumers (pair
    * explode + per-doc sizes), so they are persisted at MEMORY_AND_DISK
    * (spills, never OOMs). The RESULT pair
    * set (tiny under the threshold) is then eagerly materialized via
    * `localCheckpoint` and the intermediate is unpersisted before
    * returning — repeated calls leave no INTERMEDIATE blocks behind
    * (spec'd), and downstream iterative consumers (connected components)
    * read a materialized frame instead of re-planning the whole shingle
    * pipeline. The checkpointed RESULT blocks (one tiny pair set per
    * call) live until the returned frame is GC'd — the caller owns that
    * reference, as with any checkpointed frame.
    *
    * @param maxDocFreq shingles appearing in more than this many docs are
    *                   dropped from the index (boilerplate / skew guard).
    * @param minJaccard similarity threshold on |A∩B| / |A∪B|.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5, maxDocFreq: Long = 20L): DataFrame =
    // the exploded index has a single consumer (the fused df-cap/postings
    // pass shuffles it once) — only the postings, read by both the pair
    // explode and the per-doc sizes, need a cache
    checkpointReleasing(cached => jaccardPairsFromExploded(
      explodedShingles(docs, idCol, textCol, n),
      minJaccard, maxDocFreq, cached))

  /** `build`'s result, checkpointed in one eager job, after which every
    * frame `build` passed through its `cached` argument (persisted at
    * [[Checkpoints.Intermediate]]) is unpersisted: the caches make a
    * multi-consumer upstream run once, and unpersisting here (not at LRU
    * eviction) bounds the session's cache footprint to the call. */
  private def checkpointReleasing(
      build: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val intermediates = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val out = build { df =>
      val p = df.persist(Checkpoints.Intermediate); intermediates += p; p
    }
    val mat = out.cutLineage(true)
    intermediates.foreach(_.unpersist(false))
    mat
  }

  /** Pair generation from an already-materialized distinct (doc_id,
    * shingle) index — the composition point for operators that reuse one
    * shingle pipeline across several sketches (see [[sketchVsExactPairs]]).
    *
    * r13 probe note (OPTIMIZATION_r13.md §13): fusing the per-doc dedup
    * into the shingle-partitioned stage here (dropDuplicates after the
    * repartition) was measured a WASH — the dedup upstream is already
    * exchange-free because HashPartitioning(doc_id) from completeGrams
    * satisfies its ClusteredDistribution(doc_id, shingle), and running it
    * BEFORE the shingle exchange shuffles deduped rows instead of raw
    * multiplicity.
    * The two-exchange shape below is the optimal one; not changed.
    */
  private[graft] def jaccardPairsFromExploded(exploded: DataFrame,
      minJaccard: Double, maxDocFreq: Long,
      cached: DataFrame => DataFrame): DataFrame = {
    // ONE shuffle by shingle serves both the df cap and the postings
    // build: document frequency is a full-frame window count inside the
    // shingle partition (WindowExec's row buffer SPILLS on a viral
    // shingle — unlike a collect_list of an uncapped posting, the
    // non-spillable buffer this pipeline is designed never to build), the
    // cap filter runs in the same stage, and only then is the posting
    // list collected — provably ≤ maxDocFreq elements. The earlier
    // two-phase form (df aggregate + semi-join) had the same safety but
    // paid a second full shuffle of the index and forced a persist of the
    // exploded frame; this form reads the shingle stream exactly once.
    // post-shuffle work here is the window count over already-exploded
    // rows (multiplier 1); unknown stats fall back to defaultParallelism
    val par = graft.Conf.sizedShufflePartitions(exploded, rowMultiplier = 1.0)
    val idx = exploded
      .repartition(par, col("shingle"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .where(col("__df") <= maxDocFreq)
    val postings = cached(
      idx.groupBy("shingle")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(col("ids")))
    // Candidate pairs generated in-row from each posting (≤ df²/2 per
    // shingle) — replaces a posting⋈posting self-join whose shuffle
    // dominated the original formulation. `ids` is an attribute: lambdas
    // may reference it freely (no recompute).
    // singleton postings (df = 1) generate no pairs — prune before the
    // explode; `sizes` below still counts them (they are real shingles of
    // their document, just shared with nobody). No repartition here: with
    // the cap the expansion is ≤ df²/2 ≤ 190 structs per row — light
    // enough that AQE's coalescing does no harm (unlike the CPU-heavy
    // shingle assembly above).
    val pairs = postings.where(size(col("ids")) >= 2)
      .select(explode(flatten(
      transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
    val common = pairs
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    // per-doc shingle counts over the SAME pruned index (cap-consistent)
    val sizes = postings
      .select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    common
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id_a", "n_sh" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "id_b", "n_sh" -> "n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The [[DriverBound]] gate of [[connectedComponentsCached]]:
    * `Some(labels)`, a local table that no longer reads `e`, when the
    * materialized edge frame `e` (columns src, dst) is bounded, null-free
    * and integer-keyed; `None` → run the distributed loop. */
  private def driverCcLabels(e: DataFrame): Option[DataFrame] = {
    val srcT = e.schema("src").dataType
    if (srcT != e.schema("dst").dataType ||
        (srcT != LongType && srcT != IntegerType)) return None
    val n = count(lit(1))
    val nullFree = count(col("src")) === n && count(col("dst")) === n
    DriverBound.collect(e, DriverBound.CcEdges,
        size = when(nullFree, n).otherwise(lit(Long.MaxValue))) { edgeRows =>
      val collected = edgeRows.map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      val schema = StructType(Seq(
        StructField("id", srcT), StructField("label", srcT)))
      val rows = new java.util.ArrayList[Row]()
      unionFindMinLabels(collected).foreach { case (id, lb) =>
        rows.add(if (srcT == LongType) Row(id, lb) else Row(id.toInt, lb.toInt))
      }
      e.sparkSession.createDataFrame(rows, schema)
    }
  }

  /** Driver-side label table for a BOUNDED collected edge list: union-find
    * with min-root union (the smaller root adopts the larger), so every
    * tree's root IS the smallest id of its component and `find(id)` is
    * exactly the converged min-label-propagation answer — same labels as
    * the distributed rounds by definition, not by convergence luck.
    * Path halving keeps the scan near-linear. Returns one (id, label) pair
    * per distinct node appearing in any edge — the distributed contract.
    */
  private[graft] def unionFindMinLabels(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def ensure(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x)
    def find(x0: Long): Long = {
      var x = x0
      var p: Long = parent.get(x)
      while (p != x) {
        val gp: Long = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      ensure(a); ensure(b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) {
      val id: Long = it.next()
      out(i) = (id, find(id)); i += 1
    }
    out
  }

  /** Connected components over a near-duplicate pair list (edge list) by
    * iterative min-label propagation: every node's label converges to the
    * smallest id reachable from it — the canonical "group near-dup pairs
    * into duplicate clusters, keep one representative" step after
    * [[jaccardPairs]] / [[lshCandidatePairs]] / [[embeddingDupPairs]].
    *
    * Scale design: each round is two shuffled equi-joins + a min
    * aggregation (all partial-aggregatable); rounds needed = graph
    * diameter, and similarity graphs under a document-frequency cap have
    * small, bounded components (a component's diameter cannot exceed its
    * size, which the cap bounds). The driver-side loop is a CONVERGENCE
    * check, not per-row work — the standard pattern for iterative graph
    * algorithms on Spark.
    *
    * Job-count discipline (serial driver jobs dominate wall-clock when
    * the label table is small): the input edge set is checkpointed once
    * (cutting an arbitrarily expensive upstream), and the undirected
    * mirror is a NARROW in-row explode over it — no union branches, no
    * distinct, no shuffle, recomputed for free from the checkpointed
    * blocks each round. Dedup is unnecessary for correctness: min-label
    * propagation is idempotent under duplicate edges and self-loops (a
    * duplicate only widens a join; a self-loop contributes the node's own
    * label to its neighbor-min), so dirty inputs cost join width, never
    * wrong labels. The seed and every iteration use LAZY checkpoints
    * materialized by the convergence count, so a round costs one job.
    * (A fused two-steps-per-job variant was measured and REGRESSED: under
    * a df cap components are shallow and the seed already folds round 1,
    * so most runs converge at the first check and the second step's two
    * extra shuffles are pure waste.)
    *
    * Retained checkpoints are handed out ([[Checkpoints.CachedResult]]):
    * on the distributed side, the final label table (the returned frame
    * READS it — consume, then `release()`) and, when the input edge set
    * was not already materialized, the edge checkpoint; the driver side
    * retains nothing. The in-loop rule (each superseded round released as
    * soon as its successor materializes) is internal; only the terminal
    * blocks need the caller's lifecycle.
    *
    * @return (id, label) — one row per node that appears in any edge;
    *         `label` = smallest id in the node's component.
    */
  private[graft] def connectedComponentsCached(edges: DataFrame, srcCol: String,
      dstCol: String, maxIters: Int = 25): Checkpoints.CachedResult = {
    // the edge set is read every round — checkpoint once to cut an
    // arbitrary upstream plan, UNLESS the input is already a materialized
    // RDD scan (e.g. jaccardPairs' checkpointed output): re-checkpointing
    // a checkpoint is a pure copy job
    val alreadyMaterialized = {
      import org.apache.spark.sql.catalyst.plans.logical.Project
      import org.apache.spark.sql.execution.LogicalRDD
      import org.apache.spark.storage.StorageLevel
      // a LogicalRDD can wrap an RDD with live (even nondeterministic)
      // lineage — createDataFrame(rdd) — so the plan shape alone is not
      // proof of materialization; also require the RDD itself to be
      // persisted or checkpointed before skipping the localCheckpoint
      def pinned(lr: LogicalRDD): Boolean =
        lr.rdd.getStorageLevel != StorageLevel.NONE || lr.rdd.isCheckpointed
      edges.queryExecution.optimizedPlan match {
        case lr: LogicalRDD => pinned(lr)
        case Project(_, lr: LogicalRDD) => pinned(lr)
        case _ => false
      }
    }
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (alreadyMaterialized) e0 else e0.cutLineage(true)
    val driverSide = driverCcLabels(e)
    if (driverSide.nonEmpty) {
      // the gate's collect has read the edges: release their checkpoint
      if (!alreadyMaterialized) Checkpoints.release(e)
      return Checkpoints.CachedResult(driverSide.get, Nil)
    }
    val und = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // seed labels with round 1 folded in: label₀ = min(id, min neighbor) is
    // one aggregation (no join) and saves a full propagation round; lazy —
    // the first round's count materializes it
    var labelsCkpt = und.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("label"))
      .cutLineage(false)
    var labels = labelsCkpt
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = und
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")),
          Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("dst_label")).as("nbr_min"))
      val next = labels
        .join(nbrMin.select(col("src").as("id"), col("nbr_min")), Seq("id"), "left_outer")
        .select(col("id"), col("label").as("__prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        .cutLineage(false)
      changed = next.where(col("label") =!= col("__prev")).count()
      // the count materialized `next` (all partitions — the where filters
      // rows, not partitions), so the PREVIOUS round's checkpoint blocks
      // release here instead of leaking one label table per round
      // (Dataset.unpersist would silently no-op on them — Checkpoints)
      Checkpoints.release(labelsCkpt)
      labelsCkpt = next
      labels = next.drop("__prev")
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds " +
        "(diameter exceeds the bound — raise maxIters)")
    Checkpoints.CachedResult(labels,
      if (alreadyMaterialized) Seq(labelsCkpt) else Seq(labelsCkpt, e))
  }

  /** Duplicate clusters from an edge list: one row per component with the
    * surviving (minimum) id and the member count.
    */
  def duplicateGroups(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    connectedComponentsCached(edges, srcCol, dstCol).df
      .groupBy(col("label").as("group_id"))
      .agg(count(lit(1)).as("n_members"))

  /** End-to-end near-duplicate removal: n-gram-Jaccard pairs → connected
    * components → keep each cluster's minimum-id representative. The
    * anti-join ships only the LOSER id set (strictly smaller than the
    * corpus — most documents are in no cluster at all), so the corpus
    * passes through exactly once.
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5, maxDocFreq: Long = 20L): DataFrame = {
    val pairs = jaccardPairs(docs, idCol, textCol, n, minJaccard, maxDocFreq)
    val losers = connectedComponentsCached(pairs, "id_a", "id_b").df
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    Checkpoints.release(pairs) // the returned labels no longer read the pairs
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Deterministic affine rehash family over a base xxhash64: h_i(x) =
    * a_i·h(x) + b_i (mod 2^64 via Long overflow). Odd multipliers keep the
    * map bijective.
    */
  private[graft] def permSeeds(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** (doc_id, sig) frame; docs too short to shingle keep a null signature
    * (restored via a join against the full id set).
    *
    * The signature is computed as k independent `min(a_i·h + b_i)`
    * AGGREGATES over the exploded shingle-hash rows — one codegen'd hash
    * aggregation with k functions — rather than per-row array lambdas
    * (interpreted, ~1000× slower; see [[explodedShingles]]). Identical
    * values: min over the multiset = min over the set, per permutation.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64): DataFrame = {
    val sigs = minhashSigsFromExploded(explodedShingles(docs, idCol, textCol, n), k)
    docs.select(col(idCol).as("doc_id")).join(sigs, Seq("doc_id"), "left_outer")
  }

  /** (doc_id, sig) for every document with ≥1 shingle, from a materialized
    * index (composition point — no null-signature restore join).
    */
  private[graft] def minhashSigsFromExploded(exploded: DataFrame, k: Int): DataFrame = {
    val hashes = exploded.select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val minCols = permSeeds(k).zipWithIndex.map { case ((a, b), i) =>
      min(col("h") * lit(a) + lit(b)).as(s"__m$i")
    }
    hashes.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** (doc_id, sig, band, band_hash) banded rows from signatures — the
    * storage layout of the incremental dedup index (see
    * [[ingestNearIncremental]]): each row CARRIES its signature, so an
    * index partitioned/bucketed by (band, band_hash) answers a dedup probe
    * with one equi-join and no sig-fetch shuffle — a deliberate
    * bands×-signature space-for-shuffle trade that wins when the probe
    * batch is small and the index is 100 TB-corpus-sized.
    */
  private[graft] def bandedFromSigs(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))

  /** The band-`b` slice of a signature as an array column — the value whose
    * EQUALITY defines a banding collision. `band_hash` is only the 4-byte
    * bucketing key for that 32-byte value; every candidate join re-checks
    * the slice itself, so a 32-bit hash accident can never surface a bogus
    * candidate and the candidate-set semantics contain no engine-internal
    * hash (which is what lets `q_minhash_est_error` oracle bit-exactly:
    * DuckDB mirrors slice equality, not murmur3).
    */
  private def bandSlice(sig: Column, band: Column, rowsPerBand: Int): Column =
    slice(sig, band * rowsPerBand + 1, lit(rowsPerBand))

  /** Candidate pairs (id_a < id_b, est_jaccard) from [[bandedFromSigs]]
    * rows of k-long signatures: a band-slice self-join, then the
    * estimated-Jaccard filter. */
  private def lshCandidatesFromBanded(banded: DataFrame, k: Int,
      rowsPerBand: Int, minEstJaccard: Double): DataFrame = {
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          bandSlice(col("a.sig"), col("a.band"), rowsPerBand) ===
            bandSlice(col("b.sig"), col("b.band"), rowsPerBand) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .withColumn("est_jaccard", estJaccardExpr(col("sig_a"), col("sig_b"), k))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Signature-estimated Jaccard: matching positions / k. THE estimator —
    * both the in-batch banding pairs and the incremental index probe use
    * this one expression, so the two admission paths can never diverge.
    */
  private def estJaccardExpr(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast(DoubleType) / lit(k.toDouble)

  /** Sketch-vs-exact comparison pairs: for every candidate pair the
    * MinHash banding surfaces, the signature-estimated AND the exact
    * n-gram Jaccard — the estimation-quality audit for sketch parameters.
    * ONE shingle pipeline feeds both sides (the exploded index is
    * materialized once and shared), instead of tokenizing the corpus twice.
    */
  def sketchVsExactPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      maxDocFreq: Long = 20L): DataFrame =
    // same cache-lifetime discipline as [[jaccardPairs]]: intermediates
    // persist for their multiple consumers, the audit RESULT (bounded by
    // the candidate-pair count) is checkpointed, intermediates released
    checkpointReleasing { cached =>
      val exploded = cached(explodedShingles(docs, idCol, textCol, n))
      val k = bands * rowsPerBand
      val est = cached(lshCandidatesFromBanded(bandedFromSigs(
        minhashSigsFromExploded(exploded, k), bands, rowsPerBand),
        k, rowsPerBand, 0.0))
      // Exact Jaccard ONLY where the sketch found a candidate: the capped
      // index is restricted to candidate documents, per-doc shingle sets are
      // collected (candidate docs only — a tiny fraction of the corpus), and
      // each pair is scored by set intersection. This avoids materializing
      // the full threshold-0 pair matrix just to audit the sketch.
      val rare = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDocFreq).select("shingle")
      val idx = exploded.join(rare, Seq("shingle"), "left_semi")
      val candDocs = est.select(col("id_a").as("doc_id"))
        .unionByName(est.select(col("id_b").as("doc_id"))).distinct()
      val docSets = idx.join(candDocs, Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("sh"))
      val nCommon = size(array_intersect(col("sh_a"), col("sh_b")))
      est
        .join(docSets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(docSets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("n_common", nCommon)
        // parity with jaccardPairsFromExploded(minJaccard = 0): only pairs
        // actually sharing a rare shingle have an exact row
        .where(col("n_common") >= 1)
        .withColumn("jaccard",
          round(col("n_common").cast(DoubleType) /
            (size(col("sh_a")) + size(col("sh_b")) - col("n_common")), 4))
        .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
  }

  /** Hamming distance between two 64-bit signatures. */
  private def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures frame. Like [[minhashSignatures]], computed as 64
    * codegen'd bit-count SUM aggregates over exploded token hashes (the
    * token MULTISET — occurrence counts weight the vote, as in the
    * original algorithm); token-less docs keep a null signature.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = graft.Conf.sizedShufflePartitions(docs, rowMultiplier = 1.0)
    val hashes = docs.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitCols = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"__b$b"))
    val agg = hashes.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"), bitCols: _*)
    val sig = (0 until 64).map(b =>
      when(col(s"__b$b") * 2 >= col("__n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    docs.select(col(idCol).as("doc_id"))
      .join(agg.select(col("doc_id"), sig.as("simhash")), Seq("doc_id"), "left_outer")
  }

  /** Near-duplicate pairs from any 64-bit hamming-space signature (SimHash,
    * image perceptual hash — `Multimodal.imagePHash`) by banded search, the
    * Manku/Jain/Sarma web-dedup scheme: split the signature into `nBands`
    * equal bit bands; any two signatures within hamming distance
    * `maxDist < nBands` agree exactly on at least one band (pigeonhole), so
    * the band-value equi-join generates ALL qualifying pairs — guaranteed
    * recall — and the cheap bit-count filter discards the rest.
    *
    * Scale shape: signatures explode to `nBands` rows (8 B values — bodies
    * never move), one shuffle on (band, bandValue) feeds both the bucket
    * cap and the self-join (same key, exchange reused). Join blow-up is
    * Σ bucket²; `maxBucket` drops degenerate buckets (e.g. the all-zero
    * signature of blank/boilerplate media) before they go quadratic — the
    * same viral-key guard as [[jaccardPairs]]'s df cap, and like it a
    * recall trade documented at the call site, applied deterministically.
    *
    * @return (a, b, dist): id pairs with a < b, hamming distance ≤ maxDist.
    */
  def hammingNearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
      nBands: Int = 4, maxDist: Int = 3, maxBucket: Long = 100000L): DataFrame = {
    require(nBands > 0 && 64 % nBands == 0, s"nBands must divide 64, got $nBands")
    require(maxDist < nBands,
      s"recall guarantee needs maxDist < nBands, got $maxDist >= $nBands")
    val bandBits = 64 / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    def bandVal(sig: Column, b: Int): Column =
      shiftrightunsigned(sig, b * bandBits).bitwiseAND(lit(mask))
    val bandVals = (0 until nBands).map(b => bandVal(col(sigCol), b))
    val bands = sigs.where(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"),
        posexplode(array(bandVals: _*)).as(Seq("__band", "__bv")))
    val withBc = bands
      .withColumn("__bc", count(lit(1))
        .over(Window.partitionBy(col("__band"), col("__bv"))))
    // Per-signature capped-bands bitmask: bit J set iff this signature's
    // band-J bucket was dropped by the cap. One narrow window over the
    // banded metadata (id, sig, band, value, count — bodies never here);
    // rows of one signature regroup on __id, each reads the OR of its
    // siblings' capped flags. No driver fetch, no broadcast, no bound to
    // tune — the cost is one extra exchange of the 4-rows-per-signature
    // metadata stream (A/B'd r13: +0.34 s on q_image_neardup vs the
    // capped-blind r12 form, the cheapest of three correct candidates —
    // capped-keys-as-literals and per-band broadcast flag joins both
    // recompute or re-broadcast the upstream and measured +0.7 s).
    val withMask = withBc.withColumn("__capmask",
      sum(when(col("__bc") > maxBucket,
        call_function("shiftleft", lit(1L), col("__band")))
        .otherwise(lit(0L)))
        .over(Window.partitionBy(col("__id"))))
    val kept = withMask.where(col("__bc") <= maxBucket)
    val l = kept.select(col("__band"), col("__bv"),
      col("__id").as("a"), col("__sig").as("__sa"),
      col("__capmask").as("__cma"))
    val r = kept.select(col("__band"), col("__bv"),
      col("__id").as("b"), col("__sig").as("__sb"))
    // FIRST-SURVIVING-agreeing-band rule (r12 optimization, cap semantics
    // fixed per the r12 verdict): a pair within the hamming ball agrees
    // on ≥1 band (pigeonhole) and near-identical signatures agree on MOST
    // bands — the plain band join emits such a pair once per agreeing
    // band and needs a corpus-of-pairs `distinct()` shuffle to collapse
    // the copies (on a near-dup-heavy input that shuffle dominated the
    // operator: q_image_neardup's pair stage was 2.4 s of its 3.0 s).
    // Keeping a joined row only when every earlier band disagrees OR was
    // capped makes each qualifying pair unique by construction — the pair
    // is emitted exactly at its first agreeing band whose bucket SURVIVES
    // the cap, which is precisely the set the per-band+distinct form
    // keeps under a firing cap. (The r12 form tested earlier bands at the
    // signature level only: a pair whose first agreeing band was capped
    // but whose later agreeing band survived was silently lost — harmless
    // at driver SFs where no bucket nears the cap, a recall hole at the
    // scale the cap exists for. Spec-pinned: OpsSpec's firing-cap parity
    // test.) At an agreeing band both signatures share the bucket, so the
    // LEFT side's capmask bit decides for the pair.
    val earlierBandsDisagreeOrCapped = (0 until nBands).map { j =>
      lit(j) >= col("__band") ||
        bandVal(col("__sa"), j) =!= bandVal(col("__sb"), j) ||
        shiftright(col("__cma"), j).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    l.join(r, Seq("__band", "__bv"))
      .where(col("a") < col("b") && earlierBandsDisagreeOrCapped)
      .select(col("a"), col("b"),
        hamming64(col("__sa"), col("__sb")).cast(LongType).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Canonicalization: given near-duplicate pairs, keep exactly ONE
    * document per duplicate cluster chosen by an explicit preference order
    * (e.g. longest copy first), not merely the smallest id — the curation
    * policy step after pair generation. Non-duplicate documents pass
    * through untouched (each is its own singleton group).
    *
    * Scale shape: connected components label only the documents that
    * appear in a pair (normally a vanishing fraction of the corpus under
    * a df cap), so only those documents compete — the contest is an inner
    * join of the corpus against the broadcast label set, a window over
    * that small frame, and a broadcast anti-join of the LOSER ids back
    * onto the corpus. The corpus is scanned (column-pruned) but never
    * shuffled; the earlier formulation windowed the ENTIRE corpus by
    * group (singletons included), a full-corpus exchange that dominates
    * at 100 TB.
    *
    * Adaptivity: the label set is already materialized by the CC loop, so
    * one [[DriverBound]] decision on its estimated broadcast bytes picks
    * the plan — past the bound (a heavily-duplicated corpus where the
    * labeled set is corpus-scale, the case a blind broadcast would OOM on)
    * it falls back to shuffled joins of the same shape, still windowing
    * only the contenders.
    *
    * Precondition: `idCol` values are unique. Rows sharing an id all
    * survive or all drop together under the anti-join (dedup ids first —
    * [[dropExactDuplicates]] — if the input can carry duplicates).
    */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, preference: Seq[Column]): DataFrame = {
    val labels = connectedComponentsCached(pairs, aCol, bCol).df
      .withColumnRenamed("id", idCol)
    // payload bytes, not rows: wide string ids can make a modest row count
    // a multi-GB broadcast. ~2 B/char UTF-16 in the broadcast hash map +
    // per-row object overhead — coarse but order-of-magnitude-safe
    val estBytes = coalesce(sum(length(col(idCol).cast("string")) +
      length(col("label").cast("string"))), lit(0L)) * 2 + count(lit(1)) * 48
    val small = DriverBound.fits(labels, DriverBound.BroadcastBytes, estBytes)
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val contenders = docs.join(side(labels), Seq(idCol))
    val w = Window.partitionBy(col("label"))
      .orderBy(preference: _*)
    val losers = contenders
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") =!= 1)
      .select(col(idCol))
    docs.join(side(losers), Seq(idCol), "left_anti")
  }

  /** Train/eval decontamination: flag corpus documents that share at least
    * `minShared` distinct n-gram shingles with any held-out evaluation
    * document — the standard benchmark-leakage sweep run before training.
    *
    * Scale design (corpus = 100 TB, eval set = small by construction):
    *  - both sides are shingled with the same codegen'd explode+lead
    *    pipeline as [[jaccardPairs]];
    *  - eval shingles with document frequency > `maxEvalDf` (boilerplate
    *    present in many eval docs) are dropped BEFORE the join, so a viral
    *    shingle fans each corpus row out to at most `maxEvalDf` matches —
    *    the join blow-up is bounded by a constant, not by |eval|;
    *  - the pruned eval index is broadcast: the corpus side never
    *    shuffles — the whole sweep is one map-side join plus one hash
    *    aggregation keyed by corpus doc id.
    *
    * @return (doc_id, n_shared_shingles, n_eval_docs) for corpus docs at or
    *         above the `minShared` threshold.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 5,
      minShared: Long = 3L, maxEvalDf: Long = 10L): DataFrame = {
    // raw (with within-doc multiplicity) corpus grams: the countDistinct
    // aggregations below are multiplicity-insensitive and partial-
    // aggregate their own (doc_id, shingle/eval_id) dedup — but only on
    // rows SURVIVING the broadcast join (normally a vanishing fraction).
    // explodedShingles' upfront dropDuplicates would hash-aggregate the
    // ENTIRE corpus gram stream first — a full-corpus pass that buys
    // nothing here (r13; the eval side keeps the distinct: its df cap
    // counts documents per shingle).
    val corpusSh = rawShingles(corpus, idCol, textCol, n)
    val evalSh = explodedShingles(evalSet, idCol, textCol, n)
      .withColumnRenamed("doc_id", "eval_id")
    val rareEval = evalSh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxEvalDf).select("shingle")
    val evalIdx = evalSh.join(rareEval, Seq("shingle"), "left_semi")
    corpusSh
      .join(broadcast(evalIdx), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .where(col("n_shared_shingles") >= minShared)
  }

  /** Per-document contamination SCORE against an eval/benchmark set — the
    * measuring twin of [[decontaminate]] (which drops): for each corpus
    * doc with at least `n` tokens, the count of its distinct word
    * n-grams, how many of those appear anywhere in the eval set, and the
    * integer-permyriad overlap fraction. Thresholding on the score is
    * the caller's policy (report, quarantine, or drop); the permyriad is
    * `floor(10000·shared/total)` — one exact integer product under 2^53
    * and one double division, identical IEEE ops cross-engine.
    *
    * Scale shape: eval suites are small and fixed — their distinct
    * shingle set BROADCASTS; the corpus is tokenized once and the flag
    * join is map-side, so the corpus never shuffles except for the
    * per-doc aggregation on `doc_id` (narrow rows). Docs with fewer than
    * `n` tokens have no complete gram and are absent (score undefined).
    */
  def contaminationScore(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val corpusSh = explodedShingles(corpus, idCol, textCol, n)
    val evalSh = explodedShingles(evalSet, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .withColumn("__hit", lit(1))
    corpusSh
      .join(broadcast(evalSh), Seq("shingle"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), // corpusSh is distinct per doc
        sum(coalesce(col("__hit"), lit(0))).cast(LongType)
          .as("n_contaminated"))
      .withColumn("contamination_pm",
        floor(lit(10000.0) * col("n_contaminated") / col("n_grams"))
          .cast(LongType))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
    * the MOSS local-fingerprinting algorithm), over word n-gram hashes:
    * every window of `w` consecutive gram hashes contributes its
    * (hash, position)-minimum, and the union of selected (position,
    * hash) pairs is the document's fingerprint set. The winnowing
    * guarantee follows: any token run shared between two documents
    * spanning at least w + n − 1 tokens shares at least one selected
    * fingerprint — unlike a global MinHash, matches LOCALIZE (the
    * position says where), which is what plagiarism/overlap attribution
    * needs. The (hash, position) tie-break makes selection a pure
    * function of the token stream — deterministic and cross-engine
    * reproducible (the oracle replays xxhash64 and the same windowed
    * struct-min).
    *
    * Scale shape: gram assembly reuses the one-shuffle window of
    * [[Dedup.decontaminate]]'s pipeline (`completeGrams`); selection is
    * two window functions over the same (doc_id, pos) ordering — no
    * additional shuffle — and the final distinct shuffles only the
    * selected ~2N/(w+1) fingerprint rows, never the corpus. Docs
    * shorter than w grams winnow their single truncated window (the
    * whole doc), so every doc with ≥ n tokens yields ≥ 1 fingerprint.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1, "gram size and winnow window must be positive")
    val grams = completeGrams(docs, idCol, textCol, n)
    val gramCols = col("tok") +: (1 until n).map(i => col(s"__t$i"))
    val hashed = grams.select(col("doc_id"), col("pos"),
      xxhash64(concat_ws(" ", gramCols: _*)).as("h"))
    val sel = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val whole = Window.partitionBy(col("doc_id"))
    hashed
      .withColumn("__sel", min(struct(col("h"), col("pos"))).over(sel))
      .withColumn("__n", count(lit(1)).over(whole))
      // only COMPLETE windows select (starts 0..N-w); a doc with fewer
      // than w grams keeps its single truncated window at start 0
      .where(col("pos") <= greatest(lit(0), col("__n") - lit(w)))
      .select(col("doc_id"), col("__sel.pos").as("pos"),
        col("__sel.h").as("fingerprint"))
      .distinct()
  }

  // --------------------------------------------------- incremental ingest

  /** Result of one incremental-ingest round.
    * @param accepted     batch rows admitted to the corpus
    * @param dropped      (doc_id, match_id) for rejected batch docs —
    *                     match_id is an indexed doc, an earlier accepted
    *                     batch doc, or the kept canonical of an in-batch
    *                     duplicate group
    * @param newIndexRows banded signature rows for the accepted docs; the
    *                     caller appends them to the persisted index
    * @param caches       lineage cuts taken on the caller's behalf (the
    *                     banded signatures, the index matches, and the
    *                     in-batch connected components' edges and
    *                     labels): all three outputs read them, so call
    *                     [[Checkpoints.release]] on each only once the
    *                     outputs are consumed, or a long-running caller —
    *                     a daily-ingest stream — accumulates blocks
    *                     (`unpersist` does not reach a cut)
    */
  final case class IngestResult(accepted: DataFrame, dropped: DataFrame,
      newIndexRows: DataFrame, caches: Seq[DataFrame] = Nil)

  /** Signatures for EVERY document: the real MinHash where shingles exist,
    * and a degenerate whole-text signature (`xxhash64(text)` repeated k
    * times) for docs too short to shingle. The degenerate form makes short
    * docs behave as exact-match-only within the same banding machinery —
    * identical texts collide in every band (est = 1.0), different texts
    * collide only on a 64-bit hash accident — so short docs still dedup
    * and still land in the index (without this, a short doc is accepted on
    * every ingest round, breaking the re-ingest invariant).
    */
  private def sigsWithFallback(docs: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int): DataFrame = {
    val real = minhashSigsFromExploded(
      explodedShingles(docs, idCol, textCol, n), k)
    docs.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("__th"))
      .join(real, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("sig"), array_repeat(col("__th"), k)).as("sig"))
  }

  /** Build the initial banded signature index for a corpus (the layout
    * [[ingestNearIncremental]] probes and appends to).
    */
  def buildNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    bandedFromSigs(
      sigsWithFallback(docs, idCol, textCol, n, bands * rowsPerBand),
      bands, rowsPerBand)

  /** Incremental near-duplicate ingest: admit a new batch against a
    * PERSISTED banded MinHash index without ever re-shingling the
    * historical corpus — the only formulation that scales to a corpus that
    * grows forever. Cost per round is O(|batch|) signature work plus two
    * equi-joins: batch-banded vs index (band, band_hash), and batch vs
    * itself (standard LSH banding).
    *
    * Admission rule (deterministic): a batch doc is dropped if its
    * estimated Jaccard reaches `minEstJaccard` against ANY indexed doc;
    * among the remaining docs, in-batch duplicate groups (connected
    * components over banding pairs) keep their lowest-id member.
    * Re-ingesting an already-accepted batch therefore drops every doc.
    */
  def ingestNearIncremental(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.7): IngestResult = {
    val k = bands * rowsPerBand
    // geometry guard: probing an index built with a different k silently
    // admits every duplicate (band hashes never collide) — fail fast on
    // one index row. bands/rowsPerBand splits of the SAME k must still
    // match the build (documented contract, same as countMinEstimate).
    index.select(size(col("sig"))).limit(1).collect().foreach { r =>
      require(r.getInt(0) == k,
        s"index signature length ${r.getInt(0)} != bands*rowsPerBand = $k — " +
          "the probe must use the index's build parameters")
    }
    // the banded signatures feed three consumers (index probe, in-batch
    // pairs, new index rows) and the index matches three more (the pair
    // filter, the survivors, the dropped rows): cut each eagerly, so every
    // consumer plans against a LogicalRDD leaf; callers own the cuts
    // (IngestResult.caches)
    val cuts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cut(df: DataFrame): DataFrame = {
      val c = Checkpoints.cut(df, eager = true); cuts += c; c
    }
    val banded = cut(bandedFromSigs(
      sigsWithFallback(batch, idCol, textCol, n, k), bands, rowsPerBand))
    // probe the persisted index: band-bucket equi-join, est-Jaccard filter,
    // ONE surviving match per batch doc is enough to reject it
    val vsIndex = cut(banded.as("n")
      .join(index.as("i"),
        col("n.band") === col("i.band") &&
          col("n.band_hash") === col("i.band_hash") &&
          bandSlice(col("n.sig"), col("n.band"), rowsPerBand) ===
            bandSlice(col("i.sig"), col("i.band"), rowsPerBand))
      .where(estJaccardExpr(col("n.sig"), col("i.sig"), k) >= minEstJaccard)
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(min(col("i.doc_id")).as("match_id")))
    // in-batch near-dup pairs among docs that survived the index probe
    val inBatchPairs =
      lshCandidatesFromBanded(banded, k, rowsPerBand, minEstJaccard)
        .join(vsIndex.select(col("doc_id").as("id_a")), Seq("id_a"), "left_anti")
        .join(vsIndex.select(col("doc_id").as("id_b")), Seq("id_b"), "left_anti")
    // ONE connected-components run serves both the canonical pick and the
    // dropped-doc attribution: with min-id preference the component label
    // IS the kept canonical. Its labels need no cut of their own: they are
    // a local relation on the driver side of the gate and the final label
    // cut on the distributed side.
    val cc = connectedComponentsCached(inBatchPairs, "id_a", "id_b")
    cuts ++= cc.caches
    val labels = cc.df
      .withColumnsRenamed(Map("id" -> "doc_id", "label" -> "keep_id"))
    val droppedInBatch = labels
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id").as("match_id"))
    val survivors0 = batch.join(vsIndex.select("doc_id"),
      batch(idCol) === vsIndex("doc_id"), "left_anti")
    val accepted = survivors0.join(
      droppedInBatch.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
    val newIndexRows = banded
      .join(accepted.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
    IngestResult(accepted, vsIndex.unionByName(droppedInBatch), newIndexRows,
      cuts.toSeq)
  }

  /** Exact incremental ingest: admit batch docs whose content digest
    * appears in neither the persisted digest index nor an earlier-id doc
    * of the same batch. The 100-TB shape: the history contributes ONE
    * 16-byte digest per doc (never its body), the probe is a digest
    * anti-join, and within-batch ties resolve by a digest-partitioned
    * row_number — all shuffles carry digests, not documents.
    *
    * @param indexDigests one-column (`digest`) frame of historical digests
    * @return accepted batch rows with their `digest` column attached
    */
  def ingestExactIncremental(batch: DataFrame, indexDigests: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("digest")).orderBy(col(idCol))
    batch
      .withColumn("digest", md5(col(textCol)))
      .join(indexDigests, Seq("digest"), "left_anti")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }

  /** Embedding-cosine near-duplicate pairs: sub-quadratic candidate
    * generation via sign-random-projection LSH buckets (codegen'd
    * [[graft.functions.VectorFunctions.hyperplaneBucketF32]]), then exact
    * scoring of candidates with the fused `cosine_f32` kernel. Bucket join
    * is an ordinary shuffled equi-join on a long key — AQE skew-splittable.
    */
  def embeddingDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, planes: Int = 12, dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions
    val bucketed = vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("bucket", VectorFunctions.hyperplaneBucketF32(col("v"), planes, dim))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", VectorFunctions.cosineF32(col("a.v"), col("b.v")))
      .where(col("cosine") >= minCosine)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Exploded k-token window occurrences WITH positions: one row per
    * (doc, start offset), keyed by the md5 digest of the window text —
    * the same [[completeGrams]] assembly as the shingle index (array-
    * lambda shingling evaluates interpreted — measured 14× slower), but
    * keeping the token offset and NOT dedup'ing: substring-level dedup
    * needs every occurrence, not the distinct shingle set. The digest is
    * computed map-side, so the shuffle that follows carries
    * (16 B digest, id, int) — never the window text.
    */
  private def explodedWindows(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    completeGrams(docs, idCol, textCol, k)
      .select(col("doc_id"), col("pos").as("start"),
        md5(concat_ws(" ", (col("tok") +: (1 until k).map(i => col(s"__t$i"))): _*))
          .as("wkey"))

  /** Substring-level duplicated-span statistics, the k-token-granular
    * form of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * k-token window whose exact text occurs at least `minOccurrences`
    * times corpus-wide marks its [start, start+k) token range as
    * duplicated; per document, the union of marked ranges yields the
    * duplicated-token count — the signal used to strip or down-weight
    * documents dominated by boilerplate the EXACT-dup pass cannot see
    * (licence headers, navigation chrome, quoted reply chains).
    *
    * Returns one row per input document:
    * (doc_id, n_tokens, dup_windows, covered_tokens, dup_permyriad)
    * where dup_permyriad = floor(10000 · covered / n_tokens) — integer
    * arithmetic, no float-tie exposure (0 for docs shorter than k).
    *
    * Scale design (100 TB):
    *  - Window text never shuffles: occurrences travel as (digest 16 B,
    *    doc id, int offset). A 50-token window over a trillion-token
    *    corpus is ~20 B/row shuffled, not ~300 B of text.
    *  - Corpus-wide occurrence counting is the same one-shuffle window
    *    count as the Jaccard df cap ([[jaccardPairsFromExploded]]): a
    *    count over the digest partition, whose WindowExec row buffer
    *    SPILLS on a viral window (a collect_list would not) — the
    *    boilerplate window that motivates the operator is exactly the
    *    hot key the formulation must survive.
    *  - Span-union coverage is a prefix running-max inside the doc
    *    partition (one shuffle by doc id) — linear, no interval
    *    materialization.
    *  - Three shuffles total, all narrow columns; document bodies are
    *    read once at the scan and never move.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50, minOccurrences: Long = 2L): DataFrame = {
    val occ = explodedWindows(docs, idCol, textCol, k)
    // corpus-wide occurrence count inside the digest partition (spillable)
    val dupOcc = occ
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("wkey"))))
      .where(col("n_occ") >= minOccurrences)
    // interval-union sweep: tokens newly covered by this window = the part
    // of [start, start+k) past the running max end of all earlier windows
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevEnd = max(col("start") + lit(k)).over(wPrev)
    val cov = dupOcc
      .withColumn("new_cov",
        greatest(lit(0),
          col("start") + lit(k) - greatest(coalesce(prevEnd, col("start")), col("start"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_windows"),
        sum(col("new_cov")).cast(LongType).as("covered_tokens"))
    docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") > 0,
          floor(coalesce(col("covered_tokens"), lit(0L)) * lit(10000L) / col("n_tokens")))
          .otherwise(lit(0L)).cast(LongType).as("dup_permyriad"))
  }

  /** Keep documents whose duplicated-span fraction is at most
    * `maxPermyriad` (10000 = keep everything). The coverage side of the
    * semi-join is the tiny per-doc stats frame, never the bodies.
    */
  def dropSpanDuplicated(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50, minOccurrences: Long = 2L, maxPermyriad: Long = 2000L): DataFrame =
    dropSpanDuplicated(docs, idCol,
      duplicatedSpans(docs, idCol, textCol, k, minOccurrences), maxPermyriad)

  /** [[dropSpanDuplicated]] over PRECOMPUTED [[duplicatedSpans]] stats
    * (r6 verdict item 2): a composed pipeline that just inspected the
    * span stats — or materialized them as a curation artifact — pays the
    * three-shuffle span scan ONCE and this overload only the per-doc
    * filter + semi-join. The stats side of the semi-join is the tiny
    * (doc_id, counters) frame, never the bodies.
    */
  def dropSpanDuplicated(docs: DataFrame, idCol: String, stats: DataFrame,
      maxPermyriad: Long): DataFrame = {
    val keep = stats
      .where(col("dup_permyriad") <= maxPermyriad)
      .select(col("doc_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * corpus with a coarse quantizer, compute pairwise cosine ONLY within
    * each cluster, and drop every vector that has a lower-id neighbor at
    * cosine ≥ `minCosine` — the paper's rule (maximum similarity to any
    * earlier item). The neighbor counts even when it was itself dropped,
    * so this is NOT [[keepCanonical]]'s rule (one kept document per
    * connected cluster): in a chain A–B, B–C with cos(A, C) < `minCosine`
    * both B and C drop, and C is left with no kept neighbor; in a V shape
    * A–C, B–C only C drops. SemanticDedupSpec pins both cases.
    *
    * Returns (vec_id, centroid_id, is_dropped) for every input vector.
    *
    * Scale design (100 TB): the quantizer bounds the pair space — cost is
    * Σ cluster², never corpus². The paper's operating point holds that
    * bound by growing k with the corpus (cluster size ≈ corpus/k stays
    * constant, so the join is linear in corpus × cluster size); the
    * cluster join itself is an ordinary shuffled equi-join on a small int
    * key that AQE skew-splits if the quantizer leaves a hot cluster. The
    * scoring kernel is the fused codegen'd `cosine_f32`.
    *
    * The internally-checkpointed assignment frame is handed out for
    * release ([[Checkpoints.CachedResult]]): a long-running caller
    * (per-batch streaming invocation) that drops it accumulates one
    * assignment table per call until ContextCleaner GC. Consume `df`,
    * then `release()`.
    */
  def semanticDedupCached(vecs: DataFrame, idCol: String, vecCol: String,
      index: graft.ops.Similarity.IvfIndex,
      minCosine: Double = 0.95): Checkpoints.CachedResult = {
    // The assignment (a k·dim argmin kernel over EVERY vector) is the
    // dominant per-vector cost and feeds three consumers (both self-join
    // sides and the final select) — lazily localCheckpoint so it computes
    // once per action instead of three times. Blocks belong to the first
    // materializing action; partitioning preservation doesn't matter here
    // (the pair join re-shuffles on centroid_id regardless).
    val assigned = Similarity.ivfAssign(vecs, idCol, vecCol, index)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        col("centroid_id").cast(LongType).as("centroid_id"))
      .cutLineage(false)
    Checkpoints.CachedResult(dropLowestIdNeighbors(assigned, minCosine),
      Seq(assigned))
  }

  /** SemDeDup at the scaled-k operating point with TWO-LEVEL assignment
    * ([[Similarity.hierarchicalAssign]]'s fused kernel): the cluster key
    * is the sub-cell id, found in O(k1 + k2) = O(√k) distance
    * evaluations per vector instead of O(k) — the SCALING.md next-decade
    * answer for growing k with the corpus. Same pair-bound contract as
    * [[semanticDedupCached]] with k = k1·k2 cells; same greedy lowest-id
    * keep; same lifecycle for the checkpointed assignment it hands out.
    *
    * `subFlat` is row-major (k1·k2)×dim with super cell c's sub table at
    * rows [c·k2, (c+1)·k2) — train one sub fit per super cell
    * ([[Similarity.trainIvfCentroids]] on the cell's members).
    */
  def semanticDedupHierCached(vecs: DataFrame, idCol: String, vecCol: String,
      superFlat: Array[Double], subFlat: Array[Double], k2: Int, dim: Int,
      minCosine: Double = 0.95): Checkpoints.CachedResult = {
    import graft.functions.VectorFunctions
    val assigned = vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("centroid_id",
        VectorFunctions.hierCellF32(col("v"), superFlat, subFlat, k2, dim)
          .cast(LongType))
      .cutLineage(false) // the √k argmin kernel runs once per action
    Checkpoints.CachedResult(dropLowestIdNeighbors(assigned, minCosine),
      Seq(assigned))
  }

  /** Shared SemDeDup core over a pre-assigned (vec_id, v, centroid_id)
    * frame: within-cluster pair join (cost Σ cluster², the operator's
    * scale contract), exact cosine on candidates, drop every vector with
    * a lower-id neighbor at ≥ `minCosine`. */
  private def dropLowestIdNeighbors(assigned: DataFrame,
      minCosine: Double): DataFrame = {
    import graft.functions.VectorFunctions
    val dropped = assigned.as("x")
      .join(assigned.as("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .where(VectorFunctions.cosineF32(col("x.v"), col("y.v")) >= minCosine)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("__dropped", lit(true))
    assigned.select(col("vec_id"), col("centroid_id"))
      .join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("__dropped"), lit(false)).as("is_dropped"))
  }

  /** Paragraph-level exact dedup — the C4 / RefinedWeb boilerplate pass
    * that document-level dedup cannot express: a navigation bar, cookie
    * banner or license header repeats across MILLIONS of otherwise-unique
    * pages, so no whole-document digest ever collides, yet the repeated
    * paragraphs dominate the token stream. Split each document on the
    * LITERAL separator `sep`, drop every non-empty paragraph whose exact
    * md5 digest occurs in more than `maxDocFreq` distinct documents
    * (dropped EVERYWHERE, including its first occurrence — boilerplate
    * has no canonical owner), and reassemble the survivors in original
    * order. Within-document repeats of a non-viral paragraph are kept:
    * the unit of evidence is the distinct-document count, not the
    * occurrence count.
    *
    * Returns one row per document with at least one non-empty paragraph:
    * (`idCol`, clean_text, n_paras, n_removed). A document whose every
    * paragraph is boilerplate survives with clean_text = '' and
    * n_removed = n_paras — the length/quality gate downstream is the
    * right place to drop it, not a silent disappearance here.
    *
    * Scale shape (100 TB):
    *  - the paragraph explode is narrow (no shuffle);
    *  - the boilerplate set is ONE aggregation keyed by the 16-byte
    *    digest (distinct-doc counting partially aggregates map-side;
    *    paragraph bodies are column-pruned out of it);
    *  - paragraphs drop via a LEFT join against that digest set — sized
    *    by the number of DISTINCT viral paragraphs, not their occurrence
    *    count, so AQE broadcasts it in practice and the corpus never
    *    re-shuffles for the probe. The viral paragraph that would make a
    *    shingle-index bucket quadratic is, by construction, IN the build
    *    side here rather than exploding a join bucket;
    *  - reassembly is ONE shuffle by document id; order is restored by
    *    an in-row sort of the collected (pos, para) structs, bounded by
    *    the document size like every other per-doc array in this file.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val paras = paragraphFrame(docs, idCol, textCol, sep)
    val boiler = paras
      .groupBy(col("pdigest"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))
      .where(col("doc_freq") > maxDocFreq)
      .select(col("pdigest"))
    reassembleParagraphs(paras, boiler, idCol, sep)
  }

  /** WITHIN-document line dedup — C4's other text-level pass: keep the
    * FIRST occurrence of each distinct line inside a document, drop the
    * repeats, preserve order. The complement of [[dedupParagraphs]]
    * (cross-corpus evidence, three exchanges): in-doc repetition needs
    * no other document's evidence, so this is a ZERO-SHUFFLE narrow
    * projection — split, keep-first filter, rejoin, all in-row.
    *
    * The keep-first filter is `array_position` inside a lambda —
    * O(lines²) string comparisons per document, the same in-row bound as
    * every per-doc array op in this file (a document's line count is
    * bounded; the corpus is not). `lines` is staged as a column first:
    * Spark's subexpression elimination does not reach lambda bodies, and
    * an inline split would re-tokenize per element (O(lines³) chars).
    *
    * Returns (`idCol`, clean_text, n_lines, n_removed) for every doc
    * with at least one non-empty line; empty lines are dropped from both
    * the output and the counts, as in [[dedupParagraphs]].
    */
  def dedupLinesInDoc(docs: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    docs
      .select(col(idCol),
        filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
          l => l =!= "").as("lines"))
      .where(size(col("lines")) > 0)
      .select(col(idCol),
        col("lines"),
        filter(col("lines"), (x, i) =>
          array_position(col("lines"), x) === (i + lit(1)).cast(LongType))
          .as("kept"))
      .select(col(idCol),
        array_join(col("kept"), sep).as("clean_text"),
        size(col("lines")).cast(LongType).as("n_lines"),
        (size(col("lines")) - size(col("kept"))).cast(LongType).as("n_removed"))

  /** One row per non-empty paragraph: (`idCol`, pos, para, pdigest). */
  private def paragraphFrame(docs: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .where(col("para") =!= "")
      .withColumn("pdigest", md5(col("para")))

  /** Drop paragraphs whose digest is in `boiler` (a `pdigest` column),
    * reassemble survivors per doc in original order — the shared tail of
    * the batch and incremental paragraph passes. */
  private def reassembleParagraphs(paras: DataFrame, boiler: DataFrame,
      idCol: String, sep: String): DataFrame =
    paras.join(boiler.select(col("pdigest"), lit(true).as("__boiler")),
        Seq("pdigest"), "left_outer")
      .select(col(idCol), col("pos"), col("para"),
        col("__boiler").isNull.as("keep"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("keep"), col("para")))),
              x => x.getField("keep")),
            x => x.getField("para")),
          sep).as("clean_text"),
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))

  /** Per-digest distinct-document paragraph frequencies — the persisted
    * index of the incremental paragraph pass, and the bootstrap for an
    * existing corpus: (pdigest, doc_freq). 24-byte rows; the corpus
    * bodies never enter it. */
  def paragraphIndex(docs: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    paragraphFrame(docs, idCol, textCol, sep)
      .groupBy(col("pdigest"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))

  /** Cleaned batch + the index delta to persist. */
  final case class ParagraphDedupResult(docs: DataFrame, indexDelta: DataFrame)

  /** Incremental [[dedupParagraphs]] — the append-cadence form (same
    * contract family as [[ingestExactIncremental]]): clean ONE batch of
    * new documents against the accumulated paragraph-frequency `index`
    * ([[paragraphIndex]] schema), where a paragraph is boilerplate when
    * its index frequency PLUS its distinct-doc frequency in this batch
    * exceeds `maxDocFreq`. Returns the cleaned batch and the batch's own
    * frequency delta — persist it (plain append is fine: an index with
    * several rows per digest is summed internally before probing) so the
    * next batch sees this one.
    *
    * Honest semantics, both inherent to incremental cleaning:
    *  - NOT retroactive: a paragraph that crosses the threshold at batch
    *    N is removed from batch N onward; copies already emitted in
    *    earlier batches stay emitted (re-clean the corpus with the batch
    *    operator when that matters).
    *  - batch ids must be NEW documents: the distinct-doc evidence is
    *    summed across batches, so re-ingesting a document under the same
    *    id still counts it twice (the exact-dedup ingest upstream is the
    *    guard that makes this moot in the composed pipeline).
    *
    * Scale shape: O(|batch|) everywhere except one streamed scan of the
    * index — the batch's digest set is BROADCAST against it (a batch's
    * distinct paragraphs are bounded; the index, ~one row per distinct
    * corpus paragraph, is the big side and never shuffles), so the join
    * is exchange-free on the index side. Everything else (delta
    * aggregation, reassembly) touches batch rows only.
    */
  def dedupParagraphsIncremental(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, sep: String,
      maxDocFreq: Long): ParagraphDedupResult = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val paras = paragraphFrame(batch, idCol, textCol, sep)
    val delta = paras.groupBy(col("pdigest"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))
    // accept the appended-deltas shape too: sum per digest FIRST, or an
    // index holding (X,1),(X,1) would be probed row-by-row and silently
    // under-remove (each row alone below the threshold, the sum above it)
    val summed = index.groupBy(col("pdigest"))
      .agg(sum(col("doc_freq")).as("doc_freq"))
    // combined evidence, without shuffling the index: digests the index
    // has seen get index + batch counts (broadcast inner join); digests
    // new in this batch stand on their batch count alone
    val fromIndex = summed
      .join(broadcast(delta.select(col("pdigest"),
        col("doc_freq").as("batch_freq"))), Seq("pdigest"))
      .where(col("doc_freq") + col("batch_freq") > maxDocFreq)
      .select(col("pdigest"))
    val fromBatch = delta.where(col("doc_freq") > maxDocFreq)
      .select(col("pdigest"))
    val boiler = fromIndex.unionByName(fromBatch).distinct()
    ParagraphDedupResult(reassembleParagraphs(paras, boiler, idCol, sep), delta)
  }
}
