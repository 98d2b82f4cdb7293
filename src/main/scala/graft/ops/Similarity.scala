package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - Brute-force cosine top-k: exact, one narrow scan + TakeOrderedAndProject
  *    (no full sort materialization). The right baseline, and at 100 TB still
  *    viable per-query because the scan is embarrassingly parallel and
  *    Catalyst prunes to just (id, vec) columns.
  *  - Random-hyperplane LSH buckets: sub-linear candidate generation for
  *    batch ANN (all-pairs / many-query workloads) — the scale path. Bucket
  *    ids are plain longs, so candidate joins are ordinary shuffled
  *    equi-joins that AQE can coalesce or skew-split.
  *
  * All hot-path math runs through the native codegen'd kernels in
  * [[graft.functions.VectorFunctions]] (`cosine_f32`,
  * `hyperplane_bucket_f32`) — measured 4.7× faster than the interpreted
  * higher-order-function formulation, bit-identical results (same
  * left-to-right double accumulation). The HOF versions below are kept as
  * the portable REFERENCE implementations; specs assert kernel/HOF parity.
  */
object Similarity {
  import graft.functions.VectorFunctions

  /** Cast array<float> to array<double> once, up front — keeps all
    * downstream arithmetic in stable double precision. (Reference path
    * only; the kernels consume the raw float arrays.)
    */
  def toDoubleVec(v: Column): Column = transform(v, _.cast(DoubleType))

  /** Reference (interpreted HOF) implementations — for parity specs and
    * engines without the native kernels; NOT the hot path.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k by cosine against one query vector. `orderBy(...).limit(k)`
    * plans as TakeOrderedAndProject: per-partition heaps + driver merge of k
    * rows — no global sort shuffle.
    */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    // query vectors originate from float32 embeddings, so the float literal
    // is lossless; scoring runs the codegen'd fused kernel
    val q = typedLit(query.map(_.toFloat))
    vecs
      .withColumn("cos_sim", VectorFunctions.cosineF32(col(vecCol), q))
      // a zero-norm vector (missing/failed embedding) scores 0/0 = NaN and
      // Spark sorts NaN GREATEST — without this guard k such rows would
      // displace every real neighbor from the top-k
      .where(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (seeded, generated at
    * plan time on the driver; ~dim·planes doubles — trivially broadcast as
    * literals inside the codegen'd expression).
    */
  private[graft] def hyperplanes(dim: Int, planes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection bucket id: bit i = (v · h_i) > 0. Nearby vectors
    * (small angle) collide with high probability. Reference HOF formulation
    * over `array<double>`; the hot path is the codegen'd
    * [[graft.functions.VectorFunctions.hyperplaneBucketF32]] (bit-identical).
    */
  def hyperplaneBucket(v: Column, planes: Int, dim: Int = 64, seed: Long = 42L): Column =
    hyperplanes(dim, planes, seed).zipWithIndex.map { case (h, i) =>
      when(dot(v, typedLit(h)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Bucket assignment frame for batch ANN pipelines. `dim` must match the
    * embedding dimensionality (the hyperplanes are generated at plan time).
    */
  def lshBuckets(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int = 12, dim: Int = 64): DataFrame =
    vecs.select(col(idCol), col(vecCol))
      .withColumn("bucket",
        VectorFunctions.hyperplaneBucketF32(col(vecCol), planes, dim))

  /** ANN top-k for one query via LSH with multiprobe: search the query's
    * bucket plus all 1-bit-flip neighbor buckets, exact-score candidates,
    * return top-k. At scale, bucketing bounds the scored candidate set to
    * ~(1+planes)/2^planes of the corpus.
    */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, planes: Int = 12): DataFrame = {
    val dim = query.size
    val hs = hyperplanes(dim, planes)
    val qBucket = hs.zipWithIndex.map { case (h, i) =>
      val d = h.zip(query).map { case (x, y) => x * y }.sum
      if (d > 0.0) 1L << i else 0L
    }.reduce(_ | _)
    val probes = qBucket +: (0 until planes).map(i => qBucket ^ (1L << i))
    val q = typedLit(query.map(_.toFloat))
    lshBuckets(vecs, idCol, vecCol, planes, dim)
      .where(col("bucket").isin(probes: _*))
      .withColumn("cos_sim", VectorFunctions.cosineF32(col(vecCol), q))
      .where(!isnan(col("cos_sim"))) // zero-norm guard (see bruteForceTopK)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos_sim"), col("bucket"))
  }

  // ------------------------------------------------------------------ IVF

  /** IVF coarse quantizer: `k` centroids (row-major flat, k × dim). */
  final case class IvfIndex(centroidsFlat: Array[Double], dim: Int) {
    def k: Int = centroidsFlat.length / dim
    def centroid(c: Int): Array[Double] =
      java.util.Arrays.copyOfRange(centroidsFlat, c * dim, (c + 1) * dim)
    /** Nearest-`nprobe` centroid ids to a query vector (squared L2,
      * deterministic lowest-id tie-break — same contract as the
      * assignment kernel).
      */
    def probes(query: Seq[Double], nprobe: Int): Seq[Int] =
      (0 until k).map { c =>
        val off = c * dim
        var dist = 0.0
        var j = 0
        val n = math.min(dim, query.size)
        while (j < n) { val d = query(j) - centroidsFlat(off + j); dist += d * d; j += 1 }
        (dist, c)
      }.sortBy(identity).take(nprobe).map(_._2)
  }

  /** Train an IVF coarse quantizer with Lloyd's algorithm on a BOUNDED,
    * deterministic sample. Index build is a driver-side model fit — the
    * sample (`sampleSize` × dim doubles, ~1 MB) is a parameter fetch, not a
    * data-path collect; assignment of the full corpus stays distributed
    * through the codegen'd kernel. Determinism: the sample is the
    * `sampleSize` lowest `xxhash64(id)` rows (a TakeOrdered, stable across
    * partitionings), init = first k sample vectors, sequential driver-side
    * accumulation, empty clusters keep their previous centroid.
    */
  def trainIvfCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, sampleSize: Int = 2048, iters: Int = 10): IvfIndex = {
    val sample = fetchSample(vecs, idCol, vecCol, sampleSize)
    require(sample.nonEmpty, "cannot train IVF centroids on an empty corpus")
    val dim = sample.head.length
    IvfIndex(lloyd(sample, k, iters, dim).flatten, dim)
  }

  /** The `sampleSize` lowest-`xxhash64(id)` vectors — a deterministic,
    * partitioning-stable TakeOrdered parameter fetch (~1 MB). */
  private def fetchSample(vecs: DataFrame, idCol: String, vecCol: String,
      sampleSize: Int): Array[Array[Double]] = vecs
    .where(col(vecCol).isNotNull) // null embeddings cannot train a quantizer
    .orderBy(xxhash64(col(idCol)), col(idCol))
    .limit(sampleSize)
    .select(col(vecCol))
    .collect()
    .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** Driver-side Lloyd fit on an in-memory sample: init = first k sample
    * vectors, strict-`<` squared-L2 argmin with lowest-id tie-break
    * (kernel contract), empty clusters keep their previous centroid.
    * Returns min(k, sample.length) centroids of length `dim`.
    */
  private def lloyd(sample: Array[Array[Double]], k: Int, iters: Int,
      dim: Int): Array[Array[Double]] = {
    val kk = math.min(k, sample.length)
    var centroids = Array.tabulate(kk)(i =>
      java.util.Arrays.copyOf(sample(i), dim)) // short vectors pad with 0.0
    (0 until iters).foreach { _ =>
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      sample.foreach { v =>
        var best = 0; var bestDist = Double.MaxValue
        var c = 0
        val vd = math.min(dim, v.length) // ragged-dim clamp (kernel parity)
        while (c < kk) {
          var dist = 0.0; var j = 0
          while (j < vd) { val d = v(j) - centroids(c)(j); dist += d * d; j += 1 }
          if (dist < bestDist) { bestDist = dist; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < vd) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(kk) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Train the two-level quantizer [[hierarchicalAssign]] consumes, from
    * ONE bounded sample job: super fit (k1 cells) on the sample, then one
    * sub fit (k2 cells) per super cell on the sample members that land
    * there — all driver-side, so the cost of growing k = k1·k2 with the
    * corpus never adds Spark jobs (vs k1 separate [[trainIvfCentroids]]
    * calls = k1 sample scans). Returns (superFlat k1×dim, subFlat
    * row-major (k1·k2)×dim with cell c's block at [c·k2, (c+1)·k2)).
    *
    * Degenerate cells stay deterministic and harmless: a super cell with
    * fewer than k2 sample members pads its sub block by repeating the
    * super centroid (corpus vectors landing there argmin to the lowest
    * padded id); sample assignment uses the same strict-`<` lowest-id
    * tie-break as the distributed kernel.
    */
  def trainHierCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      k1: Int, k2: Int, sampleSize: Int = 4096,
      iters: Int = 10): (Array[Double], Array[Double]) = {
    val sample = fetchSample(vecs, idCol, vecCol, sampleSize)
    require(sample.nonEmpty, "cannot train hier centroids on an empty corpus")
    val dim = sample.head.length
    val sup = lloyd(sample, k1, iters, dim)
    val kk1 = sup.length
    val members = Array.fill(kk1)(scala.collection.mutable.ArrayBuffer
      .empty[Array[Double]])
    sample.foreach { v =>
      var best = 0; var bestDist = Double.MaxValue
      var c = 0
      val vd = math.min(dim, v.length)
      while (c < kk1) {
        var dist = 0.0; var j = 0
        while (j < vd) { val d = v(j) - sup(c)(j); dist += d * d; j += 1 }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      members(best) += v
    }
    val sub = (0 until kk1).flatMap { c =>
      val fit = lloyd(members(c).toArray, k2, iters, dim)
      fit ++ Array.fill(k2 - fit.length)(sup(c).clone()) // pad short cells
    }
    (sup.flatten, sub.toArray.flatten)
  }

  /** Full-corpus Lloyd training where each iteration is ONE distributed
    * pass: assignment runs the codegen'd `nearest_centroid_f32` kernel,
    * per-centroid per-coordinate sums reduce through two-phase aggregation
    * (map-side partial combine first), and only k × dim (sum, count) cells
    * reach the driver per iteration — shuffle volume is
    * O(partitions × k × dim), independent of corpus size. Use over
    * [[trainIvfCentroids]] when the corpus has drifted past what a bounded
    * sample represents; at 100 TB each iteration is a full scan of the
    * narrow (id, vec) projection, so keep `iters` small (Lloyd converges
    * fast from hash-spread seeds).
    *
    * Semantics match the sample fit: init = k lowest-`xxhash64(id)`
    * vectors, empty clusters keep their previous centroid, squared-L2
    * assignment with lowest-id tie-break (the kernel contract). Coordinate
    * means divide by that coordinate's contributor count, which differs
    * from the sample fit only on ragged-dimension corpora. Distributed
    * double summation is partition-order dependent in the last ulps
    * (inherent to any distributed mean); Lloyd assignment is robust to
    * that away from exact distance ties.
    */
  def trainIvfCentroidsDistributed(vecs: DataFrame, idCol: String,
      vecCol: String, k: Int = 16, iters: Int = 10): IvfIndex = {
    val clean = vecs
      .where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol))
    val seeds = clean
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(seeds.nonEmpty, "cannot train IVF centroids on an empty corpus")
    val dim = seeds.head.length
    // short seed vectors pad with 0.0 — the flat table must be k × dim
    var flat: Array[Double] =
      Array.concat(seeds.map(s => java.util.Arrays.copyOf(s, dim)): _*)
    (0 until iters).foreach { _ =>
      val cells = clean
        .withColumn("centroid_id",
          graft.functions.VectorFunctions.nearestCentroidF32(
            col(vecCol), flat, dim))
        .select(col("centroid_id"),
          posexplode(col(vecCol)).as(Seq("pos", "v")))
        .where(col("pos") < dim) // ragged clamp — kernel scores only j < dim
        // null ELEMENTS (not null arrays) must leave both the numerator and
        // the denominator, or the mean biases toward 0; dropping them here
        // also guarantees no all-null cell can emit a null sum row
        .where(col("v").isNotNull)
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(col("v").cast(DoubleType)).as("s"), count(lit(1)).as("n"))
        .collect()
      // start from the previous table so empty clusters keep their centroid
      val next = java.util.Arrays.copyOf(flat, flat.length)
      cells.foreach { r =>
        next(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      flat = next
    }
    IvfIndex(flat, dim)
  }

  /** Deterministic pseudo-random centroid table (seeded Gaussian, generated
    * at plan time like [[hyperplanes]]) — a fixed coarse quantizer for
    * oracle-checkable assignment queries and kernel benchmarks.
    */
  private[graft] def fixedCentroids(k: Int, dim: Int, seed: Long = 7L): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(k * dim)(rnd.nextGaussian())
  }

  /** Distributed assignment: each vector gains its nearest-centroid id via
    * the fused codegen'd kernel (`nearest_centroid_f32`).
    */
  def ivfAssign(vecs: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex): DataFrame =
    vecs.select(col(idCol), col(vecCol))
      .withColumn("centroid_id",
        graft.functions.VectorFunctions.nearestCentroidF32(
          col(vecCol), index.centroidsFlat, index.dim))

  /** Two-level coarse assignment (the scaled-k answer from SCALING.md's
    * next-decade caveat): argmin over k1 super centroids, then over the
    * winning cell's k2 sub centroids — k1 + k2 distance evaluations per
    * vector instead of k1 × k2, so growing the cell count with the corpus
    * costs O(√k · dim), not O(k · dim). One narrow codegen'd projection
    * (fused [[graft.functions.VectorExpressions.HierCellF32]] kernel).
    * Train the tables with [[trainIvfCentroids]]: super on the corpus,
    * then one sub fit per super cell on its members (`subFlat` row-major
    * (k1 · k2) × dim, cell c's block at [c·k2, (c+1)·k2)).
    */
  def hierarchicalAssign(vecs: DataFrame, idCol: String, vecCol: String,
      superFlat: Array[Double], subFlat: Array[Double], k2: Int,
      dim: Int): DataFrame = {
    val cell = graft.functions.VectorFunctions.hierCellF32(
      col(vecCol), superFlat, subFlat, k2, dim)
    vecs.select(col(idCol), col(vecCol))
      .withColumn("cell_id", cell.cast(LongType))
      .withColumn("super_id", (col("cell_id") / k2).cast(LongType))
      .select(col(idCol), col("super_id"), col("cell_id"))
  }

  /** Prototypicality scores (Sorscher et al. 2022, "Beyond neural scaling
    * laws: beating power law scaling via data pruning"): each vector's
    * assigned prototype and its squared L2 distance to it. Distance far
    * from EVERY prototype flags outliers/noise for pruning; distance near
    * zero flags prototype-redundant points (the "easy" examples the paper
    * drops first when data is abundant). One narrow codegen'd projection —
    * both kernels share the centroid table and accumulation order, so
    * (centroid_id, sq_dist) are always mutually consistent. The argmin
    * and min-dist kernels each scan the table (2·k·dim per row); a fused
    * struct-returning kernel would halve that, but at coarse-quantizer k
    * the projection is dominated by per-row overhead, and two scalar
    * kernels keep every expression independently usable in filters and
    * SQL registration — the split is deliberate.
    */
  def prototypicality(vecs: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex): DataFrame =
    vecs.select(col(idCol), col(vecCol))
      .withColumn("centroid_id",
        graft.functions.VectorFunctions.nearestCentroidF32(
          col(vecCol), index.centroidsFlat, index.dim).cast(LongType))
      .withColumn("sq_dist",
        round(graft.functions.VectorFunctions.centroidMinSqDistF32(
          col(vecCol), index.centroidsFlat, index.dim), 4))
      .drop(vecCol)

  /** IVF top-k: scan only the `nprobe` nearest inverted lists instead of
    * the corpus (candidate fraction ≈ nprobe/k), exact-score candidates
    * with the fused cosine kernel, return top-k. The assignment predicate
    * is a partition-prunable equality on a small int — on a corpus
    * written partitioned by `centroid_id`, probing reads ONLY those
    * partitions' files.
    */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String, index: IvfIndex,
      query: Seq[Double], k: Int, nprobe: Int = 2): DataFrame = {
    val probeIds = index.probes(query, nprobe)
    val q = typedLit(query.map(_.toFloat))
    ivfAssign(vecs, idCol, vecCol, index)
      .where(col("centroid_id").isin(probeIds: _*))
      .withColumn("cos_sim", VectorFunctions.cosineF32(col(vecCol), q))
      .where(!isnan(col("cos_sim"))) // zero-norm guard (see bruteForceTopK)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos_sim"), col("centroid_id"))
  }

  // ------------------------------------------------ incremental IVF lists

  /** On-disk layout of the incremental index: normalized list rows under
    * `lists/batch_id=N/centroid_id=C/`, quantizer under `quantizer/`.
    * Explicit read schema (partition columns appended) — a crash can
    * leave the newest batch directory without readable files, and an
    * inferring read would then fail every recovery instead of pruning. */
  private val listsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("batch_id", LongType),
    StructField("centroid_id", LongType)))

  private def hadoopExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The persisted frozen quantizer, if this index has one yet. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[IvfIndex] =
    if (!hadoopExists(spark, s"$indexPath/quantizer")) None
    else {
      val r = spark.read.parquet(s"$indexPath/quantizer").head()
      Some(IvfIndex(r.getSeq[Double](r.fieldIndex("flat")).toArray,
        r.getInt(r.fieldIndex("dim"))))
    }

  private def saveIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, index: IvfIndex): Unit = {
    import spark.implicits._
    Seq((index.dim, index.centroidsFlat.toSeq)).toDF("dim", "flat")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/quantizer")
  }

  /** INCREMENTAL IVF index maintenance (streaming ANN): ingest one batch
    * of vectors by coarse-assigning it against the index's FROZEN
    * quantizer and appending the rows as centroid-partitioned list files;
    * the probe path ([[ivfListsProbe]]) is the ordinary IVF read,
    * unchanged. The quantizer comes from, in order: the one already
    * persisted in the index; `pretrained`; a fresh [[trainIvfCentroids]]
    * fit on THIS batch (the bootstrap batch defines the geometry) — and
    * is then persisted beside the lists. It is never re-trained here:
    * re-fitting on a later batch would silently re-geometry every
    * existing list (old rows become unreachable from new probe sets) —
    * an index REBUILD is an explicit batch operation, not maintenance.
    *
    * Exactly-once: per-batch-directory OVERWRITE, the same replay
    * contract as [[graft.streaming.ParagraphStreaming]] — a re-delivered
    * batch id regenerates its directory identically instead of appending
    * duplicates.
    *
    * Scale shape: per batch, one narrow codegen'd assignment projection
    * + one `repartition(centroid_id)`-free partitioned write (the
    * partitionBy writer routes rows without a shuffle barrier beyond the
    * write itself); history is never re-read or re-assigned.
    */
  def ivfIngestBatch(vecs: DataFrame, idCol: String, vecCol: String,
      batchId: Long, indexPath: String, pretrained: Option[IvfIndex] = None,
      k: Int = 16): IvfIndex = {
    val spark = vecs.sparkSession
    val index = loadIvfIndex(spark, indexPath).getOrElse {
      val idx = pretrained.getOrElse(trainIvfCentroids(vecs, idCol, vecCol, k))
      saveIvfIndex(spark, indexPath, idx)
      idx
    }
    ivfAssign(vecs, idCol, vecCol, index)
      .select(col(idCol).cast(LongType).as("vec_id"),
        col(vecCol).cast(ArrayType(FloatType)).as("embedding"),
        col("centroid_id").cast(LongType).as("centroid_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("centroid_id")
      .parquet(s"$indexPath/lists/batch_id=$batchId")
    index
  }

  /** Probe the incremental index: resolve the frozen quantizer, pick the
    * query's `nprobe` nearest lists, and scan ONLY those lists' files —
    * the `centroid_id` equality is a partition-directory prune across
    * every batch (batches union, centroids prune), so probe cost tracks
    * nprobe/k of the indexed volume regardless of how many batches built
    * it. Scoring and ranking are identical to [[ivfTopK]].
    */
  def ivfListsProbe(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, query: Seq[Double], k: Int,
      nprobe: Int = 2): DataFrame = {
    val index = loadIvfIndex(spark, indexPath).getOrElse(throw
      new IllegalArgumentException(s"$indexPath has no persisted quantizer"))
    val probeIds = index.probes(query, nprobe).map(_.toLong)
    val q = typedLit(query.map(_.toFloat))
    spark.read.schema(listsSchema).parquet(s"$indexPath/lists")
      .where(col("centroid_id").isin(probeIds: _*))
      .withColumn("cos_sim", VectorFunctions.cosineF32(col("embedding"), q))
      .where(!isnan(col("cos_sim"))) // zero-norm guard (see bruteForceTopK)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cos_sim"), col("centroid_id"))
  }

  /** Element-wise mean pooling of embedding vectors per group — the
    * chunk-embeddings → document-embedding step (and the class-centroid
    * builder): a long document is embedded in chunks, and downstream
    * dedup/search wants ONE vector per document. Returns
    * (group_id, centroid: array<double>, n_vectors).
    *
    * Bit-exact across engines and partitionings: each float element is
    * scaled by 2^24 and floored to a LONG before summing — a float's
    * 24-bit mantissa times 2^24 is exact in double, so the floor is
    * deterministic, and integer sums commute (a naive float mean is
    * accumulation-order-dependent and non-reproducible under AQE
    * re-planning). The division back to double is one fixed-order
    * operation per element.
    *
    * Scale shape: narrow explode, then ONE aggregation keyed by
    * (group, position) — groups × dim keys, map-side combined — and one
    * group-keyed reassembly; ragged vectors average over the elements
    * present at each position.
    */
  def meanPool(vecs: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val fx = 16777216.0 // 2^24
    vecs
      .select(col(groupCol).as("group_id"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("group_id"), col("pos"))
      .agg(sum(floor(col("x").cast(DoubleType) * lit(fx)).cast(LongType))
          .as("fxs"),
        count(lit(1)).as("n"))
      .groupBy(col("group_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"),
            (col("fxs").cast(DoubleType) / lit(fx) / col("n").cast(DoubleType))
              .as("v")))),
          _.getField("v")).as("centroid"),
        max(col("n")).as("n_vectors"))
  }
}
