package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content about spark engines and scale"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "unrelated short text")).toDF("doc_id", "text")

  test("exact dedup: duplicate group found, min id kept") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.count() == 4)
    val dupe = groups.where($"n_dups" === 2).head()
    assert(dupe.getAs[Long]("keep_id") == 1L)
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() == 4)
  }

  test("ngram jaccard: near-dup pair found with correct similarity") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      minJaccard = 0.3, maxDocFreq = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // docs 1,2,4 share 6 of 8 distinct 3-gram shingles; (1,4) identical
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 4L && j == 1.0 })
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.7 && j < 1.0 })
    assert(!pairs.exists { case (a, b, _) => Set(a, b).contains(3L) })
  }

  /** RDD ids persisted now that were not in `before`. */
  private def persistedSince(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  test("jaccardPairs unpersists its intermediates: bounded cache across repeated calls") {
    // the result checkpoint is the caller's to release; once it is, every
    // block the call persisted must be gone
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (1 to 3).foreach { i =>
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        minJaccard = 0.3, maxDocFreq = 10L)
      assert(pairs.count() > 0)
      Checkpoints.release(pairs)
      assert(persistedSince(before).isEmpty, s"call $i left a persisted intermediate behind")
    }
    // same contract for the sketch-audit pipeline (2 cached intermediates)
    val audit = Dedup.sketchVsExactPairs(docs, "doc_id", "text")
    audit.count()
    Checkpoints.release(audit)
    assert(persistedSince(before).isEmpty,
      "sketchVsExactPairs left a persisted intermediate behind")
  }

  test("connectedComponents on the driver side leaves no edge checkpoint behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b") // lazy: not materialized
    val cc = Dedup.connectedComponentsCached(edges, "a", "b")
    assert(cc.df.collect().length == 5)
    assert(cc.caches.isEmpty, "the driver side hands out no frame")
    assert(persistedSince(before).isEmpty, "connectedComponents left a checkpoint behind")
  }

  test("incremental near-dup ingest: index dups, in-batch dups, novel docs") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "completely different content about spark engines and scale limits"))
      .toDF("doc_id", "text")
    val index = Dedup.buildNearDupIndex(history, "doc_id", "text")
    val batch = Seq(
      // near-dup of indexed doc 1 → dropped against the index
      (10L, "the quick brown fox jumps over the lazy cat and runs away fast"),
      // in-batch near-dup pair → lowest id kept
      (11L, "some fresh never before seen writing about incremental ingestion"),
      (12L, "some fresh never before seen writing about incremental ingestion!"),
      // novel → accepted
      (13L, "entirely unrelated prose concerning distributed database design"),
      // too short to shingle: degenerate whole-text signature — in-batch
      // exact pair (14 kept, 15 dropped), still indexed for later rounds
      (14L, "hi"),
      (15L, "hi"))
      .toDF("doc_id", "text")
    val r = Dedup.ingestNearIncremental(batch, index, "doc_id", "text",
      minEstJaccard = 0.5)
    val accepted = r.accepted.select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(11L, 13L, 14L), s"accepted: $accepted")
    val dropped = r.dropped.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(dropped(10L) == 1L, s"doc 10 should match indexed doc 1: $dropped")
    assert(dropped(12L) == 11L, s"doc 12 should lose to in-batch 11: $dropped")
    assert(dropped(15L) == 14L, s"short doc 15 should lose to in-batch 14: $dropped")
    // appending the accepted rows makes re-ingest reject everything —
    // including the short doc, whose degenerate signature must be indexed
    val grown = index.unionByName(r.newIndexRows)
    val again = Dedup.ingestNearIncremental(batch, grown, "doc_id", "text",
      minEstJaccard = 0.5)
    assert(again.accepted.count() == 0,
      "re-ingesting an already-accepted batch must drop every doc")
    // probing with mismatched band geometry must fail fast, not silently
    // admit duplicates
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestNearIncremental(batch, grown, "doc_id", "text",
        bands = 8, rowsPerBand = 4, minEstJaccard = 0.5)
    }
    assert(e.getMessage.contains("signature length"))
  }

  test("exact incremental ingest: digest index + earlier-id batch doc win") {
    val hist = Seq("alpha text body").toDF("text").select(md5($"text").as("digest"))
    val batch = Seq(
      (5L, "alpha text body"),   // in the index → dropped
      (6L, "beta text body"),    // novel, earliest of its digest → kept
      (7L, "beta text body"),    // in-batch dup of 6 → dropped
      (8L, "gamma text body"))   // novel → kept
      .toDF("doc_id", "text")
    val got = Dedup.ingestExactIncremental(batch, hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(6L, 8L), s"accepted: $got")
  }

  test("minhash signatures: identical docs → identical sigs; near-dups mostly agree") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(4L))
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    assert(agree12 > 32, s"near-dups should agree on most minhashes, got $agree12/64")
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    assert(agree13 < 16, s"unrelated docs should rarely agree, got $agree13/64")
  }

  test("lsh banding: candidate pairs contain the true near-dups") {
    val cands = Dedup.sketchVsExactPairs(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L)))
    assert(cands.contains((1L, 2L)))
  }

  test("simhash: exact dups identical, near-dups close in hamming space") {
    val sh = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("connected components: chains merge, singletons isolated, label = min id") {
    val edges = Seq(
      (5L, 3L), (3L, 9L), (9L, 12L), // chain → component {3,5,9,12} label 3
      (20L, 21L),                    // pair → component {20,21} label 20
      (30L, 30L)                     // self-loop → singleton {30}
    ).toDF("a", "b")
    val cc = consume(Dedup.connectedComponentsCached(edges, "a", "b"))(
      _.collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(3L, 5L, 9L, 12L).forall(cc(_) == 3L), s"chain labels wrong: $cc")
    assert(cc(20L) == 20L && cc(21L) == 20L)
    assert(cc(30L) == 30L)
    val groups = Dedup.duplicateGroups(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(3L -> 4L, 20L -> 2L, 30L -> 1L))
  }

  test("dropNearDuplicates keeps one representative per jaccard cluster") {
    val docs = graft.Tables.documents(spark, sf)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text")
    val removedIds = consume(Dedup.connectedComponentsCached(pairs, "id_a",
      "id_b"))(_.where(col("id") =!= col("label")).count())
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text")
    assert(kept.count() == docs.count() - removedIds)
    // no surviving near-dup pair: both endpoints never kept together
    val keptIds = kept.select(col("doc_id")).as[Long].collect().toSet
    val survivors = pairs.collect()
      .count(r => keptIds(r.getLong(0)) && keptIds(r.getLong(1)))
    assert(survivors == 0, s"$survivors near-dup pairs survived dedup")
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)), // near-dup of 1
      (3L, Array(-1.0f, 0.5f, 0.5f, -0.2f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(vecs, "vec_id", "embedding",
      minCosine = 0.99, planes = 4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("hammingNearDupPairs: guaranteed recall at maxDist, cap, null sigs") {
    val base = 0x5a5a5a5a5a5a5a5aL
    val sigs = Seq[(Long, java.lang.Long)](
      (1L, base),
      (2L, base),                        // dist 0
      (3L, base ^ 1L),                   // dist 1
      (4L, base ^ ((1L << 63) | (1L << 31) | (1L << 2))), // dist 3, spread bands
      // dist >= 4 from EVERY other signature (one flip per 16-bit band)
      (5L, base ^ ((1L << 53) | (1L << 37) | (1L << 21) | (1L << 5))),
      (6L, null)).toDF("id", "sig")
    val got = Dedup.hammingNearDupPairs(sigs, "id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 0 && got((1L, 3L)) == 1 && got((1L, 4L)) == 3)
    assert(got((2L, 3L)) == 1 && got((2L, 4L)) == 3)
    assert(!got.contains((3L, 4L)), "dist-4 pair (3,4) leaked")
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L), "dist>=4 leaked")
    assert(!got.keySet.exists(p => p._1 == 6L || p._2 == 6L), "null sig leaked")
    // viral-bucket cap: every row identical → all buckets exceed cap → none pair
    val viral = (1L to 10L).map(i => (i, 0L)).toDF("id", "sig")
    assert(Dedup.hammingNearDupPairs(viral, "id", "sig", maxBucket = 5).count() == 0)
    // invalid geometry rejected
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(sigs, "id", "sig", nBands = 4, maxDist = 4)
    }
  }

  test("hammingNearDupPairs under a FIRING maxBucket: pair-set parity with " +
    "the per-band+distinct contract (r12 verdict item #4)") {
    // band 0 (low 16 bits) value 0xBEEF is shared by ALL rows → 6 members
    // > cap 3 → that bucket is dropped. Pairs (1,2) and (1,7)/(2,7) agree
    // on band 1 too, whose bucket (3 members) SURVIVES — the r12
    // first-agreeing-band rule lost them (earlier band 0 agrees at the
    // signature level), the per-band+distinct contract keeps them.
    val hot = 0xBEEFL
    val b1 = 0x1234L << 16 // shared band-1 value for ids 1, 2, 7
    val sigs = Seq[(Long, java.lang.Long)](
      (1L, b1 | hot),
      (2L, b1 | hot | (1L << 63)),              // dist 1 from id 1 (band 3)
      (7L, b1 | hot | (1L << 40) | (1L << 33)), // dist 2 from id 1 (band 2)
      (3L, (0x9L << 48) | (0x8L << 32) | (0x7L << 16) | hot),
      (4L, (0x6L << 48) | (0x5L << 32) | (0x4L << 16) | hot),
      (5L, (0x3L << 48) | (0x2L << 32) | (0x1L << 16) | hot),
      (6L, null)).toDF("id", "sig")
    val cap = 3L
    val got = Dedup.hammingNearDupPairs(sigs, "id", "sig", maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent oracle for the contract: pair kept iff dist <= maxDist
    // AND some agreeing band's bucket count <= cap (the r11 per-band join
    // + distinct semantics, computed directly on the collected rows)
    val rows = sigs.collect()
      .flatMap(r => if (r.isNullAt(1)) None else Some(r.getLong(0) -> r.getLong(1)))
    val bucketCount = rows.flatMap { case (_, s) =>
      (0 until 4).map(j => (j, (s >>> (16 * j)) & 0xffffL))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val expected = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
      if (0 until 4).exists(j => ((sa >>> (16 * j)) & 0xffffL) ==
        ((sb >>> (16 * j)) & 0xffffL) &&
        bucketCount((j, (sa >>> (16 * j)) & 0xffffL)) <= cap)
    } yield (a, b)).toSet
    assert(expected((1L, 2L)) && expected((1L, 7L)),
      s"test fixture broken: expected set $expected must exercise the cap skip")
    assert(got == expected,
      s"pair-set mismatch under firing cap: got $got expected $expected")
    // each pair exactly once (the no-distinct uniqueness claim)
    val n = Dedup.hammingNearDupPairs(sigs, "id", "sig", maxBucket = cap).count()
    assert(n == expected.size, s"duplicate pair rows: $n vs ${expected.size}")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f)),
    (5L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("brute-force top-k: ordering and self-similarity") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), k = 3).select("vec_id").as[Long].collect()
    assert(top.head == 1L) // identical vector first
    assert(top(1) == 2L)   // then the near one
  }

  test("meanPool: hand-checked centroid, ragged vectors, partition invariance") {
    val df = Seq(
      (0, Array(1.0f, 3.0f)),
      (0, Array(3.0f, 5.0f)),
      (1, Array(2.0f)),          // ragged: pos 1 absent
      (1, Array(4.0f, 8.0f))).toDF("label", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.meanPool(d, "label", "embedding")
        .collect().map(r => r.getInt(0) ->
          ((r.getSeq[Double](1).toList, r.getLong(2)))).toMap
    val out = run(df)
    // exactly-representable floats: fixed-point mean == plain mean
    assert(out(0) === ((List(2.0, 4.0), 2L)))
    // ragged: pos 0 averages 2 vectors, pos 1 only the one present
    assert(out(1) === ((List(3.0, 8.0), 2L)))
    // bit-identical under re-partitioning (integer sums commute)
    assert(run(df.repartition(7)) === out)
  }

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val c = vecs.select(col("vec_id"),
      Similarity.cosine(Similarity.toDoubleVec(col("embedding")),
        typedLit(Seq(1.0, 0.0, 0.0))).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(c(1L) - 1.0) < 1e-12)
    assert(math.abs(c(3L)) < 1e-12)
    assert(math.abs(c(5L) + 1.0) < 1e-12)
  }

  test("ann via LSH buckets finds the exact neighbors for clustered data") {
    val res = Similarity.annTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), k = 2, planes = 6)
      .select("vec_id").as[Long].collect()
    assert(res.contains(1L)) // the identical vector survives bucketing+probe
  }

  test("lsh buckets: identical vectors share a bucket") {
    val two = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val b = Similarity.lshBuckets(two, "vec_id", "embedding", planes = 8)
      .select("bucket").as[Long].collect()
    assert(b(0) == b(1))
  }

  test("ivf: assignment matches a driver-side argmin recompute") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8)
    assert(idx.k == 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", idx)
    // every vector assigned; more than one list populated
    assert(assigned.where(col("centroid_id").isNull).count() == 0)
    assert(assigned.select("centroid_id").distinct().count() > 1)
    // kernel argmin == IvfIndex.probes(query, 1) for a handful of vectors
    val rows = assigned.orderBy("vec_id").limit(10)
      .select("embedding", "centroid_id").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).map(_.toDouble)
      assert(idx.probes(v, 1).head == r.getInt(1))
    }
  }

  test("distributed Lloyd: matches the driver-side fit on separated clusters") {
    // three tight, well-separated clusters: every Lloyd iteration assigns
    // identically under driver-sequential and distributed-partial
    // summation (no near-ties), so the two fits must agree to FP noise
    val rnd = new scala.util.Random(11)
    val centers = Seq(Array(10.0f, 0.0f, 0.0f), Array(0.0f, 10.0f, 0.0f),
      Array(0.0f, 0.0f, 10.0f))
    val pts = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = pts.toDF("vec_id", "embedding").repartition(8)
    val ref = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
      k = 3, sampleSize = 1000, iters = 5)
    val dist = Similarity.trainIvfCentroidsDistributed(df, "vec_id", "embedding",
      k = 3, iters = 5)
    assert(dist.k == 3 && dist.dim == 3)
    val maxDiff = ref.centroidsFlat.zip(dist.centroidsFlat)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff < 1e-9, s"centroid tables diverged: max |diff| = $maxDiff")
    // each fitted centroid sits on one true cluster center
    centers.foreach { c =>
      val near = (0 until 3).exists { ci =>
        val got = dist.centroid(ci)
        c.zip(got).map { case (x, y) => math.abs(x - y) }.max < 0.1
      }
      assert(near, s"no fitted centroid near ${c.toSeq}")
    }
    // assignment through the kernel agrees between the two quantizers
    val a1 = Similarity.ivfAssign(df, "vec_id", "embedding", ref)
      .orderBy("vec_id").select("centroid_id").as[Int].collect().toSeq
    val a2 = Similarity.ivfAssign(df, "vec_id", "embedding", dist)
      .orderBy("vec_id").select("centroid_id").as[Int].collect().toSeq
    assert(a1 == a2)
  }

  test("distributed Lloyd: empty clusters keep their seed centroid (no NaN)") {
    // only two distinct vectors but k=3 ⇒ at least two seeds are identical;
    // the earliest-minimum tie-break starves the duplicate seed of every
    // assignment, so it must pass through all iterations unchanged instead
    // of collapsing to 0/0 = NaN
    val a = Array(1.0f, 2.0f)
    val b = Array(-5.0f, 3.0f)
    val pts = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) a else b))
    val df = pts.toDF("vec_id", "embedding")
    val idx = Similarity.trainIvfCentroidsDistributed(df, "vec_id", "embedding",
      k = 3, iters = 4)
    assert(idx.k == 3)
    assert(!idx.centroidsFlat.exists(_.isNaN))
    // every centroid is exactly a or b (cluster means of identical points
    // are exact; the starved seed keeps its initial vector)
    val want = Set(a.map(_.toDouble).toSeq, b.map(_.toDouble).toSeq)
    val got = (0 until 3).map(idx.centroid(_).toSeq).toSet
    assert(got.subsetOf(want) && got.size == 2, s"centroids: $got")
  }

  test("ivf top-k: finds the exact duplicate with nprobe=1") {
    val emb = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val doubled = emb.unionByName(emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
      col("embedding")))
    val idx = Similarity.trainIvfCentroids(doubled, "vec_id", "embedding", k = 8)
    val qv = emb.where(col("vec_id") === 3L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    // the identical copy (id 1000003) lands in the same inverted list, so
    // even the narrowest probe must return it first
    val top = Similarity.ivfTopK(doubled.where(col("vec_id") =!= 3L),
      "vec_id", "embedding", idx, qv, k = 1, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(top.head == 1000003L, s"expected the duplicate first, got ${top.toSeq}")
  }
}

class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def exactCounts(keys: Seq[String]): Map[String, Long] =
    keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("count-min: overestimates only, exact under no collision") {
    val keys = (1 to 40).flatMap(i => Seq.fill(i % 5 + 1)(s"key_$i"))
    val df = keys.toDF("k")
    val exact = exactCounts(keys)
    // wide sketch: 40 keys in 4×4096 cells → collisions vanishingly rare,
    // estimates must equal the truth
    val ones = df.withColumn("one", lit(1L))
    val wide = Sketch.countMinBuildWeighted(ones, "k", "one", depth = 4, width = 4096)
    val estWide = Sketch.countMinEstimate(wide, df.distinct(), "k",
      depth = 4, width = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estWide == exact, "no-collision sketch must be exact")
    // cramped sketch (4×8 cells, 40 keys): collisions guaranteed — the
    // estimate may only ever OVER-count
    val tight = Sketch.countMinBuildWeighted(ones, "k", "one", depth = 4, width = 8)
    val estTight = Sketch.countMinEstimate(tight, df.distinct(), "k",
      depth = 4, width = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(estTight(k) >= n, s"$k: est ${estTight(k)} under-counts $n")
    }
    // total cell mass per hash row is conserved (each row sees every key)
    val rowMass = tight.groupBy("row_i").agg(sum("cnt").as("m"))
      .select("m").as[Long].collect().toSet
    assert(rowMass == Set(keys.size.toLong))
  }

  test("count-min weighted build equals raw-stream build cell for cell") {
    val keys = (1 to 40).flatMap(i => Seq.fill(i % 7 + 1)(s"key_$i"))
    val df = keys.toDF("k")
    val raw = Sketch.countMinBuildWeighted(df.withColumn("one", lit(1L)), "k", "one",
        depth = 4, width = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val weighted = Sketch.countMinBuildWeighted(
        df.groupBy("k").agg(count(lit(1)).as("n")), "k", "n",
        depth = 4, width = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(weighted == raw)
  }

  test("hll: estimate accuracy, duplicate-insensitivity, partition-invariance") {
    val n = 5000
    val df = (1 to n).map(i => (s"key_$i", "g")).toDF("k", "grp")
    def est(d: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val r = Sketch.hllDistinct(d, col("k"), col("grp")).collect().head
      (r.getLong(1), r.getDouble(2))
    }
    val (z1, e1) = est(df)
    // m=256 → relative std error ~1.04/sqrt(256) = 6.5%; 3 sigma bound
    assert(math.abs(e1 - n) / n < 0.20, s"estimate $e1 off truth $n")
    // duplicates must not move a max-based register
    val (z2, e2) = est(df.union(df).union(df))
    assert(z2 == z1 && e2 == e1, "HLL must be duplicate-insensitive")
    // exact-integer harmonic sum → bit-identical under any partitioning
    val (z3, e3) = est(df.repartition(13, col("k")))
    assert(z3 == z1 && e3 == e1, "HLL must be partitioning-invariant")
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("whitespace and BPE-ish token counters on known strings") {
    val df = Seq(
      (1L, "It's   a test, isn't it?"),
      (2L, ""),
      (3L, "word")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.whitespaceTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 == 5L) // It's | a | test, | isn't | it?
    // It|'s|\s+(2sp→" a" takes one; extra spaces)|... exact segmentation:
    // [It]['s][  ( a takes 1 space, 2 extra → "\s+" run of 2? " a" consumes
    // one space] — assert relative properties instead of brittle absolutes:
    assert(out(1L)._2 > out(1L)._1, "BPE pre-tokens must outnumber ws tokens here")
    assert(out(2L) == ((0L, 0L)))
    assert(out(3L) == ((1L, 1L)))
  }

  test("token count, fingerprint stability under formatting noise") {
    val df = Seq(
      (1L, "Hello,  World! THIS is Spark."),
      (2L, "hello world this is spark")).toDF("doc_id", "text")
    val out = TextAnalysis.analyze(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") == 5L)
    // normalization makes the fingerprint formatting-invariant
    assert(out(1L).getAs[String]("fingerprint") == out(2L).getAs[String]("fingerprint"))
  }

  test("language id picks the profile with highest stopword overlap") {
    val df = Seq(
      (1L, "the cat and the dog of the house is in a tree"),
      (2L, "der hund und die katze ist nicht ein tier zu haus"),
      (3L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
        TextAnalysis.langIdFromTokens(TextAnalysis.lowerTokens($"text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "und")
  }

  test("quality score in [0,1], higher for fluent text") {
    val df = Seq(
      (1L, "the project is a large and careful piece of work that it describes in detail for the reader"),
      (2L, "zzz qq x")).toDF("doc_id", "text")
    val s = df.select($"doc_id",
        TextAnalysis.qualityScoreFromTokens(TextAnalysis.lowerTokens($"text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L))
    assert(s.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("tokens is regexp_extract_all(\\w+) on boundary and null inputs") {
    // the native kernel must return the regex forms' arrays on every input
    // class (boundaries, null, case, non-ASCII, invalid UTF-8, 1 MB), and
    // lowerTokens the same over lower(); interpreted and compiled, under
    // both ICU case-mapping settings
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import java.nio.charset.StandardCharsets.UTF_8
    val mixed = "Ab_9 \u212Aelvin caf\u00e9 STRA\u00dfE \u0130stanbul \u03a3\u039f\u03a3 " +
      "e\u0301x \ud83d\ude00y\ud83d\ude00 THE end. "
    val ascii = "The QUICK brown_fox 42 jumps, over the LAZY dog; "
    val mb = 1 << 20
    val strs = Seq[String](null, "", "!a!", "...", "a  b", "the end.", "!?., ;:-",
      "_ 0 9_9 __", "MiXeD CaSe ASCII", "\u212A", "x\u212Ay", "\u0130", "I\u0130i",
      "\u03a3", "\u039f\u03a3 \u03c3\u03c2", "\u00df \u1e9e", "e\u0301 a\u0308b",
      "\ud83d\ude00", "a\ud83d\ude00B\ud83d\udc4dc", ascii * (mb / ascii.length + 1),
      mixed * (mb / mixed.length + 1))
    val texts: Seq[Array[Byte]] = strs.map(t => if (t == null) null else t.getBytes(UTF_8)) ++
      // invalid UTF-8: a lead byte before ASCII, a lone continuation, an
      // overlong '/', a truncated 4-byte sequence, an encoded surrogate
      Seq(Array(0x41, 0xc3, 0x42, 0xff, 0x43), Array(0x80, 0x61, 0x62, 0xbf),
        Array(0x61, 0xc0, 0xaf, 0x5a), Array(0x4b, 0xf0, 0x9f, 0x98, 0x4b),
        Array(0x78, 0xed, 0xa0, 0x80, 0x59, 0xe2, 0x28, 0xa1)).map(_.map(_.toByte))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      texts.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("b", BinaryType))))
      .select(col("id"), col("b").cast(StringType).as("text"))
    def split0(c: org.apache.spark.sql.Column) = array_remove(split(c, "\\W+"), "")
    for (compiled <- Seq(false, true); icu <- Seq(true, false)) {
      val confs = Seq(
        "spark.sql.codegen.wholeStage" -> compiled.toString,
        "spark.sql.codegen.factoryMode" -> (if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.icu.caseMappings.enabled" -> icu.toString,
        // evaluate the local rows in the plan, not folded on the driver
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val out = try df.select(col("id"), TextAnalysis.tokens(col("text")),
          regexp_extract_all(col("text"), lit("\\w+"), lit(0)), split0(col("text")),
          TextAnalysis.lowerTokens(col("text")), split0(lower(col("text"))))
        .collect().map(r => r.getLong(0).toInt -> r).toMap
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      assert(out.size == texts.size)
      out.foreach { case (id, r) =>
        val mode = s"doc $id compiled=$compiled icu=$icu"
        assert(r.get(1) == r.get(2) && r.get(1) == r.get(3), s"tokens, $mode")
        assert(r.get(4) == r.get(5), s"lowerTokens, $mode")
      }
      def toks(s: String, lowered: Boolean = false) =
        Option(out(strs.indexOf(s)).getSeq[String](if (lowered) 4 else 1))
      assert(toks(null) === None && toks(null, lowered = true) === None)
      assert(toks("!a!") === Some(Seq("a")))
      assert(toks("a  b") === Some(Seq("a", "b")))
      assert(toks("the end.") === Some(Seq("the", "end")))
      // KELVIN SIGN lower-cases to ASCII 'k': a token only after lower()
      assert(toks("x\u212Ay") === Some(Seq("x", "y")))
      assert(toks("x\u212Ay", lowered = true) === Some(Seq("xky")))
      assert(toks(strs(19), lowered = true).get.size > 100000)
    }
  }

  test("repetition stats: duplicate-token fraction, empty-doc zero") {
    val df = Seq(
      (1L, "a a a b"),
      (2L, "all words here are unique"),
      (3L, "")).toDF("doc_id", "text")
    val (n, nd, ratio) = TextAnalysis.repetitionStats(col("toks"))
    val out = df.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), n.as("n"), nd.as("nd"), ratio.as("r"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 2L, 0.5)))
    assert(out(2L) == ((5L, 5L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("ngram repetition signals: hand-computed masses, short-doc nulls") {
    val df = Seq(
      (1L, "a b a b c"),  // bigrams: "a b"×2 (mass 6), "b a"×1 (3), "b c"×1 (3)
      (2L, "x"),          // too short for any n ≥ 2 → null signals
      (3L, "p q p q p q") // bigrams: "p q"×3 (9), "q p"×2 (6) → top 9/15, dup 15/15
      ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramRepetitionSignals(df, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(2, 3))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(out(1L).fieldIndex("top2_frac")) == 0.5)  // 6/12
    assert(out(1L).getDouble(out(1L).fieldIndex("dup2_frac")) == 0.5)  // 6/12
    assert(out(1L).getDouble(out(1L).fieldIndex("dup3_frac")) == 0.0)  // all trigrams unique
    assert(out(2L).isNullAt(out(2L).fieldIndex("top2_frac")))
    assert(out(3L).getDouble(out(3L).fieldIndex("top2_frac")) == 9.0 / 15.0)
    assert(out(3L).getDouble(out(3L).fieldIndex("dup2_frac")) == 1.0)
  }

  test("redaction scrubs PII patterns and counts matches") {
    val df = Seq(
      (1L, "mail me at jane.doe@example.com or call 555-123-4567, acct 12345678"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.redact(col("text"), TextAnalysis.defaultRedactionRules).as("red"),
      TextAnalysis.matchCount(col("text"),
        TextAnalysis.defaultRedactionRules.head._1).as("n_email"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == "mail me at <EMAIL> or call <PHONE>, acct <IDNUM>")
    assert(out(1L)._2 == 1L)
    assert(out(2L) == (("no pii here", 0L)))
  }

  test("webRedactionRules: each detector hits its shape and only its shape") {
    def red(s: String): String =
      Seq(s).toDF("t")
        .select(TextAnalysis.redact(col("t"), TextAnalysis.webRedactionRules))
        .head.getString(0)
    assert(red("a user7@mail.example.com b 123-45-6789 c (555) 234-5678 d 10.2.3.4 e 1234567")
      === "a <EMAIL> b <ID> c <PHONE> d <IP> e <IDNUM>")
    // rule order: ID (3-2-4) must not be half-eaten by PHONE (3-3-4);
    // IP groups must not merge into an IDNUM run
    assert(red("555-234-5678 and 123-45-6789") === "<PHONE> and <ID>")
    // email consumes its text first: the inner phone shape never leaks
    assert(red("x 555-234-5678@mail.example.com y") === "x <EMAIL> y")
    // near-misses survive: 2-2-4 digits, version string, no-TLD address
    assert(red("v1.2.3 and 12-34-5678 and user@localhost") ===
      "v1.2.3 and 12-34-5678 and user@localhost")
    // idempotent: sentinels are digit-free, a second pass is a no-op
    val once = red("call (555) 234-5678 now")
    assert(red(once) === once)
  }

  test("piiScanReport rolls up per group with per-rule totals") {
    val df = Seq(
      ("s1", "mail a@b.com and 10.0.0.1"),
      ("s1", "clean text"),
      ("s2", "ssn 123-45-6789")).toDF("src", "text")
    val rep = TextAnalysis.piiScanReport(df, "text", "src")
      .select("src", "n_docs", "n_docs_with_pii", "total_email", "total_id",
        "total_phone", "total_ip", "total_idnum")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(rep("s1") === (("s1", 2L, 1L, 1L, 0L, 0L, 1L, 0L)))
    assert(rep("s2") === (("s2", 1L, 1L, 0L, 1L, 0L, 0L, 0L)))
  }

  test("gopherRules: each rule fires on its violation, integer boundaries hold") {
    val goodText = (("the quick brown fox jumps over lazy dogs and " * 6) +
      "that have with be of").trim // ~59 words, all alpha, stops present
    val docs = Seq(
      (1L, goodText),
      (2L, "too short"),                                    // word count
      (3L, ("a b c d e " * 12).trim),                       // mean len < 3
      (4L, goodText + " " + Seq.fill(10)("#").mkString(" ")), // symbols
      (5L, goodText + ("\n- bullet line here" * 10).mkString), // bullets
      (6L, goodText + "\nfirst trails off...\nsecond too..."), // ellipsis
      (7L, goodText + " " + Seq.fill(20)("12345").mkString(" ")), // alpha
      (8L, ("zork gork bork mork " * 15).trim))             // no stop words
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def rule(id: Long, name: String): Boolean =
      out(id).getBoolean(out(id).fieldIndex(name))
    assert(rule(1L, "gopher_keep") === true)
    assert(rule(2L, "r_word_count") === false)
    assert(rule(3L, "r_mean_word_len") === false)
    assert(rule(4L, "r_symbol_ratio") === false && rule(1L, "r_symbol_ratio"))
    assert(rule(5L, "r_bullet_lines") === false && rule(1L, "r_bullet_lines"))
    assert(rule(6L, "r_ellipsis_lines") === false &&
      rule(1L, "r_ellipsis_lines"))
    assert(rule(7L, "r_alpha_words") === false && rule(1L, "r_alpha_words"))
    assert(rule(8L, "r_stop_words") === false && rule(1L, "r_stop_words"))
    (2L to 8L).foreach(id => assert(rule(id, "gopher_keep") === false))
  }

  test("c4LineFilter: terminal punctuation + min words, text rewritten") {
    val docs = Seq(
      (1L, "Keep this proper sentence right here.\nshort one.\n" +
        "no terminal punctuation in this line\n" +
        "A quoted sentence ends properly here.\"\n" +
        "Final good sentence closes the document!"),
      (2L, "only one good sentence survives here.\nrest is junk"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(docs, "text")
      .select("doc_id", "n_lines", "n_kept_lines", "clean_text", "c4_keep")
      .as[(Long, Long, Long, String, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 5L && out(1L)._3 === 3L && out(1L)._5 === true)
    assert(out(1L)._4 === "Keep this proper sentence right here.\n" +
      "A quoted sentence ends properly here.\"\n" +
      "Final good sentence closes the document!")
    assert(out(2L)._3 === 1L && out(2L)._5 === false)
  }

  test("sentences: terminator runs, trimming, empties, bare punctuation") {
    def seg(s: String): Seq[String] =
      Seq(s).toDF("t").select(TextAnalysis.sentences(col("t")))
        .head.getSeq[String](0)
    assert(seg("One here. Two there! Three? ") ===
      Seq("One here.", "Two there!", "Three?"))
    assert(seg("no terminator at all") === Seq("no terminator at all"))
    assert(seg("...") === Seq("..."))
    assert(seg("Wait... really?!") === Seq("Wait...", "really?!"))
    assert(seg("") === Seq.empty)
    // documented limitation: abbreviation-blind — every terminator run
    // ends a segment, so dotted abbreviations split at each period
    assert(seg("e.g. x") === Seq("e.", "g.", "x"))
  }

  test("chunkBySentences: boundary packing, oversized sentence, order") {
    val docs = Seq(
      // 4+4+4 tokens at budget 6: offsets 0,4,8 -> chunks 0,0,1
      (1L, "a b c d. e f g h! i j k l?"),
      // single 9-token sentence at budget 6: owns chunk 0 alone
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9.")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkBySentences(docs, "doc_id", "text", budget = 6L)
      .select("doc_id", "chunk_idx", "chunk_text", "n_tokens", "n_sentences")
      .as[(Long, Long, String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out((1L, 0L)) === (("a b c d. e f g h!", 8L, 2L)))
    assert(out((1L, 1L)) === (("i j k l?", 4L, 1L)))
    assert(out((2L, 0L)) ===
      (("w1 w2 w3 w4 w5 w6 w7 w8 w9.", 9L, 1L)))
    assert(out.size === 3)
  }

  test("chunking: stride boundaries, tail chunk, overlap, empty doc") {
    val text = ("x" * 199) + "Y" + ("z" * 300) // length 500
    val df = Seq((1L, text), (2L, "")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(df, chunkLen = 256, stride = 200)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(chunks.forall(_._1 == 1L), "empty doc must produce no chunks")
    assert(chunks.map(c => (c._2, c._3)).sorted.toSeq ==
      Seq((0L, 0L), (1L, 200L), (2L, 400L)))
    val byIdx = chunks.map(c => c._2 -> c._4).toMap
    assert(byIdx(0L).length == 256 && byIdx(1L).length == 256)
    assert(byIdx(2L).length == 100, "tail chunk is the remainder")
    // 56-char overlap: chunk 0's last 56 chars == chunk 1's first 56 chars
    assert(byIdx(0L).takeRight(56) == byIdx(1L).take(56))
    assert(byIdx(0L)(199) == 'Y' && byIdx(1L)(0) == 'z')
  }

  test("unigram logprob: hand-checked values, OOV floor, partition invariance") {
    val df = Seq(
      (1L, "a a b"), // N=5: p(a)=3/5, p(b)=1/5
      (2L, "a c"),   // p(c)=1/5
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(df, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out(1L)._1 == 3L && out(2L)._1 == 2L)
    assert(out(3L) == ((0L, None)), "empty doc: zero tokens, null score")
    val exp1 = (2.0 * math.log(0.6) + math.log(0.2)) / 3.0
    assert(math.abs(out(1L)._2.get - exp1) < 1e-8)
    // common-token doc scores higher (closer to 0) than rare-token doc
    assert(out(1L)._2.get > out(2L)._2.get)
    // OOV floor: minCount=2 drops b and c from the vocab → p = 0.5/N
    val oov = TextAnalysis.unigramLogProb(df, "doc_id", minCount = 2L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val expOov1 = (2.0 * math.log(0.6) + math.log(0.1)) / 3.0
    assert(math.abs(oov(1L).get - expOov1) < 1e-8)
    // bit-identical across partitionings (fixed-point sums are order-free)
    val p1 = TextAnalysis.unigramLogProb(df.repartition(7), "doc_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(p1(1L).get == out(1L)._2.get && p1(2L).get == out(2L)._2.get)
  }

  test("length gate: exact order-statistic bounds, duplicate-mass ties") {
    // token counts 1..10 → n=10; ceil(0.2·10)=2 → lo=2; ceil(0.8·10)=8 → hi=8
    val docs = (1 to 10).map(i => (i.toLong, (1 to i).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lengthGate(docs, "doc_id", "text", 0.2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).sorted.toSeq === (2L to 8L))
    assert(out.forall(t => t._3 == 2L && t._4 == 8L))
    // duplicate mass: lengths (1,1,1,9), n=4, pLo=0.5 → cum(len 1)=3 ≥ 2:
    // the low bound lands ON the duplicated value
    val dup = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, (1 to 9).map("x" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val d = TextAnalysis.lengthGate(dup, "doc_id", "text", 0.5, 1.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(d.keySet === Set(1L, 2L, 3L, 4L) && d(1L) === ((1L, 9L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.lengthGate(dup, "doc_id", "text", 0.9, 0.1)
    }
  }

  test("lang mixture: chunk voting exposes a doc the whole-doc argmax hides") {
    // 4-token chunks: doc 1 = two English chunks + one German chunk;
    // doc 2 monolingual; doc 3 stopword-free → every chunk 'und'
    val en = "the of and to"
    val de = "der und ist zu"
    val df = Seq(
      (1L, s"$en $en $de"),
      (2L, s"$en $en"),
      (3L, "qqq www eee rrr")).toDF("doc_id", "text")
    val out = TextAnalysis.langMixture(df, "doc_id", "text", chunkTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, 2L, "en", 3333L))) // 1 of 3 chunks minority
    assert(out(2L) === ((2L, 1L, "en", 0L)))
    assert(out(3L) === ((1L, 1L, "und", 0L)))
    // the whole-doc argmax on doc 1 reads plain 'en' — mixture is the
    // only signal that sees the German third
    val whole = df.where(col("doc_id") === 1L)
      .select(TextAnalysis.langIdFromTokens(TextAnalysis.lowerTokens(col("text"))))
      .head().getString(0)
    assert(whole === "en")
  }

  test("bigram logprob: hand-checked values, both floors, partition invariance") {
    val df = Seq(
      (1L, "x y x y z"), // bigrams: (x,y)x2 (y,x) (y,z); C(x.)=3 C(y.)=2 N=5
      (2L, "x y"),
      (3L, "w")).toDF("doc_id", "text") // 1 token: no bigram, null score
    def run(minCount: Long) = consume(TextAnalysis
      .bigramLogProbCached(df, "doc_id", minCount = minCount))(_.collect())
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val m1 = run(1L)
    assert(m1(1L)._1 == 4L && m1(2L)._1 == 1L)
    assert(m1(3L) == ((0L, None)), "single-token doc: zero bigrams, null score")
    // p(y|x)=3/3, p(x|y)=1/2, p(z|y)=1/2 → avg = ln(0.5)/2
    assert(math.abs(m1(1L)._2.get - math.log(0.5) / 2.0) < 1e-8)
    assert(math.abs(m1(2L)._2.get - 0.0) < 1e-8) // ln(1)
    // rare-continuation floor: minCount=2 drops (y,x),(y,z) → 0.5/C(y.)
    val m2 = run(2L)
    assert(math.abs(m2(1L)._2.get - math.log(0.25) / 2.0) < 1e-8)
    // rare-CONTEXT floor: minCount=3 drops context y → 0.5/N = 0.1
    val m3 = run(3L)
    assert(math.abs(m3(1L)._2.get - math.log(0.1) / 2.0) < 1e-8)
    // order sensitivity — the property unigram scoring cannot have:
    // same bag of words, different adjacency, different score
    val ord = Seq((1L, "x y x y"), (2L, "x x y y")).toDF("doc_id", "text")
    val s = consume(TextAnalysis.bigramLogProbCached(ord, "doc_id"))(
      _.collect()).map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(1L) != s(2L), "bigram score must see word order")
    // bit-identical across partitionings (fixed-point sums are order-free)
    val p1 = consume(TextAnalysis.bigramLogProbCached(df.repartition(7),
        "doc_id"))(_.collect())
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(p1(1L) == m1(1L)._2 && p1(2L) == m1(2L)._2)
  }

  test("quality classifier: hand-replayed weights, empty doc, invariance") {
    val df = Seq(
      (1L, "good clean prose"), // 3 unigrams + 2 bigrams = 5 features
      (2L, "word"),             // 1 unigram, no bigram
      (3L, "")).toDF("doc_id", "text")
    // replay the model on the driver via Spark's own xxhash64
    def bucketOf(s: String): Long = {
      val h = spark.range(1).select(xxhash64(lit(s))).head().getLong(0)
      ((h % 1024) + 1024) % 1024
    }
    def wOf(s: String): Long = (bucketOf(s) * 2654435761L + 1013904223L) % 2001L - 1000L
    val feats1 = Seq("good", "clean", "prose", "good clean", "clean prose")
    val exp1 = feats1.map(wOf).sum.toDouble / 1e3 / feats1.size.toDouble
    val out = TextAnalysis.qualityClassifierScore(df, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3))))).toMap
    assert(out(1L)._1 == 5L && out(2L)._1 == 1L)
    assert(out(1L)._2.contains(exp1))
    assert(out(1L)._3.contains(exp1 >= 0.0))
    assert(out(2L)._2.contains(wOf("word").toDouble / 1e3))
    // defined verdict for empty docs (r10 advice): logit = bias (0 here),
    // keep decided against the threshold — never NULL
    assert(out(3L) == ((0L, Some(0.0), Some(true))),
      "empty doc: no features, logit = bias, keep defined")
    // weights bounded → logit bounded
    assert(out.values.flatMap(_._2).forall(l => l >= -1.0 && l <= 1.0))
    // bit-identical across partitionings (integer sums are order-free)
    val p7 = TextAnalysis.qualityClassifierScore(df.repartition(7), "doc_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(p7(1L) == out(1L)._2 && p7(2L) == out(2L)._2)
    intercept[IllegalArgumentException] {
      TextAnalysis.qualityClassifierScore(df, "doc_id", buckets = 1000)
    }
  }

  test("quality classifier FIT: the trained gate separates planted good/bad docs") {
    // two vocabulary-disjoint classes: prose-like "good" docs vs
    // spam-like "bad" docs; the fit must push good-vocab buckets
    // positive and bad-vocab buckets negative
    val goodWords = Seq("research", "method", "evidence", "analysis",
      "results", "careful", "measured", "report", "study", "findings")
    val badWords = Seq("cheap", "pills", "winner", "click", "prize",
      "free", "casino", "jackpot", "loan", "urgent")
    def doc(words: Seq[String], salt: Int): String =
      (0 until 12).map(i => words((i + salt) % words.size)).mkString(" ")
    val docs = ((0 until 20).map(i => (i.toLong, doc(goodWords, i), true)) ++
      (0 until 20).map(i => (100L + i, doc(badWords, i), false)))
      .toDF("doc_id", "text", "is_good")
    val weights = TextAnalysis.fitQualityClassifier(docs, "doc_id", "text",
      "is_good", buckets = 256, rounds = 3)
    val scored = TextAnalysis.qualityClassifierScoreWith(docs, "doc_id",
        weights, buckets = 256)
      .join(docs.select($"doc_id", $"is_good"), Seq("doc_id"))
      .select($"is_good", $"logit", $"keep")
      .as[(Boolean, Double, Boolean)].collect()
    val goodLogits = scored.filter(_._1).map(_._2)
    val badLogits = scored.filterNot(_._1).map(_._2)
    assert(goodLogits.min > badLogits.max,
      "the fitted classifier must rank every good doc above every bad doc")
    assert(scored.forall { case (g, _, keep) => keep == g },
      "threshold 0 must separate the classes exactly")
    // weight table shape: one row per observed bucket, integer milli
    val w = weights.as[(Long, Long)].collect()
    assert(w.map(_._1).distinct.length == w.length)
    assert(w.forall(r => r._1 >= 0 && r._1 < 256))
    // determinism under repartitioning (integer fixed-point schedule)
    val w2 = TextAnalysis.fitQualityClassifier(docs.repartition(7), "doc_id",
      "text", "is_good", buckets = 256, rounds = 3).as[(Long, Long)].collect()
    assert(w.sortBy(_._1).toSeq == w2.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.fitQualityClassifier(docs, "doc_id", "text", "is_good",
        buckets = 100)
    }
    // driver-side vs distributed round schedule: BIT-IDENTICAL weights
    // (r13: the bounded-matrix fit runs all rounds on the driver;
    // DriverBound.distributedOnly routes the same input through the
    // distributed loop — the two paths must land on the same table, or the
    // adaptive bound would change query results with corpus size)
    val wDistributed = DriverBound.distributedOnly {
      TextAnalysis.fitQualityClassifier(docs, "doc_id", "text", "is_good",
        buckets = 256, rounds = 3).as[(Long, Long)].collect()
    }
    assert(w.sortBy(_._1).toSeq == wDistributed.sortBy(_._1).toSeq,
      "driver-side fit diverged from the distributed round schedule")
  }

  test("classifier verdict is DEFINED for zero-token docs: keep never NULL") {
    // null-hygiene contract (r10 advice): a doc with no tokens must get
    // logit = bias (zero features contribute a zero mean — the same
    // convention as absent buckets scoring 0) and a non-NULL keep, or
    // the verdict silently vanishes in boolean filters downstream
    val docs = Seq((1L, "real prose with tokens"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    val weights = Seq((0L, 100L)).toDF("bucket", "weight_milli")
    for (out <- Seq(
        TextAnalysis.qualityClassifierScoreWith(docs, "doc_id", weights,
          buckets = 256, biasMilli = -250L, threshold = 0.0),
        TextAnalysis.qualityClassifierScore(docs, "doc_id",
          buckets = 256, biasMilli = -250L, threshold = 0.0))) {
      val rows = out.orderBy($"doc_id")
        .as[(Long, Long, Double, Boolean)].collect()
      assert(rows.length == 3, "every input doc gets a verdict row")
      val empty = rows.filter(_._2 == 0L)
      assert(empty.map(_._1).toSet == Set(2L, 3L))
      assert(empty.forall(_._3 == -0.25), "empty-doc logit = bias")
      assert(empty.forall(!_._4), "bias below threshold ⇒ keep = false, not NULL")
    }
  }

  test("term weights: tf, corpus df, exact tf/df score") {
    val df = Seq(
      ("s1", "spark spark rare1"),
      ("s2", "spark common"),
      ("s3", "common other")).toDF("source", "text")
    val out = TextAnalysis.termWeights(df, "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("s1", "spark")) == ((2L, 2L, 1.0))) // tf=2, in 2 sources
    assert(out(("s2", "spark")) == ((1L, 2L, 0.5)))
    assert(out(("s1", "rare1")) == ((1L, 1L, 1.0))) // unique to s1
    assert(out(("s2", "common")) == ((1L, 2L, 0.5)))
  }

  test("blocklistFilter: hit counts case-folded, keep honors maxHits") {
    val df = Seq(
      (1L, "clean text about spark tables"),
      (2L, "one BadWord here"),
      (3L, "badword badword and another badword")).toDF("doc_id", "text")
    val strict = TextAnalysis.blocklistFilter(df, "doc_id", "text",
        blocklist = Seq("BADWORD"), maxHits = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(strict(1L) == ((0L, true)))
    assert(strict(2L) == ((1L, false))) // C4 policy: any hit drops
    assert(strict(3L) == ((3L, false)))
    val lenient = TextAnalysis.blocklistFilter(df, "doc_id", "text",
        blocklist = Seq("badword"), maxHits = 2L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(lenient(2L) && !lenient(3L))
    // null text = zero tokens = zero hits, kept — NOT legacy size(NULL)=-1
    val withNull = Seq((9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = TextAnalysis.blocklistFilter(withNull, "doc_id", "text",
      blocklist = Seq("badword")).head()
    assert(r.getLong(1) == 0L && r.getBoolean(2))
  }

  test("featureHash: counts conserve token mass; exact dups get identical vectors") {
    val df = Seq(
      (1L, "spark table spark join"),
      (2L, "spark table spark join"), // exact dup of 1
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val sparse = TextAnalysis.featureHashCounts(df, "doc_id", "text", dim = 16)
    // bucket fold loses no tokens
    val mass = sparse.groupBy("doc_id").agg(sum("cnt").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mass == Map(1L -> 4L, 2L -> 4L, 3L -> 4L))
    // sparse (bucket -> count) vectors, all within [0, dim)
    val vecs = sparse.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(vecs.values.flatMap(_.keys).forall(b => b >= 0L && b < 16L))
    assert(vecs(1L) == vecs(2L), "identical text must hash to the identical vector")
    assert(vecs(1L) != vecs(3L))
  }
}

class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("blockedMatches: in-block near-names found, cross-block pairs never compared") {
    val df = Seq("red bolt", "red bolts", "red widget", "blue bolt", "blue bolt")
      .toDF("name")
    val got = Fuzzy.blockedMatches(df, "name", Fuzzy.firstTokenBlock, 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("red bolt", "red bolts", 1)),
      s"expected only the in-block near-pair, got $got")
    // "red bolt" vs "blue bolt" is distance 3 but must not even be
    // compared (different blocks); distance 2 cap excludes widget
  }

  test("blockedMatches: duplicates collapse before pairing") {
    val df = Seq("blue bolt", "blue bolt", "blue bolt").toDF("name")
    assert(Fuzzy.blockedMatches(df, "name", Fuzzy.firstTokenBlock, 5).count() == 0)
  }
}

class CanonicalSpec extends SparkSpec {
  import spark.implicits._

  test("keepCanonical: longest copy survives per cluster, singletons pass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 44L),
      (2L, "the quick brown fox jumps over the lazy dog extended", 52L), // near-dup of 1, longer
      (3L, "completely different content about spark engines and scale", 59L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5, maxDocFreq = 10L)
    assert(pairs.count() == 1, "fixture must produce exactly the (1,2) pair")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs, "id_a", "id_b",
        Seq(col("n_chars").desc, col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"longest of the cluster + the singleton, got $kept")
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("corpus docs sharing >= minShared 5-grams with eval set are flagged") {
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the full leading 8-gram run with eval doc 100 → many 5-grams
      (1L, "the quick brown fox jumps over the lazy cat"),
      // no 5 consecutive tokens in common
      (2L, "completely unrelated content about distributed query engines"),
      // shares exactly one 5-gram ("jumps over the lazy dog")
      (3L, "it jumps over the lazy dog daily")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, evalDocs, "doc_id", "text",
        n = 5, minShared = 3L, maxEvalDf = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.contains(1L), "heavy overlap must be flagged")
    assert(out(1L)._1 >= 3L && out(1L)._2 == 1L)
    assert(!out.contains(2L), "disjoint doc must pass")
    assert(!out.contains(3L), "one shared shingle is below minShared=3")
  }

  test("eval-side df cap drops boilerplate shingles from the sweep") {
    // the same 5-gram appears in 3 eval docs; cap 2 excludes it entirely
    val evalDocs = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "alpha beta gamma delta epsilon"),
      (102L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val capped = Dedup.decontaminate(corpus, evalDocs, "doc_id", "text",
      n = 5, minShared = 1L, maxEvalDf = 2L)
    assert(capped.count() == 0, "boilerplate shingle must be pruned by the cap")
    val uncapped = Dedup.decontaminate(corpus, evalDocs, "doc_id", "text",
      n = 5, minShared = 1L, maxEvalDf = 10L)
    assert(uncapped.count() == 1)
  }

  test("contaminationScore: exact gram counts, permyriad fraction, clean doc scores zero") {
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val corpus = Seq(
      // 6 tokens -> 2 distinct 5-grams, 1 shared ("jumps over the lazy dog")
      (1L, "it jumps over the lazy dog"),
      (2L, "completely unrelated content about distributed query engines"),
      (3L, "shorty")) // < 5 tokens: no complete gram, absent from output
      .toDF("doc_id", "text")
    val out = Dedup.contaminationScore(corpus, evalDocs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((2L, 1L, 5000L))) // floor(10000 * 1/2)
    assert(out(2L)._2 === 0L && out(2L)._3 === 0L)
    assert(!out.contains(3L))
  }
}

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val doc = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    .toDF("doc_id", "text")

  test("winnowing guarantee: shared run of >= w+n-1 tokens shares a fingerprint") {
    val pair = Seq(
      (1L, "xx yy alpha beta gamma delta epsilon zeta qq"),
      (2L, "alpha beta gamma delta epsilon zeta some other tail here"))
      .toDF("doc_id", "text") // shared run of 6 tokens = w+n-1 for n=3,w=4
    val fp = Dedup.winnowFingerprints(pair, "doc_id", "text", n = 3, w = 4)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "documents sharing a 6-token run must share a winnowed fingerprint")
  }

  test("every selected position is the (h, pos)-min of a complete window containing it") {
    val fp = Dedup.winnowFingerprints(doc, "doc_id", "text", n = 3, w = 4)
      .orderBy("pos").collect().map(r => (r.getInt(1), r.getLong(2)))
    // 10 tokens -> 8 grams -> 5 complete windows; selections are sparse
    assert(fp.nonEmpty && fp.length <= 5)
    // density bound: consecutive selected positions at most w apart
    fp.map(_._1).sliding(2).foreach {
      case Array(a, b) => assert(b - a <= 4, s"gap $a -> $b exceeds w")
      case _ =>
    }
  }

  test("doc shorter than w grams still yields its truncated-window minimum") {
    val tiny = Seq((7L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // 4 tokens -> 2 grams < w=4 -> exactly one fingerprint (the doc min)
    val fp = Dedup.winnowFingerprints(tiny, "doc_id", "text", n = 3, w = 4)
    assert(fp.count() === 1L)
  }

  test("selection is invariant under repartitioning") {
    val many = Seq.tabulate(30)(i =>
      (i.toLong, s"w${i % 7} common base tokens w${i % 5} w${i % 3} trail end here now")).toDF("doc_id", "text")
    val a = Dedup.winnowFingerprints(many, "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    val b = Dedup.winnowFingerprints(many.repartition(9), "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    assert(a === b)
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("gap sessionization: session count per user") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1L),
      (2L, "2024-01-01 10:10:00", 1L), // same session (10 min gap)
      (3L, "2024-01-02 10:00:00", 1L), // new session (1 day later)
      (4L, "2024-01-01 09:00:00", 2L))
      .toDF("event_id", "ts", "user_id")
      .withColumn("ts", to_timestamp($"ts"))
    val out = Sessionize.userSessionStats(df, "user_id", "ts", "event_id", 3600L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((2L, 3L)))
    assert(out(2L) == ((1L, 1L)))
  }
}

class MultimodalSpec extends SparkSpec {

  test("resize plan + frame sampling are metadata-only") {
    val docs = graft.Tables.documents(spark, sf).limit(30)
    val media = Multimodal.fixtureFromDocuments(docs)
    val planned = Multimodal.planResize(media, maxSide = 256)
    assert(planned.select(max(col("resize_plan.target_width"))).head().getInt(0) <= 256)
    val frames = Multimodal.sampleFrames(media, everyNth = 5)
    assert(frames.count() > 0)
  }

  test("PNG roundtrip: real imageio decode recovers the exact raster stats") {
    val docs = graft.Tables.documents(spark, sf).limit(20)
    val stats = Multimodal.decodeImageStats(Multimodal.encodePngFixture(docs))
      .collect().map(s => s.media_id -> s).toMap
    assert(stats.nonEmpty && stats.values.forall(_.ok))
    stats.foreach { case (id, s) =>
      val (w, h) = Multimodal.fixtureDims(id)
      assert((s.width, s.height, s.channels) == ((w, h, 3)))
      // closed-form channel sums (each channel varies along one axis)
      val expR = h.toLong * (0 until w).map(x => (id + x) % 256).sum
      val expG = w.toLong * (0 until h).map(y => (id * 3 + y) % 256).sum
      val expB = h.toLong * (0 until w).map(x => (id * 5 + 7L * x) % 256).sum
      assert((s.sum_r, s.sum_g, s.sum_b) == ((expR, expG, expB)), s"id=$id")
    }
  }

  test("WAV roundtrip: real PCM16 decode recovers exact sample stats") {
    val docs = graft.Tables.documents(spark, sf).limit(20)
    val stats = Multimodal.decodeAudioStats(Multimodal.encodeWavFixture(docs))
      .collect().map(s => s.media_id -> s).toMap
    assert(stats.nonEmpty && stats.values.forall(_.ok))
    stats.foreach { case (id, s) =>
      val n = Multimodal.fixtureSamples(id)
      val samples = (0 until n).map(i => Multimodal.fixtureSample(id, i.toLong))
      assert(s.n_samples == n && s.channels == 1 && s.sample_rate == 8000)
      assert((s.sum_samples, s.min_sample, s.max_sample) ==
        ((samples.map(_.toLong).sum, samples.min, samples.max)), s"id=$id")
    }
  }

  test("corrupt or null payloads decode to ok=false, never fail the partition") {
    import spark.implicits._
    val bad = Seq(
      Multimodal.Media(1L, "image", Array[Byte](1, 2, 3), Multimodal.MediaMeta("png", 1, 1, 1)),
      Multimodal.Media(2L, "image", null, Multimodal.MediaMeta("png", 1, 1, 1)),
      Multimodal.Media(3L, "audio", Array[Byte](9, 9), Multimodal.MediaMeta("wav", 0, 0, 0)))
    val img = Multimodal.decodeImageStats(bad.toDS().toDF()).collect()
    assert(img.filter(s => s.media_id <= 2).forall(s => !s.ok && s.n_pixels == 0))
    val aud = Multimodal.decodeAudioStats(bad.filter(_.kind == "audio").toDS().toDF())
      .collect()
    assert(aud.forall(s => !s.ok))
  }

  test("imagePHash matches the closed-form integer aHash, flags bad bytes") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).limit(20)
    val hashes = Multimodal.imagePHash(Multimodal.encodePngFixture(docs))
      .collect().map(p => p.media_id -> p).toMap
    assert(hashes.nonEmpty && hashes.values.forall(_.ok))
    hashes.foreach { case (id, p) =>
      val (w, h) = Multimodal.fixtureDims(id)
      val blockSum = new Array[Long](64)
      val ncols = new Array[Long](8); val nrows = new Array[Long](8)
      var total = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Multimodal.fixtureRgb(id, x, y)
        val gray = r + g + b
        blockSum((y * 8 / h) * 8 + x * 8 / w) += gray; total += gray
      }
      (0 until w).foreach(x => ncols(x * 8 / w) += 1)
      (0 until h).foreach(y => nrows(y * 8 / h) += 1)
      var exp = 0L
      for (b <- 0 until 64)
        if (blockSum(b) * (w.toLong * h) > total * (ncols(b % 8) * nrows(b / 8)))
          exp |= 1L << b
      assert(p.phash.contains(exp), s"id=$id")
    }
    val bad = Seq(Multimodal.Media(1L, "image", Array[Byte](1, 2, 3),
      Multimodal.MediaMeta("png", 1, 1, 1)))
    val badHash = Multimodal.imagePHash(bad.toDS().toDF()).collect()
    assert(badHash.length == 1 && !badHash.head.ok && badHash.head.phash.isEmpty)
  }

  test("planted one-pixel twins are recovered by banded hamming pairing") {
    val docs = graft.Tables.documents(spark, sf).limit(100)
    val media = Multimodal.encodePngFixture(docs, twinEvery = 97)
    val pairs = Dedup.hammingNearDupPairs(
      Multimodal.imagePHash(media).toDF(), "media_id", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc_ids 0..99 → twins planted for 0 and 97, at media_id + 1e6
    assert(pairs.contains((0L, 1000000L)), "twin of doc 0 not paired")
    assert(pairs.contains((97L, 1000097L)), "twin of doc 97 not paired")
    assert(pairs((0L, 1000000L)) <= 3 && pairs((97L, 1000097L)) <= 3)
    assert(pairs.values.forall(_ <= 3))
  }

  test("twin ids colliding with real doc_ids fail loud, not silently alias") {
    import spark.implicits._
    val docs = Seq(0L, 5L, 10L).toDF("doc_id")
    val ex = intercept[IllegalArgumentException] {
      Multimodal.encodePngFixture(docs, twinEvery = 5, twinOffset = 10L)
    }
    assert(ex.getMessage.contains("twinOffset"))
  }
}

class BloomSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("bloom prune: no false negatives; map-side prune agrees with key analysis") {
    val members = (1 to 40).map(i => s"m_$i").toDF("k")
    val probe = ((1 to 40).map(i => s"m_$i") ++ (1 to 400).map(i => s"x_$i"))
      .flatMap(k => Seq.fill(3)(k)).toDF("k") // duplicated rows, mixed keys
    val words = Bloom.buildWords(members, col("k"), mBits = 1024, k = 3)
    val pass = Bloom.passingKeys(probe, col("k"), words, mBits = 1024, k = 3)
      .as[String].collect().toSet
    // every member passes — a bloom filter never has false negatives
    assert((1 to 40).map(i => s"m_$i").toSet.subsetOf(pass))
    // the row-level map-side prune keeps exactly the rows whose key passes
    val pruned = Bloom.prune(probe, col("k"), members, col("k"),
      mBits = 1024, k = 3)
    assert(pruned.as[String].collect().groupBy(identity).view.mapValues(_.length).toMap
      == pass.map(k => k -> 3).toMap.filter(kv => probe.as[String].collect().contains(kv._1)))
    // prune has no shuffle: single stage over the probe side
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-side prune must not shuffle:\n$plan")
  }

  test("bloom prune: saturated filter passes everything, never drops members") {
    val members = (1 to 200).map(i => s"m_$i").toDF("k")
    // 64-bit filter for 200 keys: fully saturated — still zero false negatives
    val words = Bloom.buildWords(members, col("k"), mBits = 64, k = 2)
    val pass = Bloom.passingKeys(members, col("k"), words, mBits = 64, k = 2)
    assert(pass.count() == 200)
  }
}

class TrianglesSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Triangles.countExact(edges.toDF("a", "b"), "a", "b").head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangle count on known graphs") {
    // K4 = 4 triangles; reversed/duplicate edges and self-loops ignored
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (2L,1L),(3L,3L),(4L,2L))
    assert(tri(k4) == ((4L, 6L, 4L)))
    // 4-cycle: 4 nodes, 4 edges, no triangles
    assert(tri(Seq((1L,2L),(2L,3L),(3L,4L),(4L,1L))) == ((4L, 4L, 0L)))
    // star (hub): high degree, zero triangles — degeneracy orientation
    // emits nothing from the hub
    val star = (2L to 30L).map(i => (1L, i))
    assert(tri(star) == ((30L, 29L, 0L)))
    // two triangles sharing an edge
    assert(tri(Seq((1L,2L),(2L,3L),(1L,3L),(2L,4L),(3L,4L))) == ((4L, 5L, 2L)))
  }

  test("DOULION with pInv=1 keeps every edge and reproduces the exact count") {
    val edges = Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L),(4L,5L),(3L,5L)).toDF("a","b")
    val r = Triangles.approxSparsified(edges, "a", "b", pInv = 1).head()
    assert(r.getLong(2) == 2L && r.getDouble(3) == 2.0)
  }
}
