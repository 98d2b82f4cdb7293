package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, Curate, Dedup, Similarity}

/** The curation user's job. Bulk: `Curate.run` (report on) over a seeded
  * corpus, SemDeDup (`Similarity.trainIvfCentroids` plus
  * `Dedup.semanticDedupCached`) over the embeddings of the docs it keeps,
  * then `Curate.writeTrainingShards` of the survivors with a merge table
  * trained in set-up. Small op: one `Curate.ingest` batch against a
  * `DedupIndex` kept on disk: read the index, ingest, write the admitted
  * docs, append the index delta, release the caches the call hands back.
  * Each round ingests a new batch and then the same batch again. */
final class CurateWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import CurateWorkload._

  private val nDocs = 600
  private val batchSize = 100
  // round r ingests batch r
  private val nBatches = 3
  private var data: Generators.Corpus = _
  private var emb: Generators.Vectors = _
  private var merges: Seq[(String, String)] = Nil
  private val admitted = mutable.Set.empty[String]
  def roundSeconds: Double = 30.0
  private def index = s"$dir/index"

  def generate(): Unit = {
    data = Generators.corpus(seed, nDocs, nEval = 20, nBatches = nBatches, batchSize = batchSize)
    emb = Generators.vectors(seed, nDocs, Dim, Clusters)
    import spark.implicits._
    data.docs.map(d => (d.id, d.text)).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/corpus")
    data.eval.map(d => (d.id, d.text)).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/eval")
    data.batches.zipWithIndex.flatMap { case (b, i) => b.map(d => (i, d.id, d.text)) }
      .toDF("batch", "id", "text").coalesce(1).write.mode("overwrite").parquet(s"$dir/batches")
    emb.ids.zip(emb.vecs).toSeq.toDF("id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings")
  }

  /** The BPE merge table and the corpus's dedup index, which the ingest
    * batches of the whole run are appended to. */
  def fit(): Unit = {
    val corpus = spark.read.parquet(s"$dir/corpus")
    merges = Bpe.trainMergesBatched(corpus.where(col("id") < 100), "text", NumMerges)
      .orderBy("merge_rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    corpus.select(md5(col("text")).as("digest"))
      .write.mode("overwrite").parquet(s"$index/digests")
    Dedup.buildNearDupIndex(corpus, "id", "text")
      .write.mode("overwrite").parquet(s"$index/banded")
  }

  private final case class Bulk(curated: Curate.Curated, quantizer: Similarity.IvfIndex,
      semantic: Array[(Long, Long, Boolean)], manifest: DataFrame)

  private def bulkOnce(out: String, rec: Recorder): Bulk = {
    import spark.implicits._
    val curated = Curate.run(spark.read.parquet(s"$dir/corpus"), "id", "text",
      spark.read.parquet(s"$dir/eval"), minJaccard = MinJaccard, minShared = MinShared,
      minQuality = MinQuality, packBudget = PackBudget, packBuckets = PackBuckets)
    val vecs = spark.read.parquet(s"$dir/embeddings")
      .join(curated.docs.select("id"), Seq("id"), "left_semi")
    val quantizer = Similarity.trainIvfCentroids(vecs, "id", "vec", k = Clusters)
    val sem = Dedup.semanticDedupCached(vecs, "id", "vec", quantizer, MinCosine)
    val semantic = rec.charge("ops.Dedup")(sem.df.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    sem.release()
    val kept = semantic.collect { case (id, _, false) => id }.toSeq.toDF("id")
    val manifest = Curate.writeTrainingShards(
      curated.docs.join(kept, Seq("id"), "left_semi"), "id", "text", merges,
      ShardBudget, s"$out/shards", packBuckets = PackBuckets, nShards = 4)
    Bulk(curated, quantizer, semantic, manifest)
  }

  /** One ingest of batch `i` against the on-disk index: read the index,
    * ingest, write the admitted docs, append the index delta, release the
    * caches the call hands back. */
  private def ingestOnce(i: Int, out: String): Curate.IngestReport = {
    val idx = Curate.DedupIndex(spark.read.parquet(s"$index/digests"),
      spark.read.parquet(s"$index/banded"))
    val batch = spark.read.parquet(s"$dir/batches").where(col("batch") === i)
      .select("id", "text")
    val res = Curate.ingest(batch, "id", "text", idx,
      minQuality = MinQuality, packBudget = PackBudget, packBuckets = PackBuckets)
    res.docs.write.mode("overwrite").parquet(out)
    res.newDigests.write.mode("append").parquet(s"$index/digests")
    res.newBandedRows.write.mode("append").parquet(s"$index/banded")
    res.caches.foreach(_.unpersist(false))
    res.report
  }

  /** The fits have run the Spark paths the operations share; the round's
    * operations themselves are not repeated before they are timed. */
  def warmup(rec: Recorder): Unit = ()

  /** The bulk operation, one ingest of a new batch, and the same batch
    * again, which must admit nothing. */
  def round(r: Int, rec: Recorder): Unit = {
    val out = s"$dir/out-$r"
    require(r < nBatches, s"round $r needs ingest batch $r of $nBatches")
    rec.bulk("ops.Curate", nDocs)(bulkOnce(out, rec)).foreach(checkBulk(rec, _, out))
    if (rec.tracer.nonEmpty)
      rec.note("op.index_rows", spark.read.parquet(s"$index/banded").count().toDouble)
    rec.op("ops.Curate")(ingestOnce(r, s"$out/batch")).foreach { rep =>
      checkIngest(rec, rep, s"$out/batch", r)
    }
    if (rec.tracer.nonEmpty)
      rec.note("op.index_rows", spark.read.parquet(s"$index/banded").count().toDouble)
    rec.op("ops.Curate")(ingestOnce(r, s"$out/again")).foreach { rep =>
      rec.check(rep.afterNearDedup == 0 && spark.read.parquet(s"$out/again").count() == 0,
        s"re-ingesting batch $r admitted ${rep.afterNearDedup} docs")
    }
    Main.rmrf(out)
  }

  def counters(rec: Recorder, tracer: Tracer): Map[String, Double] =
    Map("op.ops.index_rows" ->
      rec.noted("op.index_rows") / math.max(tracer.spanCount("op"), 1))

  // --------------------------------------------------------------- checks

  private def checkBulk(rec: Recorder, bulk: Bulk, out: String): Unit = {
    val Bulk(curated, quantizer, semantic, manifest) = bulk
    val rows = curated.docs.select("id", "text", "quality_score", "split",
      "pack_bucket", "pack_bin", "bin_offset").collect()
    val texts = rows.map(_.getString(1))
    rec.check(texts.distinct.length == texts.length, "two curated docs share a text")
    val kept = rows.map(_.getLong(0)).toSet
    val byId = data.docs.map(d => d.id -> d.text).toMap
    for ((a, b) <- data.nearPairs) {
      val j = jaccard(shingles(byId(a), 3), shingles(byId(b), 3))
      if (j >= MinJaccard)
        rec.check(!(kept(a) && kept(b)), s"near pair ($a, $b) at Jaccard $j both survived")
    }
    val evalGrams = data.eval.flatMap(d => shingles(d.text, 5)).toSet
    rows.foreach { r =>
      val shared = shingles(r.getString(1), 5).count(evalGrams)
      rec.check(shared < MinShared, s"doc ${r.getLong(0)} shares $shared 5-grams with the eval set")
      rec.check(r.getDouble(2) >= MinQuality, s"doc ${r.getLong(0)} quality ${r.getDouble(2)}")
    }
    // splits near 90/5/5 (within 5 standard deviations of a fair hash)
    val n = rows.length.toDouble
    for ((name, share) <- Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)) {
      val got = rows.count(_.getString(3) == name) / n
      rec.check(math.abs(got - share) <= 5 * math.sqrt(share * (1 - share) / n) + 0.005,
        s"split $name holds ${got * 100}% of $n docs")
    }
    // word packing: each split's buckets lay docs end to end from offset 0
    val words = rows.map(r => (r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6),
      tokens(r.getString(1)).size.toLong, r.getLong(0)))
    checkPacking(rec, "word", words.map(w => ((w._1, w._2), w._3, w._4, w._5, w._6)),
      PackBudget)
    rows.foreach(r => rec.check(r.getLong(4) == r.getLong(0) % PackBuckets,
      s"doc ${r.getLong(0)} in bucket ${r.getLong(4)}"))
    val rep = curated.report
    val chain = Seq(rep.input, rep.afterExactDedup, rep.afterNearDedup, rep.afterSpanDedup,
      rep.afterDecontamination, rep.afterQualityFilter, rep.afterMixture)
    rec.check(chain.sliding(2).forall { case Seq(a, b) => a >= b }, s"report not monotone: $chain")
    rec.check(rep.input == nDocs && rep.afterExactDedup == data.docs.map(_.text).distinct.size,
      s"report input ${rep.input}, after exact ${rep.afterExactDedup}")
    rec.check(rep.afterQualityFilter == rows.length,
      s"report keeps ${rep.afterQualityFilter}, output has ${rows.length}")
    val survivors = checkSemantic(rec, kept, quantizer, semantic)
    // training shards: every surviving doc once, token-packed end to end
    val shards = spark.read.json(s"$out/shards/shards")
      .select("id", "n_tokens", "pack_bucket", "pack_bin", "bin_offset", "token_ids").collect()
    rec.check(shards.map(_.getLong(0)).sorted.sameElements(survivors.toSeq.sorted),
      s"shards hold ${shards.length} docs, ${survivors.size} survived")
    rec.check(shards.forall(r => r.getSeq[Long](5).size == r.getLong(1)),
      "a shard row's n_tokens differs from its token_ids")
    checkPacking(rec, "token", shards.map(r => ((r.getLong(2): Any, 0L), r.getLong(3),
      r.getLong(4), r.getLong(1), r.getLong(0))), ShardBudget)
    val total = manifest.agg(sum("n_rows")).head().getLong(0)
    rec.check(total == survivors.size, s"manifest counts $total rows, ${survivors.size} survived")
  }

  /** Plain-Scala exact SemDeDup of the curated docs' embeddings under the
    * returned quantizer: same assignment, and a vector is dropped iff a
    * lower-id vector of its cluster reaches `MinCosine`; every dropped
    * vector has a kept one, and of each planted copy pair that survived
    * curation and reaches `MinCosine` one drops. Returns the ids that
    * survive. */
  private def checkSemantic(rec: Recorder, curated: Set[Long], quantizer: Similarity.IvfIndex,
      semantic: Array[(Long, Long, Boolean)]): Set[Long] = {
    rec.check(semantic.map(_._1).toSet == curated,
      s"semantic dedup returned ${semantic.length} vectors for ${curated.size} curated docs")
    val got = semantic.map(r => r._1 -> (r._2, r._3)).toMap
    val vec = emb.ids.zip(emb.vecs).toMap
    val byCluster = curated.toSeq.groupBy(id => nearest(vec(id), quantizer.centroidsFlat, quantizer.k))
    var wrongCluster = 0
    for ((c, members) <- byCluster) {
      val sorted = members.sorted
      sorted.zipWithIndex.foreach { case (id, pos) =>
        if (!got.get(id).exists(_._1 == c)) wrongCluster += 1
        val drop = (0 until pos).exists(p => cosine(vec(sorted(p)), vec(id)) >= MinCosine)
        rec.check(got.get(id).exists(_._2 == drop), s"vector $id dropped=${got.get(id)}, expected $drop")
        if (drop) rec.check(members.exists(j => j != id && got.get(j).exists(!_._2) &&
          cosine(vec(j), vec(id)) >= MinCosine), s"dropped vector $id has no kept neighbour")
      }
    }
    rec.check(wrongCluster == 0, s"$wrongCluster vectors in a different cluster")
    emb.dupOf.foreach { case (d, src) =>
      if (curated(d) && curated(src) && cosine(vec(d), vec(src)) >= MinCosine)
        rec.check(got.get(d).exists(_._2) || got.get(src).exists(_._2),
          s"planted copy pair ($d, $src) both survived semantic dedup")
    }
    semantic.collect { case (id, _, false) => id }.toSet
  }

  /** Packed streams are contiguous: within each stream, ordered by (bin,
    * offset), every doc starts where the previous one ended, and offsets
    * stay inside the budget. A doc may run past its bin's end: those bins
    * are counted, not failed (the packer assigns a doc to the bin its start
    * falls in). */
  private def checkPacking(rec: Recorder, what: String,
      rows: Seq[(Any, Long, Long, Long, Long)], budget: Long): Unit = {
    var over = 0
    rows.groupBy(_._1).foreach { case (stream, docs) =>
      val sorted = docs.sortBy(d => (d._2, d._3))
      var next = 0L
      sorted.foreach { case (_, bin, off, n, id) =>
        rec.check(bin * budget + off == next && off >= 0 && off < budget,
          s"$what stream $stream: doc $id at bin $bin offset $off, expected start $next")
        next = bin * budget + off + n
      }
      over += sorted.groupBy(_._2).count { case (bin, ds) =>
        ds.map(d => d._3 + d._4).max > budget }
    }
    if (over > 0) System.err.println(s"[perfbench] $what packing: $over of " +
      s"${rows.map(r => (r._1, r._2)).distinct.size} bins run past the budget")
  }

  /** No admitted doc repeats a text of the corpus or of an earlier batch. */
  private def checkIngest(rec: Recorder, rep: Curate.IngestReport, out: String,
      i: Int): Unit = {
    val docs = spark.read.parquet(out).select("id", "text", "quality_score").collect()
    val corpusTexts = data.docs.map(_.text).toSet
    val texts = docs.map(_.getString(1))
    rec.check(texts.distinct.length == texts.length, s"batch $i admitted a text twice")
    texts.foreach { t =>
      rec.check(!admitted(t) && !corpusTexts(t), s"batch $i admitted an earlier text")
    }
    admitted ++= texts
    rec.check(docs.forall(_.getDouble(2) >= MinQuality), s"batch $i admitted a low-quality doc")
    rec.check(rep.batch == data.batches(i).size && rep.afterQualityFilter == docs.length &&
      rep.afterExactDedup <= rep.batch && rep.afterNearDedup <= rep.afterExactDedup,
      s"batch $i report $rep, ${docs.length} rows written")
  }
}

object CurateWorkload {
  private val MinJaccard = 0.5
  private val MinShared = 3L
  private val MinQuality = 0.3
  private val PackBudget = 512L
  private val PackBuckets = 8
  private val ShardBudget = 2048L
  private val NumMerges = 6
  // the output width of a small sentence-embedding model (all-MiniLM-L6-v2)
  private val Dim = 384
  private val Clusters = 8
  private val MinCosine = 0.95

  /** `nearest_centroid_f32`: squared L2 in double, lowest id on ties. */
  private def nearest(v: Array[Float], flat: Array[Double], k: Int): Long = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var d = 0.0
      var j = 0
      while (j < v.length) { val x = v(j).toDouble - flat(c * v.length + j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best.toLong
  }

  /** `cosine_f32`: one left-to-right double pass. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** `TextAnalysis.tokens` of lowercased text, in plain Scala. */
  private def tokens(text: String): Seq[String] =
    text.toLowerCase.split("\\W+").toSeq.filter(_.nonEmpty)

  private def shingles(text: String, n: Int): Set[String] =
    tokens(text).sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size
}
