package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The composed curation pipeline over the real documents fixture: each
  * stage is individually oracled elsewhere; this spec verifies the
  * COMPOSITION contract — ordering, leakage guards, split-confined
  * packing, and end-to-end determinism.
  */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  private def docs = graft.Tables.documents(spark, sf)
    .select("doc_id", "text")

  test("full curation: stage counts monotone, quality gate holds, report consistent") {
    // contaminate deliberately: three corpus docs become the eval set
    val evalSet = docs.where($"doc_id".isin(5L, 17L, 42L))
    val out = Curate.run(docs, "doc_id", "text", evalSet,
      minQuality = 0.3)
    val r = out.report
    assert(r.input > 0)
    assert(r.afterExactDedup <= r.input)
    assert(r.afterNearDedup <= r.afterExactDedup)
    assert(r.afterSpanDedup === r.afterNearDedup) // stage disabled by default
    assert(r.afterDecontamination <= r.afterSpanDedup)
    assert(r.afterQualityFilter <= r.afterDecontamination)
    assert(r.afterMixture === r.afterQualityFilter) // stage disabled by default
    val result = out.docs.cache()
    assert(result.count() == r.afterQualityFilter)
    // eval leakage: the eval docs themselves must be gone (each shares all
    // of its shingles with itself)
    assert(result.where($"doc_id".isin(5L, 17L, 42L)).count() == 0)
    // quality gate
    assert(result.where($"quality_score" < 0.3).count() == 0)
    // no surviving exact-duplicate text
    assert(result.groupBy("text").count().where($"count" > 1).count() == 0)
    result.unpersist()
    out.caches.foreach(Checkpoints.release(_))
  }

  test("run(report = true) hands out its retained stage: released, nothing stays persisted") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Curate.run(docs, "doc_id", "text", empty)
    assert(out.docs.count() === out.report.afterMixture)
    assert(out.caches.size === 1, "the report run retains its last counted stage")
    out.caches.foreach(Checkpoints.release(_, blocking = true))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }

  test("crawl composition: gate drops never reach curation, extraction precedes dedup") {
    // three pages on one host: two carry the SAME article under different
    // chrome (nav/footer differ — only post-extraction dedup can see the
    // duplication), one is robots-blocked and must never enter the run
    val article = "<p>a genuinely informative paragraph of plain prose " +
      "that survives the quality gate with room to spare today</p>"
    val pages = Seq(
      ("https://c.example/a", s"<html><body><nav><a href='/'>One</a></nav>$article</body></html>"),
      ("https://c.example/b", s"<html><body><footer>Other chrome</footer>$article</body></html>"),
      ("https://c.example/blocked/x", s"<html><body>$article</body></html>"))
      .toDF("url", "html")
    val rules = Policy.parseRobots(
      Seq(("c.example", "User-agent: *\nDisallow: /blocked/")).toDF("host", "body"),
      "host", "body", "*")
    val gated = Policy.gate(pages, "url", "html", hostRules = Some(rules))
    val kept = gated.where($"policy_keep")
      .select(monotonically_increasing_id().as("doc_id"), $"html".as("text"))
    assert(kept.count() === 2, "the robots-blocked page must drop at the gate")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curate.run(kept, "doc_id", "text", empty,
      htmlInput = true, minQuality = 0.0)
    assert(out.report.input === 2)
    assert(out.report.afterExactDedup === 1,
      "same article under different chrome must exact-dedup AFTER extraction " +
        "— markup-level dedup would keep both")
    val row = out.docs.select("text").as[String].head()
    assert(!row.contains("<"), "curated text must be extracted, not markup")
    out.caches.foreach(Checkpoints.release(_))
  }

  test("learned quality gate composes upstream of curation (fit -> scoreWith -> run)") {
    // the trained-classifier stage slots in front of Curate.run exactly
    // like Policy.gate does: fit on a labeled seed, gate the crawl batch,
    // curate the survivors. Vocabulary-disjoint planted classes make the
    // assertion sharp: every spam doc must be gone BEFORE curation and
    // every prose doc must flow through to packed output.
    val prose = Seq("research", "method", "evidence", "analysis", "results",
      "careful", "measured", "report", "study", "findings")
    val spam = Seq("cheap", "pills", "winner", "click", "prize",
      "free", "casino", "jackpot", "loan", "urgent")
    // salt rotates the word ORDER only — the batch must stay in-vocabulary
    // (unseen tokens hash to arbitrary buckets and carry no signal)
    def doc(words: Seq[String], salt: Int): String =
      (0 until 15).map(i => words((i + salt * 3) % words.size)).mkString(" ")
    val seed = ((0 until 12).map(i => (i.toLong, doc(prose, i), true)) ++
      (0 until 12).map(i => (200L + i, doc(spam, i), false)))
      .toDF("doc_id", "text", "is_good")
    val weights = TextAnalysis.fitQualityClassifier(seed, "doc_id", "text",
      "is_good", buckets = 256, rounds = 3)
    // a fresh batch from the same two distributions (unseen salts)
    val batch = ((50 until 60).map(i => (i.toLong, doc(prose, i))) ++
      (250 until 260).map(i => (i.toLong, doc(spam, i))))
      .toDF("doc_id", "text")
    val gated = TextAnalysis.qualityClassifierScoreWith(batch, "doc_id",
        weights, buckets = 256)
      .where($"keep").select($"doc_id")
      .join(batch, Seq("doc_id"))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curate.run(gated, "doc_id", "text", empty, minQuality = 0.0)
    assert(out.report.input === 10,
      "the learned gate must drop every spam doc and keep every prose doc")
    assert(out.docs.where($"doc_id" >= 250).count() === 0)
    // the prose batch is 10 rotations of one cyclic word ring — their
    // trigram sets coincide, so near-dedup correctly collapses them to
    // one canonical that flows through to packing
    assert(out.report.afterNearDedup === 1 && out.docs.count() === 1,
      "rotations of one ring must collapse to a single packed canonical")
    out.caches.foreach(Checkpoints.release(_))
  }

  test("optional stages: span dedup binds, mixture whitelists and rebalances") {
    // plant a boilerplate PAIR the earlier dedup stages must keep: the two
    // docs share a 12-token licence header (span coverage ~44% each) but
    // differ in the majority of their trigrams (Jaccard well under 0.5),
    // so only the span stage can catch them
    val boiler = "copyright notice all rights reserved redistribution " +
      "permitted provided this header stays intact"
    val planted = Seq(
      (900001L, s"$boiler alpha1 bravo1 charlie1 delta1 echo1 foxtrot1 " +
        "golf1 hotel1 india1 juliet1 kilo1 lima1 mike1 nov1 oscar1", "en"),
      (900002L, s"$boiler alpha2 bravo2 charlie2 delta2 echo2 foxtrot2 " +
        "golf2 hotel2 india2 juliet2 kilo2 lima2 mike2 nov2 oscar2", "en"))
      .toDF("doc_id", "text", "lang")
    val full = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").unionByName(planted)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curate.run(full, "doc_id", "text", empty,
      maxSpanPermyriad = 3000L, spanK = 8,
      minQuality = 0.0,
      mixture = Some(Curate.MixtureSpec("lang",
        Seq("en" -> 5000, "de" -> 5000), budget = 40L)))
    val r = out.report
    assert(r.afterSpanDedup < r.afterNearDedup,
      s"span stage removed nothing: ${r.afterNearDedup} -> ${r.afterSpanDedup}")
    assert(r.afterMixture < r.afterQualityFilter)
    val result = out.docs.cache()
    assert(result.count() == r.afterMixture)
    // the planted boilerplate pair is gone, and it was the SPAN stage that
    // did it (both docs survive to that stage by construction)
    assert(result.where($"doc_id".isin(900001L, 900002L)).count() == 0)
    // mixture whitelist: only the targeted domains survive
    assert(result.select("lang").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("en", "de")))
    result.unpersist()
    out.caches.foreach(Checkpoints.release(_))
  }

  test("curation honors caller column names (idCol/textCol are not doc_id/text)") {
    val renamed = docs.toDF("id", "body")
    val alt = Curate.run(renamed, "id", "body",
      evalSet = renamed.limit(2), report = false)
    assert(alt.docs.columns.contains("id"))
    assert(alt.docs.count() > 0)
  }

  test("packing is split-confined and deterministic across runs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def run() = Curate.run(docs, "doc_id", "text", empty, report = false).docs
    val a = run().select("doc_id", "split", "pack_bucket", "pack_bin", "bin_offset")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val b = run().select("doc_id", "split", "pack_bucket", "pack_bin", "bin_offset")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(a == b, "curation is not deterministic across runs")
    // split confinement, checked for real: recompute the expected packing
    // from scratch on the driver — running sum in (n_tokens desc, id)
    // order WITHIN each (split, bucket) stream — and require exact
    // equality. A packer that ignored the split salt would lay documents
    // of different splits end-to-end in one stream and disagree here.
    val out = run()
      .withColumn("__n", graft.ops.TextAnalysis.tokenCount($"text"))
      .select("doc_id", "split", "pack_bucket", "pack_bin", "bin_offset", "__n")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val budget = 2048L
    out.groupBy { case (_, split, bucket, _, _, _) => (split, bucket) }
      .foreach { case (_, rows) =>
        var start = 0L
        rows.sortBy { case (id, _, _, _, _, n) => (-n, id) }
          .foreach { case (id, _, _, bin, off, n) =>
            assert(bin == start / budget,
              s"doc $id: bin $bin != expected ${start / budget}")
            assert(off == start - (start / budget) * budget,
              s"doc $id: offset $off != expected")
            start += n
          }
      }
    val splitsSeen = out.map(_._2).toSet
    assert(splitsSeen.subsetOf(Set("train", "val", "test")))
    assert(splitsSeen.contains("train"))
  }

  test("ingest: append-mode composition, index delta, and re-ingest idempotence") {
    val hist = docs.where($"doc_id" < 300)
    val (bands, rowsPerBand) = (8, 2)
    val index0 = Curate.DedupIndex(
      hist.select(md5($"text").as("digest")).distinct(),
      Dedup.buildNearDupIndex(hist, "doc_id", "text", n = 3, bands, rowsPerBand))
    val batch = docs.where($"doc_id".between(300, 399))
      // exact dup of an indexed doc and an in-batch exact dup pair
      .unionByName(docs.where($"doc_id" === 5)
        .select(lit(90005L).as("doc_id"), $"text"))
      .unionByName(docs.where($"doc_id" === 310)
        .select(lit(91000L).as("doc_id"), $"text"))
    val r1 = Curate.ingest(batch, "doc_id", "text", index0,
      bands = bands, rowsPerBand = rowsPerBand)
    // the planted exact dups never survive
    val ids = r1.docs.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(90005L) && !ids.contains(91000L))
    // stage counts monotone
    assert(r1.report.afterExactDedup <= r1.report.batch)
    assert(r1.report.afterNearDedup <= r1.report.afterExactDedup)
    assert(r1.report.afterQualityFilter <= r1.report.afterNearDedup)
    // index delta covers exactly the dedup survivors (quality-dropped
    // docs INCLUDED: the index tracks dedup state, not quality)
    assert(r1.newDigests.count() === r1.report.afterNearDedup)
    assert(r1.newBandedRows.select("doc_id").distinct().count()
      === r1.report.afterNearDedup)
    // quality gate holds on the output
    assert(r1.docs.where($"quality_score" < 0.3).count() === 0)
    // re-ingest the SAME batch against the grown index: everything drops
    // at the exact stage (idempotence)
    val index1 = Curate.DedupIndex(
      index0.digests.unionByName(r1.newDigests),
      index0.banded.unionByName(r1.newBandedRows))
    val r2 = Curate.ingest(batch, "doc_id", "text", index1,
      bands = bands, rowsPerBand = rowsPerBand)
    assert(r2.report.afterNearDedup === 0L,
      s"re-ingest admitted ${r2.report.afterNearDedup} docs")
    assert(r2.docs.count() === 0L)
  }

  test("ingest hands out its in-batch components' checkpoints: released, nothing stays persisted") {
    val hist = docs.where($"doc_id" < 300)
    val (bands, rowsPerBand) = (8, 2)
    val index = Curate.DedupIndex(
      hist.select(md5($"text").as("digest")).distinct(),
      Dedup.buildNearDupIndex(hist, "doc_id", "text", n = 3, bands, rowsPerBand))
    // an in-batch near-duplicate: the connected components have an edge
    val batch = docs.where($"doc_id".between(300, 339))
      .unionByName(docs.where($"doc_id" === 310)
        .select(lit(91000L).as("doc_id"),
          concat($"text", lit(" addendum")).as("text")))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // forced distributed: the driver-side components retain nothing
    val r = DriverBound.distributedOnly(Curate.ingest(batch, "doc_id", "text",
      index, bands = bands, rowsPerBand = rowsPerBand))
    assert(!r.docs.select("doc_id").as[Long].collect().contains(91000L),
      "the in-batch near-duplicate must drop")
    r.newDigests.count()
    r.newBandedRows.count()
    r.caches.foreach(Checkpoints.release(_))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }

  /** The `q_curate_incremental` shape: an index over docs < 300, then two
    * chained ingest rounds — round 2 probes the index grown by round 1's
    * delta, so its plans read round 1's cuts. */
  private def twoRounds(): (Curate.IngestedBatch, Curate.IngestedBatch) = {
    val (bands, rowsPerBand) = (8, 2)
    val hist = docs.where($"doc_id" < 300)
    val index0 = Curate.DedupIndex(
      hist.select(md5($"text").as("digest")).distinct(),
      Dedup.buildNearDupIndex(hist, "doc_id", "text", n = 3, bands, rowsPerBand))
    val batch1 = docs.where($"doc_id".between(300, 399))
      .unionByName(docs.where($"doc_id" === 5)
        .select(lit(90005L).as("doc_id"), $"text"))
      .unionByName(docs.where($"doc_id" === 310)
        .select(lit(91000L).as("doc_id"), $"text"))
    val r1 = Curate.ingest(batch1, "doc_id", "text", index0,
      bands = bands, rowsPerBand = rowsPerBand)
    val index1 = Curate.DedupIndex(
      index0.digests.unionByName(r1.newDigests),
      index0.banded.unionByName(r1.newBandedRows))
    val batch2 = docs.where($"doc_id".between(400, 499))
      .unionByName(docs.where($"doc_id" === 310)
        .select(lit(92000L).as("doc_id"), $"text"))
    (r1, Curate.ingest(batch2, "doc_id", "text", index1,
      bands = bands, rowsPerBand = rowsPerBand))
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("chained ingest rounds hand off cuts: flat plans, outputs readable until release, nothing left") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (r1, r2) = twoRounds()
    // every stage hand-off is a LogicalRDD leaf: round 2's plans neither
    // embed a cached plan nor grow with round 1's pipeline
    for ((name, df) <- Seq("docs" -> r2.docs, "newDigests" -> r2.newDigests,
        "newBandedRows" -> r2.newBandedRows)) {
      val plan = formatted(df)
      assert(!plan.contains("InMemoryRelation"), s"round 2 $name plans a cache")
      assert(plan.length < (1 << 20), s"round 2 $name plan is ${plan.length} chars")
    }
    // consume every output AFTER both rounds returned: a cut released
    // inside ingest would fail these with "Checkpoint block … not found"
    for (r <- Seq(r1, r2)) {
      assert(r.docs.count() === r.report.afterQualityFilter)
      assert(r.newDigests.count() === r.report.afterNearDedup)
      assert(r.newBandedRows.select("doc_id").distinct().count()
        === r.report.afterNearDedup)
    }
    val ids2 = r2.docs.select("doc_id").as[Long].collect().toSet
    assert(!ids2.contains(92000L), "the cross-batch exact duplicate must drop")
    (r1.caches ++ r2.caches).foreach(Checkpoints.release(_))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }

  test("run with report: consume, release caches, nothing stays persisted") {
    val sc = spark.sparkContext
    val evalSet = docs.where($"doc_id".isin(5L, 17L, 42L))
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = Curate.run(docs, "doc_id", "text", evalSet)
    assert(!formatted(out.docs).contains("InMemoryRelation"))
    assert(out.docs.count() === out.report.afterQualityFilter)
    out.caches.foreach(Checkpoints.release(_))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.values.mkString(", ")}")
  }

  test("tokenizePack: hand-derived bins on encoded (BPE) lengths") {
    // Sennrich corpus: encoded lengths 15/10/24/12 under (e,s)->(es,t)
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")
    ).toDF("doc_id", "text")
    val out = consume(Curate.tokenizePackCached(corpus, "doc_id", "text",
        merges = Seq(("e", "s"), ("es", "t")),
        packBudget = 16L, packBuckets = 2))(_.collect())
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("pack_bucket"),
          r.getAs[Long]("pack_bin"), r.getAs[Long]("bin_offset")))).toMap
    // bucket = doc_id % 2; within bucket (n_tokens desc, doc_id) cumsum:
    //  bucket 0: d4 (12) start 0 -> bin 0 @ 0; d2 (10) start 12 -> bin 0 @ 12
    //  bucket 1: d3 (24) start 0 -> bin 0 @ 0; d1 (15) start 24 -> bin 1 @ 8
    assert(out(1L) === ((15L, 1L, 1L, 8L)))
    assert(out(2L) === ((10L, 0L, 0L, 12L)))
    assert(out(3L) === ((24L, 1L, 0L, 0L)))
    assert(out(4L) === ((12L, 0L, 0L, 0L)))
  }

  test("writeTrainingShards: manifest verifies against the bytes on disk") {
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("trainshards").toString
    val manifest = Curate.writeTrainingShards(corpus, "doc_id", "text",
      merges = Seq(("e", "s"), ("es", "t")), packBudget = 16L,
      outDir = dir, packBuckets = 2, nShards = 3)
    assert(manifest.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head().getLong(0) == 4L)
    val audit = graft.sinks.ShardWriter.verifyShards(spark, dir)
    val rows = audit.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("ok")),
      s"shard audit failed: ${rows.mkString("; ")}")
  }
}
