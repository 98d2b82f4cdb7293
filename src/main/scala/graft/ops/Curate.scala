package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** End-to-end training-data curation: the standard corpus-preparation
  * sequence — exact dedup → near dedup → [span dedup] → eval
  * decontamination → quality filter → [mixture selection] → train/val/
  * test split → per-split sequence packing — composed from this engine's
  * individually-oracled operators into ONE declarative pipeline. Each
  * stage is the already-verified implementation
  * ([[Dedup]], [[TextAnalysis]], [[Sampling]]); this object contributes
  * the composition contract, a run report, and the stage ordering that
  * matters at scale:
  *
  *  - for a crawl corpus, the compliance gate ([[Policy.gate]]: robots.txt,
  *    robots META directives, license clearance) runs as stage ZERO on the
  *    raw (url, html) frame — before [[run]] and before HTML extraction,
  *    because the signals live in the head/markup that extraction strips;
  *  - exact dedup FIRST (16-byte digest shuffle removes the cheap mass
  *    before anything tokenizes);
  *  - near dedup on the survivors (the shingle pipeline never sees exact
  *    copies — at web scale exact duplicates are the bulk of duplication);
  *  - substring-span dedup (optional) after near dedup: boilerplate
  *    coverage should describe the surviving corpus;
  *  - decontamination BEFORE quality filtering (a contaminated doc must
  *    drop even if high-quality — eval leakage is not negotiable, and the
  *    broadcast eval index makes this the cheapest stage);
  *  - the quality gate next (narrow, shuffle-free projection);
  *  - target-mixture selection (optional) after the quality gate — rates
  *    derive from the clean pool, and the budget describes what ships;
  *  - deterministic hash split, then packing WITHIN each split (packing
  *    first would let one bin straddle splits — leakage again).
  *
  * Every decision is a pure function of (doc_id, text), so the pipeline
  * is deterministic under retries and re-partitioning — the property that
  * lets a 100 TB curation run resume after any failure with identical
  * output.
  */
object Curate {

  /** Per-stage surviving-row counts, in pipeline order. A disabled
    * optional stage reports its predecessor's count (the chain stays
    * monotone either way). */
  final case class CurationReport(input: Long, afterExactDedup: Long,
      afterNearDedup: Long, afterSpanDedup: Long, afterDecontamination: Long,
      afterQualityFilter: Long, afterMixture: Long)

  /** Target-mixture stage spec: rebalance on `domainCol` to permyriad
    * `targets` within a `budget` (see [[Sampling.mixtureSelect]]). The
    * domain column must ride along on the input frame. */
  final case class MixtureSpec(domainCol: String,
      targets: Seq[(String, Int)], budget: Long)

  /** `caches`: with `report`, the last-stage lineage cut `docs` reads —
    * release each through [[Checkpoints.release]] once `docs` is
    * consumed. */
  final case class Curated(docs: DataFrame, report: CurationReport,
      caches: Seq[DataFrame] = Nil)

  /** Run the full curation over `docs(idCol, textCol)`.
    *
    * @param evalSet      held-out eval docs for decontamination (same
    *                     schema); pass an empty frame to skip
    * @param minQuality   [[TextAnalysis.qualityScoreFromTokens]] threshold in [0,1]
    * @param htmlInput    when true, `textCol` holds raw HTML (a WARC
    *                     crawl): [[Html.mainContent]] extraction runs
    *                     before any other stage, so dedup/quality see
    *                     content, never markup
    * @param splits       per-myriad split weights (sum 10000)
    * @param packBudget   token budget per packed training bin
    * @param report       when true, each counted stage is cut eagerly
    *                     ([[Checkpoints.cut]]) and its count reads only
    *                     the cut's blocks, so no stage prefix re-executes
    *                     and no later plan nests an earlier one; each
    *                     stage is released through [[Checkpoints.release]]
    *                     as soon as the next cut holds its rows, and the
    *                     returned frame reads the last cut, handed out in
    *                     [[Curated.caches]]. When false (production mode)
    *                     nothing is counted or stored — the pipeline is
    *                     one fully lazy plan and observability is the
    *                     caller's metrics layer.
    */
  def run(docs0: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame,
      minJaccard: Double = 0.5, maxDocFreq: Long = 20L,
      minShared: Long = 3L,
      maxSpanPermyriad: Long = 10000L, spanK: Int = 50,
      minQuality: Double = 0.3,
      mixture: Option[MixtureSpec] = None,
      splits: Seq[(String, Int)] =
        Seq(("train", 9000), ("val", 500), ("test", 500)),
      packBudget: Long = 2048L, packBuckets: Int = 32,
      htmlInput: Boolean = false,
      report: Boolean = true): Curated = {
    // raw-crawl front end: when the corpus arrives as HTML (a WARC scan),
    // main-content extraction runs FIRST — every downstream signal (the
    // dedup digests, shingles, quality tokens) must describe the CONTENT,
    // not the markup (two pages with identical articles but different nav
    // chrome are duplicates; tag soup must not count against quality).
    // Pure projection: rows are neither dropped nor added, so the report's
    // stage counts are unchanged in meaning.
    val docs = if (htmlInput)
      docs0.withColumn(textCol, Html.mainContent(col(textCol)))
    else docs0
    val cuts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // cut-then-count: each count reads only its OWN stage's blocks, and
    // each stage plans against a LogicalRDD leaf, never the pipeline prefix
    def cnt(df: DataFrame): (DataFrame, Long) =
      if (!report) (df, -1L)
      else {
        val c = Checkpoints.cut(df, eager = true)
        cuts += c
        (c, c.count())
      }

    val input = if (report) docs.count() else -1L
    val (exact, nExact) =
      cnt(Dedup.dropExactDuplicates(docs, idCol, textCol))
    val (near, nNear) = cnt(Dedup.dropNearDuplicates(exact, idCol, textCol,
      minJaccard = minJaccard, maxDocFreq = maxDocFreq))
    // substring-level span dedup (optional: 10000 permyriad admits all
    // coverage levels, so the stage is skipped outright rather than paying
    // the window pipeline for a no-op filter). AFTER near-dedup: coverage
    // statistics should describe the corpus that survives, not mass the
    // earlier stages already removed.
    val (spanned, nSpan) =
      if (maxSpanPermyriad >= 10000L) (near, nNear)
      else cnt(Dedup.dropSpanDuplicated(near, idCol, textCol,
        k = spanK, maxPermyriad = maxSpanPermyriad))
    // decontaminate's output is keyed "doc_id" regardless of idCol (the
    // shingle pipeline's canonical id name) — rename back for the join
    val contaminated = Dedup.decontaminate(spanned, evalSet, idCol, textCol,
        minShared = minShared)
      .select(col("doc_id").as(idCol))
    val (clean, nClean) = cnt(spanned.join(contaminated, Seq(idCol), "left_anti"))
    // stage the tokens ONCE: the quality expression reads them ~5 times
    // and the packer needs the count — inlining the tokenizer would
    // re-run the token scan per read (TextAnalysis's documented
    // production contract)
    val scored = clean
      .withColumn("__toks", TextAnalysis.lowerTokens(col(textCol)))
      .withColumn("quality_score",
        TextAnalysis.qualityScoreFromTokens(col("__toks")))
    val (kept, nKept) = cnt(scored.where(col("quality_score") >= minQuality))
    // target-mixture selection (optional): composition control belongs
    // AFTER the quality gate (rates derive from the clean pool) and
    // BEFORE the split (membership is key-hashed either way, but the
    // budget should describe the corpus that ships)
    val (mixed, nMixed) = mixture match {
      case None => (kept, nKept)
      case Some(m) => cnt(Sampling.mixtureSelect(kept, idCol, m.domainCol,
        m.targets, m.budget))
    }
    val split = Sampling.splitAssign(mixed, idCol, splits)
    // pack within each split: the packing window is salted by the split
    // name so bins can never straddle split boundaries
    val packed = Sampling.packSequences(
      split.withColumn("__n_tokens", size(col("__toks")).cast(LongType)),
      idCol, "__n_tokens", budget = packBudget, buckets = packBuckets,
      bucketSalt = Some(col("split")))
      .drop("__n_tokens", "__toks")
    // every cut holds its own rows, so only the LAST one — `mixed` when
    // the mixture stage ran, else `kept` — backs the returned frame; the
    // earlier cuts are read by nothing and release now
    cuts.dropRight(1).foreach(Checkpoints.release(_))
    Curated(packed,
      CurationReport(input, nExact, nNear, nSpan, nClean, nKept, nMixed),
      cuts.lastOption.toSeq)
  }

  /** The persisted dedup state an append-mode corpus maintains between
    * ingest rounds: one 16-byte content digest per admitted doc (exact
    * stage) and the banded MinHash rows (near stage,
    * [[Dedup.buildNearDupIndex]] layout). Bodies are never stored. */
  final case class DedupIndex(digests: DataFrame, banded: DataFrame)

  /** Per-stage surviving-row counts for one ingest round. */
  final case class IngestReport(batch: Long, afterExactDedup: Long,
      afterNearDedup: Long, afterQualityFilter: Long, afterMixture: Long)

  /** One ingested batch: the curated rows plus the index DELTA the caller
    * appends before the next round ([[DedupIndex]] union). `caches` are
    * the lineage cuts taken on the caller's behalf: each counted stage,
    * the banded signatures and the index matches of
    * [[Dedup.ingestNearIncremental]], and the in-batch connected
    * components' edges and labels. `docs`, `newDigests` and
    * `newBandedRows` read them, so release each through
    * [[Checkpoints.release]] only once all three are consumed — a cut
    * released earlier fails the consuming action with "Checkpoint block …
    * not found" (and `unpersist` does not reach a cut at all). */
  final case class IngestedBatch(docs: DataFrame, newDigests: DataFrame,
      newBandedRows: DataFrame, report: IngestReport,
      caches: Seq[DataFrame] = Nil)

  /** Append-mode curation (the reference's daily cadence applied to the
    * LLM surface): curate ONE new batch against the already-curated
    * corpus without ever re-reading it — the corpus is represented by
    * its [[DedupIndex]] (digests + banded signatures), so per-round cost
    * is O(|batch|) plus two index equi-joins regardless of corpus age.
    *
    * Stage order mirrors [[run]]: exact dedup (digest anti-join against
    * the index, min-id within batch), near dedup
    * ([[Dedup.ingestNearIncremental]]: index probe, then in-batch
    * connected components keeping lowest id), quality gate, optional
    * mixture selection, deterministic hash split, split-salted packing.
    *
    * Index-delta contract: a doc enters `newDigests`/`newBandedRows` iff
    * it survived BOTH dedup stages — the index tracks dedup state, not
    * the quality/mixture filters (orthogonal concerns: a quality-dropped
    * doc is still the canonical of its duplicate group, and re-ingesting
    * it must drop it as a duplicate, not re-admit it). Re-ingesting an
    * already-ingested batch therefore drops every row (spec-asserted
    * idempotence).
    */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
      index: DedupIndex,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.7,
      minQuality: Double = 0.3,
      mixture: Option[MixtureSpec] = None,
      splits: Seq[(String, Int)] =
        Seq(("train", 9000), ("val", 500), ("test", 500)),
      packBudget: Long = 2048L, packBuckets: Int = 32): IngestedBatch = {
    // every counted stage is cut eagerly: each feeds more than one
    // consumer (exact feeds the near-dup pipeline twice, accepted feeds
    // the digest delta and the quality tail), the count then reads only
    // the cut's blocks, and a cut is a LogicalRDD leaf, so neither a later
    // stage nor the next round's index plans against this round's
    // pipeline. `docs`, `newDigests` and `newBandedRows` all read the
    // cuts, so every one goes out in IngestedBatch.caches and none is
    // released here.
    val cuts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cnt(df: DataFrame): (DataFrame, Long) = {
      val c = Checkpoints.cut(df, eager = true)
      cuts += c
      (c, c.count())
    }
    val input = batch.count()
    // exact stage attaches the digest column the index delta reuses
    val (exact, nExact) =
      cnt(Dedup.ingestExactIncremental(batch, index.digests, idCol, textCol))
    val nearRes = Dedup.ingestNearIncremental(exact, index.banded, idCol,
      textCol, n, bands, rowsPerBand, minEstJaccard)
    val (accepted, nNear) = cnt(nearRes.accepted)
    val newDigests = accepted.select(col("digest"))
    val scored = accepted
      .withColumn("__toks", TextAnalysis.lowerTokens(col(textCol)))
      .withColumn("quality_score",
        TextAnalysis.qualityScoreFromTokens(col("__toks")))
    val (kept, nKept) = cnt(scored.where(col("quality_score") >= minQuality))
    val (mixed, nMixed) = mixture match {
      case None => (kept, nKept)
      case Some(m) => cnt(Sampling.mixtureSelect(kept, idCol, m.domainCol,
        m.targets, m.budget))
    }
    val split = Sampling.splitAssign(mixed, idCol, splits)
    val packed = Sampling.packSequences(
      split.withColumn("__n_tokens", size(col("__toks")).cast(LongType)),
      idCol, "__n_tokens", budget = packBudget, buckets = packBuckets,
      bucketSalt = Some(col("split")))
      .drop("__n_tokens", "__toks", "digest")
    IngestedBatch(packed, newDigests, nearRes.newIndexRows,
      IngestReport(input, nExact, nNear, nKept, nMixed),
      cuts.toSeq ++ nearRes.caches)
  }

  /** The TRAINING-BATCH TERMINAL path: tokenizer encode → sequence
    * packing — the step that turns a curated corpus into the dense
    * fixed-budget token sequences a trainer consumes. Composes
    * [[Bpe.encodeCachedWithModel]] (per-doc token-id arrays under a
    * learned merge table) with [[Sampling.packSequences]] on the REAL
    * encoded length (`n_tokens` = BPE tokens, not word counts — the
    * budget a trainer actually bins by). The encode's word-table
    * checkpoint is handed out ([[Checkpoints.CachedResult]] lifecycle).
    *
    * @return (idCol, token_ids, n_tokens, pack_bucket, pack_bin,
    *         bin_offset) — one row per surviving document; a training
    *         sequence is the (pack_bucket, pack_bin) group's token_ids
    *         laid end-to-end at their bin_offsets.
    */
  def tokenizePackCached(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], packBudget: Long,
      packBuckets: Int = 32): Checkpoints.CachedResult = {
    val (enc, _) = Bpe.encodeCachedWithModel(docs, idCol, textCol, merges)
    Checkpoints.CachedResult(
      Sampling.packSequences(enc.df, idCol, "n_tokens",
        budget = packBudget, buckets = packBuckets),
      enc.caches)
  }

  /** [[tokenizePackCached]] shipped to disk: shard by TRAINING SEQUENCE (the
    * (pack_bucket, pack_bin) bin, not the document — a shard holds whole
    * training sequences, so a trainer reads each sequence from one file)
    * through [[graft.sinks.ShardWriter.writeShards]]'s manifest-audited
    * export. `seq_id` = pack_bucket·2^40 + pack_bin (exact below any
    * realistic bin count; bin ordinals are corpus/budget-bounded).
    * @return the shard manifest (shard, n_rows, checksum) —
    *         `ShardWriter.verifyShards(outDir)` re-audits the bytes.
    */
  def writeTrainingShards(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], packBudget: Long, outDir: String,
      packBuckets: Int = 32, nShards: Int = 8): DataFrame = {
    val packed = tokenizePackCached(docs, idCol, textCol, merges, packBudget,
      packBuckets)
    graft.sinks.ShardWriter.writeShards(
      packed.df.withColumn("seq_id",
        col("pack_bucket") * lit(1099511627776L) + col("pack_bin")),
      outDir, "seq_id", nShards)
    // both writes have materialized — the encode checkpoint releases HERE
    // (not on the caller), and the returned manifest reads from disk so
    // it carries no lineage into the released blocks
    packed.release()
    docs.sparkSession.read.parquet(s"$outDir/_manifest")
  }
}
