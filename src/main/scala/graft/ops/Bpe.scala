package graft.ops

import graft.ops.Checkpoints.CutOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") as a
  * distributed operator: learn a merge table from a corpus, and apply a
  * learned merge table to segment text.
  *
  * Semantics (all deterministic, engine-reproducible):
  *  - pre-tokenization is the engine's standard `\w+` word stream
  *    ([[TextAnalysis.tokens]]); words train as bare character sequences
  *    (no end-of-word marker — documented simplification);
  *  - pair frequency counts EVERY adjacent symbol position (as
  *    subword-nmt does: "aaa" contributes (a,a) twice), weighted by the
  *    word's corpus count;
  *  - the merge chosen each round is the max-frequency pair with
  *    lexicographic (left, right) tie-break;
  *  - merging replaces matches greedily left-to-right without overlap:
  *    within each maximal run of consecutive match positions, even
  *    offsets merge ("aaaa" under (a,a) → [aa, aa]).
  *
  * Scale design (100 TB): training never iterates over the corpus — the
  * corpus collapses to the DISTINCT word-count table in one shuffle
  * (vocabulary grows sub-linearly with corpus size; ~10^7 rows at web
  * scale), and every merge round is two narrow passes over that table:
  * one window stage partitioned by word (pair marking + greedy-overlap
  * parity + rebuild) and one tiny pair-frequency aggregation, fused into
  * a single job per round by lazy per-round localCheckpoints. The
  * per-round top-1 collect is a 1-row model parameter fetch, the same
  * pattern as the distributed Lloyd fit
  * ([[Similarity.trainIvfCentroidsDistributed]]).
  */
object Bpe {

  /** One merge round over a (word, wcount, syms) frame: returns the
    * marked frame and the pair-frequency aggregate. Internal — the loop
    * drivers below own checkpointing.
    */
  private def pairFrequencies(words: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    words
      .select(col("word"), col("wcount"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("sym").as("left"), col("nxt").as("right"))
      .agg(sum(col("wcount")).as("freq"))
  }

  /** Apply ONE merge (l, r): the single-pair case of [[applyMergeBatch]]. */
  private[graft] def applyMerge(words: DataFrame, l: String, r: String): DataFrame =
    applyMergeBatch(words, Seq((l, r)))

  /** Greedy left-to-right non-overlapping application of ONE merge (l, r)
    * to a symbol array, as a pure per-row FOLD — no window, no explode, no
    * regroup. Equivalent to [[applyMergeBatch]]'s even-offset-in-run rule:
    * scanning left to right, a position merges iff the accumulator's tail
    * equals `l` and the current symbol is `r`; after a merge the tail
    * becomes `l + r`, which can never re-match as the LEFT operand
    * (|l + r| > |l|), so within a run of consecutive match positions
    * exactly the even offsets merge — the same greedy semantics, proved
    * bit-equal in BpeSpec (window vs fold on the full corpus word table)
    * and by the unchanged q_bpe_segment/encode/tokenize_pack oracles.
    *
    * Why it exists (r12 optimization round, guide §1.2/§2.4): replaying a
    * FIXED merge table through [[applyMergeBatch]] cost one window stage
    * per merge — posexplode + 4 window functions over a per-word sort +
    * an ObjectHashAggregate rebuild, ×5 merges = 12 Window / 9 Sort / 5
    * Generate nodes in the q_bpe_segment plan. The fold does the same
    * work in-row: the replay becomes `merges.size` chained narrow
    * projections with ZERO exchanges/sorts/generates. A/B on the sf0.1
    * word table (OPTIMIZATION_r12.md §1, checksum-equal): 1.70 s →
    * 0.27 s (6.3×).
    * Per-row cost is O(|word|²) array copies on short words — bounded by
    * word length, independent of corpus size, and the word table the
    * replay iterates is the DISTINCT vocabulary, which grows sublinearly
    * at 100 TB.
    */
  private[graft] def foldMerge(syms: Column, l: String, r: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)),
        (acc, x) =>
          when(element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(element_at(acc, -1), x))))
            .otherwise(concat(acc, array(x)))))

  /** Replay an ALREADY-LEARNED merge table over a (word, wcount, syms)
    * frame: one [[foldMerge]] projection per merge, chained. Each select
    * stages the previous round's array as a plain attribute, so the fold
    * lambdas never re-evaluate an upstream expression (and CollapseProject
    * keeps the projections separate — the multi-reference non-cheap
    * aggregate blocks inlining). Training keeps the window form
    * ([[applyMergeBatch]]): its rounds interleave pair-frequency
    * snapshots whose window reuses the word partitioning the rebuild
    * maintains.
    */
  private[graft] def replayMerges(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(words) { case (df, (l, r)) =>
      df.select(col("word"), col("wcount"), foldMerge(col("syms"), l, r).as("syms"))
    }

  /** Apply a BATCH of mutually non-interacting merges in one window pass,
    * greedy left-to-right non-overlapping per pair. The batch contract
    * (enforced by [[trainMergesBatched]]'s selection rule): no two pairs
    * share a symbol, including each pair's produced symbol — so matches
    * of different pairs can never occupy adjacent positions (adjacency
    * would mean a shared symbol at the junction), every maximal run of
    * consecutive match positions belongs to ONE pair, and the
    * single-pair parity rule applies to each run unchanged.
    *
    * One window stage over the word partition; the rebuilt array comes
    * from an order-independent sorted-struct aggregation.
    */
  private[graft] def applyMergeBatch(words: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "applyMergeBatch needs at least one pair")
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    val wRun = Window.partitionBy(col("word")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wGrp = Window.partitionBy(col("word"), col("grp"))
    val matchAny = pairs
      .map { case (l, r) => col("sym") === lit(l) && col("nxt") === lit(r) }
      .reduce(_ || _)
    val exploded = words
      .select(col("word"), col("wcount"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .withColumn("m", matchAny)
      // greedy-left overlap resolution: among consecutive match runs,
      // keep even offsets (grp = pos - running match count is constant
      // within a run; gmin anchors the run's first position)
      .withColumn("cm", sum(when(col("m"), 1).otherwise(0)).over(wRun))
      .withColumn("grp", when(col("m"), col("pos") - col("cm")))
      .withColumn("gmin", min(when(col("m"), col("pos"))).over(wGrp))
      .withColumn("keep_merge",
        col("m") && pmod(col("pos") - col("gmin"), lit(2)) === 0)
      .withColumn("absorbed", lag(col("keep_merge"), 1, false).over(w))
    exploded
      .where(!col("absorbed"))
      .withColumn("out_sym",
        when(col("keep_merge"), concat(col("sym"), col("nxt"))).otherwise(col("sym")))
      // group by word ALONE (wcount is functionally dependent — carried by
      // min): the output keeps HashPartitioning(word), which the next
      // round's window and rebuild both reuse — one tiny pair-frequency
      // shuffle per round is the loop's entire exchange budget
      .groupBy(col("word"))
      .agg(min(col("wcount")).as("wcount"),
        transform(array_sort(collect_list(struct(col("pos"), col("out_sym")))),
          s => s.getField("out_sym")).as("syms"))
  }

  /** Learned merge table: `numMerges` rows of
    * (merge_rank, lhs, rhs, freq), in learning order. Driver-side loop;
    * each round lazily localCheckpoints the re-segmented word table so
    * lineage stays constant-depth at one job per round.
    *
    * This is the CANONICAL Sennrich-sequential schedule — one merge per
    * round, exactly subword-nmt's learning order — and stays the path for
    * callers needing subword-nmt-compatible merge tables. The benched
    * `q_bpe_merges` switched to [[trainMergesBatched]] in r5, whose merge
    * order legitimately diverges when top-ranked pairs interact (see its
    * scaladoc); cross-round bench rows for that query are therefore not
    * like-for-like across the r4/r5 boundary.
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // LAZY checkpoints: each round's argmax job is also the job that
    // materializes the round's re-segmented table (one job per round, not
    // two); a table's parent is unpersisted only AFTER the collect that
    // materialized the table (unpersisting a localCheckpoint a live lazy
    // child still depends on would lose its blocks)
    var words = wordTable(docs, textCol).cutLineage(false)
    var parent: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      // 1-row parameter fetch: the round's winning pair (this action
      // materializes `words`, making its parent safe to release)
      val top = pairFrequencies(words)
        .orderBy(desc("freq"), col("left"), col("right"))
        .limit(1).collect()
      parent.foreach(Checkpoints.release(_))
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step + 1, l, r, f))
        parent = Some(words)
        words = applyMerge(words, l, r).cutLineage(false)
        step += 1
      }
    }
    parent.foreach(Checkpoints.release(_))
    Checkpoints.release(words)
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "freq")
  }

  /** Pick the round's batch from one ranked frequency snapshot: scan the
    * top `scanDepth` pairs in (freq desc, lhs, rhs) order and greedily
    * accept every pair whose symbols — lhs, rhs AND the produced
    * concatenation — are disjoint from every already-accepted pair's,
    * stopping at `cap`. Disjointness is what makes the batch well-defined:
    * no accepted pair's count, match positions, or output can be affected
    * by applying the others, so one window pass applies them all
    * ([[applyMergeBatch]]). Deterministic and snapshot-pure, hence
    * replayable as unrolled SQL. Shared by engine and oracle semantics —
    * the DuckDB twin unrolls this exact scan as an acceptance-chain CTE.
    */
  private[graft] def selectBatch(ranked: Seq[(String, String, Long)],
      cap: Int): Seq[(String, String, Long)] = {
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val used = scala.collection.mutable.HashSet.empty[String]
    ranked.foreach { case p @ (l, r, _) =>
      val syms = Seq(l, r, l + r)
      if (accepted.size < cap && syms.forall(!used.contains(_))) {
        accepted += p
        used ++= syms
      }
    }
    accepted.toSeq
  }

  /** Batched BPE training (the standard scalable-BPE schedule): each
    * round takes ONE pair-frequency snapshot, accepts up to `maxBatch`
    * mutually non-interacting pairs from its top `scanDepth` rows
    * ([[selectBatch]]), and applies the whole batch in one window pass —
    * cutting the driver round-trips and per-round job floors from
    * `numMerges` to ~`numMerges / batch`. Where the sequential greedy
    * order happens to be non-interacting, the learned table EQUALS
    * [[trainMerges]]'s (spec-asserted); where pairs interact, the batched
    * schedule is the DEFINED semantics of this operator and the oracle
    * replays it exactly (acceptance scan included).
    *
    * Scale design: identical to [[trainMerges]] — rounds iterate the
    * distinct word-count table, never the corpus; the snapshot fetch is a
    * `scanDepth`-row parameter collect.
    */
  def trainMergesBatched(docs: DataFrame, textCol: String, numMerges: Int,
      maxBatch: Int = 6, scanDepth: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxBatch >= 1 && scanDepth >= maxBatch,
      s"need scanDepth >= maxBatch >= 1, got maxBatch=$maxBatch scanDepth=$scanDepth")
    var words = wordTable(docs, textCol).cutLineage(false)
    var parent: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // scanDepth-row parameter fetch: the round's ranked snapshot (this
      // action materializes `words`, making its parent safe to release)
      val top = pairFrequencies(words)
        .orderBy(desc("freq"), col("left"), col("right"))
        .limit(scanDepth).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      parent.foreach(Checkpoints.release(_))
      val batch = selectBatch(top, math.min(maxBatch, numMerges - merges.size))
      if (batch.isEmpty) exhausted = true
      else {
        batch.foreach { case (l, r, f) => merges += ((merges.size + 1, l, r, f)) }
        parent = Some(words)
        words = applyMergeBatch(words, batch.map(p => (p._1, p._2)))
          .cutLineage(false)
      }
    }
    parent.foreach(Checkpoints.release(_))
    Checkpoints.release(words)
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "freq")
  }

  /** Segment the corpus with an ALREADY-LEARNED merge table: replay the
    * merges in rank order over the distinct word table, then map each
    * document's words through the final segmentation. Returns
    * (idCol, n_words, n_bpe_tokens): the corpus-budgeting numbers a
    * tokenizer consumer needs. The per-word segment table is the
    * broadcast side when small; the corpus side stays a narrow
    * projection.
    */
  def segmentCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // fold-based replay (r12): merges.size chained narrow projections —
    // no per-round window/sort/regroup, one job, no driver round-trips
    val words = replayMerges(wordTable(docs, textCol), merges)
    val segSizes = words.select(col("word"), size(col("syms")).cast(LongType).as("n_sub"))
    docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .join(broadcast(segSizes), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** BPE vocabulary (sym, token_id) for a learned merge table — the id
    * table [[encode]] emits against. The standard tokenizer-file layout:
    *  - the BASE ALPHABET (every distinct seed character of the corpus
    *    word table — including characters later absorbed entirely into
    *    merges) gets ids 0..C-1 in lexicographic order;
    *  - merge k (1-based rank) contributes its produced symbol at id
    *    C+k-1. A produced string can repeat across ranks ((a,bc) and
    *    (ab,c) both yield "abc"): the first rank keeps the id and later
    *    duplicates leave an unused id — the vocab-file convention, and
    *    the dedup is driver-side (merges are a literal parameter).
    * Merge symbols have length ≥ 2, so they never collide with the base
    * alphabet. Base ids come from the distributed [[Ids.globalRank]] (no
    * single-partition window); C rides a broadcast 1-row count.
    */
  def vocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    vocabFrom(docs.sparkSession, wordTable(docs, textCol), merges)

  private def vocabFrom(spark: org.apache.spark.sql.SparkSession,
      words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val chars = words.select(explode(col("syms")).as("sym")).distinct()
    val base = Ids.globalRank(chars, Seq("sym"), "token_id")
    val mergeSyms = mergeSymRanks(merges)
    if (mergeSyms.isEmpty) base
    else {
      val cnt = base.agg(count(lit(1)).as("__c"))
      base.unionByName(mergeSyms.toDF("sym", "__ord")
        .crossJoin(broadcast(cnt))
        .select(col("sym"), (col("__c") + col("__ord")).as("token_id")))
    }
  }

  /** Tokenize to ID SEQUENCES — the terminal encode a training pipeline
    * feeds to sequence packing: apply a learned merge table
    * ([[segmentCounts]]'s replay) and emit each document's token ids in
    * text order as (idCol, token_ids ARRAY<BIGINT>, n_tokens), ids per
    * [[vocab]]. Documents with no `\w+` token are absent (same inner-join
    * contract as [[segmentCounts]]). Retains the word-table checkpoint —
    * long-running callers use [[encodeCached]] and release.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encodeCached(docs, idCol, textCol, merges).df

  /** [[encode]] with its internal checkpoint handed out
    * ([[Checkpoints.CachedResult]] lifecycle).
    *
    * Scale shape — ONE corpus scan plus one corpus reassembly pass:
    *  - the corpus collapses to the distinct word-count table in one
    *    shuffle, checkpointed — the merge replay, the base alphabet AND
    *    the id mapping all read the materialized table instead of
    *    re-scanning the corpus (the uncheckpointed form measured 2
    *    corpus scans + 4 extra jobs and ran 4x slower than
    *    [[segmentCounts]] at sf0.1);
    *  - the BASE ALPHABET is a bounded parameter fetch (distinct seed
    *    characters — character-set-bounded, like an IVF centroid table),
    *    so sym→id is a plan-literal map lookup inside one narrow
    *    projection over the replayed words: no vocab join, no per-symbol
    *    explode/regroup. The whole tokenizer model (alphabet + merge
    *    table) is a driver-side object, exactly what a real tokenizer
    *    ships as a file; for corpus-scale vocabularies that outgrow a
    *    plan literal, [[vocab]] stays the distributed id table to join
    *    against;
    *  - word→ids rejoins the corpus by broadcast (word-table-sized), and
    *    the only corpus-sized shuffle is the per-document reassembly
    *    groupBy — the price of emitting actual sequences, paid once.
    */
  def encodeCached(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): Checkpoints.CachedResult =
    encodeCachedWithModel(docs, idCol, textCol, merges)._1

  /** [[encodeCached]] plus the driver-side symbol map it derived — the
    * model [[decode]] needs. Round-trip callers use THIS instead of a
    * separate [[symbolTable]] call, which would re-scan the corpus to
    * re-derive the identical alphabet.
    */
  def encodeCachedWithModel(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): (Checkpoints.CachedResult, Map[String, Long]) = {
    val wt = wordTable(docs, textCol).cutLineage(false)
    val words = replayMerges(wt, merges) // fold replay — no window rounds
    // bounded parameter fetch (this action also materializes wt): the
    // distinct seed characters of the corpus
    val chars = wt.select(explode(col("syms")).as("sym")).distinct()
      .collect().map(_.getString(0)).sorted
    val model = symToId(chars, merges)
    val idMap = typedLit(model)
    val wordIds = words.select(col("word"),
      transform(col("syms"), s => element_at(idMap, s)).as("__ids"))
    val out = docs
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("wpos", "word")))
      .join(broadcast(wordIds), Seq("word"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("wpos"), col("__ids")))),
        s => s.getField("__ids"))).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast(LongType))
    (Checkpoints.CachedResult(out, Seq(wt)), model)
  }

  /** Merge RESULT symbols at their first-occurrence rank, duplicates
    * dropped (first rank wins — the vocab-file convention). This ranking
    * is load-bearing for engine/oracle id parity, so it exists exactly
    * once: [[vocabFrom]], [[symToId]] and the DuckDB oracle builder
    * (SparkEntry's encode CTEs) all call it.
    */
  private[graft] def mergeSymRanks(
      merges: Seq[(String, String)]): Seq[(String, Long)] =
    merges.map { case (l, r) => l + r }.zipWithIndex
      .groupBy(_._1).map { case (s, occ) => (s, occ.map(_._2).min.toLong) }
      .toSeq.sortBy(_._2)

  /** sym → id per [[vocab]]'s convention: sorted base alphabet first,
    * then merge symbols at first-occurrence rank. Injective both ways
    * (merge symbols have length ≥ 2, so they never collide with the
    * 1-char alphabet; duplicate merge RESULTS keep the first rank).
    */
  private def symToId(chars: Array[String],
      merges: Seq[(String, String)]): Map[String, Long] =
    chars.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap ++
      mergeSymRanks(merges).map { case (s, o) => s -> (chars.length + o) }

  /** The driver-side tokenizer MODEL a decoder needs: the full sym → id
    * map ([[vocab]]'s id convention) derived from this corpus's seed
    * alphabet plus the merge table. A bounded parameter fetch — the
    * distinct character set is charset-bounded (like an IVF centroid
    * fetch), the merge list is already a literal. This is what a real
    * tokenizer persists as its vocab file; pass it to [[decode]].
    */
  def symbolTable(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): Map[String, Long] = {
    val chars = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .select(explode(charSplit(col("word"))).as("sym"))
      .distinct().collect().map(_.getString(0)).sorted
    symToId(chars, merges)
  }

  /** Inverse of [[encode]]: token-id sequences back to text. The
    * reconstruction concatenates decoded symbols with no separator, so
    * `decode(encode(text))` equals text's `\w+` tokens joined on "" —
    * whitespace and punctuation are not part of the token stream (the
    * [[TextAnalysis.tokens]] pre-tokenizer drops them), the standard
    * lossy-pre-tokenizer contract, and exactly the invariant
    * `q_bpe_roundtrip` oracles. An id absent from `symbols` poisons its
    * document's reconstruction to NULL (fail loud, never a silently
    * shortened document).
    *
    * Scale shape: one narrow codegen'd projection — the model rides the
    * plan as a literal map (tokenizer models are files, not tables); no
    * join, no shuffle.
    */
  def decode(encoded: DataFrame, idCol: String, tokenIdsCol: String,
      symbols: Map[String, Long]): DataFrame = {
    val idToSym = typedLit(symbols.map(_.swap))
    encoded
      .withColumn("__syms",
        transform(col(tokenIdsCol), i => element_at(idToSym, i)))
      .select(col(idCol),
        when(exists(col("__syms"), s => s.isNull), lit(null))
          .otherwise(concat_ws("", col("__syms"))).as("text_decoded"))
  }

  /** Distinct words of the corpus with counts and their initial
    * character-level segmentation. Character split is explicit substring
    * indexing (identical semantics in any SQL engine — no regex-split
    * edge cases around empty strings).
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .withColumn("syms", charSplit(col("word")))

  /** Character array of a string by explicit substring indexing. */
  private[graft] def charSplit(s: Column): Column =
    transform(sequence(lit(1), length(s)), i => substring(s, i, lit(1)))
}
