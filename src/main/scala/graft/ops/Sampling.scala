package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus-curation operators: reproducible sampling, stratum
  * rebalancing and per-domain quota capping — the selection layer of a
  * training-data pipeline (what runs between dedup/quality-scoring and the
  * final mixture write).
  *
  * Design for 100 TB:
  *  - Sampling is a pure narrow FILTER on a key hash — no shuffle, no RNG
  *    state, no driver coordination. Reruns, retries and backfills select
  *    the same rows (task-level `rand()` sampling does not survive task
  *    retry; this does). The predicate is pushable to the scan when the
  *    key is a partition/stats column.
  *  - The hash is plain 64-bit integer arithmetic (Knuth multiplicative
  *    hashing over a 2^32 ring), so any SQL engine reproduces the same
  *    selection — which is also what makes the DuckDB oracle exact.
  *  - Quota capping is one shuffle on the group key; the rank predicate is
  *    pushed into the sort by Spark's WindowGroupLimit, so each map task
  *    keeps only `n` rows per group before the exchange — a skewed domain
  *    never materializes its full partition.
  */
object Sampling {

  /** Ring size of the portable hash: 2^32. */
  val HashRing: Long = 4294967296L

  /** Full-ring selection threshold for an expected `quota` rows out of `n`:
    * floor(quota · 2^32 / n), clamped to [1, 2^32]. The LOWER clamp is the
    * load-bearing part: once n > quota · 2^32 (a multi-billion-row domain
    * with a small quota) the floor alone is 0 — total silent dropout of a
    * domain the caller asked to keep, the exact cliff the ring design
    * exists to avoid, resurfacing one level down. Clamping to 1 keeps an
    * expected n/2^32 rows (≥1 precisely when the floor would have lied).
    * One double multiply-divide then integer ops — the same IEEE sequence
    * on any engine, so oracles must mirror `greatest(1, least(2^32, ...))`
    * verbatim.
    */
  private[graft] def ringThreshold(quota: Column, n: Column): Column =
    least(lit(HashRing),
      greatest(lit(1L), floor(quota * lit(4294967296.0) / n)))
      .cast("long")

  /** Deterministic bucket in [0, buckets) from an integer key: Knuth
    * multiplicative hash (A = 2654435761, the golden-ratio multiplier) with
    * an odd offset, reduced mod 2^32 then mod `buckets`. Identical integer
    * arithmetic in any 64-bit SQL engine; keys must stay below ~3.4e9 for
    * overflow-free portability (int64 product), which holds for ordinal
    * document ids — for arbitrary 64-bit ids, swap in `xxhash64` and give
    * up SQL-engine portability, not determinism.
    */
  private[graft] def hashBucket(key: Column, buckets: Int = 10000): Column =
    pmod(key * lit(2654435761L) + lit(104729L), lit(HashRing)) % buckets

  /** Reproducible Bernoulli sample: keep rows whose key hashes into the
    * first `perMyriad` of 10,000 buckets (perMyriad = 500 → 5%). The same
    * key is always in or always out — stable across reruns, partitions and
    * engines.
    */
  def bernoulliSample(df: DataFrame, keyCol: String, perMyriad: Int): DataFrame =
    df.filter(hashBucket(col(keyCol)) < perMyriad)

  /** Stratified sample with per-stratum rates (per-myriad), e.g. to
    * downsample a dominant source or upsample a rare language before
    * mixture weighting. Strata absent from `rates` use `defaultPerMyriad`.
    * Still a single narrow filter — the rate lookup is a codegen'd CASE
    * chain, not a join.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Int], defaultPerMyriad: Int): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPerMyriad)) {
      case (acc, (stratum, r)) => when(col(stratumCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < rate)
  }

  /** Deterministic train/val/test split assignment: the key's hash bucket
    * is mapped to a split label by cumulative per-myriad weights (e.g.
    * 8000/1000/1000). The split is a property of the KEY — stable across
    * reruns, engines, partitionings and later corpus additions (a new
    * document never moves an old one between splits, the invariant that
    * keeps eval sets honest as a corpus grows).
    */
  def splitAssign(df: DataFrame, keyCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 10000,
      s"split weights must sum to 10000 per-myriad, got ${splits.map(_._2).sum}")
    val bucket = hashBucket(col(keyCol))
    val cumulative = splits.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val label = splits.zip(cumulative).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(bucket < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Deterministic negative-pair generation for contrastive training: for
    * each anchor key, `k` pseudo-random partner ids in [0, n) from integer
    * hash arithmetic (collision with the anchor advances by one, mod n).
    * A narrow generate — no join, no shuffle, no RNG state: the pairs are
    * a pure function of (key, j), so a rerun or a different cluster
    * produces the identical training set. Same portability bound as
    * [[hashBucket]]: keys must stay below ~3.4e9 so `key * A` cannot
    * overflow int64 — Spark would wrap silently while another engine
    * errors or widens, breaking cross-engine agreement.
    */
  def negativePairs(df: DataFrame, keyCol: String, n: Long, k: Int): DataFrame = {
    require(n > 1, "need at least two keys to draw negatives")
    val j = col("j")
    val raw = pmod(col(keyCol) * lit(2654435761L) + j * lit(104729L) + lit(7919L),
      lit(n))
    val neg = when(raw === col(keyCol), pmod(raw + 1, lit(n))).otherwise(raw)
    df.select(col(keyCol), explode(sequence(lit(1), lit(k))).as("j"))
      .select(col(keyCol), j.cast("long").as("j"), neg.as("neg_id"))
  }

  /** Keep at most `n` rows per group, preferring rows first under
    * `ordering` (extend the ordering until unique, or the cut is
    * nondeterministic). The per-domain quota cap of web-corpus curation.
    * One shuffle on `groupCol`; WindowGroupLimit bounds memory per task to
    * `n` rows per group on both sides of the exchange.
    */
  def quotaCap(df: DataFrame, groupCol: String, ordering: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(ordering: _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Power-of-2 length-bucket label for a non-negative count: the number of
    * binary digits (0→1, 1→1, 2..3→2, 4..7→3, …). Integer/string ops only —
    * no floating log2, whose rounding differs across libm builds.
    */
  def pow2Bucket(count: Column): Column = length(bin(count))

  /** Sequence packing: assign each document to the budget-wide bin its
    * start offset falls in — the sample-packing step that turns a curated
    * corpus into dense training sequences. A bin is a `budget`-token
    * window of the stream, not a capacity: a document that starts inside
    * it belongs to it whole, so a bin's token total can exceed `budget`
    * (SamplingSpec's packingAudit case: 110 tokens in bin 0 at budget
    * 100). Two-level and fully deterministic:
    *
    *  1. each document lands in one of `buckets` independent packing
    *     streams by key arithmetic (`id % buckets`) — the distribution
    *     unit, so packing parallelizes without a global order;
    *  2. within a bucket, documents are laid end-to-end in (length desc,
    *     id) order by a running-sum window; a document's bin is the
    *     budget-quotient of its start offset.
    *
    * A single global-order cumsum would serialize on one partition — the
    * per-bucket formulation is the scalable shape (one window shuffle on
    * the bucket key), and its integer arithmetic is reproducible on any
    * engine. Documents longer than the budget start a bin at their offset
    * (first-fit-by-running-sum semantics).
    *
    * @param bucketSalt optional extra partitioning column for the packing
    *   window (e.g. a train/val/test split label) — bins then never
    *   straddle a salt boundary; `pack_bucket` itself is unchanged.
    * @return input plus (pack_bucket, pack_bin, bin_offset).
    */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
      budget: Long, buckets: Int = 32,
      bucketSalt: Option[Column] = None): DataFrame = {
    require(budget > 0 && buckets > 0, "budget and buckets must be positive")
    val w = Window.partitionBy(bucketSalt.toSeq :+ col("pack_bucket"): _*)
      .orderBy(col(nTokensCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("pack_bucket", col(idCol) % buckets)
      .withColumn("__start", sum(col(nTokensCol)).over(w) - col(nTokensCol))
      // start offsets stay far below 2^53, so the double division is exact
      // enough to truncate to the true quotient on every engine
      .withColumn("pack_bin", (col("__start") / budget).cast("long"))
      .withColumn("bin_offset", col("__start") - col("pack_bin") * budget)
      .drop("__start")
  }

  /** Deterministic EPOCH SHUFFLE — training-order randomization as a pure
    * function of (key, epoch): every document gets a shard and an
    * in-shard position from the portable xxhash64 of its key salted with
    * the epoch number. Each epoch is a fresh pseudo-random permutation;
    * a rerun, retry, backfill or different engine reproduces the same
    * order bit-for-bit (task-level `rand()` ordering survives none of
    * those). This is the "shuffle the corpus each epoch" step a training
    * loader needs, emitted as data instead of loader state.
    *
    * Scale shape: ONE hash shuffle of the corpus, then an in-slice sort
    * (the irreducible cost of producing an order). The rank is computed
    * HIERARCHICALLY (r6 advice): a flat `row_number` over
    * `partitionBy(shard)` forces every shard through a single task's
    * sort — parallelism capped at `shards` and per-task volume at
    * corpus÷shards no matter how wide the cluster. Instead each row gets
    * a subshard from the top byte of its hash (arithmetic shift ⇒
    * MONOTONE in the signed hash, so subshard order == hash order), is
    * ranked within (shard, subshard) — up to 256× the parallelism, per
    * task volume corpus÷(shards·256) — and offset by the total count of
    * earlier subshards in its shard. The offsets come from a map-side-
    * combined count over ≤ shards·256 groups (a broadcast-size frame),
    * so the corpus still crosses the wire exactly once; the result is
    * bit-identical to the flat rank. The hash is over the string
    * `key#epoch` — string form keeps the oracle replay exact without
    * relying on engine-specific integer overflow wrapping.
    */
  def epochShuffle(df: DataFrame, keyCol: String, epoch: Int,
      shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = xxhash64(concat(col(keyCol), lit("#"), lit(epoch)))
    val withShard = df
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("__sub", shiftright(col("__h"), 56).cast("int"))
    val local = Window.partitionBy(col("shard"), col("__sub"))
      .orderBy(col("__h"), col(keyCol)) // key tiebreak: hash collisions
    // per-(shard, subshard) counts → running offset of earlier subshards;
    // ≤ shards·256 rows, so the window + join sides are broadcast-cheap
    val offW = Window.partitionBy(col("shard")).orderBy(col("__sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withShard.groupBy(col("shard"), col("__sub"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(offW), lit(0L)))
      .select(col("shard"), col("__sub"), col("__off"))
    val outCols = df.columns.map(col) :+ col("shard") :+ col("shard_pos")
    withShard
      .withColumn("__rank", row_number().over(local).cast("long"))
      .join(broadcast(offsets), Seq("shard", "__sub"))
      .withColumn("shard_pos", col("__off") + col("__rank"))
      .select(outCols: _*)
  }

  /** Packing-efficiency audit over [[packSequences]] output — the
    * operational metric a training-data team watches: how much of each
    * packing stream's bin capacity is actually filled with tokens.
    * Emits one row per pack_bucket: bins used, docs packed, token mass,
    * nominal capacity (`n_bins · budget`) and the waste in permyriad —
    * all integer arithmetic (bit-exact across engines). Waste can be
    * NEGATIVE for a bucket whose oversized documents overflow their
    * starting bins (first-fit-by-running-sum semantics) — a real signal,
    * not an error: it says the budget is too small for the length
    * distribution.
    *
    * Scale shape: two partial-aggregatable groupBys on prefix-compatible
    * keys ((bucket, bin) → bucket), so Catalyst serves both from ONE
    * shuffle of the already-tiny per-doc stats frame.
    */
  def packingAudit(packed: DataFrame, nTokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    packed
      .groupBy(col("pack_bucket"), col("pack_bin"))
      .agg(count(lit(1)).as("__docs"),
        sum(col(nTokensCol)).cast("long").as("__tok"))
      .groupBy(col("pack_bucket"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("__docs")).cast("long").as("n_docs"),
        sum(col("__tok")).cast("long").as("total_tokens"))
      .withColumn("capacity", col("n_bins") * lit(budget))
      .withColumn("waste_permyriad",
        floor((col("capacity") - col("total_tokens")) * lit(10000L)
          / col("capacity")).cast("long"))
  }

  /** Target-mixture selection (the Pile / DoReMi domain-weighting step):
    * given per-domain target weights (permyriad of the OUTPUT mixture)
    * and a total row budget, derive each domain's sampling rate from the
    * corpus's OWN per-domain counts and select rows deterministically by
    * key hash. This is [[stratifiedSample]] with the rates computed
    * in-plan instead of supplied: the mixture spec stays fixed while the
    * corpus grows, and each run re-derives the rates that hit it.
    *
    * Semantics: domains absent from `targets` are dropped (a mixture is a
    * whitelist); a domain too small to meet its quota is taken whole
    * (rate capped at 100%) — compare achieved counts to targets downstream
    * to detect under-supply. Selection is rate-based, so achieved counts
    * track `budget` proportionally rather than exactly (exact-count cuts
    * need a global order — that is [[quotaCap]]).
    *
    * Scale design: pass 1 is a partial-aggregated per-domain count (rows =
    * #domains, tiny); pass 2 broadcast-joins the derived rates back and
    * filters map-side on the portable hash — the corpus itself never
    * shuffles. The selection threshold lives on the FULL 2^32 hash ring
    * (not the 10^4 buckets of [[hashBucket]]): a permyriad rate floors to
    * ZERO — silent total dropout, not under-sampling — as soon as a
    * domain outgrows 10^4× its quota, which a dominant web domain does
    * long before 100 TB. Ring granularity defers that cliff to
    * n > 2^32 × needed — and [[ringThreshold]]'s lower clamp closes even
    * that residue (a >4.3e9-row domain keeps an expected ≥1 row instead of
    * silently emptying). The threshold is a floor of one double division —
    * not exact integer math, but the SAME IEEE operation on both engines,
    * which is what cross-engine parity actually requires.
    */
  def mixtureSelect(df: DataFrame, keyCol: String, domainCol: String,
      targets: Seq[(String, Int)], budget: Long): DataFrame = {
    require(targets.nonEmpty, "mixture needs at least one target domain")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate domain in mixture targets (the rates join would fan out)")
    require(targets.forall(_._2 > 0) && targets.map(_._2).sum <= 10000,
      "target weights must be positive permyriad summing to at most 10000")
    require(budget > 0 && budget < 900000000000L,
      "budget must be positive and below 9e11 (exact-arithmetic bound)")
    // quota floor(pm·budget/10000) = 0 would give the domain ring
    // threshold 0 — TOTAL silent dropout of a domain the mixture names,
    // the exact cliff the ring design exists to avoid, just triggered by
    // a small budget instead of a large domain. Fail loudly instead.
    targets.foreach { case (dom, pm) =>
      require(pm.toLong * budget >= 10000L,
        s"mixture target '$dom' (weight $pm permyriad of budget $budget) " +
          "rounds to a zero-row quota — raise the budget or the weight so " +
          "every named domain keeps at least one row")
    }
    val session = df.sparkSession
    import session.implicits._
    val tdf = targets.toDF("__dom", "__target_pm")
    val rates = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
      .join(tdf, Seq("__dom"))
      .select(col("__dom"),
        ringThreshold(floor(col("__target_pm") * lit(budget) / lit(10000L)),
          col("__n")).as("__ring_thr"))
    df.join(broadcast(rates), df(domainCol) === rates("__dom"))
      .where(pmod(col(keyCol) * lit(2654435761L) + lit(104729L), lit(HashRing))
        < col("__ring_thr"))
      .drop("__dom", "__ring_thr")
  }

  /** Temperature-based domain rebalancing (the T5/mT5/LLaMA data-mixing
    * recipe): sample each domain in proportion to `count^alpha`, so
    * α < 1 damps dominant domains and upweights the tail without naming
    * any domain explicitly — the quotas DERIVE from the corpus, where
    * [[mixtureSelect]] takes them as targets.
    *
    * Determinism contract: only α = 0.5 (square root) and α = 1
    * (proportional) are accepted, because `sqrt` is the one fractional
    * power IEEE 754 specifies exactly (correctly rounded in both Spark's
    * `Math.sqrt` and DuckDB's `sqrt`) — a general `pow` is libm-defined
    * and engines disagree in the last ulp, which a ring threshold then
    * amplifies into a different row set. Weights are
    * `floor(sqrt(n)·10^6)` (α=0.5) or `n·10^6` (α=1) as BIGINT; the
    * quota is one double division `w/Σw · budget` floored (identical
    * IEEE op sequence on both engines), clamped to [1, n] — the lower
    * clamp matters: a data-derived quota CAN legitimately floor to zero
    * on a tail domain, and silently emptying a domain is the
    * [[mixtureSelect]] dropout cliff all over again, so every domain
    * present keeps at least an expected one row.
    *
    * Scale shape: identical to [[mixtureSelect]] — a tiny per-domain
    * count aggregate, a 1-row total carried by broadcast, and a
    * map-side ring filter; the corpus never shuffles.
    */
  def temperatureMixture(df: DataFrame, keyCol: String, domainCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(alpha == 0.5 || alpha == 1.0,
      "determinism contract: only alpha = 0.5 (sqrt, IEEE-exact) and " +
        "alpha = 1.0 (proportional) are cross-engine reproducible")
    require(budget > 0 && budget < 900000000000L,
      "budget must be positive and below 9e11 (exact-arithmetic bound)")
    val counts = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
    val weighted = counts.withColumn("__w",
      if (alpha == 0.5)
        floor(sqrt(col("__n").cast("double")) * lit(1000000.0)).cast("long")
      else col("__n") * lit(1000000L))
    val total = weighted.agg(sum(col("__w")).as("__sw"))
    val rates = weighted.crossJoin(broadcast(total))
      .select(col("__dom"),
        ringThreshold(
          greatest(lit(1L), least(col("__n"),
            floor(col("__w").cast("double") / col("__sw").cast("double")
              * lit(budget.toDouble)).cast("long"))),
          col("__n")).as("__ring_thr"))
    df.join(broadcast(rates), df(domainCol) === rates("__dom"))
      .where(pmod(col(keyCol) * lit(2654435761L) + lit(104729L), lit(HashRing))
        < col("__ring_thr"))
      .drop("__dom", "__ring_thr")
  }
}
