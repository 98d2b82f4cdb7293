package graft.ops

import graft.ops.Checkpoints.CutOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, document fingerprinting.
  *
  * All operators are built from codegen'd `org.apache.spark.sql.functions`
  * and higher-order array functions — no Scala UDFs — so they stay inside
  * whole-stage codegen and scale linearly with input: at 100 TB these run
  * as a single narrow (shuffle-free) projection over the corpus.
  */
object TextAnalysis {

  /** ASCII word tokens (`\w+`) — computed as a split on the complement
    * (`\W+`) with the boundary empties removed, which yields the
    * IDENTICAL maximal-\w-run array from the same regex engine while
    * skipping regexp_extract_all's per-match group extraction
    * (OPTIMIZATION_r12.md §6: 16–38% faster on the bare tokenize, 3/3
    * interleaved runs, checksum-equal; this is the innermost kernel of
    * every text query's first stage). TextAnalysisSpec pins the
    * equivalence with `regexp_extract_all(s, "\w+", 0)`.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\W+"), "")

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** Whitespace tokens: maximal non-space runs (`\S+`) — the "wc -w"
    * definition, robust to leading/trailing/multiple spaces.
    */
  def whitespaceTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast(LongType)

  /** BPE-style pre-tokenizer segmentation (GPT-2-family): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * whitespace runs. Deliberately lookahead-free (the canonical pattern's
    * `\s+(?!\S)` trailing-space refinement needs lookahead, which RE2
    * engines reject) so the count is reproducible across regex engines.
    * This approximates BPE TOKEN counts well enough for corpus budgeting;
    * exact counts need the real tokenizer's merges.
    */
  val bpePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePretokenPattern), lit(0))).cast(LongType)

  /** Normalized form for near-identity comparison: lowercase, non-alnum
    * runs collapsed to single spaces, trimmed.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Deterministic 128-bit content fingerprint of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** Fraction of tokens that are stopwords (null for empty docs). */
  def stopwordRatio(toks: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val sw = typedLit(stopwords)
    size(filter(toks, t => array_contains(sw, t))).cast(DoubleType) /
      nullif(size(toks), lit(0)).cast(DoubleType)
  }

  /** Mean token length in characters (null for empty docs). */
  def avgTokenLen(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast(LongType))
      .cast(DoubleType) / nullif(size(toks), lit(0)).cast(DoubleType)

  /** Heuristic document quality score in [0,1]: rewards reasonable length,
    * stopword presence (fluency proxy) and plausible mean word length —
    * the standard cheap pre-filter before expensive model-based scoring.
    * Pass a MATERIALIZED tokens column (attribute) — the expression reads
    * it several times and an inline tokenizer would be re-evaluated each
    * read.
    */
  def qualityScoreFromTokens(toks: Column): Column = {
    val lengthScore = least(size(toks).cast(DoubleType) / lit(100.0), lit(1.0))
    val stopScore = least(coalesce(stopwordRatio(toks), lit(0.0)) * lit(5.0), lit(1.0))
    val wl = coalesce(avgTokenLen(toks), lit(0.0))
    val wordLenScore = when(wl >= 3.0 && wl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    round(lengthScore * lit(0.4) + stopScore * lit(0.3) + wordLenScore * lit(0.3), 4)
  }

  /** Convenience for ad-hoc use on small data; production paths should
    * stage tokens once and use [[qualityScoreFromTokens]]. Case-folds
    * first: the stopword profile is lowercase, and "The cat" must score
    * like "the cat".
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(tokens(lower(text)))

  /** Tiny per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Real pipelines use fastText-style models; the mechanism —
    * score each profile, take the argmax — is identical and fully
    * distributed (one narrow projection).
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que", "de", "por"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta", "men", "zhe"))

  /** Detected language code: argmax over profile-overlap ratios, 'und' when
    * nothing matches. Case-folds first (profiles are lowercase — a
    * Title-Case document must not come back 'und').
    */
  def langId(text: Column, profiles: Map[String, Seq[String]] = langProfiles): Column =
    langIdFromTokens(tokens(lower(text)), profiles)

  /** Language ID from a materialized tokens column (attribute). */
  def langIdFromTokens(toks: Column,
      profiles: Map[String, Seq[String]] = langProfiles): Column = {
    val n = nullif(size(toks), lit(0)).cast(DoubleType)
    // build struct(score, lang) per profile, take array_max (lexicographic
    // struct ordering: score first, then lang as deterministic tiebreak)
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val sw = typedLit(words)
      struct(
        (size(filter(toks, t => array_contains(sw, t))).cast(DoubleType) / n).as("score"),
        lit(lang).as("lang"))
    }
    // the argmax struct is bound EXACTLY ONCE as the input of a 1-element
    // transform(), with the score>0/'und' fallback inside the lambda: the
    // obvious when(best.score > 0, best.lang) inlines `best` twice, and
    // codegen subexpression elimination cannot unify the copies (each
    // instantiation mints fresh lambda exprIds), so every row paid the
    // 2·|profiles| filter() scans twice (probe: 1.6→0.5 s per-doc at sf0.1)
    element_at(transform(array(array_max(array(scored: _*))), b =>
      when(b.getField("score") > 0.0, b.getField("lang"))
        .otherwise(lit("und"))), 1)
  }

  /** Corpus-relative length gate — the Gopher length rule done right:
    * fixed length bounds rot as the corpus mix shifts, so the bounds
    * here are EXACT order statistics of the corpus itself (keep docs
    * whose token count lies within [pLo, pHi] of the length
    * distribution). Returns the kept docs with the thresholds attached:
    * (doc_id, n_tokens, len_lo, len_hi).
    *
    * The k-th order statistic at 100 TB without sorting the corpus: the
    * DISTINCT-length frequency table (one tiny aggregation — the length
    * domain is a few thousand values no matter the corpus size) gets a
    * cumulative count; the thresholds are the first lengths whose
    * cumulative count reaches ceil(p·n). The single-partition window
    * over that table is domain-bounded BY CONSTRUCTION — the same
    * justification as the packing buckets — and the corpus itself is
    * touched only by two narrow passes (length projection, broadcast
    * filter).
    */
  def lengthGate(docs: DataFrame, idCol: String, textCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val lens = docs.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).as("n_tokens"))
    val freq = lens.groupBy(col("n_tokens")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounds = freq
      .withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(freq.agg(sum(col("cnt")).as("n"))))
      .agg(
        min(when(col("cum") >= ceil(lit(pLo) * col("n")), col("n_tokens")))
          .as("len_lo"),
        min(when(col("cum") >= ceil(lit(pHi) * col("n")), col("n_tokens")))
          .as("len_hi"))
    lens.crossJoin(broadcast(bounds))
      .where(col("n_tokens").between(col("len_lo"), col("len_hi")))
      .select(col("doc_id"), col("n_tokens"), col("len_lo"), col("len_hi"))
  }

  /** Mixed-language detection — the curation signal [[langId]] alone
    * cannot produce: a document that interleaves two languages gets ONE
    * whole-document argmax and slides through a per-language pipeline,
    * but chunk-level voting exposes it. Tokens split into fixed
    * `chunkTokens`-token chunks, each chunk language-ID'd, then per doc:
    * chunk count, distinct detected languages, the majority language
    * (count argmax, language-string tiebreak), and the minority-chunk
    * share in integer permyriad — the "how mixed" gate value.
    *
    * Scale shape: the chunk explode is narrow and the per-chunk argmax
    * is in-row; the corpus shuffles ONCE at (doc, lang) grain — ≤
    * profiles+1 rows per doc — and the doc-grain reassembly reuses that
    * partitioning's tiny output. Docs with zero tokens are absent.
    */
  def langMixture(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 20): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val w = chunkTokens
    val chunks = docs
      .select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("t"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), ((size(col("t")) - lit(1)) / lit(w)).cast(IntegerType)),
          i => slice(col("t"), i * lit(w) + lit(1), lit(w)))).as("c"))
      .where(size(col("c")) > 0)
    chunks
      .select(col("doc_id"), langIdFromTokens(col("c")).as("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chunks"),
        countDistinct(col("lang")).as("n_langs"),
        max(struct(col("cnt"), col("lang"))).as("__m"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("__m").getField("lang").as("majority_lang"),
        floor(lit(10000L) * (col("n_chunks") - col("__m").getField("cnt"))
          / col("n_chunks")).cast(LongType).as("minority_pm"))
  }

  /** Repetition statistics from a materialized tokens column — the
    * Gopher-style "excess duplication" quality signal: word-salad and
    * boilerplate-looped documents show a high duplicate-token fraction.
    * `dup_ratio = 1 - |distinct tokens| / |tokens|` (0 for empty docs).
    *
    * Shuffle-free narrow projection: `array_distinct` runs per row inside
    * codegen, so at 100 TB this is a pure map over the corpus — no explode,
    * no aggregation state.
    */
  def repetitionStats(toks: Column): (Column, Column, Column) = {
    val n = size(toks).cast(LongType)
    val nd = size(array_distinct(toks)).cast(LongType)
    val ratio = lit(1.0) - nd.cast(DoubleType) /
      nullif(n, lit(0L)).cast(DoubleType)
    (n, nd, coalesce(ratio, lit(0.0)))
  }

  /** Gopher-style n-gram repetition signals (Rae et al. 2021, "Scaling
    * Language Models", table A1 filters — adapted): for each requested n,
    * the fraction of the document's n-gram CHARACTER MASS held by (a) the
    * single heaviest n-gram (`top{n}_frac` — boilerplate headers, looped
    * phrases) and (b) all n-grams occurring more than once (`dup{n}_frac`
    * — templated word-salad). A gram's character mass = occurrences ×
    * gram length; using the max MASS (not the most-frequent gram's mass)
    * makes the signal tie-free and therefore exactly reproducible across
    * engines — no argmax tie-break to mirror.
    *
    * Scale shape: one repartition by doc id feeds the window-lead n-gram
    * assembly (codegen'd — per-row array-lambda assembly is interpreted
    * and O(n²), see [[graft.ops.Dedup]] shingles); every requested n is
    * emitted from that ONE pass as (doc, n, gram) rows, and because each
    * successive groupBy keys on a superset-compatible prefix
    * (doc → (doc, n, gram) → (doc, n) → doc), Catalyst satisfies all
    * three aggregations with the ORIGINAL doc-id partitioning — the
    * whole signal matrix costs one shuffle of the corpus plus the final
    * id join, independent of how many n are requested.
    *
    * Docs with fewer than min(n) tokens have no grams and return null
    * signals (preserved by the left join — every input doc gets a row).
    */
  def ngramRepetitionSignals(docs: DataFrame, idCol: String,
      textCol: String, topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    val ns = (topNs ++ dupNs).distinct.sorted
    require(ns.forall(_ >= 2), "n-gram sizes must be >= 2")
    val maxN = ns.max
    // the dominant post-shuffle mass is Σn gram strings per token row
    // (every requested n re-emits the token stream at n-token grams);
    // see graft.Conf for the sizing rule — floors at defaultParallelism
    val par = graft.Conf.sizedShufflePartitions(docs, rowMultiplier = ns.sum.toDouble)
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leadCols = (1 until maxN).map(i => lead(col("tok"), i).over(w).as(s"__t$i"))
    val withLeads = toks.select((Seq(col("doc_id"), col("tok")) ++ leadCols): _*)
    val gramStructs = ns.map { n =>
      val parts = col("tok") +: (1 until n).map(i => col(s"__t$i"))
      when(col(s"__t${n - 1}").isNotNull, // only complete windows emit
        struct(lit(n).as("n"), concat_ws(" ", parts: _*).as("gram")))
    }
    val grams = withLeads.select(col("doc_id"),
        explode(filter(array(gramStructs: _*), g => g.isNotNull)).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mass", col("cnt") * length(col("gram")).cast(LongType))
    val perN = counts.groupBy(col("doc_id"), col("n"))
      .agg(max(col("mass")).as("top_mass"),
        sum(col("mass")).as("total_mass"),
        sum(when(col("cnt") > 1, col("mass")).otherwise(lit(0L))).as("dup_mass"))
    val sigCols =
      topNs.sorted.map(n => max(when(col("n") === n,
          col("top_mass").cast(DoubleType) / col("total_mass").cast(DoubleType)))
        .as(s"top${n}_frac")) ++
      dupNs.sorted.map(n => max(when(col("n") === n,
          col("dup_mass").cast(DoubleType) / col("total_mass").cast(DoubleType)))
        .as(s"dup${n}_frac"))
    val sig = perN.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
    docs.select(col(idCol).as("doc_id")).join(sig, Seq("doc_id"), "left_outer")
  }

  /** Sequentially applied (pattern → replacement) scrub — the PII-redaction
    * primitive (emails, phone numbers, id-like digit runs). Pure
    * `regexp_replace` chain: codegen'd, shuffle-free, linear in input.
    * Patterns must stay in the RE2-compatible subset (no lookahead/backrefs)
    * so the same scrub is reproducible on any engine.
    */
  def redact(text: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(text) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }

  /** Count of matches for one redaction pattern (audit/reporting column). */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast(LongType)

  val defaultRedactionRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\d{3}[- .]\\d{3}[- .]\\d{4}" -> "<PHONE>",
    "\\d{6,}" -> "<IDNUM>")

  /** Web-corpus extension of [[defaultRedactionRules]] (r9): adds the
    * national-ID 3-2-4 shape, the parenthesized-area-code phone form, and
    * IPv4 literals — the detector set a crawl-derived corpus scrubs. Order
    * matters and is part of the contract: ID before PHONE (3-2-4 must not
    * be half-eaten by the 3-3-4 rule), IP before IDNUM (dot-separated
    * groups stay one token), IDNUM last as the catch-all; sentinels are
    * digit-free so later rules can never re-match inside an earlier
    * replacement. Same RE2-compatible subset as the default rules — the
    * DuckDB oracle replays each pattern verbatim. */
  val webRedactionRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<ID>",
    "\\(\\d{3}\\) \\d{3}-\\d{4}|\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\d{6,}" -> "<IDNUM>")

  /** Rule kind from its sentinel — the column-naming convention shared
    * by [[piiScanReport]] (`total_<kind>`) and any caller deriving
    * per-rule count columns (`n_<kind>`): `<EMAIL>` → `email`. */
  def piiKind(sentinel: String): String =
    sentinel.replaceAll("[<>]", "").toLowerCase(java.util.Locale.ROOT)

  /** Per-group PII scrub audit — the report a curation run publishes per
    * source/domain: document count, documents with any hit, and one
    * `total_<kind>` column per rule (kind = the rule's sentinel,
    * lowercased). Counts are per-rule on the RAW text (audit semantics —
    * overlapping hits count under every rule that matches), computed in
    * the scan's codegen pass; ONE map-side-combined aggregation, so only
    * the tiny per-group partial rows shuffle. */
  def piiScanReport(df: DataFrame, textCol: String, groupCol: String,
      rules: Seq[(String, String)] = webRedactionRules): DataFrame = {
    val counted = rules.foldLeft(df) { case (d, (pat, sentinel)) =>
      d.withColumn(s"__n_${piiKind(sentinel)}", matchCount(col(textCol), pat))
    }
    val total = rules.map { case (_, s) => col(s"__n_${piiKind(s)}") }
      .reduce(_ + _)
    counted.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        (sum(when(total > 0, 1L).otherwise(0L)).as("n_docs_with_pii") +:
          rules.map { case (_, s) =>
            sum(col(s"__n_${piiKind(s)}")).as(s"total_${piiKind(s)}")
          }): _*)
  }

  /** Gopher quality rules (Rae et al. 2021, published filter set) — the
    * explicit per-rule document gate web-corpus pipelines report alongside
    * any learned score ([[qualityClassifierScore]] complements, not
    * replaces, the rule set: the rules are auditable and the per-rule
    * flags tell a curator WHY a document dropped).
    *
    * Rules (each a boolean column; `gopher_keep` is their conjunction):
    *   - `r_word_count`: word count in [minWords, maxWords];
    *   - `r_mean_word_len`: mean word length in [3, 10] characters;
    *   - `r_symbol_ratio`: (`#` or `...`) hits ≤ 10% of words;
    *   - `r_bullet_lines`: ≤ 90% of lines start with a bullet;
    *   - `r_ellipsis_lines`: ≤ 30% of lines end with an ellipsis;
    *   - `r_alpha_words`: ≥ 80% of words contain a letter;
    *   - `r_stop_words`: ≥ 2 distinct required stop words present.
    *
    * Engine-parity design: every threshold is evaluated in INTEGER
    * arithmetic (`3·n ≤ chars ≤ 10·n`, `10·sym ≤ words`, …) — no float
    * division, so the DuckDB oracle replays bit-exactly. Pure scalar
    * chain over a staged token column (narrow, zero shuffle, codegen'd);
    * empty documents fail `r_word_count` and keep FALSE.
    */
  def gopherRules(docs: DataFrame, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val requiredStopwords =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // stage the split arrays ONCE (documented production contract:
    // subexpression elimination does not reach lambda bodies)
    val staged = docs
      .withColumn("__words",
        filter(split(col(textCol), "\\s+"), t => t =!= ""))
      // staged separately: 8 stop-word membership probes read this array
      // (an inline transform would re-lowercase the doc per probe);
      // derives from the staged __words column — re-splitting the text
      // here would tokenize every document twice in the scan pass
      .withColumn("__words_lc", transform(col("__words"), t => lower(t)))
      .withColumn("__lines", split(col(textCol), "\n"))
    val nWords = size(col("__words")).cast(LongType)
    val nLines = size(col("__lines")).cast(LongType)
    val totalChars = aggregate(col("__words"), lit(0L),
      (acc, t) => acc + length(t).cast(LongType))
    val symbolHits = matchCount(col(textCol), "#|\\.\\.\\.")
    val bulletLines = size(filter(col("__lines"),
      l => l.rlike("^\\s*[-*•] "))).cast(LongType)
    val ellipsisLines = size(filter(col("__lines"),
      l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast(LongType)
    val alphaWords = size(filter(col("__words"),
      t => t.rlike("[A-Za-z]"))).cast(LongType)
    val stopHits = requiredStopwords.map(w =>
        when(array_contains(col("__words_lc"), w), 1L).otherwise(0L))
      .reduce(_ + _)
    // input columns ride along (the gate composes into a pipeline:
    // `gopherRules(docs, …).where(col("gopher_keep"))` keeps the corpus)
    staged.select(docs.columns.map(col) ++ Seq(
        nWords.as("n_words"),
        (nWords >= minWords && nWords <= maxWords).as("r_word_count"),
        (lit(3L) * nWords <= totalChars &&
          totalChars <= lit(10L) * nWords && nWords > 0L)
          .as("r_mean_word_len"),
        (lit(10L) * symbolHits <= nWords).as("r_symbol_ratio"),
        (lit(10L) * bulletLines <= lit(9L) * nLines).as("r_bullet_lines"),
        (lit(10L) * ellipsisLines <= lit(3L) * nLines)
          .as("r_ellipsis_lines"),
        (lit(10L) * alphaWords >= lit(8L) * nWords).as("r_alpha_words"),
        (stopHits >= 2L).as("r_stop_words")): _*)
      .withColumn("gopher_keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet_lines") &&
          col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stop_words"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, published filter
    * set): KEEP only lines that end in terminal punctuation (`.!?"`) and
    * carry at least `minLineWords` words; then gate the document on at
    * least `minLines` surviving lines. Unlike the document-level gates
    * this REWRITES the text (the cleaned column holds the surviving lines
    * re-joined), which is why it returns the cleaned text alongside the
    * counts — downstream dedup/quality must see the cleaned content.
    * Pure scalar array chain: narrow, zero shuffle, codegen'd; the DuckDB
    * oracle replays the same split/filter/join list operations.
    */
  def c4LineFilter(docs: DataFrame, textCol: String,
      minLineWords: Int = 4, minLines: Int = 3): DataFrame = {
    val staged = docs.withColumn("__lines", split(col(textCol), "\n"))
    // a kept line ends with terminal punctuation (optionally followed by
    // a closing quote) and has >= minLineWords whitespace words
    val keptExpr = filter(col("__lines"), l =>
      l.rlike("[.!?]\"?\\s*$") &&
        size(filter(split(l, "\\s+"), t => t =!= "")) >= minLineWords)
    // input columns (metadata: source/lang/ids) ride along; the raw text
    // column is intentionally REPLACED by clean_text downstream — drop it
    // at the call site if only the cleaned form should survive
    staged.select(docs.columns.map(col) ++ Seq(
        size(col("__lines")).cast(LongType).as("n_lines"),
        keptExpr.as("__kept")): _*)
      .withColumn("n_kept_lines", size(col("__kept")).cast(LongType))
      .withColumn("clean_text", array_join(col("__kept"), "\n"))
      .withColumn("c4_keep", col("n_kept_lines") >= minLines)
      .drop("__kept")
  }

  /** Sentence segmentation, terminator-run rule: a sentence is a maximal
    * run of non-terminator characters plus its trailing `.!?` run;
    * segments are trimmed and empties dropped. Lookbehind-free (the
    * usual `(?<=[.!?])\s+` split needs lookbehind, which RE2 engines
    * reject), so the DuckDB oracle replays the identical pattern.
    * Documented limitation shared by every rule-based splitter:
    * abbreviation-blind — every terminator run ends a segment, so a
    * dotted abbreviation splits at each period ("e.g. x" → "e.", "g.",
    * "x").
    */
  val sentenceRe: String = "[^.!?]+[.!?]*|[.!?]+"

  def sentences(text: Column): Column =
    filter(transform(regexp_extract_all(text, lit(sentenceRe), lit(0)),
      s => trim(s)), s => s =!= "")

  /** Sentence-boundary context chunks — the embedding-pipeline variant
    * of [[chunk]]: a chunk never cuts inside a sentence, so retrieval
    * embeddings are built over coherent units. Packing contract is the
    * same running-offset binning as [[Sampling.packSequences]] (sentence
    * i lands in chunk `floor(offset_i / budget)` where offset_i is the
    * running token count before it) — deterministic and
    * engine-replayable; an oversized single sentence owns its chunk
    * rather than failing. Output: (doc_id, chunk_idx, chunk_text,
    * n_tokens, n_sentences).
    *
    * Scale shape: posexplode is narrow; ONE hash exchange on doc_id
    * feeds the per-doc window, and the (doc_id, chunk_idx) regroup
    * reuses that partitioning (no second exchange) — document text
    * shuffles once, exactly like [[chunk]]'s consumers.
    */
  def chunkBySentences(docs: DataFrame, idCol: String, textCol: String,
      budget: Long = 128L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val sents = docs.select(col(idCol).as("doc_id"),
        posexplode(sentences(col(textCol))).as(Seq("sent_idx", "sentence")))
      .withColumn("n_tokens", whitespaceTokenCount(col("sentence")))
    val w = Window.partitionBy("doc_id").orderBy("sent_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sents
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_idx",
        floor((col("__cum") - col("n_tokens")) / budget).cast(LongType))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("sent_idx"), col("sentence")))),
          s => s("sentence")), " ").as("chunk_text"),
        sum(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_sentences"))
  }

  /** Fixed-size character chunks with stride (stride < chunkLen ⇒ overlap) —
    * the context-window packing primitive that turns documents into training
    * samples. One `sequence` + `posexplode` + `substring`: a narrow
    * shuffle-free generate, embarrassingly parallel at 100 TB (each task
    * chunks only its own partition's documents).
    *
    * Emits (original columns…, chunk_idx, chunk_start, chunk_text). Empty
    * documents produce no chunks.
    */
  def chunk(docs: DataFrame, textCol: String = "text",
      chunkLen: Int = 256, stride: Int = 200): DataFrame = {
    require(stride > 0 && chunkLen > 0, "chunkLen and stride must be positive")
    val t = col(textCol)
    docs
      .where(length(t) > 0)
      .select(col("*"),
        posexplode(sequence(lit(0), length(t) - lit(1), lit(stride)))
          .as(Seq("chunk_idx", "chunk_start")))
      .withColumn("chunk_text",
        substring(t, col("chunk_start") + lit(1), lit(chunkLen)))
      .withColumn("chunk_idx", col("chunk_idx").cast(LongType))
      .withColumn("chunk_start", col("chunk_start").cast(LongType))
  }

  /** Corpus term weighting: per-(group, token) frequency with corpus-wide
    * document frequency and an exact rarity score `tf / df` (a TF-IDF
    * variant that avoids `log`, whose last-ulp behavior differs across libm
    * implementations — tf and df are exact integers, so the IEEE division
    * is bit-reproducible on every engine).
    *
    * Two shuffles total at any scale: one hash aggregation to (group,
    * token) grain, then ONE window partitioned by token that computes df
    * in-place — replacing the textbook `tf ⋈ df` self-join, which would
    * cost a third shuffle of the tf relation.
    */
  def termWeights(docs: DataFrame, groupCol: String, textCol: String = "text")
      : DataFrame = {
    val tf = docs
      .select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("grp", "token")
      .agg(count(lit(1)).as("tf"))
    val byToken = Window.partitionBy(col("token"))
    tf.withColumn("df", count(lit(1)).over(byToken))
      .withColumn("score", col("tf").cast(DoubleType) / col("df").cast(DoubleType))
  }

  /** Unicode NFC normalization (native codegen'd expression — see
    * [[graft.functions.TextExpressions]]): one canonical byte string per
    * canonically-equivalent text, the precondition for hash-based dedup.
    */
  def nfc(text: Column): Column =
    graft.functions.TextFunctions.unicodeNormalize(text, "NFC")

  /** Accent folding: NFD decomposition, then strip combining marks —
    * `é`/`e`+U+0301 both become `e`. (The same algorithm DuckDB's
    * `strip_accents` applies for Latin scripts.)
    */
  def stripAccents(text: Column): Column =
    regexp_replace(
      graft.functions.TextFunctions.unicodeNormalize(text, "NFD"),
      "\\p{M}+", "")

  /** Full canonical form for cross-source text matching: accent fold
    * (which itself normalizes to NFD — a separate NFC pass first would be
    * a redundant second normalization scan, since NFD∘NFC ≡ NFD) →
    * lowercase → whitespace runs collapsed → trim. A narrow codegen'd
    * projection (no shuffle); at 100 TB this runs once per document ahead
    * of fingerprinting, making byte-identical what is humanly identical.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(lower(stripAccents(text)), "\\s+", " "))

  /** Token → document inverted index: one row per DISTINCT (doc, token)
    * pair, case-folded. This is the materialize-once search structure: at
    * 100 TB it is written bucketed by `token` (see [[Bucketing]]) so a
    * query probe reads only the buckets of its own terms — the full-corpus
    * LIKE scan this replaces reads everything for every query.
    */
  def invertedIndex(docs: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(tokens(lower(col(textCol))))).as("token"))

  /** Conjunctive (AND) keyword search against an inverted index: a doc
    * matches iff it contains EVERY query term. The `isin` predicate prunes
    * the postings scan to the query's terms (partition/bucket pruning on a
    * token-bucketed index), then one count-aggregation per surviving doc —
    * cost scales with the matched postings, not the corpus.
    */
  def searchAll(index: DataFrame, terms: Seq[String]): DataFrame = {
    // Locale.ROOT: the index is case-folded by Spark's locale-independent
    // lower(); a default-locale toLowerCase would break matching under
    // e.g. a Turkish JVM locale (I → ı)
    val t = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(t.nonEmpty, "at least one search term")
    index
      .where(col("token").isin(t: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") === t.length)
  }

  /** BM25 ranked retrieval over the token index — the scoring layer above
    * [[searchAll]]'s boolean matching. Disjunctive (OR) semantics: any doc
    * containing at least one query term is scored.
    *
    * Plan shape at 100 TB: per-doc term frequencies and document lengths
    * are ONE aggregation pass; document frequencies are computed only for
    * the query's terms (a handful of rows — broadcast); avgdl is a 1-row
    * aggregate cross-joined in. Scoring touches only the matched postings,
    * never the corpus.
    *
    * Scoring is bit-reproducible across engines by construction — every
    * double operation is fully specified:
    *  - idf uses [[graft.functions.ExactMath]]'s deterministic ln (shared
    *    stage list, identical IEEE ops in Spark and the DuckDB oracle) —
    *    libm `ln` differs between engines in its last ulp and would make
    *    scores unverifiable;
    *  - avgdl is an exact integer sum followed by ONE double division
    *    (`avg` would be merge-order-dependent);
    *  - the per-doc score folds term scores through 2⁴⁰-scaled fixed-point
    *    integers (`floor`, exact power-of-two scaling), so the sum is
    *    order-independent — a distributed double `sum` is not.
    */
  def bm25Search(docs: DataFrame, idCol: String, terms: Seq[String],
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    val t = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(t.nonEmpty, "at least one search term")
    // r13: the corpus never shuffles. The former shape built the FULL
    // (doc_id, token) tf table — a corpus-scale exchange of one row per
    // token occurrence — only to (a) sum it back into per-doc lengths and
    // (b) keep the |terms| matching rows. Both needs are served without
    // the corpus exchange: dl = size(tokens) is a narrow per-row
    // projection (sum of tf over a doc IS its token count, zero-token
    // docs absent from both forms), avgdl partial-aggregates map-side,
    // and tf is built from the term-FILTERED token stream (filter before
    // the exchange — only matching occurrences are ever shuffled), with
    // dl carried through the explode so no dl join is needed. Two corpus
    // scans replace one scan plus two corpus-wide shuffles — at 100 TB a
    // re-read is cheap, a full exchange of per-token rows is not.
    val withToks = docs.select(col(idCol).as("doc_id"),
      tokens(lower(col(textCol))).as("__toks"))
    val dlAll = withToks
      .select(col("doc_id"), size(col("__toks")).as("dl"))
      .where(col("dl") > 0)
    val avgdl = dlAll.select(
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val tf = withToks
      .select(col("doc_id"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("token"))
      .where(col("token").isin(t: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // the broadcast HINT on df is BOUNDED, unlike the corpus-derived
    // vocabulary tables above: df is pruned to the query's own terms
    // before the join, so it holds at most |terms| rows regardless of
    // corpus size — a forced hint here can never outgrow the driver
    val matched = tf
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avgdl))
    val idfInput =
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)
    val withIdf = graft.functions.ExactMath.lnColumn(
      matched.withColumn("__idf_x", idfInput), "__idf_x", "__idf")
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val fxScale = 1099511627776.0 // 2^40: exact scaling, ~12 kept decimal digits
    withIdf
      .withColumn("term_score", col("__idf") * tfNorm)
      .withColumn("__ts_fx", floor(col("term_score") * lit(fxScale)))
      .groupBy(col("doc_id"))
      .agg((sum(col("__ts_fx")) / lit(fxScale)).as("score"),
        count(lit(1)).as("n_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Vocabulary construction — the deterministic precursor of tokenizer
    * training: corpus-wide case-folded token frequencies, a minimum-count
    * floor (drops the long junk tail BEFORE it needs ids), and dense ids
    * assigned by (frequency desc, token) through the distributed
    * [[Ids.globalRank]] — no single-partition global window even when the
    * surviving vocabulary is large.
    */
  def buildVocab(docs: DataFrame, textCol: String = "text",
      minCount: Long = 5L): DataFrame = {
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .withColumn("__negn", -col("n"))
    Ids.globalRank(counts, Seq("__negn", "token"), "token_id")
      .select(col("token"), col("n"), col("token_id"))
  }

  /** Out-of-vocabulary audit against a [[buildVocab]]-shaped vocabulary
    * (a `token` column): per document, how much of the token stream a
    * tokenizer trained on that vocabulary would fail to cover — THE
    * acceptance check before an expensive corpus-wide encode, and the
    * drift monitor when yesterday's vocabulary meets today's crawl.
    * Returns (doc_id, n_tokens, n_oov, oov_permyriad) with the rate in
    * integer permyriad (bit-exact across engines; docs with zero tokens
    * are absent — they have no coverage to measure).
    *
    * Scale shape: the vocabulary join is AQE-gated, NOT hint-forced — a
    * minCount-floored vocabulary still grows with corpus size (the web's
    * long tail), so AQE broadcasts it while it fits and falls back to a
    * shuffled join of 2-column token rows when it doesn't; a forced hint
    * would turn that documented degradation into a driver OOM (the same
    * policy as [[bigramLogProb]]'s model tables, and this op is also run
    * per-micro-batch by the streaming drift monitor, where a driver OOM
    * kills the whole query). The corpus explodes narrowly and shuffles
    * ONCE, by document id, for the per-doc counts — the same single
    * corpus exchange every signal matrix in this file pays.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .join(vocab.select(col("token"), lit(true).as("__in")),
        Seq("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        floor(lit(10000L) * col("n_oov") / col("n_tokens"))
          .cast(LongType).as("oov_permyriad"))

  /** CCNet-style unigram language-model quality score: each document's
    * average per-token log-probability under the corpus's own unigram
    * distribution (low = rare-token-heavy gibberish, high = fluent common
    * text — the cheap proxy for LM-perplexity quality filtering when no
    * external model is available).
    *
    * Bit-exact across engines by construction: ln through the shared
    * deterministic [[graft.functions.ExactMath]] stages (libm-free), and
    * the per-document sum as exact 2^32 fixed-point integers (order- and
    * partitioning-independent; safe to ~100 M tokens/doc before the
    * BIGINT sum could overflow). Tokens below `minCount` corpus
    * occurrences are out-of-vocabulary and score at p = 0.5/N — the
    * vocabulary cap is also the scale lever: the frequency table joined
    * back to the corpus is vocabulary-sized (broadcastable after the
    * floor), so the corpus itself shuffles only for the (doc, token)
    * aggregation it already pays in any tf pipeline.
    */
  /** Bigram language-model quality score — the step up from
    * [[unigramLogProb]] a real perplexity filter takes: each document's
    * average conditional log-probability ln P(b|a) under the corpus's
    * own bigram counts. A unigram score is permutation-invariant —
    * shuffled-word gibberish scores exactly like the fluent text it was
    * shuffled from; word ORDER is what a bigram sees, so this is the
    * cheapest score that separates them.
    *
    * Model (all counts over within-document adjacent `\w+` token pairs):
    * P(b|a) = C(a,b)/C(a·) when C(a,b) >= minCount; 0.5/C(a·) when the
    * context is known but the continuation is rare/unseen; 0.5/N_bigrams
    * when the context itself is rare (both floors mirror the unigram
    * op's 0.5 convention). C(a·) = Σ_b C(a,b), the proper conditional
    * normalizer (rows sum to 1 over kept continuations).
    *
    * Bit-exact across engines like its unigram sibling: ExactMath ln,
    * 2^32 fixed-point integer sums, order-independent.
    *
    * Scale shape: one corpus repartition by doc id feeds the bigram
    * `lead` window AND the (doc, a, b) aggregation (no second corpus
    * shuffle); the model tables are minCount-floored and broadcast —
    * at a vocabulary where the floored bigram table outgrows broadcast,
    * the joins degrade to shuffles of 3-column count rows, never bodies.
    * Plan-variant note (r11): an in-row zip extraction (no window) and a
    * single window-sum model join were A/B'd against this shape at
    * sf0.1/x10/x100 — all variants within noise at x10+, this shape
    * fastest at sf0.1 (SCALING.md §r11); the >2×-oracle readings at
    * small scale are sequential-stage floor (anatomy: 10-13 AQE jobs),
    * not plan cost, and the two-sided x100 A/B measures 1.9×.
    *
    * One-shot form: the checkpointed tf table's release handle is
    * dropped, so its blocks free on ContextCleaner GC after the caller's
    * frame reference dies (the bench's inter-query `System.gc()` is
    * exactly that trigger). A caller invoking this repeatedly in one
    * long-lived job must use [[bigramLogProbCached]] and `release()`.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String = "text",
      minCount: Long = 1L): DataFrame =
    bigramLogProbCached(docs, idCol, textCol, minCount).df

  /** [[bigramLogProb]] with the internally-checkpointed (doc, a, b, tf)
    * frame handed out for release ([[graft.ops.Checkpoints.CachedResult]])
    * — the variant a long-running caller must use, or executor storage
    * accumulates one tf table per call until ContextCleaner GC. Consume
    * `df`, then `release()`. */
  def bigramLogProbCached(docs: DataFrame, idCol: String,
      textCol: String = "text",
      minCount: Long = 1L): graft.ops.Checkpoints.CachedResult = {
    val par = graft.Conf.sizedShufflePartitions(docs, rowMultiplier = 2.0)
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = toks
      .select(col("doc_id"), col("tok").as("a"),
        lead(col("tok"), 1).over(w).as("b"))
      .where(col("b").isNotNull)
    // the corpus-wide window + aggregation feeds FOUR consumers (the
    // scoring join side, both model tables, the totals scalar) — lazily
    // localCheckpoint so it computes once per action instead of four
    // times (the semanticDedup pattern; blocks belong to the first
    // materializing action)
    val tfb = bi.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .cutLineage(false)
    val cab = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cnt_ab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cnt_ab")).as("cnt_a"))
      .where(col("cnt_a") >= minCount)
    val cb = cab.where(col("cnt_ab") >= minCount)
    val totals = cab.select(sum(col("cnt_ab")).as("n_total")) // 1-row scalar
    // no broadcast HINT on the model tables: AQE broadcasts them while
    // they fit and falls back to shuffled joins of 3-column count rows
    // when a huge vocabulary outgrows the limit — a forced hint would
    // turn that documented degradation into a driver OOM
    val px = tfb.join(cb, Seq("a", "b"), "left_outer")
      .join(ca, Seq("a"), "left_outer")
      .crossJoin(broadcast(totals))
      .withColumn("__p_x",
        when(col("cnt_ab").isNotNull, // implies cnt_a >= cnt_ab >= minCount
          col("cnt_ab").cast(DoubleType) / col("cnt_a").cast(DoubleType))
          .when(col("cnt_a").isNotNull,
            lit(0.5) / col("cnt_a").cast(DoubleType))
          .otherwise(lit(0.5) / col("n_total").cast(DoubleType)))
    val fxScale = 4294967296.0 // 2^32, as in unigramLogProb
    val scored = graft.functions.ExactMath.lnColumn(px, "__p_x", "__lnp")
      .withColumn("__fx",
        floor(col("__lnp") * lit(fxScale)).cast(LongType) * col("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__fx")).as("__fxs"), sum(col("tf")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("__fxs").cast(DoubleType) / lit(fxScale) / col("n_bigrams"))
          .as("avg_logprob"))
    val out = docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_logprob"))
    graft.ops.Checkpoints.CachedResult(out, Seq(tfb))
  }

  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String = "text",
      minCount: Long = 1L): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val totals = counts.select(sum(col("cnt")).as("n_total")) // 1-row scalar
    val lm = counts.where(col("cnt") >= minCount)
    // no broadcast HINT on the corpus-derived model table (same policy as
    // bigramLogProb and oovRate): AQE broadcasts it while it fits and
    // degrades to a shuffled join of 2-column count rows when a huge
    // vocabulary outgrows the limit — a forced hint would OOM the driver
    val px = tf.join(lm, Seq("token"), "left_outer")
      .crossJoin(broadcast(totals))
      .withColumn("__p_x",
        when(col("cnt").isNotNull,
          col("cnt").cast(DoubleType) / col("n_total").cast(DoubleType))
          .otherwise(lit(0.5) / col("n_total").cast(DoubleType)))
    val fxScale = 4294967296.0 // 2^32: ~9 kept decimal digits, overflow-safe
    val scored = graft.functions.ExactMath.lnColumn(px, "__p_x", "__lnp")
      .withColumn("__fx",
        floor(col("__lnp") * lit(fxScale)).cast(LongType) * col("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__fx")).as("__fxs"), sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__fxs").cast(DoubleType) / lit(fxScale) / col("n_tokens"))
          .as("avg_logprob"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("avg_logprob"))
  }

  /** fastText-style learned quality classifier inference: hashed
    * unigram+bigram features → per-bucket weight → mean-pooled linear
    * score (the CCNet/Llama wiki-vs-crawl filter shape). The deliverable
    * is the LOGIT and the keep decision — sigmoid is a monotone transform
    * that changes neither ranking nor any thresholded decision, and
    * skipping it keeps the score libm-free, hence bit-exact across
    * engines.
    *
    * The "trained model" here is a weight TABLE keyed by feature bucket;
    * this build derives the weights from the bucket id by a fixed integer
    * affine-mod formula (milli-units in [-1000, 1000]) so the oracle can
    * reproduce them without shipping a literal table — a real checkpoint
    * drops in as a broadcast (bucket, weight) join at the marked seam with
    * no other plan change.
    *
    * Scale shape: one corpus tokenize+explode, ONE shuffle on doc_id
    * feeding both the bigram `lead` window and the score aggregation
    * (same key — no second exchange); weights are computed inline from
    * the bucket id, so no join at all. Exact arithmetic: integer weight
    * sums (overflow at ~9e15 feature-milli — fine to 100 M tokens/doc),
    * then two correctly-rounded double divisions in a fixed order.
    *
    * @param buckets power of two, so Spark's signed `pmod` and the
    *   oracle's unsigned `%` agree (both take the low bits of the hash).
    */
  def qualityClassifierScore(docs: DataFrame, idCol: String,
      textCol: String = "text", buckets: Int = 1024, biasMilli: Long = 0L,
      threshold: Double = 0.0): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val par = graft.Conf.sizedShufflePartitions(docs, rowMultiplier = 2.0)
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // weight seam: replace `weightOf` with a broadcast model-table join to
    // serve a real trained checkpoint
    def weightOf(feature: Column): Column =
      pmod(pmod(xxhash64(feature), lit(buckets.toLong)) * lit(2654435761L)
        + lit(1013904223L), lit(2001L)) - lit(1000L)
    val scored = toks
      .select(col("doc_id"), col("tok"), lead(col("tok"), 1).over(w).as("__nxt"))
      .select(col("doc_id"),
        (weightOf(col("tok")) + when(col("__nxt").isNotNull,
          weightOf(concat_ws(" ", col("tok"), col("__nxt")))).otherwise(lit(0L)))
          .as("__w"),
        when(col("__nxt").isNotNull, lit(2L)).otherwise(lit(1L)).as("__nf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__w")).as("__sw"), sum(col("__nf")).as("n_features"))
      .select(col("doc_id"), col("n_features"),
        (col("__sw").cast(DoubleType) / lit(1e3)
          / col("n_features").cast(DoubleType)
          + lit(biasMilli).cast(DoubleType) / lit(1e3)).as("logit"))
    classifierVerdict(docs, idCol, scored, biasMilli, threshold)
  }

  /** The classifier output contract shared by [[qualityClassifierScore]]
    * and [[qualityClassifierScoreWith]]: every input doc gets a row, and a
    * zero-feature doc (empty/null text) gets a DEFINED verdict — logit =
    * bias (zero features contribute a zero mean, the same convention as
    * absent buckets scoring 0), never NULL. A NULL keep would silently
    * vanish in boolean filters — the null-poisoning [[Policy.gate]]'s
    * boolean algebra is built to forbid. Consequence at the defaults
    * (bias 0, threshold 0): an empty doc PASSES the classifier gate —
    * deliberate (the classifier has no evidence either way; emptiness is
    * the length/quality gates' call downstream, the same philosophy as
    * the link-density channel passing NULL-density pages). */
  private def classifierVerdict(docs: DataFrame, idCol: String,
      scored: DataFrame, biasMilli: Long, threshold: Double): DataFrame =
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("logit"), lit(biasMilli.toDouble / 1e3)).as("logit"),
        (coalesce(col("logit"), lit(biasMilli.toDouble / 1e3))
          >= lit(threshold)).as("keep"))

  /** Distributed quality-classifier TRAINING — the fit step that produces
    * the weight table [[qualityClassifierScoreWith]] serves (closing the
    * one pipeline stage that previously happened off-engine): a
    * fastText/CCNet-style logistic regression (Joulin 2016; Wenzek 2019
    * trains exactly this shape to separate a "good" seed corpus from
    * crawl text) over the SAME hashed unigram+bigram mean-pooled features
    * [[qualityClassifierScore]] reads at inference.
    *
    * The update schedule is FULL-BATCH gradient descent in integer
    * milli-unit fixed point with a hard-sigmoid link
    * (`clamp(z/4 + 1/2, 0, 1)` — piecewise-linear, so the whole fit is
    * exact integer arithmetic end to end and a DuckDB oracle replays the
    * weights BIT-EXACTLY, the same trick that makes the BPE trainer and
    * the IVF Lloyd rounds oracle-able; libm sigmoid would diverge between
    * engines in the last ulps and compound across rounds). All divisions
    * are explicit floor-division (`fdiv`), identical on both engines.
    *
    * Per round r (weights start at 0 for every bucket present in the
    * corpus):
    *   z_d   = Σ_b c_db · w_b                 (milli)
    *   p_d   = clamp(fdiv(fdiv(z_d, n_d), 4) + 500, 0, 1000)
    *   e_d   = p_d − y_d                      (y ∈ {0, 1000})
    *   g_b   = Σ_d fdiv(c_db · e_d · 32, n_d)
    *   w_b  −= fdiv(g_b, 8)
    *
    * Scale shape: ONE corpus tokenize+window pass builds the persisted
    * (doc_id, bucket, count) feature matrix; each round is two joins
    * against it (a broadcast of the ≤`buckets`-row weight table for the
    * logits, a doc-keyed join for the gradients) — the corpus is never
    * re-tokenized and never shuffled on anything but doc_id/bucket. The
    * driver holds only the weight vector (O(buckets) cells, the same
    * bounded-parameter-fetch contract as the IVF Lloyd centroids);
    * training iterates the BUCKET table, not the corpus. A feature matrix
    * within its [[DriverBound]] bound skips the per-round job round-trips
    * entirely: collect once, run every round driver-side in the identical
    * integer arithmetic ([[fitRoundsDriverSide]]).
    *
    * Pipeline slot: the fitted gate composes UPSTREAM of [[Curate.run]]
    * exactly like [[Policy.gate]] — fit on a labeled seed corpus, gate
    * the crawl batch with [[qualityClassifierScoreWith]], curate the
    * survivors (spec-asserted composition in CurateSpec).
    *
    * @param labelCol boolean-castable column: TRUE = the "good"/keep class
    * @param buckets  power of two (same hashing domain as inference)
    * @return (bucket, weight_milli) — one row per feature bucket observed
    *         in the corpus; absent buckets are implicitly 0 at inference
    */
  /** The hashed unigram+bigram feature-instance stream — ONE shared
    * implementation for training ([[fitQualityClassifier]]) and serving
    * ([[qualityClassifierScoreWith]]): train and serve must hash
    * identically for a served model to be valid, so the tokenize →
    * bigram-window → bucket pipeline exists exactly once. Returns one
    * row per feature instance: (doc_id, bucket [, carried columns]). */
  private def hashedFeatureInstances(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val par = graft.Conf.sizedShufflePartitions(docs, rowMultiplier = 2.0)
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id") +:
        carry.map { case (n, c) => c.as(n) } :+
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "tok")): _*)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val keep = col("doc_id") +: carry.map { case (n, _) => col(n) }
    val feats = toks.select(keep :+ col("tok") :+
      lead(col("tok"), 1).over(w).as("__nxt"): _*)
    // unigram + trailing bigram emitted as ONE conditional-array explode,
    // not a unionAll of two branches (r13): Union reports
    // UnknownPartitioning even over two identically-partitioned children,
    // which forced a full re-exchange of the feature stream in every
    // consumer; Generate preserves the child's HashPartitioning(doc_id),
    // so the fit's per-doc aggregations and doc-keyed joins downstream
    // run exchange-free. Same (doc_id, bucket) multiset — only row order
    // interleaves, which nothing downstream observes (all consumers
    // aggregate).
    val uni = pmod(xxhash64(col("tok")), lit(buckets.toLong))
    val bi = pmod(xxhash64(concat_ws(" ", col("tok"), col("__nxt"))),
      lit(buckets.toLong))
    feats.select(keep :+
      explode(when(col("__nxt").isNotNull, array(uni, bi))
        .otherwise(array(uni))).as("bucket"): _*)
  }

  def fitQualityClassifier(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 256, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val spark = docs.sparkSession
    // floor division kept in LONG arithmetic end to end: the mod-subtract
    // makes the numerator exactly divisible, and integral `div` never
    // leaves the long domain — `/` + cast would route through double,
    // which silently rounds once |numerator| exceeds 2^53 (per-bucket
    // c·e·32 gradient sums grow with corpus size, so that is a real
    // 100 TB failure mode, not a theoretical one)
    def fdiv(x: Column, n: Column): Column =
      call_function("div", x - pmod(x, n), n)
    val inst = hashedFeatureInstances(docs, idCol, textCol, buckets,
      carry = Seq("__y" -> when(col(labelCol).cast("boolean"), lit(1000L))
        .otherwise(lit(0L))))
    val fm = inst.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"), first(col("__y")).as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every round is a GLOBAL barrier (the gradient is a corpus sum): a
    // bounded matrix runs them all on the driver in two jobs, not 2+rounds
    val wts = DriverBound.collect(fm, DriverBound.FitRows) { fmRows =>
      val rows = fmRows.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      fm.unpersist(false)
      fitRoundsDriverSide(rows, rounds)
    }.getOrElse {
      // per-doc totals aggregate the PERSISTED feature matrix — reading
      // `inst` here would re-run the whole corpus tokenize/window/hash
      // pass a second time (the scaladoc's one-pass contract)
      val nd = fm.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), first(col("__y")).as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bounded parameter fetch: the distinct-bucket set (≤ buckets rows)
      val present = fm.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).sorted
      var w: Map[Long, Long] = present.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val wDf = spark.createDataFrame(w.toSeq).toDF("bucket", "w")
        val z = fm.join(broadcast(wDf), Seq("bucket"))
          .groupBy(col("doc_id")).agg(sum(col("c") * col("w")).as("z"))
        val e = nd.join(z, Seq("doc_id"))
          .select(col("doc_id"), col("n"),
            (greatest(least(fdiv(fdiv(col("z"), col("n")), lit(4L)) + lit(500L),
              lit(1000L)), lit(0L)) - col("y")).as("e"))
        val g = fm.join(e, Seq("doc_id"))
          .groupBy(col("bucket"))
          .agg(sum(fdiv(col("c") * col("e") * lit(32L), col("n"))).as("g"))
          .collect() // bounded: ≤ buckets rows
        val gm = g.map(r => r.getLong(0) -> r.getLong(1)).toMap
        w = w.map { case (b, v) =>
          b -> (v - Math.floorDiv(gm.getOrElse(b, 0L), 8L))
        }
      }
      fm.unpersist(false)
      nd.unpersist(false)
      w
    }
    spark.createDataFrame(wts.toSeq.sortBy(_._1))
      .toDF("bucket", "weight_milli")
  }

  /** The full-batch fixed-point rounds of [[fitQualityClassifier]] on a
    * collected bounded feature matrix — BIT-IDENTICAL arithmetic to the
    * distributed loop (floor division = SQL's mod-subtract + integral div
    * = Math.floorDiv for the positive divisors used here; clamp, error,
    * gradient and update in the exact same long domain), so the two paths
    * land on the same weight table and one DuckDB oracle replays both.
    * Spec-pinned: OpsSpec's quality-classifier FIT test asserts
    * driver-vs-distributed equality on the same input.
    *
    * @param fmRows (doc_id, bucket, c, y_milli) — one row per present
    *               (doc, bucket) cell, y ∈ {0, 1000}
    */
  private def fitRoundsDriverSide(fmRows: Array[(Long, Long, Long, Long)],
      rounds: Int): Map[Long, Long] = {
    // per-doc totals (n, y) — same as the distributed nd aggregation
    val nd = new scala.collection.mutable.HashMap[Long, (Long, Long)]
    fmRows.foreach { case (d, _, c, y) =>
      val (n0, _) = nd.getOrElse(d, (0L, y))
      nd(d) = (n0 + c, y)
    }
    var w: Map[Long, Long] =
      fmRows.iterator.map(_._2).toSeq.distinct.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val z = new scala.collection.mutable.HashMap[Long, Long]
      fmRows.foreach { case (d, b, c, _) =>
        z(d) = z.getOrElse(d, 0L) + c * w(b)
      }
      val e = nd.map { case (d, (n, y)) =>
        val p = math.max(0L, math.min(1000L,
          Math.floorDiv(Math.floorDiv(z.getOrElse(d, 0L), n), 4L) + 500L))
        d -> (p - y)
      }
      val g = new scala.collection.mutable.HashMap[Long, Long]
      fmRows.foreach { case (d, b, c, _) =>
        val n = nd(d)._1
        g(b) = g.getOrElse(b, 0L) + Math.floorDiv(c * e(d) * 32L, n)
      }
      w = w.map { case (b, v) =>
        b -> (v - Math.floorDiv(g.getOrElse(b, 0L), 8L))
      }
    }
    w
  }

  /** [[qualityClassifierScore]] served from a TRAINED weight table (the
    * documented weight seam, now first-class): hashed unigram+bigram
    * buckets joined against `weights` (bucket, weight_milli — a
    * [[fitQualityClassifier]] output or any imported checkpoint), absent
    * buckets scoring 0, then the same integer-sum → mean-pool → logit
    * arithmetic as the formula-weight path. One corpus tokenize+window
    * pass, one doc_id-keyed aggregation; the weight table joins under
    * AQE (≤ `buckets` rows — broadcast in practice). */
  def qualityClassifierScoreWith(docs: DataFrame, idCol: String,
      weights: DataFrame, textCol: String = "text", buckets: Int = 256,
      biasMilli: Long = 0L, threshold: Double = 0.0): DataFrame = {
    // the SAME shared hashing pipeline the fit used — train/serve
    // feature parity is structural, not a convention
    val inst = hashedFeatureInstances(docs, idCol, textCol, buckets)
    val wtab = weights.select(col("bucket"),
      col("weight_milli").cast(LongType).as("__w"))
    val scored = inst.join(wtab, Seq("bucket"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("__w"), lit(0L))).as("__sw"),
        count(lit(1)).as("n_features"))
      .select(col("doc_id"), col("n_features"),
        (col("__sw").cast(DoubleType) / lit(1e3)
          / col("n_features").cast(DoubleType)
          + lit(biasMilli).cast(DoubleType) / lit(1e3)).as("logit"))
    classifierVerdict(docs, idCol, scored, biasMilli, threshold)
  }

  /** Blocklist (bad-word) filter — the C4-style lexical gate (Raffel et
    * al. 2020 dropped any page containing a "List of Dirty, Naughty …"
    * word; most production curation stacks run the same shape with a
    * larger list). Emits per document the blocklisted-token count and a
    * keep decision (`n_hits <= maxHits`; C4's policy is `maxHits = 0`).
    *
    * Scale shape: ONE narrow codegen'd projection — the list rides the
    * plan as an array literal and the count is an in-row `filter` over
    * the staged token array; no explode, no join, no shuffle, the same
    * zero-exchange contract as [[stopwordRatio]]. A list too large for a
    * plan literal (100k+ phrases) becomes a broadcast semi-join on
    * exploded tokens — the seam is this function's body; the signature
    * does not change.
    */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String], maxHits: Long = 0L): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist: nothing to filter")
    val bl = typedLit(blocklist.map(_.toLowerCase))
    docs
      // null text = zero tokens = zero hits (kept). Without the coalesce,
      // legacy sizeOfNull makes size(NULL) = -1 — a nonsense negative hit
      // count that still passes the gate, and a parity break vs the
      // oracle's NULL
      .withColumn("__toks", tokens(lower(coalesce(col(textCol), lit("")))))
      .select(col(idCol).as("doc_id"),
        size(filter(col("__toks"), t => array_contains(bl, t)))
          .cast(LongType).as("n_hits"))
      .withColumn("keep", col("n_hits") <= lit(maxHits))
  }

  /** Hashing-trick document vectors (Weinberger et al. 2009, feature
    * hashing): fold the token multiset into `dim` buckets by portable
    * hash — a model-free embedding that feeds the vector stack
    * ([[Similarity]] ANN, [[Dedup.semanticDedup]]) when no trained
    * encoder exists. Sparse form: one (doc_id, bucket, cnt) row per
    * nonzero bucket — integer-exact, hence bit-exact oracle-able.
    *
    * Scale shape: tokenize+explode then ONE corpus shuffle to (doc_id,
    * bucket) grain with partial aggregation; bucket ids are `pmod` of the
    * portable xxhash64, no vocabulary table anywhere.
    */
  def featureHashCounts(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("doc_id"),
        pmod(xxhash64(col("tok")), lit(dim.toLong)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Dense Array[Float] form of [[featureHashCounts]] for the vector
    * operators (cosine ANN, SemDeDup) — raw counts, caller normalizes if
    * its metric needs it (the cosine kernels are scale-invariant).
    */
  def featureHashVectors(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame =
    featureHashCounts(docs, idCol, textCol, dim)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt"))))
        .as("__m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(dim.toLong - 1L)),
          j => coalesce(element_at(col("__m"), j), lit(0L)).cast("float"))
          .as("vec"))

  /** Full per-document text-statistics projection. Tokenizes once (staged
    * column), then derives every statistic from the attribute.
    */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = col("__toks")
    docs
      // case-folded tokens: counts and lengths are case-invariant, while
      // the stopword and language profiles (lowercase) only match folded
      // tokens — raw-case tokens would zero stopword_ratio and return
      // 'und' for any Title-Case document
      .withColumn("__toks", tokens(lower(t)))
      .select(
        col("*"),
        length(t).cast(LongType).as("n_chars_computed"),
        size(toks).cast(LongType).as("n_tokens"),
        round(coalesce(avgTokenLen(toks), lit(0.0)), 4).as("avg_token_len"),
        round(coalesce(stopwordRatio(toks), lit(0.0)), 4).as("stopword_ratio"),
        qualityScoreFromTokens(toks).as("quality_score"),
        langIdFromTokens(toks).as("lang_detected"),
        fingerprint(t).as("fingerprint"))
      .drop("__toks")
  }
}
