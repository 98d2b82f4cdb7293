package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded scale-fixture generator for the scaling study (SCALING.md).
  *
  * Produces `documents`, `embeddings`, `lineitem`, `orders`, `supplier`
  * parquet tables with the same SHAPE as the driver's TESTDATA.md sf0.1
  * fixtures (vocab-sentence documents with planted near-duplicate
  * clusters, 64-dim float embeddings with label clusters, a TPC-H-ish
  * fact/dim star) at an arbitrary multiple of that scale — so the same
  * `SparkEntry.queries` run unmodified on `x1` and `x10` directories and
  * wall-time/plan growth can be compared apples-to-apples (both scales
  * come from THIS generator; the driver fixture is never the baseline).
  *
  * Determinism: every value derives from `xxhash64(id, tag)` — no RNG, no
  * timestamps — so regeneration is bit-identical on any cluster layout
  * (generation itself is `spark.range`-parallel: no driver-side loops).
  *
  * Usage: `runMain graft.ScaleFixture <outDir> <mult>` (mult=1 → sf0.1
  * shape: 5 000 docs / 2 000 embeddings / 600 000 lineitem).
  */
object ScaleFixture {

  private val vocab: Seq[String] = Seq(
    "spark", "batch", "stream", "table", "column", "row", "value", "key",
    "join", "group", "agg", "filter", "sort", "scan", "query", "window",
    "hash", "merge", "data", "part", "order", "line", "customer", "vector",
    "fast", "slow", "big", "small", "the", "a")

  /** Seeded hash stream: seed 0 keeps the historical tag strings (so the
    * x1/x10/x100 scaling fixtures regenerate bit-identically); any other
    * seed perturbs EVERY generated value — the independence check behind
    * the second-seed Verify sweep (oracle parity must not be a
    * fixture-coincidence).
    */
  private def hs(seed: Long, tag: String, cols: org.apache.spark.sql.Column*) = {
    val t = if (seed == 0L) tag else s"$tag@$seed"
    abs(xxhash64((lit(t) +: cols): _*))
  }

  /** Vocab-sentence documents with planted near-duplicates: every 20th id
    * re-emits the PREVIOUS id's deterministic token stream with ~1/16 of
    * tokens substituted — 3-gram shingle Jaccard lands ≈0.55–0.8, inside
    * the `minJaccard = 0.5` dedup band, at the same ~5 % planted-dup rate
    * the driver fixture shows. No join needed: a copy's tokens regenerate
    * from the TARGET id's hash stream.
    *
    * Scale-stable shingle statistics: tokens carry a THEME suffix, and the
    * number of themes grows with the corpus (~25 docs per theme) — so a
    * given 3-gram's document frequency stays bounded as the corpus grows,
    * the way real corpora behave (vocabulary grows with size; boilerplate
    * df does not explode 10× because the corpus did). A fixed tiny vocab
    * would instead push EVERY shingle past the dedup df-cap at 10× and
    * vacuously zero the candidate set.
    */
  def documents(spark: SparkSession, n: Long): DataFrame =
    documents(spark, n, boilerplate = false)

  def documents(spark: SparkSession, n: Long, boilerplate: Boolean): DataFrame =
    documents(spark, n, boilerplate, seed = 0L)

  /** `boilerplate = true` is the SKEW-STRESS corpus (r6 verdict item 4):
    * 20 % of documents (`doc_id % 5 == 4`) re-emit ONE shared template —
    * doc 0's token stream with ~1/16 per-doc mutations — the
    * boilerplate-heavy shape real web corpora show (cookie banners,
    * license headers). Every one of the template family's shingles has
    * document frequency ≈ n/5: the hottest possible key for the shingle
    * shuffle, the window-based df count, the band buckets, and one giant
    * candidate component for connected components. The uniform fixture's
    * df caps are proven; this corpus proves them AT the hot key.
    */
  def documents(spark: SparkSession, n: Long, boilerplate: Boolean,
      seed: Long): DataFrame = {
    val ids = spark.range(0, n, 1, 32).toDF("doc_id")
    val isBoiler = if (boilerplate) col("doc_id") % 5 === 4 else lit(false)
    val isDup = col("doc_id") % 20 === 19 && !isBoiler
    val mutated = isDup || isBoiler
    val srcId = when(isBoiler, lit(0L))
      .when(isDup, col("doc_id") - 1).otherwise(col("doc_id"))
    val nTok = (hs(seed, "len", srcId) % 83 + 8).cast(IntegerType)
    val vlit = typedLit(vocab)
    val nThemes = math.max(1L, n / 25)
    val theme = hs(seed, "theme", srcId) % nThemes
    val toks = transform(sequence(lit(0), nTok - 1), j => {
      val base = concat(
        element_at(vlit, (hs(seed, "tok", srcId, j) % vocab.size).cast(IntegerType) + 1),
        lit("_"), theme)
      val mut = concat(
        element_at(vlit, (hs(seed, "alt", col("doc_id"), j) % vocab.size).cast(IntegerType) + 1),
        lit("_"), theme)
      when(mutated && hs(seed, "mut", col("doc_id"), j) % 16 === 0, mut).otherwise(base)
    })
    ids.select(
        col("doc_id"),
        concat_ws(" ", toks).as("text"),
        when(hs(seed, "lang", col("doc_id")) % 100 < 41, "en")
          .when(hs(seed, "lang", col("doc_id")) % 100 < 56, "zh")
          .when(hs(seed, "lang", col("doc_id")) % 100 < 71, "es")
          .when(hs(seed, "lang", col("doc_id")) % 100 < 86, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), hs(seed, "src", col("doc_id")) % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** 64-dim float embeddings in 10 label clusters: a label-dependent
    * center offset plus hash-uniform noise — same value range/std shape
    * as the driver fixture (±~0.5, σ≈0.125).
    */
  def embeddings(spark: SparkSession, n: Long, seed: Long = 0L): DataFrame = {
    val ids = spark.range(0, n, 1, 32).toDF("vec_id")
    val label = (hs(seed, "label", col("vec_id")) % 10).cast(IntegerType)
    val emb = transform(sequence(lit(0), lit(63)), d => {
      val center = ((hs(seed, "ctr", label.cast(LongType), d) % 400) - 200).cast(DoubleType) / 1000.0
      val noise = ((hs(seed, "nz", col("vec_id"), d) % 500) - 250).cast(DoubleType) / 1000.0
      ((center + noise) / 2.0).cast(FloatType)
    })
    ids.select(col("vec_id"), emb.as("embedding"), label.as("label"))
  }

  /** TPC-H-ish fact + dims, just enough surface for the bars/as-of path:
    * `nSupp` scales with the multiplier so symbol cardinality (join-key
    * space) grows with the data like a real tick store's would.
    */
  def star(spark: SparkSession, nLineitem: Long, nOrders: Long, nSupp: Long,
      seed: Long = 0L, baseDate: String = "1992-01-01"):
      (DataFrame, DataFrame, DataFrame) = {
    val li = spark.range(0, nLineitem, 1, 32).toDF("id").select(
      (col("id") / 4).cast(LongType).as("l_orderkey"),
      (hs(seed, "pk", col("id")) % (nSupp * 20)).as("l_partkey"),
      (hs(seed, "sk", col("id")) % nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
      (hs(seed, "qty", col("id")) % 50 + 1).cast(DoubleType).as("l_quantity"),
      ((hs(seed, "px", col("id")) % 900000 + 90000).cast(DoubleType) / 100.0).as("l_extendedprice"),
      ((hs(seed, "disc", col("id")) % 11).cast(DoubleType) / 100.0).as("l_discount"),
      ((hs(seed, "tax", col("id")) % 9).cast(DoubleType) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")),
        (hs(seed, "rf", col("id")) % 3).cast(IntegerType) + 1).as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")),
        (hs(seed, "ls", col("id")) % 2).cast(IntegerType) + 1).as("l_linestatus"),
      to_timestamp(date_add(to_date(lit(baseDate)),
        (hs(seed, "sd", col("id")) % 2500).cast(IntegerType))).as("l_shipdate"))
    val orders = spark.range(0, nOrders, 1, 32).toDF("o_orderkey").select(
      col("o_orderkey"),
      (hs(seed, "ck", col("o_orderkey")) % (nOrders / 10 + 1)).as("o_custkey"),
      element_at(typedLit(Seq("O", "F", "P")),
        (hs(seed, "st", col("o_orderkey")) % 3).cast(IntegerType) + 1).as("o_orderstatus"),
      ((hs(seed, "tp", col("o_orderkey")) % 40000000 + 100000).cast(DoubleType) / 100.0)
        .as("o_totalprice"),
      to_timestamp(date_add(to_date(lit(baseDate)),
        (hs(seed, "od", col("o_orderkey")) % 2500).cast(IntegerType))).as("o_orderdate"),
      concat(lit(""), (hs(seed, "pr", col("o_orderkey")) % 5 + 1).cast(IntegerType),
        lit("-PRIORITY")).as("o_orderpriority"))
    val supplier = spark.range(0, nSupp, 1, 8).toDF("s_suppkey").select(
      col("s_suppkey"),
      concat(lit("Supplier#"), col("s_suppkey")).as("s_name"),
      (hs(seed, "nk", col("s_suppkey")) % 25).cast(IntegerType).as("s_nationkey"),
      ((hs(seed, "ab", col("s_suppkey")) % 2000000).cast(DoubleType) / 100.0 - 1000.0)
        .as("s_acctbal"))
    (li, orders, supplier)
  }

  def writeAll(spark: SparkSession, outDir: String, mult: Int,
      skewed: Boolean = false): Unit = {
    require(mult >= 1, s"mult must be >= 1, got $mult")
    val m = mult.toLong
    def put(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    put(documents(spark, 5000L * m, boilerplate = skewed), "documents")
    if (skewed) return // the skew study reads only the document corpus
    put(embeddings(spark, 2000L * m), "embeddings")
    val (li, orders, supplier) = star(spark, 600000L * m, 150000L * m, 1000L * m)
    put(li, "lineitem")
    put(orders, "orders")
    put(supplier, "supplier")
  }

  // ---- full-schema sweep fixture (second-seed Verify independence) ----

  /** All ten TESTDATA.md tables at the driver's sf0.01 row counts, every
    * value drawn from the `seed`-perturbed hash streams and every
    * timestamp written as TIMESTAMP_NTZ micros (the physical type the
    * driver fixture carries, so `graft.Tables` reads both identically).
    * Purpose: rerun the ENTIRE Verify + DuckDB-oracle sweep on a fixture
    * that shares no value with the driver's seed — 180/180 parity on two
    * independent seeds rules out fixture-coincidental hash matches.
    * Row counts MATCH sf0.01 exactly: any query parameter derived from a
    * table count (e.g. the as-of probe's symbol modulus) stays consistent
    * with its static oracle SQL.
    */
  def writeSweepFixture(spark: SparkSession, outDir: String, seed: Long): Unit = {
    // single file per table like the driver fixture: the oracle's CTE
    // chains re-scan tables many times, and a 32-shard glob multiplies
    // that cost for no benefit at sf0.01 size
    def put(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def ntz(c: org.apache.spark.sql.Column) = c.cast("timestamp_ntz")

    put(documents(spark, 500L, boilerplate = false, seed), "documents")
    put(embeddings(spark, 500L, seed), "embeddings")
    val (li, orders, supplier) =
      star(spark, 60000L, 15000L, 100L, seed, baseDate = "1995-01-01")
    put(li.withColumn("l_shipdate", ntz(col("l_shipdate"))), "lineitem")
    put(orders.withColumn("o_orderdate", ntz(col("o_orderdate"))), "orders")
    put(supplier, "supplier")

    put(spark.range(0, 5, 1, 1).toDF("k").select(
      col("k").cast(IntegerType).as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), col("k").cast(IntegerType) + 1).as("r_name")), "region")

    put(spark.range(0, 25, 1, 1).toDF("k").select(
      col("k").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("k")).as("n_name"),
      (col("k") % 5).cast(IntegerType).as("n_regionkey")), "nation")

    put(spark.range(0, 1500, 1, 4).toDF("k").select(
      col("k").as("c_custkey"),
      concat(lit("Customer#"), format_string("%09d", col("k"))).as("c_name"),
      (hs(seed, "cnk", col("k")) % 25).cast(IntegerType).as("c_nationkey"),
      ((hs(seed, "cab", col("k")) % 1000000).cast(DoubleType) / 100.0)
        .as("c_acctbal"),
      element_at(typedLit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")),
        (hs(seed, "seg", col("k")) % 5).cast(IntegerType) + 1)
        .as("c_mktsegment")), "customer")

    put(spark.range(0, 2000, 1, 4).toDF("k").select(
      col("k").as("p_partkey"),
      concat(
        element_at(typedLit(Seq("red", "green", "blue", "ivory", "plum")),
          (hs(seed, "pc", col("k")) % 5).cast(IntegerType) + 1),
        lit(" "),
        element_at(typedLit(Seq("widget", "bolt", "ring", "gear", "spring")),
          (hs(seed, "pn", col("k")) % 5).cast(IntegerType) + 1)).as("p_name"),
      concat(lit("Brand#"), hs(seed, "pb", col("k")) % 25).as("p_brand"),
      element_at(typedLit(Seq("ECONOMY", "SMALL", "STANDARD", "LARGE",
          "PROMO")),
        (hs(seed, "pt", col("k")) % 5).cast(IntegerType) + 1).as("p_type"),
      (hs(seed, "ps", col("k")) % 50 + 1).cast(IntegerType).as("p_size"),
      ((hs(seed, "prp", col("k")) % 100000 + 90000).cast(DoubleType) / 100.0)
        .as("p_retailprice")), "part")

    // events: 10 000 rows over ~30 days, monotone-with-jitter µs stamps
    // (mean gap 259 s), 150 users, 5 types, '{"k": n}' props — the same
    // shape Sessionize/anomaly/pivot queries see in the driver fixture
    val baseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
    put(spark.range(0, 10000, 1, 8).toDF("event_id").select(
      col("event_id"),
      ntz(timestamp_micros(lit(baseMicros) + col("event_id") * 259000000L +
        hs(seed, "ts", col("event_id")) % 259000000L)).as("ts"),
      (hs(seed, "uid", col("event_id")) % 150).as("user_id"),
      element_at(typedLit(Seq("click", "error", "purchase", "signup",
          "view")),
        (hs(seed, "et", col("event_id")) % 5).cast(IntegerType) + 1)
        .as("event_type"),
      ((hs(seed, "val", col("event_id")) % 49000 + 1).cast(DoubleType) / 100.0)
        .as("value"),
      concat(lit("{\"k\": "), hs(seed, "prk", col("event_id")) % 100,
        lit("}")).as("props")), "events")
  }

  def main(args: Array[String]): Unit = {
    val sweepMode = args.length >= 2 && args(1) == "sweep"
    require(
      if (sweepMode) args.length == 3 && args(2).forall(_.isDigit)
      else args.length == 2 || (args.length == 3 && args(2) == "skew"),
      "usage: ScaleFixture <outDir> <mult> [skew] | <outDir> sweep <seed>")
    // 32 shuffle partitions whatever the core count: the fixture's file
    // layout (part-file counts) must not depend on the machine
    val spark = Sessions.build(partitions = 32)
    if (sweepMode) writeSweepFixture(spark, args(0), args(2).toLong)
    else writeAll(spark, args(0), args(1).toInt, skewed = args.length == 3)
    spark.stop()
  }
}
