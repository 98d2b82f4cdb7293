package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Dedup, DriverBound, Policy, Sessionize, TextAnalysis, Urls}

/** Property-based invariants (SURVEY §5.2-2). ScalaCheck generators feed
  * deterministic seeds; generated cases are BATCHED into single Spark jobs
  * where the property allows it, so the suite stays fast.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("exactSum is invariant under any partitioning (order-independence)") {
    val centsGen = Gen.listOfN(60, Gen.chooseNum(-1000000L, 1000000L))
    (1 to 10).foreach { i =>
      val cents = sample(centsGen, i.toLong)
      val expected = cents.sum / 100.0 // exact: integer sum below 2^53
      val values = cents.map(_ / 100.0)
      Seq(1, 3, 7).foreach { parts =>
        val got = values.toDF("v").repartition(parts)
          .agg(ExactNum.exactSum(col("v"), 2).as("s"))
          .head().getDouble(0)
        assert(got == expected,
          s"seed=$i parts=$parts: exactSum=$got expected=$expected")
      }
    }
  }

  test("bround matches BigDecimal HALF_EVEN on the shortest decimal repr") {
    // values on a 1/1000 grid exercise the x.xx5 tie cases
    val gen = Gen.listOfN(300, Gen.chooseNum(-200000L, 200000L).map(_ / 1000.0))
    val values = sample(gen, 42L)
    val got = values.toDF("v").select(col("v"), bround(col("v"), 2).as("b"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    values.foreach { v =>
      val expected = java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue()
      assert(got(v) == expected, s"bround($v, 2) = ${got(v)}, expected $expected")
    }
  }

  test("cleanSymbols: output is a valid subset of trimmed input; idempotent") {
    val symGen = Gen.oneOf(
      Gen.listOfN(4, Gen.alphaNumChar).map(_.mkString),
      Gen.listOfN(7, Gen.alphaNumChar).map(_.mkString), // too long
      Gen.const("BRK.B"), Gen.const(" AA "), Gen.const(""),
      Gen.const("B_D"), Gen.const("GO-1"))
    val raw = sample(Gen.listOfN(200, symGen), 7L)
    val once = etl.StockEtl.cleanSymbols(raw.toDF("Symbol"))
    val out = once.as[String].collect().toSeq
    val trimmedInput = raw.map(_.trim).toSet
    assert(out.forall(trimmedInput.contains), "output not a subset of trimmed input")
    assert(out.forall(s => s.nonEmpty && s.length <= 5 &&
      s.replaceAll("[.-]", "").matches("^[A-Za-z0-9]+$")), s"invalid symbol survived: $out")
    val twice = etl.StockEtl.cleanSymbols(once.toDF("Symbol")).as[String].collect().toSeq
    assert(twice.sorted == out.sorted, "cleanSymbols is not idempotent")
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = for {
      n <- Gen.chooseNum(2, 25)
      es <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 14L), Gen.chooseNum(0L, 14L)))
    } yield es
    (1 to 4).foreach { i =>
      val edges = sample(edgeGen, 100L + i)
      val expected = unionFind(edges)
      // adaptive (these sizes take the driver union-find path) AND the
      // forced-distributed loop must both produce the reference labels
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$i: cc=$got expected=$expected")
      val gotDist = DriverBound.distributedOnly {
        Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(gotDist == expected,
        s"seed=$i: distributed cc=$gotDist expected=$expected")
    }
  }

  test("connectedComponents driver gate falls back on nulls and non-integral ids") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // null id: the driver path must decline (gate counts nulls); the
    // distributed loop labels the null group without failing
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 2L), Row(null, 3L)),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    val labeled = Dedup.connectedComponents(withNull, "a", "b")
      .collect().map(r => (r.get(0), r.get(1))).toMap
    assert(labeled(1L) == 1L && labeled(2L) == 1L, s"long pair mislabeled: $labeled")
    // string ids: integral-only gate → distributed loop, same labels as
    // lexicographic min-reachable
    val strs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("a", "b")
    val gotS = Dedup.connectedComponents(strs, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotS == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"),
      s"string cc wrong: $gotS")
  }

  test("sessionize session counts match a driver-side fold for random event streams") {
    val gapS = 100L
    val userGen = for {
      uid <- Gen.chooseNum(1L, 20L)
      n <- Gen.chooseNum(1, 12)
      ts <- Gen.listOfN(n, Gen.chooseNum(0L, 5000L))
    } yield (uid, ts)
    val users = sample(Gen.listOfN(15, userGen), 9L)
      .groupBy(_._1).map { case (uid, xs) => uid -> xs.flatMap(_._2).sorted }
    val rows = users.toSeq.flatMap { case (uid, ts) =>
      ts.zipWithIndex.map { case (t, i) =>
        (uid, new java.sql.Timestamp(t * 1000L), uid * 1000L + i)
      }
    }
    val expected = users.map { case (uid, ts) =>
      uid -> (1L + ts.sliding(2).count {
        case Seq(a, b) => b - a > gapS
        case _ => false
      })
    }
    val got = Sessionize.userSessionStats(
      rows.toDF("user_id", "ts", "event_id"), "user_id", "ts", "event_id", gapS)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap, s"sessions=$got expected=$expected")
  }

  test("mortonZ matches a bit-by-bit reference on random 31-bit pairs") {
    // 31 bits per dimension: a 32nd `b` bit would land on the long's sign
    // bit and break the Z-value's sort order (see Layout.mortonZ)
    def ref(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val gen = Gen.listOfN(500,
      Gen.zip(Gen.chooseNum(0L, 0x7FFFFFFFL), Gen.chooseNum(0L, 0x7FFFFFFFL)))
    val pairs = sample(gen, 7L)
    val got = pairs.toDF("a", "b")
      .select(graft.ops.Layout.mortonZ(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(got == pairs.map { case (a, b) => ref(a, b) },
      "mortonZ diverged from the bit-by-bit reference")
    assert(got.forall(_ >= 0L), "Z-values must stay non-negative (sign bit)")
  }

  test("packSequences invariants: offsets in [0, budget), bins contiguous per bucket") {
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.chooseNum(0L, 100000L), Gen.chooseNum(1L, 900L)))
    (1 to 5).foreach { seed =>
      val docs = sample(gen, seed.toLong).distinctBy(_._1)
      val budget = 1000L
      val out = graft.ops.Sampling.packSequences(
          docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens",
          budget = budget, buckets = 8)
        .select("pack_bucket", "pack_bin", "bin_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.forall { case (_, _, off) => off >= 0 && off < budget },
        s"seed=$seed: offset outside [0, budget)")
      // bins within a bucket are contiguous from 0 (no empty bin is ever
      // created: a bin index appears only when a document starts in it;
      // gaps would mean lost capacity accounting)
      out.groupBy(_._1).foreach { case (bkt, rows) =>
        val bins = rows.map(_._2).distinct.sorted.toSeq
        assert(bins == (0L until bins.size.toLong),
          s"seed=$seed bucket=$bkt: non-contiguous bins $bins")
      }
    }
  }

  test("keepCanonical: exactly one survivor per component, singletons untouched") {
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)))
      .map(_.filter { case (a, b) => a != b })
    (1 to 5).foreach { seed =>
      val edges = sample(edgeGen, seed.toLong)
      val docs = (0L to 40L).map(i => (i, i * 13 % 37)).toDF("doc_id", "w")
      if (edges.nonEmpty) {
        val pairs = edges.toDF("id_a", "id_b")
        def survivors() = Dedup.keepCanonical(docs, "doc_id", pairs,
            "id_a", "id_b", Seq(col("w").desc, col("doc_id")))
          .select("doc_id").as[Long].collect().toSet
        val kept = survivors()
        // the shuffled-join fallback (labels past the broadcast bound) and
        // the distributed CC loop must pick the same survivors
        val keptDist = DriverBound.distributedOnly(survivors())
        assert(keptDist == kept, s"seed=$seed: distributed kept $keptDist, driver $kept")
        // driver-side union-find for expected component structure
        val parent = scala.collection.mutable.Map((0L to 40L).map(i => i -> i): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val comps = (0L to 40L).groupBy(find)
        comps.foreach { case (_, members) =>
          assert(members.count(kept) == 1,
            s"seed=$seed: component $members kept ${members.filter(kept)}")
        }
      }
    }
  }

  test("decode∘encode is identity on random corpora under random merge tables") {
    val wordGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val docGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, docGen))
    val symGen = Gen.oneOf("a", "b", "c", "d", "ab", "cd", "abc", "ba")
    val mergesGen = Gen.choose(0, 4).flatMap(n =>
      Gen.listOfN(n, Gen.zip(symGen, symGen)))
    (1 to 6).foreach { seed =>
      val texts = sample(corpusGen, seed.toLong)
      val merges = sample(mergesGen, seed.toLong + 100)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val model = graft.ops.Bpe.symbolTable(docs, "text", merges)
      val decoded = graft.ops.Bpe.decode(
          graft.ops.Bpe.encode(docs, "doc_id", "text", merges),
          "doc_id", "token_ids", model)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val expect = t.split(" ").filter(_.nonEmpty).mkString("")
        assert(decoded(i.toLong) == expect,
          s"seed=$seed doc=$i merges=$merges: '${decoded(i.toLong)}' != '$expect'")
      }
    }
  }

  test("packingAudit conserves docs and token mass at any budget/bucket geometry") {
    val lenGen = Gen.listOfN(80, Gen.chooseNum(1L, 300L))
    (1 to 5).foreach { seed =>
      val lens = sample(lenGen, seed.toLong)
      val df = lens.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("doc_id", "n_tokens")
      Seq((64L, 4), (100L, 1), (4096L, 16)).foreach { case (budget, buckets) =>
        val audit = graft.ops.Sampling.packingAudit(
          graft.ops.Sampling.packSequences(df, "doc_id", "n_tokens",
            budget, buckets), "n_tokens", budget)
          .agg(sum("n_docs"), sum("total_tokens"), sum("capacity"),
            sum(col("n_bins")) * budget).head()
        assert(audit.getLong(0) == lens.size.toLong,
          s"seed=$seed $budget/$buckets: doc count not conserved")
        assert(audit.getLong(1) == lens.sum,
          s"seed=$seed $budget/$buckets: token mass not conserved")
        assert(audit.getLong(2) == audit.getLong(3),
          s"seed=$seed $budget/$buckets: capacity != n_bins * budget")
      }
    }
  }

  test("canonicalize: idempotent, param-order invariant, defragged/deported") {
    val seg = Gen.oneOf("a", "b", "docs", "x1")
    val host = Gen.oneOf("WWW.Example.COM", "news.bbc.CO.uk", "Files.Example.net")
    val param = Gen.oneOf("a=1", "b=2", "z=9", "utm_source=f", "gclid=X", "ref")
    val urlGen = for {
      sch <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      h <- host
      user <- Gen.oneOf("", "user:pw@")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      segs <- Gen.listOfN(2, seg)
      ps <- Gen.listOfN(4, param)
      frag <- Gen.oneOf("", "#Sec1")
    } yield (s"$sch://$user$h$port/${segs.mkString("/")}?${ps.mkString("&")}$frag", ps)
    val cases = (1 to 40).map(i => sample(urlGen, i.toLong))
    val urls = cases.map(_._1) ++
      // the same URLs with query params REVERSED — must canonicalize equal
      cases.map { case (u, ps) =>
        u.replace(ps.mkString("&"), ps.reverse.mkString("&"))
      }
    val out = urls.toDF("url")
      .select(col("url"), Urls.canonicalize(col("url")).as("c1"))
      .select(col("url"), col("c1"), Urls.canonicalize(col("c1")).as("c2"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    urls.foreach { u =>
      val (c1, c2) = out(u)
      assert(c1 == c2, s"canonicalize not idempotent on $u: $c1 -> $c2")
      assert(!c1.contains("#") && !c1.contains("@"),
        s"fragment/userinfo survived: $u -> $c1")
      assert(!c1.contains("utm_") && !c1.contains("gclid"),
        s"tracking param survived: $u -> $c1")
    }
    cases.map(_._1).zip(urls.drop(cases.size)).foreach { case (a, b) =>
      assert(out(a)._1 == out(b)._1,
        s"param order changed the canonical form: $a vs $b")
    }
  }

  test("redact(webRedactionRules): idempotent and detector-clean after one pass") {
    val frag = Gen.oneOf(
      "plain words here", "user7@mail.example.com", "123-45-6789",
      "(555) 234-5678", "555-234-5678", "10.20.3.4", "123456789",
      "v1.2.3", "12-34-5678", "user@localhost", "call 555.234.5678 now")
    val textGen = Gen.listOfN(6, frag).map(_.mkString(" "))
    val texts = (1 to 30).map(i => sample(textGen, i.toLong))
    val rules = TextAnalysis.webRedactionRules
    val df = texts.toDF("t")
      .select(col("t"), TextAnalysis.redact(col("t"), rules).as("r1"))
      .select(Seq(col("t"), col("r1"),
        TextAnalysis.redact(col("r1"), rules).as("r2")) ++
          rules.map { case (pat, sen) =>
            TextAnalysis.matchCount(col("r1"), pat)
              .as(s"n_${TextAnalysis.piiKind(sen)}")
          }: _*)
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"redact not idempotent on '${r.getString(0)}'")
      rules.foreach { case (_, sen) =>
        val k = s"n_${TextAnalysis.piiKind(sen)}"
        assert(r.getAs[Long](k) == 0L,
          s"$k still matches after redaction of '${r.getString(0)}': " +
            s"'${r.getString(1)}'")
      }
    }
  }

  test("robots longest-match matches a driver-side reference on random rule sets") {
    val prefix = Gen.oneOf("/a", "/a/", "/a/b", "/ab", "/b", "/b/c/", "/c")
    val ruleGen = for {
      p <- prefix; allow <- Gen.oneOf(true, false)
    } yield (p, allow)
    val caseGen = for {
      rules <- Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, ruleGen))
      paths <- Gen.listOfN(8, Gen.oneOf(
        "/", "/a", "/a/x", "/a/b/c", "/ab/z", "/abc", "/b/c/d", "/c", "/d"))
    } yield (rules, paths)
    def reference(rules: Seq[(String, Boolean)], path: String): Boolean = {
      val m = rules.filter { case (p, _) => path.startsWith(p) }
      if (m.isEmpty) true
      else m.maxBy { case (p, allow) => (p.length, allow) }._2
    }
    import spark.implicits._
    // batched per the suite's design: one robots host per seed, ONE
    // parse+apply job over all cases instead of 12 sequential jobs
    val cases = (1 to 12).map(seed => seed -> sample(caseGen, seed.toLong))
    val robots = cases.map { case (seed, (rules, _)) =>
      (s"h$seed.example", ("User-agent: *" +: rules.map { case (p, a) =>
        s"${if (a) "Allow" else "Disallow"}: $p"
      }).mkString("\n"))
    }.toDF("host", "body")
    val pages = cases.flatMap { case (seed, (_, paths)) =>
      paths.distinct.map(p => (s"h$seed.example", p))
    }.toDF("host", "path")
    val got = Policy.applyRobots(pages,
        Policy.parseRobots(robots, "host", "body", "graftbot"))
      .select("host", "path", "robots_allowed")
      .as[(String, String, Boolean)]
      .collect().map { case (h, p, a) => (h, p) -> a }.toMap
    cases.foreach { case (seed, (rules, paths)) =>
      paths.distinct.foreach { p =>
        assert(got((s"h$seed.example", p)) == reference(rules, p),
          s"seed=$seed path=$p rules=$rules: got " +
            s"${got((s"h$seed.example", p))}, " +
            s"reference ${reference(rules, p)}")
      }
    }
  }
}
