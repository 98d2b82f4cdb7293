package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public def of the operator packages (`graft.etl`, `functions`,
  * `ops`, `sinks`, `sources`, `streaming`) has a caller: some other file
  * under `src/main/scala` or `perfbench/src` names it in code. A def only
  * its own spec calls is checked by that spec alone — no query runs it, so
  * the DuckDB oracle never sees it. The few that stay anyway are listed in
  * [[EntryPointSpec.allowList]] with the reason; the list may only shrink.
  * A def used only inside its own object is `private` (or `private[graft]`
  * when a spec calls it) and is not an entry point.
  *
  * The scan is by name: comments and string literals do not count as a
  * caller, the code inside `${...}` of an interpolated string does, and a
  * same-name call of another def hides a def.
  */
class EntryPointSpec extends AnyFunSuite {
  import EntryPointSpec._

  test("every public def in the operator packages has a caller, or a listed reason") {
    val found = uncalledPublicDefs(Seq(Paths.get("src/main/scala"), Paths.get("perfbench/src")))
    val unreasoned = (found -- allowList.keySet).toSeq.sorted
    val stale = (allowList.keySet -- found).toSeq.sorted
    assert(unreasoned.isEmpty,
      s"public defs with no caller outside their file: ${unreasoned.mkString(", ")} " +
        "(delete, fold into the path they duplicate, or narrow their visibility)")
    assert(stale.isEmpty,
      s"allow-listed defs that now have a caller or are gone: ${stale.mkString(", ")}")
  }

  test("the scan reads members, not locals, comments or string contents") {
    val src =
      """object A {
        |  def pub(x: Int): Int = { def local = 1; local }
        |  private def hidden = 2
        |  private[graft] def seam = 3
        |  override def toString = "A { def quoted = 4"
        |  // def commented = 5
        |  val s = s"${B.used} $name {"
        |  final case class C(n: Int = 1) { def member = n }
        |}""".stripMargin
    val c = code(src)
    assert(publicMembers(c).toSet == Set("A.pub" -> "pub", "A.C.member" -> "member"))
    assert(c.contains("B.used") && c.contains("name"))
    assert(!c.contains("commented") && !c.contains("quoted"))
  }
}

object EntryPointSpec {

  private val packages = Set("etl", "functions", "ops", "sinks", "sources", "streaming")

  /** Public defs that stay without a caller, each with its reason. */
  val allowList: Map[String, String] = Map(
    // references the specs compare the kernels and operators against
    "Similarity.toDoubleVec" -> "HOF reference input of the vector-kernel parity specs",
    "Similarity.bruteForceTopK" -> "exact top-k the ANN specs measure recall against",
    "Similarity.ivfTopK" -> "IVF probe path the incremental-index specs check",
    "Quantize.auditInt8Hof" -> "HOF reference of the int8 audit kernel",
    "StockEtl.qualitySummary" -> "one-pass A1-A4 summary the stage Observation is checked against",
    "Bpe.trainMerges" -> "reference trainer the batched BPE trainer is checked against",
    // the spec seam of the driver gates
    "DriverBound.distributedOnly" -> "forces the distributed side of every driver gate in specs",
    // outside-input validation and the reference's failure log
    "JsonlSource.readStrict" -> "fails on malformed outside input instead of dropping it",
    "HttpBarSource.failedSymbols" -> "the reference's failed-symbol log (DAG:202)",
    // sinks and ranged reads
    "WarehouseLoad.appendSnapshot" -> "crash-exact keyed loader (CrashConsistencySpec)",
    "Layout.writeHivePartitioned" -> "the dated-directory writer ROADMAP item 3 calls",
    "Bucketing.writeBucketed" -> "writes the co-bucketed tables whose joins plan with no Exchange",
    "WarcSource.memberManifest" -> "ranged-read API: the member offsets of a gzip WARC",
    "WarcSource.readGzipMembers" -> "ranged-read API: reads the members a manifest lists",
    // streaming twins whose spec checks the stream against the batch operator
    "EventsStreaming.sessionizeStream" -> "stream = batch Sessionize on the events table",
    "EventsStreaming.funnelStream" -> "stream = batch q_funnel_users on the events table",
    "EventsStreaming.hourlyCounts" -> "file stream = batch hourly counts on the events table",
    "EventsStreaming.runAvailableNow" -> "the runner of hourlyCounts",
    "ParagraphStreaming.paragraphDedupStream" -> "stream = sequential incremental paragraph dedup",
    "PolicyStreaming.gateStream" -> "stream = batch Policy.gate",
    "PolicyStreaming.auditLog" -> "the audit rows that explain the stream gate's drops",
    "AnnStreaming.annIngestStream" -> "stream ingest = batch IVF index ingest",
    // spec-only defs that a comment in another file hid from the first scan;
    // each is to be folded or deleted (ROADMAP item 4)
    "Bloom.prune" -> "spec-only; q_bloom composes buildWords and passingKeys itself",
    "Bpe.symbolTable" -> "spec-only",
    "Layout.writeSorted" -> "spec-only",
    "PageRank.runCached" -> "spec-only; q_pagerank runs runFixedPointCached",
    "ShardWriter.verifyShards" -> "spec-only read-back check of written shards",
    "Similarity.annTopK" -> "spec-only; the ANN queries repeat its probe math inline",
    "Similarity.trainIvfCentroidsDistributed" -> "spec-only",
    "SnapshotTable.expire" -> "spec-only snapshot retention")

  /** Qualified names (`Object.def`) of the public member defs in the
    * operator packages under `roots` that no other file under `roots`
    * names in code. */
  def uncalledPublicDefs(roots: Seq[Path]): Set[String] = {
    val files = roots.flatMap(r =>
      Files.walk(r).iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val text = files.map(f => f -> code(new String(Files.readAllBytes(f), UTF_8))).toMap
    def operatorFile(f: Path): Boolean = {
      val dir = f.getParent
      packages(dir.getFileName.toString) && dir.getParent.getFileName.toString == "graft"
    }
    files.filter(operatorFile).flatMap { f =>
      publicMembers(text(f)).collect { case (qualified, name)
          if !text.exists { case (g, t) =>
            g != f && s"(?<![\\w$$])$name(?![\\w$$])".r.findFirstIn(t).isDefined } =>
        qualified
      }
    }.toSet
  }

  /** (`Object.def`, `def`) for each def with no access modifier and no
    * `override` whose enclosing scopes are all object, class or trait
    * bodies — a member, not a local def of a method. `src` is [[code]]. */
  def publicMembers(src: String): Seq[(String, String)] = {
    var scopes = List.empty[Option[String]] // Some(name): a template body
    var headerStart = 0
    val found = ListBuffer.empty[(String, String)]
    """[{};]|\bdef\s+([A-Za-z_]\w*)""".r.findAllMatchIn(src).foreach { m =>
      m.matched match {
        case "{" =>
          val header = collapse(src.substring(headerStart, m.start))
          val opensTemplate = keyword.findAllIn(header).toSeq.lastOption
            .exists(Set("object", "class", "trait"))
          scopes = (if (opensTemplate)
            templateName.findAllMatchIn(header).toSeq.lastOption.map(_.group(1))
          else None) :: scopes
          headerStart = m.end
        case "}" => scopes = scopes.tail; headerStart = m.end
        case ";" => headerStart = m.end
        case _ =>
          val prefix = src.substring(
            (src.lastIndexOf('\n', m.start) + 1).max(headerStart), m.start)
          if (scopes.nonEmpty && scopes.forall(_.isDefined) &&
              publicModifiers.pattern.matcher(prefix).matches)
            found += ((scopes.reverse.flatten :+ m.group(1)).mkString(".") -> m.group(1))
      }
    }
    found.toList
  }

  // the last of these before a '{' decides what the brace opens
  private val keyword = ("""\b(object|class|trait|new|def|val|var|if|else|match|try|""" +
    """catch|finally|for|while|do|yield|return)\b|=>|(?<![=<>!:+\-*/%&|^])=(?![=>])""").r
  private val templateName = """\b(?:object|class|trait)\s+(\w+)""".r
  private val publicModifiers = """\s*((final|implicit|lazy|@\w+)\s+)*""".r

  /** Drops the contents of balanced (...) and [...]: parameter defaults
    * and function types in a header are not what a brace opens. */
  private def collapse(header: String): String = {
    var prev = ""
    var cur = header
    while (cur != prev) {
      prev = cur
      cur = cur.replaceAll("""\([^()\[\]]*\)""", " ").replaceAll("""\[[^()\[\]]*\]""", " ")
    }
    cur
  }

  /** `src` with comments and string literals blanked — except the code of
    * an interpolated string's `${...}` and `$name` — and newlines kept. */
  def code(src: String): String = {
    val out = new StringBuilder
    scanCode(src, 0, nested = false, out)
    out.toString
  }

  private val charLiteral = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r

  /** Copies code from `from`; with `nested`, stops at the '}' that closes
    * an interpolation and returns its index. */
  private def scanCode(s: String, from: Int, nested: Boolean, out: StringBuilder): Int = {
    var i = from
    var depth = 0
    while (i < s.length && !(nested && depth == 0 && s(i) == '}')) {
      val c = s(i)
      if (s.startsWith("//", i)) {
        val end = s.indexOf('\n', i) match { case -1 => s.length; case e => e }
        out ++= " " * (end - i)
        i = end
      } else if (s.startsWith("/*", i)) {
        var open = 0
        var j = i
        do {
          if (s.startsWith("/*", j)) { open += 1; j += 2 }
          else if (s.startsWith("*/", j)) { open -= 1; j += 2 }
          else j += 1
        } while (open > 0 && j < s.length)
        out ++= s.substring(i, j).map(ch => if (ch == '\n') '\n' else ' ')
        i = j
      } else if (c == '"') {
        i = scanString(s, i, i > 0 && (s(i - 1).isLetterOrDigit || s(i - 1) == '_'), out)
      } else if (c == '\'' && charLiteral.findPrefixOf(s.substring(i, (i + 8).min(s.length))).isDefined) {
        val n = charLiteral.findPrefixOf(s.substring(i, (i + 8).min(s.length))).get.length
        out ++= " " * n
        i += n
      } else {
        if (c == '{') depth += 1 else if (c == '}') depth -= 1
        out += c
        i += 1
      }
    }
    i
  }

  /** Copies the string literal at `from`, blanking its text; returns the
    * index after its closing quote. */
  private def scanString(s: String, from: Int, interpolated: Boolean, out: StringBuilder): Int = {
    val quote = if (s.startsWith("\"\"\"", from)) "\"\"\"" else "\""
    val triple = quote.length == 3
    out ++= quote
    var i = from + quote.length
    var end = -1
    while (end < 0) {
      val c = s(i)
      if (triple && s.startsWith(quote, i) && !s.startsWith(quote + "\"", i)) {
        out ++= quote; end = i + 3
      } else if (!triple && c == '"') {
        out += '"'; end = i + 1
      } else if (!triple && c == '\\') {
        out ++= "  "; i += 2
      } else if (interpolated && s.startsWith("$$", i)) {
        out ++= "  "; i += 2
      } else if (interpolated && s.startsWith("${", i)) {
        out ++= " {"
        i = scanCode(s, i + 2, nested = true, out)
        out += '}'
        i += 1
      } else if (interpolated && c == '$' && i + 1 < s.length &&
          (s(i + 1).isLetter || s(i + 1) == '_')) {
        val name = s.substring(i + 1).takeWhile(ch => ch.isLetterOrDigit || ch == '_')
        out ++= " " + name
        i += 1 + name.length
      } else {
        out += (if (c == '\n') '\n' else ' ')
        i += 1
      }
    }
    end
  }
}
