package graft

import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.core.{Doc, InKind, Span}
import graft.golden.GoldenExtractor
import graft.kernel.{Chunker, Extractor, FastDetectors}

/** Property tests (SURVEY.md §5.2 item 3). The central property is
  * adversarial kernel-vs-golden parity on arbitrary (including malformed)
  * documents — this is what proves the kernel's literal-trigger prefilter
  * and fast paths are output-equivalent, beyond the generator corpus. */
object KernelProps extends Properties("kernel") {

  private val interesting: Gen[String] = Gen.oneOf(
    "Mr. James Smith met with Dr. Ada Lovelace yesterday",
    "withheld under (b)(7)(C) and (B)(5) exemptions",
    "$1,234.56 was paid on March 14, 2023",
    "call (202) 555-0100 or foia.officer@justice.gov",
    "DOC-123456 23-cv-4567 FOIA-2023-99 AB-1234-5678",
    "p=2;y=100;x=0|body of the block",
    "p=bad;header|still a block",
    """<a href="/x">link text</a> trailing words""",
    "&amp;lt; &nbsp; &quot;quoted&#39;",
    "Washington, DC and 12 Oak St., Denver, CO 80201",
    "line one\nline two\nline three\n",
    "", "   ", "\n\n\n", "<unclosed tag swallows this",
    "a<b>c</b>d", "Mrs. X", "Ms.", "(b)(", "(b)(9)", "$",
    "Federal Records Agency of Springfield, IL")

  private val anyText: Gen[String] = Gen.frequency(
    4 -> interesting,
    2 -> Gen.asciiPrintableStr,
    1 -> Arbitrary.arbitrary[String], // arbitrary unicode
    1 -> Gen.const(null: String))

  private val anyKind: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(InKind.HtmlBlock, InKind.HtmlBoiler, InKind.HtmlLink,
      InKind.PdfBlock, InKind.Media, InKind.Redaction),
    1 -> Gen.oneOf("bogus", "", "TEXT", null: String))

  private val anySpan: Gen[Span] = for {
    k <- anyKind
    t <- anyText
    m <- Gen.oneOf(null: String, "", "m://d/1", "ref with spaces")
    off <- Arbitrary.arbitrary[Int]
  } yield Span(k, t, m, off)

  private val anyDoc: Gen[Doc] = for {
    n <- Gen.choose(0, 30)
    spans <- Gen.listOfN(n, anySpan)
  } yield Doc("prop-doc", spans.toVector)

  private val validKinds = Set("text", "media", "redaction")
  private def kindOk(k: String) = validKinds(k) || k.startsWith("entity:")

  property("kernel == golden on arbitrary docs (span-sequence equality)") =
    forAll(anyDoc) { d => Extractor.extractDoc(d).spans == GoldenExtractor.extract(d).spans }

  property("output offsets are dense 0..n-1") = forAll(anyDoc) { d =>
    val out = Extractor.extractDoc(d).spans
    out.map(_.offset) == out.indices
  }

  property("extraction is deterministic") = forAll(anyDoc) { d =>
    Extractor.extractDoc(d) == Extractor.extractDoc(d)
  }

  property("output kinds come from the output vocabulary") = forAll(anyDoc) { d =>
    Extractor.extractDoc(d).spans.forall(s => kindOk(s.kind))
  }

  property("media spans all survive, refs normalized, relative order kept") =
    forAll(anyDoc) { d =>
      val expected = d.spans.sortBy(_.offset).collect {
        case s if s.kind == InKind.Media => if (s.media_ref == null) "" else s.media_ref
      }
      Extractor.extractDoc(d).spans.filter(_.kind == "media").map(_.media_ref) == expected
    }

  property("fused cleanHtml == reference formulation on arbitrary strings") =
    forAll(Gen.oneOf(interesting, Gen.asciiPrintableStr, Arbitrary.arbitrary[String])) { s =>
      Extractor.cleanHtml(s) == Extractor.cleanHtmlSlow(s)
    }

  // ------------------------------------------------------- fast detectors

  /** Adversarial near-miss fragments for the hand-rolled scanners: month
    * names, truncated/overlong days and years, ISO-ish runs, city names,
    * uppercase runs around dashes, unicode word chars (Java \b is
    * unicode-aware), overlap-consumption traps. */
  private val detectorFragment: Gen[String] = Gen.oneOf(
    Gen.oneOf("January", "Februar", "May", "Mayy", "December", "Septembe",
      "March 14, 2023", "May 5, 12345", "May 55, 2023", "May 555, 2023",
      "January 20, 2023-01-02", "2023-01-02", "12023-01-02", "2023-011-02",
      "2023-01-022024-02-03", "x2023-01-02", "2023-01-02x", "é2023-01-02",
      "May 1,2023", "May , 2023"),
    Gen.oneOf("Washington, DC", "Austin, TX", "Austin, TXX", "Austin,TX",
      "Arlington, va", "Portlandia, OR", "Boston, MAé", "xBoston, MA"),
    Gen.oneOf("AB-1234-5678", "ABCDE-1234-5678", "A-1234-5678", "AB-123-5678",
      "AB-1234-567", "AB-12345-67890", "xAB-1234-5678", "AB-1234-5678x",
      "éAB-1234-5678", "AB-1234-5678-9012", "ABCD-99999-00001"),
    Gen.oneOf("$1,234.56", "$123", "$1234", "$12,34", "$123,4567", "$1,234,567.89",
      "$1.2", "$.50", "$123.456", "$1$2", "$123,45"),
    Gen.oneOf("DOC-123456", "DOC-12345", "DOC-1234567x", "xDOC-123456",
      "DOC-123456789", "doc-123456", "DOCX-123456"),
    Gen.oneOf("(202) 555-0100", "(20) 555-0100", "(2022) 555-0100",
      "(202) 555-01000", "(202)555-0100", "(202) 5550100", "x(202) 555-0100"),
    Gen.oneOf("23-cv-4567", "23-cv-456", "123-cv-4567", "x23-cv-4567",
      "23-cv-45678y", "23-CV-4567", "23-cv-4567-89"),
    Gen.oneOf("FOIA-2023-99", "FOI-2023-99", "FOIA-202-99", "FOIAA-2023-99",
      "FOIA-20233-99", "FOIA-2023-", "FOIA-2023-99x", "xFOIA-2023-99",
      "FOIB-2023-99"),
    Gen.oneOf("12 Oak St., Denver, CO 80201", "123456 Oak St., Denver, CO 80201",
      "12 Oak Stve., Denver, CO 80201", "12 Oak Ave., Denver, CO 80201-1234",
      "12 Oak Ave., Denver, CO 80201-12345", "12 Oak Rd., Denver, COO 80201",
      "12 Oak Blvd., X, CO 80201", "12 Oak St., Denver, CO 802011",
      "12 Oak St., Denver, CO 80201x", "12 Oak St., Denver, CO 80201-123x",
      "x12 Oak St., Denver, CO 80201", "12  Oak St., Denver, CO 80201"),
    Gen.oneOf("Mr. James Smith", "Mrs. Ada Lovelace", "Dr. X Y", "Mr. Ab C",
      "Ms. lower case", "Mr.James Smith", "Mr. James", "xMr. James Smith",
      "Mr. James Smithé", "Mrs. Mr. Ab Cd", "Dr. Ada Lovelace Bureau"),
    Gen.oneOf("Federal Records Agency", "Records Agency Office",
      "One Two Three Four Bureau", "Agency Agency", "AgencyX", "The Administration",
      "Ab  Cd Office", "Xy Administration", "A Bureau", "Ab Bureauy", "Ab Bureau"),
    Gen.oneOf("foia.officer@justice.gov", "a@x.gov", "9ab@x.gov", "_ab@x.gov",
      ".ab@x.gov", "ab@cd@x.gov", "a@x.gov.com", "a@x.gov-y", "A@x.gov",
      "a@X.gov", "a@x.edu", "a@.gov", "a@x.govv", "ab.cd_9@mail-srv.example.org"),
    Gen.oneOf(" ", ", ", "-", "1", "A", "a", "é", "х", "①", "_", ""),
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.numChar, Gen.alphaUpperChar, Gen.alphaLowerChar)).map(_.mkString)))

  private val detectorText: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, detectorFragment).map(_.mkString))

  private def regexMatches(re: String, t: String): Seq[(Int, Int)] = {
    val m = java.util.regex.Pattern.compile(re).matcher(t)
    val out = Seq.newBuilder[(Int, Int)]
    while (m.find()) out += ((m.start, m.end))
    out.result()
  }

  private def specPattern(kind: String): String =
    graft.core.Spec.EntityPatterns.find(_._1 == kind).get._2

  property("fast PERSON scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.personMatches(t) == regexMatches(specPattern("PERSON"), t)
    }

  property("fast ORGANIZATION scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.organizationMatches(t) == regexMatches(specPattern("ORGANIZATION"), t)
    }

  property("fast EMAIL scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.emailMatches(t) == regexMatches(specPattern("EMAIL"), t)
    }

  property("fast DATE scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.dateMatches(t) == regexMatches(specPattern("DATE"), t)
    }

  property("fast LOCATION scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.locationMatches(t) == regexMatches(specPattern("LOCATION"), t)
    }

  property("fast CONTRACT scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.contractMatches(t) == regexMatches(specPattern("CONTRACT_NUMBER"), t)
    }

  property("fast MONEY/DOC_ID/PHONE/CASE/FOIA scanners == compiled patterns") =
    forAll(detectorText) { t =>
      FastDetectors.moneyMatches(t) == regexMatches(specPattern("MONEY"), t) &&
      FastDetectors.documentIdMatches(t) == regexMatches(specPattern("DOCUMENT_ID"), t) &&
      FastDetectors.phoneMatches(t) == regexMatches(specPattern("PHONE"), t) &&
      FastDetectors.caseNumberMatches(t) == regexMatches(specPattern("CASE_NUMBER"), t) &&
      FastDetectors.foiaMatches(t) == regexMatches(specPattern("FOIA_TRACKING"), t)
    }

  property("fast ADDRESS scanner == compiled pattern on adversarial inputs") =
    forAll(detectorText) { t =>
      FastDetectors.addressMatches(t) == regexMatches(specPattern("ADDRESS"), t)
    }

  property("fused single-dispatch scan == every standalone scanner (full mask)") =
    forAll(detectorText) { t =>
      val all = FastDetectors.allMatches(t, 0xFFF)
      val standalone = IndexedSeq(
        FastDetectors.personMatches(t), FastDetectors.organizationMatches(t),
        FastDetectors.locationMatches(t), FastDetectors.dateMatches(t),
        FastDetectors.moneyMatches(t), FastDetectors.documentIdMatches(t),
        FastDetectors.phoneMatches(t), FastDetectors.emailMatches(t),
        FastDetectors.addressMatches(t), FastDetectors.contractMatches(t),
        FastDetectors.caseNumberMatches(t), FastDetectors.foiaMatches(t))
      (0 until 12).forall(d => all(d) == standalone(d))
    }

  property("fused cleanHtmlScored == (cleanHtml, wordCount, line count, anchor probe)") =
    forAll(anyText.map(t => if (t == null) "" else t)) { t =>
      val cs = Extractor.cleanHtmlScored(t)
      val cleaned = Extractor.cleanHtml(t)
      val words = if (cleaned.isEmpty) 0 else cleaned.count(_ == ' ') + 1
      cs.cleaned == cleaned &&
        cs.words == words &&
        cs.lines == t.count(_ == '\n') + 1 &&
        cs.hasAnchor == (t.indexOf("<a") >= 0)
    }

  property("fused trigger mask == 13 per-detector contains-gates on adversarial inputs") =
    forAll(Gen.oneOf(detectorText, anyText.map(t => if (t == null) "" else t))) { t =>
      val mask = Extractor.triggerMask(t)
      (0 until 12).forall(i => ((mask >> i & 1) != 0) == Extractor.entityTriggers(i)(t)) &&
        ((mask >> 12 & 1) != 0) == Extractor.exemptionTrigger(t)
    }

  property("fused exemption scan == 11 per-pattern scans on adversarial inputs") =
    forAll(Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      "(b)(1)", "(b)(7)(C)", "(B)(7)(c)", "(b)(7)", "(b)(8)", "(b)(7)(B)",
      "(b)((b)(1)", "(b)(7)((b)(5)", " ", "x", "(b)(", "é")).map(_.mkString))) { t =>
      val fused = Extractor.exemptionScan(t).map { case (s, e, d, code) => (s, e, d, code) }
      val multi = {
        val hits = Seq.newBuilder[(Int, Int, Int, String)]
        Extractor.exemptionDetectors.zipWithIndex.foreach { case ((code, p), d) =>
          val m = p.matcher(t)
          while (m.find()) hits += ((m.start, m.end, d, code))
        }
        hits.result().sortBy { case (s, e, d, _) => (s, e, d) }
      }
      fused.sortBy { case (s, e, d, _) => (s, e, d) } == multi
    }

  // ------------------------------------- char buffers and word boundaries

  /** Code points where Java's `\b` and a per-char word test part ways: a
    * non-spacing mark (after a letter, a digit, '_', another mark, or a
    * supplementary letter), supplementary letters/digits and a
    * supplementary mark, lone surrogates. */
  private val unicodeFragment: Gen[String] = Gen.oneOf(
    "\u0301", "\u0300\u0301", "\ud835\udfd8" /* 𝟘 */, "\ud835\udc00" /* 𝐀 */,
    "\ud834\udd67" /* combining tremolo */, "\ud835", "\udfd8", "_\u0301", "é", "①", "x\u0301")

  private val unicodeText: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.frequency(3 -> detectorFragment, 2 -> unicodeFragment)).map(_.mkString))

  property("boundary helper == regex \\b at every index on NSM and surrogate inputs") =
    forAll(unicodeText) { t =>
      val m = java.util.regex.Pattern.compile("\\b").matcher(t)
        .useTransparentBounds(true).useAnchoringBounds(false)
      (0 to t.length).forall(i => FastDetectors.isBoundary(t, i) == m.region(i, t.length).lookingAt())
    }

  property("fast scanners == compiled patterns on NSM and surrogate-pair inputs") =
    forAll(unicodeText) { t =>
      val all = FastDetectors.allMatches(t, 0xFFF)
      graft.core.Spec.EntityPatterns.zipWithIndex.forall { case ((_, re), d) =>
        all(d) == regexMatches(re, t)
      }
    }

  /** Text with arbitrary chars after it, as the kernel's reused buffers
    * hold: the scanners must read `t(0 until n)` only. */
  private val bufferedText: Gen[(String, String)] = for {
    t <- Gen.oneOf(detectorText, unicodeText)
    junk <- Gen.oneOf(detectorText, Gen.const("DOC-1234567 (b)(5) $1 Mr. Ab Cd"))
  } yield (t, junk)

  property("buffer triggerMask/allMatches/exemption scan == their String forms") =
    forAll(bufferedText) { case (t, junk) =>
      val buf = (t + junk).toCharArray
      val n = t.length
      val pairs = FastDetectors.newPairs()
      FastDetectors.allMatches(buf, n, 0xFFF, pairs)
      Extractor.triggerMask(buf, n) == Extractor.triggerMask(t) &&
        pairs.map(_.toSeq).toSeq == FastDetectors.allMatches(t, 0xFFF).toSeq &&
        Extractor.exemptionScan(buf, n) == Extractor.exemptionScan(t)
    }

  private val anchorRe = java.util.regex.Pattern.compile("(?s)<a\\b[^>]*>(.*?)</a>")

  private val anchorText: Gen[String] = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(
    Gen.oneOf("<a", "<ab", "<a>", "<a href=\"/x\">", "</a>", "</a", "<a\n>", "<a\u0301>",
      "<a\ud835\udfd8>", "<a_>", "<a->", "<b>", ">", "<", "\n", " ", "  ", "x", "word",
      "&amp;", "&nbsp;", "&lt;a&gt;", "&", "\u0301", "\ud835\udfd8"),
    unicodeFragment)).map(_.mkString))

  property("anchor scan == anchorRe inners joined and cleaned, on adversarial html") =
    forAll(anchorText) { raw =>
      val m = anchorRe.matcher(raw)
      val inners = Iterator.continually(m).takeWhile(_.find()).map(_.group(1)).toSeq
      Extractor.linkChars(raw) == Extractor.cleanHtmlSlow(inners.mkString(" ")).length
    }

  property("fused cleanHtml == reference formulation on entity-dense html") =
    forAll(anchorText) { s => Extractor.cleanHtml(s) == Extractor.cleanHtmlSlow(s) }

  property("skipped html_link spans: full scoring never lets one survive") =
    forAll(Gen.oneOf(anyText.map(t => if (t == null) "" else t), anchorText)) { t =>
      !Extractor.survives(Extractor.scoreHtml(InKind.HtmlLink, t)) &&
        Extractor.extractDoc(Doc("l", Vector(Span(InKind.HtmlLink, t, "", 0)))).spans.isEmpty
    }

  /** Mostly well-formed headers whose fields are empty, padded, at and
    * past `Int.MaxValue`, or not digits; sometimes a separator is off. */
  private val pdfHeader: Gen[String] = {
    val field = Gen.oneOf("", "0", "23", "007", "2147483647", "2147483648", "99999999999", "1a")
    def sep(ok: String) = Gen.frequency(4 -> Gen.const(ok), 1 -> Gen.oneOf("", ";", "|", ";;"))
    for {
      pre <- Gen.frequency(4 -> Gen.const(""), 1 -> Gen.oneOf(" ", "x"))
      p <- field; y <- field; x <- field
      s1 <- sep(";"); s2 <- sep(";"); s3 <- sep("|")
    } yield s"${pre}p=$p${s1}y=$y${s2}x=$x$s3"
  }

  property("hand-parsed pdf header == Spec.PdfHeader on adversarial headers (kernel == golden)") =
    forAll(Gen.listOfN(3, pdfHeader)) { hs =>
      val d = Doc("p", hs.zipWithIndex.map { case (h, i) => Span(InKind.PdfBlock, h + "body", "", i) }.toVector)
      def run(f: Doc => Doc) = scala.util.Try(f(d).spans).toEither.left.map(e => (e.getClass, e.getMessage))
      run(Extractor.extractDoc) == run(GoldenExtractor.extract)
    }

  // ---------------------------------------------------------------- chunker

  private val para: Gen[String] = Gen.frequency(
    5 -> Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)),
    1 -> Gen.const(""), 1 -> Gen.const("  "))
  private val chunkInput: Gen[(String, Int)] = for {
    ps <- Gen.listOf(para)
    max <- Gen.choose(1, 60)
  } yield (ps.mkString("\n\n"), max)

  property("chunker: joining all chunks reconstructs the text exactly") =
    forAll(chunkInput) { case (text, max) =>
      // reference semantics (extract.py:215-237): nothing trimmed, nothing
      // dropped — chunking is a pure partition of the paragraph sequence
      Chunker.chunk(text, max).mkString("\n\n") == text
    }

  property("chunker: every chunk fits the cap or is a single oversize paragraph") =
    forAll(chunkInput) { case (text, max) =>
      Chunker.chunk(text, max).forall(c => c.length <= max || !c.contains("\n\n"))
    }
}
