package graft.kernel

import java.util.regex.Pattern

import scala.collection.immutable.ArraySeq

import graft.core.{Doc, InKind, OutKind, Span, Spec}

/** Parallel extraction kernel — implementation #1 of EXTRACTION_SPEC.md.
  *
  * A pure function `Doc => Doc` with no Spark imports: the Spark job applies
  * it via typed `mapPartitions` over `Encoders` (SURVEY.md §2.9); unit tests
  * and property tests call it directly. Each span's text is copied once into
  * a per-thread `char[]`, cleaned into a second one, and scored, scanned and
  * matched there; `String`s are built only for surviving text and matched
  * substrings. (The golden oracle is deliberately string- and regex-based —
  * independent implementations, shared constants only.)
  *
  * Reference semantics: exemption scan `openfoia/pipeline/ocr.py:262-286`,
  * entity extraction shape `openfoia/pipeline/extract.py:69-114`, reading
  * order `openfoia/pipeline/ocr.py:75-96,206-227`.
  */
object Extractor extends Serializable {

  /** The compiled exemption patterns: the property suite's reference for
    * the fused exemption scan (the kernel itself runs no regex). */
  private[graft] lazy val exemptionDetectors: IndexedSeq[(String, Pattern)] =
    Spec.ExemptionPatterns.toIndexedSeq.map { case (re, _) =>
      (Spec.canonicalExemptionCode(re), Pattern.compile(re, Pattern.CASE_INSENSITIVE))
    }

  /** Output kind per entity detector, and canonical code per exemption
    * detector, in `Spec` order. */
  private val EntityKinds: Array[String] = Spec.EntityPatterns.map(p => OutKind.entity(p._1)).toArray
  private val ExemptionCodes: Array[String] =
    Spec.ExemptionPatterns.map(p => Spec.canonicalExemptionCode(p._1)).toArray

  /** `Spec.HtmlEntities` and the one char each decodes to. */
  private val Entities: Array[String] = Spec.HtmlEntities.map(_._1).toArray
  private val Decoded: Array[Char] = Spec.HtmlEntities.map { case (_, ch) =>
    require(ch.length == 1, s"entity decodes to one char: $ch"); ch.charAt(0)
  }.toArray

  /** `html_link` scores link density 1.0 (§2.1), so it survives only if
    * the cap admits 1.0; under the spec's cap no link span survives and the
    * kernel skips them unscored. */
  private val LinkSpansDie: Boolean = Spec.MaxLinkDensity < 1.0

  /** All 11 exemption patterns fused into ONE scan. Equivalence argument:
    * every exemption match starts with `(b)(` (either case of the `b`), and
    * that literal cannot occur INSIDE any match (`(b)(d)` / `(b)(7)(X)`
    * contain no inner `(b)(`), so matches never overlap and
    * continue-from-end scanning finds exactly the union of the 11
    * per-pattern scans; at any start at most one pattern can match (the
    * digit/suffix discriminates), so matches come out sorted by (start,
    * end, detector). `CASE_INSENSITIVE` without `UNICODE_CASE` folds ASCII
    * only. Adds `key(start, end, base + detector)` per match. */
  private def exemptionScan(t: Array[Char], n: Int, base: Int, out: Keys): Unit = {
    var i = 0
    while (i + 5 < n) {
      var d = -1
      if (t(i) == '(' && (t(i + 1) == 'b' || t(i + 1) == 'B') && t(i + 2) == ')' && t(i + 3) == '(' &&
        t(i + 5) == ')') {
        val c = t(i + 4)
        if (c >= '1' && c <= '6') d = c - '1' // (b)(1)..(b)(6) → 0..5
        else if (c == '7' && i + 8 < n && t(i + 6) == '(' && t(i + 8) == ')')
          d = "acdef".indexOf(t(i + 7) | 0x20) match { case -1 => -1; case j => 6 + j } // (b)(7)(A/C/D/E/F) → 6..10
      }
      if (d < 0) i += 1
      else {
        val len = if (d < 6) 6 else 9
        out.add(key(i, i + len, base + d))
        i += len
      }
    }
  }

  /** (start, end, detectorIndexWithinExemptions, canonicalCode) per match
    * in `t(0 until n)`. */
  private[graft] def exemptionScan(t: Array[Char], n: Int): Seq[(Int, Int, Int, String)] = {
    val keys = new Keys
    exemptionScan(t, n, 0, keys)
    (0 until keys.size).map { k =>
      val h = keys(k); val d = detector(h)
      (start(h), end(h), d, ExemptionCodes(d))
    }
  }

  private[graft] def exemptionScan(t: String): Seq[(Int, Int, Int, String)] =
    exemptionScan(t.toCharArray, t.length)

  /** Conservative literal prefilters, one per entity detector (same order):
    * a regex is run only if its trigger can possibly match — every true
    * match necessarily contains the trigger literal(s). Purely an engine
    * optimization (Aho-Corasick-style literal gating); the reference form
    * of [[triggerMask]], kept for the property suite. */
  private[graft] lazy val entityTriggers: IndexedSeq[String => Boolean] = {
    def any(lits: String*): String => Boolean = s => lits.exists(l => s.contains(l))
    IndexedSeq(
      any("Mr.", "Ms.", "Mrs.", "Dr."), // PERSON
      any("Agency", "Bureau", "Department", "Commission", "Office", "Administration"), // ORGANIZATION
      _.contains(", "), // LOCATION
      s => s.contains('-') || s.contains(", "), // DATE: "Month d, yyyy" has ", "; ISO has '-'
      _.contains('$'), // MONEY
      _.contains("DOC-"), // DOCUMENT_ID
      _.contains('('), // PHONE
      _.contains('@'), // EMAIL
      _.contains("., "), // ADDRESS ("St., " etc.)
      _.contains('-'), // CONTRACT_NUMBER
      _.contains("-cv-"), // CASE_NUMBER
      _.contains("FOI")) // FOIA_TRACKING
  }

  /** Exemption patterns are case-insensitive `\(b\)\(...\)`. */
  private[graft] def exemptionTrigger(s: String): Boolean =
    s.contains("(b)(") || s.contains("(B)(")

  /** All 13 trigger gates (12 entity + exemption) in ONE pass over
    * `t(0 until n)`. Bit i == `entityTriggers(i)`; bit 12 ==
    * `exemptionTrigger` — equivalence property-fuzzed in KernelProps. The
    * per-detector `String.contains` formulation re-scans the span up to
    * 18×; this is the Aho-Corasick-style fusion of those literal searches
    * (candidate first chars dispatch to short forward compares). Early-exits
    * once every gate has fired. */
  /** ASCII chars [[Worker.clean]] copies with no state change: not
    * whitespace, `<` or `&`. */
  private val Plain: Array[Boolean] =
    Array.tabulate(128)(c => !Character.isWhitespace(c) && c != '<' && c != '&')

  private val TriggerStart: Array[Boolean] = Array.tabulate(128)(c => "$@(-,.MDFABCO".indexOf(c) >= 0)

  private[graft] def triggerMask(t: Array[Char], n: Int): Int = {
    import FastDetectors.at
    val AllBits = 0x1FFF
    var mask = 0
    var i = 0
    while (i < n && mask != AllBits) {
      val c = t(i)
      // one table probe skips every char that starts no trigger literal
      if (c < 128 && TriggerStart(c)) c match {
        case '$' => mask |= 1 << 4 // MONEY
        case '@' => mask |= 1 << 7 // EMAIL
        case '(' =>
          mask |= 1 << 6 // PHONE
          // exemption literal "(b)(" / "(B)(":
          if (i + 3 < n && (t(i + 1) == 'b' || t(i + 1) == 'B') && t(i + 2) == ')' && t(i + 3) == '(')
            mask |= 1 << 12
        case '-' =>
          mask |= (1 << 3) | (1 << 9) // DATE (ISO), CONTRACT_NUMBER
          if (at(t, n, i, "-cv-")) mask |= 1 << 10 // CASE_NUMBER
        case ',' =>
          if (i + 1 < n && t(i + 1) == ' ') mask |= (1 << 2) | (1 << 3) // LOCATION, DATE
        case '.' =>
          if (at(t, n, i, "., ")) mask |= 1 << 8 // ADDRESS
        case 'M' =>
          if (at(t, n, i, "Mr.") || at(t, n, i, "Ms.") || at(t, n, i, "Mrs.")) mask |= 1 << 0 // PERSON
        case 'D' =>
          if (at(t, n, i, "Dr.")) mask |= 1 << 0
          else if (at(t, n, i, "DOC-")) mask |= 1 << 5 // DOCUMENT_ID
          else if (at(t, n, i, "Department")) mask |= 1 << 1 // ORGANIZATION
        case 'F' =>
          if (at(t, n, i, "FOI")) mask |= 1 << 11 // FOIA_TRACKING
        case 'A' =>
          if (at(t, n, i, "Agency") || at(t, n, i, "Administration")) mask |= 1 << 1
        case 'B' =>
          if (at(t, n, i, "Bureau")) mask |= 1 << 1
        case 'C' =>
          if (at(t, n, i, "Commission")) mask |= 1 << 1
        case 'O' =>
          if (at(t, n, i, "Office")) mask |= 1 << 1
        case _ =>
      }
      i += 1
    }
    mask
  }

  private[graft] def triggerMask(s: String): Int = triggerMask(s.toCharArray, s.length)

  // ------------------------------------------------------------ hit keys

  /** A detection packed as one sortable long: (start, end, detector)
    * ascending is the key's numeric order. Texts are at most
    * `Spec.MaxSpanChars` chars, so start and end fit 18 bits. */
  @inline private def key(s: Int, e: Int, d: Int): Long = (s.toLong << 36) | (e.toLong << 18) | d
  @inline private def start(k: Long): Int = (k >>> 36).toInt
  @inline private def end(k: Long): Int = ((k >>> 18) & 0x3FFFF).toInt
  @inline private def detector(k: Long): Int = (k & 0x3FFFF).toInt

  private final class Keys {
    private var a = new Array[Long](32)
    var size = 0
    def apply(k: Int): Long = a(k)
    def clear(): Unit = size = 0
    def add(k: Long): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, 2 * a.length)
      a(size) = k; size += 1
    }
    def sort(): Unit = if (size > 1) java.util.Arrays.sort(a, 0, size)
  }

  // ------------------------------------------------------------- primitives

  /** EXTRACTION_SPEC §1: drop every `<...>` run; an unclosed `<` drops the
    * rest of the string. */
  private[graft] def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var inTag = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inTag) { if (c == '>') inTag = false }
      else if (c == '<') inTag = true
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private[graft] def decodeEntities(s: String): String =
    if (s.indexOf('&') < 0) s // fast path: nothing decodable
    else Spec.HtmlEntities.foldLeft(s) { case (acc, (ent, ch)) => acc.replace(ent, ch) }

  private[graft] def normWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) { if (sb.length() > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Reference formulation of [[cleanHtml]], kept for the property suite. */
  private[graft] def cleanHtmlSlow(s: String): String = normWs(decodeEntities(stripTags(s)))

  /** `cleanHtmlSlow` in one pass (see [[Worker.clean]]). */
  private[graft] def cleanHtml(s: String): String = {
    val w = new Worker
    val n = w.load(s)
    new String(w.text, 0, w.clean(w.raw, n, w.text))
  }

  private[graft] final case class CleanStats(
      cleaned: String, words: Int, lines: Int, hasAnchor: Boolean)

  private[graft] def cleanHtmlScored(s: String): CleanStats = {
    val w = new Worker
    val n = w.load(s)
    val len = w.clean(w.raw, n, w.text)
    CleanStats(new String(w.text, 0, len), w.words, w.lines, w.hasAnchor)
  }

  /** `cleanHtml` length of the `(?s)<a\b[^>]*>(.*?)</a>` inners of `raw`
    * joined by single spaces (see [[Worker.linkChars]]). */
  private[graft] def linkChars(raw: String): Int = {
    val w = new Worker
    w.linkChars(w.load(raw))
  }

  // --------------------------------------------------------------- scoring

  private[graft] final case class HtmlScore(
      cleaned: String, words: Int, linkDensity: Double, wordsPerLine: Double)

  /** The full §2.1 score of one html span (the kernel computes only as much
    * of it as the survival decision needs). */
  private[graft] def scoreHtml(kind: String, raw: String): HtmlScore = {
    val w = new Worker
    val n = w.load(raw)
    val len = w.clean(w.raw, n, w.text)
    val (cleaned, words, lines) = (new String(w.text, 0, len), w.words, w.lines)
    val linkDensity =
      if (kind == InKind.HtmlLink) 1.0
      else if (len == 0 || !w.hasAnchor) 0.0
      else w.linkChars(n).toDouble / len
    HtmlScore(cleaned, words, linkDensity, words.toDouble / lines)
  }

  private[graft] def survives(s: HtmlScore): Boolean =
    s.words >= Spec.MinWords &&
      s.linkDensity <= Spec.MaxLinkDensity &&
      s.wordsPerLine >= Spec.MinWordsPerLine

  // ------------------------------------------------------------ pdf layout

  /** A pdf_block's reading-order key and body range (§2.2). */
  private final class PdfBlock(val page: Int, val y: Int, val x: Int, val offset: Int,
      val text: String, val bodyStart: Int, val bodyEnd: Int)

  private val ByOffset: java.util.Comparator[Span] = (a: Span, b: Span) => Integer.compare(a.offset, b.offset)

  private val ReadingOrder: java.util.Comparator[PdfBlock] = (a: PdfBlock, b: PdfBlock) => {
    var c = Integer.compare(a.page, b.page)
    if (c == 0) c = Integer.compare(a.y, b.y)
    if (c == 0) c = Integer.compare(a.x, b.x)
    if (c == 0) c = Integer.compare(a.offset, b.offset)
    c
  }

  /** `Spec.PdfHeader` (`^p=(\d+);y=(\d+);x=(\d+)\|`) over `t(0 until n)`,
    * by hand: a matcher per pdf span cost 1.4–3 µs per doc, this 0.5.
    * Each `\d+` run is taken whole (backtracking faces a digit where a
    * literal is required); a run too long for an `Int` throws what the
    * regex form's `String.toInt` threw. */
  private def pdfBlock(t: String, n: Int, offset: Int): PdfBlock = {
    // the index of `sep` ending `name=<digits>` at p, or -1
    def field(p: Int, name: Char, sep: Char): Int =
      if (p < 0 || p + 2 > n || t.charAt(p) != name || t.charAt(p + 1) != '=') -1
      else {
        var b = p + 2
        while (b < n && t.charAt(b) >= '0' && t.charAt(b) <= '9') b += 1
        if (b > p + 2 && b < n && t.charAt(b) == sep) b else -1
      }
    def int(a: Int, b: Int): Int =
      if (b - a > 9) t.substring(a, b).toInt
      else { var v = 0; var k = a; while (k < b) { v = v * 10 + (t.charAt(k) - '0'); k += 1 }; v }
    val py = field(0, 'p', ';')
    val yx = if (py < 0) -1 else field(py + 1, 'y', ';')
    val xb = if (yx < 0) -1 else field(yx + 1, 'x', '|')
    if (xb < 0) new PdfBlock(Int.MaxValue, Int.MaxValue, Int.MaxValue, offset, t, 0, n)
    else new PdfBlock(int(2, py), int(py + 3, yx), int(yx + 3, xb), offset, t, xb + 1, n)
  }

  // ------------------------------------------------------------ the kernel

  /** One thread's buffers and the per-span passes over them. */
  private[kernel] final class Worker {
    /** The current span's (capped) text. */
    var raw = new Array[Char](1024)
    /** The current span's cleaned text. */
    var text = new Array[Char](1024)
    /** Joined anchor inners. */
    private var inners = new Array[Char](256)
    private val pairs = FastDetectors.newPairs()
    private val keys = new Keys
    private var out = new Array[Span](64)
    private var outN = 0
    private var pdfs = new Array[PdfBlock](16)

    // stats of the last clean()
    var words = 0
    var lines = 1
    var hasAnchor = false

    /** Copies `s` (null as "", capped at `Spec.MaxSpanChars`) into `raw`;
      * returns its length. */
    def load(s: String): Int = load(s, 0, if (s == null) 0 else math.min(s.length, Spec.MaxSpanChars))

    private def load(s: String, from: Int, to: Int): Int = {
      val n = to - from
      if (raw.length < n) { raw = new Array[Char](n); text = new Array[Char](n) }
      if (n > 0) s.getChars(from, to, raw, 0)
      n
    }

    /** `cleanHtml(src(0 until n))` into `dst` (which may be `src`: the
      * write index never passes the read index); returns its length. Sets
      * `words`, the raw `\n` count + 1 as `lines` (tags included) and
      * `hasAnchor` (`"<a"` occurs in the raw text). One pass strips tags
      * and collapses whitespace; entities contain no whitespace, so
      * collapsing first cannot create or destroy one, and text holding an
      * `&` is then [[decode]]d in place. */
    def clean(src: Array[Char], n: Int, dst: Array[Char]): Int = {
      var k = 0
      var i = 0
      var inTag = false
      var pendingSpace = false
      var hasAmp = false
      var anchor = false
      var nl = 1
      var spaces = 0
      while (i < n) {
        var c = src(i)
        if (!inTag && c < 128 && Plain(c)) {
          // a run of plain chars: one separator before it, copied as is
          if (pendingSpace) { dst(k) = ' '; k += 1; pendingSpace = false; spaces += 1 }
          dst(k) = c; k += 1; i += 1
          while (i < n && { c = src(i); c < 128 && Plain(c) }) { dst(k) = c; k += 1; i += 1 }
        } else {
          if (c == ' ' && !inTag) { if (k > 0) pendingSpace = true }
          else if (c == '<') {
            if (i + 1 < n && src(i + 1) == 'a') anchor = true
            inTag = true
          } else if (inTag) {
            if (c == '>') inTag = false else if (c == '\n') nl += 1
          } else if (Character.isWhitespace(c)) {
            if (c == '\n') nl += 1
            if (k > 0) pendingSpace = true
          } else {
            if (pendingSpace) { dst(k) = ' '; k += 1; pendingSpace = false; spaces += 1 }
            if (c == '&') hasAmp = true
            dst(k) = c; k += 1
          }
          i += 1
        }
      }
      lines = nl
      hasAnchor = anchor
      if (hasAmp) {
        k = decode(dst, k)
        spaces = 0
        var j = 0
        while (j < k) { if (dst(j) == ' ') spaces += 1; j += 1 }
      }
      words = if (k == 0) 0 else spaces + 1
      k
    }

    /** `normWs(decodeEntities(...))` of cleaned text `b(0 until n)`, in
      * place; returns the new length. One left-to-right pass equals the spec's one pass
      * per entity: entity occurrences cannot overlap (`&` only starts one,
      * `;` only ends one), and no decoded char occurs in any entity, so no
      * pass creates or breaks another's occurrence. Cleaned text holds no
      * whitespace but its ' ' separators, and only `&nbsp;` decodes to
      * whitespace, so ' ' is the only char to re-collapse. */
    private def decode(b: Array[Char], n: Int): Int = {
      var k = 0
      var i = 0
      var pendingSpace = false
      while (i < n) {
        var c = b(i)
        var step = 1
        if (c == '&') {
          var e = 0
          while (e < Entities.length && !FastDetectors.at(b, n, i, Entities(e))) e += 1
          if (e < Entities.length) { c = Decoded(e); step = Entities(e).length }
        }
        if (c == ' ') { if (k > 0) pendingSpace = true }
        else {
          if (pendingSpace) { b(k) = ' '; k += 1; pendingSpace = false }
          b(k) = c; k += 1
        }
        i += step
      }
      k
    }

    /** `cleanPlain(s(from until to))` — `normWs` — into `text`; returns
      * its length. */
    private def plain(s: String, from: Int, to: Int): Int = {
      val n = load(s, from, to)
      var k = 0
      var i = 0
      var pendingSpace = false
      while (i < n) {
        val c = raw(i)
        if ((c > ' ' && c < 0x7f) || !Character.isWhitespace(c)) {
          if (pendingSpace) { text(k) = ' '; k += 1; pendingSpace = false }
          text(k) = c; k += 1
        } else if (k > 0) pendingSpace = true
        i += 1
      }
      k
    }

    /** The `indexOf` of `lit` in `raw(from until n)`, or -1. */
    private def indexOf(n: Int, lit: String, from: Int): Int = {
      val c0 = lit.charAt(0)
      var i = from
      while (i < n && !(raw(i) == c0 && FastDetectors.at(raw, n, i, lit))) i += 1
      if (i < n) i else -1
    }

    /** The regex `(?s)<a\b[^>]*>(.*?)</a>` under `Matcher.find`, over
      * `raw(0 until n)`: a start is `<a` followed by a `\b`; `[^>]*>` can
      * only end at the first `>` after it, and the lazy `(.*?)</a>` at the
      * first `</a>` after that (neither `>` nor `<` is ever half of a
      * surrogate pair, so code-point stepping finds the same indices); a
      * failed start fails every later one too, as a later start's `>` and
      * `</a>` can only come later. The inners are joined by single spaces
      * and cleaned in place; returns the cleaned length (and overwrites
      * the stats of the last [[clean]]). */
    def linkChars(n: Int): Int = {
      var k = 0
      var count = 0
      var from = 0
      var done = false
      while (!done) {
        val s = indexOf(n, "<a", from)
        if (s < 0) done = true
        else if (!FastDetectors.isBoundary(raw, n, s + 2)) from = s + 1
        else {
          val g = indexOf(n, ">", s + 2)
          val e = if (g < 0) -1 else indexOf(n, "</a>", g + 1)
          if (e < 0) done = true
          else {
            val len = e - (g + 1)
            val need = k + 1 + len
            if (inners.length < need) inners = java.util.Arrays.copyOf(inners, math.max(need, 2 * inners.length))
            if (count > 0) { inners(k) = ' '; k += 1 }
            count += 1
            System.arraycopy(raw, g + 1, inners, k, len)
            k += len
            from = e + 4
          }
        }
      }
      clean(inners, k, inners)
    }

    private def emit(kind: String, text: String, ref: String): Unit = {
      if (outN == out.length) out = java.util.Arrays.copyOf(out, 2 * out.length)
      out(outN) = Span(kind, text, ref, outN)
      outN += 1
    }

    /** §2.1: the surviving text span of `raw(0 until n)`, with its
      * detections. The score is computed lazily: link density (the only
      * costly part) only when words and words-per-line already pass. */
    private def html(n: Int): Unit = {
      val len = clean(raw, n, text)
      if (words >= Spec.MinWords && words.toDouble / lines >= Spec.MinWordsPerLine &&
        (len == 0 || !hasAnchor || linkChars(n).toDouble / len <= Spec.MaxLinkDensity)) {
        emit(OutKind.Text, new String(text, 0, len), "")
        detections(len)
      }
    }

    /** §3 over `text(0 until n)`: the 13-gate trigger mask, the
      * single-dispatch scan of every gated entity detector, the fused
      * exemption scan, then every hit in (start, end, detector) order. */
    private def detections(n: Int): Unit = {
      val mask = triggerMask(text, n)
      if (mask != 0) {
        keys.clear()
        if ((mask & 0xFFF) != 0) {
          FastDetectors.allMatches(text, n, mask, pairs)
          var d = 0
          while (d < 12) {
            val p = pairs(d)
            var k = 0
            while (k < p.size) { keys.add(key(p.start(k), p.end(k), d)); k += 1 }
            d += 1
          }
        }
        if ((mask >> 12 & 1) != 0) exemptionScan(text, n, 12, keys)
        keys.sort()
        var k = 0
        while (k < keys.size) {
          val h = keys(k); val d = detector(h)
          if (d < 12) emit(EntityKinds(d), new String(text, start(h), end(h) - start(h)), "")
          else emit(OutKind.Redaction, ExemptionCodes(d - 12), "")
          k += 1
        }
      }
    }

    /** EXTRACTION_SPEC §0-4 over one doc, assembled in one array pass. */
    def extract(doc: Doc): Doc = {
      val in: Array[Span] = if (doc.spans == null) Array.empty[Span] else doc.spans.toArray
      java.util.Arrays.sort(in, ByOffset) // stable; one pass when already sorted

      // §2.2: pdf bodies in reading order, re-dealt to the pdf slots
      var nPdf = 0
      var i = 0
      while (i < in.length) {
        val s = in(i)
        if (s.kind == InKind.PdfBlock) {
          val t = if (s.text == null) "" else s.text
          if (nPdf == pdfs.length) pdfs = java.util.Arrays.copyOf(pdfs, 2 * nPdf)
          pdfs(nPdf) = pdfBlock(t, math.min(t.length, Spec.MaxSpanChars), s.offset)
          nPdf += 1
        }
        i += 1
      }
      if (nPdf > 1) java.util.Arrays.sort(pdfs, 0, nPdf, ReadingOrder) // stable

      outN = 0
      var pdf = 0
      i = 0
      while (i < in.length) {
        val s = in(i)
        s.kind match {
          case InKind.HtmlBlock | InKind.HtmlBoiler => html(load(s.text))
          case InKind.HtmlLink => if (!LinkSpansDie) html(load(s.text))
          case InKind.PdfBlock =>
            val b = pdfs(pdf); pdf += 1
            val len = plain(b.text, b.bodyStart, b.bodyEnd)
            emit(OutKind.Text, new String(text, 0, len), "")
            detections(len)
          case InKind.Media =>
            emit(OutKind.Media, "", if (s.media_ref == null) "" else s.media_ref)
          case InKind.Redaction =>
            val t = if (s.text == null) "" else s.text
            val len = plain(t, 0, math.min(t.length, Spec.MaxSpanChars))
            keys.clear()
            exemptionScan(text, len, 0, keys)
            if (keys.size == 0) emit(OutKind.Redaction, new String(text, 0, len), "")
            else {
              var k = 0
              while (k < keys.size) { emit(OutKind.Redaction, ExemptionCodes(detector(keys(k))), ""); k += 1 }
            }
          case _ =>
        }
        i += 1
      }
      java.util.Arrays.fill(pdfs.asInstanceOf[Array[AnyRef]], 0, nPdf, null)
      val res = java.util.Arrays.copyOf(out, outN)
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], 0, outN, null)
      Doc(doc.doc_id, ArraySeq.unsafeWrapArray(res))
    }
  }

  private val workers: ThreadLocal[Worker] = ThreadLocal.withInitial(() => new Worker)

  /** EXTRACTION_SPEC §0-4 end to end. Pure; deterministic. */
  def extractDoc(doc: Doc): Doc = workers.get.extract(doc)
}
