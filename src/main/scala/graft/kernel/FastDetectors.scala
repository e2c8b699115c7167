package graft.kernel

/** Hand-rolled literal-anchored scanners for the 12 entity detectors
  * (profiled: DATE 2.8 s, LOCATION 0.8 s, CONTRACT_NUMBER 0.6 s of a 6.0 s
  * detection budget over 30k docs — java.util.regex scans every position
  * because these patterns have no literal prefix for its Boyer-Moore fast
  * path).
  *
  * Each scanner is **find()-equivalent** to its `core/Spec` pattern:
  * it enumerates, in start order, exactly the match the regex would produce
  * at each feasible start, then applies Matcher.find's consumption rule
  * (next search resumes at the previous match's end). Equivalence is
  * property-fuzzed in KernelProps directly against the compiled patterns on
  * adversarial near-miss inputs, and end-to-end by the kernel-vs-golden
  * parity suite (the golden oracle still runs the real regexes).
  *
  * The scanners read a char buffer `t` of which only `t(0 until n)` is the
  * text (the kernel reuses one buffer per thread); the `String` forms are
  * thin wrappers for the property suites.
  *
  * Boundary semantics: `\b` is [[isBoundary]], a mirror of Java's
  * `Pattern.Bound`; `\d` / `[A-Z]` / `[a-z]` are ASCII-only.
  */
private[graft] object FastDetectors {

  /** A growable list of (start, end) pairs, reused across calls. */
  private[graft] final class Pairs {
    private var a = new Array[Int](32)
    var size = 0
    def start(k: Int): Int = a(2 * k)
    def end(k: Int): Int = a(2 * k + 1)
    def clear(): Unit = size = 0
    def add(s: Int, e: Int): Unit = {
      if (2 * size + 2 > a.length) a = java.util.Arrays.copyOf(a, 2 * a.length)
      a(2 * size) = s; a(2 * size + 1) = e; size += 1
    }
    def toSeq: Seq[(Int, Int)] = (0 until size).map(k => (start(k), end(k)))

    /** Stable insertion sort by start: candidates arrive at most a few
      * places out of order, so this is linear in practice. */
    def sortByStart(): Unit = {
      var k = 1
      while (k < size) {
        val s = a(2 * k); val e = a(2 * k + 1)
        var j = k - 1
        while (j >= 0 && a(2 * j) > s) { a(2 * j + 2) = a(2 * j); a(2 * j + 3) = a(2 * j + 1); j -= 1 }
        a(2 * j + 2) = s; a(2 * j + 3) = e
        k += 1
      }
    }

    /** Matcher.find consumption over start-ordered candidates, in place. */
    def consume(): Unit = {
      var pos = 0; var w = 0; var k = 0
      while (k < size) {
        val s = a(2 * k)
        if (s >= pos) { val e = a(2 * k + 1); a(2 * w) = s; a(2 * w + 1) = e; pos = e; w += 1 }
        k += 1
      }
      size = w
    }
  }

  // ------------------------------------------------------------ boundaries

  @inline private def asciiWord(c: Char): Boolean =
    c == '_' || (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  @inline private def isWordCp(cp: Int): Boolean = cp == '_' || Character.isLetterOrDigit(cp)

  @inline private def isMark(cp: Int): Boolean = Character.getType(cp) == Character.NON_SPACING_MARK

  /** `Pattern.hasBaseCharacter`: walking back from `i` one char at a time
    * (reading the code point AT each index, as the JDK does, so a
    * surrogate pair's low half reads as a lone surrogate), a letter or
    * digit comes before anything that is not a non-spacing mark. */
  private def hasBase(t: Array[Char], n: Int, i: Int): Boolean = {
    var x = i
    while (x >= 0) {
      val cp = Character.codePointAt(t, x, n)
      if (Character.isLetterOrDigit(cp)) return true
      if (!isMark(cp)) return false
      x -= 1
    }
    false
  }

  /** `Pattern.Bound`'s right side: the code point at `i` is a word char, or
    * a non-spacing mark with a base character. */
  private def wordAt(t: Array[Char], n: Int, i: Int): Boolean =
    i < n && {
      val c = t(i)
      if (c < 0x80) asciiWord(c)
      else {
        val cp = Character.codePointAt(t, i, n)
        isWordCp(cp) || (isMark(cp) && hasBase(t, n, i))
      }
    }

  /** `Pattern.Bound`'s left side: the code point before `i` is a word
    * char, or a non-spacing mark with a base character. */
  private def wordBefore(t: Array[Char], n: Int, i: Int): Boolean =
    i > 0 && {
      val c = t(i - 1)
      if (c < 0x80) asciiWord(c)
      else {
        val cp = Character.codePointBefore(t, i)
        isWordCp(cp) || (isMark(cp) && hasBase(t, n, i - 1))
      }
    }

  /** Java's `\b` at `i` (no UNICODE_CHARACTER_CLASS flag): word-ness of
    * the code points on either side differs, where a non-spacing mark
    * after a base letter or digit counts as a word char. Property-fuzzed
    * against the regex on NSM and surrogate-pair inputs. */
  def isBoundary(t: Array[Char], n: Int, i: Int): Boolean = wordBefore(t, n, i) != wordAt(t, n, i)

  def isBoundary(t: String, i: Int): Boolean = { val a = t.toCharArray; isBoundary(a, a.length, i) }

  // ------------------------------------------------------------ primitives

  @inline private def isD(c: Char): Boolean = c >= '0' && c <= '9'
  @inline private def isUp(c: Char): Boolean = c >= 'A' && c <= 'Z'
  @inline private def isLow(c: Char): Boolean = c >= 'a' && c <= 'z'

  /** Length of the ASCII-digit run starting at `i`, capped at `max`. */
  private def digitRun(t: Array[Char], n: Int, i: Int, max: Int = Int.MaxValue): Int = {
    var k = 0
    while (i + k < n && k < max && isD(t(i + k))) k += 1
    k
  }

  /** Length of the `[a-z]+` run starting at `i`. */
  private def lowerRun(t: Array[Char], n: Int, i: Int): Int = {
    var k = 0
    while (i + k < n && isLow(t(i + k))) k += 1
    k
  }

  /** `String.regionMatches` over the buffer: `lit` occurs at `i`. */
  private[graft] def at(t: Array[Char], n: Int, i: Int, lit: String): Boolean =
    i >= 0 && i + lit.length <= n && {
      var j = 0
      while (j < lit.length && t(i + j) == lit.charAt(j)) j += 1
      j == lit.length
    }

  /** Length of `[A-Z][a-z]+` at `i`, or -1. */
  private def capWord(t: Array[Char], n: Int, i: Int): Int =
    if (i < n && isUp(t(i))) { val r = lowerRun(t, n, i + 1); if (r >= 1) 1 + r else -1 }
    else -1

  /** Words of `ws` grouped by initial `A`..`Z`, alternation order kept. */
  private def byInitial(ws: Array[String]): Array[Array[String]] =
    Array.tabulate(26)(k => ws.filter(_.charAt(0) == 'A' + k))

  // ------------------------------------------------------------ detectors

  private val Months = byInitial(Array("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December"))

  /** DATE month branch, anchored at the month-name initial. */
  private def checkDateMonthAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit = {
    val c = t(i)
    if (c >= 'A' && c <= 'S' && isBoundary(t, n, i)) {
      val ms = Months(c - 'A')
      var k = 0
      while (k < ms.length && !at(t, n, i, ms(k))) k += 1
      if (k < ms.length) {
        var j = i + ms(k).length
        if (j < n && t(j) == ' ') {
          j += 1
          val day = digitRun(t, n, j)
          // greedy \d{1,2} then literal ", ": try 2 digits, then 1
          val dayLen =
            if (day >= 2 && at(t, n, j + 2, ", ")) 2
            else if (day >= 1 && at(t, n, j + 1, ", ")) 1
            else -1
          if (dayLen > 0) {
            val y = j + dayLen + 2
            if (digitRun(t, n, y, 5) == 4 && isBoundary(t, n, y + 4)) out.add(i, y + 4)
          }
        }
      }
    }
  }

  /** DATE ISO branch, anchored at the year-month dash. */
  private def checkDateIsoAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (t(i) == '-' && i >= 4) {
      val s = i - 4
      if (digitRun(t, n, s, 5) == 4 && isBoundary(t, n, s) &&
        digitRun(t, n, i + 1, 3) == 2 && i + 3 < n && t(i + 3) == '-' &&
        digitRun(t, n, i + 4, 3) == 2 && isBoundary(t, n, i + 6))
        out.add(s, i + 6)
    }

  private val Titles = Array("Mr", "Ms", "Mrs", "Dr") // regex alternation order

  /** PERSON: `\b(?:Mr|Ms|Mrs|Dr)\. [A-Z][a-z]+ [A-Z][a-z]+\b`. The regex
    * tries the title alternatives in order with full continuation; a greedy
    * `[a-z]+` followed by a literal can only succeed run-whole (backtracked
    * positions still face a lowercase next char). */
  private def checkPersonAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit = {
    val c = t(i)
    if ((c == 'M' || c == 'D') && isBoundary(t, n, i)) {
      var hit = -1
      var k = 0
      while (hit < 0 && k < Titles.length) {
        val title = Titles(k)
        if (at(t, n, i, title) && at(t, n, i + title.length, ". ")) {
          val f = i + title.length + 2
          val n1 = capWord(t, n, f)
          if (n1 > 0 && f + n1 < n && t(f + n1) == ' ') {
            val n2 = capWord(t, n, f + n1 + 1)
            if (n2 > 0 && isBoundary(t, n, f + n1 + 1 + n2)) hit = f + n1 + 1 + n2
          }
        }
        k += 1
      }
      if (hit > 0) out.add(i, hit)
    }
  }

  /** MONEY: `\$\d{1,3}(?:,\d{3})*(?:\.\d{2})?` — no boundaries, nothing
    * after the optional groups, so greedy never backtracks: take up to 3
    * digits, then every ",ddd" group, then ".dd" if present. */
  private def checkMoneyAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (t(i) == '$') {
      val d = digitRun(t, n, i + 1, 3)
      if (d >= 1) {
        var p = i + 1 + d
        while (p < n && t(p) == ',' && digitRun(t, n, p + 1, 3) == 3) p += 4
        if (p < n && t(p) == '.' && digitRun(t, n, p + 1, 2) == 2) p += 3
        out.add(i, p)
      }
    }

  /** DOCUMENT_ID: `\bDOC-\d{6,}\b` — digit run taken whole (backtracking
    * faces a digit before the boundary). */
  private def checkDocumentIdAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (t(i) == 'D' && isBoundary(t, n, i) && at(t, n, i, "DOC-")) {
      val r = digitRun(t, n, i + 4)
      if (r >= 6 && isBoundary(t, n, i + 4 + r)) out.add(i, i + 4 + r)
    }

  /** PHONE: `\(\d{3}\) \d{3}-\d{4}` — fixed shape, no boundaries. */
  private def checkPhoneAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (t(i) == '(' &&
      digitRun(t, n, i + 1, 4) == 3 && at(t, n, i + 4, ") ") &&
      digitRun(t, n, i + 6, 4) == 3 && i + 9 < n && t(i + 9) == '-' &&
      digitRun(t, n, i + 10, 4) >= 4)
      out.add(i, i + 14)

  /** CASE_NUMBER: `\b\d{2}-cv-\d{4,}\b`, anchored at "-cv-". */
  private def checkCaseNumberAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (i >= 2 && at(t, n, i, "-cv-") &&
      isD(t(i - 1)) && isD(t(i - 2)) && isBoundary(t, n, i - 2)) {
      val r = digitRun(t, n, i + 4)
      if (r >= 4 && isBoundary(t, n, i + 4 + r)) out.add(i - 2, i + 4 + r)
    }

  /** FOIA_TRACKING: `\bFOI[A]?-\d{4}-\d+\b` — the optional A is greedy but
    * its failure leaves '-' required at the same spot, which 'A' can't be. */
  private def checkFoiaAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (t(i) == 'F' && isBoundary(t, n, i) && at(t, n, i, "FOI")) {
      var j = i + 3
      if (j < n && t(j) == 'A') j += 1
      if (j < n && t(j) == '-' && digitRun(t, n, j + 1, 5) == 4 && j + 5 < n && t(j + 5) == '-') {
        val r = digitRun(t, n, j + 6)
        if (r >= 1 && isBoundary(t, n, j + 6 + r)) out.add(i, j + 6 + r)
      }
    }

  private val StreetSuffixes = Array("St", "Ave", "Blvd", "Rd") // distinct initials

  /** ADDRESS: `\b\d{1,5} [A-Z][a-z]+ (?:St|Ave|Blvd|Rd)\., [A-Z][a-z]+,
    * [A-Z]{2} \d{5}(?:-\d{4})?\b`. Feasible starts are digit-run starts
    * only (mid-run lacks the boundary); the house-number run must be ≤5
    * digits taken whole (backtracked positions face a digit where the
    * space is required); zip is exactly 5 (a 6th digit kills the mandatory
    * boundary with no backtrack available); the optional zip+4 is greedy
    * but falls back to ending at the '-' (itself a boundary) when its four
    * digits or their boundary fail. */
  private def checkAddressAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit = {
    // [A-Z][a-z]+ then a literal; the end after the literal, or -1
    def wordThen(i: Int, next: String): Int = {
      val w = capWord(t, n, i)
      if (w > 0 && at(t, n, i + w, next)) i + w + next.length else -1
    }
    if (isD(t(i)) && isBoundary(t, n, i)) {
      val run = digitRun(t, n, i, 6)
      if (run <= 5 && i + run < n && t(i + run) == ' ') {
        val afterName = wordThen(i + run + 1, " ")
        if (afterName > 0) {
          var sfxEnd = -1
          var k = 0
          while (sfxEnd < 0 && k < StreetSuffixes.length) {
            val sfx = StreetSuffixes(k)
            if (at(t, n, afterName, sfx) && at(t, n, afterName + sfx.length, "., "))
              sfxEnd = afterName + sfx.length + 3
            k += 1
          }
          if (sfxEnd > 0) {
            val afterCity = wordThen(sfxEnd, ", ")
            if (afterCity > 0 && afterCity + 2 < n &&
              isUp(t(afterCity)) && isUp(t(afterCity + 1)) && t(afterCity + 2) == ' ') {
              val z = afterCity + 3
              if (digitRun(t, n, z, 6) == 5) {
                val dash = z + 5 < n && t(z + 5) == '-'
                val end =
                  if (dash && digitRun(t, n, z + 6, 5) == 4 && isBoundary(t, n, z + 10)) z + 10
                  else if (dash) z + 5 // '-' is itself a boundary
                  else if (isBoundary(t, n, z + 5)) z + 5
                  else -1
                if (end > 0) out.add(i, end)
              }
            }
          }
        }
      }
    }
  }

  private val OrgSuffixes = // regex alternation order
    Array("Agency", "Bureau", "Department", "Commission", "Office", "Administration")

  /** ORGANIZATION: `\b(?:[A-Z][a-z]+ ){1,3}(?:Agency|Bureau|Department|
    * Commission|Office|Administration)\b`. Greedy `{1,3}` tries 3 words,
    * then 2, then 1, each with full continuation; a word `[A-Z][a-z]+` is
    * run-whole (backtracking it still faces a lowercase next char before
    * the required space). */
  private def checkOrganizationAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit = {
    // [A-Z][a-z]+ followed by ' ', space included; -1 if none
    def wordLen(i: Int): Int = {
      val w = capWord(t, n, i)
      if (w > 0 && i + w < n && t(i + w) == ' ') w + 1 else -1
    }
    // end of suffix + \b at i, or -1
    def suffixEnd(i: Int): Int = {
      var k = 0
      while (k < OrgSuffixes.length) {
        val sfx = OrgSuffixes(k)
        if (at(t, n, i, sfx) && isBoundary(t, n, i + sfx.length)) return i + sfx.length
        k += 1
      }
      -1
    }
    if (isUp(t(i)) && isBoundary(t, n, i)) {
      val w1 = wordLen(i)
      if (w1 > 0) {
        val w2 = wordLen(i + w1)
        val w3 = if (w2 > 0) wordLen(i + w1 + w2) else -1
        // greedy: 3 words, then 2, then 1 — first full continuation wins
        val e3 = if (w3 > 0) suffixEnd(i + w1 + w2 + w3) else -1
        val e2 = if (e3 < 0 && w2 > 0) suffixEnd(i + w1 + w2) else -1
        val end = if (e3 > 0) e3 else if (e2 > 0) e2 else suffixEnd(i + w1)
        if (end > 0) out.add(i, end)
      }
    }
  }

  private val Tlds = Array(".gov", ".com", ".org")

  /** EMAIL: `\b[a-z][a-z0-9._]*@[a-z0-9.-]+\.(?:gov|com|org)\b`. The local
    * part is anchored backward from '@' (leftmost feasible start wins —
    * regex scanning order); the greedy domain backtracks for the longest
    * prefix whose continuation `.tld\b` holds. */
  private def checkEmailAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit = {
    @inline def isLocal(c: Char) = isLow(c) || isD(c) || c == '.' || c == '_'
    @inline def isDomain(c: Char) = isLow(c) || isD(c) || c == '.' || c == '-'
    if (t(i) == '@') {
      var dEnd = i + 1
      while (dEnd < n && isDomain(t(dEnd))) dEnd += 1
      if (dEnd > i + 1) {
        // greedy domain then backtrack: longest k ≥ 1 with ".tld\b" after
        var k = dEnd - (i + 1)
        var end = -1
        while (end < 0 && k >= 1) {
          val p = i + 1 + k
          var ti = 0
          while (end < 0 && ti < Tlds.length) {
            if (at(t, n, p, Tlds(ti)) && isBoundary(t, n, p + 4)) end = p + 4
            ti += 1
          }
          k -= 1
        }
        if (end > 0) {
          // EVERY feasible local-part start is a candidate (not just the
          // leftmost): find()-consumption of an earlier match can resume
          // MID-run, making an inner start the next leftmost (fuzz
          // counter-example: "a@x.gov.c@x.gov")
          var back = i
          while (back > 0 && isLocal(t(back - 1))) back -= 1
          var j = back
          while (j < i) {
            if (isLow(t(j)) && isBoundary(t, n, j)) out.add(j, end)
            j += 1
          }
        }
      }
    }
  }

  private val Cities = byInitial(Array("Washington", "Arlington", "Springfield", "Denver",
    "Austin", "Phoenix", "Seattle", "Portland", "Chicago", "Boston"))

  /** LOCATION: `\b(City), [A-Z]{2}\b`. */
  private def checkLocationAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit = {
    val c = t(i)
    if (c >= 'A' && c <= 'W' && isBoundary(t, n, i)) {
      val cs = Cities(c - 'A')
      var k = 0
      while (k < cs.length && !at(t, n, i, cs(k))) k += 1
      if (k < cs.length) {
        val j = i + cs(k).length
        if (at(t, n, j, ", ") && j + 4 <= n && isUp(t(j + 2)) && isUp(t(j + 3)) &&
          isBoundary(t, n, j + 4))
          out.add(i, j + 4)
      }
    }
  }

  /** CONTRACT_NUMBER: `\b[A-Z]{2,4}-\d{4,}-\d{4,}\b`, anchored at the first
    * dash. With a greedy-then-backtrack `[A-Z]{2,4}` preceded by `\b`, the
    * ONLY viable start is the beginning of the uppercase run (any later
    * start has an uppercase letter immediately before it — no boundary), so
    * a match exists iff the run length is 2..4. Greedy `\d{4,}` must end at
    * a non-digit, so the digit runs are taken whole. */
  private def checkContractAt(t: Array[Char], n: Int, i: Int, out: Pairs): Unit =
    if (t(i) == '-' && i >= 2) {
      var u = 0
      while (u < i && u < 5 && isUp(t(i - 1 - u))) u += 1
      if (u >= 2 && u <= 4 && isBoundary(t, n, i - u)) {
        val r1 = digitRun(t, n, i + 1)
        if (r1 >= 4 && i + 1 + r1 < n && t(i + 1 + r1) == '-') {
          val r2 = digitRun(t, n, i + 2 + r1)
          if (r2 >= 4 && isBoundary(t, n, i + 2 + r1 + r2)) out.add(i - u, i + 2 + r1 + r2)
        }
      }
    }

  // -------------------------------------------------------- fused scanner

  /** Detector indices in `Spec.EntityPatterns` order (== the trigger-mask
    * bit positions of `Extractor.triggerMask`). */
  private val Person = 0; private val Organization = 1; private val Location = 2
  private val Date = 3; private val Money = 4; private val DocumentId = 5
  private val Phone = 6; private val Email = 7; private val Address = 8
  private val Contract = 9; private val CaseNumber = 10; private val Foia = 11

  /** ALL gated detectors in ONE pass over `t(0 until n)`: a single
    * character dispatch calls each detector's per-position check only where
    * its anchor char sits (every check's own guard requires that char), then
    * each gated detector's candidates are sorted where they can arrive out
    * of start order and consumed as Matcher.find would. `out(d)` holds
    * detector d's matches when bit d of `mask` (bits follow
    * `Extractor.triggerMask`) is set, and is empty otherwise. */
  private val Anchor: Array[Boolean] =
    Array.tabulate(128)(c => "$(@-".indexOf(c) >= 0 || (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z'))

  def allMatches(t: Array[Char], n: Int, mask: Int, out: Array[Pairs]): Unit = {
    var d = 0
    while (d < 12) { out(d).clear(); d += 1 }
    @inline def on(d: Int) = (mask >> d & 1) != 0
    var i = 0
    while (i < n) {
      val c = t(i)
      // one table probe skips every char that anchors no detector
      if (c < 128 && Anchor(c)) {
        if (c >= 'A') {
          if (c <= 'Z') {
            if (on(Organization)) checkOrganizationAt(t, n, i, out(Organization))
            if (on(Location) && c <= 'W') checkLocationAt(t, n, i, out(Location))
            if (on(Date) && c <= 'S') checkDateMonthAt(t, n, i, out(Date))
            if (on(Person) && (c == 'M' || c == 'D')) checkPersonAt(t, n, i, out(Person))
            if (on(DocumentId) && c == 'D') checkDocumentIdAt(t, n, i, out(DocumentId))
            if (on(Foia) && c == 'F') checkFoiaAt(t, n, i, out(Foia))
          }
        } else if (c >= '0') {
          if (c <= '9') { if (on(Address)) checkAddressAt(t, n, i, out(Address)) }
          else if (c == '@') { if (on(Email)) checkEmailAt(t, n, i, out(Email)) }
        } else if (c == '-') {
          if (on(Date)) checkDateIsoAt(t, n, i, out(Date))
          if (on(Contract)) checkContractAt(t, n, i, out(Contract))
          if (on(CaseNumber)) checkCaseNumberAt(t, n, i, out(CaseNumber))
        } else if (c == '$') { if (on(Money)) checkMoneyAt(t, n, i, out(Money)) }
        else if (c == '(') { if (on(Phone)) checkPhoneAt(t, n, i, out(Phone)) }
      }
      i += 1
    }
    d = 0
    while (d < 12) {
      val p = out(d)
      if (p.size > 0) {
        // out-of-anchor-order appends: ISO dates and contract numbers start
        // before their anchor dash; email starts before their '@'
        if (d == Date || d == Email || d == Location || d == Contract) p.sortByStart()
        p.consume()
      }
      d += 1
    }
  }

  def newPairs(): Array[Pairs] = Array.fill(12)(new Pairs)

  // ------------------------------------------------ String forms (tests)

  def allMatches(t: String, mask: Int): Array[Seq[(Int, Int)]] = {
    val out = newPairs()
    allMatches(t.toCharArray, t.length, mask, out)
    out.map(_.toSeq)
  }

  private def only(d: Int)(t: String): Seq[(Int, Int)] = allMatches(t, 1 << d)(d)

  def personMatches(t: String): Seq[(Int, Int)] = only(Person)(t)
  def organizationMatches(t: String): Seq[(Int, Int)] = only(Organization)(t)
  def locationMatches(t: String): Seq[(Int, Int)] = only(Location)(t)
  def dateMatches(t: String): Seq[(Int, Int)] = only(Date)(t)
  def moneyMatches(t: String): Seq[(Int, Int)] = only(Money)(t)
  def documentIdMatches(t: String): Seq[(Int, Int)] = only(DocumentId)(t)
  def phoneMatches(t: String): Seq[(Int, Int)] = only(Phone)(t)
  def emailMatches(t: String): Seq[(Int, Int)] = only(Email)(t)
  def addressMatches(t: String): Seq[(Int, Int)] = only(Address)(t)
  def contractMatches(t: String): Seq[(Int, Int)] = only(Contract)(t)
  def caseNumberMatches(t: String): Seq[(Int, Int)] = only(CaseNumber)(t)
  def foiaMatches(t: String): Seq[(Int, Int)] = only(Foia)(t)
}
