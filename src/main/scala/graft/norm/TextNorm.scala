package graft.norm

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.text.Normalizer
import java.util.Locale
import java.util.regex.Pattern

/** Text normalization — byte-identical port of the reference's
  * preprocessing chain (/root/reference/src/features/text_preproc.py:20-170,
  * /root/reference/src/ensemble/arbiter.py:198-218).
  *
  * `normalize`, `tokenize` and `simhashTokens` are hand-written linear
  * scanners over the NFKC output, not `java.util.regex`: the 12 regex
  * passes they replace cost ~560 µs per 2.4 KB page, the single largest
  * per-row cost of the pipeline. Each scanner reproduces the Java regex it
  * replaces exactly; TextNormDiffSpec diffs them against that regex chain
  * (kept test-side as `graft.TextNormRegex`) on the golden vectors and on
  * seeded random strings rich in every trigger below.
  *
  * Parity notes (verified against golden vectors generated from the
  * reference Python in `fixtures/norm_golden.tsv`):
  *  - Python `re` classes `\w \s \d \b` are Unicode-aware by default; the
  *    regexes this replaces set UNICODE_CHARACTER_CLASS, whose classes
  *    `isWord`/`isSpace`/`isDigit` reproduce per code point. `\b` compares
  *    the code points before and after a position; the one lookbehind
  *    (`(?<=\w)` before a line-break hyphen) looks at a single UTF-16 unit,
  *    as Java's does, so a surrogate pair never counts as its word char.
  *  - Python `re.MULTILINE` `^` only matches after `\n` (Java's UNIX_LINES).
  *  - Every regex pass matched left to right, non-overlapping, with its
  *    conditions read on that pass's input; the scanners do the same.
  *    Passes are fused where they commute (the char map; the strict
  *    non-word pass, date/id removal, whitespace collapse and strip) and
  *    stay separate linear passes where one can create or destroy
  *    another's match (page numbers, rules, line hyphens, bullets, blank
  *    lines).
  *  - `str.split()` is `String.strip` (Character.isWhitespace) then a split
  *    on White_Space runs, keeping Java's leading empty token when the
  *    stripped text starts with White_Space (e.g. U+00A0).
  *  - `str.lower()` ≈ `toLowerCase(Locale.ROOT)` (both implement the
  *    Unicode full case mapping incl. Final_Sigma).
  */
object TextNorm extends Serializable {

  private final val U = Pattern.UNICODE_CHARACTER_CLASS

  // text_preproc.py:14-17
  val DefaultStopwords: Set[String] = Set(
    "the", "a", "an", "and", "or", "for", "of", "to", "in", "on", "at", "by",
    "with", "from", "as", "is", "are", "was", "were", "be", "been", "it",
    "this", "that", "these", "those", "you", "your")

  // text_preproc.py:20-40 (sentence split only; the normalize chain is the
  // scanners below)
  private val SentSplit = Pattern.compile("(?<=[.!?])\\s+|\\n+", U)

  // ---------- character classes (java.util.regex, UNICODE_CHARACTER_CLASS) ----------

  private final val WordTypes =
    (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
      (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.CONNECTOR_PUNCTUATION)
  private final val SpaceTypes =
    (1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)

  private def isWordSlow(cp: Int): Boolean =
    Character.isAlphabetic(cp) || ((WordTypes >> Character.getType(cp)) & 1) != 0 ||
      cp == 0x200C || cp == 0x200D
  private def isSpaceSlow(cp: Int): Boolean =
    ((SpaceTypes >> Character.getType(cp)) & 1) != 0 || (cp >= 0x9 && cp <= 0xD) || cp == 0x85

  private final val WordBit = 1
  private final val SpaceBit = 2
  private final val DigitBit = 4
  private val asciiClass: Array[Byte] = Array.tabulate[Byte](128)(c =>
    ((if (isWordSlow(c)) WordBit else 0) | (if (isSpaceSlow(c)) SpaceBit else 0) |
      (if (Character.isDigit(c)) DigitBit else 0)).toByte)

  /** `\w`: Alphabetic, Mn, Me, Mc, Nd, Pc or Join_Control. */
  private[graft] def isWord(cp: Int): Boolean =
    if (cp < 128) (asciiClass(cp) & WordBit) != 0 else isWordSlow(cp)
  /** `\s`: White_Space. */
  private[graft] def isSpace(cp: Int): Boolean =
    if (cp < 128) (asciiClass(cp) & SpaceBit) != 0 else isSpaceSlow(cp)
  /** `\d`: Nd. */
  private[graft] def isDigit(cp: Int): Boolean =
    if (cp < 128) (asciiClass(cp) & DigitBit) != 0 else Character.isDigit(cp)

  private def wordBefore(s: String, i: Int): Boolean =
    i > 0 && isWord(Character.codePointBefore(s, i))
  private def wordAt(s: String, i: Int): Boolean =
    i < s.length && isWord(Character.codePointAt(s, i))

  /** End of the White_Space run starting at `i`. */
  private def skipSpace(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && isSpace(Character.codePointAt(s, j)))
      j += Character.charCount(Character.codePointAt(s, j))
    j
  }

  /** End of the run of at most `max` digit code points starting at `i`,
    * and the run's length in code points, packed as end << 32 | count.
    */
  private def digitRun(s: String, i: Int, max: Int = Int.MaxValue): Long = {
    var j = i
    var k = 0
    while (k < max && j < s.length && isDigit(Character.codePointAt(s, j))) {
      j += Character.charCount(Character.codePointAt(s, j))
      k += 1
    }
    (j.toLong << 32) | k
  }
  @inline private def runEnd(r: Long): Int = (r >>> 32).toInt
  @inline private def runLen(r: Long): Int = r.toInt

  /** Accumulates a pass's output: input ranges are copied lazily, so a
    * pass that matches nothing returns its input string unchanged.
    */
  private final class Edit(s: String) {
    private var sb: java.lang.StringBuilder = null
    private var copied = 0
    /** Replace s[from, to) with `rep` (null = delete). */
    def replace(from: Int, to: Int, rep: String): Unit = {
      if (sb == null) sb = new java.lang.StringBuilder(s.length)
      sb.append(s, copied, from)
      if (rep != null) sb.append(rep)
      copied = to
    }
    def result: String =
      if (sb == null) s else sb.append(s, copied, s.length).toString
  }

  // ---------- normalize passes, in chain order ----------

  /** U+00AD removed, U+00A0 → space, en/em dash → `-`, curly quotes →
    * straight: one pass (the maps are per char and independent).
    */
  private def mapChars(s: String): String = {
    val e = new Edit(s)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\u00AD' => e.replace(i, i + 1, null)
        case '\u00A0' => e.replace(i, i + 1, " ")
        case '\u2013' | '\u2014' => e.replace(i, i + 1, "-")
        case '\u2018' | '\u2019' => e.replace(i, i + 1, "'")
        case '\u201C' | '\u201D' => e.replace(i, i + 1, "\"")
        case _ =>
      }
      i += 1
    }
    e.result
  }

  /** `\bpage\s+\d+(\s+of\s+\d+)?\b` (case-insensitive) → space. No code
    * point outside ASCII case-folds to any of these letters.
    */
  private def stripPageNumbers(s: String): String = {
    val e = new Edit(s)
    def ci(j: Int, lower: Char) = j < s.length && (s.charAt(j) | 0x20) == lower
    var i = 0
    while (i < s.length) {
      var end = -1
      if (ci(i, 'p') && ci(i + 1, 'a') && ci(i + 2, 'g') && ci(i + 3, 'e') && !wordBefore(s, i)) {
        val s1 = skipSpace(s, i + 4)
        val d1 = if (s1 > i + 4) runEnd(digitRun(s, s1)) else s1
        if (d1 > s1) {
          // the optional " of N" group first (greedy), then without it;
          // digits and spaces are disjoint, so no other split can match
          val g1 = skipSpace(s, d1)
          if (g1 > d1 && ci(g1, 'o') && ci(g1 + 1, 'f')) {
            val g2 = skipSpace(s, g1 + 2)
            val d2 = if (g2 > g1 + 2) runEnd(digitRun(s, g2)) else g2
            if (d2 > g2 && !wordAt(s, d2)) end = d2
          }
          if (end < 0 && !wordAt(s, d1)) end = d1
        }
      }
      if (end >= 0) { e.replace(i, end, " "); i = end } else i += 1
    }
    e.result
  }

  /** `\n-{2,}\n` → `\n`. */
  private def stripRules(s: String): String = {
    val e = new Edit(s)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\n') {
        var j = i + 1
        while (j < s.length && s.charAt(j) == '-') j += 1
        if (j - i > 2 && j < s.length && s.charAt(j) == '\n') {
          e.replace(i, j + 1, "\n"); i = j + 1
        } else i += 1
      } else i += 1
    }
    e.result
  }

  /** `(?<=\w)-\s*(?:\r?\n|\r)\s*(?=\w)` → removed: a hyphen after a word
    * unit, then a White_Space run holding a CR or LF, then a word char.
    */
  private def joinLineHyphens(s: String): String = {
    val e = new Edit(s)
    var i = 0
    while (i < s.length) {
      var end = -1
      if (s.charAt(i) == '-' && i > 0 && isWord(s.charAt(i - 1).toInt)) {
        var j = i + 1
        var lineBreak = false
        while (j < s.length && isSpace(Character.codePointAt(s, j))) {
          val c = s.charAt(j)
          if (c == '\n' || c == '\r') lineBreak = true
          j += Character.charCount(Character.codePointAt(s, j))
        }
        if (lineBreak && wordAt(s, j)) end = j
      }
      if (end >= 0) { e.replace(i, end, null); i = end } else i += 1
    }
    e.result
  }

  /** `-\n` → removed. */
  private def stripSoftHyphenEol(s: String): String = {
    val e = new Edit(s)
    var i = s.indexOf("-\n")
    while (i >= 0) { e.replace(i, i + 2, null); i = s.indexOf("-\n", i + 2) }
    e.result
  }

  private def isBullet(c: Char): Boolean =
    c == '\u2022' || c == '\u2023' || c == '\u25E6' || c == '-' || c == '*' || c == '\u00B7'

  /** `^[•‣◦\-*·]\s+` (MULTILINE, UNIX_LINES) → removed; `^` is the text
    * start or just after `\n` of this pass's input.
    */
  private def stripBullets(s: String): String = {
    val e = new Edit(s)
    var i = 0
    while (i < s.length) {
      var end = -1
      if ((i == 0 || s.charAt(i - 1) == '\n') && isBullet(s.charAt(i))) {
        val j = skipSpace(s, i + 1)
        if (j > i + 1) end = j
      }
      if (end >= 0) { e.replace(i, end, null); i = end } else i += 1
    }
    e.result
  }

  /** `(?:\r?\n){2,}` → `\n`. */
  private def collapseBlankLines(s: String): String = {
    val e = new Edit(s)
    var i = 0
    while (i < s.length) {
      var j = i
      var lines = 0
      var more = true
      while (more) {
        if (j < s.length && s.charAt(j) == '\n') { j += 1; lines += 1 }
        else if (j + 1 < s.length && s.charAt(j) == '\r' && s.charAt(j + 1) == '\n') { j += 2; lines += 1 }
        else more = false
      }
      if (lines >= 2) { e.replace(i, j, "\n"); i = j } else i += 1
    }
    e.result
  }

  /** The chain's tail in one pass: `[^\w\s]` → space (strict), then
    * `\b\d{4}-\d{2}-\d{2}\b` and `\b\d{6,}\b` → space (stripDatesIds), then
    * `\s+` → one space and `strip()`. They commute: every replacement is a
    * non-word char becoming a space, so each `\b` reads the same on this
    * input as on its own pass's input; strict mode leaves no `-` for a date;
    * and a date's digit runs (4, 2, 2, bounded by non-word chars) are never
    * part of a 6-digit run.
    */
  private def finish(s: String, strict: Boolean, stripDatesIds: Boolean): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var space = false
    def append(from: Int, to: Int): Unit = {
      if (space) { if (sb.length > 0) sb.append(' '); space = false }
      sb.append(s, from, to)
    }
    var i = 0
    while (i < s.length) {
      val cp = Character.codePointAt(s, i)
      val w = Character.charCount(cp)
      if (isSpace(cp)) { space = true; i += w }
      else if (stripDatesIds && isDigit(cp) && !wordBefore(s, i)) {
        val run = digitRun(s, i)
        val end =
          if (!strict && runLen(run) == 4) dateEnd(s, runEnd(run))
          else if (runLen(run) >= 6 && !wordAt(s, runEnd(run))) runEnd(run)
          else -1
        if (end >= 0) { space = true; i = end }
        else { append(i, runEnd(run)); i = runEnd(run) }
      }
      else if (strict && !isWord(cp)) { space = true; i += w }
      else { append(i, i + w); i += w }
    }
    var lo = 0
    var hi = sb.length
    while (lo < hi && Character.isWhitespace(sb.charAt(lo))) lo += 1
    while (hi > lo && Character.isWhitespace(sb.charAt(hi - 1))) hi -= 1
    sb.substring(lo, hi)
  }

  /** End of `-\d{2}-\d{2}\b` at `i`, just after a date's 4 digits, else -1. */
  private def dateEnd(s: String, i: Int): Int = {
    def twoDigitsAfterDash(j: Int): Int =
      if (j < s.length && s.charAt(j) == '-') {
        val r = digitRun(s, j + 1, 2)
        if (runLen(r) == 2) runEnd(r) else -1
      } else -1
    val m = twoDigitsAfterDash(i)
    val d = if (m < 0) -1 else twoDigitsAfterDash(m)
    if (d >= 0 && !wordAt(s, d)) d else -1
  }

  /** normalize_text — text_preproc.py:70-122. */
  def normalize(text: String, strict: Boolean = true, stripDatesIds: Boolean = true): String = {
    if (text == null || text.isEmpty) return ""
    var t = Normalizer.normalize(text, Normalizer.Form.NFKC)
    t = mapChars(t)
    t = stripPageNumbers(t)
    t = stripRules(t)
    t = joinLineHyphens(t)
    t = stripSoftHyphenEol(t)
    t = stripBullets(t)
    t = collapseBlankLines(t)
    finish(t, strict, stripDatesIds).toLowerCase(Locale.ROOT)
  }

  // ---------- whitespace split ----------

  /** Python `str.split()` as `strip()` then a split on White_Space runs:
    * calls `f(from, to)` for each token of `s`, including Java split's
    * leading empty token when the stripped text starts with White_Space.
    */
  private def foreachWord(s: String)(f: (Int, Int) => Unit): Unit = {
    var lo = 0
    var hi = s.length
    while (lo < hi && Character.isWhitespace(s.charAt(lo))) lo += 1
    while (hi > lo && Character.isWhitespace(s.charAt(hi - 1))) hi -= 1
    var i = skipSpace(s, lo)
    if (i > lo && i < hi) f(lo, lo)
    while (i < hi) {
      val start = i
      while (i < hi && !isSpace(Character.codePointAt(s, i)))
        i += Character.charCount(Character.codePointAt(s, i))
      f(start, i)
      i = skipSpace(s, i)
    }
  }

  private def words(s: String)(keep: String => Boolean): Array[String] = {
    val out = Array.newBuilder[String]
    foreachWord(s) { (from, to) =>
      val t = s.substring(from, to)
      if (keep(t)) out += t
    }
    out.result()
  }

  /** tokenize_words — text_preproc.py:126-151 (assume_normalized path used
    * by build_document_view: the input is already `normalize` output).
    */
  def tokenize(normText: String, minLen: Int = 2, removeStopwords: Boolean = true,
               stopwords: Set[String] = DefaultStopwords): Array[String] =
    words(normText)(t => t.length >= minLen && !(removeStopwords && stopwords(t)))

  /** `[^\w\s]` → space, per code point. */
  private def nonWordToSpace(s: String): String = {
    val e = new Edit(s)
    var i = 0
    while (i < s.length) {
      val cp = Character.codePointAt(s, i)
      val w = Character.charCount(cp)
      if (!isWord(cp) && !isSpace(cp)) e.replace(i, i + w, " ")
      i += w
    }
    e.result
  }

  /** The whole token is `\d{6,}` or `\d{4}-\d{2}-\d{2}`. */
  private def isIdToken(t: String): Boolean = {
    val run = digitRun(t, 0)
    if (runEnd(run) == t.length) runLen(run) >= 6
    else runLen(run) == 4 && {
      val m = runEnd(run)
      val r2 = if (t.charAt(m) == '-') digitRun(t, m + 1) else 0L
      runLen(r2) == 2 && runEnd(r2) < t.length && t.charAt(runEnd(r2)) == '-' && {
        val r3 = digitRun(t, runEnd(r2) + 1)
        runLen(r3) == 2 && runEnd(r3) == t.length
      }
    }
  }

  /** SimHash-side tokenizer — simhash_model.py:55-75 with the learner's
    * defaults: min_len=2, EMPTY stopword set, strict=False, strip_ids=False.
    * Input is the normalized doc text; `.lower()` there is a no-op on it but
    * we keep it for standalone use.
    */
  def simhashTokens(text: String, minLen: Int = 2, strict: Boolean = false,
                    stripIds: Boolean = false, stopwords: Set[String] = Set.empty): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    var s = text.toLowerCase(Locale.ROOT)
    if (strict) s = nonWordToSpace(s)
    words(s)(t => !(stripIds && isIdToken(t)) && t.length >= minLen && !stopwords(t))
  }

  /** Word k-shingles, space joiner \u2014 minhash_model.py:79-85. */
  def wordShingles(tokens: Array[String], k: Int): Array[String] = {
    if (k <= 1) return tokens.clone()
    if (tokens.length < k) return Array.empty
    val out = new Array[String](tokens.length - k + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** Word k-shingles with U+241F joiner \u2014 simhash_model.py:77-82. */
  def wordShinglesUnitSep(tokens: Array[String], k: Int): Array[String] = {
    if (k <= 1) return tokens.clone()
    if (tokens.length - k + 1 <= 0) return Array.empty
    (0 to tokens.length - k).map(i => tokens.slice(i, i + k).mkString("\u241F")).toArray
  }

  /** Overlapping char k-grams \u2014 minhash_model.py:87-91. */
  def charShingles(s: String, k: Int): Array[String] = {
    if (s == null || s.isEmpty || k <= 0 || s.length < k) return Array.empty
    (0 to s.length - k).map(i => s.substring(i, i + k)).toArray
  }

  private val FileExt = Pattern.compile("\\.[A-Za-z0-9]{1,6}$")
  private val NonWordRuns = Pattern.compile("[^\\w]+", U)

  /** filename_tokens \u2014 text_preproc.py:163-170: basename (both
    * separators), drop a short extension, non-word runs \u2192 space, strip,
    * lower, keep tokens that are not pure digits and have length >= 2,
    * first 20.
    */
  def filenameTokens(filename: String): Array[String] = {
    if (filename == null || filename.isEmpty) return Array.empty
    var name = filename.substring(filename.lastIndexOf('/') + 1)
    name = name.substring(name.lastIndexOf('\\') + 1)
    name = FileExt.matcher(name).replaceAll("")
    name = NonWordRuns.matcher(name).replaceAll(" ").strip().toLowerCase(Locale.ROOT)
    words(name)(t => t.nonEmpty && !t.forall(Character.isDigit) && t.length >= 2).take(20)
  }

  /** drop_repeating_lines \u2014 text_preproc.py:55-67. */
  def dropRepeatingLines(text: String, minCount: Int = 3, maxLen: Int = 120): String = {
    if (text == null || text.isEmpty) return ""
    // Python splitlines() splits on a wider set than \n; our inputs are
    // \n/\r\n/\r only, which it handles identically to this — EXCEPT that
    // splitlines yields no trailing element after a final terminator,
    // while Java's limit=-1 split keeps one: drop it.
    val parts = text.split("\r\n|\r|\n", -1)
    val trimmed =
      if (parts.last.isEmpty && (text.endsWith("\n") || text.endsWith("\r")))
        parts.dropRight(1)
      else parts
    val lines = trimmed.map(_.strip())
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    lines.foreach(ln => if (ln.nonEmpty) counts.update(ln, counts.getOrElse(ln, 0) + 1))
    val repetitive = counts.collect {
      case (ln, c) if c >= minCount && ln.length <= maxLen => ln
    }.toSet
    if (repetitive.isEmpty) lines.mkString("\n")
    else lines.filterNot(repetitive).mkString("\n")
  }

  /** sentence_split \u2014 text_preproc.py:154-160. */
  def sentenceSplit(text: String): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    SentSplit.split(text).map(_.strip()).filter(_.nonEmpty)
  }

  /** Exact-duplicate canonicalization \u2014 arbiter.py:198-218 ("unicode_lines"):
    * CRLF/CR → LF, strip leading BOMs, NFC.
    */
  def canonicalizeExact(s: String): String = {
    if (s == null) return ""
    var t = s.replace("\r\n", "\n").replace('\r', '\n')
    while (t.startsWith("\uFEFF")) t = t.substring(1)
    Normalizer.normalize(t, Normalizer.Form.NFC)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** sha256 of canonicalized text \u2014 arbiter.py:212-218. */
  def exactHash(text: String): String = sha256Hex(canonicalizeExact(text))

  /** content_hash \u2014 text_preproc.py:248-253. */
  def contentHash(normText: String): String = sha256Hex(if (normText == null) "" else normText)
}
