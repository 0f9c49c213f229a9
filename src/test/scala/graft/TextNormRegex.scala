package graft

import java.text.Normalizer
import java.util.Locale
import java.util.regex.Pattern

/** The regex chain `graft.norm.TextNorm` ran before its hand-written
  * scanners: 12 `java.util.regex` passes per `normalize` plus a `\s+` split
  * for the tokenizers. Kept test-side as the reference TextNormDiffSpec
  * diffs the scanners against (as `graft.sa.SuffixLCS` is for the suffix
  * automaton); it is not a second path in main.
  */
object TextNormRegex {

  private final val U = Pattern.UNICODE_CHARACTER_CLASS

  private val PageNum =
    Pattern.compile("\\bpage\\s+\\d+(\\s+of\\s+\\d+)?\\b",
      Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | U)
  private val Hr = Pattern.compile("\\n-{2,}\\n", U)
  private val SoftHyphenEol = Pattern.compile("-\\n", U)
  private val MultiSpace = Pattern.compile("\\s+", U)
  private val DateRe = Pattern.compile("\\b\\d{4}-\\d{2}-\\d{2}\\b", U)
  private val LongId = Pattern.compile("\\b\\d{6,}\\b", U)
  private val SoftHyphenChar = Pattern.compile("\u00AD")
  private val Nbsp = Pattern.compile("\u00A0")
  private val LineHyphen = Pattern.compile("(?<=\\w)-\\s*(?:\\r?\\n|\\r)\\s*(?=\\w)", U)
  private val MultiNl = Pattern.compile("(?:\\r?\\n){2,}", U)
  private val BulletPrefix = Pattern.compile("^[\u2022\u2023\u25E6\\-\\*\u00B7]\\s+",
    Pattern.MULTILINE | Pattern.UNIX_LINES | U)
  private val NonWordSpace = Pattern.compile("[^\\w\\s]", U)
  private val FullDate = Pattern.compile("\\d{4}-\\d{2}-\\d{2}", U)
  private val FullLongId = Pattern.compile("\\d{6,}", U)

  def normalize(text: String, strict: Boolean = true, stripDatesIds: Boolean = true): String = {
    if (text == null || text.isEmpty) return ""
    var t = Normalizer.normalize(text, Normalizer.Form.NFKC)
    t = SoftHyphenChar.matcher(t).replaceAll("")
    t = Nbsp.matcher(t).replaceAll(" ")
    t = t.replace('\u2013', '-').replace('\u2014', '-')
    t = t.replace('\u2018', '\'').replace('\u2019', '\'')
    t = t.replace('\u201C', '"').replace('\u201D', '"')
    t = PageNum.matcher(t).replaceAll(" ")
    t = Hr.matcher(t).replaceAll("\n")
    t = LineHyphen.matcher(t).replaceAll("")
    t = SoftHyphenEol.matcher(t).replaceAll("")
    t = BulletPrefix.matcher(t).replaceAll("")
    t = MultiNl.matcher(t).replaceAll("\n")
    if (strict) t = NonWordSpace.matcher(t).replaceAll(" ")
    if (stripDatesIds) {
      t = DateRe.matcher(t).replaceAll(" ")
      t = LongId.matcher(t).replaceAll(" ")
    }
    MultiSpace.matcher(t).replaceAll(" ").strip().toLowerCase(Locale.ROOT)
  }

  def pySplit(s: String): Array[String] = {
    val trimmed = s.strip()
    if (trimmed.isEmpty) Array.empty else MultiSpace.split(trimmed)
  }

  def tokenize(normText: String, minLen: Int = 2, removeStopwords: Boolean = true,
               stopwords: Set[String] = graft.norm.TextNorm.DefaultStopwords): Array[String] =
    pySplit(normText).filter(t => t.length >= minLen && !(removeStopwords && stopwords(t)))

  def simhashTokens(text: String, minLen: Int = 2, strict: Boolean = false,
                    stripIds: Boolean = false, stopwords: Set[String] = Set.empty): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    var s = text.toLowerCase(Locale.ROOT)
    if (strict) s = NonWordSpace.matcher(s).replaceAll(" ")
    pySplit(s).filter { t =>
      !(stripIds && (FullLongId.matcher(t).matches() || FullDate.matcher(t).matches())) &&
        t.length >= minLen && !stopwords(t)
    }
  }
}
