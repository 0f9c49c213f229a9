package graft

import graft.norm.TextNorm
import java.util.regex.Pattern
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of TextNorm's hand-written scanners against the regex
  * chain they replace (`TextNormRegex`): `normalize` under all four flag
  * combinations, `tokenize` and `simhashTokens` must agree byte for byte on
  * every golden vector and on seeded random strings built from the chain's
  * triggers.
  */
class TextNormDiffSpec extends AnyFunSuite {

  private def show(s: String): String =
    s.flatMap(c => if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04X")

  /** The first difference between the scanners and the regex chain on `s`. */
  private def diff(s: String): Option[String] = {
    val flags = Seq((true, true), (true, false), (false, true), (false, false))
    val norm = flags.iterator.map { case (strict, ids) =>
      (s"normalize(strict=$strict, ids=$ids)", TextNorm.normalize(s, strict, ids),
        TextNormRegex.normalize(s, strict, ids))
    }
    def arr(name: String, ours: Array[String], ref: Array[String]) =
      (name, ours.mkString("[", "|", "]"), ref.mkString("[", "|", "]"))
    val toks = Iterator(
      arr("tokenize", TextNorm.tokenize(s), TextNormRegex.tokenize(s)),
      arr("tokenize(minLen=0, keep stopwords)", TextNorm.tokenize(s, 0, removeStopwords = false),
        TextNormRegex.tokenize(s, 0, removeStopwords = false)),
      arr("simhashTokens", TextNorm.simhashTokens(s), TextNormRegex.simhashTokens(s)),
      arr("simhashTokens(strict, stripIds, minLen=1)",
        TextNorm.simhashTokens(s, 1, strict = true, stripIds = true),
        TextNormRegex.simhashTokens(s, 1, strict = true, stripIds = true)),
      arr("simhashTokens(stripIds, minLen=0)", TextNorm.simhashTokens(s, 0, stripIds = true),
        TextNormRegex.simhashTokens(s, 0, stripIds = true)))
    (norm ++ toks).collectFirst { case (name, ours, ref) if ours != ref =>
      s"$name differs on \"${show(s)}\":\n ours = ${show(ours)}\n ref  = ${show(ref)}"
    }
  }

  test("character classes equal \\w \\s \\d (UNICODE_CHARACTER_CLASS) on every code point") {
    val u = Pattern.UNICODE_CHARACTER_CLASS
    val w = Pattern.compile("\\w", u).matcher("")
    val sp = Pattern.compile("\\s", u).matcher("")
    val d = Pattern.compile("\\d", u).matcher("")
    val bad = (0 to Character.MAX_CODE_POINT).iterator.filter { cp =>
      val s = new String(Character.toChars(cp))
      TextNorm.isWord(cp) != w.reset(s).matches() || TextNorm.isSpace(cp) != sp.reset(s).matches() ||
        TextNorm.isDigit(cp) != d.reset(s).matches()
    }.take(5).toList
    assert(bad.isEmpty, bad.map(cp => f"U+$cp%04X"))
  }

  test("scanners equal the regex chain on every golden vector") {
    val inputs = GoldenFixtures.normGolden.flatMap(v => Seq(v.raw, v.norm)) ++
      GoldenFixtures.corpus.map(_.text)
    val bad = inputs.iterator.flatMap(diff).take(1).toList
    assert(bad.isEmpty, bad.mkString)
  }

  // Fragments that trigger (or nearly trigger) each pass, plus the code
  // points where Java's classes, strip() and split() disagree.
  private val fragments: IndexedSeq[String] = IndexedSeq(
    "page", "PAGE", "Page", "pAgE", "page ", "of", "OF", " of ",
    "0", "1", "7", "2024", "12", "123456", "2020-01-02", "1999-12-31",
    "\u0663", "\u0967", "\uFF11", "\uD801\uDCA0", "\uD835\uDFCE", // non-ASCII / supplementary digits
    "-", "--", "---", "\n", "\r", "\r\n", "\n\n", "\u00AD", "\u00A0",
    "\u2022", "\u2023", "\u25E6", "*", "\u00B7", "_", "\u203F",
    "\u0301", "\u0308", "\u20DD", "\u0903", "\u200D", "\u200C",
    "\u001C", "\u001D", "\u001E", "\u001F", "\u0085", "\u2028", "\u2029", "\u3000",
    "\u2007", "\u202F", "\u000B", "\f", "\t", " ", "  ",
    "\uD840\uDC00", "\uD835\uDC00", "\uD83D\uDE00", "\uD800", "\uDC00", // pairs and lone halves
    "\u2013", "\u2014", "\u2018", "\u2019", "\u201C", "\u201D", "'", "\"",
    "a", "b", "x", "the", "and", "word", "\u00E9", "\u00DF", "\u0130", "\u03A3", "\u00C5", "\u212A",
    "\uFB01", "\u2460", "\u00BD", ".", "!", "?", ",", "#", "\u00B2")

  private val genText: Gen[String] =
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf(fragments))).map(_.mkString)

  test("scanners equal the regex chain on 120k seeded random strings") {
    val prop = Prop.forAll(genText) { s =>
      val d = diff(s)
      Prop(d.isEmpty) :| d.getOrElse("")
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(120000).withInitialSeed(Seed(20261018L)).withWorkers(1), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("\n")
      case other => other.toString
    })
    assert(res.succeeded >= 120000, res.status)
  }
}
