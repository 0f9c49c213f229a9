package graft

import graft.sig.Winnow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprints (sig/Winnow): the SIGMOD'03 guarantee — any
  * shared verbatim token run of >= k + w - 1 tokens yields a shared
  * fingerprint — plus bit-parity of the Spark expression chain against a
  * plain-Scala reference implementation, the short-doc edge, and the
  * shared mega-bucket guard on the fingerprint join.
  */
class WinnowSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val K = 4
  private val W = 4

  /** Plain-Scala reference: same identity (md5 hex16 prefix of the
    * space-joined k-gram, lexicographic window min, distinct).
    */
  private def refFps(text: String): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
    if (toks.length < K + W - 1) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = toks.sliding(K).map { g =>
      md.reset()
      md.digest(g.mkString(" ").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 16)
    }.toVector
    hs.sliding(W).map(_.min).toSet
  }

  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  test("guarantee: a shared run of k+w-1 tokens yields a shared fingerprint") {
    import spark.implicits._
    val run = words("shared", K + W - 1) // exactly the minimum guaranteed span
    val a = (words("aa", 20) ++ run ++ words("ab", 20)).mkString(" ")
    val b = (words("ba", 17) ++ run ++ words("bb", 23)).mkString(" ")
    val c = words("cc", 60).mkString(" ") // no overlap with anything
    val df = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")

    val fps = Winnow.fingerprintRows(df, "doc_id", "text", K, W)
    val got = Winnow.matches(spark, fps, "doc_id", minShared = 1L)._1
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(got.contains((0L, 1L)), s"planted shared run not detected: $got")
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated doc matched: $got")
  }

  test("Spark chain is bit-identical to the plain-Scala reference") {
    import spark.implicits._
    val rng = new graft.pages.PagesSource.DetRng(7L)
    val vocab = (0 until 50).map(i => s"v$i")
    val docs = (0L until 40L).map { id =>
      val n = 10 + rng.nextInt(80)
      (id, (0 until n).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = Winnow.fingerprints(df, "doc_id", "text", K, W)
      .as[(Long, Seq[String])].collect().map(r => r._1 -> r._2.toSet).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == refFps(text), s"fingerprint mismatch for doc $id")
    }
  }

  test("docs shorter than k+w-1 tokens have no fingerprints") {
    import spark.implicits._
    val df = Seq((0L, words("x", K + W - 2).mkString(" ")), (1L, ""), (2L, "  "))
      .toDF("doc_id", "text")
    val got = Winnow.fingerprintRows(df, "doc_id", "text", K, W).count()
    assert(got == 0L, s"short/empty docs produced $got fingerprints")
  }

  test("mega-fingerprint guard drops corpus boilerplate, keeps real pairs") {
    import spark.implicits._
    // 200 docs all embedding the SAME template run (its fingerprints land
    // in buckets of size 200) with otherwise doc-unique text; one planted
    // partial-copy pair of a distinct family.
    val template = words("tmpl", 12)
    val clones = (0L until 200L).map(id =>
      (id, (words(s"u${id}a", 15) ++ template ++ words(s"u${id}b", 15)).mkString(" ")))
    val run = words("copyrun", 16)
    val pair = Seq(
      (1000L, (words("pa", 20) ++ run).mkString(" ")),
      (1001L, (run ++ words("pb", 20)).mkString(" ")))
    val df = (clones ++ pair).toDF("doc_id", "text")

    val fps = Winnow.fingerprintRows(df, "doc_id", "text", K, W)
    val (pairs, dropped) = Winnow.matches(spark, fps, "doc_id", minShared = 1L, maxFpDocs = 50L)
    val got = pairs.as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet

    assert(dropped > 0, "template fingerprints were not dropped")
    assert(got.contains((1000L, 1001L)), s"real partial-copy pair lost: $got")
    assert(!got.exists(p => p._1 < 200L && p._2 < 200L),
      s"template clique leaked through the guard: ${got.size} pairs")
  }
}
