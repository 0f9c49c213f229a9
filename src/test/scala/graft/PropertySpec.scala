package graft

import graft.model.Schemas
import graft.pages.PagesSource.DetRng
import graft.sa.SuffixLCS
import graft.sig.{MinHashSig, SimHash}
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests with deterministic seeded generators (the
  * scalatest/scalacheck bridge artifact is not available offline, so
  * properties are exercised over seeded samples).
  */
class PropertySpec extends AnyFunSuite {

  private def randString(rng: DetRng, n: Int, alpha: String): String =
    (0 until n).map(_ => alpha(rng.nextInt(alpha.length))).mkString

  test("pair key is order-invariant") {
    val rng = new DetRng(1)
    (0 until 200).foreach { _ =>
      val a = randString(rng, rng.nextInt(20), "abcxyz/:.")
      val b = randString(rng, rng.nextInt(20), "abcxyz/:.")
      assert(Schemas.pairKey(a, b) == Schemas.pairKey(b, a))
    }
  }

  test("jaccardSorted bounds and identity") {
    val rng = new DetRng(2)
    (0 until 200).foreach { _ =>
      val as = Array.fill(rng.nextInt(50))(rng.nextLong()).distinct.sorted
      val bs = Array.fill(rng.nextInt(50))(rng.nextLong()).distinct.sorted
      val j = MinHashSig.jaccardSorted(as, bs)
      assert(j >= 0.0 && j <= 1.0)
      if (as.nonEmpty) assert(MinHashSig.jaccardSorted(as, as) == 1.0)
    }
  }

  test("hamming within [0, bits]; distance to self is 0") {
    val rng = new DetRng(3)
    (0 until 200).foreach { _ =>
      val (ah, al, bh, bl) = (rng.nextLong(), rng.nextLong(), rng.nextLong(), rng.nextLong())
      val h = SimHash.hamming(ah, al, bh, bl)
      assert(h >= 0 && h <= 128)
      assert(SimHash.hamming(ah, al, ah, al) == 0)
      // bit masking: 64-bit mode ignores hi
      assert(SimHash.hamming(ah, al, bh, al, 64) == 0 || (ah != bh))
    }
  }

  test("suffix-array LCS equals brute force on random small strings") {
    def brute(a: String, b: String): Int = {
      var best = 0
      for (i <- 0 until a.length; j <- 0 until b.length) {
        var k = 0
        while (i + k < a.length && j + k < b.length && a(i + k) == b(j + k)) k += 1
        if (k > best) best = k
      }
      best
    }
    val rng = new DetRng(4)
    (0 until 300).foreach { _ =>
      val a = randString(rng, 1 + rng.nextInt(30), "abc")
      val b = randString(rng, 1 + rng.nextInt(30), "abc")
      assert(SuffixLCS.longestCommonSubstring(a, b) == brute(a, b), s"a=$a b=$b")
    }
  }

  test("LCS finds a planted long shared span") {
    val span = "the quick brown fox jumps over the lazy dog " * 5
    val a = "prefix junk text " + span + " suffix a"
    val b = "totally different beginning " + span + " other end"
    assert(SuffixLCS.longestCommonSubstring(a, b) >= span.length)
  }

  test("suffix automaton LCS == suffix-array LCS on random / planted / unicode inputs") {
    import graft.sa.SuffixAutomaton
    val rng = new DetRng(17)
    // shared workspace across ALL cases — exercises clean reuse
    val ws = new SuffixAutomaton.Workspace(4096)
    // random small alphabet (forces dense repeats + clones)
    (0 until 400).foreach { _ =>
      val a = randString(rng, 1 + rng.nextInt(60), "ab")
      val b = randString(rng, 1 + rng.nextInt(60), "ab")
      assert(SuffixAutomaton.lcs(a, b, ws) == SuffixLCS.longestCommonSubstring(a, b),
        s"a=$a b=$b")
    }
    // larger mixed-alphabet strings with planted spans
    (0 until 40).foreach { i =>
      val span = randString(rng, 50 + rng.nextInt(200), "abcdefgh ")
      val a = randString(rng, rng.nextInt(800), "abcdefgh ") + span +
        randString(rng, rng.nextInt(800), "abcdefgh ")
      val b = randString(rng, rng.nextInt(800), "hgfedcba ") + span +
        randString(rng, rng.nextInt(800), "hgfedcba ")
      assert(SuffixAutomaton.lcs(a, b, ws) == SuffixLCS.longestCommonSubstring(a, b), s"case $i")
    }
    // unicode (CJK + combining), identical, disjoint, empty
    val cjk = "这是一个测试文档其中包含很多汉字"
    assert(SuffixAutomaton.lcs(cjk, "文档其中包含", ws) ==
      SuffixLCS.longestCommonSubstring(cjk, "文档其中包含"))
    assert(SuffixAutomaton.lcs(cjk, cjk, ws) == cjk.length)
    assert(SuffixAutomaton.lcs("abc", "xyz", ws) == 0)
    assert(SuffixAutomaton.lcs("", "abc") == 0)
    assert(SuffixAutomaton.lcs("abc", "") == 0)
    assert(SuffixAutomaton.lcs(null, "abc") == 0)
  }

  test("suffix automaton: one build streamed against many texts == SuffixLCS per pair") {
    import graft.sa.SuffixAutomaton
    val rng = new DetRng(29)
    val ws = new SuffixAutomaton.Workspace(16)
    (0 until 30).foreach { i =>
      val anchor = randString(rng, rng.nextInt(300), "abcd ")
      SuffixAutomaton.build(anchor, ws)
      val others = (0 until 12).map(_ => randString(rng, rng.nextInt(400), "abcd ")) ++
        Seq("", anchor, anchor.drop(7) + "zz" + anchor.take(9))
      others.foreach { t =>
        assert(SuffixAutomaton.stream(t, ws) == SuffixLCS.longestCommonSubstring(anchor, t),
          s"case $i: anchor=$anchor t=$t")
      }
    }
    // mixed with one-pair calls on the same workspace: a later build replaces it
    val sup = "\uD840\uDC00\uD840\uDC01\uD840\uDC02"
    SuffixAutomaton.build("xx" + sup + "yy", ws)
    assert(SuffixAutomaton.stream(sup + "q", ws) == sup.length)
    assert(SuffixAutomaton.lcs("abc", "zabcz", ws) == 3)
    SuffixAutomaton.build(null, ws)
    assert(SuffixAutomaton.stream("abc", ws) == 0)
  }

  test("suffix automaton: texts capped in code points may exceed the workspace in UTF-16 units") {
    import graft.sa.SuffixAutomaton
    // 20 code points, 30 UTF-16 units: 10 CJK Ext-B letters (surrogate pairs)
    val a = (0 until 10).map(i => new String(Character.toChars(0x20000 + i)) + "a").mkString
    val b = (0 until 10).map(i => new String(Character.toChars(0x20000 + i)) + "b").mkString
    assert(a.codePointCount(0, a.length) == 20 && a.length == 30)
    val ws = new SuffixAutomaton.Workspace(20)
    assert(SuffixAutomaton.lcs(a, b, ws) == SuffixLCS.longestCommonSubstring(a, b))
    assert(SuffixAutomaton.lcs(a, a, ws) == 30)
    assert(SuffixAutomaton.lcs(a, "x", ws) == 0) // the grown workspace still serves short texts
  }

  /** Runs the pipeline and checks every verdict's shared_span_len against
    * SuffixLCS over the reps' norm_text cut to spanMaxTextChars code
    * points. Returns the number of span pairs with a nonzero span and the
    * number whose capped texts both hold more UTF-16 units than the cap.
    */
  private def checkSpanPass(pages: org.apache.spark.sql.Dataset[Schemas.Page], dir: String,
                            conf: DedupConfig): (Int, Int) = {
    val spark = TestSpark.spark
    import spark.implicits._
    TestUtil.deleteRecursively(new java.io.File(dir))
    graft.plans.DedupPipeline.run(spark, pages, dir, conf, resume = false)
    val verdicts = spark.read.parquet(s"$dir/06_verdicts")
      .select($"a", $"b", $"exact", $"jaccard", $"vote_sim", $"vote_min", $"shared_span_len")
      .as[(String, String, Boolean, Double, Boolean, Boolean, Int)].collect().toSeq
    // texts cut to spanMaxTextChars code points (Spark's substring semantics)
    val cap = conf.spanMaxTextChars
    val texts = spark.read.parquet(s"$dir/01_norm").select($"url", $"norm_text")
      .as[(String, String)].collect()
      .map { case (u, t) =>
        val cps = t.codePoints().limit(cap.toLong).toArray
        u -> new String(cps, 0, cps.length)
      }.toMap
    // the span subset, re-derived from the collected verdicts: non-exact
    // pairs that the signature votes leave short of consensus, above the
    // jaccard floor, each anchor doc keeping its first spanMaxPairsPerDoc
    // by (jaccard desc, b)
    val scored = verdicts
      .filter { case (_, _, exact, j, vs, vm, _) =>
        !exact && j >= conf.spanCandidateMinJaccard &&
          (if (vs) 1 else 0) + (if (vm) 1 else 0) < conf.requiredVotes }
      .groupBy(_._1).values
      .flatMap(_.sortBy(v => (-v._4, v._2)).take(conf.spanMaxPairsPerDoc))
      .map(v => (v._1, v._2)).toSet
    val diffs = verdicts.filter { case (a, b, _, _, _, _, span) =>
      val want = if (scored((a, b))) SuffixLCS.longestCommonSubstring(texts(a), texts(b)) else 0
      span != want
    }
    assert(diffs.isEmpty, s"${diffs.size} shared_span_len differences vs SuffixLCS: ${diffs.take(3)}")
    (verdicts.count(_._7 > 0),
      scored.count { case (a, b) => texts(a).length > cap && texts(b).length > cap })
  }

  test("pipeline span pass: shared_span_len == SuffixLCS of the capped rep texts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val (fam, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 25, membersPerFamily = 5)
    // planted mid-jaccard pairs (~0.67: below the 0.75 vote threshold,
    // above the 0.2 span floor) sharing a long contiguous span — these land
    // in the verify stage's span subset, which pure near-dup families miss
    val rng2 = new DetRng(77)
    val planted = (0 until 6).flatMap { i =>
      val span = (0 until 160).map(_ => s"s${i}x${rng2.nextInt(500)}").mkString(" ")
      val ua = (0 until 40).map(_ => s"ua${i}x${rng2.nextInt(500)}").mkString(" ")
      val ub = (0 until 40).map(_ => s"ub${i}x${rng2.nextInt(500)}").mkString(" ")
      Seq(graft.model.Schemas.Page(s"http://span/$i/a",
          new java.sql.Timestamp(1704067200000L), Array.emptyByteArray, span + " " + ua, "en"),
        graft.model.Schemas.Page(s"http://span/$i/b",
          new java.sql.Timestamp(1704067200000L), Array.emptyByteArray, ub + " " + span, "en"))
    }
    val pages = fam.union(spark.createDataset(planted))
    val (spans, _) = checkSpanPass(pages, "/tmp/graft_test_spanalg", DedupConfig.balanced)
    assert(spans > 0, "no span pair exercised the pass")
  }

  test("pipeline span pass: texts capped in code points run through the automaton") {
    val spark = TestSpark.spark
    import spark.implicits._
    // planted mid-jaccard pairs (as above) whose every token starts with a
    // CJK Ext-B letter: both sides' texts cut to 24 code points hold more
    // than 24 UTF-16 units
    val letter = (i: Int) => new String(Character.toChars(0x20000 + i))
    val rng = new DetRng(78)
    val ts = new java.sql.Timestamp(1704067200000L)
    val planted = (0 until 6).flatMap { i =>
      def words(tag: String, n: Int) =
        (0 until n).map(_ => s"${letter(rng.nextInt(40))}$tag${i}x${rng.nextInt(500)}").mkString(" ")
      val span = words("s", 160)
      Seq(Schemas.Page(s"http://supp/$i/a", ts, Array.emptyByteArray, span + " " + words("ua", 40), "en"),
        Schemas.Page(s"http://supp/$i/b", ts, Array.emptyByteArray, words("ub", 40) + " " + span, "en"))
    }
    val (spans, overCap) = checkSpanPass(spark.createDataset(planted), "/tmp/graft_test_spansupp",
      DedupConfig.balanced.copy(spanMaxTextChars = 24))
    assert(overCap > 0, "no span pair had both capped texts longer than the cap in UTF-16 units")
    assert(spans > 0, "no span pair exercised the pass")
  }

  test("MinHash signature is independent of shingle order") {
    val (as, bs) = MinHashSig.permutations(64)
    val rng = new DetRng(5)
    (0 until 50).foreach { _ =>
      val xs = Array.fill(20 + rng.nextInt(100))(rng.nextLong()).distinct
      val sorted = xs.sorted
      val reversed = xs.reverse
      assert(MinHashSig.signature(sorted, as, bs).toSeq ==
        MinHashSig.signature(reversed, as, bs).toSeq)
    }
  }

  test("SimHash is order-invariant and deterministic") {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon")
    val rng = new DetRng(6)
    (0 until 50).foreach { _ =>
      val toks = Array.fill(rng.nextInt(40))(words(rng.nextInt(words.length)))
      assert(SimHash.fromTokens(toks) == SimHash.fromTokens(toks.reverse))
    }
  }

  test("mulmod correctness via signature determinism across permutation seeds") {
    // same input, different permutation seeds -> different but stable sigs
    val in = Array.tabulate(100)(i => i.toLong * 0x9E3779B97F4A7C15L)
    val (a1, b1) = MinHashSig.permutations(64, 13)
    val (a2, b2) = MinHashSig.permutations(64, 14)
    val s1 = MinHashSig.signature(in.sorted, a1, b1)
    val s2 = MinHashSig.signature(in.sorted, a2, b2)
    assert(s1.toSeq != s2.toSeq)
    assert(s1.forall(v => v >= 0 && v < MinHashSig.MersennePrime))
  }
}
