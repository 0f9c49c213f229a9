package graft.sa

/** Longest common substring via a generalized suffix array.
  *
  * The north-rule "suffix-array substring pass": candidate pairs that fail
  * the fast Jaccard/Hamming checks may still share one long verbatim span
  * (embedded boilerplate, block quotes). We build a suffix array over
  * a + SEP + b (prefix-doubling, O(n log n)), the LCP array (Kasai,
  * O(n)), and return the max LCP between lexicographically adjacent
  * suffixes that come from different sides. New work specified by
  * BASELINE.json — the reference has no substring pass (SURVEY.md scope
  * notes). The pipeline's span pass runs the linear-time SuffixAutomaton;
  * this implementation is the reference the tests compare it against.
  */
object SuffixLCS extends Serializable {

  /** Reusable scratch buffers — one per partition/thread. At 32 local
    * threads the per-pair array churn otherwise turns the verify stage
    * allocation-bound.
    */
  final class Workspace(maxLen: Int) {
    val s = new Array[Int](maxLen)
    val rank = new Array[Int](maxLen)
    val packed = new Array[Long](maxLen)
    val sa = new Array[Int](maxLen)
    val lcp = new Array[Int](maxLen)
    val inv = new Array[Int](maxLen)
  }

  /** Length (in chars) of the longest common substring of a and b. */
  def longestCommonSubstring(a: String, b: String): Int = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    longestCommonSubstring(a, b, new Workspace(a.length + b.length + 1))
  }

  def longestCommonSubstring(a: String, b: String, ws: Workspace): Int = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    val n1 = a.length
    val n = n1 + 1 + b.length
    // Rank alphabet: chars of a, sentinel 0, chars of b. Normalized text
    // contains no NUL; map chars to code+1 to keep 0 as unique sentinel.
    val s = ws.s
    var i = 0
    while (i < n1) { s(i) = a.charAt(i) + 1; i += 1 }
    s(n1) = 0
    i = 0
    while (i < b.length) { s(n1 + 1 + i) = b.charAt(i) + 1; i += 1 }

    val sa = suffixArrayInto(s, n, ws)
    val lcp = kasaiInto(s, n, sa, ws)

    var best = 0
    i = 1
    while (i < n) {
      val x = sa(i - 1)
      val y = sa(i)
      if ((x < n1) != (y < n1) && lcp(i) > best) best = lcp(i)
      i += 1
    }
    best
  }

  /** Prefix-doubling suffix array over an int sequence (values >= 0,
    * length < 2^21 ≈ 2M — far above the capped pair-text sizes).
    *
    * Each doubling round packs (rank, rank+k, index) into one long and
    * sorts a primitive array — no boxing, no comparator dispatch.
    */
  def suffixArray(s: Array[Int]): Array[Int] = {
    val out = suffixArrayInto(s, s.length, new Workspace(s.length))
    java.util.Arrays.copyOf(out, s.length)
  }

  private def suffixArrayInto(s: Array[Int], n: Int, ws: Workspace): Array[Int] = {
    require(n < (1 << 21), s"suffix array input too long: $n")
    val rank = ws.rank
    val packed = ws.packed
    val sa = ws.sa
    var i = 0
    while (i < n) { rank(i) = s(i); i += 1 }
    var k = 1
    var done = false
    while (!done) {
      i = 0
      while (i < n) {
        val r2 = if (i + k < n) rank(i + k) + 1 else 0 // 0 = "past end", sorts first
        packed(i) = (rank(i).toLong << 42) | (r2.toLong << 21) | i.toLong
        i += 1
      }
      java.util.Arrays.sort(packed, 0, n)
      // reassign ranks from the sorted (rank, rank2) keys
      val keyMask = ~((1L << 21) - 1)
      var newRank = 0
      i = 0
      while (i < n) {
        val idx = (packed(i) & ((1L << 21) - 1)).toInt
        if (i > 0 && (packed(i) & keyMask) != (packed(i - 1) & keyMask)) newRank += 1
        rank(idx) = newRank
        sa(i) = idx
        i += 1
      }
      if (newRank == n - 1 || k >= n) done = true else k <<= 1
    }
    sa
  }

  /** Kasai LCP: lcp(i) = LCP(suffix sa(i-1), suffix sa(i)); lcp(0) = 0. */
  def kasai(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val out = kasaiInto(s, s.length, sa, new Workspace(s.length))
    java.util.Arrays.copyOf(out, s.length)
  }

  private def kasaiInto(s: Array[Int], n: Int, sa: Array[Int], ws: Workspace): Array[Int] = {
    val inv = ws.inv
    var i = 0
    while (i < n) { inv(sa(i)) = i; i += 1 }
    val lcp = ws.lcp
    java.util.Arrays.fill(lcp, 0, n, 0)
    var h = 0
    i = 0
    while (i < n) {
      if (inv(i) > 0) {
        val j = sa(inv(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(inv(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    lcp
  }
}
