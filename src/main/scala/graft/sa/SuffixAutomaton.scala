package graft.sa

/** Longest common substring in O(|a| + |b|) via the suffix automaton of
  * `a` — the linear-time twin of the generalized-suffix-array pass
  * (SuffixLCS), with identical exact semantics: SuffixAutomatonSpec
  * asserts equality against the SA+LCP implementation on randomized,
  * planted-span and unicode inputs.
  *
  * Why it exists: at the 150k-page bench scale the prefix-doubling SA pass
  * measured 2,317s of the verify stage's ~2,730 core-seconds
  * (metrics.json `span_wall_ms` — ~85% of verify CPU, the pipeline's
  * single dominant cost). The automaton computes the same longest shared
  * span ~50x cheaper per pair: one O(n) build over the shorter text plus
  * one O(m) stream of the longer, no sorting anywhere. It is the only span
  * algorithm on the pipeline path; the suffix-array implementation remains
  * the specification/reference that tests compare against.
  *
  * Storage is flat primitive arrays with per-state adjacency lists (a
  * suffix automaton has < 2n states and < 3n transitions), reused across
  * pairs via a per-partition Workspace like SuffixLCS.
  */
object SuffixAutomaton extends Serializable {

  /** Reusable per-partition scratch, sized for build strings up to
    * `maxLen` chars. No clearing needed between calls: every used slot is
    * (re)initialized on allocation.
    */
  final class Workspace(maxLen: Int) {
    val maxStates: Int = 2 * maxLen + 4
    val maxEntries: Int = 4 * maxLen + 8
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val head = new Array[Int](maxStates)
    val entChar = new Array[Char](maxEntries)
    val entNext = new Array[Int](maxEntries)
    val entTo = new Array[Int](maxEntries)
  }

  /** Length (in chars) of the longest common substring of a and b. */
  def lcs(a: String, b: String): Int = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    lcs(a, b, new Workspace(math.min(a.length, b.length)))
  }

  def lcs(a: String, b: String, ws: Workspace): Int = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    // build over the shorter side (build costs ~3x per char vs streaming)
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    require(2 * s.length + 4 <= ws.maxStates,
      s"SuffixAutomaton workspace too small: ${s.length} chars")

    val len = ws.len; val link = ws.link; val head = ws.head
    val entChar = ws.entChar; val entNext = ws.entNext; val entTo = ws.entTo
    var nStates = 1
    var nEntries = 0
    len(0) = 0; link(0) = -1; head(0) = -1
    var last = 0

    // adjacency helpers (avg out-degree < 1.5; the root holds the alphabet)
    def findEntry(v: Int, c: Char): Int = {
      var e = head(v)
      while (e != -1 && entChar(e) != c) e = entNext(e)
      e
    }
    def trans(v: Int, c: Char): Int = {
      val e = findEntry(v, c)
      if (e == -1) -1 else entTo(e)
    }
    def setTrans(v: Int, c: Char, to: Int): Unit = {
      val e = findEntry(v, c)
      if (e != -1) entTo(e) = to
      else {
        entChar(nEntries) = c; entTo(nEntries) = to
        entNext(nEntries) = head(v); head(v) = nEntries
        nEntries += 1
      }
    }
    def newState(l: Int, lk: Int): Int = {
      val st = nStates; nStates += 1
      len(st) = l; link(st) = lk; head(st) = -1
      st
    }

    // standard online SAM construction over s
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val cur = newState(len(last) + 1, -1)
      var p = last
      while (p != -1 && trans(p, c) == -1) { setTrans(p, c, cur); p = link(p) }
      if (p == -1) link(cur) = 0
      else {
        val q = trans(p, c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = newState(len(p) + 1, link(q))
          var e = head(q)
          while (e != -1) { setTrans(clone, entChar(e), entTo(e)); e = entNext(e) }
          while (p != -1 && trans(p, c) == q) { setTrans(p, c, clone); p = link(p) }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }

    // stream t through the automaton tracking the current match length
    var v = 0
    var l = 0
    var best = 0
    i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      val direct = trans(v, c)
      if (direct != -1) { v = direct; l += 1 }
      else {
        var p = v
        while (p != -1 && trans(p, c) == -1) p = link(p)
        if (p == -1) { v = 0; l = 0 }
        else { l = len(p) + 1; v = trans(p, c) }
      }
      if (l > best) best = l
      i += 1
    }
    best
  }
}
