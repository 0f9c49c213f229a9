package graft.sa

/** Longest common substring in O(|a| + |b|) via the suffix automaton of
  * one text — the linear-time twin of the generalized-suffix-array pass
  * (SuffixLCS), with identical exact semantics: PropertySpec asserts
  * equality against the SA+LCP implementation on randomized, planted-span
  * and unicode inputs, for single pairs and for one build streamed against
  * many texts.
  *
  * Why it exists: at the 150k-page bench scale the prefix-doubling SA pass
  * measured 2,317s of the verify stage's ~2,730 core-seconds
  * (metrics.json `span_wall_ms` — ~85% of verify CPU, the pipeline's
  * single dominant cost). The automaton computes the same longest shared
  * span ~50x cheaper per pair: one O(n) build plus one O(m) stream, no
  * sorting anywhere. It is the only span algorithm on the pipeline path;
  * the suffix-array implementation remains the specification/reference
  * that tests compare against.
  *
  * Build and stream are separate calls: `build` leaves the automaton of a
  * text in a Workspace, and any number of `stream` calls measure other
  * texts against it. The build is ~2/3 of one pair's cost, so the span
  * pass builds each anchor doc once for all its pairs (verifyStage).
  * `lcs` is the one-pair form: it builds over the shorter text (build
  * costs ~3x per char vs streaming) and streams the longer.
  *
  * Storage is flat primitive arrays with per-state adjacency lists (a
  * suffix automaton has < 2n states and < 3n transitions), reused across
  * pairs via a per-partition Workspace like SuffixLCS.
  */
object SuffixAutomaton extends Serializable {

  /** Reusable per-partition scratch holding one built automaton. Sized
    * for build texts of `maxLen` UTF-16 units up front and grown on demand
    * for longer ones. No clearing needed between builds: every used slot
    * is (re)initialized on allocation.
    */
  final class Workspace(maxLen: Int) {
    private[sa] var len: Array[Int] = Array.emptyIntArray
    private[sa] var link: Array[Int] = Array.emptyIntArray
    private[sa] var head: Array[Int] = Array.emptyIntArray
    private[sa] var entChar: Array[Char] = Array.emptyCharArray
    private[sa] var entNext: Array[Int] = Array.emptyIntArray
    private[sa] var entTo: Array[Int] = Array.emptyIntArray
    ensure(maxLen)

    /** Make room for the automaton of a text of `n` UTF-16 units. */
    private[sa] def ensure(n: Int): Unit = {
      val states = 2 * n + 4
      if (len.length < states) {
        len = new Array[Int](states); link = new Array[Int](states); head = new Array[Int](states)
        val entries = 4 * n + 8
        entChar = new Array[Char](entries); entNext = new Array[Int](entries); entTo = new Array[Int](entries)
      }
    }
  }

  /** Length (in chars) of the longest common substring of a and b. */
  def lcs(a: String, b: String): Int = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    lcs(a, b, new Workspace(math.min(a.length, b.length)))
  }

  /** `lcs(a, b)` reusing `ws`; overwrites the automaton held there. */
  def lcs(a: String, b: String, ws: Workspace): Int = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    if (a.length <= b.length) { build(a, ws); stream(b, ws) }
    else { build(b, ws); stream(a, ws) }
  }

  /** Builds the suffix automaton of `s` (null reads as empty) into `ws`,
    * replacing the one held there.
    */
  def build(s: String, ws: Workspace): Unit = {
    val n = if (s == null) 0 else s.length
    ws.ensure(n)
    val len = ws.len; val link = ws.link; val head = ws.head
    val entChar = ws.entChar; val entNext = ws.entNext; val entTo = ws.entTo
    var nStates = 1
    var nEntries = 0
    len(0) = 0; link(0) = -1; head(0) = -1
    var last = 0

    // adjacency helpers (avg out-degree < 1.5; the root holds the alphabet)
    def trans(v: Int, c: Char): Int = transition(head, entChar, entNext, entTo, v, c)
    def setTrans(v: Int, c: Char, to: Int): Unit = {
      var e = head(v)
      while (e != -1 && entChar(e) != c) e = entNext(e)
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
    while (i < n) {
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
  }

  /** Length (in chars) of the longest common substring of `t` (null reads
    * as empty) and the text last built into `ws`.
    */
  def stream(t: String, ws: Workspace): Int = {
    val len = ws.len; val link = ws.link; val head = ws.head
    val entChar = ws.entChar; val entNext = ws.entNext; val entTo = ws.entTo
    def trans(v: Int, c: Char): Int = transition(head, entChar, entNext, entTo, v, c)
    var v = 0
    var l = 0
    var best = 0
    var i = 0
    val n = if (t == null) 0 else t.length
    while (i < n) {
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

  /** Target of state `v`'s transition on `c`, or -1. */
  @inline private def transition(head: Array[Int], entChar: Array[Char], entNext: Array[Int],
                                 entTo: Array[Int], v: Int, c: Char): Int = {
    var e = head(v)
    while (e != -1 && entChar(e) != c) e = entNext(e)
    if (e == -1) -1 else entTo(e)
  }
}
