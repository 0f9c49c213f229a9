package graft.sig

import graft.hash.XXH64

/** MinHash signatures over shingle sets.
  *
  * Same construction family as datasketch's MinHash
  * (/root/reference/src/pipelines/near_duplicate.py:394-402 uses
  * `datasketch.MinHash(num_perm)`): universal-hash permutations
  * `sig_i = min over shingles of ((a_i * h + b_i) mod p)` with the Mersenne
  * prime p = 2^61 - 1. The permutation constants are generated from our own
  * deterministic seeded stream (datasketch seeds a NumPy MT19937; matching
  * that RNG bit-for-bit is out of scope — SURVEY.md §7.5 risk 2 — and the
  * recall target is defined against reference labels at the same
  * (k, num_perm, threshold) config, not against datasketch's constants).
  *
  * Estimate J(A,B) ≈ |{i : sigA_i = sigB_i}| / num_perm, as in
  * minhash_model.py:483-487.
  */
object MinHashSig extends Serializable {

  final val MersennePrime: Long = (1L << 61) - 1
  final val DefaultSeed: Long = 13L // reference random_state — base.py:146

  /** Deterministic permutation constants: a_i ∈ [1, p), b_i ∈ [0, p). */
  def permutations(numPerm: Int, seed: Long = DefaultSeed): (Array[Long], Array[Long]) = {
    val as = new Array[Long](numPerm)
    val bs = new Array[Long](numPerm)
    var i = 0
    while (i < numPerm) {
      // SplittableRandom's mixing is fine here: constants only need to be
      // deterministic and well distributed.
      as(i) = 1L + java.lang.Long.remainderUnsigned(
        XXH64.hashLongs(Array(seed, i.toLong, 0xA5A5L), 0, 3, 0x9E3779B97F4A7C15L), MersennePrime - 1)
      bs(i) = java.lang.Long.remainderUnsigned(
        XXH64.hashLongs(Array(seed, i.toLong, 0x5A5AL), 0, 3, 0xC2B2AE3D27D4EB4FL), MersennePrime)
      i += 1
    }
    (as, bs)
  }

  /** Multiply a*b mod p for p = 2^61-1 without overflow (a, b < 2^61):
    * the 122-bit product is hi * 2^64 + lo, and with 2^61 ≡ 1 it folds to
    * (hi << 3 | lo >>> 61) + (lo & p), a sum below 2^62 that one `modp`
    * reduces to the exact residue.
    */
  @inline private def mulmod61(a: Long, b: Long): Long = {
    val lo = a * b
    val hi = Math.multiplyHigh(a, b)
    modp(((hi << 3) | (lo >>> 61)) + (lo & MersennePrime))
  }

  @inline private def modp(x: Long): Long = {
    var v = (x & MersennePrime) + (x >>> 61)
    if (v >= MersennePrime) v -= MersennePrime
    v
  }

  /** Signature of a set of 64-bit shingle hashes. Empty set → all-p-1
    * sentinel values (documents with no shingles never collide on buckets
    * with real ones because their signature is a deterministic constant).
    */
  def signature(shingleHashes: Array[Long], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val k = as.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, MersennePrime - 1)
    var j = 0
    while (j < shingleHashes.length) {
      update(sig, shingleHashes(j), as, bs)
      j += 1
    }
    sig
  }

  /** Empty-set signature (the aggregator zero / merge identity). */
  def emptySignature(numPerm: Int): Array[Long] = {
    val sig = new Array[Long](numPerm)
    java.util.Arrays.fill(sig, MersennePrime - 1)
    sig
  }

  /** In-place per-element signature update — the streaming/aggregator
    * form; `signature` above is a fold of this, so per-doc and per-group
    * sketches are interchangeable.
    */
  def update(sig: Array[Long], elementHash: Long, as: Array[Long], bs: Array[Long]): Unit = {
    val h = modp(elementHash) // modp treats its input as unsigned 64-bit
    var i = 0
    while (i < sig.length) {
      val v = modp(mulmod61(as(i), h) + bs(i))
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** Elementwise-min merge: signature(A ∪ B) from signatures of A and B. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = math.min(a(i), b(i)); i += 1 }
    out
  }

  /** Signature-equality Jaccard estimate — minhash_model.py:483-487. */
  def estimate(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length.toDouble
  }

  /** Exact Jaccard over two SORTED distinct hash arrays (merge count). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 && b.length == 0) return 0.0 // _jaccard_from_sets: both empty -> 0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }
}
