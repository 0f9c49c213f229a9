package graft.sig

import graft.DedupConfig
import graft.hash.XXH64
import graft.norm.TextNorm

/** Hashed k-shingle derivation — the single source of truth for the
  * signature stage's shingle identity (DedupPipeline.signDoc), the
  * boilerplate-df operator (Boilerplate.shingleDf), and any future consumer
  * that must agree bit-for-bit with the persisted `03_sig.shingles` arrays.
  *
  * Shingle identity is the xxh64 hash-combine of the per-token hashes — a
  * deterministic injective-modulo-collision encoding of the reference's
  * string shingles (minhash_model.py:79-85) with no per-shingle string
  * allocation.
  */
object Shingles {

  /** Seed for per-token hashing (also used by CalibratedDedup.k2Shingles). */
  final val HashSeed = 0x5EED5EEDL

  /** Sorted distinct xxh64 hashes of the word k-shingles of `toks`. */
  def fromTokens(toks: Array[String], k: Int): Array[Long] = {
    val tokHashes = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { tokHashes(i) = XXH64.hashString(toks(i), HashSeed); i += 1 }
    val nSh = if (k <= 1) toks.length else math.max(0, toks.length - k + 1)
    val hashes = new Array[Long](nSh)
    i = 0
    while (i < nSh) {
      hashes(i) = if (k <= 1) tokHashes(i) else XXH64.hashLongs(tokHashes, i, i + k, k.toLong)
      i += 1
    }
    // primitive sort, then drop adjacent repeats in place
    java.util.Arrays.sort(hashes)
    var n = 0
    i = 0
    while (i < nSh) {
      if (n == 0 || hashes(i) != hashes(n - 1)) { hashes(n) = hashes(i); n += 1 }
      i += 1
    }
    if (n == nSh) hashes else java.util.Arrays.copyOf(hashes, n)
  }

  /** The signature stage's exact token chain (text_preproc.py:126-151 via
    * simhashTokens minus the default stopwords), then `fromTokens`. Equals
    * the persisted `03_sig.shingles` array of the same normalized text under
    * the same config (asserted in BoilerplateSpec).
    */
  def ofNormText(normText: String, conf: DedupConfig): Array[Long] =
    fromTokens(
      TextNorm.simhashTokens(normText, conf.minTokenLen)
        .filterNot(TextNorm.DefaultStopwords),
      conf.shingleSize)
}
