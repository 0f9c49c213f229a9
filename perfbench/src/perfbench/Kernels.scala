package perfbench

import graft.DedupConfig
import graft.norm.TextNorm
import graft.sig.{CheapEmbed, MinHashSig, Oph, Shingles, SimHash}

/** Kernel layer: ns/op of the per-doc and per-pair functions the pipeline
  * stages call, on seeded samples of the workload's own docs and candidate
  * pairs. Each kernel's outputs are folded into a checksum so that elided
  * or altered work shows up as a mismatch between runs of one seed.
  */
object Kernels {

  /** A candidate pair: shingle sets and normalized texts of both sides. */
  final case class Pair(sa: Array[Long], sb: Array[Long], ta: String, tb: String)

  final case class Result(nsPerOp: Map[String, Double], checksums: Map[String, Long])

  /** Repeats `pass` (one call per input) until `minSeconds` have passed and
    * at least `minPasses` ran, after two untimed warm-up passes. Returns the
    * median per-op time and the checksum of the first pass.
    */
  private def time[A](inputs: IndexedSeq[A], minSeconds: Double = 0.3, minPasses: Int = 5)
                     (f: A => Long): (Double, Long) = {
    def pass(): Long = {
      var h = 1L
      var i = 0
      while (i < inputs.length) { h = h * 1000003L + f(inputs(i)); i += 1 }
      h
    }
    val sum = pass()
    pass()
    val perOp = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (perOp.size < minPasses || System.nanoTime() - t0 < minSeconds * 1e9) {
      val s = System.nanoTime()
      val h = pass()
      perOp += (System.nanoTime() - s).toDouble / inputs.length
      require(h == sum, "kernel output changed between passes")
    }
    (Stats.median(perOp.toSeq), sum)
  }

  def run(texts: IndexedSeq[String], pairs: IndexedSeq[Pair], conf: DedupConfig): Result = {
    require(texts.nonEmpty && pairs.nonEmpty, "kernel samples are empty")
    val norms = texts.map(t => TextNorm.normalize(t))
    val simToks = norms.map(n => TextNorm.simhashTokens(n, conf.minTokenLen))
    val toks = simToks.map(_.filterNot(TextNorm.DefaultStopwords))
    val shingles = toks.map(t => Shingles.fromTokens(t, conf.shingleSize))
    val (as, bs) = MinHashSig.permutations(conf.numPerm, conf.seed)
    val cap = conf.spanMaxTextChars
    val capped = pairs.map(p => (p.ta.take(cap), p.tb.take(cap)))
    val embedTexts = pairs.flatMap(p => Seq(p.ta, p.tb))
    val ws = new graft.sa.SuffixAutomaton.Workspace(cap)

    val results = Seq(
      "normalize" -> time(texts)(t => TextNorm.normalize(t).hashCode.toLong),
      "shingle" -> time(toks)(t => java.util.Arrays.hashCode(Shingles.fromTokens(t, conf.shingleSize)).toLong),
      "minhash" -> time(shingles)(s => java.util.Arrays.hashCode(MinHashSig.signature(s, as, bs)).toLong),
      "oph" -> time(shingles)(s => java.util.Arrays.hashCode(Oph.signature(s, conf.numPerm)).toLong),
      "simhash" -> time(simToks) { t =>
        val s = SimHash.fromTokens(t, conf.maxTokenWeight, conf.simhashBits); s.hi * 31L + s.lo
      },
      "jaccard" -> time(pairs)(p => java.lang.Double.doubleToLongBits(MinHashSig.jaccardSorted(p.sa, p.sb))),
      "lcs" -> time(capped)(p => graft.sa.SuffixAutomaton.lcs(p._1, p._2, ws).toLong),
      "embed" -> time(embedTexts)(t => java.util.Arrays.hashCode(CheapEmbed.embed(t, conf.embedDim)).toLong))
    Result(results.map { case (k, (ns, _)) => k -> ns }.toMap,
      results.map { case (k, (_, sum)) => k -> sum }.toMap)
  }
}
