package graft.plans

import graft.DedupConfig
import graft.calib.Calibration
import graft.hash.XXH64
import graft.model.Schemas._
import graft.norm.TextNorm
import graft.sig.{CheapEmbed, MinHashSig, Shingles, SimHash}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Calibrated decision path — the arbiter with use_calibrated=True
  * (arbiter.py:260-353, 358-497) including the escalation loop (A6).
  *
  * Escalation semantics under the engine's document model: documents enter
  * pre-normalized (strict + dates/ids stripped), so the reference's
  * cumulative escalation steps reduce to:
  *  - "normalize_strict": no-op (extras only re-apply what normalization
  *    already did — simhash re-tokenizes the already-strict text, minhash
  *    filters id/date tokens that no longer exist);
  *  - "minhash_alt_shingle": REAL rescore — MinHash Jaccard with k=2;
  *  - "embed_whiten": no-op (whitening params are never fitted in the
  *    default run, _apply_whiten falls through — embed_model.py:550-566).
  * Exactly the behavior the reference exhibits on its own default path;
  * the gray-zone subset is recomputed as a filtered join, never the full
  * pair set.
  */
object CalibratedDedup {

  /** `whiten` = fitted domain-whitening params (G13). None = the
    * reference's DEFAULT state (params never fitted, `_apply_whiten`
    * falls through — embed_model.py:550-566) and the golden-parity
    * surface; Some = the `embed_whiten` escalation step becomes a REAL
    * rescore, exactly what the reference does when persisted
    * domain_mean/domain_top_pc exist (load_state, embed_model.py:169-172).
    */
  final case class LearnerParams(sim: Calibration.Params, min: Calibration.Params,
                                 emb: Calibration.Params,
                                 whiten: Option[CheapEmbed.WhitenParams] = None)

  /** `emb_cos_w` = the whitened cosine, persisted for every gray-zone
    * pair when whitening params exist (None otherwise) so the decision
    * oracle can identity-read it like `emb_raw`'s chain and recompute
    * every step-3 decision derived from it.
    */
  final case class CalVerdict(a: String, b: String, pair_key: String, exact: Boolean,
                              sim_raw: Double, min_raw: Double, emb_raw: Option[Double],
                              sim_prob: Double, min_prob: Double, emb_prob: Option[Double],
                              min_raw_k2: Option[Double], emb_cos_w: Option[Double],
                              final_label: String, dup_kind: Option[String], reason: String,
                              escalation_steps: Seq[String])

  /** Calibrated probabilities + the pre-escalation tests for one pair —
    * shared by decide() and needsEscalation() so the distributed two-phase
    * dataflow (verify) cannot drift from the reference step order.
    */
  private[plans] final case class ProbState(conf: DedupConfig, p: LearnerParams,
                                            simProb: Double, minProb: Double,
                                            cos: Double, embProb: Double) {
    def votes(mp: Double): Int = {
      var v = 0
      if (simProb >= p.sim.threshold) v += 1
      if (mp >= p.min.threshold) v += 1
      // embedding backstop first (cosine >= cosine_threshold), then
      // calibrated prob vs threshold — arbiter.py:272-301
      if (cos >= conf.thrEmbedCosine || embProb >= p.emb.threshold) v += 1
      v
    }
    def allClearlyBelow(mp: Double): Boolean =
      simProb < p.sim.threshold - 0.05 && mp < p.min.threshold - 0.05 &&
        embProb < p.emb.threshold - 0.05
    def inGray(mp: Double): Boolean =
      math.abs(simProb - p.sim.threshold) <= 0.05 &&
        math.abs(mp - p.min.threshold) <= 0.05 &&
        math.abs(embProb - p.emb.threshold) <= 0.05
  }

  private val clamp = (x: Double) => math.min(x, 1.0 - 1e-9)

  private[plans] def probState(conf: DedupConfig, p: LearnerParams,
                               simRaw: Double, minRaw: Double, cos: Double): ProbState =
    ProbState(conf, p,
      clamp(Calibration.applyParams(simRaw, p.sim)),
      clamp(Calibration.applyParams(minRaw, p.min)),
      cos,
      clamp(Calibration.applyParams(CheapEmbed.cosToUnit(cos), p.emb)))

  /** True iff decide() would enter the escalation loop (and therefore
    * force the k=2 rescore) for this pair — mirrors the exits of
    * decide()'s pre-escalation chain exactly (same ProbState math).
    */
  def needsEscalation(conf: DedupConfig, p: LearnerParams,
                      simRaw: Double, minRaw: Double, cos: Double): Boolean = {
    val st = probState(conf, p, simRaw, minRaw, cos)
    val v0 = st.votes(st.minProb)
    v0 < conf.requiredVotes && !st.allClearlyBelow(st.minProb) && st.inGray(st.minProb)
  }

  /** Pure decision given all scores (mirrors score_pair step order).
    * `minRawK2` is consulted only when the pair lands in the gray zone;
    * `cosWhiten` (the whitened cosine — Some iff whitening params exist)
    * only at escalation step 3, where `embed_whiten` re-scores the
    * embedding learner (arbiter.py:640-642 sets whiten+remove_top_pc and
    * `_score_all` re-runs; with no fitted params the rescore falls
    * through to the base cosine, which None models).
    */
  def decide(conf: DedupConfig, p: LearnerParams,
             exact: Boolean, simRaw: Double, minRaw: Double, embCos: => Double,
             minRawK2: => Double, cosWhiten: => Option[Double] = None)
  : (String, Option[String], String, Seq[String],
    Double, Double, Option[Double], Option[Double]) = {
    if (exact)
      return ("DUPLICATE", Some("EXACT"), "exact_content_match", Nil, 1.0, 1.0, Some(1.0), None)

    val st = probState(conf, p, simRaw, minRaw, embCos)
    val simProb = st.simProb
    val minProb = st.minProb
    val embProb = st.embProb
    def votes(mp: Double): Int = st.votes(mp)
    def allClearlyBelow(mp: Double): Boolean = st.allClearlyBelow(mp)
    def inGray(mp: Double): Boolean = st.inGray(mp)

    val need = conf.requiredVotes
    val v0 = votes(minProb)
    if (v0 >= need)
      return ("DUPLICATE", Some("NEAR"), "duplicate_by_consensus", Nil,
        simProb, minProb, Some(embProb), None)
    if (allClearlyBelow(minProb))
      return ("NON_DUPLICATE", None, "below_thresholds", Nil,
        simProb, minProb, Some(embProb), None)
    if (!inGray(minProb))
      return ("NON_DUPLICATE", None, "confident_non_duplicate", Nil,
        simProb, minProb, Some(embProb), None)

    // escalation: step 1 re-scores identically (pre-normalized docs), so it
    // can never flip the verdict; step 2 switches MinHash to k=2; step 3
    // re-scores the embedding with whitening applied — identical to step 2
    // unless whitening params exist (cosWhiten = Some).
    val k2 = minRawK2
    val minProb2 = clamp(Calibration.applyParams(k2, p.min))
    val steps2 = Seq("normalize_strict", "minhash_alt_shingle")
    val steps3 = steps2 :+ "embed_whiten"
    if (votes(minProb2) >= need)
      return ("DUPLICATE", Some("NEAR"), "consensus_after_escalation", steps2,
        simProb, minProb2, Some(embProb), Some(k2))
    if (allClearlyBelow(minProb2))
      return ("NON_DUPLICATE", None, "below_thresholds_after_escalation", steps2,
        simProb, minProb2, Some(embProb), Some(k2))
    // step-3 rescore: embedding learner under whiten+remove_top_pc; the
    // in-loop exit checks after step 3 and the post-loop final checks
    // produce the same labels (arbiter.py:601-619), so one chain suffices
    val cwOpt = cosWhiten
    val cosEff = cwOpt.getOrElse(embCos)
    val embProb3 = cwOpt.map(cw => clamp(Calibration.applyParams(CheapEmbed.cosToUnit(cw), p.emb)))
      .getOrElse(embProb)
    val votes3 = {
      var v = 0
      if (simProb >= p.sim.threshold) v += 1
      if (minProb2 >= p.min.threshold) v += 1
      if (cosEff >= conf.thrEmbedCosine || embProb3 >= p.emb.threshold) v += 1
      v
    }
    val below3 = simProb < p.sim.threshold - 0.05 && minProb2 < p.min.threshold - 0.05 &&
      embProb3 < p.emb.threshold - 0.05
    if (votes3 >= need)
      ("DUPLICATE", Some("NEAR"), "consensus_after_escalation", steps3,
        simProb, minProb2, Some(embProb3), Some(k2))
    else if (below3)
      ("NON_DUPLICATE", None, "below_thresholds_after_escalation", steps3,
        simProb, minProb2, Some(embProb3), Some(k2))
    else
      ("UNCERTAIN", None, "uncertain_in_gray_zone", steps3,
        simProb, minProb2, Some(embProb3), Some(k2))
  }

  /** k=2 shingle hash set of a doc's normalized text (escalation variant). */
  def k2Shingles(normText: String, conf: DedupConfig): Array[Long] = {
    val simToks = TextNorm.simhashTokens(normText, conf.minTokenLen)
    val toks = simToks.filterNot(TextNorm.DefaultStopwords)
    val tokHashes = toks.map(t => XXH64.hashString(t, Shingles.HashSeed))
    val n = math.max(0, toks.length - 1)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = XXH64.hashLongs(tokHashes, i, i + 2, 2L); i += 1 }
    out.distinct.sorted
  }

  /** Distributed calibrated verify over candidate pairs, in two phases:
    *
    *  1. Per-doc cheap embeddings are computed ONCE (O(docs), a
    *     mapPartitions over the corpus) and join into the pair relation as
    *     fixed-width 384-float vectors — the pair join never ships the
    *     size-unbounded `norm_text` payload and never re-embeds a doc per
    *     pair (in calibrated mode the embedding learner votes on EVERY
    *     pair, so at web scale the text-heavy pair join was the bottleneck
    *     — round-2 scale note).
    *  2. Only the gray-zone subset (needsEscalation — exactly the pairs
    *     whose decide() forces the k=2 rescore) joins back to `norm_text`
    *     to compute the escalation MinHash variant; that subset is small
    *     by construction (± 0.05 band around every threshold).
    */
  def verify(spark: SparkSession, cands: Dataset[CandPair], sigs: Dataset[DocSig],
             norm: Dataset[DocNorm], conf: DedupConfig, params: LearnerParams): Dataset[CalVerdict] = {
    import spark.implicits._

    val c = conf
    val p = params
    val dim = conf.embedDim

    // phase 0: per-doc embeddings (fixed-width)
    val emb = norm.mapPartitions(it =>
        it.map(d => (d.url, CheapEmbed.embed(d.norm_text, dim))))
      .toDF("e_url", "e_vec")

    val sa = sigs.select($"url".as("a_url"), $"shingles".as("a_sh"),
      $"exact_hash".as("a_eh"), $"simhash_hi".as("a_hi"), $"simhash_lo".as("a_lo"))
    val sb = sigs.select($"url".as("b_url"), $"shingles".as("b_sh"),
      $"exact_hash".as("b_eh"), $"simhash_hi".as("b_hi"), $"simhash_lo".as("b_lo"))
    val ea = emb.select($"e_url".as("ea_url"), $"e_vec".as("a_vec"))
    val eb = emb.select($"e_url".as("eb_url"), $"e_vec".as("b_vec"))

    // phase 1: raw scores for every pair — fixed-width columns only.
    // localCheckpoint: the narrow (a, b, scores) relation is reused by the
    // gray-subset filter AND the final decision pass without re-running
    // the joins; blocks are reclaimed by the ContextCleaner.
    val scored = cands.toDF()
      .join(sa, $"a" === $"a_url").join(sb, $"b" === $"b_url")
      .join(ea, $"a" === $"ea_url").join(eb, $"b" === $"eb_url")
      .select($"a", $"b", $"a_eh", $"b_eh", $"a_sh", $"b_sh",
        $"a_hi", $"a_lo", $"b_hi", $"b_lo", $"a_vec", $"b_vec")
      .as[(String, String, String, String, Array[Long], Array[Long],
        Long, Long, Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (a, b, aeh, beh, ash, bsh, ahi, alo, bhi, blo, av, bv) =>
        val exact = aeh == beh
        (a, b, exact,
          SimHash.similarity(ahi, alo, bhi, blo, c.simhashBits),
          MinHashSig.jaccardSorted(ash, bsh),
          // decide() never consults the embedding for exact pairs
          if (exact) Double.NaN else CheapEmbed.cosine(av, bv))
      })
      .toDF("a", "b", "exact", "sim_raw", "min_raw", "cos")
      .localCheckpoint()

    // phase 2: k=2 rescore — plus the whitened embedding rescore when
    // whitening params exist — for the gray-zone subset only
    val na = norm.select($"url".as("na_url"), $"norm_text".as("a_text"))
    val nb = norm.select($"url".as("nb_url"), $"norm_text".as("b_text"))
    val whitenBc = p.whiten.map(spark.sparkContext.broadcast(_))
    val k2Tbl = scored
      .as[(String, String, Boolean, Double, Double, Double)]
      .filter(r => !r._3 && needsEscalation(c, p, r._4, r._5, r._6))
      .toDF("ga", "gb", "gex", "gsim", "gmin", "gcos")
      .select($"ga", $"gb")
      .join(na, $"ga" === $"na_url").join(nb, $"gb" === $"nb_url")
      .select($"ga", $"gb", $"a_text", $"b_text")
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val k2Cache = new java.util.HashMap[String, Array[Long]]()
        def k2Of(u: String, t: String) = {
          var s = k2Cache.get(u)
          if (s == null) { s = k2Shingles(t, c); k2Cache.put(u, s) }
          s
        }
        val wp = whitenBc.map(_.value)
        val wCache = new java.util.HashMap[String, Array[Float]]()
        def whiteOf(u: String, t: String) = {
          var v = wCache.get(u)
          if (v == null) {
            v = CheapEmbed.applyWhiten(CheapEmbed.embed(t, dim), wp.get)
            wCache.put(u, v)
          }
          v
        }
        it.map { case (ga, gb, at, bt) =>
          (ga, gb, MinHashSig.jaccardSorted(k2Of(ga, at), k2Of(gb, bt)),
            wp.map(_ => CheapEmbed.cosine(whiteOf(ga, at), whiteOf(gb, bt))))
        }
      }.toDF("ka", "kb", "k2", "cosw")

    // final: decide() over raw scores; the by-name k2/cosWhiten arguments
    // are forced exactly for gray-zone pairs, which are exactly the rows
    // k2Tbl holds (needsEscalation mirrors decide's pre-escalation exits)
    scored.join(k2Tbl, $"a" === $"ka" && $"b" === $"kb", "left")
      .select($"a", $"b", $"exact", $"sim_raw", $"min_raw", $"cos", $"k2", $"cosw")
      .as[(String, String, Boolean, Double, Double, Double, Option[Double], Option[Double])]
      .map { case (a, b, exact, simRaw, minRaw, cos, k2Opt, cosWOpt) =>
        val (label, kind, reason, steps, simProb, minProb, embProb, k2Raw) =
          decide(c, p, exact, simRaw, minRaw, cos,
            k2Opt.getOrElse(sys.error(s"missing escalation rescore for $a||$b")),
            cosWOpt)
        CalVerdict(a, b, pairKey(a, b), exact, simRaw, minRaw,
          if (exact) None else Some(CheapEmbed.cosToUnit(cos)),
          simProb, minProb, embProb, k2Raw, cosWOpt, label, kind, reason, steps)
      }
  }

  /** Driver-side whitening fit over the bounded calibration sample: embed
    * the exact doc set the calibration fit embeds (the unique docs of the
    * bootstrap pairs — fit_calibration embeds each unique doc once,
    * embed_model.py:413-425), deterministically ordered by url. The
    * sample is bounded by the Bootstrap caps, so the collect is a driver
    * contract, never a corpus read.
    */
  def fitWhitenFromDocs(spark: SparkSession, norm: Dataset[DocNorm],
                        urls: Seq[String], conf: DedupConfig): CheapEmbed.WhitenParams = {
    import spark.implicits._
    val want = urls.distinct.sorted
    val set = want.toSet
    val vecs = norm.filter(d => set.contains(d.url))
      .map(d => (d.url, CheapEmbed.embed(d.norm_text, conf.embedDim)))
      .collect().sortBy(_._1).map(_._2)
    CheapEmbed.fitWhiten(vecs.toIndexedSeq, conf.embedDim)
  }
}
