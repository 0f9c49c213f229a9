package graft.plans

import graft.DedupConfig
import graft.cc.ConnectedComponents
import graft.hash.XXH64
import graft.lsh.LshParams
import graft.model.Schemas._
import graft.norm.TextNorm
import graft.sig.{CheapEmbed, MinHashSig, SimHash}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate detection + clustering pipeline.
  *
  * Spark shape (SURVEY.md §3.1): table scan → normalize select → signature
  * mapPartitions → band explode/groupBy (shuffle 1) → bucket self-join
  * (shuffle 2) → pair verify join back to signatures (shuffle 3) → decision
  * select → CC iterations → writes. Stage boundaries are the checkpoint /
  * resume points; per-stage, per-partition lineage is written alongside
  * outputs (north rule).
  *
  * Scale notes:
  *  - Signatures carry HASHED shingle sets (sorted distinct xxh64), not
  *    shingle strings — pair verification is a merge-count over the two
  *    arrays, joined onto the pairs once (verifyStage Scaladoc).
  *  - The embedding learner only decides pairs where exactly need-1 of the
  *    other votes fired (arbiter consensus is monotone), so embeddings are
  *    computed for that small pair subset only, never for the whole corpus.
  *  - Mega-buckets (boilerplate-heavy pages) are dropped with a logged
  *    metric, mirroring the reference's per-doc candidate caps
  *    (near_duplicate.py:36-37,408-417); AQE skew-join handles the rest.
  */
object DedupPipeline {

  /** Canonical shingle-hash seed lives in sig/Shingles (shared with the
    * boilerplate-df operator); kept here as an alias for existing callers.
    */
  final val ShingleHashSeed = graft.sig.Shingles.HashSeed

  /** Materialize a reused relation: localCheckpoint by default (blocks on
    * executors, reclaimed by the ContextCleaner), reliable checkpoint()
    * when conf.reliableCheckpoints — see the DedupConfig field Scaladoc.
    */
  private[graft] def ckpt(spark: SparkSession, df: DataFrame, conf: DedupConfig): DataFrame =
    if (conf.reliableCheckpoints) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "reliableCheckpoints=true requires spark.sparkContext.setCheckpointDir(<durable dir>)")
      df.checkpoint()
    } else df.localCheckpoint()

  // ---------- per-doc pure functions ----------

  def normalizeDoc(url: String, text: String, lang: String): DocNorm = {
    val norm = TextNorm.normalize(text)
    DocNorm(url, norm, TextNorm.exactHash(norm), TextNorm.contentHash(norm), TextNorm.tokenize(norm).length, lang)
  }

  def signDoc(d: DocNorm, conf: DedupConfig, as: Array[Long], bs: Array[Long],
              hotShingles: Array[Long] = Array.emptyLongArray): DocSig = {
    // One whitespace split serves both learners: the SimHash tokenizer keeps
    // every token of length >= minTokenLen (empty stopword set —
    // simhash_model.py:48), the MinHash tokenizer additionally drops the
    // default stopwords (text_preproc.py:126-151). Shingle identity via
    // hash-combining the per-token hashes (sig/Shingles Scaladoc). Hot
    // (boilerplate) shingles are suppressed from the set-based learner only
    // — SimHash stays token-weighted over the full text.
    val simToks = TextNorm.simhashTokens(d.norm_text, conf.minTokenLen)
    val toks = simToks.filterNot(TextNorm.DefaultStopwords)
    val distinctSorted = graft.sig.Boilerplate.suppress(
      graft.sig.Shingles.fromTokens(toks, conf.shingleSize), hotShingles)
    val mh =
      if (conf.signerOph) graft.sig.Oph.signature(distinctSorted, conf.numPerm)
      else MinHashSig.signature(distinctSorted, as, bs)
    val s = SimHash.fromTokens(simToks, conf.maxTokenWeight, conf.simhashBits)
    DocSig(d.url, d.exact_hash, distinctSorted.length, distinctSorted, mh, s.hi, s.lo)
  }

  // ---------- stages ----------

  /** Stage 1: normalize. Projects the three columns it reads before the
    * typed filter, so the scan never decodes `html` or `warc_ts`.
    */
  def normalizeStage(spark: SparkSession, pages: Dataset[Page]): Dataset[DocNorm] = {
    import spark.implicits._
    // F1: drop empty-text docs up front (near_duplicate.py:103); a text is
    // empty after `trim` iff it has no char above ' '
    pages.select($"url", $"text", $"lang").as[(String, String, String)]
      .filter(p => p._2 != null && p._2.exists(_ > ' '))
      .mapPartitions(_.map { case (url, text, lang) => normalizeDoc(url, text, lang) })
  }

  /** Stage 2: signatures (MinHash + SimHash + hashed shingle set), with
    * optional boilerplate-shingle suppression (sorted hot array, broadcast).
    */
  def signatureStage(spark: SparkSession, norm: Dataset[DocNorm], conf: DedupConfig,
                     hotShingles: Array[Long] = Array.emptyLongArray): Dataset[DocSig] = {
    import spark.implicits._
    val numPerm = conf.numPerm
    val seed = conf.seed
    val c = conf
    val bcHot = spark.sparkContext.broadcast(hotShingles)
    norm.mapPartitions { it =>
      val (as, bs) = MinHashSig.permutations(numPerm, seed)
      val hot = bcHot.value
      it.map(d => signDoc(d, c, as, bs, hot))
    }
  }

  /** Stage 3: LSH banding — explode each signature into b (band, bucket) keys. */
  def bandingStage(spark: SparkSession, sigs: Dataset[DocSig], conf: DedupConfig): Dataset[BandRow] = {
    import spark.implicits._
    val LshParams.BandsRows(b, r) =
      LshParams.optimal(conf.lshThreshold, conf.numPerm, conf.lshFpWeight, conf.lshFnWeight)
    sigs.flatMap { s =>
      val rows = new Array[BandRow](b)
      var band = 0
      while (band < b) {
        rows(band) = BandRow(band, XXH64.hashLongs(s.minhash, band * r, band * r + r, band.toLong), s.url)
        band += 1
      }
      rows
    }
  }

  /** Stage 4: candidate pairs — bucket self-join with mega-bucket guard,
    * per-doc and per-domain caps. Returns the pairs and the stage's run
    * counters under their metrics.json names (`dropped_mega_buckets`,
    * `dropped_domain_pairs`).
    */
  def candidateStage(spark: SparkSession, bands: Dataset[BandRow],
                     conf: DedupConfig): (Dataset[CandPair], Map[String, Long]) = {
    import spark.implicits._
    val g = graft.lsh.BucketGuard.okBuckets(spark, bands.toDF(), conf.maxBucketSize, "pipeline")
    val bx = bands.toDF().join(g.ok, Seq("band", "bucket"))
      .select($"band", $"bucket", $"url")
    val left = bx.select($"band", $"bucket", $"url".as("a"))
    val right = bx.select($"band".as("band2"), $"bucket".as("bucket2"), $"url".as("b"))
    val joined = left.join(right,
        $"band" === $"band2" && $"bucket" === $"bucket2" && $"a" < $"b")
      .select($"a", $"b")
    val (pairs, droppedPairs) = domainCap(spark, capPerDoc(spark, joined, conf.maxCandidatesPerDoc), conf)
    (pairs.as[CandPair], Map(
      RunMetrics.DroppedMegaBuckets -> g.dropped, RunMetrics.DroppedDomainPairs -> droppedPairs))
  }

  /** Pair dedup + per-doc candidate cap (near_duplicate.py:408) in ONE
    * exchange, shared by candidateStage and incremental ingest: hash-route
    * the raw (a, b) bucket pairs by doc `a`, sort each partition by
    * (a, b), then stream: duplicates (the same pair emitted by several
    * bands) are adjacent and skipped, and each doc keeps its first `cap`
    * distinct partners by binary url order.
    *
    * distinct + a row_number window ordered by b gives the same set (the
    * partition sort uses the same binary UTF8String ordering) but costs a
    * second pair exchange and a per-doc sort. The streaming pass holds
    * O(1) state per row and the sort spills gracefully; a collect_set
    * fusion was rejected — its per-group array state trips
    * ObjectHashAggregate's sort-based fallback at real pair volumes
    * (measured +21% on 05_cand at the 450k scaling corpus).
    *
    * `cappedDocs` counts the docs that lost at least one distinct partner
    * to the cap; the count is exact unless a task was retried or the
    * result is computed more than once.
    */
  private[plans] def capPerDoc(spark: SparkSession, pairs: DataFrame, cap: Int,
                               cappedDocs: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    pairs
      .repartition($"a")
      .sortWithinPartitions($"a", $"b")
      .as[(String, String)]
      .mapPartitions { it =>
        new Iterator[(String, String)] {
          private var curA: String = null
          private var prevB: String = null
          private var kept = 0
          private var nextPair: (String, String) = null
          private def advance(): Unit = {
            nextPair = null
            while (nextPair == null && it.hasNext) {
              val p = it.next()
              if (p._1 != curA) { curA = p._1; prevB = null; kept = 0 }
              if (p._2 != prevB) {
                if (kept < cap) nextPair = p
                else if (kept == cap) cappedDocs.foreach(_.add(1L))
                kept += 1
              }
              prevB = p._2
            }
          }
          advance()
          def hasNext: Boolean = nextPair != null
          def next(): (String, String) = { val r = nextPair; advance(); r }
        }
      }.toDF("a", "b")
  }

  /** Optional per-DOMAIN candidate cap (DedupConfig.maxCandidatesPerDomain)
    * — bounds the pairs a single template-heavy domain can contribute.
    * Deterministic (first `cap` pairs by (a, b) per domain of `a`) and
    * skew-safe: flooded domains are capped with a salted two-phase top-k,
    * so no task ever sorts more than ~64 x cap rows even when one domain
    * holds billions of pairs; unflooded domains bypass the windows
    * entirely via an anti-join on the (tiny) flooded-domain set. Returns
    * the capped pairs and the number of pairs dropped (0 when no cap is
    * set).
    */
  private[graft] def domainCap(spark: SparkSession, pairs: DataFrame,
                               conf: DedupConfig): (DataFrame, Long) = {
    import spark.implicits._
    conf.maxCandidatesPerDomain match {
      case None => (pairs, 0L)
      case Some(cap) =>
        val withDom = pairs.withColumn("dom", graft.text.UrlOps.hostOf($"a"))
        // localCheckpoint, not persist: blocks are reclaimed by the
        // ContextCleaner when the plan goes out of scope — a persist here
        // would leak one cached relation per candidateStage call for the
        // session lifetime
        val domCounts = withDom.groupBy($"dom").count().localCheckpoint()
        val droppedPairs = domCounts.filter($"count" > cap)
          .agg(coalesce(sum($"count" - cap), lit(0L))).first().getLong(0)
        if (droppedPairs > 0)
          System.err.println(s"[graft.pipeline] per-domain cap $cap dropped " +
            s"$droppedPairs candidate pairs (flooded domains)")
        val flooded = domCounts.filter($"count" > cap).select($"dom")
        val okPairs = withDom.join(broadcast(flooded), Seq("dom"), "left_anti")
        val floodPairs = withDom.join(broadcast(flooded), Seq("dom"), "left_semi")
        val salts = 64
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy($"dom", $"salt").orderBy($"a", $"b")
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy($"dom").orderBy($"a", $"b")
        // phase 1 keeps each salt's first `cap` by (a,b): every pair in the
        // domain's global first `cap` survives (its in-salt rank <= its
        // global rank), so phase 2 reproduces the exact unsalted top-cap
        // over <= salts x cap rows per domain.
        val kept = floodPairs
          .withColumn("salt", pmod(xxhash64($"a", $"b"), lit(salts)))
          .withColumn("r1", row_number().over(w1)).filter($"r1" <= cap)
          .withColumn("r2", row_number().over(w2)).filter($"r2" <= cap)
        (okPairs.select($"a", $"b").unionByName(kept.select($"a", $"b")), droppedPairs)
    }
  }

  /** url -> exact-group representative (lexicographic min url of the
    * exact-hash group). The arbiter's exact short-circuit
    * (arbiter.py:358-394) done set-wise: members of a group are duplicates
    * of the rep by definition, so only reps go through LSH — identical
    * signatures never meet in a bucket (the single worst skew source for
    * boilerplate-heavy corpora), and exact pairs never burn candidate
    * budget. O(n) star edges replace O(n^2) intra-group pairs.
    */
  def repMap(spark: SparkSession, norm: Dataset[DocNorm]): DataFrame = {
    import spark.implicits._
    // Shape note (r06 audit): groupBy + join-back deliberately, NOT a
    // window min over exact_hash — the window would buffer each whole
    // exact-group in one task (a mega exact-group of boilerplate-identical
    // pages is exactly the skew the star-edge collapse exists for), while
    // the groupBy partial-aggregates map-side and the join-back is
    // AQE-skew-splittable.
    val roots = norm.groupBy($"exact_hash").agg(min($"url").as("rep"))
    norm.select($"url", $"exact_hash".as("eh"))
      .join(roots, $"eh" === $"exact_hash")
      .select($"url", $"rep")
  }

  /** Star edges for exact-duplicate groups: rep -> member. */
  def exactEdges(spark: SparkSession, reps: DataFrame): DataFrame = {
    import spark.implicits._
    reps.filter($"url" =!= $"rep").select($"rep".as("a"), $"url".as("b"))
  }

  /** Stage 5: verify + decide. Pure column math for the two signature
    * learners; embedding + shared-span (suffix automaton) pass computed
    * only for the pair subset whose outcome depends on them.
    *
    * Run counters go into the optional accumulators: the summed task time
    * of the embedding and span passes (`embNanos`, `spanNanos`, filled as
    * the result is computed) and the gray-zone pairs the embedding budget
    * denied (`embBudgetDropped`, added on the calling thread).
    *
    * Dataflow: one SHUFFLE_HASH pair join per side attaches each doc's
    * hashed-shingle array, simhash words and exact hash; every pair gets
    * the exact merge-count Jaccard and the SimHash Hamming distance, and
    * the scored relation is checkpointed narrow (`base`). The embedding
    * and span subsets are scored from `base` in two independent passes and
    * left-joined back; the span pass builds each anchor doc's suffix
    * automaton once and streams all its partners' texts through it.
    * Alternative scorers (a partition-aware cogroup, a MinHash-estimate and
    * a b-bit prefilter band) and the suffix-array span pass were measured
    * against this dataflow and removed; the numbers are in
    * BENCH/BASELINE.md.
    */
  def verifyStage(spark: SparkSession, cands: Dataset[CandPair], sigs: Dataset[DocSig],
                  norm: Dataset[DocNorm], conf: DedupConfig,
                  embNanos: Option[org.apache.spark.util.LongAccumulator] = None,
                  spanNanos: Option[org.apache.spark.util.LongAccumulator] = None,
                  embBudgetDropped: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Verdict] = {
    import spark.implicits._

    // native Catalyst expression (codegen'd merge over ArrayData, no UDF
    // row conversion) — registered idempotently for sessions built in code;
    // spark-submit deployments get it via spark.sql.extensions=
    // graft.expr.GraftExtensions
    graft.expr.JaccardSorted.register(spark)
    def jaccardCol(a: String, b: String) =
      expr(s"${graft.expr.JaccardSorted.name}($a, $b)")

    val bits = conf.simhashBits
    val hammingCol = (bit_count($"a_hi".bitwiseXOR($"b_hi")) +
      bit_count($"a_lo".bitwiseXOR($"b_lo"))).as("hamming")

    val sa = sigs.select($"url".as("a_url"), $"shingles".as("a_sh"),
      $"exact_hash".as("a_eh"), $"simhash_hi".as("a_hi"), $"simhash_lo".as("a_lo"))
    val sb = sigs.select($"url".as("b_url"), $"shingles".as("b_sh"),
      $"exact_hash".as("b_eh"), $"simhash_hi".as("b_hi"), $"simhash_lo".as("b_lo"))
    // SHUFFLE_HASH: sort-merge would SORT the array-carrying relations —
    // at the 150k-page bench that is two sorts of ~2.4 GB of fat rows per
    // join, the verify stage's dominant CPU once the span pass went
    // linear. Hash-join streams the pairs side instead; the build side is
    // the per-partition slice of the doc-keyed sig relation (~tens of MB).
    val scored = cands.toDF()
      .join(sa.hint("SHUFFLE_HASH"), $"a" === $"a_url")
      .join(sb.hint("SHUFFLE_HASH"), $"b" === $"b_url")
      .withColumn("exact", $"a_eh" === $"b_eh")
      .withColumn("jaccard", jaccardCol("a_sh", "b_sh"))
      .withColumn("hamming", hammingCol)
      .withColumn("sim_sim", greatest(lit(0.0), lit(1.0) - $"hamming" / lit(bits.toDouble)))

    // base is consumed by FOUR subtrees (span subset, emb subset, the
    // final left join, and the window budget): checkpointing materializes
    // the pair join ONCE as this narrow fixed-width relation (~100 B/row).
    // Without it each consumer re-runs the array-carrying join — measured
    // as three separate 2.4 GB map stages at the 150k-page bench. Local
    // blocks are reclaimed by the ContextCleaner when the plan goes out of
    // scope; reliableCheckpoints switches to durable checkpoint().
    val base = ckpt(spark, scored
      .withColumn("vote_sim", $"sim_sim" >= conf.thrSimhash)
      .withColumn("vote_min", $"jaccard" >= conf.thrMinhash)
      .withColumn("votes_base", $"vote_sim".cast("int") + $"vote_min".cast("int"))
      .select($"a", $"b", $"exact", $"jaccard", $"hamming", $"sim_sim",
        $"vote_sim", $"vote_min", $"votes_base"), conf)

    val need = conf.requiredVotes

    // Subset that still needs per-text work: embedding tiebreak and/or the
    // shared-span pass.
    val needEmb = !$"exact" && lit(conf.embedEnabled) && ($"votes_base" === (need - 1))
    val wouldBeNonDup = !$"exact" && ($"votes_base" < need) &&
      !(lit(conf.embedEnabled) && $"votes_base" === (need - 1))
    val needSpan = lit(conf.spanPassEnabled) &&
      ($"jaccard" >= conf.spanCandidateMinJaccard) && (needEmb || wouldBeNonDup)

    // the SA pass is advisory (spanAsDuplicate off = parity) — budget it
    // per doc so boilerplate-heavy corpora can't drown the verify stage
    val spanW = org.apache.spark.sql.expressions.Window
      .partitionBy($"a").orderBy($"jaccard".desc, $"b")
    val cumW = spanW.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val subPre = base.filter(needEmb || needSpan)
      .withColumn("do_emb", needEmb).withColumn("do_span", needSpan)
      .withColumn("span_rn", sum(when(needSpan, 1).otherwise(0)).over(cumW))
      .withColumn("do_span", needSpan && $"span_rn" <= conf.spanMaxPairsPerDoc)
    // Opt-in per-doc embedding budget (DedupConfig.embMaxPairsPerDoc): keep
    // each anchor doc's `cap` highest-jaccard gray-zone pairs for the
    // embedding pass; the rest resolve with vote_emb = false (emb_cos stays
    // null). Same anchor/window convention as the span budget. Drops are
    // counted (one extra job, opted-in runs only), logged and reported.
    val subBudget = conf.embMaxPairsPerDoc match {
      case None => subPre
      case Some(cap) =>
        val d0 = subPre
          .withColumn("emb_rn", sum(when($"do_emb", 1).otherwise(0)).over(cumW))
        val dropped = d0.filter($"do_emb" && $"emb_rn" > cap).count()
        val d = d0.withColumn("do_emb", $"do_emb" && $"emb_rn" <= cap)
        if (dropped > 0)
          System.err.println(s"[graft.pipeline] emb budget dropped $dropped gray-zone pairs (> $cap per doc)")
        embBudgetDropped.foreach(_.add(dropped))
        d
    }
    val subset = subBudget
      .filter($"do_emb" || $"do_span")
      .select($"a", $"b", $"do_emb", $"do_span")

    val dim = conf.embedDim
    val spanCap = conf.spanMaxTextChars

    // ---- embedding tiebreak, two-phase (per-doc embed ONCE) ----
    // Each doc in an emb-needing pair is embedded exactly once and the
    // fixed-width vectors join onto the pairs. The previous design embedded
    // inside the pair pass behind a per-partition cache, whose hit rate —
    // and therefore the stage's CPU — collapsed as partition count grew
    // (measured 9.5 core-s at 4 shuffle partitions vs 100.6 core-s at 16
    // for the identical 1.48M pairs). Per-doc embed is partitioning-
    // independent and is the only shape that survives a real embedding
    // model at corpus scale.
    val embPairsIn = subset.filter($"do_emb").select($"a", $"b")
    // cheap emptiness probe over the checkpointed base: when no pair needs
    // the embedding tiebreak (common under high-threshold configs), skip
    // the eager docEmb materialization job entirely
    val anyEmbPairs = !embPairsIn.isEmpty
    val embUrls = embPairsIn.select($"a".as("url"))
      .union(embPairsIn.select($"b".as("url"))).distinct()
    val docEmbLazy = embUrls.join(norm.select($"url", $"norm_text"), "url")
      .as[(String, String)]
      .map { case (u, t) =>
        val t0 = System.nanoTime()
        val v = CheapEmbed.embed(t, dim)
        embNanos.foreach(_.add(System.nanoTime() - t0))
        (u, v)
      }.toDF("url", "vec")
    // consumed by both pair sides — materialize so docs embed once
    val docEmb = if (anyEmbPairs) ckpt(spark, docEmbLazy, conf) else docEmbLazy
    // ---- two INDEPENDENT per-pair passes, each ending narrow ----
    // Round 3 ran one conditional-join chain for both learners (vectors and
    // span texts attached in four consecutive SHUFFLE_HASH joins, one
    // mapPartitions). That cascade re-ships every earlier payload through
    // every later exchange: by the span joins each emb pair carried
    // va+vb (2 x embedDim floats = 3 kB) plus a span-capped text — at the
    // 450k-page cluster bench those were the two dominant stages (16 + 19 GB
    // of shuffle, 58.8 GB total, measured 2026-08-17). Splitting the paths
    // means each pair ships only the payload its own learner reads, and
    // each pass ends in a fixed-width (a, b, score) relation, so the fat
    // bytes cross exactly ONE exchange (the second side join feeds the
    // map in the same stage). Costs one extra narrow join onto `base` +
    // a few scheduling-bound jobs — noise at any corpus size against
    // tens of GB of exchange traffic. Results are bit-identical: same
    // per-pair math, same left-join-onto-base semantics.
    val embScored: DataFrame = embPairsIn
      .join(docEmb.select($"url".as("ea"), $"vec".as("va")).hint("SHUFFLE_HASH"),
        $"a" === $"ea")
      .join(docEmb.select($"url".as("eb"), $"vec".as("vb")).hint("SHUFFLE_HASH"),
        $"b" === $"eb")
      .select($"a", $"b", $"va", $"vb")
      .as[(String, String, Array[Float], Array[Float])]
      .mapPartitions { it =>
        it.map { case (a, b, va, vb) =>
          val t0 = System.nanoTime()
          val cos = CheapEmbed.cosine(va, vb)
          embNanos.foreach(_.add(System.nanoTime() - t0))
          (a, b, cos)
        }
      }.toDF("ea_", "eb_", "emb_cos")
    // Texts are capped to spanMaxTextChars code points IN the projection,
    // so the pair shuffle never carries bytes the suffix automaton won't
    // read (a capped text can hold up to 2 x spanCap UTF-16 units; the
    // automaton workspace grows to fit). No explicit repartition: the
    // automaton pass is byte-normal (~0.2ms/pair) and AQE's size-based
    // partitioning spreads it fine.
    val na = norm.select($"url".as("na_url"),
      substring($"norm_text", 1, spanCap).as("a_text"))
    val nb = norm.select($"url".as("nb_url"),
      substring($"norm_text", 1, spanCap).as("b_text"))
    // One automaton per anchor doc `b`: the second side join leaves the
    // pairs hash-partitioned by b, so sorting within partitions (no
    // exchange) makes each b's pairs one run; the pass builds b's
    // automaton once per run and streams every a_text through it (LCS is
    // symmetric, so shared_span_len is unchanged). spanNanos sums build and
    // stream time.
    val spanScored: DataFrame = subset.filter($"do_span").select($"a", $"b")
      .join(na.hint("SHUFFLE_HASH"), $"a" === $"na_url")
      .join(nb.hint("SHUFFLE_HASH"), $"b" === $"nb_url")
      .select($"a", $"b", $"a_text", $"b_text")
      .sortWithinPartitions($"b")
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val ws = new graft.sa.SuffixAutomaton.Workspace(spanCap)
        var built: String = null // the b whose automaton ws holds
        it.map { case (a, b, at, bt) =>
          val t0 = System.nanoTime()
          if (b != built) { graft.sa.SuffixAutomaton.build(bt, ws); built = b }
          val span = graft.sa.SuffixAutomaton.stream(at, ws)
          spanNanos.foreach(_.add(System.nanoTime() - t0))
          (a, b, span)
        }
      }.toDF("sa_", "sb_", "shared_span_len")

    val thrEmb = conf.thrEmbedCosine
    val spanDup = conf.spanAsDuplicate
    val spanMin = conf.spanMinChars

    val joined = base
      .join(embScored, $"a" === $"ea_" && $"b" === $"eb_", "left")
      .join(spanScored, $"a" === $"sa_" && $"b" === $"sb_", "left")
      .withColumn("shared_span_len", coalesce($"shared_span_len", lit(0)))
      // Embedding vote (arbiter.py:260-320, uncalibrated): backstop
      // cos >= cosine_threshold OR (cos+1)/2 >= cosine_threshold.
      .withColumn("vote_emb", coalesce(
        ($"emb_cos" >= thrEmb) || ((($"emb_cos" + 1.0) / 2.0) >= thrEmb), lit(false)))
      .withColumn("votes",
        when($"exact", lit(3))
          .otherwise($"votes_base" + $"vote_emb".cast("int")))

    val labeled = joined
      .withColumn("is_dup",
        $"exact" || ($"votes" >= need) ||
          (lit(spanDup) && $"shared_span_len" >= spanMin))
      .withColumn("final_label", when($"is_dup", "DUPLICATE").otherwise("NON_DUPLICATE"))
      .withColumn("dup_kind",
        when($"exact", "EXACT").when($"is_dup", "NEAR").otherwise(lit(null).cast("string")))
      .withColumn("reason",
        when($"exact", "exact_content_match")
          .when($"is_dup" && ($"votes" >= need), "duplicate_by_consensus")
          .when($"is_dup", "shared_span")
          .otherwise("confident_non_duplicate"))

    labeled.select($"a", $"b",
        when($"a" <= $"b", concat($"a", lit("||"), $"b"))
          .otherwise(concat($"b", lit("||"), $"a")).as("pair_key"),
        $"exact", $"jaccard", $"hamming", $"sim_sim", $"emb_cos",
        ($"exact" || $"vote_sim").as("vote_sim"),
        ($"exact" || $"vote_min").as("vote_min"),
        ($"exact" || $"vote_emb").as("vote_emb"),
        $"votes", $"shared_span_len", $"final_label", $"dup_kind", $"reason")
      .as[Verdict]
  }

  /** Stage 6: clustering. CC runs ONLY over the rep-level near-duplicate
    * edges (tiny compared to the corpus); exact members then attach to
    * their rep's component with one join — equivalent to CC over
    * near-edges ∪ star-edges because a rep is the min url of its group.
    * Cluster id = min member url; singletons excluded
    * (near_duplicate.py:364-371).
    */
  def clusterStage(spark: SparkSession, verdicts: Dataset[Verdict], reps: DataFrame,
                   conf: DedupConfig = DedupConfig.balanced): DataFrame = {
    import spark.implicits._
    val nearEdges = verdicts.filter($"final_label" === "DUPLICATE").select($"a", $"b")
    val repComp = ConnectedComponents.run(spark, nearEdges, reliable = conf.reliableCheckpoints)
      .select($"url".as("rep2"), $"comp")
    val assigned = reps.join(repComp, $"rep" === $"rep2", "left")
      .select($"url", coalesce($"comp", $"rep").as("cluster_id"))
    val sizes = assigned.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .filter($"cluster_size" >= 2)
      .select($"url", $"cluster_id", $"cluster_size")
  }

  // ---------- orchestration with persist / resume / lineage ----------

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One lineage row per non-empty partition of the stage output; a stage
    * with no rows gets one 0-row line (partition 0), so every stage shows
    * up in metrics.json. Lines are counted as they are written, so only an
    * empty stage pays a second (tiny) job.
    */
  private def writeLineage(spark: SparkSession, runDir: String, runId: String, stage: String,
                           confHash: String, df: DataFrame, wallMs: Long): Unit = {
    import spark.implicits._
    val lines = spark.sparkContext.longAccumulator
    val countLine = udf { (rows: Long) => lines.add(1L); rows }.asNondeterministic()
    def write(perPartition: DataFrame): Unit = perPartition
      .withColumn("run_id", lit(runId))
      .withColumn("stage", lit(stage))
      .withColumn("wall_ms", lit(wallMs))
      .withColumn("config_hash", lit(confHash))
      .write.mode(SaveMode.Overwrite).parquet(s"$runDir/lineage/$stage")
    write(df.groupBy(spark_partition_id().as("partition_id")).agg(count(lit(1)).as("rows"))
      .select($"partition_id", countLine($"rows").as("rows")))
    if (lines.value == 0L) write(Seq((0, 0L)).toDF("partition_id", "rows"))
  }

  /** Run (or resume) the full pipeline. Every stage persists to
    * `$runDir/<stage>` and is skipped on re-run when [[StageStore]] finds
    * its output and config marker — the north rule's checkpoint-based
    * resume. Run counters live in the marker of the stage that measured
    * them (`dropped_mega_buckets` and `dropped_domain_pairs` with 05_cand;
    * `emb_budget_dropped`, `emb_wall_ms` and `span_wall_ms` with
    * 06_verdicts), so the [[RunMetrics]] snapshot reports the same values
    * on a resumed run as on the cold run that computed them.
    *
    * Lineage snapshots are written CONCURRENTLY with the next stage's
    * compute (guide §2.6 "overlap independent jobs"): the lineage job for
    * stage N depends only on N's persisted parquet, so it back-fills
    * executor slots freed by N+1's stragglers instead of serializing ~7
    * extra jobs onto the critical path. A stage is marked done only after
    * its lineage is written, so a failed lineage write leaves the stage
    * unmarked and a rerun recomputes it. All lineage futures are awaited
    * (and their failures rethrown) before the metrics snapshot reads the
    * lineage dirs, so the post-run state is identical to the sequential
    * orchestration.
    */
  def run(spark: SparkSession, pages: Dataset[Page], runDir: String,
          conf: DedupConfig = DedupConfig.balanced,
          resume: Boolean = true): DataFrame = {
    import spark.implicits._
    val ch = conf.configHash
    val runId = s"run_$ch"
    val pendingLineage = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]

    // `counters` is evaluated after the stage output is written
    def stage(name: String, counters: => Map[String, Long] = Map.empty)(compute: => DataFrame): DataFrame = {
      val dir = s"$runDir/$name"
      if (resume && StageStore.done(spark, dir, ch)) {
        spark.read.parquet(dir)
      } else {
        // label every job this stage triggers (incl. eager checkpoints
        // inside the stage computation) — guide §1.5
        spark.sparkContext.setJobDescription(s"pipeline: $name")
        val t0 = System.nanoTime()
        val written = try {
          compute.write.mode(SaveMode.Overwrite).parquet(dir)
          spark.read.parquet(dir)
        } finally spark.sparkContext.setJobDescription(null)
        val ms = (System.nanoTime() - t0) / 1000000
        // evaluated here, on the driver thread, as the stage finishes; the
        // marker that records them is written once the lineage is
        val stageCounters = counters
        pendingLineage += lineagePool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setJobDescription(s"pipeline: lineage $name")
            writeLineage(spark, runDir, runId, name, ch, written, ms)
            StageStore.mark(spark, dir, ch, stageCounters)
          }
        })
        written
      }
    }

    val normDf = stage("01_norm") { normalizeStage(spark, pages).toDF() }
    val norm = normDf.as[DocNorm]

    val repsDf = stage("02_reps") { repMap(spark, norm) }

    // signatures / banding / verification run on exact-group reps only —
    // members are attached via the rep map at cluster time
    val repNorm = norm.join(repsDf.filter($"url" === $"rep").select($"rep"),
      norm("url") === $"rep").drop("rep").as[DocNorm]

    val sigDf = stage("03_sig") {
      // hot-set derivation only runs when the stage itself runs (the block
      // is skipped on resume); it is a pure function of (01_norm, conf), so
      // the 03_sig resume marker covers it. The set is persisted next to the
      // stage so incremental ingest signs NEW batches with the same frozen
      // template vocabulary (IncrementalDedup Scaladoc).
      val hot = graft.sig.Boilerplate.hotShingles(spark, repNorm, conf)
      if (conf.boilerplateMaxDfFrac.isDefined)
        spark.createDataset(hot.toIndexedSeq).toDF("shingle")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$runDir/03_hot")
      signatureStage(spark, repNorm, conf, hot).toDF()
    }
    val sigs = sigDf.as[DocSig]

    val bandDf = stage("04_bands") { bandingStage(spark, sigs, conf).toDF() }
    val bands = bandDf.as[BandRow]

    var candCounters = Map.empty[String, Long]
    val candDf = stage("05_cand", candCounters) {
      val (pairs, counters) = candidateStage(spark, bands, conf)
      candCounters = counters
      pairs.toDF()
    }
    val cands = candDf.as[CandPair]

    val embAcc = spark.sparkContext.longAccumulator("graft.verify.embNanos")
    val spanAcc = spark.sparkContext.longAccumulator("graft.verify.spanNanos")
    val budgetAcc = spark.sparkContext.longAccumulator("graft.verify.embBudgetDropped")
    // summed task time of the per-text learners — the evidence behind the
    // span/embedding budgets
    val verdictDf = stage("06_verdicts", Map(RunMetrics.EmbBudgetDropped -> budgetAcc.value,
        RunMetrics.EmbWallMs -> embAcc.value / 1000000L, RunMetrics.SpanWallMs -> spanAcc.value / 1000000L)) {
      // repNorm, not the full norm: the span-text relations ship whole
      // through their SHUFFLE_HASH exchanges, so restricting them to
      // exact-group reps (187k of 450k rows at the scaling corpus) cuts
      // those exchanges ~2.4x — measured +10% on 06_verdicts when this
      // was briefly swapped to the full norm in r06. Results identical
      // either way (pair urls are always reps).
      verifyStage(spark, cands, sigs, repNorm, conf, Some(embAcc), Some(spanAcc), Some(budgetAcc)).toDF()
    }

    val clusters = stage("07_clusters") {
      clusterStage(spark, verdictDf.as[Verdict], repsDf, conf)
    }

    // lineage (and with it every stage marker) must be fully on disk — and
    // any write failure surfaced, as the sequential orchestration would
    // have — before the snapshot reads it
    pendingLineage.foreach(_.get())
    writeMetricsSnapshot(spark, runDir, runId, ch, verdictDf, clusters)
    clusters
  }

  /** Two daemon threads for the off-critical-path lineage writes: one per
    * in-flight stage is plenty, and daemon threads never block JVM exit.
    */
  private lazy val lineagePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(2, new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-lineage-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** M11 — writes the run's [[RunMetrics]] record as `metrics.json`,
    * assembled from the persisted stage outputs and markers.
    *
    * Observability only: never allowed to fail the run — every read is
    * existence-checked and the whole write is exception-fenced (a missing
    * lineage dir on a fully-resumed run must not take down the pipeline).
    */
  private def writeMetricsSnapshot(spark: SparkSession, runDir: String, runId: String,
                                   confHash: String, verdicts: DataFrame, clusters: DataFrame): Unit =
    try writeMetricsSnapshotUnsafe(spark, runDir, runId, confHash, verdicts, clusters)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] metrics snapshot skipped for $runDir: ${e.getMessage}")
    }

  private def writeMetricsSnapshotUnsafe(spark: SparkSession, runDir: String, runId: String,
                                         confHash: String, verdicts: DataFrame, clusters: DataFrame): Unit = {
    import spark.implicits._
    // ONE aggregation job over the verdicts for both the run summary and
    // the per-text learner pair counts
    val summaryF = lineagePool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.Row] {
      def call(): org.apache.spark.sql.Row = {
        spark.sparkContext.setJobDescription("pipeline: metrics summary")
        graft.metrics.Metrics.runSummary(verdicts,
          sum(when($"emb_cos".isNotNull, 1).otherwise(0)).as("emb_pairs"),
          sum(when($"shared_span_len" > 0, 1).otherwise(0)).as("span_pairs")).first()
      }
    })
    // cluster counts run concurrently with the verdict aggregation (two
    // independent tiny jobs — guide §2.6)
    val cRow = clusters.agg(
      countDistinct($"cluster_id").as("n"), count(lit(1)).as("docs")).first()
    val lineageDir = new Path(s"$runDir/lineage")
    val f = fs(spark, runDir)
    // explicit per-stage paths, not a "lineage/*" glob: Spark's source
    // resolution stats the literal glob string first and logs a spurious
    // WARN + FileNotFoundException stack (harmless but it pollutes the
    // bench log the driver parses)
    val stageDirs =
      if (!f.exists(lineageDir)) Array.empty[String]
      else f.listStatus(lineageDir).filter(_.isDirectory).map(_.getPath.toString)
    val stages =
      if (stageDirs.isEmpty) Seq.empty
      else spark.read.parquet(stageDirs.toIndexedSeq: _*)
        .groupBy($"stage").agg(max($"wall_ms").as("wall_ms"), sum($"rows").as("rows"))
        .orderBy($"stage").as[RunMetrics.StageLine].collect().toSeq
    val counters = StageStore.counters(spark, s"$runDir/05_cand", confHash) ++
      StageStore.counters(spark, s"$runDir/06_verdicts", confHash)
    def counter(name: String) = counters.getOrElse(name, 0L)
    val summary = summaryF.get()
    // sums over a run with no candidate pairs are null: report 0
    def long(field: String) = {
      val i = summary.fieldIndex(field)
      if (summary.isNullAt(i)) 0L else summary.getLong(i)
    }
    val rate = summary.fieldIndex("consensus_rate")
    val record = RunMetrics(
      run_id = runId, config_hash = confHash,
      total_pairs = long("total_pairs"), duplicates = long("duplicates"),
      non_duplicates = long("non_duplicates"), uncertain = long("uncertain"),
      exact_dups = long("exact_dups"), near_dups = long("near_dups"),
      consensus_rate = if (summary.isNullAt(rate)) 0.0 else summary.getDouble(rate),
      clusters = cRow.getLong(0), clustered_docs = cRow.getLong(1),
      dropped_mega_buckets = counter(RunMetrics.DroppedMegaBuckets),
      dropped_domain_pairs = counter(RunMetrics.DroppedDomainPairs),
      emb_pairs = long("emb_pairs"), span_pairs = long("span_pairs"),
      emb_budget_dropped = counter(RunMetrics.EmbBudgetDropped),
      emb_wall_ms = counter(RunMetrics.EmbWallMs), span_wall_ms = counter(RunMetrics.SpanWallMs),
      stages = stages)
    val out = f.create(new Path(runDir, "metrics.json"), true)
    try out.write(RunMetrics.toJson(record).getBytes("UTF-8"))
    finally out.close()
  }
}
