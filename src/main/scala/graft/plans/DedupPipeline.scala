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
  * (shuffle 2) → pair verify join back to signatures (shuffle 3: the doc
  * side is broadcast when its counted payload is at most
  * [[VerifyBroadcastMaxBytes]], else hash-shuffled onto the pairs) →
  * decision select → connected components → writes. Stage boundaries are
  * the checkpoint / resume points; per-stage, per-partition lineage is
  * written alongside outputs (north rule).
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
    val joined = selfPairs(spark, bx)
    val (pairs, droppedPairs) = domainCap(spark, capPerDoc(spark, joined, conf.maxCandidatesPerDoc), conf)
    (pairs.as[CandPair], Map(
      RunMetrics.DroppedMegaBuckets -> g.dropped, RunMetrics.DroppedDomainPairs -> droppedPairs))
  }

  /** The bucket self-join of `rows` (band, bucket, url): every (a, b) pair
    * of urls sharing a (band, bucket), with a < b, once per shared bucket.
    * Both sides are `rows` itself under two aliases, with no column renamed
    * below the join, so they plan as one relation and Spark's exchange
    * reuse serves both from one exchange.
    */
  private[plans] def selfPairs(spark: SparkSession, rows: DataFrame): DataFrame = {
    import spark.implicits._
    rows.as("l").join(rows.as("r"),
        $"l.band" === $"r.band" && $"l.bucket" === $"r.bucket" && $"l.url" < $"r.url")
      .select($"l.url".as("a"), $"r.url".as("b"))
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

  /** Largest doc-side payload, as counted by [[verifyDocBytes]], for which
    * [[verifyStage]] broadcasts its doc-keyed relations (signatures,
    * embedding vectors, capped span texts) instead of hash-shuffling them
    * onto the pairs. On the broadcast path the driver collects each of
    * these relations and every executor keeps one copy of it, so this is
    * the build side's memory budget on the driver and on each executor.
    */
  final val VerifyBroadcastMaxBytes: Long = 64L << 20

  /** The doc-side payload verify ships, counted exactly: 8 bytes per
    * hashed shingle of `sigs`, one per span-text char of `norm` (each text
    * capped at `spanMaxTextChars`, as the span pass reads it) and
    * `4 * embedDim` per `norm` row for the embedding vectors. Keys and row
    * overhead are not counted. One aggregate over both relations (a
    * narrow union), so the count costs one scan of each and two jobs.
    */
  private[plans] def verifyDocBytes(spark: SparkSession, sigs: Dataset[DocSig], norm: Dataset[DocNorm],
                                    conf: DedupConfig): Long = {
    import spark.implicits._
    val perDoc = sigs.select(($"n_shingles".cast("long") * 8L).as("bytes"))
      .union(norm.select((least(char_length($"norm_text"), lit(conf.spanMaxTextChars)).cast("long") +
        4L * conf.embedDim).as("bytes")))
    perDoc.agg(coalesce(sum($"bytes"), lit(0L))).first().getLong(0)
  }

  /** Stage 5: verify + decide. Pure column math for the two signature
    * learners. A pair is a duplicate when its texts match exactly or when
    * `requiredVotes` learners vote for it; the embedding learner scores
    * only the gray-zone pairs (one vote short), and the shared-span
    * (suffix automaton) pass only reports `shared_span_len` for near-miss
    * non-exact pairs short of consensus, never changing a label.
    *
    * Run counters go into the optional accumulators: the summed task time
    * of the embedding and span passes (`embNanos`, `spanNanos`, filled as
    * the result is computed) and the gray-zone pairs the embedding budget
    * denied (`embBudgetDropped`, added on the calling thread).
    *
    * Dataflow: one pair join per side attaches each doc's hashed-shingle
    * array, simhash words and exact hash; every pair gets the exact
    * merge-count Jaccard and the SimHash Hamming distance, and the scored
    * relation is checkpointed narrow (`base`). The embedding and span
    * passes each take their pairs from `base` with one predicate (ranked
    * per doc by (jaccard desc, b) where a budget caps them), are scored
    * independently and left-joined back; the span pass builds each anchor
    * doc's suffix automaton once and streams all its partners' texts
    * through it.
    *
    * How the doc side reaches the pairs follows from an exact count taken
    * first ([[verifyDocBytes]]). At most `broadcastMaxBytes` (default
    * [[VerifyBroadcastMaxBytes]]; tests pass 0 to reach the shuffle path):
    * every pair join broadcasts its doc side, so no exchange carries a
    * shingle array, vector or text, and the span pairs are exchanged by
    * `b` as keys only before their texts attach. The embedding pass
    * broadcasts its gray-zone url set into a semi-join on `norm`, so each
    * text is embedded where it lies and neither an exchange nor a
    * broadcast carries a full text (the count bounds that set too: every
    * counted doc carries 4·embedDim bytes). Above it: every pair join
    * is a SHUFFLE_HASH join, which ships one doc's payload per pair through
    * the exchange that keys the pairs by the other doc. Verdicts are the
    * same on both paths. Returns the verdicts and the stage's run counters
    * `verify_broadcast` (1 on the broadcast path) and `verify_doc_bytes`
    * (the counted payload).
    *
    * Alternative scorers (a partition-aware cogroup, a MinHash-estimate and
    * a b-bit prefilter band) and the suffix-array span pass were measured
    * against this dataflow and removed; the numbers are in
    * BENCH/BASELINE.md.
    */
  def verifyStage(spark: SparkSession, cands: Dataset[CandPair], sigs: Dataset[DocSig],
                  norm: Dataset[DocNorm], conf: DedupConfig,
                  embNanos: Option[org.apache.spark.util.LongAccumulator] = None,
                  spanNanos: Option[org.apache.spark.util.LongAccumulator] = None,
                  embBudgetDropped: Option[org.apache.spark.util.LongAccumulator] = None,
                  broadcastMaxBytes: Long = VerifyBroadcastMaxBytes): (Dataset[Verdict], Map[String, Long]) = {
    import spark.implicits._

    val docBytes = verifyDocBytes(spark, sigs, norm, conf)
    val bc = docBytes <= broadcastMaxBytes
    // The doc-keyed side of every pair join. SHUFFLE_HASH above the bound:
    // sort-merge would SORT the array-carrying relations — at the
    // 150k-page bench that is two sorts of ~2.4 GB of fat rows per join,
    // the verify stage's dominant CPU once the span pass went linear.
    // Hash-join streams the pairs side instead; the build side is the
    // per-partition slice of the doc-keyed relation (~tens of MB). The
    // hint also keeps AQE from turning a small doc side into a broadcast
    // on its own, so the path is the one the count chose.
    def docSide(df: DataFrame): DataFrame = if (bc) broadcast(df) else df.hint("SHUFFLE_HASH")

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
    val scored = cands.toDF()
      .join(docSide(sa), $"a" === $"a_url")
      .join(docSide(sb), $"b" === $"b_url")
      .withColumn("exact", $"a_eh" === $"b_eh")
      .withColumn("jaccard", jaccardCol("a_sh", "b_sh"))
      .withColumn("hamming", hammingCol)
      .withColumn("sim_sim", greatest(lit(0.0), lit(1.0) - $"hamming" / lit(bits.toDouble)))

    // base is consumed by three subtrees (span pairs, emb pairs and the
    // final left join), four with the emb budget: checkpointing materializes
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

    // Each per-text learner takes its pairs straight from `base`, ranked
    // per anchor doc `a` by (jaccard desc, b) — a total order within a doc,
    // so a cap keeps a deterministic set.
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy($"a").orderBy($"jaccard".desc, $"b")

    // Embedding tiebreak: the gray-zone pairs, one vote short of consensus.
    // Opt-in per-doc budget (DedupConfig.embMaxPairsPerDoc): keep each
    // anchor doc's `cap` highest-jaccard gray-zone pairs; the rest resolve
    // with vote_emb = false (emb_cos stays null). Drops are counted (one
    // extra job, opted-in runs only), logged and reported.
    val embGray = base.filter(!$"exact" && lit(conf.embedEnabled) && $"votes_base" === (need - 1))
      .select($"a", $"b", $"jaccard")
    val embPairsIn = (conf.embMaxPairsPerDoc match {
      case None => embGray
      case Some(cap) =>
        val ranked = embGray.withColumn("rn", row_number().over(rankW))
        val dropped = ranked.filter($"rn" > cap).count()
        if (dropped > 0)
          System.err.println(s"[graft.pipeline] emb budget dropped $dropped gray-zone pairs (> $cap per doc)")
        embBudgetDropped.foreach(_.add(dropped))
        ranked.filter($"rn" <= cap)
    }).select($"a", $"b")

    // Span pass: every non-exact pair short of consensus that is near
    // enough (spanCandidateMinJaccard). It only reports shared_span_len, so
    // it is budgeted per doc and boilerplate-heavy corpora can't drown the
    // verify stage.
    val spanPairsIn = base
      .filter(!$"exact" && $"votes_base" < need && $"jaccard" >= conf.spanCandidateMinJaccard)
      .withColumn("rn", row_number().over(rankW))
      .filter($"rn" <= conf.spanMaxPairsPerDoc)
      .select($"a", $"b")

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
    val embUrls = embPairsIn.select($"a".as("url"))
      .union(embPairsIn.select($"b".as("url"))).distinct()
    // Texts are embedded where they lie: the gray-zone url set is semi-
    // joined onto `norm`, as the broadcast side on the broadcast path.
    // Consumed by both pair sides — materialize so docs embed once.
    val docEmb = ckpt(spark, norm.select($"url", $"norm_text")
      .join(if (bc) broadcast(embUrls) else embUrls, Seq("url"), "left_semi")
      .as[(String, String)]
      .map { case (u, t) =>
        val t0 = System.nanoTime()
        val v = CheapEmbed.embed(t, dim)
        embNanos.foreach(_.add(System.nanoTime() - t0))
        (u, v)
      }.toDF("url", "vec"), conf)
    // ---- two INDEPENDENT per-pair passes, each ending narrow ----
    // Round 3 ran one conditional-join chain for both learners (vectors and
    // span texts attached in four consecutive SHUFFLE_HASH joins, one
    // mapPartitions). That cascade re-ships every earlier payload through
    // every later exchange: by the span joins each emb pair carried
    // va+vb (2 x embedDim floats = 3 kB) plus a span-capped text — at the
    // 450k-page cluster bench those were the two dominant stages (16 + 19 GB
    // of shuffle, 58.8 GB total, measured 2026-08-17). Splitting the paths
    // means each pair ships only the payload its own learner reads, and
    // each pass ends in a fixed-width (a, b, score) relation, so on the
    // shuffle path the fat bytes cross exactly ONE exchange (the second
    // side join feeds the map in the same stage), and on the broadcast
    // path none. Costs one extra narrow join onto `base` + a few
    // scheduling-bound jobs — noise at any corpus size against tens of GB
    // of exchange traffic. Results are bit-identical: same
    // per-pair math, same left-join-onto-base semantics.
    val embScored: DataFrame = embPairsIn
      .join(docSide(docEmb.select($"url".as("ea"), $"vec".as("va"))), $"a" === $"ea")
      .join(docSide(docEmb.select($"url".as("eb"), $"vec".as("vb"))), $"b" === $"eb")
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
    // so neither the pair shuffle nor the broadcast carries bytes the
    // suffix automaton won't read (a capped text can hold up to 2 x spanCap
    // UTF-16 units; the automaton workspace grows to fit). The automaton
    // pass is byte-normal (~0.2ms/pair) but its key-only input is small, so
    // AQE's size-based coalescing can put the whole pass in one task (on
    // `dense` seed 1: 16.7k pairs, 1.2 s in a single task).
    val na = norm.select($"url".as("na_url"),
      substring($"norm_text", 1, spanCap).as("a_text"))
    val nb = norm.select($"url".as("nb_url"),
      substring($"norm_text", 1, spanCap).as("b_text"))
    // One automaton per anchor doc `b`: the pairs reach the pass
    // hash-partitioned by b — on the shuffle path by the second side
    // join's exchange, on the broadcast path by an exchange of the key-only
    // pairs before the (partitioning-preserving) broadcast joins — so
    // sorting within partitions (no exchange) makes each b's pairs one run;
    // the pass builds b's automaton once per run and streams every a_text
    // through it (LCS is symmetric, so shared_span_len is unchanged).
    // spanNanos sums build and stream time.
    val spanScored: DataFrame = (if (bc) spanPairsIn.repartition($"b") else spanPairsIn)
      .join(docSide(na), $"a" === $"na_url")
      .join(docSide(nb), $"b" === $"nb_url")
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
      .withColumn("is_dup", $"exact" || ($"votes" >= need))
      .withColumn("final_label", when($"is_dup", "DUPLICATE").otherwise("NON_DUPLICATE"))
      .withColumn("dup_kind",
        when($"exact", "EXACT").when($"is_dup", "NEAR").otherwise(lit(null).cast("string")))
      .withColumn("reason",
        when($"exact", "exact_content_match")
          .when($"is_dup", "duplicate_by_consensus")
          .otherwise("confident_non_duplicate"))

    val verdicts = labeled.select($"a", $"b",
        when($"a" <= $"b", concat($"a", lit("||"), $"b"))
          .otherwise(concat($"b", lit("||"), $"a")).as("pair_key"),
        $"exact", $"jaccard", $"hamming", $"sim_sim", $"emb_cos",
        ($"exact" || $"vote_sim").as("vote_sim"),
        ($"exact" || $"vote_min").as("vote_min"),
        ($"exact" || $"vote_emb").as("vote_emb"),
        $"votes", $"shared_span_len", $"final_label", $"dup_kind", $"reason")
      .as[Verdict]
    (verdicts, Map(RunMetrics.VerifyBroadcast -> (if (bc) 1L else 0L), RunMetrics.VerifyDocBytes -> docBytes))
  }

  /** Stage 6: clustering. CC runs ONLY over the rep-level near-duplicate
    * edges (tiny compared to the corpus); exact members then attach to
    * their rep's component with one join — equivalent to CC over
    * near-edges ∪ star-edges because a rep is the min url of its group.
    * Cluster id = min member url; singletons excluded
    * (near_duplicate.py:364-371). A dup-edge set of at most
    * [[ConnectedComponents.DriverMaxEdges]] edges is labelled on the
    * driver by union-find, a larger one by the distributed loop. Returns
    * the clusters and the stage's run counter `cc_rounds` (the loop's
    * round count, 0 when the driver labelled the edges).
    */
  def clusterStage(spark: SparkSession, verdicts: Dataset[Verdict], reps: DataFrame,
                   conf: DedupConfig = DedupConfig.balanced): (DataFrame, Map[String, Long]) = {
    import spark.implicits._
    val nearEdges = verdicts.filter($"final_label" === "DUPLICATE").select($"a", $"b")
    val (labels, rounds) = ConnectedComponents.run(spark, nearEdges, reliable = conf.reliableCheckpoints)
    val repComp = labels.select($"url".as("rep2"), $"comp")
    val assigned = reps.join(repComp, $"rep" === $"rep2", "left")
      .select($"url", coalesce($"comp", $"rep").as("cluster_id"))
    val sizes = assigned.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    (assigned.join(sizes, "cluster_id")
      .filter($"cluster_size" >= 2)
      .select($"url", $"cluster_id", $"cluster_size"),
      Map(RunMetrics.CcRounds -> rounds.toLong))
  }

  // ---------- orchestration with persist / resume / lineage ----------

  /** The pipeline's persisted stages, in run order. */
  private val Stages = Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters")

  /** Run (or resume) the full pipeline. Every stage goes through
    * [[StageStore.Run]]: it persists to `$runDir/<stage>` with its lineage
    * under `$runDir/lineage/<stage>`, and is skipped on re-run when
    * [[StageStore]] finds its output and config marker — the north rule's
    * checkpoint-based resume. Run counters live in the marker of the stage
    * that measured them (`dropped_mega_buckets` and `dropped_domain_pairs`
    * with 05_cand; `emb_budget_dropped`, `emb_wall_ms`, `span_wall_ms`,
    * `verify_broadcast` and `verify_doc_bytes` with 06_verdicts;
    * `cc_rounds` with 07_clusters; `wall_ms` with every stage), so the
    * [[RunMetrics]] snapshot reports the same values on a resumed run as on
    * the cold run that computed them.
    */
  def run(spark: SparkSession, pages: Dataset[Page], runDir: String,
          conf: DedupConfig = DedupConfig.balanced,
          resume: Boolean = true): DataFrame = {
    import spark.implicits._
    val ch = conf.configHash
    val stage = new StageStore.Run(spark, runDir, ch, "pipeline", resume)

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

    val candDf = stage.counted("05_cand") {
      val (pairs, counters) = candidateStage(spark, bands, conf)
      (pairs.toDF(), () => counters)
    }
    val cands = candDf.as[CandPair]

    val verdictDf = stage.counted("06_verdicts") {
      // summed task time of the per-text learners — the evidence behind the
      // span/embedding budgets
      val embAcc = spark.sparkContext.longAccumulator("graft.verify.embNanos")
      val spanAcc = spark.sparkContext.longAccumulator("graft.verify.spanNanos")
      val budgetAcc = spark.sparkContext.longAccumulator("graft.verify.embBudgetDropped")
      // repNorm, not the full norm: the span texts and vectors are counted
      // against the broadcast bound, and above it ship whole through their
      // SHUFFLE_HASH exchanges, so restricting them to exact-group reps
      // (187k of 450k rows at the scaling corpus) cuts both ~2.4x — the
      // shuffle path measured +10% on 06_verdicts when this was briefly
      // swapped to the full norm in r06. Results identical either way
      // (pair urls are always reps).
      val (verdicts, counters) =
        verifyStage(spark, cands, sigs, repNorm, conf, Some(embAcc), Some(spanAcc), Some(budgetAcc))
      (verdicts.toDF(), () => counters ++ Map(RunMetrics.EmbBudgetDropped -> budgetAcc.value,
        RunMetrics.EmbWallMs -> embAcc.value / 1000000L, RunMetrics.SpanWallMs -> spanAcc.value / 1000000L))
    }

    val clusters = stage.counted("07_clusters") {
      val (df, counters) = clusterStage(spark, verdictDf.as[Verdict], repsDf, conf)
      (df, () => counters)
    }

    writeMetricsSnapshot(spark, runDir, ch, verdictDf, clusters)
    clusters
  }

  /** M11 — writes the run's [[RunMetrics]] record as `metrics.json`. Stage
    * lines, run counters and `clustered_docs` come from the stage markers
    * and the committed files' footers; only the verdict summary and the
    * cluster count run Spark jobs.
    *
    * Observability only: never allowed to fail the run — the whole write
    * is exception-fenced.
    */
  private def writeMetricsSnapshot(spark: SparkSession, runDir: String, confHash: String,
                                   verdicts: DataFrame, clusters: DataFrame): Unit =
    try writeMetricsSnapshotUnsafe(spark, runDir, confHash, verdicts, clusters)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] metrics snapshot skipped for $runDir: ${e.getMessage}")
    }

  private def writeMetricsSnapshotUnsafe(spark: SparkSession, runDir: String, confHash: String,
                                         verdicts: DataFrame, clusters: DataFrame): Unit = {
    import spark.implicits._
    // ONE aggregation job over the verdicts for both the run summary and
    // the per-text learner pair counts
    spark.sparkContext.setJobDescription("pipeline: metrics summary")
    val (summary, nClusters) = try {
      val summary = graft.metrics.Metrics.runSummary(verdicts,
        sum(when($"emb_cos".isNotNull, 1).otherwise(0)).as("emb_pairs"),
        sum(when($"shared_span_len" > 0, 1).otherwise(0)).as("span_pairs")).first()
      // a cluster's id is its least member url, so exactly one of its rows
      // carries its own id: one scan, no exchange
      (summary, clusters.filter($"url" === $"cluster_id").rdd.count())
    } finally spark.sparkContext.setJobDescription(null)
    val markers = Stages.map(s => s -> StageStore.counters(spark, s"$runDir/$s", confHash))
    val stages = markers.map { case (s, c) =>
      RunMetrics.StageLine(s, c.getOrElse(StageStore.WallMs, 0L),
        StageStore.partRows(spark, s"$runDir/$s").map(_._2).sum)
    }
    val counters = markers.map(_._2).reduce(_ ++ _)
    def counter(name: String) = counters.getOrElse(name, 0L)
    // sums over a run with no candidate pairs are null: report 0
    def long(field: String) = {
      val i = summary.fieldIndex(field)
      if (summary.isNullAt(i)) 0L else summary.getLong(i)
    }
    val rate = summary.fieldIndex("consensus_rate")
    val record = RunMetrics(
      run_id = s"run_$confHash", config_hash = confHash,
      total_pairs = long("total_pairs"), duplicates = long("duplicates"),
      non_duplicates = long("non_duplicates"), uncertain = long("uncertain"),
      exact_dups = long("exact_dups"), near_dups = long("near_dups"),
      consensus_rate = if (summary.isNullAt(rate)) 0.0 else summary.getDouble(rate),
      clusters = nClusters, clustered_docs = stages.last.rows, // 07_clusters
      dropped_mega_buckets = counter(RunMetrics.DroppedMegaBuckets),
      dropped_domain_pairs = counter(RunMetrics.DroppedDomainPairs),
      emb_pairs = long("emb_pairs"), span_pairs = long("span_pairs"),
      emb_budget_dropped = counter(RunMetrics.EmbBudgetDropped),
      emb_wall_ms = counter(RunMetrics.EmbWallMs), span_wall_ms = counter(RunMetrics.SpanWallMs),
      verify_broadcast = counter(RunMetrics.VerifyBroadcast), verify_doc_bytes = counter(RunMetrics.VerifyDocBytes),
      cc_rounds = counter(RunMetrics.CcRounds), stages = stages)
    val out = new Path(runDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new Path(runDir, "metrics.json"), true)
    try out.write(RunMetrics.toJson(record).getBytes("UTF-8"))
    finally out.close()
  }
}
