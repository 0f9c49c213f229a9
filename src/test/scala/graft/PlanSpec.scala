package graft

import graft.plans.DedupPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests: the EXPLAIN.md claims (pushdown, join
  * strategy, no cartesian blowups, codegen coverage) as machine-checked
  * assertions instead of prose. If an optimizer-visible regression sneaks
  * into a hot path — a filter stops pushing, an LSH self-join degrades to
  * a nested-loop cross product — these fail before any benchmark notices.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** verifyStage over the sf0.001 pipeline run's persisted stages, on the
    * path `broadcastMaxBytes` selects (0 reaches the shuffle path). The doc
    * texts are the whole 01_norm, or with `repsOnly` its exact-group reps
    * joined as DedupPipeline.run joins them.
    */
  private def persistedVerify(broadcastMaxBytes: Long, repsOnly: Boolean = false): (DataFrame, Map[String, Long]) = {
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val allNorm = spark.read.parquet(s"$rd/01_norm")
    val norm = (if (!repsOnly) allNorm else {
      val reps = spark.read.parquet(s"$rd/02_reps")
      allNorm.join(reps.filter($"url" === $"rep").select($"rep"), allNorm("url") === $"rep").drop("rep")
    }).as[graft.model.Schemas.DocNorm]
    val sigs = spark.read.parquet(s"$rd/03_sig").as[graft.model.Schemas.DocSig]
    val cands = spark.read.parquet(s"$rd/05_cand").as[graft.model.Schemas.CandPair]
    val (verdicts, counters) = DedupPipeline.verifyStage(spark, cands, sigs, norm, DedupConfig.balanced,
      broadcastMaxBytes = broadcastMaxBytes)
    (verdicts.toDF(), counters)
  }

  test("projected+filtered parquet scan: filter pushed down, schema pruned") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "en" && col("doc_id") > 100)
      .select("doc_id", "n_chars")
    val p = planOf(df)
    assert(p.contains("PushedFilters:") &&
      p.contains("IsNotNull(lang)") && p.contains("EqualTo(lang,en)") &&
      p.contains("GreaterThan(doc_id,100)"), s"filters not pushed:\n$p")
    // ReadSchema carries only the referenced columns, not text
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("doc_id") && readSchema.contains("lang") &&
      !readSchema.contains("text"), s"schema not pruned: $readSchema")
  }

  test("LSH candidate paths never plan a cartesian / nested-loop join") {
    val lsh = SparkEntry.queries("q_ngram_jaccard_lsh")(spark, sf)
    val p = planOf(lsh)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH path degraded to a cross product:\n$p")
  }

  test("SimHash banding path: equi-join on (band, bucket), no cartesian, narrow exchanges") {
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val sigs = spark.read.parquet(s"$rd/03_sig")
    val pairs = graft.sig.SimHashLsh.nearDupPairs(spark, sigs, maxHamming = 7, maxBucketSize = 2000)._1
    val p = planOf(pairs)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SimHash banding degraded to a cross product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in SimHash banding:\n$p")
    // the banding path must never ship shingle/minhash arrays — only the
    // two fixed-width signature words are read from 03_sig
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("shingles") && !readSchema.contains("minhash"),
      s"SimHash banding reads fat array columns: $readSchema")
  }

  test("pipeline candidate stage: equi-join on bucket keys, no cartesian") {
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val bands = spark.read.parquet(s"$rd/04_bands").as[graft.model.Schemas.BandRow]
    val (cands, _) = graft.plans.DedupPipeline.candidateStage(spark, bands, DedupConfig.balanced)
    val p = planOf(cands.toDF())
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate stage planned a cross product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no hash/merge equi-join in candidate stage:\n$p")
  }

  test("pipeline candidate stage: the bucket self-join's two sides share one exchange") {
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val bands = spark.read.parquet(s"$rd/04_bands").as[graft.model.Schemas.BandRow]
    val (pairs, ran) = TestUtil.executedPlans(spark) {
      graft.plans.DedupPipeline.candidateStage(spark, bands, DedupConfig.balanced)._1.collect()
    }
    assert(pairs.nonEmpty)
    // the guarded band relation: one row per bucket member, hash-partitioned
    // by (band, bucket) for the self-join; the guard's per-bucket count is
    // exchanged above its partial aggregate
    def bucketKeyed(e: ShuffleExchangeExec) = e.output.size == 3 && (e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.size == 2
      case _ => false
    }) && find(e.child)(_.isInstanceOf[BaseAggregateExec]).isEmpty
    val bandExchanges = ran.flatMap(p => collect(p) { case e: ShuffleExchangeExec if bucketKeyed(e) => e })
    assert(bandExchanges.size == 1,
      s"the self-join exchanges the band relation ${bandExchanges.size} times:\n${bandExchanges.mkString("\n")}")
    assert(ran.exists(p => collect(p) { case r: ReusedExchangeExec => r }.nonEmpty), s"no reused exchange:\n$ran")
  }

  test("small-dimension join broadcasts (label assignment)") {
    val p = planOf(SparkEntry.queries("q_label_assign")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"small dim join did not broadcast:\n$p")
  }

  test("per-row scalar paths stay inside whole-stage codegen") {
    // AQE's pre-execution plan doesn't carry codegen spans — execute THIS
    // QueryExecution (collect, not count: count builds a separate one),
    // then inspect the final plan (codegen spans appear there)
    def finalPlan(df: DataFrame): String = { df.collect(); df.queryExecution.executedPlan.toString }
    val p = finalPlan(SparkEntry.queries("q_url_canonical")(spark, sf))
    assert(p.contains("WholeStageCodegen") || p.contains("*("), s"no codegen span:\n$p")
    val q = finalPlan(SparkEntry.queries("q_quality_counts")(spark, sf))
    assert(q.contains("WholeStageCodegen") || q.contains("*("), s"no codegen span:\n$q")
  }

  test("verify stage: no cartesian; shingle arrays join at most once per side") {
    Seq(DedupPipeline.VerifyBroadcastMaxBytes, 0L).foreach { bound =>
      val p = planOf(persistedVerify(bound)._1)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"verify stage planned a cross product:\n$p")
    }
  }

  test("verify stage: verdicts are invariant to the shuffle-partition count") {
    // on both paths: broadcast (the default bound) and shuffle (bound 0)
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 8, membersPerFamily = 7)
    val conf = DedupConfig.balanced
    def verdicts(broadcastMaxBytes: Long): Set[String] = {
      val norm = graft.plans.DedupPipeline.normalizeStage(spark, pages)
      val reps = graft.plans.DedupPipeline.repMap(spark, norm)
      val repNorm = norm.join(reps.filter($"url" === $"rep").select($"rep"),
        norm("url") === $"rep").drop("rep").as[graft.model.Schemas.DocNorm]
      val sigs = graft.plans.DedupPipeline.signatureStage(spark, repNorm, conf)
      val bands = graft.plans.DedupPipeline.bandingStage(spark, sigs, conf)
      val (cands, _) = graft.plans.DedupPipeline.candidateStage(spark, bands, conf)
      val (out, counters) = graft.plans.DedupPipeline.verifyStage(spark, cands, sigs, repNorm, conf,
        broadcastMaxBytes = broadcastMaxBytes)
      assert(counters("verify_broadcast") == (if (broadcastMaxBytes > 0) 1L else 0L))
      out.collect().map(_.toString).toSet
    }
    val broadcast = DedupPipeline.VerifyBroadcastMaxBytes
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val atDefault = verdicts(broadcast)
    assert(atDefault.nonEmpty)
    assert(verdicts(0L) == atDefault, "the shuffle path's verdicts differ from the broadcast path's")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      assert(verdicts(broadcast) == atDefault)
      assert(verdicts(0L) == atDefault)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("winnow: derivation is shuffle-free; matching is an equi-join, no cartesian") {
    // fingerprint derivation is a per-partition map + explode — it must
    // plan WITHOUT any exchange (per-doc work, no repartition, no agg);
    // the query's presentation orderBy is stripped by planning the
    // derivation directly
    val deriv = graft.sig.Winnow.fingerprintRows(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 4, 4)
    val dp = planOf(deriv)
    assert(!dp.contains("Exchange"), s"winnow derivation plans a shuffle:\n$dp")
    // matching: one equi-join on the fingerprint value, never a cross join
    val m = planOf(SparkEntry.queries("q_winnow_matches")(spark, sf))
    assert(!m.contains("CartesianProduct") && !m.contains("BroadcastNestedLoopJoin"),
      s"winnow matching degraded to a cross product:\n$m")
    assert(m.contains("SortMergeJoin") || m.contains("ShuffledHashJoin") ||
      m.contains("BroadcastHashJoin"), s"no equi-join in winnow matching:\n$m")
  }

  test("line dedup: hash-based anti-join on the hot set, no cartesian") {
    val p = planOf(SparkEntry.queries("q_line_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line-dedup anti-join degraded to a cross product:\n$p")
    assert(p.contains("LeftAnti"), s"no anti-join in line dedup:\n$p")
  }

  test("keep-best emission: partial aggregation, no window operator") {
    // the argmax must be a partial-aggregable min(struct(...)) — a window
    // (row_number) would sort every member of every cluster in one task
    // and a boilerplate mega-cluster would serialize the emission
    val p = planOf(SparkEntry.queries("q_dedup_keep_best")(spark, sf))
    assert(!p.contains("Window"), s"keep-best planned a window operator:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"keep-best lost its aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"keep-best planned a cross product:\n$p")
  }

  test("semdedup: within-cluster join is an equi-join on list_id, no cartesian") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      val rng = new graft.pages.PagesSource.DetRng(i)
      (i, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Seq((0, Array.fill(8)(0.5)), (1, Array.fill(8)(-0.5)))
      .toDF("list_id", "centroid")
    val asg = graft.ann.SemDedup.assignWithDist(spark, vecs, cents)
    val edges = graft.ann.SemDedup.clusterEdges(spark, vecs, asg, tau = 0.9,
      maxClusterSize = 100000L)._1
    val p = planOf(edges)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semdedup within-cluster join degraded to a cross product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in semdedup edges:\n$p")
  }

  test("revisit keep-latest: exactly one hash exchange on url, never a global sort") {
    // per-URL survivor selection must shuffle ONCE on url and nowhere
    // else — the refetch derivation is map-only, and the window's sort is
    // within url groups (bounded by snapshot count), never a global order
    val pq = SparkEntry.pagesDumpDir(spark, sf)
    val rev = graft.pages.Revisits
    val p = planOf(rev.keepLatestFetch(rev.withRefetches(spark.read.parquet(pq), 0.3)))
    val exchanges = p.linesIterator.filter(_.matches(".*\\(\\d+\\) Exchange.*")).toSeq
    assert(exchanges.size == 1, s"expected 1 exchange, got ${exchanges.size}:\n$p")
    assert(p.contains("hashpartitioning(url"), s"not hash-partitioned on url:\n$p")
    assert(!p.contains("rangepartitioning") && !p.contains("SinglePartition"),
      s"global sort leaked into keep-latest:\n$p")
  }

  test("shard assignment plans no window and no single-partition exchange") {
    // the global rank comes from the two-pass prefix scan over a
    // range-partitioned checkpoint — a Window (or Exchange SinglePartition)
    // here would mean the rank collapsed to one task
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val p = planOf(graft.sources.Sharding.assignShards(df, "doc_id", "n_chars", 8))
    assert(!p.contains("Window"), s"sharding planned a window:\n$p")
    assert(!p.contains("SinglePartition"), s"sharding planned a 1-partition exchange:\n$p")
  }

  test("verify stage: no exchange mixes embedding vectors with span texts") {
    // The round-4 emb/span pass split as a machine-checked invariant: the
    // round-3 cascade shipped each pair's vectors through the span-text
    // joins' exchanges (16 + 19 GB of the 58.8 GB shuffle at the 450k-page
    // cluster bench). After the split, a shuffle exchange may carry doc
    // vectors OR span-capped texts, never both — if a future refactor
    // re-chains the passes, this fails before any benchmark notices.
    // Checked on the shuffle path (bound 0); the broadcast path ships
    // neither through an exchange (next tests).
    val (verdicts, counters) = persistedVerify(0L)
    assert(counters("verify_broadcast") == 0L)
    val p = planOf(verdicts)
    // formatted explain: each operator is a "(n) OpName" section whose
    // Input/Output lines list the attributes crossing that operator
    val sections = p.split("\\(\\d+\\) ").toSeq
    val exchangeAttrLists = sections
      .filter(s => s.startsWith("Exchange") || s.startsWith("AQEShuffleRead"))
      .map(_.linesIterator
        .filter(l => l.trim.startsWith("Input") || l.trim.startsWith("Output"))
        .mkString(" "))
    def hasVec(io: String) = io.contains("va#") || io.contains("vb#") || io.contains("vec#")
    def hasText(io: String) = io.contains("a_text#") || io.contains("b_text#")
    val mixed = exchangeAttrLists.filter(io => hasVec(io) && hasText(io))
    assert(mixed.isEmpty,
      s"an exchange carries both vectors and span texts (cascade regression):\n${mixed.mkString("\n")}")
    // sanity: the parse actually saw the two heavy paths' exchanges
    assert(exchangeAttrLists.exists(hasVec), s"no vector-carrying exchange found — parse broke?\n$p")
    assert(exchangeAttrLists.exists(hasText), s"no text-carrying exchange found — parse broke?\n$p")
  }

  test("verify stage: the span pass sorts by anchor doc with no exchange of its own") {
    // The per-anchor automaton build reads each b's pairs as one run: the
    // sort rides on the b-partitioning the second span-text join already
    // has, so the span texts still cross exactly three exchanges (the a
    // texts, the pairs re-keyed by b with their a texts, the b texts).
    // Checked on the shuffle path (bound 0).
    val (verdicts, counters) = persistedVerify(0L)
    assert(counters("verify_broadcast") == 0L)
    val p = planOf(verdicts)
    val sections = p.split("\\(\\d+\\) ").toSeq
    def io(s: String) = s.linesIterator
      .filter(l => l.trim.startsWith("Input") || l.trim.startsWith("Output")).mkString(" ")
    def hasText(s: String) = io(s).contains("a_text#") || io(s).contains("b_text#")
    val textExchanges = sections.filter(s => s.startsWith("Exchange") && hasText(s))
    assert(textExchanges.size == 3, s"span texts cross ${textExchanges.size} exchanges:\n$p")
    assert(sections.exists(s => s.startsWith("Sort") && io(s).contains("a_text#") &&
      s.linesIterator.exists(l => l.trim.startsWith("Arguments") && l.contains("b#"))),
      s"no anchor sort in the span pass:\n$p")
  }

  test("verify stage, broadcast path: no exchange carries shingle arrays, vectors or span texts") {
    // every action verify runs (the size count, the base and docEmb
    // checkpoints) as executed, plus the verdicts' own plan before
    // execution, so no pass escapes for lack of pairs; over the whole
    // 01_norm and over the pipeline's exact-group reps
    Seq(false, true).foreach { repsOnly =>
      val ((verdicts, counters), ran) =
        TestUtil.executedPlans(spark)(persistedVerify(DedupPipeline.VerifyBroadcastMaxBytes, repsOnly))
      assert(counters("verify_broadcast") == 1L)
      assert(counters("verify_doc_bytes") > 0L)
      val plans = ran :+ verdicts.queryExecution.executedPlan
      // the doc-side payload columns of the verify joins, and the full text
      // the embedding pass reads
      val payload = Set("a_sh", "b_sh", "va", "vb", "vec", "a_text", "b_text", "norm_text")
      def payloadOf(p: SparkPlan): Set[String] = p.output.map(_.name).filter(payload).toSet
      val fat = plans.flatMap(p => collect(p) { case e: ShuffleExchangeExec if payloadOf(e).nonEmpty => e })
      assert(fat.isEmpty,
        s"exchanges carry doc payloads on the broadcast path (repsOnly=$repsOnly):\n${fat.mkString("\n")}")
      // each payload does reach the pairs, through a broadcast; the texts
      // only capped to the span pass's length, never whole
      val broadcast = plans.flatMap(p => collect(p) { case e: BroadcastExchangeExec => payloadOf(e) }).flatten.toSet
      Seq(Set("a_sh", "b_sh"), Set("va", "vb"), Set("a_text", "b_text")).foreach(cols =>
        assert((broadcast & cols).nonEmpty, s"no broadcast carries $cols (repsOnly=$repsOnly): $broadcast"))
      assert(!broadcast("norm_text"), s"a broadcast carries the full texts (repsOnly=$repsOnly)")
    }
  }

  test("verify stage, broadcast path: the span pass exchanges key-only pairs by b before its anchor sort") {
    // one automaton per anchor doc b needs each b's pairs in one partition:
    // on the broadcast path the only exchange between the anchor sort and
    // the span pairs is a hash exchange on b carrying (a, b)
    val (verdicts, counters) = persistedVerify(DedupPipeline.VerifyBroadcastMaxBytes)
    assert(counters("verify_broadcast") == 1L)
    val plan = verdicts.queryExecution.executedPlan // not yet executed: the initial adaptive plan
    def named(p: SparkPlan, n: String) = p.output.exists(_.name == n)
    def keys(es: Seq[Expression]) = es.collect { case a: Attribute => a.name }
    val anchorSorts = collect(plan) {
      case s: SortExec if named(s, "a_text") && keys(s.sortOrder.map(_.child)) == Seq("b") => s
    }
    assert(anchorSorts.size == 1, s"expected one anchor sort:\n$plan")
    // the first shuffle exchanges met walking down from the sort, not
    // descending into broadcasts
    def firstShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Seq(e)
      case _: BroadcastExchangeExec | _: BroadcastQueryStageExec => Nil
      case _ => allChildren(p).flatMap(firstShuffles)
    }
    val below = firstShuffles(anchorSorts.head)
    assert(below.size == 1, s"expected one exchange below the anchor sort:\n${anchorSorts.head}")
    val ex = below.head
    assert(ex.output.map(_.name).toSet == Set("a", "b"), s"the span pairs' exchange carries ${ex.output}")
    assert(ex.outputPartitioning match {
      case h: HashPartitioning => keys(h.expressions) == Seq("b")
      case _ => false
    }, s"the span pairs' exchange is not keyed by b: ${ex.outputPartitioning}")
  }

  test("sketch and chunking plans: CMS is one partial-agg shuffle; chunking is map-only") {
    val cms = SparkEntry.queries("q_cms_sketch")(spark, sf)
    val pc = planOf(cms)
    // exactly one HASH shuffle (the d*w-key aggregate; the trailing
    // orderBy adds only the presentation range exchange), preceded by a
    // partial HashAggregate so the shuffle carries at most one row per
    // (task, cell)
    val nHash = "hashpartitioning".r.findAllIn(pc).size
    assert(nHash == 1, s"CMS sketch should hash-shuffle exactly once (got $nHash):\n$pc")
    assert(pc.contains("HashAggregate"), s"CMS sketch lost map-side partial agg:\n$pc")
    val chunks = SparkEntry.queries("q_doc_chunks")(spark, sf)
    val pk = planOf(chunks)
    // chunk derivation is per-row: no hash shuffle anywhere (the orderBy
    // range exchange for presentation is the only allowed exchange)
    assert(!pk.contains("hashpartitioning"),
      s"chunking introduced a hash shuffle:\n$pk")
  }

  test("DSIR weights: fit joins broadcast, one per-doc hash shuffle, no cartesian") {
    val p = planOf(SparkEntry.queries("q_dsir_weights")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"DSIR fit join must broadcast, not shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"DSIR fit join lost its broadcast:\n$p")
    // exactly one corpus-sized hash exchange: the per-doc weight aggregate.
    // The two <=B-row fit aggregates are bounded by the bucket count, so
    // at most three hash exchanges total, and partial aggregation must
    // cover the per-doc sum
    val nHash = "hashpartitioning".r.findAllIn(p).size
    assert(nHash <= 3, s"DSIR weights grew extra hash shuffles (got $nHash):\n$p")
    assert(p.contains("HashAggregate"), s"DSIR lost map-side partial agg:\n$p")
  }

  test("b-bit estimate pairs: packed-signature joins stay equi, no cartesian") {
    val df = SparkEntry.queries("q_bbit_est_pairs")(spark, sf)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"b-bit pair path degraded:\n$p")
    // the match/estimate arithmetic is a codegen'd projection, not an agg
    // (codegen spans only appear on the EXECUTED plan under AQE)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("WholeStageCodegen") || ep.contains("*("),
      s"b-bit estimator fell out of codegen:\n$ep")
  }

  test("OPH signature table: binned min + bounded map collect, no cartesian") {
    val p = planOf(SparkEntry.queries("q_oph_signatures")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"OPH path degraded:\n$p")
    // two aggregates: (url, bin) min with partial agg, then the per-url
    // k-entry map collect — both hash exchanges on url-derived keys
    assert(p.contains("HashAggregate"), s"OPH lost map-side partial agg:\n$p")
  }
}
