package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests: the EXPLAIN.md claims (pushdown, join
  * strategy, no cartesian blowups, codegen coverage) as machine-checked
  * assertions instead of prose. If an optimizer-visible regression sneaks
  * into a hot path — a filter stops pushing, an LSH self-join degrades to
  * a nested-loop cross product — these fail before any benchmark notices.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

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
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val norm = spark.read.parquet(s"$rd/01_norm").as[graft.model.Schemas.DocNorm]
    val sigs = spark.read.parquet(s"$rd/03_sig").as[graft.model.Schemas.DocSig]
    val cands = spark.read.parquet(s"$rd/05_cand").as[graft.model.Schemas.CandPair]
    val verdicts = graft.plans.DedupPipeline.verifyStage(spark, cands, sigs, norm, DedupConfig.balanced)
    val p = planOf(verdicts.toDF())
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"verify stage planned a cross product:\n$p")
  }

  test("verify stage: verdicts are invariant to the shuffle-partition count") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 8, membersPerFamily = 7)
    val conf = DedupConfig.balanced
    def verdicts(): Set[String] = {
      val norm = graft.plans.DedupPipeline.normalizeStage(spark, pages)
      val reps = graft.plans.DedupPipeline.repMap(spark, norm)
      val repNorm = norm.join(reps.filter($"url" === $"rep").select($"rep"),
        norm("url") === $"rep").drop("rep").as[graft.model.Schemas.DocNorm]
      val sigs = graft.plans.DedupPipeline.signatureStage(spark, repNorm, conf)
      val bands = graft.plans.DedupPipeline.bandingStage(spark, sigs, conf)
      val (cands, _) = graft.plans.DedupPipeline.candidateStage(spark, bands, conf)
      graft.plans.DedupPipeline.verifyStage(spark, cands, sigs, repNorm, conf)
        .collect().map(_.toString).toSet
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val atDefault = verdicts()
    assert(atDefault.nonEmpty)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      assert(verdicts() == atDefault)
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
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val norm = spark.read.parquet(s"$rd/01_norm").as[graft.model.Schemas.DocNorm]
    val sigs = spark.read.parquet(s"$rd/03_sig").as[graft.model.Schemas.DocSig]
    val cands = spark.read.parquet(s"$rd/05_cand").as[graft.model.Schemas.CandPair]
    val verdicts = graft.plans.DedupPipeline.verifyStage(spark, cands, sigs, norm, DedupConfig.balanced)
    val p = planOf(verdicts.toDF())
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
    import spark.implicits._
    val rd = SparkEntry.pipelineRunDir(spark, sf)
    val norm = spark.read.parquet(s"$rd/01_norm").as[graft.model.Schemas.DocNorm]
    val sigs = spark.read.parquet(s"$rd/03_sig").as[graft.model.Schemas.DocSig]
    val cands = spark.read.parquet(s"$rd/05_cand").as[graft.model.Schemas.CandPair]
    val p = planOf(graft.plans.DedupPipeline.verifyStage(spark, cands, sigs, norm, DedupConfig.balanced).toDF())
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
