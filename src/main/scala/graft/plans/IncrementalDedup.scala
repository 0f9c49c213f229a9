package graft.plans

import graft.DedupConfig
import graft.model.Schemas._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

/** Incremental near-dup ingest — the production flow for a continuously
  * crawled corpus: dedup a NEW batch of pages against an EXISTING signed
  * corpus without recomputing (or even rescanning most of) the old data.
  *
  * What makes this the 100 TB shape rather than "run the pipeline again":
  *
  *   - The old corpus is touched only through its PERSISTED stage outputs
  *     (01_norm hash columns, 04_bands, 03_sig, 07_clusters) — never its
  *     text. All old-side reads are column-pruned and semi-join-restricted
  *     to keys the new batch actually produces, so per-batch cost scales
  *     with |batch| x bucket hit rate, not |corpus|.
  *   - Candidate generation probes ONLY buckets that contain at least one
  *     new-batch row: old bands are semi-joined against the new batch's
  *     (band, bucket) set before any pair join. An idle old bucket
  *     contributes zero I/O beyond the (pushdown-pruned) bands scan.
  *   - Cluster maintenance is TOUCHED-COMPONENT-ONLY: existing cluster
  *     memberships are pulled (as rep->member star edges) only for
  *     clusters adjacent to a new duplicate edge; connected components
  *     runs over new edges + those stars — on the driver by union-find
  *     while they number at most ConnectedComponents.DriverMaxEdges, as
  *     for a typical batch, else by the distributed loop. Untouched
  *     clusters are never read past the membership semi-join, and two old
  *     clusters bridged by a new page merge correctly.
  *   - Exact short-circuit first: a new page whose exact_hash matches the
  *     old corpus (or another new page) attaches by a hash equi-join and
  *     is never signed or banded — refetches cost one join, not a
  *     signature pass.
  *
  * Config compatibility is enforced: signatures/bands are only comparable
  * under the exact shingle/signature config that produced the old run, so
  * ingest refuses an old run dir whose config marker differs.
  *
  * Outputs persist under `incDir` through the same stage runner as
  * DedupPipeline.run ([[StageStore.Run]]): markers, lineage under
  * `incDir/lineage/<stage>` and `wall_ms` in every marker — except that
  * the incremental tag also carries a BATCH token (row count +
  * order-independent xxh64 content hash of the new batch), so re-running
  * against the same incDir with a DIFFERENT batch recomputes instead of
  * silently returning the previous batch's persisted stages; the lineage
  * rows carry that tag as their `config_hash`. As in the pipeline, run
  * counters live in the markers: `inc_05_cand` records
  * `dropped_mega_buckets` and `capped_docs` (docs that lost a partner to
  * the per-doc cap; exact unless a task was retried), `inc_06_verdicts`
  * records `verify_broadcast` and `verify_doc_bytes` (which verify path
  * ran, and the counted payload it was chosen from) and `emb_wall_ms` /
  * `span_wall_ms` (see [[DedupPipeline.verifyStage]]), and
  * `inc_07_assign` records `cc_rounds` (0 when the driver labelled the
  * components). A freshly
  * written stage and every old-run stage are read with their known
  * schemas, so no read runs Spark's schema-inference job; a resumed stage
  * infers its schema.
  * The returned assignment covers every AFFECTED component (one
  * containing at least one new page), with old members included so sinks
  * can upsert merged clusters atomically.
  *
  * Known divergences from a full recompute, both logged when they fire:
  *
  *   - Per-doc candidate cap: the cap is applied over INCREMENTAL pairs
  *     only, while a full recompute caps over all pairs of the union
  *     corpus — a doc at the cap can keep a slightly different candidate
  *     subset. Exact equivalence holds strictly below the cap
  *     (IncrementalDedupSpec corpora are far below it).
  *   - Mega-bucket guard boundary: a bucket that crosses maxBucketSize
  *     only once the new batch lands is dropped for NEW pairs, but the
  *     old-old verdicts the base run already made inside it are kept —
  *     a full recompute would drop those too.
  *
  * Each ingest dedups against exactly ONE old run. For a continuously
  * crawled corpus, fold each batch forward with [[compact]] —
  * `ingest(B1) -> compact -> ingest(B2) -> compact -> ...` — so batch
  * N+1 dedups against base ∪ B1..N (two-step equivalence proven in
  * IncrementalDedupSpec).
  */
object IncrementalDedup {

  // run counter of inc_05_cand: docs that hit maxCandidatesPerDoc
  private final val CappedDocs = "capped_docs"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The old run must have been produced by the same signature config —
    * cross-config signatures are not comparable. Checked via the stage
    * marker DedupPipeline.run wrote next to 03_sig.
    */
  private def requireCompatible(spark: SparkSession, oldRunDir: String, ch: String): Unit = {
    require(StageStore.done(spark, s"$oldRunDir/03_sig", ch),
      s"old run at $oldRunDir was not produced by config $ch — " +
      "incremental signatures would be incomparable (re-run the base pipeline or pass its config)")
  }

  /** Order-independent identity of the new batch (row count + xor of
    * per-row xxh64) — part of the incremental stage markers so a resume
    * only fires for the SAME batch, not merely the same config.
    */
  private def batchToken(spark: SparkSession, pages: Dataset[Page]): String = {
    import spark.implicits._
    // hash EVERY Page field the pipeline reads (url, text, lang, warc_ts,
    // html bytes): a re-ingest of the same urls/texts with e.g. a corrected
    // lang column is a DIFFERENT batch and must not resume the old stages.
    spark.sparkContext.setJobDescription("incremental: batch token")
    val r = try pages.toDF()
      .select(xxhash64($"url", coalesce($"text", lit("")),
        coalesce($"lang", lit("")), coalesce($"warc_ts".cast("long"), lit(0L)),
        coalesce(xxhash64($"html"), lit(0L))).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x")).first()
    finally spark.sparkContext.setJobDescription(null)
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    f"${r.getLong(0)}%x_$x%016x"
  }

  /** @param verifyBroadcastMaxBytes verify's broadcast bound
    *        ([[DedupPipeline.VerifyBroadcastMaxBytes]]); tests pass 0 to
    *        reach the shuffle path.
    */
  def ingest(spark: SparkSession, oldRunDir: String, newPages: Dataset[Page],
             incDir: String, conf: DedupConfig = DedupConfig.balanced,
             resume: Boolean = true,
             verifyBroadcastMaxBytes: Long = DedupPipeline.VerifyBroadcastMaxBytes): DataFrame = {
    import spark.implicits._
    val ch = conf.configHash
    requireCompatible(spark, oldRunDir, ch)
    val marker = s"${ch}_b${batchToken(spark, newPages)}"

    val stage = new StageStore.Run(spark, incDir, marker, "incremental", resume)
    // an old-run stage, read with the schema DedupPipeline.run wrote it with
    def oldStage[T <: Product : TypeTag](name: String): DataFrame =
      spark.read.schema(Encoders.product[T].schema).parquet(s"$oldRunDir/$name")

    // ---- new-batch normalize + exact short-circuit ----
    val newNormDf = stage("inc_01_norm") { DedupPipeline.normalizeStage(spark, newPages).toDF() }
    val newNorm = newNormDf.as[DocNorm]
    val newRepsDf = stage("inc_02_reps") { DedupPipeline.repMap(spark, newNorm) }

    // old norm: column-pruned (url, exact_hash) — never the text
    val oldHashes = oldStage[DocNorm]("01_norm").select($"url", $"exact_hash")

    // the batch's exact-group reps, as DedupPipeline.run's repNorm
    val newRepNorm = newNorm.toDF()
      .join(newRepsDf.filter($"url" === $"rep").select($"rep"), $"url" === $"rep")
      .drop("rep")

    // new rep -> lexicographically-min old url with the same exact hash
    val exactAttachDf = stage("inc_exact_attach") {
      newRepNorm.select($"url".as("new_url"), $"exact_hash".as("neh"))
        .join(oldHashes, $"neh" === $"exact_hash")
        .groupBy($"new_url").agg(min($"url").as("old_url"))
    }

    // only UNMATCHED new reps get signed/banded — exact refetches never
    // reach the signature pass
    val freshReps = newRepNorm
      .join(exactAttachDf.select($"new_url"), $"url" === $"new_url", "left_anti")
      .as[DocNorm]

    val newSigDf = stage("inc_03_sig") {
      // Boilerplate suppression: sign the new batch with the OLD run's
      // persisted hot set (frozen template vocabulary) — recomputing df over
      // the batch alone would suppress a different set and make signatures
      // incomparable. The union corpus's df drifts as batches accumulate;
      // compact() + a base re-run refreshes the vocabulary. Divergence vs a
      // full recompute (which would derive df over the union) is the same
      // documented class as the per-doc candidate cap near its boundary.
      val hot: Array[Long] = if (conf.boilerplateMaxDfFrac.isEmpty) Array.emptyLongArray else {
        val p = s"$oldRunDir/03_hot"
        require(fs(spark, p).exists(new Path(p)),
          s"old run at $oldRunDir has boilerplate suppression configured but no persisted 03_hot set")
        spark.read.parquet(p).orderBy($"shingle").as[Long].collect()
      }
      DedupPipeline.signatureStage(spark, freshReps, conf, hot).toDF()
    }
    val newBandDf = stage("inc_04_bands") { DedupPipeline.bandingStage(spark, newSigDf.as[DocSig], conf).toDF() }

    // ---- candidates: probe only buckets containing a new row ----
    val cappedDocs = spark.sparkContext.longAccumulator("graft.ingest.cappedDocs")
    val candDf = stage.counted("inc_05_cand") {
      val nbAll = newBandDf.select($"band", $"bucket", $"url")
      val newKeys = nbAll.select($"band", $"bucket").distinct()
      val oldBands = oldStage[BandRow]("04_bands").select($"band", $"bucket", $"url")
      val oldInNew = oldBands.join(newKeys, Seq("band", "bucket"), "left_semi")
      // mega-bucket guard on the COMBINED size (shared impl): a degenerate
      // bucket is degenerate regardless of which side its members came from
      val g = graft.lsh.BucketGuard
        .okBuckets(spark, nbAll.unionByName(oldInNew), conf.maxBucketSize, "inc")
      // One `nb` relation feeds both sides of the intra self-join and the new
      // side of the cross join, so one exchange serves all three. Urls are
      // never null; the explicit filter is the one the self-join's a < b
      // infers, so the cross join's new side plans the same. Semi-joins
      // keep nb's and ob's size estimates their own bands' (an inner join's
      // is the product of its sides), so a batch under the broadcast
      // threshold broadcasts nb into both joins with no exchange at all.
      val nb = nbAll.join(g.ok, Seq("band", "bucket"), "left_semi").filter($"url".isNotNull)
      // every guarded bucket holds a new row (old rows count only in the
      // batch's buckets), so g.ok already restricts the old bands to them
      val ob = oldBands.join(g.ok, Seq("band", "bucket"), "left_semi")
      val intra = DedupPipeline.selfPairs(spark, nb)
      val cross = nb.as("n").join(ob.as("o"), $"n.band" === $"o.band" && $"n.bucket" === $"o.bucket")
        .select(least($"n.url", $"o.url").as("a"), greatest($"n.url", $"o.url").as("b"))
      (DedupPipeline.capPerDoc(spark, intra.union(cross), conf.maxCandidatesPerDoc, Some(cappedDocs)),
        () => Map(RunMetrics.DroppedMegaBuckets -> g.dropped, CappedDocs -> cappedDocs.value))
    }
    // cap-boundary divergence from full recompute (object Scaladoc) —
    // mirror the mega-bucket logged-drop convention when it fires
    if (cappedDocs.value > 0)
      System.err.println(s"[graft.IncrementalDedup] ${cappedDocs.value} docs hit " +
        s"maxCandidatesPerDoc=${conf.maxCandidatesPerDoc} during ingest (exact unless a task " +
        "was retried) — candidate sets for those docs may differ from a full recompute")

    // ---- verify: sigs/norm restricted to pair members (semi-joins) ----
    val verdictDf = stage.counted("inc_06_verdicts") {
      // the member set is materialized once for both semi-joins, and each
      // restricted relation is built once: verify's size count, its
      // broadcast builds and the embedding pass read the blocks instead of
      // re-running the semi-join over the old run's full text
      val members = DedupPipeline.ckpt(spark,
        candDf.select($"a".as("url")).union(candDf.select($"b".as("url"))).distinct(), conf)
      val oldSigs = oldStage[DocSig]("03_sig")
        .join(members, Seq("url"), "left_semi")
      val sigsU = DedupPipeline.ckpt(spark, newSigDf.unionByName(oldSigs), conf).as[DocSig]
      val oldNorm = oldStage[DocNorm]("01_norm")
        .join(members, Seq("url"), "left_semi")
      val normU = DedupPipeline.ckpt(spark, newNormDf.unionByName(oldNorm), conf).as[DocNorm]
      val (verdicts, counters) = DedupPipeline.verifyStage(spark, candDf.as[CandPair], sigsU, normU, conf,
        broadcastMaxBytes = verifyBroadcastMaxBytes)
      (verdicts.toDF(), counters)
    }

    // ---- touched-component clustering ----
    stage.counted("inc_07_assign") {
      val dupEdges = verdictDf.filter($"final_label" === "DUPLICATE").select($"a", $"b")
      val exactEdges = exactAttachDf.select($"old_url".as("a"), $"new_url".as("b"))
      val newStars = DedupPipeline.exactEdges(spark, newRepsDf)
      val edges = dupEdges.union(exactEdges).union(newStars)

      val oldClusters = oldStage[ClusterRow]("07_clusters")
      val endpoints = edges.select($"a".as("url")).union(edges.select($"b".as("url"))).distinct()
      // clusters adjacent to any new edge, then ALL their members as
      // rep->member stars (cluster_id is the component's min url)
      val touched = oldClusters.join(endpoints, Seq("url"), "left_semi")
        .select($"cluster_id").distinct()
      val oldStars = oldClusters.join(touched, Seq("cluster_id"), "left_semi")
        .filter($"url" =!= $"cluster_id")
        .select($"cluster_id".as("a"), $"url".as("b"))

      val (labels, rounds) = graft.cc.ConnectedComponents
        .run(spark, edges.union(oldStars), reliable = conf.reliableCheckpoints)
      val comp = labels.select($"url".as("m"), $"comp")
      // attach new exact-group members through the new rep map; old urls
      // and new reps are already vertices
      val newMembers = newRepsDf.join(comp, $"rep" === $"m")
        .select($"url", $"comp".as("cluster_id"))
      val oldMembers = comp.select($"m".as("url"), $"comp".as("cluster_id"))
        .join(newRepsDf.select($"url"), Seq("url"), "left_anti")
      val assigned = newMembers.unionByName(oldMembers).distinct()
      val newUrls = newNormDf.select($"url").withColumn("is_new", lit(true))
      val sizes = assigned.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      (assigned.join(sizes, "cluster_id")
        .filter($"cluster_size" >= 2)
        .join(newUrls, Seq("url"), "left")
        .select($"url", $"cluster_id", $"cluster_size",
          coalesce($"is_new", lit(false)).as("is_new")),
        () => Map(RunMetrics.CcRounds -> rounds.toLong))
    }
  }

  /** Fold an ingest's incremental outputs FORWARD into a complete
    * ingest-compatible run layout at `outRunDir` (01_norm, 03_sig,
    * 04_bands, 07_clusters + config markers), so the NEXT batch dedups
    * against base ∪ batch — the continuous-crawl steady state:
    * `ingest(B1) -> compact -> ingest(B2) -> ...`.
    *
    * The first three stages are plain unions (inc_03_sig/inc_04_bands hold
    * only the batch's FRESH reps — exact-refetch pages were never signed
    * and correctly stay out of the signature corpus; they remain reachable
    * through the merged 01_norm hash column). Clusters merge by component:
    * every old cluster touched by the ingest is replaced wholesale by its
    * merged assignment (inc_07_assign covers all members of affected
    * components), untouched old clusters are kept as-is.
    *
    * The output is for [[ingest]] chaining, not a DedupPipeline.run resume
    * dir (02_reps/05_cand/06_verdicts are per-run artifacts and are not
    * folded).
    */
  def compact(spark: SparkSession, oldRunDir: String, incDir: String, outRunDir: String,
              conf: DedupConfig = DedupConfig.balanced): Unit = {
    import spark.implicits._
    val ch = conf.configHash
    requireCompatible(spark, oldRunDir, ch)
    require(outRunDir != oldRunDir && outRunDir != incDir,
      s"compact writes a new run layout — outRunDir must differ from oldRunDir/incDir ($outRunDir)")

    def fold(stage: String, incName: String): Unit = {
      val merged = spark.read.parquet(s"$oldRunDir/$stage")
        .unionByName(spark.read.parquet(s"$incDir/$incName"))
      merged.write.mode(SaveMode.Overwrite).parquet(s"$outRunDir/$stage")
      StageStore.mark(spark, s"$outRunDir/$stage", ch)
    }
    fold("01_norm", "inc_01_norm")
    fold("03_sig", "inc_03_sig")
    fold("04_bands", "inc_04_bands")

    val oldC = spark.read.parquet(s"$oldRunDir/07_clusters")
    val incA = spark.read.parquet(s"$incDir/inc_07_assign")
      .select($"url", $"cluster_id", $"cluster_size")
    val touched = oldC.join(incA.select($"url"), Seq("url"), "left_semi")
      .select($"cluster_id").distinct()
    val kept = oldC.join(touched, Seq("cluster_id"), "left_anti")
    kept.unionByName(incA).write.mode(SaveMode.Overwrite).parquet(s"$outRunDir/07_clusters")
    StageStore.mark(spark, s"$outRunDir/07_clusters", ch)
  }
}
