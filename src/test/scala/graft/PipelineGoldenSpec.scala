package graft

import graft.model.Schemas.Page
import graft.plans.DedupPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** End-to-end pipeline vs the reference: dup-pair recall >= 0.99 against the
  * reference's cluster assignments (BASELINE.json metric) on the golden
  * corpus, at the same shingle/signature config.
  */
class PipelineGoldenSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val clustersByUrl: Map[String, String] = {
    import spark.implicits._
    val pages = GoldenFixtures.corpus.map { d =>
      Page(d.url, new Timestamp(1704067200000L), Array.emptyByteArray, d.text, "en")
    }
    val ds = spark.createDataset(pages)
    val dir = "/tmp/graft_test_pipeline"
    TestUtil.deleteRecursively(new java.io.File(dir))
    val out = DedupPipeline.run(spark, ds, dir, DedupConfig.balanced, resume = false)
    out.select($"url", $"cluster_id").as[(String, String)].collect().toMap
  }

  private def recallVs(mode: String): (Double, Long, Long) = {
    val clusters = GoldenFixtures.goldenClusters.filter(_.mode == mode)
    var total = 0L
    var hit = 0L
    clusters.foreach { c =>
      val ms = c.members
      for (i <- ms.indices; j <- (i + 1) until ms.size) {
        total += 1
        val ci = clustersByUrl.get(ms(i))
        val cj = clustersByUrl.get(ms(j))
        if (ci.isDefined && ci == cj) hit += 1
      }
    }
    (hit.toDouble / total, hit, total)
  }

  test("dup-pair recall >= 0.99 vs reference clusters (sampler candidates)") {
    val (recall, hit, total) = recallVs("sampler")
    info(f"sampler-mode recall: $recall%.4f ($hit/$total pairs)")
    assert(recall >= 0.99)
  }

  test("dup-pair recall >= 0.99 vs reference clusters (all truth pairs scored)") {
    val (recall, hit, total) = recallVs("alltruth")
    info(f"alltruth-mode recall: $recall%.4f ($hit/$total pairs)")
    assert(recall >= 0.99)
  }

  test("verdict labels agree with reference decisions on shared pairs") {
    import spark.implicits._
    val verdicts = spark.read.parquet("/tmp/graft_test_pipeline/06_verdicts")
      .select($"pair_key", $"final_label").as[(String, String)].collect().toMap
    // Verdicts are rep-level (exact-group members never reach LSH; they
    // attach via the rep map), so only golden pairs between group reps can
    // appear here. Exhaustive pair-level decision parity over all 3302
    // golden pairs lives in DecisionParitySpec.
    val shared = GoldenFixtures.goldenDecisions.filter(d => verdicts.contains(d.pairKey))
    assert(shared.size > 100, s"too few shared pairs (${shared.size}) for a meaningful check")
    val disagree = shared.filter(d => verdicts(d.pairKey) != d.label)
    val rate = 1.0 - disagree.size.toDouble / shared.size
    info(f"shared pairs: ${shared.size}, agreement: $rate%.5f")
    assert(disagree.isEmpty, s"first disagreements: ${disagree.take(5).map(d =>
      s"${d.pairKey} ours=${verdicts(d.pairKey)} ref=${d.label}").mkString("; ")}")
  }

  test("exact duplicates collapse via the exact-hash short-circuit") {
    // families' case/whitespace/punct/special variants (kinds 1-4) must land
    // in the same cluster as their base without needing signature votes
    val fams = GoldenFixtures.corpus.filter(d => d.family >= 0 && d.kind >= 0 && d.kind <= 4)
      .groupBy(_.family)
    fams.foreach { case (_, members) =>
      val cids = members.flatMap(m => clustersByUrl.get(m.url)).distinct
      assert(cids.size == 1, s"family ${members.head.family} exact variants split: $cids")
    }
  }

  test("metrics snapshot is written alongside outputs") {
    import spark.implicits._
    clustersByUrl // force the pipeline run
    val f = new java.io.File("/tmp/graft_test_pipeline/metrics.json")
    assert(f.exists())
    val json = java.nio.file.Files.readString(f.toPath)
    assert(json.contains("\"duplicates\":") && json.contains("\"stages\":["))
    assert(json.contains("\"clusters\":"))
    // schema: the file reads back into the record type and re-serializes
    // to the same bytes; its counts match the persisted outputs
    val m = graft.plans.RunMetrics.fromJson(json)
    assert(graft.plans.RunMetrics.toJson(m) == json)
    assert(m.run_id == s"run_${DedupConfig.balanced.configHash}")
    val verdicts = spark.read.parquet("/tmp/graft_test_pipeline/06_verdicts")
    assert(m.total_pairs == verdicts.count())
    assert(m.duplicates == verdicts.filter($"final_label" === "DUPLICATE").count())
    assert(m.clustered_docs == clustersByUrl.size.toLong)
    assert(m.clusters == clustersByUrl.values.toSet.size.toLong)
    assert(m.dropped_domain_pairs == 0)
    // the golden corpus's duplicate graph is labelled on the driver
    assert(json.contains("\"cc_rounds\":0"))
    assert(m.cc_rounds == 0)
    // the golden corpus's doc side fits the verify broadcast bound
    assert(m.verify_broadcast == 1)
    assert(m.verify_doc_bytes > 0 && m.verify_doc_bytes <= DedupPipeline.VerifyBroadcastMaxBytes)
    assert(m.stages.map(_.stage) ==
      Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters"))
  }

  test("lineage rows exist for every stage partition") {
    clustersByUrl // force the pipeline run
    val dir = "/tmp/graft_test_pipeline"
    val lineage = spark.read.parquet(s"$dir/lineage/*")
    val stages = lineage.select("stage").distinct().collect().map(_.getString(0)).sorted
    assert(stages.toSeq == Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters"))
    assert(lineage.filter(col("rows") < 0).count() == 0)
    // each stage's lines are its committed files: their rows sum to a
    // recount of the stage, one line per part-NNNNN id
    stages.foreach { s =>
      val lines = lineage.filter(col("stage") === s).select("partition_id", "rows").collect()
      assert(lines.map(_.getLong(1)).sum == spark.read.parquet(s"$dir/$s").count(), s)
      val partIds = new java.io.File(s"$dir/$s").list().filter(_.startsWith("part-"))
        .map(_.split("-")(1).toInt).toSet
      assert(lines.map(_.getInt(0)).sorted.toSeq == partIds.toSeq.sorted, s)
    }
  }

  test("stage read-backs pin the schemas Spark infers") {
    import graft.model.Schemas._
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    clustersByUrl // force the pipeline run
    val dir = "/tmp/graft_test_pipeline"
    val conf = DedupConfig.balanced
    // a fresh stage is read back with the schema of the DataFrame it
    // computed; schemas do not depend on the data, so empty inputs build them
    val norm = DedupPipeline.normalizeStage(spark, spark.emptyDataset[Page])
    val reps = DedupPipeline.repMap(spark, norm)
    val sigs = DedupPipeline.signatureStage(spark, norm, conf)
    val bands = DedupPipeline.bandingStage(spark, sigs, conf)
    val cands = DedupPipeline.candidateStage(spark, bands, conf)._1
    val verdicts = DedupPipeline.verifyStage(spark, cands, sigs, norm, conf)._1
    val clusters = DedupPipeline.clusterStage(spark, verdicts, reps, conf)._1
    val stages = Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters")
    val fresh = stages.zip(Seq(norm.schema, reps.schema, sigs.schema, bands.schema, cands.schema,
      verdicts.schema, clusters.schema))
    // incremental ingest reads old-run stages with the case-class schemas
    val oldRun = Seq("01_norm" -> Encoders.product[DocNorm].schema, "03_sig" -> Encoders.product[DocSig].schema,
      "04_bands" -> Encoders.product[BandRow].schema, "07_clusters" -> Encoders.product[ClusterRow].schema)
    val lineage = stages.map(s => s"lineage/$s" -> Encoders.product[LineageRow].schema)
    (fresh ++ oldRun ++ lineage).foreach { case (stage, schema) =>
      val path = s"$dir/$stage"
      assert(spark.read.schema(schema).parquet(path).schema == spark.read.parquet(path).schema, stage)
    }
  }
}
