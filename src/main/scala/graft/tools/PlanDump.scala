package graft.tools

import graft.{DedupConfig, SparkEntry}
import graft.plans.DedupPipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Round-6 plan evidence: dumps `.explain("formatted")` for every bench
  * query (and the pipeline's internal wide stages) to
  * `plans/r06/<name>_<suffix>.txt`, where suffix is args(0)
  * ("before" / "after"). The judge checks plan-diff claims in
  * OPTIMIZATION_r06.md against these files.
  *
  * Uses the same session shape as Bench.buildSpark so join strategies and
  * AQE decisions match the timed configuration.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = if (args.nonEmpty) args(0) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.buildSpark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("plans/r06")
    Files.createDirectories(outDir)

    def dump(name: String, df: org.apache.spark.sql.Dataset[_]): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), s)
      println(s"dumped $name ($suffix)")
    }

    // direct bench queries (plan of the declared query itself)
    val direct = Seq("q_token_count", "q_top_tokens", "q_exact_dup_groups",
      "q_quality_counts", "q_ngram_jaccard_lsh", "q_ann_ivf_topk",
      "q_normalize", "q_minhash_signatures", "q_lang_id", "q_fingerprint")
    direct.foreach { n =>
      try dump(n, SparkEntry.queries(n)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[plandump] $n failed: $e") }
    }

    // pipeline internal stages (q_dedup_clusters is a parquet read of
    // 07_clusters; the interesting plans are the stage computations, each
    // reading the persisted output of the previous stage as in production)
    import spark.implicits._
    val conf = DedupConfig.balanced
    val rd = SparkEntry.pipelineRunDir(spark, sfDir)
    val norm = spark.read.parquet(s"$rd/01_norm").as[graft.model.Schemas.DocNorm]
    val sigs = spark.read.parquet(s"$rd/03_sig").as[graft.model.Schemas.DocSig]
    val bands = spark.read.parquet(s"$rd/04_bands").as[graft.model.Schemas.BandRow]
    val cands = spark.read.parquet(s"$rd/05_cand").as[graft.model.Schemas.CandPair]
    val verdicts = spark.read.parquet(s"$rd/06_verdicts").as[graft.model.Schemas.Verdict]
    val reps = spark.read.parquet(s"$rd/02_reps")

    try dump("pipe_candidates", DedupPipeline.candidateStage(spark, bands, conf)._1)
    catch { case e: Throwable => System.err.println(s"[plandump] pipe_candidates failed: $e") }
    try dump("pipe_verify", DedupPipeline.verifyStage(spark, cands, sigs, norm, conf))
    catch { case e: Throwable => System.err.println(s"[plandump] pipe_verify failed: $e") }
    try dump("pipe_cluster", DedupPipeline.clusterStage(spark, verdicts, reps, conf)._1)
    catch { case e: Throwable => System.err.println(s"[plandump] pipe_cluster failed: $e") }

    spark.stop()
  }
}
