package graft

import graft.model.Schemas.Page
import graft.plans.{DedupPipeline, RunMetrics, StageStore}
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.sql.Timestamp

/** Checkpoint-based resume (north rule): stage outputs persist; a re-run
  * with the same config skips completed stages; a config change recomputes;
  * a stage counts as done only once its lineage is written; the run record
  * (metrics.json) is the same on resume and exists for every run.
  */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def pagesDs = {
    val pages = GoldenFixtures.corpus.take(150).map { d =>
      Page(d.url, new Timestamp(1704067200000L), Array.emptyByteArray, d.text, "en")
    }
    spark.createDataset(pages)(org.apache.spark.sql.Encoders.product[Page])
  }

  private def partMtimes(dir: String): Map[String, Long] = {
    val d = new File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("full run is resumable: second run skips all stages and returns identical clusters") {
    val dir = "/tmp/graft_test_resume"
    TestUtil.deleteRecursively(new File(dir))

    val first = DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
      .collect().map(_.toString).sorted
    val sigTimes = partMtimes(s"$dir/03_sig")
    val candTimes = partMtimes(s"$dir/05_cand")
    assert(sigTimes.nonEmpty)

    val second = DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
      .collect().map(_.toString).sorted
    assert(second.toSeq == first.toSeq)
    assert(partMtimes(s"$dir/03_sig") == sigTimes, "signature stage was recomputed on resume")
    assert(partMtimes(s"$dir/05_cand") == candTimes, "candidate stage was recomputed on resume")
  }

  test("mid-pipeline kill resumes from completed stages only") {
    val dir = "/tmp/graft_test_resume_kill"
    TestUtil.deleteRecursively(new File(dir))
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true).count()
    // simulate a crash after stage 04: later outputs lost
    TestUtil.deleteRecursively(new File(s"$dir/05_cand"))
    TestUtil.deleteRecursively(new File(s"$dir/06_verdicts"))
    TestUtil.deleteRecursively(new File(s"$dir/07_clusters"))
    val sigTimes = partMtimes(s"$dir/03_sig")
    val out = DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
    assert(out.count() > 0)
    assert(partMtimes(s"$dir/03_sig") == sigTimes, "completed stage recomputed after crash-resume")
    assert(new File(s"$dir/07_clusters/_SUCCESS").exists())
  }

  test("reliableCheckpoints=true produces identical clusters via durable checkpoint()") {
    val dir = "/tmp/graft_test_resume_reliable"
    val ckDir = "/tmp/graft_test_ckpt_dir"
    TestUtil.deleteRecursively(new File(dir))
    TestUtil.deleteRecursively(new File(ckDir))

    val base = DedupPipeline.run(spark, pagesDs, s"$dir/local", DedupConfig.balanced, resume = false)
      .collect().map(_.toString).sorted

    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val conf = DedupConfig.balanced.copy(reliableCheckpoints = true)
      val reliable = DedupPipeline.run(spark, pagesDs, s"$dir/reliable", conf, resume = false)
        .collect().map(_.toString).sorted
      assert(reliable.toSeq == base.toSeq)
      // the durable dir was actually used
      val ck = new File(ckDir)
      assert(Option(ck.listFiles()).exists(_.nonEmpty), "no RDD was checkpointed to the durable dir")
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  /** A crowd of one-word edits of one text (its LSH buckets overflow a
    * small maxBucketSize) plus 3-member families whose members replace a
    * quarter of the base text (gray-zone pairs that need the embedding
    * tiebreak).
    */
  private def counterPagesDs = {
    val rng = new graft.pages.PagesSource.DetRng(11L)
    def text(n: Int) = Vector.fill(n)(s"v${rng.nextInt(20000)}")
    val crowdBase = text(300)
    val crowd = (0 until 8).map(i => s"crowd/$i" -> crowdBase.updated(i * 30, s"edit$i"))
    // long texts keep the embedding pass well above the 1 ms resolution
    // of emb_wall_ms
    val families = (0 until 30).flatMap { f =>
      val base = text(3000)
      (0 until 3).map { m =>
        val from = m * 750
        s"fam$f/$m" -> (if (m == 0) base else base.patch(from, text(750), 750))
      }
    }
    val pages = (crowd ++ families).map { case (path, words) =>
      Page(s"https://counters.example/$path", new Timestamp(1704067200000L),
        Array.emptyByteArray, words.mkString(" "), "en")
    }
    spark.createDataset(pages)(org.apache.spark.sql.Encoders.product[Page])
  }

  private def metricsOf(dir: String): RunMetrics = {
    val f = new File(s"$dir/metrics.json")
    assert(f.exists(), s"$dir/metrics.json was not written")
    RunMetrics.fromJson(java.nio.file.Files.readString(f.toPath))
  }

  test("metrics.json counters survive resume and do not leak across runs") {
    val dirA = "/tmp/graft_test_resume_counters_a"
    val dirB = "/tmp/graft_test_resume_counters_b"
    TestUtil.deleteRecursively(new File(dirA))
    TestUtil.deleteRecursively(new File(dirB))

    // A: a bucket cap the crowd overflows but the families do not, a
    // domain cap below the run's candidate pairs (every page shares one
    // host), and an embedding budget below the families' gray-zone pairs
    val confA = DedupConfig.balanced.copy(maxBucketSize = 5,
      maxCandidatesPerDomain = Some(60), embMaxPairsPerDoc = Some(1))
    DedupPipeline.run(spark, counterPagesDs, dirA, confA, resume = true).count()
    val coldA = metricsOf(dirA)
    assert(coldA.dropped_mega_buckets > 0, s"run A dropped no bucket: $coldA")
    assert(coldA.dropped_domain_pairs > 0, s"run A dropped no domain pair: $coldA")
    assert(coldA.emb_budget_dropped > 0, s"run A's embedding budget dropped nothing: $coldA")
    assert(coldA.emb_wall_ms > 0, s"run A timed no embedding work: $coldA")

    // B: a cold run without caps that embeds nothing must report 0, not
    // A's counters
    DedupPipeline.run(spark, counterPagesDs, dirB, DedupConfig.balanced.copy(embedEnabled = false),
      resume = true).count()
    val b = metricsOf(dirB)
    assert(b.emb_wall_ms == 0)
    assert(b.emb_pairs == 0)
    assert(b.dropped_domain_pairs == 0)
    assert(b.emb_budget_dropped == 0)

    val verdictTimes = partMtimes(s"$dirA/06_verdicts")
    DedupPipeline.run(spark, counterPagesDs, dirA, confA, resume = true).count()
    assert(partMtimes(s"$dirA/06_verdicts") == verdictTimes, "run A was recomputed, not resumed")
    assert(metricsOf(dirA) == coldA)
  }

  test("a run with no candidate pairs still writes metrics.json, with zero counts") {
    import spark.implicits._
    val dir = "/tmp/graft_test_resume_empty"
    TestUtil.deleteRecursively(new File(dir))
    // three pages without a shared word
    val pages = spark.createDataset((0 until 3).map { i =>
      Page(s"https://empty.example/p$i", new Timestamp(1704067200000L), Array.emptyByteArray,
        (0 until 80).map(j => s"page${i}word$j").mkString(" "), "en")
    })
    DedupPipeline.run(spark, pages, dir, DedupConfig.balanced, resume = false).count()
    assert(spark.read.parquet(s"$dir/05_cand").count() == 0, "the pages must yield no candidate pair")
    val m = metricsOf(dir)
    assert(m.total_pairs == 0 && m.duplicates == 0 && m.non_duplicates == 0)
    assert(m.consensus_rate == 0.0)
    assert(m.clusters == 0 && m.clustered_docs == 0)
    assert(m.stages.find(_.stage == "01_norm").map(_.rows).contains(3L), m.stages)
    // every stage has a lineage line, the empty ones with 0 rows
    assert(m.stages.map(_.stage) ==
      Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters"), m.stages)
    assert(m.stages.filter(_.stage >= "05").forall(_.rows == 0L), m.stages)
  }

  test("a stage whose lineage write fails is not marked done") {
    val dir = "/tmp/graft_test_resume_lineage"
    TestUtil.deleteRecursively(new File(dir))
    new File(dir).mkdirs()
    // a regular file where the lineage directory goes: every lineage write fails
    java.nio.file.Files.writeString(new File(s"$dir/lineage").toPath, "not a directory")
    intercept[java.util.concurrent.ExecutionException] {
      DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true)
    }
    assert(new File(s"$dir/01_norm/_SUCCESS").exists(), "01_norm output was not written")
    assert(!StageStore.done(spark, s"$dir/01_norm", DedupConfig.balanced.configHash),
      "01_norm was marked done although its lineage was never written")
  }

  test("config change invalidates stage outputs") {
    val dir = "/tmp/graft_test_resume_conf"
    TestUtil.deleteRecursively(new File(dir))
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.balanced, resume = true).count()
    val sigTimes = partMtimes(s"$dir/03_sig")
    DedupPipeline.run(spark, pagesDs, dir, DedupConfig.recall, resume = true).count()
    assert(partMtimes(s"$dir/03_sig") != sigTimes, "config change must recompute stages")
  }
}
