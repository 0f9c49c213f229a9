package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IncrementalDedup: the incremental ingest must agree exactly with a full
  * recompute on the union corpus (for every component a new page touches),
  * exact refetches must short-circuit before signing, and config-mismatched
  * old runs must be refused.
  */
class IncrementalDedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_inc_$tag"
    TestUtil.deleteRecursively(new java.io.File(d))
    d
  }

  test("incremental ingest == full recompute on every affected component") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 30, membersPerFamily = 5)
    // old corpus: members m0-m2 of each family; new crawl batch: m3-m4
    val oldPages = pages.filter(p => p.url.split("/m")(1).toInt < 3)
    val newPages = pages.filter(p => p.url.split("/m")(1).toInt >= 3)

    val conf = DedupConfig.balanced
    val oldDir = freshDir("full_old")
    graft.plans.DedupPipeline.run(spark, oldPages, oldDir, conf, resume = false)
    val incDf = graft.plans.IncrementalDedup.ingest(spark, oldDir, newPages, oldDir, conf)
    // read back with the schema it was written with, which is the inferred one
    assert(incDf.schema == spark.read.parquet(s"$oldDir/inc_07_assign").schema)
    // the marker records that the driver labelled the components
    val markers = new java.io.File(s"$oldDir/inc_07_assign").listFiles()
      .filter(_.getName.startsWith("_graft_conf_"))
    assert(markers.length == 1)
    assert(java.nio.file.Files.readString(markers.head.toPath).linesIterator.contains("cc_rounds=0"))
    val inc = incDf.select($"url", $"cluster_id", $"cluster_size")
      .as[(String, String, Long)].collect().toSet

    val fullDir = freshDir("full_all")
    val full = graft.plans.DedupPipeline.run(spark, pages, fullDir, conf, resume = false)
    val newUrls = newPages.map(_.url).collect().toSet
    val fullRows = full.select($"url", $"cluster_id", $"cluster_size")
      .as[(String, String, Long)].collect()
    val affected = fullRows.map(_._2).toSet.filter(cid =>
      fullRows.exists(r => r._2 == cid && newUrls.contains(r._1)))
    val fullAffected = fullRows.filter(r => affected.contains(r._2)).toSet

    assert(inc.nonEmpty, "expected affected components")
    assert(inc == fullAffected,
      s"incremental=${inc.size} rows, full-affected=${fullAffected.size}; " +
        s"only-inc=${(inc -- fullAffected).take(5)}, only-full=${(fullAffected -- inc).take(5)}")
  }

  test("exact refetches attach by hash join and are never signed") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 10, membersPerFamily = 3)
    val oldDir = freshDir("refetch")
    graft.plans.DedupPipeline.run(spark, pages, oldDir, DedupConfig.balanced, resume = false)
    // the refetch batch: identical text under a fresh url
    val refetch = pages.map(p => p.copy(url = p.url + "/refetch"))
    val out = graft.plans.IncrementalDedup.ingest(spark, oldDir, refetch, oldDir, DedupConfig.balanced)

    // nothing reached the signature pass
    assert(spark.read.parquet(s"$oldDir/inc_03_sig").count() == 0)
    // every refetched page is clustered with its original
    val assigned = out.select($"url", $"cluster_id").as[(String, String)].collect()
      .filter(_._1.endsWith("/refetch")).toMap
    assert(assigned.size == pages.count())
    val clusterOf = out.select($"url", $"cluster_id").as[(String, String)].collect().toMap
    assigned.foreach { case (u, cid) =>
      val orig = u.stripSuffix("/refetch")
      assert(clusterOf.get(orig).contains(cid), s"$u not clustered with $orig")
    }
  }

  test("two-batch chain: ingest -> compact -> ingest == full recompute") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 20, membersPerFamily = 5)
    def m(u: String) = u.split("/m")(1).toInt
    val basePages = pages.filter(p => m(p.url) < 2)
    val b1 = pages.filter(p => m(p.url) == 2 || m(p.url) == 3)
    val b2 = pages.filter(p => m(p.url) == 4)

    val conf = DedupConfig.balanced
    val baseDir = freshDir("chain_base")
    graft.plans.DedupPipeline.run(spark, basePages, baseDir, conf, resume = false)
    val inc1 = freshDir("chain_inc1")
    graft.plans.IncrementalDedup.ingest(spark, baseDir, b1, inc1, conf)
    val comp1 = freshDir("chain_comp1")
    graft.plans.IncrementalDedup.compact(spark, baseDir, inc1, comp1, conf)
    val inc2 = freshDir("chain_inc2")
    graft.plans.IncrementalDedup.ingest(spark, comp1, b2, inc2, conf)
    val comp2 = freshDir("chain_comp2")
    graft.plans.IncrementalDedup.compact(spark, comp1, inc2, comp2, conf)

    val chained = spark.read.parquet(s"$comp2/07_clusters")
      .select($"url", $"cluster_id", $"cluster_size")
      .as[(String, String, Long)].collect().toSet

    val fullDir = freshDir("chain_full")
    graft.plans.DedupPipeline.run(spark, pages, fullDir, conf, resume = false)
    val full = spark.read.parquet(s"$fullDir/07_clusters")
      .select($"url", $"cluster_id", $"cluster_size")
      .as[(String, String, Long)].collect().toSet

    assert(chained.nonEmpty)
    assert(chained == full,
      s"chained=${chained.size} full=${full.size}; " +
        s"only-chained=${(chained -- full).take(5)}, only-full=${(full -- chained).take(5)}")
  }

  test("re-running ingest with a different batch in the same incDir recomputes (batch marker)") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 8, membersPerFamily = 4)
    def m(u: String) = u.split("/m")(1).toInt
    val basePages = pages.filter(p => m(p.url) < 2)
    val b1 = pages.filter(p => m(p.url) == 2)
    val b2 = pages.filter(p => m(p.url) == 3)

    val conf = DedupConfig.balanced
    val baseDir = freshDir("bmark_base")
    graft.plans.DedupPipeline.run(spark, basePages, baseDir, conf, resume = false)
    val incDir = freshDir("bmark_inc")
    graft.plans.IncrementalDedup.ingest(spark, baseDir, b1, incDir, conf)
    val normB1 = spark.read.parquet(s"$incDir/inc_01_norm").select($"url")
      .as[String].collect().toSet
    assert(normB1 == b1.map(_.url).collect().toSet)

    // SAME incDir, DIFFERENT batch: stages must recompute, not resume
    graft.plans.IncrementalDedup.ingest(spark, baseDir, b2, incDir, conf)
    val normB2 = spark.read.parquet(s"$incDir/inc_01_norm").select($"url")
      .as[String].collect().toSet
    assert(normB2 == b2.map(_.url).collect().toSet,
      "stale previous-batch stages were returned instead of recomputing")
  }

  test("ingest keeps each doc's first maxCandidatesPerDoc distinct partners by url") {
    import spark.implicits._
    // one text and many one-word edits of it: every page collides with
    // most others in some band, so a cap of 3 binds for most docs
    val words = (0 until 240).map(i => s"w${(i * 7919) % 613}")
    val pages = (0 until 24).map { i =>
      val t = words.updated(i * 9, s"edit$i").mkString(" ")
      graft.model.Schemas.Page(f"https://cap.example/p$i%02d", new java.sql.Timestamp(1704067200000L),
        Array.emptyByteArray, t, "en")
    }
    val conf = DedupConfig.balanced.copy(maxCandidatesPerDoc = 3)
    val oldDir = freshDir("cap_old")
    graft.plans.DedupPipeline.run(spark, pages.filter(_.url.last % 2 == 0).toDS(), oldDir, conf,
      resume = false)
    val incDir = freshDir("cap_inc")
    graft.plans.IncrementalDedup.ingest(spark, oldDir, pages.filter(_.url.last % 2 == 1).toDS(),
      incDir, conf)

    // driver-side reference from the persisted bands: buckets holding a new
    // row (none overflows maxBucketSize here), new-new and new-old pairs
    // ordered (a < b), then each doc's first `cap` distinct partners
    def bands(dir: String) = spark.read.parquet(dir).as[graft.model.Schemas.BandRow].collect()
      .groupBy(r => (r.band, r.bucket)).map { case (k, rs) => k -> rs.map(_.url).toSeq }
    val newBands = bands(s"$incDir/inc_04_bands")
    val oldBands = bands(s"$oldDir/04_bands")
    val raw = newBands.toSeq.flatMap { case (k, nu) =>
      val members = nu ++ oldBands.getOrElse(k, Nil)
      assert(members.size <= conf.maxBucketSize)
      for (x <- nu; y <- members if x != y) yield if (x < y) (x, y) else (y, x)
    }.distinct
    val partners = raw.groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).sorted }
    assert(partners.values.exists(_.size > conf.maxCandidatesPerDoc), "the cap never binds")
    val expected = partners.toSeq.flatMap { case (a, bs) =>
      bs.take(conf.maxCandidatesPerDoc).map(a -> _) }.toSet

    val got = spark.read.parquet(s"$incDir/inc_05_cand").as[(String, String)].collect()
    assert(got.length == got.toSet.size, "duplicate candidate pairs")
    assert(got.toSet == expected,
      s"only-ingest=${(got.toSet -- expected).take(5)}, only-reference=${(expected -- got.toSet).take(5)}")

    // the stage's run counters are persisted in its marker
    val markers = new java.io.File(s"$incDir/inc_05_cand").list().filter(_.startsWith("_graft_conf_"))
    assert(markers.length == 1, markers.toSeq)
    val counters = graft.plans.StageStore.counters(spark, s"$incDir/inc_05_cand",
      markers.head.stripPrefix("_graft_conf_"))
    assert(counters == Map("dropped_mega_buckets" -> 0L,
      "capped_docs" -> partners.count(_._2.size > conf.maxCandidatesPerDoc).toLong,
      "wall_ms" -> counters.getOrElse("wall_ms", -1L)))
  }

  test("ingest's verdicts are the same on both verify paths") {
    // members m1-m4 are exact variants of a family's base m0 (they attach
    // by hash and are never signed); the batch holds m5 (near) and m6
    // (unrelated), so it is signed and verified against the base. With a
    // span cap of one pair per doc, families of 14 also put a second near
    // variant (m12) and a second unrelated one (m13) in the batch.
    def m(u: String) = u.split("/m")(1).toInt
    val binding = DedupConfig.balanced.copy(spanMaxPairsPerDoc = 1)
    Seq((DedupConfig.balanced, 7), (binding, 14)).foreach { case (conf, members) =>
      val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 12, membersPerFamily = members)
      val oldDir = freshDir(s"paths_old_$members")
      graft.plans.DedupPipeline.run(spark, pages.filter(p => m(p.url) < 5), oldDir, conf, resume = false)
      val batch = pages.filter(p => m(p.url) >= 5)
      // inc_06_verdicts' rows and its marker's counters
      def ingestOn(tag: String, bound: Long): (Seq[graft.model.Schemas.Verdict], Map[String, Long]) = {
        import spark.implicits._
        val dir = freshDir(tag)
        graft.plans.IncrementalDedup.ingest(spark, oldDir, batch, dir, conf, verifyBroadcastMaxBytes = bound)
        val stage = s"$dir/inc_06_verdicts"
        val markers = new java.io.File(stage).list().filter(_.startsWith("_graft_conf_"))
        assert(markers.length == 1, markers.toSeq)
        (spark.read.parquet(stage).as[graft.model.Schemas.Verdict].collect().toSeq,
          graft.plans.StageStore.counters(spark, stage, markers.head.stripPrefix("_graft_conf_")))
      }
      val (verdicts, bc) = ingestOn(s"paths_broadcast_$members", graft.plans.DedupPipeline.VerifyBroadcastMaxBytes)
      val broadcast = verdicts.map(_.toString).toSet
      val (shuffledRows, sh) = ingestOn(s"paths_shuffle_$members", 0L)
      val shuffled = shuffledRows.map(_.toString).toSet
      assert(bc("verify_broadcast") == 1L && sh("verify_broadcast") == 0L)
      assert(bc("verify_doc_bytes") > 0L && bc("verify_doc_bytes") == sh("verify_doc_bytes"))
      // both markers hold the learners' task times
      Seq(bc, sh).foreach(c => assert(c.keySet == Set("verify_broadcast", "verify_doc_bytes", "emb_wall_ms",
        "span_wall_ms", "wall_ms"), c))
      assert(broadcast.nonEmpty)
      assert(broadcast == shuffled,
        s"only-broadcast=${(broadcast -- shuffled).take(3)}, only-shuffle=${(shuffled -- broadcast).take(3)}")
      if (conf == binding) {
        // the span cap binds: an anchor doc has two pairs the span pass
        // could take (near, short of consensus), and each anchor keeps one
        def perAnchor(p: graft.model.Schemas.Verdict => Boolean) =
          verdicts.filter(v => !v.exact && p(v)).groupBy(_.a).values.map(_.size).max
        assert(perAnchor(v => Seq(v.vote_sim, v.vote_min).count(identity) < conf.requiredVotes &&
          v.jaccard >= conf.spanCandidateMinJaccard) > 1)
        assert(perAnchor(_.shared_span_len > 0) == 1)
      }
    }
  }

  test("ingest exchanges the new bands, their bucket keys and the pair members at most once each") {
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 10, membersPerFamily = 6)
    def m(u: String) = u.split("/m")(1).toInt
    val conf = DedupConfig.balanced
    val oldDir = freshDir("exchanges_old")
    graft.plans.DedupPipeline.run(spark, pages.filter(p => m(p.url) < 3), oldDir, conf, resume = false)
    // the stage directories a plan's file scans read
    def reads(p: SparkPlan): Set[String] =
      collect(p) { case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName) }.flatten.toSet
    // per relation, the shuffle exchanges of its width computed from its
    // stage directory alone, in one ingest of the held-out members
    def crossings(tag: String): Map[String, Int] = {
      val (_, ran) = TestUtil.executedPlans(spark) {
        graft.plans.IncrementalDedup.ingest(spark, oldDir, pages.filter(p => m(p.url) >= 3), freshDir(tag), conf)
      }
      def exchangesOver(dir: String, width: Int) = ran.map(p => collect(p) {
        case e: ShuffleExchangeExec if e.output.size == width && reads(e) == Set(dir) => e
      }.size).sum
      Map(
        // inc_05_cand: the guarded new bands (band, bucket, url) feed the
        // intra self-join's two sides and the cross join's new side; their
        // (band, bucket) set restricts the old bands in the guard
        "new bands" -> exchangesOver("inc_04_bands", 3),
        "new bucket keys" -> exchangesOver("inc_04_bands", 2),
        // inc_06_verdicts: the pair members restrict the old signatures and texts
        "pair members" -> exchangesOver("inc_05_cand", 1))
    }
    // this batch's new bands are broadcast into both candidate joins
    val small = crossings("exchanges_inc")
    assert(small("new bands") == 0 && small("new bucket keys") == 1 && small("pair members") == 1, small)
    // with no broadcast, one exchange of the new bands serves all three sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = try crossings("exchanges_inc_shuffled")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(shuffled("new bands") == 1, shuffled)
  }

  test("ingest writes lineage for every stage; a resumed ingest leaves every marker byte-identical") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 8, membersPerFamily = 4)
    def m(u: String) = u.split("/m")(1).toInt
    val conf = DedupConfig.balanced
    val baseDir = freshDir("lineage_base")
    graft.plans.DedupPipeline.run(spark, pages.filter(p => m(p.url) < 3), baseDir, conf, resume = false)
    val batch = pages.filter(p => m(p.url) >= 3)
    val incDir = freshDir("lineage_inc")
    val stages = Seq("inc_01_norm", "inc_02_reps", "inc_exact_attach", "inc_03_sig", "inc_04_bands",
      "inc_05_cand", "inc_06_verdicts", "inc_07_assign")
    // every stage's marker file name and bytes
    def markers(): Map[String, Seq[Byte]] = stages.flatMap { s =>
      new java.io.File(s"$incDir/$s").listFiles().filter(_.getName.startsWith("_graft_conf_"))
        .map(f => s"$s/${f.getName}" -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    }.toMap

    graft.plans.IncrementalDedup.ingest(spark, baseDir, batch, incDir, conf)
    val cold = markers()
    assert(cold.size == stages.size, cold.keys)
    assert(cold.values.forall(b => new String(b.toArray, "UTF-8").linesIterator.exists(_.startsWith("wall_ms="))))
    val tag = cold.keys.head.split("/_graft_conf_")(1)
    assert(tag.startsWith(s"${conf.configHash}_b"), tag)

    val lineage = spark.read.parquet(stages.map(s => s"$incDir/lineage/$s"): _*)
    assert(lineage.select($"stage").distinct().as[String].collect().sorted.toSeq == stages.sorted)
    assert(lineage.select($"config_hash").distinct().as[String].collect().toSeq == Seq(tag))

    graft.plans.IncrementalDedup.ingest(spark, baseDir, batch, incDir, conf)
    assert(markers() == cold, "a resumed ingest rewrote a marker")
  }

  test("config-mismatched old run is refused") {
    import spark.implicits._
    val (pages, _) = graft.pages.PagesSource.syntheticCorpus(spark, nFamilies = 4, membersPerFamily = 2)
    val oldDir = freshDir("confmismatch")
    graft.plans.DedupPipeline.run(spark, pages, oldDir, DedupConfig.balanced, resume = false)
    val other = DedupConfig.balanced.copy(numPerm = 128)
    val e = intercept[IllegalArgumentException] {
      graft.plans.IncrementalDedup.ingest(spark, oldDir, pages, oldDir, other)
    }
    assert(e.getMessage.contains("incomparable"))
  }
}
