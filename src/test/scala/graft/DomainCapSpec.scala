package graft

import graft.model.Schemas.Page
import graft.plans.DedupPipeline
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Per-domain candidate cap (DedupConfig.maxCandidatesPerDomain): a planted
  * single-domain flood must be bounded to exactly the first `cap` pairs by
  * (a, b), unflooded domains must pass through untouched, and the drop
  * count must be returned with the pairs.
  */
class DomainCapSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def page(url: String, text: String) =
    Page(url, new Timestamp(1704067200000L), Array.emptyByteArray, text, "en")

  test("flooded domain is capped deterministically; other domains untouched") {
    import spark.implicits._
    // 20 near-dup pages on one domain (190 candidate pairs), 3 on another
    val floodBase = (0 until 60).map(i => s"flood token alpha$i beta$i").mkString(" ")
    val okBase = (0 until 60).map(i => s"calm word omega$i psi$i").mkString(" ")
    val pages = spark.createDataset(
      (0 until 20).map(i => page(s"https://flood.example/d$i", s"$floodBase tail$i")) ++
        (0 until 3).map(i => page(s"https://ok.example/d$i", s"$okBase tail$i")))

    val norm = DedupPipeline.normalizeStage(spark, pages)
    val bands = DedupPipeline.bandingStage(spark,
      DedupPipeline.signatureStage(spark, norm, DedupConfig.balanced), DedupConfig.balanced)

    val (uncapped, uncappedCounters) = DedupPipeline.candidateStage(spark, bands, DedupConfig.balanced)
    val uRows = uncapped.collect()
    val uFlood = uRows.filter(_.a.contains("flood")).sortBy(r => (r.a, r.b))
    val uOk = uRows.filter(_.a.contains("ok.example")).toSet
    assert(uFlood.length > 10, s"flood domain should exceed the cap (got ${uFlood.length})")
    assert(uOk.nonEmpty)

    val cap = 10
    val conf = DedupConfig.balanced.copy(maxCandidatesPerDomain = Some(cap))
    val (capped, counters) = DedupPipeline.candidateStage(spark, bands, conf)
    val cRows = capped.collect()
    val cFlood = cRows.filter(_.a.contains("flood")).sortBy(r => (r.a, r.b))
    val cOk = cRows.filter(_.a.contains("ok.example")).toSet

    assert(cFlood.length == cap)
    assert(cFlood.toSeq == uFlood.take(cap).toSeq,
      "capped set must be the first `cap` pairs by (a, b) of the uncapped set")
    assert(cOk == uOk, "unflooded domain must be untouched")
    assert(counters("dropped_domain_pairs") == (uFlood.length - cap).toLong)
    assert(uncappedCounters("dropped_domain_pairs") == 0L)
  }
}
