package graft.plans

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record — `metrics.json`, written by [[DedupPipeline.run]] next
  * to the stage outputs (metrics.py:212-281 shape). The JSON is this case
  * class serialized compact, fields in declaration order; field names are
  * the JSON names.
  *
  * The verdict summary counts and the cluster count are recomputed from
  * the persisted verdicts and clusters on every run; `clustered_docs` is
  * the row count in 07_clusters' parquet footers. The run counters
  * (`dropped_*`, `*_wall_ms`, `verify_*`, `cc_rounds`) are read back from
  * the markers of the stage that measured them (05_cand, 06_verdicts and
  * 07_clusters, see [[StageStore]]), so a resumed run reports exactly
  * what its cold run recorded. A run with no candidate pairs reports 0
  * counts and a `consensus_rate` of 0.0.
  *
  * @param dropped_mega_buckets LSH buckets dropped by the mega-bucket guard
  * @param dropped_domain_pairs candidate pairs dropped by
  *                             `maxCandidatesPerDomain` (0 when unset)
  * @param emb_wall_ms          summed task time of the embedding tiebreak
  * @param span_wall_ms         summed task time of the span pass
  * @param verify_broadcast     1 when verify broadcast its doc-side
  *                             relations, 0 when it hash-shuffled them
  * @param verify_doc_bytes     the doc-side payload verify counted and
  *                             compared with
  *                             `DedupPipeline.VerifyBroadcastMaxBytes`
  * @param cc_rounds            rounds of the distributed connected-components
  *                             loop; 0 when the duplicate graph was small
  *                             enough to label on the driver
  * @param stages               per stage: rows from the committed files'
  *                             parquet footers, wall_ms from the marker
  */
final case class RunMetrics(
    run_id: String,
    config_hash: String,
    total_pairs: Long,
    duplicates: Long,
    non_duplicates: Long,
    uncertain: Long,
    exact_dups: Long,
    near_dups: Long,
    consensus_rate: Double,
    clusters: Long,
    clustered_docs: Long,
    dropped_mega_buckets: Long,
    dropped_domain_pairs: Long,
    emb_pairs: Long,
    span_pairs: Long,
    emb_wall_ms: Long,
    span_wall_ms: Long,
    verify_broadcast: Long,
    verify_doc_bytes: Long,
    cc_rounds: Long,
    stages: Seq[RunMetrics.StageLine])

object RunMetrics {

  final case class StageLine(stage: String, wall_ms: Long, rows: Long)

  // run counters persisted with their stage's marker, under their
  // metrics.json names
  private[plans] final val DroppedMegaBuckets = "dropped_mega_buckets"
  private[plans] final val DroppedDomainPairs = "dropped_domain_pairs"
  private[plans] final val EmbWallMs = "emb_wall_ms"
  private[plans] final val SpanWallMs = "span_wall_ms"
  private[plans] final val VerifyBroadcast = "verify_broadcast"
  private[plans] final val VerifyDocBytes = "verify_doc_bytes"
  private[plans] final val CcRounds = "cc_rounds"

  private lazy val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def toJson(m: RunMetrics): String = mapper.writeValueAsString(m)

  def fromJson(json: String): RunMetrics = mapper.readValue(json, classOf[RunMetrics])
}
