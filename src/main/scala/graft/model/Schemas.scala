package graft.model

import java.sql.Timestamp

/** Typed row schemas for every pipeline stage (input_hint: typed Dataset +
  * Catalyst end-to-end).
  */
object Schemas {

  /** Input table shape from BASELINE.json input_hint:
    * (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
    */
  final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

  /** Normalize-stage output. `norm_text` is the byte-parity surface
    * (normalize_text port); `exact_hash` = sha256(NFC(norm_text)) is the
    * exact-duplicate key (arbiter.py:198-218); `content_hash` =
    * sha256(norm_text) (text_preproc.py:248-253).
    */
  final case class DocNorm(url: String, norm_text: String, exact_hash: String,
                           content_hash: String, n_tokens: Int, lang: String)

  /** Signature-stage output. `shingles` = sorted distinct xxh64 hashes of
    * word 3-shingles (hashed shingle sets make exact-Jaccard verification
    * O(|set|) per pair without carrying strings); `minhash` = numPerm
    * signature values; simhash packed (hi, lo).
    */
  final case class DocSig(url: String, exact_hash: String, n_shingles: Int,
                          shingles: Array[Long], minhash: Array[Long],
                          simhash_hi: Long, simhash_lo: Long)

  /** Banding-stage output: one row per (band, doc). */
  final case class BandRow(band: Int, bucket: Long, url: String)

  /** Candidate pair, a < b. */
  final case class CandPair(a: String, b: String)

  /** Verify/decision-stage output — the engine's DecisionTrace
    * (arbiter.py:62-140 shape, flattened to columns).
    */
  final case class Verdict(a: String, b: String, pair_key: String,
                           exact: Boolean, jaccard: Double,
                           hamming: Int,
                           sim_sim: Double, emb_cos: Option[Double],
                           vote_sim: Boolean, vote_min: Boolean, vote_emb: Boolean,
                           votes: Int, shared_span_len: Int,
                           final_label: String, dup_kind: Option[String],
                           reason: String)

  /** Cluster assignment: cluster_id = lexicographic min url of the
    * component; only components with >= 2 members are emitted
    * (near_duplicate.py:364-371).
    */
  final case class ClusterRow(url: String, cluster_id: String, cluster_size: Long)

  /** Per-stage, per-partition lineage record (north rule). */
  final case class LineageRow(run_id: String, stage: String, partition_id: Int,
                              rows: Long, wall_ms: Long, config_hash: String)

  /** stable_pair_key — base.py:54-60: min||max with a "||" separator. */
  def pairKey(a: String, b: String): String =
    if (a <= b) a + "||" + b else b + "||" + a
}
