package graft.sig

import graft.lsh.BucketGuard
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS local-fingerprinting algorithm): the PARTIAL-COPY detection
  * modality the whole-document family (MinHash/SimHash, minhash_model.py /
  * simhash_model.py in the reference) lacks. MinHash measures whole-set
  * resemblance, so a page that copies three paragraphs into otherwise-new
  * text scores low Jaccard and is invisible to the LSH pipeline; winnowing
  * guarantees that any shared token run of at least k + w - 1 tokens
  * produces at least one SHARED fingerprint (the window-min of the first
  * full window inside the run is the same hash on both sides), giving
  * deterministic recall for long verbatim spans at a per-doc cost of
  * O(tokens), vs the pipeline's suffix-automaton span pass which is
  * per-PAIR and only runs on LSH candidates.
  *
  * Fingerprint identity is SQL-portable BY DESIGN so the driver oracle can
  * recompute the whole chain: a token k-gram hashes to the 16-hex-char
  * prefix of its md5, and window minima compare LEXICOGRAPHICALLY —
  * fixed-width lowercase hex orders identically as string or integer, so
  * Spark's `array_min` and DuckDB's `list_aggregate(_, 'min')` agree
  * bit-for-bit. (A production deployment can swap md5 for xxh64 — the
  * selection logic is hash-agnostic; md5 keeps ONE identity for engine and
  * oracle here.)
  *
  * Scale shape: fingerprint derivation is a per-partition typed map
  * (mapPartitions, the signature-stage convention — DedupPipeline.signDoc),
  * O(tokens·w) per doc with one MessageDigest reused per partition and no
  * shuffle; matching is one explode + equi-join on the fingerprint value —
  * the same bucket-join shape as LSH banding — under the shared mega-bucket
  * guard (a fingerprint present in millions of docs is corpus boilerplate;
  * its bucket would go quadratic exactly like a degenerate LSH bucket).
  *
  * Why not a higher-order-function Column (the first formulation)?
  * Measured: transform(sequence(...), j -> array_min(slice(hs, j+1, w)))
  * re-evaluates the ENTIRE upstream gram-hash transform — including the
  * tokenizing split — once per window when Catalyst inlines the `hs`
  * projection into the lambda, turning an O(n) derivation into O(n²) md5
  * calls per document: 493 s for 5,000 docs of ~60 tokens at local[32]
  * vs 2 s for this implementation (same output, bit-for-bit).
  */
object Winnow {

  /** Distinct winnowed fingerprints per row: (idCol, fps array<string>),
    * fps sorted (hex16 lexicographic = unsigned numeric, so determinism is
    * partitioning-independent).
    *
    * Tokens are `split(trim(lower(text)), "\\s+")` — the same convention as
    * the green token queries (q_token_count / q_tokenize). Docs shorter
    * than k + w - 1 tokens have no full window and yield an empty set.
    * Gram identity: the 16-hex-char md5 prefix == the first 8 digest bytes
    * as an unsigned 64-bit value, so minima are computed on longs and
    * formatted once at the end.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1 (got k=$k, w=$w)")
    val spark = df.sparkSession
    import spark.implicits._
    val kk = k
    val ww = w
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val sb = new java.lang.StringBuilder(256)
        it.map { case (id, text) =>
          val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          if (toks.length < kk + ww - 1) (id, Array.empty[String])
          else {
            val nG = toks.length - kk + 1
            val hs = new Array[Long](nG)
            var i = 0
            while (i < nG) {
              sb.setLength(0)
              var j = 0
              while (j < kk) {
                if (j > 0) sb.append(' ')
                sb.append(toks(i + j)); j += 1
              }
              md.reset()
              val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              hs(i) =
                ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
                ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
                ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
                ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
              i += 1
            }
            val mins = scala.collection.mutable.HashSet.empty[Long]
            var s = 0
            while (s + ww <= nG) {
              var m = hs(s)
              var t = 1
              while (t < ww) {
                if (java.lang.Long.compareUnsigned(hs(s + t), m) < 0) m = hs(s + t)
                t += 1
              }
              mins += m; s += 1
            }
            (id, mins.toArray.map(x => f"$x%016x").sorted)
          }
        }
      }
      .toDF(idCol, "fps")
  }

  /** Exploded (id, fp) rows — the relation `matches` joins on. */
  def fingerprintRows(df: DataFrame, idCol: String, textCol: String,
                      k: Int, w: Int): DataFrame =
    fingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), explode(col("fps")).as("fp"))

  /** Partial-copy candidate pairs: docs sharing >= minShared winnowed
    * fingerprints, (a, b, shared) with a < b. One equi-join on fp under the
    * shared BucketGuard (`maxFpDocs` members per fingerprint; hotter
    * fingerprints are corpus boilerplate and are dropped with the standard
    * logged-drop protocol), then a count per pair — never a cross join.
    * Returns the pairs and the number of dropped fingerprints.
    */
  def matches(spark: SparkSession, fpRows: DataFrame, idCol: String,
              minShared: Long, maxFpDocs: Long = 4096L): (DataFrame, Long) = {
    val rows = fpRows.select(lit(0).as("band"), col("fp").as("bucket"), col(idCol))
    val g = BucketGuard.okBuckets(spark, rows, maxFpDocs, "winnow")
    val r = rows.join(g.ok, Seq("band", "bucket"))
    val a = r.select(col("bucket"), col(idCol).as("a"))
    val b = r.select(col("bucket").as("bucket2"), col(idCol).as("b"))
    val pairs = a.join(b, col("bucket") === col("bucket2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    (pairs, g.dropped)
  }
}
