package graft.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE mega-bucket guard — one implementation, one logged-drop protocol,
  * shared by every LSH path (dedup candidateStage, incremental ingest's
  * combined-size guard, TokenLsh, ANN hyperplane buckets).
  *
  * A degenerate bucket — corpus-wide boilerplate token sets, all-equal
  * signatures, all-zero vectors — turns a bucket self-join quadratic, the
  * single worst skew source at web scale. Buckets above `maxBucketSize`
  * are DROPPED (never partially sampled: partial buckets would make the
  * candidate set partitioning-dependent), the drop count is logged to
  * stderr and returned in [[Guarded]] — every caller returns it next to
  * its pairs — and singleton buckets are pruned in the same pass (no pair
  * can come out of them).
  *
  * Mirrors the reference's per-doc candidate caps
  * (near_duplicate.py:36-37,408-417) at the bucket level.
  */
object BucketGuard {

  /** @param ok      surviving (band, bucket) keys — join back onto the
    *                caller's row relation(s)
    * @param dropped number of buckets dropped for exceeding the cap
    */
  final case class Guarded(ok: DataFrame, dropped: Long)

  /** @param rows DataFrame with at least (band, bucket) columns — one row
    *             per bucket MEMBER (union multiple relations first for a
    *             combined-size guard).
    * @param tag  short path id for the log line
    *             (`pipeline`, `inc`, `tokenLsh`, `ann`, ...).
    */
  def okBuckets(spark: SparkSession, rows: DataFrame, maxBucketSize: Long,
                tag: String): Guarded = {
    import spark.implicits._
    // localCheckpoint, not persist: it materializes the aggregation once
    // for the count + filter consumers AND its blocks are reclaimed by the
    // ContextCleaner when the plan goes out of scope — persist would leak
    // one cached relation per guarded LSH pass for the session lifetime.
    // The drop count reads the checkpointed sizes, so it is exact; an RDD
    // count is one job, where a Dataset count adds an exchange.
    val sizes = rows.groupBy($"band", $"bucket").count().localCheckpoint()
    val dropped = sizes.filter($"count" > maxBucketSize).rdd.count()
    if (dropped > 0)
      System.err.println(
        s"[graft.$tag] dropped $dropped mega-buckets (> $maxBucketSize members)")
    Guarded(sizes.filter($"count" >= 2 && $"count" <= maxBucketSize)
      .select($"band", $"bucket"), dropped)
  }
}
