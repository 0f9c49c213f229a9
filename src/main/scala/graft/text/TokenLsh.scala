package graft.text

import graft.hash.XXH64
import graft.sig.MinHashSig
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH-blocked exact-Jaccard pairs over per-doc string sets (word
  * tokens or n-gram shingles) — the scale-safe twin of a per-group cross
  * product (/root/reference/src/Learners/minhash_model.py:93-102 scores
  * pairs; the blocking replaces its all-pairs loop).
  *
  * Dataflow: per-doc MinHash signature (mapPartitions, shared permutations)
  * → band explode → bucket-size guard → bucket self-join → distinct pairs →
  * exact Jaccard on the (distinct) string sets → threshold filter.
  *
  * Mega-bucket guard: buckets with more than `maxBucketSize` members are
  * DROPPED with a logged count (same policy as the dedup pipeline's
  * candidateStage, DedupPipeline.scala) — a degenerate bucket (corpus-wide
  * boilerplate token sets, all-equal signatures) would otherwise turn the
  * self-join quadratic, the single worst skew source at web scale. The
  * dropped count is returned next to the pairs.
  */
object TokenLsh {

  /** @param items   (id, tokens) — tokens need not be distinct
    * @param threshold emit pairs with exact Jaccard >= threshold
    * @return (DataFrame(a, b, jaccard) with a < b, dropped bucket count)
    */
  def jaccardPairs(spark: SparkSession, items: Dataset[(Long, Seq[String])],
                   threshold: Double, numPerm: Int = 128, bands: Int = 32, r: Int = 4,
                   hashSeed: Long = 0x70C5L, permSeed: Long = 913L,
                   maxBucketSize: Long = 4096L): (DataFrame, Long) = {
    import spark.implicits._
    val np = numPerm; val ps = permSeed; val hs0 = hashSeed
    // The distinct'd token sets feed THREE consumers (the signature pass
    // and both sides of the exact-Jaccard join); materialize them once —
    // without this the whole upstream (source scan + tokenize/shingle
    // expressions, the expensive part for n-gram callers) re-runs per
    // consumer. localCheckpoint blocks are reclaimed by the
    // ContextCleaner when the plan goes out of scope.
    val t = items.toDF("tid", "toks")
      .select($"tid", array_distinct($"toks").as("toks"))
      .localCheckpoint()
    val sigs = t.as[(Long, Seq[String])].mapPartitions { it =>
      val (as, bs) = MinHashSig.permutations(np, ps)
      it.map { case (id, toks) =>
        // tokens are already distinct; MinHash's per-permutation min is
        // insensitive to order and repeats, so no re-distinct/sort here
        val hs = toks.iterator.map(tk => XXH64.hashString(tk, hs0)).toArray
        (id, MinHashSig.signature(hs, as, bs))
      }
    }
    val bandRows = sigs.flatMap { case (id, mh) =>
      (0 until bands).iterator.map(bd =>
        (bd, XXH64.hashLongs(mh, bd * r, bd * r + r, bd.toLong), id))
    }.toDF("band", "bucket", "id")

    // mega-bucket guard — shared implementation (graft.lsh.BucketGuard)
    val g = graft.lsh.BucketGuard.okBuckets(spark, bandRows, maxBucketSize, "tokenLsh")
    val bx = bandRows.join(g.ok, Seq("band", "bucket"))
      .select($"band", $"bucket", $"id")

    val l = bx.select($"band", $"bucket", $"id".as("a"))
    val rr = bx.select($"band".as("band2"), $"bucket".as("bucket2"), $"id".as("b"))
    val pairs = l.join(rr, $"band" === $"band2" && $"bucket" === $"bucket2" && $"a" < $"b")
      .select($"a", $"b").distinct()

    // SHUFFLE_HASH: sort-merge would sort the array-carrying doc relations;
    // hash-join streams the narrow pairs side against a per-partition build
    // of the doc slice instead (same rationale as the dedup verify joins)
    val ta = t.select($"tid".as("pa"), $"toks".as("ta")).hint("SHUFFLE_HASH")
    val tb = t.select($"tid".as("pb"), $"toks".as("tb")).hint("SHUFFLE_HASH")
    val scored = pairs.join(ta, $"a" === $"pa").join(tb, $"b" === $"pb")
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("double"))
      .withColumn("uni", (size($"ta") + size($"tb")).cast("double") - $"inter")
      .withColumn("jaccard", $"inter" / $"uni")
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"jaccard")
    (scored, g.dropped)
  }
}
