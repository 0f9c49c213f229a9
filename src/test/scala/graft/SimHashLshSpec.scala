package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SimHash banding blocking (sig.SimHashLsh): pigeonhole recall guarantee,
  * quadratic equivalence inside the guaranteed radius, and the shared
  * mega-bucket guard on planted degenerate signatures.
  */
class SimHashLshSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import graft.sig.SimHashLsh

  private def rng(seed: Long) = new scala.util.Random(seed)

  /** n random 128-bit signatures plus, for each of nNear, a twin within
    * `radius` flipped bits (spread across both words).
    */
  private def corpus(n: Int, nNear: Int, radius: Int, seed: Long) = {
    val r = rng(seed)
    val base = (0 until n).map(i => (f"u$i%04d", r.nextLong(), r.nextLong()))
    val twins = (0 until nNear).map { i =>
      val (_, hi, lo) = base(i)
      val flips = r.shuffle((0 until 128).toList).take(1 + r.nextInt(radius))
      val (nhi, nlo) = flips.foldLeft((hi, lo)) { case ((h, l), bit) =>
        if (bit < 64) (h ^ (1L << bit), l) else (h, l ^ (1L << (bit - 64)))
      }
      (f"u$i%04d-twin", nhi, nlo)
    }
    spark.createDataFrame(base ++ twins)
      .toDF("url", "simhash_hi", "simhash_lo")
  }

  test("pigeonhole: every pair within hamming <= 7 is found (== quadratic)") {
    import spark.implicits._
    val sigs = corpus(n = 300, nNear = 60, radius = 7, seed = 42)
    val got = SimHashLsh.nearDupPairs(spark, sigs, maxHamming = 7, maxBucketSize = 2000)._1
      .as[(String, String, Int)].collect().toSet
    val s2 = sigs.select($"url".as("u2"), $"simhash_hi".as("h2"), $"simhash_lo".as("l2"))
    val quad = sigs.join(s2, $"url" < $"u2")
      .withColumn("hamming",
        (bit_count($"simhash_hi".bitwiseXOR($"h2")) +
          bit_count($"simhash_lo".bitwiseXOR($"l2"))).cast("int"))
      .filter($"hamming" <= 7)
      .select($"url", $"u2", $"hamming")
      .as[(String, String, Int)].collect().toSet
    assert(quad.nonEmpty, "planted twins should produce pairs")
    assert(got == quad, s"lsh=${got.size} quadratic=${quad.size}")
  }

  test("guard drops a planted degenerate band without a quadratic blowup") {
    import spark.implicits._
    // 3000 docs all sharing band 0 (top 16 bits of hi == 0) but random
    // elsewhere: an unguarded self-join would emit ~4.5M pairs from that
    // one bucket. With the guard the band is dropped; only the planted
    // twin pair (identical signature => all 8 bands, hamming 0) survives
    // via its other, small buckets.
    val r = rng(7)
    val flood = (0 until 3000).map { i =>
      (f"f$i%05d", r.nextLong() & 0x0000ffffffffffffL, r.nextLong())
    }
    val twin = Seq(("t-a", flood.head._2, flood.head._3), ("t-b", flood.head._2, flood.head._3))
    val sigs = spark.createDataFrame(flood ++ twin).toDF("url", "simhash_hi", "simhash_lo")
    val (pairs, dropped) = SimHashLsh.nearDupPairs(spark, sigs, maxHamming = 7, maxBucketSize = 2000)
    val got = pairs.as[(String, String, Int)].collect().toSet
    assert(dropped >= 1, s"expected dropped buckets, got $dropped")
    assert(got.exists(p => p._1 == "f00000" && p._2 == "t-a" || p._1 == "t-a" && p._2 == "t-b"),
      s"twin pair must survive via non-flooded bands: $got")
    assert(got.size < 100, s"guard failed: ${got.size} pairs emitted")
  }

  test("bandRows slices hi-first and masks to 16 bits") {
    import spark.implicits._
    val sigs = Seq(("u", 0x0123456789abcdefL, 0xfedcba9876543210L))
      .toDF("url", "simhash_hi", "simhash_lo")
    val rows = SimHashLsh.bandRows(sigs).as[(String, Int, Long)].collect()
      .map { case (_, band, bucket) => band -> bucket }.toMap
    assert(rows == Map(
      0 -> 0x0123L, 1 -> 0x4567L, 2 -> 0x89abL, 3 -> 0xcdefL,
      4 -> 0xfedcL, 5 -> 0xba98L, 6 -> 0x7654L, 7 -> 0x3210L))
  }
}
