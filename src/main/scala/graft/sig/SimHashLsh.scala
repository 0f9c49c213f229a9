package graft.sig

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimHash banding (Charikar-style near-dup blocking over the pipeline's
  * 128-bit signatures, the scale path for the reference's SimHash learner —
  * simhash_model.py scores candidate pairs; this GENERATES the candidates
  * without a quadratic pass, the missing half at web scale).
  *
  * The 128-bit signature is split into `NumBands` = 8 contiguous 16-bit
  * bands; docs sharing any band value become a candidate pair. Pigeonhole:
  * any pair with hamming distance <= 7 differs in at most 7 bands, so it
  * MUST agree on at least one of the 8 — recall is exact (1.0) for
  * `maxHamming <= NumBands - 1`; callers wanting larger radii get the usual
  * LSH approximation. Degenerate bands (corpus-wide boilerplate producing
  * one giant bucket) go through the shared [[graft.lsh.BucketGuard]] with
  * its logged-drop protocol.
  *
  * Dataflow is scale-shaped: one narrow explode (8 rows/doc of fixed-width
  * longs), one guarded self-join on (band, bucket), and a fixed-width
  * re-join onto the signature relation for the exact hamming filter — no
  * shingle arrays, no per-pair payload beyond four longs.
  */
object SimHashLsh {

  val NumBands = 8
  val BandBits = 16
  private val BandMask = (1L << BandBits) - 1

  /** One row per (band, doc): band id 0..7, bucket = that 16-bit slice.
    * Input needs (url, simhash_hi, simhash_lo). Slices are taken hi-first
    * (band 0 = top 16 bits of simhash_hi ... band 7 = low 16 of simhash_lo),
    * mirrored bit-for-bit by the DuckDB oracle in SparkEntry.
    */
  def bandRows(sigs: DataFrame): DataFrame = {
    val slices = (0 until NumBands).map { i =>
      val word = if (i < 4) col("simhash_hi") else col("simhash_lo")
      val shift = (if (i < 4) 3 - i else 7 - i) * BandBits
      struct(lit(i).as("band"),
        shiftright(word, shift).bitwiseAND(lit(BandMask)).as("bucket"))
    }
    sigs.select(col("url"), explode(array(slices: _*)).as("bb"))
      .select(col("url"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs (a < b) within exact hamming distance `maxHamming`,
    * blocked by banding + guarded buckets. Output: (a, b, hamming),
    * hamming exact over the full 128 bits (not an estimate), and the
    * number of dropped buckets.
    */
  def nearDupPairs(spark: SparkSession, sigs: DataFrame, maxHamming: Int,
                   maxBucketSize: Long): (DataFrame, Long) = {
    import spark.implicits._
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val s = sigs.select($"url", $"simhash_hi", $"simhash_lo")
    val bands = bandRows(s)
    val guarded = graft.lsh.BucketGuard.okBuckets(spark, bands, maxBucketSize, "simhashLsh")
    val bx = bands.join(guarded.ok, Seq("band", "bucket"))
    val pairs = bx.select($"band", $"bucket", $"url".as("a"))
      .join(bx.select($"band", $"bucket", $"url".as("b")), Seq("band", "bucket"))
      .filter($"a" < $"b")
      .select($"a", $"b").distinct()
    val near = pairs
      .join(s.select($"url".as("xa"), $"simhash_hi".as("a_hi"), $"simhash_lo".as("a_lo")),
        $"a" === $"xa")
      .join(s.select($"url".as("xb"), $"simhash_hi".as("b_hi"), $"simhash_lo".as("b_lo")),
        $"b" === $"xb")
      .withColumn("hamming",
        (bit_count($"a_hi".bitwiseXOR($"b_hi")) +
          bit_count($"a_lo".bitwiseXOR($"b_lo"))).cast("int"))
      .filter($"hamming" <= maxHamming)
      .select($"a", $"b", $"hamming")
    (near, guarded.dropped)
  }
}
