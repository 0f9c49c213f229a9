package graft.sig

import graft.DedupConfig
import graft.hash.XXH64
import graft.model.Schemas.DocNorm
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level boilerplate shingle suppression — the pair-DENSITY knob.
  *
  * The 900k-page scaling measurement (BENCH/BASELINE.md round-4 density
  * stress) isolated pairs/doc as the anti-scaling axis: shuffle bytes per
  * page grow with candidate-pair density, and on a web corpus density is
  * driven by TEMPLATE text — navigation, footers, legal blurbs shared by
  * millions of pages push unrelated pages' Jaccard over the LSH threshold.
  * The per-doc/per-domain caps bound the damage AFTER candidate generation;
  * this operator removes the cause BEFORE signatures: shingles whose
  * document frequency exceeds a corpus-fraction threshold are dropped from
  * every doc's shingle set, so minhash/LSH/Jaccard all act on the
  * non-boilerplate content. (SimHash is left untouched — it is a
  * token-weight learner, and suppressing its hot tokens would change the
  * parity surface; with requiredVotes = 2 a simhash-only vote cannot label
  * a pair DUPLICATE.)
  *
  * Scale shape: df is one groupBy over per-doc-distinct shingle instances
  * (partial aggregation collapses duplicates map-side); the hot set is
  * bounded INDEPENDENT of corpus size — #(df > f·n) ≤ Σdf / (f·n) =
  * avg-shingles-per-doc / f (e.g. ≤ 20k entries at 1000 shingles/doc and
  * f = 0.05) — so it broadcasts at any corpus size. For 100 TB corpora the
  * df pass itself can run on a deterministic 1-in-k url-hash sample
  * (boilerplateSampleOneIn): template shingles by definition appear in a
  * constant fraction of pages, so a sample's df/n estimates the fraction
  * with error ~1/sqrt(sample-df) — a 1% sample of 10^12 docs still sees a
  * df-0.05 shingle 5·10^8 times.
  *
  * Determinism: the df aggregation is partition-invariant, the threshold is
  * decimal-exact (see dfThreshold), sampling is a pure url-hash predicate
  * (not Spark's partition-seeded sample()), and the hot-set cap keeps the
  * top entries under the (df desc, shingle asc) total order — so the hot
  * set is a pure function of (corpus, config), required by stage resume.
  */
object Boilerplate {

  private final val SampleSeed = 0xB01E7B01E7L // "boiler"-ish tag

  /** Hot-set size cap (highest-df entries kept, truncation logged). The
    * natural bound is avg-shingles-per-doc / frac — corpus-size-independent
    * — so 1M is generous headroom, and the broadcast stays a few MB.
    */
  private final val MaxHotSet = 1 << 20

  /** Document frequency per shingle over the signature-stage shingle chain:
    * one row per distinct (doc, shingle) — arrays are per-doc distinct, so
    * count(*) per shingle = number of docs containing it.
    * Columns: (shingle: long, df: long).
    */
  def shingleDf(spark: SparkSession, norm: Dataset[DocNorm], conf: DedupConfig): DataFrame = {
    import spark.implicits._
    norm.flatMap(d => Shingles.ofNormText(d.norm_text, conf))
      .toDF("shingle")
      .groupBy($"shingle").agg(count(lit(1)).as("df"))
  }

  /** Decimal-exact max(minDf, ceil(frac * n)). BigDecimal.valueOf(frac)
    * parses the double's shortest decimal representation — the same literal
    * a SQL mirror embeds — so Spark and DuckDB compute the IDENTICAL
    * threshold. (Double math can differ at exact-integer boundaries:
    * 0.05 * 1200 in binary is 60 + 2^-44, whose ceil is 61, while DuckDB
    * parses 0.05 as DECIMAL and gets exactly 60.)
    */
  def dfThreshold(frac: Double, n: Long, minDf: Int): Long =
    math.max(minDf.toLong,
      (BigDecimal.valueOf(frac) * BigDecimal(n))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact)

  /** The hot (boilerplate) shingle set: shingles with df > dfThreshold over
    * the (optionally url-hash-sampled) corpus. Returns a SORTED array for
    * binary-search suppression. Truncation at MaxHotSet keeps
    * the highest-df entries and is logged — the mega-bucket logged-drop
    * convention.
    */
  def hotShingles(spark: SparkSession, norm: Dataset[DocNorm], conf: DedupConfig): Array[Long] = {
    conf.boilerplateMaxDfFrac match {
      case None => Array.emptyLongArray
      case Some(frac) =>
        val oneIn = math.max(1, conf.boilerplateSampleOneIn)
        val sampled =
          if (oneIn <= 1) norm
          else norm.filter((d: DocNorm) =>
            java.lang.Long.remainderUnsigned(XXH64.hashString(d.url, SampleSeed), oneIn.toLong) == 0L)
        val n = sampled.count()
        val thr = dfThreshold(frac, n, conf.boilerplateMinDf)
        val rows = shingleDf(spark, sampled, conf)
          .filter(col("df") > thr)
          .orderBy(col("df").desc, col("shingle").asc)
          .limit(MaxHotSet + 1)
          .collect()
        if (rows.length > MaxHotSet)
          System.err.println(s"[graft.boilerplate] hot set truncated to $MaxHotSet entries " +
            s"(more shingles exceed df > $thr) — raise boilerplateMaxDfFrac")
        val hot = rows.iterator.take(MaxHotSet).map(_.getLong(0)).toArray
        java.util.Arrays.sort(hot)
        System.err.println(s"[graft.boilerplate] ${hot.length} hot shingles " +
          s"(df > $thr over $n sampled docs, frac $frac)")
        hot
    }
  }

  /** Drop hot shingles from a sorted shingle array (binary search per
    * element; `hotSorted` MUST be sorted). Preserves order/distinctness.
    */
  def suppress(shingles: Array[Long], hotSorted: Array[Long]): Array[Long] =
    if (hotSorted.isEmpty) shingles
    else shingles.filter(h => java.util.Arrays.binarySearch(hotSorted, h) < 0)
}
