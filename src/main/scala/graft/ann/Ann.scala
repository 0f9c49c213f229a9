package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - `bruteForceTopK`: exact cosine top-k via a broadcast of the (small)
  *   query side — the correctness baseline.
  * - `lshTopK`: random-hyperplane LSH buckets (sign bits of fixed seeded
  *   projections) restrict the join to same-bucket pairs — the scale path:
  *   the full cross product never materializes, the bucket join shuffles on
  *   the bucket key, and probes = multi-band OR amplification.
  *
  * The LSH paths return the mega-bucket guard's drop count next to their
  * pairs (graft.lsh.BucketGuard).
  */
object Ann {

  /** Cosine via SQL builtins (codegen'd, no UDF): dot / (norm*norm).
    * Package-visible: SemDedup scores its within-cluster pairs with the
    * same fold so the engines' IEEE operation order stays identical.
    */
  private[ann] def cosineExpr(a: String, b: String) = {
    val dot = expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val na = expr(s"sqrt(aggregate($a, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    val nb = expr(s"sqrt(aggregate($b, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (na * nb))
  }

  /** Exact top-k neighbors for every query vector (queries broadcast). */
  def bruteForceTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                     k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter($"query_id" =!= $"nbr_id")
      .withColumn("cosine", cosineExpr("query_vec", "nbr_vec"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"nbr_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"nbr_id", $"cosine", $"rank")
  }

  /** Deterministic random hyperplanes: proj(p)(d) from splitmix64. */
  private def hyperplaneSql(dim: Int, bitsPerBand: Int, band: Int, vecCol: String): org.apache.spark.sql.Column = {
    // bucket = sign bits of `bitsPerBand` projections packed into a long
    val bits = (0 until bitsPerBand).map { bit =>
      val terms = (0 until dim).map { d =>
        val h = graft.pages.PagesSource.mix64(band.toLong * 100003L + bit.toLong * 1009L + d)
        // map to {-1, +1} deterministically
        val sign = if ((h & 1L) == 1L) "+" else "-"
        s"$sign CAST($vecCol[$d] AS DOUBLE)"
      }.mkString(" ")
      s"(CASE WHEN ($terms) >= 0 THEN ${1L << bit}L ELSE 0L END)"
    }.mkString(" + ")
    expr(bits)
  }

  /** Same-bucket candidate pairs under multi-band hyperplane LSH, scored
    * with exact cosine — the scalable near-dup / ANN candidate source.
    *
    * Mega-bucket guard: buckets with more than `maxBucketSize` members are
    * dropped with a logged count, returned next to the pairs — a
    * degenerate bucket (all-zero or boilerplate-identical vectors land in
    * the same bucket in EVERY band) would otherwise turn the self-join
    * quadratic at corpus scale. Same policy as the dedup pipeline's
    * candidateStage.
    */
  def lshCandidates(spark: SparkSession, vectors: DataFrame, dim: Int,
                    bands: Int = 4, bitsPerBand: Int = 12,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxBucketSize: Long = 4096L): (DataFrame, Long) = {
    import spark.implicits._
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = (0 until bands).map { b =>
      base.withColumn("band", lit(b)).withColumn("bucket", hyperplaneSql(dim, bitsPerBand, b, "vec"))
    }.reduce(_ union _)
    val g = graft.lsh.BucketGuard.okBuckets(spark, banded, maxBucketSize, "ann")
    val bx = banded.join(g.ok, Seq("band", "bucket"))
      .select($"band", $"bucket", $"id", $"vec")
    val l = bx.select($"band", $"bucket", $"id".as("a"), $"vec".as("va"))
    val r = bx.select($"band".as("band2"), $"bucket".as("bucket2"), $"id".as("b"), $"vec".as("vb"))
    val pairs = l.join(r, $"band" === $"band2" && $"bucket" === $"bucket2" && $"a" < $"b")
      .select($"a", $"b", $"va", $"vb").distinct()
      .withColumn("cosine", cosineExpr("va", "vb"))
      .select($"a", $"b", $"cosine")
    (pairs, g.dropped)
  }

  /** IVF top-k — the coarse-quantizer scale path: KMeans learns `nlist`
    * centroids (spark.ml, seeded), corpus vectors shuffle once into their
    * nearest list, and each query probes only its `nprobe` nearest
    * centroids' lists (centroids broadcast — they are tiny), scoring exact
    * cosine within the probed subset. Corpus-side work is one KMeans fit +
    * one list-keyed join; nothing all-pairs.
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (centroids, assigned) = ivfFit(spark, corpus, nlist, seed, idCol, vecCol)
    ivfApply(spark, corpus, assigned, centroids, queries, k, nprobe, idCol, vecCol)
  }

  /** IVF FIT: the KMeans coarse quantizer (iterative — verified by golden/
    * recall specs, not SQL-recomputable) producing the two persistable
    * artifacts: centroids (list_id, centroid double[]) and the corpus
    * assignment (nbr_id, list_id). The APPLY over these is pure
    * argmin/top-k relational algebra a SQL oracle CAN recompute — the same
    * fit/apply split the calibrated arbiter uses.
    */
  def ivfFit(spark: SparkSession, corpus: DataFrame, nlist: Int = 16, seed: Long = 42L,
             idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
      .withColumn("features", array_to_vector(col("nbr_vec")))
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features").fit(feat)
    val assigned = model.transform(feat)
      .select($"nbr_id", $"prediction".as("list_id"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("list_id", "centroid")
    (centroids, assigned)
  }

  /** IVF APPLY: each query probes its `nprobe` nearest centroids
    * (broadcast — tiny) and scores exact cosine within the probed lists
    * only. Tie-breaks are total (distance asc then list_id asc; cosine
    * desc then nbr_id asc) so the result is engine-independent.
    */
  def ivfApply(spark: SparkSession, corpus: DataFrame, assigned: DataFrame,
               centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val probed = probeLists(spark, centroids, queries, nprobe, idCol, vecCol)
    val corpusByList = assigned.join(
      corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec")), "nbr_id")
    val scored = probed.join(corpusByList, "list_id")
      .filter($"query_id" =!= $"nbr_id")
      .withColumn("cosine", cosineExpr("query_vec", "nbr_vec"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"nbr_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"nbr_id", $"cosine", $"rank")
  }

  /** IVF probe selection — each query's `nprobe` nearest centroids by
    * squared L2 (ties -> lowest list_id), centroids broadcast. Factored out
    * of ivfApply so the recall/cost sweep (MediaAnnSpec) measures the
    * probed corpus fraction from the exact code path the apply runs.
    * Returns (query_id, query_vec, list_id).
    */
  def probeLists(spark: SparkSession, centroids: DataFrame, queries: DataFrame,
                 nprobe: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val cent = centroids.select($"list_id".as[Int], $"centroid".as[Array[Double]]).collect()
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cent)
    queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, v) =>
        val lists = bc.value.map { case (i, c) =>
          var d = 0.0; var j = 0
          while (j < c.length) { val t = c(j) - v(j); d += t * t; j += 1 }
          (i, d)
        }.sortBy(_._2).take(nprobe).map(_._1)
        lists.map(l => (qid, v, l))
      }.toDF("query_id", "query_vec", "list_id")
  }

  /** Deterministic nearest-centroid assignment (the KMeans APPLY): naive
    * per-index squared-L2 accumulated in index order with a strict-less
    * argmin (ties -> lowest list_id) — exactly the fold a SQL oracle can
    * mirror (list_distance ASC, list_id ASC), unlike model.transform's
    * norm-trick distance whose fp rounding differs.
    */
  def assignToCentroids(spark: SparkSession, vectors: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val cent = centroids.select($"list_id".as[Int], $"centroid".as[Array[Double]]).collect()
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cent)
    vectors.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) =>
        var best = -1; var bd = Double.MaxValue
        bc.value.foreach { case (i, c) =>
          var d = 0.0; var j = 0
          while (j < c.length) { val t = c(j) - v(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = i }
        }
        (id, best)
      }.toDF(idCol, "list_id")
  }
}
