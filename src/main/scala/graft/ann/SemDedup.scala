package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540, public): SEMANTIC
  * deduplication — the embedding-space modality the lexical family
  * (exact hash, MinHash/LSH, SimHash, n-gram Jaccard, winnowing) cannot
  * see: paraphrases and re-renderings share meaning but few shingles.
  * K-means clusters the embedding space, pairs are scored ONLY within a
  * cluster (the paper's approximation that makes the quadratic term
  * tractable: k grows with corpus size, expected cluster size stays
  * ~n/k), cosine >= tau edges are grouped transitively, and each group
  * keeps ONE exemplar: the member FARTHEST from its cluster centroid
  * (the paper's choice — prototypical members are the redundant ones),
  * ties on lowest id.
  *
  * Fit/apply split (the repo's standard for iterative fits, round-3
  * verdict): the k-means FIT is persisted centroids (Ann.ivfFit);
  * everything here is deterministic apply — so the whole operator is
  * DuckDB-oracle-checkable end-to-end from the centroid artifacts
  * (assignment argmin, per-index-fold cosine, recursive-CTE components,
  * keep rule), `q_semdedup`.
  *
  * Scale shape: assignment is a broadcast map (k×dim doubles), no
  * shuffle; pair generation is a per-cluster self-join — the LSH-bucket
  * shape, under the shared BucketGuard (an all-boilerplate mega-cluster
  * would turn the join quadratic; dropped clusters degrade to keep-all,
  * logged and returned as a drop count, never partially sampled);
  * grouping is ConnectedComponents (driver union-find for a small edge
  * set, else the iterative DataFrame loop); the keep rule is a partial
  * aggregation (min of a (−d2, id) struct, map-side combinable), not a
  * global window.
  *
  * Reference scope note: the reference has no embedding-cluster dedup
  * (its embed path is pairwise cosine only, embed_model.py) — this is a
  * bonus-surface operator from the public curation literature.
  */
object SemDedup {

  /** Nearest-centroid assignment plus the squared L2 distance to the
    * winning centroid — Ann.assignToCentroids' exact argmin fold
    * (index-order double accumulation, ties -> lowest list_id) extended
    * with the distance the keep rule needs. The fold order matches
    * DuckDB's list_reduce left fold, so d2 is bit-identical across
    * engines.
    */
  def assignWithDist(spark: SparkSession, vectors: DataFrame, centroids: DataFrame,
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
        (id, best, bd)
      }.toDF(idCol, "list_id", "d2")
  }

  /** Within-cluster cosine >= tau pairs: the guarded per-cluster
    * self-join (equi-join on list_id — the LSH-bucket shape; PlanSpec
    * asserts it never degrades to a cross product). `asg` is
    * assignWithDist's output. Returns the edges and the number of
    * clusters the guard dropped.
    */
  def clusterEdges(spark: SparkSession, vectors: DataFrame, asg: DataFrame,
                   tau: Double, maxClusterSize: Long,
                   idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Long) = {
    import spark.implicits._
    val guarded = graft.lsh.BucketGuard.okBuckets(
      spark, asg.select(lit(0).as("band"), $"list_id".as("bucket")),
      maxClusterSize, "semdedup")
    val withVec = asg.join(guarded.ok.select($"bucket".as("list_id")), Seq("list_id"))
      .join(vectors.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), $"list_id", col(vecCol))
    val edges = withVec.select($"list_id", col(idCol).as("a"), col(vecCol).as("va"))
      .join(withVec.select($"list_id", col(idCol).as("b"), col(vecCol).as("vb")), Seq("list_id"))
      .filter($"a" < $"b")
      .filter(Ann.cosineExpr("va", "vb") >= tau)
      .select($"a", $"b")
    (edges, guarded.dropped)
  }

  /** @return one row per input vector: (idCol, list_id, rep, keep) —
    *         rep = min id of the semantic-dup group (own id if
    *         unclustered), keep = this member survives dedup — and the
    *         number of mega-clusters the guard dropped (their members
    *         are kept as singletons).
    */
  def semDedup(spark: SparkSession, vectors: DataFrame, centroids: DataFrame,
               tau: Double, maxClusterSize: Long = 100000L,
               idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Long) = {
    import spark.implicits._
    // materialized once for its three consumers (edges, labels, keep);
    // localCheckpoint over persist per the BucketGuard convention
    val asg = assignWithDist(spark, vectors, centroids, idCol, vecCol).localCheckpoint()
    val (edges, dropped) = clusterEdges(spark, vectors, asg, tau, maxClusterSize, idCol, vecCol)
    val comps = graft.cc.ConnectedComponents.run(spark, edges)._1
      .select(col("url").as(idCol), col("comp").as("rep"))

    val labeled = asg.join(comps, Seq(idCol), "left")
      .withColumn("rep", coalesce($"rep", col(idCol)))
    val keepers = labeled.groupBy($"rep")
      .agg(min(struct(negate($"d2").as("nd2"), col(idCol).as("kid"))).as("k"))
      .select($"rep", $"k.kid".as("keep_id"))
    val kept = labeled.join(keepers, Seq("rep"))
      .select(col(idCol), $"list_id", $"rep", (col(idCol) === $"keep_id").as("keep"))
    (kept, dropped)
  }
}
