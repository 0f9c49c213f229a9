package graft

import graft.ann.SemDedup
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup (ann/SemDedup): assignment argmin + d2, within-cluster-only
  * edges, transitive grouping, keep-farthest-from-centroid (ties id-asc),
  * singleton passthrough, mega-cluster guard degradation to keep-all, and
  * partition invariance.
  */
class SemDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // two well-separated centroids on the first two axes (dim 4)
  private def centroids = {
    import spark.implicits._
    Seq((0, Array(10.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 10.0, 0.0, 0.0)))
      .toDF("list_id", "centroid")
  }

  private def vecs(rows: (Long, Array[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("groups transitively within a cluster, keeps farthest from centroid") {
    // cluster 0: v1=(9,0,..) v2=(9,0.2,..) v3=(9,-0.2,..) — v1~v2 and
    // v1~v3 near-parallel (cos>0.99); all three one group via v1.
    // v10=(1,0,.9,0) points elsewhere: same cluster, cosine to the
    // family ~0.42... keep it below tau=0.9 -> singleton.
    // cluster 1: v20=(0,9,..) v21=(0,9,0,0.1) — one pair.
    val v = vecs(
      1L -> Array(9f, 0f, 0f, 0f),
      2L -> Array(9f, 0.2f, 0f, 0f),
      3L -> Array(9f, -0.2f, 0f, 0f),
      10L -> Array(1f, 0f, 0.9f, 0f),
      20L -> Array(0f, 9f, 0f, 0f),
      21L -> Array(0f, 9f, 0f, 0.1f))
    val got = SemDedup.semDedup(spark, v, centroids, tau = 0.9)._1
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))

    // d2 to centroid(10,0,0,0): v1=1, v2=1.04, v3=1.04 -> farthest is the
    // tie v2/v3 at 1.04 -> lowest id 2 kept. group rep = min id = 1.
    // cluster 1: v20 d2=1, v21 d2=1.01 -> 21 kept.
    assert(got.toSeq == Seq(
      (1L, 0, 1L, false),
      (2L, 0, 1L, true),
      (3L, 0, 1L, false),
      (10L, 0, 10L, true),
      (20L, 1, 20L, false),
      (21L, 1, 20L, true)))
  }

  test("no cross-cluster edges even above tau") {
    // v1 and v2 are IDENTICAL directions but assigned to different
    // centroids (placed at each centroid): cosine = 0 between them? No —
    // make them parallel: v1=(7,7.1,0,0) sits closer to centroid 1;
    // v2=(7.1,7,0,0) closer to centroid 0; cosine(v1,v2) ~ 0.9999 but
    // the pair is never scored (different clusters).
    val v = vecs(
      1L -> Array(7f, 7.1f, 0f, 0f),
      2L -> Array(7.1f, 7f, 0f, 0f))
    val got = SemDedup.semDedup(spark, v, centroids, tau = 0.5)._1
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((1L, 1, 1L, true), (2L, 0, 2L, true)))
  }

  test("mega-cluster guard degrades to keep-all with logged drop") {
    // 5 near-identical members in cluster 0, cap 4 -> cluster dropped,
    // every member survives as its own singleton.
    val v = vecs((1L to 5L).map(i => i -> Array(9f, i * 0.01f, 0f, 0f)): _*)
    val (kept, dropped) = SemDedup.semDedup(spark, v, centroids, tau = 0.5, maxClusterSize = 4L)
    val got = kept.orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == (1L to 5L).map(i => (i, i, true)))
    assert(dropped == 1L)
  }

  test("partition-invariant and agrees with a plain-Scala recompute") {
    import spark.implicits._
    val rng = new graft.pages.PagesSource.DetRng(7L)
    val rows = (0L until 200L).map { i =>
      val base = Array.fill(4)((rng.nextDouble() * 2 - 1).toFloat)
      i -> base
    }
    val v1 = vecs(rows: _*)
    val v2 = vecs(rows: _*).repartition(13)
    val a = SemDedup.semDedup(spark, v1, centroids, tau = 0.8)._1
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val b = SemDedup.semDedup(spark, v2, centroids, tau = 0.8)._1
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a == b)

    // plain-Scala reference: argmin assignment, within-cluster cosine,
    // union-find, keep max-d2 (tie min id)
    val cent = Seq(0 -> Array(10.0, 0.0, 0.0, 0.0), 1 -> Array(0.0, 10.0, 0.0, 0.0))
    def d2(v: Array[Float], c: Array[Double]) =
      c.indices.foldLeft(0.0)((acc, j) => { val t = c(j) - v(j); acc + t * t })
    val asg = rows.map { case (id, v) =>
      val (li, dd) = cent.map { case (i, c) => (i, d2(v, c)) }.minBy(_._2)
      (id, li, dd)
    }
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.indices.foldLeft(0.0)((a2, i) => a2 + x(i).toDouble * y(i).toDouble)
      val nx = math.sqrt(x.indices.foldLeft(0.0)((a2, i) => a2 + x(i).toDouble * x(i).toDouble))
      val ny = math.sqrt(y.indices.foldLeft(0.0)((a2, i) => a2 + y(i).toDouble * y(i).toDouble))
      if (nx == 0 || ny == 0) 0.0 else dot / (nx * ny)
    }
    val byId = rows.toMap
    val parent = scala.collection.mutable.Map((0L until 200L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      (i, li, _) <- asg; (j, lj, _) <- asg
      if i < j && li == lj && cos(byId(i), byId(j)) >= 0.8
    } { val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj) }
    val d2Of = asg.map(t => t._1 -> t._3).toMap
    val groups = (0L until 200L).groupBy(find)
    val expect = (0L until 200L).map { i =>
      val g = groups(find(i))
      val keeper = g.minBy(m => (-d2Of(m), m))
      (i, asg.find(_._1 == i).get._2, find(i), i == keeper)
    }
    val gotSeq = a.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Int],
      s(2).asInstanceOf[Long], s(3).asInstanceOf[Boolean]))
    assert(gotSeq == expect)
  }
}
