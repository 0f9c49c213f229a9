package graft

import graft.text.TokenLsh
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mega-bucket guard behavior for the standalone LSH operators
  * (TokenLsh.jaccardPairs and Ann.lshCandidates): a planted degenerate
  * bucket — identical token sets / identical vectors, which collide in
  * EVERY band — is dropped instead of exploding the self-join
  * quadratically, while non-degenerate near-dup structure still pairs.
  */
class TokenLshSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("TokenLsh drops a planted degenerate bucket under a small cap, keeps real pairs") {
    import spark.implicits._
    // 300 docs with the IDENTICAL token set -> every band has one bucket of
    // size 300 (44850 pairs if unguarded); plus one near-dup pair of a
    // DISTINCT token family that must survive the guard.
    val boiler: Seq[String] = (0 until 40).map(i => s"w$i").toList
    val clones: Seq[(Long, Seq[String])] = (0L until 300L).map(id => (id, boiler))
    val fam: Seq[(Long, Seq[String])] = Seq(
      (1000L, (0 until 40).map(i => s"z$i").toList),
      (1001L, (0 until 40).map(i => if (i == 39) "edited" else s"z$i").toList))
    val items = spark.createDataset(clones ++ fam)

    val (pairs, dropped) = TokenLsh.jaccardPairs(spark, items, threshold = 0.8, maxBucketSize = 16L)
    val got = pairs.as[(Long, Long, Double)].collect()

    assert(dropped > 0, "planted degenerate bucket was not dropped")
    assert(!got.exists(p => p._1 < 300 && p._2 < 300),
      s"clone-clique pairs leaked through the guard: ${got.length}")
    assert(got.map(p => (p._1, p._2)).toSet == Set((1000L, 1001L)),
      s"real near-dup pair lost: ${got.toSeq}")
  }

  test("TokenLsh with a non-binding cap equals the unguarded quadratic") {
    import spark.implicits._
    val rng = new graft.pages.PagesSource.DetRng(42L)
    val items: Seq[(Long, Seq[String])] = (0L until 60L).map { id =>
      val base = (0 until 30).map(i => s"t${(id % 7) * 100 + i}")
      val mut = base.zipWithIndex.map { case (w, i) =>
        if (i.toLong == id % 30 && rng.nextInt(2) == 0) s"m$id" else w
      }
      (id, mut.toList)
    }
    val ds = spark.createDataset(items)
    val lsh = TokenLsh.jaccardPairs(spark, ds, threshold = 0.8)._1
      .as[(Long, Long, Double)].collect().toSet
    val t = ds.toDF("id", "toks").select($"id", array_distinct($"toks").as("toks"))
    val a = t.select($"id".as("a"), $"toks".as("ta"))
    val b = t.select($"id".as("b"), $"toks".as("tb"))
    val quad = a.join(b, $"a" < $"b")
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("double"))
      .withColumn("uni", (size($"ta") + size($"tb")).cast("double") - $"inter")
      .withColumn("jaccard", $"inter" / $"uni")
      .filter($"jaccard" >= 0.8)
      .select($"a", $"b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == quad, s"lsh=${lsh.size} quad=${quad.size}")
  }

  test("Ann.lshCandidates drops a planted degenerate vector bucket, keeps real pairs") {
    import spark.implicits._
    val dim = 16
    // 200 identical vectors (one bucket of 199+ pairs per band if
    // unguarded) + 2 nearly-identical distinct vectors that must pair
    val clone = Array.tabulate(dim)(i => 1.0f / (i + 1))
    val near1 = Array.tabulate(dim)(i => (i + 1).toFloat)
    val near2 = Array.tabulate(dim)(i => (i + 1).toFloat * 1.001f)
    val vecs = (0L until 200L).map(id => (id, clone)) ++
      Seq((1000L, near1), (1001L, near2))
    val df = vecs.toDF("vec_id", "embedding")
    val (pairs, dropped) = graft.ann.Ann.lshCandidates(spark, df, dim, bands = 8, bitsPerBand = 4,
      maxBucketSize = 32L)
    val got = pairs.as[(Long, Long, Double)].collect()
    assert(dropped > 0, "degenerate vector bucket was not dropped")
    assert(!got.exists(p => p._1 < 200 && p._2 < 200),
      s"clone-clique vector pairs leaked: ${got.length}")
    assert(got.exists(p => p._1 == 1000L && p._2 == 1001L && p._3 > 0.999),
      s"real near-identical pair lost: ${got.toSeq}")
  }
}
