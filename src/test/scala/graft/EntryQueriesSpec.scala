package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct checks of SparkEntry operator queries that have non-trivial
  * scale-path vs exact-path equivalences.
  */
class EntryQueriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("LSH-blocked token-jaccard finds exactly the quadratic >=0.8 pairs") {
    import spark.implicits._
    val lsh = SparkEntry.queries("q_token_jaccard_lsh")(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    // quadratic oracle over ALL pairs (no source restriction)
    val t = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), array_distinct(split(trim(lower(col("text"))), "\\s+")).as("toks"))
    val a = t.select(col("doc_id").as("a"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("b"), col("toks").as("tb"))
    val quad = a.join(b, col("a") < col("b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("double"))
      .withColumn("uni", (size(col("ta")) + size(col("tb"))).cast("double") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= 0.8)
      .select(col("a"), col("b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(lsh == quad, s"lsh=${lsh.size} pairs, quadratic=${quad.size} pairs")
  }

  test("upsertByKey: updates win per key, everything else survives") {
    import spark.implicits._
    val existing = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0)).toDF("k", "v", "ver")
    val updates = Seq((2L, "B", 1), (4L, "D", 1)).toDF("k", "v", "ver")
    val got = graft.sources.Sources.upsertByKey(existing, updates, "k")
      .as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "a", 0), (2L, "B", 1), (3L, "c", 0), (4L, "D", 1)))
  }

  test("native graft_jaccard_sorted expression matches MinHashSig.jaccardSorted") {
    import spark.implicits._
    graft.expr.JaccardSorted.register(spark)
    val rng = new graft.pages.PagesSource.DetRng(321L)
    val cases = (0 until 300).map { i =>
      def set(n: Int) = Array.fill(n)(rng.nextLong() % 1000).distinct.sorted
      (i.toLong, set(rng.nextInt(40)), set(rng.nextInt(40)))
    } :+ ((300L, Array.empty[Long], Array.empty[Long])) :+
      ((301L, Array.empty[Long], Array(1L, 2L)))
    val df = cases.toDF("id", "a", "b")
      .selectExpr("id", "graft_jaccard_sorted(a, b) AS j")
      .as[(Long, Double)].collect().toMap
    cases.foreach { case (id, a, b) =>
      assert(df(id) == graft.sig.MinHashSig.jaccardSorted(a, b), s"case $id")
    }
  }

  test("shared-shingle rationale: exact jaccard + deterministic 5-sample") {
    val ta = "the quick brown fox jumps over the lazy dog today".split(' ')
    val tb = "the quick brown fox leaps over the lazy dog today".split(' ')
    val (j, sample, nInter, nUnion) = graft.text.TextOps.sharedShingleRationale(ta, tb, 3)
    assert(nInter > 0 && nUnion >= nInter)
    assert(j == nInter.toDouble / nUnion)
    assert(sample.size <= 5 && sample == sample.sorted)
    assert(sample.forall(s => s.split(' ').length == 3))
    // identical docs: jaccard 1, sample = first 5 shingles alphabetically
    val (j2, s2, _, _) = graft.text.TextOps.sharedShingleRationale(ta, ta, 3)
    assert(j2 == 1.0 && s2.size == 5)
  }

  test("filename_tokens query produces stable exploded rows") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_filename_tokens")(spark, sf)
      .as[(Long, Long, String)].collect()
    assert(rows.nonEmpty)
    // every row's token: lowercase, no digits-only, len>=2
    rows.foreach { case (_, _, t) =>
      assert(t == t.toLowerCase && t.length >= 2 && !t.forall(_.isDigit))
    }
    // pos is dense per doc starting at 0
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (0L until rs.length).toSeq)
    }
  }
}
