package graft

import graft.cc.ConnectedComponents
import graft.pages.PagesSource.DetRng
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import scala.reflect.runtime.universe.TypeTag

/** Connected components vs a driver-side union-find oracle. Every graph
  * runs through both paths: the driver union-find (the default for these
  * small graphs) and the distributed loop (driverMaxEdges = 0).
  */
class CCSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  /** Spark's string order: binary UTF-8, i.e. code point order — not
    * String.compareTo's UTF-16 order.
    */
  private val sparkStringOrder: Ordering[String] =
    (x, y) => java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))

  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      parent.getOrElseUpdate(x, x)
      if (parent(x) != x) parent(x) = find(parent(x))
      parent(x)
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min member of the component
    val byRoot = verts.groupBy(find)
    byRoot.flatMap { case (_, ms) => val m = ms.min(sparkStringOrder); ms.map(_ -> m) }
  }

  /** Labels of the driver path and of the loop path, in that order; checks
    * the round count each path reports.
    */
  private def bothPaths[K: TypeTag](edges: DataFrame, reliable: Boolean = false): (Map[K, K], Map[K, K]) = {
    import spark.implicits._
    val (driver, driverRounds) = ConnectedComponents.run(spark, edges, reliable = reliable)
    val (loop, loopRounds) = ConnectedComponents.run(spark, edges, reliable = reliable, driverMaxEdges = 0)
    assert(driverRounds == 0, "the driver path ran loop rounds")
    assert(loopRounds > 0, "driverMaxEdges = 0 did not reach the loop")
    (driver.as[(K, K)].collect().toMap, loop.as[(K, K)].collect().toMap)
  }

  test("CC matches union-find on random graphs of varying shape") {
    import spark.implicits._
    val rng = new DetRng(77)
    Seq(20, 150).foreach { n =>
      // random edges + a long path (worst case for naive propagation)
      val rand = (0 until n).map(_ => (s"v${rng.nextInt(n)}", s"v${rng.nextInt(n)}"))
        .filter(e => e._1 != e._2)
      val path = (0 until 30).map(i => (f"p${i}%03d", f"p${i + 1}%03d"))
      val edges = rand ++ path
      val expected = unionFind(edges)
      val (driver, loop) = bothPaths[String](edges.toDF("a", "b"))
      assert(driver == expected, s"n=$n driver mismatch")
      assert(loop == expected, s"n=$n loop mismatch")
    }
  }

  test("CC matches union-find on a large random graph at full parallelism") {
    import spark.implicits._
    val rng = new DetRng(79)
    val n = 30000
    // sparse random graph (many components) + a 200-vertex path tail
    val rand = (0 until n).map(_ => (f"v${rng.nextInt(n)}%05d", f"v${rng.nextInt(n)}%05d"))
      .filter(e => e._1 != e._2)
    val path = (0 until 200).map(i => (f"p${i}%04d", f"p${i + 1}%04d"))
    val edges = rand ++ path
    val expected = unionFind(edges)
    val (driver, loop) = bothPaths[String](edges.toDF("a", "b").repartition(32))
    assert(loop.size == expected.size)
    assert(loop == expected)
    assert(driver == expected)
  }

  test("dictionary-encoded loop is bit-identical to the driver union-find") {
    import spark.implicits._
    // random + path + planted cliques; both paths must agree with each
    // other and with the union-find
    val rng = new DetRng(81)
    val rand = (0 until 400).map(_ => (s"v${rng.nextInt(120)}", s"v${rng.nextInt(120)}"))
      .filter(e => e._1 != e._2)
    val path = (0 until 40).map(i => (f"p${i}%03d", f"p${i + 1}%03d"))
    val clique = for (i <- 0 until 8; j <- (i + 1) until 8) yield (s"c$i", s"c$j")
    val edges = rand ++ path ++ clique
    val expected = unionFind(edges)
    val (driver, encoded) = bothPaths[String](edges.toDF("a", "b"))
    assert(driver == expected)
    assert(encoded == expected)
  }

  test("dictionary-encoded loop handles numeric vertex keys") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L + 0L), (7L, 8L), (8L, 9L))
      .filter(e => e._1 != e._2)
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      7L -> 7L, 8L -> 7L, 9L -> 7L)
    val (driver, encoded) = bothPaths[Long](edges.toDF("a", "b"))
    assert(driver == expected)
    assert(encoded == expected)
  }

  test("CC is invariant under edge order and partition count") {
    import spark.implicits._
    val rng = new DetRng(78)
    val edges = (0 until 200).map(_ => (s"v${rng.nextInt(80)}", s"v${rng.nextInt(80)}"))
      .filter(e => e._1 != e._2)
    val (a, aLoop) = bothPaths[String](edges.toDF("a", "b").repartition(1))
    val (b, bLoop) = bothPaths[String](edges.reverse.toDF("a", "b").repartition(13))
    assert(a == b)
    assert(aLoop == a)
    assert(bLoop == a)
  }

  test("both paths label a component with Spark's string minimum, not String.compareTo's") {
    import spark.implicits._
    // U+FF61 is one UTF-16 unit (0xFF61), U+1F600 a surrogate pair
    // (0xD83D 0xDE00): UTF-16 puts the emoji first, binary UTF-8
    // (EF BD A1 < F0 9F 98 80) puts U+FF61 first
    val halfwidth = "k\uFF61"
    val emoji = "k\uD83D\uDE00"
    assert(emoji.compareTo(halfwidth) < 0)
    val sparkMin = Seq(halfwidth, emoji).toDF("k").agg(org.apache.spark.sql.functions.min($"k"))
      .as[String].first()
    assert(sparkMin == halfwidth)
    val edges = Seq((emoji, "m"), ("m", halfwidth), ("a", "b"))
    val expected = unionFind(edges)
    assert(expected(emoji) == halfwidth)
    val (driver, loop) = bothPaths[String](edges.toDF("a", "b"))
    assert(driver == expected)
    assert(loop == expected)
  }

  test("exactly driverMaxEdges edges are solved on the driver, one more on the loop") {
    import spark.implicits._
    val k = 50
    val path = (0 to k).map(i => (f"p${i}%03d", f"p${i + 1}%03d"))
    val expected = unionFind(path)
    val (atK, atKRounds) = ConnectedComponents.run(spark, path.take(k).toDF("a", "b"), driverMaxEdges = k)
    assert(atKRounds == 0)
    assert(atK.as[(String, String)].collect().toMap == unionFind(path.take(k)))
    val (overK, overKRounds) = ConnectedComponents.run(spark, path.toDF("a", "b"), driverMaxEdges = k)
    assert(overKRounds > 0)
    assert(overK.as[(String, String)].collect().toMap == expected)
  }

  test("the loop with reliable checkpoints matches union-find") {
    import spark.implicits._
    val ckDir = "/tmp/graft_test_cc_ckpt_dir"
    TestUtil.deleteRecursively(new java.io.File(ckDir))
    val rng = new DetRng(83)
    val edges = (0 until 150).map(_ => (s"v${rng.nextInt(100)}", s"v${rng.nextInt(100)}"))
      .filter(e => e._1 != e._2)
    val expected = unionFind(edges)
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val (driver, loop) = bothPaths[String](edges.toDF("a", "b"), reliable = true)
      assert(driver == expected)
      assert(loop == expected)
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      try assert(written.anyMatch(_.getFileName.toString.startsWith("rdd-")),
        "no RDD was checkpointed to the durable dir")
      finally written.close()
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  /** A random graph plus a 100-edge path, labelled by the loop
    * (driverMaxEdges = 0) and checked against union-find: the loop's
    * rounds and the executed plan of every action it ran.
    */
  private lazy val forcedLoop: (Int, Seq[SparkPlan]) = {
    import spark.implicits._
    val rng = new DetRng(85)
    val rand = (0 until 3000).map(_ => (f"v${rng.nextInt(2000)}%04d", f"v${rng.nextInt(2000)}%04d"))
      .filter(e => e._1 != e._2)
    val path = (0 until 100).map(i => (f"p${i}%03d", f"p${i + 1}%03d"))
    val edges = rand ++ path
    val ((labels, rounds), plans) = TestUtil.executedPlans(spark) {
      val (df, n) = ConnectedComponents.run(spark, edges.toDF("a", "b"), driverMaxEdges = 0)
      (df.as[(String, String)].collect().toMap, n)
    }
    assert(labels == unionFind(edges))
    assert(rounds > 1)
    (rounds, plans)
  }

  test("the loop exchanges one min-label aggregate per round") {
    val (rounds, plans) = forcedLoop
    // every shuffle that ran over a partial min aggregate (a reused
    // exchange does not run again, and is not a ShuffleExchangeExec)
    val minAggShuffles = plans.flatMap(p => collect(p) {
      case e: ShuffleExchangeExec if e.child.exists {
        case a: BaseAggregateExec => a.aggregateExpressions.exists(x =>
          x.mode == Partial && x.aggregateFunction.isInstanceOf[Min])
        case _ => false
      } => e
    })
    assert(minAggShuffles.size == rounds,
      s"${minAggShuffles.size} min-label aggregate shuffles ran in $rounds rounds")
  }

  test("the loop exchanges its edge relation once per run") {
    val (rounds, plans) = forcedLoop
    // the executed plans and, once each, the plans of the relations they
    // read from the cache (a cached relation runs its plan once)
    val cached = plans.flatMap(p => collect(p) { case s: InMemoryTableScanExec => s.relation.cacheBuilder })
      .distinct.map(_.cachedPlan)
    // every shuffle that ran over the id-encoded symmetric edges (u, v),
    // keyed by v
    val symShuffles = (plans ++ cached).flatMap(p => collect(p) {
      case e: ShuffleExchangeExec if e.child.output.map(a => a.name -> a.dataType) ==
          Seq("u" -> LongType, "v" -> LongType) && (e.outputPartitioning match {
            case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("v")
            case _ => false
          }) => e
    })
    assert(symShuffles.size == 1, s"${symShuffles.size} sym exchanges ran in $rounds rounds")
    assert(symShuffles.head.outputPartitioning.numPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
