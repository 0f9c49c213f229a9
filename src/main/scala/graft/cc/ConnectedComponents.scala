package graft.cc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Connected components over a DataFrame edge list: every vertex is
  * labelled with the minimum member of its component, as the reference's
  * driver-side DSU does (`near_duplicate.py:335-371`).
  *
  * Two paths, chosen by an exact edge count the code observes: `run`
  * first collects at most `driverMaxEdges + 1` edges.
  *
  *  - **At most [[DriverMaxEdges]] edges** (every dup-edge set of the
  *    benchmark corpora and of an ingest batch): union-find on the driver
  *    over the collected edges, as the reference does. One bounded
  *    collect replaces the ~30 jobs of a distributed fixed point, and the
  *    labels come back as a local relation the caller's joins can
  *    broadcast.
  *  - **More edges:** min-label propagation with pointer jumping over
  *    dictionary-encoded vertices. Vertex keys are mapped to
  *    ORDER-PRESERVING dense longs (sort + zipWithIndex), the iteration
  *    runs on 16-byte long pairs instead of ~100+-byte url strings, and
  *    labels are decoded through the dictionary at the end. Because the
  *    mapping is an order isomorphism and every operation in the loop is
  *    min() or an equality join, min-of-ids maps to min-of-keys. Each
  *    round takes the min of a vertex's own label, its neighbours' labels
  *    and its label's label, so it converges in O(log n) rounds (2-3 for
  *    near-clique duplicate clusters); each round runs one aggregate and
  *    checkpoints it, which truncates lineage (SURVEY.md §4 "must add
  *    explicitly").
  *
  * Both paths order keys as Spark's `min` and `<` do for the column type
  * (binary UTF-8 order for strings, which is NOT `String.compareTo`'s
  * UTF-16 order), so they return identical labels (CCSpec runs every
  * graph through both).
  */
object ConnectedComponents {

  /** Largest edge count solved on the driver. For ~100-byte url keys the
    * collected `Row`s take ~350 bytes of driver heap per edge, and each of
    * up to two new vertices per edge adds ~300 more (a Catalyst copy of
    * the key, its index entry, the union-find arrays, its output row): at
    * most ~1 KB per edge, so a list of this size needs up to ~100 MB.
    */
  final val DriverMaxEdges = 100000

  /** @param edges DataFrame with two same-typed orderable columns (a, b),
    *        undirected, without nulls; callers pass unique pair relations
    *        (duplicate edges are correctness-neutral but ride every
    *        round's join on the loop path).
    * @param reliable use durable checkpoint() (requires a configured
    *        checkpoint dir) instead of localCheckpoint for the loop's
    *        per-round lineage truncation — executor-loss-safe on real
    *        clusters.
    * @param driverMaxEdges edge lists up to this size are solved on the
    *        driver; tests pass 0 to reach the distributed loop.
    * @return (url, comp) where comp = min key of the component, covering
    *         only vertices incident to an edge, in the edge key type; and
    *         the number of loop rounds run, 0 when the driver solved it.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
          reliable: Boolean = false,
          driverMaxEdges: Int = DriverMaxEdges): (DataFrame, Int) = {
    import spark.implicits._
    if (reliable) require(spark.sparkContext.getCheckpointDir.isDefined,
      "reliable=true requires spark.sparkContext.setCheckpointDir(<durable dir>)")
    val ab = edges.select($"a", $"b")
    val head = ab.limit(driverMaxEdges + 1).collect()
    if (head.length <= driverMaxEdges) (solveOnDriver(spark, head, ab.schema.fields(0)), 0)
    else encodedLoop(spark, ab, maxIter, if (reliable) _.checkpoint() else _.localCheckpoint())
  }

  /** Union-find (union by size, path halving) over collected edges; each
    * vertex is labelled with the least member of its set under Spark's
    * ordering of `keyField`'s type.
    */
  private def solveOnDriver(spark: SparkSession, edges: Array[Row], keyField: StructField): DataFrame = {
    val ids = new java.util.HashMap[Any, Integer]()
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    def id(v: Any): Int = {
      require(v != null, "connected components edges must not have null endpoints")
      val i = ids.get(v)
      if (i != null) i.intValue
      else { ids.put(v, keys.length); keys += v; keys.length - 1 }
    }
    val ea = edges.map(r => id(r.get(0)))
    val eb = edges.map(r => id(r.get(1)))
    val n = keys.length
    // compare in Catalyst's representation, with Catalyst's ordering
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keyField.dataType)
    val order = TypeUtils.getInterpretedOrdering(keyField.dataType)
    val sortKey = keys.map(toCatalyst).toArray
    val parent = Array.range(0, n)
    val size = Array.fill(n)(1)
    val least = Array.range(0, n) // least member of the set rooted here
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var e = 0
    while (e < ea.length) {
      var ra = find(ea(e))
      var rb = find(eb(e))
      if (ra != rb) {
        if (size(ra) < size(rb)) { val t = ra; ra = rb; rb = t }
        parent(rb) = ra
        size(ra) += size(rb)
        if (order.lt(sortKey(least(rb)), sortKey(least(ra)))) least(ra) = least(rb)
      }
      e += 1
    }
    val rows = (0 until n).map(v => Row(keys(v), keys(least(find(v)))))
    spark.createDataFrame(rows.asJava,
      StructType(Seq(keyField.copy(name = "url"), keyField.copy(name = "comp"))))
  }

  /** The distributed path: dictionary-encode the vertices, run the
    * min-label fixed point on the ids, decode. Returns the labels and the
    * number of rounds.
    */
  private def encodedLoop(spark: SparkSession, edges: DataFrame, maxIter: Int,
                          ck: DataFrame => DataFrame): (DataFrame, Int) = {
    import spark.implicits._
    val sym0 = edges.select($"a".as("u"), $"b".as("v"))
      .union(edges.select($"b".as("u"), $"a".as("v")))

    // Order-preserving dense ids: sort the distinct vertex keys once and
    // number them. zipWithIndex numbers rows in partition order, and the
    // preceding global sort makes that order the key order, so
    // vid_x < vid_y  <=>  key_x < key_y (a strict order isomorphism).
    val verts = sym0.select($"u").distinct().orderBy($"u")
    val keyField = verts.schema.fields(0).copy(name = "vurl")
    val ids = ck(spark.createDataFrame(
      verts.rdd.zipWithIndex().map { case (r, i) => Row(r.get(0), i) },
      StructType(Seq(keyField, StructField("vid", LongType, nullable = false)))))
    val symIds = sym0
      .join(ids.withColumnRenamed("vurl", "u2").withColumnRenamed("vid", "uid"), $"u" === $"u2")
      .join(ids.withColumnRenamed("vurl", "v2").withColumnRenamed("vid", "vid2"), $"v" === $"v2")
      .select($"uid".as("u"), $"vid2".as("v"))
    // Partitioned on v — the key every iteration's message join probes —
    // into the session's shuffle partition count, the count that join
    // plans its exchanges with, and cached: the static edge relation is
    // exchanged ONCE here instead of once per round (guide §2.4 "two
    // operations keyed the same way share one exchange"; CCSpec pins one
    // sym exchange per run). Cached, not checkpointed: under AQE a
    // checkpoint reports UnknownPartitioning, so EnsureRequirements would
    // re-exchange it every round, while the cached relation keeps its hash
    // partitioning. Its lineage does not grow with the rounds; it is
    // unpersisted once the loop ends (its labels no longer read it).
    // No distinct() pass (r06): min-label propagation is unaffected by
    // duplicate edges (the per-round min aggregation absorbs duplicate
    // messages), and every in-repo caller feeds already-unique pair
    // relations — a caller with a HEAVY multigraph should dedup first,
    // since duplicates ride the per-round join instead of being dropped
    // once here.
    val sym = symIds.repartition(spark.sessionState.conf.numShufflePartitions, $"v").persist()
    val (labelIds, rounds) = try minLabelLoop(spark, sym, ck, maxIter) finally sym.unpersist()
    // decode: vertex id -> key, component id -> key (min id = min key)
    val labels = labelIds
      .join(ids.withColumnRenamed("vid", "uid"), $"url" === $"uid")
      .select($"vurl".as("out_url"), $"comp")
      .join(ids.withColumnRenamed("vurl", "curl").withColumnRenamed("vid", "cid"),
        $"comp" === $"cid")
      .select($"out_url".as("url"), $"curl".as("comp"))
    (labels, rounds)
  }

  /** The min-label + pointer-jumping fixed point over a symmetric edge
    * relation (u, v) of long ids, hash-partitioned on v into the session's
    * shuffle partition count. Returns (url, comp) and the rounds run.
    */
  private def minLabelLoop(spark: SparkSession, sym: DataFrame,
                           ck: DataFrame => DataFrame, maxIter: Int): (DataFrame, Int) = {
    import spark.implicits._
    // Not checkpointed: iteration 1 references the initial labels twice
    // (message join + self-message union). A per-Spark-stage listing of
    // a 9,425-edge graph (3,451 vertices) on this loop shows one job for
    // this distinct, read by both references.
    var labels = sym.select($"u".as("url")).distinct()
      .withColumn("comp", $"url")

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // One pass: neighbor labels plus a tagged self-message, so the same
      // aggregation yields both the new min label and the previous label
      // (no extra join just to detect convergence).
      val msgs = sym.join(labels.withColumnRenamed("url", "v2"), $"v" === $"v2")
        .select($"u", $"comp", lit(false).as("self"))
        .union(labels.select($"url".as("u"), $"comp", lit(true).as("self")))
      val agg = msgs.groupBy($"u")
        .agg(min($"comp").as("comp"), max(when($"self", $"comp")).as("prev"))

      // The aggregate is checkpointed, and convergence counted WHILE that
      // job materializes it (accumulator incremented by the same tasks
      // that write the blocks) instead of by a separate filter+count job.
      // Only zero-vs-nonzero is read, so a rare task retry inflating the
      // count cannot change the decision: a retried task re-observes the
      // same deterministic rows. No min label changed iff the previous
      // labels were already a fixed point (every component holds one
      // label, which labels itself), and then the pointer jump below
      // changes nothing either.
      val changedAcc = spark.sparkContext.longAccumulator(s"graft.cc.changed.$iter")
      val minLabels = ck(agg.mapPartitions { it =>
          it.map { r => if (r.get(1) != r.get(2)) changedAcc.add(1L); r }
        }(org.apache.spark.sql.Encoders.row(agg.schema)))

      // pointer jumping: comp := min(comp, label(comp)). It reads the
      // aggregate on both sides of a self-join, hence from the checkpoint:
      // planned twice over `agg`, the two reads prune different columns
      // and the aggregate runs as two identical exchanges. Left lazy: the
      // next round (or the caller, after the last) computes it.
      val compOf = minLabels.select($"u".as("curl"), $"comp".as("ccomp"))
      labels = minLabels.join(compOf, minLabels("comp") === compOf("curl"), "left")
        .select(minLabels("u").as("url"),
          least(minLabels("comp"), coalesce($"ccomp", minLabels("comp"))).as("comp"))
      converged = changedAcc.value == 0L
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter iterations")
    (labels, iter)
  }
}
