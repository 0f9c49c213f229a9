package perfbench

import graft.DedupConfig
import graft.model.Schemas.Page
import graft.pages.PagesSource
import graft.plans.{DedupPipeline, IncrementalDedup}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The dedup benchmark. One JVM, one `local[N]` session, one workload per
  * invocation, closed loop (one operation at a time). See perfbench/README.md.
  *
  * Prints as its last stdout line
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {..}}` with
  * the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, expected: String, records: String,
                        denseDocs: Int, expectOutputs: Option[String],
                        checkIngest: Boolean)

  private def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val known = Set("workload", "seed", "seconds", "trace", "work", "data", "expected", "records",
      "dense-docs", "expect-outputs", "check-ingest")
    require(kv.keySet.subsetOf(known), s"unknown arguments: ${(kv.keySet -- known).mkString(", ")}")
    val wl = get("workload")
    require(Set("sf01", "dense", "ingest").contains(wl), s"unknown workload $wl")
    Args(wl, get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("data"), get("expected"), get("records"),
      kv.get("dense-docs").map(_.toInt).getOrElse(DenseDocs),
      kv.get("expect-outputs"), kv.get("check-ingest").contains("1"))
  }

  /** Documents drawn (by seed) from the sf0.1 table for `dense`/`ingest`. */
  val DenseDocs = 500
  val DenseVariants = 9
  val DenseExpand = 8
  val Sf01Variants = 2
  val KernelSample = 200

  private val conf = DedupConfig.balanced

  private val cores = Runtime.getRuntime.availableProcessors

  def session(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    // the settings graft.Bench uses, plus scratch dirs inside the work dir
    .config("spark.io.compression.codec", "lz4")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()

  // ---------- files ----------

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }

  def treeBytes(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  // ---------- corpus ----------

  /** `n` documents of the source table drawn by `seed`: the table is sorted
    * by length and cut into `n` equal strata, and the seed picks one doc per
    * stratum, so every seed draws the same length profile. The drawn docs
    * are renumbered 0..n-1 in a seeded order. The doc id keys every choice
    * PagesSource and expandPages make (variant kinds, appended blocks), so
    * the seed drives them all.
    */
  def seededDocs(spark: SparkSession, srcDir: String, outDir: String, n: Int, seed: Long): Unit = {
    val rows = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect()
      .sortBy(r => (r.getString(1).length, r.getLong(0)))
    require(rows.length >= n, s"source table has ${rows.length} docs, need $n")
    val rng = new PagesSource.DetRng(PagesSource.mix64(seed))
    val drawn = (0 until n).map { i =>
      val lo = (i.toLong * rows.length / n).toInt
      val hi = ((i + 1).toLong * rows.length / n).toInt
      rows(lo + rng.nextInt(hi - lo))
    }.sortBy(r => PagesSource.mix64(r.getLong(0) ^ PagesSource.mix64(seed)))
      .zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i.toLong, r.getString(1), r.getString(2), r.getString(3), r.get(4))
      }
    spark.createDataFrame(java.util.Arrays.asList(drawn: _*), rows.head.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Writes the workload's pages to `work/pages` (and, for ingest, its
    * base and held-out batch split by seed).
    */
  def buildCorpus(spark: SparkSession, a: Args): Unit = {
    val pages = a.workload match {
      case "sf01" => PagesSource.fromDocuments(spark, a.data, Sf01Variants)
      case _ =>
        val docs = s"${a.work}/docs"
        seededDocs(spark, a.data, docs, a.denseDocs, a.seed)
        graft.ScalingBench.expandPages(spark,
          PagesSource.fromDocuments(spark, docs, DenseVariants), docs, DenseExpand)
    }
    pages.write.mode("overwrite").parquet(s"${a.work}/pages")
    if (a.workload == "ingest") {
      // one page of each family (base page or one of its variants), chosen
      // by seed, is held out: a tenth of the pages, every family touched
      val seed = a.seed
      val held = udf { (url: String) =>
        val rest = url.substring(url.indexOf("/doc/") + 5).split("/")
        val v = if (rest.length == 1) 0 else rest(1).stripPrefix("v").toInt
        java.lang.Long.remainderUnsigned(PagesSource.mix64(rest(0).toLong ^ PagesSource.mix64(seed)),
          DenseVariants + 1L) == v
      }
      val all = spark.read.parquet(s"${a.work}/pages")
      all.filter(!held(col("url"))).write.mode("overwrite").parquet(s"${a.work}/pages_base")
      all.filter(held(col("url"))).write.mode("overwrite").parquet(s"${a.work}/pages_batch")
    }
  }

  def readPages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Page]
  }

  // ---------- correctness ----------

  final case class Outputs(pairs: Long, dups: Long, clusters: Long, digest: String) {
    def show: String = s"pairs=$pairs dups=$dups clusters=$clusters digest=$digest"
  }

  /** Pair, duplicate and cluster counts plus an order-independent digest
    * of (url, cluster_id), read back from the persisted stage outputs.
    */
  def outputs(spark: SparkSession, verdictsDir: String, clustersDir: String): Outputs = {
    val v = spark.read.parquet(verdictsDir)
      .agg(count(lit(1)), sum(when(col("final_label") === "DUPLICATE", 1L).otherwise(0L))).first()
    val c = spark.read.parquet(clustersDir)
      .agg(countDistinct(col("cluster_id")), count(lit(1)),
        sum(xxhash64(col("url"), col("cluster_id")).cast("decimal(38,0)"))).first()
    Outputs(v.getLong(0), v.getLong(1), c.getLong(0), s"${c.getLong(1)}:${c.get(2)}")
  }

  /** Planted-duplicate check. Variant kinds 0-3 of PagesSource.transform
    * (exact, case, whitespace, punctuation) normalize to the base text, and
    * expandPages appends the same blocks to every member of a family, so
    * all those members must share one cluster. (Kind 4, special chars, is
    * left out: on these short documents its inserted page labels and ids
    * survive normalization, and many kind-4 pages are not clustered with
    * their base.) Families are restricted to those with a member in `scope`
    * when given. Returns the number of families that break the rule.
    */
  def plantedViolations(spark: SparkSession, pages: Dataset[Page], assign: DataFrame,
                        scope: Option[DataFrame]): Long = {
    import spark.implicits._
    val members = pages.map { p =>
      val rest = p.url.substring(p.url.indexOf("/doc/") + 5).split("/")
      val id = rest(0).takeWhile(_.isDigit).toLong
      val kind =
        if (rest.length == 1) 0
        else (PagesSource.mix64(id * 7L + rest(1).stripPrefix("v").toInt) & 0x7FFFFFFF).toInt % 7
      (p.url, id, kind)
    }.toDF("url", "family", "kind").filter($"kind" <= 3)
    val families = scope match {
      case None => members
      case Some(s) => members.join(members.join(s, "url").select("family").distinct(), "family")
    }
    families.join(assign.select("url", "cluster_id"), Seq("url"), "left")
      .groupBy("family")
      .agg(count(lit(1)).as("n"), count($"cluster_id").as("nc"), countDistinct($"cluster_id").as("d"))
      .filter($"n" >= 2 && ($"nc" < $"n" || $"d" > 1))
      .count()
  }

  /** Expected values: the committed file (values recorded at the parent)
    * and the work dir's own file (values first seen in this checkout, so
    * later runs of a seed, traced or not, must reproduce them).
    */
  final class Records(committed: String, local: String) {
    private def load(p: String): Map[String, String] =
      if (!Files.exists(Paths.get(p))) Map.empty
      else Files.readAllLines(Paths.get(p)).asScala.map(_.split("\t", 4)).collect {
        case Array(w, s, k, v) => s"$w\t$s\t$k" -> v
      }.toMap
    private val fixed = load(committed)
    private val seen = mutable.Map(load(local).toSeq: _*)

    /** None when `value` agrees with every recorded value, else the reason. */
    def check(workload: String, seed: String, kind: String, value: String,
              overrideExpected: Option[String] = None): Option[String] = {
      val key = s"$workload\t$seed\t$kind"
      val expected = overrideExpected.toSeq ++ fixed.get(key) ++ seen.get(key)
      if (seen.get(key).isEmpty && overrideExpected.isEmpty) {
        seen(key) = value
        Files.write(Paths.get(local), s"$key\t$value\n".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      }
      expected.find(_ != value).map(e => s"$kind mismatch for $workload seed $seed: got $value, expected $e")
    }
  }

  // ---------- main ----------

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parseArgs(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new OpListener(detailed = a.trace)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = run(spark, a, listener, t0)
      println(result)
      System.out.flush()
    } finally spark.stop()
  }

  private def note(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Runs `body` with listener counters reset before and drained after. */
  private def measured(spark: SparkSession, listener: OpListener)(body: => Unit): Layers.Op = {
    BusDrain(spark.sparkContext)
    listener.reset()
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - n0) / 1e9
    val e = System.currentTimeMillis()
    BusDrain(spark.sparkContext)
    Layers.Op(wall, s, e, listener.snapshot())
  }

  private def run(spark: SparkSession, a: Args, listener: OpListener, t0: Long): String = {
    val w = a.work
    val ingest = a.workload == "ingest"
    note(f"session ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.sparkContext.setJobDescription("perfbench: setup")
    buildCorpus(spark, a)
    val pages = readPages(spark, s"$w/pages")
    lazy val basePages = readPages(spark, s"$w/pages_base")
    lazy val batchPages = readPages(spark, s"$w/pages_batch")
    val opPages = if (ingest) batchPages else pages
    val nPages = opPages.count()
    spark.sparkContext.setJobDescription(null)
    note(f"corpus ${(System.nanoTime() - t0) / 1e9}%.2f s")

    // No separate warm-up: each operation runs in a fresh JVM, as a
    // PipelineCli run does. For ingest, set-up runs the base pipeline.
    val baseDir = s"$w/base"
    val baseOp: Option[Layers.Op] =
      if (!ingest) None
      else {
        deleteTree(baseDir)
        val op = measured(spark, listener)(DedupPipeline.run(spark, basePages, baseDir, conf))
        note(f"base run ${op.wallS}%.2f s")
        Some(op)
      }
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- closed loop ----
    val records = new Records(a.expected, a.records)
    // records are keyed by workload, input table and size, and seed
    val recKey = a.workload + "@" + Paths.get(a.data).getFileName +
      (if (a.workload == "sf01") "" else s"/${a.denseDocs}")
    val outSeed = if (a.workload == "sf01") "*" else a.seed.toString
    val problems = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Layers.Op]
    val disk = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def opDir(i: Int) = s"$w/op$i"
    while (attempted == 0 || System.nanoTime() < deadline) {
      val dir = opDir(attempted)
      deleteTree(dir)
      attempted += 1
      try {
        val op = measured(spark, listener) {
          if (ingest) IncrementalDedup.ingest(spark, baseDir, batchPages, dir, conf)
          else DedupPipeline.run(spark, pages, dir, conf)
        }
        spark.sparkContext.setJobDescription("perfbench: gate")
        val out =
          if (ingest) outputs(spark, s"$dir/inc_06_verdicts", s"$dir/inc_07_assign")
          else outputs(spark, s"$dir/06_verdicts", s"$dir/07_clusters")
        val bad = mutable.ArrayBuffer.empty[String]
        bad ++= records.check(recKey, outSeed, "outputs", out.show, a.expectOutputs)
        if (attempted == 1) {
          val assign = spark.read.parquet(s"$dir/${if (ingest) "inc_07_assign" else "07_clusters"}")
          val v = plantedViolations(spark, pages, assign,
            if (ingest) Some(batchPages.select("url")) else None)
          if (v > 0) bad += s"$v planted exact-duplicate families are split or unclustered"
          note(s"outputs ${out.show}")
        }
        spark.sparkContext.setJobDescription(null)
        if (bad.isEmpty) { ops += op; disk += treeBytes(dir) / 1e6 }
        else { failed += 1; problems ++= bad }
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          problems += s"operation failed: $e"
      }
      if (attempted > 1) deleteTree(opDir(attempted - 1))
    }
    if (a.checkIngest && ingest && ops.nonEmpty) problems ++= checkIngest(spark, a, pages, batchPages, baseDir, opDir(0))
    problems.foreach(p => note(s"FAIL $p"))
    note(f"setup ${setupS}%.2f s; ${attempted} ops; walls ${ops.map(o => f"${o.wallS}%.2f").mkString(" ")}")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (ops.nonEmpty) {
      if (!a.trace) {
        val wall = Stats.median(ops.map(_.wallS).toSeq)
        metrics("wall_s") = (wall, "s")
        metrics("docs_per_s") = (nPages / wall, "1/s")
        metrics("cpu_s") = (Stats.median(ops.map(_.window.cpuNs / 1e9).toSeq), "s")
        metrics("shuffle_mb") = (Stats.median(ops.map(_.window.shuffleBytes / 1e6).toSeq), "MB")
        metrics("disk_mb") = (Stats.median(disk.toSeq), "MB")
        metrics("setup_s") = (setupS, "s")
        metrics("ok_rate") = ((attempted - failed).toDouble / attempted, "ratio")
      } else {
        val runDir = if (ingest) baseDir else opDir(0)
        val runPages = if (ingest) basePages else pages
        val runOps = baseOp.map(Seq(_)).getOrElse(ops.toSeq)
        problems ++= traceMetrics(spark, a, records, recKey, runDir, runPages, runOps,
          if (ingest) ops.toSeq else Seq.empty, metrics)
        metrics("op.wall_s") = (Stats.median(ops.map(_.wallS).toSeq), "s")
      }
    }
    val correct = failed == 0 && problems.isEmpty
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }

  /** Baseline-only check: the batch pages' assignments from ingest equal
    * those of a full run over base ∪ batch. It holds only while no cap
    * binds, so both runs must have dropped no bucket.
    */
  private def checkIngest(spark: SparkSession, a: Args, pages: Dataset[Page], batch: Dataset[Page],
                          baseDir: String, incDir: String): Seq[String] = {
    import spark.implicits._
    val fullDir = s"${a.work}/full"
    deleteTree(fullDir)
    DedupPipeline.run(spark, pages, fullDir, conf)
    val dropped = metricsJson(baseDir)("dropped_mega_buckets") + metricsJson(fullDir)("dropped_mega_buckets")
    val inc = spark.read.parquet(s"$incDir/inc_07_assign").filter($"is_new").select("url", "cluster_id")
    val full = spark.read.parquet(s"$fullDir/07_clusters").join(batch.select("url"), "url")
      .select("url", "cluster_id")
    val diff = inc.exceptAll(full).count() + full.exceptAll(inc).count()
    note(s"check-ingest: ${inc.count()} batch assignments, $diff differ from the full run, " +
      s"$dropped buckets dropped")
    deleteTree(fullDir)
    (if (dropped > 0) Seq(s"check-ingest: $dropped buckets dropped, so ingest and the full run may differ") else Nil) ++
      (if (diff > 0) Seq(s"check-ingest: $diff batch assignments differ from the full run") else Nil)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def medianMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.head.keys.map(k => k -> Stats.median(ms.map(_(k)))).toMap

  private def metricsJson(dir: String): Map[String, Double] = {
    val s = new String(Files.readAllBytes(Paths.get(dir, "metrics.json")), "UTF-8")
    "\"([a-z_]+)\":(-?[0-9.eE+-]+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The per-layer metrics. Returns correctness problems (kernel checksum). */
  private def traceMetrics(spark: SparkSession, a: Args, records: Records, recKey: String, runDir: String,
                           runPages: Dataset[Page], runOps: Seq[Layers.Op], incOps: Seq[Layers.Op],
                           out: mutable.LinkedHashMap[String, (Double, String)]): Seq[String] = {
    import spark.implicits._
    def unit(k: String): String = k.substring(k.indexOf('.') + 1) match {
      case "wall_s" | "cpu_s" | "gc_s" | "driver_gap_s" | "resume_s" | "emb_task_s" | "span_task_s" => "s"
      case "shuffle_write_mb" | "spill_mb" => "MB"
      case "task_skew" | "precision" | "span_share" => "ratio"
      case _ => "count"
    }
    val stageM = medianMaps(runOps.map(Layers.stageMetrics(_, Layers.PipelineStages, full = true)))
    val runM = medianMaps(runOps.map(Layers.runMetrics(_, Layers.PipelineStages)))
    val incM =
      if (incOps.isEmpty) Layers.stageMetrics(Layers.Op(0, 0, 0, OpListener.Window(0, 0, Vector.empty)),
        Layers.IngestStages, full = false)
      else medianMaps(incOps.map(Layers.stageMetrics(_, Layers.IngestStages, full = false)))

    spark.sparkContext.setJobDescription("perfbench: trace")
    val rows = Layers.PipelineStages.map(s => s -> spark.read.parquet(s"$runDir/$s").count().toDouble).toMap
    val mj = metricsJson(runDir)
    val nRunPages = runPages.count()
    val shuffleBytes = Stats.median(runOps.map(_.window.shuffleBytes.toDouble))

    for (s <- Layers.PipelineStages; f <- Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
      "jobs", "task_skew", "tasks_failed")) out(s"$s.$f") = (stageM(s"$s.$f"), unit(s"$s.$f"))
    for (s <- Layers.PipelineStages) out(s"$s.rows_out") = (rows(s), "count")
    for (k <- Seq("lineage.wall_s", "lineage.jobs", "snapshot.wall_s", "snapshot.jobs",
      "run.jobs", "run.driver_gap_s")) out(k) = (runM(k), unit(k))

    spark.sparkContext.setJobDescription(null)
    val r0 = System.nanoTime()
    DedupPipeline.run(spark, runPages, runDir, conf)
    out("run.resume_s") = ((System.nanoTime() - r0) / 1e9, "s")
    spark.sparkContext.setJobDescription("perfbench: trace")

    out("05_cand.dropped_buckets") = (mj("dropped_mega_buckets"), "count")
    out("06_verdicts.dup_pairs") = (mj("duplicates"), "count")
    out("06_verdicts.emb_pairs") = (mj("emb_pairs"), "count")
    out("06_verdicts.span_pairs") = (mj("span_pairs"), "count")
    out("06_verdicts.emb_task_s") = (mj("emb_wall_ms") / 1e3, "s")
    out("06_verdicts.span_task_s") = (mj("span_wall_ms") / 1e3, "s")
    out("07_clusters.clusters") = (mj("clusters"), "count")
    out("05_cand.precision") = (mj("duplicates") / rows("05_cand"), "ratio")
    out("06_verdicts.span_share") = (mj("span_pairs") / rows("06_verdicts"), "ratio")
    out("run.shuffle_bytes_per_page") = (shuffleBytes / nRunPages, "B/page")

    // kernel samples: the workload's own docs and 05_cand pairs, drawn by seed
    val texts = runPages.select($"text").orderBy(xxhash64($"url", lit(a.seed)))
      .limit(KernelSample).as[String].collect().toIndexedSeq
    val sig = spark.read.parquet(s"$runDir/03_sig").select($"url", $"shingles")
    val norm = spark.read.parquet(s"$runDir/01_norm").select($"url", $"norm_text")
    val pairs = spark.read.parquet(s"$runDir/05_cand")
      .orderBy(xxhash64($"a", $"b", lit(a.seed))).limit(KernelSample)
      .join(sig.toDF("a", "sa"), "a").join(sig.toDF("b", "sb"), "b")
      .join(norm.toDF("a", "ta"), "a").join(norm.toDF("b", "tb"), "b")
      .orderBy(xxhash64($"a", $"b", lit(a.seed)))
      .select($"sa", $"sb", $"ta", $"tb").as[(Array[Long], Array[Long], String, String)]
      .collect().toIndexedSeq.map { case (sa, sb, ta, tb) => Kernels.Pair(sa, sb, ta, tb) }
    spark.sparkContext.setJobDescription(null)
    val k = Kernels.run(texts, pairs, conf)
    for ((name, ns) <- k.nsPerOp.toSeq.sortBy(_._1)) out(s"kernel.${name}_ns") = (ns, "ns")
    for (s <- Layers.IngestStages; f <- Seq("wall_s", "cpu_s", "shuffle_write_mb", "jobs"))
      out(s"$s.$f") = (incM(s"$s.$f"), unit(s"$s.$f"))
    val sums = k.checksums.toSeq.sortBy(_._1).map { case (n, v) => f"$n=$v%016x" }.mkString(",")
    records.check(recKey, a.seed.toString, "kernels", sums).toSeq
  }
}
