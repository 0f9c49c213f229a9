package perfbench

import perfbench.OpListener.{Job, Window}

/** Groups one operation's jobs into layers by the job labels the program
  * sets, and derives the per-layer metrics from them.
  *
  *   - `pipeline: <stage>` and `incremental: <stage>` → `<stage>`;
  *   - `pipeline: lineage <stage>` → `lineage` (async, off the critical path);
  *   - `pipeline: metrics summary`, plus unlabelled jobs that start after the
  *     last `07_clusters` job → `snapshot`.
  */
object Layers {
  val PipelineStages: Seq[String] =
    Seq("01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters")
  val IngestStages: Seq[String] =
    Seq("inc_01_norm", "inc_02_reps", "inc_exact_attach", "inc_03_sig", "inc_04_bands",
      "inc_05_cand", "inc_06_verdicts", "inc_07_assign")

  final case class Op(wallS: Double, startMs: Long, endMs: Long, window: Window)

  private def label(desc: String): String = desc match {
    case null => "unlabelled"
    case d if d.startsWith("pipeline: lineage ") => "lineage"
    case "pipeline: metrics summary" => "snapshot"
    case d if d.startsWith("pipeline: ") => d.stripPrefix("pipeline: ")
    case d if d.startsWith("incremental: ") => d.stripPrefix("incremental: ")
    case d => d
  }

  def grouped(op: Op): Map[String, Seq[Job]] = {
    val byLabel = op.window.jobs.groupBy(j => label(j.desc))
    val ccEnd = byLabel.get("07_clusters").map(_.map(_.end).max)
    val (late, early) = byLabel.getOrElse("unlabelled", Vector.empty)
      .partition(j => ccEnd.exists(j.start >= _))
    (byLabel - "unlabelled") ++
      Map("unlabelled" -> early, "snapshot" -> (byLabel.getOrElse("snapshot", Vector.empty) ++ late))
        .filter(_._2.nonEmpty)
  }

  private def span(js: Seq[Job]): (Long, Long) = (js.map(_.start).min, js.map(_.end).max)

  private def skew(js: Seq[Job]): Double = {
    val ms = js.flatMap(_.taskMs).map(_.toDouble)
    if (ms.isEmpty) 0.0 else { val med = Stats.median(ms); if (med <= 0) 0.0 else ms.max / med }
  }

  /** wall/cpu/gc/shuffle/spill/jobs/skew/failed of each named stage; a stage
    * with no job in this operation reads 0 on every field.
    */
  def stageMetrics(op: Op, stages: Seq[String], full: Boolean): Map[String, Double] = {
    val g = grouped(op)
    stages.flatMap { s =>
      val js = g.getOrElse(s, Seq.empty)
      val base = Seq(
        "wall_s" -> (if (js.isEmpty) 0.0 else { val (a, b) = span(js); (b - a) / 1e3 }),
        "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "shuffle_write_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        "jobs" -> js.size.toDouble)
      val extra = if (!full) Seq.empty else Seq(
        "gc_s" -> js.map(_.gcMs).sum / 1e3,
        "spill_mb" -> js.map(_.spillBytes).sum / 1e6,
        "task_skew" -> skew(js),
        "tasks_failed" -> js.map(_.failedTasks).sum.toDouble)
      (base ++ extra).map { case (k, v) => s"$s.$k" -> v }
    }.toMap
  }

  /** Whole-run metrics of one pipeline run: jobs, the wall not covered by any
    * stage span, and the off-critical-path lineage and snapshot work.
    */
  def runMetrics(op: Op, stages: Seq[String]): Map[String, Double] = {
    val g = grouped(op)
    val stageSpans = stages.flatMap(g.get).map(span)
    val lineage = g.getOrElse("lineage", Seq.empty)
    val snapshot = g.getOrElse("snapshot", Seq.empty)
    val lastStageEnd = if (stageSpans.isEmpty) op.startMs else stageSpans.map(_._2).max
    Map(
      "run.jobs" -> op.window.jobs.size.toDouble,
      "run.driver_gap_s" -> math.max(0.0, op.wallS - Stats.unionLength(stageSpans) / 1e3),
      "lineage.wall_s" -> Stats.unionLength(lineage.map(j => (j.start, j.end))) / 1e3,
      "lineage.jobs" -> lineage.size.toDouble,
      "snapshot.wall_s" -> math.max(0L, op.endMs - lastStageEnd) / 1e3,
      "snapshot.jobs" -> snapshot.size.toDouble)
  }
}
