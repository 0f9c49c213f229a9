package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run metrics — distributed re-expression of the reference's metrics
  * module (/root/reference/src/metrics/metrics.py). Every aggregation is a
  * single groupBy/window pass (the reference loops over Python lists).
  */
object Metrics {

  /** M1 — run summary: counts by final label and dup kind, consensus rate
    * (metrics.py:13-68). `extra` aggregates are appended to the same pass.
    * Over an empty relation every `sum` (and so `consensus_rate`) is null.
    */
  def runSummary(verdicts: DataFrame, extra: Column*): DataFrame = {
    val cols = Seq(
      count(lit(1)).as("total_pairs"),
      sum(when(col("final_label") === "DUPLICATE", 1).otherwise(0)).as("duplicates"),
      sum(when(col("final_label") === "NON_DUPLICATE", 1).otherwise(0)).as("non_duplicates"),
      sum(when(col("final_label") === "UNCERTAIN", 1).otherwise(0)).as("uncertain"),
      sum(when(col("dup_kind") === "EXACT", 1).otherwise(0)).as("exact_dups"),
      sum(when(col("dup_kind") === "NEAR", 1).otherwise(0)).as("near_dups"),
      (sum(when(col("final_label") =!= "UNCERTAIN", 1).otherwise(0)) / count(lit(1)))
        .as("consensus_rate")) ++ extra
    verdicts.agg(cols.head, cols.tail: _*)
  }

  /** Exact per-distinct-score cumulative counts WITHOUT a global
    * single-task window: groupBy score (shuffle), range-repartition by
    * score, per-partition prefix sums with broadcast partition offsets —
    * the classic two-pass distributed scan. Every downstream rank/ROC
    * metric is a plain aggregation over this.
    *
    * Output: one row per distinct score —
    * (s, pos, tot, cum_pos_before, cum_tot_before), cumulatives over
    * strictly-smaller scores. Exact (not binned), and scales: the only
    * per-row state is a running counter inside each range partition.
    */
  def scoreCumulative(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grouped = df
      .select(col(scoreCol).cast("double").as("s"), col(labelCol).cast("int").as("y"))
      .groupBy($"s").agg(sum($"y").cast("long").as("pos"), count(lit(1)).as("tot"))
      .as[(Double, Long, Long)]
    val nParts = math.max(2, spark.sparkContext.defaultParallelism)
    // localCheckpoint pins the (sampled) range boundaries so both passes
    // see the identical partitioning
    val parted = grouped.repartitionByRange(nParts, $"s")
      .sortWithinPartitions($"s").localCheckpoint()
    val perPart = parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var p = 0L; var t = 0L
      it.foreach { r => p += r._2; t += r._3 }
      Iterator((pid, p, t))
    }.collect().sortBy(_._1)
    val offsets = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
    var accP = 0L; var accT = 0L
    perPart.foreach { case (pid, p, t) => offsets(pid) = (accP, accT); accP += p; accT += t }
    val bc = spark.sparkContext.broadcast(offsets.toMap)
    parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var (cp, ct) = bc.value.getOrElse(pid, (0L, 0L))
      it.map { case (s, pos, tot) =>
        val r = (s, pos, tot, cp, ct)
        cp += pos; ct += tot
        r
      }
    }.toDF("s", "pos", "tot", "cum_pos_before", "cum_tot_before")
  }

  /** M2 — rank-based AUC (Mann-Whitney with tie-averaged ranks,
    * metrics.py:704-728) of `scoreCol` against boolean/0-1 `labelCol`.
    * Returns a 1-row DataFrame (auc, n_pos, n_neg). Tie-group avg rank =
    * cum_tot_before + (tot+1)/2 — identical to avg(row_number) over the
    * group, with no global sort.
    */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    scoreCumulative(df, scoreCol, labelCol)
      .agg(
        sum(col("pos") * (col("cum_tot_before") + (col("tot") + 1) / lit(2.0))).as("rank_sum_pos"),
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("tot") - col("pos")).cast("long").as("n_neg"))
      .select(
        when(col("n_pos") === 0 || col("n_neg") === 0, 0.5)
          .otherwise((col("rank_sum_pos") - col("n_pos") * (col("n_pos") + 1) / 2.0) / (col("n_pos") * col("n_neg")))
          .as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** M3/M4 — P/R/F1 + confusion at a threshold (metrics.py:315-459). */
  def prfAtThreshold(df: DataFrame, scoreCol: String, labelCol: String,
                     threshold: Double): DataFrame = {
    val pred = (col(scoreCol) >= threshold).cast("int")
    val y = col(labelCol).cast("int")
    df.agg(
      sum(when(pred === 1 && y === 1, 1).otherwise(0)).as("tp"),
      sum(when(pred === 1 && y === 0, 1).otherwise(0)).as("fp"),
      sum(when(pred === 0 && y === 0, 1).otherwise(0)).as("tn"),
      sum(when(pred === 0 && y === 1, 1).otherwise(0)).as("fn"),
      avg(col(scoreCol)).as("score_mean"),
      min(col(scoreCol)).as("score_min"),
      max(col(scoreCol)).as("score_max"),
      stddev_pop(col(scoreCol)).as("score_std"),
      avg((abs(col(scoreCol) - threshold) <= 0.05).cast("int")).as("near_band_share"))
      .withColumn("precision", when(col("tp") + col("fp") > 0, col("tp") / (col("tp") + col("fp"))).otherwise(0.0))
      .withColumn("recall", when(col("tp") + col("fn") > 0, col("tp") / (col("tp") + col("fn"))).otherwise(0.0))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall"))).otherwise(0.0))
  }

  /** M5 — pairwise learner vote-agreement matrix (metrics.py:462-496). */
  def agreementMatrix(verdicts: DataFrame): DataFrame = {
    val learners = Seq("vote_sim" -> "simhash", "vote_min" -> "minhash", "vote_emb" -> "embedding")
    val rows = for ((ca, na) <- learners; (cb, nb) <- learners) yield {
      verdicts.agg(
        lit(na).as("learner_a"), lit(nb).as("learner_b"),
        avg((col(ca) === col(cb)).cast("int")).as("agreement_rate"),
        avg(col(ca).cast("int")).as("vote_share_a"))
    }
    rows.reduce(_ unionByName _)
  }

  /** M7 — 20-bin score histogram split by a predicate (metrics.py:604-636). */
  def scoreHistogram(df: DataFrame, scoreCol: String, positive: Column,
                     nBins: Int = 20): DataFrame = {
    df.select(
        least(lit(nBins - 1), floor(col(scoreCol) * nBins)).cast("int").as("bin"),
        positive.cast("int").as("pos"))
      .groupBy("bin")
      .agg(sum(col("pos")).as("pos_count"), sum(lit(1) - col("pos")).as("neg_count"))
      .withColumn("bin_lo", col("bin") / nBins.toDouble)
      .orderBy("bin")
  }

  /** M8 — threshold sweep: cumulative TP/FP over descending unique scores
    * (metrics.py:739-803), yielding ROC/PR points. tp at threshold s =
    * total positives minus positives strictly below s — computed from the
    * distributed scan, no global single-task window.
    */
  def thresholdSweep(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    // scoreCumulative's range-partitioned parent is localCheckpoint'ed, so
    // the totals pass and the projection below both re-derive `cum` cheaply
    // — no session-lifetime persist (ContextCleaner reclaims checkpoint
    // blocks once unreferenced; CacheManager entries would leak per call)
    val cum = scoreCumulative(df, scoreCol, labelCol)
    val totals = cum.agg(sum(col("pos")).cast("long").as("P"),
      sum(col("tot") - col("pos")).cast("long").as("N")).first()
    val p = totals.getLong(0).toDouble
    val n = totals.getLong(1).toDouble
    val totLong = totals.getLong(0) + totals.getLong(1)
    cum.select(
        col("s").as("thr"),
        (lit(totals.getLong(0)) - col("cum_pos_before")).as("tp"),
        (lit(totLong) - col("cum_tot_before") - (lit(totals.getLong(0)) - col("cum_pos_before"))).as("fp"))
      .withColumn("tpr", if (p > 0) col("tp") / p else lit(0.0))
      .withColumn("fpr", if (n > 0) col("fp") / n else lit(0.0))
      .withColumn("precision", when(col("tp") + col("fp") > 0, col("tp") / (col("tp") + col("fp"))).otherwise(1.0))
      .orderBy(col("thr").desc)
  }

  /** M12 — calibration drift compare (metrics.py:136-156): full outer join
    * of two calibration snapshots on learner, per-field deltas (null when
    * either side is missing — the reference's _delta_num).
    */
  def calibrationDrift(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.select(col("learner"), col("threshold").as("threshold_prev"),
      col("brier").as("brier_prev"), col("ece").as("ece_prev"))
    val c = curr.select(col("learner"), col("threshold").as("threshold_curr"),
      col("brier").as("brier_curr"), col("ece").as("ece_curr"))
    p.join(c, Seq("learner"), "full_outer")
      .select(col("learner"),
        col("threshold_prev"), col("threshold_curr"),
        (col("threshold_curr") - col("threshold_prev")).as("threshold_delta"),
        col("brier_prev"), col("brier_curr"),
        (col("brier_curr") - col("brier_prev")).as("brier_delta"),
        col("ece_prev"), col("ece_curr"),
        (col("ece_curr") - col("ece_prev")).as("ece_delta"))
  }

  /** M9 — top-k example pairs by a score (metrics.py:514-540). */
  def topExamples(verdicts: DataFrame, scoreCol: String, label: String, k: Int = 50): DataFrame =
    verdicts.filter(col("final_label") === label)
      .orderBy(col(scoreCol).desc, col("pair_key"))
      .limit(k)

  /** M10 — corpus stats (text_preproc.py:217-244): doc count, avg token
    * length, language histogram, vocab size, top-50 tokens.
    */
  def corpusStats(norm: DataFrame, spark: SparkSession): (DataFrame, DataFrame) = {
    val summary = norm.agg(
      count(lit(1)).as("doc_count"),
      avg(col("n_tokens")).as("avg_doc_len"))
    val tokens = norm
      .select(explode(split(col("norm_text"), " ")).as("token"))
      .filter(length(col("token")) >= 2 && !col("token").isin(graft.norm.TextNorm.DefaultStopwords.toSeq: _*))
    val top = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(50)
    (summary, top)
  }
}
