package graft.plans

import graft.model.Schemas.LineageRow
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8

/** THE resume-marker store — every persisted stage (pipeline, incremental
  * ingest, compact, and the driver-query artifacts in SparkEntry) decides
  * "already computed?" here and nowhere else.
  *
  * A stage directory is done under `tag` (a config hash, optionally with a
  * batch token) when it holds both the writer's `_SUCCESS` and the marker
  * file `_graft_conf_<tag>`. The marker body carries the stage's run
  * counters as `name=value` lines, so a resumed run reads back exactly the
  * counters its cold run recorded. A marker whose body is anything else —
  * e.g. just the tag, as older writers left it — reads as no counters.
  *
  * [[Run]] is the one stage runner of [[DedupPipeline.run]] and
  * [[IncrementalDedup.ingest]]: it resumes a done stage, else computes,
  * writes, records lineage and marks it.
  *
  * All I/O goes through the Hadoop FileSystem of the directory, so markers
  * work on any store a run dir can live on, not only the local disk.
  */
object StageStore {

  /** Marker counter holding the stage's compute-and-write time. */
  final val WallMs = "wall_ms"

  private def markerOf(dir: String, tag: String) = new Path(dir, s"_graft_conf_$tag")

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when `dir` was fully written and marked under `tag`. */
  def done(spark: SparkSession, dir: String, tag: String): Boolean = {
    val f = fs(spark, dir)
    f.exists(new Path(dir, "_SUCCESS")) && f.exists(markerOf(dir, tag))
  }

  /** Marks `dir` done under `tag`, recording the stage's `counters`. Call
    * only after the stage output is completely written.
    */
  def mark(spark: SparkSession, dir: String, tag: String,
           counters: Map[String, Long] = Map.empty): Unit = {
    val out = fs(spark, dir).create(markerOf(dir, tag), true)
    try out.write(counters.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes(UTF_8))
    finally out.close()
  }

  /** Counters recorded with `dir`'s marker under `tag`; empty when the
    * marker is missing or holds no counters.
    */
  def counters(spark: SparkSession, dir: String, tag: String): Map[String, Long] = {
    val f = fs(spark, dir)
    val p = markerOf(dir, tag)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      body.linesIterator.flatMap { line =>
        line.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => v.toLongOption.map(k -> _)
          case _ => None
        }
      }.toMap
    }
  }

  /** Rows of `dir`'s committed `part-NNNNN-*` files, read from their
    * parquet footers on the driver and summed per NNNNN, the partition of
    * the task that wrote the file; sorted by partition. A writer commits
    * only its successful attempts' files, so a retried task counts once,
    * and an empty output's one schema-only file reads as (0, 0).
    */
  def partRows(spark: SparkSession, dir: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs(spark, dir).listStatus(new Path(dir)).toSeq.map(_.getPath).filter(_.getName.startsWith("part-"))
      .map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        p.getName.split("-")(1).toInt -> (try r.getRecordCount finally r.close())
      }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
  }

  /** The stages of one run: each stage `name` persists to `root/name`, is
    * marked under `tag`, and its jobs are labelled `<label>: name`.
    *
    * A stage found done is read back inferring its schema. Otherwise its
    * jobs are labelled, `compute` runs and its frame is written; then its
    * counters thunk is read (accumulators filled by that write are final
    * by now), one lineage row per written partition goes to
    * `root/lineage/name` (one one-task job labelled `<label>: lineage
    * name`), and the stage is marked with the counters plus
    * [[WallMs]], the compute-and-write time. A stage is marked only after
    * its lineage is written, so a failed lineage write leaves it to be
    * recomputed. The written stage is read back with the schema it was
    * written with, which skips Spark's schema-inference job.
    */
  final class Run(spark: SparkSession, root: String, tag: String, label: String, resume: Boolean) {

    /** A stage without counters. */
    def apply(name: String)(compute: => DataFrame): DataFrame = counted(name)((compute, () => Map.empty))

    /** A stage whose compute returns its frame and a thunk of the counters
      * measured while that frame is written.
      */
    def counted(name: String)(compute: => (DataFrame, () => Map[String, Long])): DataFrame = {
      val dir = s"$root/$name"
      if (resume && done(spark, dir, tag)) spark.read.parquet(dir)
      else {
        val sc = spark.sparkContext
        val t0 = System.nanoTime()
        val (schema, counters) = try {
          sc.setJobDescription(s"$label: $name")
          val (out, measured) = compute
          out.write.mode(SaveMode.Overwrite).parquet(dir)
          val ms = (System.nanoTime() - t0) / 1000000
          val counters = measured() + (WallMs -> ms)
          sc.setJobDescription(s"$label: lineage $name")
          writeLineage(name, dir, ms)
          (out.schema, counters)
        } finally sc.setJobDescription(null)
        mark(spark, dir, tag, counters)
        spark.read.schema(schema).parquet(dir)
      }
    }

    private def writeLineage(name: String, dir: String, ms: Long): Unit = {
      val rows = partRows(spark, dir).map { case (partition, n) =>
        LineageRow(s"run_$tag", name, partition, n, ms, tag)
      }
      spark.createDataFrame(rows).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/lineage/$name")
    }
  }
}
