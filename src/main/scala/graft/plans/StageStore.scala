package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

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
  * All I/O goes through the Hadoop FileSystem of the directory, so markers
  * work on any store a run dir can live on, not only the local disk.
  */
object StageStore {

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
}
