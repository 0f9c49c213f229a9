package graft

import graft.plans.StageStore
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** StageStore: the one resume-marker protocol (`_SUCCESS` + `_graft_conf_<tag>`)
  * and the run counters carried in the marker body.
  */
class StageStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshDir(tag: String): String = {
    val d = new File(s"/tmp/graft_test_stagestore_$tag")
    TestUtil.deleteRecursively(d)
    d.mkdirs()
    d.getPath
  }

  private def touch(dir: String, name: String, body: String = ""): Unit =
    Files.writeString(new File(dir, name).toPath, body)

  test("done needs both _SUCCESS and the tag's marker") {
    val dir = freshDir("done")
    assert(!StageStore.done(spark, dir, "t1"))
    touch(dir, "_SUCCESS")
    assert(!StageStore.done(spark, dir, "t1"), "_SUCCESS alone must not count as done")
    TestUtil.deleteRecursively(new File(dir, "_SUCCESS"))
    StageStore.mark(spark, dir, "t1")
    assert(!StageStore.done(spark, dir, "t1"), "a marker without _SUCCESS must not count as done")
    touch(dir, "_SUCCESS")
    assert(StageStore.done(spark, dir, "t1"))
  }

  test("a different tag is not done") {
    val dir = freshDir("tag")
    touch(dir, "_SUCCESS")
    StageStore.mark(spark, dir, "t1")
    assert(StageStore.done(spark, dir, "t1"))
    assert(!StageStore.done(spark, dir, "t2"))
    assert(StageStore.counters(spark, dir, "t2").isEmpty)
  }

  test("counters round-trip through the marker and a re-mark replaces them") {
    val dir = freshDir("counters")
    touch(dir, "_SUCCESS")
    val c = Map("dropped_mega_buckets" -> 7L, "emb_wall_ms" -> 0L, "span_wall_ms" -> 1234567890123L)
    StageStore.mark(spark, dir, "t1", c)
    assert(StageStore.counters(spark, dir, "t1") == c)
    StageStore.mark(spark, dir, "t1", Map("emb_wall_ms" -> 3L))
    assert(StageStore.counters(spark, dir, "t1") == Map("emb_wall_ms" -> 3L))
    StageStore.mark(spark, dir, "t1")
    assert(StageStore.counters(spark, dir, "t1").isEmpty)
    assert(StageStore.done(spark, dir, "t1"))
  }

  test("a marker whose body is only the tag (older writers) reads as no counters") {
    val dir = freshDir("legacy")
    touch(dir, "_SUCCESS")
    touch(dir, "_graft_conf_abc123", "abc123")
    assert(StageStore.done(spark, dir, "abc123"))
    assert(StageStore.counters(spark, dir, "abc123").isEmpty)
  }
}
