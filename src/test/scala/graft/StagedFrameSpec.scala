package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.Comparator

import org.apache.spark.sql.functions.col

import graft.io.{Scratch, StagedFrame, Tables}
import graft.queries.StreamingQueries.stageOrderedBy

/** The one staging memo reuses a staged dir only while the files under
  * its sfDir are the ones it was built from and the dir still exists (the
  * 2 h stale-reap or an operator rm on scratch can delete it), and a
  * reuse restarts the reap clock of the whole scratch root. */
class StagedFrameSpec extends SparkSpec {

  /** A fresh sfDir holding one parquet table `t` of ids `0 until n`. */
  private def sfDir(n: Int): String = {
    val d = Files.createTempDirectory("staged_sf").toString
    writeTable(d, n)
    d
  }

  private def writeTable(d: String, n: Int): Unit =
    spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$d/t.parquet")

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSeq.sorted

  private def deleteTree(p: java.nio.file.Path): Unit =
    Files.walk(p).sorted(Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))

  private def ordered(d: String, key: String): String =
    stageOrderedBy(Tables.load(spark, d, "t"), d, key, 2, Seq(col("id")))

  test("memo builds once, re-reads while the dir exists") {
    var builds = 0
    def frame() = StagedFrame.memo(spark, "stagedFrameSpec", "spec_reuse") {
      builds += 1
      spark.range(5).toDF("id")
    }
    assert(frame().count() === 5L)
    assert(frame().count() === 5L)
    assert(builds === 1)
  }

  test("memo rebuilds when the staged dir was reaped") {
    var builds = 0
    def frame() = StagedFrame.memo(spark, "stagedFrameSpec", "spec_reaped") {
      builds += 1
      spark.range(7).toDF("id")
    }
    val first = frame()
    assert(builds === 1)
    // Recover the staged location from the scan's file listing, then
    // delete it — simulating the stale-reap hitting a live session.
    val stagedDir = Paths.get(first.inputFiles.head.stripPrefix("file:")).getParent
    deleteTree(stagedDir)
    assert(!Files.isDirectory(stagedDir))

    assert(frame().count() === 7L)
    assert(builds === 2)
  }

  test("memo returns the new rows after its sfDir table is overwritten") {
    val d = sfDir(5)
    def frame() = StagedFrame.memo(spark, d, "spec_fresh")(Tables.load(spark, d, "t"))
    assert(frame().count() === 5L)
    writeTable(d, 9)
    assert(frame().collect().map(_.getLong(0)).toSeq.sorted === (0L until 9L))
  }

  test("stageOrderedBy stages a new dir with the new rows after its input is overwritten") {
    val d = sfDir(5)
    val first = ordered(d, "spec_fresh_ordered")
    assert(ids(first) === (0L until 5L))
    assert(ordered(d, "spec_fresh_ordered") === first)
    writeTable(d, 9)
    val second = ordered(d, "spec_fresh_ordered")
    assert(second !== first)
    assert(ids(second) === (0L until 9L))
  }

  test("stageOrderedBy rebuilds after its staged dir is deleted") {
    val d = sfDir(6)
    val first = ordered(d, "spec_reaped_ordered")
    deleteTree(Paths.get(first))
    val second = ordered(d, "spec_reaped_ordered")
    assert(Files.isDirectory(Paths.get(second)))
    assert(ids(second) === (0L until 6L))
  }

  test("a memo reuse restarts the scratch root's reap clock") {
    def frame() = StagedFrame.memo(spark, "stagedFrameSpec", "spec_touch")(spark.range(3).toDF("id"))
    frame()
    val threeHoursAgo = System.currentTimeMillis() - 3 * 60 * 60 * 1000L
    Files.setLastModifiedTime(Scratch.root, FileTime.fromMillis(threeHoursAgo))
    frame()
    val age = System.currentTimeMillis() - Files.getLastModifiedTime(Scratch.root).toMillis
    assert(age < 60 * 1000L, s"root mtime is ${age / 1000} s old")
  }

  test("StageClock charges a timed region nested in another only once") {
    import graft.io.StageClock
    val before = StageClock.totalSecs
    val w0 = System.nanoTime()
    StageClock.timed { StageClock.timed { Thread.sleep(100) } }
    val wall = (System.nanoTime() - w0) / 1e9
    val charged = StageClock.totalSecs - before
    // one charge is at least the inner sleep and at most the enclosing
    // wall time; a double count would be at least twice the sleep (> wall)
    assert(charged >= 0.1 && charged <= wall, s"charged=$charged wall=$wall")
    // an exception unwinds the depth, so the next region charges again
    intercept[IllegalStateException] {
      StageClock.timed { throw new IllegalStateException("boom") }
    }
    val mid = StageClock.totalSecs
    StageClock.timed { Thread.sleep(20) }
    assert(StageClock.totalSecs - mid >= 0.02)
  }
}
