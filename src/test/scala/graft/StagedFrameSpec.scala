package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator

import graft.io.StagedFrame

/** The staged-frame memo must survive its backing directory being deleted
  * out from under it (the 2 h stale-reap, or an operator rm on scratch):
  * a re-call rebuilds instead of failing the scan. */
class StagedFrameSpec extends SparkSpec {

  test("memo builds once, re-reads while the dir exists") {
    var builds = 0
    def frame() = StagedFrame.memo(spark, "spec|reuse", "spec_reuse_") {
      builds += 1
      spark.range(5).toDF("id")
    }
    assert(frame().count() === 5L)
    assert(frame().count() === 5L)
    assert(builds === 1)
  }

  test("memo rebuilds when the staged dir was reaped") {
    var builds = 0
    var stagedPath: String = null
    def frame() = StagedFrame.memo(spark, "spec|reaped", "spec_reaped_") {
      builds += 1
      spark.range(7).toDF("id")
    }
    val first = frame()
    assert(builds === 1)
    // Recover the staged location from the scan's file listing, then
    // delete it — simulating the stale-reap hitting a live session.
    stagedPath = first.inputFiles.head.stripPrefix("file:")
    val stagedDir = Paths.get(stagedPath).getParent
    Files.walk(stagedDir).sorted(Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    assert(!Files.isDirectory(stagedDir))

    assert(frame().count() === 7L)
    assert(builds === 2)
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
