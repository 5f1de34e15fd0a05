package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query that throws must be reported as failed by both mains, never
  * timed as if it had run (a crash used to read as a speed-up). */
class FailureReportSpec extends SparkSpec {
  private type Query = (SparkSession, String) => DataFrame
  private val ok: Query = (s, _) => s.range(3).toDF()
  private val late: Query = (s, _) => s.range(1).selectExpr("raise_error('late') AS x")

  test("Bench lists a throwing query as failed, never times it and never reruns it") {
    var boomCalls = 0
    val boom: Query = (_, _) => { boomCalls += 1; throw new IllegalStateException("boom") }
    var flakyCalls = 0
    val flaky: Query = (s, _) => {
      flakyCalls += 1
      if (flakyCalls > 1) throw new IllegalStateException("second rep") else s.range(1).toDF()
    }
    val t = Bench.timeQueries(spark, "unused",
      Seq("a_ok" -> ok, "b_boom" -> boom, "c_late" -> late, "d_flaky" -> flaky),
      streaming = _ => false, reps = 3)
    assert(t.failed == Seq("b_boom", "c_late", "d_flaky"))
    assert(t.secs.map(_._1) == Seq("a_ok"))
    assert(t.stageSecs.keySet.subsetOf(Set("a_ok")))
    assert(boomCalls == 1 && flakyCalls == 2)
  }

  test("Bench reports the wall time of the rep that paid a query's staging") {
    var calls = 0
    val staged: Query = (s, _) => {
      calls += 1
      if (calls == 1) graft.io.StageClock.timed(Thread.sleep(50))
      s.range(3).toDF()
    }
    val t = Bench.timeQueries(spark, "unused", Seq("a_staged" -> staged),
      streaming = _ => false, reps = 2)
    assert(calls == 2)
    val stage = t.stageSecs("a_staged")
    assert(stage > 0.0)
    assert(t.stagedRepSecs("a_staged") >= stage)
  }

  test("Verify lists a throwing query with its message's first line and dumps the rest") {
    val out = graft.io.Scratch.dir("verify_failed_")
    val boom: Query = (_, _) => throw new IllegalStateException("boom\nsecond line")
    val failed = Verify.dumpAll(spark, "unused", out,
      Seq("a_ok" -> ok, "b_boom" -> boom, "c_late" -> late))
    assert(failed.map(_._1) == Seq("b_boom", "c_late"))
    assert(failed.head._2 == "boom")
    assert(failed(1)._2.contains("late"))
    assert(Files.isDirectory(Paths.get(out, "a_ok")))
    // c_late fails inside the parquet write: neither its dump nor the
    // temp dir it was written to may be left behind
    val left = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString)
    assert(left.toSeq == Seq("a_ok"))
  }
}
