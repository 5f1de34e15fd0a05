package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run — Spark startup is the
  * dominant cost of a suite, so every spec reuses this. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
