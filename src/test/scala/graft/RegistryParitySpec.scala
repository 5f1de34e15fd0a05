package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** A family whose query has no `q<N>_sql` oracle. */
object MissingOracleFamily extends Registry {
  val q9999_x: Q = (s, _) => s.emptyDataFrame
}

/** Members that look like queries but are not: a `q<N>_sql` string and a
  * parameterised twin body. `q2_ok` is the one real query. */
object LookAlikeFamily extends Registry {
  val q1_sql: String = "SELECT 1"
  def q1Cert(run: Int): Q = (s, _) => s.emptyDataFrame
  val q2_ok: Q = (s, _) => s.emptyDataFrame
  val q2_sql: String = "SELECT 2"
}

/** The registry split discipline (no non-test file over ~1500 lines) keeps
  * moving query families between objects; this spec makes the re-wiring
  * mechanical. It needs no Spark session — pure map algebra over the
  * driver contract.
  */
class RegistryParitySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("the registry never shrinks (408 queries)") {
    assert(SparkEntry.queries.size >= 408,
      s"registry shrank to ${SparkEntry.queries.size} — a family split dropped entries")
  }

  test("no family silently shadows another's query name") {
    val families = SparkEntry.families
    assert(families.distinct.size == families.size, "a family is listed twice")
    val dup = families.flatMap(f => f.defs.keys.map(_ -> f.getClass.getSimpleName.stripSuffix("$")))
      .groupBy(_._1).filter(_._2.size > 1)
    assert(dup.isEmpty, s"duplicate query names across families: " +
      dup.map { case (k, fs) => s"$k in ${fs.map(_._2).mkString("+")}" }.mkString("; "))
    // the union really is the sum — ++ can't have swallowed anything
    assert(families.map(_.defs.size).sum == SparkEntry.queries.size)
  }

  test("a query without its q<N>_sql oracle fails the registry, naming the query") {
    val e = intercept[IllegalStateException](MissingOracleFamily.defs)
    assert(e.getMessage.contains("q9999_x"), e.getMessage)
    assert(e.getMessage.contains("q9999_sql"), e.getMessage)
    intercept[IllegalStateException](MissingOracleFamily.oracles)
  }

  test("only parameterless q<N>_<name>: Q members are registered") {
    assert(LookAlikeFamily.defs.keySet == Set("q2_ok"))
    assert(LookAlikeFamily.defs("q2_ok") eq LookAlikeFamily.q2_ok)
    assert(LookAlikeFamily.oracles == Map("q2_ok" -> "SELECT 2"))
  }
}
