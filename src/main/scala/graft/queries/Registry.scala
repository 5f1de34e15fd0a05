package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query family: an object whose queries are declared once, as members.
  *
  * A query is a public, parameterless member `q<N>_<name>: Q`; its DuckDB
  * oracle is the `String` member `q<N>_sql` of the same object, with
  * identical output column names and an explicit ORDER BY. `defs` and
  * `oracles` are derived from those declarations by reflection, so a
  * query's name, its registration and its oracle cannot drift apart.
  * Parameterised members (the `q<N>Cert(run)` twin bodies) and the
  * `q<N>_sql` strings themselves are not queries. Building the registry
  * throws if a query has no `q<N>_sql`. `graft.SparkEntry.families` lists
  * every family.
  */
trait Registry {

  type Q = (SparkSession, String) => DataFrame

  /** Every query of the family, by name. */
  def defs: Map[String, Q] = declared._1

  /** Every query's DuckDB oracle SQL, by query name. */
  def oracles: Map[String, String] = declared._2

  private lazy val declared: (Map[String, Q], Map[String, String]) = {
    val members = getClass.getMethods.toSeq.filter(_.getParameterCount == 0)
    val sql = members.filter(_.getReturnType == classOf[String]).map(m => m.getName -> m).toMap
    val (qs, sqls) = members
      .filter(m => Registry.QueryName.matches(m.getName) &&
        m.getReturnType == classOf[Function2[_, _, _]])
      .map { m =>
        val name = m.getName
        val oracle = name.takeWhile(_ != '_') + "_sql"
        val s = sql.getOrElse(oracle, throw new IllegalStateException(
          s"${getClass.getName.stripSuffix("$")}.$name has no oracle: declare `val $oracle: String`"))
        (name -> m.invoke(this).asInstanceOf[Q], name -> s.invoke(this).asInstanceOf[String])
      }
      .unzip
    (qs.toMap, sqls.toMap)
  }
}

private object Registry {
  private val QueryName = "q\\d+_\\w+".r
}
