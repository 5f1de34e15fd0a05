package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two undirected edge shapes the graph operators read, each built
  * once here. Both drop self-loops (they carry no information for these
  * operators) and duplicate edges; neither is materialised, so a caller
  * can observe it before its own `localCheckpoint`. */
private[operators] object Edges {

  /** Both directions of every edge, endpoints cast to long: (u, v) and
    * (v, u). Read by [[Bfs.hops]] and [[Lpa]], whose rounds join a node
    * frame on `u` and emit to `v`. */
  def symmetric(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .union(pairs.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")).where(col("u") =!= col("v")))
      .distinct()

  /** One row per edge, oriented (u = least, v = greatest) in the input's
    * type. Read by [[KCore]], [[Triangles]] and
    * [[ConnectedComponents.componentsStar]]. */
  def canonical(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
}
