package graft

import org.apache.spark.sql.SparkSession

/** The one place a local Spark session is built, for the Bench and Verify
  * mains, the tests and the dev harnesses, so they all run the same
  * engine configuration:
  *  - `cpus` cores and as many shuffle partitions;
  *  - the session zone pinned to UTC, whatever the JVM's default zone, so
  *    time-bucketed results do not depend on how the JVM was launched;
  *  - `nanosAsLong`, because `events.parquet` has shipped as
  *    TIMESTAMP(NANOS), which Spark's reader rejects otherwise
  *    ([[graft.io.Tables.events]] converts the longs);
  *  - a warehouse (for `saveAsTable`) under [[graft.io.Scratch]], fresh per
  *    JVM and removed at exit, instead of `./spark-warehouse` in the CWD.
  */
object Session {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.io.Scratch.dir("warehouse_"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
