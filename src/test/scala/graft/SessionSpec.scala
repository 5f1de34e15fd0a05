package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forked-JVM probe for [[Session.local]]: prints the settings the factory
  * must pin, whatever the JVM it runs in was launched with. */
object SessionProbe {
  def main(args: Array[String]): Unit = {
    val s = Session.local(1)
    try {
      def conf(k: String): String = s.conf.get(k)
      println(s"jvmZone=${java.util.TimeZone.getDefault.getID}")
      println(s"timeZone=${conf("spark.sql.session.timeZone")}")
      println(s"nanosAsLong=${conf("spark.sql.legacy.parquet.nanosAsLong")}")
      println(s"shufflePartitions=${conf("spark.sql.shuffle.partitions")}")
      println(s"warehouseInScratch=${
        conf("spark.sql.warehouse.dir").contains(graft.io.Scratch.root.toString)}")
    } finally s.stop()
  }
}

/** The session zone must not follow the JVM's default zone: Bench once set
  * no `session.timeZone` and took UTC only from the build's forked-JVM
  * `-D` flag, so a plain `java -cp` run would have bucketed time by the
  * host's zone. A fresh JVM (not the shared test session, which already
  * exists) in New York with no `spark.sql.session.timeZone` property. */
class SessionSpec extends AnyFunSuite {
  test("Session.local pins UTC, nanosAsLong, cpus shuffle partitions and a scratch warehouse") {
    val (code, out) = ForkedJvm.run("graft.SessionProbe", "-Duser.timezone=America/New_York")
    val got = out.linesIterator.filter(l => l.contains('=') && !l.contains(' '))
      .map(l => l.takeWhile(_ != '=') -> l.dropWhile(_ != '=').drop(1)).toMap
    assert(code == 0, s"session probe failed (exit $code):\n${out.takeRight(4000)}")
    assert(got.get("jvmZone").contains("America/New_York"), out.takeRight(4000))
    assert(got.get("timeZone").contains("UTC"))
    assert(got.get("nanosAsLong").contains("true"))
    assert(got.get("shufflePartitions").contains("1"))
    assert(got.get("warehouseInScratch").contains("true"))
  }
}
