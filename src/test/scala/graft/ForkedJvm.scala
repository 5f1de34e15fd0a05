package graft

import java.nio.charset.StandardCharsets

/** Runs a main of the test classpath in a FRESH JVM, for what one JVM can
  * set only once: static Spark config such as `spark.sql.extensions`, or
  * JVM properties such as `user.timezone`. Passes the `--add-opens` Spark
  * needs on JDK 17 outside spark-submit, and nothing of this JVM's system
  * properties. Returns the exit code and the merged stdout/stderr. */
object ForkedJvm {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(m => Seq("--add-opens", s"$m=ALL-UNNAMED"))

  def run(mainClass: String, jvmArgs: String*): (Int, String) = {
    // Test/fork := true, so java.class.path IS the full test classpath
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ jvmArgs ++ Seq(
      "-Xmx1g", "-cp", System.getProperty("java.class.path"), mainClass)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    (proc.waitFor(), out)
  }
}
