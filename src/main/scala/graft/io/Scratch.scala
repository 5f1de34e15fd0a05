package graft.io

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path, Paths}

/** Session-scoped scratch space for ephemeral engine artifacts — format
  * round-trip sinks, streaming-certification staging, checkpoints. All of
  * it is discard-after-verify by construction, so durability is
  * irrelevant and the scratch prefers a RAM-backed filesystem
  * (`/dev/shm`) when one is writable: small-file-heavy consumers
  * (streaming state stores fsync one delta file per state partition per
  * stateful op per micro-batch) never pay disk latency. Falls back to
  * `java.io.tmpdir`.
  *
  * Cleanup: a JVM shutdown hook removes this session's root; a
  * best-effort reap at init removes roots >2h stale left behind by
  * crashed runs (SIGKILL skips shutdown hooks).
  */
object Scratch {

  lazy val root: Path = {
    val shm = Paths.get("/dev/shm")
    val parent =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    reapStale(parent)
    val dir = Files.createTempDirectory(parent, "graft_scratch_")
    sys.addShutdownHook(delete(dir))
    dir
  }

  /** A fresh directory under the session root. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private def reapStale(parent: Path): Unit =
    try {
      val cutoff = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
      val it = Files.list(parent).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if ((n.startsWith("graft_scratch_") || n.startsWith("graft_stream_")) &&
            Files.getLastModifiedTime(p).toMillis < cutoff)
          delete(p)
      }
    } catch { case _: IOException | _: UncheckedIOException => () }

  /** Best-effort recursive delete of `p`; a missing path is a no-op. */
  private[graft] def delete(p: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(q => Files.deleteIfExists(q))
    } catch { case _: IOException | _: UncheckedIOException => () }
}
