package graft.io

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one build-once memo of staged scratch data: the batch frames the
  * [[graft.queries.CoPurchase]] / [[graft.queries.DocLsh]] families share
  * ([[memo]]) and the streaming certs' replay corpora
  * ([[graft.queries.StreamingQueries]] `stageTimeOrdered`,
  * `stageOrderedBy`, …, through [[dir]]). An expensive input that several
  * queries consume is written ONCE to a fresh [[Scratch]] dir (RAM-backed
  * when /dev/shm exists), and every later call reuses that dir. Parquet
  * staging rather than `localCheckpoint` on purpose: Bench unpersists all
  * checkpoint blocks between queries (a locally-checkpointed frame has no
  * lineage to recompute from), while a staged file survives and costs only
  * the re-scan.
  *
  * An entry is reused only while
  *  - the files under its `sfDir` are the ones it was built from
  *    ([[Tables.files]]: any file rewritten, added or removed under the
  *    whole `sfDir` rebuilds every entry of that `sfDir` — coarse, but one
  *    listing of ~10 files per reuse), and
  *  - its staged dir still exists: scratch lives in a session tmpdir that
  *    the 2 h stale-reap ([[Scratch.reapStale]]) or an operator `rm` can
  *    remove under a long-lived session.
  *
  * The map is JVM-wide: staged bytes depend only on the inputs, and every
  * session comes from `graft.Session.local`.
  */
object StagedFrame {

  private case class Entry(files: Tables.Listing, dir: String, value: Any)

  private val staged = scala.collection.mutable.HashMap.empty[(String, String), Entry]

  /** The staged dir for `key` under `sfDir` `d` and what `write` returned
    * when it built it. On first use, or when the entry is stale, `write`
    * gets a fresh path (not yet created) under a [[Scratch]] dir named
    * from `key`, and its wall time is charged to [[StageClock]]. Keys are
    * unique across callers (families prefix theirs). */
  def dir[T](d: String, key: String)(write: String => T): (String, T) = {
    val files = Tables.files(d)
    // Build under the lock so concurrent first callers stage once; builds
    // are rare (one per key per input) so the serialization is free, and
    // the lock is reentrant for builds that stage their own inputs.
    staged.synchronized {
      staged.get((d, key)) match {
        case Some(e) if e.files == files && reusable(e.dir) =>
          (e.dir, e.value.asInstanceOf[T])
        case _ =>
          val out = Scratch.dir(s"${key}_") + "/t"
          val value = StageClock.timed(write(out))
          staged.put((d, key), Entry(files, out, value))
          (out, value)
      }
    }
  }

  /** The frame `build` stages for `key` under `sfDir` `d`, read through
    * [[Tables.scan]], so only the first read after a (re)build infers the
    * schema; later reuses run no job before the consumer's own action. */
  def memo(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame =
    Tables.scan(s, dir(d, key)(out => build.write.parquet(out))._1)

  /** The staged dir exists, and the scratch root's mtime is restarted, so
    * [[Scratch.reapStale]] (which reads only the root's mtime) never
    * counts a session that is reusing its staged data as stale. A touch
    * that fails means the root is gone: the entry is gone with it. */
  private def reusable(d: String): Boolean =
    Files.isDirectory(Paths.get(d)) && (try {
      Files.setLastModifiedTime(Scratch.root, FileTime.fromMillis(System.currentTimeMillis()))
      true
    } catch { case _: java.io.IOException => false })
}
