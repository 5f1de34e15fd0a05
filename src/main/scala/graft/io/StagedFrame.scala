package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once staged parquet frames — the shared memo behind the
  * [[graft.queries.CoPurchase]] / [[graft.queries.DocLsh]] shared-frame
  * discipline. An expensive frame that several queries consume is built
  * ONCE per (session, key), written to [[Scratch]] parquet (RAM-backed
  * when /dev/shm exists), and every subsequent call is a columnar
  * re-scan. Parquet staging rather than `localCheckpoint` on purpose:
  * Bench unpersists all checkpoint blocks between queries (a
  * locally-checkpointed frame has no lineage to recompute from), while a
  * staged file survives and costs only the re-scan.
  *
  * The memo re-checks that the staged directory still EXISTS before
  * trusting the cached path: scratch lives in a session tmpdir that the
  * 2 h stale-reap ([[Scratch.reapStale]]) or an operator `rm` can remove
  * out from under a long-lived session, and a stale memo entry would
  * otherwise fail every consumer's scan instead of rebuilding.
  *
  * Every call reads the staged directory through [[Tables.scan]], so only
  * the first read after a (re)build infers the schema; later reuses run no
  * job before the consumer's own action.
  */
object StagedFrame {

  private val staged =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** The staged frame for `key` (callers namespace it with the sfDir and
    * any variant parameters), building + writing it on first use — or on
    * any use that finds the previously staged directory gone. */
  def memo(s: SparkSession, key: String, prefix: String)
          (build: => DataFrame): DataFrame = {
    val mapKey = (s.sparkContext.applicationId, key)
    // Build under a lock so concurrent first callers stage once; builds
    // are rare (one per key per session) so the serialization is free.
    // A reused dir is TOUCHED so Scratch.reapStale's 2 h clock restarts on
    // every reuse: a dir being actively read is never "stale", shrinking
    // the reap-vs-lazy-scan race to actions already in flight. A touch
    // that fails means the reaper (or an rm) won between the existence
    // check and now — treat the entry as gone and rebuild.
    def reusable(d: String): Boolean =
      Files.isDirectory(Paths.get(d)) && (try {
        Files.setLastModifiedTime(Paths.get(d),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        true
      } catch { case _: java.io.IOException => false })
    val dir = staged.synchronized {
      staged.get(mapKey) match {
        case Some(d) if reusable(d) => d
        case _ =>
          val out = Scratch.dir(prefix) + "/t"
          StageClock.timed { build.write.mode("overwrite").parquet(out) }
          staged.put(mapKey, out)
          out
      }
    }
    Tables.scan(s, dir)
  }
}
