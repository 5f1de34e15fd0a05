package graft.io

/** In-band accounting of SESSION-STAGING time — the seconds a query's
  * timed window spends building memoized staged frames/replay corpora
  * ([[StagedFrame.memo]], the streaming `Stage.memo`) rather than running
  * its own computation. Staging is paid by the FIRST consumer of each
  * staged key in a session (streams run 1 rep, so their minima can't
  * amortize it away); the bench reads this clock around every query and
  * reports the split so a reader can separate "the stream got slower"
  * from "this invocation happened to pay the staging I/O" without
  * changing what is measured (the total still includes staging).
  */
object StageClock {

  private val total = new java.util.concurrent.atomic.AtomicLong(0L)

  /** How many `timed` regions enclose the current point on this thread. */
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Cumulative staging seconds this session. */
  def totalSecs: Double = total.get() / 1e9

  /** Time `build`, charging its wall-clock to the staging account. Only
    * the OUTERMOST region on a thread charges: staged builds chain (a
    * DocLsh signature build stages its shingles inside its own region),
    * and charging the inner region too would count its seconds twice. */
  def timed[T](build: => T): T = {
    val outer = depth.get
    depth.set(outer + 1)
    val t0 = System.nanoTime()
    try build finally {
      depth.set(outer)
      if (outer == 0) total.addAndGet(System.nanoTime() - t0)
    }
  }
}
