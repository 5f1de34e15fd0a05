package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer counters for a traced run, read from Spark's own listeners.
  *
  * The harness tags each call into the engine with two local properties:
  * `perfbench.op` (the query, cert or ETL stage) and `perfbench.phase`
  * (`build` while the engine constructs its DataFrame, `exec` while the
  * timed action runs). Jobs inherit the tags of the thread that submits
  * them, micro-batch threads included, so every job, stage and task is
  * charged to one (op, phase). Streaming progress is charged to the op
  * the harness names before it starts a cert; the bus is drained between
  * certs so no event crosses over.
  */
final class Tracer(spark: SparkSession) {

  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakExecMem = 0L
  }

  final class Stream {
    var batches = 0L
    val durations = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val triggerMs = mutable.ArrayBuffer.empty[Double]
    var stateRows = 0L
    var stateMem = 0L
    var dropped = 0L
  }

  private val work = mutable.Map.empty[(String, String), Work]
  private val stageOwner = mutable.Map.empty[Int, (String, String)]
  private val streams = mutable.Map.empty[String, Stream]
  @volatile private var streamOp = ""

  private def workOf(key: (String, String)): Work = work.getOrElseUpdate(key, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = work.synchronized {
      val p = Option(e.properties)
      val key = (p.flatMap(x => Option(x.getProperty("perfbench.op"))).getOrElse("-"),
        p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("-"))
      workOf(key).jobs += 1
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, key))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = work.synchronized {
      stageOwner.get(e.stageInfo.stageId).foreach(k => workOf(k).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      stageOwner.get(e.stageId).foreach { k =>
        val w = workOf(k)
        w.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.runMs += m.executorRunTime
          w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.peakExecMem = w.peakExecMem max m.peakExecutionMemory
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streams.synchronized {
        val st = streams.getOrElseUpdate(streamOp, new Stream)
        val p = e.progress
        st.batches += 1
        p.durationMs.asScala.foreach { case (k, v) => st.durations(k) += v.longValue }
        Option(p.durationMs.get("triggerExecution")).foreach(v => st.triggerMs += v.doubleValue)
        st.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        st.stateMem = st.stateMem max p.stateOperators.map(_.memoryUsedBytes).sum
        st.dropped += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Runs `body` with its jobs charged to (op, phase). */
  def tagged[T](op: String, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.phase", phase)
    streamOp = op
    try body finally {
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
    }
  }

  /** The counters of the given ops and phases, summed (peak memory: max). */
  def sum(ops: String => Boolean, phases: String => Boolean): Work = work.synchronized {
    val acc = new Work
    work.foreach { case ((op, ph), w) =>
      if (ops(op) && phases(ph)) {
        acc.jobs += w.jobs; acc.stages += w.stages; acc.tasks += w.tasks
        acc.runMs += w.runMs
        acc.shuffleRead += w.shuffleRead; acc.shuffleWrite += w.shuffleWrite
        acc.spill += w.spill; acc.peakExecMem = acc.peakExecMem max w.peakExecMem
      }
    }
    acc
  }

  def stream(op: String): Stream = streams.synchronized(streams.getOrElse(op, new Stream))
}
