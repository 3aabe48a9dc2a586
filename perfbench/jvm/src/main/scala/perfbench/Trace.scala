package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch nanoseconds from one clock
  * (`Recorder.now`), so spans and Spark events line up. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Long) {
  var end: Long = -1L
  val notes = mutable.Map.empty[String, Double]
  def seconds: Double = (end - start) / 1e9
}

/** Counts Spark attributes to the span whose id the job carried. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** One streaming micro-batch progress report. */
final case class BatchProgress(atNs: Long, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** Span recorder plus the Spark listeners whose counts it attributes to
  * spans. Spans nest on the harness thread; every span sets the local
  * property `perfbench.span`, which Spark copies onto each job submitted
  * while it is open (also from the threads a streaming query starts), so
  * task metrics land on the innermost enclosing span. With tracing off
  * no listener is registered and `span` only runs its body. */
final class Recorder(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[Int, Counts]
  val streamStarts = mutable.ArrayBuffer.empty[Long]
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var spark: SparkSession = _
  private val Key = "perfbench.span"

  // epoch-aligned nanosecond clock: wall time at start plus monotonic delta
  private val baseWall = System.currentTimeMillis() * 1000000L
  private val baseMono = System.nanoTime()
  def now: Long = baseWall + (System.nanoTime() - baseMono)
  private def epochMsToNs(ms: Long): Long = ms * 1000000L

  def install(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(jobListener)
      s.streams.addListener(streamListener)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val sp = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(spans.size), now)
      spans += sp
      stack.push(sp)
      spark.sparkContext.setLocalProperty(Key, sp.id.toString)
      try body
      finally {
        sp.end = now
        stack.pop()
        spark.sparkContext.setLocalProperty(Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Attaches a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.notes(key) = value)

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def countsOf(id: Int): Counts = synchronized(counts.getOrElseUpdate(id, new Counts))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      synchronized(e.stageIds.foreach(stageSpan(_) = id))
      val c = countsOf(id)
      c.synchronized(c.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = synchronized(stageSpan.getOrElse(e.stageId, -1))
      val c = countsOf(id)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private def isoToNs(ts: String): Long =
    epochMsToNs(java.time.Instant.parse(ts).toEpochMilli)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarts.synchronized(streamStarts += isoToNs(e.timestamp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 || p.stateOperators.nonEmpty) {
        val d = p.durationMs
        val durs = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
        val ops = p.stateOperators
        batches.synchronized(batches += BatchProgress(isoToNs(p.timestamp), durs,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum))
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(sp: Span): Double =
    sp.seconds - spans.filter(_.parent == sp.id).map(_.seconds).sum
}
