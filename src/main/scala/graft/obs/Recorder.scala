package graft.obs

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One job: `label` is its job description, else the name of its result
  * stage (the action's call site). Times are epoch milliseconds. */
final case class JobRecord(id: Int, label: String, startMs: Long, endMs: Long)

/** One completed stage attempt, its finished tasks' durations ascending. */
final case class StageRecord(id: Int, tasks: Int, taskMs: IndexedSeq[Long],
    shuffleReadBytes: Long, shuffleWriteBytes: Long, wallMs: Long) {
  def maxTaskMs: Long = taskMs.lastOption.getOrElse(0L)
  def medianTaskMs: Long = if (taskMs.isEmpty) 0L else taskMs(taskMs.length / 2)
}

/** A body's jobs in id order, the stages they completed and the physical
  * plan of each SQL execution it started. */
final case class Recording(jobs: Seq[JobRecord], stages: Seq[StageRecord], plans: Seq[String]) {

  /** Time inside jobs: the union of their intervals. Asynchronous
    * broadcast and query-stage jobs overlap, so a sum over-counts. */
  def jobUnionMs: Long = jobs.map(j => (j.startMs, j.endMs)).sorted
    .foldLeft((0L, Long.MinValue)) { case ((covered, reach), (start, end)) =>
      (covered + math.max(0L, end - math.max(start, reach)), math.max(reach, end))
    }._1
}

/** Records what Spark reports for a body alone, and labels jobs.
  *
  * [[record]] listens only while it runs, and brackets the body with two
  * one-task marker jobs. The listener bus delivers events in the order
  * they were posted, so the jobs run just before the body reach the
  * listener before the opening marker, and all of the body's events
  * before the closing marker's end. The recording waits for that end and
  * for the end of any body job still running (an asynchronous broadcast),
  * with no sleep; the markers are left out. */
object Recorder {

  private val Marker = "graft obs.barrier"
  private val recordings = new AtomicLong()

  /** `body`'s value and what Spark reported for it. Fails if the bus has
    * not delivered the end of the closing marker and of every body job
    * within a minute. */
  def record[A](spark: SparkSession)(body: => A): (A, Recording) = {
    val sc = spark.sparkContext
    val marker = s"obs.barrier ${recordings.incrementAndGet()}"
    def barrier(): Unit = describing(spark) {
      describe(spark, marker)
      sc.parallelize(Seq(1), 1).count(): Unit
    }
    val listener = new Listener(s"graft $marker")
    sc.addSparkListener(listener)
    try { barrier(); val a = body; barrier(); (a, listener.await()) }
    finally sc.removeSparkListener(listener)
  }

  /** Runs `body`, which labels its jobs through [[describe]]; the
    * caller's job description comes back afterwards. */
  private[graft] def describing[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    try body finally sc.setJobDescription(prev)
  }

  private[graft] def describe(spark: SparkSession, what: String): Unit =
    spark.sparkContext.setJobDescription(s"graft $what")

  private final class Listener(marker: String) extends SparkListener {
    private var markers = 0 // marker jobs started: 1 while the body runs
    private var closing = -1 // the closing marker's job id
    private var closed = false
    private val jobs = mutable.TreeMap[Int, JobRecord]()
    private val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]() // body stages
    private val stages = mutable.ArrayBuffer[StageRecord]()
    private val plans = mutable.ArrayBuffer[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name))
      if (label == marker) { markers += 1; if (markers == 2) closing = e.jobId }
      else if (markers == 1 && !label.startsWith(Marker)) {
        jobs(e.jobId) = JobRecord(e.jobId, label, e.time, -1L)
        e.stageIds.foreach(taskMs.getOrElseUpdate(_, mutable.ArrayBuffer[Long]()))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      closed ||= e.jobId == closing
      notifyAll()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null) taskMs.get(e.stageId).foreach(_ += e.taskInfo.duration)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      taskMs.get(s.stageId).foreach { ms =>
        stages += StageRecord(s.stageId, s.numTasks, ms.sorted.toIndexedSeq,
          s.taskMetrics.shuffleReadMetrics.totalBytesRead,
          s.taskMetrics.shuffleWriteMetrics.bytesWritten,
          s.completionTime.zip(s.submissionTime).fold(0L) { case (done, sub) => done - sub })
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case x: SparkListenerSQLExecutionStart if markers == 1 => plans += x.physicalPlanDescription
        case _ =>
      }
    }

    private def drained = closed && jobs.valuesIterator.forall(_.endMs >= 0)

    def await(): Recording = synchronized {
      val deadline = System.currentTimeMillis() + 60000L
      while (!drained && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (!drained) throw new IllegalStateException("no end on the listener bus within 60 s " +
        s"for the closing marker or body jobs ${jobs.values.filter(_.endMs < 0).map(_.id)}")
      Recording(jobs.values.toSeq, stages.toSeq, plans.toSeq)
    }
  }
}
