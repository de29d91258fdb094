package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer. `parent` is the op the call belongs to;
  * spans of one op share its id. */
final case class Span(op: Long, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counters of one op, summed over its tasks. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var lowerJobs = 0L
  var taskOverheadMs, taskCpuMs, gcMs = 0.0
  var inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
}

/** Wraps calls into the program's layers in spans and attributes Spark
  * listener events to the op and phase that caused them: every span sets
  * the op as the Spark job group and the phase as a local property on
  * the calling thread, and the listener keys stages by
  * `(stageId, stageAttemptId)` so a retried attempt is its own bucket. */
final class Tracer(sc: SparkContext) {
  private val PhaseKey = "perfbench.phase"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var op = -1L

  def begin(opId: Long): Unit = op = opId

  def span[A](phase: String)(body: => A): A = {
    sc.setJobGroup(s"op$op", phase, interruptOnCancel = false)
    sc.setLocalProperty(PhaseKey, phase)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(op, phase, s"op$op", t0, System.nanoTime())
      sc.clearJobGroup()
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  private val counters = mutable.Map.empty[Long, OpCounters]
  private val stageOwner = mutable.Map.empty[(Int, Int), Long]
  private val fenceJobs = mutable.Set.empty[Int]
  @volatile private var fenceSeen = false

  val listener: SparkListener = new SparkListener {
    private def opOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("op")).flatMap(_.drop(2).toLongOption)

    private def of(op: Long) = counters.getOrElseUpdate(op, new OpCounters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(PhaseKey) == "fence")) {
        fenceJobs += e.jobId
        return
      }
      opOf(e.properties).foreach { o =>
        of(o).jobs += 1
        if (e.properties.getProperty(PhaseKey) == "lower") of(o).lowerJobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (fenceJobs.remove(e.jobId)) fenceSeen = true
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      opOf(e.properties).foreach { o =>
        stageOwner((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = o
        of(o).stages += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOwner.get((e.stageId, e.stageAttemptId)).foreach { o =>
        val c = of(o)
        c.tasks += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          c.taskOverheadMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime)
          c.taskCpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Waits until the listener has seen every event posted so far: runs a
    * marker job and waits for its end event, which the bus delivers
    * after all earlier ones. */
  def drain(): Unit = {
    fenceSeen = false
    sc.setLocalProperty(PhaseKey, "fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(PhaseKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(10)
    require(fenceSeen, "Spark listener bus did not drain within 30 s")
  }

  def countersOf(op: Long): OpCounters = listener.synchronized(counters.getOrElse(op, new OpCounters))
}
