package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** The scheduler-activity counter of the diagnostic mains (ProfileQuery,
  * PlanDump): jobs and stages are the fixed-cost units of local-mode
  * latency (each stage wave ≈ tens of ms). `jobLog` prints a `[job]`
  * line per job end and a `[stage]` line per stage completion — which
  * stage waves serialize on the critical path vs overlap. `taskLog`
  * keeps each stage attempt's task durations and shuffle-read bytes for
  * [[printTaskLog]]. */
final class RunCounters(jobLog: Boolean = false, taskLog: Boolean = false)
    extends SparkListener {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  // keyed by (stageId, stageAttemptId): a retried attempt is its own
  // bucket, so its re-run tasks cannot skew the first attempt's spread
  private val stageTasks = new ConcurrentHashMap[(Int, Int), ArrayBuffer[(Long, Long)]]()

  def reset(): Unit = {
    jobs.set(0); stages.set(0); tasks.set(0); stageTasks.clear()
  }

  /** `jobs=… stages=… tasks=…` since the last [[reset]]. */
  def counts: String = s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}"

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(j.jobId, System.nanoTime()); ()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    if (jobLog) {
      val t0 = Option(jobStart.get(j.jobId)).getOrElse(0L)
      println(f"[job] id=${j.jobId} dur=${(System.nanoTime() - t0) / 1e6}%.0fms")
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    stages.incrementAndGet(); tasks.addAndGet(info.numTasks)
    if (jobLog) {
      val dur = for (t0 <- info.submissionTime; t1 <- info.completionTime) yield t1 - t0
      println(s"[stage] id=${info.stageId} tasks=${info.numTasks} " +
        s"dur=${dur.getOrElse(-1L)}ms exec=${info.taskMetrics.executorRunTime}ms " +
        s"gc=${info.taskMetrics.jvmGCTime}ms " +
        s"cpu=${info.taskMetrics.executorCpuTime / 1000000}ms " +
        s"name=${info.name.takeWhile(_ != '\n').take(90)}")
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (taskLog && t.taskMetrics != null) {
      val buf = stageTasks.computeIfAbsent((t.stageId, t.stageAttemptId),
        _ => ArrayBuffer.empty)
      buf.synchronized {
        buf += ((t.taskMetrics.executorRunTime,
          t.taskMetrics.shuffleReadMetrics.totalBytesRead)); ()
      }
    }

  /** One `[tasklog]` line per non-trivial stage attempt since the last
    * [[reset]]: task-duration and shuffle-read spread (median/max) — a
    * max/median ratio ≳5 on a shuffle-fed stage is a skewed partition,
    * not a slow node. */
  def printTaskLog(name: String): Unit = {
    import scala.jdk.CollectionConverters._
    stageTasks.asScala.toSeq.sortBy(_._1).foreach { case ((sid, att), buf) =>
      val (durs, srs) = buf.synchronized {
        (buf.map(_._1).sorted.toIndexedSeq, buf.map(_._2).sorted.toIndexedSeq)
      }
      if (durs.nonEmpty && durs.last >= 50) // skip trivial stages
        println(s"[tasklog] $name stage=$sid attempt=$att n=${durs.size} " +
          s"durMed=${durs(durs.size / 2)}ms durMax=${durs.last}ms " +
          s"srMed=${srs(srs.size / 2)}B srMax=${srs.last}B")
    }
  }
}

object RunCounters {
  /** A [[RunCounters]] registered on `spark`'s context. */
  def attach(spark: org.apache.spark.sql.SparkSession, jobLog: Boolean = false,
      taskLog: Boolean = false): RunCounters = {
    val c = new RunCounters(jobLog, taskLog)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
