package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Scheduler and executor totals per benchmark phase.
  *
  * The benchmark tags the jobs it causes with the `perfbench.phase` local
  * property ("build", "plan", "action", ...); the tag rides every job's
  * properties, so attribution is exact even though listener events arrive
  * later on the listener bus thread. Untagged jobs count under "untagged". */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val byPhase = mutable.Map.empty[String, Totals]
  private val stagePhase = mutable.Map.empty[Int, String]

  private def totals(phase: String): Totals = byPhase.getOrElseUpdate(phase, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("untagged")
    totals(phase).jobs += 1
    e.stageIds.foreach(stagePhase(_) = phase)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    totals(stagePhase.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stagePhase.getOrElse(e.stageId, "untagged"))
    t.tasks += 1
    t.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
      t.inputRecords += m.inputMetrics.recordsRead
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** A copy of every phase's totals; call after draining the listener bus. */
  def snapshot(): Map[String, Totals] = synchronized {
    byPhase.map { case (k, v) => k -> v.copy() }.toMap
  }
}

object LayerListener {
  val PhaseKey = "perfbench.phase"

  final class Totals {
    var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, inputRecords, inputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def copy(): Totals = {
      val c = new Totals
      c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.cpuNs = cpuNs
      c.runMs = runMs; c.gcMs = gcMs; c.shuffleWrite = shuffleWrite
      c.shuffleRead = shuffleRead; c.spill = spill
      c.inputRecords = inputRecords; c.inputBytes = inputBytes
      c.intervals ++= intervals
      c
    }

    def plus(o: Totals): Totals = {
      val s = copy()
      s.jobs += o.jobs; s.stages += o.stages; s.tasks += o.tasks; s.cpuNs += o.cpuNs
      s.runMs += o.runMs; s.gcMs += o.gcMs; s.shuffleWrite += o.shuffleWrite
      s.shuffleRead += o.shuffleRead; s.spill += o.spill
      s.inputRecords += o.inputRecords; s.inputBytes += o.inputBytes
      s.intervals ++= o.intervals
      s
    }

    /** Field-wise this minus `before` (intervals: the ones added since). */
    def minus(before: Totals): Totals = {
      val d = new Totals
      d.jobs = jobs - before.jobs; d.stages = stages - before.stages
      d.tasks = tasks - before.tasks; d.cpuNs = cpuNs - before.cpuNs
      d.runMs = runMs - before.runMs; d.gcMs = gcMs - before.gcMs
      d.shuffleWrite = shuffleWrite - before.shuffleWrite
      d.shuffleRead = shuffleRead - before.shuffleRead
      d.spill = spill - before.spill
      d.inputRecords = inputRecords - before.inputRecords
      d.inputBytes = inputBytes - before.inputBytes
      d.intervals ++= intervals.drop(before.intervals.size)
      d
    }
  }

  val empty = new Totals
}
