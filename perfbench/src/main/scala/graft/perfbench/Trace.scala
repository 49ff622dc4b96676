package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. `parent` is the id of the enclosing span. */
final case class Span(id: Int, parent: Option[Int], name: String,
    key: String, pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Self time of every span: its own duration minus the durations of
    * its direct children. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.flatMap(s => s.parent.map(_ -> s.seconds))
      .groupMapReduce(_._1)(_._2)(_ + _)
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Task, stage and job counters of one job group. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var fetchWaitMs = 0L; var memSpill = 0L; var diskSpill = 0L
  var inputBytes = 0L; var inputRows = 0L
  var outputBytes = 0L; var outputRows = 0L
  // planning phases, from the QueryExecutionListener
  var analysisMs = 0L; var optimizerMs = 0L; var physicalMs = 0L
  var executions = 0L
}

/** Attributes jobs, stages and tasks to the job group that was set on
  * the submitting thread when the job started (one group per key, pass
  * and phase), and planning phases to the group active when the query
  * execution ended. The bus is asynchronous: callers flush it with
  * [[org.apache.spark.PerfbenchBus.flush]] at every phase boundary
  * before they move on, so the active group read here is the one the
  * execution ran under. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile var activeGroup: String = "unattributed"

  private def of(g: String): Counters = synchronized {
    groups.getOrElseUpdate(g, new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    synchronized { e.stageIds.foreach(stageGroup(_) = g) }
    val c = of(g)
    c.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageInfo.stageId,
      "unattributed"))
    val c = of(g)
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageId, "unattributed"))
    val c = of(g)
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val info = e.taskInfo
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.memSpill += m.memoryBytesSpilled
      c.diskSpill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val c = of(activeGroup)
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizerMs += ms("optimization")
    c.physicalMs += ms("planning")
    c.executions += 1
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    plan(qe)
  override def onFailure(f: String, qe: QueryExecution,
      ex: Exception): Unit = plan(qe)

  /** Sum of the counters of every group accepted by `p`. */
  def total(p: String => Boolean): Counters = synchronized {
    val t = new Counters
    groups.iterator.filter(kv => p(kv._1)).map(_._2).foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.failedTasks += c.failedTasks; t.runMs += c.runMs
      t.cpuNs += c.cpuNs; t.gcMs += c.gcMs
      t.schedDelayMs += c.schedDelayMs
      t.shuffleWriteBytes += c.shuffleWriteBytes
      t.shuffleReadBytes += c.shuffleReadBytes
      t.fetchWaitMs += c.fetchWaitMs; t.memSpill += c.memSpill
      t.diskSpill += c.diskSpill; t.inputBytes += c.inputBytes
      t.inputRows += c.inputRows; t.outputBytes += c.outputBytes
      t.outputRows += c.outputRows; t.analysisMs += c.analysisMs
      t.optimizerMs += c.optimizerMs; t.physicalMs += c.physicalMs
      t.executions += c.executions
    }
    t
  }
}

object Group {
  def apply(pass: Int, key: String, phase: String): String =
    s"pb|$pass|$key|$phase"
  /** (pass, key, phase) of a group id written by [[apply]]. */
  def unapply(g: String): Option[(Int, String, String)] =
    g.split('|') match {
      case Array("pb", p, k, ph) => Some((p.toInt, k, ph))
      case _ => None
    }
}
