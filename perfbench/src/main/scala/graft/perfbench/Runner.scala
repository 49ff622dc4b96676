package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

final case class Sample(key: String, pass: Int, seconds: Double)
final case class Failure(key: String, pass: Int, phase: String, error: String)
final case class PassStat(pass: Int, wallS: Double, cpuS: Double,
    traced: Boolean)

/** Closed-loop, single-client runner: one thread runs each key
  * as construct, `count()`, then `Dedup.unpersistTracked()`. A key that
  * throws is recorded as a failure and never as a latency sample. With
  * a listener attached, every phase runs under its own job group and
  * ends with a bus flush, and every phase is kept as a span. */
final class Runner(spark: SparkSession, dataDir: String,
    registry: String => (SparkSession, String) => DataFrame) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Per-key times of the untimed set-up pass, for reporting only. */
  val setupSamples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[Failure]
  val passes = mutable.ArrayBuffer.empty[PassStat]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Storage memory in use, sampled after each traced action. */
  var cachePeakBytes = 0L
  /** Cached RDD partitions left at the end of each traced pass. */
  val blocksLeft = mutable.ArrayBuffer.empty[Long]
  private var listener: Option[LayerListener] = None
  private val sc = spark.sparkContext
  private val cpu = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Traces the passes that follow, until [[detach]]. */
  def attach(l: LayerListener): Unit = if (listener.isEmpty) {
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    listener = Some(l)
  }

  def detach(): Unit = listener.foreach { l =>
    PerfbenchBus.flush(sc)
    sc.removeSparkListener(l)
    spark.listenerManager.unregister(l)
    listener = None
  }

  /** Runs `body` as a span (traced runs only); `body` receives the
    * span's id so that nested spans can name their parent. */
  private def span[T](parent: Option[Int], name: String, key: String,
      pass: Int, phase: Option[String])(body: Option[Int] => T): T =
    listener match {
      case None => body(None)
      case Some(l) =>
        val id = spans.size
        spans += null // reserve the id; children append after it
        phase.foreach { ph =>
          val g = Group(pass, key, ph)
          sc.setJobGroup(g, g)
          l.activeGroup = g
        }
        val t0 = System.nanoTime()
        try body(Some(id))
        finally {
          PerfbenchBus.flush(sc)
          if (phase.isDefined) {
            sc.clearJobGroup()
            l.activeGroup = "unattributed"
          }
          spans(id) = Span(id, parent, name, key, pass, t0, System.nanoTime())
        }
    }

  /** Runs one key; returns its latency, or None if it threw. */
  def runKey(key: String, pass: Int): Option[Double] = {
    var ok = true
    var phase = "queries.construct"
    val t0 = System.nanoTime()
    span(None, "key", key, pass, None) { root =>
      try {
        val df = span(root, "queries.construct", key, pass,
          Some("construct"))(_ => registry(key)(spark, dataDir))
        phase = "exec.action"
        span(root, "exec.action", key, pass, Some("exec"))(_ => df.count())
        if (listener.isDefined) {
          val used = sc.getExecutorMemoryStatus.values
            .map { case (max, rem) => max - rem }.sum
          cachePeakBytes = math.max(cachePeakBytes, used)
        }
      } catch {
        case e: Throwable =>
          ok = false
          failures += Failure(key, pass, phase,
            String.valueOf(e.getMessage).take(300))
      }
      span(root, "cache.release", key, pass, Some("release"))(_ =>
        graft.engine.ml.Dedup.unpersistTracked())
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ok) { samples += Sample(key, pass, dt); Some(dt) } else None
  }

  /** One pass over `keys` in the given order; the untimed set-up pass
    * (pass < 1) keeps no latency samples and no pass statistics. */
  def runPass(keys: Seq[String], pass: Int): Unit = {
    val w0 = System.nanoTime()
    val c0 = cpu.getProcessCpuTime
    val before = samples.size
    keys.foreach(k => runKey(k, pass))
    if (pass >= 1) {
      passes += PassStat(pass, (System.nanoTime() - w0) / 1e9,
        (cpu.getProcessCpuTime - c0) / 1e9, listener.isDefined)
      if (listener.isDefined)
        blocksLeft += sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    } else {
      setupSamples ++= samples.drop(before)
      samples.remove(before, samples.size - before)
    }
  }
}
