package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Micro-profiler for declared queries: runs each named query `reps`
  * times against a sfDir and prints median wall seconds plus the Spark
  * job / stage / shuffle-write counts and the 20 slowest stages
  * (duration, task count, name) of the LAST rep — the fixed per-query
  * overhead (#stages × scheduling cost) is what dominates at small SF,
  * so this is the number to drive fusion work with.
  *
  * Uses the bench session shape (`local[$SPARK_GRAFT_CPUS]`, default 4,
  * shuffle.partitions = core count, UTC session time, nanosAsLong), so
  * the profiled plan is the one the bench runs.
  *
  * Usage: runMain graft.tools.Prof <sfDir> <reps> <query> [query ...]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Prof <sfDir> <reps> <query> [...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-prof")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var shuffleWriteBytes = 0L
    // (stageId, name, duration ms, tasks) of the current rep
    val stages =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        shuffleWriteBytes += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        stages.synchronized(stages += ((si.stageId,
          si.name.split("\n").head.take(90),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks)))
      }
    })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        jobs = 0; shuffleWriteBytes = 0L; stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        graft.engine.ml.Dedup.unpersistTracked()
        val dt = (System.nanoTime() - t0) / 1e9
        if (i == reps) stages.synchronized {
          println(f"$name%-24s rep$i $dt%6.2fs rows=$n jobs=$jobs " +
            f"stages=${stages.length} " +
            f"shuffleMB=${shuffleWriteBytes / 1e6}%.1f")
          stages.sortBy(-_._3).take(20).foreach { case (id, nm, ms, nt) =>
            println(f"  stage $id%4d $ms%6d ms tasks=$nt%3d  $nm")
          }
        }
        dt
      }
      val med = times.sorted.apply(times.length / 2)
      println(f"$name%-24s MEDIAN $med%6.2fs over $reps reps")
    }
    spark.stop()
  }
}
