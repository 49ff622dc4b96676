package graft.perfbench

import graft.SparkEntry
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import java.io.File
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark: set-up pass, timed passes, check pass
  * and, when traced, the layer counters and probes. It writes one raw
  * JSON record; `perfbench/run.py` turns it into metrics.
  *
  * Usage: Main --keys k1,k2,... --seed N --passes P --trace 0|1
  *   --data DIR --probe-data DIR --scratch DIR
  */
object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  /** Which timed passes are traced. An untraced run has `passes`
    * untraced passes. A traced run has an untraced lead-in pass, which
    * is the slowest and is left out of the overhead, then `passes`
    * traced and `passes` untraced passes in ABBA order, so that neither
    * side gains from running later. */
  def tracedSchedule(passes: Int, trace: Boolean): Seq[Boolean] =
    if (!trace) Seq.fill(passes)(false)
    else false +: Seq.tabulate(2 * passes)(i => i % 4 == 0 || i % 4 == 3)

  def main(args: Array[String]): Unit = {
    def req(n: String) = arg(args, n).getOrElse(
      throw new IllegalArgumentException(s"missing $n"))
    val keys = req("--keys").split(",").toSeq
    val seed = req("--seed").toLong
    val passes = req("--passes").toInt
    val trace = req("--trace") == "1"
    val dataDir = req("--data")
    val scratch = req("--scratch")
    val probeData = req("--probe-data")
    val out = s"$scratch/out"
    new File(out).mkdirs()
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    keys.foreach(k => require(registry.contains(k) && oracle.contains(k),
      s"key without an oracle: $k"))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      compact(render(JObject(keys.map(k => k -> JString(oracle(k))): _*))))

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the same untimed warm-up as graft.Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dataDir/region.parquet").count()
    val sessionReadyMs = System.currentTimeMillis()

    val runner = new Runner(spark, dataDir, k => registry(k))
    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = rng.shuffle(keys)
    val warehouse = new File(s"$scratch/warehouse")
    runner.runPass(order(), 0) // set-up: empty warehouse, JIT, artifacts
    val artifactsSetup = Artifacts.built(warehouse)
    val firstPassMs = System.currentTimeMillis()

    val listener = new LayerListener
    tracedSchedule(passes, trace).zipWithIndex.foreach { case (traced, i) =>
      if (traced) runner.attach(listener) else runner.detach()
      runner.runPass(order(), i + 1)
    }
    runner.detach()
    val artifactsTimed = Artifacts.built(warehouse) -- artifactsSetup
    // read before the probes, which build artifacts of their own
    val artifactMb = Artifacts.megabytes(warehouse)
    val timedEndMs = System.currentTimeMillis()

    // check pass: every key's output to parquet for the oracle compare
    val checkTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val checkFailures = keys.sorted.flatMap { k =>
      val t0 = System.nanoTime()
      val r = try {
        registry(k)(spark, dataDir).write.mode("overwrite")
          .parquet(s"$out/check/$k")
        None
      } catch { case e: Throwable => Some(k -> String.valueOf(e.getMessage)) }
      graft.engine.ml.Dedup.unpersistTracked()
      checkTimes(k) = (System.nanoTime() - t0) / 1e9
      r
    }

    val checkEndMs = System.currentTimeMillis()
    val layers: Seq[(String, Double)] =
      if (!trace) Nil
      else {
        PerfbenchBus.flush(spark.sparkContext)
        val probes = Probes.measure(spark, probeData, s"$scratch/probes")
        val dropped = graft.engine.ml.Dedup.droppedBuckets(spark).value
        Layers.metrics(runner, listener) ++
          Seq("io.artifact_builds" -> artifactsTimed.size.toDouble,
            "io.artifact_builds_setup" -> artifactsSetup.size.toDouble,
            "io.artifact_mb" -> artifactMb) ++
          probes ++ Seq("ml.dedup_dropped_buckets" -> dropped.toDouble)
      }
    if (trace) Files.write(Paths.get(s"$out/spans.jsonl"),
      runner.spans.map(s => compact(render(
        ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~
          ("key" -> s.key) ~ ("pass" -> s.pass) ~
          ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs))))
        .mkString("\n").getBytes)

    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    spark.stop()

    def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else d
    val record: JObject =
      ("keys" -> keys) ~
        ("session_ready_epoch_ms" -> sessionReadyMs) ~
        ("first_pass_epoch_ms" -> firstPassMs) ~
        ("timed_end_epoch_ms" -> timedEndMs) ~
        ("check_keys" -> checkTimes.toMap) ~
        ("check_end_epoch_ms" -> checkEndMs) ~
        ("setup_keys" -> runner.setupSamples.map(s => s.key -> s.seconds).toMap) ~
        ("peak_rss_mb" -> rssMb) ~
        ("passes" -> runner.passes.map(p =>
          ("pass" -> p.pass) ~ ("wall_s" -> p.wallS) ~ ("cpu_s" -> p.cpuS) ~
            ("traced" -> p.traced))) ~
        ("samples" -> runner.samples.map(s =>
          ("key" -> s.key) ~ ("pass" -> s.pass) ~ ("seconds" -> s.seconds))) ~
        ("failures" -> runner.failures.map(f =>
          ("key" -> f.key) ~ ("pass" -> f.pass) ~ ("phase" -> f.phase) ~
            ("error" -> f.error))) ~
        ("check_failures" -> checkFailures.map { case (k, e) =>
          ("key" -> k) ~ ("error" -> e) }) ~
        ("layers" -> JObject(layers.map { case (k, v) => k -> num(v) }: _*))
    Files.writeString(Paths.get(s"$out/result.json"), compact(render(record)))
  }
}

/** Fit-once artifact directories: a `_SUCCESS` directory inside a
  * `graft_`-prefixed directory of the warehouse. */
object Artifacts {
  private def dirs(warehouse: File): Seq[File] =
    Option(warehouse.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))

  def built(warehouse: File): Set[String] =
    dirs(warehouse).flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(a => new File(a, "_SUCCESS").exists).map(_.getPath).toSet

  def megabytes(warehouse: File): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum
      else f.length
    dirs(warehouse).map(size).sum / 1048576.0
  }
}
