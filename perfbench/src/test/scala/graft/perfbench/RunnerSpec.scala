package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File

class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {
  // the benchmark's own copy of the sf0.1 tables, made by one run of
  // `python3 perfbench/run.py --workload graph_sf01 ...`
  private val sf01 = new File("data/sf0.1").getAbsolutePath
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      new File("target/test-warehouse").getAbsolutePath)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("self time is the span minus its direct children") {
    val s = 1000000000L
    val spans = Seq(
      Span(0, None, "key", "k", 1, 0, 10 * s),
      Span(1, Some(0), "queries.construct", "k", 1, 0, 2 * s),
      Span(2, Some(0), "exec.action", "k", 1, 2 * s, 7 * s),
      Span(3, Some(2), "inner", "k", 1, 3 * s, 4 * s),
      Span(4, Some(0), "cache.release", "k", 1, 7 * s, 8 * s))
    val self = Span.selfSeconds(spans)
    assert(self(0) == 2.0)
    assert(self(1) == 2.0)
    assert(self(2) == 4.0)
    assert(self(3) == 1.0)
    assert(self(4) == 1.0)
  }

  test("a traced run balances traced and untraced passes after a lead-in") {
    assert(Main.tracedSchedule(3, trace = false) == Seq(false, false, false))
    val s = Main.tracedSchedule(4, trace = true)
    assert(s == Seq(false, true, false, false, true, true, false, false, true))
    val (t, u) = s.zipWithIndex.tail.partition(_._1)
    assert(t.size == 4 && u.size == 4)
    // ABBA: both sides have the same mean position
    assert(t.map(_._2).sum == u.map(_._2).sum)
  }

  test("a key that throws is a failure and never a latency sample") {
    val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(100).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("planted")),
      "boom_exec" -> ((s, _) =>
        s.range(10).toDF().where("assert_true(id < 0) IS NULL")))
    val r = new Runner(spark, "", registry)
    r.runPass(Seq("ok", "boom", "boom_exec"), 1)
    assert(r.samples.map(_.key) == Seq("ok"))
    assert(r.failures.map(f => f.key -> f.phase).toSet ==
      Set("boom" -> "queries.construct", "boom_exec" -> "exec.action"))
    assert(r.passes.size == 1)
  }

  test("jobs split by job group into construct and exec, summing to the total") {
    assume(new File(sf01, "lineitem.parquet").exists,
      s"needs the benchmark's sf0.1 copy under $sf01")
    val registry = graft.SparkEntry.queries
    val r = new Runner(spark, sf01, k => registry(k))
    r.runKey("graph_kcore", 0) // artifacts and codegen
    val all = new SparkListener {
      @volatile var jobs = 0
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    val layers = new LayerListener
    r.attach(layers)
    spark.sparkContext.addSparkListener(all)
    assert(r.runKey("graph_kcore", 1).isDefined)
    PerfbenchBus.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(all)
    def jobs(phase: String) = layers.total {
      case Group(1, "graph_kcore", p) => p == phase
      case _ => false
    }.jobs
    assert(jobs("construct") > 0, "graph_kcore runs eager jobs while built")
    assert(jobs("exec") > 0)
    assert(jobs("construct") + jobs("exec") + jobs("release") == all.jobs)
    assert(layers.total(_ == "unattributed").jobs == 0)
    assert(r.spans.map(_.name).toSet ==
      Set("key", "queries.construct", "exec.action", "cache.release"))
  }
}
