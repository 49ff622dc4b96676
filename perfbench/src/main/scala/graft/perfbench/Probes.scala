package graft.perfbench

import graft.Tables._
import graft.engine.io.CommitLog
import graft.engine.ml.{Bpe, Dedup, Similarity, Text}
import graft.engine.ops.{Conform, Graph, Scale}
import graft.engine.stream.{EventOps, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layer probes: each calls one public engine function on a table set
  * and adds `count()`. A probe whose function builds a fit-once artifact
  * (`warm`) runs once untimed first, so that the timed call reads it. */
object Probes {
  final case class Probe(metric: String, run: () => Long,
      warm: Boolean = false)

  def all(spark: SparkSession, d: String, scratch: String): Seq[Probe] = {
    val s = spark
    def docs = documents(s, d)
    def emb = embeddings(s, d)
    def coocc = Graph.coOccurrenceEdgesFor(
      lineitem(s, d).select(col("l_partkey").as("pk"),
        col("l_suppkey").as("sk")), s"${d}_cosupply")
    val root = s"$scratch/commitlog"
    def commitAll(): Unit = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      CommitLog.init(s, root)
      val v1 = orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      CommitLog.commit(s, root, "snapshot")((dir, _) => v1.write.parquet(dir))
      CommitLog.commit(s, root, "upsert") { (dir, base) =>
        CommitLog.readVersion(s, root, base)
          .withColumn("v", col("v") + lit(1.0)).write.parquet(dir)
      }
      CommitLog.commit(s, root, "delete") { (dir, base) =>
        CommitLog.readVersion(s, root, base)
          .filter(col("k") % 100 =!= 0).write.parquet(dir)
      }
    }
    def n(df: DataFrame): Long = df.count()
    Seq(
      Probe("ml.dedup_exact_s", () => n(Dedup.exact(docs))),
      Probe("ml.dedup_minhash_s", () => n(Dedup.nearMinHash(docs, 0.8))),
      Probe("ml.dedup_simhash_s", () => n(Dedup.nearSimHash(docs, 3))),
      Probe("ml.dedup_lines_s", () => n(Text.lineDedup(docs, 10))),
      Probe("ml.sim_bruteforce_s", () =>
        n(Similarity.bruteForceTopK(emb, Similarity.probes(emb), 5))),
      Probe("ml.sim_ivf_indexed_s", () =>
        n(Similarity.ivfTopKIndexed(s, Similarity.cellIndexFor(emb, d),
          Similarity.probes(emb), 5, nProbe = 14)), warm = true),
      Probe("ml.bpe_tokens_s", () => n(Bpe.tokensPerDoc(docs, d)),
        warm = true),
      Probe("expr.cosine_s", () => {
        graft.engine.expr.GraftFunctions.ensureRegistered(s)
        n(Similarity.probes(emb).crossJoin(emb)
          .where(expr("graft_cosine(probe_emb, embedding) > 0.5")))
      }),
      Probe("ops.graph_pagerank_s", () => {
        val e0 = coocc.filter(col("w") >= 25)
        n(Graph.pageRank(e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst"))), 5))
      }, warm = true),
      Probe("ops.coocc_edges_s", () => n(coocc), warm = true),
      Probe("ops.conform_s", () =>
        n(Conform.conform(lineitem(s, d), graft.queries.Projections.lineitemSlim))),
      Probe("ops.salted_sum_s", () =>
        n(Scale.saltedSum(lineitem(s, d), Seq("l_returnflag"),
          col("l_quantity"), 2))),
      Probe("io.commit_s", () => { commitAll(); 3L }),
      Probe("io.read_version_s", () => n(CommitLog.readVersion(s, root, 2))),
      Probe("io.changes_s", () =>
        n(CommitLog.changes(s, root, 1, 3, Seq("k")))),
      Probe("stream.replay_upserts_s", () => {
        graft.engine.io.Storage.deleteFolder(s, s"$scratch/replay")
        n(Sinks.replayUpserts(events(s, d), s"$scratch/replay"))
      }),
      Probe("stream.sessions_s", () => n(EventOps.sessions(events(s, d))))
    )
  }

  /** Seconds of each probe's timed call. */
  def measure(spark: SparkSession, d: String,
      scratch: String): Seq[(String, Double)] =
    all(spark, d, scratch).map { p =>
      if (p.warm) { p.run(); Dedup.unpersistTracked() }
      val t0 = System.nanoTime()
      p.run()
      Dedup.unpersistTracked()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"probe ${p.metric} $dt%.3f s")
      p.metric -> dt
    }
}
