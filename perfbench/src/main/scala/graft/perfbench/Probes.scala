package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{GraphOps, PipelineOps, SimOps}
import graft.plans.{MinHashSig, TextKernels, VectorFunctions}

/** Direct timings of layer functions, taken in a traced run after the
  * traced passes: the operator phases that no registry entry exposes on
  * its own (graph build / loop / stored serving, the stored kNN index's
  * lifecycle, node-embedding training and serving) and the `graft.plans`
  * kernels' throughput through their public Column functions. Each result
  * is fully materialized into the `noop` sink. */
object Probes {
  private def seconds(body: => Unit): Double = {
    System.gc()
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, workload: String, input: String, t: Tracer): Unit =
    workload match {
      // split so that each traced run stays well inside the run time
      // limit; a probe does not depend on the workload's entries
      case "etl" => graph(spark, input, t)
      case "curate" => sim(spark, input, t); embedServe(spark, input, t); kernels(spark, input, t)
      case _ =>
    }

  private def graph(spark: SparkSession, input: String, t: Tracer): Unit = {
    val orders = Tables.orders(spark, input)
    val lineitem = Tables.lineitem(spark, input)
    var built: (DataFrame, DataFrame, Long) = null
    t.probe("graph.build_s", seconds {
      built = GraphOps.buildGraph(orders, lineitem)
      Main.materialize(built._2)
    })
    val (adj, nodes, n) = built
    t.probe("graph.loop_s", seconds {
      Main.materialize(GraphOps.loopPartitioned(adj, nodes, n, 10, 0.85))
    })
    adj.unpersist()
    t.probe("graph.stored_s", seconds {
      Main.materialize(GraphOps.graphPagerankStored(spark, orders, lineitem, input))
    })
    for (rounds <- Seq(1, 2)) t.probe(s"pipeline.embed_train_r${rounds}_s", seconds {
      Main.materialize(PipelineOps.nodeEmbedWithLoss(
        orders, lineitem, 4, 2, 4, rounds, 0.5, lossTrace = false)._1)
    })
  }

  private def embedServe(spark: SparkSession, input: String, t: Tracer): Unit = {
    val index = PipelineOps.nodeEmbedIndexBuild(spark, input)
    t.probe("pipeline.embed_serve_s", seconds {
      Main.materialize(PipelineOps.nodeEmbedIndexServe(spark, index))
    })
  }

  private def sim(spark: SparkSession, input: String, t: Tracer): Unit = {
    val emb = Tables.embeddings(spark, input)
    var idx: SimOps.KnnIncIndex = null
    t.probe("sim.knn_index_build_s", seconds {
      idx = SimOps.buildKnnIncIndex(spark, emb, input)
    })
    t.probe("sim.knn_ingest_s", seconds {
      val (_, _, updated) = SimOps.knnGraphIngestDelta(spark, emb, idx)
      Main.materialize(SimOps.knnIncrementalCensus(updated, idx.cutoff))
    })
    t.probe("sim.refresh_audit_s", seconds {
      val (stale, fresh) = SimOps.buildRefreshLayouts(spark, emb, input)
      Main.materialize(SimOps.knnRefreshAudit(spark, stale, fresh))
    })
  }

  /** Rows per second of each kernel over a cached copy of its input (the
    * vectors replicated 10 times), so the timed plan is the kernel and the
    * scan of its input. The faster of two timings is reported: the first
    * one also compiles the plan. */
  private def kernels(spark: SparkSession, input: String, t: Tracer): Unit = {
    VectorFunctions.register(spark)
    MinHashSig.register(spark)
    TextKernels.register(spark)
    val copies = lit((1 to 10).toArray)
    val vecs = Tables.embeddings(spark, input)
      .select(explode(copies).as("copy"),
        col("embedding").cast("array<double>").as("v"),
        transform(col("embedding"), x => round(x * 1000).cast("long")).as("q"))
      .persist()
    val docs = Tables.documents(spark, input).select(col("text"))
      .withColumn("sh", TextKernels.shingleSet(col("text")))
      .persist()
    try {
      val sample = vecs.limit(16).collect()
      def longs(r: Row) = r.getAs[scala.collection.Seq[Long]]("q").toSeq
      def doubles(r: Row) = r.getAs[scala.collection.Seq[Double]]("v").toSeq
      val qCents = typedLit(sample.map(longs).toSeq)
      val v0 = typedLit(doubles(sample.head))
      // 8 subspaces of 8 dimensions, 16 centroids each
      val cbs = typedLit((0 until 8).map(s =>
        sample.map(r => doubles(r).slice(s * 8, s * 8 + 8)).toSeq))
      val vecRows = vecs.count().toDouble
      val docRows = docs.count().toDouble
      def rate(df: DataFrame, c: Column, rows: Double): Double =
        rows / (1 to 2).map(_ => seconds(Main.materialize(df.select(c)))).min
      t.probe("kernel.vector_dot.rows_per_s",
        rate(vecs, VectorFunctions.vectorDot(col("v"), v0), vecRows))
      t.probe("kernel.argmin_l2.rows_per_s",
        rate(vecs, VectorFunctions.argminL2(col("q"), qCents), vecRows))
      t.probe("kernel.top_cells_l2.rows_per_s",
        rate(vecs, VectorFunctions.topCellsL2(col("q"), qCents, lit(4)), vecRows))
      t.probe("kernel.pq_encode_l2.rows_per_s",
        rate(vecs, VectorFunctions.pqEncodeL2(col("v"), cbs, lit(8)), vecRows))
      t.probe("kernel.minhash_sig.rows_per_s",
        rate(docs, MinHashSig.minhashSig(col("sh")), docRows))
      t.probe("kernel.shingle_set.rows_per_s",
        rate(docs, TextKernels.shingleSet(col("text")), docRows))
      t.probe("kernel.simhash60.rows_per_s",
        rate(docs, TextKernels.simhashSig(col("sh")), docRows))
    } finally {
      vecs.unpersist()
      docs.unpersist()
    }
  }
}
