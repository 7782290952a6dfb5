package graft.tools

import org.apache.spark.sql.functions._

import graft.engine.GraftSession

/** Spark-side half of the GRAPH oracle-at-scale gate: runs the planted-
  * graph family ([[graft.ops.Graph]] pageRank / bfsDepths / kCorePeel /
  * triangleCount) against the ×`k` planted Zipf graph — the same input
  * the `pagerank_planted` fingerprint pin uses — and dumps each full
  * result to `<outDir>/<name>` parquet (coalesced to one part, like
  * `graft.Verify`). `tools/graph_oracle.py` then recomputes every one
  * of them in DuckDB (iterations unrolled in SQL, all-integer
  * arithmetic) and hash-compares, upgrading the graph pins from
  * self-bootstrapped fingerprints to independently-verified results.
  *
  * `runMain graft.tools.GraphOracleDump [outDir] [k]` — defaults
  * /tmp/out_graph and ×4 (200k nodes, 1.6M edge rows, the pinned
  * configuration). Prints the planted-edges parquet path for the
  * python half. */
object GraphOracleDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/out_graph")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-graph-oracle")
    import spark.implicits._

    val edgesPath = ScaleData.materializeGraph(spark, 50000L, 8, k, cpus)
    val edges = spark.read.parquet(edgesPath)
    new java.io.File(outDir).mkdirs()

    def dump(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      GraftSession.reset(spark)
      val t0 = System.nanoTime()
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[graph-dump] $name%-20s ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }

    dump("pagerank_planted") { graft.ops.Graph.pageRank(edges, iters = 3) }
    dump("bfs_planted") {
      graft.ops.Graph.bfsDepths(edges, Seq(1L).toDF("node"), maxDepth = 3)
    }
    dump("kcore_planted") { graft.ops.Graph.kCorePeel(edges, k = 8, rounds = 3) }
    dump("triangles_planted") { graft.ops.Graph.triangleCount(edges) }

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/meta.json"),
      s"""{"edges":"$edgesPath","k":$k}""")
    println(s"[graph-dump] edges=$edgesPath -> $outDir")
    spark.stop()
  }
}
