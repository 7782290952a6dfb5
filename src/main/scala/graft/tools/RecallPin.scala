package graft.tools

import graft.engine.GraftSession

/** Regenerates the pinned ANN recall numerators in PipelineQueries
  * (`lshHits` / `ivfHits`). Those constants are data: valid only for the
  * exact corpus + index defaults they were measured on. When the gate
  * corpus or an index default changes, run
  *
  *   sbt "runMain graft.tools.RecallPin /root/testdata/sf0.01"
  *
  * and paste the printed Seq literals over the stale ones.
  */
object RecallPin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-recall-pin")
    try {
      for ((gate, name) <- Seq("p08_ann_lsh" -> "lshHits", "p20_ann_ivf" -> "ivfHits",
          "p78_ann_pq" -> "pqHits", "p79_ann_ivfpq" -> "ivfPqHits")) {
        val rows = graft.queries.PipelineQueries.queries(gate)(spark, sfDir)
          .select("qid", "hits").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
        println(s"  private val $name = Seq(")
        println(rows.map(_._2).grouped(20).map(_.mkString("    ", ", ", ",")).mkString("\n").stripSuffix(","))
        println(s"  ) // sum=${rows.map(_._2).sum} over ${rows.length} queries at $sfDir")
      }
    } finally spark.stop()
  }
}
