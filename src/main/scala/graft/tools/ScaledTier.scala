package graft.tools

import graft.engine.GraftSession

/** Standalone runner for `graft.Bench`'s scaled tier — materializes the
  * ×SCALE inputs and runs [[ScaledOps.run]] without the 405-query gate
  * suite in front of it. The dev loop for iterating on a single scaled
  * op: `SPARK_GRAFT_BENCH_SCALE_ITERS=1 sbt "runMain
  * graft.tools.ScaledTier [sfDir] [opSubstring,...]"`. */
object ScaledTier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption.map(_.split(',').toSeq.filter(_.nonEmpty))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-scaled-tier")
    ScaledOps.run(spark, sfDir, cpus, only) match {
      case None => println("[scaled-tier] SPARK_GRAFT_BENCH_SCALE <= 1: the tier is disabled")
      case Some(t) =>
        t.ops.foreach { r =>
          val tag = if (r.varied) "  VARIED>3x" else ""
          println(f"[scaled-tier] ${r.name}%-22s med=${r.median}%8.3f min=${r.min}%8.3f$tag")
        }
        t.recallPct.foreach(p => println(f"[scaled-tier] ${ScaledOps.RecallKey}%-22s $p%.1f"))
    }
    spark.stop()
  }
}
