package graft.tools

import graft.SparkEntry
import graft.engine.GraftSession

/** Prints formatted physical plans for the named queries (or a default
  * headline set) so plan regressions — lost pushdown, surprise sort-merge
  * joins, cartesian products — are visible. `runMain graft.tools.PlanAudit
  * [sfDir] [query...]`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_scan_filter", "q06_ffill", "q08_fuzzy_top1", "q12_groupby",
        "q14_topk", "p03_dedup_minhash", "p07_ann_brute", "p08_ann_lsh")
    val spark = GraftSession.local(8, "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
