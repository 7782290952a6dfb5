package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.GraftSession

/** Round-transition hash probe: prints a deterministic content hash for
  * each named gate so a rewrite can be checked bit-identical against
  * the previous implementation (run before + after, diff the lines).
  * Same canonicalization as the driver: columns sorted by name, rows
  * hashed order-independently via xor of row hashes.
  */
object HashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "p52_length_deciles", "p81_corpus_datasheet", "p115_conversion_latency",
      "p24_length_quantiles", "p53_quantiles_approx", "p50_approx_quantiles")
    val spark = GraftSession.local(32, "graft-hash-probe")
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PROBE_ITERS > 1 turns the probe into a quick idle
    // timer (per-iteration cache hygiene like the bench loop)
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "1").toInt
    for (n <- names) {
      val secs = (1 to iters).map { _ =>
        GraftSession.reset(spark)
        val df = SparkEntry.queries(n)(spark, sfDir)
        val cols = df.columns.sorted.toSeq
        val t0 = System.nanoTime()
        val h = df
          .select(xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit(" "))): _*).as("_h"))
          .agg(expr("bit_xor(_h)").as("s"), count(lit(1)).as("n"))
          .collect()(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"HASH $n rows=${h.getLong(1)} sum=${h.getLong(0)} sec=$sec%.2f cols=${cols.mkString(",")}")
        sec
      }
      if (iters > 1) println(f"TIME $n median=${secs.sorted.apply(iters / 2)}%.2f s")
    }
    spark.stop()
  }
}
