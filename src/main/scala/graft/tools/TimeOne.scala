package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import scala.util.control.NonFatal

/** Times named queries individually (N iterations each, all timings
  * printed) — the per-query microscope behind Bench's medians.
  * `runMain graft.tools.TimeOne <sfDir> <iters> <query...>` */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case NonFatal(e) => System.err.println(s"warmup failed: ${e.getMessage}") }
    names.foreach { n =>
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeone] $n: ${ts.map(t => f"$t%.2f").mkString(", ")}")
    }
    spark.stop()
  }
}
