package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timing protocol: `graft.Bench`'s per-query loop and the
  * scaled tier ([[graft.tools.ScaledOps]]) both time through
  * [[measure]], so a change to how graft measures is made once.
  *
  * Each run writes the DataFrame to the `noop` sink, which materializes
  * every column (a `.count()` would let Catalyst prune the projection
  * and time a near-empty scan). Building the DataFrame is inside the
  * timer: eager actions an op fires while planning (`collect`, `count`)
  * are its cost.
  */
object Measure {

  /** One measured name. `runs` holds each timed run that succeeded as
    * (seconds, 1-minute loadavg at its start); `extCores` is the
    * average number of CPU cores other processes kept busy over the
    * timed runs (-1 when `/proc` is unreadable). `median` and `min` are
    * -1 when every run failed. `varied` tags a max/min spread above 3×
    * over at least 2 runs: in-JVM interference (a cold cache rebuild,
    * GC) that `extCores` cannot see, so a reader should trust `min`. */
  final case class Timing(name: String, runs: Seq[(Double, Double)], extCores: Double) {
    private def secs = runs.map(_._1)
    def median: Double =
      if (runs.isEmpty) -1.0
      else {
        val s = secs.sorted
        val n = s.length
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      }
    def min: Double = if (runs.isEmpty) -1.0 else secs.min
    def varied: Boolean = runs.length >= 2 && min > 0 && secs.max / min > 3.0
  }

  def sink(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Time `build` through the noop sink:
    *  1. [[GraftSession.reset]] and `System.gc()`, untimed, so the
    *     previous name's leftovers (persisted blocks, `localCheckpoint`
    *     RDDs) neither evict this one's working memory nor bill it.
    *  1. `warmup` untimed runs whose failures are ignored; they absorb
    *     the codegen and JIT warm-up slope and one-time internal cache
    *     builds, so the timed runs measure the steady state.
    *  1. `iters` timed runs. A failure prints `name FAILED: msg` to
    *     stderr and drops that run; it is never a fake timing.
    *  1. External load, metered over the timed runs only. */
  def measure(spark: SparkSession, name: String, iters: Int, warmup: Int)(
      build: => DataFrame): Timing = {
    GraftSession.reset(spark)
    System.gc()
    (1 to warmup).foreach { _ =>
      try sink(build) catch { case NonFatal(_) => () } // the timed runs report it
    }
    val (busy0, self0) = cpuJiffies()
    val t0 = System.nanoTime()
    val runs = (1 to iters).flatMap { _ =>
      val load = loadAvg()
      val r0 = System.nanoTime()
      try { sink(build); Some(((System.nanoTime() - r0) / 1e9, load)) }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[measure] $name FAILED: ${e.getMessage}")
          None
      }
    }
    val (busy1, self1) = cpuJiffies()
    val wall = (System.nanoTime() - t0) / 1e9
    val extCores =
      if (busy0 < 0 || busy1 < 0 || wall <= 0) -1.0
      else math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / 100.0 / wall)
    Timing(name, runs, extCores)
  }

  /** 1-minute loadavg (first `/proc/loadavg` field); -1 when unreadable
    * (non-Linux box). Context only: it counts this JVM's own threads. */
  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  // (busy CPU jiffies across the box, this JVM's own jiffies): their
  // difference over a window is EXTERNAL load, which loadavg cannot
  // give (it counts the measured JVM's own threads, so on an idle box
  // it reads 4-6 at local[32] and any loadavg cutoff mis-tags). USER_HZ
  // is 100 on every Linux ABI. (-1, -1) when /proc is unreadable.
  private def cpuJiffies(): (Long, Long) =
    try {
      val stat = scala.io.Source.fromFile("/proc/stat")
      val line = try stat.getLines().next() finally stat.close()
      val parts = line.trim.split("\\s+").drop(1).map(_.toLong)
      // busy = everything except idle (idx 3) and iowait (idx 4)
      val busy = parts.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      val selfSrc = scala.io.Source.fromFile("/proc/self/stat")
      val s = try selfSrc.mkString finally selfSrc.close()
      // comm may contain spaces — fields resume after the last ')'
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong) // utime + stime
    } catch { case NonFatal(_) => (-1L, -1L) }
}
