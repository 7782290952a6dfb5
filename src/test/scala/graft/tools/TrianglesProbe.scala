package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.engine.GraftSession

/** Root-cause probe for the p134_triangles idle-floor drift (round-15
  * verdict: warm floor ~4.0 s in round 14 → ~5.2 s in round 15 with
  * byte-identical code). The round-14 ContainmentProbe separated plan
  * flips / spill / GC from environment; this adds the two counters
  * that round's writeup could only infer: per-iteration JANINO
  * compilation work (Spark's CodegenMetrics — count + ms of generated-
  * class compilation) and JVM JIT time (CompilationMXBean delta), plus
  * an optional PRELOAD phase that runs other gates first so one box
  * compares fresh-JVM floors against shared-JVM floors (the driver
  * runs 366 gates in one JVM; codegen-cache + C2 code-cache pressure
  * is the suspected mechanism). Test scope: a measurement harness,
  * not shipped surface.
  *
  * `sbt "Test/runMain graft.tools.TrianglesProbe [sfDir] [iters] [preloadN]"`
  * — preloadN > 0 runs that many assorted gates before measuring. */
object TrianglesProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(6)
    val preloadN = args.drop(2).headOption.map(_.toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-triangles-probe")

    def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    def jitMillis(): Long = {
      val c = ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime else -1L
    }
    def janino(): (Long, Long) = {
      val m = org.apache.spark.metrics.source.CodegenMetrics
      (m.METRIC_COMPILATION_TIME.getCount,
        m.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)
    }

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.add((m.executorRunTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleReadMetrics.fetchWaitTime, m.executorCpuTime / 1000000L))
      }
    })

    if (preloadN > 0) {
      // shared-JVM simulation: run assorted OTHER gates first — each
      // builds fresh generated classes, filling the codegen cache and
      // the C2 code cache the way the driver's 366-gate run does
      val others = graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(_ == "p134_triangles").take(preloadN)
      println(s"[probe] preloading ${others.size} gates...")
      others.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        catch { case NonFatal(e) =>
          System.err.println(s"[probe] preload $n failed: ${e.getMessage}") }
      }
      println(s"[probe] preload done; janino=${janino()} jit_ms=${jitMillis()}")
    }

    (1 to iters).foreach { i =>
      GraftSession.reset(spark)
      stages.clear()
      System.gc()
      val df = graft.SparkEntry.queries("p134_triangles")(spark, sfDir)
      val qe = df.queryExecution
      val gc0 = gcMillis(); val jit0 = jitMillis(); val (jc0, jms0) = janino()
      val t0 = System.nanoTime()
      val n = qe.executedPlan.execute()
        .mapPartitions(it => Iterator.single(it.size.toLong)).treeReduce(_ + _)
      val sec = (System.nanoTime() - t0) / 1e9
      val gcd = gcMillis() - gc0
      val jitd = jitMillis() - jit0
      val (jc1, jms1) = janino()
      val p = qe.executedPlan.toString
      def c(m: String) = p.sliding(m.length).count(_ == m)
      var runMs = 0L; var cpuMs = 0L; var spill = 0L; var fetchMs = 0L
      while (!stages.isEmpty) {
        val (r, sp, fw, cpu) = stages.poll()
        runMs += r; cpuMs += cpu; spill += sp; fetchMs += fw
      }
      println(f"[probe] iter=$i sec=$sec%7.2f rows=$n gc_ms=$gcd jit_ms=$jitd " +
        s"janinoCompiles=${jc1 - jc0} janinoNs=${jms1 - jms0} " +
        s"SMJ=${c("SortMergeJoin")} SHJ=${c("ShuffledHashJoin")} " +
        s"BHJ=${c("BroadcastHashJoin")} " +
        s"execRun_s=${runMs / 1000} execCpu_s=${cpuMs / 1000} " +
        s"spill_mb=${spill >> 20} fetchWait_ms=$fetchMs " +
        s"planHash=${p.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "").hashCode}")
    }
    spark.stop()
  }
}
