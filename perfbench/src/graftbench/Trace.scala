package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans recorded around the public calls the benchmark makes.
  * A span's layer is its name up to the first dot. Spans of one op share
  * its op id; the op's root span is named "op". */
final class Spans {
  import Spans.Span

  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var sc: Option[SparkContext] = None
  var op: Int = -1

  def bind(context: SparkContext): Unit = sc = Some(context)

  /** Run `body` inside a span; Spark jobs it submits carry the span id
    * as a local property, so the listener can attribute them. */
  def apply[T](name: String)(body: => T): T = {
    val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), op, name, System.nanoTime(), 0L)
    all += s
    stack = s :: stack
    sc.foreach(_.setLocalProperty(Spans.Key, s.id.toString))
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.foreach(_.setLocalProperty(Spans.Key, stack.headOption.map(_.id.toString).orNull))
    }
  }

  def children(id: Int): Seq[Span] = all.filter(_.parent == id).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Span ids of `root` and everything below it. */
  def subtree(root: Int): Set[Int] = {
    val out = mutable.Set(root)
    var grew = true
    while (grew) {
      val more = all.filter(s => out(s.parent) && !out(s.id)).map(_.id)
      grew = more.nonEmpty
      out ++= more
    }
    out.toSet
  }
}

object Spans {
  val Key = "graftbench.span"

  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, var endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Per-span Spark counters, fed by a SparkListener the benchmark
  * registers. Jobs are attributed through the span-id local property. */
final class Counters(gridRecords: Set[Long]) extends SparkListener {
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var inputBytes = 0L; var inputRecords = 0L
    var shuffleWrite = 0L; var spill = 0L; var gridScans = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val bySpan = new ConcurrentHashMap[Int, Acc]()

  private def acc(span: Int): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key))).map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
    acc(span).synchronized { acc(span).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, -1)
    val a = acc(span)
    a.synchronized { a.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time), e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        if (gridRecords(m.inputMetrics.recordsRead)) a.gridScans += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Sum of the accumulators of `spans`; job wall is the union of the
    * job intervals, in seconds. */
  def total(spans: Set[Int]): (Acc, Double) = {
    val out = new Acc
    spans.foreach { s =>
      Option(bySpan.get(s)).foreach { a =>
        a.synchronized {
          out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks; out.cpuNs += a.cpuNs
          out.inputBytes += a.inputBytes; out.inputRecords += a.inputRecords
          out.shuffleWrite += a.shuffleWrite; out.spill += a.spill; out.gridScans += a.gridScans
          out.jobIntervals ++= a.jobIntervals
        }
      }
    }
    val merged = out.jobIntervals.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    (out, merged.map { case (s, e) => e - s }.sum / 1000.0)
  }
}

/** JVM counters read through MXBeans. */
object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1000.0 else 0.0
  }

  @volatile private var peakAfterGc = 0L
  private lazy val gcListener: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPoolNames(pool) => u.getUsed
            }.sum
            if (used > peakAfterGc) peakAfterGc = used
          }
        }, null, null)
      case _ => ()
    }
  private lazy val heapPoolNames: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Start tracking the largest heap still in use after a collection. */
  def resetHeapPeak(): Unit = { gcListener; peakAfterGc = 0L }

  /** Largest heap in use after any collection since the reset, in MiB:
    * the live set at its peak, which unlike raw peak use does not just
    * read back the young generation's size. */
  def heapPeakMb(): Double = peakAfterGc / (1024.0 * 1024.0)

  /** (busy jiffies of the whole machine, jiffies of this process): the
    * difference over a window is CPU burned by other processes. */
  def cpuJiffies(): (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat")
      val first = try line.getLines().next() finally line.close()
      val parts = first.trim.split("\\s+").drop(1).map(_.toLong)
      val busy = parts.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      val self = scala.io.Source.fromFile("/proc/self/stat")
      val s = try self.mkString finally self.close()
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** Average cores other processes kept busy between two samples. */
  def externalCores(a: (Long, Long), b: (Long, Long), wallS: Double): Double =
    if (a._1 < 0 || b._1 < 0 || wallS <= 0) -1.0
    else math.max(0.0, ((b._1 - a._1) - (b._2 - a._2)) / 100.0 / wallS)
}
