package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.engine.GraftSession
import graft.ops.{CompatMode, ImporterStandardizer, Stages}
import graft.pipeline.{Homologation, RunHomologation}
import graft.schema.{HeaderIdentify, HeaderRules, MappingStore}
import graft.sources.OrderedScan

/** Benchmark driver: one JVM, `local[k]`, closed loop with one client.
  *
  * A run creates the session, runs an untimed warm-up pass (the
  * distinct inputs in turn, `warmOps` ops), then one timed pass
  * of a fixed op list, checking each op's output outside the timer.
  * With `--trace 1` it then runs the same op list again with spans and
  * a SparkListener and reports per-layer figures.
  *
  * Usage: graftbench.Main --workload <hom_bulk|hom_importers|suite_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --result <json>
  *   [--suite-data <dir>]
  */
object Main {
  val Cores = 4

  /** (ops per second of `--seconds`, fewest ops) for each workload: the
    * pass length is a fixed op count, sized once for this machine so that
    * the pass takes about `--seconds`; it never adapts to the code's speed. */
  private val passSize = Map("hom_bulk" -> (0.2, 4), "hom_importers" -> (0.2, 4), "suite_mix" -> (2.0, 40))

  /** Warm-up ops, taking the distinct inputs in turn; by default each
    * once. After one op per grid, hom_bulk ops still speed up by about a
    * fifth over the next two ops while the JIT catches up; a third
    * warm-up op keeps most of that trend out of the timed pass. */
  private val warmOps = Map("hom_bulk" -> 3)

  private val om = new ObjectMapper()

  final case class OpResult(name: String, seconds: Double, ok: Boolean, error: String)

  trait Workload {
    def distinct: IndexedSeq[String]
    def beforeSetup(): Unit = ()
    def prepare(op: String): Unit = ()
    def run(spark: SparkSession, op: String): Unit
    /** The warm-up's form of an op; suite_mix writes its output there. */
    def warm(spark: SparkSession, op: String): Unit = run(spark, op)
    def traced(spark: SparkSession, op: String, spans: Spans, stats: LayerStats): Unit
    /** None when the op's output is right, else what is wrong. */
    def check(op: String): Option[String]
    def between(spark: SparkSession): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def finish(spark: SparkSession, out: ObjectNode): Unit = ()
    /** Record counts of the grid files: a task reading exactly that many
      * records is counted as one full grid scan. */
    def gridRecords: Set[Long] = Set.empty
    /** Set for the traced pass, whose outputs must equal the plain ones. */
    var tracing = false
  }

  /** Figures the traced ops report besides spans and counters. */
  final class LayerStats {
    val perOp = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    def op(): mutable.Map[String, Double] = { val m = mutable.Map.empty[String, Double]; perOp += m; m }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val genT0 = System.nanoTime()
    val w: Workload = workload match {
      case "hom_bulk" | "hom_importers" =>
        new Hom(workload, Gen.inputs(work.resolve("inputs"), workload, seed), work)
      case "suite_mix" => new Suite(a("suite-data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = (System.nanoTime() - genT0) / 1e9

    val rnd = new Random(seed)
    val (perSecond, fewest) = passSize(workload)
    val perPass = math.max(fewest, math.ceil(seconds * perSecond).toInt)
    val rounds = math.ceil(perPass.toDouble / w.distinct.size).toInt
    val passOps = (0 until rounds).flatMap(_ => rnd.shuffle(w.distinct))

    // ---- set-up: the session and an untimed warm-up pass -----------------
    w.beforeSetup()
    val jit0 = Jvm.jitSeconds()
    val s0 = System.nanoTime()
    val spark = GraftSession.local(Cores, "graftbench")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val warmList = Iterator.continually(w.distinct).flatten.take(warmOps.getOrElse(workload, w.distinct.size))
    warmList.foreach { op =>
      w.prepare(op)
      val t = System.nanoTime()
      try w.warm(spark, op)
      catch { case NonFatal(e) => System.err.println(s"[graftbench] warm-up $op failed: $e") }
      System.err.println(f"[graftbench] warm-up $op ${(System.nanoTime() - t) / 1e9}%.3f s")
      w.between(spark)
    }
    // from main's first line to the first timed op, less input generation
    val setupS = (System.nanoTime() - t0) / 1e9 - genS
    val setupJitS = Jvm.jitSeconds() - jit0

    // ---- timed pass ---------------------------------------------------
    val pass = timedPass(spark, w, passOps)

    val out = om.createObjectNode()
    out.put("workload", workload); out.put("seed", seed); out.put("cores", Cores)
    out.put("gen_s", genS)
    out.put("setup_s", setupS); out.put("session_s", sessionS); out.put("setup_jit_s", setupJitS)
    writePass(out.putObject("pass"), pass)

    if (trace) {
      val tp = tracedPass(spark, w, passOps)
      val plain = pass._2
      val m = tp.metrics
      m("engine.session_s") = sessionS
      m("jvm.jit_s") = setupJitS
      m("trace.overhead_s") = tp.passS - plain
      m("trace.overhead_frac") = (tp.passS - plain) / plain
      val node = out.putObject("traced")
      writePass(node, (tp.ops, tp.passS, PassStats(0, m("jvm.gc_s"), m("jvm.pass_jit_s"), m("host.ext_cores"))))
      val mn = node.putObject("metrics")
      m.toSeq.sortBy(_._1).foreach { case (k, v) => mn.put(k, v) }
      node.set[ObjectNode]("per_query", tp.perQuery)
      val spansOut = node.putArray("spans")
      tp.spans.all.foreach { s =>
        val o = spansOut.addObject()
        o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op); o.put("name", s.name)
        o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
      }
    }
    w.finish(spark, out)
    Files.writeString(Paths.get(a("result")), om.writeValueAsString(out))
    spark.stop()
  }

  final case class PassStats(heapPeakMb: Double, gcS: Double, jitS: Double, extCores: Double)

  private def timedPass(spark: SparkSession, w: Workload, ops: Seq[String])
      : (IndexedSeq[OpResult], Double, PassStats) = {
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcSeconds(); val jit0 = Jvm.jitSeconds(); val cpu0 = Jvm.cpuJiffies()
    var wall = 0.0
    val results = ops.map { op =>
      w.prepare(op)
      val t = System.nanoTime()
      val r =
        try { w.run(spark, op); OpResult(op, (System.nanoTime() - t) / 1e9, ok = true, "") }
        catch { case NonFatal(e) => OpResult(op, (System.nanoTime() - t) / 1e9, ok = false, e.toString) }
      wall += r.seconds
      // checked before the next op overwrites the output; outside the timer
      val checked = if (r.ok) w.check(op).fold(r)(msg => r.copy(ok = false, error = msg)) else r
      w.between(spark)
      checked
    }.toIndexedSeq
    val stats = PassStats(Jvm.heapPeakMb(), Jvm.gcSeconds() - gc0, Jvm.jitSeconds() - jit0,
      Jvm.externalCores(cpu0, Jvm.cpuJiffies(), wall))
    (results, wall, stats)
  }

  private def writePass(node: ObjectNode, pass: (IndexedSeq[OpResult], Double, PassStats)): Unit = {
    val (ops, wall, st) = pass
    node.put("pass_s", wall); node.put("heap_peak_mb", st.heapPeakMb); node.put("gc_s", st.gcS)
    node.put("jit_s", st.jitS); node.put("ext_cores", st.extCores)
    val arr = node.putArray("ops")
    ops.foreach { r =>
      val o = arr.addObject(); o.put("name", r.name); o.put("s", r.seconds); o.put("ok", r.ok)
      if (r.error.nonEmpty) o.put("error", r.error.take(300))
    }
  }

  final case class Traced(ops: IndexedSeq[OpResult], passS: Double, metrics: mutable.Map[String, Double],
      spans: Spans, perQuery: ObjectNode)

  private val layers = Seq("engine", "sources", "schema", "ops", "pipeline", "queries")

  private def tracedPass(spark: SparkSession, w: Workload, ops: Seq[String]): Traced = {
    val spans = new Spans
    spans.bind(spark.sparkContext)
    val counters = new Counters(w.gridRecords)
    spark.sparkContext.addSparkListener(counters)
    val stats = new LayerStats
    w.tracing = true
    val gc0 = Jvm.gcSeconds(); val jit0 = Jvm.jitSeconds(); val cpu0 = Jvm.cpuJiffies()
    val roots = mutable.ArrayBuffer.empty[Int]
    var wall = 0.0
    val results = ops.zipWithIndex.map { case (op, i) =>
      w.prepare(op)
      spans.op = i
      val rootId = spans.all.size
      roots += rootId
      val error =
        try { spans("op") { w.traced(spark, op, spans, stats) }; w.check(op) }
        catch { case NonFatal(e) => Some(e.toString) }
      wall += spans.all(rootId).seconds
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      w.between(spark)
      OpResult(op, spans.all(rootId).seconds, error.isEmpty, error.getOrElse(""))
    }.toIndexedSeq
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    val n = roots.size.toDouble
    val m = mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v / n

    roots.foreach { r =>
      val root = spans.all(r)
      val opWall = root.seconds
      val tree = spans.subtree(r)
      val (acc, jobWall) = counters.total(tree)
      add("engine.jobs", acc.jobs); add("engine.stages", acc.stages); add("engine.tasks", acc.tasks)
      add("engine.job_wall_s", jobWall); add("engine.driver_s", opWall - jobWall)
      add("engine.input_mb", acc.inputBytes / 1048576.0)
      add("engine.shuffle_write_mb", acc.shuffleWrite / 1048576.0)
      add("engine.spill_mb", acc.spill / 1048576.0)
      add("engine.cpu_s", acc.cpuNs / 1e9)
      add("sources.grid_scans_per_op", acc.gridScans.toDouble)
      val inTree = spans.all.filter(s => tree(s.id) && s.id != r)
      def named(name: String) = inTree.filter(_.name == name).map(_.seconds).sum
      Seq("sources.grid_scan", "sources.catalog_scan", "sources.write_csv", "schema.identify",
        "schema.standardize", "ops.stages", "ops.fuzzy", "pipeline.publish",
        "queries.build", "queries.plan", "queries.exec").foreach(nm => add(s"${nm}_s", named(nm)))
      val idSpans = inTree.filter(_.name == "schema.identify").map(_.id).toSet
      add("schema.identify_records_read", counters.total(idSpans)._1.inputRecords.toDouble)
      val buildSpans = inTree.filter(_.name == "queries.build").map(_.id).toSet
      add("queries.build_jobs", counters.total(buildSpans)._1.jobs.toDouble)
      layers.foreach { l =>
        add(s"self.${l}_s", inTree.filter(_.layer == l).map(spans.selfSeconds).sum)
      }
      val unattributed = spans.selfSeconds(root)
      add("trace.unattributed_s", unattributed)
      add("trace.coverage", if (opWall > 0) 1.0 - unattributed / opWall else 0.0)
    }
    m("engine.core_util") = m("engine.cpu_s") / (wall / n * Cores)
    // op-reported figures: mean over the ops that report them
    stats.perOp.flatMap(_.keys).distinct.foreach { k =>
      val xs = stats.perOp.flatMap(_.get(k))
      m(k) = xs.sum / xs.size
    }
    Seq("schema.new_names", "ops.fuzzy_pairs", "ops.fuzzy_match_frac", "queries.plan_nodes")
      .foreach(k => m.getOrElseUpdate(k, 0.0))
    m("jvm.gc_s") = Jvm.gcSeconds() - gc0
    m("jvm.pass_jit_s") = Jvm.jitSeconds() - jit0
    m("host.ext_cores") = Jvm.externalCores(cpu0, Jvm.cpuJiffies(), wall)
    m("trace.ops") = n

    // per query: mean build / plan / exec seconds
    val perQuery = om.createObjectNode()
    roots.groupBy(r => ops(spans.all(r).op)).toSeq.sortBy(_._1).foreach { case (q, rs) =>
      val o = perQuery.putObject(q)
      Seq("queries.build", "queries.plan", "queries.exec").foreach { nm =>
        val xs = rs.map(r => spans.all.filter(s => s.op == spans.all(r).op && s.name == nm).map(_.seconds).sum)
        o.put(nm.stripPrefix("queries.") + "_s", xs.sum / xs.size)
      }
    }
    Traced(results, wall, m, spans, perQuery)
  }

  // ====================================================================
  // hom_bulk / hom_importers: RunHomologation.main over generated grids
  // ====================================================================

  final class Hom(name: String, in: Gen.Inputs, work: Path) extends Workload {
    private val truths = in.truths.map(t => t.grid -> t).toMap
    val distinct: IndexedSeq[String] = in.truths.map(_.grid)
    private val mapping = work.resolve(s"$name-mapping.json")
    private val outRoot = work.resolve(s"$name-out")
    private val stdout = mutable.Map.empty[String, String]
    private val catalogRows = Files.readAllLines(in.catalog).size - 1

    override def gridRecords: Set[Long] = in.truths.map(_.records.toLong).toSet

    override def beforeSetup(): Unit =
      Files.copy(in.mapping, mapping, java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    private def outDir(op: String) = outRoot.resolve(op.stripSuffix(".csv"))

    override def prepare(op: String): Unit = Gen.deleteTree(outDir(op))

    def run(spark: SparkSession, op: String): Unit = {
      val buf = new ByteArrayOutputStream()
      val ps = new PrintStream(buf, true, StandardCharsets.UTF_8)
      Console.withOut(ps) {
        RunHomologation.main(Array(in.dir.resolve(op).toString, in.catalog.toString,
          outDir(op).toString, mapping.toString))
      }
      stdout(op) = buf.toString(StandardCharsets.UTF_8)
    }

    /** RunHomologation.main composed from the same public calls in the
      * same order, each wrapped in a span. */
    def traced(spark0: SparkSession, op: String, span: Spans, stats: LayerStats): Unit = {
      val st = stats.op()
      val out = outDir(op).toString
      val spark = span("engine.session") {
        GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "homologation")
      }
      val rules = new HeaderRules(mode = CompatMode.Reference)
      span("schema.load_store") { MappingStore.load(mapping, rules) }
      val known = rules.mappings.size
      val grid = span("sources.grid_scan") { OrderedScan.csvGrid(spark, in.dir.resolve(op).toString) }
      val catalog = span("sources.catalog_scan") { OrderedScan.csvCatalog(spark, in.catalog.toString) }
      // Homologation.pipeline: transformHeaders, then the stage chain
      val ident = span("schema.identify") { HeaderIdentify.identifyGrid(grid) }
      val headed = span("schema.standardize") {
        val stdMap = rules.batchStandardize(ident.names.map(_._2))
        val dataCols = grid.columns.filterNot(_ == OrderedScan.RowIdx)
        val seen = mutable.LinkedHashSet.empty[String]
        val selected = ident.names.flatMap { case (idx, flat) =>
          val std = stdMap(flat)
          if (seen.add(std)) Some(org.apache.spark.sql.functions.col(dataCols(idx)).as(std)) else None
        }
        grid.where(org.apache.spark.sql.functions.col(OrderedScan.RowIdx) >= ident.maxrow + 2)
          .select(selected :+ org.apache.spark.sql.functions.col(OrderedScan.RowIdx): _*)
      }
      st("schema.new_names") = (rules.mappings.size - known).toDouble
      val (staged, df) = span("ops.stages") {
        val chain = headed
          .transform(Stages.transformDatetime(_))
          .transform(Stages.transformCategoryCols(_, Homologation.categoryColumns))
          .transform(Stages.transformCombustible(_))
          .transform(Stages.transformCategoria(_))
          .transform(Stages.transformPbv(_))
          .transform(Stages.transformTipoLdv(_))
          .transform(Stages.rendEquiv(_, mode = CompatMode.Reference))
          .transform(Stages.co2Equiv(_))
          .transform(Stages.gasesEmissions(_))
        val staged = chain.persist(StorageLevel.MEMORY_AND_DISK)
        (staged, Stages.bevZeroAndImpute(staged))
      }
      val result = span("ops.fuzzy") { ImporterStandardizer.standardize(df, catalog) }
      val (published, y0, y1) = span("pipeline.publish") {
        val p = Homologation.publishProjection(result.standardized)
        val (a, b) = Homologation.yearRange(result.standardized)
        (p, a, b)
      }
      val outPath = s"$out/datos3cv_${y0}-${y1}.csv"
      span("sources.write_csv") { OrderedScan.writeSingleCsv(published, outPath) }
      span("schema.save_store") { MappingStore.save(rules, mapping) }
      val notFound = span("ops.fuzzy") { result.notFound.collect().map(_.getString(0)) }
      val names = truths(op).names
      st("ops.fuzzy_pairs") = names.toDouble * catalogRows
      st("ops.fuzzy_match_frac") = (names - notFound.length).toDouble / names
      span("pipeline.report") {
        if (notFound.nonEmpty) {
          System.err.println(s"[homologation] ${notFound.length} importer(s) not matched:")
          notFound.foreach(n => System.err.println(s"  - $n"))
        }
        stdout(op) = s"""{"published":"$outPath","rows":${published.count()},"years":[$y0,$y1],"importers_not_found":${notFound.length}}"""
      }
      span("ops.stages") { staged.unpersist() }
    }

    private val plainOutput = mutable.Map.empty[String, Seq[String]]

    /** Checks the output against the planted truth; a traced op's output
      * must also equal the plain op's on the same grid, rows sorted. */
    def check(op: String): Option[String] =
      HomCheck(truths(op), outDir(op), stdout.getOrElse(op, "")) match {
        case Left(msg) => Some(msg)
        case Right(rows) if !tracing => plainOutput(op) = rows; None
        case Right(rows) =>
          if (plainOutput.get(op).forall(_ == rows)) None
          else Some("traced output differs from the plain run's")
      }
  }

  // ====================================================================
  // suite_mix: SparkEntry.queries with the noop sink
  // ====================================================================

  /** One query for each of nine ops modules, from the 0.3-1.5 s band of
    * BENCH_DETAIL.json, plus p112_containment of the carried list; the
    * other modules and carried queries do not fit the run's time budget
    * (see perfbench/README.md). */
  val suiteQueries: IndexedSeq[String] = IndexedSeq(
    "p26_asof_join", "p176_ohlc", "p87_edit_neighbors", "p158_cardinality_profile",
    "p331_host_link_graph", "p13_multimodal", "p130_rfm", "p254_isotonic", "p09_text_stats",
    "p112_containment")

  final class Suite(dir: String, work: Path) extends Workload {
    val distinct: IndexedSeq[String] = suiteQueries
    private val queries = SparkEntry.queries
    private val checkOut = work.resolve("suite-out")

    def run(spark: SparkSession, op: String): Unit =
      queries(op)(spark, dir).write.mode("overwrite").format("noop").save()

    def traced(spark: SparkSession, op: String, span: Spans, stats: LayerStats): Unit = {
      val st = stats.op()
      val df = span("queries.build") { queries(op)(spark, dir) }
      val plan = span("queries.plan") { df.queryExecution.executedPlan }
      val physical = plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      st("queries.plan_nodes") = physical.collectWithSubqueries { case p => p }.size.toDouble
      span("queries.exec") { df.write.mode("overwrite").format("noop").save() }
    }

    override def between(spark: SparkSession): Unit = {
      graft.queries.PipelineQueries.reapMemos(spark)
      super.between(spark)
    }

    // hashes are compared against the DuckDB oracle by run.py
    def check(op: String): Option[String] = None

    /** The warm-up writes each query's output as parquet, with its oracle
      * SQL beside it, for run.py's comparison with the DuckDB oracle. */
    override def warm(spark: SparkSession, op: String): Unit = {
      queries(op)(spark, dir).write.mode("overwrite").parquet(checkOut.resolve(op).toString)
      SparkEntry.oracleSql.get(op).foreach(sql => oracle(op) = sql)
    }

    private val oracle = mutable.Map.empty[String, String]

    // a query whose warm-up fails must not pass on an earlier run's output
    override def beforeSetup(): Unit = { Gen.deleteTree(checkOut); oracle.clear() }

    override def finish(spark: SparkSession, out: ObjectNode): Unit = {
      val sql = om.createObjectNode()
      oracle.toSeq.sorted.foreach { case (q, s) => sql.put(q, s) }
      Files.createDirectories(checkOut)
      Files.writeString(checkOut.resolve("oracle_sql.json"), om.writeValueAsString(sql))
      out.put("suite_out", checkOut.toString)
    }
  }
}
