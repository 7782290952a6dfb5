package graft

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, length, lit, regexp_replace, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.queries.PipelineQueries
import graft.sources.{OrderedScan, ReferenceData}

/** The runnable EP2+EP3 CLI driven through a CSV round-trip, including
  * the CRLF hazard (python csv writers emit \r\n; the multiLine parser
  * leaves \r in the record's last cell unless the grid reader strips it —
  * a silent header-detection killer, regression-pinned here). */
class RunHomologationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The demo grid written as a raw CSV file, rows ended by `eol`, its
    * three data rows, each passed through `data`, repeated `copies` times
    * below the header block. */
  private def demoGridCsv(prefix: String, eol: String, copies: Int = 1,
      data: Seq[Any] => Seq[Any] = identity): Path = {
    val all = PipelineQueries.demoGrid(spark)
      .orderBy("_row_idx").drop("_row_idx").collect().map(_.toSeq)
    val rows = all.take(3) ++ Seq.fill(copies)(all.drop(3).map(data)).flatten
    def quote(v: String) = "\"" + v.replace("\"", "\"\"") + "\""
    val csv = rows.map(_.map {
      case null => ""
      case s: String if s.contains(",") || s.contains("\n") || s.contains("\"") => quote(s)
      case s => s.toString
    }.mkString(",")).mkString(eol) + eol
    val f = Files.createTempFile(prefix, ".csv")
    Files.writeString(f, csv)
  }

  /** A two-row importer catalog from spec literals, written to `dir`. */
  private def inlineCatalog(dir: Path): Path =
    Files.writeString(dir.resolve("catalog.csv"), inlineCatalogLines.mkString("", "\n", "\n"))

  private val inlineCatalogLines = Seq(
    "COD_IMP,NOMBRE_EMP,RUT",
    "ASTA968612409,Astara Chile SPA,96.861.240-9",
    "GILD79649140K,Automotores Gildemeister SPA,79.649.140-K")

  test("csvGrid round-trips a CRLF grid with embedded-newline headers") {
    val grid = PipelineQueries.demoGrid(spark)
    val f = demoGridCsv("grid", "\r\n") // CRLF on purpose

    val reread = OrderedScan.csvGrid(spark, f.toString)
    // "" and null are indistinguishable in CSV and equivalent to the
    // pipeline (transformCategoryCols coalesces to "" first)
    def canon(s: Seq[Any]) = s.map { case "" => null; case v => v }
    val a = grid.orderBy("_row_idx").collect().map(r => canon(r.toSeq))
    val b = reread.orderBy("_row_idx").collect().map(r => canon(r.toSeq))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }

  /** The grid reader as a Catalyst projection over every column
    * (regexp_replace of "\r$", then empty to null) under a separate
    * row-index pass: the oracle the single-pass clean in `csvGrid` must
    * equal. */
  private def projectedGrid(path: String): DataFrame = {
    val raw = spark.read.option("header", "false").option("delimiter", ",")
      .option("nullValue", "").option("multiLine", "true").csv(path)
    val cleaned = raw.select(raw.columns.map { c =>
      val v = regexp_replace(col(c), "\r$", "")
      when(length(v) === 0, lit(null)).otherwise(v).as(c)
    }: _*)
    val schema = StructType(cleaned.schema.fields :+
      StructField(OrderedScan.RowIdx, LongType, nullable = false))
    spark.createDataFrame(
      cleaned.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }, schema)
  }

  /** A cell and whether to quote it (cells holding '\n', ',' or '"' are
    * always quoted). */
  private val cellGen: Gen[(String, Boolean)] = Gen.zip(Gen.frequency(
    3 -> Gen.oneOf("a", "b c", "2013"),
    2 -> Gen.const(""),
    1 -> Gen.const("\r"),
    2 -> Gen.oneOf("x\r", "x\r\n", "x\r\r", "\r\r", "\r\n"),
    2 -> Gen.oneOf("l1\nl2", "l1\r\nl2", "l1\r\nl2\r", "q,\"r\"")),
    Gen.oneOf(true, false))
  private val gridGen = for {
    eol <- Gen.oneOf("\n", "\r\n")
    nRows <- Gen.choose(1, 6)
    rows <- Gen.listOfN(nRows, Gen.choose(1, 5).flatMap(Gen.listOfN(_, cellGen)))
  } yield (eol, rows)

  test("property: csvGrid's single-pass clean equals the projected clean") {
    def quote(v: String) = "\"" + v.replace("\"", "\"\"") + "\""
    def rows(df: DataFrame) = df.orderBy(OrderedScan.RowIdx).collect().map(_.toSeq).toSeq
    val prop = Prop.forAllNoShrink(gridGen) { case (eol, cells) =>
      val text = cells.map(_.map { case (v, q) =>
        if (q || v.exists(c => c == '\n' || c == ',' || c == '"')) quote(v) else v
      }.mkString(",")).mkString("", eol, eol)
      val f = Files.createTempFile("grid_clean", ".csv")
      Files.writeString(f, text)
      val expected = projectedGrid(f.toString)
      // the first read infers the schema, the second takes it from the memo
      val reads = Seq.fill(2)(OrderedScan.csvGrid(spark, f.toString))
      reads.forall(g => g.schema == expected.schema && rows(g) == rows(expected))
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(20261020L)), prop)
    assert(result.passed, result.status.toString)
  }

  // A repeated run finds the first run's generated classes in the codegen
  // cache that GraftSession sizes (the conf assertion pins the size). How
  // many the first run compiles depends on which specs warmed the cache
  // before it, so only the second run's count is pinned.
  test("a repeated RunHomologation run reuses the first run's generated classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val grid = demoGridCsv("grid3", "\n")
    val dir = Files.createTempDirectory("hom_codegen")
    val catalog = inlineCatalog(dir)
    def compiles(run: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.pipeline.RunHomologation.main(Array(
        grid.toString, catalog.toString, dir.resolve(run).toString))
      assert(Files.isDirectory(dir.resolve(run).resolve("datos3cv_2013-2014.csv")))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles("run1")
    val second = compiles("run2")
    info(s"Janino compiles: first run $first, second run $second")
    assert(second == 0, s"first run compiled $first classes, the second $second")
  }

  test("RunHomologation main publishes the year-ranged CSV and mapping store") {
    val f = demoGridCsv("grid2", "\n")
    val outDir = Files.createTempDirectory("hom_out")
    val mapping = outDir.resolve("mapping.json")

    graft.pipeline.RunHomologation.main(Array(
      f.toString, ReferenceData.importerCatalog,
      outDir.toString, mapping.toString))

    val published = outDir.resolve("datos3cv_2013-2014.csv")
    assert(Files.isDirectory(published), s"missing $published")
    val lines = Files.list(published).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p, "UTF-8").getLines().toSeq)
    assert(lines.length == 4) // header + 3 rows
    assert(lines.head.startsWith("MARCA,MODELO,FECHA_HOML"))
    assert(Files.exists(mapping))
  }

  // One run's Spark jobs and the input records its tasks read. The grid
  // is parsed once (it is persisted before header identification), and
  // one summary aggregate, one scored importer collect and the write are
  // the only actions after the forward fill's preview. Input
  // records also count CSV schema inference, the catalog's reads and one
  // record per cached batch read, so the grid is made large enough
  // (303 records) that a second parse would show above all of those. A
  // second run on the same unchanged files takes both CSV schemas from
  // SchemaMemo, so its 3 inference jobs go.
  test("a RunHomologation run reads the grid once and fires a bounded number of jobs") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler._
    val copies = 100
    val grid = demoGridCsv("grid4", "\n", copies)
    val gridRecords = 3 + 3 * copies // header block + data rows
    val dir = Files.createTempDirectory("hom_jobs")
    val catalog = inlineCatalog(dir)
    /** (jobs, input records) of one run. */
    def probe(run: String): (Long, Long) = {
      val group = s"hom-jobs-probe-$run"
      val jobs = new AtomicLong
      val records = new AtomicLong
      val flushed = new CountDownLatch(1)
      val stages = ConcurrentHashMap.newKeySet[Int]()
      def inGroup(p: java.util.Properties, g: String) =
        Option(p).exists(_.getProperty("spark.jobGroup.id") == g)
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          if (inGroup(j.properties, group)) {
            jobs.incrementAndGet(); j.stageIds.foreach(stages.add)
          }
          if (inGroup(j.properties, group + "-flush")) flushed.countDown()
        }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (stages.contains(t.stageId) && t.taskMetrics != null)
            records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        spark.sparkContext.setJobGroup(group, "RunHomologation probe")
        graft.pipeline.RunHomologation.main(Array(
          grid.toString, catalog.toString, dir.resolve(run).toString))
        // flush marker: the listener bus is FIFO, so once this job's start
        // lands every event of the run before it has been delivered
        spark.sparkContext.setJobGroup(group + "-flush", "flush")
        spark.sparkContext.parallelize(Seq(1), 1).count()
        assert(flushed.await(30, TimeUnit.SECONDS))
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(l)
      }
      (jobs.get, records.get)
    }
    for ((run, maxJobs) <- Seq("cold" -> MaxJobs, "warm" -> MaxWarmJobs)) {
      val (jobs, records) = probe(run)
      info(s"$run run: jobs $jobs, input records $records (grid $gridRecords)")
      assert(jobs <= maxJobs, s"$run run: $jobs jobs, pinned at most $maxJobs")
      assert(records >= gridRecords && records < 2 * gridRecords,
        s"$run run read $records input records; one parse of the grid is $gridRecords")
    }
  }

  /** Jobs of one RunHomologation run on the demo grid, as measured: the
    * first run over new files, then a re-run over the same files. */
  private val MaxJobs = 11
  private val MaxWarmJobs = 8

  /** A physical plan's nodes, walked into AQE stages and into cached
    * tables' plans. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case m: InMemoryTableScanExec => planNodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(planNodes)
  })

  /** The name and executed plan of every query execution `body`
    * reports to a `QueryExecutionListener`. */
  private def queriesOf(body: => Unit): Seq[(String, SparkPlan)] = {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(f -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(f -> qe.executedPlan)
    }
    val group = "hom-query-probe"
    val flushed = new CountDownLatch(1)
    val fl = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          flushed.countDown()
    }
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(fl)
    try {
      body
      // query-execution events share the listener bus queue with job
      // events, so once this job's start lands they have all arrived
      spark.sparkContext.setJobGroup(group, "flush")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(fl)
      spark.listenerManager.unregister(ql)
    }
    plans.toArray(Array.empty[(String, SparkPlan)]).toSeq
  }

  // Every query one run executes, walked into AQE stages and into the
  // staged table's cached plan: the importer mapping is a literal-map
  // lookup, so no broadcast hash relation (each pins a
  // spark.buffer.pageSize page on the driver) is built.
  test("a RunHomologation run builds no hashed broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
    val dir = Files.createTempDirectory("hom_broadcasts")
    val plans = queriesOf(graft.pipeline.RunHomologation.main(Array(
      demoGridCsv("grid7", "\n", 20).toString, inlineCatalog(dir).toString,
      dir.resolve("out").toString)))
    val broadcasts = plans.flatMap(q => planNodes(q._2))
      .collect { case b: BroadcastExchangeExec => b }
      .distinctBy(System.identityHashCode)
    val hashed = broadcasts.filter(_.mode.isInstanceOf[HashedRelationBroadcastMode])
    info(s"${plans.size} queries, ${broadcasts.size} broadcasts, ${hashed.size} hashed")
    assert(plans.size > 0)
    assert(hashed.isEmpty, s"${hashed.size} hashed broadcasts")
  }

  // The grid's index pass and the forward fill read and build Catalyst
  // rows: `Dataset.rdd` would report an "rdd" execution, whose plan
  // decodes every row into a Row (DeserializeToObjectExec).
  test("a warm RunHomologation run decodes no Row: no rdd execution, no DeserializeToObjectExec") {
    import org.apache.spark.sql.execution.DeserializeToObjectExec
    val dir = Files.createTempDirectory("hom_rows")
    val grid = demoGridCsv("grid9", "\n", 20)
    val catalog = inlineCatalog(dir)
    def run(name: String): Unit = graft.pipeline.RunHomologation.main(Array(
      grid.toString, catalog.toString, dir.resolve(name).toString))
    run("cold")
    val plans = queriesOf(run("warm"))
    val rddRuns = plans.count(_._1 == "rdd")
    val decodes = plans.flatMap(q => planNodes(q._2)).count(_.isInstanceOf[DeserializeToObjectExec])
    info(s"${plans.size} queries: $rddRuns rdd executions, $decodes DeserializeToObjectExec")
    assert(plans.nonEmpty)
    assert(rddRuns == 0, s"$rddRuns rdd executions")
    assert(decodes == 0, s"$decodes DeserializeToObjectExec nodes")
  }

  // The typed stages are two layers of column definitions (conversions,
  // then derived columns), not one analyzed Project per stage half (14).
  test("the staged table is at most three analyzed projections above the forward fill") {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Window}
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.execution.LogicalRDD
    val dir = Files.createTempDirectory("hom_layers")
    val grid = OrderedScan.csvGrid(spark, demoGridCsv("grid10", "\n", 20).toString)
    val catalog = OrderedScan.csvCatalog(spark, inlineCatalog(dir).toString)
    val result = graft.pipeline.Homologation.pipeline(
      grid, new graft.schema.HeaderRules(), catalog)
    try {
      val cm = spark.sharedState.cacheManager
      // the topmost cached subtree of the result is the staged table
      val staged = result.standardized.queryExecution.analyzed
        .find(p => cm.lookupCachedData(castToImpl(spark), p).isDefined)
      assert(staged.isDefined, "the staged table should be cached")
      val plan = staged.get
      // a scan-ordered fill leaves one LogicalRDD and no window below
      assert(plan.collect { case r: LogicalRDD => r }.size == 1, plan.treeString)
      assert(plan.collect { case w: Window => w }.isEmpty, plan.treeString)
      val projects = plan.collect { case p: Project => p }.size
      info(s"$projects analyzed Projects above the fill")
      assert(projects <= 3, plan.treeString)
    } finally result.release()
  }

  test("a grid whose data rows hold no AÑO fails naming the grid") {
    val dir = Files.createTempDirectory("hom_no_year")
    // every FECHA_HOML is the '-' sentinel, so nothing fills AÑO
    val grid = demoGridCsv("grid8", "\n", data = _.updated(5, "-"))
    val cached = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.RunHomologation.main(Array(
        grid.toString, inlineCatalog(dir).toString, dir.resolve("out").toString))
    }
    assert(e.getMessage.contains(grid.toString))
    assert(spark.sparkContext.getPersistentRDDs.size == cached,
      "a failed run must still release the pipeline's caches")
    assert(!Files.exists(dir.resolve("out")))
  }

  // The staged chain (headers, forward fill, typed stages) over a
  // scan-ordered grid: the fill is one narrow pass, so nothing below the
  // staging persist shuffles, windows or broadcasts.
  test("the staged chain below the staging persist has no window, shuffle or broadcast") {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    def shuffles(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
      case _: ShuffleDependency[_, _, _] => true
      case d => shuffles(d.rdd)
    }
    val dir = Files.createTempDirectory("hom_plan")
    val grid = OrderedScan.csvGrid(spark, demoGridCsv("grid6", "\n", 20).toString)
    val catalog = OrderedScan.csvCatalog(spark, inlineCatalog(dir).toString)
    val result = graft.pipeline.Homologation.pipeline(
      grid, new graft.schema.HeaderRules(), catalog)
    try {
      assert(result.standardized.count() == 60)
      val staged = result.standardized.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(staged.nonEmpty, "the staged table should be cached")
      staged.foreach { r =>
        val bad = planNodes(r.cachedPlan).filter(n =>
          n.isInstanceOf[WindowExec] || n.isInstanceOf[Exchange])
        assert(bad.isEmpty, s"below the staging persist: ${bad.map(_.nodeName)}")
        assert(!shuffles(r.cacheBuilder.cachedColumnBuffers),
          "the staged table's lineage holds a shuffle")
      }
    } finally result.release()
  }

  test("RunHomologation inside a running session leaves its confs alone") {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    val dir = Files.createTempDirectory("hom_session")
    try {
      spark.conf.set(key, "3")
      graft.pipeline.RunHomologation.main(Array(
        demoGridCsv("grid5", "\n").toString, inlineCatalog(dir).toString,
        dir.resolve("out").toString))
      assert(spark.conf.get(key) == "3")
      assert(!spark.sparkContext.isStopped)
    } finally spark.conf.set(key, old)
  }
}
