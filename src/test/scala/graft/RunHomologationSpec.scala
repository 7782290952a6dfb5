package graft

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.queries.PipelineQueries
import graft.sources.OrderedScan

/** The runnable EP2+EP3 CLI driven through a CSV round-trip, including
  * the CRLF hazard (python csv writers emit \r\n; the multiLine parser
  * leaves \r in the record's last cell unless the grid reader strips it —
  * a silent header-detection killer, regression-pinned here). */
class RunHomologationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The demo grid written as a raw CSV file, rows ended by `eol`. */
  private def demoGridCsv(prefix: String, eol: String): Path = {
    val rows = PipelineQueries.demoGrid(spark)
      .orderBy("_row_idx").drop("_row_idx").collect()
    def quote(v: String) = "\"" + v.replace("\"", "\"\"") + "\""
    val csv = rows.map(_.toSeq.map {
      case null => ""
      case s: String if s.contains(",") || s.contains("\n") || s.contains("\"") => quote(s)
      case s => s.toString
    }.mkString(",")).mkString(eol) + eol
    val f = Files.createTempFile(prefix, ".csv")
    Files.writeString(f, csv)
  }

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

  // One run's generated classes (120–140) outnumber Spark's default code
  // cache (100 entries): at that size the LRU evicts every class before
  // the next run needs it, and each run compiles them all again. This
  // test runs before the next one, which drives the same pipeline and
  // would otherwise warm the cache for its first run.
  test("a repeated RunHomologation run reuses the first run's generated classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val grid = demoGridCsv("grid3", "\n")
    val dir = Files.createTempDirectory("hom_codegen")
    val catalog = dir.resolve("catalog.csv")
    Files.writeString(catalog, Seq(
      "COD_IMP,NOMBRE_EMP,RUT",
      "ASTA968612409,Astara Chile SPA,96.861.240-9",
      "GILD79649140K,Automotores Gildemeister SPA,79.649.140-K").mkString("", "\n", "\n"))
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
    assert(second * 10 < first, s"first run compiled $first classes, the second $second")
  }

  test("RunHomologation main publishes the year-ranged CSV and mapping store") {
    val f = demoGridCsv("grid2", "\n")
    val outDir = Files.createTempDirectory("hom_out")
    val mapping = outDir.resolve("mapping.json")

    graft.pipeline.RunHomologation.main(Array(
      f.toString, "/root/reference/data/processed/bd-importadores.csv",
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
}
