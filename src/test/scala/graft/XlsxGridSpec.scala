package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Homologation
import graft.schema.HeaderRules
import graft.sources.{OrderedScan, ReferenceData, XlsGrid, XlsxGrid}

/** OOXML workbook ingestion ([[XlsxGrid]]): the committed fixture's
  * sheets "2013"/"2014" hold the SAME content as fixture_3cv.xls, so the
  * container-independence contract is pinned grid-for-grid against the
  * BIFF8 reader — plus the OOXML-specific corners (inlineStr, cached
  * formula strings, booleans, errors, missing r attributes, rich-text
  * runs, xml:space preserve). Fixture generated offline by
  * `tools/make_xlsx_fixture.py` (deterministic; regenerate + diff to
  * audit). */
class XlsxGridSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val xlsx = "src/test/resources/fixture_3cv.xlsx"
  private val xls = "src/test/resources/fixture_3cv.xls"

  test("container independence: 2013/2014 grids equal the .xls twin's, cell for cell") {
    val fromXlsx = XlsxGrid.readSheets(xlsx)
    val fromXls = XlsGrid.readSheets(xls)
    assert(fromXlsx.map(_._1) == Seq("2013", "2014", "corner"))
    assert(fromXlsx(0)._2 == fromXls(0)._2)
    assert(fromXlsx(1)._2 == fromXls(1)._2)
  }

  test("OOXML cell corners: inlineStr/str/b/e, rich runs, r-less rows, envelope") {
    val grid = XlsxGrid.readSheets(xlsx)(2)._2
    val N = null.asInstanceOf[String]
    assert(grid == Vector(
      // empty formula-string result is null (the FORMULA+STRING contract);
      // the valueless H2 cell pushes the envelope to 8 columns
      Vector("inline cell", "formula", N, "True", "False", N, N, N),
      Vector("314159", "2.5", "euro€sign—and中文", N, N, N, N, N),
      // row 3 carries no r attributes at all — sequential positioning
      Vector("  padded  ", "7", "8.25", N, N, N, N, N)))
  }

  test("the zip workbook flows through the p01 pipeline identically to the .xls") {
    val rules = new HeaderRules()
    val catalog = OrderedScan.csvCatalog(
      spark, ReferenceData.importerCatalog)
    def publish(path: String) = Homologation.publishProjection(
      Homologation.pipeline(OrderedScan.xlsSheets(spark, path).head,
        rules, catalog, cache = false).standardized)
      .orderBy("MARCA").collect().map(_.toSeq).toSeq
    // xlsSheets dispatches on the container magic (PK vs OLE2) — same
    // call site, either artifact, identical published rows
    assert(publish(xlsx) == publish(xls))
  }
}
