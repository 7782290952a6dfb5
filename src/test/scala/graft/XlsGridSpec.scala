package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Homologation
import graft.queries.PipelineQueries
import graft.schema.HeaderRules
import graft.sources.{OrderedScan, ReferenceData, XlsGrid}

/** BIFF8 workbook ingestion ([[XlsGrid]]): the committed fixtures pin
  * both CFB stream paths (ministream below the 4096 cutoff, regular FAT
  * above), SST CONTINUE splits mid-string, the RK/MULRK/MULBLANK/BOOLERR
  * cell records, and — the point of the source — that the binary
  * workbook flows through the homologation pipeline identically to the
  * reference demo grid. Fixtures are generated offline by
  * `tools/make_xls_fixture.py` (deterministic; regenerate + diff to
  * audit). */
class XlsGridSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val small = "src/test/resources/fixture_3cv.xls"
  private val stress = "src/test/resources/fixture_sst_continue.xls"

  private val N = null.asInstanceOf[String]
  private val demoRows: Seq[Seq[String]] = Seq(
    Seq("Marca", "Modelo", "Importador", "Propulsión", "Combustible",
      "Fecha de Homologación", "P.B.V.              (kg)", "Rendimiento", N,
      "Emisiones de CO2 (g/km)", "CO \n(g/km) Norma Europea", N),
    Seq(N, N, N, N, N, N, N,
      "Mixto Rendimiento de Combustible (km/l)",
      "Rendimiento Eléctrico (km/kwh) Vehículo Eléctrico Puro", N, N, N),
    Seq(N, N, N, N, N, N, N, N, N, N, N, "x"),
    Seq("TOYOTA", "YARIS", "Astara. Chile - SPA", "Combustión", "GASOLINA",
      "2013-01-04", "1500", "15.5", "-", "120", "0.5", N),
    Seq("BYD", "HAN", "Automotores  Gildemeister spa.", "Vehículo Eléctrico", "",
      "-", "-", "-", "6.1", "-", "-", N),
    Seq("KIA", "EV6", "Desconocido Ltda", "Vehículo Eléctrico", "",
      "2014-06-10", "2000", "-", "5.0", "-", "-", N))

  test("ministream fixture: sheets, names, and every cell round-trip") {
    val sheets = XlsGrid.readSheets(small)
    assert(sheets.map(_._1) == Seq("2013", "2014"))
    val grid = sheets.head._2
    assert(grid.length == demoRows.length)
    demoRows.zip(grid).zipWithIndex.foreach { case ((want, got), r) =>
      assert(got == want.toVector, s"row $r")
    }
    assert(sheets(1)._2 ==
      Vector(Vector("Marca", "Modelo"), Vector("HONDA", "CIVIC"), Vector("MAZDA", "3")))
  }

  test("FAT-stream fixture: SST survives CONTINUE splits; RK/MULRK/MULBLANK/BOOLERR") {
    val grid = XlsGrid.readSheets(stress).head._2
    // same construction as tools/make_xls_fixture.py STRESS_STRINGS
    val want = (0 until 200).map(i =>
      f"s$i%03d:" + ("abcdefghij" * 10).take(94 + (i % 7))) :+ "euro€sign—and中文"
    want.zipWithIndex.foreach { case (s, r) =>
      assert(grid(r)(0) == s, s"sst string $r")
    }
    val r = want.length
    assert(grid(r) == Vector("314159", "2.5", null))       // RK int + div100
    assert(grid(r + 1) == Vector("7", "8", "9"))           // MULRK
    assert(grid(r + 2) == Vector(null, null, null))        // MULBLANK
    assert(grid(r + 3) == Vector("True", null, null))      // BOOLERR
  }

  test("the binary workbook flows through the p01 pipeline unchanged") {
    val rules = new HeaderRules()
    val catalog = OrderedScan.csvCatalog(
      spark, ReferenceData.importerCatalog)
    val fromXls = Homologation.publishProjection(
      Homologation.pipeline(OrderedScan.xlsSheets(spark, small).head,
        rules, catalog, cache = false).standardized)
    val fromDemo = Homologation.publishProjection(
      Homologation.pipeline(PipelineQueries.demoGrid(spark),
        rules, catalog, cache = false).standardized)
    val a = fromXls.orderBy("MARCA").collect().map(_.toSeq)
    val b = fromDemo.orderBy("MARCA").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
