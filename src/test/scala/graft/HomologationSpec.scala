package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Homologation
import graft.schema.HeaderRules
import graft.sources.{OrderedScan, ReferenceData}

/** EP2/EP3 end-to-end: a reference-shaped raw grid (multi-row header
  * hierarchy + all-string cells + '-' sentinels) through the full
  * pipeline. Header texts mirror the production workbook's phrasing so
  * the rules engine standardizes them to the exact column names the
  * dispatch stages read (MIXTO_REND_COMBUSTIBLE_KML etc.). */
class HomologationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val N = null.asInstanceOf[String]

  // 12 columns; retained header levels = rows 0-1, row 2 is the deepest
  // level (dropped, per select_header_levels), data from row 3 (maxrow+2).
  private def rawGrid = Seq(
    // row 0: parents (full text for scalar columns; group parent at col 7)
    Seq("Marca", "Modelo", "Importador", "Propulsión", "Combustible",
      "Fecha de Homologación", "P.B.V.              (kg)", "Rendimiento", N,
      "Emisiones de CO2 (g/km)", "CO \n(g/km) Norma Europea", N),
    // row 1: children of the Rendimiento group
    Seq(N, N, N, N, N, N, N,
      "Mixto Rendimiento de Combustible (km/l)",
      "Rendimiento Eléctrico (km/kwh) Vehículo Eléctrico Puro", N, N, N),
    // row 2: deepest level — only a junk column, forces maxrow selection
    Seq(N, N, N, N, N, N, N, N, N, N, N, "x"),
    // data rows
    Seq("TOYOTA", "YARIS", "Astara. Chile - SPA", "Combustión", "GASOLINA",
      "2013-01-04", "1500", "15.5", "-", "120", "0.5", N),
    Seq("BYD", "HAN", "Automotores  Gildemeister spa.", "Vehículo Eléctrico", "",
      "-", "-", "-", "6.1", "-", "-", N),
    Seq("KIA", "EV6", "Desconocido Ltda", "Vehículo Eléctrico", "",
      "2014-06-10", "2000", "-", "5.0", "-", "-", N))

  test("full pipeline: headers → stages → importers → publish") {
    val grid = OrderedScan.fromGrid(spark, rawGrid, 12)
    val rules = new HeaderRules()
    val catalog = OrderedScan.csvCatalog(
      spark, ReferenceData.importerCatalog)
    val result = Homologation.pipeline(grid, rules, catalog)
    val df = result.standardized.orderBy("_row_idx").cache()

    assert(df.count() == 3)
    val cols = df.columns.toSet
    Seq("MARCA", "FECHA_HOML", "AÑO", "CATEGORIA_PROPULSION",
      "MIXTO_REND_COMBUSTIBLE_KML", "REND_EV_VH_KMKWH", "EMIS_CO2_GKM",
      "REND_EQUIV_KML", "EMIS_CO2_EQUIV", "TIPO_LDV", "CO_GKM")
      .foreach(c => assert(cols.contains(c), s"missing column $c in ${cols.toSeq.sorted}"))

    val rows = df.collect()
    def s(r: Int, c: String) = rows(r).getAs[String](c)
    def d(r: Int, c: String): Option[Double] = {
      val i = rows(r).fieldIndex(c)
      if (rows(r).isNullAt(i)) None else Some(rows(r).getDouble(i))
    }
    def i(r: Int, c: String) = rows(r).getAs[Int](c)

    // categories + combustible default
    assert(s(0, "CATEGORIA_PROPULSION") == "ice")
    assert(s(1, "CATEGORIA_PROPULSION") == "bev")
    assert(s(1, "COMBUSTIBLE") == "electrico")
    // year + ffill of '-' date (row 1 inherits 2013 from row 0)
    assert(i(0, "AÑO") == 2013 && i(1, "AÑO") == 2013 && i(2, "AÑO") == 2014)
    // pbv ffill: row1 '-' inherits 1500
    assert(d(1, "PESO_BRUTO_VH_KG").contains(1500.0))
    assert(s(0, "TIPO_LDV") == "liviano")
    // rend: ice/gasolina → mixto × 1; bev/electrico → EV col × 8.6
    assert(d(0, "REND_EQUIV_KML").contains(15.5))
    assert(d(1, "REND_EQUIV_KML").contains(52.46))
    assert(d(2, "REND_EQUIV_KML").contains(43.0))
    // co2: gasolina → EMIS_CO2_GKM = 120; bev rows zeroed
    assert(d(0, "EMIS_CO2_EQUIV").contains(120.0))
    assert(d(1, "EMIS_CO2_EQUIV").contains(0.0))
    assert(d(2, "EMIS_CO2_EQUIV").contains(0.0))
    // gases row-mean with single source column
    assert(d(0, "CO_GKM").contains(0.5))
    assert(d(1, "CO_GKM").contains(0.0))

    // importer fuzzy-standardization happens on the category-normalized
    // (lowercased) names vs the mixed-case catalog — long names clear the
    // 0.6 bar, garbage stays as-is and is reported
    assert(s(0, "IMPORTADOR") == "Astara Chile SPA")
    assert(s(0, "RUT") == "96.861.240-9")
    assert(s(1, "IMPORTADOR") == "Automotores Gildemeister SPA")
    assert(s(1, "IMP_COD") == "GILD79649140K")
    assert(s(2, "IMPORTADOR") == "desconocido ltda")
    val nf = result.notFound.collect().map(_.getString(0)).toSet
    assert(nf == Set("desconocido ltda"))

    // publish projection keeps declared order & present columns only
    val pub = Homologation.publishProjection(df)
    assert(pub.columns.head == "MARCA")
    assert(!pub.columns.contains("_row_idx"))
    assert(Homologation.yearRange(df) == (2013, 2014))
    result.release()
  }

  test("Result.release() frees the grid and staging caches; cache=false never persists") {
    import spark.implicits._
    // distinct grid (extra data row) so the CacheManager can't alias this
    // plan to one cached by another test
    val grid = OrderedScan.fromGrid(spark, rawGrid :+
      Seq("FORD", "FOCUS", "Astara. Chile - SPA", "Combustión", "GASOLINA",
        "2015-02-02", "1400", "14.0", "-", "130", "0.4", N), 12)
    val catalog = Seq(
      ("ASTA968612409", "Astara Chile SPA", "96.861.240-9"),
      ("GILD79649140K", "Automotores Gildemeister SPA", "79.649.140-K"))
      .toDF("COD_IMP", "NOMBRE_EMP", "RUT")
    val before = spark.sparkContext.getPersistentRDDs.size
    val result = Homologation.pipeline(grid, new HeaderRules(), catalog)
    assert(result.standardized.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.size == before + 2,
      "the raw grid and the staged table should both be cached")
    result.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before, "release must unpersist")

    val grid2 = OrderedScan.fromGrid(spark, rawGrid :+
      Seq("FORD", "FIESTA", "Astara. Chile - SPA", "Combustión", "GASOLINA",
        "2015-03-03", "1300", "16.0", "-", "110", "0.3", N), 12)
    val r2 = Homologation.pipeline(grid2, new HeaderRules(), catalog, cache = false)
    assert(r2.standardized.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.size == before, "cache=false must not persist")
    r2.release() // no-op
  }
}
