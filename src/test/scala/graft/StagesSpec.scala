package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CompatMode, Stages}
import graft.pipeline.Homologation

/** F1–F12/A1/A3 transform stages, with the reference quirks (SURVEY §2.8
  * F12 a–d) pinned in both CompatModes. */
class StagesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("transformDatetime: sentinel → ffill → timestamp → year") {
    val df = Seq(
      (0L, "2013-01-04"), (1L, "-"), (2L, "2014-02-01"), (3L, "-"))
      .toDF("_row_idx", "FECHA_HOML")
    val out = Stages.transformDatetime(df).orderBy("_row_idx")
      .select("AÑO").as[Int].collect()
    assert(out.toSeq == Seq(2013, 2013, 2014, 2014))
  }

  test("transformCategoryCols + transformCombustible normalize and default") {
    val df = Seq(
      ("  GASOLINA ", "Eléctrico"),
      (null, "COMBUSTIÓN")).toDF("COMBUSTIBLE", "PROPULSION")
    val out = Stages.transformCombustible(
      Stages.transformCategoryCols(df, Seq("COMBUSTIBLE", "PROPULSION")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out(0) == ("gasolina", "electrico"))
    assert(out(1) == ("electrico", "combustion")) // null → "" → "electrico"
  }

  test("propulsion category CASE tree") {
    val df = Seq(
      "vehiculo electrico", "combustion", "electrico de rango extendido",
      "vehiculos hibridos sin recarga exterior", "vehiculos celda de hidrogeno",
      "vehiculos hibridos con recarga exterior",
      "electrico hibrido con recarga exterior", "otro").toDF("PROPULSION")
    val out = Stages.transformCategoria(df).select("CATEGORIA_PROPULSION")
      .as[String].collect()
    assert(out.toSeq == Seq("bev", "ice", "ice", "hev", "h2", "phev", "phev", ""))
  }

  test("tipo LDV weight bands leave heavy vehicles null") {
    val df = Seq("1000", "2700", "3859.9", "3860", "5000")
      .toDF("PESO_BRUTO_VH_KG")
    val out = Stages.transformTipoLdv(df).select("TIPO_LDV").collect()
      .map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("liviano"), Some("mediano"), Some("mediano"), None, None))
  }

  private def rendDf(prop: String, comb: String) = Seq(
    (prop, comb, "10", "5", "20", "2.5", "8")
  ).toDF("PROPULSION", "COMBUSTIBLE", "MIXTO_REND_COMBUSTIBLE_KML",
    "REND_EV_VH_KMKWH", "COMB_REND_WLTC_KML",
    "REND_LOW_H2_KG_100_KM_FCEV_VH_CELDA", "MIXTO_REND_GASOL_VH_GLP_GNC_KML")

  private def rend(prop: String, comb: String, mode: CompatMode): Option[Double] = {
    val r = Stages.rendEquiv(rendDf(prop, comb), mode = mode).select("REND_EQUIV_KML").first()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("rendEquiv dispatch: base factors") {
    assert(rend("combustion", "gasolina", CompatMode.Reference).contains(10.0))
    assert(rend("combustion", "diesel", CompatMode.Reference).contains(8.7))
    assert(rend("vehiculo electrico", "electrico", CompatMode.Reference).contains(43.0))
  }

  test("rendEquiv quirk a: plural PHEV phrasing matches only in Intended mode") {
    val plural = "vehiculos hibridos con recarga exterior"
    assert(rend(plural, "gasolina", CompatMode.Reference).isEmpty)
    assert(rend(plural, "gasolina", CompatMode.Intended).contains(20.0))
    // the singular phrasing — what the production data actually contains
    // (see tmp/datos_tmp.csv) — matches in BOTH modes
    assert(rend("vehiculos hibrido con recarga exterior", "gasolina",
      CompatMode.Reference).contains(20.0))
    assert(rend("electrico hibrido con recarga exterior", "gasolina",
      CompatMode.Reference).contains(20.0))
  }

  test("rendEquiv quirk b: gasolina/hibrido reads the GLP/GNC column in Reference mode") {
    assert(rend("combustion", "gasolina/hibrido", CompatMode.Reference).contains(8.0))
    assert(rend("combustion", "gasolina/hibrido", CompatMode.Intended).contains(10.0))
    assert(rend("combustion", "gasolina/glp", CompatMode.Reference).contains(8.0))
  }

  test("rendEquiv quirk c: hidrogreno typo in Reference, fixed in Intended") {
    val h2 = "vehiculos celda de hidrogeno"
    assert(rend(h2, "hidrogreno", CompatMode.Reference).contains(937.4))
    assert(rend(h2, "hidrogeno", CompatMode.Reference).isEmpty)
    assert(rend(h2, "hidrogeno", CompatMode.Intended).contains(937.4))
  }

  test("co2Equiv maps by combustible; '-' coerces to null") {
    val df = Seq(
      ("diesel", "120", "-", "99"),
      ("gasolina/gnc", "120", "80", "99"),
      ("gasolina/hibrido", "120", "80", "99"),
      ("otro", "120", "80", "99"))
      .toDF("COMBUSTIBLE", "EMIS_CO2_GKM", "CO2_VH_GASOL_GLP_GNC_GRKM",
        "CO2_PHEV_REND_PONDERADO_VH_GKM")
    val out = Stages.co2Equiv(df).select("EMIS_CO2_EQUIV").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(120.0), Some(80.0), Some(99.0), None))
  }

  test("gases emissions: NaN-as-zero with fixed denominator (pandas semantics)") {
    val df = Seq(
      ("0.1", "-"),
      ("-", "-"),
      ("0.2", "0.4")).toDF("CO_EMISION_EPA_GKM", "CO_EMISION_EU_GKM")
    val out = Stages.gasesEmissions(df).select("CO_GKM").as[Double].collect()
    val expected = Seq(0.05, 0.0, 0.3) // sum(coalesce)/2 always
    out.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("bevZeroAndImpute zeroes BEV CO2 then mean-imputes both measures") {
    val df = Seq(
      ("bev", Some(50.0), Some(10.0)),
      ("ice", None, None),
      ("ice", Some(100.0), Some(20.0)))
      .toDF("CATEGORIA_PROPULSION", "EMIS_CO2_EQUIV", "REND_EQUIV_KML")
    val out = Stages.bevZeroAndImpute(df)
      .select("EMIS_CO2_EQUIV", "REND_EQUIV_KML").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // bev co2 → 0; mean co2 = (0+100)/2 = 50; mean rend = (10+20)/2 = 15
    assert(out.toSeq == Seq((0.0, 10.0), (50.0, 15.0), (100.0, 20.0)))
  }

  // A filled table with every column a stage reads, over the propulsion ×
  // combustible key space, numeric cells cycling through numbers, '-',
  // garbage, "" and null, and a gas target (CO_GKM) already present.
  private def wideFilled: DataFrame = {
    val props = Seq("Combustión", "Vehículo Eléctrico", "vehiculos hibrido con recarga exterior",
      "vehiculos hibridos con recarga exterior", "electrico hibrido con recarga exterior",
      "Vehículos Híbridos sin Recarga Exterior", "vehiculos celda de hidrogeno",
      "electrico de rango extendido", "otro", null)
    val combs = Seq("GASOLINA", "Diésel", "", null, "Eléctrico", "gasolina/glp", "GASOLINA/GNC",
      "gasolina/hibrido", "hidrogreno", "Hidrógeno")
    val numeric = Seq("12.5", "-", "x", "", null, "3", "0.25")
    val sources = Seq("MIXTO_REND_COMBUSTIBLE_KML", "REND_EV_VH_KMKWH", "COMB_REND_WLTC_KML",
      "REND_LOW_H2_KG_100_KM_FCEV_VH_CELDA", "MIXTO_REND_GASOL_VH_GLP_GNC_KML",
      "EMIS_CO2_GKM", "CO2_VH_GASOL_GLP_GNC_GRKM", "CO2_PHEV_REND_PONDERADO_VH_GKM",
      "N2O_EMISION_EPA", "MP_EMISION_EPA_MASA_PARTICULAS_GKM", "EMISION_NPS_KM_EU_KM",
      "HCHO_EMISION_EPA_MGKM", "HCHO_EMISION_EU_MGKM", "HC_EMISION_EU_GKM",
      "HC_NOX_EMISION_EU_GKM", "NMOG_NOX_EMISION_EPA", "NOX_EMISION_EPA_GKM",
      "CO_EMISION_EPA_GKM", "CO_EMISION_EU_GKM", "CO_GKM")
    val text = Seq("CATEGORIA_VH", "IMPORTADOR", "MARCA", "MODELO", "EMIS_NORMA", "TIPO_CARROCERIA")
    val rows = for ((p, i) <- props.zipWithIndex; (c, j) <- combs.zipWithIndex) yield {
      val k = i * combs.size + j
      Row.fromSeq(Seq(k.toLong, if (k % 5 == 0) null else s"201${k % 9}-0${k % 9 + 1}-1${k % 7}",
        numeric((k + 2) % numeric.size), p, c) ++
        text.map(t => if (k % 4 == 0) null else s" ${t.take(3)} Ñandú $k ") ++
        sources.indices.map(n => numeric((k * 3 + n) % numeric.size)))
    }
    val names = Seq("_row_idx", "FECHA_HOML", "PESO_BRUTO_VH_KG", "PROPULSION", "COMBUSTIBLE") ++
      text ++ sources
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(names.map(n =>
      StructField(n, if (n == "_row_idx") LongType else StringType))))
  }

  test("the homologation stages as two layers equal the per-stage chain") {
    val filled = wideFilled
    def rows(df: DataFrame) = df.orderBy("_row_idx").collect().map(_.toSeq).toSeq
    def projects(df: DataFrame) = df.queryExecution.analyzed.collect { case p: Project => p }.size
    for (mode <- Seq(CompatMode.Reference, CompatMode.Intended)) {
      val chain = filled
        .transform(Stages.deriveDatetime(_))
        .transform(Stages.transformCategoryCols(_, Homologation.categoryColumns))
        .transform(Stages.transformCombustible(_))
        .transform(Stages.transformCategoria(_))
        .transform(Stages.derivePbv(_))
        .transform(Stages.transformTipoLdv(_))
        .transform(Stages.rendEquiv(_, mode = mode))
        .transform(Stages.co2Equiv(_))
        .transform(Stages.gasesEmissions(_))
      val layered = Stages.layered(filled, Homologation.stages(filled.columns, mode))
      assert(projects(chain) - projects(filled) == 14)
      assert(projects(layered) - projects(filled) == 2)
      assert(layered.schema == chain.schema)
      assert(rows(layered) == rows(chain), mode)
    }
  }
}
