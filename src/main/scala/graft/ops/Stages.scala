package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Whether quirky reference behaviors are reproduced bit-for-bit
  * (`Reference`) or replaced by the evidently intended semantics
  * (`Intended`). See SURVEY.md §2.8 F12 quirks a–d.
  */
sealed trait CompatMode
object CompatMode {
  case object Reference extends CompatMode
  case object Intended extends CompatMode
}

/** The typed column-transform layer (SURVEY §2 F1–F12, A1, A3). Each
  * stage mirrors a function in the reference's src/transform_pipeline.py
  * (cited per stage) and is written once, as column definitions: a
  * [[ColumnStage]] of lazy Catalyst expressions (constant-foldable CASE
  * trees and coerce-to-null casts) over its input's columns. The
  * `DataFrame => DataFrame` functions, composable with
  * `df.transform(...)`, are thin wrappers that apply one definition
  * ([[applyStage]]); [[graft.pipeline.Homologation.pipeline]] composes
  * all of them into two wide projections ([[layered]]). The one
  * order-dependent step, the forward fill in [[fillSentinels]], is
  * [[Ffill.ffill]]: over scan-ordered input a per-partition pass seeded
  * by a ≤ #partitions-row preview, else a partition-parallel blocked
  * window fill.
  */
object Stages {

  /** One stage as column definitions: `convert` rewrites columns in
    * place, each from its own current value, and `derive` adds columns
    * (or replaces them, as `withColumn` does) from the input's columns
    * after this stage's conversions. */
  final case class ColumnStage(
      convert: Seq[(String, Column => Column)] = Nil,
      derive: Seq[(String, Column)] = Nil)

  /** One stage on its own: a projection of its conversions, then one of
    * its derivations (an empty half adds none). */
  private def applyStage(df: DataFrame, stage: ColumnStage): DataFrame =
    project(project(df, stage.convert.map { case (c, f) => c -> f(col(c)) }), stage.derive)

  /** `stages` in order as two projections: every column's conversions
    * composed in stage order, then every derivation over the converted
    * columns. This equals applying them one by one
    * (`stages.foldLeft(df)(applyStage)`) as long as no stage derives
    * from a column that a later stage converts, and no stage reads a
    * column that a stage derives, which holds for the homologation
    * stages ([[graft.pipeline.Homologation.stages]]). Each projection
    * is an analyzer pass on the driver: composed, the homologation stages
    * take 2, applied one by one 14. */
  def layered(df: DataFrame, stages: Seq[ColumnStage]): DataFrame = {
    val converted = stages.flatMap(_.convert).foldLeft(ListMap.empty[String, Column]) {
      case (m, (c, f)) => m.updated(c, f(m.getOrElse(c, col(c))))
    }
    project(project(df, converted.toSeq), stages.flatMap(_.derive))
  }

  /** `defs` in one projection, each replacing its column in place or
    * appended in order. A per-column `withColumn` fold adds one Project
    * (and one full analyzer pass) per column — on the ~100-column
    * pipeline that driver-side plan-compile tax dominated small-grid
    * latency. */
  private def project(df: DataFrame, defs: Seq[(String, Column)]): DataFrame =
    if (defs.isEmpty) df else df.withColumns(ListMap(defs: _*))

  /** F1: sentinel `'-'` → NULL (transform_pipeline.py:38,50,122,143). */
  def sentinelToNull(c: Column, sentinel: String = "-"): Column =
    when(c === sentinel, lit(null)).otherwise(c)

  /** F4: string→double with coerce-to-null on garbage
    * (pd.to_numeric(errors="coerce"), transform_pipeline.py:52,123).
    * try_cast is ANSI-mode-independent, so the stage behaves identically
    * under a caller-provided ANSI session. */
  def tryDouble(c: Column): Column = c.try_cast("double")

  /** [[tryDouble]] after `'-'` → NULL. */
  private def tryDoubleOf(c: Column): Column = nullif(c, lit("-")).try_cast("double")

  /** The fill half of transform_datetime and transform_pbv
    * (transform_pipeline.py:38-39,50-51): `'-'`→NULL in each of `columns`,
    * then one forward fill of all of them over file order. Requires
    * `orderCol` (the explicit row index threaded from the scan — SURVEY
    * §4); over a scan-ordered input the fill needs no shuffle (see
    * [[Ffill]]). */
  def fillSentinels(
      df: DataFrame,
      columns: Seq[String],
      orderCol: String = "_row_idx"): DataFrame =
    Ffill.ffill(project(df, columns.map(c => c -> sentinelToNull(col(c)))), orderCol, columns)

  /** The derive half of transform_datetime (transform_pipeline.py:40-43):
    * cast to timestamp, derive AÑO. */
  def datetime(column: String = "FECHA_HOML", yearCol: String = "AÑO"): ColumnStage =
    ColumnStage(Seq(column -> ((c: Column) => to_timestamp(c))), Seq(yearCol -> year(col(column))))

  def deriveDatetime(
      df: DataFrame,
      column: String = "FECHA_HOML",
      yearCol: String = "AÑO"): DataFrame =
    applyStage(df, datetime(column, yearCol))

  /** The derive half of transform_pbv (transform_pipeline.py:52): to
    * numeric. */
  def pbv(column: String = "PESO_BRUTO_VH_KG"): ColumnStage =
    ColumnStage(Seq(column -> tryDouble _))

  def derivePbv(df: DataFrame, column: String = "PESO_BRUTO_VH_KG"): DataFrame =
    applyStage(df, pbv(column))

  /** transform_datetime (transform_pipeline.py:34-43): `'-'`→NULL, ffill
    * over file order, cast to date, derive AÑO. */
  def transformDatetime(
      df: DataFrame,
      column: String = "FECHA_HOML",
      yearCol: String = "AÑO",
      orderCol: String = "_row_idx"): DataFrame =
    deriveDatetime(fillSentinels(df, Seq(column), orderCol), column, yearCol)

  /** transform_pbv (transform_pipeline.py:46-53): `'-'`→NULL, ffill, to
    * numeric. */
  def transformPbv(
      df: DataFrame,
      column: String = "PESO_BRUTO_VH_KG",
      orderCol: String = "_row_idx"): DataFrame =
    derivePbv(fillSentinels(df, Seq(column), orderCol), column)

  /** transform_category_cols (transform_pipeline.py:55-66): NULL→"",
    * lower, unaccent, trim — for each of `columns` that the input's
    * `inputCols` hold. */
  def categoryCols(columns: Seq[String], inputCols: Seq[String]): ColumnStage =
    ColumnStage(columns.filter(inputCols.contains).map(_ ->
      ((c: Column) => TextFunctions.normalizeCategory(coalesce(c, lit(""))))))

  def transformCategoryCols(df: DataFrame, columns: Seq[String]): DataFrame =
    applyStage(df, categoryCols(columns, df.columns))

  /** transform_combustible (transform_pipeline.py:68-74): lower+unaccent,
    * empty→"electrico". */
  def combustible(column: String = "COMBUSTIBLE"): ColumnStage =
    ColumnStage(Seq(column -> { (c: Column) =>
      val v = TextFunctions.unaccent(lower(c))
      when(v === "", "electrico").otherwise(v)
    }))

  def transformCombustible(df: DataFrame, column: String = "COMBUSTIBLE"): DataFrame =
    applyStage(df, combustible(column))

  /** F11: transform_categoria (transform_pipeline.py:77-89) — propulsion
    * string → bev/ice/hev/h2/phev, default empty string. */
  def propulsionCategory(c: Column): Column =
    when(c.isin("vehiculo electrico"), "bev")
      .when(c.isin("combustion", "electrico de rango extendido"), "ice")
      .when(c.isin("vehiculos hibridos sin recarga exterior"), "hev")
      .when(c.isin("vehiculos celda de hidrogeno"), "h2")
      .when(c.isin("vehiculos hibridos con recarga exterior",
                   "electrico hibrido con recarga exterior"), "phev")
      .otherwise("")

  def categoria(
      column: String = "PROPULSION",
      newcol: String = "CATEGORIA_PROPULSION"): ColumnStage =
    ColumnStage(derive = Seq(newcol -> propulsionCategory(col(column))))

  def transformCategoria(
      df: DataFrame,
      column: String = "PROPULSION",
      newcol: String = "CATEGORIA_PROPULSION"): DataFrame =
    applyStage(df, categoria(column, newcol))

  /** F11: transform_tipe_ldv (transform_pipeline.py:188-193) — gross
    * weight → liviano/mediano (NULL above 3860, like the reference). */
  def tipoLdv(
      column: String = "PESO_BRUTO_VH_KG",
      newcol: String = "TIPO_LDV"): ColumnStage =
    ColumnStage(Seq(column -> ((c: Column) => c.cast("double"))), Seq(newcol ->
      when(col(column) < 2700, "liviano")
        .when(col(column) >= 2700 && col(column) < 3860, "mediano")))

  def transformTipoLdv(
      df: DataFrame,
      column: String = "PESO_BRUTO_VH_KG",
      newcol: String = "TIPO_LDV"): DataFrame =
    applyStage(df, tipoLdv(column, newcol))

  // ------------------------------------------------------------------
  // F12: column-keyed dispatch trees (get_rend_equiv / get_co2_emiss)
  // ------------------------------------------------------------------

  /** PROPULSION → source rend column (transform_pipeline.py:100-108).
    * Quirk a, as the DATA resolves it (verified against the reference's
    * committed tmp/datos_tmp.csv): the real corpus uses the SINGULAR
    * `"vehiculos hibrido con recarga exterior"` — so the map key the
    * survey flagged as misspelled matches production rows, while
    * transform_categoria's PLURAL mask is the one that misses (204 rows
    * with empty CATEGORIA_PROPULSION in the reference output). Both
    * modes therefore keep the singular key; Intended additionally maps
    * the plural spelling. */
  private def propRendSource(mode: CompatMode): Map[String, String] = {
    val base = Map(
      "combustion" -> "MIXTO_REND_COMBUSTIBLE_KML",
      "vehiculo electrico" -> "REND_EV_VH_KMKWH",
      "vehiculos hibrido con recarga exterior" -> "COMB_REND_WLTC_KML",
      "electrico hibrido con recarga exterior" -> "COMB_REND_WLTC_KML",
      "vehiculos hibridos sin recarga exterior" -> "MIXTO_REND_COMBUSTIBLE_KML",
      "vehiculos celda de hidrogeno" -> "REND_LOW_H2_KG_100_KM_FCEV_VH_CELDA",
      "electrico de rango extendido" -> "MIXTO_REND_COMBUSTIBLE_KML")
    mode match {
      case CompatMode.Reference => base
      case CompatMode.Intended =>
        base + ("vehiculos hibridos con recarga exterior" -> "COMB_REND_WLTC_KML")
    }
  }

  /** COMBUSTIBLE → conversion factor (transform_pipeline.py:109-117;
    * `"hidrogreno"` typo kept in Reference mode, spelled right in
    * Intended). */
  private def combFactor(mode: CompatMode): Map[String, Double] = {
    val h2Key = mode match {
      case CompatMode.Reference => "hidrogreno"
      case CompatMode.Intended  => "hidrogeno"
    }
    Map(
      "gasolina" -> 1.0, "diesel" -> 0.87, "electrico" -> 8.60,
      h2Key -> 374.96, "gasolina/glp" -> 1.0, "gasolina/gnc" -> 1.0,
      "gasolina/hibrido" -> 1.0)
  }

  private val glpCol = "MIXTO_REND_GASOL_VH_GLP_GNC_KML"

  /** get_rend_equiv (transform_pipeline.py:96-130). The reference's
    * dict-of-loops (49 masked UPDATEs with repeated re-parses of the same
    * source columns) folds into ONE constant-foldable CASE tree:
    * source column chosen by COMBUSTIBLE override (glp/gnc — and, via
    * quirk b's loop-carried overwrite, gasolina/hibrido in Reference
    * mode) else by PROPULSION; factor chosen by COMBUSTIBLE; value
    * assigned only when both keys match; round(2). Also materializes the
    * numeric form of every touched source column among `inputCols`, as
    * the reference does. */
  def rend(
      inputCols: Seq[String],
      newcol: String = "REND_EQUIV_KML",
      mode: CompatMode = CompatMode.Reference): ColumnStage = {
    val props = propRendSource(mode)
    val factors = combFactor(mode)
    val overrideCombs = mode match {
      case CompatMode.Reference => Seq("gasolina/glp", "gasolina/gnc", "gasolina/hibrido")
      case CompatMode.Intended  => Seq("gasolina/glp", "gasolina/gnc")
    }
    val touched = (props.values.toSeq :+ glpCol).distinct.filter(inputCols.contains)

    val srcVal: Column = {
      val byProp = props.filter { case (_, c) => inputCols.contains(c) }
        .foldLeft(lit(null).cast("double")) { case (acc, (p, c)) =>
          when(col("PROPULSION") === p, col(c)).otherwise(acc)
        }
      if (inputCols.contains(glpCol))
        when(col("COMBUSTIBLE").isin(overrideCombs: _*), col(glpCol)).otherwise(byProp)
      else byProp
    }
    val factor: Column = factors.foldLeft(lit(null).cast("double")) {
      case (acc, (comb, f)) => when(col("COMBUSTIBLE") === comb, lit(f)).otherwise(acc)
    }
    val propOk = col("PROPULSION").isin(props.keys.toSeq: _*)
    ColumnStage(touched.map(_ -> tryDoubleOf _),
      Seq(newcol -> round(when(propOk && factor.isNotNull, srcVal * factor), 2)))
  }

  def rendEquiv(
      df: DataFrame,
      newcol: String = "REND_EQUIV_KML",
      mode: CompatMode = CompatMode.Reference): DataFrame =
    applyStage(df, rend(df.columns, newcol, mode))

  /** get_co2_emiss (transform_pipeline.py:132-151): COMBUSTIBLE → source
    * CO₂ column; the `"vehiculo electrico"` zeroing branch is dead in the
    * reference (key absent from the map) — BEV zeroing happens in
    * [[bevZeroAndImpute]], matching transform_pipeline.py:243. */
  def co2(inputCols: Seq[String], newcol: String = "EMIS_CO2_EQUIV"): ColumnStage = {
    val mapping = Seq(
      "diesel" -> "EMIS_CO2_GKM",
      "gasolina" -> "EMIS_CO2_GKM",
      "gasolina/glp" -> "CO2_VH_GASOL_GLP_GNC_GRKM",
      "gasolina/gnc" -> "CO2_VH_GASOL_GLP_GNC_GRKM",
      "electrico" -> "EMIS_CO2_GKM",
      "gasolina/hibrido" -> "CO2_PHEV_REND_PONDERADO_VH_GKM",
      "hidrogeno" -> "EMIS_CO2_GKM")
    val present = mapping.filter { case (_, c) => inputCols.contains(c) }
    val value = present.foldLeft(lit(null).cast("double")) {
      case (acc, (comb, c)) => when(col("COMBUSTIBLE") === comb, col(c)).otherwise(acc)
    }
    ColumnStage(present.map(_._2).distinct.map(_ -> tryDoubleOf _), Seq(newcol -> value))
  }

  def co2Equiv(
      df: DataFrame,
      newcol: String = "EMIS_CO2_EQUIV"): DataFrame =
    applyStage(df, co2(df.columns, newcol))

  /** A3: get_gases_emissions (transform_pipeline.py:195-214) — per-gas
    * row-wise mean with pandas semantics: NaN counts as 0 and the
    * denominator is the FIXED column count, not the non-null count. A gas
    * with no source among `inputCols` is left out; a gas target already
    * present is replaced in place. */
  def gases(inputCols: Seq[String]): ColumnStage = {
    val gases = Seq(
      "N2O_GKM" -> Seq("N2O_EMISION_EPA"),
      "MP_GKM" -> Seq("MP_EMISION_EPA_MASA_PARTICULAS_GKM", "MP_EMISION_MASA_PARTICULAS_EU_GKM"),
      "NP" -> Seq("EMISION_NPS_KM_EU_KM", "EPA_NPS_KM_NORMA_USA_KM"),
      "HCHO_MGKM" -> Seq("HCHO_EMISION_EPA_MGKM", "HCHO_EMISION_EU_MGKM"),
      "HC_GKM" -> Seq("HC_EMISION_EPA_GKM", "HC_EMISION_EU_GKM"),
      "HC_NOX_GKM" -> Seq("HC_NOX_EMISION_EU_GKM"),
      "HCNM_GKM" -> Seq("HCNM_EMISION_EPA_GKM"),
      "NMOG_NOX_GKM" -> Seq("NMOG_NOX_EMISION_EPA"),
      "NOX_GKM" -> Seq("NOX_EMISION_EPA_GKM", "NOX_EMISION_EU_GKM"),
      "NMOG_GKM" -> Seq("NMOG_EMISION_EPA_GKM", "NMOG_EMISION_EU_GKM"),
      "CO_GKM" -> Seq("CO_EMISION_EPA_GKM", "CO_EMISION_EU_GKM"))
    val present = gases
      .map { case (newcol, listcols) => (newcol, listcols.filter(inputCols.contains)) }
      .filter(_._2.nonEmpty)
    val means = present.map { case (newcol, used) =>
      newcol -> used.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _) / lit(used.size.toDouble)
    }
    ColumnStage(present.flatMap(_._2).distinct.map(_ -> tryDouble _), means)
  }

  def gasesEmissions(df: DataFrame): DataFrame = applyStage(df, gases(df.columns))

  /** The BEV-zeroing half of [[bevZeroAndImpute]]
    * (transform_pipeline.py:243): CO₂ is 0 for BEVs. A projection, no
    * action. */
  def bevZero(
      df: DataFrame,
      co2Col: String = "EMIS_CO2_EQUIV",
      categoryCol: String = "CATEGORIA_PROPULSION"): DataFrame =
    df.withColumn(co2Col, when(col(categoryCol) === "bev", 0.0).otherwise(col(co2Col)))

  /** The imputation means of [[bevZeroAndImpute]] as aggregate columns:
    * each measure's global mean rounded to 2 places. Aggregate them over
    * [[bevZero]]'s output, alone or beside other aggregates, and hand the
    * row to [[impute]]. */
  def imputeMeans(
      co2Col: String = "EMIS_CO2_EQUIV",
      rendCol: String = "REND_EQUIV_KML"): Seq[Column] =
    Seq(co2Col, rendCol).map(c => round(avg(col(c)), 2).as(meanName(c)))

  /** The impute half (transform_pipeline.py:244-245): NULLs of both
    * measures become the means that `means`, a row holding
    * [[imputeMeans]]' columns, carries as literals, so the plan stays a
    * single pass. A NULL mean (no non-NULL value) leaves its column as
    * it is. */
  def impute(
      df: DataFrame,
      means: Row,
      co2Col: String = "EMIS_CO2_EQUIV",
      rendCol: String = "REND_EQUIV_KML"): DataFrame =
    Seq(co2Col, rendCol).foldLeft(df) { (d, c) =>
      val i = means.fieldIndex(meanName(c))
      if (means.isNullAt(i)) d
      else d.withColumn(c, coalesce(col(c), lit(means.getDouble(i))))
    }

  private def meanName(c: String): String = s"_mean_$c"

  /** A1 + BEV zeroing (transform_pipeline.py:243-245): [[bevZero]], one
    * scalar agg of the [[imputeMeans]] (one extra action over two
    * columns), then [[impute]]. [[graft.pipeline.Homologation.pipeline]]
    * runs the same three pieces with the means inside its one summary
    * aggregate. */
  def bevZeroAndImpute(
      df: DataFrame,
      co2Col: String = "EMIS_CO2_EQUIV",
      rendCol: String = "REND_EQUIV_KML",
      categoryCol: String = "CATEGORIA_PROPULSION"): DataFrame = {
    val zeroed = bevZero(df, co2Col, categoryCol)
    val means = imputeMeans(co2Col, rendCol)
    impute(zeroed, zeroed.agg(means.head, means.tail: _*).first(), co2Col, rendCol)
  }
}
