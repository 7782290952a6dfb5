package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{CompatMode, Ffill, ImporterStandardizer, Stages}
import graft.schema.{HeaderIdentify, HeaderRules}

/** EP2/EP3: the end-to-end homologation transformation (the reference's
  * src/transform_pipeline.py:218-251 and src/load_to_gcp.py:64-92) as one
  * DataFrame chain.
  *
  * Header identification/standardization is a driver-side pre-pass over
  * the collected ≤10-row prefix (provably tiny); its outputs — the rename
  * map and `maxrow` — are baked into the plan as literals. The stages
  * after it run over one parse of the grid (persisted when `cache=true`):
  * one projection that renames the headers and nulls the `'-'`
  * sentinels, one narrow forward-fill pass, then the typed stages as two
  * wide projections ([[stages]]). Three more bounded
  * driver collects build the plan: the forward fill's per-partition
  * preview, one summary aggregate (one row, its importer set ≤ U names)
  * and the scored importer pairs (≤ U×C rows); the importer match is
  * applied as a lookup into a ≤ U-entry literal map, so the plan has no
  * join and nothing is broadcast by hash.
  */
object Homologation {

  val categoryColumns: Seq[String] = Seq(
    "PROPULSION", "COMBUSTIBLE", "CATEGORIA_VH", "IMPORTADOR",
    "MARCA", "MODELO", "EMIS_NORMA", "TIPO_CARROCERIA")

  /** The 35 published columns, in order (load_to_gcp.py:30-42; header of
    * data/processed/datos3cv_2013-2026.csv). The reference lists
    * EMISION_NPS_KM_EU_KM twice — Spark forbids duplicate output names,
    * so we publish it once (documented deviation, SURVEY §2 S8),
    * yielding 34 distinct columns. */
  val publishedColumns: Seq[String] = Seq(
    "MARCA", "MODELO", "CODIGO_INFORME_TECNICO", "FECHA_HOML", "FOOT_PRINT_MT2",
    "AÑO", "TIPO_LDV", "CATEGORIA_PROPULSION", "RUT", "IMP_COD", "EMIS_NORMA",
    "CATEGORIA_VH", "PESO_BRUTO_VH_KG", "TRANSMISION",
    "EMIS_CO2_EQUIV", "REND_EQUIV_KML",
    "N2O_EMISION_EPA", "MP_EMISION_EPA_MASA_PARTICULAS_GKM", "HCHO_EMISION_EPA_MGKM",
    "HC_EMISION_EPA_GKM", "HCNM_EMISION_EPA_GKM", "NMOG_NOX_EMISION_EPA",
    "NOX_EMISION_EPA_GKM", "NMOG_EMISION_EPA_GKM", "CO_EMISION_EPA_GKM",
    "HCHO_EMISION_EU_MGKM", "EMISION_NPS_KM_EU_KM", "HC_NOX_EMISION_EU_GKM",
    "NMOG_EMISION_EU_GKM", "HCNM_EMISION_EU_GKM", "CO_EMISION_EU_GKM",
    "MP_EMISION_MASA_PARTICULAS_EU_GKM", "NOX_EMISION_EU_GKM", "HC_EMISION_EU_GKM")

  /** transform_headers (transform_pipeline.py:153-179): identify the
    * multi-row header block, standardize names through the memoized rules
    * engine, rename, and slice away the header area. Collisions (several
    * raw columns mapping to one standard name) keep the first occurrence
    * — the deterministic stand-in for the reference's Python-set column
    * order (SURVEY §2 U2). */
  def transformHeaders(
      grid: DataFrame,
      rules: HeaderRules,
      orderCol: String = "_row_idx"): DataFrame =
    renameHeaders(grid, rules, orderCol, Set.empty)

  /** [[transformHeaders]] with the `'-'` sentinel nulled in the
    * `sentinels` columns inside the same projection. */
  private def renameHeaders(
      grid: DataFrame,
      rules: HeaderRules,
      orderCol: String,
      sentinels: Set[String]): DataFrame = {
    val ident = HeaderIdentify.identifyGrid(grid, orderCol)
    val flatNames = ident.names.map(_._2)
    val stdMap = rules.batchStandardize(flatNames)
    val dataCols = grid.columns.filterNot(_ == orderCol)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val selected = ident.names.flatMap { case (idx, flat) =>
      val std = stdMap(flat)
      val c = col(dataCols(idx))
      if (seen.add(std)) Some((if (sentinels(std)) Stages.sentinelToNull(c) else c).as(std))
      else None
    }
    grid
      .where(col(orderCol) >= ident.maxrow + 2)
      .select(selected :+ col(orderCol): _*)
  }

  /** The forward-filled columns: `'-'` means "same as the row above". */
  private val sentinelColumns: Seq[String] = Seq("FECHA_HOML", "PESO_BRUTO_VH_KG")

  /** The typed stages of pipeline_transformation
    * (transform_pipeline.py:221-240) after the forward fill, in the
    * reference's order, as column definitions over the filled table's
    * `inputCols`. Applied one by one they are the `Stages.transform*`
    * chain; [[pipeline]] applies them as [[Stages.layered]]'s two
    * projections: the per-column conversions (timestamp, category
    * normalization, `COMBUSTIBLE`, the numeric sources,
    * `PESO_BRUTO_VH_KG`), then the derived columns (`AÑO`,
    * `CATEGORIA_PROPULSION`, `TIPO_LDV`, `REND_EQUIV_KML`,
    * `EMIS_CO2_EQUIV`, the gas means). No stage derives from a column a
    * later one converts, and none reads a derived column. */
  def stages(inputCols: Seq[String], mode: CompatMode = CompatMode.Reference): Seq[Stages.ColumnStage] =
    Seq(
      Stages.datetime(),
      Stages.categoryCols(categoryColumns, inputCols),
      Stages.combustible(),
      Stages.categoria(),
      Stages.pbv(),
      Stages.tipoLdv(),
      Stages.rend(inputCols, mode = mode),
      Stages.co2(inputCols),
      Stages.gases(inputCols))

  /** What [[pipeline]] returns: the standardized rows and the importer
    * names without a match, plus the row count and the `AÑO` range
    * (None when no row has an `AÑO`) that its summary aggregate read.
    * `release()` frees the pipeline's caches; call it after the terminal
    * action on `standardized`. */
  final case class Result(
      standardized: DataFrame,
      notFound: DataFrame,
      rows: Long,
      years: Option[(Int, Int)],
      release: () => Unit)

  /** pipeline_transformation (transform_pipeline.py:218-251). `catalog`
    * is the importer master table (bd-importadores).
    *
    * `cache=true` persists two tables, both `MEMORY_AND_DISK`: the raw
    * `grid`, so header identification and the stage chain parse the
    * source once, and the staged table, so the summary aggregate and the
    * caller's terminal actions share one computation of the
    * header+transform chain. Both caches are owned by the returned
    * `Result.release()` — call it after the terminal action (cached
    * blocks otherwise accumulate across grids in a long-lived session).
    * `cache=false` persists nothing (right for tiny demo grids and for
    * one-shot runs where recompute beats disk-backed caching).
    *
    * The staged table is the header projection (rename and sentinel
    * nulls in one select), the forward fill, and [[stages]] composed by
    * [[Stages.layered]]: over a scan-ordered grid its analyzed plan holds
    * 2 Projects above the fill's `LogicalRDD` (one per stage half would
    * be 14, each an analyzer pass on the driver).
    *
    * Driver collects made while building the result, each one action:
    *  - the header prefix (≤ `HeaderIdentify.MaxScan` rows);
    *  - the forward fill's preview (≤ one row per partition; see
    *    [[graft.ops.Ffill.ffillScanOrdered]]);
    *  - one summary aggregate over the BEV-zeroed staged table (one row):
    *    the two imputation means, min and max `AÑO`, the row count and
    *    the set of importer names (≤ U names, U = distinct non-null
    *    names);
    *  - in [[ImporterStandardizer.standardizeNames]], the names' scored
    *    catalog pairs above the threshold (≤ U×C rows, C = catalog rows),
    *    whose top-1 per name becomes a ≤ U-entry literal lookup map. */
  def pipeline(
      grid: DataFrame,
      rules: HeaderRules,
      catalog: DataFrame,
      mode: CompatMode = CompatMode.Reference,
      cache: Boolean = true): Result = {
    val raw = if (cache) grid.persist(StorageLevel.MEMORY_AND_DISK) else grid
    // the header projection also nulls both '-' columns, and one pass
    // fills them: transformHeaders, then fillSentinels over both
    val filled = Ffill.ffill(
      renameHeaders(raw, rules, "_row_idx", sentinelColumns.toSet), "_row_idx", sentinelColumns)
    val chain = Stages.layered(filled, stages(filled.columns, mode))
    val staged = if (cache) chain.persist(StorageLevel.MEMORY_AND_DISK) else chain
    // Stages.bevZeroAndImpute and ImporterStandardizer.standardize, with
    // their two aggregates and the caller's year/row stats in one
    val zeroed = Stages.bevZero(staged)
    val stats = Stages.imputeMeans() ++ Seq(min(col("AÑO")).as("y0"), max(col("AÑO")).as("y1"),
      count(lit(1)).as("rows"), collect_set(col("IMPORTADOR")).as("names"))
    val summary = zeroed.agg(stats.head, stats.tail: _*).first()
    val r = ImporterStandardizer.standardizeNames(
      Stages.impute(zeroed, summary), summary.getSeq[Any](summary.fieldIndex("names")), catalog)
    val years = if (summary.isNullAt(summary.fieldIndex("y0"))) None
      else Some((summary.getAs[Int]("y0"), summary.getAs[Int]("y1")))
    val release = if (cache) () => { staged.unpersist(); raw.unpersist(); () } else () => ()
    Result(r.standardized, r.notFound, summary.getAs[Long]("rows"), years, release)
  }

  /** EP3 publish projection: present published columns only, in order
    * (load_to_gcp.py:57-59). */
  def publishProjection(df: DataFrame): DataFrame =
    df.select(publishedColumns.filter(df.columns.contains).map(col): _*)

  /** A2: year range for the published filename (load_to_gcp.py:47-55). */
  def yearRange(df: DataFrame, yearCol: String = "AÑO"): (Int, Int) = {
    val r = df.agg(min(col(yearCol)), max(col(yearCol))).first()
    (r.getInt(0), r.getInt(1))
  }
}
