package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-row header detection + flattening (SURVEY §2 A6/A7/W2/W3/F16) —
  * the Spark-native form of
  * /root/reference/src/header_identify_processing.py:20-117.
  *
  * The raw workbook sheet has its header spread over a variable 2–3-row
  * hierarchy. Detection needs only the first ~10 rows × all columns — a
  * provably tiny slice — so the algorithm runs driver-side on a collected
  * prefix, and its outputs (`maxrow`, column→name map) are baked into the
  * lazy plan as literals (rename + `_row_idx >= maxrow + 2` filter).
  */
object HeaderIdentify {

  val MaxScan = 10

  /** Result: `maxrow` (deepest retained header level; data starts at
    * `maxrow + 2` per transform_pipeline.py:178) and the original-column
    * -index → flattened-header-string map, in column order. */
  case class Identified(maxrow: Int, names: Seq[(Int, String)])

  /** Pure driver-side identification over a row-major prefix grid
    * (`prefix(r)(c)`, null = missing cell). Mirrors `identify_headers`:
    *  1. per-column first non-null row index (A7)
    *  2. keep indexes < maxScan; drop the deepest (`< max`) (W3)
    *  3. per-parent group, forward-fill deeper levels (A6/W2)
    *  4. flatten levels deepest-first with " ", skipping empty and
    *     "Unnamed:" placeholders (F16, new-path `[::-1]` order)
    */
  def identify(prefix: Seq[Seq[String]], maxScan: Int = MaxScan): Identified = {
    val nRows = prefix.size
    val nCols = if (nRows == 0) 0 else prefix.map(_.size).max
    def cell(r: Int, c: Int): Option[String] =
      if (r < nRows && c < prefix(r).size) Option(prefix(r)(c)).filter(_.nonEmpty) else None

    // 1. first non-null row per column (within the scanned prefix)
    val firstValid: Seq[Option[Int]] =
      (0 until nCols).map(c => (0 until nRows).find(r => cell(r, c).isDefined))

    // 2. plausible header levels, excluding the deepest
    val valid = firstValid.flatten.filter(_ < maxScan)
    require(valid.nonEmpty, "no plausible header levels detected")
    val maxAll = valid.max
    val cleanLevels0 = valid.filter(_ < maxAll).distinct.sorted
    // graceful degradation for a single header row (the reference would
    // crash on max() of an empty list)
    val levels = if (cleanLevels0.nonEmpty) cleanLevels0 else Seq(maxAll)
    val maxrow = levels.max

    // header matrix: one row per original column, one value per level;
    // drop columns with no header content at any level
    case class HCol(idx: Int, values: Array[Option[String]])
    val headerCols = (0 until nCols)
      .map(c => HCol(c, levels.map(l => cell(l, c)).toArray))
      .filter(_.values.exists(_.isDefined))

    // parent (level 0) forward-fill across columns
    var lastParent: Option[String] = None
    val parentFilled = headerCols.map { hc =>
      val p = hc.values(0).orElse(lastParent)
      lastParent = p.orElse(lastParent)
      hc.copy(values = hc.values.updated(0, p))
    }

    // group by parent value (columns with a null parent are dropped, as
    // pandas groupby drops NaN keys); within each multi-column group,
    // forward-fill deeper levels down the column block
    val grouped = parentFilled.filter(_.values(0).isDefined).groupBy(_.values(0).get)
    val filled = grouped.values.flatMap { gr =>
      val ffLevels =
        if (gr.size > 1 && levels.size >= 3) Seq(0, 1, 2)
        else if (gr.size > 1 && levels.size >= 2) Seq(0, 1)
        else if (levels.size >= 3) Seq(1, 2)
        else Nil
      val arr = gr.toArray
      ffLevels.foreach { l =>
        var last: Option[String] = None
        arr.indices.foreach { i =>
          val v = arr(i).values(l).orElse(last)
          arr(i) = arr(i).copy(values = arr(i).values.updated(l, v))
          last = v.orElse(last)
        }
      }
      arr
    }.toSeq.sortBy(_.idx)

    // flatten deepest-level-first, skipping blanks and pandas "Unnamed:" fillers
    val names = filled.map { hc =>
      val parts = hc.values.reverse.flatten
        .filter(v => v.nonEmpty && !v.contains("Unnamed:"))
      hc.idx -> parts.mkString(" ")
    }
    Identified(maxrow, names)
  }

  /** Collect the scan prefix of a raw all-string grid DataFrame that
    * carries `_row_idx`, and identify its headers. The collect is bounded:
    * maxScan rows × grid width. It carries `orderCol` and the ≤ maxScan
    * rows are sorted on the driver, so the prefix costs one job (a
    * distributed `orderBy` would add a range-sampling and a shuffle job). */
  def identifyGrid(
      grid: DataFrame,
      orderCol: String = "_row_idx",
      maxScan: Int = MaxScan): Identified = {
    val dataCols = grid.columns.filterNot(_ == orderCol)
    val prefix = grid
      .where(col(orderCol) < maxScan)
      .select(col(orderCol).cast("long") +: dataCols.map(col).toSeq: _*)
      .collect()
      .sortBy(_.getLong(0))
      .map(r => dataCols.indices.map(i => if (r.isNullAt(i + 1)) null else r.getString(i + 1)).toSeq)
      .toSeq
    identify(prefix, maxScan)
  }
}
