package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** W1: forward-fill over an explicit order column — the Spark form of the
  * reference's `df[col].ffill()` over file order
  * (/root/reference/src/transform_pipeline.py:39,51), where `'-'` means
  * "same as previous row".
  *
  * A bare `Window.orderBy(order)` serializes the whole table through ONE
  * task, so [[ffill]] picks one of three strategies, all bit-identical to
  * that window ([[ffillGlobalWindow]], kept as the reference; property-
  * tested):
  *  - with natural partitions (user, sheet, year-block) it partitions the
  *    window;
  *  - over input that is already in scan order it runs [[ffillScanOrdered]]:
  *    a preview collect of one summary row per partition, then one narrow
  *    per-partition pass that starts from the carry of the earlier
  *    partitions — no shuffle, window or broadcast. Both passes read and
  *    build Catalyst rows, so no `Row` encoder runs;
  *  - otherwise it falls back to [[ffillBlocked]]'s two-pass fill: (1)
  *    within-block fill over `floor(order / blockSize)` blocks in
  *    parallel, (2) a per-block "last non-null" summary — thousands of
  *    rows, not billions — cascaded with a tiny driver-safe window and
  *    broadcast back.
  *
  * The scan-ordered precondition is that the input is partition-ordered:
  * `orderCol` is a non-null integral column, strictly increasing within
  * each partition, and each non-empty partition's range lies above the
  * ranges of all earlier partitions. `OrderedScan.csvGrid`'s `_row_idx` (and
  * any filter or projection over it) produces such input; a shuffle
  * (`repartition`, a join) generally does not, and takes the fallback.
  */
object Ffill {

  /** Forward-fill `cols` ordered by `orderCol`. With `partitionCols` the
    * fill restarts per partition group (pandas `groupby().ffill()`);
    * without, uses the scan-ordered fill when the input is
    * partition-ordered, else the blocked fill. */
  def ffill(
      df: DataFrame,
      orderCol: String,
      cols: Seq[String],
      partitionCols: Seq[String] = Nil,
      blockSize: Long = 1L << 20): DataFrame = {
    if (partitionCols.nonEmpty) {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    } else ffillScanOrdered(df, orderCol, cols)
      .getOrElse(ffillBlocked(df, orderCol, cols, blockSize))
  }

  /** Single-task global-window fill; reference shape, kept for tests and
    * provably tiny inputs. */
  def ffillGlobalWindow(df: DataFrame, orderCol: String, cols: Seq[String]): DataFrame = {
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Two-pass partition-parallel fill (see object doc). `orderCol` must be
    * numeric and globally ordered (e.g. the scan's `_row_idx`). */
  def ffillBlocked(
      df: DataFrame,
      orderCol: String,
      cols: Seq[String],
      blockSize: Long = 1L << 20): DataFrame = {
    val blk = "_ffill_blk"
    // integral division — floor(double) misassigns blocks past 2^53
    // (monotonically_increasing_id puts partition bits in the high bits)
    val withBlk = df.withColumn(blk, expr(s"`$orderCol` div $blockSize"))

    val wIn = Window.partitionBy(col(blk)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = cols.foldLeft(withBlk)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(wIn)))

    // Per-block last non-null value of each col: max_by ignores rows whose
    // ordering expression is null, so nulls never win.
    val lastAggs = cols.map(c =>
      max_by(col(c), when(col(c).isNotNull, col(orderCol))).as(s"_last_$c"))
    val blockSummary = withBlk.groupBy(col(blk)).agg(lastAggs.head, lastAggs.tail: _*)

    // Cascade across blocks: carry(blk) = last non-null among all blocks
    // strictly before blk. The summary has (#rows / blockSize) rows — a
    // few thousand rows at 100 TB, not a bottleneck (WindowExec's global-
    // window warning is a false positive on this bounded input).
    val wCarry = Window.orderBy(col(blk))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = cols.foldLeft(blockSummary)((d, c) =>
      d.withColumn(s"_carry_$c", last(col(s"_last_$c"), ignoreNulls = true).over(wCarry)))
      .select(col(blk) +: cols.map(c => col(s"_carry_$c")): _*)

    val joined = within.join(broadcast(carry), Seq(blk), "left")
    val filled = cols.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col(c), col(s"_carry_$c"))))
    filled.drop(blk +: cols.map(c => s"_carry_$c"): _*)
  }

  /** One partition's preview row: its first and last `orderCol` value,
    * whether `orderCol` is non-null and strictly increasing through it,
    * and the last non-null value of each filled column (null if none), as
    * Catalyst values copied out of the scan's reused row. */
  private final case class Span(first: Long, last: Long, increasing: Boolean, lastVals: Array[Any])

  /** Scan-ordered fill (see object doc), or `None` when the preview shows
    * the input is not partition-ordered. Eager: the preview is one job
    * whose collect holds ≤ #partitions rows. The fill pass re-checks the
    * order it relies on — each partition's `orderCol` must still run
    * strictly increasing from the previewed first to the previewed last
    * value — and throws `IllegalStateException` if the input's order
    * changed between the two passes.
    *
    * Both passes read the input's Catalyst rows (`queryExecution.toRdd`),
    * and the filled rows go back through
    * [[org.apache.spark.sql.graftbridge.RddBridge.internalDataFrame]], so
    * no `Row` is encoded or decoded. The scan reuses its row buffer, so a
    * value that outlives its row (a preview's last value, a carried fill
    * value) is copied (`InternalRow.copyValue`); the other cells of a
    * filled row are passed through in place, since the scan of the
    * filled rows' `LogicalRDD` projects each one into its own buffer
    * before the fill reads the next input row. */
  def ffillScanOrdered(df: DataFrame, orderCol: String, cols: Seq[String]): Option[DataFrame] = {
    val schema = df.schema
    val oi = schema.fieldIndex(orderCol)
    val ci = cols.map(schema.fieldIndex).toArray
    val index: (InternalRow, Int) => Long = schema(oi).dataType match {
      case ByteType => _.getByte(_).toLong
      case ShortType => _.getShort(_).toLong
      case IntegerType => _.getInt(_).toLong
      case LongType => _.getLong(_)
      case _ => return None
    }
    val types = schema.fields.map(_.dataType)
    val rows = df.queryExecution.toRdd
    val spans = rows.mapPartitions(it => Iterator.single(preview(it, index, oi, ci, types))).collect()
    val present = spans.flatten
    val ordered = present.forall(_.increasing) &&
      present.lazyZip(present.drop(1)).forall((a, b) => a.last < b.first)
    if (!ordered) return None
    // carries(p): last non-null of each column over partitions before p
    val carries = spans.scanLeft(new Array[Any](ci.length)) {
      case (acc, Some(s)) => Array.tabulate(ci.length)(j => Option(s.lastVals(j)).getOrElse(acc(j)))
      case (acc, None) => acc
    }
    val ranges = spans.map(_.map(s => (s.first, s.last)))
    val filled = rows.mapPartitionsWithIndex((p, it) =>
      fillPartition(it, carries(p), ranges(p), index, oi, ci, types))
    Some(RddBridge.internalDataFrame(df.sparkSession, filled, schema))
  }

  private def preview(
      it: Iterator[InternalRow],
      index: (InternalRow, Int) => Long,
      oi: Int,
      ci: Array[Int],
      types: Array[DataType]): Option[Span] = {
    if (!it.hasNext) return None
    val lastVals = new Array[Any](ci.length)
    var first, prev = 0L
    var seen = false
    var increasing = true
    it.foreach { r =>
      if (r.isNullAt(oi)) increasing = false
      else {
        val i = index(r, oi)
        if (!seen) first = i else if (i <= prev) increasing = false
        prev = i; seen = true
      }
      var j = 0
      while (j < ci.length) {
        val c = ci(j)
        if (!r.isNullAt(c)) lastVals(j) = InternalRow.copyValue(r.get(c, types(c)))
        j += 1
      }
    }
    Some(Span(first, prev, increasing && seen, lastVals))
  }

  private def fillPartition(
      it: Iterator[InternalRow],
      carry: Array[Any],
      range: Option[(Long, Long)],
      index: (InternalRow, Int) => Long,
      oi: Int,
      ci: Array[Int],
      types: Array[DataType]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val state = carry.clone()
    private var seen = false
    private var prev = 0L
    private def changed(what: String): Nothing = throw new IllegalStateException(
      s"Ffill.ffillScanOrdered: the input's order changed after the preview ($what)")

    def hasNext: Boolean = {
      val more = it.hasNext
      if (!more) {
        val end = if (seen) Some(prev) else None
        if (end != range.map(_._2)) changed(s"partition ends at $end, preview $range")
      }
      more
    }

    def next(): InternalRow = {
      val r = it.next()
      if (r.isNullAt(oi)) changed("null index")
      val i = index(r, oi)
      if (!seen && !range.exists(_._1 == i)) changed(s"first index $i, preview $range")
      if (seen && i <= prev) changed(s"index $i after $prev")
      prev = i; seen = true
      val vals = new Array[Any](types.length)
      var c = 0
      while (c < types.length) {
        if (!r.isNullAt(c)) vals(c) = r.get(c, types(c))
        c += 1
      }
      var j = 0
      while (j < ci.length) {
        val c = ci(j)
        if (vals(c) == null) vals(c) = state(j) else state(j) = InternalRow.copyValue(vals(c))
        j += 1
      }
      new GenericInternalRow(vals)
    }
  }
}
