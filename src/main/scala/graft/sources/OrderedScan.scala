package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Sources and sinks for the homologation pipeline (SURVEY §2 S3/S4/S7/S8).
  *
  * The reference's semantics are file-order-dependent (ffill W1, the
  * `maxrow+2` header slice P1), so scans attach an explicit `_row_idx`
  * reflecting input order. `zipWithIndex` over the scan RDD enumerates
  * rows in split-offset order — i.e. file order — and stays distributed
  * (one pass, no shuffle; the index is computed from per-partition counts).
  * File reads without an explicit schema take their inferred schema from
  * [[SchemaMemo]], so re-reading an unchanged grid or catalog plans
  * without an inference job.
  */
object OrderedScan {

  val RowIdx = "_row_idx"

  /** S3: the real binary workbook — every requested sheet parsed into an
    * all-string ordered grid, the exact shape
    * `pd.read_excel(sheet_name=[0..n), dtype=str)` hands the reference
    * (transform_pipeline.py:23-30 `read_xls_files`). Dispatches on the
    * container magic the way pandas does: OLE2 (`D0 CF 11 E0`) →
    * [[XlsGrid]] BIFF8, ZIP (`PK`) → [[XlsxGrid]] OOXML — the upstream
    * site flipping formats cannot break ingestion. */
  def xlsSheets(spark: SparkSession, path: String, numSheets: Int = 2): Seq[DataFrame] = {
    val magic = {
      val in = new java.io.FileInputStream(path)
      try { val b = new Array[Byte](4); in.read(b); b } finally in.close()
    }
    val sheets =
      if (magic.take(2).sameElements(Array[Byte]('P', 'K'))) XlsxGrid.readSheets(path)
      else XlsGrid.readSheets(path)
    sheets.take(numSheets).map { case (_, grid) =>
      fromGrid(spark, grid, grid.headOption.map(_.length).getOrElse(0))
    }
  }

  /** S3-fallback: read a headerless all-string grid (a pre-converted
    * CSV of a sheet; [[xlsSheets]] reads the binary workbook directly) as
    * `_c0.._cN` StringType columns plus `_row_idx` in file order. The
    * column count comes from [[SchemaMemo]], so a re-read of an unchanged
    * file fires no inference job.
    *
    * Each cell is cleaned in the same pass that attaches its index: CRLF
    * grids leave the '\r' inside the final cell of each record (the
    * multiLine parser keeps it), which silently turns empty cells
    * non-null and wrecks header-level detection, so a trailing `\r$` is
    * stripped and an empty cell becomes null. `$` also matches before a
    * final line terminator, so a quoted cell ending in "\r\n" keeps only
    * its "\n". Doing this in the index pass, not as a Catalyst
    * projection over every column, keeps a ~40-column grid clear of a
    * generated method too large for the JIT to compile.
    *
    * The pass runs over the scan's own Catalyst rows
    * (`queryExecution.toRdd`) and hands its rows back through
    * [[org.apache.spark.sql.graftbridge.RddBridge.internalDataFrame]], so
    * no `Row` is built or decoded. The scan reuses its row buffer, so a
    * cell with no '\r' byte is kept as a clone of its `UTF8String`; only
    * the rare cell that holds one is decoded for the regex. */
  def csvGrid(spark: SparkSession, path: String, delimiter: String = ","): DataFrame = {
    val raw = SchemaMemo.read(spark, "csv", Map(
      "header" -> "false",
      "delimiter" -> delimiter,
      "nullValue" -> "",
      // header cells in the 3CV workbook contain embedded newlines;
      // multiLine keeps them inside one logical row (sheet grids are
      // driver-converted and modest, so the single-split read is fine)
      "multiLine" -> "true"), path)
    val width = raw.schema.length
    val schema = StructType(raw.schema.fields :+ StructField(RowIdx, LongType, nullable = false))
    // zipWithIndex numbers rows in split-offset (file) order from
    // per-partition counts: distributed, one pass, no shuffle
    val rows = raw.queryExecution.toRdd.zipWithIndex.map[InternalRow] { case (r, i) =>
      val out = new GenericInternalRow(width + 1)
      var c = 0
      while (c < width) {
        if (!r.isNullAt(c)) out.update(c, clean(r.getUTF8String(c)))
        c += 1
      }
      out.setLong(width, i)
      out
    }
    RddBridge.internalDataFrame(spark, rows, schema)
  }

  private val TrailingCr = java.util.regex.Pattern.compile("\r$")
  private val Cr = UTF8String.fromString("\r")

  /** One cell of [[csvGrid]]: a trailing '\r' stripped, empty → null. */
  private def clean(v: UTF8String): UTF8String =
    if (!v.contains(Cr)) { if (v.numBytes == 0) null else v.clone() }
    else {
      val s = TrailingCr.matcher(v.toString).replaceAll("")
      if (s.isEmpty) null else UTF8String.fromString(s)
    }

  /** S4: catalog CSV with header + explicit schema honoring, else an
    * inferred schema through [[SchemaMemo]]. Lines that start with `#`
    * are comments (the vendored fixture's provenance note; see
    * [[ReferenceData]]). */
  def csvCatalog(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val options = Map("header" -> "true", "comment" -> "#")
    schema match {
      case Some(s) => spark.read.options(options).schema(s).csv(path)
      case None => SchemaMemo.read(spark, "csv", options + ("inferSchema" -> "true"), path)
    }
  }

  /** In-memory grid (rows of nullable strings) → ordered DataFrame; used
    * by tests and the driver-side sheet converter. */
  def fromGrid(spark: SparkSession, rows: Seq[Seq[String]], nCols: Int): DataFrame = {
    val schema = StructType(
      (0 until nCols).map(i => StructField(s"_c$i", StringType, nullable = true)) :+
        StructField(RowIdx, LongType, nullable = false))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq((0 until nCols).map(c => if (c < r.size) r(c) else null) :+ i.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq, 1), schema)
  }

  /** S3/U1 table-level: stack per-sheet grids (each already carrying
    * `_row_idx`) into one table with a `_sheet` partition column; row
    * order stays (sheet, row) via a composite index. The reference reads
    * N sheets and keeps a list (transform_pipeline.py:23-30) — the union
    * is the Spark-native shape for processing all of them at once. */
  def unionSheets(sheets: Seq[DataFrame], idxCol: String = RowIdx): DataFrame = {
    require(sheets.nonEmpty)
    sheets.zipWithIndex.map { case (df, i) =>
      df.withColumn("_sheet", lit(i))
    }.reduce(_ unionByName _)
  }

  /** S7/S8: single-file CSV sink (the reference publishes one CSV). The
    * coalesce(1) is inherent to the single-file contract — large outputs
    * should instead keep natural partitioning and fan out. */
  def writeSingleCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", header.toString)
      .csv(path)

  /** Columnar interchange beyond parquet: ORC round-trip (Spark's other
    * built-in columnar format — common when handing curated corpora to
    * Hive/Trino estates). Snappy + dictionary encoding by default;
    * schema, NULLs, nested arrays and timestamps all survive — pinned by
    * OrcRoundTripSpec. Natural partitioning (one file per task), never
    * coalesce(1): the single-file contract is CSV-publish's, not a
    * columnar handoff's. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
