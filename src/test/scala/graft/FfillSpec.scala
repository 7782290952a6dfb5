package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ffill, Stages}

/** W1: forward-fill semantics + scan-ordered and blocked fill
  * equivalence. */
class FfillSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def data(n: Int, nullEvery: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      (i.toLong, if (i % nullEvery == 0) Some(s"v$i") else None)
    }.toDF("idx", "v").repartition(7)

  test("blocked fill is bit-identical to the global window") {
    val df = data(5000, 13)
    val global = Ffill.ffillGlobalWindow(df, "idx", Seq("v"))
      .orderBy("idx").collect().map(_.toSeq)
    val blocked = Ffill.ffillBlocked(df, "idx", Seq("v"), blockSize = 256)
      .orderBy("idx").collect().map(_.toSeq)
    assert(global.sameElements(blocked))
  }

  test("input that is not partition-ordered takes the blocked fallback") {
    val df = data(5000, 13) // repartition(7): partition ranges interleave
    assert(Ffill.ffillScanOrdered(df, "idx", Seq("v")).isEmpty)
    val out = Ffill.ffill(df, "idx", Seq("v"))
    assert(out.queryExecution.sparkPlan.exists(_.isInstanceOf[WindowExec]),
      "the fallback is the blocked window fill")
    val global = Ffill.ffillGlobalWindow(df, "idx", Seq("v"))
      .orderBy("idx").collect().map(_.toSeq)
    assert(global.sameElements(out.orderBy("idx").collect().map(_.toSeq)))
  }

  // A grid in scan order: `parts(p)` is partition p's rows, some of them
  // empty; `_row_idx` ascends across partitions with gaps (like the
  // header slice leaves). The string cells are dates, weights, '-' and
  // nulls; beside them sit typed fill columns (int, double, timestamp, an
  // array and a struct, mostly null) and typed payload columns. The
  // source reuses its row buffer, so a fill that keeps a string, array or
  // struct from an earlier row without copying it reads later rows'
  // bytes.
  private val typedFill = Seq(
    StructField("N", IntegerType), StructField("X", DoubleType), StructField("TS", TimestampType),
    StructField("ARR", ArrayType(StringType)),
    StructField("ST", StructType(Seq(StructField("s", StringType), StructField("i", IntegerType)))))
  private val typedPayload = typedFill.map(f => f.copy(name = s"P_${f.name}"))
  private val schema = StructType(Seq(
    StructField("_row_idx", LongType, nullable = false),
    StructField("FECHA_HOML", StringType), StructField("PESO_BRUTO_VH_KG", StringType),
    StructField("MARCA", StringType)) ++ typedFill ++ typedPayload)

  /** `parts(p)(i)` holds a row's cells after `_row_idx`, except MARCA. */
  private def scanOrdered(parts: Seq[Seq[Seq[Any]]], gaps: Seq[Int]): DataFrame = {
    val starts = parts.map(_.size).scanLeft(0)(_ + _)
    val idx = gaps.take(starts.last).scanLeft(0L)(_ + _).tail
    val rows = parts.indices.map(p => parts(p).indices.map { i =>
      val cells = parts(p)(i)
      Row.fromSeq(Seq(idx(starts(p) + i), cells(0), cells(1), s"m${starts(p) + i}") ++ cells.drop(2))
    })
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.indices, rows.size).flatMap(rows), schema)
  }

  private def cell(vals: Seq[String]) =
    Gen.frequency(4 -> Gen.const("-"), 1 -> Gen.const(null: String), 3 -> Gen.oneOf(vals))
  private def typed(dt: DataType): Gen[Any] = dt match {
    case IntegerType => Gen.choose(-5, 5)
    case DoubleType => Gen.oneOf(0.5, -1.25, 1e6)
    case TimestampType => Gen.choose(0L, 3L).map(d => new java.sql.Timestamp(1357000000000L + d * 86400000L))
    case ArrayType(StringType, _) => Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf("a", "bb", "ccc")))
    case _ => Gen.zip(Gen.oneOf("x", "yy", "zzz"), Gen.choose(0, 9)).map { case (a, b) => Row(a, b) }
  }
  private def cells(fields: Seq[StructField], nulls: Int): Gen[List[Any]] =
    fields.foldRight(Gen.const(List.empty[Any])) { (f, rest) =>
      for (v <- Gen.frequency(nulls -> Gen.const(null), 2 -> typed(f.dataType)); r <- rest) yield v :: r
    }
  private val rowGen = for {
    f <- cell(Seq("2013-01-04", "2014-06-10", "2015-02-02"))
    w <- cell(Seq("1500", "2000", "x"))
    fill <- cells(typedFill, 3)
    payload <- cells(typedPayload, 1)
  } yield Seq(f, w) ++ fill ++ payload
  private val gridGen = for {
    nParts <- Gen.choose(1, 6)
    parts <- Gen.listOfN(nParts, Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 12))
      .flatMap(n => Gen.listOfN(n, rowGen)))
    gaps <- Gen.listOfN(parts.map(_.size).sum, Gen.frequency(4 -> Gen.const(1), 1 -> Gen.choose(2, 5)))
  } yield (parts, gaps)

  test("property: the fused scan-ordered fill equals the global window and the per-column chain") {
    val both = Seq("FECHA_HOML", "PESO_BRUTO_VH_KG")
    // flat columns first: an array or struct kept without a copy can
    // read a length from another row's bytes and run off its buffer, so
    // the nested columns are filled only once the flat ones agree
    val flat = both ++ Seq("N", "X", "TS")
    val all = flat ++ Seq("ARR", "ST")
    val flatAt = ("_row_idx" +: flat).map(schema.fieldIndex)
    def rows(df: DataFrame) = df.orderBy("_row_idx").collect().map(_.toSeq).toSeq
    def derive(df: DataFrame) = Stages.derivePbv(Stages.deriveDatetime(df))
    val prop = Prop.forAllNoShrink(gridGen) { case (parts, gaps) =>
      val df = scanOrdered(parts, gaps)
      val nulled = df.withColumns(both.map(c => c -> Stages.sentinelToNull(col(c))).toMap)
      val global = rows(Ffill.ffillGlobalWindow(nulled, "_row_idx", all))
      val flatFill = Ffill.ffillScanOrdered(nulled, "_row_idx", flat)
      lazy val fill = Ffill.ffillScanOrdered(nulled, "_row_idx", all)
      val blocked = Ffill.ffillBlocked(nulled, "_row_idx", all, blockSize = 3)
      val fused = derive(Stages.fillSentinels(df, both))
      val perColumn = Stages.transformPbv(Stages.transformDatetime(df))
      val expected = rows(derive(Ffill.ffillGlobalWindow(nulled, "_row_idx", both)))
      flatFill.isDefined && rows(flatFill.get).map(r => flatAt.map(r)) == global.map(r => flatAt.map(r)) &&
        fill.isDefined && rows(fill.get) == global && rows(blocked) == global &&
        rows(fused) == expected && rows(perColumn) == expected
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(Seed(20261019L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("the scan-ordered fill fails loudly when the order changes after the preview") {
    FfillSpec.calls.set(0)
    // the first evaluation (the preview) sees idx 0..3, later ones 1..4
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      val shift = if (FfillSpec.calls.getAndIncrement() == 0) 0L else 1L
      (0L until 4L).map(i => Row(i + shift, if (i == 0) "a" else null))
    }, StructType(Seq(StructField("idx", LongType), StructField("v", StringType))))
    val out = Ffill.ffillScanOrdered(df, "idx", Seq("v"))
    assert(out.isDefined)
    val e = intercept[SparkException](out.get.collect())
    assert(e.getMessage.contains("order changed"), e.getMessage)
  }

  test("leading nulls stay null; carries cross many empty blocks") {
    val df = Seq(
      (0L, None), (1L, None), (2L, Some("a")),
      (3L, None), (4L, None), (5L, None), (6L, None),
      (7L, Some("b")), (8L, None)).toDF("idx", "v")
    val out = Ffill.ffillBlocked(df, "idx", Seq("v"), blockSize = 2)
      .orderBy("idx").select("v").collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(None, None, Some("a"), Some("a"), Some("a"),
      Some("a"), Some("a"), Some("b"), Some("b")))
  }

  test("partitioned fill restarts per group") {
    val df = Seq(
      ("u1", 0L, Some("x")), ("u1", 1L, None),
      ("u2", 2L, None), ("u2", 3L, Some("y")), ("u2", 4L, None))
      .toDF("u", "idx", "v")
    val out = Ffill.ffill(df, "idx", Seq("v"), partitionCols = Seq("u"))
      .orderBy("idx").select("v").collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("x"), Some("x"), None, Some("y"), Some("y")))
  }

  test("multi-column fill fills each independently") {
    val df = Seq(
      (0L, Some("a"), Option.empty[String]),
      (1L, None, Some("p")),
      (2L, None, None)).toDF("idx", "v1", "v2")
    val out = Ffill.ffillBlocked(df, "idx", Seq("v1", "v2"), blockSize = 2)
      .orderBy("idx").collect()
      .map(r => (Option(r.getString(1)), Option(r.getString(2))))
    assert(out.toSeq == Seq(
      (Some("a"), None), (Some("a"), Some("p")), (Some("a"), Some("p"))))
  }
}

object FfillSpec {
  /** Evaluation counter of the order-change test's source (tasks run in
    * the test JVM under `local[n]`). */
  val calls = new AtomicInteger
}
