package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static JVM entry points for codegen — generated code calls these
  * directly, so the expressions below stay inside whole-stage codegen
  * with no ScalaUDF closure serialization or Option boxing on the path. */
object ExprKernels {
  def unaccent(s: UTF8String): UTF8String =
    UTF8String.fromString(TextFunctions.unaccentStr(s.toString))

  def similarity(a: UTF8String, b: UTF8String): Double =
    Similarity.ratio(a.toString, b.toString)

  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    Similarity.jaroWinkler(a.toString, b.toString)

  /** Ceil integer square root, arbitrary precision (Newton floor-sqrt
    * then bump) — the kernel behind [[OutlierThresholdExpression]]. */
  def isqrtCeil(x: BigInt): BigInt = {
    require(x >= 0)
    if (x == 0) BigInt(0)
    else {
      var r = BigInt(1) << ((x.bitLength + 1) / 2) // >= sqrt(x)
      var prev = BigInt(-1)
      while (r != prev) { prev = r; r = (r + x / r) >> 1 } // floor sqrt
      while (r * r < x) r += 1
      r
    }
  }

  def nfcClean(s: UTF8String): UTF8String = {
    val n = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) {
      val c = n.charAt(i)
      if (!Character.isISOControl(c)) sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `unaccent(str)`: accent folding as a native Catalyst expression (F6).
  * null-in → null-out; codegen emits a static call. */
case class UnaccentExpression(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.unaccent(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.unaccent($c)")
  override protected def withNewChildInternal(newChild: Expression): UnaccentExpression =
    copy(child = newChild)
  override def prettyName: String = "unaccent"
}

/** `similarity_ratio(a, b)`: Ratcliff/Obershelp ratio as a native
  * expression (F14) — the fuzzy-join scorer without UDF overhead. */
case class SimilarityExpression(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.similarity(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.similarity($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SimilarityExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "similarity_ratio"
}

/** `jaro_winkler(a, b)`: Jaro-Winkler similarity as a native
  * expression — the record-linkage scorer next to `similarity_ratio`,
  * boost threshold 0.7, prefix cap 4, p = 0.1 (DuckDB-parameterized;
  * see [[graft.functions.Similarity.jaroWinkler]]). */
case class JaroWinklerExpression(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaroWinklerExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "jaro_winkler"
}

/** `nfc_clean(str)`: Unicode NFC composition + ISO-control strip (C0 +
  * C1, exactly `Character.isISOControl`) — canonical text cleanup before
  * fingerprinting/shingling so byte-different but canonically-equal
  * inputs dedup together. Matches DuckDB's
  * `regexp_replace(nfc_normalize(s), '[controls]', '', 'g')`. */
case class NfcCleanExpression(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    ExprKernels.nfcClean(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.nfcClean($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcCleanExpression =
    copy(child = newChild)
  override def prettyName: String = "nfc_clean"
}

/** `outlier_threshold(n, s, q)`: the exact 3-sigma threshold
  * T = ceil(√(⌊9n(nq−s²)/(n−1)⌋ + 1)) over 1e-6-fixed-point group
  * moments (n rows, s = Σx, q = Σx², all DECIMAL(38,0)) — see
  * [[graft.ops.EventsOps.valueOutliers]] for the derivation. The
  * INTERIOR arithmetic needs ~3·38 digits (9n(nq−s²) overflows any
  * fixed DECIMAL), which is why this is a native expression with an
  * arbitrary-precision BigInt kernel rather than column arithmetic:
  * it runs per GROUP-STATS ROW inside the executors, so the threshold
  * table never rounds-trips through the driver and group cardinality
  * is unbounded. NULL for n < 2 (sample variance undefined) and for
  * NULL moments (an all-NULL-measure group); a result that itself
  * exceeds the exact DECIMAL(38,0) per-row comparison domain raises
  * loudly rather than misclassifying. CodegenFallback: one row per
  * group, never on the corpus-sized path. */
case class OutlierThresholdExpression(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override protected def nullSafeEval(nAny: Any, sAny: Any, qAny: Any): Any = {
    val n = BigInt(nAny.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger)
    if (n < 2) null
    else {
      val s = BigInt(sAny.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger)
      val q = BigInt(qAny.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger)
      val a = 9 * n * (n * q - s * s) // ≥ 0 (Cauchy–Schwarz)
      val t = ExprKernels.isqrtCeil(a / (n - 1) + 1)
      if (t.bitLength > 126)
        throw new ArithmeticException(
          "valueOutliers: threshold exceeds the exact DECIMAL(38,0) " +
            "per-row comparison domain")
      Decimal(scala.math.BigDecimal(t), 38, 0)
    }
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): OutlierThresholdExpression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "outlier_threshold"
}

/** `mw_z2(d, n1, n2, sum_ties)`: the tie-corrected Mann–Whitney
  * normal-approximation statistic and its α=0.05 decision, exact —
  * d = 2·U₁ − n₁n₂ (the doubled centered statistic, an integer by
  * construction), with
  *
  *   z² = 3·d²·n·(n−1) / (n₁·n₂·(n³ − n − Σ(t³−t)))
  *
  * (σ² from Mann & Whitney 1947 with the standard tie correction).
  * The interior needs ~n⁶ — past any fixed DECIMAL at corpus scale —
  * so like [[OutlierThresholdExpression]] this is a native expression
  * with an arbitrary-precision BigInt kernel, running on the ONE
  * aggregated stats row. Returns struct(z2_ppm DECIMAL(38,0),
  * significant_05 BOOLEAN): z2_ppm is the floored ppm statistic; the
  * decision is the EXACT cross-multiplication
  * 10⁶·3·d²·n(n−1) > 3841459·n₁n₂(n³−n−ΣT) (χ²₁ at 0.05, the
  * [[graft.ops.Governance.mcnemar]] convention — a boundary tie is
  * not significant). NULL when either group is empty or the variance
  * is zero (all values tied). */
case class MannWhitneyZ2Expression(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("z2_ppm", DecimalType(38, 0)),
    StructField("significant_05", BooleanType)))
  override def nullable: Boolean = true
  override def nullSafeEval(dAny: Any, n1Any: Any, n2Any: Any, tAny: Any): Any = {
    def big(a: Any): BigInt = BigInt(a.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger)
    val d = big(dAny); val n1 = big(n1Any); val n2 = big(n2Any); val sumT = big(tAny)
    if (n1 < 1 || n2 < 1) null
    else {
      val n = n1 + n2
      val den = n1 * n2 * (n * n * n - n - sumT)
      if (den <= 0) null
      else {
        val num = 3 * d * d * n * (n - 1)
        val z2ppm = num * 1000000 / den
        if (z2ppm.bitLength > 126)
          throw new ArithmeticException(
            "mw_z2: z2_ppm exceeds the DECIMAL(38,0) output domain")
        new GenericInternalRow(Array[Any](
          Decimal(scala.math.BigDecimal(z2ppm), 38, 0),
          num * 1000000 > BigInt(3841459) * den))
      }
    }
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): MannWhitneyZ2Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "mw_z2"
}

/** `ari_ppm(s2, a2, b2, n)`: the Adjusted Rand Index between two
  * partitions of the same n items, exact to the floored ppm —
  * s2 = Σᵢⱼ nᵢⱼ(nᵢⱼ−1) over the contingency cells, a2/b2 the same
  * over the two marginals. Hubert & Arabia's permutation-model form
  * clears to the integer rational
  *
  *   ari_ppm = 10⁶·2·(s2·N2 − a2·b2) div ((a2+b2)·N2 − 2·a2·b2),
  *   N2 = n(n−1)
  *
  * whose interior is ~n⁴ — past DECIMAL(38,0) beyond n ≈ 2.6·10⁷, so
  * the products live in this BigInt kernel (same rationale as
  * [[MannWhitneyZ2Expression]]). Floored division truncates toward
  * MINUS infinity (BigInt / truncates toward zero — adjusted for
  * negative numerators) so chance-level indexes stay consistent with
  * the `div`-everywhere convention. NULL when the denominator is 0
  * (both partitions trivial: all-singletons or one block — ARI
  * undefined). */
case class AdjustedRandExpression(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with CodegenFallback {
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def nullSafeEval(s2Any: Any, a2Any: Any, b2Any: Any, nAny: Any): Any = {
    def big(a: Any): BigInt = BigInt(a.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger)
    val s2 = big(s2Any); val a2 = big(a2Any); val b2 = big(b2Any); val n = big(nAny)
    if (n < 2) null
    else {
      val n2 = n * (n - 1)
      val den = (a2 + b2) * n2 - 2 * a2 * b2
      if (den == 0) null
      else {
        val num = BigInt(2000000) * (s2 * n2 - a2 * b2)
        // floor division (BigInt / truncates toward zero)
        val q = if (num.signum * den.signum >= 0) num / den
                else -((-num + den.abs - 1) / den.abs)
        Decimal(scala.math.BigDecimal(q), 38, 0)
      }
    }
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): AdjustedRandExpression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "ari_ppm"
}

/** `kw_h(r2s, ns, sum_ties)`: the tie-corrected Kruskal–Wallis H in
  * floored ppm, exact by a PINNED composition — per-group floor-micro
  * rank-sum terms S = Σ_g ⌊10⁶·R2_g²/(4·n_g)⌋ (R2_g the DOUBLED rank
  * sum from the shared tied-rank ladder, so every input is an exact
  * integer), then
  *
  *   h_ppm = ⌊(⌊12·S / (N(N+1))⌋ − 3·10⁶·(N+1)) · (N³−N) / (N³−N−ΣT)⌋
  *
  * (Kruskal & Wallis 1952; the standard tie correction divides by
  * 1 − ΣT/(N³−N)). The composition of floors is the DEFINITION the
  * gates pin — deterministic on any engine, within k·10⁻⁶ of the real
  * H. The interior is ~N⁴ (R2_g² alone passes DECIMAL(38,0) beyond
  * ~10⁹ rows), so like [[MannWhitneyZ2Expression]] the arithmetic
  * lives in an arbitrary-precision BigInt kernel on the ONE aggregated
  * stats row. Array inputs carry the ≤ |groups| per-group moments.
  * Returns struct(h_ppm DECIMAL(38,0), df INT); NULL when N < 2, any
  * group is empty, or the tie-corrected variance is zero (all values
  * tied). */
case class KruskalWallisHExpression(
    first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = StructType(Seq(
    StructField("h_ppm", DecimalType(38, 0)),
    StructField("df", IntegerType)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(r2Any: Any, nAny: Any, tAny: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def bigs(a: Any): Array[BigInt] =
      a.asInstanceOf[ArrayData].toObjectArray(DecimalType(38, 0))
        .map(d => BigInt(d.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger))
    val r2s = bigs(r2Any); val ns = bigs(nAny)
    val sumT = BigInt(tAny.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger)
    if (r2s.length != ns.length || r2s.isEmpty || ns.exists(_ < 1)) null
    else {
      val n = ns.sum
      val den = n * n * n - n - sumT
      if (n < 2 || den <= 0) null
      else {
        val s = r2s.zip(ns).map { case (r2, ng) =>
          1000000 * r2 * r2 / (4 * ng)
        }.sum
        val hraw = 12 * s / (n * (n + 1)) - 3000000 * (n + 1)
        val num = hraw * (n * n * n - n)
        val h = if (num.signum >= 0) num / den else -((-num) / den)
        if (h.bitLength > 126)
          throw new ArithmeticException(
            "kw_h: h_ppm exceeds the DECIMAL(38,0) output domain")
        new GenericInternalRow(Array[Any](
          Decimal(scala.math.BigDecimal(h), 38, 0), ns.length - 1))
      }
    }
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KruskalWallisHExpression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "kw_h"
}

/** `trend_z2(moments)`: the Cochran–Armitage trend test (Cochran 1954;
  * Armitage 1955) for a dose-ordered binary outcome, exact — moments
  * is the 5-element array of exact DECIMAL corpus sums
  * [A = Σsᵢyᵢ, B = Σsᵢ, R = Σyᵢ, N, Q = Σsᵢ²] with s the integer dose
  * score and y ∈ {0,1}, and
  *
  *   z² = N·(N·A − R·B)² / (R·(N−R)·(N·Q − B²)).
  *
  * The interior is ~N²·(N·A)² — past any fixed DECIMAL at corpus
  * scale — so the products live in this BigInt kernel (the
  * [[MannWhitneyZ2Expression]] rationale). Returns struct(z2_ppm
  * DECIMAL(38,0), significant_05 BOOLEAN) with the decision by exact
  * cross-multiplication against χ²₁ = 3.841459 (a boundary tie is not
  * significant); NULL when the outcome or the dose is degenerate
  * (R = 0, R = N, or zero score variance). */
case class TrendZ2Expression(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("z2_ppm", DecimalType(38, 0)),
    StructField("significant_05", BooleanType)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(mAny: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val m = mAny.asInstanceOf[ArrayData].toObjectArray(DecimalType(38, 0))
      .map(d => BigInt(d.asInstanceOf[Decimal].toJavaBigDecimal.toBigInteger))
    if (m.length != 5) null
    else {
      val a = m(0); val b = m(1); val r = m(2); val n = m(3); val q = m(4)
      val den = r * (n - r) * (n * q - b * b)
      if (n < 2 || den <= 0) null
      else {
        val dev = n * a - r * b
        val num = n * dev * dev
        val z2ppm = num * 1000000 / den
        if (z2ppm.bitLength > 126)
          throw new ArithmeticException(
            "trend_z2: z2_ppm exceeds the DECIMAL(38,0) output domain")
        new GenericInternalRow(Array[Any](
          Decimal(scala.math.BigDecimal(z2ppm), 38, 0),
          num * 1000000 > BigInt(3841459) * den))
      }
    }
  }
  override protected def withNewChildInternal(c: Expression): TrendZ2Expression =
    copy(child = c)
  override def prettyName: String = "trend_z2"
}

/** Column-level entry points + SQL registration. */
object GraftFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def unaccent_native(c: Column): Column = column(UnaccentExpression(expression(c)))
  def similarity_native(a: Column, b: Column): Column =
    column(SimilarityExpression(expression(a), expression(b)))
  def jaro_winkler(a: Column, b: Column): Column =
    column(JaroWinklerExpression(expression(a), expression(b)))
  def nfc_clean(c: Column): Column = column(NfcCleanExpression(expression(c)))
  def outlier_threshold(n: Column, s: Column, q: Column): Column =
    column(OutlierThresholdExpression(expression(n), expression(s), expression(q)))
  def mw_z2(d: Column, n1: Column, n2: Column, sumTies: Column): Column =
    column(MannWhitneyZ2Expression(
      expression(d), expression(n1), expression(n2), expression(sumTies)))
  def ari_ppm(s2: Column, a2: Column, b2: Column, n: Column): Column =
    column(AdjustedRandExpression(
      expression(s2), expression(a2), expression(b2), expression(n)))
  def kw_h(r2s: Column, ns: Column, sumTies: Column): Column =
    column(KruskalWallisHExpression(
      expression(r2s), expression(ns), expression(sumTies)))
  def trend_z2(moments: Column): Column =
    column(TrendZ2Expression(expression(moments)))

  private val registrations: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "unaccent" -> (exprs => UnaccentExpression(exprs.head)),
    "similarity_ratio" -> (exprs => SimilarityExpression(exprs(0), exprs(1))),
    "nfc_clean" -> (exprs => NfcCleanExpression(exprs.head)),
    "jaro_winkler" -> (exprs => JaroWinklerExpression(exprs(0), exprs(1))),
    "outlier_threshold" -> (exprs =>
      OutlierThresholdExpression(exprs(0), exprs(1), exprs(2))),
    "misra_gries" -> (exprs => MisraGriesAgg(exprs(0),
      exprs(1).eval().asInstanceOf[Int]).toAggregateExpression()))

  /** Make the functions above SQL-callable on a session;
    * [[graft.engine.GraftSession.tune]] calls this. A name the session's
    * registry already holds is skipped, so a repeated call replaces
    * nothing (and logs no "replaced a previously registered function"
    * warning per name). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
