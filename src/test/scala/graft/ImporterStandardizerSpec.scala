package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ImporterStandardizer
import graft.sources.{OrderedScan, ReferenceData}

/** J1/J2/F14/F15: fuzzy importer standardization against the importer
  * master catalog that [[ReferenceData]] resolves (by default the vendored
  * 3-row partial reconstruction). */
class ImporterStandardizerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val catalog = OrderedScan.csvCatalog(
    spark, ReferenceData.importerCatalog)

  test("exact, junk-variant, and garbage names standardize as expected") {
    val df = Seq(
      ("Astara Chile SPA", 1),       // exact → accepted
      ("Astara. Chile - SPA", 2),    // junk chars only → strip → exact
      ("BYD  Chile\tSPA", 3),        // tabs/spaces → exact after strip
      ("zzzz qqqq vvvv", 4)          // garbage → not found, name kept
    ).toDF("IMPORTADOR", "id")
    val r = ImporterStandardizer.standardize(df, catalog,
      threshold = 0.6, variant = ImporterStandardizer.Legacy)
    val out = r.standardized.orderBy("id")
      .select("IMPORTADOR", "RUT", "IMP_COD").collect()

    assert(out(0).getString(0) == "Astara Chile SPA")
    assert(out(0).getString(1) == "96.861.240-9")
    assert(out(0).getString(2) == "ASTA968612409")
    assert(out(1).getString(0) == "Astara Chile SPA")
    assert(out(2).getString(0) == "BYD Chile SPA")
    assert(out(3).getString(0) == "zzzz qqqq vvvv")
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))

    val nf = r.notFound.as[String].collect().toSet
    assert(nf == Set("zzzz qqqq vvvv"))
  }

  test("new-path variant accepts at exactly the threshold (inclusive)") {
    val df = Seq(("Astara Chile SPA", 1)).toDF("IMPORTADOR", "id")
    val r = ImporterStandardizer.standardize(df, catalog,
      threshold = 1.0, variant = ImporterStandardizer.Normalized)
    assert(r.notFound.count() == 0) // score 1.0 >= 1.0 accepted
    val r2 = ImporterStandardizer.standardize(df, catalog,
      threshold = 1.0, variant = ImporterStandardizer.Legacy)
    assert(r2.notFound.count() == 1) // legacy is strict >
  }

  test("blocked fuzzy join agrees with the broadcast cross join on the catalog") {
    import graft.ops.FuzzyJoin
    val probes = Seq("Astara Chile SPA", "BYD Chile SPA", "Automotores Gildemeister SPA")
      .toDF("name")
    val direct = FuzzyJoin.bestMatch(probes, "name", catalog, "NOMBRE_EMP", 0.6)
      .select("name", "NOMBRE_EMP").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val blocked = FuzzyJoin.bestMatchBlocked(probes, "name", catalog, "NOMBRE_EMP", 0.6)
      .select("name", "NOMBRE_EMP").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(direct == blocked)
    assert(direct.size == 3)
  }

  test("bestMatch keeps duplicate probe rows (top-1 per ROW, not per value)") {
    import graft.ops.FuzzyJoin
    val probes = Seq(
      ("Astara Chile SPA", 1), ("Astara Chile SPA", 2), ("BYD Chile SPA", 3)
    ).toDF("name", "id")
    val out = FuzzyJoin.bestMatch(probes, "name", catalog, "NOMBRE_EMP", 0.6)
    assert(out.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // both duplicates matched the same catalog row
    assert(out.where($"id".isin(1, 2)).select("NOMBRE_EMP").distinct().count() == 1)
  }

  test("union of per-sheet grids stacks with a _sheet column") {
    import graft.sources.OrderedScan
    val s0 = OrderedScan.fromGrid(spark, Seq(Seq("a", "b")), 2)
    val s1 = OrderedScan.fromGrid(spark, Seq(Seq("c", "d"), Seq("e", "f")), 2)
    val u = OrderedScan.unionSheets(Seq(s0, s1))
    assert(u.count() == 3)
    assert(u.where("_sheet = 1").count() == 2)
    assert(u.columns.contains("_row_idx"))
  }

  test("standardize equals the lazy left-join / left-anti formulation") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    import graft.ops.FuzzyJoin
    import ImporterStandardizer.{Legacy, Normalized, Variant}
    // the fully lazy formulation: every action re-runs the fuzzy match
    def lazyStandardize(df: DataFrame, variant: Variant): (DataFrame, DataFrame) = {
      val names = df.select("IMPORTADOR").where(col("IMPORTADOR").isNotNull).distinct()
      val cat = FuzzyJoin.withPosition(catalog.select("COD_IMP", "NOMBRE_EMP", "RUT"))
      def strip(c: Column) = coalesce(regexp_replace(c, "[\\t\\. \\-]+", ""), lit(""))
      val best = variant match {
        case Legacy => FuzzyJoin.bestMatch(names, "IMPORTADOR", cat, "NOMBRE_EMP",
          0.6, inclusive = false,
          scorer = (p, c) => GraftFunctions.similarity_native(strip(p), strip(c)))
        case Normalized => FuzzyJoin.bestMatch(names, "IMPORTADOR", cat, "NOMBRE_EMP",
          0.6, inclusive = true, scorer = FuzzyJoin.normalizedRatio)
      }
      val mapping = best.select(col("IMPORTADOR"), col("NOMBRE_EMP").as("IMPORTADOR_STD"),
        col("RUT"), col("COD_IMP").as("IMP_COD"))
      val joined = df.join(broadcast(mapping), Seq("IMPORTADOR"), "left")
        .withColumn("IMPORTADOR", coalesce(col("IMPORTADOR_STD"), col("IMPORTADOR")))
        .drop("IMPORTADOR_STD")
      (joined, names.join(mapping.select("IMPORTADOR"), Seq("IMPORTADOR"), "left_anti"))
    }
    def sortedRows(d: DataFrame) = d.collect().map(_.toSeq.map(String.valueOf)).toSeq
      .sortBy(_.mkString("\u0001"))
    val cases = Seq(
      Seq[(String, Int)](
        (null, 1),                          // null name: kept, no match
        ("Astara. Chile - SPA", 2),         // duplicate rows of one name
        ("Astara. Chile - SPA", 3),
        ("BYD  Chile\tSPA", 4),
        ("Automotores  Gildemeister spa.", 5),
        ("zzzz qqqq vvvv", 6),              // unmatched name
        ("zzzz qqqq vvvv", 7)),
      Seq.empty[(String, Int)])             // empty input frame
    for (variant <- Seq(Legacy, Normalized); rows <- cases) {
      val df = rows.toDF("IMPORTADOR", "id")
      val r = ImporterStandardizer.standardize(df, catalog, variant = variant)
      val (wantStd, wantNf) = lazyStandardize(df, variant)
      assert(r.standardized.schema == wantStd.schema, s"$variant")
      assert(sortedRows(r.standardized) == sortedRows(wantStd), s"$variant")
      assert(sortedRows(r.notFound) == sortedRows(wantNf), s"$variant")
      assert(r.standardized.count() == rows.size)
    }
  }

  // bestMatchCollected's driver-side top-1 against the distributed
  // window form, over catalogs whose repeated names tie on score (the
  // first catalog position must win), at thresholds that every pair
  // clears (0.0), that only exact names reach (1.0, where the two
  // variants' inclusive and strict comparisons part), and in between
  test("the collected top-1 equals bestMatch for both variants") {
    import org.apache.spark.sql.types.StringType
    import graft.ops.FuzzyJoin
    import ImporterStandardizer.{Legacy, Normalized}
    val rnd = new scala.util.Random(11)
    val base = Seq("Astara Chile SPA", "BYD Chile SPA", "Automotores Gildemeister SPA",
      "Kaufmann SA", "Derco SPA")
    def noisy(s: String): String = s.map(ch => rnd.nextInt(12) match {
      case 0 => '.'
      case 1 => ch.toLower
      case 2 => ' '
      case _ => ch
    }).mkString
    val cat = FuzzyJoin.withPosition(
      (base ++ Seq(base(0), noisy(base(1)), base(1).toUpperCase, base(0)))
        .zipWithIndex.map { case (n, i) => (s"C$i", n, s"R$i") }
        .toDF("COD_IMP", "NOMBRE_EMP", "RUT"))
    val cases: Seq[Seq[String]] = Seq(
      Seq(null, base(0), base(0), "zzzz qqqq", noisy(base(2)), ""), // null, repeat, no match
      Seq.empty[String]) ++
      (1 to 4).map(_ => Seq.fill(10)(base(rnd.nextInt(base.size))).map(noisy))
    for (variant <- Seq(Legacy, Normalized); names <- cases; t <- Seq(0.0, 0.6, 0.85, 1.0)) {
      val want = FuzzyJoin.bestMatch(names.toDF("name"), "name", cat, "NOMBRE_EMP", t,
          variant.inclusive, variant.scorer)
        .collect().map(r => Option(r.get(0)) -> r.toSeq.tail).toMap
      val got = FuzzyJoin.bestMatchCollected(names, StringType, cat, "NOMBRE_EMP", t,
          variant.inclusive, variant.scorer)
        .map { case (v, r) => Option(v) -> r.toSeq }
      assert(got == want, s"$variant at $t over $names")
    }
  }

  // The importer mapping is applied as a lookup into a literal map: the
  // standardized plan neither joins nor exchanges the fact rows.
  test("standardized plans no join and no fact Exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.{col, when}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val df = spark.range(0, 5000, 1, 4).select(
      when(col("id") % 3 === 0, "Astara Chile SPA")
        .when(col("id") % 3 === 1, "zzzz qqqq vvvv").as("IMPORTADOR"), col("id"))
    val r = ImporterStandardizer.standardize(df, catalog)
    assert(r.standardized.where(col("RUT").isNotNull).count() == 1667)
    val bad = nodes(r.standardized.queryExecution.executedPlan).filter(n =>
      n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[Exchange])
    assert(bad.isEmpty, s"standardized plan holds ${bad.map(_.nodeName)}")
  }
}
