package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.functions.GraftFunctions

/** SimilarityLengthPruning: the length guard appears in the optimized
  * plan, results are unchanged (sound prune), and the rule is idempotent. */
class OptimizerRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // parquet-backed (a LocalRelation of literals would be constant-folded
  // away before the rule could be observed)
  private def pairs = graft.engine.Tables(spark, "/root/testdata/sf0.001", "customer")
    .select(col("c_name").as("a"), col("c_mktsegment").as("b"))

  test("guard is injected, results unchanged, rule idempotent") {
    GraftSession.tune(spark)
    val q = pairs.where(GraftFunctions.similarity_native($"a", $"b") >= 0.8)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("length("), optimized)
    assert(optimized.contains("similarity_ratio"), optimized)
    // idempotent: the guard appears once, not nested repeatedly
    assert("least\\(".r.findAllIn(optimized).size == 1, optimized)

    // ground truth without the rule: score explicitly, then filter
    val expected = pairs
      .withColumn("s", GraftFunctions.similarity_native($"a", $"b"))
      .where($"s" >= 0.8).select("a", "b")
      .collect().map(_.toSeq).toSet
    assert(q.collect().map(_.toSeq).toSet == expected)
  }

  test("guard never prunes a true match (soundness on a real cross join)") {
    GraftSession.tune(spark)
    val sup = graft.engine.Tables(spark, "/root/testdata/sf0.001", "supplier")
      .select(col("s_name").as("a")).limit(40)
    val cust = graft.engine.Tables(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_name").as("b")).limit(40)
    val crossed = sup.crossJoin(cust)
    val withRule = crossed.where(GraftFunctions.similarity_native($"a", $"b") >= 0.5)
      .collect().map(_.toSeq).toSet
    val without = crossed
      .withColumn("s", GraftFunctions.similarity_native($"a", $"b"))
      .where($"s" >= 0.5).select("a", "b").collect().map(_.toSeq).toSet
    assert(withRule == without)
    assert(withRule.nonEmpty)
  }

  test("supplementary-plane pair at t=0.8: guard and scorer count the same unit") {
    GraftSession.tune(spark)
    // parquet-backed so the rule (not constant folding) does the pruning
    val dir = java.nio.file.Files.createTempDirectory("graft-astral").toString
    Seq(("😀😀😀😀a", "😀😀😀😀b"), ("😀", "😀a"), ("abcd", "abce"))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val withRule = df.where(GraftFunctions.similarity_native($"a", $"b") >= 0.8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // ground truth straight from the driver-side kernel, no plan involved
    val expected = df.collect().map(r => (r.getString(0), r.getString(1)))
      .filter { case (a, b) => graft.functions.Similarity.ratio(a, b) >= 0.8 }.toSet
    assert(withRule == expected)
    assert(withRule.contains(("😀😀😀😀a", "😀😀😀😀b")), "astral pair must survive pruning")
  }
}
