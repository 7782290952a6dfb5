package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, Tables}
import graft.functions.SimilarityLengthPruning
import graft.queries.PipelineQueries

/** The session module: Tables' nanos→micros timestamp conversion (it
  * must be integral division — epoch nanos exceed the 52-bit double
  * mantissa, so a double divide can land a full microsecond off), and
  * `GraftSession` as the one place a session is built, tuned and
  * reset. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nanosToTimestampMicros is exact above 2^53 ns (integral division)") {
    // 1700000000000000896 / 1000 = 1700000000000000, but the double
    // formulation rounds up to ...001 — prove the hazard is real, then
    // that the conversion avoids it
    val hazard = 1700000000000000896L
    assert((hazard.toDouble / 1000.0).toLong != hazard / 1000L)

    val nanos = Seq(hazard, 0L, 999L, 1000L, 1001L,
      1699999999999999999L, 1700000000000001024L,
      // pre-1970: conversion must FLOOR (round toward -∞), not truncate
      -1L, -999L, -1000L, -1001L, -1500L)
    val got = nanos.toDF("ts")
      .withColumn("ts", Tables.nanosToTimestampMicros("ts"))
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(got == nanos.map(n => Math.floorDiv(n, 1000L)))
  }

  test("events table surfaces ts as a microsecond timestamp") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(ev.select(min(col("ts"))).first().getTimestamp(0) != null)
  }

  test("reset empties every cache, and a memo consumer rebuilds and re-caches its memo") {
    val dir = "/root/testdata/sf0.001"
    def runConsumer() = {
      val df = SparkEntry.queries("p131_pagerank")(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      df
    }
    def cached(m: org.apache.spark.sql.DataFrame): Boolean =
      spark.sharedState.cacheManager.lookupCachedData(castToImpl(m))
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

    runConsumer()
    val before = PipelineQueries.psnEdges(spark, dir)
    assert(cached(before), "the consumer must have materialized its memo")
    // blocks no CacheManager entry owns, like connected components'
    // per-round labels
    val owned = spark.sparkContext.getPersistentRDDs.size
    spark.range(8).localCheckpoint()
    assert(spark.sparkContext.getPersistentRDDs.size == owned + 1)

    GraftSession.reset(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)

    val again = runConsumer()
    assert(again.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    val rebuilt = PipelineQueries.psnEdges(spark, dir)
    assert(rebuilt ne before, "reset must drop the memo so its consumer rebuilds it")
    assert(rebuilt.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(cached(rebuilt), "the rebuilt memo must be cached again, not recomputed per use")
    GraftSession.reset(spark)
  }

  test("tune is one idempotent injection point for the optimizer rule and the SQL functions") {
    val s = GraftSession.local(4, "graft-test")
    GraftSession.tune(s)
    GraftSession.tune(s)
    assert(s.experimental.extraOptimizations.count(_ == SimilarityLengthPruning) == 1)

    // a fresh session state knows none of graft's functions until tune
    val fresh = s.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](fresh.sql("SELECT unaccent('a')").first())
    GraftSession.tune(fresh)
    val r = fresh.sql(
      "SELECT unaccent('Homologación') AS u, ROUND(similarity_ratio('abc', 'abd'), 4) AS s")
      .first()
    assert(r.getString(0) == "Homologacion")
    assert(math.abs(r.getDouble(1) - 0.6667) < 1e-9)
    val hh = fresh.sql(
      "SELECT misra_gries(t, 4) AS hh FROM VALUES ('a'),('a'),('b') AS v(t)")
      .first().getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(x => (x.getString(0), x.getLong(1))) == Seq(("a", 2L), ("b", 1L)))
  }

  test("graft/engine/Session.scala is the only place a session is built") {
    val needle = "SparkSession" + ".builder"
    val allowed = Paths.get("src/main/scala/graft/engine/Session.scala")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.contains(allowed), s"no $allowed under ${Paths.get("").toAbsolutePath}")
    val offenders = sources.filter((p: Path) =>
      p != allowed && Files.readString(p).contains(needle))
    assert(offenders.isEmpty,
      s"$needle outside $allowed: ${offenders.mkString(", ")}; build through GraftSession.local")
  }
}
