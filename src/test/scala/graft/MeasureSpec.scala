package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Measure
import graft.engine.Measure.Timing

/** `Measure.measure`, the one timing protocol under Bench and the
  * scaled tier: reset before anything runs, untimed warm-ups, failed
  * runs dropped rather than timed, and the median/min/varied summary. */
class MeasureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tiny: DataFrame = spark.range(4).toDF("id")

  private def timing(secs: Double*) = Timing("t", secs.map(_ -> 0.0), 0.0)

  test("warm-ups run untimed before the timed runs") {
    var calls = 0
    val t = Measure.measure(spark, "warm", iters = 2, warmup = 2) {
      calls += 1
      if (calls <= 2) Thread.sleep(2000) // only the warm-ups are slow
      tiny
    }
    assert(calls == 4)
    assert(t.runs.length == 2)
    assert(t.runs.forall(_._1 < 2.0), t.runs)
    assert(t.extCores >= 0.0, "the external-cores meter reads /proc on Linux")
  }

  test("a run that throws is dropped; when every run fails median and min are -1") {
    var calls = 0
    val t = Measure.measure(spark, "flaky", iters = 3, warmup = 0) {
      calls += 1
      if (calls == 2) throw new IllegalStateException("planted")
      tiny
    }
    assert(calls == 3)
    assert(t.runs.length == 2)
    assert(t.median >= 0.0 && t.min >= 0.0)

    val dead = Measure.measure(spark, "dead", iters = 2, warmup = 1) {
      throw new IllegalStateException("planted")
    }
    assert(dead.runs.isEmpty)
    assert(dead.median == -1.0 && dead.min == -1.0)
    assert(!dead.varied)
  }

  test("median of odd and even run counts; min") {
    assert(timing(3.0, 1.0, 2.0).median == 2.0)
    assert(timing(4.0, 1.0, 3.0, 2.0).median == 2.5)
    assert(timing(5.0).median == 5.0)
    assert(timing(4.0, 1.0, 3.0, 2.0).min == 1.0)
  }

  test("varied flips above a 3x max/min spread, and needs two runs") {
    assert(!timing(1.0, 3.0).varied)
    assert(timing(1.0, 3.01).varied)
    assert(timing(2.0, 1.0, 7.0).varied)
    assert(!timing(9.0).varied)
  }

  test("measure resets the session before the first build") {
    val held = spark.range(1000).toDF("id").persist()
    held.count()
    def cached = spark.sharedState.cacheManager.lookupCachedData(castToImpl(held)).isDefined
    assert(cached)
    var cachedAtFirstBuild: Option[Boolean] = None
    Measure.measure(spark, "reset", iters = 1, warmup = 1) {
      if (cachedAtFirstBuild.isEmpty) cachedAtFirstBuild = Some(cached)
      tiny
    }
    assert(cachedAtFirstBuild.contains(false), "measure must reset before it builds")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
