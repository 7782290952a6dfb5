package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, Tables}
import graft.sources.{OrderedScan, SchemaMemo}

/** SchemaMemo through each of its three readers (`Tables` parquet,
  * `csvGrid`'s headerless CSV, `csvCatalog`'s inferred CSV): a re-read of
  * an unchanged file fires no job, a rewritten file (new length and
  * mtime, same path) is inferred again, a conf that changes inference
  * makes the read miss, and `GraftSession.reset` keeps the memo. */
class SchemaMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Spark jobs fired while `body` runs (DataFrame construction only). */
  private def jobsDuring(body: => Unit): Long = {
    val group = s"schema-memo-${java.util.UUID.randomUUID}"
    val jobs = new AtomicLong
    val flushed = new CountDownLatch(1)
    def inGroup(j: SparkListenerJobStart, g: String) =
      Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == g)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        if (inGroup(j, group)) jobs.incrementAndGet()
        if (inGroup(j, group + "-flush")) flushed.countDown()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "schema memo probe")
      body
      // the listener bus is FIFO: once this job's start lands, every job
      // of the body has been counted
      spark.sparkContext.setJobGroup(group + "-flush", "flush")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    jobs.get
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getAll.get(key) // set explicitly, not a default
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One reader under test: `write(n)` (re)writes its file with `n`
    * columns at a fixed path, `read` builds the DataFrame, `width` is
    * the data columns `read` returns. */
  private case class Reader(name: String, write: Int => Unit, read: () => DataFrame,
      width: DataFrame => Int)

  private def csvLines(n: Int, header: Boolean): String = {
    val cols = (0 until n).map(i => s"c$i")
    val rows = Seq(cols.map(_ => "1"), cols.map(_ => "2"))
    ((if (header) Seq(cols) else Nil) ++ rows).map(_.mkString(",")).mkString("", "\n", "\n")
  }

  /** A parquet table whose one part file keeps its name across
    * rewrites, so only its length and mtime tell a rewrite apart. */
  private def writeParquetTable(dir: Path, name: String, n: Int): Unit = {
    val tmp = Files.createTempDirectory("schema_memo_pq")
    spark.range(2).selectExpr((0 until n).map(i => s"id AS c$i"): _*)
      .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = Files.list(tmp.resolve("t")).toArray.map(_.asInstanceOf[Path])
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(dir.resolve(s"$name.parquet"))
    Files.copy(part, dir.resolve(s"$name.parquet/part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private val readers: Seq[Reader] = {
    val dir = Files.createTempDirectory("schema_memo")
    val grid = dir.resolve("grid.csv")
    val catalog = dir.resolve("catalog.csv")
    Seq(
      Reader("Tables (parquet)", n => writeParquetTable(dir, "t", n),
        () => Tables(spark, dir.toString, "t"), _.columns.length),
      Reader("csvGrid (headerless multiLine CSV)",
        n => Files.writeString(grid, csvLines(n, header = false)),
        () => OrderedScan.csvGrid(spark, grid.toString), _.columns.length - 1),
      Reader("csvCatalog (inferred CSV)",
        n => Files.writeString(catalog, csvLines(n, header = true)),
        () => OrderedScan.csvCatalog(spark, catalog.toString), _.columns.length))
  }

  for (r <- readers) {
    test(s"${r.name}: an unchanged re-read fires no job, and the memo survives reset") {
      r.write(2)
      assert(jobsDuring(r.read()) > 0, "the first read infers its schema")
      assert(jobsDuring(assert(r.width(r.read()) == 2)) == 0)
      GraftSession.reset(spark)
      assert(jobsDuring(r.read()) == 0, "reset must leave the schema memo alone")
      assert(r.read().count() == 2)
    }

    test(s"${r.name}: a rewrite with one more column is inferred again") {
      r.write(2)
      assert(r.width(r.read()) == 2)
      r.write(3)
      assert(r.width(r.read()) == 3, "a rewritten file must not be served the old schema")
      assert(jobsDuring(assert(r.width(r.read()) == 3)) == 0)
    }

    test(s"${r.name}: a changed SQL conf makes the read miss") {
      r.write(2)
      r.read()
      val missed = withConf("spark.sql.caseSensitive", "true")(jobsDuring(r.read()))
      assert(missed > 0, "a changed conf must infer again")
      assert(jobsDuring(r.read()) == 0)
    }
  }

  test("the memo keys on the confs whose change alters what inference returns") {
    // a naive parquet timestamp written outside Spark (no Spark schema
    // in its footer) infers as NTZ or LTZ by conf
    val events = "/root/testdata/sf0.001/events.parquet"
    def tsType() = SchemaMemo.read(spark, "parquet", Map.empty, events).schema("ts").dataType
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(withConf(key, "false")(tsType()) == TimestampType)
    assert(withConf(key, "true")(tsType()) == TimestampNTZType)
    assert(withConf(key, "false")(tsType()) == TimestampType)
    // a header that repeats a name up to case is de-duplicated only when
    // the session is case-insensitive
    val csv = Files.createTempDirectory("schema_memo_conf").resolve("cat.csv")
    Files.writeString(csv, "a,A\n1,2\n")
    def names() = OrderedScan.csvCatalog(spark, csv.toString).columns.toSeq
    assert(withConf("spark.sql.caseSensitive", "false")(names()) == Seq("a0", "A1"))
    assert(withConf("spark.sql.caseSensitive", "true")(names()) == Seq("a", "A"))
  }
}
