package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loading for the graft engine.
  *
  * Settings are scale-minded for any `local[n]` session: shuffle
  * partitions sized to cores (not the 200 default), AQE on so skewed
  * shuffles re-plan at runtime, broadcast threshold left at default so
  * dimension tables (nation/region/catalogs) broadcast automatically.
  * Non-ANSI cast semantics match the reference's coerce-to-null casts
  * (pd.to_numeric(errors="coerce") in the reference transform pipeline).
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One
    * `RunHomologation.main` run generates about 140 distinct classes, and
    * two grids with different header shapes about 150 together. At 100
    * entries the LRU evicts each class before its next use, so every
    * run compiles about 130 classes again. At 2,000 a repeated run
    * compiles none, and the cache still has room for a dozen such
    * working sets, or a mixed query suite, in one long-lived session.
    * The conf is static and read once per JVM, when Spark's
    * `CodeGenerator` first initializes, so it takes effect only when
    * this builds the JVM's first session. */
  val CodegenCacheEntries: Int = 2000

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_LTZ
      // (wall clock = session UTC ⇒ same epoch micros DuckDB sees), not
      // TIMESTAMP_NTZ — unix_micros & friends require LTZ, and every
      // oracle compares epoch values under UTC
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftOptimizations.install(spark)
    spark
  }

  /** Apply engine-required runtime confs to an externally-created session
    * (a caller may hand us its own). Only session-mutable confs here:
    * the codegen cache size ([[CodegenCacheEntries]]) is static, so a
    * session created elsewhere has to set it when it is created. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    graft.functions.GraftOptimizations.install(spark)
    spark
  }
}

/** Parquet table loader for the synthetic star schema (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Epoch-nanos long → microsecond timestamp. MUST be integral: a double
    * divide carries only 52 mantissa bits, and epoch nanos (~1.7e18)
    * exceed 2^53, so `(ts / 1000.0).toLong` can land 1 µs off (e.g.
    * 1700000000000000896 ns → 1700000000000001 µs instead of
    * 1700000000000000). And it must be FLOOR division, not `div`'s
    * truncation, so pre-1970 nanos round toward -∞ like every ns→µs
    * timestamp conversion does. Pinned in SessionSpec. */
  def nanosToTimestampMicros(nanosCol: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.expr(
        s"(`$nanosCol` div 1000) - (CASE WHEN `$nanosCol` < 0 AND `$nanosCol` % 1000 != 0 THEN 1 ELSE 0 END)"))

  /** Normalize an events-shaped frame's `ts` to TIMESTAMP_LTZ whatever
    * the parquet encoding was: legacy nanos-long → micros timestamp,
    * TIMESTAMP_NTZ → LTZ cast (wall clock = session UTC, identical
    * epoch micros), already-LTZ → untouched. Works on streaming
    * DataFrames too (pure column expressions). */
  def normalizeEventsTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(tsCol, nanosToTimestampMicros(tsCol))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          df(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS) — Spark reads it as a long
    // (spark.sql.legacy.parquet.nanosAsLong); surface it as a proper
    // microsecond timestamp so date/window functions apply.
    val tsFixed =
      if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", nanosToTimestampMicros("ts"))
      else df
    // Defensive: if this session was created without our parquet confs
    // (inferTimestampNTZ left on), naive parquet timestamps arrive as
    // TIMESTAMP_NTZ — cast to LTZ (wall clock = session UTC, identical
    // epoch micros) so unix_micros/window paths behave the same.
    tsFixed.schema.fields.foldLeft(tsFixed) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name,
          d(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }
  }

  /** Register every table as a temp view named after the file. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
