package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft session is built, tuned and reset.
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

  /** Build (or join) the JVM's `local[cores]` session. Only the
    * cluster-shaped and static confs are set here; the runtime confs
    * and the optimizer rule and SQL functions come from [[tune]]. */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** The one injection point for engine state: runtime confs, the
    * [[graft.functions.SimilarityLengthPruning]] optimizer rule and the
    * SQL-callable native functions. Idempotent, so it is safe on a
    * session a caller hands us, and any number of times. Only
    * session-mutable confs here: the codegen cache size
    * ([[CodegenCacheEntries]]) is static, so a session created elsewhere
    * has to set it when it is created. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_LTZ
    // (wall clock = session UTC ⇒ same epoch micros DuckDB sees), not
    // TIMESTAMP_NTZ — unix_micros & friends require LTZ, and every
    // oracle compares epoch values under UTC
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(graft.functions.SimilarityLengthPruning))
      spark.experimental.extraOptimizations =
        rules :+ graft.functions.SimilarityLengthPruning
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private val memos =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), DataFrame]

  /** A shared intermediate, built once per (session, key) and persisted
    * `MEMORY_AND_DISK`, so a gate family (say the five consumers of the
    * near-duplicate pair list) computes it once in a sequential run.
    * The key must name the recipe and its inputs (e.g. the sf dir).
    *
    * LIFECYCLE: this is a harness-run cache, not library API. Entries
    * live until [[reset]], so they assume (a) one session per run, and
    * (b) inputs that do not change during the run (a rewritten sf dir
    * would serve stale persisted blocks). After [[reset]] the next
    * consumer rebuilds and re-persists: its first use is cold (it pays
    * its own build), later uses are warm, and correctness never depends
    * on the cache. A long-lived multi-tenant session would want weak
    * keys and unpersist-after-last-consumer, out of scope for a batch
    * harness. */
  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memos.synchronized {
      memos.getOrElseUpdate((s, key),
        build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

  /** Release everything this session has persisted, so the next query
    * starts against an empty cache. Each step fixes a measured bug, and
    * leaving any one out fails `SessionSpec`; once all three run, their
    * order does not change the end state:
    *  1. Memos are dropped through their DataFrame handles. A raw-RDD
    *     sweep alone clears a memo's storage level for good while the
    *     memo and its CacheManager entry live on, so every later
    *     reference recomputes the whole lineage through the dead
    *     `InMemoryRelation` with no re-cache (p134's iterations of 44.5,
    *     44.3 and 7.1 s, each warm one three cold co-purchase
    *     self-joins). Dropping the memo lets the next consumer rebuild
    *     and re-persist.
    *  1. `clearCache` next: ops-internal persists (triangleCount's
    *     oriented edges, pageRank's loop invariants, every kCorePeel
    *     round) would otherwise leave their CacheManager entries behind.
    *     Across a 405-query run the dead entries pile up: every persist
    *     or lookup walks `sameResult` over thousands of stale plans, and
    *     fresh plans route through dead relations (late-suite queries
    *     ran 1.3–1.8× their fresh-JVM cost).
    *  1. A blocking raw-RDD sweep last catches what no plan owns
    *     (`localCheckpoint` and `RDD.persist` blocks, e.g. connected
    *     components' per-round labels), which otherwise stay until the
    *     ContextCleaner notices and evict later queries' working memory.
    *     Locally checkpointed RDDs are released through
    *     [[org.apache.spark.sql.graftbridge.RddBridge]], so dropping them
    *     on purpose logs no "cannot be recomputed" warning per RDD.
    *
    * [[graft.sources.SchemaMemo]] is left alone: it holds inferred
    * schemas (metadata keyed on file stats), not data, is bounded (the
    * oldest entry is evicted past 256), and its schemas stay valid across
    * a reset. */
  def reset(s: SparkSession): Unit = {
    memos.synchronized {
      memos.keys.filter(_._1 eq s).toList.foreach { k =>
        memos.remove(k).foreach(_.unpersist(false))
      }
    }
    s.sharedState.cacheManager.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(
      org.apache.spark.sql.graftbridge.RddBridge.release)
  }
}

/** Parquet table loader for the synthetic star schema (TESTDATA.md).
  * Each table's schema comes from [[graft.sources.SchemaMemo]], so a
  * query over tables already read in this JVM, unchanged since, fires no
  * parquet schema job. */
object Tables {
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
    val df = graft.sources.SchemaMemo.read(spark, "parquet", Map.empty, s"$dir/$name.parquet")
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
}
