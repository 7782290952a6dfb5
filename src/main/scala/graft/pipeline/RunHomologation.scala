package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, max, min}

import graft.engine.GraftSession
import graft.ops.CompatMode
import graft.schema.{HeaderRules, MappingStore}
import graft.sources.OrderedScan

/** Runnable EP2+EP3 (the reference's `python src/transform_pipeline.py`
  * and `python src/load_to_gcp.py` in one): raw grid CSV in, published
  * `datos3cv_<minYear>-<maxYear>.csv` out, with the memoized header
  * mapping store round-tripped and a not-found importer report — the
  * fail-fast replacement for the reference's interactive fallback (F25).
  *
  * Usage: runMain graft.pipeline.RunHomologation
  *   <rawGridCsv> <catalogCsv> <outDir> [mappingJson] [reference|intended]
  */
object RunHomologation {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunHomologation <rawGridCsv> <catalogCsv> <outDir> [mappingJson] [reference|intended]")
    val Array(gridCsv, catalogCsv, outDir) = args.take(3)
    val mappingJson = args.lift(3)
    val mode = args.lift(4) match {
      case Some("intended") => CompatMode.Intended
      case _                => CompatMode.Reference
    }
    // reuse an already-running session (tests, notebooks) with only the
    // engine's required confs applied, and own the session (and its
    // shutdown) only when none exists
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.map(GraftSession.tune).getOrElse(GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "homologation"))

    val rules = new HeaderRules(mode = mode)
    mappingJson.map(Paths.get(_)).filter(java.nio.file.Files.exists(_))
      .foreach(MappingStore.load(_, rules))

    val grid = OrderedScan.csvGrid(spark, gridCsv)
    val catalog = OrderedScan.csvCatalog(spark, catalogCsv)
    val result = Homologation.pipeline(grid, rules, catalog, mode)

    val published = Homologation.publishProjection(result.standardized)
    // year range and row count in one job (the importer left join keeps
    // the staged row count, so this equals published's count)
    val stats = result.standardized
      .agg(min(col("AÑO")), max(col("AÑO")), count(lit(1))).first()
    val (y0, y1, rows) = (stats.getInt(0), stats.getInt(1), stats.getLong(2))
    val outPath = s"$outDir/datos3cv_${y0}-${y1}.csv"
    OrderedScan.writeSingleCsv(published, outPath)

    // batched store persistence (one write per run, not per header)
    mappingJson.foreach(p => MappingStore.save(rules, Paths.get(p)))

    val notFound = result.notFound.collect().map(_.getString(0))
    if (notFound.nonEmpty) {
      System.err.println(s"[homologation] ${notFound.length} importer(s) not matched:")
      notFound.foreach(n => System.err.println(s"  - $n"))
    }
    println(s"""{"published":"$outPath","rows":$rows,"years":[$y0,$y1],"importers_not_found":${notFound.length}}""")
    result.release() // free the pipeline's caches (terminal actions done)
    if (existing.isEmpty) spark.stop()
  }
}
