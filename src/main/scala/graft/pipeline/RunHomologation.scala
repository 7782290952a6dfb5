package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

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
  * A cold run on a 2,000-row grid fires 11 Spark jobs: 3 for the
  * grid's and the catalog's CSV schemas (1 for the grid's column count,
  * 2 for the catalog's inferred types), the header prefix collect, the
  * forward fill's preview, 3 for the pipeline's one summary aggregate
  * (the staged table's first computation, the shuffle-map stage and the
  * result), 2 for the scored importer collect (the catalog's broadcast
  * and the collect), and the write. A warm run, one that re-reads a grid
  * and a catalog this JVM has read before and that have not changed,
  * fires 8: the 3 schema jobs go, since both schemas come from
  * [[graft.sources.SchemaMemo]]. The row count, the `AÑO` range and
  * the not-found names are the pipeline's driver-side results (one row,
  * ≤ U names), so no action runs after the write. The grid's index
  * pass and the forward fill read and build Catalyst rows, so a warm
  * run decodes no `Row` and reports no `rdd` query execution. A grid
  * whose data rows hold no `AÑO` fails with an
  * `IllegalArgumentException` that names it.
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
    try {
      val (y0, y1) = result.years.getOrElse(throw new IllegalArgumentException(
        s"$gridCsv: no data row holds an AÑO, so the published file has no year range"))
      val outPath = s"$outDir/datos3cv_${y0}-${y1}.csv"
      OrderedScan.writeSingleCsv(Homologation.publishProjection(result.standardized), outPath)

      // batched store persistence (one write per run, not per header)
      mappingJson.foreach(p => MappingStore.save(rules, Paths.get(p)))

      val notFound = result.notFound.collect().map(_.getString(0))
      if (notFound.nonEmpty) {
        System.err.println(s"[homologation] ${notFound.length} importer(s) not matched:")
        notFound.foreach(n => System.err.println(s"  - $n"))
      }
      println(s"""{"published":"$outPath","rows":${result.rows},"years":[$y0,$y1],"importers_not_found":${notFound.length}}""")
    } finally result.release() // free the pipeline's caches (terminal actions done)
    if (existing.isEmpty) spark.stop()
  }
}
