package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Where the pipeline finds the reference data it reads: the path in an
  * environment variable when set, else a fixture vendored under
  * `src/main/resources/reference/`.
  *
  * The vendored importer catalog is a partial reconstruction (3 of the
  * 28 rows of bd-importadores.csv; see its header), enough for the
  * fixtures and specs that name those importers. */
object ReferenceData {

  val ImporterCatalogEnv = "SPARK_GRAFT_IMPORTER_CATALOG"

  /** Path of the importer master catalog, readable by
    * [[OrderedScan.csvCatalog]]. */
  lazy val importerCatalog: String =
    sys.env.getOrElse(ImporterCatalogEnv, resourcePath("/reference/bd-importadores.csv"))

  /** A file-system path for a classpath resource: the file itself when
    * the classes are a directory (tests), else a temp-file copy (a forked
    * `sbt run` loads them from a jar; Spark's readers take paths, not
    * streams). */
  private def resourcePath(name: String): String = {
    val url = getClass.getResource(name)
    require(url != null, s"$name is not on the classpath; set $ImporterCatalogEnv")
    if (url.getProtocol == "file") Paths.get(url.toURI).toString
    else {
      val tmp = Files.createTempFile("graft-reference", name.substring(name.lastIndexOf('/') + 1))
      tmp.toFile.deleteOnExit()
      val in = url.openStream()
      try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING) finally in.close()
      tmp.toString
    }
  }
}
