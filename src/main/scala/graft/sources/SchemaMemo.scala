package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Inferred schemas of file reads, so a re-read of unchanged files plans
  * without an inference job. Inferring a parquet schema reads footers in
  * a Spark job, and a CSV schema costs one or two jobs over the file; a
  * session that reads the same grid, catalog or table on every query
  * pays that on every query for a schema that cannot have changed.
  *
  * An entry's key has four parts: the format and its options; the
  * qualified path; every leaf file's `(path, length, modificationTime)`
  * from the Hadoop `FileSystem` (a directory is listed recursively); and
  * the session's runtime SQL confs, since confs such as
  * `spark.sql.legacy.parquet.nanosAsLong`,
  * `spark.sql.parquet.inferTimestampNTZ.enabled` and
  * `spark.sql.caseSensitive` change what inference returns. A hit reads
  * with `.schema(memo)`; a miss, or a path that cannot be stat'ed (a
  * glob, a missing file), infers exactly as an uncached read does. A
  * rewrite that keeps a file's length and its modification time to the
  * millisecond is not seen.
  *
  * The memo holds metadata, not data: one `StructType` per key, at most
  * 256 of them, the oldest evicted first. It is JVM-wide, and
  * `GraftSession.reset` leaves it alone: reset frees cached data, and a
  * schema keyed on file stats stays valid across it.
  */
object SchemaMemo {

  private val MaxEntries = 256

  private case class Key(
      format: String,
      options: Map[String, String],
      path: String,
      files: Seq[(String, Long, Long)],
      confs: Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, StructType]() {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size > MaxEntries
  }

  /** `spark.read.format(format).options(options).load(path)`, with the
    * schema from the memo when the files are unchanged. */
  def read(spark: SparkSession, format: String, options: Map[String, String],
      path: String): DataFrame = {
    val reader = spark.read.format(format).options(options)
    key(spark, format, options, path) match {
      case Some(k) =>
        memo.synchronized(Option(memo.get(k))) match {
          case Some(schema) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            memo.synchronized(memo.put(k, df.schema))
            df
        }
      case None => reader.load(path)
    }
  }

  private def key(spark: SparkSession, format: String, options: Map[String, String],
      path: String): Option[Key] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val root = fs.getFileStatus(p)
      val leaves =
        if (!root.isDirectory) Seq(root)
        else {
          val it = fs.listFiles(p, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
        }
      Some(Key(format, options, fs.makeQualified(p).toString,
        leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1),
        spark.sessionState.conf.getAllConfs))
    } catch { case NonFatal(_) => None }
}
