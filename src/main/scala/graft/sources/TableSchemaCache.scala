package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The engine's one batch parquet reader: `spark.read.parquet` with the
  * inferred schema remembered per session.
  *
  * A plain `spark.read.parquet(path)` infers the schema from the file
  * footers in a one-task Spark job, on every call — ~80 ms of fixed
  * cost per table read at fixture scale, paid again by every query that
  * names the table. The reference keeps the same metadata between reads
  * (dask-expr's `_cached_dataset_info`, `io/parquet.py`).
  *
  * Contract:
  *  - key: the path, every set `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` setting, and `spark.sql.caseSensitive`
  *    — anything that can change what inference returns;
  *  - value: the inferred schema and a SHA-256 digest of the sorted
  *    (path, length, modification time) of the table's leaf files — the
  *    digest, not the listing, so an entry stays small for any table;
  *  - hit: `spark.read.schema(cached).parquet(path)`, which starts no
  *    job. Its own file index (`PartitioningAwareFileIndex.allFiles`)
  *    supplies the leaf files for the digest check, so the path is
  *    listed once. A differing digest (files added, removed, rewritten)
  *    falls back to a normal inferring read, which replaces the entry;
  *  - bound: [[MaxEntries]] per session, least recently used evicted.
  *    There is no setting and no switch: a reader that can be turned off
  *    is a second read path.
  *
  * A file rewritten in place with the same length within the file
  * system's timestamp granularity is not seen; writers that go through
  * Spark create new file names, which always change the digest.
  */
object TableSchemaCache {

  /** The default of Spark's own table-relation cache
    * (`spark.sql.filesourceTableRelationCacheSize`).
    */
  val MaxEntries = 1000

  private final case class Entry(schema: StructType, digest: String)

  private val sessions =
    new java.util.WeakHashMap[SparkSession, java.util.LinkedHashMap[String, Entry]]()

  def read(spark: SparkSession, path: String): DataFrame = {
    val key = keyOf(spark, path)
    lookup(spark, key) match {
      case Some(e) =>
        val df = spark.read.schema(e.schema).parquet(path)
        if (digestOf(df).contains(e.digest)) df else infer(spark, path, key)
      case None => infer(spark, path, key)
    }
  }

  private def infer(spark: SparkSession, path: String, key: String): DataFrame = {
    val df = spark.read.parquet(path)
    digestOf(df).foreach(d => store(spark, key, Entry(df.schema, d)))
    df
  }

  private def keyOf(spark: SparkSession, path: String): String = {
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    (path +: s"caseSensitive=$caseSensitive" +: confs.map { case (k, v) => s"$k=$v" })
      .mkString("\u0000")
  }

  /** Digest of the leaf files the read's own file index listed; None
    * when the relation is not a listed file table.
    */
  private def digestOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case index: PartitioningAwareFileIndex =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        index.allFiles()
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted
          .foreach { case (p, len, mtime) => md.update(s"$p\u0000$len\u0000$mtime\n".getBytes(UTF_8)) }
        java.util.HexFormat.of.formatHex(md.digest())
      }

  private def lookup(spark: SparkSession, key: String): Option[Entry] =
    sessions.synchronized(Option(sessions.get(spark)).flatMap(c => Option(c.get(key))))

  private def store(spark: SparkSession, key: String, e: Entry): Unit =
    sessions.synchronized {
      var cache = sessions.get(spark)
      if (cache == null) {
        cache = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
          override def removeEldestEntry(
              eldest: java.util.Map.Entry[String, Entry]): Boolean = size > MaxEntries
        }
        sessions.put(spark, cache)
      }
      cache.put(key, e): Unit
    }
}
