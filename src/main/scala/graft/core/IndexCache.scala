package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Open-once reads of persisted index tables, keyed by (session,
  * qualified path).
  *
  * `spark.read.parquet(path)` lists the directory tree and runs a
  * schema-inference job (a `parallelize(...).collect()` over the
  * footers) every time it is called. A table that serves many
  * requests is read once: [[read]] keeps the resolved relation, so its
  * schema and `InMemoryFileIndex` listing are reused, and a request
  * adds no listing and no schema job to its own.
  *
  * Revalidation: each [[read]] stats the table path once. A cached
  * relation is reused only while the path's modification time is the
  * one it was read at; an overwrite deletes and recreates the path,
  * which moves that time. A missing path drops the entry (the reread
  * then fails as a fresh read would). The index writers drop the
  * entries under the path they overwrite through [[invalidate]], so a
  * same-process overwrite never depends on the clock's resolution.
  *
  * The cache holds at most [[MaxEntries]] tables, least recently used
  * first out: callers that write a fresh temporary index per call (the
  * gate rows) never grow it.
  */
object IndexCache {
  val MaxEntries = 8

  /** A fresh directory for an index or a re-laid-out table that
    * serves the current session: under the application's `SparkFiles`
    * root, which Spark deletes when the context stops, so the data
    * outlives every lazy result that reads it and nothing is left in
    * the temp directory afterwards.
    */
  def newIndexDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(
      org.apache.spark.SparkFiles.getRootDirectory()), prefix).toString

  private final case class Key(session: SparkSession, path: String)
  private final case class Entry(modified: Long, table: DataFrame)

  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Entry]): Boolean =
        this.size() > MaxEntries
    }

  private def qualify(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** `spark.read.parquet(path)`, resolved once per (session, path) and
    * reused while the path is unchanged.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (fs, q) = qualify(spark, path)
    val modified =
      try fs.getFileStatus(q).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    val key = Key(spark, q.toString)
    val cached = entries.synchronized {
      val e = entries.get(key)
      if (e != null && e.modified == modified) e.table
      else { entries.remove(key); null }
    }
    if (cached != null) cached
    else {
      val table = spark.read.parquet(path)
      entries.synchronized(entries.put(key, Entry(modified, table)))
      table
    }
  }

  /** Drop every session's tables at or under `path`; the index writers
    * call it after they overwrite the path.
    */
  def invalidate(spark: SparkSession, path: String): Unit = {
    val q = qualify(spark, path)._2.toString
    entries.synchronized {
      entries.keySet.removeIf(k => k.path == q || k.path.startsWith(q + "/"))
    }
  }

  /** Whether `spark` holds the table at `path`. */
  private[graft] def holds(spark: SparkSession, path: String): Boolean = {
    val q = qualify(spark, path)._2.toString
    entries.synchronized(entries.containsKey(Key(spark, q)))
  }

  /** Tables currently held (at most [[MaxEntries]]). */
  private[graft] def size: Int = entries.synchronized(entries.size)
}
