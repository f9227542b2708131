package graft.functions

import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Driver-side schema resolution for admission-store reads.
  *
  * Every admission-store read used `mergeSchema = true` to tolerate
  * cross-generation drift (files written before the `adm_ts` retention
  * column must read as null — the fail-closed legacy rule). mergeSchema
  * runs a Spark JOB that fetches and merges every file's footer on
  * every read — a planning+scheduling round-trip per probe, per fold,
  * per compact, on files that are IMMUTABLE (the store's data files
  * are write-once by the commit protocol).
  *
  * This helper resolves the same merged schema driver-side instead:
  * each file's Spark schema is read ONCE from its parquet footer's
  * `org.apache.spark.sql.parquet.row.metadata` key (written by every
  * Spark writer — all admission-store files are Spark-written), memoized
  * by (path, length), and the per-read union is a name-wise merge in
  * file-list order — exactly mergeSchema's result for the
  * add-a-column drift these stores exhibit (same field order: first
  * file wins; missing columns null; all fields nullable). Anything the
  * fast path cannot prove equivalent — a footer without the Spark
  * metadata key, or the same column name at two different types —
  * returns None and the caller falls back to the mergeSchema read, so
  * the fallback preserves the old semantics bit-for-bit.
  */
private[functions] object AdmissionSchema {

  /** (absolute path, byte length) → footer schema. Paths are never
    * reused by the store writers (Spark part-file UUID names; every
    * rewrite publishes fresh names), and the length guards the
    * theoretical same-name rewrite. Cleared wholesale at the cap — an
    * eviction only costs a footer re-read.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Option[StructType]]()
  private val maxEntries = 8192

  private val sparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One file's footer schema, memoized only when DEFINITIVE: a
    * footer that was read, with or without a parseable Spark schema
    * key. A failed read (a transient filesystem error) returns None
    * for this call alone — caching it would disable the fast path for
    * that file for the life of the JVM.
    */
  private def footerSchema(
      conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path, len: Long): Option[StructType] = {
    val k = (path.toString, len)
    val hit = cache.get(k)
    if (hit != null) return hit
    val json = scala.util.Try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(path, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(sparkSchemaKey))
      finally reader.close()
    }
    json.toOption.fold(Option.empty[StructType]) { j =>
      val resolved = j.flatMap(s => scala.util.Try(
        DataType.fromJson(s).asInstanceOf[StructType]).toOption)
      if (cache.size() >= maxEntries) cache.clear()
      cache.put(k, resolved)
      resolved
    }
  }

  /** Name-wise merge in first-seen order; all fields nullable (a
    * column missing from some file reads as null there, so the merged
    * relation cannot promise non-null). None on any type conflict.
    */
  private def merge(schemas: Seq[StructType]): Option[StructType] = {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val types = scala.collection.mutable.Map.empty[String, DataType]
    schemas.foreach { s =>
      s.fields.foreach { f =>
        types.get(f.name) match {
          case None => order += f.name; types(f.name) = f.dataType
          case Some(dt) => if (dt != f.dataType) return None
        }
      }
    }
    Some(StructType(order.map(n =>
      StructField(n, types(n), nullable = true)).toSeq))
  }

  /** The merged Spark schema of `files` ((path, length) pairs), or
    * None when any footer lacks the Spark metadata key or two files
    * disagree on a column's type — the caller's mergeSchema fallback.
    */
  def of(conf: org.apache.hadoop.conf.Configuration,
         files: Seq[(org.apache.hadoop.fs.Path, Long)])
      : Option[StructType] = {
    if (files.isEmpty) return None
    val perFile = files.map { case (p, len) => footerSchema(conf, p, len) }
    if (perFile.exists(_.isEmpty)) None
    else merge(perFile.map(_.get))
  }

  /** Spec hook: entries currently memoized. */
  private[graft] def cachedCount: Int = cache.size()
}
