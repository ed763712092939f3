package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet relation over an explicit, already-known file list — the read
  * side of a table log whose manifest IS the listing. It builds exactly
  * the relation `spark.read.option("basePath", base).option("mergeSchema",
  * "true").parquet(files: _*)` builds (same file index class, partition
  * inference, merged data schema, options and plan), minus the two Spark
  * jobs that form pays on every call: the parallel leaf listing of the
  * very files it was handed (above `parallelPartitionDiscovery.threshold`
  * paths), and the footer-merge job.
  *
  *  - Listing: each file is stat'ed once on the driver, and the file index
  *    answers its leaf listing from those statuses. A file missing from
  *    storage fails here, naming its path.
  *  - Schema: the merged footer schema is cached per exact file list —
  *    (qualified path, length, modification time) of every file, in order —
  *    together with the session's parquet schema-conversion settings, so a
  *    set of immutable files pays the merge job once. The cache is an LRU
  *    of `MaxSchemas` entries holding only schemas, never a session.
  *
  * Lives in `org.apache.spark.sql` because `StructType.asNullable` and the
  * session state are `private[spark]`/`private[sql]`. */
object ManifestScan {
  private final val MaxSchemas = 256

  def parquet(spark: SparkSession, basePath: String, files: Seq[String]): DataFrame = {
    val base = new Path(basePath)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val statuses = files.map(f => fs.getFileStatus(fs.makeQualified(new Path(f))))
    val opts = CaseInsensitiveMap(Map("basePath" -> basePath, "mergeSchema" -> "true"))
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), opts, None,
      new KnownFiles(statuses))
    val format = new ParquetFileFormat()
    val dataSchema = mergedSchema(spark, opts, format, statuses)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, format, opts)(spark))
  }

  /** The leaf listing of a file index whose root paths are exactly the
    * known files. A refresh that invalidates it falls back to Spark's own
    * listing. */
  private final class KnownFiles(statuses: Seq[FileStatus]) extends FileStatusCache {
    @volatile private var byPath: Map[Path, Array[FileStatus]] =
      statuses.map(s => s.getPath -> Array(s)).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = byPath = Map.empty
  }

  private final case class SchemaKey(files: Seq[(String, Long, Long)], conf: Seq[Boolean])

  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size() > MaxSchemas
    }

  /** What `ParquetToSparkSchemaConverter(conf)` and the footer merge read
    * from the session: a change to any of them re-infers. */
  private def schemaConf(c: SQLConf): Seq[Boolean] = Seq(
    c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp, c.caseSensitiveAnalysis,
    c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
    c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
    c.parquetReaderRespectUnknownTypeAnnotation, c.ignoreCorruptFiles,
    c.isParquetSchemaRespectSummaries)

  private def mergedSchema(spark: SparkSession, opts: Map[String, String],
                           format: ParquetFileFormat,
                           statuses: Seq[FileStatus]): StructType = {
    val key = SchemaKey(
      statuses.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)),
      schemaConf(spark.sessionState.conf))
    Option(schemas.synchronized(schemas.get(key))).getOrElse {
      // inferred outside the lock: the merge is a Spark job
      val inferred = format.inferSchema(spark, opts, statuses).getOrElse(
        throw new IllegalStateException(
          s"no parquet schema in ${statuses.size} files under ${opts("basePath")}"))
      schemas.synchronized(schemas.put(key, inferred))
      inferred
    }
  }
}
