package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet scans over IMMUTABLE directory trees whose file listings are
  * cached for the life of the JVM.
  *
  * `spark.read.parquet` builds its file index over a fresh client of
  * Spark's shared `FileStatusCache`, so no read ever sees another
  * read's listing: every read re-lists its roots, and a root with more
  * than `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * subdirectories is listed by a distributed Spark job. Here every
  * index shares ONE long-lived client, so a root is listed once and
  * served from Spark's own byte-bounded cache afterwards. Callers must
  * only pass roots whose contents never change once visible (the
  * snapshot leaves of `graft.sources.Snapshot`).
  *
  * The plan is the one `spark.read.option("basePath", base)
  * .parquet(paths: _*)` builds — `InMemoryFileIndex` →
  * `HadoopFsRelation` → `LogicalRelation` — so partition discovery,
  * partition pruning and filter pushdown are unchanged. Lives in the
  * `org.apache.spark.sql` tree because `Dataset.ofRows` is
  * `private[sql]` (same pattern as [[PlanBridge]]).
  */
object CachedListing {

  @volatile private var client: FileStatusCache = _

  private def statusCache(spark: ClassicSparkSession): FileStatusCache = {
    if (client == null) synchronized {
      if (client == null) client = FileStatusCache.getOrCreate(spark)
    }
    client
  }

  /** A parquet scan of `paths` with partition discovery rooted at
    * `basePath`, or None when the listing finds no parquet file (a
    * tree written from an empty frame: unreadable, and "no data").
    * `schema`, when given, is the full read schema (data and partition
    * columns) a previous scan of the same roots returned; without it
    * the data schema is inferred from the parquet footers.
    */
  def parquet(spark: SparkSession, basePath: String, paths: Seq[String],
              schema: Option[StructType]): Option[DataFrame] = {
    val session = spark.asInstanceOf[ClassicSparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val roots = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(hadoopConf).makeQualified(path)
    }
    val options = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(session, roots, options, schema,
      statusCache(session))
    val files = index.allFiles()
    if (!files.exists(_.getPath.getName.endsWith(".parquet"))) None
    else {
      val format = new ParquetFileFormat
      val partitionSchema = index.partitionSchema
      val resolver = session.sessionState.conf.resolver
      val dataSchema = schema match {
        case Some(s) => StructType(s.filterNot(f =>
          partitionSchema.exists(p => resolver(p.name, f.name))))
        case None => format.inferSchema(session, options, files).getOrElse(
          throw new IllegalStateException(
            s"cannot infer a parquet schema under $basePath"))
      }
      val relation = HadoopFsRelation(index, partitionSchema,
        dataSchema.asNullable, None, format, options)(session)
      Some(ClassicDataset.ofRows(session, LogicalRelation(relation)))
    }
  }
}
