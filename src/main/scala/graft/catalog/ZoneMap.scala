package graft.catalog

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.filter2.predicate.{FilterApi, LogicalInverseRewriter}
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, FileSourceConstantMetadataAttribute}
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader, ParquetOptions}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The file grain of the min/max index: a [[FileIndex]] that drops, at
  * planning, every data file whose row groups the scan task's own
  * row-group filter would all drop.
  *
  * TytoDB answers point and range predicates from a chunked min/max index
  * over the first column (`src/indexing.rs:33-40`). Parquet carries the
  * same summary per row group (footer statistics) and per page (column
  * index), but Spark consults both only inside a task, so a point read
  * still launches one task per file. This index applies the footer grain
  * on the driver: it translates the scan's data filters with the same
  * [[ParquetFilters]] the reader uses (same pushdown confs, case
  * sensitivity and datetime rebase mode, against the file's own footer
  * schema) and evaluates them with parquet-mr's [[StatisticsFilter]]. A
  * dropped file is one whose task would return zero rows, so results
  * cannot change. The page grain stays with the reader, which skips pages
  * through the column index ([[ZoneMap.PageRows]] sizes them).
  *
  * Equality (a case class over the wrapped index) is the wrapped index's,
  * so plan reuse and cache lookup behave as for the plain scan.
  */
final case class ZoneMapFileIndex(delegate: FileIndex, options: Map[String, String])(
    spark: SparkSession) extends FileIndex {
  override def rootPaths: Seq[org.apache.hadoop.fs.Path] = delegate.rootPaths
  override def inputFiles: Array[String] = delegate.inputFiles
  override def refresh(): Unit = delegate.refresh()
  override def sizeInBytes: Long = delegate.sizeInBytes
  override def partitionSchema: StructType = delegate.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = delegate.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    ZoneMap.prune(spark, options, delegate.listFiles(partitionFilters, dataFilters), dataFilters)
}

object ZoneMap {

  /** Rows per Parquet page in container data and index parts (parquet-mr
    * defaults to 20,000): the page grain of the min/max index, so a point
    * read in a pk-clustered file decodes one page, not the row group. */
  val PageRows = 1000

  /** Footers held by the driver cache — a constant, not a setting. */
  private[catalog] val FooterCap = 1024

  /** Footers read from disk since start — a counter for specs. */
  private[catalog] val footerReads = new AtomicLong

  /** Every container and index part is written through this writer, so
    * data and index parts share one page size. */
  private[catalog] def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.option("parquet.page.row.count.limit", PageRows.toLong)

  /** Relations held for published directories — a constant, not a setting.
    * Each holds its directory's file listing; every committed version and
    * each of its index directories takes its own entry. */
  private[catalog] val RelationCap = 256

  /** The one catalog parquet scan: Spark's own relation over `paths`
    * under `schema`, with its file index wrapped in a [[ZoneMapFileIndex]].
    *
    * A `published` path (a committed version directory, or a version's
    * index parts) never changes, so its resolved relation — the file
    * listing included — is kept and reused by every later read. It is
    * keyed by each root's inode and modification time: a dropped and
    * recreated container reuses a version path, never both of these. */
  private[catalog] def scan(spark: SparkSession, schema: StructType,
      paths: Seq[String], published: Boolean = false): DataFrame = {
    def resolve(): HadoopFsRelation =
      DataSource(spark, className = "parquet", paths = paths,
          userSpecifiedSchema = Some(schema)).resolveRelation() match {
        case r: HadoopFsRelation =>
          r.copy(location = ZoneMapFileIndex(r.location, r.options)(spark))(spark)
        case other => sys.error(s"unexpected parquet relation $other")
      }
    def identity(p: String): (String, AnyRef, Long) = {
      val a = Files.readAttributes(Paths.get(p), classOf[BasicFileAttributes])
      (p, a.fileKey, a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
    }
    val key = if (published) Try(RelKey(spark, schema, paths.map(identity))).toOption else None
    val rel = key.fold(resolve()) { k =>
      Option(relations.synchronized(relations.get(k))).getOrElse {
        val r = resolve()
        relations.synchronized(relations.put(k, r))
        r
      }
    }
    spark.baseRelationToDataFrame(rel)
  }

  private final case class RelKey(spark: SparkSession, schema: StructType,
      roots: Seq[(String, AnyRef, Long)])

  private def lru[K, V](cap: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > cap
    }

  private val relations = lru[RelKey, HadoopFsRelation](RelationCap)

  /** What pruning keeps of a footer: its schema, the Spark key-value
    * entries the datetime rebase mode reads, and each row group's column
    * chunk metadata (statistics). */
  private final class Footer(val schema: MessageType, val sparkMeta: Map[String, String],
      val rowGroups: Array[java.util.List[ColumnChunkMetaData]])

  /** Identity key: the file's inode (`fileKey`) with its name, length and
    * modification time. A COW commit carries a file into later versions as
    * a hard link under its name, which shares all four, so carried parts
    * hit the cache. The name alone is not an identity: one task of an
    * index build writes every `src=` partition it meets under the same
    * part name, and one-row parts of a fixed-width index have equal
    * lengths and, on a millisecond clock, equal times. A path outside the
    * local file system, which has no inode to read, keys by its full path. */
  private final case class Key(name: String, inode: AnyRef, length: Long, mtime: Long)

  private def key(st: FileStatus): Key =
    Try(Files.readAttributes(Paths.get(st.getPath.toUri), classOf[BasicFileAttributes]))
      .toOption.filter(_.fileKey != null) match {
        case Some(a) => Key(st.getPath.getName, a.fileKey, a.size,
          a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
        case None => Key(st.getPath.toString, null, st.getLen, st.getModificationTime)
      }

  private val footers = lru[Key, Footer](FooterCap)

  private[catalog] def cachedFooters: Int = footers.synchronized(footers.size)

  private def footer(spark: SparkSession, st: FileStatus): Footer = {
    val key = this.key(st)
    Option(footers.synchronized(footers.get(key))).getOrElse {
      // read outside the lock: concurrent planners never queue behind IO
      footerReads.incrementAndGet()
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.NO_FILTER)
      val fm = meta.getFileMetaData
      val f = new Footer(fm.getSchema,
        // the row-metadata entry is the Spark schema JSON: not needed
        fm.getKeyValueMetaData.asScala.filter { case (k, _) =>
          k.startsWith("org.apache.spark.") && !k.startsWith("org.apache.spark.sql.")
        }.toMap,
        meta.getBlocks.asScala.map(_.getColumns).toArray)
      footers.synchronized(footers.put(key, f))
      f
    }
  }

  private def isConstantMetadata(e: Expression): Boolean = e.references.exists {
    case a: AttributeReference => FileSourceConstantMetadataAttribute.unapply(a).isDefined
    case _ => false
  }

  /** Keep the files of `dirs` some row group of which the scan's pushed
    * row-group filter admits. A scan without data filters, or whose only
    * pushed filters are `IS NOT NULL` (which Spark infers on nearly every
    * filtered column, and which drops only an all-null file), reads no
    * footer. */
  private[catalog] def prune(spark: SparkSession, options: Map[String, String],
      dirs: Seq[PartitionDirectory], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // the filters FileSourceScanExec hands the reader
    val filters = dataFilters.filterNot(isConstantMetadata)
      .flatMap(org.apache.spark.sql.graft.Bridge.sourceFilter)
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    if (!filters.exists(!_.isInstanceOf[sources.IsNotNull]) || !conf.parquetFilterPushDown ||
        !spark.sparkContext.hadoopConfiguration
          .getBoolean(ParquetInputFormat.STATS_FILTERING_ENABLED, true))
      return dirs
    val rebaseMode = new ParquetOptions(options, conf).datetimeRebaseModeInRead
    def admits(st: FileStatus): Boolean = {
      val f = footer(spark, st)
      val pf = new ParquetFilters(f.schema, conf.parquetFilterPushDownDate,
        conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
        conf.parquetFilterPushDownStringPredicate, conf.parquetFilterPushDownInFilterThreshold,
        conf.caseSensitiveAnalysis,
        DataSourceUtils.datetimeRebaseSpec(k => f.sparkMeta.getOrElse(k, null), rebaseMode))
      filters.flatMap(pf.createFilter(_)).reduceOption(FilterApi.and) match {
        case None => true
        case Some(p) =>
          val q = LogicalInverseRewriter.rewrite(p)
          f.rowGroups.exists(cols => !StatisticsFilter.canDrop(q, cols))
      }
    }
    dirs.map(d => d.copy(files = d.files.filter(s => admits(s.fileStatus))))
  }
}
