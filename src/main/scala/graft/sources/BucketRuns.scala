package graft.sources

import scala.jdk.CollectionConverters._

import graft.core.Meta
import graft.core.Meta.{ManifestEntry, TableSchema}
import graft.table.GraftTable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.connector.catalog.TableCapability
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The live runs of a primary-key table as one key-grouped relation:
  * every file of a (partition, bucket) is read by one task, with the
  * hidden `_graft_seq`/`_graft_kind` columns and the bucket id as
  * [[Meta.BucketCol]], and the scan reports that grouping
  * (`KeyGroupedPartitioning` over the partition columns and the bucket
  * column). A `groupBy(primary key, bucket)` over it — the
  * [[graft.table.MergeEngine]] aggregate — then plans as
  * SortAggregate → Sort → BatchScan with no Exchange, the Spark shape
  * of the reference's per-bucket merge-on-read split reader.
  *
  * Only sound where a bucket's files alone hold every version of its
  * keys: the caller's `bucketLocal` gate (fixed buckets, parquet files
  * on the current schema, no deletion vectors). */
private[graft] object BucketRuns {

  /** The relation over `entries` (non-empty, all inside the gate). */
  def read(gt: GraftTable, sch: TableSchema, entries: Seq[ManifestEntry]): DataFrame =
    GraftDatasets.ofRows(gt.spark, DataSourceV2Relation.create(
      new BucketRunsTable(gt, sch, entries), None, None, CaseInsensitiveStringMap.empty()))
}

/** A `FileTable` so that `Dataset.inputFiles` lists exactly the
  * manifest-planned files; nothing is listed or inferred from storage. */
private[sources] class BucketRunsTable(
    gt: GraftTable, sch: TableSchema, entries: Seq[ManifestEntry])
    extends FileTable(gt.spark, CaseInsensitiveStringMap.empty(), Seq.empty, None) {

  /** Table columns, then the hidden sequence, row-kind and bucket
    * columns. */
  private val full: StructType = StructType(sch.toStruct.fields ++ Seq(
    StructField(Meta.SeqCol, LongType, nullable = false),
    StructField(Meta.KindCol, ByteType, nullable = false),
    StructField(Meta.BucketCol, IntegerType, nullable = false)))

  override lazy val fileIndex: PartitioningAwareFileIndex =
    new ManifestFileIndex(gt.spark, gt.path, entries)
  override lazy val dataSchema: StructType = full
  override lazy val schema: StructType = full
  override def name(): String = gt.path
  override def inferSchema(files: Seq[FileStatus]): Option[StructType] = Some(full)
  override def formatName: String = "graft"
  override def fallbackFileFormat: Class[_ <: FileFormat] = classOf[ParquetFileFormat]
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    throw new UnsupportedOperationException("merge-on-read relations are read-only")

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = full
      // filters reach the scan only on grouping (primary-key) columns;
      // they skip row groups and stay residual above the scan
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters; filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = {
        // partition values and the bucket id come from the entry
        val entryCols = sch.partitionKeys.toSet + Meta.BucketCol
        val (data, readData, readPart) = GraftScanUtil.splitColumns(full, required, entryCols)
        new GraftBucketedScan(gt, sch, entries, data, readData, readPart,
          GraftScanUtil.fileFilters(pushed, entryCols), required,
          sch.effectiveBuckets, sch.bucketKeys,
          leadingKeys = StructType(sch.partitionKeys.map(full(_))), bucketColumn = true)
      }
    }
}

/** The planned files as a file index: no listing, no partition
  * inference (partition values come from the manifest entries). */
private[sources] class ManifestFileIndex(
    spark: SparkSession, tablePath: String, entries: Seq[ManifestEntry])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private lazy val files: Seq[FileStatus] = {
    val fs = new Path(tablePath).getFileSystem(hadoopConf)
    entries.map(e => new FileStatus(e.file.fileSize, false, 1, e.file.fileSize, 0L,
      fs.makeQualified(new Path(s"$tablePath/${e.file.fileName}"))))
  }

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override protected def leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = Map.empty
  override def rootPaths: Seq[Path] = files.map(_.getPath)
  override def refresh(): Unit = ()
  override def allFiles(): Seq[FileStatus] = files
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
}
