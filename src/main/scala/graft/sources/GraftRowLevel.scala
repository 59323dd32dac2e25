package graft.sources

import graft.core.Meta.ManifestEntry
import graft.table.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import java.util.UUID

/** Group-based (COPY_ON_WRITE) row-level SQL operations for append
  * tables: UPDATE / MERGE INTO / non-translatable DELETE rewrite the
  * touched files (reference: the reference's Spark module routes the
  * same commands through copy-on-write file rewrites —
  * UpdatePaimonTableCommand / MergeIntoPaimonTable touched-file
  * scans).
  *
  * Contract: the operation's scan prunes WHOLE FILES by the pushed
  * condition (never rows — every row of a kept file must survive into
  * the replacement), records exactly which files it planned, and the
  * write stages new parquet through Spark's own executor-side writer
  * factory, then atomically swaps the recorded files for the staged
  * ones in one OVERWRITE snapshot. */
class GraftRowLevelOperation(
    gt: GraftTable, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** the operation's scan; its post-runtime-filter file list is the
    * replacement set (Spark narrows groups via a runtime IN-subquery
    * on the partition columns) */
  @volatile private[sources] var builtScan: GraftBatchScan = _
  private[sources] def scanned: Seq[ManifestEntry] =
    Option(builtScan).map(_.currentEntries).getOrElse(Seq.empty)

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevel($cmd)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var pushed: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters // residuals: Spark re-applies the condition row-wise
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def build(): Scan = {
        val sch = gt.schema
        val entries = gt.planEntries(
          GraftFilters.toCondition(pushed), sch, gt.sm.latestSnapshot())
        require(entries.forall(e =>
          e.file.dvFile.isEmpty && e.file.schemaId == sch.id),
          "row-level SQL write over deletion vectors or mixed-schema " +
            "files is not supported; compact() first or use the library API")
        val full = sch.toStruct
        val partCols = sch.partitionKeys.toSet
        val dataSchema = StructType(full.fields.filterNot(f => partCols(f.name)))
        val partSchema = StructType(full.fields.filter(f => partCols(f.name)))
        // file-granular pruning ONLY: no filters reach the reader
        builtScan = new GraftBatchScan(gt, sch, entries, dataSchema, dataSchema,
          partSchema, Array.empty, full, Map.empty)
        builtScan
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(gt, info.schema(), () => scanned)
    }
}

/** V2 write that stages parquet via Spark's FileBatchWrite machinery
  * and commits by swapping the operation's scanned files. */
class GraftReplaceWrite(
    gt: GraftTable, writeSchema: StructType, replaced: () => Seq[ManifestEntry])
    extends Write {

  override def toBatch: BatchWrite = {
    val spark = gt.spark
    val sch = gt.schema
    val staging = s"${gt.path}/staging/${UUID.randomUUID()}"
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[org.apache.spark.sql.catalyst.InternalRow])
    org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
      .setOutputPath(job, new Path(staging))
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      classOf[org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol].getName,
      jobId = UUID.randomUUID().toString, outputPath = staging)
    committer.setupJob(job)
    val format =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    val allAttrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(writeSchema)
    val partCols = sch.partitionKeys
    val partAttrs = allAttrs.filter(a => partCols.contains(a.name))
    val dataAttrs = allAttrs.filterNot(a => partCols.contains(a.name))
    // micros-annotated timestamps, like every other table write;
    // prepareWrite reads the session conf, so set-and-RESTORE around it
    // (a bare conf.set would permanently change the user's session)
    val owf = gt.withMicrosTimestamps {
      format.prepareWrite(spark, job, Map.empty,
        StructType(writeSchema.fields.filterNot(f => partCols.contains(f.name))))
    }
    val desc = new org.apache.spark.sql.execution.datasources.WriteJobDescription(
      uuid = UUID.randomUUID().toString,
      serializableHadoopConf = new SerializableConfiguration(job.getConfiguration),
      outputWriterFactory = owf,
      allColumns = allAttrs,
      dataColumns = dataAttrs,
      partitionColumns = partAttrs,
      bucketSpec = None,
      path = staging,
      customPartitionLocations = Map.empty,
      maxRecordsPerFile = spark.sessionState.conf.maxRecordsPerFile,
      timeZoneId = spark.sessionState.conf.sessionLocalTimeZone,
      statsTrackers = Seq.empty)
    val inner = new org.apache.spark.sql.execution.datasources.v2.FileBatchWrite(
      job, desc, committer)
    new BatchWrite {
      // ReplaceData hands the writer the raw query output: the data
      // columns are the TRAILING writeSchema fields (plan-internal
      // columns like __row_operation are prepended); file-format
      // writers iterate row.numFields, so project down first.
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new SuffixProjectingWriterFactory(
          inner.createBatchWriterFactory(info), writeSchema)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        inner.commit(messages) // parquet lands under `staging`
        gt.replaceFiles(staging, replaced())
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        inner.abort(messages)
      // the FileCommitProtocol coordinates task commits itself
      override def useCommitCoordinator(): Boolean = false
    }
  }
}

/** Projects each incoming row down to the trailing `schema` fields
  * before delegating to the wrapped file writer (leading plan-internal
  * columns such as __row_operation are dropped). */
private[sources] class SuffixProjectingWriterFactory(
    inner: DataWriterFactory, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val d = inner.createWriter(partitionId, taskId)
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(record: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (record.numFields == schema.length) { d.write(record); return }
        if (proj == null) {
          val offset = record.numFields - schema.length
          require(offset > 0, s"row narrower than write schema: " +
            s"${record.numFields} < ${schema.length}")
          proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            schema, (offset until record.numFields).toIndexedSeq)
        }
        proj.project(record)
        d.write(proj)
      }
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
    }
  }
}
