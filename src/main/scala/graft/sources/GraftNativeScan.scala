package graft.sources

import graft.core.Meta
import graft.core.Meta.{ManifestEntry, TableSchema}
import graft.table.{Changes, GraftTable}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Shared planning/reader plumbing for the native DSv2 batch scan and
  * the micro-batch stream: manifest entries → FilePartitions, and a
  * vectorized parquet reader factory configured like Spark's own
  * ParquetScan. */
private[graft] object GraftScanUtil {

  /** Under scan.mode=from-snapshot[-full] the scan.snapshot-id option
    * is a stream CURSOR (a missing id degrades to latest in the stream
    * source) but a batch TIME-TRAVEL pin: a batch execution whose id no
    * longer resolves must ERROR, never silently substitute the latest
    * table contents (reference: StaticFromSnapshotStartingScanner
    * checks the snapshot exists). Called from every batch execution
    * surface; the streaming surfaces never call it. */
  def assertBatchPin(gt: GraftTable, readOptions: Map[String, String]): Unit =
    for {
      m <- readOptions.get("scan.mode")
      if m == "from-snapshot" || m == "from-snapshot-full"
      id <- readOptions.get("scan.snapshot-id").map(_.toLong)
      if !gt.sm.snapshotIds.contains(id)
    } throw new IllegalArgumentException(
      s"scan.snapshot-id=$id does not resolve (expired or never existed) " +
        s"for a batch read with scan.mode=$m")

  /** Decode one partition-directory value to a Catalyst internal value
    * (dir names are Hive-escaped; typed values parse via Cast, exactly
    * like Spark's own partition inference). */
  def partitionValue(raw: String, dt: DataType): Any = {
    if (raw == null) return null
    val unescaped = ExternalCatalogUtils.unescapePathName(raw)
    if (unescaped == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) return null
    dt match {
      case StringType => UTF8String.fromString(unescaped)
      case _ => Cast(
        Literal(UTF8String.fromString(unescaped), StringType), dt,
        Some(SQLConf.get.sessionLocalTimeZone)).eval()
    }
  }

  /** A relation's columns split for the native file scans: the file
    * columns of `full`, the required file columns, and the required
    * columns that come from the manifest entry instead of the file
    * (`entryCols`: partition columns, and [[Meta.BucketCol]]). */
  def splitColumns(full: StructType, required: StructType, entryCols: Set[String])
      : (StructType, StructType, StructType) =
    (StructType(full.fields.filterNot(f => entryCols(f.name))),
      StructType(required.fields.filterNot(f => entryCols(f.name))),
      StructType(required.fields.filter(f => entryCols(f.name))))

  /** The pushed filters a file can evaluate: those on its own columns. */
  def fileFilters(pushed: Array[Filter], entryCols: Set[String]): Array[Filter] =
    pushed.filter(_.references.forall(r => !entryCols(r)))

  def partitionedFile(
      tablePath: String, e: ManifestEntry,
      partitionSchema: StructType): PartitionedFile = {
    val pv = InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
      if (f.name == Meta.BucketCol) e.bucket
      else partitionValue(e.partition.get(f.name).orNull, f.dataType)
    })
    PartitionedFile(pv,
      SparkPath.fromPathString(s"$tablePath/${e.file.fileName}"),
      0, e.file.fileSize, Array.empty, 0L, e.file.fileSize)
  }

  def filePartitions(
      spark: SparkSession, tablePath: String,
      entries: Seq[ManifestEntry], partitionSchema: StructType,
      /** `source.split.target-size` (reference: CoreOptions
        * SOURCE_SPLIT_TARGET_SIZE) — per-table split-size override;
        * None delegates to spark.sql.files.maxPartitionBytes (and
        * open-file-cost to spark.sql.files.openCostInBytes, Spark's
        * spelling of the reference's SOURCE_SPLIT_OPEN_FILE_COST). */
      targetSize: Option[Long] = None,
      /** `source.split.open-file-cost` (reference: CoreOptions
        * SOURCE_SPLIT_OPEN_FILE_COST) — per-table override of the
        * per-file packing cost; None delegates to the session's
        * spark.sql.files.openCostInBytes. At 100 TB a table of many
        * small files wants a higher cost so splits hold fewer files. */
      openFileCost: Option[Long] = None): Array[InputPartition] = {
    val files = entries.map(partitionedFile(tablePath, _, partitionSchema))
    val maxSplit = targetSize.getOrElse(
      FilePartition.maxSplitBytes(spark, files.map(_.fileSize).sum))
    openFileCost match {
      case None =>
        FilePartition.getFilePartitions(spark, files, maxSplit).toArray
      case Some(cost) =>
        // Spark's own packing shape (size-desc first-fit with a
        // per-file open cost), with the table's cost instead of the
        // session conf
        val sorted = files.sortBy(-_.length)
        val parts = scala.collection.mutable.ArrayBuffer.empty[FilePartition]
        val cur = scala.collection.mutable.ArrayBuffer.empty[PartitionedFile]
        var curSize = 0L
        def close(): Unit = if (cur.nonEmpty) {
          parts += FilePartition(parts.size, cur.toArray)
          cur.clear(); curSize = 0L
        }
        sorted.foreach { f =>
          // Spark's exact check: the incoming file's LENGTH alone may
          // overflow the split; its open cost is charged only to the
          // accumulated size (FilePartition.getFilePartitions) — adding
          // the cost to the check would close splits earlier than the
          // session-conf path this knob claims to mirror
          if (curSize + f.length > maxSplit) close()
          cur += f; curSize += f.length + cost
        }
        close()
        parts.toArray
    }
  }

  /** resolve `source.split.target-size` from read options, falling back
    * to the table option (accepts plain bytes or k/m/g suffix) */
  def splitTargetSize(
      readOptions: Map[String, String],
      tableOptions: Map[String, String]): Option[Long] =
    readOptions.get("source.split.target-size")
      .orElse(tableOptions.get("source.split.target-size"))
      .map(graft.core.Meta.parseBytes)

  /** resolve `source.split.open-file-cost` the same way */
  def splitOpenFileCost(
      readOptions: Map[String, String],
      tableOptions: Map[String, String]): Option[Long] =
    readOptions.get("source.split.open-file-cost")
      .orElse(tableOptions.get("source.split.open-file-cost"))
      .map(graft.core.Meta.parseBytes)

  def readerFactory(
      spark: SparkSession, dataSchema: StructType, readDataSchema: StructType,
      partitionSchema: StructType, filters: Array[Filter],
      /** rows per decoded columnar batch; None = the session's */
      batchSize: Option[Int] = None): PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val sqlConf = spark.sessionState.conf
    // the reader-side conf Spark's own ParquetScan.createReaderFactory
    // installs: requested schema + ReadSupport wiring
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchema.json)
    ParquetWriteSupport.setSchema(readDataSchema, conf)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlConf.parquetFieldIdReadEnabled)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val readerConf = batchSize.fold(SQLConf.get) { n =>
      val c = SQLConf.get.clone()
      c.setConf(SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE, n)
      c
    }
    ParquetPartitionReaderFactory(
      readerConf, bc, dataSchema, readDataSchema, partitionSchema,
      filters, None, new ParquetOptions(Map.empty[String, String], SQLConf.get))
  }

  /** Wrap a reader factory so its output column order matches `to`
    * (the relation's order) instead of `from` (data-then-partition).
    * Columnar batches just permute vector references — zero copy. */
  def permuted(
      delegate: PartitionReaderFactory,
      from: StructType, to: StructType): PartitionReaderFactory = {
    if (from.fieldNames.sameElements(to.fieldNames)) return delegate
    val perm = to.fieldNames.map(n => from.fieldIndex(n))
    new PermutedReaderFactory(delegate, perm, to)
  }
}

/** Reorders reader output columns by `perm` (output i ← input perm(i)). */
private[sources] class PermutedReaderFactory(
    delegate: PartitionReaderFactory, perm: Array[Int], to: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    delegate.supportColumnarReads(partition)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val d = delegate.createReader(partition)
    val types = to.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      private val projected = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(perm.length)
      override def next(): Boolean = d.next()
      override def get(): InternalRow = {
        val row = d.get()
        var i = 0
        while (i < perm.length) {
          projected.update(i,
            if (row.isNullAt(perm(i))) null else row.get(perm(i), types(i)))
          i += 1
        }
        projected
      }
      override def close(): Unit = d.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val d = delegate.createColumnarReader(partition)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = d.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = d.get()
        val cols = perm.map(b.column)
        new org.apache.spark.sql.vectorized.ColumnarBatch(cols, b.numRows())
      }
      override def close(): Unit = d.close()
    }
  }
}

/** Native DSv2 batch scan over manifest-planned parquet files
  * (append-only tables).
  *
  * The driver plans the pruned file list from manifests (partition +
  * stats + bloom skipping, limit truncation); executors read through
  * Spark's own vectorized parquet reader factory — columnar batches
  * feed whole-stage codegen directly, with pushed filters applied as
  * row-group skipping. This replaces the former V1Scan fallback, which
  * materialized an RDD[Row] and broke codegen at the scan boundary
  * (reference shape: PaimonScan.toBatch → PaimonBatch
  * .planInputPartitions over DataSplits, with Spark's reader). */
class GraftBatchScan(
    gt: GraftTable,
    sch: TableSchema,            // the schema version the scan was planned on
    initialEntries: Seq[ManifestEntry],
    dataSchema: StructType,      // physical file columns (no partition cols)
    readDataSchema: StructType,  // pruned physical columns
    partitionSchema: StructType, // pruned partition columns
    filters: Array[Filter],
    required: StructType,        // pruned schema in the RELATION's order
    readOptions: Map[String, String]) // per-query reader options
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** A scan on the table's current schema version. */
  def this(gt: GraftTable, initialEntries: Seq[ManifestEntry], dataSchema: StructType,
      readDataSchema: StructType, partitionSchema: StructType, filters: Array[Filter],
      required: StructType, readOptions: Map[String, String] = Map.empty) =
    this(gt, gt.schema, initialEntries, dataSchema, readDataSchema, partitionSchema,
      filters, required, readOptions)

  private def spark = gt.spark

  /** file list, narrowed further by runtime filters (DPP) */
  private var entries: Seq[ManifestEntry] = initialEntries

  /** the files this scan will actually read (post runtime filtering) —
    * the row-level write replaces exactly these */
  def currentEntries: Seq[ManifestEntry] = entries

  /** Dynamic partition pruning: join-produced IN-filters on partition
    * columns drop manifest entries before any file is opened
    * (reference: PaimonScan's SupportsRuntimeV2Filtering). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    partitionSchema.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    predicates.foreach { p =>
      val children = p.children()
      if ((p.name() == "IN" || p.name() == "=") && children.nonEmpty) {
        children(0) match {
          case nr: org.apache.spark.sql.connector.expressions.NamedReference
              if nr.fieldNames().length == 1 =>
            val colName = nr.fieldNames()(0)
            partitionSchema.fields.find(_.name == colName).foreach { f =>
              val allowed: Set[Any] = children.drop(1).collect {
                case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                  l.value match { // normalize external → internal form
                    case s: String => UTF8String.fromString(s)
                    case v => v.asInstanceOf[Any]
                  }
              }.toSet
              if (allowed.size == children.length - 1) // all literal
                entries = entries.filter { e =>
                  allowed.contains(GraftScanUtil.partitionValue(
                    e.partition.get(colName).orNull, f.dataType))
                }
            }
          case _ =>
        }
      }
    }
  }

  // readSchema preserves the relation's column order (partition columns
  // may interleave): Spark then never wraps the scan relation in a
  // reordering Project — which DELETE FROM planning rejects outright.
  // The reader emits data-then-partition columns; the factory permutes.
  override def readSchema(): StructType = required

  override def toBatch: Batch = {
    GraftScanUtil.assertBatchPin(gt, readOptions)
    this
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(gt, dataSchema, readDataSchema, partitionSchema,
      required, readOptions)

  override def description(): String =
    s"GraftBatchScan(files=${entries.size}, " +
      s"pushed=[${filters.mkString(", ")}])"

  // Value equality: two scans over the same table version reading the
  // same files/columns/filters are interchangeable. Stock Catalyst
  // MergeScalarSubqueries compares leaf scans with sameResult — with
  // this, two scalar subqueries over the same graft table merge into
  // ONE scan (reference parity with paimon-spark
  // MergePaimonScalarSubqueries.scala:24, achieved without forking the
  // rule). Keyed on the INITIAL entries: merging happens at optimize
  // time, before any runtime (DPP) narrowing.
  private lazy val eqKey: Any = (getClass.getName, gt.path,
    initialEntries.map(e => (e.file.fileName, e.file.dvFile)),
    readDataSchema, partitionSchema, filters.toSeq, required,
    // split PLANNING options change the physical output (partition
    // clustering) — two scans differing here must not dedupe into one
    readOptions.get("scan.plan-sort-partition"))
  private def eqKeyOf(o: GraftBatchScan): Any = o.eqKey
  override def equals(other: Any): Boolean = other match {
    case o: GraftBatchScan => eqKey == eqKeyOf(o)
    case _ => false
  }
  override def hashCode(): Int = eqKey.hashCode()

  override def planInputPartitions(): Array[InputPartition] = {
    // scan.plan-sort-partition (reference: CoreOptions
    // SCAN_PLAN_SORT_PARTITION): order files by partition value before
    // bin-packing, so splits cluster by partition — downstream
    // partition-aligned consumers (sorted exports, partitioned sinks)
    // read each partition contiguously instead of interleaved.
    // Directory-string order of the escaped values, like the reference
    // (it sorts serialized partition BinaryRows).
    val planned =
      if (readOptions.get("scan.plan-sort-partition")
          .orElse(sch.options.get("scan.plan-sort-partition"))
          .contains("true"))
        entries.sortBy(e =>
          partitionSchema.fieldNames.map(e.partition.getOrElse(_, "")).mkString("\u0000")) // NUL: unambiguous join
      else entries
    GraftScanUtil.filePartitions(spark, gt.path, planned, partitionSchema,
      GraftScanUtil.splitTargetSize(readOptions, sch.options),
      GraftScanUtil.splitOpenFileCost(readOptions, sch.options))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftScanUtil.permuted(
      GraftScanUtil.readerFactory(spark, dataSchema, readDataSchema,
        partitionSchema, filters),
      StructType(readDataSchema.fields ++ partitionSchema.fields), required)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(entries.map(_.file.fileSize).sum, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(entries.map(e =>
        e.file.rowCount - e.file.dvCardinality.getOrElse(0L)).sum)
  }

  // observability: planning-side pruning results surface in the Spark
  // UI / SQL metrics — at cluster scale this is how an operator SEES
  // that manifest pruning and DPP are doing their job
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftScanMetrics.all

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    import GraftScanMetrics.metric
    Array(
      metric("filesPlanned", initialEntries.size.toLong),
      metric("filesAfterRuntimeFiltering", entries.size.toLong),
      metric("bytesPlanned", entries.map(_.file.fileSize).sum))
  }
}

/** Driver-side scan metrics (planning results; per-task IO metrics come
  * free from Spark's file readers). */
object GraftScanMetrics {
  // each metric is a zero-arg-constructible class: Spark re-creates
  // CustomMetric instances reflectively for the UI aggregation
  class FilesPlanned extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "filesPlanned"
    override def description(): String = "data files selected by manifest pruning"
  }
  class FilesAfterRuntimeFiltering
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "filesAfterRuntimeFiltering"
    override def description(): String = "data files read after runtime (DPP) filtering"
  }
  class BytesPlanned extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "bytesPlanned"
    override def description(): String = "bytes of data files read"
  }
  val all: Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new FilesPlanned, new FilesAfterRuntimeFiltering, new BytesPlanned)
  def metric(n: String, v: Long)
      : org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

/** Native scan that serves all files of one bucket in one input
  * partition. Three readers use it:
  *  - a FULLY-COMPACTED fixed-bucket primary-key table (one level>0
  *    file per (partition, bucket), no deletion vectors): the merge is
  *    already materialized, so files read raw through the vectorized
  *    reader (hidden seq/kind columns clipped away by the requested
  *    schema);
  *  - a bucketed append table;
  *  - merge-on-read of an uncompacted primary-key table
  *    ([[BucketRuns]]): every live run of a (partition, bucket) lands
  *    in one input partition with `_graft_seq`/`_graft_kind`,
  *    `leadingKeys` (the table's partition columns) lead the reported
  *    key, and `bucketColumn` reports the bucket as the
  *    [[Meta.BucketCol]] column instead of a `bucket` transform — Spark
  *    takes a transform as key grouping only over one column, and a
  *    primary key is often several — so the merge aggregate over the
  *    key and that column runs in the task with no Exchange.
  *
  * Reports `KeyGroupedPartitioning(bucket(n, pk...))` with one
  * InputPartition per bucket carrying its bucket id as the partition
  * key (led by the partition values with `leadingKeys`), so equi-joins
  * between identically-bucketed graft tables run as storage-partitioned
  * joins with NO Exchange on either side
  * (reference: PaimonScan.outputPartitioning, paimon-spark
  * .../PaimonScan.scala:139-146; enable
  * `spark.sql.sources.v2.bucketing.enabled`). At warehouse scale this
  * removes the full shuffle from every PK-PK join between graft
  * tables. Runtime filtering is disabled here: partitions must stay
  * stable between outputPartitioning() and planInputPartitions(). */
class GraftBucketedScan(
    gt: GraftTable,
    sch: TableSchema,
    initialEntries: Seq[ManifestEntry],
    dataSchema: StructType,
    readDataSchema: StructType,
    partitionSchema: StructType,
    filters: Array[Filter],
    required: StructType,
    numBuckets: Int,
    bucketKeys: Seq[String],
    // threaded to GraftBatchScan so the inherited toMicroBatchStream
    // still honors per-query streaming options (scan.mode,
    // scan.snapshot-id, admission caps) on bucketed PK tables
    readOptions: Map[String, String] = Map.empty,
    // table partition columns reported ahead of the bucket: one input
    // partition per (partition, bucket) instead of per bucket
    leadingKeys: StructType = new StructType(),
    // report the bucket as the Meta.BucketCol column of the scan
    bucketColumn: Boolean = false)
    extends GraftBatchScan(gt, sch, initialEntries, dataSchema, readDataSchema,
      partitionSchema, filters, required, readOptions)
    with SupportsReportPartitioning {

  /** (reported key, files) per input partition, in key order. */
  private lazy val groups: Seq[(InternalRow, Seq[ManifestEntry])] = {
    def values(e: ManifestEntry): Seq[String] =
      leadingKeys.fieldNames.toSeq.map(e.partition.get(_).orNull)
    currentEntries.groupBy(e => (values(e), e.bucket)).toSeq
      .sortBy { case ((vs, b), _) => (vs.mkString("\u0000"), b) } // NUL: unambiguous join
      .map { case ((vs, b), es) =>
        val lead = leadingKeys.fields.toSeq.zip(vs).map { case (f, v) =>
          GraftScanUtil.partitionValue(v, f.dataType) }
        (InternalRow.fromSeq(lead :+ b), es)
      }
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty // keep partition count stable for the reported keys

  override def planInputPartitions(): Array[InputPartition] =
    groups.zipWithIndex.map { case ((key, es), i) =>
      new GraftBucketPartition(i,
        es.map(GraftScanUtil.partitionedFile(gt.path, _, partitionSchema)).toArray,
        key)
    }.toArray

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      leadingKeys.fieldNames.map(c => Expressions.identity(c): Expression) :+
        (if (bucketColumn) Expressions.identity(Meta.BucketCol)
         else Expressions.bucket(numBuckets, bucketKeys: _*)),
      groups.size)
  }

  override def description(): String =
    s"GraftBucketedScan(buckets=${groups.size}, files=${currentEntries.size}, " +
      s"pushed=[${filters.mkString(", ")}])"
}

/** FilePartition keyed by bucket id for storage-partitioned joins. */
class GraftBucketPartition(
    idx: Int, files0: Array[PartitionedFile], key: InternalRow)
    extends FilePartition(idx, files0)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Driver-local scan answering pushed-down aggregates (COUNT / MIN /
  * MAX) purely from manifest statistics — zero data files opened
  * (reference: scan-level aggregate pushdown, AggregatePushDownUtils +
  * LocalAggregator returning a LocalScan). */
class GraftLocalScan(output: StructType, data: Array[InternalRow])
    extends LocalScan {
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = output
  override def description(): String = s"GraftLocalScan(${output.simpleString})"
}

/** Snapshot-id offset for the micro-batch stream. */
case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** Structured Streaming source over a graft table: offsets are
  * snapshot ids; each micro-batch reads the delta files committed in
  * (start, end] — an incremental scan, never a re-read of the table
  * (reference: paimon-spark .../sources/PaimonMicroBatchStream
  * .scala:33-37, offset = snapshot id). COMPACT snapshots carry no
  * logical change and are skipped; deletion-vector re-ADDs of the same
  * file are skipped the same way as incrementalRead. Works for append
  * tables and PK tables (PK deltas surface the upsert records; hidden
  * columns are projected away by the requested schema). */
class GraftMicroBatchStream(
    gt: GraftTable,
    dataSchema: StructType,
    readDataSchema: StructType,
    partitionSchema: StructType,
    required: StructType,
    readOptions: Map[String, String] = Map.empty)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // postpone staging files are invisible until compaction and compact
  // deltas are whole-table rewrites — neither is a per-snapshot change
  // stream this reader could serve; consume the compaction changelog
  // via incrementalRead/GraftStreaming instead
  require(!gt.schema.isPostponeBucket,
    "streaming read of a bucket=-2 (postpone) table is not supported; " +
      "read the compaction changelog via incremental reads")

  private def sm = gt.sm

  /** Option lookup for one Spark callback: per-query reader options
    * (e.g. spark.readStream.option("scan.max-rows-per-trigger", ...))
    * override table options, and the schema is resolved at most once
    * per lookup function, on the first key the reader options lack. */
  private def streamOpts(sch: => TableSchema = gt.schema): String => Option[String] = {
    lazy val table = sch.options
    key => readOptions.get(key).orElse(table.get(key))
  }

  /** Startup position (reference: CoreOptions.StartupMode via
    * `scan.mode` + `scan.snapshot-id` / `scan.timestamp-millis` read
    * options):
    *  - default / `latest-full`: the full current content, then changes
    *  - `latest`: only snapshots committed AFTER the query starts
    *  - `from-snapshot`: every snapshot from `scan.snapshot-id` on
    *  - `from-timestamp`: every snapshot committed at/after
    *    `scan.timestamp-millis` */
  private lazy val startOffset: Long = {
    val opts = streamOpts()
    // `consumer-id` with stored progress: a FRESH query (no Spark
    // checkpoint yet) resumes AFTER the registered consumer's stored
    // progress, and the recorded progress takes PRECEDENCE over any
    // scan.mode (reference: ConsumerManager startup — otherwise a
    // restart without its checkpoint under scan.mode=latest would
    // silently skip the snapshots between the consumer's offset and
    // latest). An existing checkpoint never reaches initialOffset, so
    // Spark's own replay semantics stay untouched.
    opts("consumer-id")
      .flatMap(id => graft.streaming.GraftStreaming.consumerOffset(gt, id))
      .getOrElse(startOffsetFromMode(opts))
  }

  private def startOffsetFromMode(opts: String => Option[String]): Long = opts("scan.mode") match {
    case Some("latest") => sm.latestSnapshotId.getOrElse(-1L)
    case Some("from-snapshot") =>
      opts("scan.snapshot-id").map(_.toLong - 1L).getOrElse(
        throw new IllegalArgumentException(
          "scan.mode=from-snapshot needs scan.snapshot-id"))
    case Some("from-snapshot-full") =>
      // full content AT the named snapshot as the first batch, then
      // changes (reference: StartupMode FROM_SNAPSHOT_FULL +
      // StaticFromSnapshotStartingScanner) — same -(id+2) marker
      // encoding compacted-full uses, so the checkpointed offset
      // round-trips; a missing snapshot degrades to latest-full.
      // PK tables serve the first batch as the upsert RECORDS of the
      // files alive at the snapshot (the engine's stream contract,
      // like latest-full) — merged-on-disk when the snapshot is a
      // compact one; unlike the -1 replay it stays complete after
      // history expiry because it reads the live set, not deltas.
      val id = opts("scan.snapshot-id").map(_.toLong).getOrElse(
        throw new IllegalArgumentException(
          "scan.mode=from-snapshot-full needs scan.snapshot-id"))
      if (sm.snapshotIds.contains(id)) -(id + 2L) else -1L
    case Some("from-timestamp") =>
      val ts = opts("scan.timestamp-millis").map(_.toLong).getOrElse(
        throw new IllegalArgumentException(
          "scan.mode=from-timestamp needs scan.timestamp-millis"))
      sm.snapshotIdAtTime(ts, inclusive = false).getOrElse(-1L)
    case Some("compacted-full") =>
      // full content AT the latest compact snapshot as the first
      // batch, then changes (reference: StartupMode COMPACTED_FULL).
      // Encoded as -(c+2) so the checkpointed offset round-trips
      // (plain -1 keeps meaning "full from replayed history"); no
      // compact snapshot yet degrades to latest-full.
      sm.latestCompactSnapshot().map(c => -(c.id + 2L)).getOrElse(-1L)
    case Some("latest-full") | None => -1L
    case Some(other) => throw new IllegalArgumentException(
      s"unsupported scan.mode: $other")
  }

  /** Decode a full-start offset marker: Some(c) when the stream must
    * serve the FULL state at snapshot `c` before switching to deltas. */
  private def fullStartAt(offsetId: Long): Option[Long] =
    if (offsetId < -1L) Some(-offsetId - 2L) else None

  override def initialOffset(): Offset = GraftOffset(startOffset)

  /** Trigger.AvailableNow support, implemented natively (not via
    * Spark's wrapper — the wrapper does not delegate
    * getDefaultReadLimit, which would disable pacing): the drain
    * target freezes at query start; paced batches step toward it and
    * the query terminates there even while writers keep committing. */
  private var frozenLatest: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozenLatest = Some(delayedLatest(streamOpts()))
  private def currentCap(opts: String => Option[String]): Long =
    frozenLatest.getOrElse(delayedLatest(opts))

  /** `streaming.read.snapshot.delay` (reference: CoreOptions
    * STREAMING_READ_SNAPSHOT_DELAY): the stream only admits snapshots
    * at least this old — headroom for a compaction/changelog job that
    * trails the writer, so readers see settled snapshots. Applied on
    * top of the bounded-watermark cap. */
  private def delayedLatest(opts: String => Option[String]): Long = {
    val cap = boundedLatest(opts)
    opts("streaming.read.snapshot.delay")
      .map(graft.core.Meta.parseDurationMillis) match {
      case None => cap
      case Some(d) =>
        val cutoff = System.currentTimeMillis() - d
        sm.snapshotIds.filter(_ <= cap).reverse
          .find(i => sm.snapshot(i).timeMillis <= cutoff)
          .getOrElse(-1L)
    }
  }

  /** Bounded stream end (reference: scan.bounded.watermark +
    * DataTableStreamScan BoundedChecker): with the option set, the
    * reported latest offset never passes the first snapshot whose
    * persisted watermark exceeds the bound — under
    * Trigger.AvailableNow the query drains to that offset and
    * terminates, and the out-of-bound snapshot is neither consumed nor
    * lost. */
  private def boundedLatest(opts: String => Option[String]): Long = {
    val latest = sm.latestSnapshotId.getOrElse(-1L)
    opts("scan.bounded.watermark").map(_.toLong) match {
      case None => latest
      case Some(bound) =>
        val firstOver = sm.snapshotIds.filter(_ <= latest)
          .find(i => sm.snapshot(i).watermark.exists(_ > bound))
        firstOver.map(_ - 1L).getOrElse(latest)
    }
  }

  override def latestOffset(): Offset = GraftOffset(currentCap(streamOpts()))

  /** Admission control (reference: paimon-spark PaimonMicroBatchStream
    * read.stream.maxFilesPerTrigger / maxRowsPerTrigger): without a
    * cap, the FIRST batch of a stream over a populated table reads
    * every snapshot at once — on a 100 TB table that is the entire
    * table in one micro-batch. With `scan.max-files-per-trigger` /
    * `scan.max-rows-per-trigger` set (or a maxRows ReadLimit from the
    * query), each trigger admits whole snapshots until the cap is
    * reached — at least one data snapshot per batch so the stream
    * always progresses, costs counted from manifest metadata only. */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val opts = streamOpts()
    val limits =
      opts("scan.max-files-per-trigger").map(_.toInt)
        .map(ReadLimit.maxFiles).toSeq ++
      opts("scan.max-rows-per-trigger").map(_.toLong)
        .map(ReadLimit.maxRows).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxFiles, ReadMaxRows}
    val startId = start.asInstanceOf[GraftOffset].snapshotId
    lazy val sch = gt.schema
    val opts = streamOpts(sch)
    val cap = currentCap(opts)
    // caps come EXCLUSIVELY from the ReadLimit (Trigger.AvailableNow
    // fetches its drain target with allAvailable — applying the table
    // options there would truncate the drain to one batch)
    def flat(l: org.apache.spark.sql.connector.read.streaming.ReadLimit)
        : Seq[org.apache.spark.sql.connector.read.streaming.ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flat)
      case other => Seq(other)
    }
    val leaves = flat(limit)
    val optFiles = leaves.collectFirst { case f: ReadMaxFiles => f.maxFiles().toLong }
    val optRows = leaves.collectFirst { case r: ReadMaxRows => r.maxRows() }
    // bytes have no ReadLimit representation — the table option paces
    // directly (manifest fileSize sums, same admission loop)
    val optBytes = opts("scan.max-bytes-per-trigger").map(_.toLong)
    if (optFiles.isEmpty && optRows.isEmpty && optBytes.isEmpty)
      return GraftOffset(cap)
    var files = 0L
    var rows = 0L
    var bytes = 0L
    // a compacted-full start serves the full state at the compact
    // snapshot as one indivisible first batch — pacing applies only to
    // the deltas AFTER it (ending below it would double-read those
    // snapshots' deltas on the next trigger)
    val effStart = fullStartAt(startId).getOrElse(startId)
    var admittedData = false
    new Changes(sm, sch, opts).steps(effStart, cap).foreach { step =>
      // costs count the files a batch reads: a step without any (a
      // compaction, a skipped overwrite, a deletion-vector-only delete)
      // rides along for free; at least one step with files per batch,
      // so the stream always progresses
      val adds = step.adds
      if (adds.nonEmpty) {
        val f = adds.size.toLong
        val r = adds.map(_.file.rowCount).sum
        val b = adds.map(_.file.fileSize).sum
        val wouldExceed =
          optFiles.exists(files + f > _) || optRows.exists(rows + r > _) ||
            optBytes.exists(bytes + b > _)
        if (admittedData && wouldExceed) return GraftOffset(step.id - 1)
        files += f; rows += r; bytes += b; admittedData = true
      }
    }
    GraftOffset(math.max(effStart, cap))
  }

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  /** Spark plans one micro-batch several times (4 calls per batch); the
    * plan of the last (start, end) offset pair is kept. */
  @volatile private var lastPlan: Option[((Long, Long), Array[InputPartition])] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val key = (start.asInstanceOf[GraftOffset].snapshotId, end.asInstanceOf[GraftOffset].snapshotId)
    lastPlan.collect { case (k, plan) if k == key => plan }.getOrElse {
      val plan = planBatch(key._1, key._2); lastPlan = Some(key -> plan); plan
    }
  }

  /** The files of the batch (s0, e]: the ADDs of its change steps. An
    * OVERWRITE contributes its ADDed files (the reference's append-table
    * behavior) unless `streaming-read-overwrite=false` skips it; exact
    * -D retractions for removed PK rows are the library changelog API's
    * job (GraftTable.overwriteChanges). */
  private def planBatch(s0: Long, e: Long): Array[InputPartition] = {
    // compacted-full start: the first batch is the LIVE state at the
    // compact snapshot, with deltas strictly after it on top
    val full = fullStartAt(s0)
    val s = full.getOrElse(s0)
    val sch = gt.schema
    val entries = new Changes(sm, sch, streamOpts(sch)).steps(s, e).flatMap(_.adds)
    val base = full.toSeq.flatMap(c =>
      gt.visibleEntries(sm.liveEntries(sm.snapshot(c)), sch))
    GraftScanUtil.filePartitions(gt.spark, gt.path, base ++ entries,
      partitionSchema,
      GraftScanUtil.splitTargetSize(readOptions, sch.options),
      GraftScanUtil.splitOpenFileCost(readOptions, sch.options))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftScanUtil.permuted(
      GraftScanUtil.readerFactory(gt.spark, dataSchema, readDataSchema,
        partitionSchema, Array.empty),
      StructType(readDataSchema.fields ++ partitionSchema.fields), required)

  /** Batch committed: mirror progress into the consumer file when the
    * stream carries a `consumer-id` (reference: the consumer-id read
    * option + ConsumerManager) — snapshot expiration then keeps
    * everything past this reader, and a restarted query without its
    * checkpoint resumes here. Spark invokes this at the NEXT batch's
    * cleanup, so the mirror trails the checkpoint by one batch —
    * conservative in the right direction (never pins less, never
    * resumes past data the checkpoint owns). */
  override def commit(end: Offset): Unit =
    streamOpts()("consumer-id").foreach { id =>
      val off = end.asInstanceOf[GraftOffset].snapshotId
      // full-start markers encode -(c+2); progress is the compact id
      val resolved = if (off < -1L) -off - 2L else off
      if (resolved >= 0)
        graft.streaming.GraftStreaming.commitConsumerOffset(gt, id, resolved)
    }
  override def stop(): Unit = ()
}
