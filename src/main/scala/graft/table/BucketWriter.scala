package graft.table

import graft.core.Meta.{DataFileMeta, KindCol, SeqCol, TableSchema}
import graft.core.ParquetStats
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable

/** The primary-key write of one commit inside the bucket-local gate
  * (reference: one MergeTreeWriter per bucket). The routed batch crosses
  * one exchange by bucket; each task then sorts its rows by (partition,
  * bucket, key) and, per (partition, bucket) it holds:
  *  - pre-merges duplicate keys with the table's [[VersionOrder]] and
  *    arrival as the tie-break, keeping what
  *    `MergeEngine.preMergeBatch` keeps;
  *  - with a [[LookupChangelog]], diffs the merged rows against the
  *    bucket's live files;
  *  - writes the level-0 data file, and the task its changelog file,
  *    through Spark's own parquet writer;
  *  - reads each file's [[DataFileMeta]] from its footer, so the commit
  *    reads none.
  * Files are written under a hidden temporary name and renamed to
  * `part-<task>-<attempt>.parquet` when complete, so the commit adopts
  * exactly one attempt per task. */
private[graft] object BucketWriter {
  val ArrivalCol = "__arrival"
  private val BucketCol = "__bucket"

  /** Spark's parquet writer prepared on the driver: the factory, the job
    * conf it was prepared in, and the schema of the rows it writes. */
  final case class Output(
      factory: OutputWriterFactory, conf: SerializableConfiguration, schema: StructType)

  /** A file a task staged: its path relative to its staging directory,
    * whether it is a changelog file, and its footer's metadata (file
    * name = that relative path). */
  final case class Staged(rel: String, changelog: Boolean, meta: DataFileMeta)

  /** Run the write job. `batch` carries every table column, `_graft_seq`
    * (= `seq`), `_graft_kind`, [[ArrivalCol]] and `__bucket`, routed one
    * task per bucket. Data files go under `staging` in Spark's
    * partition-directory layout (`<partition dirs>/__bucket=<b>/`),
    * changelog files (`changelog` present) directly under `clStaging`. */
  def write(
      batch: DataFrame, sch: TableSchema, read: BucketRead, data: Output,
      changelog: Option[(LookupChangelog, Output)], staging: String,
      clStaging: String, seq: Long, timeZone: String): Seq[Staged] = {
    val st = read.struct
    val in = batch
      .sortWithinPartitions(((sch.partitionKeys :+ BucketCol) ++ sch.primaryKeys).map(col): _*)
      .select((st.fieldNames :+ SeqCol :+ KindCol :+ ArrivalCol :+ BucketCol)
        .map(col).toIndexedSeq: _*)
    val layout = new read.Layout(in.schema)
    val arrivalOrd = st.length + 2
    val bucketOrd = st.length + 3
    val dataOrds = data.schema.fieldNames.map(in.schema.fieldIndex).toIndexedSeq
    val partCols = sch.partitionKeys.map(st.fieldIndex).toArray
      .map(i => (st.fields(i).name, i, st.fields(i).dataType))
    val keyCols = sch.primaryKeys.map(st.fieldIndex).map(i => (i, st.fields(i).dataType))
    val order = read.order
    in.queryExecution.toRdd.mapPartitions { rows =>
      val ctx = TaskContext.get()
      val name = s"part-${ctx.partitionId()}-${ctx.taskAttemptId()}.parquet"
      val hadoopId = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
        ctx.partitionId()), ctx.attemptNumber())
      val staged = mutable.ArrayBuffer.empty[Staged]
      // one file: written under a hidden name, renamed when complete
      final class File(out: Output, relDir: String, changelog: Boolean) {
        private val rel = if (relDir.isEmpty) name else s"$relDir/$name"
        private val dir = if (changelog) clStaging else staging
        private val fin = new Path(s"$dir/$rel")
        private val tmp = new Path(fin.getParent, s".$name.tmp")
        private val w: OutputWriter = out.factory.newInstance(tmp.toString, out.schema,
          new TaskAttemptContextImpl(out.conf.value, hadoopId))
        def write(row: InternalRow): Unit = w.write(row)
        def close(): Unit = {
          w.close()
          tmp.getFileSystem(out.conf.value).rename(tmp, fin)
          staged += Staged(rel, changelog,
            ParquetStats.read(out.conf.value, fin.toString, rel, 0, seq, seq))
        }
        def abort(): Unit = try w.close() catch { case _: Exception => () }
      }
      val keyOrder = new InterpretedOrdering(keyCols.map { case (i, dt) =>
        SortOrder(BoundReference(i, dt, nullable = true), Ascending)
      })
      val partString = partCols.map { case (_, i, dt) =>
        Cast(BoundReference(i, dt, nullable = true), StringType, Some(timeZone))
      }
      // Spark's partition directories: Hive-escaped values cast to
      // strings in the session time zone, then the bucket
      def dirOf(row: InternalRow, bucket: Int): String =
        (partCols.indices.map { j =>
          val v = partString(j).eval(row)
          ExternalCatalogUtils.getPartitionPathString(partCols(j)._1,
            if (v == null) null else v.toString)
        } :+ s"$BucketCol=$bucket").mkString("/")
      val project = ProjectingInternalRow(data.schema, dataOrds)
      var file: File = null
      var clFile: File = null
      var group: (Seq[Any], Int) = null
      // the group's merged rows by key, for the changelog
      val merged = mutable.LinkedHashMap.empty[Seq[Any], InternalRow]
      // the current key's winner so far
      var best: InternalRow = null
      def endKey(): Unit = if (best != null) {
        project.project(best)
        file.write(project)
        if (changelog.nonEmpty) merged(layout.keyOf(best)) = best
        best = null
      }
      def endGroup(): Unit = if (group != null) {
        endKey()
        file.close()
        file = null
        changelog.foreach { case (lookup, out) =>
          lookup.changes(group, merged, layout).foreach { r =>
            if (clFile == null) clFile = new File(out, "", changelog = true)
            clFile.write(r)
          }
          merged.clear()
        }
      }
      try {
        rows.foreach { r =>
          val row = r.copy()
          val g = (partCols.map { case (_, i, dt) => row.get(i, dt) }.toSeq,
            row.getInt(bucketOrd))
          if (g != group) {
            endGroup()
            group = g
            file = new File(data, dirOf(row, g._2), changelog = false)
            best = row
          } else if (keyOrder.compare(row, best) != 0) {
            endKey()
            best = row
          } else if (order.betterThan(layout.sfOf(row), row.getLong(arrivalOrd),
              layout.sfOf(best), best.getLong(arrivalOrd), hasBest = true)) best = row
        }
        endGroup()
        if (clFile != null) clFile.close()
      } catch {
        case e: Throwable =>
          // partial files keep their hidden names: no commit adopts them
          Seq(file, clFile).filter(_ != null).foreach(_.abort())
          throw e
      }
      staged.iterator
    }.collect().toSeq
  }
}
