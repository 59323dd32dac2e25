package graft.table

import graft.core.Meta.{KindCol, KindDelete, KindUpdateBefore, SeqCol, TableSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The order of one primary key's versions: the sequence fields
  * compared lexicographically, then `_graft_seq`. Nulls are smallest;
  * `sequence.field.sort-order=descending` flips each component after
  * the null handling, so the SMALLEST sequence wins. This is
  * [[MergeEngine]]'s `(sequence.field, _graft_seq)` struct order, for
  * readers that pick a key's winner row by row. The per-type orderings
  * are rebuilt wherever the order is deserialized. */
private[graft] final class VersionOrder(sfTypes: Array[DataType], descending: Boolean)
    extends Serializable {
  @transient private lazy val orderings: Array[Ordering[Any]] = sfTypes.map(dt =>
    TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]])

  /** Lexicographic compare of sequence-field vectors (per-element
    * nulls); a single-field table is the 1-element case. */
  def compareSf(a: Seq[Any], b: Seq[Any]): Int = {
    var i = 0
    while (i < orderings.length) {
      val c = (a(i), b(i)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) =>
          val c0 = orderings(i).compare(x, y)
          if (descending) -c0 else c0
      }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Does the version (sf, s) beat the best one so far (bSf, bSeq)?
    * Always, when there is none yet. */
  def betterThan(sf: Any, s: Long, bSf: Any, bSeq: Long, hasBest: Boolean): Boolean =
    !hasBest || {
      if (sfTypes.isEmpty) s > bSeq
      else {
        val c = compareSf(bSf.asInstanceOf[Seq[Any]], sf.asInstanceOf[Seq[Any]])
        c < 0 || (c == 0 && s > bSeq)
      }
    }
}

/** How a bucket-local reader sees the files of one schema version of a
  * primary-key table: the reader schemas, the version order, and where
  * a row keeps its key, sequence and meta columns. Built on the driver;
  * serializable, so per-bucket tasks use it as well. */
private[graft] final class BucketRead(sch: TableSchema) extends Serializable {
  /** The schema's runtime struct (parsing its types is the costly part
    * of building this). */
  val struct: StructType = sch.toStruct
  private val pk = sch.primaryKeys.toArray
  private val sf = sch.sequenceFields.toArray
  private val sfTypes = sf.map(struct(_).dataType)
  val partSchema: StructType =
    StructType(struct.fields.filter(f => sch.partitionKeys.contains(f.name)))
  /** Data columns (partition values come from the file's directory),
    * then `_graft_seq` and `_graft_kind`. */
  val readData: StructType = StructType(
    struct.fields.filterNot(f => sch.partitionKeys.contains(f.name)) ++
      Seq(StructField(SeqCol, LongType, nullable = false),
        StructField(KindCol, ByteType, nullable = false)))
  /** Only the key, sequence and meta columns of [[readData]]. */
  val probeData: StructType = {
    val keep = (pk ++ sf :+ SeqCol :+ KindCol).toSet
    StructType(readData.fields.filter(f => keep(f.name)))
  }
  val order = new VersionOrder(sfTypes,
    sch.options.get("sequence.field.sort-order").contains("descending"))

  /** The layout of a reader over `data`: data columns, then partition
    * columns. */
  def readerLayout(data: StructType): Layout =
    new Layout(StructType(data.fields ++ partSchema.fields))

  /** Ordinals of the key, sequence and meta columns in rows of `out`. */
  final class Layout(val out: StructType) extends Serializable {
    private val keyOrds = pk.map(out.fieldIndex)
    private val keyTypes = keyOrds.map(out.fields(_).dataType)
    private val sfOrds = sf.map(out.fieldIndex)
    val seqOrd: Int = out.fieldIndex(SeqCol)
    val kindOrd: Int = out.fieldIndex(KindCol)
    def keyOf(row: InternalRow): Seq[Any] =
      keyOrds.indices.map(i => row.get(keyOrds(i), keyTypes(i)))
    def matches(row: InternalRow, key: Array[Any]): Boolean = {
      var i = 0
      while (i < keyOrds.length) {
        val v = row.get(keyOrds(i), keyTypes(i))
        if (v == null || v != key(i)) return false
        i += 1
      }
      true
    }
    def sfOf(row: InternalRow): Any =
      if (sfOrds.isEmpty) null
      else sfOrds.indices.map(i =>
        if (row.isNullAt(sfOrds(i))) null else row.get(sfOrds(i), sfTypes(i)))
  }
}

/** `changelog-producer=lookup` computed inside the write's own
  * per-bucket tasks (reference: LookupChangelogMergeFunctionWrapper over
  * LookupLevels — each bucket writer looks a key's previous value up in
  * that bucket's files, so the changelog needs no cross-bucket
  * shuffle). */
private[graft] object LookupChangelog {
  val RowKindCol = "_row_kind"

  /** Columns whose change makes a `-U`/`+U` pair: every column except
    * `changelog-producer.row-deduplicate-ignore-fields` (key columns
    * are always compared). */
  def comparedColumns(sch: TableSchema): Seq[String] = {
    val ignore = sch.options
      .get("changelog-producer.row-deduplicate-ignore-fields")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    sch.toStruct.fieldNames.toSeq
      .filterNot(c => ignore.contains(c) && !sch.primaryKeys.contains(c))
  }

  /** The changelog rows (table columns, then `_row_kind`) of the
    * routed, pre-merged `batch`: one row per key, carrying the table's
    * columns, `_graft_seq`, `_graft_kind` and `__bucket`. Each task
    * groups its rows by (partition, bucket), reads only those buckets'
    * files from `files` (keyed by typed partition values and bucket)
    * through `factory` (a reader over `read.readData`), keeps each
    * batch key's winning old version and emits `+I` for a key without
    * a before-image, `-D` when a retraction wins over one, `-U` then
    * `+U` when the row changed, and nothing when the after-image is
    * the before-image (an older version winning on `sequence.field`,
    * or a change only in ignored columns). Table files must be parquet
    * files of `sch` without deletion vectors, and the table a
    * deduplicate one. */
  def diff(
      spark: SparkSession, batch: DataFrame, sch: TableSchema, read: BucketRead,
      factory: PartitionReaderFactory,
      files: Map[(Seq[Any], Int), Seq[PartitionedFile]]): DataFrame = {
    val st = read.struct
    val colTypes = st.fields.map(_.dataType)
    val in = batch.select((st.fieldNames :+ SeqCol :+ KindCol :+ "__bucket")
      .map(col).toIndexedSeq: _*)
    val after = new read.Layout(in.schema)
    val bucketOrd = st.length + 2
    val partOrds = sch.partitionKeys.map(st.fieldIndex).toArray
    val before = read.readerLayout(read.readData)
    // where a before-image keeps each table column
    val beforeOrds = st.fieldNames.map(before.out.fieldIndex)
    val cmp = comparedColumns(sch).map(st.fieldIndex).toArray
    val order = read.order
    val outSchema = StructType(st.fields :+
      StructField(RowKindCol, StringType, nullable = false))
    val rows = in.queryExecution.toRdd.mapPartitions { it =>
      val toScala = CatalystTypeConverters.createToScalaConverter(outSchema)
      val equiv = cmp.map(i => TypeUtils.getInterpretedOrdering(colTypes(i)))
      def retraction(kind: Byte) = kind == KindDelete || kind == KindUpdateBefore
      def emit(row: InternalRow, ords: Int => Int, kind: String) =
        toScala(InternalRow.fromSeq(colTypes.indices.map(i =>
          row.get(ords(i), colTypes(i))) :+ UTF8String.fromString(kind)))
          .asInstanceOf[org.apache.spark.sql.Row]
      def changed(b: InternalRow, a: InternalRow): Boolean = cmp.indices.exists { j =>
        val c = cmp(j)
        val (x, y) = (b.get(beforeOrds(c), colTypes(c)), a.get(c, colTypes(c)))
        if (x == null || y == null) (x == null) != (y == null)
        else equiv(j).compare(x, y) != 0
      }
      // the batch rows of each (partition, bucket), by key
      val groups = mutable.LinkedHashMap.empty[
        (Seq[Any], Int), mutable.LinkedHashMap[Seq[Any], InternalRow]]
      it.foreach { r =>
        val row = r.copy()
        val part: Seq[Any] = partOrds.map(i => row.get(i, colTypes(i))).toVector
        val group = (part, row.getInt(bucketOrd))
        groups.getOrElseUpdate(group, mutable.LinkedHashMap.empty)(after.keyOf(row)) = row
      }
      groups.iterator.flatMap { case (group, batchRows) =>
        // the winning old version of each batch key: (row, seq, sf)
        val best = mutable.HashMap.empty[Seq[Any], (InternalRow, Long, Any)]
        files.getOrElse(group, Nil).foreach { f =>
          val reader = factory.createReader(FilePartition(0, Array(f)))
          try while (reader.next()) {
            val r = reader.get()
            val k = before.keyOf(r)
            if (batchRows.contains(k)) {
              val s = r.getLong(before.seqOrd)
              if (best.get(k).forall { case (_, bs, bsf) =>
                order.betterThan(before.sfOf(r), s, bsf, bs, hasBest = true)
              }) {
                // copy: vectorized rows alias the batch's column memory
                val row = r.copy()
                best(before.keyOf(row)) = (row, s, before.sfOf(row))
              }
            }
          } finally reader.close()
        }
        batchRows.iterator.flatMap { case (k, a) =>
          val aKind = a.getByte(after.kindOrd)
          val old = best.get(k)
          val wins = old.forall { case (_, s, sf) =>
            order.betterThan(after.sfOf(a), a.getLong(after.seqOrd), sf, s, hasBest = true)
          }
          val b = old.map(_._1).filterNot(o => retraction(o.getByte(before.kindOrd)))
          if (!wins) Iterator.empty
          else (b, retraction(aKind)) match {
            case (None, false) => Iterator(emit(a, identity, "+I"))
            case (Some(o), true) => Iterator(emit(o, beforeOrds(_), "-D"))
            case (Some(o), false) if changed(o, a) =>
              Iterator(emit(o, beforeOrds(_), "-U"), emit(a, identity, "+U"))
            case _ => Iterator.empty
          }
        }
      }
    }
    spark.createDataFrame(rows, outSchema)
  }
}
