package graft.table

import graft.core.Meta.{KindCol, KindDelete, KindUpdateBefore, SeqCol, TableSchema}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The order of one primary key's versions: the sequence fields
  * compared lexicographically, then `_graft_seq`. Nulls are smallest;
  * `sequence.field.sort-order=descending` flips each component after
  * the null handling, so the SMALLEST sequence wins. This is
  * [[MergeEngine]]'s `(sequence.field, _graft_seq)` struct order, for
  * readers that pick a key's winner row by row. A descending FLOAT or
  * DOUBLE field ranks NaN below null too (the merge's leading isnan
  * flag). The per-type orderings are rebuilt wherever the order is
  * deserialized. */
private[graft] final class VersionOrder(sfTypes: Array[DataType], descending: Boolean)
    extends Serializable {
  @transient private lazy val orderings: Array[Ordering[Any]] = sfTypes.map(dt =>
    TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]])
  private val nanLowest = sfTypes.map(dt =>
    descending && (dt == FloatType || dt == DoubleType))
  private def isNaN(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  }

  /** Lexicographic compare of sequence-field vectors (per-element
    * nulls); a single-field table is the 1-element case. */
  def compareSf(a: Seq[Any], b: Seq[Any]): Int = {
    var i = 0
    while (i < orderings.length) {
      val c = (a(i), b(i)) match {
        case (x, y) if nanLowest(i) && (isNaN(x) || isNaN(y)) =>
          if (!isNaN(x)) 1 else if (!isNaN(y)) -1 else 0
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
  * shuffle). Built on the driver over the commit's live `files` (keyed
  * by typed partition values and bucket), read through `factory` (a
  * reader over `read.readData`); [[BucketWriter]]'s tasks call
  * [[changes]]. Table files must be parquet files of `sch` without
  * deletion vectors, and the table a deduplicate one. */
private[graft] final class LookupChangelog(
    sch: TableSchema, read: BucketRead, factory: PartitionReaderFactory,
    files: Map[(Seq[Any], Int), Seq[PartitionedFile]]) extends Serializable {
  import LookupChangelog._
  private val st = read.struct
  private val colTypes = st.fields.map(_.dataType)
  private val before = read.readerLayout(read.readData)
  // where a before-image keeps each table column
  private val beforeOrds = st.fieldNames.map(before.out.fieldIndex)
  private val cmp = comparedColumns(sch).map(st.fieldIndex).toArray
  @transient private lazy val equiv =
    cmp.map(i => TypeUtils.getInterpretedOrdering(colTypes(i)))
  /** The changelog rows: table columns, then `_row_kind`. */
  val schema: StructType = StructType(st.fields :+
    StructField(RowKindCol, StringType, nullable = false))

  private def retraction(kind: Byte) = kind == KindDelete || kind == KindUpdateBefore
  private def emit(row: InternalRow, ords: Int => Int, kind: String): InternalRow =
    new GenericInternalRow(colTypes.indices.map(i =>
      row.get(ords(i), colTypes(i))).toArray[Any] :+ UTF8String.fromString(kind))
  private def changed(b: InternalRow, a: InternalRow): Boolean = cmp.indices.exists { j =>
    val c = cmp(j)
    val (x, y) = (b.get(beforeOrds(c), colTypes(c)), a.get(c, colTypes(c)))
    if (x == null || y == null) (x == null) != (y == null)
    else equiv(j).compare(x, y) != 0
  }

  /** The changelog rows of one (partition, bucket) `group`, whose
    * pre-merged batch rows `batch` holds by key in the layout `after`
    * (table columns first). Reads only the group's files, keeps each
    * batch key's winning old version and emits `+I` for a key without
    * a before-image, `-D` when a retraction wins over one, `-U` then
    * `+U` when the row changed, and nothing when the after-image is
    * the before-image (an older version winning on `sequence.field`,
    * or a change only in ignored columns). */
  def changes(group: (Seq[Any], Int), batch: collection.Map[Seq[Any], InternalRow],
      after: BucketRead#Layout): Iterator[InternalRow] = {
    val order = read.order
    // the winning old version of each batch key: (row, seq, sf)
    val best = mutable.HashMap.empty[Seq[Any], (InternalRow, Long, Any)]
    files.getOrElse(group, Nil).foreach { f =>
      val reader = factory.createReader(FilePartition(0, Array(f)))
      try while (reader.next()) {
        val r = reader.get()
        val k = before.keyOf(r)
        if (batch.contains(k)) {
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
    batch.iterator.flatMap { case (k, a) =>
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
}
