package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** Catalog-resolved SQL functions (reference: paimon-spark
  * .../catalog/functions/PaimonFunctions.scala:44-52 — `bucket`,
  * `max_pt`, resolved through Spark's FunctionCatalog).
  *
  * `SELECT <cat>.sys.bucket(16, k)` — the writer's bucket id
  * ([[graft.table.Buckets]]), for bucket-aligned repartitioning/joins
  * from SQL;
  * `SELECT <cat>.sys.max_pt('db.t', 'dt')` — latest non-empty
  * partition value, answered from manifests alone. */
object GraftFunctions {

  def names: Seq[String] =
    Seq("bucket", "max_pt", "path_to_descriptor", "descriptor_to_string")

  /** builtin functions resolve under `sys` and the EMPTY namespace —
    * Spark's storage-partitioned-join planning loads the `bucket`
    * transform's function with no namespace
    * (V2ExpressionUtils.loadV2FunctionOpt). */
  private def builtinNs(ns: Array[String]): Boolean =
    ns.isEmpty || ns.sameElements(Array("sys"))

  def load(catalog: GraftCatalog, ident: Identifier): UnboundFunction =
    ident.name() match {
      case "bucket" if builtinNs(ident.namespace()) => BucketFunction
      case "max_pt" if builtinNs(ident.namespace()) =>
        new MaxPtFunction(catalog.warehousePath)
      case "path_to_descriptor" if builtinNs(ident.namespace()) =>
        PathToDescriptorFunction
      case "descriptor_to_string" if builtinNs(ident.namespace()) =>
        DescriptorToStringFunction
      case _ =>
        // catalog-stored SQL functions: <cat>.<db>.<fn> persisted via
        // CALL sys.create_function (reference: PaimonFunctionResolver)
        StoredFunctions.load(catalog.warehousePath, ident).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    }

  object BucketFunction extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, key, ...): writer-compatible bucket id of a key"

    /** Types Spark's xxhash64 hashes natively — anything else would
      * force a CAST that changes the hash input and silently disagrees
      * with the writer's bucket routing. */
    private[graft] def hashable(dt: DataType): Boolean = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType | TimestampType |
           TimestampNTZType | StringType | BinaryType => true
      case _: DecimalType => true
      case _ => false
    }

    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length >= 2 &&
        inputType.fields(0).dataType == IntegerType,
        "bucket(numBuckets INT, key, ...) — keys in primary-key order")
      val keyTypes = inputType.fields.drop(1).map(_.dataType)
      val bad = keyTypes.filterNot(hashable)
      require(bad.isEmpty,
        s"bucket(): unhashable key type(s) ${bad.map(_.sql).mkString(", ")} — " +
          "pass the key column in its declared type (no CAST), the bucket id " +
          "is the xxhash64 of the raw value")
      new ScalarFunction[Int] {
        override def inputTypes(): Array[DataType] = IntegerType +: keyTypes
        override def resultType(): DataType = IntegerType
        override def name(): String = "bucket"
        // stable identity for storage-partitioned-join compatibility
        // checks (the default getCanonicalName is null for anon classes)
        override def canonicalName(): String = "graft.sys.bucket"
        // the writer's hash over the keys in the types they arrive in
        // (graft.table.Buckets — the writer casts to declared types)
        override def produceResult(input: InternalRow): Int =
          graft.table.Buckets.of(graft.table.Buckets.fold(
            keyTypes.indices.map(i =>
              if (input.isNullAt(i + 1)) null else input.get(i + 1, keyTypes(i))),
            keyTypes),
            input.getInt(0))
      }
    }
  }

  /** `path_to_descriptor(path)`: build a BLOB descriptor struct
    * referencing an external file — the SQL-side ingestion handle for
    * out-of-line payloads (reference: PaimonFunctions
    * `path_to_descriptor`). Length is stat'ed (executor-side IO);
    * hash stays null until the payload is materialized into the
    * table's blob store. */
  object PathToDescriptorFunction extends UnboundFunction with Serializable {
    override def name(): String = "path_to_descriptor"
    override def description(): String =
      "path_to_descriptor(path): BLOB descriptor struct for an external file"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == StringType,
        "path_to_descriptor(path STRING)")
      new ScalarFunction[InternalRow] with Serializable {
        override def inputTypes(): Array[DataType] = Array(StringType)
        override def resultType(): DataType = BlobStorage.descriptorType
        override def name(): String = "path_to_descriptor"
        override def isDeterministic: Boolean = false // stats the file
        override def produceResult(input: InternalRow): InternalRow = {
          val p = input.getUTF8String(0).toString
          val len =
            try java.nio.file.Files.size(java.nio.file.Paths.get(p))
            catch { case _: Exception => -1L }
          InternalRow(null,
            org.apache.spark.unsafe.types.UTF8String.fromString(p), len, null)
        }
      }
    }
  }

  /** `descriptor_to_string(d)`: human-readable rendering of a BLOB
    * descriptor (reference: PaimonFunctions `descriptor_to_string`). */
  object DescriptorToStringFunction extends UnboundFunction with Serializable {
    override def name(): String = "descriptor_to_string"
    override def description(): String =
      "descriptor_to_string(descriptor): render a BLOB descriptor struct"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType.isInstanceOf[StructType] &&
        inputType.fields(0).dataType.asInstanceOf[StructType].fieldNames.toSeq ==
          BlobStorage.descriptorType.fieldNames.toSeq,
        "descriptor_to_string(descriptor STRUCT<inline,file,length,hash>)")
      new ScalarFunction[org.apache.spark.unsafe.types.UTF8String] with Serializable {
        override def inputTypes(): Array[DataType] = Array(BlobStorage.descriptorType)
        override def resultType(): DataType = StringType
        override def name(): String = "descriptor_to_string"
        override def produceResult(input: InternalRow)
            : org.apache.spark.unsafe.types.UTF8String = {
          val d = input.getStruct(0, 4)
          if (d == null) return null
          val s =
            if (!d.isNullAt(0)) s"inline[${d.getBinary(0).length} B]"
            else {
              val f = if (d.isNullAt(1)) "?" else d.getUTF8String(1).toString
              val len = if (d.isNullAt(2)) -1L else d.getLong(2)
              val h = if (d.isNullAt(3)) "" else s" md5=${d.getUTF8String(3)}"
              s"blob:$f len=$len$h"
            }
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        }
      }
    }
  }

  /** Captures only the warehouse path; evaluation is metadata-only
    * (SnapshotManager IO, no SparkSession) so it is safe on
    * executors. */
  class MaxPtFunction(warehouse: String) extends UnboundFunction with Serializable {
    override def name(): String = "max_pt"
    override def description(): String =
      "max_pt(table, column): latest non-empty partition value (manifests only)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
        inputType.fields.forall(_.dataType == StringType),
        "max_pt(table STRING, partitionColumn STRING)")
      new ScalarFunction[org.apache.spark.unsafe.types.UTF8String] with Serializable {
        override def inputTypes(): Array[DataType] = Array(StringType, StringType)
        override def resultType(): DataType = StringType
        override def name(): String = "max_pt"
        override def isDeterministic: Boolean = false // reads table state
        override def produceResult(input: InternalRow)
            : org.apache.spark.unsafe.types.UTF8String = {
          val tablePath =
            s"$warehouse/${input.getUTF8String(0).toString.replace('.', '/')}"
          graft.functions.TableFunctions
            .maxPt(new graft.core.SnapshotManager(tablePath),
              input.getUTF8String(1).toString)
            .map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .orNull
        }
      }
    }
  }
}
