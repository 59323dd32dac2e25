package graft.table

import graft.core.Meta.TableSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The one definition of a row's fixed bucket: xxhash64 with seed 42
  * chained over the bucket-key columns in declared order and declared
  * types, nulls skipped, pmod the bucket count (reference:
  * KeyAndBucketExtractor, PaimonSparkWriter's repartition-by-bucket).
  *
  * Spark hashes a value by its runtime type (INT 5 and BIGINT 5 hash
  * differently), so inputs are coerced to the declared types first: the
  * Catalyst form casts the columns (a no-op SimplifyCasts removes from
  * frames already in the table's types), the driver form casts the key
  * values. */
object Buckets {

  private val Col = "__bucket"

  /** `pmod(xxhash64(keys), n)` over key columns already in their
    * declared types. */
  def column(keys: Seq[Column], n: Int): Column =
    pmod(xxhash64(keys: _*), lit(n)).cast("int")

  /** Bucket of `cols` of `sch`, each cast to its declared type (nested
    * types are hashed as they come: their cast can fail on element
    * nullability alone). */
  def column(sch: TableSchema, cols: Seq[String], n: Int): Column = {
    val st = sch.toStruct
    column(cols.map(k => st(k).dataType match {
      case _: ArrayType | _: MapType | _: StructType => col(k)
      case dt => col(k).cast(dt)
    }), n)
  }

  /** Route rows one task per bucket by their `__bucket` column. */
  def route(df: DataFrame, n: Int): DataFrame = df.repartition(n, col(Col))

  /** Add `__bucket` as the bucket of `cols` and route by it. */
  def route(df: DataFrame, sch: TableSchema, cols: Seq[String], n: Int): DataFrame =
    route(df.withColumn(Col, column(sch, cols, n)), n)

  /** The [[column]] hash on the driver, over internal values of `types`. */
  def fold(values: Seq[Any], types: Seq[DataType]): Long =
    values.zip(types).foldLeft(42L) { case (h, (v, dt)) =>
      if (v == null) h else XxHash64Function.hash(v, dt, h)
    }

  /** `pmod(hash, n)`. */
  def of(hash: Long, n: Int): Int = java.lang.Math.floorMod(hash, n.toLong).toInt

  /** Bucket of a key bound by `keyValues` (Scala values or literals) on
    * every column of `cols`. None when any value is null: callers then
    * read every bucket. */
  def bucketOf(
      sch: TableSchema, cols: Seq[String], keyValues: Map[String, Any],
      n: Int): Option[Int] = {
    val st = sch.toStruct
    val types = cols.map(st(_).dataType)
    val values = cols.zip(types).map { case (k, dt) => coerce(k, keyValues(k), dt) }
    if (values.contains(null)) None else Some(of(fold(values, types), n))
  }

  /** `value` as an internal value of column `key`'s declared type `dt`.
    * A value that does not cast, or (numbers) changes in the cast, is an
    * IllegalArgumentException naming the column, never a wrong bucket. */
  def coerce(key: String, value: Any, dt: DataType): Any = {
    val l = value match {
      case null => return null
      case l: Literal => l
      case v => scala.util.Try(Literal(v)).getOrElse(
        Literal(CatalystTypeConverters.createToCatalystConverter(dt)(v), dt))
    }
    if (l.value == null || l.dataType == dt) return l.value
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    def tryCast(e: Literal, to: DataType): Any =
      if (Cast.canTryCast(e.dataType, to)) Cast(e, to, tz, EvalMode.TRY).eval() else null
    val v = tryCast(l, dt)
    if (v == null || (l.dataType.isInstanceOf[NumericType] &&
      dt.isInstanceOf[NumericType] && tryCast(Literal(v, dt), l.dataType) != l.value))
      throw new IllegalArgumentException(
        s"key column $key is ${dt.sql}: ${l.sql} (${l.dataType.sql}) is not a ${dt.sql} value")
    v
  }
}
