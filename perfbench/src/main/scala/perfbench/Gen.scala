package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Seeded inputs. Rows have the BASELINE shape: `k INT` plus `f1..f20`,
  * each a 10-character string. A row is a pure function of
  * (seed, key, version), so the expected table state is a key → version
  * map kept by the client, and any row can be rebuilt both in Spark (to
  * feed the engine) and on the driver (to check what the engine
  * returns). */
final class Gen(val seed: Long) {
  import Gen._

  /** Spark side: value column j of the row (k, v). */
  private def valueCol(j: Int, k: Column, v: Column): Column =
    substring(lpad(hex(xxhash64(lit(seed), lit(j), k, v)), 16, "0"), 1, 10)

  /** Driver side: the same value, mirroring Spark's xxhash64 fold
    * (seed 42, each child hashed into the running seed) and hex. */
  def value(j: Int, k: Int, v: Int): String = {
    var h = XXH64.hashLong(seed, 42L)
    h = XXH64.hashInt(j, h)
    h = XXH64.hashInt(k, h)
    h = XXH64.hashInt(v, h)
    val s = java.lang.Long.toHexString(h).toUpperCase
    ("0" * (16 - s.length) + s).take(10)
  }

  def row(k: Int, v: Int): IndexedSeq[String] = (1 to Fields).map(j => value(j, k, v))

  /** Full rows for a frame of (k, v[, extra...]); extra columns are kept. */
  def rows(kv: DataFrame): DataFrame = {
    val extra = kv.columns.filterNot(Set("k", "v")).map(col).toSeq
    kv.select((col("k") +: (1 to Fields).map(j =>
      valueCol(j, col("k"), col("v")).as(s"f$j"))) ++ extra: _*)
  }

  /** Order-independent digest of a row set: (count, sum of per-row
    * hashes mod a prime). Applied to the engine's output and to the
    * generator's expected rows alike. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(DigestMod))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Whether the driver-side mirror agrees with the Spark side on a
    * sample of rows and on the digest; every check relies on it. */
  def mirrorAgrees(spark: SparkSession): Boolean = {
    val ks = Array.range(0, 1000)
    val df = rows(kvFrame(spark, ks, ks.map(_ % 3)))
    val sample = df.filter(col("k") < 5).collect()
    sample.length == 5 && sample.forall(r => fields(r) == row(r.getInt(0), r.getInt(0) % 3)) &&
      digest(df, AllCols) == ((ks.length.toLong, ks.map(k => rowDigest(k, row(k, k % 3))).sum))
  }

  /** Driver-side digest of one row, matching [[digest]]. */
  def rowDigest(k: Int, values: Seq[String]): Long = {
    var h = XXH64.hashInt(k, 42L)
    values.foreach { s =>
      val b = UTF8String.fromString(s)
      h = XXH64.hashUnsafeBytes(b.getBaseObject, b.getBaseOffset, b.numBytes(), h)
    }
    java.lang.Math.floorMod(h, DigestMod)
  }
}

object Gen {
  val Fields = 20
  val FieldCols: IndexedSeq[String] = (1 to Fields).map(j => s"f$j")
  val AllCols: Seq[String] = "k" +: FieldCols
  /** Raw bytes of one user row: a 4-byte key and twenty 10-byte strings. */
  val RowBytes = 4 + 10 * Fields
  val DigestMod = 2147483647L

  /** f1..f20 of a row laid out as `k, f1..f20, ...` (lookup results
    * carry no schema, so fields are read by position). */
  def fields(r: org.apache.spark.sql.Row): IndexedSeq[String] = (1 to Fields).map(r.getString)

  /** `n` distinct keys from [0, keys): a share `hotShare` of them from
    * the hot fifth [0, keys/5), the rest from the cold remainder. */
  def skewedKeys(rnd: java.util.Random, keys: Int, n: Int, hotShare: Double): Array[Int] = {
    val hot = keys / 5
    val nHot = math.min(hot, math.round(n * hotShare).toInt)
    sample(rnd, 0, hot, nHot) ++ sample(rnd, hot, keys, n - nHot)
  }

  /** `n` distinct ints from [lo, hi), partial Fisher-Yates. */
  def sample(rnd: java.util.Random, lo: Int, hi: Int, n: Int): Array[Int] = {
    val a = Array.range(lo, hi)
    val m = math.min(n, a.length)
    var i = 0
    while (i < m) {
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(m)
  }

  /** A running digest of every generated input, printed with the run so
    * two runs of one seed can be shown to share their inputs. */
  final class InputHash {
    private val crc = new java.util.zip.CRC32C
    private var n = 0L
    def add(xs: Array[Int]): Unit = {
      val b = java.nio.ByteBuffer.allocate(4 * xs.length)
      xs.foreach(b.putInt)
      crc.update(b.array()); n += xs.length
    }
    def add(s: String): Unit = { crc.update(s.getBytes("UTF-8")); n += 1 }
    def hex: String = f"${crc.getValue}%08x-$n"
  }

  def kvFrame(spark: SparkSession, ks: Array[Int], vs: Array[Int]): DataFrame = {
    import spark.implicits._
    ks.indices.map(i => (ks(i), vs(i))).toDF("k", "v")
  }

  /** (k, v) plus a row-kind column `kindCol`. */
  def kvFrame(spark: SparkSession, ks: Array[Int], vs: Array[Int],
      kindCol: String, kinds: Array[String]): DataFrame = {
    import spark.implicits._
    ks.indices.map(i => (ks(i), vs(i), kinds(i))).toDF("k", "v", kindCol)
  }
}
