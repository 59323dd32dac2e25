package graft

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Micro-batch pacing counts the files a batch reads: a deletion-vector
  * delete re-ADDs its file with a new vector but brings no rows, so it
  * costs nothing against `scan.max-files-per-trigger`. */
class StreamPacingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def df(ks: Seq[Long]): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k, s"v$k")).asJava, sch)

  test("a deletion-vector delete does not cost a micro-batch of its own") {
    val wh = Files.createTempDirectory("graft-pacing-wh").toString
    spark.conf.set("spark.sql.catalog.pacingcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pacingcat.warehouse", wh)
    val t = GraftTable.create(spark, s"$wh/db/t", sch,
      options = Map("deletion-vectors.enabled" -> "true"))
    t.write(df(0L until 4L))              // one file
    t.delete(col("k") === 1L)             // OVERWRITE: DELETE + re-ADD with a vector
    t.write(df(10L until 12L))            // one file
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .option("scan.max-files-per-trigger", "1")
      .table("pacingcat.db.t")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-pacing-ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) => batches.add(b.count()): Unit }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    // one batch per data file; the delete rides along with the first
    assert(batches.asScala.toSeq == Seq(4L, 2L), s"rows per batch: ${batches.asScala}")
  }
}
