package graft

import graft.core.Meta
import graft.table.{BucketWriter, GraftTable, MergeEngine}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The bucket writer: a primary-key commit inside the bucket-local gate
  * routes the batch once, and each bucket's task pre-merges it, builds
  * the lookup changelog and writes both files. What it stores must be
  * what `MergeEngine.preMergeBatch` keeps, and what it commits must
  * not depend on how many attempts of a task completed. */
class BucketWriterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-bw").toString + "/t"

  private val sch = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("s", DoubleType, nullable = true),
    StructField("_op", StringType, nullable = true)))

  private def df(rows: Seq[(Int, String, java.lang.Double, String)]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3, r._4)).asJava, sch)

  private def D(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
  private val NaN = D(Double.NaN)

  private def create(options: Map[String, String]): GraftTable =
    GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("changelog-producer" -> "lookup", "bucket" -> "2",
        "rowkind.field" -> "_op", "sequence.field" -> "s") ++ options)

  private def bag(d: DataFrame): Map[String, Int] =
    d.collect().map(_.toSeq.map {
      case x: Double if x.isNaN => "NaN"
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** The stored rows of the files the latest commit added: table
    * columns and `_graft_kind`, after checking every `_graft_seq` is
    * the commit's sequence. */
  private def storedRows(t: GraftTable, before: Set[String]): DataFrame = {
    val added = t.sm.liveEntries(t.sm.latestSnapshot().get)
      .filterNot(e => before(e.file.fileName))
    assert(added.nonEmpty)
    assert(added.map(e => (e.partition, e.bucket)).distinct.size == added.size,
      "one data file per touched bucket")
    val raw = spark.read.parquet(added.map(e => s"${t.path}/${e.file.fileName}"): _*)
    assert(raw.select(Meta.SeqCol).distinct().collect().map(_.getLong(0)).toSeq ==
      added.map(_.file.minSeq).distinct)
    raw.select((sch.fieldNames :+ Meta.KindCol).map(col).toIndexedSeq: _*)
  }

  /** `preMergeBatch` of the batch as `write` kinds it. */
  private def preMerged(t: GraftTable, batch: DataFrame): DataFrame = {
    val kinded = batch.withColumn(Meta.KindCol,
      when(col("_op") === "-U", Meta.KindUpdateBefore)
        .when(col("_op") === "+U", Meta.KindUpdateAfter)
        .when(col("_op") === "-D", Meta.KindDelete)
        .otherwise(Meta.KindInsert).cast("byte"))
    MergeEngine.preMergeBatch(
      kinded.withColumn(BucketWriter.ArrivalCol, monotonically_increasing_id()),
      t.schema, BucketWriter.ArrivalCol)
      .select((sch.fieldNames :+ Meta.KindCol).map(col).toIndexedSeq: _*)
  }

  private def assertChangelog(t: GraftTable, label: String): Unit = {
    val cur = t.sm.latestSnapshotId.get
    val cols = (sch.fieldNames :+ "_row_kind").map(col).toIndexedSeq
    assert(bag(t.incrementalRead(cur - 1, cur).select(cols: _*)) ==
      bag(t.changelogBetween(cur - 1, cur).select(cols: _*)), s"$label, snapshot $cur")
  }

  /** In-batch duplicates of every kind the pre-merge orders. */
  private val batches: Seq[Seq[(Int, String, java.lang.Double, String)]] = Seq(
    (0 until 12).map(k => (k, "base", D(5), "+I")),
    Seq(
      (0, "a", D(1), "+U"), (0, "b", D(7), "+U"), (0, "c", D(3), "+U"), // sequence order
      (1, "a", null, "+U"), (1, "b", NaN, "+U"),                      // null against NaN
      (2, "a", NaN, "+U"), (2, "b", D(9), "+U"), (2, "c", null, "+U"),
      (3, "a", D(4), "+U"), (3, "b", D(4), "-D"),                     // +U then -D, a tie
      (4, "a", null, "+U"), (4, "b", null, "-D"),
      (5, "a", D(2), "+U"), (5, "b", D(8), "-U"),                     // a -U winner
      (6, "a", D(6), "+U"), (6, "b", D(6), "+U"), (6, "c", D(6), "+U"), // arrival breaks ties
      (20, "new", D(1), "+I"), (21, "x", null, "-D")),
    Seq(
      (0, "again", D(0), "+U"), (0, "again2", D(0), "+U"),
      (3, "back", NaN, "+U"), (3, "back2", null, "+U"),
      (7, "a", D(5), "+U"), (7, "b", D(5), "-D"), (7, "c", D(5), "+U")))

  for (order <- Seq("ascending", "descending"))
    test(s"$order sequence.field: stored rows are preMergeBatch's, with null " +
      "and NaN sequences, +U then -D and a -U winner; changelog = state diff") {
      val t = create(Map("sequence.field.sort-order" -> order))
      val c0 = t.bucketLocalChangelogs.get
      batches.zipWithIndex.foreach { case (rows, i) =>
        val before = t.sm.latestSnapshot().toSeq.flatMap(t.sm.liveEntries)
          .map(_.file.fileName).toSet
        t.write(df(rows))
        assert(bag(storedRows(t, before)) == bag(preMerged(t, df(rows))), s"batch $i")
        if (i > 0) assertChangelog(t, s"batch $i")
      }
      assert(t.bucketLocalChangelogs.get - c0 == batches.size)
      // spot checks of the second batch's winners
      val kept = preMerged(t, df(batches(1))).collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      val expected =
        if (order == "ascending") Map(0 -> "b", 1 -> "b", 2 -> "a", 3 -> "b", 4 -> "b",
          5 -> "b", 6 -> "c")
        else Map(0 -> "a", 1 -> "a", 2 -> "b", 3 -> "b", 4 -> "b", 5 -> "a", 6 -> "c")
      assert(expected.forall { case (k, v) => kept(k) == v }, kept)
    }

  test("a batch with no rows commits a snapshot with no files and an empty changelog") {
    val t = create(Map.empty)
    t.write(df((0 until 8).map(k => (k, "base", D(1), "+I"))))
    val files = t.sm.liveEntries(t.sm.latestSnapshot().get).map(_.file.fileName).toSet
    val id = t.delete(col("k") === 999)
    assert(id == t.sm.latestSnapshotId.get)
    assert(t.sm.liveEntries(t.sm.latestSnapshot().get).map(_.file.fileName).toSet == files)
    assert(t.incrementalRead(id - 1, id).count() == 0)
    assert(t.read.count() == 8)
  }

  test("a second completed attempt of a task is not adopted twice: one data " +
    "file per bucket, no doubled rows or changelog rows") {
    val t = create(Map("bucket" -> "4"))
    t.write(df((0 until 40).map(k => (k, "base", D(1), "+I"))))
    def copyAttempt(p: Path): Unit = {
      val name = p.getFileName.toString
      val m = """part-(\d+)-(\d+)\.parquet""".r.findFirstMatchIn(name).get
      Files.copy(p, p.resolveSibling(s"part-${m.group(1)}-${m.group(2).toLong + 1}.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
    def parquets(dir: String): Seq[Path] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.matches("""part-\d+-\d+\.parquet"""))
        .toList finally s.close()
    }
    var staged = (0, 0)
    t.stagedHook = Some { (data, changelog) =>
      // one bucket's data file, and a changelog file, twice
      val d = parquets(data)
      val c = parquets(changelog)
      staged = (d.size, c.size)
      copyAttempt(d.head)
      copyAttempt(c.head)
    }
    val before = t.sm.latestSnapshot().toSeq.flatMap(t.sm.liveEntries)
      .map(_.file.fileName).toSet
    try t.write(df((0 until 40).map(k => (k, "next", D(2), "+U")) ++
      Seq((100, "fresh", D(2), "+I"))))
    finally t.stagedHook = None
    assert(staged._1 == 4 && staged._2 >= 1, staged)
    val added = t.sm.liveEntries(t.sm.latestSnapshot().get)
      .filterNot(e => before(e.file.fileName))
    assert(added.map(_.bucket).sorted == (0 until 4), added.map(_.file.fileName))
    assert(added.map(_.file.rowCount).sum == 41)
    assert(t.read.count() == 41)
    assert(t.read.filter(col("v") === "next").count() == 40)
    val cur = t.sm.latestSnapshotId.get
    val cl = t.incrementalRead(cur - 1, cur)
    assert(cl.count() == 81, "40 -U/+U pairs and one +I")
    assertChangelog(t, "retried attempt")
    // nothing staged is left behind
    assert(!Files.exists(Paths.get(s"${t.path}/staging")) ||
      Files.list(Paths.get(s"${t.path}/staging")).count() == 0)
  }
}
