package graft

import graft.core.Meta
import graft.table.{GraftTable, MergeEngine}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Merge-on-read of primary-key tables inside the bucket-local gate:
  * each (partition, bucket)'s runs are read by one task of a
  * key-grouped scan and merged with no Exchange, reading only the
  * columns a query uses. Every read surface must return what the
  * whole-row pick across a shuffle over `readRaw` returns; tables
  * outside the gate keep the shuffle merge. */
class MergeOnReadSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val warehouse: String = Files.createTempDirectory("graft-mor").toString

  // a catalog of its own: suites share one session, and a catalog
  // keeps the warehouse it was first initialized with
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.graft_mor", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_mor.warehouse", warehouse)
    s
  }

  private var n = 0
  /** A fresh table path, readable in SQL as `graft_mor.mor.<name>`. */
  private def tablePath(): (String, String) = {
    n += 1
    (s"$warehouse/mor/t$n", s"graft_mor.mor.t$n")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The reference result: the whole-row pick (`mergeKeepMeta`, what
    * compaction keeps) across a shuffle over every live file, with
    * retractions and hidden columns dropped. */
  private def reference(t: GraftTable): DataFrame = {
    val sch = t.schema
    MergeEngine.mergeKeepMeta(t.readRaw(t.visibleEntries(
      t.sm.latestSnapshot().toSeq.flatMap(t.sm.liveEntries), sch), sch), sch)
      .filter(!col(Meta.KindCol).isin(Meta.KindUpdateBefore, Meta.KindDelete))
      .select(sch.toStruct.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }

  private def exchanges(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) { case e: Exchange => e }

  private def keyGrouped(df: DataFrame): Boolean =
    scans(df).exists(_.scan.description().startsWith("GraftBucketedScan")) &&
      exchanges(df.queryExecution.executedPlan).isEmpty

  /** `t.read`, `scan(filter)` and SQL `SELECT *`, projection and range
    * all agree with [[reference]]; the API reads plan key-grouped. */
  private def assertAgrees(t: GraftTable, sqlName: String, filter: org.apache.spark.sql.Column,
      filterSql: String, proj: Seq[String]): Unit = {
    val ref = reference(t)
    assert(keyGrouped(t.read), t.read.queryExecution.executedPlan.toString)
    assert(rows(t.read) == rows(ref))
    assert(rows(t.scan(filter)) == rows(ref.filter(filter)))
    assert(rows(t.read.select(proj.map(col): _*)) == rows(ref.select(proj.map(col): _*)))
    assert(rows(spark.sql(s"SELECT * FROM $sqlName")) == rows(ref))
    assert(rows(spark.sql(s"SELECT ${proj.mkString(", ")} FROM $sqlName")) ==
      rows(ref.select(proj.map(col): _*)))
    assert(rows(spark.sql(s"SELECT * FROM $sqlName WHERE $filterSql")) ==
      rows(ref.filter(filter)))
  }

  private val kinded = StructType(Seq(
    StructField("dt", StringType, nullable = false),
    StructField("a", LongType, nullable = false),
    StructField("b", IntegerType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("s", LongType, nullable = true),
    StructField("_op", StringType, nullable = true)))

  private def kdf(rs: (String, Long, Int, String, Long, String)*): DataFrame =
    spark.createDataFrame(rs.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6)).asJava, kinded)

  test("partitioned table, composite key with bucket-key ⊂ pk, -D/-U winners") {
    val (path, name) = tablePath()
    val t = GraftTable.create(spark, path, kinded,
      partitionKeys = Seq("dt"), primaryKeys = Seq("dt", "a", "b"),
      options = Map("bucket" -> "3", "bucket-key" -> "a", "rowkind.field" -> "_op"))
    t.write(kdf((for (dt <- Seq("x", "y"); a <- 0L until 30L; b <- 0 until 2)
      yield (dt, a, b, s"base-$dt$a$b", 0L, "+I")): _*))
    t.write(kdf((for (a <- 0L until 30L by 3) yield ("x", a, 0, s"up-$a", 1L, "+U")) ++
      (for (a <- 1L until 30L by 5) yield ("y", a, 1, null, 1L, "-D")) ++
      (for (a <- 2L until 30L by 7) yield ("x", a, 1, s"ub-$a", 1L, "-U")): _*))
    t.write(kdf((for (a <- 1L until 30L by 10) yield ("y", a, 1, s"back-$a", 2L, "+I")): _*))
    val live = t.sm.liveEntries(t.sm.latestSnapshot().get)
    // one bucket id in two partitions
    assert(live.groupBy(_.bucket).exists(_._2.map(_.partition).distinct.size == 2))
    assertAgrees(t, name, col("a").between(5L, 17L), "a BETWEEN 5 AND 17", Seq("a", "v"))
    assert(rows(t.scan(col("dt") === "y")) == rows(reference(t).filter(col("dt") === "y")))
    // one task per (partition, bucket)
    assert(t.read.rdd.getNumPartitions ==
      live.map(e => (e.partition, e.bucket)).distinct.size)
    // a -D winner and a -U winner are both gone, a re-insert after -D is back
    val got = t.read.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(!got.contains(("y", 6L, 1)) && !got.contains(("x", 2L, 1)))
    assert(got.contains(("y", 1L, 1)))
  }

  test("an INT partition column leads the reported key; one- and several-column bucket keys") {
    // a bucket key of (b, a) — the default, the primary key — groups
    // like a one-column one: the scan reports the bucket as a column
    for (bucketKey <- Seq(Map("bucket-key" -> "a"), Map.empty[String, String])) {
      val (path, name) = tablePath()
      val t = GraftTable.create(spark, path, kinded,
        partitionKeys = Seq("b"), primaryKeys = Seq("b", "a"),
        options = Map("bucket" -> "2", "rowkind.field" -> "_op") ++ bucketKey)
      t.write(kdf((for (b <- 0 until 3; a <- 0L until 20L) yield ("x", a, b, s"v$b-$a", 0L, "+I")): _*))
      t.write(kdf((for (b <- 0 until 3; a <- 0L until 20L by 3)
        yield ("x", a, b, s"w$b-$a", 1L, if (a % 2 == 0) "+U" else "-D")): _*))
      assertAgrees(t, name, col("b") === 1 && col("a") > 4L, "b = 1 AND a > 4",
        Seq("b", "a", "v"))
    }
  }

  test("a several-column primary key without bucket-key, unpartitioned") {
    val (path, name) = tablePath()
    val t = GraftTable.create(spark, path, kinded, primaryKeys = Seq("a", "b"),
      options = Map("bucket" -> "3", "rowkind.field" -> "_op"))
    t.write(kdf((for (a <- 0L until 25L; b <- 0 until 3) yield ("x", a, b, s"v$a-$b", 0L, "+I")): _*))
    t.write(kdf((for (a <- 0L until 25L by 2; b <- 0 until 2)
      yield ("y", a, b, s"w$a-$b", 1L, if (b == 0) "+U" else "-D")): _*))
    assertAgrees(t, name, col("a") <= 7L && col("b") =!= 2, "a <= 7 AND b != 2", Seq("a", "v"))
    val proj = t.read.select("a", "b", "v")
    assert(scans(proj).map(_.scan.readSchema().fieldNames.toSet) ==
      Seq(Set("a", "b", "v", "_graft_seq", "_graft_kind", "_graft_bucket")))
  }

  test("sequence.field ascending and descending; equal sequence values fall to commit order") {
    for (order <- Seq("ascending", "descending")) {
      val (path, name) = tablePath()
      val t = GraftTable.create(spark, path, kinded, primaryKeys = Seq("a"),
        options = Map("bucket" -> "2", "sequence.field" -> "s",
          "sequence.field.sort-order" -> order, "rowkind.field" -> "_op"))
      t.write(kdf((0L until 40L).map(a => ("x", a, 0, s"first-$a", a % 3, "+I")): _*))
      // same sequence value for even keys (tie → later commit wins),
      // higher/lower for the odd ones
      t.write(kdf((0L until 40L).map(a =>
        ("x", a, 1, s"second-$a", if (a % 2 == 0) a % 3 else a % 3 + 1, "+U")): _*))
      t.write(kdf((0L until 40L by 4).map(a =>
        ("x", a, 2, s"third-$a", if (order == "ascending") -1L else 9L, "+U")): _*))
      assertAgrees(t, name, col("a") < 11L, "a < 11", Seq("a", "s", "v"))
      val got = t.read.collect().map(r => r.getLong(1) -> r.getString(3)).toMap
      assert(got(2L) == "second-2") // tie: the later commit
      assert(got(3L) == (if (order == "ascending") "second-3" else "first-3"))
      assert(got(4L) == "second-4") // the third write loses on sequence in both orders
    }
  }

  test("more than 32 live files in one bucket") {
    val (path, name) = tablePath()
    val t = GraftTable.create(spark, path, kinded, primaryKeys = Seq("a"),
      options = Map("bucket" -> "1", "rowkind.field" -> "_op"))
    (0 until 34).foreach { i =>
      t.write(kdf((0L until 12L).map(a => ("x", a * 7 % 50 + i % 5, i, s"w$i-$a", i.toLong,
        if (i % 6 == 5 && a % 4 == 0) "-D" else "+U")): _*))
    }
    assert(t.sm.liveEntries(t.sm.latestSnapshot().get).size > 32)
    // no file listing: past 32 paths Spark's InMemoryFileIndex lists in a job
    assert(SparkJobs.during(spark)(t.read)._2 == 0)
    assertAgrees(t, name, col("a") >= 20L, "a >= 20", Seq("a", "b"))
  }

  test("plan and job pins: no Exchange, pruned read schema, zero jobs at SQL planning") {
    val (path, name) = tablePath()
    val wide = StructType(StructField("k", IntegerType, nullable = false) +:
      (1 to 8).map(i => StructField(s"c$i", StringType, nullable = true)))
    val t = GraftTable.create(spark, path, wide, primaryKeys = Seq("k"),
      options = Map("bucket" -> "4"))
    for (w <- 0 until 3)
      t.write(spark.createDataFrame((0 until 200 by (w + 1)).map(k =>
        Row(k +: (1 to 8).map(i => s"v$w-$k-$i"): _*)).asJava, wide))
    val proj = t.read.select("k", "c1")
    assert(keyGrouped(proj), proj.queryExecution.executedPlan.toString)
    assert(scans(proj).map(_.scan.readSchema().fieldNames.toSet) ==
      Seq(Set("k", "c1", "_graft_seq", "_graft_kind", "_graft_bucket")))
    assert(rows(proj) == rows(reference(t).select("k", "c1")))
    // the V1 bridge no longer runs the merge while Spark plans
    val range = spark.sql(s"SELECT * FROM $name WHERE k BETWEEN 10 AND 40")
    val (_, planJobs) = SparkJobs.during(spark)(range.queryExecution.executedPlan)
    assert(planJobs == 0)
    assert(rows(range) == rows(reference(t).filter(col("k").between(10, 40))))
    val sqlProj = spark.sql(s"SELECT k, c1 FROM $name")
    assert(exchanges(sqlProj.queryExecution.executedPlan).isEmpty)
    val (_, projJobs) = SparkJobs.during(spark)(sqlProj.collect())
    assert(projJobs == 1)
    // scan(filter) lists exactly the pruned files
    val filter = col("k") === 17
    val planned = t.planEntries(filter).map(e => s"$path/${e.file.fileName}").toSet
    assert(planned.nonEmpty && planned.size < t.sm.liveEntries(t.sm.latestSnapshot().get).size)
    assert(t.scan(filter).inputFiles.map(f => new java.net.URI(f).getPath).toSet == planned)
  }

  test("tables outside the gate keep the shuffle merge over readRaw") {
    val base = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("w", LongType, nullable = true)))
    def bdf(rs: (Long, String, java.lang.Long)*): DataFrame =
      spark.createDataFrame(rs.map(r => Row(r._1, r._2, r._3)).asJava, base)
    def fill(t: GraftTable): Unit = {
      t.write(bdf((0L until 30L).map(k => (k, s"a$k", java.lang.Long.valueOf(k))): _*))
      t.write(bdf((0L until 30L by 2).map(k => (k, s"b$k", null)): _*))
    }
    def assertFallback(t: GraftTable, name: String): Unit = {
      val plan = t.read.queryExecution.executedPlan
      assert(!keyGrouped(t.read) && exchanges(plan).nonEmpty &&
        plan.toString.contains("FileScan"), plan.toString)
      assert(rows(t.read) == rows(reference(t)))
      assert(rows(spark.sql(s"SELECT * FROM $name WHERE k < 9")) ==
        rows(reference(t).filter(col("k") < 9L)))
    }
    val cases = Seq(
      Map("deletion-vectors.enabled" -> "true"),
      Map("file.format" -> "orc"),
      Map("merge-engine" -> "partial-update"))
    cases.foreach { opts =>
      val (path, name) = tablePath()
      val t = GraftTable.create(spark, path, base, primaryKeys = Seq("k"),
        options = opts + ("bucket" -> "2"))
      fill(t)
      assertFallback(t, name)
    }
    // files written under an older schema version
    val (path, name) = tablePath()
    val t = GraftTable.create(spark, path, base, primaryKeys = Seq("k"),
      options = Map("bucket" -> "2"))
    fill(t)
    t.addColumn("x", StringType)
    t.write(spark.createDataFrame((0L until 30L by 3).map(k =>
      Row(k, s"c$k", k, s"x$k")).asJava, t.schema.toStruct))
    assertFallback(t, name)
  }
}
