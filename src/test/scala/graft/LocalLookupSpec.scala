package graft

import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `GraftTable.localLookup` on files over `lookup.cache-max-file-rows`:
  * such a file is probed on its key and sequence columns and only the
  * winning row is fetched in full; files within the limit answer from
  * their cached decoded maps, also when they share a bucket with a
  * probed file. */
class LocalLookupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-lkp").toString + "/t"

  test("every file probed: partitioned composite key, descending multi-field " +
    "sequence, -D/-U winners, absent keys; agrees with lookup(), zero jobs") {
    val sch = StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("s1", LongType, nullable = true),
      StructField("s2", LongType, nullable = true),
      StructField("_op", StringType, nullable = true)))
    def df(rows: (String, Long, String, Long, Long, String)*) =
      spark.createDataFrame(rows.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5, r._6)).asJava, sch)
    val t = GraftTable.create(spark, tmp(), sch,
      partitionKeys = Seq("dt"), primaryKeys = Seq("dt", "id"),
      options = Map("bucket" -> "2", "lookup.cache-max-file-rows" -> "1",
        "sequence.field" -> "s1,s2", "sequence.field.sort-order" -> "descending",
        "rowkind.field" -> "_op"))
    t.write(df((for (dt <- Seq("a", "b"); id <- 0L until 40L)
      yield (dt, id, s"base-$dt$id", 10L, 0L, "+I")): _*))
    // descending: the SMALLER (s1, s2) vector wins, whatever the commit order
    t.write(df(Seq(
      ("a", 1L, "newer", 5L, 0L, "+U"),        // smaller s1: wins
      ("a", 2L, "stale", 20L, 0L, "+U"),       // bigger s1: loses
      ("a", 3L, "tie-lo", 10L, -1L, "+U"),     // s1 tie, smaller s2: wins
      ("a", 4L, "tie-hi", 10L, 1L, "+U"),      // s1 tie, bigger s2: loses
      ("b", 5L, "gone", 1L, 0L, "-D"),         // -D winner
      ("b", 6L, "before", 1L, 0L, "-U"),       // -U winner
      ("b", 7L, "late-delete", 99L, 0L, "-D"), // -D that loses
      ("c", 1L, "new-part", 3L, 3L, "+I")) ++
      // fillers: every file of this round holds more than one row
      (for (dt <- Seq("a", "b", "c"); id <- 100L until 112L)
        yield (dt, id, s"fill-$dt$id", 1L, 1L, "+I")): _*))
    val files = t.sm.liveEntries(t.sm.latestSnapshot().get)
    assert(files.forall(_.file.rowCount > 1), files.map(_.file.rowCount))
    // warm the reader factories (the first call may broadcast the conf)
    assert(t.localLookup(Map("dt" -> "a", "id" -> 0L)).nonEmpty)
    val keys = for (dt <- Seq("a", "b", "c", "zz"); id <- Seq(0L, 1L, 2L, 3L, 4L,
      5L, 6L, 7L, 8L, 39L, 40L, 1000L)) yield Map[String, Any]("dt" -> dt, "id" -> id)
    val probes0 = t.lookupProbeScans.get
    val (local, jobs) = SparkJobs.during(spark)(keys.map(k => k -> t.localLookup(k)))
    assert(jobs == 0, s"localLookup ran $jobs Spark job(s)")
    assert(t.lookupProbeScans.get > probes0)
    assert(t.lookupCacheMisses.get == 0 && t.lookupCacheHits.get == 0,
      "a file over the limit must never be decoded into the map cache")
    def v(dt: String, id: Long) =
      local.toMap.apply(Map("dt" -> dt, "id" -> id)).map(_.getString(2))
    assert(v("a", 0L) == Seq("base-a0"))
    assert(v("a", 1L) == Seq("newer"))
    assert(v("a", 2L) == Seq("base-a2"))
    assert(v("a", 3L) == Seq("tie-lo"))
    assert(v("a", 4L) == Seq("base-a4"))
    assert(v("b", 5L).isEmpty)
    assert(v("b", 6L).isEmpty)
    assert(v("b", 7L) == Seq("base-b7"))
    assert(v("c", 1L) == Seq("new-part"))
    assert(v("a", 40L).isEmpty && v("c", 0L).isEmpty && v("zz", 1L).isEmpty)
    local.foreach { case (k, rows) =>
      val dist = t.lookup(k).collect().toSeq
      assert(rows.map(_.toString) == dist.map(_.toString),
        s"$k: local $rows vs distributed $dist")
    }
  }

  test("mixed bucket: only the file over the limit is probed, small files " +
    "decode once, only winners from the big file are fetched") {
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def df(rows: Seq[(Long, String)]) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2)).asJava, sch).coalesce(1)
    val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "lookup.cache-max-file-rows" -> "100"))
    t.write(df((0L until 1000L by 2).map(k => (k, s"bulk$k"))))     // 500 rows
    t.write(df((0L until 40L by 2).map(k => (k, s"up$k"))))         // 20 rows
    t.delete(org.apache.spark.sql.functions.col("k") === 100L)
    val rows = t.sm.liveEntries(t.sm.latestSnapshot().get).map(_.file.rowCount)
    val small = rows.count(_ <= 100)
    assert(rows.count(_ > 100) == 1 && small >= 2, rows)
    val keys = Seq(
      0L -> Some("up0"), 38L -> Some("up38"), // a small file wins: no fetch
      40L -> Some("bulk40"), 998L -> Some("bulk998"), 512L -> Some("bulk512"),
      100L -> None,  // the -D in a small file wins
      501L -> None)  // never written, inside the big file's key range
    val (got, jobs) = SparkJobs.during(spark) {
      val probes0 = t.lookupProbeScans.get
      val fetches0 = t.lookupRowFetches.get
      val r = keys.map { case (k, _) => t.localLookup(Map("k" -> k)).map(_.getString(1)) }
      assert(t.lookupProbeScans.get - probes0 == keys.size,
        "one probe of the big file per lookup")
      assert(t.lookupRowFetches.get - fetches0 == 3,
        "fetches only for the three keys the big file wins")
      // outside the big file's key range: stats pruning skips its probe
      assert(t.localLookup(Map("k" -> 5000L)).isEmpty)
      assert(t.lookupProbeScans.get - probes0 == keys.size)
      r
    }
    assert(jobs == 0, s"localLookup ran $jobs Spark job(s)")
    assert(got == keys.map(_._2.toSeq))
    // each small file was decoded once, then answered from its map
    assert(t.lookupCacheMisses.get == small)
    assert(t.lookupCacheHits.get == small.toLong * (keys.size + 1) - small)
    keys.foreach { case (k, _) =>
      assert(t.localLookup(Map("k" -> k)).map(_.toString) ==
        t.lookup(Map("k" -> k)).collect().toSeq.map(_.toString), s"k=$k")
    }
  }
}
