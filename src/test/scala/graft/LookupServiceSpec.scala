package graft

import graft.sources.{GraftLookupClient, GraftLookupService}
import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Networked KV lookup service (reference: paimon-service
  * KvQueryServer + RemoteTableQuery): HTTP point lookups served by
  * the driver-local zero-job read path. */
class LookupServiceSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  lazy val warehouse: String = Files.createTempDirectory("graft-kv").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val server: GraftLookupService.Handle = {
    spark // the service serves through the active session's driver
    GraftLookupService.start(warehouse, token = "kv-secret")
  }

  override def afterAll(): Unit = server.stop()

  private val sch = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private def seed(): GraftTable = {
    val path = s"$warehouse/db/users"
    if (GraftTable.exists(path)) GraftTable.load(spark, path)
    else {
      val t = GraftTable.create(spark, path, sch,
        primaryKeys = Seq("id"), options = Map("bucket" -> "4"))
      t.write(spark.createDataFrame(
        (0L until 50L).map(i => Row(i, s"user-$i", i / 10.0)).asJava, sch))
      t
    }
  }

  test("HTTP point lookup returns the merged row; misses are empty") {
    val t = seed()
    def get(id: Long) = GraftLookupClient.lookup(
      server.uri, "kv-secret", "db", "users", Map("id" -> id.toString))
    val hit = get(7L)
    assert(hit == Seq(Map("id" -> 7, "name" -> "user-7", "score" -> 0.7)), hit)
    assert(get(999L).isEmpty)
    // committed upserts are visible immediately (snapshot re-resolved
    // per lookup, handle cache notwithstanding)
    t.write(spark.createDataFrame(
      Seq(Row(7L, "renamed", 9.9)).asJava, sch))
    assert(get(7L) == Seq(Map("id" -> 7, "name" -> "renamed", "score" -> 9.9)))
    // deletes disappear
    t.delete(org.apache.spark.sql.functions.col("id") === 7L)
    assert(get(7L).isEmpty)
  }

  test("bad token, wrong keys, and traversal are rejected") {
    seed()
    intercept[SecurityException](GraftLookupClient.lookup(
      server.uri, "wrong", "db", "users", Map("id" -> "1")))
    // binding the wrong key set is a 400, not a scan
    val e = intercept[RuntimeException](GraftLookupClient.lookup(
      server.uri, "kv-secret", "db", "users", Map("name" -> "user-1")))
    assert(e.getMessage.contains("400"), e.getMessage)
    // traversal segments cannot escape the warehouse
    val e2 = intercept[RuntimeException](GraftLookupClient.lookup(
      server.uri, "kv-secret", "..", "users", Map("id" -> "1")))
    assert(e2.getMessage.contains("400") || e2.getMessage.contains("404"),
      e2.getMessage)
  }

  test("lookup map cache: each immutable file decodes once, results stay exact") {
    val t = GraftTable.create(spark, s"$warehouse/db/cachet", sch,
      primaryKeys = Seq("id"), options = Map("bucket" -> "2"))
    t.write(spark.createDataFrame(
      (0L until 20L).map(i => Row(i, s"u$i", i * 1.0)).asJava, sch))
    def get(id: Long) = t.localLookup(Map("id" -> id))
    assert(get(3L).map(_.getString(1)) == Seq("u3"))
    val misses0 = t.lookupCacheMisses.get
    assert(misses0 >= 1)
    // same bucket again: pure hash gets, no new decode
    (0 until 10).foreach(_ => assert(get(3L).nonEmpty))
    assert(t.lookupCacheMisses.get == misses0)
    assert(t.lookupCacheHits.get >= 10)
    // a new commit adds a new file: the OLD file's map is reused, only
    // the new file decodes — and the merge across files is still exact
    t.write(spark.createDataFrame(Seq(Row(3L, "u3-new", 9.0)).asJava, sch))
    assert(get(3L).map(_.getString(1)) == Seq("u3-new"))
    // deletes surface through the cache (the -D row wins the merge)
    t.delete(org.apache.spark.sql.functions.col("id") === 3L)
    assert(get(3L).isEmpty)
    // misses grew only by the files added after the first decode
    assert(t.lookupCacheMisses.get > misses0)
    assert(get(4L).map(_.getString(1)) == Seq("u4"))
  }

  test("lookup runs zero Spark jobs (driver-local fast path)") {
    seed()
    // warm once (the reader-factory build may broadcast)
    GraftLookupClient.lookup(
      server.uri, "kv-secret", "db", "users", Map("id" -> "3"))
    val (_, jobs) = SparkJobs.during(spark)((0 until 5).foreach(i => GraftLookupClient.lookup(
      server.uri, "kv-secret", "db", "users", Map("id" -> i.toString))))
    assert(jobs == 0, s"steady-state lookups scheduled $jobs Spark jobs")
  }

  test("a key value of the wrong type is a 400 naming the key, not a 500") {
    seed()
    val e = intercept[RuntimeException](GraftLookupClient.lookup(
      server.uri, "kv-secret", "db", "users", Map("id" -> "abc")))
    assert(e.getMessage.contains("(400)"), e.getMessage)
    assert(e.getMessage.contains("id"), e.getMessage)
    // a well-typed lookup on the same service still answers
    assert(GraftLookupClient.lookup(
      server.uri, "kv-secret", "db", "users", Map("id" -> "20")).size == 1)
  }

  test("bucket-sharded fleet: the router sends each key to the shard owning " +
    "its bucket, every shard serves ONLY its buckets, misroutes get 421") {
    import graft.sources.GraftLookupRouter
    val t = seed()
    val s0 = GraftLookupService.start(warehouse, "kv-secret", shard = Some((0, 2)))
    val s1 = GraftLookupService.start(warehouse, "kv-secret", shard = Some((1, 2)))
    try {
      val uris = Seq(s0.uri, s1.uri)
      val ids = (8L until 30L).toSeq // 0-7 may be deleted by earlier tests
      val expectedShard = ids.map { i =>
        i -> GraftLookupRouter.shardFor(t, Map("id" -> i.toString), 2)
      }.toMap
      // routing is the write path's bucket hash mod shards
      ids.foreach { i =>
        val b = t.pkBucketFor(Map("id" -> i)).get
        assert(expectedShard(i) == java.lang.Math.floorMod(b, 2))
      }
      assert(expectedShard.values.toSet == Set(0, 1), "both shards get traffic")
      // routed lookups all succeed and return the right row
      ids.foreach { i =>
        val rows = GraftLookupRouter.lookup(
          t, uris, "kv-secret", "db", "users", Map("id" -> i.toString))
        assert(rows.map(_("id").toString) == Seq(i.toString), s"id $i: $rows")
      }
      // each shard served exactly the keys routed to it — nothing else
      assert(s0.served == expectedShard.values.count(_ == 0).toLong)
      assert(s1.served == expectedShard.values.count(_ == 1).toLong)
      // a misrouted request is refused loudly with the owning shard
      val wrongId = ids.find(i => expectedShard(i) == 1).get
      val err = intercept[RuntimeException] {
        GraftLookupClient.lookup(
          s0.uri, "kv-secret", "db", "users", Map("id" -> wrongId.toString))
      }
      assert(err.getMessage.contains("421") && err.getMessage.contains("wrong shard"),
        err.getMessage)
      assert(s0.served == expectedShard.values.count(_ == 0).toLong,
        "a refused misroute never counts as served")
    } finally { s0.stop(); s1.stop() }
  }
}
