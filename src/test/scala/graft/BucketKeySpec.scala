package graft

import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `bucket-key` distribution (reference: CoreOptions.BUCKET_KEY +
  * SchemaValidation "Primary key constraint should include all bucket
  * keys"): explicit bucket columns for PK tables (subset of the key)
  * and bucketed-append tables (keyless). Every consumer of the bucket
  * hash — writer routing, equality pruning, point lookup, shard
  * routing — must agree on the bucket-key columns. */
class BucketKeySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-bk").toString + "/t"

  private val sch = StructType(Seq(
    StructField("region", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("v", DoubleType, nullable = true)))

  private def df(rows: (String, Long, Double)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, sch)

  test("create-time validation: unknown column, not-in-pk, non-fixed buckets") {
    assertThrows[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), sch, options = Map("bucket-key" -> "nope"))
    }
    assertThrows[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), sch,
        primaryKeys = Seq("id"), options = Map("bucket-key" -> "region"))
    }
    assertThrows[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), sch,
        primaryKeys = Seq("region", "id"),
        options = Map("bucket-key" -> "region", "bucket" -> "-1"))
    }
  }

  test("PK table with bucket-key ⊂ pk: co-located writes, subset-equality " +
    "pruning, merged reads and point lookups stay exact") {
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("region", "id"),
      options = Map("bucket-key" -> "region", "bucket" -> "4"))
    val regions = Seq("ap", "eu", "na", "sa", "af")
    t.write(df(regions.flatMap(r => (0L until 20L).map(i => (r, i, 1.0))): _*))
    t.write(df(regions.map(r => (r, 3L, 9.9)): _*)) // upsert one key per region
    // every row of one region lands in exactly ONE bucket
    val entries = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    regions.foreach { r =>
      val buckets = t.readRaw(entries)
        .filter(col("region") === r).select("__bucket")
        .distinct().collect().map(_.getInt(0)).toSet
      assert(buckets.size == 1, s"region $r spread over $buckets")
      // the driver-side hash agrees with what the writer laid down
      assert(t.pkBucketFor(Map("region" -> r, "id" -> 0L)).contains(buckets.head))
    }
    // merged read is exact (merge keys remain the full pk)
    assert(t.read.count() == 100L)
    assert(t.read.filter(col("id") === 3L && col("region") === "eu")
      .head.getDouble(2) == 9.9)
    // equality on the BUCKET KEY ALONE prunes to one bucket's files —
    // the full-pk requirement would have read everything
    val all = t.scan(lit(true)).inputFiles.length
    val one = t.scan(col("region") === "eu").inputFiles.length
    assert(one < all, s"no bucket pruning: $one vs $all files")
    assert(t.scan(col("region") === "eu").count() == 20L)
    // point lookup through the bucket-key hash
    assert(t.localLookup(Map("region" -> "eu", "id" -> 3L))
      .map(_.getDouble(2)) == Seq(9.9))
  }

  test("bucketed-append table: routed writes, bucket pruning, reads exact, " +
    "SPJ join between identically-bucketed tables runs without a shuffle") {
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("bucket-key" -> "id", "bucket" -> "4"))
    t.write(df((0L until 40L).map(i => (s"r${i % 3}", i, i * 1.0)): _*))
    t.write(df((40L until 60L).map(i => (s"r${i % 3}", i, i * 1.0)): _*))
    val entries = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(entries.map(_.bucket).distinct.sorted == Seq(0, 1, 2, 3),
      s"buckets: ${entries.map(_.bucket).distinct.sorted}")
    // reads return exactly the input (no __bucket leakage, no loss)
    assert(t.read.columns.toSeq == sch.fieldNames.toSeq)
    assert(t.read.count() == 60L)
    assert(t.read.select(sum(col("v"))).head.getDouble(0) == (0 until 60).sum.toDouble)
    // equality on the bucket key opens one bucket's files
    val all = t.scan(lit(true)).inputFiles.length
    val one = t.scan(col("id") === 7L).inputFiles.length
    assert(one < all, s"no bucket pruning: $one vs $all")
    assert(t.scan(col("id") === 7L).collect().map(_.getLong(1)).toSeq == Seq(7L))
    // storage-partitioned join: two identically-bucketed append tables
    // joined on the bucket key — no ShuffleExchange on either side
    val wh = Files.createTempDirectory("graft-bk-wh").toString
    spark.conf.set("spark.sql.catalog.graft_bk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bk.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bk.db")
    Seq("a", "b").foreach { n =>
      spark.sql(s"""CREATE TABLE graft_bk.db.$n (id BIGINT, v DOUBLE)
                   |TBLPROPERTIES ('bucket-key'='id', 'bucket'='4')""".stripMargin)
      spark.sql(s"INSERT INTO graft_bk.db.$n " +
        "SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    }
    val joined = spark.sql(
      """SELECT a.id, a.v + b.v AS s FROM graft_bk.db.a a
        |JOIN graft_bk.db.b b ON a.id = b.id""".stripMargin)
    assert(joined.count() == 100L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed append join still shuffles:\n$plan")
    // SQL row-level ops (ReplaceData staging) must re-route rewritten
    // rows too — a pruned point read after UPDATE/DELETE stays exact
    spark.sql("UPDATE graft_bk.db.a SET v = 123.5 WHERE id = 5")
    assert(spark.sql("SELECT v FROM graft_bk.db.a WHERE id = 5")
      .head.getDouble(0) == 123.5)
    spark.sql("DELETE FROM graft_bk.db.a WHERE id = 6")
    assert(spark.sql("SELECT count(*) FROM graft_bk.db.a WHERE id = 6")
      .head.getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM graft_bk.db.a").head.getLong(0) == 99L)
    val ta = graft.table.GraftTable.load(spark, s"$wh/db/a")
    assert(ta.scan(col("id") === 5L).collect().map(_.getDouble(1)).toSeq ==
      Seq(123.5), "library-pruned read agrees after SQL rewrite")
  }

  test("bucket narrowing never prunes files written under an OLDER bucket " +
    "layout: an interrupted rescale keeps point reads exact") {
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("region", "id"), options = Map("bucket" -> "2"))
    t.write(df((0L until 20L).map(i => (s"r${i % 3}", i, i * 1.0)): _*))
    // simulate a rescale whose compact never landed: new schema says 8
    // buckets, every live file was hashed under 2
    val sch0 = t.schema
    t.sm.writeSchema(sch0.copy(id = sch0.id + 1,
      options = sch0.options.updated("bucket", "8")))
    val t2 = GraftTable.load(spark, t.path)
    (0L until 20L).foreach { i =>
      val got = t2.scan(col("region") === s"r${i % 3}" && col("id") === i)
        .collect().map(_.getDouble(2)).toSeq
      assert(got == Seq(i * 1.0), s"id $i lost under stale-layout narrowing")
    }
    // point lookups agree
    assert(t2.localLookup(Map("region" -> "r1", "id" -> 1L))
      .map(_.getDouble(2)) == Seq(1.0))
    // after the compact lands, files carry the new layout and
    // narrowing engages again
    t2.compact()
    val all = t2.scan(org.apache.spark.sql.functions.lit(true)).inputFiles.length
    val one = t2.scan(col("region") === "r1" && col("id") === 1L).inputFiles.length
    assert(one < all, s"narrowing dead after compact: $one vs $all")
    assert(t2.read.count() == 20L)
  }

  test("bucketed-append DML re-routes rewritten rows to their buckets — " +
    "pruned point reads still find updated rows after COW, DV and sort-compact") {
    // COW rewrite path (no DVs)
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("bucket-key" -> "id", "bucket" -> "4"))
    t.write(df((0L until 40L).map(i => (s"r${i % 3}", i, i * 1.0)): _*))
    t.update(Map("v" -> lit(777.0)), col("id") === 7L)
    t.delete(col("id") === 8L)
    val hit = t.scan(col("id") === 7L)
    assert(hit.inputFiles.length < t.scan(lit(true)).inputFiles.length,
      "pruning must still engage after the rewrite")
    assert(hit.collect().map(_.getDouble(2)).toSeq == Seq(777.0),
      "rewritten row must live in its hash bucket, not bucket 0")
    assert(t.scan(col("id") === 8L).count() == 0)
    assert(t.read.count() == 39L)
    // DV path: updated rows appended as NEW files must route too
    val d = GraftTable.create(spark, tmp(), sch,
      options = Map("bucket-key" -> "id", "bucket" -> "4",
        "deletion-vectors.enabled" -> "true"))
    d.write(df((0L until 40L).map(i => (s"r${i % 3}", i, i * 1.0)): _*))
    d.update(Map("v" -> lit(888.0)), col("id") === 9L)
    assert(d.scan(col("id") === 9L).collect().map(_.getDouble(2)).toSeq == Seq(888.0))
    assert(d.read.count() == 40L)
    // sort-compact keeps the routing (clusters within buckets)
    assert(t.sortCompact("order", Seq("region")).isDefined)
    val entries = t.sm.latestSnapshot().map(t.sm.liveEntries).get
    assert(entries.map(_.bucket).distinct.forall(_ >= 0))
    assert(entries.map(_.bucket).distinct.size > 1, "buckets survived compact")
    assert(t.scan(col("id") === 7L).collect().map(_.getDouble(2)).toSeq == Seq(777.0))
    assert(t.scan(col("id") === 7L).inputFiles.length <
      t.scan(lit(true)).inputFiles.length)
  }

  private val longKeyed = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def longKeyTable(): GraftTable = {
    val t = GraftTable.create(spark, tmp(), longKeyed,
      primaryKeys = Seq("k"), options = Map("bucket" -> "4"))
    t.write(spark.createDataFrame(
      (0L until 40L).map(i => Row(i, s"v$i")).asJava, longKeyed))
    t
  }

  test("key values of another type than the declared key type: INT keys of " +
    "a BIGINT table find their rows, MERGE INTO deletes, uncastable values throw") {
    val t = longKeyTable()
    (0 until 40).foreach { i =>
      val asInt = Map[String, Any]("k" -> i)
      val asLong = Map[String, Any]("k" -> i.toLong)
      assert(t.pkBucketFor(asInt) == t.pkBucketFor(asLong), s"pkBucketFor($i)")
      assert(t.lookup(asInt).collect().map(_.toString).toSeq ==
        t.lookup(asLong).collect().map(_.toString).toSeq, s"lookup($i)")
      assert(t.localLookup(asInt).map(_.toString) ==
        t.localLookup(asLong).map(_.toString), s"localLookup($i)")
      assert(t.localLookup(asInt).map(_.getString(1)) == Seq(s"v$i"))
    }
    // a value with no exact BIGINT form is an error naming the key and
    // its type, never a silent miss
    Seq[Any]("abc", 5.5).foreach { bad =>
      val m = Map[String, Any]("k" -> bad)
      Seq[() => Any](() => t.lookup(m), () => t.localLookup(m), () => t.pkBucketFor(m))
        .foreach { call =>
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("k") && e.getMessage.contains("BIGINT"),
            e.getMessage)
        }
    }
    // an INT-typed MERGE INTO source matches its BIGINT target row
    val intKeyed = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("v", StringType, nullable = true)))
    t.mergeInto(spark.createDataFrame(Seq(Row(5, "x")).asJava, intKeyed),
      whenMatchedDelete = Some(lit(true)))
    assert(t.read.filter(col("k") === 5L).count() == 0L, "the delete became an insert")
    assert(t.read.count() == 39L)
    assert(t.localLookup(Map("k" -> 5)).isEmpty)
  }

  test("MERGE INTO keeps target files of an OLDER bucket layout: matched " +
    "deletes mid-rescale still delete") {
    val t = GraftTable.create(spark, tmp(), longKeyed,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.write(spark.createDataFrame(
      (0L until 20L).map(i => Row(i, s"v$i")).asJava, longKeyed))
    // a rescale whose compact never landed: the schema says 8 buckets,
    // every live file was hashed under 2
    val sch0 = t.schema
    t.sm.writeSchema(sch0.copy(id = sch0.id + 1,
      options = sch0.options.updated("bucket", "8")))
    val t2 = GraftTable.load(spark, t.path)
    t2.mergeInto(spark.createDataFrame(
      (0L until 20L by 2).map(i => Row(i, "x")).asJava, longKeyed),
      whenMatchedDelete = Some(lit(true)))
    assert(t2.read.filter(col("v") === "x").count() == 0L, "a delete became an insert")
    assert(t2.read.count() == 10L)
  }

  test("lookup() finds the key's bucket on the driver: no Spark job before " +
    "its action") {
    val t = longKeyTable()
    val (df, jobs) = SparkJobs.during(spark)(t.lookup(Map("k" -> 7L)))
    assert(jobs == 0, s"lookup ran $jobs Spark job(s) before its action")
    assert(df.collect().map(_.getString(1)).toSeq == Seq("v7"))
  }

  test("one bucket function: the writer's manifest bucket, TableFunctions.bucket, " +
    "SQL sys.bucket and pkBucketFor agree for every hashable key type") {
    import graft.sources.GraftFunctions.BucketFunction
    spark.conf.set("spark.sql.catalog.graft_bkf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bkf.warehouse",
      Files.createTempDirectory("graft-bkf-wh").toString)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ntz = (s: String) => java.time.LocalDateTime.parse(s)
    val single: Seq[(DataType, Seq[Any])] = Seq(
      BooleanType -> Seq(true, false),
      ByteType -> Seq[Byte](0, 1, -7, 42, 127, -128),
      ShortType -> Seq[Short](0, 1, -7, 420, 32767, -32768),
      IntegerType -> Seq(0, 1, -7, 42, Int.MaxValue, Int.MinValue),
      LongType -> Seq(0L, 1L, -7L, 42L, Long.MaxValue, 1L << 40),
      FloatType -> Seq(0.0f, 1.5f, -7.25f, 1e20f, Float.MinPositiveValue),
      DoubleType -> Seq(0.0, 1.5, -7.25, 1e300, Double.MinPositiveValue),
      DecimalType(10, 2) -> Seq("0", "1.50", "-7.25", "12345678.99").map(new java.math.BigDecimal(_)),
      DecimalType(24, 4) -> Seq("0", "1.5", "-7.25", "12345678901234567890.1234").map(new java.math.BigDecimal(_)),
      DateType -> Seq("1970-01-01", "1999-12-31", "2024-02-29", "1900-01-01").map(java.sql.Date.valueOf),
      TimestampType -> Seq("1970-01-01 00:00:00", "2024-02-29 12:34:56.789").map(ts),
      TimestampNTZType -> Seq("1970-01-01T00:00:00", "2024-02-29T12:34:56.789").map(ntz),
      StringType -> Seq("", "a", "alpha", "ünïcode", "x" * 100),
      BinaryType -> Seq(Array[Byte](), Array[Byte](1), Array[Byte](1, 2, 3), "xyz".getBytes))
    assert(single.map(_._1).forall(BucketFunction.hashable))
    case class Case(name: String, sch: StructType, pk: Seq[String],
        bucketKey: Option[String], rows: Seq[Row])
    val cases = single.map { case (dt, vs) =>
      Case(dt.sql, StructType(Seq(StructField("k", dt, nullable = false),
        StructField("v", IntegerType, nullable = true))), Seq("k"), None,
        vs.zipWithIndex.map { case (v, i) => Row(v, i) })
    } ++ Seq(
      Case("composite (STRING, BIGINT, DATE)", StructType(Seq(
        StructField("s", StringType, nullable = false),
        StructField("l", LongType, nullable = false),
        StructField("d", DateType, nullable = false),
        StructField("v", IntegerType, nullable = true))), Seq("s", "l", "d"), None,
        (0 until 12).map(i => Row(s"s${i % 3}", i.toLong * 1000003L,
          java.sql.Date.valueOf(s"2024-01-${10 + i}"), i))),
      Case("bucket-key (s) of pk (s, l)", StructType(Seq(
        StructField("s", StringType, nullable = false),
        StructField("l", LongType, nullable = false),
        StructField("v", IntegerType, nullable = true))), Seq("s", "l"), Some("s"),
        (0 until 12).map(i => Row(s"region-$i", i.toLong, i))))
    cases.foreach { c =>
      val opts = Map("bucket" -> "4") ++ c.bucketKey.map("bucket-key" -> _)
      val t = GraftTable.create(spark, tmp(), c.sch, primaryKeys = c.pk, options = opts)
      val src = spark.createDataFrame(c.rows.asJava, c.sch)
      t.write(src)
      val bk = t.schema.bucketKeys
      // each row is identified by its distinct `v`; maps are v → bucket
      val written = t.sm.latestSnapshot().map(t.sm.liveEntries).get.flatMap { e =>
        t.readRaw(Seq(e)).collect().map(r => r.getInt(r.fieldIndex("v")) -> e.bucket)
      }.toMap
      val fromColumn = src.select(col("v"),
        graft.functions.TableFunctions.bucket(4, bk.map(col): _*))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      src.createOrReplaceTempView("bkf_src")
      val fromSql = spark.sql(
        s"SELECT v, graft_bkf.sys.bucket(4, ${bk.mkString(", ")}) FROM bkf_src")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val fromDriver = c.rows.map { r =>
        r.getInt(c.sch.fieldIndex("v")) ->
          t.pkBucketFor(c.pk.map(k => k -> r.get(c.sch.fieldIndex(k))).toMap).get
      }.toMap
      assert(written.size == c.rows.size, s"${c.name}: ${written.size} rows written")
      assert(fromColumn == written, s"${c.name}: TableFunctions.bucket $fromColumn vs $written")
      assert(fromSql == written, s"${c.name}: sys.bucket $fromSql vs $written")
      assert(fromDriver == written, s"${c.name}: pkBucketFor $fromDriver vs $written")
    }
  }

  test("the bucket hash is spelled out once: no xxhash64 outside Buckets in " +
    "the table, sources and functions packages") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val offenders = Seq("table", "sources", "functions").flatMap { pkg =>
      Files.walk(root.resolve(pkg)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Buckets.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("xxhash64(") ||
              line.contains("XxHash64Function") => s"$p:${i + 1}: ${line.trim}"
          }
        }.toSeq
    }
    assert(offenders.isEmpty,
      s"bucket hash copies outside graft.table.Buckets:\n${offenders.mkString("\n")}")
  }
}
