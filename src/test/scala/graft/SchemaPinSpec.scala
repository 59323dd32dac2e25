package graft

import graft.core.{FileIO, LocalFileIO}
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Metadata IO that counts LISTs per directory and string reads per
  * file, and can run a hook once on the first call touching a path
  * (to land a concurrent change in the middle of an operation). */
final class CountingFileIO(inner: FileIO = new LocalFileIO) extends FileIO {
  private val lists = new ConcurrentHashMap[String, AtomicInteger]()
  private val reads = new ConcurrentHashMap[String, AtomicInteger]()
  @volatile private var hook: Option[(String, () => Unit)] = None

  def reset(): Unit = { lists.clear(); reads.clear() }
  /** LISTs of `<table>/schema` since the last reset. */
  def schemaLists(table: String): Int =
    Option(lists.get(s"$table/schema")).map(_.get).getOrElse(0)
  /** LISTs of `<table>/<dir>` since the last reset. */
  def dirLists(table: String, dir: String): Int =
    Option(lists.get(s"$table/$dir")).map(_.get).getOrElse(0)
  /** Reads of `<table>/snapshot/<file>` since the last reset (`LATEST`
    * is read once per resolution of the latest snapshot). */
  def snapshotReads(table: String, file: String = "LATEST"): Int =
    Option(reads.get(s"$table/snapshot/$file")).map(_.get).getOrElse(0)
  /** Reads of each `<table>/schema/schema-N.json` since the last reset. */
  def schemaReads(table: String): Map[String, Int] =
    reads.asScala.collect { case (p, n) if p.startsWith(s"$table/schema/") =>
      p -> n.get }.toMap
  def onFirst(pathContains: String)(f: => Unit): Unit =
    hook = Some((pathContains, () => f))

  private def touch(p: String): Unit = hook match {
    case Some((s, f)) if p.contains(s) => hook = None; f()
    case _ => ()
  }
  private def bump(m: ConcurrentHashMap[String, AtomicInteger], p: String): Unit =
    m.computeIfAbsent(p.stripSuffix("/"), _ => new AtomicInteger()).incrementAndGet()

  override def list(dir: String): Seq[String] = {
    bump(lists, dir); touch(dir); inner.list(dir)
  }
  override def readString(path: String): String = {
    bump(reads, path); touch(path); inner.readString(path)
  }
  override def readBytes(path: String): Array[Byte] = { touch(path); inner.readBytes(path) }
  override def writeString(path: String, content: String): Unit = {
    touch(path); inner.writeString(path, content)
  }
  override def writeBytes(path: String, content: Array[Byte]): Unit = {
    touch(path); inner.writeBytes(path, content)
  }
  override def tryCreateAtomic(path: String, content: String): Boolean = {
    touch(path); inner.tryCreateAtomic(path, content)
  }
  override def exists(path: String): Boolean = inner.exists(path)
  override def mkdirs(path: String): Unit = inner.mkdirs(path)
  override def delete(path: String): Unit = inner.delete(path)
  override def rename(src: String, dst: String): Unit = inner.rename(src, dst)
  override def size(path: String): Long = inner.size(path)
}

object CountingCatalog { val io = new CountingFileIO }

/** A file-system catalog whose tables do their metadata IO through
  * [[CountingCatalog.io]]. */
class CountingCatalog extends graft.sources.GraftCatalog {
  override protected def fileIO: FileIO = CountingCatalog.io
}

/** Each operation resolves the table's schema once: at most one LIST
  * of `<table>/schema` per read, write, lookup or CDC apply (two for a
  * SQL query: catalog load plus the table handle), each schema file
  * parsed at most once per table handle, and a schema change landing
  * mid-write does not leak into that write. Each read resolves its
  * snapshot once too: one read of `snapshot/LATEST` (none under
  * `VERSION AS OF`), and a commit landing mid-read does not leak into
  * that read. */
class SchemaPinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("n", LongType, nullable = true),
    StructField("_op", StringType, nullable = true)))

  private def rows(ids: Seq[Long], tag: String, op: String = "+I"): DataFrame =
    spark.createDataFrame(ids.map(i => Row(i, s"$tag$i", i * 2, op)).asJava, sch)

  private def lookupTable(dir: String, extra: Map[String, String] = Map.empty): Unit =
    GraftTable.create(spark, dir, sch, primaryKeys = Seq("k"),
      options = Map("changelog-producer" -> "lookup", "bucket" -> "4") ++ extra)

  test("API scan, lookup-changelog write, applyChanges and localLookup list " +
    "the schema directory at most once each") {
    val dir = Files.createTempDirectory("graft-pin").toString + "/t"
    lookupTable(dir)
    val io = new CountingFileIO
    val t = GraftTable.load(spark, dir, io)
    t.write(rows(0L until 500L, "a"))
    t.write(rows(0L until 500L by 3, "b"))
    def lists(f: => Any): Int = { io.reset(); f; io.schemaLists(dir) }
    val counts = Map(
      "scan" -> lists(t.scan(col("k").between(10, 40)).collect()),
      "write" -> lists(t.write(rows(250L until 750L, "c"))),
      "applyChanges" -> lists(t.applyChanges(rows(0L until 200L by 7, "d", "+U"), "_op")),
      "localLookup" -> lists(t.localLookup(Map("k" -> 14L))))
    info(s"schema LISTs per operation: $counts")
    counts.foreach { case (op, n) => assert(n <= 1, s"$op listed the schema dir $n times") }
    // every operation above runs on one handle: each schema file parses once
    io.reset()
    t.scan(col("k") === 3L).collect()
    t.write(rows(Seq(1L, 2L), "e"))
    t.localLookup(Map("k" -> 2L))
    assert(io.schemaReads(dir).values.forall(_ <= 1), io.schemaReads(dir))
  }

  test("a SQL range query lists the schema directory at most twice: catalog " +
    "load plus plan") {
    val wh = Files.createTempDirectory("graft-pin-wh").toString
    spark.conf.set("spark.sql.catalog.pincat", classOf[CountingCatalog].getName)
    spark.conf.set("spark.sql.catalog.pincat.warehouse", wh)
    val dir = s"$wh/db/t"
    lookupTable(dir)
    val t = GraftTable.load(spark, dir)
    (0 until 3).foreach(i => t.write(rows((0L until 300L).filter(_ % 3 == i), s"w$i")))
    val io = CountingCatalog.io
    io.reset()
    val got = spark.sql("SELECT k, v FROM pincat.db.t WHERE k BETWEEN 10 AND 40")
      .collect().map(_.getLong(0)).sorted.toSeq
    val n = io.schemaLists(dir)
    info(s"schema LISTs for a SQL range query: $n")
    assert(got == (10L to 40L))
    assert(n <= 2, s"SQL range query listed the schema dir $n times")
  }

  test("an ADD COLUMN landing mid-write leaves the write on the schema id it " +
    "started with: data files, snapshot and changelog") {
    // the deletion-vector table takes the distributed changelog diff,
    // the plain one the per-bucket diff
    Seq(Map.empty[String, String], Map("deletion-vectors.enabled" -> "true")).foreach { opts =>
      val dir = Files.createTempDirectory("graft-pin-alter").toString + "/t"
      lookupTable(dir, opts)
      val io = new CountingFileIO
      val t = GraftTable.load(spark, dir, io)
      t.write(rows(0L until 100L, "a"))
      val id0 = t.schema.id
      // the write reads the live manifests before it builds its
      // changelog; the change lands right then, from another handle
      io.onFirst("/manifest/") {
        GraftTable.load(spark, dir).addColumn("extra", StringType)
      }
      val snapId = t.write(rows(50L until 150L, "b"))
      assert(t.schema.id == id0 + 1, "the concurrent ADD COLUMN landed")
      val snap = t.sm.snapshot(snapId)
      assert(snap.schemaId == id0, opts)
      val added = t.sm.readManifest(snap.deltaManifest.get).filter(_.kind == "ADD")
      assert(added.nonEmpty && added.forall(_.file.schemaId == id0), opts)
      val changelog = t.sm.readManifest(snap.changelogManifest.get)
      assert(changelog.nonEmpty && changelog.forall(_.file.schemaId == id0), opts)
      val clCols = spark.read.parquet(changelog.map(e => s"$dir/${e.file.fileName}"): _*)
        .columns.toSet
      assert(!clCols.contains("extra"), s"$opts: changelog columns $clCols")
      // the next write runs on the new schema
      val next = t.write(rows(Seq(7L), "c"))
      assert(t.sm.snapshot(next).schemaId == id0 + 1)
    }
  }

  test("schema versions are write-once: two handles changing the table from " +
    "the same version cannot both win") {
    val dir = Files.createTempDirectory("graft-pin-once").toString + "/t"
    lookupTable(dir)
    val a = GraftTable.load(spark, dir)
    val b = GraftTable.load(spark, dir)
    val io = new CountingFileIO
    val c = GraftTable.load(spark, dir, io)
    // `c` resolves version 0, then `a` writes version 1 before `c` writes
    io.onFirst("/schema/schema-1.json") { a.setOption("k.one", "1") }
    val err = intercept[IllegalStateException](c.setOption("k.two", "2"))
    assert(err.getMessage.contains("schema-1"), err.getMessage)
    val opts = b.schema.options
    assert(opts.get("k.one").contains("1") && !opts.contains("k.two"), opts)
    assert(b.schema.id == 1L)
  }

  private val rtSch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def rtRows(ids: Seq[Long], tag: String): DataFrame =
    spark.createDataFrame(ids.map(i => Row(i, s"$tag$i")).asJava, rtSch).coalesce(1)

  /** A row-tracking append table of three one-file writes. */
  private def rowTrackingTable(dir: String): Unit = {
    GraftTable.create(spark, dir, rtSch, options = Map(GraftTable.RowTrackingEnabled -> "true"))
    val t = GraftTable.load(spark, dir)
    (0 until 3).foreach(i => t.write(rtRows(i * 100L until (i + 1) * 100L, s"w$i")))
  }

  /** A fresh warehouse behind a [[CountingCatalog]] named `name` (a
    * catalog binds its warehouse when first used). */
  private def countingCatalog(name: String): String = {
    val wh = Files.createTempDirectory("graft-pin-wh").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[CountingCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("each read resolves the latest snapshot once: SQL ranges, aggregate " +
    "pushdown, countRows, API scan and read") {
    val wh = countingCatalog("latestcat")
    val pk = s"$wh/db/pk"
    lookupTable(pk)
    val pt = GraftTable.load(spark, pk)
    (0 until 3).foreach(i => pt.write(rows(i * 100L until (i + 1) * 100L, s"w$i")))
    val ap = s"$wh/db/ap"
    rowTrackingTable(ap)
    val io = CountingCatalog.io
    def latest(table: String)(f: => Any): Int = {
      io.reset(); f; io.snapshotReads(table)
    }
    val pkApi = GraftTable.load(spark, pk, io)
    val apApi = GraftTable.load(spark, ap, io)
    val counts = Seq(
      "SQL range, PK" -> latest(pk)(spark.sql(
        "SELECT k, v FROM latestcat.db.pk WHERE k BETWEEN 10 AND 40").collect()),
      "SQL range, append" -> latest(ap)(spark.sql(
        "SELECT k, v FROM latestcat.db.ap WHERE k BETWEEN 10 AND 40").collect()),
      "SQL count/min/max, append" -> latest(ap)(spark.sql(
        "SELECT count(*), min(k), max(k) FROM latestcat.db.ap").collect()),
      "SQL count, PK" -> latest(pk)(spark.sql("SELECT count(*) FROM latestcat.db.pk").collect()),
      "countRows, PK" -> latest(pk)(pkApi.countRows()),
      "countRows, append" -> latest(ap)(apApi.countRows()),
      "scan, PK" -> latest(pk)(pkApi.scan(col("k").between(10, 40)).collect()),
      "read, PK" -> latest(pk)(pkApi.read.collect()),
      "scan, append" -> latest(ap)(apApi.scan(col("k").between(10, 40)).collect()),
      "read, append" -> latest(ap)(apApi.read.collect()))
    info(s"snapshot/LATEST reads per operation: $counts")
    counts.foreach { case (op, n) => assert(n == 1, s"$op read snapshot/LATEST $n times") }
    // the pushed-down answers still hold
    val agg = spark.sql("SELECT count(*), min(k), max(k) FROM latestcat.db.ap").head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((300L, 0L, 299L)))
    assert(spark.sql("SELECT count(*) FROM latestcat.db.pk").head().getLong(0) == 300L)
    // a commit re-resolves the latest snapshot on purpose (CAS retries)
    val writes = Seq(
      "write, PK" -> latest(pk)(pkApi.write(rows(0L until 50L, "x"))),
      "applyChanges, PK" -> latest(pk)(
        pkApi.applyChanges(rows(0L until 50L by 5, "y", "+U"), "_op")))
    info(s"snapshot/LATEST reads per write: $writes")
    writes.foreach { case (op, n) => assert(n <= 3, s"$op read snapshot/LATEST $n times") }
  }

  test("a PK VERSION AS OF range plans once against its own snapshot and " +
    "opens only the files planEntries kept") {
    val wh = countingCatalog("versioncat")
    val dir = s"$wh/db/t"
    lookupTable(dir)
    val t = GraftTable.load(spark, dir)
    (0 until 3).foreach(i => t.write(rows(i * 100L until (i + 1) * 100L, s"w$i")))
    val v = t.sm.snapshotIds(1)
    val sch = t.schema
    val pinned = t.sm.snapshot(v)
    val cond = col("k").between(10, 40)
    val kept = t.planEntries(cond, sch, Some(pinned), pinned = true).map(_.file.fileName).toSet
    val live = t.sm.liveEntries(pinned).map(_.file.fileName).toSet
    assert(kept.nonEmpty && kept.size < live.size, s"kept $kept of $live")
    // the files the plan pruned are gone: a read that opened any of
    // them would fail
    (live -- kept).foreach(f => Files.delete(java.nio.file.Paths.get(s"$dir/$f")))
    val io = CountingCatalog.io
    io.reset()
    val got = spark.sql(s"SELECT k, v FROM versioncat.db.t VERSION AS OF $v " +
      "WHERE k BETWEEN 10 AND 40").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (10L to 40L))
    assert(io.snapshotReads(dir) == 0, "VERSION AS OF read snapshot/LATEST")
    assert(io.snapshotReads(dir, s"snapshot-$v.json") == 1,
      s"snapshot-$v.json read ${io.snapshotReads(dir, s"snapshot-$v.json")} times")
  }

  test("a write and a column patch landing mid-read do not tear scan or read: " +
    "the files and the patches come from one snapshot") {
    Seq[(String, GraftTable => DataFrame)](
      "scan" -> (_.scan(col("k") < 250L)),
      "read" -> (_.read)).foreach { case (op, readOf) =>
      val dir = Files.createTempDirectory("graft-pin-torn").toString + "/t"
      rowTrackingTable(dir)
      def state(df: DataFrame): Set[(Long, String)] =
        df.filter(col("k") < 250L).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val before = state(GraftTable.load(spark, dir).read)
      val io = new CountingFileIO
      val t = GraftTable.load(spark, dir, io)
      // the read opens its first manifest; a second handle then commits
      // a write (inside the filter) and a patch of `v` over every row
      io.onFirst("/manifest/") {
        val other = GraftTable.load(spark, dir)
        other.write(rtRows(-10L until 0L, "late"))
        other.patchColumn("v", other.readWithRowIds()
          .select(col(GraftTable.RowIdCol), org.apache.spark.sql.functions.lit("patched").as("v")))
      }
      val got = state(readOf(t))
      val after = state(GraftTable.load(spark, dir).read)
      assert(after != before && after.forall(_._2 == "patched"), s"$op: the commits landed")
      if (got != before && got != after)
        fail(s"$op mixed snapshots: ${got.count(_._2 == "patched")} patched of ${got.size} rows")
    }
  }

  test("a VERSION AS OF scan reports the size and rows of its own snapshot") {
    val dir = Files.createTempDirectory("graft-pin-stats").toString + "/t"
    lookupTable(dir)
    val t = GraftTable.load(spark, dir)
    t.write(rows(0L until 100L, "a"))
    val v1 = t.sm.latestSnapshotId.get
    t.write(rows(100L until 400L, "b"))
    def stats(snapshot: Option[Long]) =
      graft.sources.GraftSparkTable(t, snapshot)
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    val pinned = stats(Some(v1))
    val current = stats(None)
    assert(pinned.numRows().getAsLong == 100L)
    assert(current.numRows().getAsLong == 400L)
    assert(pinned.sizeInBytes().getAsLong < current.sizeInBytes().getAsLong)
  }

  test("a Trigger.AvailableNow stream reads the schema once per Spark callback, " +
    "not once per option") {
    val wh = countingCatalog("streamcat")
    val dir = s"$wh/db/t"
    GraftTable.create(spark, dir, rtSch)
    val t = GraftTable.load(spark, dir)
    (0 until 3).foreach(i => t.write(rtRows(i * 100L until (i + 1) * 100L, s"w$i")))
    val io = CountingCatalog.io
    io.reset()
    val got = new java.util.concurrent.atomic.AtomicLong
    val batches = new java.util.concurrent.atomic.AtomicInteger
    // one file per trigger: three batches, each planned and committed
    val q = spark.readStream
      .option("scan.max-files-per-trigger", "1")
      .option("consumer-id", "pin")
      .table("streamcat.db.t")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-pin-ck").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.incrementAndGet(); got.addAndGet(df.count()): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    val n = io.schemaLists(dir)
    info(s"schema LISTs over a ${batches.get}-batch AvailableNow read: $n")
    assert(got.get == 300L && batches.get == 3)
    // 22-23: catalog load 2, stream set-up 4, then one per call of
    // latestOffset and planInputPartitions (Spark plans each batch 4
    // times); 36 when every option read listed the schema dir
    assert(n <= 28, s"the stream listed the schema dir $n times")
    // per callback, on a stream built directly: at most one LIST each
    val stream = graft.sources.GraftSparkTable(GraftTable.load(spark, dir, io))
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("consumer-id" -> "pin2").asJava))
      .build().toMicroBatchStream(Files.createTempDirectory("graft-pin-ck").toString)
    val admission = stream.asInstanceOf[
      org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]
    val start = stream.initialOffset()
    var end: org.apache.spark.sql.connector.read.streaming.Offset = null
    def lists(f: => Any): Int = { io.reset(); f; io.schemaLists(dir) }
    val perCall = Seq(
      "latestOffset" -> lists {
        end = admission.latestOffset(start,
          org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles(1))
      },
      "planInputPartitions" -> lists(stream.planInputPartitions(start, end)),
      "commit" -> lists(stream.commit(end)))
    info(s"schema LISTs per stream callback: $perCall")
    perCall.foreach { case (c, k) => assert(k <= 1, s"$c listed the schema dir $k times") }
  }

  test("a processChangelog drain lists the snapshot directory once and reads " +
    "each new snapshot once") {
    val dir = Files.createTempDirectory("graft-pin").toString + "/t"
    lookupTable(dir)
    val io = new CountingFileIO
    val t = GraftTable.load(spark, dir, io)
    t.write(rows(0L until 100L, "a"))
    val ck = Files.createTempDirectory("graft-pin-ck").toString + "/offset"
    graft.streaming.GraftStreaming.processChangelog(t, ck, (df, _) => df.collect(): Unit)
    (1 to 3).foreach(i => t.write(rows(i * 30L until i * 30L + 50L, s"w$i")))
    io.reset()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    graft.streaming.GraftStreaming.processChangelog(t, ck, (df, id) => {
      df.collect(); seen += id; ()
    })
    assert(seen == Seq(1L, 2L, 3L))
    val snapshotLists = io.dirLists(dir, "snapshot")
    val schemaLists = io.schemaLists(dir)
    val reads = (1 to 3).map(i => io.snapshotReads(dir, s"snapshot-$i.json"))
    info(s"drain over 3 snapshots: snapshot/ LISTs $snapshotLists, schema/ LISTs " +
      s"$schemaLists, snapshot-N.json reads $reads")
    assert(snapshotLists == 1, s"the drain listed snapshot/ $snapshotLists times")
    assert(schemaLists <= 1, s"the drain listed schema/ $schemaLists times")
    assert(reads.forall(_ == 1), s"snapshot-N.json reads: $reads")
  }

  test("a micro-batch is planned once: Spark's repeated planInputPartitions calls " +
    "read each snapshot file of the batch once") {
    val dir = Files.createTempDirectory("graft-pin").toString + "/t"
    GraftTable.create(spark, dir, rtSch)
    val t = GraftTable.load(spark, dir)
    (0 until 3).foreach(i => t.write(rtRows(i * 100L until (i + 1) * 100L, s"w$i")))
    val io = new CountingFileIO
    val stream = graft.sources.GraftSparkTable(GraftTable.load(spark, dir, io))
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream(Files.createTempDirectory("graft-pin-ck").toString)
    // Spark plans each batch 4 times; two batches: (-1, 0] and (0, 2]
    Seq(-1L -> 0L, 0L -> 2L).foreach { case (s, e) =>
      io.reset()
      val plans = (1 to 4).map(_ => stream.planInputPartitions(
        graft.sources.GraftOffset(s), graft.sources.GraftOffset(e)))
      assert(plans.map(_.length).distinct.size == 1)
      val reads = (0 to 2).map(i => io.snapshotReads(dir, s"snapshot-$i.json"))
      info(s"snapshot-N.json reads planning ($s, $e] 4 times: $reads")
      assert(reads == (0 to 2).map(i => if (i > s && i <= e) 1 else 0),
        s"planning ($s, $e] read the snapshot files $reads times")
    }
  }
}
