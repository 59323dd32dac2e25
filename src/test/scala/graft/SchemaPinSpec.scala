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
  * mid-write does not leak into that write. */
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
}
