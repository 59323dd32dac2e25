package graft

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `changelog-producer=lookup`: the changelog a commit persists equals
  * the diff of the table states before and after it
  * (`incrementalRead(prev, cur)` = `changelogBetween(prev, cur)` as
  * multisets). Deduplicate tables in fixed buckets build it inside the
  * write's per-bucket tasks; every other table keeps the distributed
  * state diff. */
class LookupChangelogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-lcl").toString + "/t"

  private val sch = StructType(Seq(
    StructField("dt", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("sub", IntegerType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("note", StringType, nullable = true),
    StructField("s", LongType, nullable = true),
    StructField("_op", StringType, nullable = true)))

  type R = (String, Long, Int, String, String, java.lang.Long, String)

  private def df(rows: Seq[R]): DataFrame = spark.createDataFrame(
    rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7)).asJava, sch)

  private def create(pk: Seq[String], options: Map[String, String],
      partitionKeys: Seq[String] = Seq.empty): GraftTable =
    GraftTable.create(spark, tmp(), sch, partitionKeys = partitionKeys, primaryKeys = pk,
      options = Map("changelog-producer" -> "lookup", "bucket" -> "2",
        "rowkind.field" -> "_op") ++ options)

  /** A seeded CDC batch: few keys (so rows collide with older versions),
    * few values (so some rewrites are identical), every row kind, and
    * sequence values with nulls. */
  private def batch(rnd: scala.util.Random): Seq[R] = Seq.fill(5 + rnd.nextInt(20)) {
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    val op = rnd.nextInt(20) match {
      case n if n < 7 => "+I"
      case n if n < 14 => "+U"
      case n if n < 18 => "-D"
      case _ => "-U"
    }
    val s: java.lang.Long = if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(6))
    (pick("a", "b"), rnd.nextInt(16).toLong, rnd.nextInt(2), pick("x", "y", "z"),
      pick("n1", "n2"), s, op)
  }

  /** The last commit's persisted changelog equals the state diff. */
  private def assertLastCommit(t: GraftTable, label: String): Unit = {
    val cur = t.sm.latestSnapshotId.get
    def bag(d: DataFrame): Map[Seq[Any], Int] =
      d.select((t.schema.toStruct.fieldNames :+ "_row_kind").map(d.col).toIndexedSeq: _*)
        .collect().toSeq
        .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
        .groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(t.incrementalRead(cur - 1, cur)) == bag(t.changelogBetween(cur - 1, cur)),
      s"$label, snapshot $cur")
  }

  /** A base load, then the fixed batches, then `n` seeded ones; each
    * commit checked. Returns the base load's snapshot id. */
  private def run(t: GraftTable, seed: Long, n: Int, fixed: Seq[Seq[R]] = Seq.empty): Long = {
    val rnd = new scala.util.Random(seed)
    // one row per key: dt is part of the key only when it partitions
    val dts = if (t.schema.partitionKeys.isEmpty) Seq("a") else Seq("a", "b")
    val base = t.write(df(for (dt <- dts; id <- 0L until 12L; sub <- 0 until 2)
      yield (dt, id, sub, "x", "n1", L(2), "+U")))
    val key = Map[String, Any]("dt" -> "a", "id" -> 1L, "sub" -> 0)
      .filter(kv => t.schema.primaryKeys.contains(kv._1))
    (fixed ++ Seq.fill(n)(batch(rnd))).zipWithIndex.foreach { case (rows, i) =>
      t.write(df(rows))
      assertLastCommit(t, s"batch $i")
      // the driver's point lookup opens the same files between commits
      t.localLookup(key)
    }
    base
  }

  private def L(v: Long): java.lang.Long = java.lang.Long.valueOf(v)

  /** One row per case the diff distinguishes, on keys (id, 0) of the base load. */
  private val edgeCases: Seq[Seq[R]] = Seq(
    Seq(("a", 1L, 0, "x", "n1", L(2), "+U"),  // value-identical rewrite
      ("a", 2L, 0, "new", "n1", L(0), "+U"),  // older sequence: loses (asc)
      ("a", 3L, 0, "new", "n1", L(9), "+U"),  // newer sequence: wins (asc)
      ("a", 4L, 0, "x", "n1", L(9), "-D"),    // -D winner
      ("a", 5L, 0, "x", "n1", L(9), "-U"),    // -U winner via rowkind.field
      ("a", 99L, 0, "x", "n1", L(9), "-D"),   // -D of an absent key
      ("a", 6L, 0, "x", "n2", L(2), "+U"),    // only the ignorable column
      ("a", 50L, 0, "fresh", "n1", null, "+I")), // new key, null sequence
    // a retraction that won stays dead against a batch row it beats
    Seq(("a", 4L, 0, "back", "n1", L(1), "+U"),
      ("a", 4L, 1, "back", "n1", L(9), "+U")))

  test("deduplicate, ascending sequence.field: edge cases and seeded batches " +
    "persist the state diff, built in the per-bucket tasks") {
    val t = create(Seq("id", "sub"), Map("sequence.field" -> "s"))
    val before = t.bucketLocalChangelogs.get
    val base = run(t, seed = 11L, n = 8, fixed = edgeCases)
    assert(t.bucketLocalChangelogs.get - before == 11, "every commit took the fast path")
    // -U is written directly before its +U
    val cur = t.sm.latestSnapshotId.get
    (base + 1 to cur).foreach { id =>
      val rows = t.incrementalRead(id - 1, id).collect()
      rows.indices.filter(i => rows(i).getAs[String]("_row_kind") == "-U").foreach { i =>
        assert(i + 1 < rows.length && rows(i + 1).getAs[String]("_row_kind") == "+U" &&
          rows(i + 1).getAs[Long]("id") == rows(i).getAs[Long]("id") &&
          rows(i + 1).getAs[Int]("sub") == rows(i).getAs[Int]("sub"), s"snapshot $id row $i")
      }
    }
    // spot checks of the two edge-case commits
    val kinds = t.incrementalRead(base, base + 1).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_row_kind"))).toSet
    assert(kinds == Set(3L -> "-U", 3L -> "+U", 4L -> "-D", 5L -> "-D",
      6L -> "-U", 6L -> "+U", 50L -> "+I"), kinds)
    assert(t.incrementalRead(base + 1, base + 2).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("sub"), r.getAs[String]("_row_kind")))
      .toSet == Set((4L, 1, "-U"), (4L, 1, "+U")))
  }

  test("descending sequence.field and row-deduplicate-ignore-fields") {
    val desc = create(Seq("id", "sub"), Map("sequence.field" -> "s",
      "sequence.field.sort-order" -> "descending"))
    val d0 = desc.bucketLocalChangelogs.get
    val dBase = run(desc, seed = 12L, n = 8, fixed = edgeCases)
    assert(desc.bucketLocalChangelogs.get - d0 == 11)
    // descending: the older (larger) sequence of id 2 loses to s=0
    assert(desc.incrementalRead(dBase, dBase + 1).collect()
      .count(r => r.getAs[Long]("id") == 2L) == 2)
    val ign = create(Seq("id", "sub"), Map(
      "changelog-producer.row-deduplicate-ignore-fields" -> "note"))
    val i0 = ign.bucketLocalChangelogs.get
    val iBase = run(ign, seed = 13L, n = 8, fixed = edgeCases)
    assert(ign.bucketLocalChangelogs.get - i0 == 11)
    // a change in `note` alone emits nothing
    assert(!ign.incrementalRead(iBase, iBase + 1).collect().exists(_.getAs[Long]("id") == 6L))
  }

  test("partitioned table: one bucket id in two partitions; composite key " +
    "with a bucket-key that is a strict subset of the primary key") {
    val part = create(Seq("dt", "id", "sub"), Map.empty, partitionKeys = Seq("dt"))
    val p0 = part.bucketLocalChangelogs.get
    run(part, seed = 14L, n = 8)
    assert(part.bucketLocalChangelogs.get - p0 == 9)
    val live = part.sm.liveEntries(part.sm.latestSnapshot().get)
    assert(live.groupBy(_.bucket).exists(_._2.map(_.partition).distinct.size == 2),
      live.map(e => (e.partition, e.bucket)))
    val subset = create(Seq("id", "sub"), Map("bucket-key" -> "id", "bucket" -> "4",
      "sequence.field" -> "s"))
    val s0 = subset.bucketLocalChangelogs.get
    run(subset, seed = 15L, n = 8, fixed = edgeCases)
    assert(subset.bucketLocalChangelogs.get - s0 == 11)
  }

  test("other merge engines, deletion vectors and older-schema files keep the " +
    "distributed diff, with the same rows") {
    val engines = Seq(
      Map("merge-engine" -> "partial-update"),
      Map("merge-engine" -> "first-row"),
      Map("deletion-vectors.enabled" -> "true"),
      Map("file.format" -> "orc"))
    engines.zipWithIndex.foreach { case (opts, i) =>
      val t = create(Seq("id", "sub"), opts)
      val c0 = t.bucketLocalChangelogs.get
      run(t, seed = 20L + i, n = 4)
      assert(t.bucketLocalChangelogs.get == c0, opts)
    }
    // files written before a column was added
    val evolved = create(Seq("id", "sub"), Map.empty)
    evolved.write(df(Seq(("a", 1L, 0, "x", "n1", L(1), "+I"))))
    evolved.addColumn("extra", StringType)
    val c0 = evolved.bucketLocalChangelogs.get
    val rnd = new scala.util.Random(30L)
    (0 until 4).foreach { i =>
      evolved.applyChanges(df(batch(rnd)).withColumnRenamed("_op", "_kind")
        .withColumn("_op", org.apache.spark.sql.functions.lit("+I")), "_kind")
      assertLastCommit(evolved, s"evolved batch $i")
    }
    assert(evolved.bucketLocalChangelogs.get == c0)
    // BINARY keys match by content, which hashed reader keys do not
    val bsch = StructType(Seq(StructField("k", BinaryType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val bin = GraftTable.create(spark, tmp(), bsch, primaryKeys = Seq("k"),
      options = Map("changelog-producer" -> "lookup", "bucket" -> "2"))
    def bdf(rows: (Int, String)*) = spark.createDataFrame(
      rows.map(r => Row(Array(r._1.toByte), r._2)).asJava, bsch)
    val b0 = bin.bucketLocalChangelogs.get
    bin.write(bdf((0 until 6).map(i => (i, "a")): _*))
    bin.write(bdf((1, "b"), (2, "a"), (9, "c")))
    assertLastCommit(bin, "binary key")
    assert(bin.bucketLocalChangelogs.get == b0)
    assert(bin.localLookup(Map("k" -> Array(1.toByte))).map(_.getString(1)) == Seq("b"))
  }

  test("distributed diff: a batch row that loses on sequence.field to an older " +
    "retraction persists no change (deletion vectors, older-schema files)") {
    val dv = create(Seq("id", "sub"), Map("sequence.field" -> "s",
      "deletion-vectors.enabled" -> "true"))
    val d0 = dv.bucketLocalChangelogs.get
    run(dv, seed = 16L, n = 4, fixed = edgeCases)
    assert(dv.bucketLocalChangelogs.get == d0)
    // files written before a column was added
    val evolved = create(Seq("id", "sub"), Map("sequence.field" -> "s"))
    evolved.write(df(for (id <- 0L until 12L; sub <- 0 until 2)
      yield ("a", id, sub, "x", "n1", L(2), "+U")))
    evolved.addColumn("extra", StringType)
    val e0 = evolved.bucketLocalChangelogs.get
    edgeCases.zipWithIndex.foreach { case (rows, i) =>
      evolved.applyChanges(df(rows).withColumnRenamed("_op", "_kind")
        .withColumn("_op", org.apache.spark.sql.functions.lit("+I")), "_kind")
      assertLastCommit(evolved, s"evolved edge case $i")
    }
    assert(evolved.bucketLocalChangelogs.get == e0)
  }

  test("a 200-row lookup-changelog commit on 4 buckets starts at most 2 Spark jobs") {
    val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("id", "sub"),
      options = Map("changelog-producer" -> "lookup", "bucket" -> "4"))
    val rnd = new scala.util.Random(40L)
    def changes(n: Int) = df(rnd.shuffle((0L until 500L).toList).take(n).map { id =>
      ("a", id, 0, rnd.alphanumeric.take(3).mkString, "n", L(rnd.nextInt(9)),
        if (rnd.nextInt(10) == 0) "-D" else "+U")
    })
    // warm up: the first commits create the table's files and reader conf
    (0 until 2).foreach(_ => t.applyChanges(changes(200), "_op"))
    val batch = changes(200)
    val (_, jobs) = SparkJobs.during(spark)(t.applyChanges(batch, "_op"))
    assert(jobs <= 2, s"applyChanges started $jobs Spark jobs")
    assertLastCommit(t, "job-count commit")
  }

  test("a plain 200-row write on 4 buckets starts at most 2 Spark jobs") {
    val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("id", "sub"),
      options = Map("bucket" -> "4", "rowkind.field" -> "_op"))
    val rnd = new scala.util.Random(41L)
    def rows(n: Int) = df(rnd.shuffle((0L until 500L).toList).take(n).map { id =>
      ("a", id, 0, rnd.alphanumeric.take(3).mkString, "n", L(rnd.nextInt(9)), "+U")
    })
    (0 until 2).foreach(_ => t.write(rows(200)))
    val batch = rows(200)
    val (_, jobs) = SparkJobs.during(spark)(t.write(batch))
    assert(jobs <= 2, s"write started $jobs Spark jobs")
    assert(t.read.count() == t.read.select("id").distinct().count())
  }

}
