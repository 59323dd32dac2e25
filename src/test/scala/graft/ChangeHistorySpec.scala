package graft

import graft.streaming.GraftStreaming
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Characterization of every changelog reader over one mixed history:
  * APPEND commits, COMPACT commits with and without a changelog, an
  * OVERWRITE, a delete (deletion vectors on the append table), and
  * expired snapshots, one of them with a retained changelog. Each
  * reader's (id, sorted rows) sequence is compared with the golden
  * file `src/test/resources/graft/changes/<table>.golden`. Run with
  * `GRAFT_WRITE_GOLDEN=1` to rewrite the golden files from the current
  * code; review their diff before committing it. */
class ChangeHistorySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def df(ks: Seq[Long], tag: String): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k, s"$tag$k")).asJava, sch)

  private val retention = Map("changelog.num-retained.max" -> "10")

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft-history-wh").toString
    spark.conf.set("spark.sql.catalog.historycat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.historycat.warehouse", wh)
    wh
  }

  /** s0-s8, then expire s0-s2: the lookup table retains the changelogs
    * of s0 and s1, the full-compaction table that of its compaction s2. */
  private def history(t: GraftTable): Unit = {
    t.write(df(0L to 5L, "a"))                                    // s0
    t.write(df(3L to 8L, "b"))                                    // s1
    t.compact()                                                   // s2 COMPACT
    t.writeWatermarked(df(10L to 12L, "c"), -1L, Some(1000L))     // s3
    t.overwrite(df(0L to 6L, "d"))                                // s4 OVERWRITE
    t.delete(col("k").isin(1L, 2L))                               // s5
    t.writeWatermarked(df(20L to 21L, "e"), -1L, Some(2000L))     // s6
    t.compact()                                                   // s7 COMPACT
    t.write(df(Seq(30L), "f"))                                    // s8
    t.expireSnapshots(retain = 6)
  }

  private def render(df: DataFrame): String =
    df.collect().map(_.toSeq.mkString("|")).sorted.mkString("[", ", ", "]")

  private def checkpoint(): String =
    s"${Files.createTempDirectory("graft-history-ck")}/offset"

  /** Every reader's output over the history, one line per emitted batch. */
  private def characterize(name: String, t: GraftTable): String = {
    val out = new StringBuilder
    def section(title: String)(body: => Unit): Unit = { out ++= s"== $title\n"; body }
    def line(s: String): Unit = out ++= s + "\n"
    val pk = t.schema.primaryKeys.nonEmpty
    val latest = t.sm.latestSnapshotId.get
    line(s"live ${t.sm.snapshotIds.mkString(",")}; retained " +
      t.sm.retainedChangelogs.map(_.snapshotId).mkString(","))
    line("kinds " + t.sm.snapshotIds.map(i => s"$i:${t.sm.snapshot(i).commitKind}")
      .mkString(","))
    val record: (DataFrame, Long) => Unit = (rows, id) => line(s"$id ${render(rows)}")

    section("processChangelog") {
      line("ids " + GraftStreaming.processChangelog(t, checkpoint(), record).mkString(","))
    }
    section("processChangelogBounded 1500") {
      val ck = checkpoint()
      val (ids, reached) = GraftStreaming.processChangelogBounded(t, ck, 1500L, record)
      line(s"ids ${ids.mkString(",")} reached $reached")
      line("then unbounded")
      line("ids " + GraftStreaming.processChangelog(t, ck, record).mkString(","))
    }
    section("startChangelog CompactedFull") {
      line("ids " + GraftStreaming.startChangelog(t, checkpoint(),
        GraftStreaming.CompactedFull, record).mkString(","))
    }
    section("incrementalRead per id") {
      (0L to latest).foreach(id => line(s"$id ${render(t.incrementalRead(id - 1, id))}"))
    }
    section("incrementalRead whole range") {
      line(render(t.incrementalRead(-1L, latest)))
      line(render(t.incrementalRead(3L, latest)))
    }
    if (pk) {
      section("binlog") {
        line(render(t.binlog(-1L, latest)))
        line(render(t.binlog(4L, 6L)))
      }
      section("changelogBetween") {
        val live = t.sm.snapshotIds
        live.zip(live.tail).foreach { case (a, b) =>
          line(s"$a..$b ${render(t.changelogBetween(a, b))}")
        }
        line(s"${live.head}..$latest ${render(t.changelogBetween(live.head, latest))}")
      }
    }
    Seq(None, Some("1")).foreach { cap =>
      section(s"AvailableNow readStream max-files-per-trigger=${cap.getOrElse("none")}") {
        val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val reader = spark.readStream
        val q = cap.fold(reader)(reader.option("scan.max-files-per-trigger", _))
          .table(s"historycat.db.$name")
          .writeStream
          .option("checkpointLocation",
            Files.createTempDirectory("graft-history-stream").toString)
          .foreachBatch { (b: DataFrame, _: Long) =>
            val rows = render(b)
            if (rows != "[]") batches.add(rows): Unit
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(120000))
        batches.asScala.foreach(line)
      }
    }
    out.toString
  }

  private def check(name: String, options: Map[String, String],
      primaryKeys: Seq[String]): Unit = {
    val t = GraftTable.create(spark, s"$warehouse/db/$name", sch,
      primaryKeys = primaryKeys, options = options ++ retention)
    history(t)
    val got = characterize(name, GraftTable.load(spark, t.path))
    val golden = Paths.get(s"src/test/resources/graft/changes/$name.golden")
    if (sys.env.contains("GRAFT_WRITE_GOLDEN")) {
      Files.createDirectories(golden.getParent)
      Files.write(golden, got.getBytes(StandardCharsets.UTF_8))
    }
    val want = new String(Files.readAllBytes(golden), StandardCharsets.UTF_8)
    if (got != want) {
      val (g, w) = (got.split("\n"), want.split("\n"))
      val firstDiff = g.zipAll(w, "<none>", "<none>").indexWhere { case (a, b) => a != b }
      fail(s"$name diverges from its golden file at line ${firstDiff + 1}:\n" +
        s"  got:  ${g.lift(firstDiff).getOrElse("<none>")}\n" +
        s"  want: ${w.lift(firstDiff).getOrElse("<none>")}\n--- full output ---\n$got")
    }
  }

  test("append table with deletion vectors: every changelog reader matches its golden output") {
    check("append", Map("deletion-vectors.enabled" -> "true"), Nil)
  }

  test("PK table, changelog-producer=lookup: every changelog reader matches its golden output") {
    check("lookup", Map("changelog-producer" -> "lookup", "bucket" -> "2"), Seq("k"))
  }

  test("PK table, changelog-producer=full-compaction: every changelog reader matches " +
    "its golden output") {
    check("fullcompaction",
      Map("changelog-producer" -> "full-compaction", "bucket" -> "2"), Seq("k"))
  }
}
