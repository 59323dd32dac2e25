package graft

import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Scan-level pushdowns: stats-only aggregates, limit, top-N file
  * pruning, bucket-pruned point lookup. */
class PushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-push").toString + "/t"

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", DoubleType, nullable = true)))

  private def df(rows: (Long, Double)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)

  test("countRows answers from manifests without scanning") {
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df((1L, 1.0), (2L, 2.0)))
    t.write(df((3L, 3.0)))
    assert(t.countRows() == 3L)
    // PK table: safe only when fully compacted
    val p = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("bucket" -> "2"))
    p.write(df((1L, 1.0), (2L, 2.0)))
    p.write(df((2L, 9.0), (3L, 3.0)))
    assert(p.countRows() == 3L) // falls back to merged scan
    p.compact()
    assert(p.countRows() == 3L) // now from manifests
  }

  test("statsMinMax answers from manifests") {
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df((5L, 2.5), (9L, 0.5)))
    t.write(df((1L, 7.5)))
    assert(t.statsMinMax("k").contains(("1", "9")))
    assert(t.statsMinMax("v").contains(("0.5", "7.5")))
  }

  test("metadata.stats-mode bounds manifest stats: truncate(N) keeps pruning " +
    "sound, counts keeps IS NULL pruning, none fails open; statsMinMax declines") {
    import org.apache.spark.sql.types._
    val ssch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("n", LongType, nullable = true)))
    import scala.jdk.CollectionConverters._
    def sdf(t: GraftTable, rows: (Long, String, java.lang.Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, ssch)
    // truncate(4): long strings cut, max rounded UP
    val t = GraftTable.create(spark, tmp(), ssch,
      options = Map("fields.s.stats-mode" -> "truncate(4)"))
    t.write(sdf(t, (1L, "abcdefgh", 1L), (2L, "abczzzzz", null)).coalesce(1))
    val st = t.sm.latestSnapshot().map(t.sm.liveEntries).get.head.file.stats
    assert(st("s").min.contains("abcd"), st.toString) // prefix lower bound
    assert(st("s").max.contains("abc{"), st.toString) // 'z'+1 = '{' upper bound
    assert(st("n").min.contains("1"), "non-string column keeps full stats")
    assert(st("n").nullCount == 1L)
    // pruning with truncated bounds stays CORRECT (file kept for a
    // value inside the bound, prunable for one above it)
    assert(t.read.filter(col("s") === "abczzzzz").count() == 1)
    assert(t.read.filter(col("s") === "abd").count() == 0)
    // a truncated stat is a bound, not a value: exact pushdown declines
    assert(t.statsMinMax("s").isEmpty)
    assert(t.statsMinMax("k").nonEmpty, "full-mode column still answers")
    // flipping the mode back to FULL without rewriting manifests must
    // STILL decline: the old files' stats were written truncated, and
    // serving "abc{" (an incremented prefix) as MAX would be a wrong
    // ANSWER, not a loose bound (write-schema watermark, ADVICE r13)
    t.setOption("fields.s.stats-mode", "full")
    assert(t.statsMinMax("s").isEmpty,
      "files written under truncate must keep declining after the flip")
    assert(t.statsMinMax("k").nonEmpty, "k was always full — still answers")
    // new files written under the restored full mode: the table only
    // answers once NO live file predates the flip
    val tFlip = GraftTable.create(spark, tmp(), ssch,
      options = Map("fields.s.stats-mode" -> "truncate(4)"))
    tFlip.write(sdf(tFlip, (1L, "abcdefgh", 1L)).coalesce(1))
    tFlip.setOption("fields.s.stats-mode", "full")
    tFlip.write(sdf(tFlip, (2L, "zzz", 2L)).coalesce(1))
    assert(tFlip.statsMinMax("s").isEmpty, "one pre-flip file still gates")
    // counts: min/max gone, null counts stay (IS NULL pruning works)
    val tc = GraftTable.create(spark, tmp(), ssch,
      options = Map("metadata.stats-mode" -> "counts"))
    tc.write(sdf(tc, (1L, "aa", 5L)))
    val stc = tc.sm.latestSnapshot().map(tc.sm.liveEntries).get.head.file.stats
    assert(stc("s").min.isEmpty && stc("s").max.isEmpty && stc("s").nullCount == 0L)
    assert(tc.read.filter(col("s").isNull).count() == 0)
    assert(tc.read.filter(col("s") === "aa").count() == 1)
    // none: no stats entries at all, reads stay correct
    val tn = GraftTable.create(spark, tmp(), ssch,
      options = Map("metadata.stats-mode" -> "none"))
    tn.write(sdf(tn, (1L, "aa", 5L)))
    val stn = tn.sm.latestSnapshot().map(tn.sm.liveEntries).get.head.file.stats
    assert(stn.isEmpty, stn.toString)
    assert(tn.read.filter(col("k") === 1L).count() == 1)
    // bad mode fails the write loudly
    val tb = GraftTable.create(spark, tmp(), ssch,
      options = Map("metadata.stats-mode" -> "approximately"))
    assertThrows[IllegalArgumentException] { tb.write(sdf(tb, (1L, "a", 1L))) }
    // supplementary-char edge: max increment skips the surrogate block
    assert(graft.core.StatsModes.truncateMax("\uD7FF\uD7FFXX", 2)
      .contains("\uD7FF\uE000"))
    assert(graft.core.StatsModes.truncateMax(
      new String(Character.toChars(0x10FFFF)) * 3, 2).isEmpty)
  }

  test("readLimit opens only enough files") {
    val t = GraftTable.create(spark, tmp(), sch)
    (0 until 5).foreach(i => t.write(df((i.toLong, i.toDouble))))
    val lim = t.readLimit(2)
    assert(lim.inputFiles.length == 2)
    assert(lim.count() == 2)
  }

  test("readTopN prunes files by stats") {
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df((1L, 1.0), (2L, 2.0)))   // max 2
    t.write(df((10L, 1.0), (11L, 2.0))) // max 11
    t.write(df((20L, 1.0), (21L, 2.0))) // max 21
    val total = t.read.inputFiles.length
    val top = t.readTopN("k", 2, descending = true)
    assert(top.inputFiles.length < total)
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(21L, 20L))
    val bottom = t.readTopN("k", 2, descending = false)
    assert(bottom.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("statsMinMax orders strings like Spark (supplementary chars)") {
    val strSch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val t = GraftTable.create(spark, tmp(), strSch)
    // U+1F600 (surrogate pair) vs U+FFFD: Java compareTo puts the
    // emoji FIRST (0xD83D < 0xFFFD) but Spark's UTF8 binary order —
    // and therefore SQL MAX() — puts it LAST
    // SEPARATE files: the cross-file max picks between per-file footer
    // maxima through the comparator under test
    val emoji = new String(Character.toChars(0x1F600))
    t.write(spark.createDataFrame(
      Seq(Row(1L, emoji), Row(3L, "apple")).asJava, strSch).coalesce(1))
    t.write(spark.createDataFrame(
      Seq(Row(2L, "�"), Row(4L, "banana")).asJava, strSch).coalesce(1))
    val sparkMax = t.read.agg(max(col("s"))).head.getString(0)
    assert(sparkMax == emoji)
    assert(t.statsMinMax("s").map(_._2).contains(sparkMax),
      "stats max must agree with Spark's MAX semantics")
    assert(t.statsMinMax("s").map(_._1).contains("apple"))
  }

  test("readTopN prunes on STRING columns in UTF8 binary order") {
    val strSch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    def sdf(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, strSch)
    val t = GraftTable.create(spark, tmp(), strSch)
    t.write(sdf((1L, "apple"), (2L, "banana")).coalesce(1))
    t.write(sdf((3L, "kiwi"), (4L, "lemon")).coalesce(1))
    t.write(sdf((5L, "xray"), (6L, "zebra")).coalesce(1))
    val total = t.read.inputFiles.length
    val top = t.readTopN("s", 2, descending = true)
    assert(top.inputFiles.length < total, "string TopN must prune files")
    assert(top.collect().map(_.getString(1)).toSeq == Seq("zebra", "xray"))
    val bottom = t.readTopN("s", 2, descending = false)
    assert(bottom.inputFiles.length < total)
    assert(bottom.collect().map(_.getString(1)).toSeq == Seq("apple", "banana"))
  }

  test("SQL ORDER BY ... LIMIT k prunes files via SupportsPushDownTopN") {
    val wh = Files.createTempDirectory("graft-topn-wh").toString
    spark.conf.set("spark.sql.catalog.graft_topn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_topn.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_topn.ns")
    spark.sql("CREATE TABLE graft_topn.ns.t (k BIGINT, v DOUBLE)")
    // value-clustered commits → disjoint per-file k ranges
    spark.sql("INSERT INTO graft_topn.ns.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO graft_topn.ns.t VALUES (10, 1.0), (11, 2.0)")
    spark.sql("INSERT INTO graft_topn.ns.t VALUES (20, 1.0), (21, 2.0)")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      "GraftBatchScan\\(files=(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt)
        .getOrElse(fail(s"no GraftBatchScan in plan:\n" +
          df.queryExecution.executedPlan.toString.take(1500)))
    val total = scannedFiles(spark.sql("SELECT k FROM graft_topn.ns.t"))
    val top = spark.sql("SELECT k FROM graft_topn.ns.t ORDER BY k DESC LIMIT 2")
    // k-th boundary pruning: only the top file(s) are scanned
    assert(scannedFiles(top) < total,
      s"expected < $total files, got ${scannedFiles(top)}")
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(21L, 20L))
    // ascending + correctness when pruning cannot apply (with filter)
    val bottom = spark.sql("SELECT k FROM graft_topn.ns.t ORDER BY k ASC LIMIT 2")
    assert(bottom.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val filtered = spark.sql(
      "SELECT k FROM graft_topn.ns.t WHERE v = 1.0 ORDER BY k DESC LIMIT 2")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(20L, 10L))
  }

  test("upper/lower equality prunes via the secondary index; concat inverts to stats") {
    val strSch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    def sdf(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, strSch)
    val t = GraftTable.create(spark, tmp(), strSch,
      options = Map(GraftTable.SecIndexColumns -> "s"))
    // every file's range spans a..z: stats prune nothing, only the
    // index can — and upper() is not invertible, so the probe must
    // apply the transform to the stored values
    t.write(sdf((1L, "apple"), (2L, "zebra")).coalesce(1))
    t.write(sdf((3L, "Apple"), (4L, "zulu")).coalesce(1))
    t.write(sdf((5L, "banana"), (6L, "zed")).coalesce(1))
    assert(t.planEntries(upper(col("s")) === "APPLE").size == 2)
    assert(t.planEntries(lower(col("s")) === "apple").size == 2)
    assert(t.planEntries(upper(col("s")) === "NOPE").isEmpty)
    assert(t.scan(upper(col("s")) === "APPLE").count() == 2)
    assert(t.scan(lower(col("s")) === "zed").count() == 1)
    // concat with literal suffix/prefix inverts to a plain equality,
    // which stats AND the index then prune on
    assert(t.planEntries(concat(col("s"), lit("-x")) === "banana-x").size == 1)
    assert(t.planEntries(concat(lit("p-"), col("s")) === "p-zulu").size == 1)
    // unsatisfiable prefix -> prune everything
    assert(t.planEntries(concat(lit("p-"), col("s")) === "q-zulu").isEmpty)
    assert(t.scan(concat(col("s"), lit("-x")) === "banana-x").count() == 1)
    // concat_ws: separators come from the function, not the literals
    assert(t.planEntries(
      concat_ws("-", lit("p"), col("s")) === "p-zebra").size == 1)
    assert(t.planEntries(
      concat_ws("-", lit("p"), col("s"), lit("q")) === "p-banana-q").size == 1)
    assert(t.planEntries(
      concat_ws("-", lit("p"), col("s")) === "q-zebra").isEmpty)
    // null parts are SKIPPED by concat_ws (they don't null the result)
    assert(t.planEntries(concat_ws("-", lit(null.asInstanceOf[String]),
      col("s")) === "zulu").size == 1)
    assert(t.scan(
      concat_ws("-", lit("p"), col("s"), lit("q")) === "p-banana-q").count() == 1)
    // substring-from-1 inverts to a prefix (or exact/false) predicate
    assert(t.planEntries(substring(col("s"), 1, 3) === "ban").size == 1)
    assert(t.planEntries(substring(col("s"), 1, 3) === "qqq").isEmpty)
    // |lit| < len: the column must END inside the window -> exact match
    assert(t.planEntries(substring(col("s"), 1, 9) === "zed").size == 1)
    // |lit| > len: unsatisfiable
    assert(t.planEntries(substring(col("s"), 1, 2) === "ban").isEmpty)
    assert(t.scan(substring(col("s"), 1, 3) === "ban").count() == 1)
    assert(t.scan(substring(col("s"), 1, 9) === "zed").count() == 1)
  }

  test("randomized string-transform predicates never wrong-prune") {
    val strSch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("a", "b", "ab", "A", "-", "", "x-y")
    def rndStr(): String =
      Seq.fill(rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size))).mkString
    val data = (0L until 30L).map { i =>
      (i, if (rnd.nextInt(5) == 0) null else rndStr())
    }
    val rows = data.map(r => Row(r._1, r._2))
    val t = GraftTable.create(spark, tmp(), strSch)
    rows.grouped(10).foreach(g =>
      t.write(spark.createDataFrame(g.asJava, strSch).coalesce(1)))
    val baseline = spark.createDataFrame(rows.asJava, strSch)
    for (_ <- 0 until 40) {
      val s = col("s")
      val expr = rnd.nextInt(6) match {
        case 0 => concat(lit(rndStr()), s, lit(rndStr()))
        case 1 => concat_ws("-", lit(rndStr()), s)
        case 2 => concat_ws("", lit(rndStr()), s, lit(rndStr()))
        case 3 => upper(s)
        case 4 => lower(s)
        case 5 => substring(s, 1, 1 + rnd.nextInt(4))
      }
      // half the targets are real transformed values (matches must
      // survive pruning), half arbitrary (pruning to zero files must
      // be proven sound, not assumed)
      val evaluated = baseline.select(expr.as("e")).collect()
        .map(_.getString(0)).filter(_ != null)
      val target =
        if (rnd.nextBoolean() && evaluated.nonEmpty)
          evaluated(rnd.nextInt(evaluated.length))
        else rndStr()
      // a third of the predicates are disjunctions — the rewrite must
      // stay sound through Or branches too
      val p = rnd.nextInt(3) match {
        case 0 => (expr === target) || (col("k") === data(rnd.nextInt(data.size))._1)
        case _ => expr === target
      }
      val got = t.scan(p).select("k").collect().map(_.getLong(0)).toSet
      val want = baseline.filter(p).select("k").collect().map(_.getLong(0)).toSet
      assert(got == want, s"predicate $p: got $got want $want")
    }
  }

  test("concat_ws null-attr case keeps files whose rows are all null") {
    val strSch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    def sdf(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, strSch)
    val t = GraftTable.create(spark, tmp(), strSch)
    t.write(sdf((1L, null), (2L, null)).coalesce(1))   // all-null file
    t.write(sdf((3L, "x"), (4L, "y")).coalesce(1))     // no-null file
    // 'p' is exactly the literals-only string: a null s also matches,
    // so the all-null file MUST survive pruning
    val df = t.scan(concat_ws("-", lit("p"), col("s")) === "p")
    assert(df.count() == 2)
    // and a literal that can only come from a real value prunes it
    assert(t.planEntries(
      concat_ws("-", lit("p"), col("s")) === "p-x").size == 1)
  }

  test("negated and null-safe predicates prune constant and all-null files") {
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df((7L, 1.0), (7L, 2.0)).coalesce(1))   // k constant 7
    t.write(df((1L, 3.0), (9L, 4.0)).coalesce(1))   // k spans 1..9
    // c != 7 refutes the constant-7 file, keeps the spanning one
    assert(t.planEntries(col("k") =!= 7L).size == 1)
    assert(t.scan(col("k") =!= 7L).count() == 2)
    // NOT IN with the constant covered refutes it too
    assert(t.planEntries(!col("k").isin(7L, 100L)).size == 1)
    assert(t.scan(!col("k").isin(7L, 100L)).count() == 2)
    // != against a value the constant file doesn't hold keeps both
    assert(t.planEntries(col("k") =!= 5L).size == 2)
    // null-safe equality prunes by the same range logic as equality:
    // 7 may appear in both ranges, 100 in neither
    assert(t.planEntries(col("k") <=> 7L).size == 2)
    assert(t.scan(col("k") <=> 7L).count() == 2)
    assert(t.planEntries(col("k") <=> 100L).isEmpty)

    // all-null column: comparisons AND their negations refute the file
    val strSch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val t2 = GraftTable.create(spark, tmp(), strSch)
    t2.write(spark.createDataFrame(
      Seq(Row(1L, null), Row(2L, null)).asJava, strSch).coalesce(1))
    t2.write(spark.createDataFrame(
      Seq(Row(3L, "x"), Row(4L, "y")).asJava, strSch).coalesce(1))
    assert(t2.planEntries(col("s") =!= "x").size == 1)
    assert(t2.scan(col("s") =!= "x").count() == 1)
    // <=> NULL is IS NULL: keeps the all-null file, refutes the other
    assert(t2.planEntries(col("s") <=> lit(null)).size == 1)
    assert(t2.scan(col("s") <=> lit(null)).count() == 2)
  }

  test("bloom file index prunes overlapping-range files on point predicates") {
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("file-index.bloom-filter.columns" -> "k"))
    // interleaved keys: every file spans [~0, ~100] so min/max stats
    // cannot prune; only the bloom can
    (0 until 4).foreach { i =>
      t.write(df((0L until 100L).filter(_ % 4 == i).map(k => (k, k.toDouble)): _*))
    }
    val total = t.read.inputFiles.length
    val hit = t.scan(col("k") === 42L)
    assert(hit.inputFiles.length < total,
      s"bloom should prune: ${hit.inputFiles.length} of $total")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // absent key: everything pruned
    assert(t.scan(col("k") === 1000L).inputFiles.isEmpty)
    assert(t.scan(col("k") === 1000L).count() == 0)
    // IN over two files' keys
    val in = t.scan(col("k").isin(41L, 42L))
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(41L, 42L))
    // disjunction of absent keys: every branch refuted -> all pruned
    assert(t.scan(col("k") === 1000L || col("k") === 2000L).inputFiles.isEmpty)
    val or = t.scan(col("k") === 41L || col("k") === 1000L)
    assert(or.inputFiles.length < total)
    assert(or.collect().map(_.getLong(0)).toSeq == Seq(41L))
  }

  test("partition pruning decodes values like the scan: nulls, escapes, dates") {
    val psch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = true)))
    def pdf(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, psch)
    val t = GraftTable.create(spark, tmp(), psch, partitionKeys = Seq("p"))
    t.write(pdf((1L, null), (2L, "a:b"), (3L, "plain")))
    // NULL partition: folding the raw __HIVE_DEFAULT_PARTITION__
    // sentinel as a point stat used to prune these rows away
    assert(t.scan(col("p").isNull).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // Hive-ESCAPED value: the directory stores "a%3Ab"; equality must
    // match the decoded value, and IS NOT NULL must not lose it
    assert(t.scan(col("p") === "a:b").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(t.scan(col("p").isNotNull).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(2L, 3L))
    assert(t.scan(col("p") === "plain").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // a null partition's file is refuted by equality (all rows null)
    assert(t.scan(col("p") === "nope").inputFiles.isEmpty)

    // DATE partitions: the display-string directory value re-renders
    // as internal epoch days, so date predicates PRUNE (they used to
    // fall open on the unparseable display string) — and never lose rows
    val dsch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", DateType, nullable = false)))
    def ddf(rows: (Long, String)*) = spark.createDataFrame(
      rows.map(r => Row(r._1, java.sql.Date.valueOf(r._2))).asJava, dsch)
    val td = GraftTable.create(spark, tmp(), dsch, partitionKeys = Seq("d"))
    td.write(ddf((1L, "2024-01-01")))
    td.write(ddf((2L, "2024-06-01")))
    val janHit = td.scan(col("d") === lit(java.sql.Date.valueOf("2024-01-01")))
    assert(janHit.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(janHit.inputFiles.length == 1, "date partition must PRUNE")
    val laterHit = td.scan(col("d") > lit(java.sql.Date.valueOf("2024-03-01")))
    assert(laterHit.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(laterHit.inputFiles.length == 1)
  }

  test("bloom/bitmap probes on DATE columns render the indexed form") {
    val dsch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", DateType, nullable = false)))
    def ddf(rows: (Long, String)*) = spark.createDataFrame(
      rows.map(r => Row(r._1, java.sql.Date.valueOf(r._2))).asJava, dsch)
    val t = GraftTable.create(spark, tmp(), dsch,
      options = Map("file-index.bloom-filter.columns" -> "d"))
    t.write(ddf((1L, "2024-01-01"), (2L, "2024-01-02")).coalesce(1))
    // the build side indexed CAST(d AS STRING) = "2024-01-01"; a probe
    // rendering the literal's epoch-day INT would refute this file
    val hit = t.scan(col("d") === lit(java.sql.Date.valueOf("2024-01-01")))
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "date bloom probe must not refute a real match")
    // and the index still refutes truly-absent dates whose stats overlap
    assert(t.scan(col("d") === lit(java.sql.Date.valueOf("2024-01-03")))
      .count() == 0)

    // bitmap: a string value equal to the raw null sentinel must stay
    // a VALUE, not be misfiled into the nulls bitmap
    val ssch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val sentinel = "\u0000null"
    val ts = GraftTable.create(spark, tmp(), ssch,
      options = Map("file-index.bitmap.columns" -> "s"))
    ts.write(spark.createDataFrame(
      Seq(Row(1L, sentinel), Row(2L, null)).asJava, ssch).coalesce(1))
    assert(ts.scan(col("s") === sentinel).collect().map(_.getLong(0)).toSeq
      == Seq(1L), "sentinel-equal VALUE must remain probeable")
    assert(ts.scan(col("s").isNull).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("LIKE 'prefix%' prunes files via string min/max stats") {
    val s2 = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    def df2(rows: (String, Long)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, s2).coalesce(1)
    val t = GraftTable.create(spark, tmp(), s2)
    t.write(df2(("apple", 1L), ("avocado", 2L)))
    t.write(df2(("mango", 3L), ("melon", 4L)))
    t.write(df2(("zebra", 5L)))
    val hit = t.scan(col("name").like("m%"))
    assert(hit.inputFiles.length == 1)
    assert(hit.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L))
    assert(t.scan(col("name").like("q%")).inputFiles.isEmpty)
  }

  test("localLookup answers point queries on the driver with zero jobs") {
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "8", "sequence.field" -> "v"))
    t.write(df((0L until 64L).map(i => (i, i.toDouble)): _*))
    t.write(df((0L until 8L).map(i => (i, i + 100.0)): _*)) // upserts win by v
    t.delete(col("k") === 5L)
    // warm the factory (first call broadcasts the reader conf)
    assert(t.localLookup(Map("k" -> 0L)).nonEmpty)
    val (_, jobs) = SparkJobs.during(spark) {
      val hit = t.localLookup(Map("k" -> 7L))
      assert(hit.map(r => (r.getLong(0), r.getDouble(1))) == Seq((7L, 107.0)))
      val old = t.localLookup(Map("k" -> 33L))
      assert(old.map(r => (r.getLong(0), r.getDouble(1))) == Seq((33L, 33.0)))
      assert(t.localLookup(Map("k" -> 5L)).isEmpty)   // deleted
      assert(t.localLookup(Map("k" -> 999L)).isEmpty) // never existed
    }
    assert(jobs == 0, s"localLookup ran $jobs Spark job(s)")
    // agrees with the distributed lookup on the same keys
    (0L until 10L).foreach { k =>
      val local = t.localLookup(Map("k" -> k)).map(_.toString)
      val dist = t.lookup(Map("k" -> k)).collect().toSeq.map(_.toString)
      assert(local == dist, s"k=$k: local $local vs distributed $dist")
    }
  }

  test("lookup reads only the key's bucket") {
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map("bucket" -> "8"))
    t.write(df((0L until 64L).map(i => (i, i.toDouble)): _*))
    val one = t.lookup(Map("k" -> 7L))
    assert(one.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((7L, 7.0)))
    assert(one.inputFiles.length <= 1)
    assert(t.lookup(Map("k" -> 999L)).count() == 0)
  }

  test("widening casts on the attribute side still prune by stats") {
    val t = GraftTable.create(spark, tmp(), sch)
    t.write(df((1L, 1.0), (10L, 2.0)))
    t.write(df((100L, 3.0), (200L, 4.0)))
    // CAST(k AS DOUBLE) > 150.5 — order-preserving widening, prunable
    val hit = t.scan(col("k").cast("double") > 150.5)
    assert(hit.inputFiles.length == 1)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(200L))
    // non-widening transforms conservatively keep all files but stay correct
    assert(t.scan((col("k") % 7) === 2L).collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("bitmap file index refutes equality / IN / null predicates exactly") {
    val s2 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("cat", StringType, nullable = true)))
    def df2(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, s2).coalesce(1)
    val t = GraftTable.create(spark, tmp(), s2,
      options = Map("file-index.bitmap.columns" -> "cat"))
    // interleaved k ranges so min/max on cat fully overlap across files
    t.write(df2((1L, "a"), (2L, "b")))
    t.write(df2((3L, "b"), (4L, "c")))
    t.write(df2((5L, "d"), (6L, null)))
    // equality: only files whose dictionary holds the value are read
    assert(t.scan(col("cat") === "a").inputFiles.length == 1)
    assert(t.scan(col("cat") === "a").count() == 1)
    assert(t.scan(col("cat") === "zzz").inputFiles.isEmpty)
    // IN over two files
    assert(t.scan(col("cat").isin("a", "d")).inputFiles.length == 2)
    // IS NULL: only the file with a null row
    assert(t.scan(col("cat").isNull).inputFiles.length == 1)
    assert(t.scan(col("cat").isNull).count() == 1)
  }

  test("SQL COUNT(*) on a non-compacted PK table plans with zero jobs") {
    val wh = Files.createTempDirectory("graft-cnt-wh").toString
    spark.conf.set("spark.sql.catalog.graft_cnt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cnt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cnt.db")
    spark.sql(
      """CREATE TABLE graft_cnt.db.t (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""".stripMargin)
    spark.sql("INSERT INTO graft_cnt.db.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO graft_cnt.db.t VALUES (2, 9.0), (3, 3.0)")
    // non-compacted PK: countRowsFast is None → the pushdown must
    // DECLINE without running a single job (it used to execute the
    // full merged read.count() TWICE at planning time — once from
    // supportCompletePushDown, once from pushAggregation)
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    val gt = graft.table.GraftTable.load(spark, s"$wh/db/t")
    assert(gt.countRowsFast().isEmpty)
    val builder = new graft.sources.GraftScanBuilder(gt, None, gt.schema.toStruct)
    val agg = new Aggregation(Array(new CountStar()), Array.empty)
    val (_, jobs) = SparkJobs.during(spark) {
      assert(!builder.supportCompletePushDown(agg))
      assert(!builder.pushAggregation(agg)) // memoized second call
    }
    assert(jobs == 0, s"declining the pushdown ran $jobs job(s)")
    // the query itself still answers correctly through the merge scan
    val q = spark.sql("SELECT count(*) FROM graft_cnt.db.t")
    assert(!q.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q.head.getLong(0) == 3L)
    // after compaction the manifests-only fast path applies again
    spark.sql("CALL graft_cnt.sys.compact('db.t')")
    val q2 = spark.sql("SELECT count(*) FROM graft_cnt.db.t")
    assert(q2.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q2.head.getLong(0) == 3L)
  }

  test("PK-equality DELETE/UPDATE merge only the key's bucket files") {
    val t = GraftTable.create(spark, tmp(), sch,
      primaryKeys = Seq("k"), options = Map("bucket" -> "8"))
    t.write(df((0L until 64L).map(i => (i, i.toDouble)): _*))
    t.write(df((0L until 64L).map(i => (i, i + 0.5)): _*))
    // the derived bucket must be the writer's
    val expected = spark.range(1).select(
      pmod(xxhash64(lit(7L)), lit(8)).cast("int")).head.getInt(0)
    assert(t.pkEqualityBucket(col("k") === 7L).contains(expected))
    // victim search touches only that bucket's files
    val victims = t.prunedPkRows(col("k") === 7L)
    assert(victims.inputFiles.nonEmpty &&
      victims.inputFiles.forall(_.contains(s"__bucket=$expected")),
      s"expected only __bucket=$expected files, got ${victims.inputFiles.mkString(",")}")
    // value-column or range conditions fall back to pruned-but-unbucketed
    assert(t.pkEqualityBucket(col("v") > 1.0).isEmpty)
    assert(t.pkEqualityBucket(col("k") > 5L).isEmpty)
    // end-to-end correctness
    t.delete(col("k") === 7L)
    t.update(Map("v" -> lit(100.0)), col("k") === 8L)
    val got = t.read.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(7L))
    assert(got(8L) == 100.0)
    assert(got(9L) == 9.5)
    assert(got.size == 63)
  }

  test("large commits compute footer stats distributed and stay prunable") {
    val t = GraftTable.create(spark, tmp(), sch)
    // >16 staged files → the executor-side stats job path
    val big = spark.range(0, 400).select(col("id").as("k"),
      col("id").cast("double").as("v"))
      .repartitionByRange(20, col("k"))
    t.write(big)
    val entries = t.planEntries(lit(true))
    assert(entries.size >= 17, s"expected >16 files, got ${entries.size}")
    assert(entries.forall(_.file.stats.get("k").exists(_.min.isDefined)),
      "every distributed-read file meta must carry min/max stats")
    assert(t.countRows() == 400L)
    // stats actually prune
    val hit = t.scan(col("k") === 399L)
    assert(hit.inputFiles.length == 1)
    assert(hit.count() == 1)
  }

  test("BSI index refutes ranges inside overlapping min/max spans") {
    def df1(rows: Seq[(Long, Double)]) = df(rows: _*).coalesce(1)
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("file-index.bsi.columns" -> "k"))
    // file A spans [0,100] with a hole (21..79); file B is [40,60]:
    // a range probe inside A's hole overlaps A's min/max, only the
    // bit-sliced index can refute it
    t.write(df1(((0L to 20L) ++ (80L to 100L)).map(k => (k, k.toDouble))))
    t.write(df1((40L to 60L).map(k => (k, k.toDouble))))
    val inHole = t.scan(col("k") >= 25L && col("k") <= 35L)
    assert(inHole.inputFiles.isEmpty,
      s"range in A's hole + below B's min must prune everything, read ${inHole.inputFiles.length}")
    assert(inHole.count() == 0)
    // range matching only B: A refuted by its hole, B kept
    val onlyB = t.scan(col("k") >= 45L && col("k") <= 55L)
    assert(onlyB.inputFiles.length == 1)
    assert(onlyB.count() == 11)
    // equality probes: point ranges
    assert(t.scan(col("k") === 85L).inputFiles.length == 1)
    assert(t.scan(col("k") === 30L).inputFiles.isEmpty)
    // IN with all-absent values refutes; present value keeps one file
    assert(t.scan(col("k").isin(25L, 30L)).inputFiles.isEmpty)
    assert(t.scan(col("k").isin(25L, 90L)).inputFiles.length == 1)
    // disjunction of two in-hole RANGES refutes both files — each
    // branch is a conjunction, intersected inside the branch
    assert(t.scan((col("k") >= 25L && col("k") <= 35L) ||
      (col("k") >= 65L && col("k") <= 75L)).inputFiles.isEmpty)
    // one branch live -> its file survives
    assert(t.scan((col("k") >= 25L && col("k") <= 35L) ||
      col("k") === 85L).inputFiles.length == 1)
    // one-sided ranges still correct (strict > maps to v+1)
    val top = t.scan(col("k") > 95L)
    assert(top.inputFiles.length == 1 && top.count() == 5)
    // negative values exercise the sign-flip ordering
    val t2 = GraftTable.create(spark, tmp(), sch,
      options = Map("file-index.bsi.columns" -> "k"))
    t2.write(df1((-50L to -40L).map(k => (k, k.toDouble))))
    t2.write(df1((10L to 20L).map(k => (k, k.toDouble))))
    assert(t2.scan(col("k") >= -45L && col("k") <= -42L).inputFiles.length == 1)
    assert(t2.scan(col("k") >= -30L && col("k") <= 5L).inputFiles.isEmpty)
    assert(t2.scan(col("k") < -45L).count() == 5)
  }

  test("orc storage: roundtrip, footer-stats pruning, PK upserts, mixed-format evolution") {
    def df1(rows: Seq[(Long, Double)]) = df(rows: _*).coalesce(1)
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("file.format" -> "orc"))
    t.write(df1((0L to 20L).map(k => (k, k.toDouble))))
    t.write(df1((40L to 60L).map(k => (k, k.toDouble))))
    val entries = t.planEntries(lit(true))
    assert(entries.forall(_.file.fileName.endsWith(".orc")))
    assert(t.countRows() == 42L) // manifests-only, from ORC footers
    // ORC footer min/max drive the same pruning as parquet
    val hit = t.scan(col("k") > 45L)
    assert(hit.inputFiles.length == 1)
    assert(hit.count() == 15)
    assert(t.scan(col("k") === 30L).inputFiles.isEmpty)
    // PK merge-on-read over ORC files
    val p = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("file.format" -> "orc", "bucket" -> "2"))
    p.write(df1((0L until 10L).map(k => (k, k.toDouble))))
    p.write(df1((0L until 5L).map(k => (k, k + 100.0))))
    assert(p.read.count() == 10L)
    assert(p.read.filter(col("k") === 2L).head.getDouble(1) == 102.0)
    p.compact()
    assert(p.read.count() == 10L)
    // switching file.format mid-life: new files parquet, reads mix
    val t2 = GraftTable.load(spark, t.path)
    t2.setOption("file.format", "parquet")
    val t3 = GraftTable.load(spark, t.path)
    t3.write(df1((80L to 90L).map(k => (k, k.toDouble))))
    assert(t3.read.count() == 53L)
    val exts = t3.planEntries(lit(true))
      .map(_.file.fileName.split('.').last).toSet
    assert(exts == Set("orc", "parquet"))
    // deletion vectors stay parquet-only
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), sch, options =
        Map("file.format" -> "orc", "deletion-vectors.enabled" -> "true"))
    }
  }

  test("file.format.per.level: row-oriented level-0 ingest, columnar " +
    "compaction output, reads exact across the mix") {
    def df1(rows: Seq[(Long, Double)]) = df(rows: _*).coalesce(1)
    val t = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("file.format.per.level" -> "0:avro", "bucket" -> "2"))
    t.write(df1((0L until 10L).map(k => (k, k.toDouble))))
    t.write(df1((0L until 5L).map(k => (k, k + 100.0))))
    // ingest landed row-oriented
    val exts0 = t.planEntries(lit(true)).map(_.file.fileName.split('.').last).toSet
    assert(exts0 == Set("avro"), exts0.toString)
    assert(t.read.count() == 10L)
    assert(t.read.filter(col("k") === 2L).head.getDouble(1) == 102.0)
    // compaction (level 1) rewrites into the base columnar format
    t.compact()
    val exts1 = t.planEntries(lit(true)).map(_.file.fileName.split('.').last).toSet
    assert(exts1 == Set("parquet"), exts1.toString)
    assert(t.read.count() == 10L)
    // more row-oriented churn on top of the compacted state mixes
    t.write(df1(Seq((2L, 999.0))))
    val exts2 = t.planEntries(lit(true)).map(_.file.fileName.split('.').last).toSet
    assert(exts2 == Set("parquet", "avro"), exts2.toString)
    assert(t.read.filter(col("k") === 2L).head.getDouble(1) == 999.0)
    assert(t.read.count() == 10L)
    // malformed / unsupported per-level entries fail at CREATE
    intercept[IllegalArgumentException](GraftTable.create(spark, tmp(), sch,
      options = Map("file.format.per.level" -> "0:feather")))
    intercept[IllegalArgumentException](GraftTable.create(spark, tmp(), sch,
      options = Map("file.format.per.level" -> "avro")))
    // DV tables must be parquet at EVERY level
    intercept[IllegalArgumentException](GraftTable.create(spark, tmp(), sch,
      options = Map("file.format.per.level" -> "0:avro",
        "deletion-vectors.enabled" -> "true")))
  }

  test("avro partitions escape like parquet; avro-illegal names rejected at create") {
    val psch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = true)))
    def pdf(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, psch)
    val t = GraftTable.create(spark, tmp(), psch, partitionKeys = Seq("p"),
      options = Map("file.format" -> "avro"))
    // a NULL partition used to write the raw dir "p=null" (decoded as
    // the STRING "null"), and "a/b" used to nest directories and fail
    // the commit adoption's k=v split
    t.write(pdf((1L, null), (2L, "a/b"), (3L, "x")))
    assert(t.read.count() == 3)
    assert(t.scan(col("p").isNull).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.scan(col("p") === "a/b").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // avro forbids names Spark allows — refused at CREATE, not as a
    // SchemaParseException on the first write
    intercept[Exception](GraftTable.create(spark, tmp(),
      StructType(Seq(StructField("price-usd", LongType, nullable = false))),
      options = Map("file.format" -> "avro")))
  }

  test("avro storage: roundtrip, streamed stats pruning, PK upserts, mixed formats") {
    def df1(rows: Seq[(Long, Double)]) = df(rows: _*).coalesce(1)
    val t = GraftTable.create(spark, tmp(), sch,
      options = Map("file.format" -> "avro"))
    t.write(df1((0L to 20L).map(k => (k, k.toDouble))))
    t.write(df1((40L to 60L).map(k => (k, k.toDouble))))
    val entries = t.planEntries(lit(true))
    assert(entries.forall(_.file.fileName.endsWith(".avro")))
    assert(t.countRows() == 42L) // manifests-only, from streamed stats
    // streamed min/max drive the same pruning as parquet footers
    val hit = t.scan(col("k") > 45L)
    assert(hit.count() == 15)
    assert(t.planEntries(col("k") > 45L).size == 1)
    assert(t.planEntries(col("k") === 30L).isEmpty)
    // PK merge-on-read over avro files (row-oriented level-0, the
    // reference's write-optimized LSM format)
    val p = GraftTable.create(spark, tmp(), sch, primaryKeys = Seq("k"),
      options = Map("file.format" -> "avro", "bucket" -> "2"))
    p.write(df1((0L until 10L).map(k => (k, k.toDouble))))
    p.write(df1((0L until 5L).map(k => (k, k + 100.0))))
    assert(p.read.count() == 10L)
    assert(p.read.filter(col("k") === 2L).head.getDouble(1) == 102.0)
    p.compact()
    assert(p.read.count() == 10L)
    // switching file.format mid-life: new files parquet, reads mix
    val t2 = GraftTable.load(spark, t.path)
    t2.setOption("file.format", "parquet")
    val t3 = GraftTable.load(spark, t.path)
    t3.write(df1((80L to 90L).map(k => (k, k.toDouble))))
    assert(t3.read.count() == 53L)
    val exts = t3.planEntries(lit(true))
      .map(_.file.fileName.split('.').last).toSet
    assert(exts == Set("avro", "parquet"))
    // deletion vectors stay parquet-only; nested types rejected
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), sch, options =
        Map("file.format" -> "avro", "deletion-vectors.enabled" -> "true"))
    }
    intercept[IllegalArgumentException] {
      val nested = StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("a", ArrayType(LongType), nullable = true)))
      GraftTable.create(spark, tmp(), nested, options =
        Map("file.format" -> "avro"))
    }
  }

  test("bitmap index aborts on cardinality overflow and never lies") {
    val s2 = StructType(Seq(StructField("v", StringType, nullable = false)))
    val rows = (0 until 12000).map(i => Row(s"val_$i"))
    val t = GraftTable.create(spark, tmp(), s2,
      options = Map("file-index.bitmap.columns" -> "v"))
    t.write(spark.createDataFrame(rows.asJava, s2).coalesce(1))
    // NDV exceeds MaxCardinality → no sidecar → scan still correct
    assert(t.scan(col("v") === "val_7777").count() == 1)
    assert(t.scan(col("v") === "nope").count() == 0)
  }

  test("monotonic field transforms prune against transformed stat ranges") {
    val s2 = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", DateType, nullable = false)))
    val t = GraftTable.create(spark, tmp(), s2)
    def rows(y: Int, k0: Long) = spark.createDataFrame(
      (0 until 10).map(i =>
        Row(k0 + i, java.sql.Date.valueOf(s"$y-0${i % 9 + 1}-15"))).asJava, s2)
      .coalesce(1)
    t.write(rows(2019, 0L))
    t.write(rows(2020, 10L))
    t.write(rows(2021, 20L))
    assert(t.planEntries(lit(true)).size == 3)
    // year() over the date range
    assert(t.planEntries(year(col("d")) === 2020).size == 1)
    assert(t.planEntries(year(col("d")) >= 2021).size == 1)
    assert(t.planEntries(year(col("d")) === 1999).isEmpty)
    // trunc to year start
    assert(t.planEntries(
      trunc(col("d"), "year") === lit(java.sql.Date.valueOf("2020-01-01"))).size == 1)
    // literal arithmetic, including a decreasing chain
    assert(t.planEntries(col("k") + 10L > 25L).size == 2)
    assert(t.planEntries(lit(100L) - col("k") < 85L).size == 2)
    assert(t.planEntries(-col("k") > -5L).size == 1)
    // results stay correct end-to-end
    assert(t.scan(year(col("d")) === 2020).count() == 10)
    assert(t.scan(lit(100L) - col("k") < 85L).count() == 14)
  }
}
