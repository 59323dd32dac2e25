package graft

import graft.sources.HmsBridge
import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Hive Metastore bridge (reference: paimon-hive HiveCatalog +
  * metastore.partitioned-table callbacks) against a real EMBEDDED
  * Derby-backed metastore — the standard Hive embedded mode, same
  * IMetaStoreClient API as a thrift deployment. */
class HmsCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val hmsDir = Files.createTempDirectory("graft-hms").toString
  private lazy val wh = Files.createTempDirectory("graft-hms-wh").toString
  private lazy val hmsOpts = Map("hms.local-dir" -> hmsDir)

  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.hcat", "graft.sources.GraftHmsCatalog")
    spark.conf.set("spark.sql.catalog.hcat.warehouse", wh)
    spark.conf.set("spark.sql.catalog.hcat.hms.local-dir", hmsDir)
  }

  test("DDL mirrors into HMS: create, partition sync, alter, rename, drop") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.br")
    spark.sql("""CREATE TABLE hcat.br.orders_h
                |(k BIGINT, v STRING, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true')""".stripMargin)
    val c = HmsBridge.client(hmsOpts)
    try {
      // the entry exists with graft markers, columns, and partition keys
      val t = c.getTable("br", "orders_h")
      assert(t.getParameters.get("table_type") == "GRAFT")
      assert(t.getParameters.get("graft.path") == s"$wh/br/orders_h")
      assert(t.getSd.getCols.asScala.map(f => (f.getName, f.getType)).toSeq ==
        Seq(("k", "bigint"), ("v", "string")))
      assert(t.getPartitionKeys.asScala.map(_.getName).toSeq == Seq("dt"))

      // commits sync the live partition set
      spark.sql("""INSERT INTO hcat.br.orders_h VALUES
                  |(1, 'a', '2024-01-01'), (2, 'b', '2024-01-02')""".stripMargin)
      val parts = c.listPartitions("br", "orders_h", Short.MaxValue)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("2024-01-01", "2024-01-02"), parts.toString)

      // dropping a partition's rows drops the HMS partition too
      spark.sql("DELETE FROM hcat.br.orders_h WHERE dt = '2024-01-01'")
      val after = c.listPartitions("br", "orders_h", Short.MaxValue)
        .asScala.map(_.getValues.asScala.head).toSeq
      assert(after == Seq("2024-01-02"), after.toString)

      // ALTER mirrors the evolved schema
      spark.sql("ALTER TABLE hcat.br.orders_h ADD COLUMN extra INT")
      val altered = c.getTable("br", "orders_h")
      assert(altered.getSd.getCols.asScala.map(_.getName).toSeq ==
        Seq("k", "v", "extra"))

      // RENAME moves the entry and updates its location
      spark.sql("ALTER TABLE hcat.br.orders_h RENAME TO br.orders_r")
      assert(!c.tableExists("br", "orders_h"))
      val renamed = c.getTable("br", "orders_r")
      assert(renamed.getParameters.get("graft.path") == s"$wh/br/orders_r")
      assert(spark.sql("SELECT count(*) FROM hcat.br.orders_r").head.getLong(0) == 1L)

      // the stamped sync coordinates followed the rename: a write into
      // the RENAMED table syncs its partitions to the NEW entry (stale
      // coordinates would target the renamed-away name forever)
      spark.sql("""INSERT INTO hcat.br.orders_r VALUES
                  |(9, 'z', '2024-03-03', NULL)""".stripMargin)
      val postRename = c.listPartitions("br", "orders_r", (-1): Short)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(postRename == Seq("2024-01-02", "2024-03-03"), postRename.toString)

      // DROP removes the entry (metadata only — deleteData=false)
      spark.sql("DROP TABLE hcat.br.orders_r")
      assert(!c.tableExists("br", "orders_r"))
    } finally c.close()
  }

  test("commit-coupled sync is delta-only: O(1) HMS calls, no full listing") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.dl")
    spark.sql("""CREATE TABLE hcat.dl.events_h
                |(k BIGINT, v STRING, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true')""".stripMargin)
    // seed N partitions in one commit
    val seed = (1 to 10).map(i => s"(CAST($i AS BIGINT), 'v', '2024-02-${"%02d".format(i)}')")
    spark.sql(s"INSERT INTO hcat.dl.events_h VALUES ${seed.mkString(",")}")
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    HmsBridge.callProbe = Some(calls.add(_))
    try {
      // a 1-partition commit into the 10-partition table: exactly one
      // batched add_partitions, never a listing or a manifest-wide walk
      spark.sql("INSERT INTO hcat.dl.events_h VALUES (99, 'n', '2024-03-01')")
      val names = calls.asScala.toSeq
      assert(names.count(_ == "add_partitions") == 1, names.toString)
      assert(!names.exists(_.startsWith("listPartition")),
        s"delta sync must never list all partitions: $names")
      assert(names.forall(n => n == "add_partitions" || n == "close"), names.toString)

      // a commit into an ALREADY-SEEN partition: zero metastore calls
      calls.clear()
      spark.sql("INSERT INTO hcat.dl.events_h VALUES (100, 'm', '2024-03-01')")
      assert(calls.isEmpty, s"cached partition must cost zero HMS calls: ${calls.asScala}")
    } finally HmsBridge.callProbe = None
    // the new partition actually landed in HMS
    val c = HmsBridge.client(hmsOpts)
    try {
      val parts = c.listPartitions("dl", "events_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).toSet
      assert(parts.contains("2024-03-01") && parts.size == 11, parts.toString)
    } finally c.close()
  }

  test("sync_hms_partitions procedure reconciles adds and drops") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.rc")
    spark.sql("""CREATE TABLE hcat.rc.t_h
                |(k BIGINT, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true')""".stripMargin)
    spark.sql("INSERT INTO hcat.rc.t_h VALUES (1, 'a'), (2, 'b')")
    // make HMS drift BOTH ways: a stale extra partition and a missing one
    val c = HmsBridge.client(hmsOpts)
    try {
      c.dropPartition("rc", "t_h", Seq("a").asJava, false)
      val t = c.getTable("rc", "t_h")
      val stale = new org.apache.hadoop.hive.metastore.api.Partition()
      stale.setDbName("rc"); stale.setTableName("t_h")
      stale.setValues(Seq("zzz").asJava)
      stale.setSd(t.getSd.deepCopy())
      stale.getSd.setLocation(t.getSd.getLocation + "/data/dt=zzz")
      stale.setParameters(new java.util.HashMap[String, String]())
      c.add_partition(stale)
      val msg = spark.sql("CALL hcat.sys.sync_hms_partitions('rc.t_h')")
        .head.getString(0)
      assert(msg == "added 1, dropped 1 HMS partitions", msg)
      val parts = c.listPartitions("rc", "t_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("a", "b"), parts.toString)
    } finally c.close()
  }

  test("static overwrite mirrors emptied partitions into HMS") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.ow")
    spark.sql("""CREATE TABLE hcat.ow.t_h
                |(k BIGINT, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true',
                |  'dynamic-partition-overwrite'='false')""".stripMargin)
    spark.sql("INSERT INTO hcat.ow.t_h VALUES (1, 'a'), (2, 'b')")
    // static overwrite writing only 'a': partition 'b' is removed from
    // the table and must disappear from HMS too
    spark.sql("INSERT OVERWRITE hcat.ow.t_h VALUES (3, 'a')")
    val c = HmsBridge.client(hmsOpts)
    try {
      val parts = c.listPartitions("ow", "t_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).toSeq
      assert(parts == Seq("a"),
        s"emptied partition must drop from HMS, got $parts")
    } finally c.close()
    // HMS is fully consistent: the repair procedure finds nothing to fix
    val msg = spark.sql("CALL hcat.sys.sync_hms_partitions('ow.t_h')")
      .head.getString(0)
    assert(msg == "added 0, dropped 0 HMS partitions", msg)
  }

  test("drop + recreate starts the partition cache cold (no stale skips)") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.cc")
    def create(): Unit = spark.sql(
      """CREATE TABLE hcat.cc.warm_h
        |(k BIGINT, dt STRING)
        |PARTITIONED BY (dt)
        |TBLPROPERTIES ('metastore.partitioned-table'='true')""".stripMargin)
    create()
    // warm the process-wide cache for partition 'a'
    spark.sql("INSERT INTO hcat.cc.warm_h VALUES (1, 'a')")
    spark.sql("DROP TABLE hcat.cc.warm_h")
    // recreate the SAME name in the same JVM: the first commit into
    // 'a' must issue add_partitions again — a stale warm entry would
    // silently skip it and the new HMS table would miss the partition
    create()
    spark.sql("INSERT INTO hcat.cc.warm_h VALUES (2, 'a')")
    val c = HmsBridge.client(hmsOpts)
    try {
      val parts = c.listPartitions("cc", "warm_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).toSeq
      assert(parts == Seq("a"),
        s"recreated table must re-register its partitions, got $parts")
    } finally c.close()
  }

  test("repair recreates a dropped HMS entry and reconciles partitions") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.fix")
    spark.sql("""CREATE TABLE hcat.fix.r_h
                |(k BIGINT, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true')""".stripMargin)
    spark.sql("INSERT INTO hcat.fix.r_h VALUES (1, 'a'), (2, 'b')")
    // simulate out-of-band metastore damage: the entry disappears
    val c = HmsBridge.client(hmsOpts)
    try c.dropTable("fix", "r_h", false, true) finally c.close()
    val msg = spark.sql("CALL hcat.sys.repair('fix.r_h')").head.getString(0)
    assert(msg.startsWith("fix.r_h: HMS entry synced"), msg)
    val c2 = HmsBridge.client(hmsOpts)
    try {
      assert(c2.tableExists("fix", "r_h"), "repair must recreate the entry")
      val parts = c2.listPartitions("fix", "r_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("a", "b"), parts.toString)
    } finally c2.close()
  }

  test("repair adopts an outside-created partitioned table: coords stamped, partitions registered") {
    registerCatalog()
    import org.apache.spark.sql.types._
    import spark.implicits._
    // created via the library API (no catalog): requests partition
    // sync but has no stamped hms.* coordinates — repair must stamp
    // them and register the partitions, not report "+0 -0" forever
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("dt", StringType, nullable = false)))
    val t = GraftTable.create(spark, s"$wh/ob/out_h", sch,
      partitionKeys = Seq("dt"),
      options = Map("metastore.partitioned-table" -> "true"))
    t.write(Seq((1L, "a"), (2L, "b")).toDF("k", "dt"))
    val msg = spark.sql("CALL hcat.sys.repair('ob.out_h')").head.getString(0)
    assert(msg.contains("partitions +2 -0"), msg)
    val c = HmsBridge.client(hmsOpts)
    try {
      val parts = c.listPartitions("ob", "out_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("a", "b"), parts.toString)
    } finally c.close()
    // the stamped coords make FUTURE commits delta-sync too
    val t2 = GraftTable.load(spark, s"$wh/ob/out_h")
    t2.write(Seq((3L, "c")).toDF("k", "dt"))
    val c2 = HmsBridge.client(hmsOpts)
    try {
      val parts = c2.listPartitions("ob", "out_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("a", "b", "c"), parts.toString)
    } finally c2.close()
  }

  test("repair re-stamps STALE coords: a moved table reconciles into ITS entry") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.mva")
    spark.sql("""CREATE TABLE hcat.mva.mv_h
                |(k BIGINT, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true')""".stripMargin)
    spark.sql("INSERT INTO hcat.mva.mv_h VALUES (1, 'a'), (2, 'b')")
    // move the table out-of-band (raw fs) to another database dir —
    // its options still carry hms.database=mva/hms.table=mv_h; a
    // repair that only stamps ABSENT coords would reconcile the
    // partitions into the dead mva entry while reporting success
    val src = java.nio.file.Paths.get(wh, "mva", "mv_h")
    val dst = java.nio.file.Paths.get(wh, "mvb", "mv_h")
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(src, dst)
    val msg = spark.sql("CALL hcat.sys.repair('mvb.mv_h')").head.getString(0)
    assert(msg.contains("partitions +2"), msg)
    val c = HmsBridge.client(hmsOpts)
    try {
      val parts = c.listPartitions("mvb", "mv_h", (-1): Short)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("a", "b"),
        s"partitions must land in mvb.mv_h, got $parts")
    } finally c.close()
    // and the coords now name the new identity
    val opts = GraftTable.load(spark, dst.toString).schema.options
    assert(opts.get("hms.database").contains("mvb"), opts.toString)
    assert(opts.get("hms.table").contains("mv_h"), opts.toString)
  }

  test("ALTER NAMESPACE property changes land on the HMS Database entry") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.hprops")
    spark.sql("ALTER NAMESPACE hcat.hprops SET PROPERTIES ('team'='etl')")
    val c = spark.sessionState.catalogManager.catalog("hcat")
      .asInstanceOf[graft.sources.GraftHmsCatalog]
    assert(c.loadNamespaceMetadata(Array("hprops")).get("team") == "etl")
    // visible to a DIFFERENT client of the same metastore
    assert(HmsBridge.databaseParams(hmsOpts, "hprops").get("team").contains("etl"))
    c.alterNamespace(Array("hprops"),
      org.apache.spark.sql.connector.catalog.NamespaceChange.removeProperty("team"))
    assert(c.loadNamespaceMetadata(Array("hprops")).get("team") == null)
  }

  test("read-through: an HMS entry resolves a graft table outside the warehouse") {
    registerCatalog()
    // a graft table living at an EXTERNAL path (not under the catalog
    // warehouse), registered in HMS by path — the brownfield shape
    val ext = Files.createTempDirectory("graft-hms-ext").toString + "/t"
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val gt = GraftTable.create(spark, ext, sch)
    gt.write(spark.createDataFrame(
      Seq(Row(1L, "x"), Row(2L, "y"), Row(3L, "z")).asJava, sch))
    HmsBridge.ensureDatabase(hmsOpts, "extdb")
    HmsBridge.mirrorCreate(hmsOpts, "extdb", "ext_t", gt)
    // nothing at <warehouse>/extdb/ext_t — resolution MUST go through HMS
    assert(!GraftTable.exists(s"$wh/extdb/ext_t"))
    val got = spark.sql("SELECT k, v FROM hcat.extdb.ext_t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // the same read-through shape via the user-facing procedure
    val ext2 = Files.createTempDirectory("graft-hms-reg").toString + "/t2"
    val gt2 = GraftTable.create(spark, ext2, sch)
    gt2.write(spark.createDataFrame(Seq(Row(9L, "r")).asJava, sch))
    val msg = spark.sql(
      s"CALL hcat.sys.register_table('extdb.ext_p', '$ext2')").head.getString(0)
    assert(msg.contains("registered"), msg)
    assert(spark.sql("SELECT count(*) FROM hcat.extdb.ext_p").head.getLong(0) == 1L)
    val msg2 = spark.sql(
      s"CALL hcat.sys.register_table('extdb.ext_p', '$ext2')").head.getString(0)
    assert(msg2.contains("already registered"), msg2)
  }

  test("mark-done actions: done-partition registers the .done HMS partition, " +
    "mark-event fires LOAD_DONE, http-report posts and requires SUCCESS") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.md")
    spark.sql("""CREATE TABLE hcat.md.t (k BIGINT, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('metastore.partitioned-table'='true',
                |  'partition.mark-done-action'='success-file,done-partition,mark-event')""".stripMargin)
    spark.sql("INSERT INTO hcat.md.t VALUES (1, '2024-01-01')")
    spark.sql("CALL hcat.sys.mark_partition_done('md.t', 'dt=2024-01-01')")
    val c = HmsBridge.client(hmsOpts)
    try {
      val parts = c.listPartitions("md", "t", Short.MaxValue)
        .asScala.map(_.getValues.asScala.head).sorted
      assert(parts.contains("2024-01-01.done"), parts.toString)
      assert(c.isPartitionMarkedForEvent("md", "t",
        Map("dt" -> "2024-01-01").asJava,
        org.apache.hadoop.hive.metastore.api.PartitionEventType.LOAD_DONE))
    } finally c.close()
    // the _SUCCESS marker landed too (success-file listed first)
    assert(Files.exists(java.nio.file.Paths.get(
      s"$wh/md/t/data/dt=2024-01-01/_SUCCESS")))

    // http-report: a local endpoint accepts, records the body, answers
    // SUCCESS; a FAILED answer must raise
    @volatile var seen: String = null
    @volatile var answer = """{"result":"SUCCESS"}"""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/done", (x: com.sun.net.httpserver.HttpExchange) => {
      seen = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      val out = answer.getBytes("UTF-8")
      x.sendResponseHeaders(200, out.length)
      x.getResponseBody.write(out)
      x.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/done"
      spark.sql(s"""CREATE TABLE hcat.md.h (k BIGINT, dt STRING)
                   |PARTITIONED BY (dt)
                   |TBLPROPERTIES ('partition.mark-done-action'='http-report',
                   |  'partition.mark-done-action.http.url'='$url',
                   |  'partition.mark-done-action.http.params'='team=data')""".stripMargin)
      spark.sql("INSERT INTO hcat.md.h VALUES (1, '2024-02-02')")
      spark.sql("CALL hcat.sys.mark_partition_done('md.h', 'dt=2024-02-02')")
      assert(seen != null && seen.contains("2024-02-02") &&
        seen.contains("team=data"), seen)
      answer = """{"result":"FAILED"}"""
      val err = intercept[Exception] {
        spark.sql("CALL hcat.sys.mark_partition_done('md.h', 'dt=2024-02-02')")
      }
      assert(err.getMessage.contains("http-report") ||
        Option(err.getCause).exists(_.getMessage.contains("http-report")), err.toString)
    } finally server.stop(0)

    // unknown action fails loudly, never a silent skip
    spark.sql("""CREATE TABLE hcat.md.bad (k BIGINT, dt STRING)
                |PARTITIONED BY (dt)
                |TBLPROPERTIES ('partition.mark-done-action'='carrier-pigeon')""".stripMargin)
    val bad = intercept[Exception] {
      spark.sql("CALL hcat.sys.mark_partition_done('md.bad', 'dt=x')")
    }
    assert(bad.getMessage.contains("carrier-pigeon") ||
      Option(bad.getCause).exists(_.getMessage.contains("carrier-pigeon")), bad.toString)
  }

  test("metastore.tag-to-partition mirrors tags as partitions of the synthetic key") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.t2p")
    spark.sql("""CREATE TABLE hcat.t2p.t (k BIGINT, v STRING)
                |TBLPROPERTIES ('metastore.tag-to-partition'='tag')""".stripMargin)
    spark.sql("INSERT INTO hcat.t2p.t VALUES (1, 'a')")
    val c = HmsBridge.client(hmsOpts)
    try {
      // the HMS entry carries the synthetic partition key
      val t = c.getTable("t2p", "t")
      assert(t.getPartitionKeys.asScala.map(_.getName).toSeq == Seq("tag"))
      spark.sql("CALL hcat.sys.create_tag('t2p.t', 'v1')")
      spark.sql("INSERT INTO hcat.t2p.t VALUES (2, 'b')")
      spark.sql("CALL hcat.sys.create_tag('t2p.t', 'v2')")
      val partsFull = c.listPartitions("t2p", "t", Short.MaxValue).asScala
      val parts = partsFull.map(_.getValues.asScala.head).sorted
      assert(parts == Seq("v1", "v2"), parts.toString)
      // the partition SD must point at a directory that actually SERVES
      // the tag's rows through Hive's own parquet reader — v1 holds only
      // the first row, v2 both (ADVICE r13: the old tag/<name> location
      // never existed and read zero rows)
      def locOf(tag: String): String = // HMS canonicalizes to file: URIs
        partsFull.find(_.getValues.asScala.head == tag).get.getSd.getLocation
          .stripPrefix("file:")
      assert(new java.io.File(locOf("v1")).isDirectory, locOf("v1"))
      assert(spark.read.parquet(locOf("v1")).select("k")
        .collect().map(_.getLong(0)).toSet == Set(1L))
      assert(spark.read.parquet(locOf("v2")).select("k")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // hard links, not copies: tag bytes share the table's data files
      assert(java.nio.file.Files.walk(java.nio.file.Paths.get(locOf("v1")))
        .filter(p => p.toString.endsWith(".parquet"))
        .allMatch(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue() >= 2))
      val v1dir = locOf("v1")
      spark.sql("CALL hcat.sys.delete_tag('t2p.t', 'v1')")
      val after = c.listPartitions("t2p", "t", Short.MaxValue)
        .asScala.map(_.getValues.asScala.head)
      assert(after == Seq("v2"), after.toString)
      assert(!new java.io.File(v1dir).exists(), "dropped tag's dir cleaned")
      // PK tables (raw LSM runs are not Hive-readable) register the
      // partition as an explicit signal-only marker at the table path
      spark.sql("""CREATE TABLE hcat.t2p.pk (k BIGINT, v STRING)
                  |TBLPROPERTIES ('primary-key'='k',
                  |  'metastore.tag-to-partition'='tag')""".stripMargin)
      spark.sql("INSERT INTO hcat.t2p.pk VALUES (1, 'a')")
      spark.sql("CALL hcat.sys.create_tag('t2p.pk', 'p1')")
      val pkPart = c.listPartitions("t2p", "pk", Short.MaxValue).asScala
        .find(_.getValues.asScala.head == "p1").get
      assert(pkPart.getParameters.get("graft.signal-only") == "true")
      assert(new java.io.File(
        pkPart.getSd.getLocation.stripPrefix("file:")).isDirectory,
        "marker SD points at the (existing) table path")
    } finally c.close()
    // colliding field name is rejected at CREATE
    val err = intercept[Exception] {
      spark.sql("""CREATE TABLE hcat.t2p.bad (k BIGINT, v STRING)
                  |TBLPROPERTIES ('metastore.tag-to-partition'='v')""".stripMargin)
    }
    assert(err.getMessage.contains("collides") ||
      Option(err.getCause).exists(_.getMessage.contains("collides")), err.toString)
  }

  test("a foreign HMS entry under the table's name is refused, not adopted") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hcat.fe")
    HmsBridge.ensureDatabase(hmsOpts, "fe")
    val c = HmsBridge.client(hmsOpts)
    try {
      // a plain Hive table already owns fe.hive_t
      val foreign = new org.apache.hadoop.hive.metastore.api.Table()
      foreign.setDbName("fe")
      foreign.setTableName("hive_t")
      foreign.setTableType("EXTERNAL_TABLE")
      val sd = new org.apache.hadoop.hive.metastore.api.StorageDescriptor()
      sd.setCols(java.util.Collections.singletonList(
        new org.apache.hadoop.hive.metastore.api.FieldSchema("x", "int", null)))
      sd.setLocation(Files.createTempDirectory("graft-hms-foreign").toString)
      val serde = new org.apache.hadoop.hive.metastore.api.SerDeInfo()
      serde.setParameters(new java.util.HashMap[String, String]())
      sd.setSerdeInfo(serde)
      foreign.setSd(sd)
      foreign.setParameters(new java.util.HashMap[String, String]())
      foreign.setPartitionKeys(java.util.Collections.emptyList())
      c.createTable(foreign)
      val err = intercept[Exception] {
        spark.sql("CREATE TABLE hcat.fe.hive_t (k BIGINT, v STRING)")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(err).exists(_.contains("foreign entry")), err.toString)
      // the Hive entry is untouched
      val still = c.getTable("fe", "hive_t")
      assert(still.getParameters.get("table_type") == null)
      assert(still.getSd.getCols.asScala.map(_.getName).toSeq == Seq("x"))
    } finally c.close()
    // a GRAFT entry for ANOTHER path is foreign too; the same path is
    // this table's own entry (a retried create) and is accepted
    val sch = StructType(Seq(StructField("k", LongType, nullable = false)))
    val a = GraftTable.create(spark, Files.createTempDirectory("graft-hms-a").toString + "/t", sch)
    val b = GraftTable.create(spark, Files.createTempDirectory("graft-hms-b").toString + "/t", sch)
    HmsBridge.mirrorCreate(hmsOpts, "fe", "shared", a)
    HmsBridge.mirrorCreate(hmsOpts, "fe", "shared", a)
    val other = intercept[IllegalStateException](
      HmsBridge.mirrorCreate(hmsOpts, "fe", "shared", b))
    assert(other.getMessage.contains(a.path), other.getMessage)
    assert(HmsBridge.tablePath(hmsOpts, "fe", "shared").contains(a.path))
  }
}
