package graft.sources

import graft.core.Meta
import graft.table.GraftTable
import org.apache.hadoop.hive.conf.HiveConf
import org.apache.hadoop.hive.metastore.{HiveMetaStoreClient, IMetaStoreClient}
import org.apache.hadoop.hive.metastore.api.{Database, FieldSchema, Partition, SerDeInfo, StorageDescriptor, Table => HmsTable}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** Hive Metastore bridge (reference: paimon-hive/paimon-hive-catalog
  * .../hive/HiveCatalog.java:132 + the `metastore.partitioned-table`
  * commit callbacks in MetastoreClient): most existing Spark estates
  * resolve tables through HMS, so graft tables mirror their metadata
  * there — DDL through [[GraftHmsCatalog]] creates/alters/drops the
  * HMS entry alongside the warehouse table, identifiers resolve
  * READ-THROUGH (an HMS entry whose `graft.path` points outside the
  * warehouse still loads), and tables with `metastore.partitioned-table
  * = true` sync their live partition set into HMS on every commit so
  * Hive/Impala-side tooling sees partitions appear and disappear.
  *
  * Connection: `hms.uris` (thrift://...) for a real metastore, or
  * `hms.local-dir` for the JDK-embedded Derby-backed metastore the
  * specs and single-node deployments use (the standard Hive embedded
  * mode — same client API, no server).
  */
object HmsBridge {

  /** Marker params stamped on mirrored HMS entries. */
  val TableTypeParam = "table_type"
  val TableTypeValue = "GRAFT"
  val PathParam = "graft.path"

  /** HMS database names cannot hold dots: multi-level namespaces
    * flatten with `__`. */
  def dbName(namespace: Array[String]): String = namespace.mkString("__")

  def client(opts: Map[String, String]): IMetaStoreClient = {
    val conf = new HiveConf()
    opts.get("hms.uris").filter(_.nonEmpty) match {
      case Some(uris) => conf.setVar(HiveConf.ConfVars.METASTOREURIS, uris)
      case None =>
        val dir = opts.getOrElse("hms.local-dir", throw new IllegalArgumentException(
          "set hms.uris (thrift metastore) or hms.local-dir (embedded)"))
        conf.setVar(HiveConf.ConfVars.METASTOREURIS, "")
        conf.setVar(HiveConf.ConfVars.METASTOREWAREHOUSE, s"$dir/hive-warehouse")
        conf.setVar(HiveConf.ConfVars.METASTORECONNECTURLKEY,
          s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
        conf.setBoolVar(HiveConf.ConfVars.METASTORE_SCHEMA_VERIFICATION, false)
        conf.setBoolVar(HiveConf.ConfVars.METASTORE_AUTO_CREATE_ALL, true)
        System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    }
    new HiveMetaStoreClient(conf)
  }

  /** Test instrumentation: when set, receives the name of every
    * IMetaStoreClient method invoked through [[withClient]] — how the
    * specs assert a 1-partition commit performs O(1) metastore calls
    * and never lists all partitions. */
  @volatile private[graft] var callProbe: Option[String => Unit] = None

  /** One long-lived client per metastore endpoint (r17): every
    * withClient used to build a fresh HiveConf (XML parsing) and open a
    * fresh Derby/thrift connection, costing hundreds of ms per
    * metastore CALL — connection reuse is how any real HMS consumer
    * behaves. Access is serialized per endpoint (HiveMetaStoreClient is
    * not thread-safe); a client that died (closed thrift socket,
    * recycled metastore) is evicted and rebuilt once. */
  private val cachedClients =
    new java.util.concurrent.ConcurrentHashMap[String, IMetaStoreClient]

  /** Wrap a client with the call-probe proxy when instrumentation is
    * active (r18: factored out of withClient's two duplicated copies). */
  private def probed(raw: IMetaStoreClient): IMetaStoreClient = callProbe match {
    case None => raw
    case Some(probe) =>
      java.lang.reflect.Proxy.newProxyInstance(
        raw.getClass.getClassLoader, Array(classOf[IMetaStoreClient]),
        (_, m, as) => {
          probe(m.getName)
          try m.invoke(raw, as: _*)
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        }).asInstanceOf[IMetaStoreClient]
  }

  private def withClient[T](opts: Map[String, String])(f: IMetaStoreClient => T): T = {
    val key = opts.get("hms.uris").filter(_.nonEmpty)
      .map("uris:" + _)
      .getOrElse("dir:" + opts.getOrElse("hms.local-dir", ""))
    val raw = cachedClients.computeIfAbsent(key, _ => client(opts))
    raw.synchronized {
      try f(probed(raw))
      catch {
        case _: org.apache.thrift.transport.TTransportException =>
          // stale cached connection (transport-level failure only —
          // application exceptions like NoSuchObjectException are
          // normal results and must not recycle the client): rebuild
          // once and retry the call. NOTE the retry re-executes f
          // blindly, so every f routed through here must be IDEMPOTENT
          // against its own half-applied first attempt — the mirroring
          // ops are (create tolerates AlreadyExists for its own entry,
          // drop tolerates NoSuchObject, alter re-derives the same target
          // state from the current schema; reads are trivially idempotent).
          cachedClients.remove(key, raw)
          try raw.close() catch { case _: Throwable => }
          val fresh = cachedClients.computeIfAbsent(key, _ => client(opts))
          fresh.synchronized(f(probed(fresh)))
      }
    }
  }

  /** Hive column type of a stored field DDL — Spark's catalogString is
    * the Hive-compatible lowercase form; graft-level MULTISET/CHAR/
    * VARCHAR map through their runtime types first. */
  private def hiveType(ddl: String): String = Meta.sparkTypeOf(ddl).catalogString

  private def fieldSchemas(sch: Meta.TableSchema, names: Seq[String]): java.util.List[FieldSchema] =
    names.map { n =>
      val f = sch.fields.find(_.name == n).get
      new FieldSchema(f.name, hiveType(f.dataType), null)
    }.asJava

  private def newSd(sch: Meta.TableSchema, location: String): StorageDescriptor = {
    val sd = new StorageDescriptor()
    val dataCols = sch.fields.map(_.name).filterNot(sch.partitionKeys.contains)
    sd.setCols(fieldSchemas(sch, dataCols))
    sd.setLocation(location)
    sd.setInputFormat("org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat")
    sd.setOutputFormat("org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat")
    val serde = new SerDeInfo()
    serde.setSerializationLib("org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe")
    serde.setParameters(new java.util.HashMap[String, String]())
    sd.setSerdeInfo(serde)
    sd.setParameters(new java.util.HashMap[String, String]())
    sd.setBucketCols(java.util.Collections.emptyList())
    sd.setSortCols(java.util.Collections.emptyList())
    sd
  }

  def ensureDatabase(opts: Map[String, String], db: String): Unit =
    withClient(opts) { c =>
      try c.createDatabase(new Database(db, "graft namespace", null, null))
      catch { case _: org.apache.hadoop.hive.metastore.api.AlreadyExistsException => () }
    }

  /** Property changes on the HMS Database entry (reference:
    * HiveCatalog.alterDatabaseImpl — parameters map on the Database). */
  def alterDatabaseParams(opts: Map[String, String], db: String,
      set: Map[String, String], remove: Set[String]): Unit =
    withClient(opts) { c =>
      val d = c.getDatabase(db)
      val params = new java.util.HashMap[String, String](
        Option(d.getParameters).getOrElse(java.util.Collections.emptyMap()))
      set.foreach { case (k, v) => params.put(k, v) }
      remove.foreach(params.remove(_))
      d.setParameters(params)
      c.alterDatabase(db, d)
    }

  def databaseParams(opts: Map[String, String], db: String): Map[String, String] =
    withClient(opts) { c =>
      try {
        val d = c.getDatabase(db)
        val b = Map.newBuilder[String, String]
        Option(d.getParameters).foreach(_.forEach((k, v) => b += k -> v))
        b.result()
      } catch {
        case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException =>
          Map.empty
      }
    }

  def mirrorCreate(
      opts: Map[String, String], db: String, name: String, gt: GraftTable): Unit =
    withClient(opts)(c => createEntry(c, db, name, gt))

  private def createEntry(
      c: IMetaStoreClient, db: String, name: String, gt: GraftTable): Unit = {
    val sch = gt.schema
    val t = new HmsTable()
    t.setDbName(db)
    t.setTableName(name)
    t.setTableType("EXTERNAL_TABLE")
    t.setOwner(System.getProperty("user.name", "graft"))
    t.setCreateTime((System.currentTimeMillis() / 1000).toInt)
    t.setSd(newSd(sch, gt.path))
    // metastore.tag-to-partition (reference: AddPartitionTagCallback +
    // HiveCatalog tag-to-partition): an UNPARTITIONED table's tags
    // surface as partitions of a synthetic string key, so Hive-side
    // consumers address immutable tags with plain partition syntax
    val tagField = sch.options.get("metastore.tag-to-partition")
      .filter(_ => sch.partitionKeys.isEmpty)
    tagField.foreach(f => require(!sch.fields.exists(_.name == f),
      s"metastore.tag-to-partition field '$f' collides with a data column"))
    t.setPartitionKeys(tagField match {
      case Some(f) => java.util.Collections.singletonList(
        new FieldSchema(f, "string", "graft tag-to-partition"))
      case None => fieldSchemas(sch, sch.partitionKeys)
    })
    val params = new java.util.HashMap[String, String]()
    params.put("EXTERNAL", "TRUE")
    params.put(TableTypeParam, TableTypeValue)
    params.put(PathParam, gt.path)
    if (sch.primaryKeys.nonEmpty)
      params.put("primary-key", sch.primaryKeys.mkString(","))
    t.setParameters(params)
    // idempotent under withClient's transport retry: if the transport
    // dropped AFTER the server applied our first createTable, the
    // retried call finds the entry this very call just created — a
    // graft entry for this very path. Any other entry under the name
    // (a Hive table, another graft table) is not ours to adopt.
    try c.createTable(t)
    catch { case _: org.apache.hadoop.hive.metastore.api.AlreadyExistsException =>
      val params = Option(c.getTable(db, name).getParameters)
        .map(_.asScala.toMap).getOrElse(Map.empty[String, String])
      if (!params.get(TableTypeParam).contains(TableTypeValue) ||
          !params.get(PathParam).contains(gt.path))
        throw new IllegalStateException(
          s"HMS already holds $db.$name as a foreign entry " +
            s"($TableTypeParam=${params.getOrElse(TableTypeParam, "<unset>")}, " +
            s"$PathParam=${params.getOrElse(PathParam, "<unset>")}); " +
            s"refusing to mirror the graft table at ${gt.path} over it")
    }
  }

  /** Re-derive the HMS entry from the table's CURRENT schema (column
    * adds/renames/widenings, option changes). Create-or-update: a
    * missing entry (created outside the HMS catalog, or a transiently
    * failed earlier mirror) is created rather than failing the DDL
    * whose warehouse change already committed. */
  def mirrorAlter(
      opts: Map[String, String], db: String, name: String, gt: GraftTable): Unit =
    withClient(opts) { c =>
      try {
        val existing = c.getTable(db, name)
        val sch = gt.schema
        existing.setSd(newSd(sch, gt.path))
        existing.getParameters.put(PathParam, gt.path)
        if (sch.primaryKeys.nonEmpty)
          existing.getParameters.put("primary-key", sch.primaryKeys.mkString(","))
        c.alter_table(db, name, existing)
      } catch {
        case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException =>
          try c.createDatabase(new Database(db, "graft namespace", null, null))
          catch { case _: org.apache.hadoop.hive.metastore.api.AlreadyExistsException => () }
          createEntry(c, db, name, gt)
      }
    }

  def mirrorDrop(opts: Map[String, String], db: String, name: String): Unit = {
    withClient(opts) { c =>
      try c.dropTable(db, name, /*deleteData=*/ false, /*ignoreUnknown=*/ true)
      catch { case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException => () }
    }
    // a same-name table recreated in this JVM must NOT inherit the old
    // table's warm cache (it would silently skip add_partitions); the
    // reference avoids this by scoping its cache to the commit-callback
    // instance, which dies with the table
    purgeKnown(opts, db, name)
  }

  /** Missing source entries are tolerated (the table was never
    * mirrored); the caller re-mirrors the renamed table instead. */
  def mirrorRename(
      opts: Map[String, String], db: String, name: String,
      newDb: String, newName: String, newPath: String): Boolean =
    withClient(opts) { c =>
      try {
        val t = c.getTable(db, name)
        t.setDbName(newDb)
        t.setTableName(newName)
        t.getSd.setLocation(newPath)
        t.getParameters.put(PathParam, newPath)
        c.alter_table(db, name, t)
        // the old identity's cache entries are dead (and a future table
        // reusing the old name must start cold)
        purgeKnown(opts, db, name)
        true
      } catch {
        case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException => false
      }
    }

  /** Read-through resolution: the table path an HMS entry points at. */
  def tablePath(opts: Map[String, String], db: String, name: String): Option[String] =
    withClient(opts) { c =>
      try {
        val t = c.getTable(db, name)
        Option(t.getParameters.get(PathParam)).orElse(Option(t.getSd.getLocation))
      } catch {
        case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException => None
      }
    }

  /** HMS coordinates of a sync-enabled partitioned table, if any. */
  private def coordsOf(sch: Meta.TableSchema): Option[(Map[String, String], String, String)] =
    if (sch.partitionKeys.isEmpty ||
      !sch.options.get("metastore.partitioned-table").contains("true")) None
    else for {
      db <- sch.options.get("hms.database")
      name <- sch.options.get("hms.table")
    } yield (sch.options, db, name)

  /** Partitions known to already exist in HMS, so repeated commits
    * into the same partitions pay ZERO metastore calls (reference:
    * AddPartitionCommitCallback.java:43-86 — delta partitions through
    * a bounded cache, never a full listing). Process-wide LRU keyed by
    * (connection, db, table, values) with insert-time values; bounded
    * so a 100k-partition estate cannot grow driver memory without
    * limit. [[mirrorDrop]]/[[mirrorRename]] purge a table's entries so
    * a recreated same-name table starts cold.
    *
    * Cross-process staleness window: if ANOTHER writer drops/expires a
    * partition from HMS, this JVM's warm entry still marks it known,
    * so re-inserting data into it would skip re-registration (the
    * reference shares this window). Entries therefore expire after
    * [[CacheTtlMs]], letting long-lived drivers self-heal without a
    * manual `CALL sys.sync_hms_partitions`. */
  private val CacheCap = 10000
  private[sources] val CacheTtlMs: Long = 30 * 60 * 1000L
  private val knownPartitions =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size() > CacheCap
      })

  /** Fresh (non-expired) cache hit? Expired entries are dropped. */
  private def knownFresh(key: String): Boolean = {
    val t = knownPartitions.get(key)
    if (t == null) false
    else if (System.currentTimeMillis() - t <= CacheTtlMs) true
    else { knownPartitions.remove(key); false }
  }

  /** Drop every cache entry of one (connection, db, table) identity. */
  private def purgeKnown(opts: Map[String, String], db: String, name: String): Unit = {
    val prefix = Seq(opts.getOrElse("hms.uris", opts.getOrElse("hms.local-dir", "")),
      db, name, "").mkString("\u0000")
    knownPartitions.synchronized {
      knownPartitions.keySet.removeIf(_.startsWith(prefix))
    }
  }

  private def cacheKey(
      opts: Map[String, String], db: String, name: String, values: Seq[String]): String =
    Seq(opts.getOrElse("hms.uris", opts.getOrElse("hms.local-dir", "")),
      db, name, values.mkString("\u0001")).mkString("\u0000")

  private def mkPartition(
      gt: GraftTable, sch: Meta.TableSchema, db: String, name: String,
      values: Seq[String]): Partition = {
    val p = new Partition()
    p.setDbName(db)
    p.setTableName(name)
    p.setValues(values.asJava)
    p.setCreateTime((System.currentTimeMillis() / 1000).toInt)
    val dirName = sch.partitionKeys.zip(values)
      .map { case (k, v) => s"$k=$v" }.mkString("/")
    p.setSd(newSd(sch, s"${gt.path}/data/$dirName"))
    p.setParameters(new java.util.HashMap[String, String]())
    p
  }

  /** Commit-coupled partition sync (reference:
    * AddPartitionCommitCallback driven by `metastore.partitioned-table`):
    * register ONLY the partitions the commit's delta manifest touched,
    * filtered through [[knownPartitions]] — O(commit delta) work and
    * usually zero metastore calls, NEVER a full partition listing or a
    * whole-manifest walk (O(total partitions) per commit dies at 100k
    * partitions × frequent commits). Drops are handled by the
    * partition-expire paths and `CALL sys.sync_hms_partitions`
    * ([[reconcilePartitions]]). Called from the table's onCommit hook;
    * a sync failure is logged by the hook machinery, never failing the
    * commit. */
  def syncCommitDelta(gt: GraftTable, snapshotId: Long): Unit = {
    val sch = gt.schema
    val (opts, db, name) = coordsOf(sch).getOrElse(return)
    val touched = gt.sm.snapshot(snapshotId).deltaManifest.toSeq
      .flatMap(gt.sm.readManifest)
      .collect { case e if e.kind == "ADD" =>
        sch.partitionKeys.map(k => e.partition.getOrElse(k, "")) }
      .distinct
    val novel = touched.filterNot(v =>
      knownFresh(cacheKey(opts, db, name, v)))
    if (novel.isEmpty) return // no client round-trip at all
    withClient(opts) { c =>
      // one batched ifNotExists add for the whole commit
      c.add_partitions(
        novel.map(v => mkPartition(gt, sch, db, name, v)).asJava,
        /*ifNotExists=*/ true, /*needResults=*/ false)
    }
    novel.foreach(v =>
      knownPartitions.put(cacheKey(opts, db, name, v),
        java.lang.Long.valueOf(System.currentTimeMillis())))
  }

  /** Full reconciliation — the table's LIVE partition set (a manifest
    * walk) diffed against a COMPLETE HMS listing, adding and dropping
    * the difference. Deliberately NOT commit-coupled: this is the
    * explicit repair path (`CALL sys.sync_hms_partitions`, table
    * creation over existing data) — per-commit upkeep goes through
    * [[syncCommitDelta]]. Returns (added, dropped) counts. */
  def reconcilePartitions(gt: GraftTable): (Int, Int) = {
    val sch = gt.schema
    val (opts, db, name) = coordsOf(sch).getOrElse(return (0, 0))
    val live = gt.sm.latestSnapshot().map(gt.sm.liveEntries).getOrElse(Seq.empty)
      .map(e => sch.partitionKeys.map(k => e.partition.getOrElse(k, "")))
      .distinct.toSet
    withClient(opts) { c =>
      // max = -1: ALL partitions (a positive cap would silently
      // truncate the existing-set on >32k-partition tables, so stale
      // HMS partitions past the cap would never be dropped)
      val existing = c.listPartitions(db, name, -1: Short).asScala
        .map(_.getValues.asScala.toSeq).toSet
      val toAdd = (live -- existing).toSeq
      val toDrop = (existing -- live).toSeq
      if (toAdd.nonEmpty)
        c.add_partitions(
          toAdd.map(v => mkPartition(gt, sch, db, name, v)).asJava,
          /*ifNotExists=*/ true, /*needResults=*/ false)
      toDrop.foreach { values =>
        try c.dropPartition(db, name, values.asJava, /*deleteData=*/ false)
        catch { case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException => () }
        knownPartitions.remove(cacheKey(opts, db, name, values))
      }
      toAdd.foreach(v =>
        knownPartitions.put(cacheKey(opts, db, name, v),
        java.lang.Long.valueOf(System.currentTimeMillis())))
      (toAdd.size, toDrop.size)
    }
  }

  /** Mirror dropped partitions into HMS — rides the partition-expire
    * and drop-partition paths (reference: the metastore client's
    * dropPartition callback from PartitionExpire). Partition values
    * must be COMPLETE specs (every partition key present). */
  /** Mirror a tag's lifecycle as an HMS partition of the synthetic
    * `metastore.tag-to-partition` key (reference:
    * AddPartitionTagCallback.java:39/50). No-op without HMS coords or
    * the option; applies to unpartitioned tables only (the synthetic
    * key IS the partitioning). */
  def mirrorTagPartition(gt: GraftTable, tag: String, created: Boolean): Unit = {
    val sch = gt.schema
    if (sch.partitionKeys.nonEmpty) return
    if (!sch.options.contains("metastore.tag-to-partition")) return
    val coords = for {
      db <- sch.options.get("hms.database")
      name <- sch.options.get("hms.table")
    } yield (db, name)
    val (db, name) = coords.getOrElse(return)
    withClient(sch.options) { c =>
      if (created) {
        val p = new Partition()
        p.setDbName(db)
        p.setTableName(name)
        p.setValues(java.util.Collections.singletonList(tag))
        p.setCreateTime((System.currentTimeMillis() / 1000).toInt)
        p.setParameters(new java.util.HashMap[String, String]())
        // Hive-side consumers must find the tag's ROWS at the
        // partition location (the feature's purpose), so the tag's
        // live parquet files materialize under tag-data/<tag> —
        // hard-linked, so no data copy on a local filesystem. Tags
        // whose files are not raw-readable (LSM runs, DVs, patches)
        // register as signal-only markers instead: SD at the table
        // path + parameter graft.signal-only=true, explicit rather
        // than silently serving zero (or wrong) rows.
        materializeTagData(gt, sch, tag) match {
          case Some(dir) => p.setSd(newSd(sch, dir))
          case None =>
            p.setSd(newSd(sch, gt.path))
            p.getParameters.put("graft.signal-only", "true")
        }
        p.getParameters.put("graft.tag", tag)
        c.add_partitions(java.util.Collections.singletonList(p),
          /*ifNotExists=*/ true, /*needResults=*/ false)
      } else {
        try c.dropPartition(db, name,
          java.util.Collections.singletonList(tag), /*deleteData=*/ false)
        catch { case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException => () }
        try {
          val dir = java.nio.file.Paths.get(s"${gt.path}/tag-data/$tag")
          if (java.nio.file.Files.isDirectory(dir)) {
            graft.core.FsUtil.listAll(dir).foreach(java.nio.file.Files.deleteIfExists)
            java.nio.file.Files.deleteIfExists(dir)
          }
        } catch { case _: Exception => () } // object-store path: no local dir
      }
    }
  }

  /** Link (never copy) the tag snapshot's live data files under
    * `tag-data/<tag>` so the HMS partition's SD points at a directory
    * that actually serves the tag's rows through Hive's own parquet
    * reader. Raw-readable cases only: append parquet tables on the
    * current schema with no deletion vectors and no column patches —
    * anything else returns None and the caller registers a
    * signal-only marker. Hard links keep the bytes shared with the
    * table (and alive past snapshot expiry — the tag holds them live
    * anyway); non-local storage (gvfs/object URIs) returns None. */
  private def materializeTagData(
      gt: GraftTable, sch: Meta.TableSchema, tag: String): Option[String] =
    try {
      if (sch.primaryKeys.nonEmpty || sch.fileFormat != "parquet") return None
      val snapId = gt.sm.tags.getOrElse(tag, return None)
      val snap = gt.sm.snapshot(snapId)
      if (snap.colPatches.exists(_.nonEmpty)) return None
      val entries = gt.sm.liveEntries(snap)
      if (entries.exists(e => e.file.dvFile.isDefined || e.file.schemaId != sch.id))
        return None
      val dir = java.nio.file.Paths.get(s"${gt.path}/tag-data/$tag")
      java.nio.file.Files.createDirectories(dir)
      entries.zipWithIndex.foreach { case (e, i) =>
        val src = java.nio.file.Paths.get(s"${gt.path}/${e.file.fileName}")
        val base = src.getFileName.toString
        val dst = dir.resolve(s"t$i-$base")
        if (!java.nio.file.Files.exists(dst)) java.nio.file.Files.createLink(dst, src)
      }
      Some(dir.toString)
    } catch { case _: Exception => None }

  /** `partition.mark-done-action=done-partition` (reference:
    * AddDonePartitionAction.java:43): register a companion partition
    * whose LAST value carries a `.done` suffix — downstream schedulers
    * watching the metastore see completion as a partition, no
    * filesystem polling. No-op for tables without HMS sync coords. */
  def addDonePartition(gt: GraftTable, values: Seq[String]): Unit = {
    val sch = gt.schema
    val (opts, db, name) = coordsOf(sch).getOrElse(return)
    require(values.nonEmpty, "empty partition values")
    val doneValues = values.dropRight(1) :+ (values.last + ".done")
    withClient(opts) { c =>
      c.add_partitions(
        Seq(mkPartition(gt, sch, db, name, doneValues)).asJava,
        /*ifNotExists=*/ true, /*needResults=*/ false)
    }
  }

  /** `partition.mark-done-action=mark-event` (reference:
    * MarkPartitionDoneEventAction.java:40 → markDonePartitions): fire
    * the metastore's LOAD_DONE partition event, the signal Hive's own
    * `ALTER TABLE .. TOUCH`-style waiters poll. */
  def markPartitionDoneEvent(gt: GraftTable, spec: Map[String, String]): Unit = {
    val sch = gt.schema
    val (opts, db, name) = coordsOf(sch).getOrElse(return)
    withClient(opts) { c =>
      c.markPartitionForEvent(db, name, spec.asJava,
        org.apache.hadoop.hive.metastore.api.PartitionEventType.LOAD_DONE)
    }
  }

  def dropHmsPartitions(gt: GraftTable, parts: Seq[Map[String, String]]): Unit = {
    val sch = gt.schema
    val (opts, db, name) = coordsOf(sch).getOrElse(return)
    if (parts.isEmpty) return
    withClient(opts) { c =>
      parts.foreach { p =>
        val values = sch.partitionKeys.map(k => p.getOrElse(k, ""))
        try c.dropPartition(db, name, values.asJava, /*deleteData=*/ false)
        catch { case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException => () }
        knownPartitions.remove(cacheKey(opts, db, name, values))
      }
    }
  }
}

/** [[GraftCatalog]] that mirrors DDL into a Hive Metastore and
  * resolves identifiers read-through (reference: HiveCatalog.java:132).
  * Register with:
  * {{{
  * spark.sql.catalog.h              = graft.sources.GraftHmsCatalog
  * spark.sql.catalog.h.warehouse    = /path/wh
  * spark.sql.catalog.h.hms.local-dir= /path/hms   // or hms.uris=thrift://…
  * }}} */
class GraftHmsCatalog extends GraftCatalog {

  private var hmsOpts: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    hmsOpts = Seq("hms.uris", "hms.local-dir")
      .flatMap(k => Option(options.get(k)).map(k -> _)).toMap
    require(hmsOpts.nonEmpty,
      s"spark.sql.catalog.$name needs hms.uris or hms.local-dir")
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val db = HmsBridge.dbName(ident.namespace())
    // stamp the HMS coordinates into the table options so the
    // commit-coupled partition sync (GraftTable's onCommit hook) can
    // reach the metastore without a catalog in scope
    val props = new java.util.HashMap[String, String](properties)
    hmsOpts.foreach { case (k, v) => props.put(k, v) }
    props.put("hms.database", db)
    props.put("hms.table", ident.name())
    val created = super.createTable(ident, schema, partitions, props)
    created match {
      case g: GraftSparkTable =>
        HmsBridge.ensureDatabase(hmsOpts, db)
        HmsBridge.mirrorCreate(hmsOpts, db, ident.name(), g.graftTable)
        // full reconcile at creation — a table created OVER existing
        // data (external path) registers its current partitions once;
        // per-commit upkeep is delta-only from here on
        HmsBridge.reconcilePartitions(g.graftTable)
      case _ => () // format/object tables have no HMS mirror
    }
    created
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val altered = super.alterTable(ident, changes: _*)
    altered match {
      case g: GraftSparkTable =>
        HmsBridge.mirrorAlter(hmsOpts, HmsBridge.dbName(ident.namespace()),
          ident.name(), g.graftTable)
      case _ => ()
    }
    altered
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dropped = super.dropTable(ident)
    if (dropped)
      HmsBridge.mirrorDrop(hmsOpts, HmsBridge.dbName(ident.namespace()), ident.name())
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    super.renameTable(oldIdent, newIdent)
    val moved = HmsBridge.mirrorRename(hmsOpts,
      HmsBridge.dbName(oldIdent.namespace()), oldIdent.name(),
      HmsBridge.dbName(newIdent.namespace()), newIdent.name(),
      pathOf(newIdent))
    if (GraftTable.exists(pathOf(newIdent))) {
      val db = HmsBridge.dbName(newIdent.namespace())
      val gt = GraftTable.load(org.apache.spark.sql.SparkSession.active, pathOf(newIdent))
      // re-point the stamped HMS coordinates at the new identity — the
      // commit-coupled partition sync reads them from the table
      // options, and a stale pair would silently target the old,
      // renamed-away entry forever
      if (gt.schema.options.contains("hms.table")) {
        gt.setOption("hms.database", db)
        gt.setOption("hms.table", newIdent.name())
      }
      if (!moved) { // never mirrored (created outside this catalog)
        HmsBridge.ensureDatabase(hmsOpts, db)
        HmsBridge.mirrorCreate(hmsOpts, db, newIdent.name(), gt)
      }
    }
  }

  /** `CALL sys.repair`: create-or-update the HMS entry from the
    * warehouse table's CURRENT schema, then fully reconcile its
    * partition set (reference: RepairProcedure → HiveCatalog
    * repairDatabasesOrTables). Tables created OUTSIDE this catalog
    * lack the stamped `hms.*` sync coordinates — repair stamps them
    * (that IS the repair: adopting the table into the metastore), so
    * a partitioned table with `metastore.partitioned-table=true`
    * reconciles here and keeps delta-syncing on future commits
    * instead of silently registering zero partitions forever. */
  override private[sources] def mirrorRepair(
      namespace: Array[String], name: String): String = {
    val db = HmsBridge.dbName(namespace)
    val path = pathOf(Identifier.of(namespace, name))
    if (!GraftTable.exists(path)) return "no such table in the warehouse"
    val gt = GraftTable.load(org.apache.spark.sql.SparkSession.active, path)
    // (re)stamp whatever is absent OR doesn't name THIS catalog's
    // metastore + entry — a table moved/copied out-of-band (exactly
    // what repair exists for) carries its OLD identity, and
    // reconcilePartitions reads coordsOf from the table OPTIONS, so
    // stale hms.uris/local-dir or db/name would sync the partitions
    // into the wrong metastore/table while reporting success. The
    // connection key this catalog does NOT use is removed, because
    // withClient prefers hms.uris over hms.local-dir when both exist.
    val opts = gt.schema.options
    Seq("hms.uris", "hms.local-dir").foreach { k =>
      val want = hmsOpts.get(k)
      if (opts.get(k) != want) gt.setOption(k, want.orNull)
    }
    if (!opts.get("hms.database").contains(db)) gt.setOption("hms.database", db)
    if (!opts.get("hms.table").contains(name)) gt.setOption("hms.table", name)
    HmsBridge.ensureDatabase(hmsOpts, db)
    HmsBridge.mirrorAlter(hmsOpts, db, name, gt) // create-or-update
    // gt.schema re-reads the latest schema from disk per access, so
    // the stamped coords are already visible through this instance
    val (a, d) = HmsBridge.reconcilePartitions(gt)
    s"HMS entry synced, partitions +$a -$d"
  }

  /** Database properties live on the HMS Database entry (reference:
    * HiveCatalog.alterDatabaseImpl — the filesystem catalog has
    * nowhere to put them and stays unsupported). */
  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit = {
    import org.apache.spark.sql.connector.catalog.NamespaceChange
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    val db = HmsBridge.dbName(namespace)
    val set = changes.collect {
      case s: NamespaceChange.SetProperty => s.property -> s.value }.toMap
    val remove = changes.collect {
      case r: NamespaceChange.RemoveProperty => r.property }.toSet
    HmsBridge.ensureDatabase(hmsOpts, db) // fs-created namespaces adopt
    HmsBridge.alterDatabaseParams(hmsOpts, db, set, remove)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    val base = super.loadNamespaceMetadata(namespace) // exists check
    val m = new java.util.HashMap[String, String](base)
    HmsBridge.databaseParams(hmsOpts, HmsBridge.dbName(namespace))
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `CALL sys.register_table`: an HMS entry whose `graft.path` names
    * the external table — the read-through shape loadTable resolves. */
  override private[sources] def mirrorRegister(
      namespace: Array[String], name: String, path: String): String = {
    val db = HmsBridge.dbName(namespace)
    if (HmsBridge.tablePath(hmsOpts, db, name).isDefined) return "already registered"
    val gt = GraftTable.load(org.apache.spark.sql.SparkSession.active, path)
    HmsBridge.ensureDatabase(hmsOpts, db)
    HmsBridge.mirrorCreate(hmsOpts, db, name, gt)
    "registered"
  }

  /** Read-through: a warehouse-resident table loads as usual; an
    * identifier absent from the warehouse resolves via its HMS entry's
    * `graft.path` — how a brownfield estate points at graft tables
    * living anywhere. */
  override def loadTable(ident: Identifier): Table = {
    try super.loadTable(ident)
    catch {
      case e: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
        val path = HmsBridge.tablePath(hmsOpts,
          HmsBridge.dbName(ident.namespace()), ident.name()).getOrElse(throw e)
        if (!GraftTable.exists(path)) throw e
        val gt = GraftTable.load(org.apache.spark.sql.SparkSession.active, path)
        if (gt.isPrimaryKeyTable) new GraftSparkTable(gt, snapshot = None)
        else new GraftAppendSparkTable(gt, snapshot = None)
    }
  }
}
