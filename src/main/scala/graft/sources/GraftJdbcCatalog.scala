package graft.sources

import graft.table.GraftTable
import java.sql.{Connection, DriverManager, SQLException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** JDBC-backed catalog registry + distributed locks (reference:
  * paimon-core jdbc/JdbcCatalog.java:77 + JdbcUtils.java table DDL +
  * AbstractDistributedLockDialect.java lock protocol): table and
  * database metadata live in THREE relational tables —
  * `graft_tables(catalog_key, database_name, table_name, table_path)`,
  * `graft_database_properties(catalog_key, database_name, key, value)`
  * and `graft_distributed_locks(lock_id, acquired_at, expire_secs)` —
  * so any JDBC database (Derby embedded here; MySQL/Postgres in a real
  * estate — the SQL below sticks to the common dialect) gives many
  * processes one consistent catalog view plus advisory locks for DDL
  * races. Deviation from the reference, documented: `graft_tables`
  * carries an explicit `table_path` column so external (non-warehouse)
  * tables resolve read-through, the same shape as the HMS bridge's
  * `graft.path` parameter.
  *
  * Lock protocol (the reference's dialect shape): acquire = INSERT of
  * the lock row (primary-key violation = somebody holds it — after
  * first sweeping rows older than their own expiry, so a crashed
  * holder cannot wedge the lock forever); release = DELETE. Lock
  * waiting is the CALLER's loop; expiry makes it live-lock-free. */
object JdbcBridge {

  val TablesTable = "graft_tables"
  val DbPropsTable = "graft_database_properties"
  val LocksTable = "graft_distributed_locks"
  /** Reference: JdbcCatalog.DATABASE_EXISTS_PROPERTY — marks a database
    * created explicitly (vs inferred from its tables). */
  val ExistsProp = "exists"

  private def withConn[T](uri: String)(f: Connection => T): T = {
    val conn = DriverManager.getConnection(uri)
    try f(conn) finally conn.close()
  }

  /** Create the three catalog tables when absent (the reference checks
    * DatabaseMetaData rather than IF NOT EXISTS — portable across
    * dialects, Derby included). */
  def init(uri: String): Unit = withConn(uri) { conn =>
    def ensure(name: String, ddl: String): Unit = {
      val rs = conn.getMetaData.getTables(null, null, name.toUpperCase, null)
      val rs2 = conn.getMetaData.getTables(null, null, name, null)
      val exists = rs.next() || rs2.next()
      rs.close(); rs2.close()
      if (!exists) conn.prepareStatement(ddl).execute()
    }
    ensure(TablesTable,
      s"""CREATE TABLE $TablesTable (
         |  catalog_key VARCHAR(255) NOT NULL,
         |  database_name VARCHAR(255) NOT NULL,
         |  table_name VARCHAR(255) NOT NULL,
         |  table_path VARCHAR(1000) NOT NULL,
         |  PRIMARY KEY (catalog_key, database_name, table_name))""".stripMargin)
    ensure(DbPropsTable,
      s"""CREATE TABLE $DbPropsTable (
         |  catalog_key VARCHAR(255) NOT NULL,
         |  database_name VARCHAR(255) NOT NULL,
         |  property_key VARCHAR(255) NOT NULL,
         |  property_value VARCHAR(1000),
         |  PRIMARY KEY (catalog_key, database_name, property_key))""".stripMargin)
    ensure(LocksTable,
      s"""CREATE TABLE $LocksTable (
         |  lock_id VARCHAR(1000) NOT NULL,
         |  acquired_at BIGINT NOT NULL,
         |  expire_secs BIGINT NOT NULL,
         |  PRIMARY KEY (lock_id))""".stripMargin)
  }

  // ---- table registry --------------------------------------------------

  def registerTable(uri: String, key: String, db: String, name: String,
      path: String): Unit = withConn(uri) { conn =>
    val ps = conn.prepareStatement(
      s"INSERT INTO $TablesTable (catalog_key, database_name, table_name, table_path) VALUES (?,?,?,?)")
    ps.setString(1, key); ps.setString(2, db)
    ps.setString(3, name); ps.setString(4, path)
    try ps.executeUpdate()
    catch { case e: SQLException if isDuplicateKey(e) =>
      throw new IllegalStateException(s"table $db.$name already registered", e) }
    finally ps.close()
  }

  def unregisterTable(uri: String, key: String, db: String, name: String): Boolean =
    withConn(uri) { conn =>
      val ps = conn.prepareStatement(
        s"DELETE FROM $TablesTable WHERE catalog_key=? AND database_name=? AND table_name=?")
      ps.setString(1, key); ps.setString(2, db); ps.setString(3, name)
      try ps.executeUpdate() > 0 finally ps.close()
    }

  def renameTableEntry(uri: String, key: String, db: String, name: String,
      newDb: String, newName: String, newPath: String): Boolean =
    withConn(uri) { conn =>
      val ps = conn.prepareStatement(
        s"UPDATE $TablesTable SET database_name=?, table_name=?, table_path=? " +
          "WHERE catalog_key=? AND database_name=? AND table_name=?")
      ps.setString(1, newDb); ps.setString(2, newName); ps.setString(3, newPath)
      ps.setString(4, key); ps.setString(5, db); ps.setString(6, name)
      try ps.executeUpdate() > 0 finally ps.close()
    }

  def tablePath(uri: String, key: String, db: String, name: String): Option[String] =
    withConn(uri) { conn =>
      val ps = conn.prepareStatement(
        s"SELECT table_path FROM $TablesTable WHERE catalog_key=? AND database_name=? AND table_name=?")
      ps.setString(1, key); ps.setString(2, db); ps.setString(3, name)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some(rs.getString(1)) else None }
      finally { rs.close(); ps.close() }
    }

  def listTables(uri: String, key: String, db: String): Seq[String] =
    withConn(uri) { conn =>
      val ps = conn.prepareStatement(
        s"SELECT table_name FROM $TablesTable WHERE catalog_key=? AND database_name=? ORDER BY table_name")
      ps.setString(1, key); ps.setString(2, db)
      val rs = ps.executeQuery()
      try {
        val b = Seq.newBuilder[String]
        while (rs.next()) b += rs.getString(1)
        b.result()
      } finally { rs.close(); ps.close() }
    }

  /** Databases known to the registry: distinct table owners UNION
    * explicitly-created ones (reference: LIST_ALL_TABLE_DATABASES_SQL +
    * LIST_ALL_PROPERTY_DATABASES_SQL). */
  def listDatabases(uri: String, key: String): Seq[String] =
    withConn(uri) { conn =>
      def distinct(table: String): Seq[String] = {
        val ps = conn.prepareStatement(
          s"SELECT DISTINCT database_name FROM $table WHERE catalog_key=?")
        ps.setString(1, key)
        val rs = ps.executeQuery()
        try {
          val b = Seq.newBuilder[String]
          while (rs.next()) b += rs.getString(1)
          b.result()
        } finally { rs.close(); ps.close() }
      }
      (distinct(TablesTable) ++ distinct(DbPropsTable)).distinct.sorted
    }

  def createDatabase(uri: String, key: String, db: String,
      props: Map[String, String] = Map.empty): Unit = withConn(uri) { conn =>
    (props + (ExistsProp -> "true")).foreach { case (k, v) =>
      val ps = conn.prepareStatement(
        s"INSERT INTO $DbPropsTable (catalog_key, database_name, property_key, property_value) VALUES (?,?,?,?)")
      ps.setString(1, key); ps.setString(2, db); ps.setString(3, k); ps.setString(4, v)
      try ps.executeUpdate()
      catch { case e: SQLException if isDuplicateKey(e) => () } // idempotent
      finally ps.close()
    }
  }

  def databaseProps(uri: String, key: String, db: String): Map[String, String] =
    withConn(uri) { conn =>
      val ps = conn.prepareStatement(
        s"SELECT property_key, property_value FROM $DbPropsTable WHERE catalog_key=? AND database_name=?")
      ps.setString(1, key); ps.setString(2, db)
      val rs = ps.executeQuery()
      try {
        val b = Map.newBuilder[String, String]
        while (rs.next()) b += rs.getString(1) -> rs.getString(2)
        b.result()
      } finally { rs.close(); ps.close() }
    }

  /** Property changes for one database: update-or-insert the sets,
    * delete the removes (reference: JdbcCatalog.alterDatabaseImpl —
    * inserts/updates/deletes split from the starting properties). */
  def alterDatabaseProps(uri: String, key: String, db: String,
      set: Map[String, String], remove: Set[String]): Unit = withConn(uri) { conn =>
    set.foreach { case (k, v) =>
      val up = conn.prepareStatement(
        s"UPDATE $DbPropsTable SET property_value=? " +
          "WHERE catalog_key=? AND database_name=? AND property_key=?")
      up.setString(1, v); up.setString(2, key); up.setString(3, db); up.setString(4, k)
      val updated = try up.executeUpdate() finally up.close()
      if (updated == 0) {
        val ins = conn.prepareStatement(
          s"INSERT INTO $DbPropsTable (catalog_key, database_name, property_key, property_value) VALUES (?,?,?,?)")
        ins.setString(1, key); ins.setString(2, db); ins.setString(3, k); ins.setString(4, v)
        try ins.executeUpdate()
        catch { case e: SQLException if isDuplicateKey(e) => () } // racing writer
        finally ins.close()
      }
    }
    remove.foreach { k =>
      val del = conn.prepareStatement(
        s"DELETE FROM $DbPropsTable WHERE catalog_key=? AND database_name=? AND property_key=?")
      del.setString(1, key); del.setString(2, db); del.setString(3, k)
      try del.executeUpdate() finally del.close()
    }
  }

  def dropDatabase(uri: String, key: String, db: String): Unit =
    withConn(uri) { conn =>
      Seq(DbPropsTable, TablesTable).foreach { t =>
        val ps = conn.prepareStatement(
          s"DELETE FROM $t WHERE catalog_key=? AND database_name=?")
        ps.setString(1, key); ps.setString(2, db)
        try ps.executeUpdate() finally ps.close()
      }
    }

  // ---- distributed locks ----------------------------------------------

  /** One acquisition attempt: sweep the lock's own timed-out row, then
    * INSERT — a duplicate-key failure means a live holder. Returns the
    * row's acquired_at as a FENCING token: release conditions on it,
    * so a holder that outlives its expiry (and was swept by a
    * successor) cannot delete the successor's lock. The token is
    * strictly monotone across handovers — a sweep requires
    * `acquired_at + expiry < now`, so the successor's stamp always
    * exceeds the evicted holder's. */
  def lockAcquireToken(uri: String, lockId: String,
      expireSecs: Long = 60L): Option[Long] =
    withConn(uri)(tryAcquire(_, lockId, expireSecs))

  def lockAcquire(uri: String, lockId: String, expireSecs: Long = 60L): Boolean =
    lockAcquireToken(uri, lockId, expireSecs).isDefined

  private def tryAcquire(conn: Connection, lockId: String,
      expireSecs: Long): Option[Long] = {
    tryReleaseTimedOut(conn, lockId)
    val ps = conn.prepareStatement(
      s"INSERT INTO $LocksTable (lock_id, acquired_at, expire_secs) VALUES (?,?,?)")
    val now = System.currentTimeMillis()
    ps.setString(1, lockId)
    ps.setLong(2, now)
    ps.setLong(3, expireSecs)
    try { ps.executeUpdate(); Some(now) }
    catch { case e: SQLException if isDuplicateKey(e) => None }
    finally ps.close()
  }

  /** Unconditional release — administrative/test use; the withLock
    * path releases through the fenced [[releaseLockToken]]. */
  def releaseLock(uri: String, lockId: String): Boolean = withConn(uri) { conn =>
    val ps = conn.prepareStatement(s"DELETE FROM $LocksTable WHERE lock_id=?")
    ps.setString(1, lockId)
    try ps.executeUpdate() > 0 finally ps.close()
  }

  def releaseLockToken(uri: String, lockId: String, token: Long): Boolean =
    withConn(uri) { conn =>
      val ps = conn.prepareStatement(
        s"DELETE FROM $LocksTable WHERE lock_id=? AND acquired_at=?")
      ps.setString(1, lockId)
      ps.setLong(2, token)
      try ps.executeUpdate() > 0 finally ps.close()
    }

  private def tryReleaseTimedOut(conn: Connection, lockId: String): Unit = {
    val ps = conn.prepareStatement(
      s"DELETE FROM $LocksTable WHERE lock_id=? AND acquired_at + expire_secs * 1000 < ?")
    ps.setString(1, lockId)
    ps.setLong(2, System.currentTimeMillis())
    try ps.executeUpdate() finally ps.close()
  }

  /** Run `f` under the named lock, waiting up to `timeoutMs` (the
    * reference's CatalogLock.runWithLock shape: bounded poll, expiry
    * sweeps crashed holders). ONE connection serves the whole wait
    * loop — per-poll connects would be ~600 handshakes over a 30 s
    * contention window against a real MySQL/Postgres — and release is
    * fenced on the acquisition token (see [[lockAcquireToken]]). */
  def withLock[T](uri: String, lockId: String, timeoutMs: Long = 30000L,
      expireSecs: Long = 60L)(f: => T): T = {
    val token = withConn(uri) { conn =>
      val deadline = System.currentTimeMillis() + timeoutMs
      var t = tryAcquire(conn, lockId, expireSecs)
      while (t.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        t = tryAcquire(conn, lockId, expireSecs)
      }
      t
    }
    if (token.isEmpty) throw new IllegalStateException(
      s"could not acquire catalog lock $lockId within ${timeoutMs}ms")
    try f finally releaseLockToken(uri, lockId, token.get)
  }

  /** Acquire SEVERAL locks, deduped and in sorted order — every
    * multi-lock caller sorts, so two rename/create/dropNamespace
    * holders can never wait on each other in a cycle. (The single
    * lock rows are independent; [[withLock]] is non-reentrant, which
    * dedup protects against.) */
  def withLocks[T](uri: String, lockIds: Seq[String])(f: => T): T =
    lockIds.distinct.sorted.foldRight(() => f) { (id, inner) =>
      () => withLock(uri, id)(inner())
    }()

  private def isDuplicateKey(e: SQLException): Boolean = {
    // SQLState 23xxx = integrity constraint violation (SQL standard;
    // Derby 23505, MySQL 23000, Postgres 23505)
    val state = Option(e.getSQLState).getOrElse("")
    state.startsWith("23")
  }

  def dbName(namespace: Array[String]): String = namespace.mkString("__")
}

/** [[GraftCatalog]] whose table/database registry mirrors into a JDBC
  * database (reference: jdbc/JdbcCatalog.java). Register with:
  * {{{
  * spark.sql.catalog.j             = graft.sources.GraftJdbcCatalog
  * spark.sql.catalog.j.warehouse   = /path/wh
  * spark.sql.catalog.j.uri         = jdbc:derby:/path/db;create=true
  * spark.sql.catalog.j.catalog-key = prod        // optional, default "graft"
  * }}}
  * DDL runs under the JDBC distributed lock (keyed catalog.db.table),
  * so two processes racing CREATE/RENAME on one identifier serialize
  * instead of corrupting the registry; identifiers resolve
  * READ-THROUGH (a registry entry whose path lies outside the
  * warehouse still loads). */
class GraftJdbcCatalog extends GraftCatalog {

  private var uri: String = _
  private var catalogKey: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    uri = Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(s"spark.sql.catalog.$name.uri must be set"))
    catalogKey = Option(options.get("catalog-key")).getOrElse("graft")
    JdbcBridge.init(uri)
  }

  private def lockId(db: String, name: String) = s"$catalogKey.$db.$name"
  private def nsLockId(db: String) = s"$catalogKey.$db.__namespace__"

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val db = JdbcBridge.dbName(ident.namespace())
    // the NAMESPACE lock too: a CREATE racing DROP NAMESPACE CASCADE
    // could otherwise land its registry row after the cascade's
    // delete — a phantom entry whose storage the cascade removed
    JdbcBridge.withLocks(uri, Seq(nsLockId(db), lockId(db, ident.name()))) {
      val created = super.createTable(ident, schema, partitions, properties)
      created match {
        case _: GraftSparkTable =>
          JdbcBridge.registerTable(uri, catalogKey, db, ident.name(), pathOf(ident))
        case _ => () // format/object tables have no registry mirror
      }
      created
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val db = JdbcBridge.dbName(ident.namespace())
    // under the same lock as CREATE/RENAME: a DROP racing a CREATE of
    // the same identifier must not delete the winner's fresh row
    JdbcBridge.withLock(uri, lockId(db, ident.name())) {
      val dropped = super.dropTable(ident)
      if (dropped)
        JdbcBridge.unregisterTable(uri, catalogKey, db, ident.name())
      dropped
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val db = JdbcBridge.dbName(oldIdent.namespace())
    val newDb = JdbcBridge.dbName(newIdent.namespace())
    // lock the SOURCE identifier too (a DROP of the rename source must
    // not interleave with the move) and both namespaces (a rename INTO
    // a namespace being cascade-dropped must not resurrect a registry
    // row after the cascade's delete); sorted order via withLocks
    JdbcBridge.withLocks(uri, Seq(
      nsLockId(db), nsLockId(newDb),
      lockId(db, oldIdent.name()), lockId(newDb, newIdent.name()))) {
      super.renameTable(oldIdent, newIdent)
      val moved = JdbcBridge.renameTableEntry(uri, catalogKey, db, oldIdent.name(),
        newDb, newIdent.name(), pathOf(newIdent))
      if (!moved && GraftTable.exists(pathOf(newIdent)))
        // never mirrored (created outside this catalog): register now
        JdbcBridge.registerTable(uri, catalogKey, newDb, newIdent.name(),
          pathOf(newIdent))
    }
  }

  /** `CALL sys.repair`: register a warehouse table missing from the
    * JDBC registry (created outside this catalog); existing entries
    * are left alone — the path column is re-derived only on rename. */
  override private[sources] def mirrorRepair(
      namespace: Array[String], name: String): String = {
    val db = JdbcBridge.dbName(namespace)
    val path = pathOf(Identifier.of(namespace, name))
    if (!GraftTable.exists(path)) return "no such table in the warehouse"
    JdbcBridge.tablePath(uri, catalogKey, db, name) match {
      case Some(_) => "already registered"
      case None =>
        JdbcBridge.registerTable(uri, catalogKey, db, name, path)
        "registered"
    }
  }

  /** `CALL sys.register_table`: a registry row whose `table_path`
    * names the external table — the read-through shape loadTable
    * resolves. */
  override private[sources] def mirrorRegister(
      namespace: Array[String], name: String, path: String): String = {
    val db = JdbcBridge.dbName(namespace)
    JdbcBridge.tablePath(uri, catalogKey, db, name) match {
      case Some(_) => "already registered"
      case None =>
        JdbcBridge.registerTable(uri, catalogKey, db, name, path)
        "registered"
    }
  }

  /** Warehouse tables load as usual; identifiers absent from the
    * warehouse resolve via the registry's `table_path`. */
  override def loadTable(ident: Identifier): Table =
    orRegistered(super.loadTable(ident))(JdbcBridge.tablePath(
      uri, catalogKey, JdbcBridge.dbName(ident.namespace()), ident.name()))

  /** Registry ∪ warehouse listing: external registered tables appear,
    * warehouse-resident unregistered ones keep appearing. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val fromFs = super.listTables(namespace).toSeq
    val fromDb = JdbcBridge.listTables(uri, catalogKey, JdbcBridge.dbName(namespace))
      .map(Identifier.of(namespace, _))
    (fromFs ++ fromDb).distinct.toArray
  }

  override def listNamespaces(): Array[Array[String]] = {
    val fromFs = super.listNamespaces().toSeq
    // single-segment, NOT split back on the "__" join token — the base
    // catalog's namespace model is single-level, and a split would
    // corrupt a legitimate name containing "__" into a phantom
    // multi-level namespace that never resolves
    val fromDb = JdbcBridge.listDatabases(uri, catalogKey)
      .map(db => Array(db))
    (fromFs.map(_.toSeq) ++ fromDb.map(_.toSeq)).distinct
      .map(_.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    super.namespaceExists(namespace) ||
      JdbcBridge.listDatabases(uri, catalogKey)
        .contains(JdbcBridge.dbName(namespace))

  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit = {
    val db = JdbcBridge.dbName(namespace)
    // under the namespace lock, like createTable: a CREATE racing
    // DROP ... CASCADE must not land its registry row after the
    // cascade's delete (a phantom namespace with no storage)
    JdbcBridge.withLock(uri, nsLockId(db)) {
      super.createNamespace(namespace, metadata)
      val props = new java.util.HashMap[String, String](metadata)
      val b = Map.newBuilder[String, String]
      props.forEach((k, v) => b += k -> v)
      JdbcBridge.createDatabase(uri, catalogKey, db, b.result())
    }
  }

  /** Database properties live in the registry (reference:
    * JdbcCatalog.alterDatabaseImpl — the filesystem catalog has
    * nowhere to put them and stays unsupported). */
  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit = {
    import org.apache.spark.sql.connector.catalog.NamespaceChange
    val db = JdbcBridge.dbName(namespace)
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    val set = changes.collect {
      case s: NamespaceChange.SetProperty => s.property -> s.value }.toMap
    val remove = changes.collect {
      case r: NamespaceChange.RemoveProperty => r.property }.toSet
    // the existence marker is the registry's own bookkeeping
    JdbcBridge.withLock(uri, nsLockId(db)) {
      JdbcBridge.alterDatabaseProps(uri, catalogKey, db,
        set - JdbcBridge.ExistsProp, remove - JdbcBridge.ExistsProp)
    }
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    val m = new java.util.HashMap[String, String]()
    JdbcBridge.databaseProps(uri, catalogKey, JdbcBridge.dbName(namespace))
      .filterNot(_._1 == JdbcBridge.ExistsProp)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val db = JdbcBridge.dbName(namespace)
    JdbcBridge.withLock(uri, nsLockId(db)) {
      // registry-registered tables (incl. EXTERNAL read-through ones,
      // invisible to the warehouse listing) make the namespace
      // non-empty: a non-cascade drop must refuse, not silently
      // destroy their only registration
      if (!cascade && JdbcBridge.listTables(uri, catalogKey, db).nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace)
      val dropped = super.dropNamespace(namespace, cascade)
      if (dropped)
        JdbcBridge.dropDatabase(uri, catalogKey, db)
      dropped
    }
  }
}

/** Commit arbitration through the JDBC distributed lock, for table
  * storage with NO native conditional create (reference: paimon-core
  * catalog lock protocol — `CatalogLock` / `JdbcCatalogLock` via
  * AbstractDistributedLockDialect: commits on such stores serialize
  * under a catalog-held lock). Only `tryCreateAtomic` is arbitrated —
  * it is [[graft.core.SnapshotManager]]'s single commit gate — by
  * making its check-then-write window exclusive: acquire the table's
  * lock row, `exists` probe, staged write, fenced release. Everything
  * else delegates untouched (data/manifest writes are uniquely-named
  * and need no arbitration).
  *
  * Crash/lease contract: a holder that dies mid-commit leaves its lock
  * row; the next acquirer sweeps it after `expireSecs` and proceeds —
  * the dead attempt left at most an invisible staged file (the
  * delegate's write is stage+atomic-publish), never a torn snapshot.
  * The lease must comfortably exceed metadata-write latency (default
  * 60 s vs ms-scale writes); if a LIVE holder's lease nonetheless
  * expires mid-commit, the fenced release detects the eviction and the
  * op throws instead of reporting a clean win — the same
  * ambiguous-outcome class as a lost CAS response, which the commit
  * loop already resolves by re-reading the store. */
class JdbcLockedIO(delegate: graft.core.FileIO, uri: String,
    lockScope: String, expireSecs: Long = 60L,
    acquireTimeoutMs: Long = 30000L) extends graft.core.FileIO {

  override def readString(path: String): String = delegate.readString(path)
  override def writeString(path: String, content: String): Unit =
    delegate.writeString(path, content)
  override def readBytes(path: String): Array[Byte] = delegate.readBytes(path)
  override def writeBytes(path: String, content: Array[Byte]): Unit =
    delegate.writeBytes(path, content)
  override def exists(path: String): Boolean = delegate.exists(path)
  override def mkdirs(path: String): Unit = delegate.mkdirs(path)
  override def list(dir: String): Seq[String] = delegate.list(dir)
  override def delete(path: String): Unit = delegate.delete(path)
  override def rename(src: String, dst: String): Unit = delegate.rename(src, dst)
  override def size(path: String): Long = delegate.size(path)

  override def tryCreateAtomic(path: String, content: String): Boolean = {
    val lockId = s"commit:$lockScope"
    val deadline = System.currentTimeMillis() + acquireTimeoutMs
    var token = JdbcBridge.lockAcquireToken(uri, lockId, expireSecs)
    while (token.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      token = JdbcBridge.lockAcquireToken(uri, lockId, expireSecs)
    }
    if (token.isEmpty) throw new IllegalStateException(
      s"could not acquire commit lock $lockId within ${acquireTimeoutMs}ms")
    var created = false
    try {
      created =
        if (delegate.exists(path)) false
        else { delegate.writeString(path, content); true }
    } finally {
      val fenced = JdbcBridge.releaseLockToken(uri, lockId, token.get)
      if (!fenced && created)
        // our lease expired mid-commit and a successor swept the row:
        // the write may have raced another holder — ambiguous, so
        // refuse to report a clean win; the caller re-reads the store
        throw new IllegalStateException(
          s"commit lock $lockId lease expired mid-commit; outcome ambiguous")
    }
    created
  }
}
