package graft.sources

import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{HttpURLConnection, URL}
import java.util
import scala.jdk.CollectionConverters._

/** REST catalog: metadata served over HTTP, data read/written directly
  * (reference: paimon-core rest/RESTCatalog + the paimon-open-api
  * surface — the catalog SERVICE owns namespaces/tables and hands
  * clients storage locations; the heavy IO never passes through it).
  *
  * [[GraftRestServer]] is the service half: a JDK HttpServer over one
  * warehouse directory, bearer-token authenticated, exposing
  * namespace/table CRUD plus the storage path of each table.
  * [[GraftRestCatalog]] is the Spark half: a TableCatalog whose
  * metadata calls go over HTTP; loadTable resolves the storage path
  * remotely, then all scans/writes run on the shared storage exactly
  * like the filesystem catalog — the service is on no data path, so a
  * 1000-executor scan doesn't touch it. Register with
  * `spark.sql.catalog.r = graft.sources.GraftRestCatalog`,
  * `spark.sql.catalog.r.uri = http://host:port`,
  * `spark.sql.catalog.r.token = <bearer>`.
  */
object GraftRestServer {

  case class TableSpec(
      name: String, schemaJson: String, partitionKeys: Seq[String],
      primaryKeys: Seq[String], options: Map[String, String])

  /** One serialized DSv2 TableChange (the six kinds the filesystem
    * catalog supports); unused fields stay empty. */
  case class TableChangeSpec(
      kind: String, name: String, newName: String,
      dataTypeJson: String, nullable: Boolean,
      property: String, value: String)

  case class AlterSpec(changes: Seq[TableChangeSpec])

  case class RenameSpec(toNamespace: String, toName: String)

  /** Body of the server-arbitrated commit route: create-if-absent of
    * `key` (relative to the table dir) with `content`. */
  case class CommitSpec(key: String, content: String)

  /** One running service instance. */
  final class Handle(server: HttpServer) {
    def port: Int = server.getAddress.getPort
    def uri: String = s"http://127.0.0.1:$port"
    def stop(): Unit = server.stop(0)
  }

  /** Serve `warehouse` on an ephemeral port. */
  def start(warehouse: String, token: String): Handle = {
    // avoid the JDK server's ~40 ms Nagle/delayed-ACK stall per request
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)

    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(code, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    }

    def authed(x: HttpExchange): Boolean =
      // constant-time compare (timing-leak hardening, same as the KV
      // lookup service)
      Option(x.getRequestHeaders.getFirst("Authorization"))
        .exists(h => java.security.MessageDigest.isEqual(
          h.getBytes("UTF-8"), s"Bearer $token".getBytes("UTF-8")))

    // A bearer token's authority is bounded to the warehouse: URL path
    // segments become filesystem components, so '.'/'..'/separator
    // segments (or anything that resolves outside the warehouse root
    // after normalization) are rejected before ANY filesystem
    // operation — without this, DELETE /v1/namespaces/.. would
    // recursively remove files ABOVE the warehouse.
    val warehouseRoot =
      java.nio.file.Paths.get(warehouse).toAbsolutePath.normalize()
    def badSeg(s: String): Boolean =
      s.isEmpty || s == "." || s == ".." ||
        s.contains('/') || s.contains('\\') || s.contains('\u0000')
    /** Resolve warehouse/segs, or None if any segment is unsafe. */
    def resolveUnder(segs: String*): Option[java.nio.file.Path] =
      if (segs.exists(badSeg)) None
      else {
        val p = segs.foldLeft(warehouseRoot)(_.resolve(_)).normalize()
        if (p.startsWith(warehouseRoot)) Some(p) else None
      }
    /** A REGISTERED external table's storage path (marker dir under
      * the warehouse; data lives at the pointed-to path). */
    def externalPath(dir: java.nio.file.Path): Option[String] = {
      val marker = dir.resolve("external-table.json")
      if (!java.nio.file.Files.exists(marker)) None
      else graft.core.Json.read(
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8"),
        classOf[Map[String, String]]).get("path")
    }

    server.createContext("/v1/", (x: HttpExchange) => {
      try {
        if (!authed(x)) respond(x, 401, """{"error":"unauthorized"}""")
        else {
          val parts = x.getRequestURI.getPath.stripPrefix("/v1/")
            .split("/").filter(_.nonEmpty).toSeq
          val method = x.getRequestMethod
          (method, parts) match {
            case ("GET", Seq("config")) =>
              respond(x, 200, graft.core.Json.write(Map("warehouse" -> warehouse)))

            case ("GET", Seq("namespaces")) =>
              val root = java.nio.file.Paths.get(warehouse)
              val ns =
                if (!java.nio.file.Files.isDirectory(root)) Seq.empty
                else graft.core.FsUtil.listAll(root)
                  .filter(java.nio.file.Files.isDirectory(_))
                  .map(_.getFileName.toString).sorted
              respond(x, 200, graft.core.Json.write(ns))

            // namespace existence probe (gvfs db-level status/mkdirs)
            case ("GET", Seq("namespaces", ns)) =>
              resolveUnder(ns) match {
                case None => respond(x, 400, """{"error":"invalid namespace name"}""")
                case Some(dir) if java.nio.file.Files.isDirectory(dir) =>
                  respond(x, 200, "{}")
                case _ => respond(x, 404, """{"error":"no such namespace"}""")
              }

            case ("POST", Seq("namespaces", ns)) =>
              resolveUnder(ns) match {
                case None => respond(x, 400, """{"error":"invalid namespace name"}""")
                case Some(dir) =>
                  java.nio.file.Files.createDirectories(dir)
                  respond(x, 200, "{}")
              }

            case ("DELETE", Seq("namespaces", ns)) =>
              resolveUnder(ns) match {
                case None => respond(x, 400, """{"error":"invalid namespace name"}""")
                case Some(dir) if java.nio.file.Files.exists(dir) =>
                  // DSv2 contract: a non-cascade drop of a non-empty
                  // namespace must fail, not silently wipe its contents.
                  // "Non-empty" means ANY child — tables, views, nested
                  // namespaces — not just direct GraftTable children
                  // (views and nested dirs would otherwise be invisible
                  // to the emptiness check and get wiped).
                  val cascade = Option(x.getRequestURI.getQuery)
                    .exists(_.split('&').contains("cascade=true"))
                  val children = graft.core.FsUtil.listAll(dir)
                  if (children.nonEmpty && !cascade)
                    respond(x, 409, """{"error":"namespace not empty"}""")
                  else {
                    graft.core.FsUtil.walkAll(dir).reverse
                      .foreach(java.nio.file.Files.deleteIfExists(_))
                    respond(x, 200, "{}")
                  }
                case _ => respond(x, 404, """{"error":"no such namespace"}""")
              }

            // resolution/list recognize OBJECT tables (object-table.json
            // marker — gvfs in REST mode resolves them for raw-file IO)
            // and REGISTERED external tables (external-table.json marker
            // whose "path" names a graft table outside the warehouse)
            case ("GET", Seq("namespaces", ns, "tables")) =>
              resolveUnder(ns) match {
                case None => respond(x, 400, """{"error":"invalid namespace name"}""")
                case Some(dir) =>
                  val ts =
                    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
                    else graft.core.FsUtil.listAll(dir)
                      .filter(p => GraftTable.exists(p.toString) ||
                        java.nio.file.Files.exists(p.resolve("object-table.json")) ||
                        externalPath(p).isDefined)
                      .map(_.getFileName.toString).sorted
                  respond(x, 200, graft.core.Json.write(ts))
              }

            case ("GET", Seq("namespaces", ns, "tables", t)) =>
              resolveUnder(ns, t) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) if GraftTable.exists(dir.toString) ||
                    java.nio.file.Files.exists(dir.resolve("object-table.json")) =>
                  respond(x, 200, graft.core.Json.write(Map("path" -> dir.toString)))
                case Some(dir) =>
                  externalPath(dir).filter(GraftTable.exists) match {
                    case Some(p) =>
                      respond(x, 200, graft.core.Json.write(Map("path" -> p)))
                    case None => respond(x, 404, """{"error":"no such table"}""")
                  }
                case _ => respond(x, 404, """{"error":"no such table"}""")
              }

            // register a graft table living at an EXTERNAL path: a
            // marker dir under the warehouse holds the pointer, data
            // stays where it is (reference: RESTApi registerTable)
            case ("POST", Seq("namespaces", ns, "tables", t, "register")) =>
              val spec = graft.core.Json.read(
                new String(x.getRequestBody.readAllBytes(), "UTF-8"),
                classOf[Map[String, String]])
              resolveUnder(ns, t) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) =>
                  val path = spec.getOrElse("path", "")
                  if (GraftTable.exists(dir.toString) ||
                      java.nio.file.Files.exists(dir.resolve("object-table.json")) ||
                      externalPath(dir).isDefined)
                    respond(x, 409, """{"error":"table already exists"}""")
                  else if (!GraftTable.exists(path))
                    respond(x, 400, """{"error":"no graft table at path"}""")
                  else {
                    java.nio.file.Files.createDirectories(dir)
                    java.nio.file.Files.write(dir.resolve("external-table.json"),
                      graft.core.Json.write(Map("path" -> path)).getBytes("UTF-8"))
                    respond(x, 200, "{}")
                  }
              }

            case ("POST", Seq("namespaces", ns, "tables")) =>
              val spec = graft.core.Json.read(
                new String(x.getRequestBody.readAllBytes(), "UTF-8"),
                classOf[TableSpec])
              resolveUnder(ns, spec.name) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) =>
                  // the service creates the table skeleton itself: clients
                  // never need write access to the metadata tree
                  GraftTable.create(SparkSession.active, dir.toString,
                    DataType.fromJson(spec.schemaJson).asInstanceOf[StructType],
                    partitionKeys = spec.partitionKeys,
                    primaryKeys = spec.primaryKeys, options = spec.options)
                  respond(x, 200, graft.core.Json.write(Map("path" -> dir.toString)))
              }

            case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
              resolveUnder(ns, t) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) if java.nio.file.Files.exists(dir) =>
                  graft.core.FsUtil.walkAll(dir).reverse
                    .foreach(java.nio.file.Files.deleteIfExists(_))
                  respond(x, 200, "{}")
                case _ => respond(x, 404, """{"error":"no such table"}""")
              }

            // schema/property evolution through the service (the
            // reference's REST catalog routes ALTER via the metadata
            // service too — data IO stays direct)
            case ("POST", Seq("namespaces", ns, "tables", t, "alter")) =>
              val spec = graft.core.Json.read(
                new String(x.getRequestBody.readAllBytes(), "UTF-8"),
                classOf[AlterSpec])
              resolveUnder(ns, t) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) if GraftTable.exists(dir.toString) =>
                  // Dry-run the WHOLE change list against the current
                  // schema before applying anything: a failure on
                  // change N must not leave changes 1..N-1 committed
                  // while the client sees an error (it would retry the
                  // full statement and trip over its own half-applied
                  // prefix). Validation mirrors the per-change requires.
                  locally {
                    val gt0 = GraftTable.load(SparkSession.active, dir.toString)
                    val sch0 = gt0.schema
                    var fields: Map[String, DataType] = sch0.fields
                      .map(f => f.name -> graft.core.Meta.sparkTypeOf(f.dataType)).toMap
                    val keyed = (sch0.primaryKeys ++ sch0.partitionKeys).toSet
                    spec.changes.foreach { c =>
                      c.kind match {
                        case "addColumn" =>
                          require(!fields.contains(c.name),
                            s"column ${c.name} already exists")
                          require(c.nullable, "added columns must be nullable")
                          fields += c.name -> DataType.fromJson(c.dataTypeJson)
                        case "renameColumn" =>
                          require(fields.contains(c.name), s"no column ${c.name}")
                          require(!fields.contains(c.newName),
                            s"column ${c.newName} already exists")
                          fields += c.newName -> fields(c.name)
                          fields -= c.name
                        case "deleteColumn" =>
                          require(fields.contains(c.name), s"no column ${c.name}")
                          require(!keyed.contains(c.name),
                            "cannot drop partition or primary-key columns")
                          require(fields.size > 1, "cannot drop the last column")
                          fields -= c.name
                        case "updateColumnType" =>
                          require(fields.contains(c.name), s"no column ${c.name}")
                          require(!keyed.contains(c.name),
                            "cannot widen primary-key or partition columns")
                          val to = DataType.fromJson(c.dataTypeJson)
                          require(gt0.canWiden(fields(c.name), to),
                            s"cannot widen ${fields(c.name).sql} to ${to.sql}")
                          fields += c.name -> to
                        case "setProperty" | "removeProperty" => ()
                        case other => throw new IllegalArgumentException(
                          s"unknown table change kind: $other")
                      }
                    }
                  }
                  spec.changes.foreach { c =>
                    // reload per change: each change bumps the schema
                    val gt = GraftTable.load(SparkSession.active, dir.toString)
                    c.kind match {
                      case "addColumn" => gt.addColumn(c.name,
                        DataType.fromJson(c.dataTypeJson), c.nullable)
                      case "renameColumn" => gt.renameColumn(c.name, c.newName)
                      case "deleteColumn" => gt.dropColumn(c.name)
                      case "updateColumnType" => gt.widenColumn(c.name,
                        DataType.fromJson(c.dataTypeJson))
                      case "setProperty" => gt.setOption(c.property, c.value)
                      case "removeProperty" => gt.setOption(c.property, null)
                      case other => throw new IllegalArgumentException(
                        s"unknown table change kind: $other")
                    }
                  }
                  respond(x, 200, "{}")
                case _ => respond(x, 404, """{"error":"no such table"}""")
              }

            // ---- server-arbitrated commit (reference: RESTCatalog
            // commitSnapshot / supportsVersionManagement — the catalog
            // server is the commit AUTHORITY, so tables on stores with
            // no conditional PUT still get exactly-one-winner
            // snapshots): atomic create-if-absent of a key under the
            // table dir. 200 {created:true} = this writer won;
            // {created:false} = the key exists (somebody else won the
            // snapshot id — the client's normal CAS-retry loop takes
            // over, same contract as FileIO.tryCreateAtomic).
            case ("POST", Seq("namespaces", ns, "tables", t, "commit")) =>
              resolveUnder(ns, t) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) if GraftTable.exists(dir.toString) =>
                  val spec = graft.core.Json.read(
                    new String(x.getRequestBody.readAllBytes(), "UTF-8"),
                    classOf[CommitSpec])
                  val target = dir.resolve(spec.key).normalize()
                  if (!target.startsWith(dir) || spec.key.contains('\u0000'))
                    respond(x, 400, """{"error":"key escapes the table dir"}""")
                  else {
                    val created = new graft.core.LocalFileIO()
                      .tryCreateAtomic(target.toString, spec.content)
                    respond(x, 200, s"""{"created":$created}""")
                  }
                case _ => respond(x, 404, """{"error":"no such table"}""")
              }

            // latest committed snapshot id (reference: loadSnapshot)
            case ("GET", Seq("namespaces", ns, "tables", t, "snapshot")) =>
              resolveUnder(ns, t) match {
                case None => respond(x, 400, """{"error":"invalid identifier"}""")
                case Some(dir) if GraftTable.exists(dir.toString) =>
                  val sm = new graft.core.SnapshotManager(dir.toString)
                  respond(x, 200, graft.core.Json.write(
                    Map("latestSnapshotId" -> sm.latestSnapshotId.getOrElse(-1L))))
                case _ => respond(x, 404, """{"error":"no such table"}""")
              }

            case ("POST", Seq("namespaces", ns, "tables", t, "rename")) =>
              val spec = graft.core.Json.read(
                new String(x.getRequestBody.readAllBytes(), "UTF-8"),
                classOf[RenameSpec])
              (resolveUnder(ns, t), resolveUnder(spec.toNamespace, spec.toName)) match {
                // a registered EXTERNAL table renames by moving its
                // marker dir — the pointed-to storage never moves
                case (Some(src), Some(dst)) if GraftTable.exists(src.toString) ||
                    externalPath(src).isDefined =>
                  if (java.nio.file.Files.exists(dst))
                    respond(x, 409, """{"error":"target exists"}""")
                  else {
                    java.nio.file.Files.createDirectories(dst.getParent)
                    java.nio.file.Files.move(src, dst)
                    respond(x, 200, "{}")
                  }
                case (Some(_), Some(_)) =>
                  respond(x, 404, """{"error":"no such table"}""")
                case _ => respond(x, 400, """{"error":"invalid identifier"}""")
              }

            case _ => respond(x, 404, """{"error":"unknown route"}""")
          }
        }
      } catch {
        case e: Exception =>
          respond(x, 500, graft.core.Json.write(Map("error" -> e.toString)))
      }
    })
    server.start()
    new Handle(server)
  }
}

/** FileIO that routes CAS creates under the table dir through the
  * REST server's `/commit` route (reference: RESTCatalog
  * commitSnapshot — version management lives in the catalog server).
  * Everything else delegates untouched: data/manifest writes are
  * plain uniquely-named puts that need no arbitration; only the
  * snapshot pointer race needs an authority, and `tryCreateAtomic` is
  * [[graft.core.SnapshotManager]]'s single commit gate. On a store
  * with NO conditional PUT, this is what makes concurrent writers
  * exactly-one-winner. */
/** The ONE REST client round-trip — every caller (catalog, arbitrated
  * FileIO, gvfs) goes through here so auth, timeouts and stream
  * handling cannot drift apart; callers map status codes to their own
  * error types. */
private[sources] object RestHttp {
  def request(baseUri: String, token: String, method: String,
      route: String, body: Option[String] = None): (Int, String) = {
    val conn = new URL(s"$baseUri/v1/$route").openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("Authorization", s"Bearer $token")
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text =
      if (stream == null) "" else new String(stream.readAllBytes(), "UTF-8")
    (code, text)
  }
}

class RestArbitratedIO(
    delegate: graft.core.FileIO, uri: String, token: String,
    ns: String, table: String, tableRoot: String) extends graft.core.FileIO {
  private val rootNorm =
    java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize()

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

  override def tryCreateAtomic(path: String, content: String): Boolean = {
    val target = java.nio.file.Paths.get(path).toAbsolutePath.normalize()
    if (!target.startsWith(rootNorm))
      return delegate.tryCreateAtomic(path, content)
    val key = rootNorm.relativize(target).toString
    val (code, text) = RestHttp.request(uri, token, "POST",
      s"namespaces/$ns/tables/$table/commit",
      Some(graft.core.Json.write(GraftRestServer.CommitSpec(key, content))))
    if (code >= 400) throw new RuntimeException(
      s"REST-arbitrated commit of $key failed ($code): $text")
    graft.core.Json.read(text, classOf[Map[String, Boolean]])("created")
  }
}

class GraftRestCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var uri: String = _
  private var token: String = _
  private var arbitratedCommits: Boolean = false

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    uri = Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(s"spark.sql.catalog.$name.uri must be set"))
    token = Option(options.get("token")).getOrElse("")
    arbitratedCommits =
      Option(options.get("arbitrated-commits")).contains("true")
  }

  override def name(): String = catalogName

  /** One metadata round-trip. Body=None → GET (or DELETE). */
  private def http(method: String, route: String, body: Option[String] = None)
      : (Int, String) =
    RestHttp.request(uri, token, method, route, body)
  private def expect(method: String, route: String, body: Option[String] = None): String = {
    val (code, text) = http(method, route, body)
    if (code == 401) throw new SecurityException(s"REST catalog $uri: unauthorized")
    if (code >= 400) throw new RuntimeException(
      s"REST catalog $uri $method /$route failed ($code): $text")
    text
  }

  // ---- tables ----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    graft.core.Json.read(
      expect("GET", s"namespaces/${namespace.mkString("/")}/tables"),
      classOf[Seq[String]])
      .map(Identifier.of(namespace, _)).toArray

  /** Resolve the storage path remotely; data access stays direct. */
  private def remotePath(ident: Identifier): String = {
    val (code, text) = http("GET",
      s"namespaces/${ident.namespace().mkString("/")}/tables/${ident.name()}")
    if (code == 401) throw new SecurityException(s"REST catalog $uri: unauthorized")
    if (code == 404)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    graft.core.Json.read(text, classOf[Map[String, String]])("path")
  }

  /** Register a graft table living at an EXTERNAL path under this
    * catalog — read-through resolution without copying data
    * (reference: RESTApi registerTable route / Catalog.registerTable). */
  def registerTable(ident: Identifier, path: String): Unit =
    expect("POST",
      s"namespaces/${ident.namespace().mkString("/")}/tables/${ident.name()}/register",
      Some(graft.core.Json.write(Map("path" -> path))))

  override def loadTable(ident: Identifier): Table = {
    val path = remotePath(ident)
    // arbitrated-commits=true: route the snapshot CAS through the
    // server's /commit authority — for table storage with no
    // conditional PUT (reference: RESTCatalog.commitSnapshot)
    val gt =
      if (arbitratedCommits)
        GraftTable.load(spark, path, new RestArbitratedIO(
          new graft.core.LocalFileIO(), uri, token,
          ident.namespace().mkString("/"), ident.name(), path))
      else GraftTable.load(spark, path)
    GraftSparkTable(gt)
  }

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partitionKeys = partitions.toSeq.map { t =>
      require(t.name == "identity",
        s"unsupported partition transform: ${t.describe()}")
      t.references()(0).fieldNames().mkString(".")
    }
    val props = properties.asScala.toMap
    val primaryKeys = props.get("primary-key")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
    val options = props -- Seq("primary-key", TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL)
    expect("POST", s"namespaces/${ident.namespace().mkString("/")}/tables",
      Some(graft.core.Json.write(GraftRestServer.TableSpec(
        ident.name(), schema.json, partitionKeys, primaryKeys, options))))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import GraftRestServer.{AlterSpec, TableChangeSpec}
    def spec(kind: String, name: String = "", newName: String = "",
        dataTypeJson: String = "", nullable: Boolean = true,
        property: String = "", value: String = "") =
      TableChangeSpec(kind, name, newName, dataTypeJson, nullable, property, value)
    val specs = changes.toSeq.map {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        spec("addColumn", name = add.fieldNames()(0),
          dataTypeJson = add.dataType().json, nullable = add.isNullable)
      case ren: TableChange.RenameColumn if ren.fieldNames().length == 1 =>
        spec("renameColumn", name = ren.fieldNames()(0), newName = ren.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        spec("deleteColumn", name = del.fieldNames()(0))
      case upd: TableChange.UpdateColumnType if upd.fieldNames().length == 1 =>
        spec("updateColumnType", name = upd.fieldNames()(0),
          dataTypeJson = upd.newDataType().json)
      case set: TableChange.SetProperty =>
        spec("setProperty", property = set.property(), value = set.value())
      case rm: TableChange.RemoveProperty =>
        spec("removeProperty", property = rm.property())
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other")
    }
    expect("POST",
      s"namespaces/${ident.namespace().mkString("/")}/tables/${ident.name()}/alter",
      Some(graft.core.Json.write(AlterSpec(specs))))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    http("DELETE",
      s"namespaces/${ident.namespace().mkString("/")}/tables/${ident.name()}")._1 == 200

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (code, text) = http("POST",
      s"namespaces/${oldIdent.namespace().mkString("/")}/tables/${oldIdent.name()}/rename",
      Some(graft.core.Json.write(GraftRestServer.RenameSpec(
        newIdent.namespace().mkString("/"), newIdent.name()))))
    if (code == 404)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(oldIdent)
    if (code == 409)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    if (code >= 400) throw new RuntimeException(
      s"REST rename failed ($code): $text")
  }

  // ---- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    graft.core.Json.read(expect("GET", "namespaces"), classOf[Seq[String]])
      .map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    listNamespaces().exists(_.sameElements(namespace))

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    expect("POST", s"namespaces/${namespace.mkString("/")}")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace via REST")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val (code, _) = http("DELETE",
      s"namespaces/${namespace.mkString("/")}?cascade=$cascade")
    if (code == 409)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    code == 200
  }
}
