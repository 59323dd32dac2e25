package graft.sources

import graft.table.GraftTable
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Networked KV lookup service (reference: paimon-service — a
  * KvQueryServer serving LocalTableQuery point lookups to remote
  * clients, RemoteTableQuery on the consumer side).
  *
  * The Spark-first shape: the service process IS a Spark driver that
  * holds the warehouse open; each request runs
  * [[GraftTable.localLookup]] — the zero-job, bucket-pruned,
  * driver-local read path — so a point lookup costs milliseconds of
  * local parquet IO, never a scheduled stage. Clients speak plain
  * HTTP (`GET /v1/lookup/<ns>/<table>?pk=value`), so a feature store /
  * serving tier needs no Spark at all on its side.
  *
  * Scale posture: lookups are per-bucket local reads; a deployment
  * shards services by bucket range if one node's disk bandwidth
  * saturates (the reference splits by bucket the same way). The
  * service is read-only and stateless above the table — table handles
  * are cached, but every lookup re-resolves the latest snapshot, so
  * committed writes are visible immediately (spec-asserted).
  *
  * Same trust model as [[GraftRestServer]]: bearer token, path
  * segments validated against traversal, authority bounded to the
  * warehouse.
  */
object GraftLookupService {

  final class Handle(server: HttpServer,
      pool: java.util.concurrent.ExecutorService,
      servedCount: java.util.concurrent.atomic.AtomicLong) {
    def port: Int = server.getAddress.getPort
    def uri: String = s"http://127.0.0.1:$port"
    def stop(): Unit = { server.stop(0); pool.shutdown() }
    /** Lookups this instance actually SERVED (sharding spec surface:
      * proves a shard only receives its own buckets' traffic). */
    def served: Long = servedCount.get()
  }

  /** Row values → JSON-encodable structures (nested rows to objects,
    * binary to base64, temporal/decimal to strings). */
  private def jsonable(v: Any): Any = v match {
    case null => null
    case r: org.apache.spark.sql.Row if r.schema != null =>
      r.schema.fields.map(_.name).zip(r.toSeq.map(jsonable)).toMap
    case r: org.apache.spark.sql.Row => r.toSeq.map(jsonable)
    case s: Seq[_] => s.map(jsonable)
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> jsonable(x) }
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toString
    case t: java.time.LocalDateTime => t.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case bd: scala.math.BigDecimal => bd.underlying.toPlainString
    case x => x
  }

  /** @param shard optional (index, count) bucket-range ownership
    *   (reference: paimon-service spreads bucket ownership across
    *   KvQueryServer nodes): a server with shard (i, n) serves only
    *   keys whose fixed bucket b satisfies floorMod(b, n) == i, and
    *   answers 421 with the owning shard index otherwise — a
    *   misrouted client gets a loud redirect, never silent wrong/slow
    *   service. Dynamic-bucket tables (no computable hash bucket)
    *   serve on any shard. */
  def start(warehouse: String, token: String,
      shard: Option[(Int, Int)] = None): Handle = {
    shard.foreach { case (i, n) =>
      require(n > 0 && i >= 0 && i < n, s"bad shard ($i, $n)")
    }
    val servedCount = new java.util.concurrent.atomic.AtomicLong
    // the JDK server's default (Nagle on) interacts with delayed ACK
    // into ~40 ms per request on Linux loopback — read by ServerConfig
    // on first server creation, so set before create()
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val warehouseRoot =
      java.nio.file.Paths.get(warehouse).toAbsolutePath.normalize()
    def badSeg(s: String): Boolean =
      s.isEmpty || s == "." || s == ".." ||
        s.contains('/') || s.contains('\\') || s.contains('\u0000')
    // table handles cached per identifier; every lookup re-resolves
    // the latest snapshot through the handle, so no staleness
    val tables = scala.collection.concurrent.TrieMap.empty[String, GraftTable]

    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(code, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    }

    server.createContext("/v1/lookup/", (x: HttpExchange) => {
      try {
        // constant-time compare: plain String equality leaks token
        // prefix length/content via timing on a network endpoint
        val authed = Option(x.getRequestHeaders.getFirst("Authorization"))
          .exists(h => java.security.MessageDigest.isEqual(
            h.getBytes("UTF-8"), s"Bearer $token".getBytes("UTF-8")))
        if (!authed) respond(x, 401, """{"error":"unauthorized"}""")
        else {
          val parts = x.getRequestURI.getPath.stripPrefix("/v1/lookup/")
            .split("/").filter(_.nonEmpty).toSeq
          parts match {
            case Seq(ns, t) if !badSeg(ns) && !badSeg(t) =>
              val dir = warehouseRoot.resolve(ns).resolve(t).normalize()
              if (!dir.startsWith(warehouseRoot) || !GraftTable.exists(dir.toString))
                respond(x, 404, """{"error":"no such table"}""")
              else {
                val table = tables.getOrElseUpdate(s"$ns/$t",
                  GraftTable.load(org.apache.spark.sql.SparkSession.active,
                    dir.toString))
                val params = Option(x.getRequestURI.getRawQuery).getOrElse("")
                  .split('&').filter(_.contains("=")).map { kv =>
                    val Array(k, v) = kv.split("=", 2)
                    java.net.URLDecoder.decode(k, "UTF-8") ->
                      java.net.URLDecoder.decode(v, "UTF-8")
                  }.toMap
                val sch = table.schema
                val pk = sch.primaryKeys
                if (pk.isEmpty)
                  respond(x, 400, """{"error":"not a primary-key table"}""")
                else if (pk.toSet != params.keySet)
                  respond(x, 400, graft.core.Json.write(Map(
                    "error" -> s"must bind exactly the primary key: ${pk.mkString(",")}")))
                else {
                  // query-string values are cast to the key types by the
                  // lookup itself (graft.table.Buckets.coerce)
                  val keyValues: Map[String, Any] = params
                  val owner = shard.flatMap { case (_, n) =>
                    table.pkBucketFor(keyValues)
                      .map(b => java.lang.Math.floorMod(b, n))
                  }
                  if (owner.exists(o => !shard.map(_._1).contains(o)))
                    respond(x, 421, graft.core.Json.write(Map(
                      "error" -> "wrong shard", "owner" -> owner.get)))
                  else {
                    // top-level rows from the local fast path carry no
                    // schema — name them from the table's struct
                    val names = sch.toStruct.fieldNames.toSeq
                    val rows = table.localLookup(keyValues)
                      .map(r => names.zip(r.toSeq.map(jsonable)).toMap)
                    servedCount.incrementAndGet()
                    respond(x, 200, graft.core.Json.write(rows))
                  }
                }
              }
            case _ => respond(x, 400, """{"error":"invalid identifier"}""")
          }
        }
      } catch {
        // a key value with no exact form in the key type (Buckets.coerce)
        // is the caller's error, not the server's
        case e: IllegalArgumentException =>
          respond(x, 400, graft.core.Json.write(Map("error" -> e.getMessage)))
        case e: Exception =>
          respond(x, 500, graft.core.Json.write(Map("error" -> e.toString)))
      }
    })
    // a small DAEMON pool (default executor = caller thread) +
    // keep-alive on the client side turns a lookup into ~1 ms of local
    // parquet/hash work instead of a per-request TCP setup; daemon
    // threads + Handle.stop shutting the pool keep the JVM exitable
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    new Handle(server, pool, servedCount)
  }
}

/** Client-side routing for a bucket-sharded service fleet (reference
  * role: RemoteTableQuery's bucket→server dispatch). The router runs
  * where a table handle exists (driver / feature-pipeline side) and
  * computes the same bucket hash the write path uses; the selected
  * shard's URI then takes a plain [[GraftLookupClient.lookup]]. */
object GraftLookupRouter {

  /** Which of `numShards` servers owns this key. String key values
    * are cast to the table's declared key types, as on the HTTP
    * endpoint. Dynamic-bucket tables have no computable hash bucket
    * — every shard can serve them, so route to shard 0. */
  def shardFor(gt: GraftTable, keys: Map[String, String], numShards: Int): Int = {
    require(numShards > 0, s"bad shard count $numShards")
    gt.pkBucketFor(keys).map(b => java.lang.Math.floorMod(b, numShards)).getOrElse(0)
  }

  /** Route + lookup in one call against a fleet of shard URIs (index
    * i = shard i of `uris.length`). */
  def lookup(
      gt: GraftTable, uris: Seq[String], token: String,
      ns: String, table: String,
      keys: Map[String, String]): Seq[Map[String, Any]] =
    GraftLookupClient.lookup(
      uris(shardFor(gt, keys, uris.length)), token, ns, table, keys)
}

/** Spark-free consumer of [[GraftLookupService]] (reference role:
  * RemoteTableQuery) — plain HTTP + JSON, usable from any JVM. A
  * shared keep-alive HttpClient makes a warm lookup one request on a
  * pooled connection (~1-2 ms), not a TCP setup per call. */
object GraftLookupClient {

  private lazy val http: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1)
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()

  /** Point-lookup `ns.table` by its full primary key; returns the
    * merged row(s) as field→value maps (empty when the key is absent
    * or deleted). */
  def lookup(
      uri: String, token: String, ns: String, table: String,
      keys: Map[String, String]): Seq[Map[String, Any]] = {
    val qs = keys.map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$uri/v1/lookup/$ns/$table?$qs"))
      .header("Authorization", s"Bearer $token")
      .timeout(java.time.Duration.ofSeconds(60))
      .GET().build()
    val resp = http.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val code = resp.statusCode()
    if (code == 401) throw new SecurityException("lookup service: unauthorized")
    if (code >= 400) throw new RuntimeException(
      s"lookup failed ($code): ${resp.body()}")
    graft.core.Json.read(resp.body(), classOf[Seq[Map[String, Any]]])
  }
}
