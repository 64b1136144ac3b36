package graft.table

import java.net.{InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.meta.Schema
import graft.meta.model.JsonCodecs

/** A commit whose outcome the client cannot know: the request may have been
  * applied by the server before the failure (ref
  * `api/.../exceptions/CommitStateUnknownException.java` semantics). Callers
  * must NOT treat this as a clean conflict — retrying against a re-read base
  * could double-apply, and the already-written metadata file must be left in
  * place (it may be the current pointer). The retry loop in
  * [[TableOps.commitWithRetry]] propagates it by construction (only a
  * `false` return retries), and the snapshot producer
  * ([[IceTable.commitSnapshot]]) keeps every manifest and manifest list its
  * attempts wrote, as it does for any exception out of the CAS; orphan
  * removal collects them if the commit did not land. */
class CommitStateUnknownException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** HTTP-service-backed [[CatalogStore]]: the table pointer lives in a
  * central catalog service and every commit is a compare-and-swap REQUEST —
  * the commit-protocol class behind REST/metastore catalog services (the
  * incubator reference ships only file/JDBC/Hive pointers; this is the
  * service-fronted variant those deployments grew into). The client still
  * writes metadata/data files itself on shared storage; only the pointer
  * round-trips over HTTP, so catalog traffic stays a handful of small
  * requests per query or commit regardless of data volume.
  *
  * Failure taxonomy matters more than transport here:
  *  - 404/409 are CLEAN outcomes (absent / lost the race) → None/false, the
  *    caller's retry loop re-reads and reapplies;
  *  - transport errors and 5xx on a MUTATING pointer call are
  *    [[CommitStateUnknownException]] — the server may have applied the
  *    swap, so neither "failed" nor "committed" can be assumed;
  *  - 401 is a loud configuration error (bad/missing bearer token).
  *
  * The wire carries only the pointer: the `schema` argument of the pointer
  * writes is not sent.
  */
final class RestCatalogStore(baseUri: String, token: Option[String] = None)
    extends CatalogStore {

  private val base = baseUri.stripSuffix("/")
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  private def enc(s: String): String =
    URLEncoder.encode(s, UTF_8).replace("+", "%20")

  private def req(method: String, path: String, body: Option[String] = None)
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"$base$path"))
      .timeout(Duration.ofSeconds(30))
      .header("Content-Type", "application/json")
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val r = body match {
      case Some(j) => b.method(method, HttpRequest.BodyPublishers.ofString(j, UTF_8))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() == 401)
      throw new IllegalStateException(
        s"Catalog service at $base rejected credentials (401) for $method $path")
    resp
  }

  /** Read-side call: absent→None is the only non-200 outcome tolerated. */
  private def get(path: String): Option[JsonNode] = {
    val r = req("GET", path)
    r.statusCode() match {
      case 200 => Some(JsonCodecs.mapper.readTree(r.body()))
      case 404 => None
      case s => throw new IllegalStateException(
        s"Catalog service error $s on GET $path: ${r.body()}")
    }
  }

  /** Pointer-mutating call: 200→true, 404/409→false (clean conflict),
    * anything else (incl. transport failure) → commit state unknown. */
  private def mutate(method: String, path: String, body: String): Boolean = {
    val r =
      try req(method, path, Some(body))
      catch {
        case e: IllegalStateException => throw e // 401 — outcome known
        case e: Exception => throw new CommitStateUnknownException(
          s"Lost contact with catalog service during $method $path — " +
            "the pointer swap may or may not have been applied", e)
      }
    r.statusCode() match {
      case 200 | 204 => true
      case 404 | 409 => false
      case s => throw new CommitStateUnknownException(
        s"Catalog service returned $s on $method $path: ${r.body()} — " +
          "the pointer swap may or may not have been applied")
    }
  }

  private def tablePath(ns: String, name: String) =
    s"/v1/namespaces/${enc(ns)}/tables/${enc(name)}"

  private def pointerJson(tableLocation: String, version: Int,
      metadataLocation: String, expected: Option[String] = None): String = {
    val o = JsonCodecs.mapper.createObjectNode()
    o.put("table-location", tableLocation)
    o.put("pointer-version", version)
    o.put("metadata-location", metadataLocation)
    expected.foreach(o.put("expected-metadata-location", _))
    o.toString
  }

  override def getPointer(ns: String, name: String): Option[(Int, String, String)] =
    get(tablePath(ns, name)).map { n =>
      (n.get("pointer-version").asInt,
        n.get("metadata-location").asText,
        n.get("table-location").asText)
    }

  override def insertPointer(ns: String, name: String, tableLocation: String,
      schema: Schema, version: Int, metadataLocation: String): Boolean =
    mutate("POST", s"/v1/namespaces/${enc(ns)}/tables",
      pointerJson(tableLocation, version, metadataLocation) match {
        case j => // carry the table name alongside the pointer fields
          val o = JsonCodecs.mapper.readTree(j).asInstanceOf[ObjectNode]
          o.put("name", name); o.toString
      })

  override def casPointer(ns: String, name: String, expected: String,
      schema: Schema, newVersion: Int, newMetadataLocation: String): Boolean =
    mutate("POST", tablePath(ns, name),
      pointerJson("", newVersion, newMetadataLocation, Some(expected)))

  override def replacePointer(ns: String, name: String, tableLocation: String,
      schema: Schema, version: Int, metadataLocation: String): Boolean =
    mutate("POST", tablePath(ns, name) + "/replace",
      pointerJson(tableLocation, version, metadataLocation))

  override def dropPointer(ns: String, name: String): Boolean =
    mutate("DELETE", tablePath(ns, name), "")

  override def renamePointer(fromNs: String, fromName: String, toNs: String,
      toName: String): Boolean = {
    val o = JsonCodecs.mapper.createObjectNode()
    o.putObject("source").put("namespace", fromNs).put("name", fromName)
    o.putObject("destination").put("namespace", toNs).put("name", toName)
    mutate("POST", "/v1/tables/rename", o.toString)
  }

  override def listTables(ns: String): Seq[String] =
    get(s"/v1/namespaces/${enc(ns)}/tables")
      .map(_.get("identifiers").elements().asScala.map(_.get("name").asText).toSeq)
      .getOrElse(Seq.empty)

  override def createNamespace(ns: String): Boolean = {
    val o = JsonCodecs.mapper.createObjectNode()
    o.put("namespace", ns)
    mutate("POST", "/v1/namespaces", o.toString)
  }

  override def dropNamespace(ns: String): Boolean =
    mutate("DELETE", s"/v1/namespaces/${enc(ns)}", "")

  override def namespaceExists(ns: String): Boolean =
    get(s"/v1/namespaces/${enc(ns)}").isDefined

  override def listNamespaces(): Seq[String] =
    get("/v1/namespaces")
      .map(_.get("namespaces").elements().asScala.map(_.asText).toSeq)
      .getOrElse(Seq.empty)
}

/** Embedded catalog service: the server half of [[RestCatalogStore]], pure
  * JDK (`com.sun.net.httpserver`), fronting ANY [[CatalogStore]] — in
  * production shape that is a database ([[JdbcCatalogStore]]) shared by many
  * Spark clusters, with this service owning auth and the commit point; in
  * tests it runs in-process on an ephemeral port. The server is stateless
  * above its backing store: every request maps to exactly one store call,
  * so horizontal replicas stay correct as long as the store's CAS is (the
  * same argument the reference makes for its metastore pointer). The wire
  * carries no schema, so the backing store's pointer writes get an empty
  * one: front a store that ignores it (JDBC). */
final class GraftRestCatalogServer(backing: CatalogStore,
    token: Option[String] = None) {

  private var server: HttpServer = _
  private val NoSchema = Schema(new org.apache.spark.sql.types.StructType())

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/v1", handle(_))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    this.port
  }

  def port: Int = server.getAddress.getPort
  def uri: String = s"http://127.0.0.1:$port"
  def stop(): Unit = if (server != null) server.stop(0)

  private def send(x: HttpExchange, code: Int, body: String = ""): Unit = {
    val bytes = body.getBytes(UTF_8)
    x.getResponseHeaders.add("Content-Type", "application/json")
    // zero-length bodies need -1 (no content), not 0 (chunked-forever)
    x.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) x.getResponseBody.write(bytes)
    x.close()
  }

  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  private def authorized(x: HttpExchange): Boolean = token.forall { t =>
    Option(x.getRequestHeaders.getFirst("Authorization")).contains(s"Bearer $t")
  }

  private def readBody(x: HttpExchange): JsonNode =
    JsonCodecs.mapper.readTree(new String(x.getRequestBody.readAllBytes(), UTF_8))

  private def pointerBody(p: (Int, String, String)): String = {
    val o = JsonCodecs.mapper.createObjectNode()
    o.put("pointer-version", p._1)
    o.put("metadata-location", p._2)
    o.put("table-location", p._3)
    o.toString
  }

  private def handle(x: HttpExchange): Unit =
    try {
      if (!authorized(x)) { send(x, 401, """{"error":"unauthorized"}"""); return }
      // RAW path: URI.getPath percent-decodes, and dec() below would then
      // wrongly eat literal '+' in names — decode each segment exactly once
      val parts = x.getRequestURI.getRawPath.split('/').filter(_.nonEmpty).toList
      val method = x.getRequestMethod
      (method, parts) match {
        case ("GET", "v1" :: "config" :: Nil) =>
          send(x, 200, """{"defaults":{},"overrides":{}}""")

        case ("GET", "v1" :: "namespaces" :: Nil) =>
          val o = JsonCodecs.mapper.createObjectNode()
          val arr = o.putArray("namespaces")
          backing.listNamespaces().foreach(arr.add)
          send(x, 200, o.toString)
        case ("POST", "v1" :: "namespaces" :: Nil) =>
          val ns = readBody(x).get("namespace").asText
          if (backing.createNamespace(ns)) send(x, 200)
          else send(x, 409, """{"error":"namespace exists"}""")
        case ("GET", "v1" :: "namespaces" :: ns :: Nil) =>
          if (backing.namespaceExists(dec(ns))) send(x, 200, "{}")
          else send(x, 404)
        case ("DELETE", "v1" :: "namespaces" :: ns :: Nil) =>
          if (backing.dropNamespace(dec(ns))) send(x, 204) else send(x, 404)

        case ("GET", "v1" :: "namespaces" :: ns :: "tables" :: Nil) =>
          val o = JsonCodecs.mapper.createObjectNode()
          val arr = o.putArray("identifiers")
          backing.listTables(dec(ns)).foreach { t =>
            val id = arr.addObject(); id.put("namespace", dec(ns)); id.put("name", t)
          }
          send(x, 200, o.toString)
        case ("POST", "v1" :: "namespaces" :: ns :: "tables" :: Nil) =>
          val b = readBody(x)
          val ok = backing.insertPointer(dec(ns), b.get("name").asText,
            b.get("table-location").asText, NoSchema, b.get("pointer-version").asInt,
            b.get("metadata-location").asText)
          if (ok) send(x, 200) else send(x, 409, """{"error":"table exists"}""")

        case ("GET", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
          backing.getPointer(dec(ns), dec(t)) match {
            case Some(p) => send(x, 200, pointerBody(p))
            case None => send(x, 404)
          }
        case ("POST", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
          val b = readBody(x)
          val ok = backing.casPointer(dec(ns), dec(t),
            b.get("expected-metadata-location").asText, NoSchema,
            b.get("pointer-version").asInt, b.get("metadata-location").asText)
          if (ok) send(x, 200) else send(x, 409, """{"error":"commit conflict"}""")
        case ("POST", "v1" :: "namespaces" :: ns :: "tables" :: t :: "replace" :: Nil) =>
          val b = readBody(x)
          val ok = backing.replacePointer(dec(ns), dec(t),
            b.get("table-location").asText, NoSchema, b.get("pointer-version").asInt,
            b.get("metadata-location").asText)
          if (ok) send(x, 200) else send(x, 404, """{"error":"no such table"}""")
        case ("DELETE", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
          if (backing.dropPointer(dec(ns), dec(t))) send(x, 204) else send(x, 404)

        case ("POST", "v1" :: "tables" :: "rename" :: Nil) =>
          val b = readBody(x)
          val ok = backing.renamePointer(
            b.get("source").get("namespace").asText, b.get("source").get("name").asText,
            b.get("destination").get("namespace").asText,
            b.get("destination").get("name").asText)
          if (ok) send(x, 200) else send(x, 409, """{"error":"rename failed"}""")

        case _ => send(x, 404, """{"error":"no such route"}""")
      }
    } catch {
      case e: Exception =>
        try send(x, 500, s"""{"error":${JsonCodecs.mapper.writeValueAsString(
          String.valueOf(e.getMessage))}}""")
        catch { case _: Exception => x.close() }
    }
}
