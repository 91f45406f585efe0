package graft.rest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core._
import graft.crud.{CrudEngine, Records}
import graft.graphql.{Ast, Executor}

/** REST + GraphQL HTTP front-end — `server.rs:45-267` semantics:
  *
  *  - `POST /api/rest/{model}` → create, **201** `{"data": record}`;
  *  - `GET/PUT/DELETE /api/rest/{model}/{id}` → read/update/delete,
  *    **200** `{"data": record}` (PUT echoes the *merged* record);
  *  - `POST /api/graphql` → GraphQL; errors-only result → **400**;
  *  - `GET /api/graphql` → GraphiQL page;
  *  - every error — including record-not-found and unknown endpoints —
  *    → **400** `{"error": msg}` (`server.rs:124-129`).
  *
  * Single JDK httpserver (offline env has no akka/http4s); request
  * handling delegates to the Spark CRUD engine, which serializes
  * writes per model.
  *
  * Accepted sockets get `TCP_NODELAY`. The JDK server writes a reply's
  * headers and body as two segments, and under Nagle's algorithm the
  * body waits for the client's delayed ACK of the headers (~40 ms on
  * Linux, most of a served point read). The only switch is the
  * JVM-wide `sun.net.httpserver.nodelay` property, read once when the
  * JDK server's configuration class initializes. The companion's
  * initializer sets it, and every server socket is created by
  * [[Server.bind]], a companion method, so it is set before the first.
  *
  * A request that throws still gets gus's 400 `{"error": msg}`, and
  * the server writes one stderr line naming the method, the path and
  * the exception class, so storage failures show in the log.
  */
final class Server(registry: Registry, engine: CrudEngine, port: Int,
    changeLog: Option[graft.streaming.ChangeLog] = None,
    viewHtml: Option[String] = None) {

  private val executor = new Executor(registry, engine)
  private val server = Server.bind(port)

  def start(): Unit = {
    server.createContext("/", handle _)
    // thread pool: SSE subscriptions hold their connection open, and
    // must not starve CRUD requests (writes serialize per model in
    // the engine, so concurrent dispatch is safe). BOUNDED at
    // MaxHttpThreads — each subscriber pins a thread, and an unbounded
    // cached pool would let subscriber count grow without limit;
    // beyond the bound new connections are rejected rather than
    // silently degrading the whole server. Idle threads wind down.
    server.setExecutor(new java.util.concurrent.ThreadPoolExecutor(
      4, Server.MaxHttpThreads, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable]()))
    server.start()
  }
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def dataEnvelope(rec: Records.Record, m: ModelDefinition): String =
    s"""{"data":${Records.toJson(rec, m)}}"""
  private def errorEnvelope(msg: String): String =
    s"""{"error":${JsonUtil.quote(msg)}}"""

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    try route(ex, method, path.split("/").filter(_.nonEmpty).toList)
    catch {
      case e: Exception =>
        System.err.println(
          s"[server] $method $path failed: ${e.getClass.getName}")
        respond(ex, 400, errorEnvelope(e.getMessage))
    } finally ex.close()
  }

  private def route(ex: HttpExchange, method: String,
      segs: List[String]): Unit =
    (method, segs) match {
      case ("POST", List("api", "graphql")) => handleGraphql(ex)
      case ("GET", List("api", "graphql")) =>
        // O20: the GraphiQL view. `--view <file>` serves a page from
        // disk (the reference's graphql-gui.html CDN-fetcher shape —
        // view/graphql-gui.html ships one); default is the
        // self-contained console (zero-egress environments have no CDN)
        val bytes = viewHtml.getOrElse(Server.consolePage)
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html")
        ex.sendResponseHeaders(200, bytes.length)
        val os = ex.getResponseBody; os.write(bytes); os.close()
      case ("POST", List("api", "rest", model)) =>
        withModel(ex, model) { m =>
          engine.createOne(m, readBody(ex)) match {
            case Right(rec) => respond(ex, 201, dataEnvelope(rec, m))
            case Left(err) => respond(ex, 400, errorEnvelope(err))
          }
        }
      case ("GET", List("api", "rest", model, id)) =>
        withModel(ex, model) { m =>
          engine.readOne(m, id) match {
            case Right(rec) => respond(ex, 200, dataEnvelope(rec, m))
            case Left(err) => respond(ex, 400, errorEnvelope(err))
          }
        }
      case ("PUT", List("api", "rest", model, id)) =>
        withModel(ex, model) { m =>
          engine.updateOne(m, id, readBody(ex)) match {
            case Right(rec) => respond(ex, 200, dataEnvelope(rec, m))
            case Left(err) => respond(ex, 400, errorEnvelope(err))
          }
        }
      case ("DELETE", List("api", "rest", model, id)) =>
        withModel(ex, model) { m =>
          engine.deleteOne(m, id) match {
            case Right(rec) => respond(ex, 200, dataEnvelope(rec, m))
            case Left(err) => respond(ex, 400, errorEnvelope(err))
          }
        }
      case ("GET", List("api", "subscribe", model)) =>
        withModel(ex, model)(m => handleSubscribe(ex, m))
      // wrong shapes: exactly-2-segment rule etc (`server.rs:117-123`)
      case _ => respond(ex, 400, errorEnvelope("invalid endpoint"))
    }

  private def withModel(ex: HttpExchange, name: String)(
      f: ModelDefinition => Unit): Unit = {
    if (!ModelValidation.validAttrName(name))
      respond(ex, 400, errorEnvelope(
        "Name is not alphabetic in camelCase, PascalCase, snake_case or spinal-case"))
    else registry.lookupSingular(name) match {
      case Left(err) => respond(ex, 400, errorEnvelope(err))
      case Right(m) => f(m)
    }
  }

  /** Shared SSE poll loop: catch-up from `Last-Event-ID` (default 0),
    * then poll the changelog's held events (`eventsSince` — an
    * in-memory filter, no Spark job) every PollMs. A
    * `: keep-alive` comment goes out every KeepAliveMs of idle, so a
    * vanished client surfaces as an IOException and frees its handler
    * thread instead of looping forever. `?max_events=N` closes after N
    * events (also what the tests use). */
  private def sseLoop(ex: HttpExchange, log: graft.streaming.ChangeLog,
      modelPlural: String)(render: org.apache.spark.sql.Row => String): Unit = {
    val maxEvents = Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").collectFirst {
        case kv if kv.startsWith("max_events=") =>
          kv.stripPrefix("max_events=").toInt
      }).getOrElse(Int.MaxValue)
    var lastSeq = Option(ex.getRequestHeaders.getFirst("Last-Event-ID"))
      .map(_.toLong).getOrElse(0L)
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val os = ex.getResponseBody
    var sent = 0
    var idleMs = 0L
    try {
      while (sent < maxEvents) {
        val fresh = log.eventsSince(lastSeq)
          .filter(_.getAs[String]("model") == modelPlural)
        fresh.foreach { row =>
          if (sent < maxEvents) {
            val seq = row.getAs[Long]("seq")
            os.write(s"id: $seq\ndata: ${render(row)}\n\n"
              .getBytes(StandardCharsets.UTF_8))
            os.flush()
            lastSeq = seq
            sent += 1
            idleMs = 0L
          }
        }
        if (sent < maxEvents) {
          Thread.sleep(Server.PollMs)
          idleMs += Server.PollMs
          if (idleMs >= Server.KeepAliveMs) {
            os.write(": keep-alive\n\n".getBytes(StandardCharsets.UTF_8))
            os.flush() // dead client → IOException → loop exits
            idleMs = 0L
          }
        }
      }
    } catch { case _: java.io.IOException => () /* client gone */ }
    finally os.close()
  }

  /** GraphQL-subscription transport: `GET /api/subscribe/{model}` is a
    * server-sent-event stream of the model's CRUD changelog — the
    * delivery half of the subscription surface the reference stubs
    * (`graphql.rs:353`). */
  private def handleSubscribe(ex: HttpExchange, m: ModelDefinition): Unit =
    changeLog match {
      case None =>
        respond(ex, 400, errorEnvelope("subscriptions are not enabled"))
      case Some(log) =>
        sseLoop(ex, log, m.modelName.pluralCamel) { row =>
          s"""{"op":${JsonUtil.quote(row.getAs[String]("op"))},""" +
            s""""pk":${row.getAs[String]("pk")},""" +
            s""""record":${row.getAs[String]("record")}}"""
        }
    }

  private def handleGraphql(ex: HttpExchange): Unit = {
    val body = readBody(ex)
    // GraphQLPost { query, operationName, variables } (`graphql.rs:159-175`)
    JsonUtil.parse(body) match {
      case Left(_) => respond(ex, 400, errorEnvelope("invalid body"))
      case Right(root) if root == null || !root.isObject ||
          !root.has("query") || !root.get("query").isTextual =>
        respond(ex, 400, errorEnvelope("invalid body"))
      case Right(root) =>
        val query = root.get("query").textValue()
        val opName = Option(root.get("operationName"))
          .filter(_.isTextual).map(_.textValue())
        val variables: Map[String, Ast.GqlValue] =
          Option(root.get("variables")).filter(_.isObject).map { v =>
            import scala.jdk.CollectionConverters._
            v.properties().asScala.map(e =>
              e.getKey -> jsonToGql(e.getValue)).toMap
          }.getOrElse(Map.empty)
        // subscription documents stream as text/event-stream (the
        // GraphQL-over-SSE shape); anything else — including every
        // parse/validation error — takes the request/response path
        val prepared = executor.prepare(query, opName)
        prepared.toOption.filter(_ => changeLog.isDefined)
          .flatMap(executor.subscriptionPlanOf(_).toOption) match {
          case Some(plan) => streamSubscription(ex, plan)
          case None =>
            val result = prepared.fold(identity, executor.run(_, variables))
            // errors-only → 400, else 200 (`server.rs:183-186`)
            val status = if (result.isErrorOnly) 400 else 200
            respond(ex, status, Executor.toJson(result))
        }
    }
  }

  /** GraphQL subscription over SSE: one event per changelog entry for
    * the plan's model, each `data:` line a GraphQL `{"data":{...}}`
    * payload projected through the subscription's selection set.
    * Same catch-up/poll/keep-alive/`max_events` contract as
    * `/api/subscribe` (shared [[sseLoop]]). */
  private def streamSubscription(ex: HttpExchange,
      plan: Executor.SubscriptionPlan): Unit = {
    val m = plan.model
    sseLoop(ex, changeLog.get, m.modelName.pluralCamel) { row =>
      graft.crud.Records.parseRecord(
        row.getAs[String]("record"), m, Some(Seq.empty)) match {
        case Right(rec) =>
          """{"data":""" +
            Executor.dataJson(executor.projectEvent(plan, rec)) + "}"
        case Left(err) =>
          s"""{"errors":[{"message":${JsonUtil.quote(err)},"locations":[]}]}"""
      }
    }
  }

  private[rest] def jsonToGql(n: com.fasterxml.jackson.databind.JsonNode)
      : Ast.GqlValue = {
    import Ast._
    if (n.isNull) NullV
    else if (n.isTextual) StrV(n.textValue())
    else if (n.isBoolean) BoolV(n.booleanValue())
    else if (n.isIntegralNumber) IntV(n.longValue())
    else if (n.isNumber) FloatV(n.doubleValue())
    else if (n.isArray) {
      import scala.jdk.CollectionConverters._
      ListV(n.elements().asScala.toVector.map(jsonToGql))
    } else {
      import scala.jdk.CollectionConverters._
      ObjV(n.properties().asScala.toVector.map(e =>
        e.getKey -> jsonToGql(e.getValue)))
    }
  }
}

object Server {
  // must precede the first HttpServer.create in the JVM (see the class doc)
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** An unstarted JDK server on `port`; its sockets get `TCP_NODELAY`. */
  def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  /** Handler-pool ceiling: each SSE subscriber pins one thread, so the
    * pool must be bounded (beyond it, connections are rejected — the
    * failure is visible instead of an unbounded thread pile-up). */
  val MaxHttpThreads = 64
  val PollMs = 500L
  val KeepAliveMs = 15000L

  /** Self-contained query console served at GET /api/graphql — no
    * external assets (zero-egress environment). */
  val consolePage: String =
    """<!DOCTYPE html>
      |<html><head><title>graft GraphQL</title><style>
      |body{font-family:monospace;margin:2em;background:#1e1e1e;color:#ddd}
      |textarea{width:100%;height:12em;background:#2a2a2a;color:#ddd;
      |  border:1px solid #555;padding:.5em;font-family:monospace}
      |pre{background:#2a2a2a;border:1px solid #555;padding:.5em;
      |  white-space:pre-wrap}
      |button{padding:.4em 1.2em;margin:.5em 0}
      |</style></head><body>
      |<h2>graft GraphQL console</h2>
      |<textarea id="q">{ __schema { queryType { name } } }</textarea><br>
      |<button onclick="run()">Run</button>
      |<pre id="out">—</pre>
      |<script>
      |async function run() {
      |  const r = await fetch('/api/graphql', {method: 'POST',
      |    headers: {'Content-Type': 'application/json'},
      |    body: JSON.stringify({query: document.getElementById('q').value})});
      |  const j = await r.json();
      |  document.getElementById('out').textContent =
      |    JSON.stringify(j, null, 2);
      |}
      |</script></body></html>""".stripMargin
}
