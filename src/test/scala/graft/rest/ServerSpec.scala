package graft.rest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.Registry
import graft.crud.CrudEngine
import graft.storage.ParquetBackend

/** End-to-end HTTP tests mirroring the reference's actix integration
  * suite (`server.rs:272-463`, FIXTURES.md §5): status codes,
  * envelopes, null-padded record equality, URI-id-wins PUT semantics,
  * invalid-endpoint sweeps. Uses a String-pk movie model like
  * `testing/server/movie.json`. */
class ServerSpec extends AnyFunSuite {

  private val movieJson =
    """{"model_name":"movie","storage_type":"json",
      |"attributes":{"id":"String","name":"String","year":"Integer",
      |"actors":["String"],"recommended":"Boolean"},
      |"primary_key":"id","required":["id"]}"""
      .stripMargin.replace("\n", "")

  private lazy val (server, port) = {
    val dir = Files.createTempDirectory("rest-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val reg = Registry.load(dir).toOption.get
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("rest-store").toString, buckets = 4))
    val s = new Server(reg, engine, 0)
    s.start()
    (s, s.boundPort)
  }
  private val client = HttpClient.newHttpClient()

  private def req(method: String, path: String, body: String = "")
      : (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
    val r = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST create → 201 with null-padded data envelope") {
    val (code, body) = req("POST", "/api/rest/movie",
      """{"id":"get","name":"Alien"}""")
    assert(code == 201, body)
    assert(body ==
      """{"data":{"id":"get","name":"Alien","year":null,"actors":null,"recommended":null}}""",
      body)
  }

  test("GET point read → 200, full schema order") {
    req("POST", "/api/rest/movie", """{"id":"g2","recommended":true}""")
    val (code, body) = req("GET", "/api/rest/movie/g2")
    assert(code == 200)
    assert(body ==
      """{"data":{"id":"g2","name":null,"year":null,"actors":null,"recommended":true}}""",
      body)
  }

  test("PUT merge: URI id wins, unprovided attrs kept") {
    req("POST", "/api/rest/movie",
      """{"id":"put","name":"Old","year":1990}""")
    val (code, body) = req("PUT", "/api/rest/movie/put",
      """{"id":"doesn't matter","name":"test"}""")
    assert(code == 200)
    assert(body ==
      """{"data":{"id":"put","name":"test","year":1990,"actors":null,"recommended":null}}""",
      body)
  }

  test("DELETE returns the removed record; second delete 400") {
    req("POST", "/api/rest/movie", """{"id":"del","name":"Gone"}""")
    val (c1, b1) = req("DELETE", "/api/rest/movie/del")
    assert(c1 == 200 && b1.contains(""""id":"del""""), b1)
    val (c2, b2) = req("DELETE", "/api/rest/movie/del")
    assert(c2 == 400 &&
      b2 == """{"error":"No record found to remove with id: \"del\""}""", b2)
  }

  test("errors → 400 with error envelope") {
    // not found
    val (c1, b1) = req("GET", "/api/rest/movie/nope")
    assert(c1 == 400 &&
      b1 == """{"error":"No record found with id: \"nope\""}""", b1)
    // unknown model
    val (c2, _) = req("GET", "/api/rest/book/1")
    assert(c2 == 400)
    // plural addressing rejected
    val (c3, b3) = req("GET", "/api/rest/movies/1")
    assert(c3 == 400 &&
      b3.contains("Expected singular model name"), b3)
    // invalid endpoint shapes
    assert(req("GET", "/api/rest/movie")._1 == 400)
    assert(req("GET", "/api/rest/movie/1/2")._1 == 400)
    assert(req("GET", "/nope")._1 == 400)
    // duplicate create
    req("POST", "/api/rest/movie", """{"id":"dup"}""")
    val (c4, b4) = req("POST", "/api/rest/movie", """{"id":"dup"}""")
    assert(c4 == 400 && b4 ==
      """{"error":"A record for the given key already exists, try to update it instead (PUT)"}""",
      b4)
    // invalid body
    val (c5, _) = req("POST", "/api/rest/movie", "no json")
    assert(c5 == 400)
  }

  test("SSE subscription streams CRUD changelog events") {
    val dir = Files.createTempDirectory("sse-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val reg = Registry.load(dir).toOption.get
    val log = new graft.streaming.ChangeLog(SparkSpec.spark,
      Files.createTempDirectory("sse-log").toString)
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("sse-store").toString, buckets = 4),
      Some(log))
    val s = new Server(reg, engine, 0, Some(log))
    s.start()
    try {
      val p = s.boundPort
      val c1 = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/rest/movie"))
        .method("POST", HttpRequest.BodyPublishers.ofString(
          """{"id":"s1","name":"first"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(c1.statusCode() == 201)
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/rest/movie/s1"))
        .method("PUT", HttpRequest.BodyPublishers.ofString(
          """{"name":"second"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      val sse = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/subscribe/movie?max_events=2"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(sse.statusCode() == 200)
      assert(sse.headers().firstValue("Content-Type").orElse("")
        .contains("text/event-stream"))
      val events = sse.body().split("\n\n").filter(_.nonEmpty)
      assert(events.length == 2, sse.body())
      assert(events(0).contains(""""op":"create"""") &&
        events(0).contains(""""name":"first""""), events(0))
      assert(events(1).contains(""""op":"update"""") &&
        events(1).contains(""""name":"second""""), events(1))
    } finally s.stop()
  }

  test("GraphQL subscription over HTTP streams projected events") {
    val dir = Files.createTempDirectory("gqlsse-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val reg = Registry.load(dir).toOption.get
    val log = new graft.streaming.ChangeLog(SparkSpec.spark,
      Files.createTempDirectory("gqlsse-log").toString)
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("gqlsse-store").toString, buckets = 4),
      Some(log))
    val s = new Server(reg, engine, 0, Some(log))
    s.start()
    try {
      val p = s.boundPort
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/rest/movie"))
        .method("POST", HttpRequest.BodyPublishers.ofString(
          """{"id":"g1","name":"first"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      val sse = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/graphql?max_events=1"))
        .method("POST", HttpRequest.BodyPublishers.ofString(
          """{"query":"subscription { movies { id theName: name } }"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(sse.statusCode() == 200)
      assert(sse.headers().firstValue("Content-Type").orElse("")
        .contains("text/event-stream"))
      assert(sse.body().contains(
        """data: {"data":{"movies":{"id":"g1","theName":"first"}}}"""),
        sse.body())
      // a subscription without a changelog falls back to the
      // request/response error path
      val s2 = new Server(reg, engine, 0, None)
      s2.start()
      try {
        val r2 = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s2.boundPort}/api/graphql"))
          .method("POST", HttpRequest.BodyPublishers.ofString(
            """{"query":"subscription { movies { id } }"}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
        assert(r2.statusCode() == 400 && r2.body().contains("event-stream"),
          r2.body())
      } finally s2.stop()
    } finally s.stop()
  }

  test("live GraphQL subscription: SSE opened FIRST, concurrent mutation arrives") {
    // the full loop in one case: subscription document → subscriptionPlan
    // → open SSE over HTTP → a mutation lands on a DIFFERENT connection
    // while the stream is live → the projected event is pushed to the
    // already-open stream (not a catch-up read)
    val dir = Files.createTempDirectory("livesse-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val reg = Registry.load(dir).toOption.get
    val log = new graft.streaming.ChangeLog(SparkSpec.spark,
      Files.createTempDirectory("livesse-log").toString)
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("livesse-store").toString, buckets = 4),
      Some(log))
    val s = new Server(reg, engine, 0, Some(log))
    s.start()
    try {
      val p = s.boundPort
      // open the stream first — nothing in the changelog yet
      val sseF = client.sendAsync(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/graphql?max_events=1"))
        .method("POST", HttpRequest.BodyPublishers.ofString(
          """{"query":"subscription { movies { id theName: name } }"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      Thread.sleep(1500) // let the subscriber reach its poll loop
      assert(!sseF.isDone, "stream must still be open before the mutation")
      val mut = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/graphql"))
        .method("POST", HttpRequest.BodyPublishers.ofString(
          """{"query":"mutation { addOneMovie(id:\"live\", name:\"now\") { id } }"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(mut.statusCode() == 200, mut.body())
      // generous bound: the subscriber's poll loop runs Spark jobs on
      // the shared session, and late in the suite those can queue
      // behind other tests' jobs for tens of seconds on a loaded box
      val sse = sseF.get(120, java.util.concurrent.TimeUnit.SECONDS)
      assert(sse.statusCode() == 200)
      assert(sse.headers().firstValue("Content-Type").orElse("")
        .contains("text/event-stream"))
      assert(sse.body().contains(
        """data: {"data":{"movies":{"id":"live","theName":"now"}}}"""),
        sse.body())
    } finally s.stop()
  }

  test("changelog restart: Last-Event-ID resume delivers exactly the " +
      "missed events, no dupes") {
    // subscribe → mutate → drop the connection → KILL the server →
    // restart over the same changelog/store dirs → reconnect with
    // Last-Event-ID → exactly the missed events arrive (none replayed,
    // none skipped). The regression this pins: a restarted process
    // must resume the seq counter from the persisted max — a fresh
    // counter would reissue seqs ≤ Last-Event-ID and the resumed
    // client would silently drop every post-restart event.
    val models = Files.createTempDirectory("restart-models")
    Files.writeString(models.resolve("movie.json"), movieJson)
    val reg = Registry.load(models).toOption.get
    val logDir = Files.createTempDirectory("restart-log").toString
    val storeDir = Files.createTempDirectory("restart-store").toString
    def boot(): Server = {
      val log = new graft.streaming.ChangeLog(SparkSpec.spark, logDir)
      val engine = new CrudEngine(SparkSpec.spark,
        new ParquetBackend(SparkSpec.spark, storeDir, buckets = 4), Some(log))
      val srv = new Server(reg, engine, 0, Some(log))
      srv.start()
      srv
    }
    def post(p: Int, id: String): Unit = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/api/rest/movie"))
        .method("POST", HttpRequest.BodyPublishers.ofString(
          s"""{"id":"$id"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 201, r.body())
    }
    def sse(p: Int, lastId: Option[Long], maxEvents: Int): Seq[String] = {
      val b = HttpRequest.newBuilder(URI.create(
        s"http://localhost:$p/api/subscribe/movie?max_events=$maxEvents")).GET()
      lastId.foreach(i => b.header("Last-Event-ID", i.toString))
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      resp.body().split("\n\n").filter(_.startsWith("id:")).toSeq
    }
    val s1 = boot()
    try {
      post(s1.boundPort, "e1"); post(s1.boundPort, "e2"); post(s1.boundPort, "e3")
      // consume the first two events, then "drop the connection"
      // (max_events closes it server-side, like a vanished client)
      val first = sse(s1.boundPort, None, 2)
      assert(first.map(_.linesIterator.next()) == Seq("id: 1", "id: 2"), first)
    } finally s1.stop()
    // restart: new ChangeLog/engine/server over the SAME directories
    val s2 = boot()
    try {
      post(s2.boundPort, "e4") // lands AFTER the restart
      // resume where the dropped connection left off (Last-Event-ID=2):
      // exactly e3 (missed pre-restart) and e4 (post-restart), no dupes
      val resumed = sse(s2.boundPort, Some(2L), 2)
      assert(resumed.map(_.linesIterator.next()) == Seq("id: 3", "id: 4"),
        resumed)
      assert(resumed(0).contains(""""id":"e3"""") &&
        resumed(1).contains(""""id":"e4""""), resumed)
    } finally s2.stop()
  }

  test("changelog compaction: Last-Event-ID resume behaves identically " +
      "over the folded log, and the log shrinks") {
    // create e1..e3, delete e1, create e4 (seqs 1-5); a client consumed
    // through seq 2; compact everything ≤ 4. The folded base keeps ONE
    // row per key at its original seq (e1's create is folded INTO its
    // delete tombstone), so the resumed client still receives exactly
    // seqs 3,4,5 — while the stored history dropped a row and the
    // snapshot refresh now reads O(live keys + tail).
    val models = Files.createTempDirectory("compact-models")
    Files.writeString(models.resolve("movie.json"), movieJson)
    val reg = Registry.load(models).toOption.get
    val log = new graft.streaming.ChangeLog(SparkSpec.spark,
      Files.createTempDirectory("compact-log").toString)
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("compact-store").toString, buckets = 4),
      Some(log))
    val s = new Server(reg, engine, 0, Some(log))
    s.start()
    try {
      val p = s.boundPort
      def post(id: String): Unit = {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$p/api/rest/movie"))
          .method("POST", HttpRequest.BodyPublishers.ofString(
            s"""{"id":"$id"}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 201, r.body())
      }
      def sse(lastId: Long, maxEvents: Int): Seq[String] = {
        val resp = client.send(HttpRequest.newBuilder(URI.create(
          s"http://localhost:$p/api/subscribe/movie?max_events=$maxEvents"))
          .header("Last-Event-ID", lastId.toString).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200)
        resp.body().split("\n\n").filter(_.startsWith("id:")).toSeq
      }
      post("e1"); post("e2"); post("e3")
      val del = client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:$p/api/rest/movie/e1")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 200, del.body())
      post("e4") // seq 5, the tail
      assert(log.all().count() == 5L)
      log.compact(4L)
      // history shrank: e1's create folded into its delete tombstone
      assert(log.all().count() == 4L)
      // the resumed client sees exactly what it would have without
      // compaction: seqs 3 (create e3), 4 (delete e1), 5 (create e4)
      val resumed = sse(2L, 3)
      assert(resumed.map(_.linesIterator.next()) ==
        Seq("id: 3", "id: 4", "id: 5"), resumed)
      assert(resumed(0).contains(""""id":"e3"""") &&
        resumed(1).contains(""""id":"e1"""") &&
        resumed(2).contains(""""id":"e4""""), resumed)
      // appends keep working over the swapped directory, and resume
      // past the compaction point is untouched-tail-exact
      post("e5") // seq 6
      val tail = sse(5L, 1)
      assert(tail.map(_.linesIterator.next()) == Seq("id: 6") &&
        tail(0).contains(""""id":"e5""""), tail)
    } finally s.stop()
  }

  test("view file is served at GET /api/graphql when configured") {
    val dir = Files.createTempDirectory("view-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val reg = Registry.load(dir).toOption.get
    val engine = new CrudEngine(SparkSpec.spark,
      new ParquetBackend(SparkSpec.spark,
        Files.createTempDirectory("view-store").toString, buckets = 4))
    val view = "<!DOCTYPE html><html><body>custom GraphiQL</body></html>"
    val s = new Server(reg, engine, 0, None, Some(view))
    s.start()
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:${s.boundPort}/api/graphql")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body() == view, r.body())
    } finally s.stop()
  }

  test("GraphQL over HTTP: 200 on data, 400 on errors-only") {
    val (c1, b1) = req("POST", "/api/graphql",
      """{"query":"mutation { addOneMovie(id:\"gq\") { id } }"}""")
    assert(c1 == 200 && b1 == """{"data":{"addOneMovie":{"id":"gq"}}}""", b1)
    val (c2, b2) = req("POST", "/api/graphql",
      """{"query":"{ readOneMovie(id:\"missing\") { id } }"}""")
    assert(c2 == 400 && b2.contains("No record found with id"), b2)
    val (c3, _) = req("POST", "/api/graphql", """{"nope":1}""")
    assert(c3 == 400)
    // GraphiQL page served on GET
    val (c4, b4) = req("GET", "/api/graphql")
    assert(c4 == 200 && b4.contains("<html>"), b4)
  }

  test("keep-alive GETs are not held for the client's delayed ACK") {
    assert(req("POST", "/api/rest/movie", """{"id":"nagle"}""")._1 == 201)
    // one connection, one request at a time: the server's reply is two
    // writes (headers, body), and without TCP_NODELAY the body waits
    // for the ACK of the headers, which the client delays ~40 ms
    val sock = new java.net.Socket("localhost", port)
    try {
      val out = sock.getOutputStream
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      def header(): String = {
        val b = new StringBuilder
        while (b.length < 4 || b.substring(b.length - 4) != "\r\n\r\n")
          b += in.readByte().toChar
        b.toString
      }
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        out.write("GET /api/rest/movie/nagle HTTP/1.1\r\nHost: localhost\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        out.flush()
        val h = header()
        val len = "(?i)content-length: *(\\d+)".r.findFirstMatchIn(h).get
          .group(1).toInt
        val body = new Array[Byte](len)
        in.readFully(body)
        val took = (System.nanoTime() - t0) / 1e6
        assert(h.startsWith("HTTP/1.1 200") &&
          new String(body, "UTF-8").contains("\"nagle\""), h)
        took
      }
      val median = ms.sorted.apply(ms.size / 2)
      assert(median < 20, f"median $median%.1f ms; all (ms): ${ms.map(_.round)}")
    } finally sock.close()
  }

  test("a storage failure is a 400 envelope and one server log line") {
    val dir = Files.createTempDirectory("rest-models")
    Files.writeString(dir.resolve("movie.json"), movieJson)
    val store = Files.createTempDirectory("rest-store")
    val s = new Server(Registry.load(dir).toOption.get,
      new CrudEngine(SparkSpec.spark,
        new ParquetBackend(SparkSpec.spark, store.toString, buckets = 1)), 0)
    s.start()
    val bucket = Files.createDirectories(store.resolve("movies/_bucket=0"))
    Files.writeString(bucket.resolve("part-0.parquet"), "not parquet")
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    val (code, body) = try {
      System.setErr(new java.io.PrintStream(err, true))
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:${s.boundPort}/api/rest/movie/x")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    } finally { System.setErr(saved); s.stop() }
    assert(code == 400 && body.startsWith("""{"error":"""), body)
    val line = """\[server\] GET /api/rest/movie/x failed: [\w.$]+"""
    assert(err.toString.linesIterator.exists(_.matches(line)), err.toString)
  }
}
