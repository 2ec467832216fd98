package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.model.QuadStore
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** SPARQL HTTP protocol endpoint semantics, mirroring the reference's
  * `kolibrie-http-server` request/response contract
  * (`src/main.rs:598-623` routes, `main.rs:896-1125` body shape). */
class HttpServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(new URI(s"http://localhost:$port/query"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /query: rdf payload + sparql, pair-array rows") {
    val srv = new GraftHttpServer(spark).start()
    try {
      val body = mapper.createObjectNode()
      body.put("format", "turtle")
      body.put("rdf",
        """@prefix ex: <http://ex.org/> .
          |ex:alice ex:knows ex:bob .
          |ex:bob ex:knows ex:carol .""".stripMargin)
      body.put("sparql",
        "SELECT ?a ?b WHERE { ?a <http://ex.org/knows> ?b } ORDER BY ?a")
      val resp = post(srv.port, body.toString)
      assert(resp.statusCode() == 200)
      val json = mapper.readTree(resp.body())
      val result = json.get("results").get(0)
      assert(result.get("query_index").asInt() == 0)
      assert(result.get("execution_time_ms").asDouble() > 0)
      val data = result.get("data")
      assert(data.size() == 2)
      val first = data.get(0)
      assert(first.get(0).get(0).asText() == "a")
      assert(first.get(0).get(1).asText() == "http://ex.org/alice")
      assert(first.get(1).get(1).asText() == "http://ex.org/bob")
    } finally srv.stop()
  }

  test("POST /query: RULE definitions apply before querying (main.rs rules path)") {
    val srv = new GraftHttpServer(spark).start()
    try {
      val body = mapper.createObjectNode()
      body.put("format", "ntriples")
      body.put("rdf",
        """<http://ex.org/a> <http://ex.org/parent> <http://ex.org/b> .
          |<http://ex.org/b> <http://ex.org/parent> <http://ex.org/c> .""".stripMargin)
      body.put("rule",
        """RULE <r/anc> :- CONSTRUCT { ?x <http://ex.org/anc> ?z }
           WHERE { ?x <http://ex.org/parent> ?y . ?y <http://ex.org/parent> ?z }""")
      body.put("sparql", "SELECT ?x ?z WHERE { ?x <http://ex.org/anc> ?z }")
      val resp = post(srv.port, body.toString)
      assert(resp.statusCode() == 200)
      val data = mapper.readTree(resp.body()).get("results").get(0).get("data")
      assert(data.size() == 1)
      assert(data.get(0).get(1).get(1).asText() == "http://ex.org/c")
    } finally srv.stop()
  }

  test("GET /query against a preloaded base store; errors for bad requests") {
    val store = QuadStore.fromTriples(spark, Seq(("s1", "p", "o1"), ("s2", "p", "o2")))
    val srv = new GraftHttpServer(spark, Some(store)).start()
    try {
      val q = java.net.URLEncoder.encode("SELECT ?s WHERE { ?s <p> ?o }", "UTF-8")
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query?query=$q"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(mapper.readTree(resp.body()).get("results").get(0).get("data").size() == 2)

      val bad = post(srv.port, "{ not json")
      assert(bad.statusCode() == 400)
      assert(mapper.readTree(bad.body()).get("error").asText().startsWith("Invalid JSON"))
      val none = post(srv.port, "{}")
      assert(none.statusCode() == 400)
      assert(mapper.readTree(none.body()).get("error").asText() == "No queries provided")
    } finally srv.stop()
  }

  test("the server turns TCP_NODELAY on itself, unless the user chose a value") {
    val key = "sun.net.httpserver.nodelay"
    val saved = Option(System.getProperty(key))
    try {
      System.clearProperty(key)
      val srv = new GraftHttpServer(spark).start()
      try assert(System.getProperty(key) == "true") finally srv.stop()
      System.setProperty(key, "false")
      val srv2 = new GraftHttpServer(spark).start()
      try assert(System.getProperty(key) == "false") finally srv2.stop()
    } finally saved match {
      case Some(v) => System.setProperty(key, v)
      case None => System.clearProperty(key)
    }
  }

  test("GET / serves the embedded playground; unknown paths 404") {
    val srv = new GraftHttpServer(spark).start()
    try {
      val page = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(page.statusCode() == 200)
      assert(page.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      // the page must drive the same endpoints the reference playground does
      // (playground.html:2396/:2576/:2779 + the SSE channel)
      for (wired <- Seq("fetch('/query'", "fetch('/rsp/register'",
          "fetch('/rsp/push'", "EventSource('/rsp/events/"))
        assert(page.body().contains(wired), s"playground missing $wired")

      val missing = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/nope"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(missing.statusCode() == 404)
      val wrongMethod = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/"))
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrongMethod.statusCode() == 405)
    } finally srv.stop()
  }

  test("oversized POST bodies answer 413, not an OOM-bound buffer") {
    // the cap is a constructor parameter (system property only as the
    // default) so this test never leaks a 1 KB cap into servers other
    // suites construct concurrently
    val srv = new GraftHttpServer(spark, maxBodyBytes = 1024L).start()
    try {
      val big = post(srv.port,
        s"""{"sparql": "SELECT ?s WHERE { ?s <p> ?o }", "rdf": "${"x" * 4096}"}""")
      assert(big.statusCode() == 413, s"got ${big.statusCode()}")
      assert(mapper.readTree(big.body()).get("error").asText()
        .contains("too large"))
      // a small request on the same server still works
      val q = java.net.URLEncoder.encode("SELECT ?s WHERE { ?s <p> ?o }", "UTF-8")
      val ok = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query?query=$q"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200)
    } finally srv.stop()
  }

  test("error taxonomy: JSON errors carry the reference's category classes (error_handler.rs)") {
    val srv = new GraftHttpServer(spark).start()
    try {
      def body(fields: (String, String)*): String = {
        val b = mapper.createObjectNode()
        fields.foreach { case (k, v) => b.put(k, v) }
        b.toString
      }
      def check(resp: HttpResponse[String], code: Int, cat: String, frag: String): Unit = {
        assert(resp.statusCode() == code,
          s"expected $code, got ${resp.statusCode()}: ${resp.body()}")
        val j = mapper.readTree(resp.body())
        assert(j.get("category").asText() == cat, resp.body())
        assert(j.get("error").asText().contains(frag), resp.body())
      }
      // syntax: parse failure — the annotated diagnostic rides the message
      check(post(srv.port, body("sparql" -> "SELECT ?s WHERE { ?s <p> }")),
        400, "syntax", "SPARQL parse error")
      // unsupported: documented refusal (feature named, remedy suggested)
      check(post(srv.port, body(
          "sparql" -> "SELECT ?s WHERE { ?s <p> ?o }",
          "rdf" -> "<a> <p> <b> .", "format" -> "json-ld")),
        400, "unsupported", "not supported")
      // data: a well-formed operation of the wrong kind for the endpoint
      check(post(srv.port, body("sparql" -> "INSERT DATA { <a> <b> <c> }")),
        400, "data", "not a SELECT")
      // request: protocol-shape problem (invalid JSON body)
      check(post(srv.port, "{ not json"), 400, "request", "Invalid JSON")
      // unsupported: a tick strategy the reference parses but never
      // executes (parser.rs:2655-2661 vs s2r.rs:246-264) — registration
      // refuses with the unsupported category instead of a window that
      // silently never fires
      val reg = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp/register"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body("query" ->
            """REGISTER RSTREAM <http://out> AS SELECT ?s
               FROM NAMED WINDOW <w> ON <st> [RANGE 1 s TICK TUPLE_DRIVEN]
               WHERE { WINDOW <w> { ?s <p> ?o } }"""))).build(),
        HttpResponse.BodyHandlers.ofString())
      check(reg, 400, "unsupported", "TIME_DRIVEN")
    } finally srv.stop()
  }

  test("python client end-to-end (python/graft_client.py smoke)") {
    val py = Seq("/usr/bin/env", "which", "python3")
    val havePython =
      try new ProcessBuilder(py: _*).start().waitFor() == 0
      catch { case _: Exception => false }
    assume(havePython, "python3 not on PATH")
    val srv = new GraftHttpServer(spark).start()
    try {
      val proc = new ProcessBuilder("python3", "python/graft_client.py",
          s"http://localhost:${srv.port}")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      assert(rc == 0, s"python smoke rc=$rc:\n$out")
      assert(out.contains("smoke OK"), out)
    } finally srv.stop()
  }

  test("POST /rsp-query: one-shot RSP over posted events (main.rs:1127-1260)") {
    val srv = new GraftHttpServer(spark).start()
    try {
      val body = mapper.createObjectNode()
      body.put("query",
        """REGISTER RSTREAM <http://out> AS
          |SELECT *
          |FROM NAMED WINDOW :w ON ?stream [RANGE 10 ms STEP 10 ms]
          |WHERE { WINDOW :w { ?s <http://ex.org/temp> ?v . } }""".stripMargin)
      val events = body.putArray("events")
      def ev(ts: Long, nt: String): Unit = {
        val e = events.addObject()
        e.put("stream", "sensors"); e.put("timestamp", ts); e.put("ntriples", nt)
      }
      ev(2, "<http://ex.org/a> <http://ex.org/temp> \"20\" .")
      ev(9, "<http://ex.org/b> <http://ex.org/temp> \"21\" .")
      ev(12, "<http://ex.org/c> <http://ex.org/temp> \"30\" .")
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp-query"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body.toString)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val json = mapper.readTree(resp.body())
      // window (0,10] emits a/b; the flush fires (10,20] with c
      assert(json.get("total_results").asInt() == 3)
      val data = json.get("data")
      val headers = (0 until data.get(0).size()).map(data.get(0).get(_).asText())
      val sIdx = headers.indexOf("s")
      val subjects = (1 until data.size()).map(data.get(_).get(sIdx).asText()).toSet
      assert(subjects == Set("http://ex.org/a", "http://ex.org/b", "http://ex.org/c"))
    } finally srv.stop()
  }

  test("RSP session: /rsp/register + /rsp/push + /rsp/events SSE (main.rs:616-948)") {
    val srv = new GraftHttpServer(spark).start()
    try {
      // register with a rule so the R2R enrichment path is exercised too
      val reg = mapper.createObjectNode()
      reg.put("query",
        """REGISTER RSTREAM <http://out> AS
          |SELECT *
          |FROM NAMED WINDOW :w ON ?stream [RANGE 10 ms STEP 10 ms]
          |WHERE { WINDOW :w { ?s <http://ex.org/hot> "true" . } }""".stripMargin)
      val rules = reg.putArray("sparql_rules")
      rules.add(
        """RULE <r/hot> :- CONSTRUCT { ?s <http://ex.org/hot> "true" }
           WHERE { ?s <http://ex.org/temp> "30" }""")
      val regResp = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp/register"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(reg.toString)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(regResp.statusCode() == 200)
      val regJson = mapper.readTree(regResp.body())
      val sid = regJson.get("session_id").asText()
      assert(regJson.get("streams").size() == 1)

      def push(ts: Long, nt: String): Unit = {
        val p = mapper.createObjectNode()
        p.put("session_id", sid); p.put("stream", "sensors")
        p.put("timestamp", ts); p.put("ntriples", nt)
        val r = client.send(
          HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp/push"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(p.toString)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200)
        assert(mapper.readTree(r.body()).get("status").asText() == "ok")
      }
      push(2, "<http://ex.org/a> <http://ex.org/temp> \"30\" .")
      push(5, "<http://ex.org/b> <http://ex.org/temp> \"20\" .")
      // event at t=12 closes the (0,10] window → one firing with only `a`
      // (hot via the rule); b stays cold
      push(12, "<http://ex.org/c> <http://ex.org/temp> \"30\" .")

      // SSE: queued rows + firing markers are replayed to the client
      val conn = new java.net.URI(
        s"http://localhost:${srv.port}/rsp/events/$sid").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(30000)
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/event-stream"))
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      var firings = 0
      while (firings < 3 && { val l = reader.readLine(); lines += l; l != null }) {
        if (lines.last == "event: firing") firings += 1
      }
      conn.disconnect()
      val dataRows = lines.filter(l => l != null && l.startsWith("data: {") && l != "data: {}")
        .map(l => mapper.readTree(l.stripPrefix("data: ")))
      assert(dataRows.map(_.get("s").asText()).toSet == Set("http://ex.org/a"))
      assert(firings == 3)

      val missing = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp/push"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString("""{"session_id":"nope"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(missing.statusCode() == 404)
    } finally srv.stop()
  }

  test("policy-free pure-BGP RSP sessions route to the distributed plane with identical SSE emissions") {
    val srv = new GraftHttpServer(spark).start()
    try {
      val qText =
        """REGISTER RSTREAM <http://out> AS
          |SELECT *
          |FROM NAMED WINDOW :w ON ?stream [RANGE 10 ms STEP 10 ms]
          |WHERE { WINDOW :w { ?e <http://ex.org/by> ?u . } }""".stripMargin
      val reg = mapper.createObjectNode()
      reg.put("query", qText)
      val regResp = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp/register"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(reg.toString)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(regResp.statusCode() == 200)
      val regJson = mapper.readTree(regResp.body())
      // the routing decision itself: this surface compiles on the plane
      assert(regJson.get("plane").asText() == "distributed", regResp.body())
      val sid = regJson.get("session_id").asText()

      val feed = Seq(
        (2L, "<http://ex.org/e1> <http://ex.org/by> \"alice\" ."),
        (5L, "<http://ex.org/e2> <http://ex.org/by> \"bob\" ."),
        (12L, "<http://ex.org/e3> <http://ex.org/by> \"carol\" ."))
      feed.foreach { case (ts, nt) =>
        val p = mapper.createObjectNode()
        p.put("session_id", sid); p.put("stream", "sensors")
        p.put("timestamp", ts); p.put("ntriples", nt)
        val r = client.send(
          HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/rsp/push"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(p.toString)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
      }

      // reference emissions: the driver engine on the same feed
      val engine = graft.streaming.RspEngineBuilder.fromQuery(spark, qText)
      feed.foreach { case (ts, nt) =>
        graft.rdfio.RdfIO.parseNtDoc(nt).foreach { case (s, p, o) =>
          engine.add("sensors", s, p, o, ts)
        }
      }
      val want = engine.emissions.flatMap(_.rows).map(r => (r("e"), r("u"))).toSet
      assert(want.nonEmpty)

      val conn = new java.net.URI(
        s"http://localhost:${srv.port}/rsp/events/$sid").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(30000)
      assert(conn.getResponseCode == 200)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      var firings = 0
      while (firings < 3 && { val l = reader.readLine(); lines += l; l != null }) {
        if (lines.last == "event: firing") firings += 1
      }
      conn.disconnect()
      val got = lines.filter(l => l != null && l.startsWith("data: {") && l != "data: {}")
        .map(l => mapper.readTree(l.stripPrefix("data: ")))
        .map(n => (n.get("e").asText(), n.get("u").asText())).toSet
      assert(got == want, s"SSE $got vs engine $want")
    } finally srv.stop()
  }

  test("standard SPARQL protocol content types on /query (sparql_database.rs:2065-2114)") {
    val srv = new GraftHttpServer(spark).start()
    def send(contentType: String, body: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query"))
          .header("Content-Type", contentType)
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      // 1. direct update: mutates the server's standing store
      val up1 = send("application/sparql-update",
        "INSERT DATA { <http://ex.org/s> <http://ex.org/p> <http://ex.org/o1> . }")
      assert(up1.statusCode() == 200)
      assert(mapper.readTree(up1.body()).get("status").asText() == "Update Successful")
      // 2. direct query sees the inserted triple (charset parameter
      //    tolerated); the response is SPARQL 1.1 Results JSON — the body
      //    an off-the-shelf client (rdflib, Jena, SPARQLWrapper) parses
      val q1 = send("application/sparql-query; charset=utf-8",
        "SELECT ?o WHERE { <http://ex.org/s> <http://ex.org/p> ?o }")
      assert(q1.statusCode() == 200)
      assert(q1.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/sparql-results+json"))
      val r1 = mapper.readTree(q1.body())
      assert(r1.get("head").get("vars").get(0).asText() == "o")
      val b1 = r1.get("results").get("bindings")
      assert(b1.size() == 1)
      assert(b1.get(0).get("o").get("type").asText() == "uri")
      assert(b1.get(0).get("o").get("value").asText() == "http://ex.org/o1")
      // 3. form-urlencoded update (URL-encoded body, update= param)
      val form = "update=" + java.net.URLEncoder.encode(
        "INSERT DATA { <http://ex.org/s> <http://ex.org/p> <http://ex.org/o2> . }",
        "UTF-8")
      val up2 = send("application/x-www-form-urlencoded", form)
      assert(up2.statusCode() == 200)
      assert(mapper.readTree(up2.body()).get("status").asText() == "Update Successful")
      // 4. form-urlencoded query sees both triples
      val q2 = send("application/x-www-form-urlencoded", "query=" +
        java.net.URLEncoder.encode(
          "SELECT ?o WHERE { <http://ex.org/s> <http://ex.org/p> ?o } ORDER BY ?o",
          "UTF-8"))
      assert(q2.statusCode() == 200)
      val b2 = mapper.readTree(q2.body()).get("results").get("bindings")
      assert(b2.size() == 2)
      assert(b2.get(1).get("o").get("value").asText() == "http://ex.org/o2")
      // 4b. ASK over the standard protocol answers the boolean form
      val qa = send("application/sparql-query",
        "ASK { <http://ex.org/s> <http://ex.org/p> <http://ex.org/o2> }")
      assert(qa.statusCode() == 200, qa.body())
      assert(mapper.readTree(qa.body()).get("boolean").asBoolean())
      // 4c. Accept: application/json opts back into the server envelope
      val qe = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query"))
          .header("Content-Type", "application/sparql-query")
          .header("Accept", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            "SELECT ?o WHERE { <http://ex.org/s> <http://ex.org/p> ?o }")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(qe.statusCode() == 200)
      assert(mapper.readTree(qe.body()).get("results").get(0).has("data"))
      // 4d. GET with Accept: application/sparql-results+json gets the
      //     standard body too (default GET keeps the envelope)
      val qg = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query?query=" +
          java.net.URLEncoder.encode(
            "SELECT ?o WHERE { <http://ex.org/s> <http://ex.org/p> ?o }", "UTF-8")))
          .header("Accept", "application/sparql-results+json").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(qg.statusCode() == 200)
      assert(mapper.readTree(qg.body()).get("results").has("bindings"))
      // 5. a DELETE DATA update takes effect (deletes-before-inserts path)
      val up3 = send("application/sparql-update",
        "DELETE DATA { <http://ex.org/s> <http://ex.org/p> <http://ex.org/o1> . }")
      assert(up3.statusCode() == 200)
      // 6. the JSON envelope on the SAME server still works and reads the
      //    standing store (regression guard for the envelope surface)
      val env = post(srv.port, mapper.createObjectNode()
        .put("sparql", "SELECT ?o WHERE { ?s <http://ex.org/p> ?o }").toString)
      assert(env.statusCode() == 200)
      val d3 = mapper.readTree(env.body()).get("results").get(0).get("data")
      assert(d3.size() == 1 && d3.get(0).get(0).get(1).asText() == "http://ex.org/o2")
      // 7. a malformed update answers 400 with the syntax category
      val bad = send("application/sparql-update", "INSERT GIBBERISH")
      assert(bad.statusCode() == 400)
      assert(mapper.readTree(bad.body()).get("category").asText() == "syntax")
      // 8. form body with neither query= nor update= answers 400
      val none = send("application/x-www-form-urlencoded", "other=1")
      assert(none.statusCode() == 400)
    } finally srv.stop()
  }

  test("multi-query POST returns indexed results") {
    val store = QuadStore.fromTriples(spark, Seq(("s1", "p", "o1")))
    val srv = new GraftHttpServer(spark, Some(store)).start()
    try {
      val body = mapper.createObjectNode()
      val arr = body.putArray("queries")
      arr.add("SELECT ?s WHERE { ?s <p> ?o }")
      arr.add("SELECT ?o WHERE { ?s <p> ?o }")
      val resp = post(srv.port, body.toString)
      val results = mapper.readTree(resp.body()).get("results")
      assert(results.size() == 2)
      assert(results.get(1).get("query_index").asInt() == 1)
      assert(results.get(1).get("data").get(0).get(0).get(1).asText() == "o1")
    } finally srv.stop()
  }

  test("every Spark job of a request runs under that request's own job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a store over an RDD: its reads plan Spark jobs
    val quads = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 40).map(i => org.apache.spark.sql.Row(null, s"http://ex.org/s$i",
        "http://ex.org/p", s"http://ex.org/o${i % 7}")), 2), QuadStore.schema)
    val srv = new GraftHttpServer(spark, Some(QuadStore(spark, quads))).start()
    val sc = spark.sparkContext
    val marker = "http-spec-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var markers = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (group == marker) markers += 1
        else seen.add(group -> p.flatMap(x =>
          Option(x.getProperty("spark.job.description"))).getOrElse(""))
      }
    }
    val q = "SELECT ?s ?o WHERE { ?s <http://ex.org/p> ?o . FILTER(?o != <http://ex.org/o3>) } ORDER BY ?s"
    // the jobs one read starts, once the listener has delivered them all
    def jobsOf(query: String): List[(String, String)] = {
      seen.clear()
      val resp = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${srv.port}/query"))
          .header("Content-Type", "application/sparql-query")
          .header("Accept", "application/sparql-results+json")
          .POST(HttpRequest.BodyPublishers.ofString(query)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val before = markers
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (markers == before && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers > before)
      seen.toArray(Array.empty[(String, String)]).toList
    }
    sc.addSparkListener(listener)
    try {
      val first = jobsOf(q)
      val second = jobsOf(q)
      Seq(first, second).foreach { jobs =>
        assert(jobs.nonEmpty)
        assert(jobs.map(_._1).distinct.size == 1, s"jobs of one read in several groups: $jobs")
        assert(jobs.head._1.matches("graft-http-read-\\d+"), jobs.head._1)
        assert(jobs.forall(_._2 == q.take(80)), jobs)
      }
      assert(first.head._1 != second.head._1)
    } finally {
      sc.removeSparkListener(listener)
      srv.stop()
    }
  }

  /** Counts the Spark jobs the server's requests start: jobs in a
    * `graft-http-*` group, once a marker job shows the listener bus has
    * delivered every earlier one. */
  private final class RequestJobs extends org.apache.spark.scheduler.SparkListener {
    private val sc = spark.sparkContext
    private val marker = "http-spec-jobs-marker"
    @volatile private var markers, jobs = 0
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      if (group == marker) markers += 1
      else if (group.startsWith("graft-http-")) jobs += 1
    }
    def of[T](body: => T): (T, Int) = {
      val before = jobs
      val out = body
      val m = markers
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (markers == m && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers > m)
      (out, jobs - before)
    }
  }

  private def withRequestJobs(body: RequestJobs => Unit): Unit = {
    val l = new RequestJobs
    spark.sparkContext.addSparkListener(l)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def sparqlPost(port: Int, contentType: String, body: String): HttpResponse[String] = {
    val resp = client.send(
      HttpRequest.newBuilder(new URI(s"http://localhost:$port/query"))
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    resp
  }

  /** A read's bindings as sorted `var=value` rows. */
  private def bindings(body: String): Seq[String] = {
    val b = mapper.readTree(body).get("results").get("bindings")
    (0 until b.size()).map { i =>
      b.get(i).fields().asScala.map(e => s"${e.getKey}=${e.getValue.get("value").asText()}")
        .toSeq.sorted.mkString(" ")
    }.sorted
  }

  test("reads of a parquet-backed standing store run from resident slices: zero jobs when warm") {
    val store = graft.relational.Triplizer.isolatedStore(spark, sf())
    val srv = new GraftHttpServer(spark, Some(store)).start()
    def read(q: String) = sparqlPost(srv.port, "application/sparql-query", q).body()
    def update(u: String) = sparqlPost(srv.port, "application/sparql-update", u)
    val l1 = graft.queries.WatDivSuite.sparqlText("sparql_watdiv_l1")
    val l3 = graft.queries.WatDivSuite.sparqlText("sparql_watdiv_l3")
    val names = "SELECT ?r ?n WHERE { ?r <region#r_name> ?n }"
    val tagged = "SELECT ?s ?v WHERE { ?s <http://ex.org/tag> ?v }"
    val both = "SELECT ?n ?v WHERE { ?r <region#r_name> ?n . ?r <http://ex.org/tag> ?v }"
    try withRequestJobs { jobs =>
      // the first read fetches its four predicates with one job
      val (cold, coldJobs) = jobs.of(read(l1))
      assert(coldJobs == 1)
      val (warm, warmJobs) = jobs.of(read(l1))
      assert(warmJobs == 0)
      assert(bindings(warm) == bindings(cold) && bindings(warm).nonEmpty)
      assert(jobs.of(read(l3))._2 == 1)
      val (regions, regionJobs) = jobs.of(bindings(read(names)))
      assert(regionJobs == 0 && regions.size == 5) // L1 fetched region#r_name
      // a base quad deleted, one inserted, and a predicate new to the store
      val Array(n0, r0) = regions.head.stripPrefix("n=").split(" r=")
      update(s"""DELETE DATA { <$r0> <region#r_name> "$n0" }""")
      update("""INSERT DATA { <region/9> <region#r_name> "MARS" .
        <region/9> <http://ex.org/tag> "t9" . <x/1> <http://ex.org/tag> "t1" }""")
      val (after, afterJobs) = jobs.of(bindings(read(names)))
      assert(afterJobs == 0)
      assert(after == (regions.tail :+ "n=MARS r=region/9").sorted)
      // a predicate new to the store costs one fetch, of its empty base slice
      val (tags, tagJobs) = jobs.of(bindings(read(tagged)))
      assert(tagJobs == 1 && tags == Seq("s=region/9 v=t9", "s=x/1 v=t1"))
      val (joined, joinJobs) = jobs.of(bindings(read(both)))
      assert(joinJobs == 0 && joined == Seq("n=MARS v=t9"))
      update("""DELETE DATA { <x/1> <http://ex.org/tag> "t1" }""")
      assert(jobs.of(bindings(read(tagged))) == (Seq("s=region/9 v=t9"), 0))
      assert(jobs.of(bindings(read(l1))) == (bindings(cold), 0))
    } finally srv.stop()
  }

  test("a read over a predicate with more than MaxRows rows answers through the Spark plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-big")
    val big = graft.model.LocalJoinFold.MaxRows + 100
    val quads = (0 until big).map(i => org.apache.spark.sql.Row(null, s"http://ex.org/s${i % 100}",
      "http://ex.org/big", s"v$i")) ++
      (0 until 100 by 7).map(i => org.apache.spark.sql.Row(null, s"http://ex.org/s$i",
        "http://ex.org/small", s"w$i"))
    spark.createDataFrame(spark.sparkContext.parallelize(quads, 2), QuadStore.schema)
      .write.parquet(dir.resolve("quads").toString)
    val df = spark.read.parquet(dir.resolve("quads").toString)
    val srv = new GraftHttpServer(spark, Some(QuadStore(spark, df))).start()
    val q = """SELECT ?s ?v ?w WHERE { ?s <http://ex.org/big> ?v . ?s <http://ex.org/small> ?w .
      FILTER(?w != "w14") }"""
    try withRequestJobs { jobs =>
      val want = new graft.sparql.Compiler(QuadStore(spark, df)).select(q).collect()
        .map(r => s"s=${r.getString(0)} v=${r.getString(1)} w=${r.getString(2)}").toSeq.sorted
      assert(want.nonEmpty)
      Seq(1, 2).foreach { _ =>
        val (got, n) = jobs.of(bindings(sparqlPost(srv.port, "application/sparql-query", q).body()))
        assert(got == want)
        assert(n > 0)
      }
    } finally {
      srv.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("SPARQL results JSON from the streaming generator matches the tree-built body") {
    val store = QuadStore.fromTriples(spark, Seq(
      ("_:b1", "http://ex.org/p", "http://ex.org/o"),
      ("http://ex.org/s", "http://ex.org/p", "lit \"quoted\" \u00e9\n"),
      ("http://ex.org/s", "http://ex.org/q", "urn:x:1")))
    val srv = new GraftHttpServer(spark, Some(store)).start()
    /** The body as the server built it before: a Jackson tree. */
    def treeBody(q: String): String = {
      val df = new graft.sparql.Compiler(store).execute(q)
      val cols = df.columns
      val rows = df.collect()
      val root = mapper.createObjectNode()
      if (q.trim.toLowerCase.startsWith("ask") && cols.sameElements(Array("ask"))) {
        root.putObject("head")
        root.put("boolean", rows.headOption.exists(_.getBoolean(0)))
      } else {
        val vars = root.putObject("head").putArray("vars")
        cols.foreach(vars.add)
        val bs = root.putObject("results").putArray("bindings")
        rows.foreach { r =>
          val b = bs.addObject()
          cols.zipWithIndex.foreach { case (c, i) =>
            if (!r.isNullAt(i)) {
              val v = r.get(i).toString
              val term = b.putObject(c)
              if (v.startsWith("_:")) {
                term.put("type", "bnode"); term.put("value", v.substring(2))
              } else if (v.matches("[A-Za-z][A-Za-z0-9+.\\-]*:\\S*") &&
                  (v.contains("://") || v.startsWith("urn:") || v.startsWith("mailto:"))) {
                term.put("type", "uri"); term.put("value", v)
              } else {
                term.put("type", "literal"); term.put("value", v)
              }
            }
          }
        }
      }
      root.toString
    }
    try Seq(
      "SELECT ?s ?o ?z WHERE { ?s <http://ex.org/p> ?o OPTIONAL { ?s <http://ex.org/q> ?z } } ORDER BY ?s",
      "ASK { ?s <http://ex.org/q> ?z }",
      "ASK { ?s <http://ex.org/r> ?z }").foreach { q =>
      val body = sparqlPost(srv.port, "application/sparql-query", q).body()
      assert(body == treeBody(q), q)
    } finally srv.stop()
  }
}
