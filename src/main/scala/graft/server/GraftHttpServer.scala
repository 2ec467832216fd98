package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.model.{LocalJoinFold, QuadStore}
import graft.rdfio.RdfIO
import graft.reasoner.Reasoner
import graft.sparql.{Compiler, SparqlParser}

/** Thin SPARQL-over-HTTP protocol endpoint — the Spark counterpart of the
  * reference's `kolibrie-http-server` (`src/main.rs:598-623` routing,
  * `main.rs:896-1125` execute_sparql_with_context).
  *
  * Routes:
  *  - `POST /query` with JSON `{sparql | queries, rule | rules, rdf,
  *    format}`: loads the payload RDF (ntriples / turtle / rdfxml) into a
  *    fresh store — or queries the server's base store when no `rdf` is
  *    given — applies the RULE definitions via the forward-chaining
  *    reasoner, executes each query, and answers
  *    `{"results":[{query_index, query, data, execution_time_ms}]}` with
  *    `data` rows as `[var, value]` pair arrays (the reference's
  *    `Vec<(String, String)>` row shape).
  *  - `GET /query?query=…` (URL-encoded) against the base store.
  *  - Standard SPARQL 1.1 protocol on the same route
  *    (`sparql_database.rs:2065-2114` handle_http_request): POST
  *    `application/sparql-query` (body = query), POST
  *    `application/sparql-update` (body = update, mutates the standing
  *    store), POST `application/x-www-form-urlencoded` with `query=` or
  *    `update=`. Standard-content-type query responses are SPARQL 1.1
  *    Results JSON (`application/sparql-results+json`; boolean form for
  *    ASK), so off-the-shelf clients (curl, rdflib, Jena) parse them
  *    without speaking the JSON envelope — an Accept of plain
  *    `application/json` keeps the envelope body instead. (The reference
  *    answers tab-separated text here, `sparql_database.rs:2036-2044`.)
  *  - `OPTIONS` answers CORS preflight like the reference.
  *
  * Every `/query` read, update or envelope request, `/rsp/push` and
  * `/rsp-query` runs its Spark jobs under its own job group,
  * `graft-http-<read|update|envelope|push|rsp-query>-<n>`.
  *
  * RSP persistent sessions (`main.rs:616-948`):
  *  - `POST /rsp/register` `{query, static_rdf?, static_format?,
  *    sparql_rules?}` → builds an [[graft.streaming.RspEngine]] whose
  *    consumer forwards every emitted row into the session's event queue;
  *    answers `{"session_id", "streams"}`.
  *  - `POST /rsp/push` `{session_id, stream, ntriples, timestamp}` →
  *    parses the N-Triples, routes them into the session's windows
  *    (firing as event time advances), then enqueues an end-of-firing
  *    marker; answers `{"status":"ok"}`.
  *  - `GET /rsp/events/<session_id>` → Server-Sent Events: each result
  *    row as a `data:` JSON object, each push boundary as `event: firing`
  *    (`main.rs:829-908`). Unlike the reference's lazily-attached SSE
  *    channel, the queue buffers rows emitted before the client connects.
  *
  * Uses the JDK's `com.sun.net.httpserver` and Spark's bundled Jackson —
  * no new dependencies.
  */
class GraftHttpServer(spark: SparkSession, base: Option[QuadStore] = None,
    /** Request-body cap (default 64 MB, `-Dgraft.http.maxBodyBytes`): the
      * JDK server otherwise buffers arbitrarily large POSTs on the heap —
      * the same hardening posture as the session cap. A request over the
      * limit answers 413. A constructor parameter (system property only
      * as the default) so concurrently-constructed servers — parallel
      * test suites — never inherit another instance's cap. */
    maxBodyBytes: Long =
      java.lang.Long.getLong("graft.http.maxBodyBytes", 64L * 1024 * 1024)) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  LocalJoinFold.install(spark)

  /** The server's standing dataset: the provided base store, or one
    * lasting empty store so standard-protocol updates (below) persist for
    * the server's lifetime the way the reference's in-memory database
    * does (`sparql_database.rs:2078-2107` mutates the live store). */
  private val serverStore: QuadStore = base.getOrElse(QuadStore.empty(spark))

  /** One registered RSP session's execution plane. */
  private sealed trait RspBackend {
    def query: graft.sparql.Ast.RspQuery
    def push(stream: String, ts: Long, triples: Seq[(String, String, String)]): Unit
    def stop(): Unit
    /** "engine" (driver RspEngine) or "distributed" (DistributedRsp). */
    def plane: String
  }

  /** Driver-side control plane: exact sequencing, full policy surface. */
  private final class EngineBackend(val engine: graft.streaming.RspEngine)
      extends RspBackend {
    def query = engine.query
    def push(stream: String, ts: Long, triples: Seq[(String, String, String)]): Unit =
      triples.foreach { case (s, p, o) => engine.add(stream, s, p, o, ts) }
    def stop(): Unit = ()
    def plane = "engine"
  }

  /** Distributed data plane: the session's pushes feed a MemoryStream
    * into [[graft.streaming.DistributedRsp.streamEmissions]] (stateless
    * window explode → stream-stream BGP join → fired-close gating →
    * incremental R2S), and each micro-batch's EMITTED rows — not window
    * content — are forwarded to the SSE queue. Registration routes here
    * automatically for the surface the plane compiles (single window,
    * BGP+FILTER blocks, no Steal/Timeout policy, no static store);
    * anything else falls back to [[EngineBackend]]. */
  private final class DistributedBackend(q: graft.sparql.Ast.RspQuery,
      rules: Seq[graft.sparql.Ast.Rule],
      queue: java.util.concurrent.LinkedBlockingQueue[String])
      extends RspBackend {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val mem = MemoryStream[(String, Long, String, String, String)]
    private val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
      .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
    private val rsp = new graft.streaming.DistributedRsp(spark, q, rules)
    // compiles the whole streaming pipeline EAGERLY: unsupported surface
    // throws here, and registration falls back to the engine
    private val emissions = rsp.streamEmissions(events)
    // the provider-class set/restore around start() is NOT thread-safe
    // against a concurrent registration doing the same dance (the pooled
    // dispatcher runs handlers concurrently) — serialize it
    private val sq = GraftHttpServer.streamStartLock.synchronized {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val old = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try emissions.writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.DistributedRsp.R2SRow], _: Long) =>
          b.collect().foreach { r =>
            val node = mapper.createObjectNode()
            r.binding.foreach { case (k, v) => node.put(k, v) }
            queue.offer(node.toString)
          }
        }.start()
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    def query = q
    def push(stream: String, ts: Long, triples: Seq[(String, String, String)]): Unit = {
      mem.addData(triples.map { case (s, p, o) => (stream, ts, s, p, o) })
      sq.processAllAvailable()
    }
    def stop(): Unit = try sq.stop() catch { case _: Exception => () }
    def plane = "distributed"
  }

  /** `lock` serializes pushes per session: the cached-thread-pool
    * dispatcher can run concurrent POST /rsp/push for the same session,
    * but RspEngine's window state (fire counts, last-emitted relations)
    * is deliberately unsynchronized single-writer state — and the
    * distributed backend's MemoryStream feed wants one writer too. SSE
    * reads stay on the pool — only the parse/add/offer block contends. */
  private final class RspSession(val backend: RspBackend,
      val queue: java.util.concurrent.LinkedBlockingQueue[String]) {
    val lock: Object = new Object
  }
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, RspSession]()
  private val sessionCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Registered-session cap: oldest sessions evict first so a long-lived
    * server can't accumulate unbounded window state (the reference keeps
    * an unbounded map, `main.rs:35` — a deliberate hardening deviation). */
  private val maxSessions = 64

  private def evictOldSessions(): Unit =
    while (sessions.size() > maxSessions) {
      val oldest = sessions.keys.asIterator().asScala.map(_.toLong).minOption
      oldest.foreach { id =>
        Option(sessions.remove(id.toString)).foreach(_.backend.stop())
      }
    }

  def port: Int = server.getAddress.getPort

  def start(requestedPort: Int = 0): this.type = {
    GraftHttpServer.enableNoDelay()
    server = HttpServer.create(new InetSocketAddress(requestedPort), 0)
    server.createContext("/", rootHandler)
    server.createContext("/query", queryHandler)
    server.createContext("/rsp-query", rspQueryHandler)
    server.createContext("/rsp/register", rspRegisterHandler)
    server.createContext("/rsp/push", rspPushHandler)
    server.createContext("/rsp/events", rspEventsHandler)
    // pooled dispatcher: the SSE route holds its connection open, which
    // must not block /rsp/push (the reference spawns a thread per client)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    this
  }

  def stop(): Unit = {
    sessions.values().asScala.foreach(s => try s.backend.stop() catch { case _: Exception => () })
    sessions.clear()
    if (server != null) server.stop(0)
  }

  /** `GET /` serves the embedded [[Playground]] page (the reference ships
    * `web/playground.html` against the same endpoints). The JDK server
    * routes by LONGEST prefix, so this context only sees paths no other
    * context claims — anything but the root itself is a 404 here. */
  private def rootHandler: HttpHandler = (exchange: HttpExchange) =>
    try {
      val path = exchange.getRequestURI.getPath
      (exchange.getRequestMethod, path) match {
        case ("OPTIONS", _) => respond(exchange, 204, "")
        case ("GET", "/" | "/index.html") =>
          respondHtml(exchange, 200, Playground.html)
        case (_, "/" | "/index.html") =>
          respond(exchange, 405, error("Method Not Allowed"))
        case _ => respond(exchange, 404, error("Not Found"))
      }
    } catch {
      case _: BodyTooLarge =>
        respond(exchange, 413, error("Request body too large"))
      case e: Exception => fail(exchange, e)
    }

  private def queryHandler: HttpHandler = (exchange: HttpExchange) =>
    try {
      exchange.getRequestMethod match {
        case "OPTIONS" => respond(exchange, 204, "")
        case "GET" =>
          val params = Option(exchange.getRequestURI.getRawQuery).getOrElse("")
            .split("&").filter(_.contains("=")).map { kv =>
              val Array(k, v) = kv.split("=", 2)
              k -> java.net.URLDecoder.decode(v, "UTF-8")
            }.toMap
          params.get("query") match {
            // GET keeps the envelope by default (the playground and the
            // Python client read it); a standard client that ASKS for
            // SPARQL results via Accept gets the conformant body
            case Some(q) if wantsSparqlResults(exchange) =>
              inJobGroup("read", q)(respondSparqlResults(exchange, q))
            case Some(q) => inJobGroup("read", q)(respond(exchange, 200,
              runQueries(Seq(q), Nil, None, "ntriples").toString))
            case None => respond(exchange, 400, error("No queries provided"))
          }
        case "POST" =>
          val body = readBody(exchange)
          // standard SPARQL 1.1 protocol content types
          // (`sparql_database.rs:2078-2107` accepts direct-query,
          // direct-update and form-urlencoded POSTs alongside GET ?query=;
          // routed here so curl/rdflib/Jena work against /query unchanged):
          //  - application/sparql-query   → body IS the query
          //  - application/sparql-update  → body IS the update (mutates the
          //    server's standing store, like the reference's live database)
          //  - application/x-www-form-urlencoded → query= or update= param
          // Anything else (application/json, absent) stays on the server's
          // own JSON envelope — that surface is untouched.
          val contentType = Option(
              exchange.getRequestHeaders.getFirst("Content-Type"))
            .map(_.split(";")(0).trim.toLowerCase(java.util.Locale.ROOT))
            .getOrElse("")
          contentType match {
            case "application/sparql-query" => inJobGroup("read", body) {
              if (wantsEnvelope(exchange))
                respond(exchange, 200,
                  runQueries(Seq(body), Nil, None, "ntriples").toString)
              else respondSparqlResults(exchange, body)
            }
            case "application/sparql-update" =>
              inJobGroup("update", body)(runUpdate(body))
              respond(exchange, 200, updateOk)
            case "application/x-www-form-urlencoded" =>
              val params = body.split("&").filter(_.contains("=")).map { kv =>
                val Array(k, v) = kv.split("=", 2)
                java.net.URLDecoder.decode(k, "UTF-8") ->
                  java.net.URLDecoder.decode(v, "UTF-8")
              }.toMap
              (params.get("query"), params.get("update")) match {
                case (Some(q), _) => inJobGroup("read", q) {
                  if (wantsEnvelope(exchange))
                    respond(exchange, 200,
                      runQueries(Seq(q), Nil, None, "ntriples").toString)
                  else respondSparqlResults(exchange, q)
                }
                case (_, Some(u)) =>
                  inJobGroup("update", u)(runUpdate(u))
                  respond(exchange, 200, updateOk)
                case _ => respond(exchange, 400,
                  error("form body needs a query= or update= parameter"))
              }
            case _ => inJobGroup("envelope", body)(postEnvelope(exchange, body))
          }
        case _ => respond(exchange, 404, error("Not Found"))
      }
    } catch {
      case _: BodyTooLarge =>
        respond(exchange, 413, error("Request body too large"))
      case e: Exception => fail(exchange, e)
    }

  private val requestCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Runs one request's work under the Spark job group
    * `graft-http-<route>-<n>` (n counts requests per server), described
    * by the first 80 characters of its text: every job it starts can be
    * attributed to it and cancelled with `cancelJobGroup`. The group is a
    * thread-local property and the cached pool reuses threads, so it is
    * cleared afterwards. */
  private def inJobGroup[T](route: String, text: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"graft-http-$route-${requestCounter.incrementAndGet()}",
      text.take(80), interruptOnCancel = true)
    try body finally sc.clearJobGroup()
  }

  /** Standard-protocol update against the standing store: deletes before
    * inserts inside [[graft.sparql.Compiler.executeUpdate]]; serialized so
    * two concurrent protocol updates never interleave read-modify-write on
    * the store's version. A DATA form only edits the version's driver-side
    * delta sets (no Spark job); a `DELETE/INSERT WHERE` collects its
    * instantiated templates first, and an update over
    * `LocalJoinFold.MaxRows` quads compacts the store into a new base.
    * Readers take a [[graft.model.QuadStore.snapshot]] and keep reading
    * the version they took. */
  private def runUpdate(update: String): Unit =
    serverStore.synchronized {
      new Compiler(serverStore).executeUpdate(SparqlParser().parseUpdate(update))
    }

  /** Accept-header negotiation for the standard-protocol query routes.
    * Standard content types default to SPARQL 1.1 Results JSON (what
    * rdflib/Jena/`SPARQLWrapper` parse); a client that explicitly Accepts
    * only `application/json` keeps the server's envelope. GET is the
    * inverse: envelope by default (playground/Python-client compat),
    * standard body when Accept names it. */
  private def wantsSparqlResults(exchange: HttpExchange): Boolean =
    Option(exchange.getRequestHeaders.getFirst("Accept"))
      .exists(_.toLowerCase(java.util.Locale.ROOT).contains("sparql-results"))

  private def wantsEnvelope(exchange: HttpExchange): Boolean = {
    val accept = Option(exchange.getRequestHeaders.getFirst("Accept"))
      .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
    accept.contains("application/json") && !accept.contains("sparql-results")
  }

  /** SPARQL 1.1 Query Results JSON (W3C sparql11-results-json) over a
    * snapshot of the standing store. The store is string-typed, so term
    * kind is recovered syntactically — `_:` prefix → bnode, an absolute
    * IRI scheme → uri, anything else → literal — strictly more typing
    * than the reference's standard-protocol body (tab-separated text with
    * no typing at all, `sparql_database.rs:2036-2044`). ASK answers the
    * boolean form. */
  private def respondSparqlResults(exchange: HttpExchange, query: String): Unit = {
    // execute, not select: the standard protocol carries ASK/CONSTRUCT/
    // DESCRIBE query forms too, and execute dispatches all of them
    val df = new Compiler(serverStore.snapshot).execute(query)
    val cols = df.columns
    val rows = df.collect()
    val root = mapper.createObjectNode()
    val stripped = GraftHttpServer.PrologueDecl.matcher(query).replaceAll("").trim
    if (stripped.toLowerCase(java.util.Locale.ROOT).startsWith("ask") &&
        cols.sameElements(Array("ask"))) {
      root.putObject("head")
      root.put("boolean", rows.headOption.exists(_.getBoolean(0)))
    } else {
      val vars = root.putObject("head").putArray("vars")
      cols.foreach(vars.add)
      val bindings = root.putObject("results").putArray("bindings")
      rows.foreach { r =>
        val b = bindings.addObject()
        cols.zipWithIndex.foreach { case (c, i) =>
          if (!r.isNullAt(i)) { // unbound variable → key absent, per spec
            val v = r.get(i).toString
            val term = b.putObject(c)
            if (v.startsWith("_:")) {
              term.put("type", "bnode"); term.put("value", v.substring(2))
            } else if (GraftHttpServer.IriLike.matcher(v).matches() &&
                (v.contains("://") || v.startsWith("urn:") || v.startsWith("mailto:"))) {
              term.put("type", "uri"); term.put("value", v)
            } else {
              term.put("type", "literal"); term.put("value", v)
            }
          }
        }
      }
    }
    respond(exchange, 200, root.toString,
      contentType = "application/sparql-results+json")
  }

  /** Reference update-protocol success body (`sparql_database.rs:2045-2062`
    * answers "Update Successful" text; JSON here to match every other
    * route's envelope). */
  private def updateOk: String = {
    val n = mapper.createObjectNode()
    n.put("status", "Update Successful")
    n.toString
  }

  /** The server's own JSON envelope — `{sparql | queries, rule | rules,
    * rdf, format}` — the non-standard-content-type POST /query path. */
  private def postEnvelope(exchange: HttpExchange, body: String): Unit = {
    val parsed: Either[String, JsonNode] =
      try Right(mapper.readTree(body))
      catch { case e: Exception => Left(s"Invalid JSON: ${e.getMessage}") }
    parsed match {
      case Left(msg) => respond(exchange, 400, error(msg))
      case Right(req) =>
        def strings(single: String, multi: String): Seq[String] = {
          val one = Option(req.get(single)).filter(!_.isNull).map(_.asText()).toSeq
          val many = Option(req.get(multi)).filter(_.isArray).toSeq
            .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
          one ++ many
        }
        val queries = strings("sparql", "queries")
        if (queries.isEmpty) respond(exchange, 400, error("No queries provided"))
        else {
          val rules = strings("rule", "rules")
          val rdf = Option(req.get("rdf")).filter(!_.isNull)
            .map(_.asText()).filter(_.trim.nonEmpty)
          val format = Option(req.get("format")).filter(!_.isNull)
            .map(_.asText()).getOrElse("rdfxml")
          respond(exchange, 200, runQueries(queries, rules, rdf, format).toString)
        }
    }
  }

  /** `POST /rsp-query` (`main.rs:1127-1260` execute_rsp_query): one-shot
    * RSP run — `{query, events: [{stream, timestamp, ntriples}],
    * static_rdf?, static_format?}` → feed events in timestamp order,
    * flush pending windows, answer
    * `{"data": [headers, row…], "total_results", "execution_time_ms"}`. */
  private def rspQueryHandler: HttpHandler = (exchange: HttpExchange) =>
    try {
      exchange.getRequestMethod match {
        case "OPTIONS" => respond(exchange, 204, "")
        case "POST" =>
          val body = readBody(exchange)
          val parsed: Either[String, JsonNode] =
            try Right(mapper.readTree(body))
            catch { case e: Exception => Left(s"Invalid JSON: ${e.getMessage}") }
          parsed match {
            case Left(msg) => respond(exchange, 400, error(msg))
            case Right(req) if req.get("query") == null || req.get("query").isNull =>
              respond(exchange, 400, error("No query provided"))
            case Right(req) => inJobGroup("rsp-query", req.get("query").asText()) {
              val t0 = System.nanoTime()
              val staticRdf = Option(req.get("static_rdf")).filter(!_.isNull)
                .map(_.asText()).filter(_.trim.nonEmpty)
              val staticFormat = Option(req.get("static_format")).filter(!_.isNull)
                .map(_.asText()).getOrElse("rdfxml")
              val staticStore = staticRdf.map(_ => buildStore(staticRdf, staticFormat))
              val engine = graft.streaming.RspEngineBuilder.fromQuery(
                spark, req.get("query").asText(), staticStore)
              val events = Option(req.get("events")).filter(_.isArray).toSeq
                .flatMap(a => (0 until a.size()).map(a.get))
                .sortBy(_.get("timestamp").asLong())
              events.foreach { e =>
                val ts = e.get("timestamp").asLong()
                val stream = e.get("stream").asText()
                RdfIO.parseNtDoc(e.get("ntriples").asText()).foreach {
                  case (s, p, o) => engine.add(stream, s, p, o, ts)
                }
              }
              engine.flush()
              // first-seen variable order across all emitted rows
              val rows = engine.emissions.flatMap(_.rows)
              val headers = rows.foldLeft(Vector.empty[String])((hs, r) =>
                hs ++ r.keys.filterNot(hs.contains))
              val resp = mapper.createObjectNode()
              val data = resp.putArray("data")
              if (rows.nonEmpty) {
                val hRow = data.addArray()
                headers.foreach(hRow.add)
                rows.foreach { r =>
                  val row = data.addArray()
                  headers.foreach(h => row.add(r.getOrElse(h, "")))
                }
              }
              resp.put("total_results", rows.size)
              resp.put("execution_time_ms", (System.nanoTime() - t0) / 1e6)
              respond(exchange, 200, resp.toString)
            }
          }
        case _ => respond(exchange, 404, error("Not Found"))
      }
    } catch {
      case _: BodyTooLarge =>
        respond(exchange, 413, error("Request body too large"))
      case e: Exception => fail(exchange, e)
    }

  private final class BodyTooLarge extends Exception

  private def readBody(exchange: HttpExchange): String = {
    val in = exchange.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](65536)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size() > maxBodyBytes) throw new BodyTooLarge
      n = in.read(chunk)
    }
    new String(buf.toByteArray, StandardCharsets.UTF_8)
  }

  private def jsonBody(exchange: HttpExchange): Either[String, JsonNode] = {
    val body = readBody(exchange)
    try Right(mapper.readTree(body))
    catch { case e: Exception => Left(s"Invalid JSON: ${e.getMessage}") }
  }

  private def optText(req: JsonNode, field: String): Option[String] =
    Option(req.get(field)).filter(!_.isNull).map(_.asText()).filter(_.trim.nonEmpty)

  /** `POST /rsp/register` (`main.rs:650-773` rsp_register). */
  private def rspRegisterHandler: HttpHandler = (exchange: HttpExchange) =>
    try {
      exchange.getRequestMethod match {
        case "OPTIONS" => respond(exchange, 204, "")
        case "POST" => jsonBody(exchange) match {
          case Left(msg) => respond(exchange, 400, error(msg))
          case Right(req) if optText(req, "query").isEmpty =>
            respond(exchange, 400, error("No query provided"))
          case Right(req) =>
            val staticStore = optText(req, "static_rdf").map { rdf =>
              buildStore(Some(rdf), optText(req, "static_format").getOrElse("rdfxml"))
            }
            val rules = Option(req.get("sparql_rules")).filter(_.isArray).toSeq
              .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
              .map(SparqlParser().parseRule)
            val queue = new java.util.concurrent.LinkedBlockingQueue[String]()
            val consumer: graft.streaming.RspEngine.Emission => Unit = em =>
              em.rows.foreach { r =>
                val node = mapper.createObjectNode()
                r.foreach { case (k, v) => node.put(k, v) }
                queue.offer(node.toString)
              }
            val qText = optText(req, "query").get
            val parsed = SparqlParser().parseRsp(qText)
            // route to the distributed data plane when the query fits its
            // surface (single window, BGP+FILTER blocks, no Steal/Timeout,
            // no static store); otherwise the driver engine. The
            // DistributedBackend constructor compiles the full streaming
            // pipeline, so ANY unsupported surface lands in the fallback.
            val backend: RspBackend =
              if (staticStore.isDefined ||
                  parsed.policy.exists(_ != graft.sparql.Ast.WaitPolicy))
                new EngineBackend(graft.streaming.RspEngineBuilder.fromQuery(
                  spark, qText, staticStore, consumer = consumer, rules = rules))
              else
                try new DistributedBackend(parsed, rules, queue)
                catch {
                  // IllegalArgument/Unsupported: the plane's own guards;
                  // AnalysisException: Spark refusing the streaming plan
                  // (e.g. an unsupported stateful-operator chain) at start
                  case _: IllegalArgumentException | _: UnsupportedOperationException |
                       _: org.apache.spark.sql.AnalysisException =>
                    new EngineBackend(graft.streaming.RspEngineBuilder.fromQuery(
                      spark, qText, staticStore, consumer = consumer, rules = rules))
                }
            val id = sessionCounter.incrementAndGet().toString
            sessions.put(id, new RspSession(backend, queue))
            evictOldSessions()
            val resp = mapper.createObjectNode()
            resp.put("session_id", id)
            resp.put("plane", backend.plane)
            val streams = resp.putArray("streams")
            backend.query.windows.map(_.streamIri).distinct.foreach(streams.add)
            respond(exchange, 200, resp.toString)
        }
        case _ => respond(exchange, 404, error("Not Found"))
      }
    } catch {
      case _: BodyTooLarge =>
        respond(exchange, 413, error("Request body too large"))
      case e: Exception => fail(exchange, e)
    }

  /** `POST /rsp/push` (`main.rs:775-859` rsp_push). */
  private def rspPushHandler: HttpHandler = (exchange: HttpExchange) =>
    try {
      exchange.getRequestMethod match {
        case "OPTIONS" => respond(exchange, 204, "")
        case "POST" => jsonBody(exchange) match {
          case Left(msg) => respond(exchange, 400, error(msg))
          case Right(req) =>
            val sid = optText(req, "session_id").getOrElse("")
            Option(sessions.get(sid)) match {
              case None => respond(exchange, 404, error("Session not found"))
              case Some(session) =>
                val stream = optText(req, "stream").getOrElse("*")
                val ts = Option(req.get("timestamp")).map(_.asLong()).getOrElse(0L)
                session.lock.synchronized {
                  optText(req, "ntriples").foreach { nt =>
                    // the backend fires windows as event time advances and
                    // enqueues each emission's rows (engine: consumer;
                    // distributed: per-micro-batch forwarder)
                    inJobGroup("push", nt)(session.backend.push(stream, ts, RdfIO.parseNtDoc(nt)))
                  }
                  session.queue.offer("__FIRING_END__")
                }
                respond(exchange, 200, """{"status":"ok"}""")
            }
        }
        case _ => respond(exchange, 404, error("Not Found"))
      }
    } catch {
      case _: BodyTooLarge =>
        respond(exchange, 413, error("Request body too large"))
      case e: Exception => fail(exchange, e)
    }

  /** `GET /rsp/events/<session_id>` — SSE (`main.rs:829-908`): rows as
    * `data:` lines, push boundaries as `event: firing`; holds the
    * connection until the client disconnects or the idle timeout hits. */
  private def rspEventsHandler: HttpHandler = (exchange: HttpExchange) =>
    try {
      val sid = exchange.getRequestURI.getPath.stripPrefix("/rsp/events")
        .stripPrefix("/")
      Option(sessions.get(sid)) match {
        case None => respond(exchange, 404, error("Session not found"))
        case Some(session) =>
          val headers = exchange.getResponseHeaders
          headers.add("Content-Type", "text/event-stream")
          headers.add("Cache-Control", "no-cache")
          headers.add("Access-Control-Allow-Origin", "*")
          exchange.sendResponseHeaders(200, 0)
          val os = exchange.getResponseBody
          try {
            var open = true
            while (open) {
              val msg = session.queue.poll(30, java.util.concurrent.TimeUnit.SECONDS)
              if (msg == null) open = false // idle timeout: close politely
              else {
                val out = if (msg == "__FIRING_END__") "event: firing\ndata: {}\n\n"
                  else s"data: $msg\n\n"
                os.write(out.getBytes(StandardCharsets.UTF_8))
                os.flush()
              }
            }
          } catch { case _: java.io.IOException => /* client went away */ }
          finally { try os.close() catch { case _: Exception => } }
          exchange.close()
      }
    } catch { case e: Exception =>
      try fail(exchange, e) catch { case _: Exception => }
    }

  private def buildStore(rdf: Option[String], format: String): QuadStore = rdf match {
    // point-in-time copy under the store's monitor (the lock runUpdate
    // holds): a pooled query handler must never observe a half-applied
    // update or a new quads reference paired with a stale encoded view
    case None => serverStore.snapshot
    case Some(data) =>
      val triples = format match {
        case "ntriples" => RdfIO.parseNtDoc(data)
        case "turtle" | "n3" => RdfIO.parseTurtleDoc(data)
        case "rdfxml" | "xml" => RdfIO.parseRdfXmlDoc(data)
        case other => throw new IllegalArgumentException(
          s"RDF format '$other' is not supported — use ntriples, turtle, n3 or rdfxml")
      }
      QuadStore.fromTriples(spark, triples)
  }

  private def runQueries(queries: Seq[String], rules: Seq[String],
      rdf: Option[String], format: String): ObjectNode = {
    val store0 = buildStore(rdf, format)
    // rule materialization INSERTS derived facts — never into the shared
    // base store (a rule-bearing request would otherwise mutate it for
    // every later request, racing concurrent handlers; review finding).
    // Snapshot per request instead: the copy shares the base's immutable
    // quads DataFrame, only the mutation lands in the copy.
    val store =
      if (rules.nonEmpty && rdf.isEmpty) QuadStore(spark, store0.quads)
      else store0
    if (rules.nonEmpty) {
      val parsed = rules.map(SparqlParser().parseRule)
      new Reasoner(spark).materialize(store, parsed)
    }
    val response = mapper.createObjectNode()
    val results = response.putArray("results")
    queries.zipWithIndex.foreach { case (q, idx) =>
      val t0 = System.nanoTime()
      val df = new Compiler(store).select(q)
      val cols = df.columns
      val rows = df.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      val entry = results.addObject()
      entry.put("query_index", idx)
      entry.put("query", q)
      val data: ArrayNode = entry.putArray("data")
      rows.foreach { r =>
        val row = data.addArray()
        cols.zipWithIndex.foreach { case (c, i) =>
          val pair = row.addArray()
          pair.add(c)
          pair.add(if (r.isNullAt(i)) null else r.get(i).toString)
        }
      }
      entry.put("execution_time_ms", ms)
    }
    response
  }

  /** JSON error body: `{"error": msg, "category": …}`. Categories follow
    * the reference's error taxonomy (`error_handler.rs:1-259` separates
    * parse errors — with recovery hints — from execution errors):
    *  - `syntax`      — SPARQL/rule parse failure (annotated diagnostic in
    *                    the message, [[graft.sparql.SparqlParseException]])
    *  - `unsupported` — a documented engine refusal (the feature exists in
    *                    the grammar but this configuration is refused with
    *                    a reason, e.g. live-plane Steal/Timeout R2S)
    *  - `data`        — the query parsed but its inputs are wrong (bad RDF
    *                    payload, wrong types, malformed model)
    *  - `request`     — protocol-shape problems (invalid JSON, missing
    *                    fields, unknown session, oversized body)
    *  - `internal`    — anything else (answered 500)
    * A client/playground can branch on `category` without parsing prose. */
  private def error(msg: String, category: String = "request"): String = {
    val n = mapper.createObjectNode()
    n.put("error", msg)
    n.put("category", category)
    n.toString
  }

  private def categoryOf(e: Throwable): String = e match {
    case _: graft.sparql.SparqlParseException => "syntax"
    case _: UnsupportedOperationException => "unsupported"
    case iae: IllegalArgumentException
        if Option(iae.getMessage).exists(_.toLowerCase.contains("supported")) =>
      "unsupported" // the engine's guided refusals are `require` messages
    case _: IllegalArgumentException | _: IllegalStateException => "data"
    case _ => "internal"
  }

  /** Map a handler exception to (status, categorized body): user-fixable
    * classes answer 400, engine faults answer 500. */
  private def fail(exchange: HttpExchange, e: Exception): Unit = {
    val cat = categoryOf(e)
    val code = if (cat == "internal") 500 else 400
    respond(exchange, code,
      error(Option(e.getMessage).getOrElse(e.getClass.getSimpleName), cat))
  }

  private def respondHtml(exchange: HttpExchange, code: Int, body: String): Unit =
    respond(exchange, code, body, contentType = "text/html; charset=utf-8")

  private def respond(exchange: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val headers = exchange.getResponseHeaders
    headers.add("Content-Type", contentType)
    headers.add("Access-Control-Allow-Origin", "*")
    headers.add("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
    headers.add("Access-Control-Allow-Headers", "Content-Type")
    if (code == 204) exchange.sendResponseHeaders(code, -1)
    else {
      exchange.sendResponseHeaders(code, bytes.length)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    }
    exchange.close()
  }
}

object GraftHttpServer {
  /** Serializes the state-store-provider conf set/start/restore across
    * concurrent session registrations. */
  private val streamStartLock = new Object

  /** A results cell that reads as an absolute IRI (`scheme:rest`). */
  private val IriLike = java.util.regex.Pattern.compile("[A-Za-z][A-Za-z0-9+.\\-]*:\\S*")

  /** A PREFIX or BASE declaration, stripped before the ASK-form check. */
  private val PrologueDecl = java.util.regex.Pattern.compile(
    "(?is)(PREFIX\\s+\\S+\\s+<[^>]*>|BASE\\s+<[^>]*>)")

  /** Small responses (an SSE marker, a short update reply) must not wait
    * on Nagle's algorithm plus the client's delayed ACK, up to 40 ms
    * each. The JDK server reads this property once per JVM, when its
    * first `HttpServer` is created, so it is set before that unless the
    * user chose a value. */
  private def enableNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
}
