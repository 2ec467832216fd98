package e2ebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.QuadStore
import graft.relational.Triplizer
import graft.server.GraftHttpServer
import graft.sparql.{Compiler, SparqlParser}

/** One benchmark run in one JVM: builds the quad store, hosts the SPARQL/RSP
  * server, drives it over HTTP, runs the batch jobs, and writes
  * `<run-dir>/out/result.json` (metrics, operation counts and the responses
  * the oracle check compares). Usage:
  * {{{
  * e2ebench.Main --workload W --run-dir D --trace 0|1 --cores C --scale X
  * }}}
  * The corpus is read from `D/corpus`; everything written goes under `D`.
  * An untraced run executes the phases of workload W only; a traced run
  * executes every phase, one client at a time. `--scale` multiplies the
  * read repetitions, `rw` requests, burst pushes and engine pushes.
  */
object Main {
  final case class Conf(workload: String, runDir: String, trace: Boolean, cores: Int,
      scale: Double) {
    def corpus: String = s"$runDir/corpus"
    def out: String = s"$runDir/out"
    private def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)
    def readReps: Int = scaled(1)
    def rwRequests: Int = scaled(18)
    def enginePushes: Int = scaled(32)
    def burstPushes: Int = scaled(256)
    /** Store builds or feed loads per run; setup time takes their median. A
      * traced run, which runs every phase, builds and loads once so that it
      * ends well within its time limit. */
    def setupRepeats: Int = if (trace) 1 else 2
  }

  // Fixed per run, so that two builds always do the same work. With these
  // counts a run measures about 40-55 s on a 4-core host.
  val readClients = 2
  /** Batch jobs running at a time (one in a traced run). */
  val batchParallel = 2
  /** Passes over a batch set (one in a traced run); the pass time is their
    * median. */
  val batchPasses = 2
  /** One push per 250 ms, about one firing's service time on a 4-core host,
    * so a firing seldom delays the pushes behind it. */
  val engineRate = 4.0
  /** Untimed engine pushes before the first timed one (8 firings). */
  val warmPushes = 32
  /** The median of three leaves out the first micro-batch's cold start. */
  val livePushes = 3

  val mapper = new ObjectMapper()

  /** The four SparqlSuite texts the read phase adds to WatDiv's 18; kept
    * verbatim so their oracles (`SparkEntry.oracleSql`) apply. */
  val extraReads: Map[String, String] = Map(
    "sparql_groupby_agg" -> """
        SELECT ?seg (COUNT(*) AS ?n) (SUM(?bal) AS ?total) (AVG(?bal) AS ?avgbal)
               (MIN(?bal) AS ?minbal) (MAX(?bal) AS ?maxbal)
        WHERE { ?c <customer#c_mktsegment> ?seg . ?c <customer#c_acctbal> ?bal }
        GROUP BY ?seg""",
    "sparql_orderby_limit" -> """
        SELECT ?name ?bal WHERE {
          ?c <customer#c_name> ?name . ?c <customer#c_acctbal> ?bal }
        ORDER BY DESC(?bal) ?name LIMIT 10""",
    "sparql_distinct" -> """
        SELECT DISTINCT ?seg WHERE { ?c <customer#c_mktsegment> ?seg }""",
    "sparql_filter_arith" -> """
        SELECT ?li ?price ?disc WHERE {
          ?li <lineitem#l_extendedprice> ?price .
          ?li <lineitem#l_discount> ?disc .
          FILTER(?price * (1 - ?disc) > 90000.0) }""")

  val readTexts: Map[String, String] = graft.queries.WatDivSuite.sparqlText ++ extraReads

  /** Each workload's end-to-end metrics, as phase metrics of its run. */
  val endToEnd: Map[String, Seq[(String, String)]] = Map(
    "endpoint_curation" -> Seq("setup_s" -> "store.setup_s", "p50_ms" -> "read.p50_ms",
      "tail_ms" -> "read.tail_ms", "per_s" -> "read.per_s",
      "second_p50_ms" -> "rw.read_p50_ms", "batch_pass_s" -> "curation_pass_s"),
    "stream_reasoning" -> Seq("setup_s" -> "feed.setup_s", "p50_ms" -> "burst.p50_ms",
      "tail_ms" -> "burst.tail_ms", "per_s" -> "burst.per_s",
      "second_p50_ms" -> "burst.firing_p50_ms", "batch_pass_s" -> "fixpoint_pass_s"))

  /** Small-result reads the `rw` phase interleaves with updates. */
  val rwReads: Seq[String] = Seq("sparql_watdiv_s3", "sparql_watdiv_s4",
    "sparql_watdiv_s5", "sparql_watdiv_c2", "sparql_groupby_agg", "sparql_orderby_limit")
  val benchPredicate = "bench/tag"
  /** The first read after an update takes two to three times as long as
    * the next (it recomputes the store's stacked distinct); with an update
    * every third request, half the reads followed one and the median sat
    * between the two modes. */
  val updateEvery = 4

  val fixpointSet: Seq[String] = Seq("datalog_closure_seminaive", "datalog_deep_taxonomy",
    "prob_minmax_closure", "graph_components", "graph_bfs_hops", "graph_triangles")
  val curationSet: Seq[String] = Seq("dedup_minhash_lsh", "dedup_prefix_jaccard",
    "similarity_ivfpq_topk", "text_bm25_topk")

  /** The `http_rsp_smoke` registration text; `live` drops the policy, which
    * routes the session to the DistributedRsp live plane. */
  val rspEngineQuery: String = """
          REGISTER RSTREAM <http://out/windowed> AS
          SELECT *
          FROM NAMED WINDOW :w ON :events [RANGE 7200000 ms STEP 3600000 ms]
            WITH POLICY steal
          WHERE { WINDOW :w { ?e <ev/user> ?u . ?e <ev/type> "purchase" . } }"""
  val rspLiveQuery: String = rspEngineQuery.replace("WITH POLICY steal", "")
  /** Tail percentiles, inside the slow mode of each latency distribution at
    * the per-run sample counts (22 reads; 256 burst pushes and 32 engine
    * pushes, a quarter of which fire). */
  val readTail = 0.75
  val burstTail = 0.9
  val engineTail = 0.85
  /** The window's STEP. */
  val stepMs: Long = 3600000L

  /** Whether push `i` of `events` fires: its timestamp passes a STEP
    * boundary, so it closes (and reports) at least one window. */
  def fires(events: Seq[(Long, String)], i: Int): Boolean =
    i > 0 && Math.floorDiv(events(i)._1 - 1, stepMs) > Math.floorDiv(events(i - 1)._1 - 1, stepMs)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(a("workload"), a("run-dir"), a("trace") == "1", a("cores").toInt,
      a("scale").toDouble)
    new File(c.out).mkdirs()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("e2ebench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"${c.runDir}/warehouse")
      .config("spark.local.dir", s"${c.runDir}/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    require(endToEnd.contains(c.workload), s"unknown workload ${c.workload}")
    val run = new Run(spark, c)
    var code = 0
    try run.all(sessionS)
    catch { case e: Throwable =>
      code = 1
      System.err.println("[e2ebench] run aborted: " + e)
      e.printStackTrace()
    } finally {
      run.stop()
      try {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      } catch { case _: Throwable => () }
      spark.stop()
    }
    if (code == 0) run.write()
    System.err.println(f"[e2ebench] session $sessionS%.1f s; JVM exits ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s after start")
    sys.exit(code)
  }

  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Number of result bindings in a SPARQL results JSON body. */
  def bindings(body: Array[Byte]): Int =
    mapper.readTree(body).path("results").path("bindings").size()

  def json(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
    case null => mapper.nullNode()
    case s: String => mapper.getNodeFactory.textNode(s)
    case i: Int => mapper.getNodeFactory.numberNode(i)
    case l: Long => mapper.getNodeFactory.numberNode(l)
    case d: Double => mapper.getNodeFactory.numberNode(d)
    case f: Float => mapper.getNodeFactory.numberNode(f.toDouble)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case d: java.math.BigDecimal => mapper.getNodeFactory.numberNode(d)
    case other => mapper.getNodeFactory.textNode(other.toString)
  }
}

/** Spans kept in memory and written out once at the end. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val t0 = System.nanoTime()

  def span[T](name: String, req: String, parent: Int = 0)(f: Int => T): T = {
    val id = ids.incrementAndGet()
    val s = System.nanoTime()
    try f(id) finally spans.add(Span(id, parent, name, req, s - t0, System.nanoTime() - t0))
  }

  def write(path: String): Unit = {
    val arr = new ObjectMapper().createArrayNode()
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("req", s.req); n.put("start_us", s.startNs / 1000); n.put("end_us", s.endNs / 1000)
    }
    Files.writeString(Paths.get(path), arr.toString)
  }
}

final class Run(spark: SparkSession, c: Main.Conf) {
  import Main._

  private val metrics = new mutable.LinkedHashMap[String, Double] {
    override def update(k: String, v: Double): Unit = synchronized(super.update(k, v))
  }
  private val attempted = new AtomicLong(0)
  private val failed = new AtomicLong(0)
  private val errors = new ConcurrentLinkedQueue[String]()
  private val checks = mapper.createArrayNode()
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private val tracer = new Tracer
  private val counters: Option[Counters] =
    if (c.trace) Some(new Counters(spark)) else None
  private val progress = new Progress
  counters.foreach(spark.sparkContext.addSparkListener)
  if (c.trace) spark.streams.addListener(progress)

  private var store: QuadStore = _
  private var server: GraftHttpServer = _
  /** The event stream as pushes, loaded by [[feedSetup]]. */
  private var pushes: Seq[(Long, String)] = Nil
  /** Off-the-timed-path response checks (row counts). */
  private val checker = Executors.newSingleThreadExecutor()
  /** Row count of the first response of each read text or batch job. */
  private val firstRows = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(what)
  }

  def all(sessionS: Double): Unit = {
    val endpoint = Seq[(String, () => Unit)]("store setup" -> (() => storeSetup(sessionS)),
      "read" -> (() => read()), "rw" -> (() => rw()))
    val stream = Seq[(String, () => Unit)]("feed setup" -> (() => feedSetup(sessionS)),
      "burst" -> (() => burst()), "engine" -> (() => engine()), "live" -> (() => live()))
    val curation = "curation" -> (() => batch("curation", curationSet))
    val fixpoint = "fixpoint" -> (() => batch("fixpoint", fixpointSet))
    // a batch set runs last and warm, with the server (and the live plane's
    // streaming query) stopped
    val stopServer = "server stop" -> (() => { server.stop(); server = null })
    // the open loop and the live plane run in traced runs only: the open
    // loop's few firings and the live plane's latency swing too much from
    // run to run on a shared host to gate on
    val phases =
      if (c.trace) endpoint ++ stream ++ Seq(stopServer, curation, fixpoint)
      else if (c.workload == "endpoint_curation") endpoint ++ Seq(stopServer, curation)
      else stream.take(2) ++ Seq(stopServer, fixpoint)
    phases.foreach { case (phase, f) =>
      val t0 = System.nanoTime()
      f()
      System.err.println(f"[e2ebench] $phase phase: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    if (!c.trace) endToEnd(c.workload).foreach { case (m, from) => metrics(m) = metrics(from) }
  }

  // ---- setup -------------------------------------------------------------

  /** Triplizes the corpus into the predicate-clustered quad table (the
    * layout of `Triplizer.cachedStore`, written under the run directory)
    * and starts the server over it. Built `c.setupRepeats` times; the setup
    * time is session start plus the median build plus server start. */
  private def storeSetup(sessionS: Double): Unit = {
    val builds = (1 to c.setupRepeats).map { i =>
      val path = s"${c.runDir}/quads_$i"
      val t0 = System.nanoTime()
      tracer.span("relational.store_build", s"setup-$i") { _ =>
        Triplizer.quads(spark, c.corpus, defaultGraph = true)
          .repartitionByRange(spark.sparkContext.defaultParallelism, col("p"), col("s"))
          .sortWithinPartitions("p", "s")
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(path)
        store = QuadStore(spark, spark.read.parquet(path))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val serverS = startServer()
    System.err.println(f"[e2ebench] session $sessionS%.2f s, store builds ${builds.map(b => f"$b%.2f").mkString(" ")} s")
    metrics("store.setup_s") = sessionS + median(builds) + serverS
    metrics("relational.store_build_s") = median(builds)
    counts("store_builds") = builds.size
  }

  private def startServer(): Double = {
    val t0 = System.nanoTime()
    server = new GraftHttpServer(spark, Option(store)).start(0)
    (System.nanoTime() - t0) / 1e9
  }

  /** Loads the event stream as pushes `c.setupRepeats` times; the setup time is
    * session start plus the median load plus server start. */
  private def feedSetup(sessionS: Double): Unit = {
    val loads = (1 to c.setupRepeats).map { i =>
      val t0 = System.nanoTime()
      pushes = tracer.span("rsp.feed_load", s"setup-$i")(_ => feed())
      (System.nanoTime() - t0) / 1e9
    }
    val serverS = if (server == null) startServer() else 0.0
    metrics("feed.setup_s") = sessionS + median(loads) + serverS
  }

  // ---- sparql_endpoint: read -------------------------------------------

  /** Off the timed path: the first response to each text is saved for the
    * oracle check, every later one must have the same number of rows. */
  private def checkRows(name: String, body: Array[Byte]): Unit =
    checker.submit(new Runnable {
      def run(): Unit =
        try {
          val n = bindings(body)
          val want = firstRows.get(name)
          if (want == null) {
            firstRows.put(name, n)
            Files.write(Paths.get(s"${c.out}/read_$name.json"), body)
            addCheck("oracle", name, s"read_$name.json", "sparql")
          } else if (n != want.intValue) fail(s"$name: $n rows, first response had $want")
        } catch { case e: Throwable => fail(s"$name: unreadable response: $e") }
    })

  private def addCheck(kind: String, name: String, file: String, format: String = ""): ObjectNode =
    checks.synchronized {
      val chk = checks.addObject()
      chk.put("kind", kind); chk.put("name", name); chk.put("file", file)
      chk.put("format", format)
      chk
    }

  /** Closed loop: `readClients` clients take the next text of a fixed
    * sequence (every text once, `readReps` times over) as soon as their
    * previous response has been read to the last byte. */
  private def read(): Unit = {
    val seq = Seq.fill(c.readReps)(readTexts.keys.toSeq.sorted).flatten
    val clients = if (c.trace) 1 else readClients
    val next = new AtomicInteger(0)
    val lat = new ConcurrentLinkedQueue[Double]()
    // per text, the last response's latency and size, for the layer split
    val byText = new java.util.concurrent.ConcurrentHashMap[String, (Double, Int)]()
    val t0 = System.nanoTime()
    val threads = (1 to clients).map { _ =>
      val t = new Thread(() => {
        val h = new Http(server.port)
        var i = next.getAndIncrement()
        while (i < seq.size) {
          val name = seq(i)
          attempted.incrementAndGet()
          try {
            val s = System.nanoTime()
            val (code, body) = tracer.span("sparql.request", s"read-$i")(_ => h.sparql(readTexts(name)))
            val ms = (System.nanoTime() - s) / 1e6
            if (code != 200) fail(s"$name: HTTP $code ${new String(body.take(200), StandardCharsets.UTF_8)}")
            else { lat.add(ms); byText.put(name, (ms, body.length)); checkRows(name, body) }
          } catch { case e: Throwable => fail(s"$name: $e") }
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val l = lat.asScala.toSeq
    metrics("read.p50_ms") = median(l)
    metrics("read.tail_ms") = pct(l, readTail)
    metrics("read.per_s") = l.size / wallS
    counts("read_requests") = l.size
    counts("read_clients") = clients
    if (c.trace) readLayers(byText.asScala)
  }

  /** Per read text, after its request over HTTP, the same text through the
    * layers in process: parse, compile, physical planning, execution. */
  private def readLayers(httpByText: scala.collection.Map[String, (Double, Int)]): Unit = {
    val ctr = counters.get
    val parse, compile, plan, exec, self = mutable.ArrayBuffer.empty[Double]
    val work = mutable.ArrayBuffer.empty[Snap]
    var responseBytes = 0L
    readTexts.keys.toSeq.sorted.filter(httpByText.contains).foreach { name =>
      val text = readTexts(name)
      val (httpMs, bytes) = httpByText(name)
      responseBytes += bytes
      tracer.span("sparql.inprocess", name) { root =>
        val t1 = System.nanoTime()
        val op = tracer.span("sparql.parse", name, root)(_ => SparqlParser.operation(text))
        val t2 = System.nanoTime()
        val sel = op match { case graft.sparql.Ast.SelectOp(s) => s; case o => sys.error(s"$name: $o") }
        val df = tracer.span("sparql.compile", name, root)(_ => new Compiler(store.snapshot).compileSelect(sel))
        val t3 = System.nanoTime()
        tracer.span("catalyst.plan", name, root)(_ => df.queryExecution.executedPlan)
        val t4 = System.nanoTime()
        val (_, execMs, w) = ctr.measure(tracer.span("spark.exec", name, root)(_ => df.collect()))
        parse += (t2 - t1) / 1e6; compile += (t3 - t2) / 1e6; plan += (t4 - t3) / 1e6
        exec += execMs; work += w
        self += httpMs - (t4 - t1) / 1e6 - execMs
      }
    }
    metrics("sparql.parse_ms") = median(parse.toSeq)
    metrics("sparql.compile_ms") = median(compile.toSeq)
    metrics("catalyst.plan_ms") = median(plan.toSeq)
    metrics("spark.exec_ms") = median(exec.toSeq)
    metrics("spark.jobs") = median(work.map(_.jobs.toDouble).toSeq)
    metrics("spark.stages") = median(work.map(_.stages.toDouble).toSeq)
    metrics("spark.tasks") = median(work.map(_.tasks.toDouble).toSeq)
    metrics("spark.shuffle_bytes") = median(work.map(_.shuffleBytes.toDouble).toSeq)
    metrics("spark.executor_cpu_ms") = median(work.map(_.cpuNs / 1e6).toSeq)
    metrics("spark.gc_ms") = median(work.map(_.gcMs.toDouble).toSeq)
    metrics("server.self_ms") = median(self.toSeq)
    metrics("server.response_bytes") = responseBytes.toDouble
  }

  // ---- sparql_endpoint: rw ---------------------------------------------

  /** A fixed sequence: every `updateEvery`-th request is an INSERT DATA or
    * DELETE DATA on a predicate only the benchmark uses (every third update
    * deletes the oldest live triple); the rest cycle through the
    * small-result reads. */
  private def rw(): Unit = {
    val http = new Http(server.port)
    val live = mutable.Queue.empty[Int]
    var nextId = 0
    var updates, reads = 0
    val readLat, updLat, updMs, planNodes = mutable.ArrayBuffer.empty[Double]
    val mirror = if (c.trace) Some(QuadStore(spark, store.quads)) else None
    (1 to c.rwRequests).foreach { i =>
      attempted.incrementAndGet()
      if (i % updateEvery == 0) {
        val text =
          if (updates % 3 == 2 && live.nonEmpty) {
            val id = live.dequeue()
            s"""DELETE DATA { <bench/s$id> <$benchPredicate> "v$id" }"""
          } else {
            val id = nextId; nextId += 1; live.enqueue(id)
            s"""INSERT DATA { <bench/s$id> <$benchPredicate> "v$id" }"""
          }
        updates += 1
        val s = System.nanoTime()
        val (code, body) = tracer.span("sparql.update", s"rw-$i")(_ => http.update(text))
        val ms = (System.nanoTime() - s) / 1e6
        if (code != 200) fail(s"update: HTTP $code ${new String(body.take(200), StandardCharsets.UTF_8)}")
        else updLat += ms
        mirror.foreach { m =>
          val u = System.nanoTime()
          tracer.span("model.update", s"rw-$i")(_ =>
            new Compiler(m).executeUpdate(SparqlParser().parseUpdate(text)))
          updMs += (System.nanoTime() - u) / 1e6
          planNodes += store.quads.queryExecution.logical.collect { case n => n }.size.toDouble
        }
      } else {
        val name = rwReads(reads % rwReads.size)
        reads += 1
        val s = System.nanoTime()
        val (code, body) = tracer.span("sparql.request", s"rw-$i")(_ => http.sparql(readTexts(name)))
        val ms = (System.nanoTime() - s) / 1e6
        if (code != 200) fail(s"rw $name: HTTP $code")
        else { readLat += ms; checkRows(name, body) }
      }
    }
    // the benchmark predicate must hold exactly the triples left inserted
    attempted.incrementAndGet()
    val (code, body) = http.sparql(
      s"SELECT (COUNT(*) AS ?n) WHERE { ?s <$benchPredicate> ?o }")
    val got = if (code == 200)
      mapper.readTree(body).path("results").path("bindings").path(0).path("n").path("value").asText("")
      else s"HTTP $code"
    if (got != live.size.toString) fail(s"rw: $benchPredicate holds $got triples, expected ${live.size}")
    metrics("rw.read_p50_ms") = median(readLat.toSeq)
    metrics("rw.update_p50_ms") = median(updLat.toSeq)
    counts("rw_reads") = readLat.size
    counts("rw_updates") = updLat.size
    if (c.trace) {
      metrics("model.update_ms") = median(updMs.toSeq)
      metrics("model.quads_plan_nodes") = planNodes.last
    }
  }

  // ---- batch_jobs --------------------------------------------------------

  private def writeRows(file: String, df: DataFrame, rows: Array[Row]): Unit = {
    val root = mapper.createObjectNode()
    val cols = root.putArray("columns")
    df.columns.foreach(cols.add)
    val arr = root.putArray("rows")
    rows.foreach { r =>
      val a = arr.addArray()
      (0 until r.length).foreach(i => a.add(json(r.get(i))))
    }
    Files.writeString(Paths.get(s"${c.out}/$file"), root.toString)
  }

  /** One job set `batchPasses` times, in its listed order, every result
    * fully collected; `batchParallel` jobs run at a time. A pass is timed
    * from its first job's start to its last job's end. */
  private def batch(set: String, names: Seq[String]): Unit = {
    val jobs = graft.SparkEntry.queries
    val pool = Executors.newFixedThreadPool(if (c.trace) 1 else batchParallel)
    try {
      val passes = (1 to (if (c.trace) 1 else batchPasses)).map { pass =>
        val t0 = System.nanoTime()
        names.map { name =>
          pool.submit(new Runnable { def run(): Unit = batchJob(jobs(name), name, set, pass) })
        }.foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[e2ebench] $set passes ${passes.map(p => f"$p%.2f").mkString(" ")} s")
      metrics(s"${set}_pass_s") = median(passes)
    } finally pool.shutdown()
  }

  /** The first pass's result is saved for the oracle check; a later pass
    * must return as many rows. */
  private def batchJob(job: (SparkSession, String) => DataFrame, name: String,
      set: String, pass: Int): Unit = {
    attempted.incrementAndGet()
    val before = counters.map(_.snap())
    val t0 = System.nanoTime()
    try {
      val (df, rows) = tracer.span(s"batch.$name", set) { _ =>
        val df = job(spark, c.corpus)
        (df, df.collect())
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (pass == 1) {
        firstRows.put(name, rows.length)
        writeRows(s"batch_$name.json", df, rows)
        addCheck("oracle", name, s"batch_$name.json", "rows")
      } else if (rows.length != firstRows.get(name).intValue)
        fail(s"$name: ${rows.length} rows, first pass had ${firstRows.get(name)}")
      counters.foreach { ctr =>
        val w = ctr.snap() - before.get
        metrics(s"batch.$name.wall_s") = s
        metrics(s"batch.$name.spark_jobs") = w.jobs.toDouble
        metrics(s"batch.$name.tasks") = w.tasks.toDouble
        metrics(s"batch.$name.shuffle_bytes") = w.shuffleBytes.toDouble
        metrics(s"batch.$name.executor_cpu_s") = w.cpuNs / 1e9
      }
    } catch { case e: Throwable => fail(s"$name: $e") }
  }

  // ---- rsp_stream --------------------------------------------------------

  /** The stream in (ts, event_id) order as pushes, one per distinct
    * millisecond timestamp: (tms, N-Triples document). */
  private def feed(): Seq[(Long, String)] = {
    val e = graft.streaming.EventsReader.eventsMs(spark, c.corpus)
    val rows = e.select(col("tms"), col("event_id"), col("user_id"), col("event_type"))
      .collect()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (ts, evs) =>
      ts -> evs.sortBy(_.getLong(1)).map { r =>
        s"<event/${r.getLong(1)}> <ev/user> <user/${r.getLong(2)}> .\n" +
          s"<event/${r.getLong(1)}> <ev/type> \"${r.getString(3)}\" ."
      }.mkString("\n")
    }
  }

  private def register(http: Http, query: String): (String, String) = {
    val reg = mapper.createObjectNode()
    reg.put("query", query)
    val (code, body) = http.post("/rsp/register", "application/json", reg.toString)
    require(code == 200, s"register: HTTP $code ${new String(body, StandardCharsets.UTF_8)}")
    val n = mapper.readTree(body)
    (n.get("session_id").asText(), n.path("plane").asText())
  }

  private def pushBody(sid: String, ts: Long, nt: String): String = {
    val p = mapper.createObjectNode()
    p.put("session_id", sid); p.put("stream", "events")
    p.put("timestamp", ts); p.put("ntriples", nt)
    p.toString
  }

  /** Saves an RSP session's result rows for the oracle check, with the
    * number of stream events pushed. */
  private def saveRows(file: String, rows: Iterable[String],
      events: Seq[(Long, String)], plane: String): Unit = {
    val root = mapper.createObjectNode()
    root.put("events", events.map(_._2.count(_ == '\n') / 2 + 1).sum)
    root.put("plane", plane)
    val arr = root.putArray("rows")
    rows.foreach(r => arr.add(mapper.readTree(r)))
    Files.writeString(Paths.get(s"${c.out}/$file"), root.toString)
  }

  /** Open loop: push i is due at i / rate after the start. Latencies are
    * timed from its send; `engine.push_p50_ms` is timed from its due time,
    * so a stall also counts against the pushes queued behind it. One sender
    * keeps pushes in timestamp order. */
  private def engine(): Unit = {
    val http = new Http(server.port)
    val events = pushes.take(c.enginePushes)
    val (sid, plane) = register(http, rspEngineQuery)
    require(plane == "engine", s"engine query routed to the $plane plane")
    val sse = new Sse(server.port, sid, events.size)
    sse.start()
    val pushMs, lateMs, sendMs = mutable.ArrayBuffer.empty[Double]
    val sent = mutable.ArrayBuffer.empty[Long]
    val periodNs = (1e9 / engineRate).toLong
    val t0 = System.nanoTime() + 20000000L
    events.zipWithIndex.foreach { case ((ts, nt), i) =>
      val d = t0 + i * periodNs
      val wait = d - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val s = System.nanoTime()
      sent += s
      lateMs += (s - d) / 1e6
      attempted.incrementAndGet()
      val (code, _) = tracer.span("rsp.push", s"engine-$i")(_ =>
        http.post("/rsp/push", "application/json", pushBody(sid, ts, nt)))
      val e = System.nanoTime()
      if (code != 200) fail(s"engine push $i: HTTP $code")
      pushMs += (e - d) / 1e6
      sendMs += (e - s) / 1e6
    }
    val firing, served = mutable.ArrayBuffer.empty[Double]
    var rowsSeen = 0L
    events.indices.foreach { i =>
      val m = sse.next(60)
      rowsSeen += m.rows
      served += (m.nanos - sent(i)) / 1e6
      if (fires(events, i)) firing += (m.nanos - sent(i)) / 1e6
    }
    sse.close()
    sse.failure.foreach(e => fail(s"engine SSE: $e"))
    saveRows("rsp_engine.json", sse.rows.asScala, events, plane)
    addCheck("rsp_engine", "http_rsp_smoke", "rsp_engine.json")
    // latencies are timed from each push's send: a firing that overruns the
    // period delays the pushes behind it, which made due-time quantiles
    // swing with host load (the wait is in rsp.generator_late_ms)
    metrics("engine.p50_ms") = median(served.toSeq)
    metrics("engine.tail_ms") = pct(served.toSeq, engineTail)
    metrics("engine.push_p50_ms") = median(pushMs.toSeq)
    metrics("engine.firing_p50_ms") = median(firing.toSeq)
    counts("engine_pushes") = pushMs.size
    counts("engine_firings") = firing.size
    metrics("rsp.generator_late_ms") = pct(lateMs.toSeq, 0.9)
    metrics("rsp.rows_emitted") = rowsSeen.toDouble
    if (c.trace) engineLayers(events, sendMs.toSeq)
  }

  /** The same pushes into an in-process RspEngine, one at a time: the
    * engine's own add and fire cost, and the Spark work per firing. */
  private def engineLayers(events: Seq[(Long, String)], httpMs: Seq[Double]): Unit = {
    val ctr = counters.get
    val eng = graft.streaming.RspEngineBuilder.fromQuery(spark, rspEngineQuery)
    val add, fire, self = mutable.ArrayBuffer.empty[Double]
    val jobs, tasks = mutable.ArrayBuffer.empty[Double]
    events.zipWithIndex.foreach { case ((ts, nt), i) =>
      val triples = graft.rdfio.RdfIO.parseNtDoc(nt)
      val (_, ms, w) = ctr.measure(tracer.span("streaming.engine.add", s"engine-$i")(_ =>
        triples.foreach { case (s, p, o) => eng.add("events", s, p, o, ts) }))
      if (fires(events, i)) {
        fire += ms; jobs += w.jobs.toDouble; tasks += w.tasks.toDouble
      } else add += ms
      self += httpMs(i) - ms
    }
    metrics("streaming.engine.add_ms") = median(add.toSeq)
    metrics("streaming.engine.fire_ms") = median(fire.toSeq)
    metrics("spark.jobs_per_firing") = median(jobs.toSeq)
    metrics("spark.tasks_per_firing") = median(tasks.toSeq)
    metrics("server.push_self_ms") = median(self.toSeq)
  }

  /** Closed loop, one client, in a fresh engine session over the stream's
    * first `burstPushes` ticks: each push is sent as soon as the previous
    * response is in. Its pushes per second are the engine plane's capacity,
    * which the open loop's fixed rate cannot show. Each push is timed from
    * its send to its SSE marker; the server fires windows inside the push
    * request, so this is the latency an RSP client sees. Runs before the
    * open loop. */
  private def burst(): Unit = {
    val http = new Http(server.port)
    val events = pushes.take(c.burstPushes)
    // an untimed session over the first ticks, one push at a time, first
    // compiles the firing path
    val warm = register(http, rspEngineQuery)._1
    events.take(warmPushes).foreach { case (ts, nt) =>
      http.post("/rsp/push", "application/json", pushBody(warm, ts, nt))
    }
    val (sid, plane) = register(http, rspEngineQuery)
    require(plane == "engine", s"engine query routed to the $plane plane")
    val sse = new Sse(server.port, sid, events.size)
    sse.start()
    val sent = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    events.zipWithIndex.foreach { case ((ts, nt), i) =>
      attempted.incrementAndGet()
      sent += System.nanoTime()
      val (code, _) = tracer.span("rsp.push", s"burst-$i")(_ =>
        http.post("/rsp/push", "application/json", pushBody(sid, ts, nt)))
      if (code != 200) fail(s"burst push $i: HTTP $code")
    }
    val served = events.indices.map(i => (sse.next(60).nanos - sent(i)) / 1e6)
    val firing = events.indices.filter(fires(events, _)).map(served)
    sse.close()
    sse.failure.foreach(e => fail(s"burst SSE: $e"))
    saveRows("rsp_burst.json", sse.rows.asScala, events, plane)
    addCheck("rsp_engine", "http_rsp_smoke", "rsp_burst.json")
    metrics("burst.per_s") = events.size / ((sse.lastNanos - t0) / 1e9)
    metrics("burst.p50_ms") = median(served)
    metrics("burst.tail_ms") = pct(served, burstTail)
    metrics("burst.firing_p50_ms") = median(firing)
    counts("burst_pushes") = events.size
    counts("burst_firings") = firing.size
  }

  /** Closed loop, one client: each push waits for its firing marker. */
  private def live(): Unit = {
    val http = new Http(server.port)
    val events = pushes.take(livePushes)
    val (sid, plane) = register(http, rspLiveQuery)
    require(plane == "distributed", s"live query routed to the $plane plane")
    val sse = new Sse(server.port, sid, events.size)
    sse.start()
    val lat = mutable.ArrayBuffer.empty[Double]
    events.zipWithIndex.foreach { case ((ts, nt), i) =>
      attempted.incrementAndGet()
      val s = System.nanoTime()
      val (code, _) = tracer.span("rsp.live_push", s"live-$i")(_ =>
        http.post("/rsp/push", "application/json", pushBody(sid, ts, nt)))
      if (code != 200) fail(s"live push $i: HTTP $code")
      else lat += (sse.next(120).nanos - s) / 1e6
    }
    sse.close()
    sse.failure.foreach(e => fail(s"live SSE: $e"))
    saveRows("rsp_live.json", sse.rows.asScala, events, plane)
    addCheck("rsp_live", "http_rsp_smoke", "rsp_live.json")
    System.err.println(s"[e2ebench] live pushes ms: ${lat.map(_.round).mkString(" ")}")
    metrics("live.p50_ms") = median(lat.toSeq)
    counts("live_pushes") = lat.size
    if (c.trace) {
      org.apache.spark.E2eBus.drain(spark.sparkContext)
      val t = progress.triggers.asScala.toSeq
      metrics("streaming.live.trigger_ms") = median(t.map(_.triggerMs))
      metrics("streaming.live.planning_ms") = median(t.map(_.planningMs))
      metrics("streaming.live.addbatch_ms") = median(t.map(_.addBatchMs))
      metrics("streaming.live.walcommit_ms") = median(t.map(_.walCommitMs))
      metrics("streaming.live.state_rows") = t.last.stateRows
      metrics("streaming.live.state_commit_ms") = median(t.map(_.stateCommitMs))
    }
  }

  // ---- teardown and output -------------------------------------------------

  def stop(): Unit = {
    checker.shutdown()
    checker.awaitTermination(120, TimeUnit.SECONDS)
    if (server != null) server.stop()
  }

  def write(): Unit = {
    val root = mapper.createObjectNode()
    val m = root.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    root.put("attempted", attempted.get)
    root.put("failed", failed.get)
    val e = root.putArray("errors")
    errors.asScala.foreach(e.add)
    val cn = root.putObject("counts")
    counts.foreach { case (k, v) => cn.put(k, v) }
    root.replace("checks", checks)
    val oracles = root.putObject("oracle_sql")
    val sql = graft.SparkEntry.oracleSql
    checks.elements().asScala.map(_.get("name").asText()).toSeq.distinct
      .foreach(n => sql.get(n).foreach(oracles.put(n, _)))
    Files.writeString(Paths.get(s"${c.out}/result.json"), root.toString)
    if (c.trace) tracer.write(s"${c.out}/trace.json")
  }
}
