package graft.streaming

import graft.SparkSpec
import graft.model.QuadStore
import RspEngine._

/** Exact emission-sequence parity with the reference's streaming tests
  * (`kolibrie/tests/rsp_engine_test.rs`). */
class RspEngineSpec extends SparkSpec {

  private val itype = "http://test/IType"
  private def typeTriple(n: String) =
    (s"http://test/$n", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", itype)

  test("ISTREAM RANGE 3 STEP 1: firings emit exactly the new subject (rsp_engine_test.rs:10-103)") {
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER ISTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    Seq("subjectA" -> 1L, "subjectB" -> 2L, "subjectC" -> 3L, "subjectD" -> 4L)
      .foreach { case (n, ts) =>
        val (s, p, o) = typeTriple(n)
        e.add("stream", s, p, o, ts)
      }
    val got = e.emissions.map(_.rows.map(_("s")).toSet)
    assert(got == Seq(
      Set("http://test/subjectA"),
      Set("http://test/subjectB"),
      Set("http://test/subjectC")), s"got $got")
  }

  test("DSTREAM RANGE 3 STEP 1: single deletion emission (rsp_engine_test.rs:105-193)") {
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER DSTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    Seq("A" -> 1L, "B" -> 2L, "C" -> 3L, "D" -> 4L, "E" -> 5L, "F" -> 6L)
      .foreach { case (n, ts) =>
        val (s, p, o) = typeTriple(n); e.add("stream", s, p, o, ts)
      }
    val got = e.emissions.map(_.rows.map(_("s")).toSet)
    assert(got == Seq(Set("http://test/A")), s"got $got")
  }

  test("RSTREAM emits each firing's full relation") {
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out> AS SELECT *
      FROM NAMED WINDOW :w ON ?s [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    Seq("A" -> 1L, "B" -> 2L, "C" -> 3L).foreach { case (n, ts) =>
      val (s, p, o) = typeTriple(n); e.add("x", s, p, o, ts)
    }
    val got = e.emissions.map(_.rows.map(_("s")).toSet)
    assert(got == Seq(Set("http://test/A"), Set("http://test/A", "http://test/B")))
  }

  private def twoWindowEngine(policy: SyncPolicy): RspEngine =
    RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :windA ON :streamA [RANGE 10 ms STEP 2 ms]
      FROM NAMED WINDOW :windB ON :streamB [RANGE 10 ms STEP 2 ms]
      WHERE {
        WINDOW :windA { ?s1 a <http://test/TypeA> . }
        WINDOW :windB { ?s2 a <http://test/TypeB> . }
      }""", policy = Some(policy))

  private def addTyped(e: RspEngine, stream: String, n: String, tpe: String, ts: Long): Unit =
    e.add(stream, s"http://test/$n",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", s"http://test/$tpe", ts)

  test("Steal: no emission when the other window never fired (rsp_engine_test.rs:648-664)") {
    val e = twoWindowEngine(Steal)
    (0 until 5).foreach(i => addTyped(e, "streamA", s"a$i", "TypeA", i.toLong))
    assert(e.emissions.isEmpty)
  }

  test("Steal: stale results of B joined with fresh A firings (rsp_engine_test.rs:666-692)") {
    val e = twoWindowEngine(Steal)
    (0 until 3).foreach(i => addTyped(e, "streamB", s"b$i", "TypeB", i.toLong))
    (0 until 5).foreach(i => addTyped(e, "streamA", s"a$i", "TypeA", (i + 20).toLong))
    assert(e.emissions.nonEmpty)
    // joined rows carry variables from both windows
    val row = e.emissions.flatMap(_.rows).head
    assert(row.contains("s1") && row.contains("s2"))
  }

  test("Wait: only A fires → no emission (rsp_engine_test.rs:694-711)") {
    val e = twoWindowEngine(Wait)
    (0 until 5).foreach(i => addTyped(e, "streamA", s"a$i", "TypeA", i.toLong))
    assert(e.emissions.isEmpty)
  }

  test("WITH POLICY grammar: steal/wait/timeout with all duration forms (parser.rs:2677-2775)") {
    import graft.sparql.{Ast, SparqlParser}
    def policyOf(spec: String): Option[Ast.SyncPolicySpec] =
      SparqlParser().parseRsp(s"""
        REGISTER RSTREAM <http://out> AS SELECT *
        FROM NAMED WINDOW :w ON :s [RANGE 10 ms STEP 2 ms] $spec
        WHERE { WINDOW :w { ?s a <$itype> . } }""").policy
    assert(policyOf("") == None)
    assert(policyOf("WITH POLICY steal") == Some(Ast.StealPolicy))
    assert(policyOf("WITH POLICY wait") == Some(Ast.WaitPolicy))
    assert(policyOf("WITH POLICY (timeout=100ms, fallback=steal)") ==
      Some(Ast.TimeoutPolicy(100L, fallbackSteal = true)))
    assert(policyOf("WITH POLICY (timeout=5s, fallback=drop)") ==
      Some(Ast.TimeoutPolicy(5000L, fallbackSteal = false)))
    assert(policyOf("WITH POLICY (timeout=PT5M, fallback=drop)") ==
      Some(Ast.TimeoutPolicy(300000L, fallbackSteal = false)))
    assert(policyOf("WITH POLICY (timeout=7, fallback=steal)") ==
      Some(Ast.TimeoutPolicy(7000L, fallbackSteal = true)))
  }

  test("parsed WITH POLICY drives the engine (steal emits with cached windows)") {
    val e = RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :windA ON :streamA [RANGE 10 ms STEP 2 ms] WITH POLICY steal
      FROM NAMED WINDOW :windB ON :streamB [RANGE 10 ms STEP 2 ms]
      WHERE {
        WINDOW :windA { ?s1 a <http://test/TypeA> . }
        WINDOW :windB { ?s2 a <http://test/TypeB> . }
      }""")
    (0 until 3).foreach(i => addTyped(e, "streamB", s"b$i", "TypeB", i.toLong))
    (0 until 5).foreach(i => addTyped(e, "streamA", s"a$i", "TypeA", (i + 20).toLong))
    assert(e.emissions.nonEmpty) // Wait would stay silent; parsed Steal fires
  }

  test("Timeout within deadline behaves as Wait (rsp_engine_test.rs:713-760)") {
    // the reference's own SingleThread tests assert exactly this sequence:
    // only A fires, the deadline never passes → no emission
    val e = twoWindowEngine(Timeout(100, fallbackSteal = true))
    (0 until 5).foreach(i => addTyped(e, "streamA", s"a$i", "TypeA", i.toLong))
    assert(e.emissions.isEmpty)
  }

  test("Timeout/Steal: deadline expiry emits with cached other-window results (rsp_engine.rs:588-620)") {
    val e = twoWindowEngine(Timeout(100, fallbackSteal = true))
    // warm both caches with one full cycle (emits once under Wait readiness)
    (0 until 3).foreach { i =>
      addTyped(e, "streamA", s"a$i", "TypeA", i.toLong)
      addTyped(e, "streamB", s"b$i", "TypeB", i.toLong)
    }
    val warm = e.emissions.size
    assert(warm >= 1)
    // next cycle: only A fires (close=10, triggered at ts=11, content
    // includes aMid@9); B stays silent; the virtual clock passes the
    // 100 ms deadline → Steal emits fresh A joined with B's cached relation
    addTyped(e, "streamA", "aMid", "TypeA", 9L)
    addTyped(e, "streamA", "aTrig", "TypeA", 11L)
    assert(e.emissions.size == warm) // within deadline: still waiting
    e.advanceTime(200L)
    assert(e.emissions.size == warm + 1, s"got ${e.emissions.size} emissions")
    val row = e.emissions.last.rows.head
    assert(row.contains("s1") && row.contains("s2"))
    assert(e.emissions.last.rows.exists(_("s1") == "http://test/aMid"))
  }

  test("Timeout/Steal: no emission on expiry while some window never fired (rsp_engine.rs:593)") {
    val e = twoWindowEngine(Timeout(100, fallbackSteal = true))
    (0 until 5).foreach(i => addTyped(e, "streamA", s"a$i", "TypeA", i.toLong))
    e.advanceTime(500L) // deadline passes, but B has no cached result
    assert(e.emissions.isEmpty)
  }

  test("Timeout/Drop: deadline expiry discards the partial cycle (rsp_engine.rs:623-634)") {
    val e = twoWindowEngine(Timeout(100, fallbackSteal = false))
    (0 until 3).foreach { i =>
      addTyped(e, "streamA", s"a$i", "TypeA", i.toLong)
      addTyped(e, "streamB", s"b$i", "TypeB", i.toLong)
    }
    val warm = e.emissions.size
    assert(warm >= 1)
    addTyped(e, "streamA", "aLate", "TypeA", 11L)
    e.advanceTime(200L) // expiry: Drop discards even though B is cached
    assert(e.emissions.size == warm)
    // a later full cycle still emits normally (close=222 covers ts 221)
    addTyped(e, "streamA", "aNext", "TypeA", 221L)
    addTyped(e, "streamB", "bNext", "TypeB", 221L)
    addTyped(e, "streamA", "aFlush", "TypeA", 223L)
    addTyped(e, "streamB", "bFlush", "TypeB", 223L)
    assert(e.emissions.size > warm, "full cycle after a dropped cycle must emit")
  }

  test("live Structured Streaming feed reproduces the ISTREAM sequence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER ISTREAM <http://out/live> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3000 ms STEP 1000 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    val mem = MemoryStream[(String, Long, String, String, String)]
    val df = mem.toDF().toDF("stream", "secs", "s", "p", "o")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
    val q = e.runStream(df)
    try {
      mem.addData(("x", 1L, "http://test/subjectA",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", itype))
      q.processAllAvailable()
      mem.addData(("x", 2L, "http://test/subjectB",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", itype))
      mem.addData(("x", 3L, "http://test/subjectC",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", itype))
      q.processAllAvailable()
      val got = e.emissions.map(_.rows.map(_("s")).toSet)
      assert(got == Seq(Set("http://test/subjectA"), Set("http://test/subjectB")),
        s"got $got")
    } finally q.stop()
  }

  test("report strategies gate firings: NonEmptyContent and Periodic (s2r.rs:27-84)") {
    def engine(strategies: Seq[ReportStrategy]) = new RspEngine(spark,
      graft.sparql.SparqlParser().parseRsp(s"""
        REGISTER RSTREAM <http://out> AS SELECT *
        FROM NAMED WINDOW :w ON ?s [RANGE 2 ms STEP 1 ms]
        WHERE { WINDOW :w { ?s a <$itype> . } }"""),
      reportStrategies = strategies)
    // events only at ts 1 and 5: intermediate windows have empty content
    val e1 = engine(Seq(OnWindowClose, NonEmptyContent))
    Seq(1L, 5L, 6L, 7L).foreach { ts =>
      val (s, p, o) = typeTriple(s"s$ts"); e1.add("x", s, p, o, ts)
    }
    // every emission's firing had non-empty content
    assert(e1.emissions.nonEmpty)
    // Periodic(2): only every second firing reports
    val e2 = engine(Seq(Periodic(2)))
    Seq(1L, 2L, 3L, 4L, 5L).foreach { ts =>
      val (s, p, o) = typeTriple(s"s$ts"); e2.add("x", s, p, o, ts)
    }
    val all = engine(Seq(OnWindowClose))
    Seq(1L, 2L, 3L, 4L, 5L).foreach { ts =>
      val (s, p, o) = typeTriple(s"s$ts"); all.add("x", s, p, o, ts)
    }
    assert(e2.emissions.size < all.emissions.size)
  }

  test("tick strategies: TIME_DRIVEN accepted, TUPLE/BATCH_DRIVEN refuse typed (parser.rs:2655-2661, s2r.rs:246-264)") {
    def build(tick: String) = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out> AS SELECT *
      FROM NAMED WINDOW <w> ON ?s [RANGE 2 ms STEP 1 ms TICK $tick]
      WHERE { WINDOW <w> { ?s a <$itype> . } }""")
    // TIME_DRIVEN is the executing tick — accepted and fires normally
    val e = build("TIME_DRIVEN")
    Seq(1L, 2L, 3L).foreach { ts =>
      val (s, p, o) = typeTriple(s"s$ts"); e.add("x", s, p, o, ts)
    }
    assert(e.emissions.nonEmpty)
    // the reference PARSES these but its runtime no-ops them (the window
    // silently never fires); here the parse succeeds and the ENGINE
    // refuses with the unsupported category at construction
    Seq("TUPLE_DRIVEN", "BATCH_DRIVEN").foreach { t =>
      val err = intercept[UnsupportedOperationException] { build(t) }
      assert(err.getMessage.contains("TIME_DRIVEN"), err.getMessage)
    }
  }

  test("REPORT keyword in the window bracket lowers to engine strategies (rsp/builder.rs:259-265)") {
    // NON_EMPTY_CONTENT from the query text suppresses empty firings the
    // same way the programmatic reportStrategies parameter does
    def engine(reportClause: String) = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out> AS SELECT *
      FROM NAMED WINDOW <w> ON ?s [RANGE 2 ms STEP 1 ms$reportClause]
      WHERE { WINDOW <w> { ?s a <$itype> . } }""")
    val gated = engine(" REPORT NON_EMPTY_CONTENT")
    val open = engine("")
    Seq(1L, 5L, 6L, 7L).foreach { ts =>
      val (s, p, o) = typeTriple(s"s$ts")
      gated.add("x", s, p, o, ts); open.add("x", s, p, o, ts)
    }
    assert(gated.emissions.nonEmpty)
    assert(gated.emissions.size <= open.emissions.size)
    assert(gated.emissions.forall(_.rows.nonEmpty),
      "NON_EMPTY_CONTENT must suppress empty-content firings")
  }

  test("REPORT binds per window: one window's NON_EMPTY_CONTENT doesn't gate the other (rsp/builder.rs:259-273)") {
    // windB's NON_EMPTY_CONTENT is its own; windA (no REPORT) defaults to
    // OnWindowClose and must still fire on empty content — flattening all
    // brackets into one engine-global conjunctive list would suppress
    // windA's empty firing and Wait would never see a full cycle
    val e = RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out/stream> AS SELECT *
      FROM NAMED WINDOW :windA ON :streamA [RANGE 2 ms STEP 2 ms]
      FROM NAMED WINDOW :windB ON :streamB [RANGE 2 ms STEP 2 ms REPORT NON_EMPTY_CONTENT]
      WHERE {
        WINDOW :windA { ?s1 a <http://test/TypeA> . }
        WINDOW :windB { ?s2 a <http://test/TypeB> . }
      }""", policy = Some(Wait))
    addTyped(e, "streamA", "a0", "TypeA", 0L)
    addTyped(e, "streamB", "b1", "TypeB", 3L)
    // B fires close 4 with {b1} (non-empty, passes its own gate)
    addTyped(e, "streamB", "b2", "TypeB", 5L)
    // A fires close 4 with empty content — its own default passes
    addTyped(e, "streamA", "a1", "TypeA", 5L)
    assert(e.emissions.nonEmpty,
      "windA's OnWindowClose default must not be gated by windB's NON_EMPTY_CONTENT")
  }

  test("ON_CONTENT_CHANGE hashes per window: interleaved firings of the other window don't reset it") {
    // windA repeats empty content across two firings with windB firing
    // non-empty content in between; a single engine-global lastContentHash
    // would read A's repeat as \"changed\" and spuriously fire it
    val e = RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out/stream> AS SELECT *
      FROM NAMED WINDOW :windA ON :streamA [RANGE 4 ms STEP 2 ms REPORT ON_CONTENT_CHANGE]
      FROM NAMED WINDOW :windB ON :streamB [RANGE 4 ms STEP 2 ms]
      WHERE {
        WINDOW :windA { ?s1 a <http://test/TypeA> . }
        WINDOW :windB { ?s2 a <http://test/TypeB> . }
      }""", policy = Some(Steal))
    addTyped(e, "streamA", "a0", "TypeA", 1L)
    addTyped(e, "streamB", "b0", "TypeB", 1L)
    addTyped(e, "streamA", "a1", "TypeA", 3L)  // A fires close 2: {a0} — changed
    addTyped(e, "streamB", "b1", "TypeB", 3L)  // B fires close 2: {b0} → emission (close 2)
    addTyped(e, "streamA", "a2", "TypeA", 20L) // A fires close 18: empty — changed → emission
    addTyped(e, "streamB", "b2", "TypeB", 22L) // B fires close 20: empty → emission
    addTyped(e, "streamB", "b3", "TypeB", 24L) // B fires close 22: {b2} → emission
    addTyped(e, "streamA", "a3", "TypeA", 30L) // A fires close 28: empty — UNCHANGED for A → suppressed
    assert(e.emissions.size == 4, s"got closes ${e.emissions.map(_.windowClose)}")
    assert(e.emissions.last.windowClose == 22L,
      "A's repeated empty content must be suppressed by ITS OWN hash, " +
      "not compared against B's interleaved firings")
  }

  test("probabilistic input: one stable seed per arrival, pre-fanout (rsp_engine.rs:960-998)") {
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out> AS SELECT *
      FROM NAMED WINDOW :w ON ?s [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    val (s1, p1, o1) = typeTriple("probA")
    val id1 = e.addProbabilistic("x", s1, p1, o1, 1L, 0.8)
    val id2 = e.addProbabilistic("x", s1, p1, o1, 2L, 0.9) // same triple, new arrival
    assert(id1 != id2)
    assert(e.seeds.map(_.seedId).distinct.size == 2)
    assert(e.seeds.find(_.seedId == id1).get.probability == 0.8)
    // the arrival at ts=1 appears in several overlapping windows, but its
    // seed was allocated once before fanout — the log holds exactly 2
    assert(e.seeds.size == 2)
  }

  test("probabilistic seeds flow into PROB rules: kinds, window scoping, hybrid eval") {
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out> AS SELECT *
      FROM NAMED WINDOW :w ON ?s [RANGE 10 ms STEP 10 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    // two mutually exclusive observations (group 3) plus an independent one
    e.addProbabilistic("x", "r1", "obs", "hot", 1L, 0.3, group = Some(3L))
    e.addProbabilistic("x", "r1", "obs", "warm", 2L, 0.4, group = Some(3L))
    e.addProbabilistic("x", "r1", "powered", "on", 3L, 0.9)
    e.addProbabilistic("x", "r1", "obs", "hot", 42L, 0.5) // outside the window
    assert(e.seeds.count(_.group.contains(3L)) == 2)
    val sd = e.seedsFrame(0L, 10L)
    assert(sd.count() == 3)
    val rule1 = graft.sparql.SparqlParser().parseRule(
      """RULE <r/a1> PROB(provenance=hybrid, threshold=0.5) :-
         CONSTRUCT { ?x <alarm> "on" } WHERE { ?x <obs> "hot" . ?x <powered> "on" }""")
    val rule2 = graft.sparql.SparqlParser().parseRule(
      """RULE <r/a2> PROB(provenance=hybrid, threshold=0.5) :-
         CONSTRUCT { ?x <alarm> "on" } WHERE { ?x <obs> "warm" . ?x <powered> "on" }""")
    val tagged = graft.prob.ProbReasoner.lineageSeeds(sd)
    val reasoner = new graft.reasoner.AnnotatedReasoner(spark, graft.prob.Lineage.semiring(9))
    val merged = reasoner.merge(
      reasoner.applyRule(tagged, rule1), reasoner.applyRule(tagged, rule2))
    val out = merged.withColumn("h", graft.prob.ProbReasoner.hybridEvalColumn(
        org.apache.spark.sql.functions.col("tag"),
        graft.sparql.Ast.ProbAnnotation("hybrid", Some(0.5)), 0.5))
      .select("h.value", "h.status").collect().head
    // exclusive pair gated by the independent seed: 0.9 · (0.3 + 0.4)
    assert(out.getAs[String]("status") == "Exact")
    assert(math.abs(out.getAs[Double]("value") - 0.9 * 0.7) < 1e-9)
  }

  test("cross-window SDS+ mode: N3 rules across two windows with per-window expiry (CityBench shape)") {
    // the reference's cross_window_rules path (rsp_engine.rs:1213-1268 +
    // benches/citybench_cross_window_compare.rs): traffic (α = RANGE 120)
    // and parking (α = 180) windows, congestion derived only while BOTH
    // supports live; window blocks re-evaluate over the materialized facts
    val rulesN3 = """
      @prefix traffic: <http://cb/traffic/> .
      @prefix parking: <http://cb/parking/> .
      @prefix result: <http://cb/result/> .
      { ?road traffic:avgSpeed ?speed . ?lot parking:nearRoad ?road . ?lot parking:occupancy ?occupancy } => { ?road result:congested <true> }
    """
    val e = RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out/cb> AS
      SELECT *
      FROM NAMED WINDOW <http://cb/traffic/> ON :traffic [RANGE 120 ms STEP 60 ms]
      FROM NAMED WINDOW <http://cb/parking/> ON :parking [RANGE 180 ms STEP 60 ms]
      WHERE {
        WINDOW <http://cb/traffic/> { ?road <http://cb/result/congested> <true> . }
        WINDOW <http://cb/parking/> { ?lot <http://cb/parking/nearRoad> ?road . }
      }""", crossWindow = Some(RspEngine.CrossWindow(rulesN3)))
    e.add("traffic", "road1", "http://cb/traffic/avgSpeed", "12", 10L)
    e.add("parking", "lotA", "http://cb/parking/nearRoad", "road1", 20L)
    e.add("parking", "lotA", "http://cb/parking/occupancy", "0.9", 30L)
    // ts 70 fires close 60 on both windows → cycle completes → emission
    e.add("traffic", "road1", "http://cb/traffic/tick", "x", 70L)
    e.add("parking", "lotA", "http://cb/parking/tick", "x", 70L)
    assert(e.emissions.size == 1, s"got ${e.emissions}")
    val rows = e.emissions.head.rows
    assert(rows == Seq(Map("road" -> "road1", "lot" -> "lotA")), s"got $rows")

    // ts 190 fires close 180: the traffic support (expiry 10+120=130) is
    // dead, parking (20+180=200) lives → congested NO LONGER derivable
    e.add("traffic", "road1", "http://cb/traffic/tick", "y", 190L)
    e.add("parking", "lotA", "http://cb/parking/tick", "y", 190L)
    assert(e.emissions.size == 2, s"got ${e.emissions}")
    assert(e.emissions.last.rows.isEmpty,
      s"expired support still derives: ${e.emissions.last.rows}")
  }

  test("cross-window mode under Steal: a lone firing joins the other window's cached raw content") {
    val rulesN3 = """
      @prefix traffic: <http://cb/traffic/> .
      @prefix parking: <http://cb/parking/> .
      @prefix result: <http://cb/result/> .
      { ?road traffic:avgSpeed ?speed . ?lot parking:nearRoad ?road . ?lot parking:occupancy ?occupancy } => { ?road result:congested <true> }
    """
    val e = RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out/cbsteal> AS
      SELECT *
      FROM NAMED WINDOW <http://cb/traffic/> ON :traffic [RANGE 120 ms STEP 60 ms]
      FROM NAMED WINDOW <http://cb/parking/> ON :parking [RANGE 180 ms STEP 60 ms]
      WHERE {
        WINDOW <http://cb/traffic/> { ?road <http://cb/result/congested> <true> . }
        WINDOW <http://cb/parking/> { ?lot <http://cb/parking/nearRoad> ?road . }
      }""", policy = Some(Steal), crossWindow = Some(RspEngine.CrossWindow(rulesN3)))
    e.add("traffic", "road1", "http://cb/traffic/avgSpeed", "12", 10L)
    e.add("parking", "lotA", "http://cb/parking/nearRoad", "road1", 20L)
    e.add("parking", "lotA", "http://cb/parking/occupancy", "0.9", 30L)
    e.add("traffic", "road1", "http://cb/traffic/tick", "x", 70L)
    e.add("parking", "lotA", "http://cb/parking/tick", "x", 70L)
    val warm = e.emissions.size
    assert(warm >= 1)
    // only traffic fires close 120 (ts 121): Steal joins parking's CACHED
    // raw content; all supports still live at 120 → congestion holds
    e.add("traffic", "road1", "http://cb/traffic/avgSpeed", "11", 115L)
    e.add("traffic", "road1", "http://cb/traffic/tick", "y", 121L)
    assert(e.emissions.size > warm, s"Steal emission missing: ${e.emissions}")
    assert(e.emissions.last.rows.exists(r =>
      r.get("road").contains("road1") && r.get("lot").contains("lotA")),
      s"got ${e.emissions.last.rows}")
  }

  test("static join: static patterns visible outside window blocks only (rsp_engine_test.rs:576-646,1018)") {
    val static = QuadStore.fromTriples(spark, Seq(
      ("http://test/sensor1", "http://test/inRoom", "http://test/room42"),
      ("http://test/sensor2", "http://test/inRoom", "http://test/room13")))
    val e = RspEngineBuilder.fromQuery(spark, """
      REGISTER RSTREAM <http://out> AS
      SELECT *
      FROM NAMED WINDOW :w ON :stream [RANGE 5 ms STEP 1 ms]
      WHERE {
        WINDOW :w { ?sensor a <http://test/Reading> . }
        ?sensor <http://test/inRoom> ?room
      }""", staticStore = Some(static))
    e.add("stream", "http://test/sensor1",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://test/Reading", 1L)
    e.add("stream", "http://test/other",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://test/Reading", 2L)
    assert(e.emissions.nonEmpty)
    val rows = e.emissions.head.rows
    // sensor1 joins to room42; 'other' has no static room → filtered out
    assert(rows == Seq(Map("sensor" -> "http://test/sensor1", "room" -> "http://test/room42")))
    // static triples alone never satisfy the WINDOW block
    assert(!e.emissions.flatMap(_.rows).exists(_.get("sensor").contains("http://test/sensor2")))
  }

  test("http_rsp_smoke query: firings over local window content run no Spark job") {
    val step = 3600000L
    val range = 7200000L
    // 3 events per tick, one tick each 15 minutes over 12 hours; every
    // third event a purchase
    val events = (0 until 48).flatMap { t =>
      val ts = 1700000000000L + t * 900000L + 7L
      (0 until 3).map { k =>
        val n = t * 3 + k
        (ts, s"event/$n", s"user/${n % 5}", if (n % 3 == 0) "purchase" else "view")
      }
    }
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out/windowed> AS
      SELECT *
      FROM NAMED WINDOW :w ON :events [RANGE $range ms STEP $step ms]
        WITH POLICY steal
      WHERE { WINDOW :w { ?e <ev/user> ?u . ?e <ev/type> "purchase" . } }""")
    // the firings run on this thread: its job group scopes the count to
    // them, whatever else runs on the shared SparkContext
    val sc = spark.sparkContext
    val group = "rsp-engine-spec-firings"
    val marker = "rsp-engine-spec-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (props.exists(_.getProperty("spark.job.description") == marker)) markerSeen = true
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, null)
    try {
      events.foreach { case (ts, ev, u, ty) =>
        e.add("events", ev, "ev/user", u, ts)
        e.add("events", ev, "ev/type", ty, ts)
      }
      // listener events arrive in order: once the marker job is seen,
      // every job the firings started has been counted
      sc.setJobGroup(group, marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the same firing rule, evaluated directly over the feed
    val firstTs = events.head._1
    var lastFired = Option.empty[Long]
    val expected = events.map(_._1).distinct.flatMap { t =>
      val c = DistributedRsp.maxCloseLong(t, step)
      if (c >= firstTs && lastFired.forall(c > _)) {
        lastFired = Some(c)
        Some(c -> events.filter { case (ts, _, _, ty) =>
          ts >= c - range && ts <= c && ty == "purchase"
        }.map { case (_, ev, u, _) => Map("e" -> ev, "u" -> u) }.toSet)
      } else None
    }
    assert(expected.size >= 10)
    assert(e.emissions.map(em => em.windowClose -> em.rows.toSet) == expected)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs over ${expected.size} firings")
  }
}
