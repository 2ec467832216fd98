package graft.streaming

import graft.SparkSpec
import graft.sparql.SparqlParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed RSP data plane must reproduce the driver engine's
  * emission walkthroughs (themselves matched to
  * `kolibrie/tests/rsp_engine_test.rs:10-193`) — first in batch form,
  * then through the live streaming path (MemoryStream → stateless window
  * explode → stream-stream BGP join → fired-close gating →
  * transformWithState incremental R2S). */
class DistributedRspSpec extends SparkSpec {
  import spark.implicits._

  private val itype = "http://test/IType"
  private val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  private def istreamQuery = SparqlParser().parseRsp(s"""
    REGISTER ISTREAM <http://out/stream> AS
    SELECT *
    FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
    WHERE { WINDOW :w { ?s a <$itype> . } }""")

  private def dstreamQuery = SparqlParser().parseRsp(s"""
    REGISTER DSTREAM <http://out/stream> AS
    SELECT *
    FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
    WHERE { WINDOW :w { ?s a <$itype> . } }""")

  private def feed(names: (String, Long)*): DataFrame =
    names.map { case (n, ts) => ("stream", ts, s"http://test/$n", rdfType, itype) }
      .toDF("stream", "ts", "s", "p", "o")

  /** Collect (close → set of ?s) from a distributed emission DF. */
  private def byClose(df: DataFrame): Map[Long, Set[String]] =
    df.collect().map(r => r.getAs[Long]("close") -> r.getAs[String]("s"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("batch ISTREAM walkthrough matches the engine (rsp_engine_test.rs:10-103)") {
    val events = feed("subjectA" -> 1L, "subjectB" -> 2L, "subjectC" -> 3L,
      "subjectD" -> 4L)
    val got = byClose(new DistributedRsp(spark, istreamQuery).emissions(events))
    assert(got == Map(
      1L -> Set("http://test/subjectA"),
      2L -> Set("http://test/subjectB"),
      3L -> Set("http://test/subjectC")), s"got $got")
  }

  test("batch DSTREAM walkthrough matches the engine (rsp_engine_test.rs:105-193)") {
    val events = feed("A" -> 1L, "B" -> 2L, "C" -> 3L, "D" -> 4L, "E" -> 5L,
      "F" -> 6L)
    val got = byClose(new DistributedRsp(spark, dstreamQuery).emissions(events))
    assert(got == Map(5L -> Set("http://test/A")), s"got $got")
  }

  test("batch diffs run against the previous FIRED close on sparse streams") {
    // events at ts 1,2 then a jump to 9: the engine fires closes {1, 8}
    // (max-closing per advance skips 2..7) and ISTREAM diffs 8 against 1.
    // B@2 is in the close-1 window? no — content(1) = ts∈[-2,1] = {A};
    // content(8) = ts∈[5,8] = {} … use overlapping arrivals instead:
    val events = feed("A" -> 1L, "B" -> 2L, "C" -> 9L, "D" -> 10L)
    val e = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER ISTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""")
    Seq(("A", 1L), ("B", 2L), ("C", 9L), ("D", 10L)).foreach { case (n, ts) =>
      e.add("stream", s"http://test/$n", rdfType, itype, ts)
    }
    val engineGot = e.emissions
      .map(em => em.windowClose -> em.rows.map(_("s")).toSet).toMap
    val got = byClose(new DistributedRsp(spark, istreamQuery).emissions(events))
    assert(got == engineGot, s"distributed $got vs engine $engineGot")
  }

  test("multi-window RSTREAM joins aligned closes across windows") {
    // two same-spec windows on different streams; the distributed plane
    // joins their relations on (close, shared vars) — aligned-close Wait
    val q = SparqlParser().parseRsp(s"""
      REGISTER RSTREAM <http://out/multi> AS
      SELECT *
      FROM NAMED WINDOW :wa ON :streamA [RANGE 3 ms STEP 1 ms]
      FROM NAMED WINDOW :wb ON :streamB [RANGE 3 ms STEP 1 ms]
      WHERE {
        WINDOW :wa { ?s1 a <http://test/TypeA> . }
        WINDOW :wb { ?s2 a <http://test/TypeB> . }
      }""")
    val events = Seq(
      ("streamA", 1L, "http://test/a1", rdfType, "http://test/TypeA"),
      ("streamB", 1L, "http://test/b1", rdfType, "http://test/TypeB"),
      ("streamA", 2L, "http://test/a2", rdfType, "http://test/TypeA"),
      ("streamB", 2L, "http://test/b2", rdfType, "http://test/TypeB"))
      .toDF("stream", "ts", "s", "p", "o")
    val rows = new DistributedRsp(spark, q).emissions(events).collect()
      .map(r => (r.getAs[Long]("close"), r.getAs[String]("s1"), r.getAs[String]("s2")))
    // close 1 fired on both sides (trigger ts=2): cross of {a1}×{b1}
    assert(rows.toSet == Set((1L, "http://test/a1", "http://test/b1")), s"got ${rows.toSet}")
  }

  test("plane posture: no driver-side relation rebuild in the physical plan") {
    // the whole point of the distributed plane: the oracle entry's plan
    // must be scans + exchanges + joins — no LocalTableScan / parallelize
    // artifacts of a collect-and-rebuild coordinator
    val df = graft.SparkEntry.queries("stream_window_bgp")(spark, sf("sf0.001"))
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("LocalTableScan") && !p.contains("Scan ExistingRDD"),
      s"driver-side relation rebuild in plan:\n$p")
    assert(p.contains("Join"), s"no join in plan:\n$p")
  }

  test("plane posture: per-window top-k is one partitioned rank, no driver rebuild") {
    val df = graft.SparkEntry.queries("stream_window_topk")(spark, sf("sf0.001"))
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("LocalTableScan") && !p.contains("Scan ExistingRDD"),
      s"driver-side relation rebuild in plan:\n$p")
    // the subselect's LIMIT compiles to a close-partitioned Window
    // (row_number), never a global Sort+Limit that would funnel all
    // closes through one partition
    assert(p.contains("Window"), s"no window operator in plan:\n$p")
    assert(!p.contains("GlobalLimit"), s"global limit leaked into plan:\n$p")
  }

  test("distributed R2R rule enrichment matches the engine's per-window materialization") {
    // rule: every typed subject gets an <enriched> marker; the WINDOW
    // block queries the DERIVED predicate, so emissions exist only if
    // enrichment ran inside the window scope
    val rule = SparqlParser().parseRule(s"""
      RULE <r/mark> :- CONSTRUCT { ?x <http://test/enriched> "yes" }
      WHERE { ?x a <$itype> }""")
    val qText = s"""
      REGISTER RSTREAM <http://out/enriched> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s <http://test/enriched> "yes" . } }"""
    val engine = RspEngineBuilder.fromQuery(spark, qText, rules = Seq(rule))
    Seq(("A", 1L), ("B", 2L), ("C", 3L)).foreach { case (n, ts) =>
      engine.add("stream", s"http://test/$n", rdfType, itype, ts)
    }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(_("s")).toSet).toMap
    val events = feed("A" -> 1L, "B" -> 2L, "C" -> 3L)
    val got = byClose(new DistributedRsp(spark,
      SparqlParser().parseRsp(qText), rules = Seq(rule)).emissions(events))
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
  }

  test("enrichment fixpoint is close-scoped: recursive closure stays inside each window") {
    // ancestor closure over parent edges; window RANGE 2 STEP 1 — an edge
    // outside a close's window must not contribute to that close's closure
    val rules = Seq(
      SparqlParser().parseRule("""RULE <r/b> :- CONSTRUCT { ?x <anc> ?y }
        WHERE { ?x <parent> ?y }"""),
      SparqlParser().parseRule("""RULE <r/s> :- CONSTRUCT { ?x <anc> ?z }
        WHERE { ?x <parent> ?y . ?y <anc> ?z }"""))
    val q = SparqlParser().parseRsp("""
      REGISTER RSTREAM <http://out/anc> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 2 ms STEP 1 ms]
      WHERE { WINDOW :w { ?a <anc> ?d . } }""")
    // chain a→b (ts1), b→c (ts2), c→d (ts3): the RANGE-2 window at close 3
    // holds edges ts∈[1,3] = all three → closure includes a→d there; the
    // window at close 2 holds ts∈[0,2] = a→b, b→c only → a→c but no a→d
    val events = Seq(
      ("stream", 1L, "a", "parent", "b"),
      ("stream", 2L, "b", "parent", "c"),
      ("stream", 3L, "c", "parent", "d"),
      ("stream", 4L, "x", "parent", "x2")) // trigger for close 3
      .toDF("stream", "ts", "s", "p", "o")
    val rel = new DistributedRsp(spark, q, rules = rules).emissions(events)
      .collect().map(r => (r.getAs[Long]("close"),
        r.getAs[String]("a"), r.getAs[String]("d"))).toSet
    assert(rel.contains((3L, "a", "d")), s"missing full-window closure in $rel")
    assert(!rel.contains((2L, "a", "d")), s"closure leaked across windows in $rel")
    assert(rel.contains((2L, "a", "c")), s"missing partial closure in $rel")
  }

  test("FILTER in WINDOW block matches the engine (batch)") {
    val qText = """
      REGISTER RSTREAM <http://out/f> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s <val> ?v . FILTER(?v > 10) } }"""
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    val data = Seq(("a", "5", 1L), ("b", "15", 2L), ("c", "25", 3L), ("d", "7", 4L))
    data.foreach { case (n, v, ts) => engine.add("stream", n, "val", v, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("s"), r("v"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (n, v, ts) => ("stream", ts, n, "val", v) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> ((r.getAs[String]("s"), r.getAs[String]("v"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
  }

  test("aggregate WINDOW block groups per close and matches the engine (batch)") {
    val qText = """
      REGISTER RSTREAM <http://out/agg> AS
      SELECT ?u (COUNT(?e) AS ?n)
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . } }
      GROUP BY ?u"""
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    val data = Seq(("e1", "alice", 1L), ("e2", "alice", 2L), ("e3", "bob", 2L),
      ("e4", "alice", 4L))
    data.foreach { case (e, u, ts) => engine.add("stream", e, "by", u, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("u"), r("n"))).toSet).toMap
    val events = data.map { case (e, u, ts) => ("stream", ts, e, "by", u) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("u"), r.getAs[Long]("n").toString)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
  }

  test("FILTER and per-close aggregate run on the live streaming plane") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      def runTriples(qText: String,
          batches: Seq[Seq[(Long, String, String, String)]]): Seq[Map[String, String]] = {
        val mem = MemoryStream[(String, Long, String, String, String)]
        val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
          .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
        val sink = s"dist_rsp_fx_${System.nanoTime()}"
        val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
          .streamEmissions(events)
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        try {
          batches.foreach { b =>
            mem.addData(b.map { case (ts, s, p, o) => ("stream", ts, s, p, o) })
            sq.processAllAvailable()
          }
          spark.table(sink).collect().map { r =>
            r.getAs[Map[String, String]]("binding") +
              ("close" -> r.getAs[Long]("close").toString)
          }.toSeq
        } finally sq.stop()
      }

      // FILTER: only values > 10 pass; close 1 and 2 fire
      val fGot = runTriples("""
        REGISTER RSTREAM <http://out/f> AS
        SELECT *
        FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
        WHERE { WINDOW :w { ?s <val> ?v . FILTER(?v > 10) } }""",
        Seq(Seq((1L, "a", "val", "5"), (2L, "b", "val", "15")),
          Seq((4L, "c", "val", "25"))))
      assert(fGot.forall(b => b("v").toDouble > 10), s"filter leaked: $fGot")
      assert(fGot.exists(_("s") == "b"), s"missing passing binding: $fGot")
      assert(!fGot.exists(_("s") == "a"), s"failing binding emitted: $fGot")

      // aggregate: COUNT per (close, user) — append-mode agg on the
      // watermarked closeTs key; a far-future event flushes the watermark
      val aGot = runTriples("""
        REGISTER RSTREAM <http://out/agg> AS
        SELECT ?u (COUNT(?e) AS ?n)
        FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
        WHERE { WINDOW :w { ?e <by> ?u . } }
        GROUP BY ?u""",
        Seq(Seq((1L, "e1", "by", "alice"), (2L, "e2", "by", "alice"),
            (2L, "e3", "by", "bob")),
          // ts 3 fires close 2 (maxClose(3) = 2); ts 100 flushes the
          // watermark so the append-mode aggregation finalizes
          Seq((3L, "e4", "by", "carol"), (100L, "eZ", "by", "zz"))))
      // close 2 window [-1, 2] holds e1+e2 (alice) and e3 (bob)
      val atClose2 = aGot.filter(_("close") == "2").map(b => b("u") -> b("n")).toMap
      assert(atClose2 == Map("alice" -> "2", "bob" -> "1"), s"got $aGot")
    }
  }

  test("same-variable UNION in WINDOW block matches the engine (batch + streaming)") {
    // alternative predicates binding the same vars — the UNION shape the
    // plane compiles; a purchase OR a refund event both produce (?e, ?u)
    val qText = """
      REGISTER RSTREAM <http://out/u> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        { ?e <purchase/by> ?u . } UNION { ?e <refund/by> ?u . }
      } }"""
    val data = Seq(("e1", "purchase/by", "alice", 1L), ("e2", "refund/by", "bob", 2L),
      ("e3", "view/by", "carol", 2L), ("e4", "purchase/by", "dave", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (e, p, u, ts) => engine.add("stream", e, p, u, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("e"), r("u"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (e, p, u, ts) => ("stream", ts, e, p, u) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> ((r.getAs[String]("e"), r.getAs[String]("u"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")

    // mixed-variable branches null-pad the unbound var (r6; was a loud
    // refusal) — engine parity on the padded shape
    val mixedText = """
      REGISTER RSTREAM <http://out/u2> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { { ?e <purchase/by> ?u . } UNION { ?e <view/by> ?item . } } }"""
    val engine2 = RspEngineBuilder.fromQuery(spark, mixedText)
    data.foreach { case (e, p, u, ts) => engine2.add("stream", e, p, u, ts) }
    val engineGot2 = engine2.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("e"), r.get("u"), r.get("item"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val got2 = new DistributedRsp(spark, SparqlParser().parseRsp(mixedText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), Option(r.getAs[String]("u")),
          Option(r.getAs[String]("item")))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got2 == engineGot2 && got2.nonEmpty,
      s"distributed $got2 vs engine $engineGot2")

    // the same union through the live streaming plane
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"union_win_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (e, p, u, ts) => ("stream", ts, e, p, u) })
        sq.processAllAvailable()
        val sGot = spark.table(sink).collect()
          .map { r =>
            val b = r.getAs[Map[String, String]]("binding")
            r.getAs[Long]("close") -> ((b("e"), b("u")))
          }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        assert(sGot == engineGot, s"streaming $sGot vs engine $engineGot")
      } finally sq.stop()
    }
  }

  test("trailing OPTIONAL in WINDOW block matches the engine (batch + streaming)") {
    val qText = """
      REGISTER RSTREAM <http://out/opt> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . OPTIONAL { ?e <tag> ?t } } }"""
    val data = Seq(("e1", "by", "alice", 1L), ("e1", "tag", "vip", 1L),
      ("e2", "by", "bob", 2L), ("e3", "by", "carol", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("e"), r("u"), r.get("t"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), r.getAs[String]("u"), Option(r.getAs[String]("t")))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // both bound and unbound ?t appear somewhere in the run
    val flat = got.values.flatten.toSet
    assert(flat.exists(_._3.isDefined) && flat.exists(_._3.isEmpty), s"vacuous: $flat")

    // the same OPTIONAL through the live streaming plane (stream-stream
    // left_outer join keyed on the watermarked closeTs)
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"opt_win_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
        sq.processAllAvailable()
        // a far-future tick flushes the watermark so outer-join nulls emit
        mem.addData(Seq(("stream", 1000L, "zz", "by", "zz")))
        sq.processAllAvailable()
        val sGot = spark.table(sink).collect()
          .map { r =>
            val b = r.getAs[Map[String, String]]("binding")
            r.getAs[Long]("close") -> ((b("e"), b("u"), b.get("t")))
          }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .filter { case (c, _) => engineGot.contains(c) }
        assert(sGot == engineGot, s"streaming $sGot vs engine $engineGot")
      } finally sq.stop()
    }
  }

  test("nested OPTIONAL in WINDOW block matches the engine (batch)") {
    // OPTIONAL inside OPTIONAL: ?t may bind without ?l, ?l only with ?t
    val qText = """
      REGISTER RSTREAM <http://out/nopt> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        ?e <by> ?u . OPTIONAL { ?e <tag> ?t OPTIONAL { ?e <lvl> ?l } } } }"""
    val data = Seq(
      ("e1", "by", "alice", 1L), ("e1", "tag", "vip", 1L), ("e1", "lvl", "9", 1L),
      ("e2", "by", "bob", 2L), ("e2", "tag", "std", 2L),
      ("e3", "by", "carol", 4L), ("e4", "by", "dan", 6L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("e"), r("u"), r.get("t"), r.get("l"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), r.getAs[String]("u"),
          Option(r.getAs[String]("t")), Option(r.getAs[String]("l")))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // all three binding shapes occur: (t,l), (t,-), (-,-)
    val flat = got.values.flatten.toSet
    assert(flat.exists(r => r._3.isDefined && r._4.isDefined), s"no (t,l): $flat")
    assert(flat.exists(r => r._3.isDefined && r._4.isEmpty), s"no (t,-): $flat")
    assert(flat.exists(r => r._3.isEmpty && r._4.isEmpty), s"no (-,-): $flat")
  }

  test("pattern after OPTIONAL joins UNDEF-tolerantly and matches the engine (batch)") {
    // { A . OPTIONAL { B } . C } where C shares the OPTIONAL's ?f:
    // a row with unbound ?f is compatible with every C row (engine.rs:
    // 1137-1160 compat semantics) and takes C's binding
    val qText = """
      REGISTER RSTREAM <http://out/postopt> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        ?e <by> ?u . OPTIONAL { ?e <friend> ?f } ?f <kind> ?k } }"""
    val data = Seq(
      ("e1", "by", "alice", 1L), ("e1", "friend", "fred", 1L),
      ("fred", "kind", "dog", 1L), ("gil", "kind", "cat", 1L),
      ("e2", "by", "bob", 2L), ("e3", "by", "carol", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("e"), r("u"), r.get("f"), r.get("k"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), r.getAs[String]("u"),
          Option(r.getAs[String]("f")), Option(r.getAs[String]("k")))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // e1 (f bound to fred) joins only fred's kind; e2 (f unbound) joins both
    val flat = got.values.flatten.toSet
    assert(flat.exists(r => r._1 == "e1" && r._3.contains("fred") && r._4.contains("dog")))
    assert(flat.count(_._1 == "e2") >= 2, s"unbound ?f did not fan out: $flat")
  }

  test("HAVING and per-close top-k on the main RSP SELECT match the engine (batch)") {
    // HAVING with a synthetic aggregate (COUNT not projected) per close
    val qHaving = """
      REGISTER RSTREAM <http://out/hav> AS
      SELECT ?u (SUM(?v) AS ?sv)
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . ?e <val> ?v . } }
      GROUP BY ?u HAVING(COUNT(?e) >= 2)"""
    val data = Seq(
      ("e1", "by", "alice", 1L), ("e1", "val", "10", 1L),
      ("e2", "by", "alice", 2L), ("e2", "val", "5", 2L),
      ("e3", "by", "bob", 2L), ("e3", "val", "7", 2L),
      ("e4", "by", "alice", 4L), ("e4", "val", "2", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qHaving)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("u"), r("sv"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qHaving))
      .emissions(events).withColumn("sv", col("sv").cast("string")).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("u"), r.getAs[String]("sv"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // bob (1 event per close) never passes the COUNT >= 2 constraint
    assert(!got.values.flatten.exists(_._1 == "bob"), s"HAVING leaked: $got")

    // top-1 user by summed value per close on the main SELECT
    val qTopk = """
      REGISTER RSTREAM <http://out/havk> AS
      SELECT ?u (SUM(?v) AS ?sv)
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . ?e <val> ?v . } }
      GROUP BY ?u ORDER BY DESC(?sv) ?u LIMIT 1"""
    val engine2 = RspEngineBuilder.fromQuery(spark, qTopk)
    data.foreach { case (s, p, o, ts) => engine2.add("stream", s, p, o, ts) }
    val engineGot2 = engine2.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("u"), r("sv"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val got2 = new DistributedRsp(spark, SparqlParser().parseRsp(qTopk))
      .emissions(events).withColumn("sv", col("sv").cast("string")).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("u"), r.getAs[String]("sv"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got2 == engineGot2 && got2.nonEmpty, s"distributed $got2 vs engine $engineGot2")
    assert(got2.values.forall(_.size == 1), s"LIMIT 1 leaked: $got2")
  }

  test("property paths in WINDOW blocks match the engine (batch)") {
    // seq + inverse: from type value to user through the shared event
    val qSeq = """
      REGISTER RSTREAM <http://out/pathseq> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?t (^<type>/<by>) ?u . } }"""
    val data = Seq(
      ("e1", "type", "buy", 1L), ("e1", "by", "alice", 1L),
      ("e2", "type", "view", 2L), ("e2", "by", "bob", 2L))
    val engine = RspEngineBuilder.fromQuery(spark, qSeq)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("t"), r("u"))).toSet)
      .toMap.filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qSeq))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> ((r.getAs[String]("t"), r.getAs[String]("u"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")

    // transitive +: per-close closure over a follows-chain
    val qPlus = """
      REGISTER RSTREAM <http://out/pathplus> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { <a> <f>+ ?x . } }"""
    val chain = Seq(
      ("a", "f", "b", 1L), ("b", "f", "c", 1L), ("c", "f", "d", 2L))
    val engine2 = RspEngineBuilder.fromQuery(spark, qPlus)
    chain.foreach { case (s, p, o, ts) => engine2.add("stream", s, p, o, ts) }
    val engineGot2 = engine2.emissions
      .map(em => em.windowClose -> em.rows.map(_("x")).toSet)
      .toMap.filter(_._2.nonEmpty)
    val events2 = chain.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got2 = new DistributedRsp(spark, SparqlParser().parseRsp(qPlus))
      .emissions(events2).collect()
      .map(r => r.getAs[Long]("close") -> r.getAs[String]("x"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got2 == engineGot2 && got2.nonEmpty,
      s"distributed $got2 vs engine $engineGot2")
    // multi-hop reach: c is 2 hops from a — only the closure finds it
    assert(got2.values.exists(_.contains("c")), s"closure incomplete: $got2")
  }

  test("ORDER BY on a variable the SELECT drops still ranks correctly (engine parity)") {
    // regression: finalizePerClose used to project BEFORE ranking, so a
    // non-projected sort key became a constant null and LIMIT kept an
    // arbitrary row
    val qText = """
      REGISTER RSTREAM <http://out/dropkey> AS
      SELECT ?u
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . ?e <val> ?v . } }
      ORDER BY DESC(?v) ?u LIMIT 1"""
    val data = Seq(
      ("e1", "by", "alice", 1L), ("e1", "val", "10", 1L),
      ("e2", "by", "bob", 1L), ("e2", "val", "99", 1L),
      ("e3", "by", "carol", 2L), ("e3", "val", "5", 2L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(_("u")).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> r.getAs[String]("u"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // bob (val 99) must win every close he appears in
    assert(got.filter(_._2.contains("bob")).nonEmpty, s"wrong winner: $got")

    // OFFSET without ORDER BY in a subselect is refused loudly now
    val ex = intercept[IllegalArgumentException] {
      new DistributedRsp(spark, SparqlParser().parseRsp("""
        REGISTER RSTREAM <http://out/offs> AS
        SELECT *
        FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
        WHERE { WINDOW :w { { SELECT ?e WHERE { ?e <by> ?u } OFFSET 2 } } }"""))
        .emissions(events).collect()
    }
    assert(ex.getMessage.contains("OFFSET"), ex.getMessage)
  }

  test("equal-step Wait with DIVERGENT fired sequences follows the cycle orbit (engine parity)") {
    // regression: equal steps used to take the aligned equi-join, which
    // silently emitted only the closes BOTH sparse streams fired
    val qText = """
      REGISTER RSTREAM <http://out/sparsewait> AS
      SELECT *
      FROM NAMED WINDOW :wa ON :streamA [RANGE 6 ms STEP 2 ms]
      FROM NAMED WINDOW :wb ON :streamB [RANGE 6 ms STEP 2 ms]
      WHERE {
        WINDOW :wa { ?a <p> ?x . }
        WINDOW :wb { ?b <p> ?y . }
      }"""
    // A fires {0, 4}, B fires {0, 2}: beyond the shared (empty-content)
    // close 0, the Wait cycle completes at 4 with A fresh and B cached —
    // a close the aligned equi-join would never produce
    val data = Seq(
      ("streamA", 1L, "a1", "p", "v1"), ("streamB", 2L, "b1", "p", "w1"),
      ("streamB", 4L, "b2", "p", "w2"), ("streamA", 6L, "a2", "p", "v2"))
    val eng2 = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (st, ts, s, p, o) => eng2.add(st, s, p, o, ts) }
    val engineGot = eng2.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("a"), r("b"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> ((r.getAs[String]("a"), r.getAs[String]("b"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot, s"distributed $got vs engine $engineGot")
    assert(got.nonEmpty, "aligned equi-join would have emitted nothing here")
  }

  test("global aggregate with inline-aggregate HAVING survives empty firings") {
    // regression: the zero-row union used to filter with the RAW HAVING
    // condition (COUNT un-rewritten) and crashed batch emissions
    val qText = """
      REGISTER RSTREAM <http://out/zerohav> AS
      SELECT (SUM(?v) AS ?s)
      FROM NAMED WINDOW :w ON ?stream [RANGE 2 ms STEP 2 ms]
      WHERE { WINDOW :w { ?e <flag> ?v . } }
      HAVING(COUNT(?e) >= 1)"""
    val data = (Seq(("e1", "flag", "3", 1L)) ++
      (1L to 6L).map(t => (s"t$t", "tick", "x", t))).sortBy(_._4)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).withColumn("s", col("s").cast("string")).collect()
      .map(r => r.getAs[Long]("close") -> r.getAs[String]("s"))
      .toMap
    // the HAVING (COUNT >= 1) filters the zero row OUT: only closes with
    // a flag match emit; no crash, no zero-count rows
    assert(got.nonEmpty && got.values.forall(_ == "3.0"), s"got $got")
  }

  test("multi-window Wait with one silent window emits nothing (no orbit crash)") {
    // regression: the adaptive orbit fast path crashed on an empty
    // fired-close sequence (head of empty array)
    val q = SparqlParser().parseRsp("""
      REGISTER RSTREAM <http://out/silent> AS
      SELECT *
      FROM NAMED WINDOW :wa ON :streamA [RANGE 3 ms STEP 1 ms]
      FROM NAMED WINDOW :wb ON :streamB [RANGE 4 ms STEP 2 ms]
      WHERE {
        WINDOW :wa { ?a <p> ?x . }
        WINDOW :wb { ?b <p> ?y . }
      }""")
    val events = Seq(("streamA", 1L, "a1", "p", "v1"), ("streamA", 2L, "a2", "p", "v2"))
      .toDF("stream", "ts", "s", "p", "o")
    assert(new DistributedRsp(spark, q).emissions(events).collect().isEmpty)
  }

  test("BIND and VALUES in WINDOW blocks match the engine (batch)") {
    // BIND extends each row; VALUES constrains via inline data with an
    // UNDEF wildcard row — both previously engine-only block elements
    val qText = """
      REGISTER RSTREAM <http://out/bv> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        ?e <by> ?u .
        BIND(CONCAT(?u, "!") AS ?loud)
        VALUES (?u) { ("alice") ("bob") }
      } }"""
    val data = Seq(("e1", "by", "alice", 1L), ("e2", "by", "bob", 2L),
      ("e3", "by", "carol", 2L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("e"), r("u"), r("loud"))).toSet)
      .toMap.filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), r.getAs[String]("u"), r.getAs[String]("loud"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // carol filtered by VALUES; BIND visible
    assert(!got.values.flatten.exists(_._2 == "carol"), s"VALUES leaked: $got")
    assert(got.values.flatten.exists(_._3 == "alice!"), s"BIND missing: $got")

    // live plane: BIND is a narrow projection, VALUES a stream-static join
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"bv_stream_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 100L, "eZ", "by", "alice")))
        sq.processAllAvailable()
        val streamGot = spark.table(sink).collect().map { r =>
          val b = r.getAs[Map[String, String]]("binding")
          r.getAs[Long]("close") -> ((b("e"), b("u"), b("loud")))
        }.toSet.filterNot(_._2._1 == "eZ")
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        assert(streamGot == engineGot, s"streaming $streamGot vs engine $engineGot")
      } finally sq.stop()
    }
  }

  test("empty firings emit one zero row under a GLOBAL aggregate (engine parity)") {
    // every close fires (a <tick> event exists), but only some closes
    // contain <flag> matches — the global COUNT must emit n=0 rows at
    // the others, exactly like the engine (previously the class-doc
    // "empty firings" caveat; grouped aggregates stay no-rows)
    val qText = """
      REGISTER RSTREAM <http://out/zero> AS
      SELECT (COUNT(?e) AS ?n)
      FROM NAMED WINDOW :w ON ?stream [RANGE 2 ms STEP 2 ms]
      WHERE { WINDOW :w { ?e <flag> ?v . } }"""
    // ticks fire every close; flags exist only near the start, so later
    // windows contain tick triples but zero BGP matches (fed in ts order —
    // the engine is arrival-order driven and drops late events)
    val data = (Seq(("e1", "flag", "a", 1L), ("e2", "flag", "b", 2L)) ++
      (1L to 8L).map(t => (s"t$t", "tick", "x", t))).sortBy(_._4)
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(_("n")).toSet).toMap
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).withColumn("n", col("n").cast("string")).collect()
      .map(r => r.getAs[Long]("close") -> r.getAs[String]("n"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    assert(got.values.exists(_ == Set("0")), s"no zero-count emission in $got")

    // live plane: the fired-close sentinel arms a zero-fill stage
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"zero_stream_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 100L, "tZ", "tick", "x")))
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 200L, "tY", "tick", "x")))
        sq.processAllAvailable()
        val streamGot = spark.table(sink).collect().map { r =>
          r.getAs[Long]("close") -> r.getAs[Map[String, String]]("binding")("n")
        }.toMap.view.filterKeys(engineGot.contains)
          .mapValues(Set(_)).toMap
        assert(streamGot == engineGot, s"streaming $streamGot vs engine $engineGot")
      } finally sq.stop()
    }
  }

  test("HAVING on the live streaming plane filters finalized aggregates (engine parity)") {
    // same query/data as the batch HAVING test above, through MemoryStream:
    // the HAVING condition (with its synthetic COUNT) is a stateless
    // filter over the append-mode aggregation's finalized rows
    val qHaving = """
      REGISTER RSTREAM <http://out/havs> AS
      SELECT ?u (SUM(?v) AS ?sv)
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . ?e <val> ?v . } }
      GROUP BY ?u HAVING(COUNT(?e) >= 2)"""
    val data = Seq(
      ("e1", "by", "alice", 1L), ("e1", "val", "10", 1L),
      ("e2", "by", "alice", 2L), ("e2", "val", "5", 2L),
      ("e3", "by", "bob", 2L), ("e3", "val", "7", 2L),
      ("e4", "by", "alice", 4L), ("e4", "val", "2", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qHaving)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("u"), r("sv"))).toSet).toMap
      .filter(_._2.nonEmpty)
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"having_stream_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qHaving))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 100L, "eZ", "by", "zz"),
          ("stream", 100L, "eZ", "val", "1"))) // flush watermark
        sq.processAllAvailable()
        val got = spark.table(sink).collect().map { r =>
          val b = r.getAs[Map[String, String]]("binding")
          r.getAs[Long]("close") -> ((b("u"), b("sv")))
        }.filterNot(_._2._1 == "zz")
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        assert(got == engineGot && got.nonEmpty, s"streaming $got vs engine $engineGot")
        assert(!got.values.flatten.exists(_._1 == "bob"), s"HAVING leaked: $got")
      } finally sq.stop()
    }
  }

  test("per-close ORDER BY + LIMIT on the live streaming plane ranks each close (engine parity)") {
    // top-1 user by summed value per close: the rank runs in a
    // close-keyed transformWithState stage once the watermark completes
    // the close (no window functions exist on unbounded streams)
    val qTopk = """
      REGISTER RSTREAM <http://out/topks> AS
      SELECT ?u (SUM(?v) AS ?sv)
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . ?e <val> ?v . } }
      GROUP BY ?u ORDER BY DESC(?sv) ?u LIMIT 1"""
    val data = Seq(
      ("e1", "by", "alice", 1L), ("e1", "val", "10", 1L),
      ("e2", "by", "alice", 2L), ("e2", "val", "5", 2L),
      ("e3", "by", "bob", 2L), ("e3", "val", "7", 2L),
      ("e4", "by", "alice", 4L), ("e4", "val", "2", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qTopk)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("u"), r("sv"))).toSet).toMap
      .filter(_._2.nonEmpty)
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"topk_stream_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qTopk))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 200L, "eZ", "by", "zz"),
          ("stream", 200L, "eZ", "val", "1"))) // flush watermark twice over
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 300L, "eY", "by", "yy"),
          ("stream", 300L, "eY", "val", "1")))
        sq.processAllAvailable()
        val got = spark.table(sink).collect().map { r =>
          val b = r.getAs[Map[String, String]]("binding")
          r.getAs[Long]("close") -> ((b("u"), b("sv")))
        }.filterNot(p => p._2._1 == "zz" || p._2._1 == "yy")
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        assert(got == engineGot && got.nonEmpty, s"streaming $got vs engine $engineGot")
        assert(got.values.forall(_.size == 1), s"LIMIT 1 leaked: $got")
      } finally sq.stop()
    }
  }

  test("per-close subselect top-k joins the outer pattern and matches the engine (batch)") {
    // { SELECT … ORDER BY DESC LIMIT 2 } inside a WINDOW block: the
    // CityBench per-window top-k, compiled as ONE row_number over the
    // close partition — previously a loud refusal
    val qText = """
      REGISTER RSTREAM <http://out/topk> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        { SELECT ?e ?v WHERE { ?e <val> ?v } ORDER BY DESC(?v) LIMIT 2 }
        ?e <by> ?u .
      } }"""
    val data = Seq(
      ("e1", "val", "10", 1L), ("e1", "by", "alice", 1L),
      ("e2", "val", "40", 2L), ("e2", "by", "bob", 2L),
      ("e3", "val", "20", 3L), ("e3", "by", "carol", 3L),
      ("e4", "val", "30", 4L), ("e4", "by", "dan", 4L),
      ("e5", "val", "50", 5L), ("e5", "by", "eve", 5L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("e"), r("v"), r("u"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), r.getAs[String]("v"), r.getAs[String]("u"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // at every close at most 2 rows survive, and they are that close's max values
    assert(got.values.forall(_.size <= 2), s"top-k leaked: $got")
    // LIMIT without ORDER BY is refused loudly, not silently arbitrary
    val bad = SparqlParser().parseRsp("""
      REGISTER RSTREAM <http://out/badk> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { { SELECT ?e WHERE { ?e <val> ?v } LIMIT 1 } } }""")
    val ex = intercept[IllegalArgumentException] {
      new DistributedRsp(spark, bad).emissions(events).collect()
    }
    assert(ex.getMessage.contains("nondeterministic"), ex.getMessage)

    // HAVING inside a WINDOW-block subselect (synthetic COUNT rewrite)
    val qHav = """
      REGISTER RSTREAM <http://out/subhav> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        { SELECT ?u (SUM(?v) AS ?sv) WHERE { ?e <by> ?u . ?e <val> ?v }
          GROUP BY ?u HAVING(COUNT(?e) >= 2) }
      } }"""
    val dataH = Seq(
      ("e1", "by", "ann", 1L), ("e1", "val", "10", 1L),
      ("e2", "by", "ann", 2L), ("e2", "val", "5", 2L),
      ("e3", "by", "bo", 2L), ("e3", "val", "7", 2L),
      ("e4", "by", "cy", 4L), ("e4", "val", "1", 4L))
    val engineH = RspEngineBuilder.fromQuery(spark, qHav)
    dataH.foreach { case (s, p, o, ts) => engineH.add("stream", s, p, o, ts) }
    val engineGotH = engineH.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("u"), r("sv"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val eventsH = dataH.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val gotH = new DistributedRsp(spark, SparqlParser().parseRsp(qHav))
      .emissions(eventsH).withColumn("sv", col("sv").cast("string")).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("u"), r.getAs[String]("sv"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(gotH == engineGotH && gotH.nonEmpty,
      s"distributed $gotH vs engine $engineGotH")
    assert(!gotH.values.flatten.exists(_._1 == "bo"), s"subselect HAVING leaked: $gotH")
  }

  test("mixed-variable UNION branches null-pad and match the engine (batch)") {
    // left branch binds (?e ?u), right binds (?e ?v): the union pads the
    // other branch's var with UNDEF — previously a loud refusal
    val qText = """
      REGISTER RSTREAM <http://out/mvu> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w {
        { ?e <by> ?u . } UNION { ?e <val> ?v . }
      } }"""
    val data = Seq(("e1", "by", "alice", 1L), ("e2", "val", "42", 1L),
      ("e3", "by", "bob", 2L), ("e4", "val", "7", 4L), ("e5", "by", "carol", 6L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("e"), r.get("u"), r.get("v"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("e"), Option(r.getAs[String]("u")),
          Option(r.getAs[String]("v")))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    val flat = got.values.flatten.toSet
    assert(flat.exists(_._2.isDefined) && flat.exists(_._3.isDefined), s"vacuous: $flat")
  }

  test("multi-window unequal-step ISTREAM Wait cycles match the engine") {
    // wa steps 2 ms, wb steps 3 ms: cycles complete at the laggard's
    // close (3, 6, 9, 12), the other window contributing its latest
    // fired close — previously a loud single-window-only refusal
    val qText = """
      REGISTER ISTREAM <http://out/mw> AS
      SELECT *
      FROM NAMED WINDOW :wa ON :streamA [RANGE 4 ms STEP 2 ms]
      FROM NAMED WINDOW :wb ON :streamB [RANGE 6 ms STEP 3 ms]
      WHERE {
        WINDOW :wa { ?a <who> ?u . }
        WINDOW :wb { ?b <who> ?u . }
      }"""
    val feed = Seq( // (stream, subject, user, ts) — ts strictly interleaved
      ("streamA", "a1", "u1", 1L), ("streamB", "b2", "u1", 2L),
      ("streamA", "a3", "u1", 3L), ("streamB", "b4", "u2", 4L),
      ("streamA", "a5", "u2", 5L), ("streamA", "a7", "u1", 7L),
      ("streamB", "b8", "u1", 8L), ("streamA", "a9", "u1", 9L),
      ("streamB", "b10", "u1", 10L), ("streamA", "a11", "u2", 11L),
      ("streamA", "a13", "u1", 13L), ("streamB", "b14", "u1", 14L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    feed.foreach { case (st, s, u, ts) => engine.add(st, s, "who", u, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose ->
        em.rows.map(r => (r("a"), r("b"), r("u"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = feed.map { case (st, s, u, ts) => (st, ts, s, "who", u) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") ->
        ((r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[String]("u"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // the emission schedule is wb's close sequence, not the aligned grid
    assert(got.keySet.exists(c => c % 2 != 0), s"only aligned closes emitted: ${got.keySet}")
  }

  test("trailing MINUS in WINDOW block matches the engine on batch AND live streaming planes") {
    val qText = """
      REGISTER RSTREAM <http://out/m> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . MINUS { ?e <void> ?x } } }"""
    val data = Seq(("e1", "by", "alice", 1L), ("e1", "void", "y", 1L),
      ("e2", "by", "bob", 2L), ("e3", "by", "carol", 4L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (s, p, o, ts) => engine.add("stream", s, p, o, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(r => (r("e"), r("u"))).toSet).toMap
      .filter(_._2.nonEmpty)
    val events = data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) }
      .toDF("stream", "ts", "s", "p", "o")
    val rsp = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
    val got = rsp.emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> ((r.getAs[String]("e"), r.getAs[String]("u"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
    // e1 is voided out of every close it appears in
    assert(!got.values.flatten.exists(_._1 == "e1"), s"MINUS leaked: $got")

    // live streaming plane: the anti join is emulated as a watermarked
    // left_outer + null-marker filter (r6; was a loud refusal)
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"minus_stream_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (s, p, o, ts) => ("stream", ts, s, p, o) })
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 100L, "eZ", "by", "zz"))) // flush watermark
        sq.processAllAvailable()
        val streamGot = spark.table(sink).collect().map { r =>
          val b = r.getAs[Map[String, String]]("binding")
          r.getAs[Long]("close") -> ((b("e"), b("u")))
        }.toSet.filterNot(_._2._1 == "eZ")
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        assert(streamGot == engineGot, s"streaming $streamGot vs engine $engineGot")
      } finally sq.stop()
    }
  }

  test("ISTREAM over a streaming aggregate chains two stateful operators and matches the engine") {
    // append-mode aggregation (grouped on the watermarked closeTs key)
    // feeding transformWithState — Spark 4 multi-stateful chaining; the
    // incremental diff then runs on aggregated rows, like the engine's
    // R2S over finalized emissions
    val qText = """
      REGISTER ISTREAM <http://out/aggi> AS
      SELECT ?u (COUNT(?e) AS ?n)
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . } }
      GROUP BY ?u"""
    val data = Seq(("e1", "alice", 1L), ("e2", "alice", 2L), ("e3", "bob", 2L),
      ("e4", "carol", 3L))
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    data.foreach { case (e, u, ts) => engine.add("stream", e, "by", u, ts) }
    val engineGot = engine.emissions
      .flatMap(em => em.rows.map(r => (em.windowClose, r("u"), r("n")))).toSet
    assert(engineGot.nonEmpty)
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"agg_istream_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
        .streamEmissions(events)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(data.map { case (e, u, ts) => ("stream", ts, e, "by", u) })
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 100L, "eZ", "by", "zz"))) // flush watermark
        sq.processAllAvailable()
        val got = spark.table(sink).collect().map { r =>
          val b = r.getAs[Map[String, String]]("binding")
          (r.getAs[Long]("close"), b("u"), b("n"))
        }.toSet.filterNot(_._2 == "zz")
        assert(got == engineGot, s"streaming $got vs engine $engineGot")
      } finally sq.stop()
    }
  }

  test("projection + DISTINCT on the plane matches the engine (batch)") {
    // two events share a user in one window: SELECT DISTINCT ?u collapses them
    val qText = """
      REGISTER RSTREAM <http://out/proj> AS
      SELECT DISTINCT ?u
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?e <by> ?u . } }"""
    val engine = RspEngineBuilder.fromQuery(spark, qText)
    val data = Seq(("e1", "alice", 1L), ("e2", "alice", 2L), ("e3", "bob", 2L),
      ("e4", "bob", 4L))
    data.foreach { case (e, u, ts) => engine.add("stream", e, "by", u, ts) }
    val engineGot = engine.emissions
      .map(em => em.windowClose -> em.rows.map(_("u")).toSet).toMap
    val events = data.map { case (e, u, ts) => ("stream", ts, e, "by", u) }
      .toDF("stream", "ts", "s", "p", "o")
    val got = new DistributedRsp(spark, SparqlParser().parseRsp(qText))
      .emissions(events).collect()
      .map(r => r.getAs[Long]("close") -> r.getAs[String]("u"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == engineGot && got.nonEmpty, s"distributed $got vs engine $engineGot")
  }

  test("streaming multi-window Wait joins aligned closes across window streams") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val q = SparqlParser().parseRsp(s"""
        REGISTER RSTREAM <http://out/multi> AS
        SELECT *
        FROM NAMED WINDOW :wa ON :streamA [RANGE 3 ms STEP 1 ms]
        FROM NAMED WINDOW :wb ON :streamB [RANGE 3 ms STEP 1 ms]
        WHERE {
          WINDOW :wa { ?s1 a <http://test/TypeA> . }
          WINDOW :wb { ?s2 a <http://test/TypeB> . }
        }""")
      val events = Seq(
        ("streamA", 1L, "http://test/a1", rdfType, "http://test/TypeA"),
        ("streamB", 1L, "http://test/b1", rdfType, "http://test/TypeB"),
        ("streamA", 2L, "http://test/a2", rdfType, "http://test/TypeA"),
        ("streamB", 2L, "http://test/b2", rdfType, "http://test/TypeB"))
        .toDF("stream", "ts", "s", "p", "o")
      // batch emissions are the oracle (themselves engine-parity-specced)
      val want = new DistributedRsp(spark, q).emissions(events).collect()
        .map(r => (r.getAs[Long]("close"), r.getAs[String]("s1"), r.getAs[String]("s2")))
        .toSet
      assert(want.nonEmpty)
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"multi_win_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, q).streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(Seq(
          ("streamA", 1L, "http://test/a1", rdfType, "http://test/TypeA"),
          ("streamB", 1L, "http://test/b1", rdfType, "http://test/TypeB")))
        sq.processAllAvailable()
        mem.addData(Seq(
          ("streamA", 2L, "http://test/a2", rdfType, "http://test/TypeA"),
          ("streamB", 2L, "http://test/b2", rdfType, "http://test/TypeB")))
        sq.processAllAvailable()
        val got = spark.table(sink).collect().map { r =>
          val b = r.getAs[Map[String, String]]("binding")
          (r.getAs[Long]("close"), b("s1"), b("s2"))
        }.toSet
        assert(got == want, s"streaming $got vs batch $want")
      } finally sq.stop()
    }
  }

  // ---- Steal / Timeout / static join: the engine walkthroughs through
  // the distributed path (VERDICT r4 item 2) -------------------------------

  private def twoWindowQuery(policyClause: String) = SparqlParser().parseRsp(s"""
    REGISTER RSTREAM <http://out/stream> AS
    SELECT *
    FROM NAMED WINDOW :windA ON :streamA [RANGE 10 ms STEP 2 ms] $policyClause
    FROM NAMED WINDOW :windB ON :streamB [RANGE 10 ms STEP 2 ms]
    WHERE {
      WINDOW :windA { ?s1 a <http://test/TypeA> . }
      WINDOW :windB { ?s2 a <http://test/TypeB> . }
    }""")

  private def typedEvents(rows: (String, String, String, Long)*): DataFrame =
    rows.map { case (stream, n, tpe, ts) =>
      (stream, ts, s"http://test/$n", rdfType, s"http://test/$tpe")
    }.toDF("stream", "ts", "s", "p", "o")

  private def pairs(df: DataFrame): Set[(Long, String, String)] =
    df.collect().map(r => (r.getAs[Long]("close"),
      r.getAs[String]("s1"), r.getAs[String]("s2"))).toSet

  test("Steal: no emission when the other window never fired (rsp_engine_test.rs:648-664)") {
    val events = typedEvents((0 until 5).map(i => ("streamA", s"a$i", "TypeA", i.toLong)): _*)
    val got = new DistributedRsp(spark, twoWindowQuery("WITH POLICY steal")).emissions(events)
    assert(got.isEmpty)
  }

  test("Steal: stale B joined with fresh A matches the engine (rsp_engine_test.rs:666-692)") {
    val feed = (0 until 3).map(i => ("streamB", s"b$i", "TypeB", i.toLong)) ++
      (0 until 5).map(i => ("streamA", s"a$i", "TypeA", (i + 20).toLong))
    val engine = RspEngineBuilder.fromQuery(spark, s"""
      REGISTER RSTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :windA ON :streamA [RANGE 10 ms STEP 2 ms] WITH POLICY steal
      FROM NAMED WINDOW :windB ON :streamB [RANGE 10 ms STEP 2 ms]
      WHERE {
        WINDOW :windA { ?s1 a <http://test/TypeA> . }
        WINDOW :windB { ?s2 a <http://test/TypeB> . }
      }""")
    feed.foreach { case (stream, n, tpe, ts) =>
      engine.add(stream, s"http://test/$n", rdfType, s"http://test/$tpe", ts)
    }
    val want = engine.emissions.flatMap(em =>
      em.rows.map(r => (em.windowClose, r("s1"), r("s2")))).toSet
    assert(want.nonEmpty)
    val got = pairs(new DistributedRsp(spark, twoWindowQuery("WITH POLICY steal"))
      .emissions(typedEvents(feed: _*)))
    assert(got == want, s"distributed $got vs engine $want")
  }

  test("Timeout within deadline behaves as Wait (rsp_engine_test.rs:713-760)") {
    val events = typedEvents((0 until 5).map(i => ("streamA", s"a$i", "TypeA", i.toLong)): _*)
    val q = twoWindowQuery("WITH POLICY (timeout=100ms, fallback=steal)")
    assert(new DistributedRsp(spark, q).emissions(events).isEmpty)
    // even an explicit clock tick past every deadline: B never fired →
    // the warm gate keeps the partial cycles silent (rsp_engine.rs:593)
    assert(new DistributedRsp(spark, q).emissions(events, Some(500L)).isEmpty)
  }

  test("Timeout/Steal: deadline expiry emits with cached other-window results (rsp_engine.rs:588-620)") {
    val q = twoWindowQuery("WITH POLICY (timeout=100ms, fallback=steal)")
    val warm = (0 until 3).flatMap(i => Seq(
      ("streamA", s"a$i", "TypeA", i.toLong), ("streamB", s"b$i", "TypeB", i.toLong)))
    val feed = warm ++ Seq(("streamA", "aMid", "TypeA", 9L), ("streamA", "aTrig", "TypeA", 11L))
    // within the deadline (no advance): only the warm cycle's emissions
    val within = pairs(new DistributedRsp(spark, q).emissions(typedEvents(feed: _*)))
    assert(!within.exists(_._2 == "http://test/aMid"), s"early emission: $within")
    // clock advanced past trigger(11) + 100: the partial close-10 cycle
    // expires and Steal joins fresh A (incl. aMid@9) with B's cached rows
    val after = pairs(new DistributedRsp(spark, q).emissions(typedEvents(feed: _*), Some(200L)))
    assert((after -- within).nonEmpty, "expiry added no emission")
    assert(after.exists(p => p._2 == "http://test/aMid" && p._3.startsWith("http://test/b")),
      s"missing aMid steal join: $after")
  }

  test("Timeout/Drop: expiry discards the partial cycle; later full cycles emit (rsp_engine.rs:623-634)") {
    val q = twoWindowQuery("WITH POLICY (timeout=100ms, fallback=drop)")
    val warm = (0 until 3).flatMap(i => Seq(
      ("streamA", s"a$i", "TypeA", i.toLong), ("streamB", s"b$i", "TypeB", i.toLong)))
    val feed = warm ++ Seq(("streamA", "aLate", "TypeA", 11L),
      ("streamA", "aNext", "TypeA", 221L), ("streamB", "bNext", "TypeB", 221L),
      ("streamA", "aFlush", "TypeA", 223L), ("streamB", "bFlush", "TypeB", 223L))
    val got = pairs(new DistributedRsp(spark, q).emissions(typedEvents(feed: _*), Some(10000L)))
    // the partial close-10 cycle was dropped (no aLate-only join) …
    assert(!got.exists(p => p._2 == "http://test/aLate" && p._1 == 10L), s"dropped cycle leaked: $got")
    // … while the later complete cycle emits normally
    assert(got.exists(p => p._2 == "http://test/aNext" && p._3 == "http://test/bNext"),
      s"full cycle after drop missing: $got")
  }

  test("static join: static patterns visible outside window blocks only (rsp_engine_test.rs:576-646)") {
    val static = graft.model.QuadStore.fromTriples(spark, Seq(
      ("http://test/sensor1", "http://test/inRoom", "http://test/room42"),
      ("http://test/sensor2", "http://test/inRoom", "http://test/room13")))
    val q = SparqlParser().parseRsp("""
      REGISTER RSTREAM <http://out> AS
      SELECT *
      FROM NAMED WINDOW :w ON :stream [RANGE 5 ms STEP 1 ms]
      WHERE {
        WINDOW :w { ?sensor a <http://test/Reading> . }
        ?sensor <http://test/inRoom> ?room
      }""")
    val events = Seq(
      ("stream", 1L, "http://test/sensor1", rdfType, "http://test/Reading"),
      ("stream", 2L, "http://test/other", rdfType, "http://test/Reading"))
      .toDF("stream", "ts", "s", "p", "o")
    val rows = new DistributedRsp(spark, q, staticStore = Some(static))
      .emissions(events).collect()
      .map(r => (r.getAs[String]("sensor"), r.getAs[String]("room"))).toSet
    // sensor1 joins to room42; 'other' has no static row → filtered out;
    // sensor2's static triple alone never satisfies the WINDOW block
    assert(rows == Set(("http://test/sensor1", "http://test/room42")), s"got $rows")

    // streaming path: the same static join as a stream × broadcast join
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val stream = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"static_join_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, q, staticStore = Some(static))
        .streamEmissions(stream)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(Seq(
          ("stream", 1L, "http://test/sensor1", rdfType, "http://test/Reading"),
          ("stream", 2L, "http://test/other", rdfType, "http://test/Reading")))
        sq.processAllAvailable()
        val sRows = spark.table(sink).collect()
          .map(r => r.getAs[Map[String, String]]("binding"))
          .map(b => (b("sensor"), b("room"))).toSet
        assert(sRows == Set(("http://test/sensor1", "http://test/room42")), s"got $sRows")
      } finally sq.stop()
    }
  }

  test("rule-chain depth: 2-chain auto-unrolls, cyclic set is refused on the stream path") {
    val chain = Seq(
      SparqlParser().parseRule("""RULE <r/1> :- CONSTRUCT { ?x <q> ?y }
        WHERE { ?x <p> ?y }"""),
      SparqlParser().parseRule("""RULE <r/2> :- CONSTRUCT { ?x <r> ?y }
        WHERE { ?x <q> ?y }"""))
    assert(DistributedRsp.ruleChainDepth(chain) == Some(2))
    val cyclic = Seq(
      SparqlParser().parseRule("""RULE <r/c> :- CONSTRUCT { ?x <anc> ?z }
        WHERE { ?x <anc> ?y . ?y <anc> ?z }"""))
    assert(DistributedRsp.ruleChainDepth(cyclic).isEmpty)

    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val qText = """
        REGISTER RSTREAM <http://out/chain> AS
        SELECT *
        FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
        WHERE { WINDOW :w { ?a <r> ?b . } }"""
      val mem = MemoryStream[(String, Long, String, String, String)]
      val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      // 2-chain: default (auto) derives through BOTH rules — <p> feeds <q>
      // feeds the queried <r>
      val sink = s"chain_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, SparqlParser().parseRsp(qText),
          rules = chain).streamEmissions(events)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(Seq(("stream", 1L, "x", "p", "y")))
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 4L, "z", "p", "w")))
        sq.processAllAvailable()
        val rows = spark.table(sink).collect()
          .map(r => r.getAs[Map[String, String]]("binding"))
        assert(rows.exists(b => b.get("a").contains("x") && b.get("b").contains("y")),
          s"2-chain derivation missing: ${rows.toSeq}")
      } finally sq.stop()

      // cyclic: the plane must refuse instead of silently under-deriving
      val cyclicQ = """
        REGISTER RSTREAM <http://out/cyc> AS
        SELECT *
        FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
        WHERE { WINDOW :w { ?a <anc> ?b . } }"""
      val ex = intercept[IllegalArgumentException] {
        new DistributedRsp(spark, SparqlParser().parseRsp(cyclicQ),
          rules = cyclic).streamRelation(events)
      }
      assert(ex.getMessage.contains("recursive"))
      // explicit opt-in to a bounded unroll still compiles
      new DistributedRsp(spark, SparqlParser().parseRsp(cyclicQ),
        rules = cyclic, streamEnrichRounds = Some(3)).streamRelation(events)
    }
  }

  test("sparse fired-close sequences are detected and counted, not silent") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Long, String, String, String)]
      val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val rsp = new DistributedRsp(spark, istreamQuery)
      val sink = s"sparse_${System.nanoTime()}"
      val sq = rsp.streamEmissions(events)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        // closes 1, 2 fire densely; the jump to ts 9/10 fires close 8, 9 —
        // skipping 3..7 (the sparse condition the diff planes disagree on)
        mem.addData(Seq(("stream", 1L, "http://test/A", rdfType, itype),
          ("stream", 2L, "http://test/B", rdfType, itype)))
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 9L, "http://test/C", rdfType, itype),
          ("stream", 10L, "http://test/D", rdfType, itype)))
        sq.processAllAvailable()
        assert(rsp.sparseTickCounter.value >= 1L,
          s"sparse tick not detected (counter=${rsp.sparseTickCounter.value})")
      } finally sq.stop()
    }
  }

  private def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def runStreamCase(queryText: String,
      batches: Seq[Seq[(String, Long)]]): Map[Long, Set[String]] = withRocksDb {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val q = SparqlParser().parseRsp(queryText)
    val mem = MemoryStream[(String, Long, String, String, String)]
    // no watermark here: streamRelation defines the query watermark on
    // closeTs internally (Spark forbids redefining along one lineage)
    val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
      .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
    val sink = s"dist_rsp_${System.nanoTime()}"
    val sq = new DistributedRsp(spark, q).streamEmissions(events)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      batches.foreach { b =>
        mem.addData(b.map { case (n, ts) =>
          ("stream", ts, s"http://test/$n", rdfType, itype) })
        sq.processAllAvailable()
      }
      spark.table(sink).collect()
        .map(r => r.getAs[Long]("close") -> r.getAs[Map[String, String]]("binding")("s"))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    } finally sq.stop()
  }

  test("streaming ISTREAM walkthrough through transformWithState matches the engine") {
    val got = runStreamCase(s"""
      REGISTER ISTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""",
      Seq(Seq("subjectA" -> 1L), Seq("subjectB" -> 2L), Seq("subjectC" -> 3L),
        Seq("subjectD" -> 4L)))
    assert(got == Map(
      1L -> Set("http://test/subjectA"),
      2L -> Set("http://test/subjectB"),
      3L -> Set("http://test/subjectC")), s"got $got")
  }

  test("streaming DSTREAM walkthrough: timer-driven deletion matches the engine") {
    val got = runStreamCase(s"""
      REGISTER DSTREAM <http://out/stream> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { ?s a <$itype> . } }""",
      Seq(Seq("A" -> 1L, "B" -> 2L, "C" -> 3L), Seq("D" -> 4L, "E" -> 5L),
        Seq("F" -> 6L), Seq("G" -> 20L)))
    // A leaves the window at close 5 (engine walkthrough); the trailing
    // arrivals push the watermark so the disappearance timers fire. Late
    // subjects' own deletions (B..F leaving at closes 6+) appear too —
    // the engine walkthrough stops feeding, we assert the A deletion.
    assert(got.getOrElse(5L, Set.empty) == Set("http://test/A"), s"got $got")
  }

  test("streaming WINDOW-block BGP join emits joined bindings") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val q = SparqlParser().parseRsp("""
        REGISTER RSTREAM <http://out/join> AS
        SELECT *
        FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
        WHERE { WINDOW :w { ?e <ev/user> ?u . ?e <ev/type> "purchase" . } }""")
      val mem = MemoryStream[(String, Long, String, String, String)]
      val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"dist_rsp_bgp_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, q).streamEmissions(events)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        mem.addData(Seq(
          ("stream", 1L, "event/1", "ev/user", "user/7"),
          ("stream", 1L, "event/1", "ev/type", "purchase"),
          ("stream", 1L, "event/2", "ev/user", "user/8"),
          ("stream", 1L, "event/2", "ev/type", "view")))
        sq.processAllAvailable()
        mem.addData(Seq(("stream", 4L, "event/3", "ev/user", "user/9")))
        sq.processAllAvailable()
        val rows = spark.table(sink).collect()
          .map(r => (r.getAs[Long]("close"),
            r.getAs[Map[String, String]]("binding")))
        // only event/1 satisfies both patterns; event/2 is filtered by the
        // type constant, event/3 has no type triple
        assert(rows.nonEmpty)
        assert(rows.forall(_._2("e") == "event/1"))
        assert(rows.forall(_._2("u") == "user/7"))
      } finally sq.stop()
    }
  }

  test("streaming plane over replayed real events equals the batch emissions") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val q = SparqlParser().parseRsp("""
        REGISTER RSTREAM <http://out/replay> AS
        SELECT *
        FROM NAMED WINDOW :w ON :events [RANGE 7200000 ms STEP 3600000 ms]
        WHERE { WINDOW :w { ?e <ev/user> ?u . ?e <ev/type> "purchase" . } }""")
      val ev = EventsReader.eventsMs(spark, sf("sf0.001"))
      val subj = concat(lit("event/"), col("event_id"))
      val triples = ev.select(lit("events").as("stream"), col("tms").as("ts"),
          subj.as("s"), lit("ev/user").as("p"),
          concat(lit("user/"), col("user_id")).as("o"))
        .unionByName(ev.select(lit("events").as("stream"), col("tms").as("ts"),
          subj.as("s"), lit("ev/type").as("p"), col("event_type").as("o")))

      val want = new DistributedRsp(spark, q).emissions(
          triples.withColumnRenamed("ts", "ts"))
        .collect().map(r => (r.getAs[Long]("close"),
          r.getAs[String]("e"), r.getAs[String]("u"))).toSet

      val rows = triples.orderBy("ts").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4)))
      val chunks = rows.grouped(math.max(rows.length / 4, 1)).toSeq
      val mem = MemoryStream[(String, Long, String, String, String)]
      val events = mem.toDF().toDF("stream", "tsms", "s", "p", "o")
        .withColumn("ts", timestamp_millis(col("tsms"))).drop("tsms")
      val sink = s"dist_rsp_replay_${System.nanoTime()}"
      val sq = new DistributedRsp(spark, q).streamEmissions(events)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { ch => mem.addData(ch.toSeq); sq.processAllAvailable() }
        val got = spark.table(sink).collect()
          .map { r =>
            val b = r.getAs[Map[String, String]]("binding")
            (r.getAs[Long]("close"), b("e"), b("u"))
          }.toSet
        assert(got == want,
          s"extra=${(got -- want).take(5)}, missing=${(want -- got).take(5)}, " +
            s"sizes got=${got.size} want=${want.size}")
      } finally sq.stop()
    }
  }

  test("incremental R2S equals the batch step-arithmetic diff over a replayed feed") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import DistributedRsp.R2SRow
      implicit val sqlCtx = spark.sqlContext
      val step = 3600000L
      val ev = EventsReader.eventsMs(spark, sf("sf0.001"))
        .select(col("tms"), col("event_type"))
      // per-event (close, binding) rows of the tumbling-hour relation
      val rel = ev.select((col("tms") - (col("tms") % step)).as("close"),
        col("event_type")).distinct()

      // batch formulations (StreamOps semantics, step arithmetic)
      val batchI = rel.join(rel.withColumn("close", col("close") + step),
        Seq("close", "event_type"), "left_anti")
      val firings = rel.select("close").distinct()
      val batchD = rel.withColumn("close", col("close") + step)
        .join(rel, Seq("close", "event_type"), "left_anti")
        .join(firings, Seq("close"), "left_semi")

      // replay the same rows through the incremental operators in
      // ts-ordered chunks so the watermark advances between batches; a
      // trailing sentinel pushes the watermark past every deletion timer
      // (timers fire at lastSeen + 2·step) and is excluded from compare
      val rows = rel.orderBy("close").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val maxClose = rows.map(_._1).max
      val chunks = rows.grouped(math.max(rows.length / 5, 1)).toSeq :+
        Array((maxClose + 3 * step, "__sentinel"))
      def run(mk: org.apache.spark.sql.Dataset[R2SRow] =>
          org.apache.spark.sql.Dataset[R2SRow]): Set[(Long, String)] = {
        val mem = MemoryStream[(Long, String)]
        val in = mem.toDF().toDF("close", "event_type")
          .withColumn("ts", timestamp_millis(col("close")))
          .withWatermark("ts", "0 milliseconds")
          .as[(Long, String, java.sql.Timestamp)]
          .map { case (c, t, _) => R2SRow(c, Map("event_type" -> t)) }
        val sink = s"incr_r2s_${System.nanoTime()}"
        val sq = mk(in).writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          chunks.foreach { ch => mem.addData(ch.toSeq); sq.processAllAvailable() }
          spark.table(sink).collect()
            .map(r => (r.getAs[Long]("close"),
              r.getAs[Map[String, String]]("binding")("event_type"))).toSet
        } finally sq.stop()
      }

      val incI = run(IncrementalR2S.istream(_, step))
        .filterNot(_._2 == "__sentinel")
      val wantI = batchI.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(incI == wantI,
        s"istream: extra=${incI -- wantI}, missing=${wantI -- incI}")

      // incremental DSTREAM emits at the deletion instant lastSeen+step;
      // the batch op additionally gates on closes that actually fired —
      // apply the same gate before comparing
      val incD = run(IncrementalR2S.dstream(_, step))
        .filterNot(_._2 == "__sentinel")
      val firingSet = firings.collect().map(_.getLong(0)).toSet
      val wantD = batchD.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val incDGated = incD.filter(kv => firingSet.contains(kv._1))
      assert(incDGated == wantD,
        s"dstream: extra=${incDGated -- wantD}, missing=${wantD -- incDGated}")
    }
  }

  private def oneWindow(select: String, block: String, static: String = "",
      modifiers: String = "") = s"""
    REGISTER RSTREAM <http://out/parity> AS
    SELECT $select
    FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
    WHERE { WINDOW :w { $block } $static } $modifiers"""

  test("outer DISTINCT deduplicates before the per-close LIMIT (engine parity)") {
    val q = oneWindow("DISTINCT ?u", "?e <by> ?u", modifiers = "ORDER BY ?u LIMIT 2")
    val feed = Seq(("e1", "by", "alice", 1L), ("e2", "by", "alice", 1L),
      ("e3", "by", "bob", 1L), ("t", "tick", "t", 2L))
    val engine = PlaneRows.engine(spark, q, feed)
    assert(engine == Map(1L -> Set(Map("u" -> "alice"), Map("u" -> "bob"))), s"engine $engine")
    assert(PlaneRows.batch(spark, q, feed) == engine)
  }

  test("FILTER [NOT] EXISTS inside a WINDOW block matches the engine (batch + live)") {
    val feed = Seq(("e1", "by", "alice", 1L), ("e1", "tag", "vip", 1L),
      ("e2", "by", "bob", 1L), ("t", "tick", "t", 2L))
    val exists = oneWindow("?e", "?e <by> ?u . FILTER EXISTS { ?e <tag> ?t }")
    val engine = PlaneRows.engine(spark, exists, feed)
    assert(engine == Map(1L -> Set(Map("e" -> "e1"))), s"engine $engine")
    assert(PlaneRows.batch(spark, exists, feed) == engine)
    assert(PlaneRows.live(spark, exists, feed) == engine)
    val notExists = oneWindow("?e", "?e <by> ?u . FILTER NOT EXISTS { ?e <tag> ?t }")
    val engineNot = PlaneRows.engine(spark, notExists, feed)
    assert(engineNot == Map(1L -> Set(Map("e" -> "e2"))), s"engine $engineNot")
    assert(PlaneRows.batch(spark, notExists, feed) == engineNot)
    assert(PlaneRows.live(spark, notExists, feed) == engineNot)
  }

  test("a zero-length path reaches a ground endpoint absent from the window (engine parity)") {
    val q = oneWindow("*", "?x <knows>* <zed>")
    val feed = Seq(("a", "knows", "b", 1L), ("b", "knows", "c", 1L), ("t", "tick", "t", 2L))
    val engine = PlaneRows.engine(spark, q, feed)
    assert(engine == Map(1L -> Set(Map("x" -> "zed"))), s"engine $engine")
    assert(PlaneRows.batch(spark, q, feed) == engine)
  }

  test("the static join keeps OPTIONAL's UNDEF, as the engine's compat join does (batch + live)") {
    val static = graft.model.QuadStore.fromTriples(spark, Seq(
      ("s1", "inRoom", "r1"), ("s2", "inRoom", "r2"), ("s2", "label", "L2")))
    val q = oneWindow("*", "?s <reads> ?l", "?s <inRoom> ?r . OPTIONAL { ?s <label> ?l }")
    val feed = Seq(("s1", "reads", "v1", 1L), ("s2", "reads", "L2", 1L), ("t", "tick", "t", 2L))
    val engine = PlaneRows.engine(spark, q, feed, Some(static))
    assert(engine == Map(1L -> Set(
      Map("s" -> "s1", "l" -> "v1", "r" -> "r1"),
      Map("s" -> "s2", "l" -> "L2", "r" -> "r2"))), s"engine $engine")
    assert(PlaneRows.batch(spark, q, feed, Some(static)) == engine)
    assert(PlaneRows.live(spark, q, feed, Some(static)) == engine)
  }
}
