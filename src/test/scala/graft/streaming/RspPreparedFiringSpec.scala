package graft.streaming

import graft.SparkSpec
import graft.model.{LocalJoinFold, QuadStore}
import graft.sparql.{Compiler, SparqlParser}
import graft.sparql.Ast.{Element, WindowBlockElem}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import RspEngine._

/** Differential oracle for prepared firings: a window block compiled once
  * per engine, each firing swapping its rows into the kept plan, must
  * emit what compiling the block directly over
  * `QuadStore.fromTriples(content)` gives, firing by firing — over random
  * window contents with duplicate triples, under RSTREAM, ISTREAM and
  * DSTREAM, and joined across two windows under Steal. Also pins the
  * cases that compile per firing (a property path, R2R rules, a window
  * over `LocalJoinFold.MaxRows` triples) and a static store updated
  * between two emissions. Fixed seeds. */
class RspPreparedFiringSpec extends SparkSpec {

  private type Triple = (String, String, String)
  private type Rows = Seq[Map[String, String]]

  private val rangeMs = 6L
  private val stepMs = 2L

  private def iri(n: String) = s"http://t/$n"

  /** Random arrivals `(ts, triple)` in ts order over a small vocabulary,
    * so windows repeat triples; every fifth arrival is re-sent later. */
  private val eventsGen: Gen[Seq[(Long, Triple)]] = {
    val node = Gen.choose(0, 4).map(i => iri(s"n$i"))
    val triple = Gen.frequency(
      3 -> (for (s <- node; o <- node) yield (s, iri("p"), o)),
      2 -> (for (s <- node; o <- node) yield (s, iri("q"), o)),
      2 -> (for (s <- node; v <- Gen.choose(1, 4)) yield (s, iri("r"), v.toString)))
    for {
      n <- Gen.choose(25, 40)
      evs <- Gen.listOfN(n, for (ts <- Gen.choose(1L, 30L); t <- triple) yield (ts, t))
    } yield {
      val again = evs.zipWithIndex.collect { case ((ts, t), i) if i % 5 == 0 => (ts + 1, t) }
      (evs ++ again).sortBy(_._1)
    }
  }

  private def events(seed: Long): Seq[(Long, Triple)] =
    eventsGen(Gen.Parameters.default, Seed(seed)).get

  private val blocks: Seq[(String, String)] = Seq(
    "bgp" -> s"?a <${iri("p")}> ?b . ?b <${iri("q")}> ?c .",
    "filter" -> s"""?a <${iri("r")}> ?v . FILTER(?v > 2)""",
    "optional" -> s"?a <${iri("p")}> ?b . OPTIONAL { ?b <${iri("r")}> ?v }",
    "union" -> s"{ ?a <${iri("p")}> ?b } UNION { ?a <${iri("r")}> ?v . ?a <${iri("q")}> ?c }",
    "bind" -> s"""?a <${iri("r")}> ?v . BIND(CONCAT(?v, "-x") AS ?w)""",
    "values" -> (s"VALUES (?a ?b) { (<${iri("n0")}> UNDEF) (UNDEF <${iri("n1")}>) " +
      s"(<${iri("n2")}> <${iri("n3")}>) } ?a <${iri("p")}> ?b ."),
    "minus" -> s"?a <${iri("p")}> ?b . MINUS { ?a <${iri("q")}> ?c }",
    "subselect" -> (s"{ SELECT ?a (COUNT(?b) AS ?n) WHERE { ?a <${iri("p")}> ?b } " +
      "GROUP BY ?a }"),
    "path" -> s"?a <${iri("p")}>+ ?b .",
    "exists_path" -> s"?a <${iri("q")}> ?b . FILTER EXISTS { ?b <${iri("p")}>+ ?c }")

  private def query(kind: String, block: String, extra: String = ""): String = s"""
    REGISTER $kind <http://out> AS SELECT *
    FROM NAMED WINDOW :w ON :s [RANGE $rangeMs ms STEP $stepMs ms]
    WHERE { WINDOW :w { $block } $extra }"""

  private def blockElems(rspQl: String, window: String = ":w"): Seq[Element] =
    SparqlParser().parseRsp(rspQl).select.where.collectFirst {
      case WindowBlockElem(w, elems) if w.endsWith(window.stripPrefix(":")) => elems
    }.get

  /** The firing rule over arrivals in ts order: an arrival at t fires the
    * max close c < t with c ≥ the first arrival and c > the last fired
    * close, over the arrivals with ts in [c − RANGE, c]. */
  private def firings(evs: Seq[(Long, Triple)]): Seq[(Long, Seq[Triple])] = {
    var last = Option.empty[Long]
    evs.map(_._1).distinct.flatMap { t =>
      val c = DistributedRsp.maxCloseLong(t, stepMs)
      if (c >= evs.head._1 && last.forall(c > _)) {
        last = Some(c)
        Some(c -> evs.collect { case (ts, tr) if ts >= c - rangeMs && ts <= c => tr })
      } else None
    }
  }

  /** The reference: the block compiled directly over the content store. */
  private def reference(elems: Seq[Element], content: Seq[Triple],
      store: QuadStore => Unit = _ => ()): Rows = {
    val s = QuadStore.fromTriples(spark, content)
    store(s)
    val df = new Compiler(s).compileElements(elems).df
    val cols = df.columns
    df.select(cols.map(c => col(c).cast("string")).toSeq: _*).collect().toSeq.map { r =>
      cols.zipWithIndex.flatMap { case (c, i) => Option(r.getString(i)).map(c -> _) }.toMap
    }
  }

  private def run(e: RspEngine, evs: Seq[(Long, Triple)], stream: String = "s"): Unit =
    evs.foreach { case (ts, (s, p, o)) => e.add(stream, s, p, o, ts) }

  private def bag(rows: Rows): Map[Map[String, String], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  test("prepared firings equal the direct compile over random contents (RSTREAM/ISTREAM/DSTREAM)") {
    Seq(7L, 19L).foreach { seed =>
      val evs = events(seed)
      val fired = firings(evs)
      assert(fired.size >= 8 && fired.exists { case (_, c) => c.distinct.size < c.size },
        s"seed $seed: ${fired.size} firings, none with a duplicate triple")
      blocks.foreach { case (name, block) =>
        val elems = blockElems(query("RSTREAM", block))
        val expected = fired.map { case (c, content) => c -> reference(elems, content) }
        val r = RspEngineBuilder.fromQuery(spark, query("RSTREAM", block))
        run(r, evs)
        assert(r.emissions.map(em => em.windowClose -> bag(em.rows)) ==
          expected.map { case (c, rows) => c -> bag(rows) }, s"$name, seed $seed")
        // a prepared block compiles once per session; a path's closure is
        // read while compiling, so a block with one compiles at every firing
        val compiles = if (name.endsWith("path")) fired.size else 1
        assert(r.blockCompiles == compiles, s"$name, seed $seed: ${r.blockCompiles} compiles")
        assert(r.emissionCompiles == 1)

        var last = Set.empty[Map[String, String]]
        val diffs = expected.map { case (c, rows) =>
          val cur = rows.toSet
          val d = (c, cur -- last, last -- cur)
          last = cur
          d
        }
        Seq("ISTREAM" -> diffs.map(d => d._1 -> d._2), "DSTREAM" -> diffs.map(d => d._1 -> d._3))
          .foreach { case (kind, want) =>
            val e = RspEngineBuilder.fromQuery(spark, query(kind, block))
            run(e, evs)
            assert(e.emissions.map(em => em.windowClose -> em.rows.toSet) ==
              want.filter(_._2.nonEmpty), s"$name $kind, seed $seed")
          }
      }
    }
  }

  test("two windows under Steal: each emission joins the windows' latest prepared results") {
    val blockA = s"?a <${iri("p")}> ?b ."
    val blockB = s"?a <${iri("q")}> ?c ."
    val rspQl = s"""
      REGISTER RSTREAM <http://out> AS SELECT *
      FROM NAMED WINDOW :wA ON :sA [RANGE $rangeMs ms STEP $stepMs ms]
      FROM NAMED WINDOW :wB ON :sB [RANGE 4 ms STEP $stepMs ms]
      WHERE { WINDOW :wA { $blockA } WINDOW :wB { $blockB } }"""
    val elemsA = blockElems(rspQl, ":wA")
    val elemsB = blockElems(rspQl, ":wB")
    Seq(5L, 29L).foreach { seed =>
      // each arrival goes to one of the two streams
      val evs = events(seed).zipWithIndex.map { case ((ts, t), i) =>
        (if (i % 3 == 0) "sB" else "sA", ts, t)
      }
      // the engine's schedule: a window advances on its own stream's
      // arrivals; under Steal a firing emits once both windows have fired
      final class Win(val stream: String, val range: Long, val elems: Seq[Element]) {
        var first = Option.empty[Long]
        var last = Option.empty[Long]
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Triple)]
        var latest = Option.empty[Rows]
      }
      val ws = Seq(new Win("sA", rangeMs, elemsA), new Win("sB", 4L, elemsB))
      val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Map[String, String]])]
      evs.foreach { case (stream, ts, t) =>
        ws.filter(_.stream == stream).foreach { w =>
          val c = DistributedRsp.maxCloseLong(ts, stepMs)
          if (w.first.exists(c >= _) && w.last.forall(c > _)) {
            w.last = Some(c)
            w.latest = Some(reference(w.elems,
              w.buf.collect { case (x, tr) if x >= c - w.range && x <= c => tr }.toSeq))
            if (ws.forall(_.latest.isDefined))
              expected += c -> (for {
                ra <- ws(0).latest.get; rb <- ws(1).latest.get if ra("a") == rb("a")
              } yield ra ++ rb).toSet
          }
          w.buf += ((ts, t))
          if (w.first.isEmpty) w.first = Some(ts)
        }
      }
      val e = RspEngineBuilder.fromQuery(spark, rspQl, policy = Some(Steal))
      evs.foreach { case (stream, ts, (s, p, o)) => e.add(stream, s, p, o, ts) }
      assert(expected.size >= 8)
      assert(e.emissions.map(em => em.windowClose -> em.rows.toSet) == expected.toSeq,
        s"seed $seed")
      assert(e.blockCompiles == 2 && e.emissionCompiles == 1)
    }
  }

  test("a window over LocalJoinFold.MaxRows triples compiles that firing over the content store") {
    val big = (0 to LocalJoinFold.MaxRows).map(i => (iri(s"m$i"), iri("r"), (i % 4 + 1).toString))
    val block = s"""?a <${iri("r")}> ?v . FILTER(?v > 3)"""
    val elems = blockElems(query("RSTREAM", block))
    // ts 1: the big content, duplicated, fired by the arrival at ts 3
    // (close 2); the arrivals at 9 and 11 fire small windows (closes 8, 10)
    val evs = (big ++ big).map(1L -> _) ++
      Seq(3L -> (iri("x"), iri("r"), "4"), 9L -> (iri("y"), iri("r"), "4"), 11L -> (iri("z"), iri("r"), "1"))
    val e = RspEngineBuilder.fromQuery(spark, query("RSTREAM", block))
    run(e, evs)
    val fired = firings(evs)
    assert(fired.size == 3 && fired.head._2.distinct.size > LocalJoinFold.MaxRows)
    assert(e.emissions.map(em => em.windowClose -> bag(em.rows)) ==
      fired.map { case (c, content) => c -> bag(reference(elems, content)) })
    // the big firing's own compile, then the one prepared compile
    assert(e.blockCompiles == 2)
  }

  test("R2R rules: every firing compiles over its enriched content store") {
    val rule = SparqlParser().parseRule(s"""RULE <r/pq> :- CONSTRUCT { ?x <${iri("pq")}> ?z }
      WHERE { ?x <${iri("p")}> ?y . ?y <${iri("q")}> ?z }""")
    val block = s"?a <${iri("pq")}> ?c ."
    val elems = blockElems(query("RSTREAM", block))
    val evs = events(41L)
    val fired = firings(evs)
    val e = RspEngineBuilder.fromQuery(spark, query("RSTREAM", block), rules = Seq(rule))
    run(e, evs)
    val want = fired.map { case (c, content) =>
      c -> bag(reference(elems, content, s => new graft.reasoner.Reasoner(spark).materialize(s, Seq(rule))))
    }
    assert(want.exists(_._2.nonEmpty))
    assert(e.emissions.map(em => em.windowClose -> bag(em.rows)) == want)
    assert(e.blockCompiles == fired.size)
  }

  test("a static store updated between two firings: the next emission sees the inserted triple") {
    val static = QuadStore.fromTriples(spark, Seq((iri("n0"), iri("room"), iri("r0"))))
    val e = RspEngineBuilder.fromQuery(spark,
      query("RSTREAM", s"?a <${iri("p")}> ?b .", s"?a <${iri("room")}> ?room"),
      staticStore = Some(static))
    def push(ts: Long): Unit = {
      e.add("s", iri("n0"), iri("p"), iri("n1"), ts)
      e.add("s", iri("n1"), iri("p"), iri("n2"), ts)
    }
    push(1L); push(3L)
    assert(e.emissions.map(_.rows.toSet) == Seq(Set(
      Map("a" -> iri("n0"), "b" -> iri("n1"), "room" -> iri("r0")))))
    push(5L) // fires close 4 against the same static version
    assert(e.emissionCompiles == 1)
    new Compiler(static).executeUpdate(SparqlParser().parseUpdate(
      s"INSERT DATA { <${iri("n1")}> <${iri("room")}> <${iri("r1")}> }"))
    push(7L)
    assert(e.emissions.size == 3)
    assert(e.emissions.last.rows.toSet == Set(
      Map("a" -> iri("n0"), "b" -> iri("n1"), "room" -> iri("r0")),
      Map("a" -> iri("n1"), "b" -> iri("n2"), "room" -> iri("r1"))))
    assert(e.emissionCompiles == 2)
    assert(e.blockCompiles == 1)
  }
}
