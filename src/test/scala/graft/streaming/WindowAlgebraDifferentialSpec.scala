package graft.streaming

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential oracle for the WINDOW-group algebra: random groups over
  * random feeds must emit the same rows per close on the driver engine
  * ([[RspEngine]], which compiles each firing's window through
  * [[graft.sparql.Compiler]]) and on the batch [[DistributedRsp]] (the
  * same compiler keyed by close); the live plane must match them on the
  * groups it admits. Fixed seeds; rows compare as sets, since the
  * distributed relations have set semantics. */
class WindowAlgebraDifferentialSpec extends SparkSpec {
  private val vars = Gen.oneOf("x", "y", "z")
  private val pred = Gen.oneOf("p", "q")
  private val obj: Gen[String] =
    Gen.frequency(3 -> vars.map("?" + _), 1 -> Gen.oneOf("<a>", "<b>", "<c>"))
  private val triple: Gen[String] =
    for (s <- vars; p <- pred; o <- obj) yield s"?$s <$p> $o ."
  private val bgp: Gen[String] = Gen.choose(1, 2).flatMap(Gen.listOfN(_, triple)).map(_.mkString(" "))

  private val filter: Gen[String] = for {
    v <- vars; w <- vars
    f <- Gen.oneOf(s"FILTER(?$v != <a>)", s"FILTER(BOUND(?$v))", s"FILTER(!BOUND(?$v))",
      s"FILTER(?$v = <b> || ?$w = <c>)")
  } yield f

  private val path: Gen[String] = for {
    s <- vars
    o <- Gen.frequency(2 -> vars.map("?" + _), 1 -> Gen.oneOf("<c>", "<zed>"))
    p <- Gen.oneOf("<p>+", "<p>*", "<q>?", "<p>/<q>", "^<p>", "(<p>|<q>)")
  } yield s"?$s $p $o ."

  private val subselect: Gen[String] = for {
    (v, w) <- Gen.oneOf(("x", "y"), ("y", "z"), ("x", "z"))
    p <- pred
    order <- Gen.oneOf(s"?$v ?$w", s"DESC(?$v) DESC(?$w)")
  } yield s"{ SELECT ?$v ?$w WHERE { ?$v <$p> ?$w } ORDER BY $order LIMIT 2 }"

  /** Every element the batch plane compiles. */
  private val element: Gen[String] = Gen.frequency(
    3 -> bgp,
    2 -> filter,
    2 -> bgp.map(b => s"OPTIONAL { $b }"),
    1 -> (for (b <- bgp; c <- bgp) yield s"OPTIONAL { $b OPTIONAL { $c } }"),
    1 -> bgp.map(b => s"MINUS { $b }"),
    1 -> (for (b <- bgp; c <- bgp) yield s"{ $b } UNION { $c }"),
    1 -> vars.map(v => s"""BIND(CONCAT(?$v, "-") AS ?b)"""),
    1 -> vars.map(v => s"VALUES ?$v { <a> UNDEF <c> }"),
    2 -> path,
    1 -> (for (neg <- Gen.oneOf("", "NOT "); b <- bgp) yield s"FILTER ${neg}EXISTS { $b }"),
    1 -> subselect)

  /** A group opens with a pattern binding ?x, as a window block with
    * content to match does. */
  private val group: Gen[String] = for {
    p <- pred; o <- obj
    n <- Gen.choose(1, 3)
    rest <- Gen.listOfN(n, element)
  } yield (s"?x <$p> $o ." +: rest).mkString(" ")

  /** The shapes the live plane admits: BGPs, FILTERs, a UNION whose
    * branches bind the same variables, then a trailing OPTIONAL or MINUS. */
  private val liveGroup: Gen[String] = for {
    p <- pred; o <- obj
    mid <- Gen.oneOf(
      for (q <- pred; v <- vars) yield s"?x <$q> ?$v .",
      Gen.const("FILTER(?x != <a>)"),
      Gen.const("{ ?x <p> ?w . } UNION { ?x <q> ?w . }"))
    q <- pred
    last <- Gen.oneOf(s"OPTIONAL { ?x <$q> ?u . }", s"MINUS { ?x <$q> <b> . }")
  } yield Seq(s"?x <$p> $o .", mid, last).mkString(" ")

  /** 4–12 triples over four nodes at ts 1–4, then a tick at ts 5 that
    * fires close 4. */
  private val feed: Gen[PlaneRows.Feed] = for {
    n <- Gen.choose(4, 12)
    ts <- Gen.listOfN(n, for {
      s <- Gen.oneOf("a", "b", "c", "d"); p <- Gen.oneOf("p", "q")
      o <- Gen.oneOf("a", "b", "c", "d"); t <- Gen.choose(1L, 4L)
    } yield (s, p, o, t))
  } yield ts.sortBy(_._4) :+ (("t", "tick", "t", 5L))

  private def query(block: String, outer: Boolean): String =
    if (outer) s"""
      REGISTER RSTREAM <http://out/diff> AS
      SELECT DISTINCT ?x
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { $block } } ORDER BY ?x LIMIT 2"""
    else s"""
      REGISTER RSTREAM <http://out/diff> AS
      SELECT *
      FROM NAMED WINDOW :w ON ?stream [RANGE 3 ms STEP 1 ms]
      WHERE { WINDOW :w { $block } }"""

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("random WINDOW groups emit the same rows per close on the engine and the batch plane") {
    val runs = (0 until 40).map { i =>
      val q = query(sample(group, 9000L + i), outer = i % 4 == 3)
      val f = sample(feed, 7000L + i)
      (q, f, PlaneRows.engine(spark, q, f), PlaneRows.batch(spark, q, f))
    }
    val differ = runs.filter { case (_, _, engine, batch) => engine != batch }
    assert(differ.isEmpty, differ.map { case (q, f, engine, batch) =>
      s"\nquery: $q\nfeed: $f\nengine: $engine\nbatch:  $batch" }.mkString("\n"))
    val nonEmpty = runs.count(_._3.nonEmpty)
    assert(nonEmpty >= 20, s"only $nonEmpty of 40 cases emitted any row")
  }

  test("the live plane emits the same rows per close on the groups it admits") {
    var nonEmpty = 0
    (0 until 6).foreach { i =>
      val q = query(sample(liveGroup, 5000L + i), outer = false)
      val f = sample(feed, 6000L + i)
      val engine = PlaneRows.engine(spark, q, f)
      assert(PlaneRows.batch(spark, q, f) == engine, s"batch, query: $q\nfeed: $f")
      val live = PlaneRows.live(spark, q, f)
      assert(live == engine, s"\nquery: $q\nfeed: $f\nengine: $engine\nlive:   $live")
      if (engine.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 3, s"only $nonEmpty of 6 cases emitted any row")
  }
}
