package graft.sparql

import graft.SparkSpec
import graft.model.{LocalJoinFold, QuadStore}
import graft.relational.Triplizer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential oracle for resident BGP reads: a store that serves
  * resident reads joins its default-graph BGPs on the driver from
  * predicate slices, and must answer every query with the columns and the
  * row multiset of the scan-and-join plan over the same store version.
  * Random stores (Spark-partitioned and local bases, blank nodes, named
  * graphs, one predicate over `LocalJoinFold.MaxRows` rows) and random
  * BGPs (constant subjects and objects, a variable repeated within a
  * pattern, blank-node patterns, disconnected patterns, empty slices),
  * interleaved with random INSERT/DELETE DATA; then the endpoint's 22
  * read texts over the sf0.001 corpus. Fixed seeds. */
class ResidentBgpSpec extends SparkSpec {

  private type Quad = QuadStore.Quad

  private def iri(n: String) = s"http://r/$n"
  private val bigP = iri("big")
  private val bigRows = LocalJoinFold.MaxRows + 10

  private val node: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0, 5).map(i => iri(s"n$i")),
    2 -> Gen.choose(0, 2).map(i => s"_:b$i"),
    2 -> Gen.choose(0, 3).map(_.toString))
  private val pred: Gen[String] = Gen.choose(0, 4).map(i => iri(s"p$i"))
  private val quad: Gen[Quad] = for {
    g <- Gen.frequency(5 -> Gen.const(null: String), 1 -> Gen.const(iri("g")))
    s <- node; p <- pred; o <- node
  } yield (g, s, p, o)

  /** Base quads: p4 is never in the base, so updates add a new predicate. */
  private def baseGen: Gen[Seq[Quad]] =
    Gen.listOfN(40, quad).map(_.filterNot(_._3 == iri("p4")).distinct)

  private def term(v: String): String =
    if (v.startsWith("_:") || v.forall(_.isDigit)) "\"" + v + "\""
    else s"<$v>"

  /** A BGP as query text. Pattern blank nodes are variables scoped to the
    * group; `_:x` is a label the data never uses. */
  private val patternGen: Gen[String] = {
    val pos = Gen.frequency(
      5 -> Gen.oneOf("?a", "?b", "?c", "?d"),
      1 -> Gen.const("_:x"),
      3 -> node.map(term))
    for {
      s <- pos; o <- pos
      p <- Gen.frequency(6 -> pred, 1 -> Gen.const(bigP))
    } yield s"$s <$p> $o"
  }
  private val bgpGen: Gen[String] = for {
    n <- Gen.choose(1, 4)
    ps <- Gen.listOfN(n, patternGen)
  } yield s"SELECT * WHERE { ${ps.mkString(" . ")} }"

  /** INSERT or DELETE DATA of three default-graph triples, each a base
    * triple (a delete of a base quad, or a re-insert) half the time. */
  private def updateGen(base: Seq[Quad]): Gen[String] = {
    val fresh = for {
      s <- node; p <- Gen.frequency(3 -> pred, 1 -> Gen.const(iri("p4"))); o <- node
    } yield (s, p, o)
    val known = base.collect { case (null, s, p, o) => (s, p, o) }
    val triple = if (known.isEmpty) fresh else Gen.frequency(1 -> Gen.oneOf(known), 1 -> fresh)
    for {
      del <- Gen.oneOf(true, false)
      ts <- Gen.listOfN(3, triple)
    } yield s"${if (del) "DELETE" else "INSERT"} DATA { " +
      ts.map { case (s, p, o) => s"${term(s)} <$p> ${term(o)}" }.mkString(" . ") + " }"
  }

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  /** Asserts equal columns and row multisets; doubles compare within
    * 1e-9 relative, since the driver and Spark sum in different orders. */
  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, clue)
    def sorted(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
      .sortBy(_.map {
        case d: Double => f"$d%.6e"
        case v => String.valueOf(v)
      }.mkString("\u0001"))
    val (g, w) = (sorted(got), sorted(want))
    assert(g.size == w.size, s"$clue: ${g.size} rows, want ${w.size}")
    g.zip(w).foreach { case (a, b) =>
      val same = a.zip(b).forall {
        case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
      assert(same, s"$clue: $a, want $b")
    }
  }

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** A resident-reading store over `base` (plus the big predicate): a
    * Spark-partitioned frame, or `fromQuads`'s local relation while it
    * fits one. */
  private def store(base: Seq[Quad], big: Boolean, partitioned: Boolean): QuadStore = {
    val all = base ++ (if (big) (0 until bigRows).map(i => (null: String, iri(s"n${i % 6}"), bigP, s"$i"))
      else Nil)
    val s =
      if (partitioned) QuadStore(spark, spark.createDataFrame(spark.sparkContext.parallelize(
        all.map(q => Row(q._1, q._2, q._3, q._4)), 3), QuadStore.schema))
      else QuadStore.fromQuads(spark, all)
    s.enableResidentReads()
  }

  test("resident BGPs answer the scan-and-join plan's rows under random updates") {
    var resident, fellBack = 0
    Seq(3L, 11L, 29L, 47L).foreach { seed =>
      val base = sample(baseGen, seed)
      val st = store(base, big = seed == 11 || seed == 47, partitioned = seed > 20)
      (0 until 24).foreach { i =>
        val s = seed * 100 + i
        if (i % 3 == 2)
          new Compiler(st).executeUpdate(SparqlParser().parseUpdate(sample(updateGen(base), s)))
        val q = sample(bgpGen, s)
        val got = new Compiler(st.snapshot).select(q)
        assertSame(got, new Compiler(QuadStore(spark, st.quads)).select(q), s"seed $seed, query $i: $q")
        if (onDriver(got)) resident += 1
        else {
          fellBack += 1
          assert(q.contains(bigP), s"seed $seed, query $i fell back: $q")
        }
      }
    }
    assert(resident > 60 && fellBack > 3, s"$resident resident, $fellBack fell back")
  }

  test("an intermediate result over MaxRows falls back to the scan-and-join plan") {
    val side = 200 // 200 × 200 pairs > MaxRows, each slice well under it
    val qs = (0 until side).flatMap(i => Seq(
      (null: String, iri(s"x$i"), iri("p0"), "1"), (null: String, iri(s"y$i"), iri("p1"), "2")))
    val st = QuadStore(spark, spark.createDataFrame(spark.sparkContext.parallelize(
      qs.map(q => Row(q._1, q._2, q._3, q._4)), 2), QuadStore.schema)).enableResidentReads()
    val q = s"SELECT * WHERE { ?x <${iri("p0")}> ?v . ?y <${iri("p1")}> ?w }"
    val got = new Compiler(st).select(q)
    assert(!onDriver(got))
    assert(got.count() == side * side)
    val small = new Compiler(st).select(s"SELECT * WHERE { ?x <${iri("p0")}> ?v . ?x <${iri("p1")}> ?w }")
    assert(onDriver(small) && small.count() == 0)
  }

  test("the endpoint's 22 read texts answer alike on both paths over sf0.001") {
    val texts = graft.queries.WatDivSuite.sparqlText ++ Map(
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
    assert(texts.size == 22)
    val plain = Triplizer.cachedStore(spark, sf())
    val st = Triplizer.isolatedStore(spark, sf()).enableResidentReads()
    texts.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val got = new Compiler(st.snapshot).select(q)
      assert(onDriver(got), s"$name left the driver")
      assertSame(got, new Compiler(plain).select(q), name)
    }
  }
}
