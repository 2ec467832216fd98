package graft.reasoner

import graft.SparkSpec
import graft.model.{QuadStore, TermLex}
import graft.sparql.Ast._
import graft.sparql.SparqlParser
import org.apache.spark.sql.functions.lit
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based differential oracle (SURVEY §5c): for random safe
  * Datalog programs over a small vocabulary, naive and semi-naive
  * materialization produce identical fact sets — mirroring the
  * reference's own naive-vs-semi-naive equivalence tests
  * (`datalog/tests/reasoning_tests.rs`) — and the semiring reasoner's
  * facts, tags dropped, equal the plain reasoner's. Uses ScalaCheck
  * generators with fixed seeds (deterministic; each sample costs several
  * Spark jobs).
  */
class ReasonerPropertySpec extends SparkSpec {

  private val consts = Gen.oneOf("c0", "c1", "c2", "c3")
  private val basePreds = Gen.oneOf("p0", "p1")
  private val vars = Seq(Var("x"), Var("y"), Var("z"))

  private val factGen: Gen[(String, String, String)] = for {
    s <- consts; p <- basePreds; o <- consts
  } yield (s, p, o)

  /** A safe rule: head vars ⊆ body vars; chain-shaped body of 1–2
    * patterns over base or derived predicates (recursion allowed). */
  private val ruleGen: Gen[Rule] = for {
    headPred <- Gen.oneOf("d0", "d1")
    nBody <- Gen.choose(1, 2)
    bodyPreds <- Gen.listOfN(nBody, Gen.oneOf("p0", "p1", "d0"))
  } yield {
    val premise = bodyPreds.zipWithIndex.map { case (p, i) =>
      TriplePattern(vars(i), Iri(p), vars(i + 1))
    }
    val headO = if (nBody == 2) Var("z") else Var("y")
    Rule(s"r/$headPred", premise, Nil, Nil,
      Seq(TriplePattern(Var("x"), Iri(headPred), headO)))
  }

  private val programGen: Gen[(List[(String, String, String)], List[Rule])] = for {
    nf <- Gen.choose(3, 10)
    facts <- Gen.listOfN(nf, factGen)
    nr <- Gen.choose(1, 3)
    rules <- Gen.listOfN(nr, ruleGen)
  } yield (facts, rules)

  test("naive ≡ semi-naive on random safe programs") {
    (1 to 6).foreach { i =>
      val (facts, rules) =
        programGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val df = QuadStore.fromTriples(spark, facts.distinct).quads.select("s", "p", "o")
      val r = new Reasoner(spark)
      val naive = r.materializeNaive(df, rules, maxRounds = 20)
        .collect().map(_.toSeq).toSet
      val semi = r.materializeSemiNaive(df, rules, maxRounds = 20)
        .collect().map(_.toSeq).toSet
      assert(naive == semi,
        s"divergence on seed $i: facts=$facts rules=${rules.map(_.name)}")
    }
  }

  test("semiring closure projected to (s,p,o) ≡ plain closure, incl. FILTER / NOT / quoted premises") {
    def parse(r: String) = SparqlParser().parseRule(r)
    // FILTER, NAF and a quoted-variable premise, one input each, with the
    // derivations each must produce: the body features every plane
    // compiles through the same RuleBody
    val featureFacts = List(("a", "v", "5"), ("b", "v", "50"), ("c", "v", "12"),
      ("c", "blocked", "1"), (TermLex.encodeQuoted("a", "knows", "b"), "src", "w1"),
      ("a", "knows", "c"))
    val features = Seq(
      """RULE <r/f> :- CONSTRUCT { ?s <big> ?x } WHERE { ?s <v> ?x . FILTER(?x > 10) }""" ->
        Set(Seq("b", "big", "50"), Seq("c", "big", "12")),
      """RULE <r/n> :- CONSTRUCT { ?s <ok> "y" } WHERE { ?s <v> ?x . NOT { ?s <blocked> ?b } }""" ->
        Set(Seq("a", "ok", "y"), Seq("b", "ok", "y")),
      """RULE <r/q> :- CONSTRUCT { ?a <claimed> ?b } WHERE { << ?a <knows> ?b >> <src> ?w }""" ->
        Set(Seq("a", "claimed", "b")))
    val inputs = features.map { case (rule, derived) =>
        (featureFacts, List(SparqlParser().parseRule(rule)), Some(derived)) } ++
      (1 to 3).map { i =>
        val (facts, rules) = programGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
        (facts, rules, None)
      }
    inputs.zipWithIndex.foreach { case ((facts, rules, derived), i) =>
      val df = QuadStore.fromTriples(spark, facts.distinct).quads.select("s", "p", "o")
      val plain = new Reasoner(spark).materializeSemiNaive(df, rules, maxRounds = 20)
        .collect().map(_.toSeq).toSet
      derived.foreach(d => assert(plain -- facts.map(f => Seq(f._1, f._2, f._3)) == d,
        s"plain derivations on input $i: $plain"))
      val semiring = new AnnotatedReasoner(spark, Semiring.minMaxProbability)
        .materialize(df.withColumn("tag", lit(0.9)), rules, maxRounds = 20)
        .select("s", "p", "o").collect().map(_.toSeq).toSet
      assert(semiring == plain,
        s"divergence on input $i: facts=$facts rules=${rules.map(_.name)}; " +
          s"semiring-only=${semiring -- plain}, plain-only=${plain -- semiring}")
    }
  }
}
