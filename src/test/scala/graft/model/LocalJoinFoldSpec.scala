package graft.model

import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, LessThan, Literal, Rand}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential property of [[LocalJoinFold]]: over random local
  * relations (null keys, duplicate rows, empty sides, floating-point
  * keys), every join shape returns the same rows in a session with the
  * rule as in one without it, and folds to a join-free plan when under
  * the bound. Above the bound, or with a non-deterministic condition,
  * the join is left to Spark. Fixed seeds keep it deterministic. */
class LocalJoinFoldSpec extends SparkSpec {

  private lazy val plain: SparkSession = spark.newSession()
  private lazy val folded: SparkSession = {
    val s = spark.newSession()
    LocalJoinFold.install(s)
    s
  }

  private val lSchema = StructType(Seq(StructField("k", IntegerType),
    StructField("v", StringType), StructField("d", DoubleType)))
  private val rSchema = StructType(Seq(StructField("k2", IntegerType),
    StructField("w", StringType), StructField("d2", DoubleType)))

  // small domains so duplicates and key collisions are common
  private val rowGen: Gen[Row] = for {
    k <- Gen.frequency(1 -> Gen.const(null), 4 -> Gen.choose(-1, 2).map(Int.box))
    v <- Gen.oneOf("a", "b", "c")
    d <- Gen.oneOf(null, 0.0, -0.0, 1.5, Double.NaN).map(_.asInstanceOf[AnyRef])
  } yield Row(k, v, d)
  private val sidesGen: Gen[(List[Row], List[Row])] = for {
    nl <- Gen.choose(0, 7); l <- Gen.listOfN(nl, rowGen)
    nr <- Gen.choose(0, 7); r <- Gen.listOfN(nr, rowGen)
  } yield (l, r)

  private def frame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(rows.asJava, schema)

  /** The join shapes under test, over (left, right) frames. */
  private val shapes: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "equi" -> ((l, r) => l.join(r, l("k") === r("k2"))),
    "null-safe equi" -> ((l, r) => l.join(r, l("k") <=> r("k2"))),
    "equi + non-equi" -> ((l, r) => l.join(r, l("k") === r("k2") && l("v") < r("w"))),
    "non-equi" -> ((l, r) => l.join(r, l("k") < r("k2") || l("v") === r("w"))),
    "double keys" -> ((l, r) => l.join(r, l("d") === r("d2"))),
    "cross" -> ((l, r) => l.crossJoin(r)),
    "projected" -> ((l, r) => l.join(r, l("k") === r("k2"))
      .filter(col("v") =!= "c").select(col("w"), col("k")))
  )

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def joins(p: LogicalPlan): Seq[Join] = p.collect { case j: Join => j }

  /** Rows of a plan the rule folded to a LocalRelation. */
  private def localRows(p: LogicalPlan): Seq[String] = p match {
    case lr: LocalRelation =>
      val toRow = CatalystTypeConverters.createToScalaConverter(lr.schema)
      lr.data.map(r => toRow(r).asInstanceOf[Row].toSeq.map(String.valueOf).mkString("|"))
        .sorted
    case other => fail(s"not folded to a LocalRelation:\n$other")
  }

  test("rule sessions: the plain session runs without the rule") {
    assert(!plain.experimental.extraOptimizations.contains(LocalJoinFold))
    LocalJoinFold.install(folded)
    assert(folded.experimental.extraOptimizations.count(_ == LocalJoinFold) == 1)
  }

  test("folded joins return the rows of Spark's join, with no Join left") {
    (1 to 12).foreach { seed =>
      val (l, r) = sidesGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      shapes.foreach { case (name, shape) =>
        val want = rows(shape(frame(plain, l, lSchema), frame(plain, r, rSchema)))
        val df = shape(frame(folded, l, lSchema), frame(folded, r, rSchema))
        assert(rows(df) == want, s"$name, seed $seed: l=$l r=$r")
        assert(joins(df.queryExecution.optimizedPlan).isEmpty,
          s"$name, seed $seed not folded:\n${df.queryExecution.optimizedPlan}")
      }
    }
  }

  test("applied to the analyzed join, the rule sees null keys and matches Spark") {
    (1 to 12).foreach { seed =>
      val (l, r) = sidesGen.pureApply(Gen.Parameters.default, Seed(100L + seed))
      shapes.filterNot(_._1 == "projected").foreach { case (name, shape) =>
        val want = rows(shape(frame(plain, l, lSchema), frame(plain, r, rSchema)))
        val analyzed = shape(frame(plain, l, lSchema), frame(plain, r, rSchema))
          .queryExecution.analyzed
        assert(localRows(LocalJoinFold(analyzed)) == want, s"$name, seed $seed")
      }
    }
  }

  test("above the bound the join stays a Join, with Spark's rows") {
    val n = LocalJoinFold.MaxRows
    val one = Seq(Row(1, "a", 1.0))
    // one side over the bound against a single row: MaxRows + 1 pairs
    val big = (0 to n).map(i => Row(i, "a", 1.0))
    // 300 x 300 = 90000 pairs over the bound, every one a match
    val dup = Seq.fill(300)(Row(1, "b", 2.0))
    val cases: Seq[(String, Seq[Row], Seq[Row], (DataFrame, DataFrame) => DataFrame)] = Seq(
      ("input side", big, one, (l, r) => l.join(r, l("k") === r("k2"))),
      ("equi pairs", dup, dup, (l, r) => l.join(r, l("k") === r("k2"))),
      ("keyless pairs", dup, dup, (l, r) => l.join(r, l("v") <= r("w"))))
    cases.foreach { case (name, l, r, shape) =>
      val df = shape(frame(folded, l, lSchema), frame(folded, r, rSchema))
      assert(joins(df.queryExecution.optimizedPlan).nonEmpty, s"$name folded")
      assert(df.count() ==
        shape(frame(plain, l, lSchema), frame(plain, r, rSchema)).count(), name)
    }
  }

  test("a join of exactly MaxRows pairs folds") {
    val side = Seq.fill(128)(Row(1, "b", 2.0))
    assert(side.size * side.size == LocalJoinFold.MaxRows)
    val df = frame(folded, side, lSchema).join(frame(folded, side, rSchema),
      col("v") <= col("w"))
    assert(joins(df.queryExecution.optimizedPlan).isEmpty)
    assert(df.count() == LocalJoinFold.MaxRows)
  }

  test("a non-deterministic condition does not fold") {
    def local(rows: Seq[Row], schema: StructType) =
      frame(plain, rows, schema).queryExecution.analyzed.asInstanceOf[LocalRelation]
    val l = local(Seq(Row(1, "a", 1.0)), lSchema)
    val r = local(Seq(Row(1, "b", 1.0)), rSchema)
    val keys = EqualTo(l.output.head, r.output.head)
    val nd = Join(l, r, Inner,
      Some(And(keys, LessThan(Rand(Literal(7L)), Literal(2.0)))), JoinHint.NONE)
    assert(LocalJoinFold(nd) eq nd)
    // the same join with a deterministic condition folds
    assert(LocalJoinFold(nd.copy(condition = Some(keys))).isInstanceOf[LocalRelation])
  }

  test("stores enter as LocalRelations only up to the bound") {
    def leaf(n: Int) = QuadStore.fromTriples(plain,
      (0 until n).map(i => (s"s$i", "p", "o"))).quads.queryExecution.analyzed
        .collectLeaves().head
    assert(leaf(LocalJoinFold.MaxRows).isInstanceOf[LocalRelation])
    assert(!leaf(LocalJoinFold.MaxRows + 1).isInstanceOf[LocalRelation])
  }

  test("VALUES rows join the store on the driver") {
    val store = QuadStore.fromTriples(folded, Seq(("s1", "p", "o1"), ("s2", "p", "o2")))
    val df = new graft.sparql.Compiler(store).execute(
      "SELECT ?s ?o WHERE { VALUES ?s { <s1> <s3> } ?s <p> ?o }")
    assert(joins(df.queryExecution.optimizedPlan).isEmpty)
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("s1", "o1")))
  }
}
