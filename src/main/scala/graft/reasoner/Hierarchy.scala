package graft.reasoner

import graft.reasoner.Reasoner.RoundCheckpointOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sparql.Ast._

/** Hierarchical multi-level reasoning — the Spark rebuild of the
  * reference's experimental `ReasoningHierarchy`
  * (`datalog/src/reasoning_experimental.rs:30-305`, used by the
  * `hierarchy_reasoning*` examples): four ordered reasoning levels
  * (Base → Deductive → Abductive → MetaReasoning), each with its own
  * fact set and prioritized rules; inference processes levels in
  * dependency order, running standard semi-naive materialisation WITHIN
  * each level and then CROSS-LEVEL rules that read facts from their
  * declared dependency levels and insert conclusions into the target
  * level. Fact certainty degrades with the level a fact first appears at
  * (1.0 / 0.9 / 0.6 / 0.4 — `reasoning_experimental.rs:288-305`).
  *
  * Per-level facts are plain (s, p, o) DataFrames; within-level
  * materialisation reuses [[Reasoner.materializeSemiNaive]] (all its
  * scale machinery: delta pruning, recursive doubling). Cross-level rules
  * apply ONCE, non-recursively, over the UNION of the dependency levels'
  * facts, mirroring the reference's single application pass — including
  * its two-premise i ≠ j guard (the same fact row may not match both
  * premises, `reasoning_experimental.rs:185-210`): each premise's
  * [[RuleBody.scan]] carries the matched fact as `__f*` columns, which
  * never join, and the guard compares them. Premise arity > 2 is refused
  * loudly exactly where the reference prints "Unsupported rule premise
  * length".
  */
object Hierarchy {

  sealed abstract class Level(val order: Int, val certainty: Double, val name: String)
      extends Ordered[Level] {
    def compare(that: Level): Int = order.compareTo(that.order)
    override def toString: String = name
  }
  case object Base extends Level(0, 1.0, "base")
  case object Deductive extends Level(1, 0.9, "deductive")
  case object Abductive extends Level(2, 0.6, "abductive")
  case object MetaReasoning extends Level(3, 0.4, "meta")

  val levelsInOrder: Seq[Level] = Seq(Base, Deductive, Abductive, MetaReasoning)

  final case class HierarchicalRule(rule: Rule, level: Level, priority: Int,
      dependencies: Seq[Level])
}

class ReasoningHierarchy(spark: SparkSession) {
  import Hierarchy._

  private val reasoner = new Reasoner(spark)

  private val tripleSchema = StructType(Seq(
    StructField("s", StringType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("o", StringType, nullable = false)))

  private def emptyTriples: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tripleSchema)

  private val levelFacts =
    scala.collection.mutable.Map.empty[Level, DataFrame].withDefault(_ => emptyTriples)
  private val levelRules =
    scala.collection.mutable.Map.empty[Level, Vector[(Rule, Int)]].withDefaultValue(Vector.empty)
  private val crossLevelRules =
    scala.collection.mutable.ArrayBuffer.empty[HierarchicalRule]

  def addFactAtLevel(level: Level, s: String, p: String, o: String): Unit =
    addFactsAtLevel(level, Seq((s, p, o)))

  def addFactsAtLevel(level: Level, facts: Seq[(String, String, String)]): Unit = {
    import spark.implicits._
    addFactsAtLevel(level, facts.toDF("s", "p", "o"))
  }

  def addFactsAtLevel(level: Level, facts: DataFrame): Unit =
    levelFacts(level) = levelFacts(level).unionByName(facts.select("s", "p", "o")).distinct()

  /** Priority orders the level's rule list (the reference sorts on insert,
    * `reasoning_experimental.rs:61-80`); semi-naive saturation makes the
    * fixpoint order-insensitive, so priority is bookkeeping parity. */
  def addRuleAtLevel(level: Level, rule: Rule, priority: Int = 0): Unit =
    levelRules(level) = (levelRules(level) :+ (rule, priority)).sortBy(-_._2)

  def addCrossLevelRule(rule: HierarchicalRule): Unit = crossLevelRules += rule

  def factsAt(level: Level): DataFrame = levelFacts(level)

  /** Run the full hierarchy in level order; returns the facts NEWLY
    * inferred per level (within-level ∪ cross-level), like the
    * reference's `hierarchical_inference`. */
  def hierarchicalInference(): Map[Level, DataFrame] = {
    val inferred = Map.newBuilder[Level, DataFrame]
    levelsInOrder.foreach { level =>
      val before = levelFacts(level)
      val within =
        if (levelRules(level).isEmpty) emptyTriples
        else {
          val saturated = reasoner.materializeSemiNaive(before,
            levelRules(level).map(_._1))
          levelFacts(level) = saturated
          saturated.join(before, Seq("s", "p", "o"), "left_anti")
        }
      val cross = applyCrossLevelRules(level)
      inferred += level -> within.unionByName(cross).distinct().localCheckpointSevered()
    }
    inferred.result()
  }

  private def applyCrossLevelRules(target: Level): DataFrame = {
    val applicable = crossLevelRules.filter(_.level == target).sortBy(-_.priority)
    if (applicable.isEmpty) return emptyTriples
    var produced = emptyTriples
    applicable.foreach { hr =>
      val pool = hr.dependencies.map(levelFacts(_))
        .foldLeft(emptyTriples)(_ unionByName _).distinct()
      // materialize `fresh` once: it feeds BOTH the levelFacts checkpoint
      // below and the caller's `produced` materialization — lazy, the
      // whole scan/join/anti-join pipeline would run twice per rule.
      // Rebased through an RDD round-trip rather than a bare
      // localCheckpoint: the checkpoint's LogicalRDD keeps the plan's
      // attribute ids AND origin constraints, and those shared ids in two
      // later union branches trip Catalyst's Union constraint rewrite
      // (the closureByDoubling doc's known trap — reproduced by
      // HierarchySpec when this used localCheckpoint directly).
      val freshLazy = applyRuleOnce(hr.rule, pool)
        .join(levelFacts(target), Seq("s", "p", "o"), "left_anti")
      val fresh = freshLazy.sparkSession.createDataFrame(
        freshLazy.localCheckpoint().rdd, freshLazy.schema)
      levelFacts(target) =
        levelFacts(target).unionByName(fresh).distinct().localCheckpointSevered()
      produced = produced.unionByName(fresh)
    }
    produced.distinct()
  }

  /** One non-recursive rule application over a fact pool, with the
    * reference's fact-identity guard on two-premise rules: the SAME fact
    * row may not serve both premises (`i == j { continue; }`). Since the
    * pool has set semantics, fact identity is the (s,p,o) value itself —
    * the guard is an inequality on the two matched triples. */
  private def applyRuleOnce(rule: Rule, pool: DataFrame): DataFrame = {
    require(rule.negativePremise.isEmpty && rule.filters.isEmpty,
      "cross-level rules carry positive premises only (as in the reference)")
    def withIdentity(tp: TriplePattern, i: Int): DataFrame = RuleBody.scan(pool, tp,
      Seq("s", "p", "o").map(c => col(c).as(s"__f$i$c")))
    val bindings = rule.premise match {
      case Seq(tp) => RuleBody.scan(pool, tp)
      case Seq(tp1, tp2) =>
        RuleBody.joinOnShared(withIdentity(tp1, 1), withIdentity(tp2, 2))
          .filter(!(col("__f1s") === col("__f2s") &&
            col("__f1p") === col("__f2p") && col("__f1o") === col("__f2o")))
          .drop("__f1s", "__f1p", "__f1o", "__f2s", "__f2p", "__f2o")
      case ps => throw new IllegalArgumentException(
        s"unsupported cross-level rule premise length ${ps.length} (reference supports 1-2)")
    }
    RuleBody.head(rule, bindings).distinct()
  }

  /** All facts, or one level's, optionally constrained on s/p/o —
    * `query_hierarchy` (`reasoning_experimental.rs:266-287`). Columns:
    * (level, s, p, o). */
  def queryHierarchy(level: Option[Level] = None, s: Option[String] = None,
      p: Option[String] = None, o: Option[String] = None): DataFrame = {
    val searched = level.map(Seq(_)).getOrElse(levelsInOrder)
    searched.map { lv =>
      levelFacts(lv).select(lit(lv.name).as("level"), col("s"), col("p"), col("o"))
    }.reduce(_ unionByName _)
      .filter(s.map(col("s") === _).getOrElse(lit(true)))
      .filter(p.map(col("p") === _).getOrElse(lit(true)))
      .filter(o.map(col("o") === _).getOrElse(lit(true)))
  }

  /** Certainty of a fact = the certainty of the FIRST (most trusted)
    * level containing it; 0.0 when absent everywhere. */
  def factCertainty(s: String, p: String, o: String): Double =
    levelsInOrder.find(lv =>
        !levelFacts(lv).filter(col("s") === s && col("p") === p && col("o") === o).isEmpty)
      .map(_.certainty).getOrElse(0.0)
}
