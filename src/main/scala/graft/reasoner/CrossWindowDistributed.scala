package graft.reasoner

import graft.reasoner.Reasoner.RoundCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sparql.Ast._

/** Cross-window SDS+ on step-keyed DataFrames — the distributed plane for
  * [[CrossWindowReasoner]] (`datalog/src/cross_window_sds.rs:16-120`
  * semantics): instead of one driver-paced materialization per engine
  * step, ALL steps' live closures are computed in one fixpoint whose
  * every round is a distributed rule pass: the [[AnnotatedReasoner]] rule
  * application over the [[RuleBody]] compiler with `step` carried as a
  * key on every scan, join, NAF anti-join and ⊕ merge, under the
  * expiration semiring (⊗ = min across premises, ⊕ = max across
  * derivations; a derived fact lives while its weakest support lives).
  *
  * Visibility matches the engine walkthrough: a fact fed at step i with
  * expiry tag e = event_time + α is part of step j's base iff i ≤ j and
  * e > now(j); static facts carry tag = ∞ and are visible at every step.
  * The expiry filter is pushed into the step-explode join, so expired
  * facts never enter the fixpoint. Scale posture: the step explode
  * multiplies facts only by the number of steps they survive (bounded by
  * α/step-interval), and each fixpoint round shuffles on
  * (step, join vars) — parallel across steps AND key ranges.
  */
object CrossWindowDistributed {

  /** Materialize every step's live closure at once.
    *
    * @param steps   `(step: long, now: long)` — one row per engine step
    *                (window firing); `now` is the step's query instant.
    * @param content `(step: long, s, p, o, event_time: long)` — facts fed
    *                at each step.
    * @return `(step, s, p, o, tag)` — the live materialization per step
    *         (base facts and derivations, expiry-tagged).
    */
  def materializeSteps(steps: DataFrame, content: DataFrame, rules: Seq[Rule],
      alphaMs: Long, staticFacts: Option[DataFrame] = None,
      maxRounds: Int = 32): DataFrame = {
    val reasoner = new AnnotatedReasoner(steps.sparkSession, Semiring.expiration)
    def mergeK(a: DataFrame, b: DataFrame): DataFrame =
      reasoner.plusBy(a.unionByName(b), Seq("step"))
    // one rule pass across all steps, ⊕-merged per (step, fact)
    def pass(facts: DataFrame): DataFrame =
      rules.map(reasoner.applyKeyedRule(facts, _, None, Seq("step"))).reduce(mergeK)
    val tagged = content.select(col("step").as("__src"), col("s"), col("p"), col("o"),
      (col("event_time") + lit(alphaMs)).cast("double").as("tag"))
    // visibility + expiry pushed into the explode join: a fact reaches a
    // step's base only while it is live there
    val visible = steps.join(tagged,
        col("__src") <= col("step") && col("tag") > col("now"), "inner")
      .select("step", "s", "p", "o", "tag")
    val static = staticFacts.map(sf => steps.select("step").distinct()
      .crossJoin(broadcast(sf.select(col("s"), col("p"), col("o"),
        lit(Double.MaxValue).as("tag")))))
    var facts = reasoner.plusBy(static.fold(visible)(visible.unionByName(_)), Seq("step"))
      .localCheckpointSevered()
    // a NON-recursive rule set needs exactly ruleChainDepth rounds — run
    // them without the per-round convergence action (each action is a
    // whole Spark job; on the common non-recursive case this halves the
    // job count: no improvement-check round, no final empty round)
    graft.streaming.DistributedRsp.ruleChainDepth(rules) match {
      case Some(depth) =>
        (0 until depth).foreach { _ =>
          facts = mergeK(facts, pass(facts)).localCheckpointSevered()
        }
        return facts
      case None => () // recursive: fall through to the checked fixpoint
    }
    var round = 0
    while (round < maxRounds) {
      val derived = pass(facts)
      // tag-improvement convergence (cycle-safe): a derivation only
      // counts as new when it strictly ⊕-improves the known tag
      val improved = derived.join(
          facts.select(col("step"), col("s"), col("p"), col("o"), col("tag").as("__old")),
          Seq("step", "s", "p", "o"), "left_outer")
        .filter(col("__old").isNull || col("tag") > col("__old"))
        .drop("__old")
      if (improved.isEmpty) return facts
      facts = mergeK(facts, improved).localCheckpointSevered()
      round += 1
    }
    throw new IllegalStateException(
      s"cross-window SDS+ did not reach its fixpoint within $maxRounds rounds")
  }
}
