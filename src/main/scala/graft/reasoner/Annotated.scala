package graft.reasoner

import graft.reasoner.Reasoner.RoundCheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.QuadStore
import graft.sparql.Ast._
import graft.sparql.Compiler

/** Annotated (semiring) Datalog: facts carry a numeric tag combined with
  * ⊗ across a rule's premises and ⊕ across alternative derivations — the
  * Spark rebuild of the reference's `Provenance` trait family
  * (`shared/src/provenance.rs:18-61`) and `TagStore`
  * (`shared/src/tag_store.rs:21-76`). The tag is a column on the facts
  * DataFrame; ⊕-merging duplicate derivations is a groupBy aggregate, so
  * the semiring rides the same shuffle as the dedup it replaces.
  *
  * Two stock instances:
  *  - [[Semiring.minMaxProbability]] — ⊗=min, ⊕=max over probabilities
  *    (`provenance.rs` MinMaxProbability)
  *  - [[Semiring.expiration]] — same algebra over expiry timestamps
  *    (`ExpirationProvenance`; a derived fact lives while its weakest
  *    support lives, `datalog/src/cross_window_sds.rs:16-120`)
  */
final case class Semiring(
    times: Seq[Column] => Column,       // ⊗ across premises
    plusAgg: Column => Column,          // ⊕ as aggregate over derivations
    plusPair: (Column, Column) => Column, // ⊕ of two tags (improvement test)
    /** ⊕ idempotent (a⊕a = a)? Enables the delta-driven semi-naive
      * fixpoint; non-idempotent ⊕ (addmult) must recompute from the seed
      * base every round to count each derivation exactly once. */
    idempotent: Boolean = true,
    /** Safe for the recursive-doubling closure strategy? Requires a
      * closed semiring: ⊕ idempotent/associative/commutative, ⊗
      * associative and distributive over ⊕ — then squaring computes the
      * same per-fact tag as path-at-a-time semi-naive (min-max, boolean).
      * False for the proofs semiring: its top-k truncation makes ⊕/⊗
      * association-order-sensitive, and the reference enumerates proofs
      * in linear derivation order. */
    doublingSafe: Boolean = false,
    /** ⊖ (negation-as-failure contribution of a PRESENT fact) and ⊤ (the
      * ⊗-identity, the contribution of an ABSENT fact) — the reference's
      * `Provenance::negate`/`one` (`provenance.rs:36-37,85,127,169`).
      * None = the semiring has no exact negation (the proofs semiring —
      * the reference's TopK `negate` is likewise approximate,
      * `provenance.rs:256-262`) and NAF degrades to the anti-join. */
    negate: Option[Column => Column] = None,
    one: Column = lit(1.0),
    zero: Column = lit(0.0))

object Semiring {
  val minMaxProbability: Semiring =
    Semiring(cs => least(cs: _*), c => max(c), (a, b) => greatest(a, b),
      doublingSafe = true, negate = Some(c => lit(1.0) - c))
  /** Same (min, max) algebra, but over expiry timestamps — "1 − expiry"
    * is meaningless, so no negation. */
  val expiration: Semiring = minMaxProbability.copy(negate = None)
}

class AnnotatedReasoner(spark: SparkSession, semiring: Semiring,
    enableDoubling: Boolean = true) {

  /** Whether the last [[materialize]] call reached its fixpoint within the
    * round budget, and the rounds it consumed. Callers that cap rounds on
    * purpose (the diagnostic topk mode's deep-recursion guard) read this
    * to surface the truncation instead of silently returning a partial
    * closure. */
  @volatile var lastConverged: Boolean = true
  @volatile var lastRounds: Int = 0

  private lazy val condCompiler = new Compiler(QuadStore.empty(spark))

  /** Premise i of a rule body carries its fact's tag as `__tag$i`. */
  private def carryTag(i: Int): Seq[Column] = Seq(col("tag").as(s"__tag$i"))
  private def premiseTags(rule: Rule): Seq[Column] =
    rule.premise.indices.map(i => col(s"__tag$i"))

  /** ⊗ of a derivation's contributing tags. */
  private def product(tags: Seq[Column]): Column =
    if (tags.size == 1) tags.head else semiring.times(tags)

  /** ⊕ of the tags per fact (per `keys` + fact). */
  private[reasoner] def plusBy(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val by = keys ++ Seq("s", "p", "o")
    df.groupBy(by.head, by.tail: _*).agg(semiring.plusAgg(col("tag")).as("tag"))
  }

  /** One rule application: derived head facts tagged ⊗(premise tags),
    * ⊕-merged per fact. `delta` optionally binds premise position i to the
    * delta relation (provenance semi-naive, `provenance_semi_naive.rs:
    * 38-90` find_premise_solutions over delta triggers). */
  def applyRule(facts: DataFrame, rule: Rule,
      delta: Option[(Int, DataFrame)] = None): DataFrame =
    applyKeyedRule(facts, rule, delta, Nil)

  /** [[applyRule]] with `keys` riding every scan, join and ⊕ merge — the
    * cross-window plane's `step`. */
  private[reasoner] def applyKeyedRule(facts: DataFrame, rule: Rule,
      delta: Option[(Int, DataFrame)], keys: Seq[String]): DataFrame = {
    val b = RuleBody.body(rule, facts, delta, condCompiler.compileCond, keys, carryTag)
    val tagged = b.withColumn("tag", product(premiseTags(rule)))
    plusBy(RuleBody.head(rule, tagged, keys.map(col) :+ col("tag")), keys)
  }

  /** ⊕-merge two tagged fact sets. */
  def merge(a: DataFrame, b: DataFrame): DataFrame = plusBy(a.unionByName(b))

  /** Annotated fixpoint. Two regimes, matching ⊕'s algebra:
    *
    *  - idempotent ⊕ (min-max / boolean / expiration / proof-set union):
    *    delta-driven semi-naive — each round evaluates rules only with the
    *    improved-fact delta bound to one premise position, exactly the
    *    reference's delta-trigger mechanism
    *    (`provenance_semi_naive.rs:134-200` delta_improved), so the work
    *    per round is proportional to the frontier, not the closure.
    *  - non-idempotent ⊕ (addmult): Jacobi iteration — every round
    *    recomputes each fact's tag FRESH as seeds ⊕ {derivations over the
    *    previous tags}, stopping when tags stabilize; accumulating would
    *    ⊕ the same derivation repeatedly (the reference tolerates that
    *    and epsilon-stops; recomputing counts each derivation once). */
  def materialize(facts0: DataFrame, rules: Seq[Rule], maxRounds: Int = 100): DataFrame =
    if (semiring.idempotent) materializeSemiNaive(facts0, rules, maxRounds)
    else materializeJacobi(facts0, rules, maxRounds)

  /** Stratified negation-aware materialization, the reference's
    * provenance pipeline (`provenance_semi_naive.rs:240-266`): positive
    * rules run to the semi-naive fixpoint (stratum 0), then every rule
    * with negative premises runs in ONE negative pass (stratum 1) whose
    * derivations ⊕-merge into the closure. Requires [[Semiring.negate]]
    * when any rule carries a NOT; semirings without exact negation keep
    * using [[materialize]]'s anti-join approximation. */
  def materializeStratified(facts0: DataFrame, rules: Seq[Rule],
      maxRounds: Int = 100): DataFrame = {
    val (negRules, posRules) = rules.partition(_.negativePremise.nonEmpty)
    val closed =
      if (posRules.nonEmpty) materialize(facts0, posRules, maxRounds)
      else plusBy(facts0).localCheckpoint()
    if (negRules.isEmpty) closed
    else {
      val derived = negRules.map(r => negativePass(closed, r)).reduce(merge)
      // new facts get their pass tag; already-known facts ⊕-merge
      // (`provenance_semi_naive.rs:381` update_disjunction)
      merge(closed, derived)
    }
  }

  /** One rule's negative-stratum pass (`provenance_semi_naive.rs:297-385`):
    * bind the positive premises (filters applied), then for each negated atom — ground once
    * the binding instantiates it — contribute ⊖(tag) when the fact is
    * present and ⊤ when absent; the conclusion tag is the ⊗ of premise
    * tags and NAF contributions, zero-tag conclusions dropped. */
  private def negativePass(facts: DataFrame, rule: Rule): DataFrame = {
    val negF = semiring.negate.getOrElse(throw new IllegalArgumentException(
      "this semiring has no exact negation (Provenance::negate); " +
        "use materialize()'s anti-join NAF instead"))
    var b = RuleBody.body(rule.copy(negativePremise = Nil), facts, None,
      condCompiler.compileCond, payload = carryTag)
    val contribs = rule.negativePremise.zipWithIndex.map { case (ntp, j) =>
      val negScan = RuleBody.scan(facts, ntp, Seq(col("tag").as(s"__ntag$j")))
      val shared = negScan.columns.filter(c => c != s"__ntag$j").toSeq
      // safety (`provenance_semi_naive.rs:356-359`): a variable in a
      // negated atom must be bound by the positive premises
      require(shared.forall(b.columns.contains),
        s"unbound variable in negated atom of rule ${rule.name}")
      b =
        if (shared.isEmpty)
          b.join(broadcast(negScan.limit(1)), lit(true), "left_outer")
        else b.join(negScan, shared, "left_outer")
      when(col(s"__ntag$j").isNotNull, negF(col(s"__ntag$j")))
        .otherwise(semiring.one)
    }
    val tagged = b.withColumn("tag", product(premiseTags(rule) ++ contribs))
      .filter(col("tag") =!= semiring.zero)
    plusBy(RuleBody.head(rule, tagged, Seq(col("tag"))))
  }

  private def materializeSemiNaive(facts0: DataFrame, rules: Seq[Rule],
      maxRounds: Int): DataFrame = {
    var facts = plusBy(facts0).localCheckpointSevered()

    // Strategy choice, mirroring [[Reasoner.materializeSemiNaive]]: a
    // transitive-closure rule shape over a closed semiring is evaluated by
    // matrix-style squaring — the classic closed-semiring path problem —
    // in O(log depth) driver rounds instead of one round per level.
    if (enableDoubling && semiring.doublingSafe)
      Reasoner.transitiveShape(rules).foreach { sh =>
        if (facts.filter(col("p") === sh.head).isEmpty) {
          val closure = closureByDoubling(
            facts.filter(col("p") === sh.edge).select("s", "o", "tag"),
            maxRounds)
          return facts.unionByName(
            closure.select(col("s"), lit(sh.head).as("p"), col("o"), col("tag")))
        }
      }

    var delta = facts
    var deltaRows = -1L // unknown on round 0 (delta = all seeds)
    var round = 0
    var fastPathDepth = 0
    val fastPathCheckpointEvery = 8
    lastConverged = true
    while (round < maxRounds) {
      lastRounds = round
      // dead delta positions and the broadcast frontier, as in the plain
      // reasoner (RuleBody.deltaPositions)
      val perPosition = RuleBody.deltaPositions(rules, round, delta, deltaRows)
        .map { case (r, d) => applyRule(facts, r, Some(d)) }
      if (perPosition.isEmpty) return facts
      val derived = perPosition.reduce(merge)
      // improvement join (the D_new criterion): keep facts that are new or
      // whose ⊕-merged tag differs from the stored one
      val improved = derived.select(col("s"), col("p"), col("o"), col("tag").as("__dtag"))
        .join(facts.select(col("s"), col("p"), col("o"), col("tag").as("__ftag")),
          Seq("s", "p", "o"), "left_outer")
        .withColumn("tag", when(col("__ftag").isNull, col("__dtag"))
          .otherwise(semiring.plusPair(col("__dtag"), col("__ftag"))))
        .filter(col("__ftag").isNull || col("tag") =!= col("__ftag"))
        .withColumn("__retag", col("__ftag").isNotNull)
        .select("s", "p", "o", "tag", "__retag")
      // r12: checkpoint + BOTH convergence counts (frontier size and
      // retagged rows) fold into the materialization job — this loop used
      // to pay three actions per round (checkpoint, count, the __retag
      // isEmpty probe) for one round's worth of data. Same rows, same
      // counts, one action.
      val (improvedCk, (dn, retagged)) =
        org.apache.spark.sql.graft.CheckpointBridge.localCheckpointSeveredAgg[(Long, Long)](
          improved, (0L, 0L),
          { case ((all, rt), row) =>
              (all + 1L, if (row.getBoolean(4)) rt + 1L else rt) },
          { case ((a1, r1), (a2, r2)) => (a1 + a2, r1 + r2) })
      deltaRows = dn
      if (deltaRows == 0) return facts
      delta = improvedCk.select("s", "p", "o", "tag")
      // insert-only fast path: when no existing fact was re-tagged (the
      // common case for set-like closures — each fact's tag is fixed by
      // its first derivation), the accumulated facts are untouched and the
      // union needs no anti-join and no O(|closure|) re-checkpoint. The
      // lazy union of checkpointed deltas still deepens the plan each
      // round (and lazy unions of checkpointed frames can trip Catalyst's
      // Union constraint rewrite on self-joins — see closureByDoubling),
      // so re-materialize the accumulated union every few rounds to keep
      // plan size bounded.
      if (retagged == 0L) {
        facts = facts.unionByName(delta)
        fastPathDepth += 1
        if (fastPathDepth >= fastPathCheckpointEvery) {
          facts = facts.localCheckpointSevered()
          fastPathDepth = 0
        }
      } else {
        facts = facts.join(delta, Seq("s", "p", "o"), "left_anti")
          .unionByName(delta).localCheckpointSevered()
        fastPathDepth = 0
      }
      round += 1
      Reasoner.maybeReclaimShuffles(round)
    }
    lastConverged = false
    facts
  }

  /** Semiring transitive closure by squaring: T_{k+1}(a,c) =
    * T_k(a,c) ⊕ ⊕_b T_k(a,b) ⊗ T_k(b,c) — each round one self-join plus
    * one ⊕-groupBy over the closure so far, converged when no pair is new
    * and no tag changed. Valid for closed semirings ([[Semiring.doublingSafe]]). */
  private def closureByDoubling(edges: DataFrame, maxRounds: Int): DataFrame = {
    var t = edges.groupBy("s", "o")
      .agg(semiring.plusAgg(col("tag")).as("tag")).localCheckpointSevered()
    var round = 0
    lastConverged = false
    while (round < math.min(maxRounds, 64)) {
      lastRounds = round
      val hop = t.as("l").join(t.as("r"), col("l.o") === col("r.s"))
        .select(col("l.s").as("s"), col("r.o").as("o"),
          semiring.times(Seq(col("l.tag"), col("r.tag"))).as("tag"))
      // change detection fused into the squaring job: ⊕-aggregate the hop
      // pairs alone, full-outer-merge with the previous closure, and flag
      // new-or-improved rows — valid because doublingSafe ⊕ is
      // associative/commutative, so ⊕(T ∪ hops) = ⊕(⊕hops, T). The
      // convergence count is then a filter over the checkpointed frame,
      // not a second O(|closure|) join action per round.
      val hopAgg = hop.groupBy("s", "o").agg(semiring.plusAgg(col("tag")).as("__htag"))
      val next = t.select(col("s"), col("o"), col("tag").as("__old"))
        .join(hopAgg, Seq("s", "o"), "full_outer")
        .withColumn("tag",
          when(col("__old").isNull, col("__htag"))
            .when(col("__htag").isNull, col("__old"))
            .otherwise(semiring.plusPair(col("__htag"), col("__old"))))
        .withColumn("__chg", col("__old").isNull || col("tag") =!= col("__old"))
        .select("s", "o", "tag", "__chg")
      // r12: checkpoint + the __chg convergence count fused into the one
      // materialization job (was: checkpoint action, then a filtered
      // count action over the same blocks)
      val (nextCk, changed) =
        org.apache.spark.sql.graft.CheckpointBridge.localCheckpointSeveredAgg[Long](
          next, 0L,
          (c, row) => if (row.getBoolean(3)) c + 1L else c, _ + _)
      // the previous round's checkpoint blocks are dead once `next` is
      // materialized; dropping them eagerly (instead of waiting for the
      // weak-ref ContextCleaner, which rarely fires on a mostly-idle
      // large heap) is what keeps rep-to-rep spread down — each rep
      // otherwise accumulates every round of every prior rep on-heap
      Reasoner.unpersistCheckpoint(t)
      t = nextCk.select("s", "o", "tag")
      if (changed == 0) { lastConverged = true; return t }
      round += 1
      Reasoner.maybeReclaimShuffles(round)
    }
    t
  }

  private def materializeJacobi(facts0: DataFrame, rules: Seq[Rule],
      maxRounds: Int): DataFrame = {
    val base = plusBy(facts0).localCheckpointSevered()
    var facts = base
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      lastRounds = round
      val derived = rules.map(r => applyRule(facts, r)).reduce(merge)
      val next = merge(base, derived).localCheckpointSevered()
      // stability check: a monotone semiring's tags only grow, so the
      // iteration has converged when no fact is new or re-tagged
      val improved = next.as("n").join(facts.as("f"),
          Seq("s", "p", "o"), "left_outer")
        .filter(col("f.tag").isNull || col("n.tag") =!= col("f.tag"))
      changed = !improved.isEmpty
      facts = next
      round += 1
    }
    lastConverged = !changed
    facts
  }
}

/** Cross-window reasoning with expiry (`datalog/src/cross_window_sds.rs`,
  * `cross_window_incremental.rs`): window contents become facts whose tag
  * is an expiry time (event_time + α); derived facts live while their
  * weakest support lives; facts past expiry are dropped before querying.
  *
  * `Naive` rebuilds the materialization from all live window contents on
  * every step; `Incremental` keeps the previous materialization and feeds
  * only improved facts through the rules — the reference differentially
  * tests these two against each other (`datalog/tests/cross_window_tests.rs`),
  * as does CrossWindowSpec here.
  */
class CrossWindowReasoner(
    spark: SparkSession,
    rules: Seq[Rule],
    alphaMs: Long,
    staticFacts: Option[DataFrame] = None,
    incremental: Boolean = true) {

  private val reasoner = new AnnotatedReasoner(spark, Semiring.expiration)
  private val contents = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private var state: Option[DataFrame] = None

  private def tagStatic(df: DataFrame): DataFrame =
    df.select(col("s"), col("p"), col("o"), lit(Double.MaxValue).as("tag"))

  /** Feed one window firing's content `(s, p, o, event_time)`; returns the
    * live materialized facts as of `nowMs`. */
  def onWindow(content: DataFrame, nowMs: Long): DataFrame =
    onTagged(content.select(col("s"), col("p"), col("o"),
      (col("event_time") + lit(alphaMs.toDouble)).cast("double").as("tag")), nowMs)

  /** Same step with the expiry tags ALREADY computed — the entry point
    * for callers whose facts carry per-source α (the RSP engine's
    * cross-window mode tags each window's content with its own width). */
  def onTagged(tagged: DataFrame, nowMs: Long): DataFrame = {
    val live: DataFrame =
      if (!incremental) {
        contents += tagged.localCheckpointSevered()
        val base = (contents.toSeq ++ staticFacts.map(tagStatic)).reduce(_ unionByName _)
        reasoner.materialize(base.filter(col("tag") > nowMs), rules)
      } else {
        val base = state match {
          case None => staticFacts.map(tagStatic).map(_.unionByName(tagged)).getOrElse(tagged)
          case Some(st) => reasoner.merge(st, tagged)
        }
        reasoner.materialize(base.filter(col("tag") > nowMs), rules)
      }
    val checkpointed = live.localCheckpointSevered()
    state = Some(checkpointed)
    checkpointed
  }
}
