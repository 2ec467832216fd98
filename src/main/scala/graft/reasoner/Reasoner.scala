package graft.reasoner

import graft.reasoner.Reasoner.RoundCheckpointOps
import graft.reasoner.RuleBody.constPred
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.QuadStore
import graft.sparql.Ast._
import graft.sparql.Compiler

/** Datalog forward-chaining over the quad store's default graph:
  * naive and semi-naive materialization with stratified negation (NAF) —
  * the Spark rebuild of the reference's materialisation modules
  * (`datalog/src/reasoning/materialisation`: `my_naive.rs`,
  * `semi_naive.rs:10-92`) and `shared/src/rule.rs:21-57`.
  *
  * Execution model: each rule premise is a pattern scan over the facts
  * DataFrame joined on shared variables (the reference's
  * `perform_hash_join_for_rules`, `shared/src/join_algorithm.rs:64-265`,
  * becomes a plain equi-join Catalyst plans as broadcast/SMJ), compiled by
  * [[RuleBody]] with no carried columns. The fixpoint loop runs on the
  * driver; every round `localCheckpoint`s the accumulated facts to
  * truncate plan lineage (SURVEY §7.4.2), so a 10K-deep taxonomy closure
  * doesn't build a 10K-node logical plan.
  *
  * Semi-naive: per round, for each rule and each positive premise
  * position i, evaluate with premise i bound to Δ and the rest to the
  * full fact set; union, dedup, subtract known facts (`semi_naive.rs`).
  */
object Reasoner {

  /** Eagerly drop the cached blocks behind a `localCheckpoint`'d frame
    * whose data is no longer reachable (the caller has materialized its
    * successor). The weak-ref ContextCleaner rarely fires on a
    * mostly-idle large heap, so without this every fixpoint round of
    * every rep stays resident — the measured source of rep-to-rep
    * spread on the semiring closures. Best-effort: frames that are not
    * checkpoint-backed are left untouched. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `localCheckpoint` for FIXPOINT rounds: severed from the origin
    * plan's statistics/constraints ([[org.apache.spark.sql.graft.CheckpointBridge]]).
    * Spark 4's checkpoint leaf carries the origin stats forward, and
    * size-only stats MULTIPLY across joins — so a checkpoint-per-round
    * loop doubles the `sizeInBytes` BigInt's bit length every round:
    * the depth-100 linear taxonomy probe measured 0.3 s rounds
    * exploding to 276 s by round 25 (the optimizer multiplying
    * million-bit integers) and BigInteger overflow soon after. Loop
    * code hints its broadcasts explicitly, so the severed leaf's
    * `defaultSizeInBytes` costs nothing. */
  def ckRound(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.CheckpointBridge.localCheckpointSevered(df)

  /** [[ckRound]] + row count in ONE action (r12): every fixpoint round
    * used to pay a second blocking action (a fresh SQL execution +
    * scheduled job) just to read the convergence count off blocks the
    * checkpoint had already materialized — at bench scale that fixed
    * per-action latency is the dominant per-round constant
    * (optimization guide §1.2). Identical rows, identical count. */
  def ckRoundCounted(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Long) =
    org.apache.spark.sql.graft.CheckpointBridge.localCheckpointSeveredCounted(df)

  /** Syntax for [[ckRound]]: `df.localCheckpointSevered()` — drop-in for
    * `localCheckpoint()` at fixpoint-round call sites. */
  implicit class RoundCheckpointOps(private val df: org.apache.spark.sql.DataFrame) {
    def localCheckpointSevered(): org.apache.spark.sql.DataFrame = ckRound(df)
    def localCheckpointSeveredCounted(): (org.apache.spark.sql.DataFrame, Long) =
      ckRoundCounted(df)
  }

  /** Run two independent checkpoint-and-count actions CONCURRENTLY (guide
    * §2.6 "overlap independent jobs"): `fb` on a pool thread while `fa`
    * runs on the caller's thread; returns both. Actions are only
    * sequential because driver code calls them sequentially — inside a
    * fixpoint round the R-advance and the J-square read the SAME immutable
    * checkpoints and write different ones, so overlapping them cuts the
    * driver-paced wall to max(tA, tB) without touching what either
    * computes. When either side fails, the other side is awaited and its
    * checkpoint blocks dropped before the failure rethrows: a detached job
    * must not outlive the call and keep its blocks cached. */
  def inParallel(fa: => (DataFrame, Long),
      fb: => (DataFrame, Long)): ((DataFrame, Long), (DataFrame, Long)) = {
    val fut = scala.concurrent.Future(fb)(scala.concurrent.ExecutionContext.global)
    def awaitB() = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
    val a = try fa catch { case e: Throwable =>
      scala.util.Try(awaitB()).foreach { case (df, _) => unpersistCheckpoint(df) }
      throw e
    }
    val b = try awaitB() catch { case e: Throwable =>
      unpersistCheckpoint(a._1)
      throw e
    }
    (a, b)
  }

  /** Long fixpoints also leak shuffle FILES: ContextCleaner deletes a
    * round's shuffle directories only when driver GC collects the
    * ShuffleDependency, and on a large mostly-idle heap that may be
    * never — the 100× closure probe filled 78 GB of /tmp with dead
    * per-round shuffle files before any single job needed more than a
    * few GB live. Once a round's frame is checkpointed, the shuffles
    * that COMPUTED it are unreachable; a periodic collector nudge lets
    * ContextCleaner reclaim them while the loop is still running. The
    * period is a latency/space trade: a System.gc() on a grown 64 g heap
    * is 0.5-1.5 s, which DOUBLED the ~10-round sf0.1 closures when the
    * nudge fired at round 8 (measured r7: seminaive 3.6 → 5.2 s; back
    * at 3.8-4.5 with the nudge deferred) — while the shuffle-file leak
    * only threatens fixpoints that run HUNDREDS of rounds (the 78 GB
    * probe was a depth-1000+ chain). Firing first at round 16 keeps
    * short closures GC-free and bounds a long loop's dead-file window
    * at 16 rounds' worth — a few GB at the scales where rounds are
    * expensive. */
  private val reclaimEvery = 16
  def maybeReclaimShuffles(round: Int): Unit =
    if (round > 0 && round % reclaimEvery == 0) System.gc()

  /** Detected transitive-closure rule shape: a two-rule set
    * `{ H(x,y) ← E(x,y);  H(x,z) ← P₁(x,y), P₂(y,z) }` with constant
    * predicates, `P₁P₂ ∈ {EH, HE, HH}`, no filters/negation/quoted terms,
    * and all variables distinct. The least fixpoint of such a set over a
    * fact base with no pre-existing `H` facts is exactly the transitive
    * closure `E⁺` — independent of which linear/non-linear form the step
    * rule takes. */
  final case class TransitiveShape(edge: String, head: String)

  /** The variable name at a pattern position (shape matching). */
  private def v(t: Term): Option[String] =
    t match { case Var(n) => Some(n); case _ => None }

  /** Recognize the transitive-closure shape, or None when the rules need
    * the general fixpoint. Ignores PROB annotations (the semiring engine
    * does its own gating on the ⊕/⊗ algebra). */
  def transitiveShape(rules: Seq[Rule]): Option[TransitiveShape] = {
    if (rules.size != 2) return None
    if (rules.exists(r => r.filters.nonEmpty || r.negativePremise.nonEmpty ||
        r.conclusion.size != 1)) return None
    val (bases, steps) = rules.partition(_.premise.size == 1)
    if (bases.size != 1 || steps.size != 1 || steps.head.premise.size != 2) return None
    val (base, step) = (bases.head, steps.head)
    for {
      e <- constPred(base.premise.head.p)
      h <- constPred(base.conclusion.head.p)
      if e != h
      bx <- v(base.premise.head.s); by <- v(base.premise.head.o)
      cx <- v(base.conclusion.head.s); cy <- v(base.conclusion.head.o)
      if bx == cx && by == cy && bx != by
      p1 <- constPred(step.premise(0).p); p2 <- constPred(step.premise(1).p)
      if Set(p1, p2).subsetOf(Set(e, h)) && (p1 == h || p2 == h)
      if constPred(step.conclusion.head.p).contains(h)
      ax <- v(step.premise(0).s); ay <- v(step.premise(0).o)
      mx <- v(step.premise(1).s); mz <- v(step.premise(1).o)
      sx <- v(step.conclusion.head.s); sz <- v(step.conclusion.head.o)
      if ay == mx && sx == ax && sz == mz && Set(ax, ay, mz).size == 3
    } yield TransitiveShape(e, h)
  }

  /** The EYE deep-taxonomy rule shape (`deep_taxonomy.rs:70-94`, the
    * reference's second published benchmark): the single rule
    * `type(X,C) ∧ sub(C,D) → type(X,D)` — membership PROPAGATION along a
    * static hierarchy, not hierarchy closure. Recognizing it matters
    * because the two generic strategies both degenerate on a deep chain:
    * linear semi-naive needs one driver-paced round per LEVEL (10K rounds
    * at depth 10K), and all-pairs doubling of sub* computes a quadratic
    * closure nobody asked for (50M pairs at 10K, with O(N·4^k) join
    * intermediates). The single-source-set doubling in
    * [[Reasoner!.typeClosureByDoubling]] is the O(log depth)-round,
    * O(N·log N)-work evaluation. */
  final case class TypePropagationShape(typePred: String, subPred: String)

  def typePropagationShape(rules: Seq[Rule]): Option[TypePropagationShape] = {
    if (rules.size != 1) return None
    val r = rules.head
    if (r.filters.nonEmpty || r.negativePremise.nonEmpty ||
      r.conclusion.size != 1 || r.premise.size != 2) return None
    // accept either premise order
    Seq(r.premise, r.premise.reverse).flatMap { case Seq(pT, pS) =>
      for {
        ty <- constPred(pT.p); sub <- constPred(pS.p)
        if ty != sub
        if constPred(r.conclusion.head.p).contains(ty)
        x <- v(pT.s); cc <- v(pT.o)
        cs <- v(pS.s); d <- v(pS.o)
        if cc == cs && Set(x, cc, d).size == 3
        hx <- v(r.conclusion.head.s); hd <- v(r.conclusion.head.o)
        if hx == x && hd == d
      } yield TypePropagationShape(ty, sub)
    }.headOption
  }
}

class Reasoner(spark: SparkSession, enableDoubling: Boolean = true) {

  private lazy val condCompiler = new Compiler(QuadStore.empty(spark))

  /** One rule's derived `(s, p, o)` facts ([[RuleBody]] with no carried
    * columns). */
  private def derive(rule: Rule, facts: DataFrame,
      delta: Option[(Int, DataFrame)]): DataFrame =
    RuleBody.head(rule, RuleBody.body(rule, facts, delta, condCompiler.compileCond))

  /** Naive fixpoint: apply all rules to all facts until no new facts. */
  def materializeNaive(facts0: DataFrame, rules: Seq[Rule],
      maxRounds: Int = 1000): DataFrame = {
    var (facts, size) = facts0.select("s", "p", "o").distinct().localCheckpointSeveredCounted()
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      val derived = rules.map(derive(_, facts, None)).reduce(_ unionByName _)
      // checkpoint + convergence count fused into one action (r12)
      val (next, n) = facts.unionByName(derived).distinct().localCheckpointSeveredCounted()
      // eagerly drop the superseded round's blocks — the weak-ref
      // ContextCleaner rarely fires on an idle heap (same hygiene as
      // AnnotatedReasoner.closureByDoubling)
      Reasoner.unpersistCheckpoint(facts)
      facts = next
      changed = n > size
      size = n
      round += 1
    }
    facts
  }

  /** Semi-naive fixpoint (`semi_naive.rs:10-92`): per round only join the
    * delta in each premise position. The standard recursive-Datalog
    * optimization — the delta shrinks to the closure frontier instead of
    * re-deriving everything every round.
    *
    * Scale posture (round-2 rework): the accumulated closure is a plain
    * union of the checkpointed per-round deltas — the delta is dedup'd and
    * anti-joined disjoint from the known facts, so the union stays distinct
    * without an O(rounds × |closure|) re-shuffle/re-checkpoint per round.
    * When every rule head has a constant predicate, a premise position
    * whose constant predicate is outside the head set can never match the
    * delta after round 0 (delta facts only carry head predicates), so those
    * positions are skipped, and the anti-join's known side is pruned to
    * head-predicate facts. Small deltas are broadcast into the premise
    * joins, making each round shuffle-free on the facts side. */
  def materializeSemiNaive(facts0: DataFrame, rules: Seq[Rule],
      maxRounds: Int = 1000): DataFrame = {
    var facts = facts0.select("s", "p", "o").distinct().localCheckpointSevered()

    // Strategy choice (optimizer-style — same declarative rules, different
    // physical plan): a transitive-closure rule set over a base with no
    // pre-existing head facts is evaluated by recursive doubling —
    // O(log depth) rounds instead of O(depth). Linear semi-naive needs one
    // Spark round per closure level; the reference's own flagship demo (a
    // 10K-deep taxonomy, README.md:1057-1068) would cost 10K driver-paced
    // rounds here, vs 14 doubling rounds. Per-round scheduling, not
    // per-round data volume, is the fixpoint bottleneck on a cluster.
    if (enableDoubling) Reasoner.transitiveShape(rules).foreach { sh =>
      if (facts.filter(col("p") === sh.head).isEmpty) {
        val closure = closureByDoubling(
          facts.filter(col("p") === sh.edge).select("s", "o"), maxRounds)
        return facts.unionByName(
          closure.select(col("s"), lit(sh.head).as("p"), col("o")))
      }
    }

    if (enableDoubling) Reasoner.typePropagationShape(rules).foreach { sh =>
      val closure = typeClosureByDoubling(
        facts.filter(col("p") === sh.typePred).select("s", "o"),
        facts.filter(col("p") === sh.subPred).select("s", "o"),
        maxRounds)
      return facts.unionByName(
          closure.select(col("s"), lit(sh.typePred).as("p"), col("o")))
        .distinct()
    }

    var delta = facts
    var deltaRows = -1L // unknown on round 0 (delta = full facts)
    var round = 0
    // Deep-fixpoint lineage control: `facts` grows by one union node per
    // round, and past ~a few hundred rounds the PLAN TREE itself is the
    // scale killer — Catalyst's optimizer recursion over a 1000-deep
    // union chain dies before any task runs (observed: depth-1000 linear
    // taxonomy probe). Collapse the lineage every `ckEvery` rounds with a
    // localCheckpoint; prior facts-checkpoint blocks and all folded delta
    // checkpoints (except the live one feeding the next round's join) are
    // dead at that point and dropped eagerly.
    val ckEvery = 64
    val headPreds = RuleBody.headPreds(rules)
    var lastFactsCk: DataFrame = null
    var foldedDeltas = List.empty[DataFrame]
    while (round < maxRounds) {
      val perPosition = RuleBody.deltaPositions(rules, round, delta, deltaRows)
        .map { case (r, d) => derive(r, facts, Some(d)) }
      if (perPosition.isEmpty) return facts
      val derived = perPosition.reduce(_ unionByName _)
      // Only head-predicate facts can collide with the derivations.
      val known = headPreds match {
        case Some(hp) => facts.filter(col("p").isin(hp.toSeq: _*))
        case None => facts
      }
      // distinct() after the anti-join: the join already hash-partitioned
      // the derived side on (s,p,o), so the aggregate adds no exchange.
      // Checkpoint + frontier count fused into one action (r12).
      val (d, dn) = derived.join(known, Seq("s", "p", "o"), "left_anti")
        .distinct().localCheckpointSeveredCounted()
      delta = d
      deltaRows = dn
      if (deltaRows == 0) return facts
      facts = facts.unionByName(delta)
      foldedDeltas ::= delta
      round += 1
      Reasoner.maybeReclaimShuffles(round)
      if (round % ckEvery == 0) {
        val ck = Reasoner.ckRound(facts)
        if (lastFactsCk != null) Reasoner.unpersistCheckpoint(lastFactsCk)
        // every folded delta except the newest (it feeds the next round's
        // join) is now covered by the facts checkpoint
        foldedDeltas.drop(1).foreach(Reasoner.unpersistCheckpoint)
        foldedDeltas = foldedDeltas.take(1)
        facts = ck
        lastFactsCk = ck
      }
    }
    facts
  }

  /** Transitive closure by recursive doubling: T₀ = E,
    * T_{k+1} = T_k ∪ T_k∘T_k — after k rounds T_k holds every pair
    * reachable in ≤ 2^k hops, so the fixpoint lands in ⌈log₂ depth⌉ + 1
    * rounds. Each round is one self-equi-join + distinct on the closure
    * so far; the total shuffle volume is O(|closure| · log depth), and the
    * round count — the driver-paced part — is logarithmic. */
  private def closureByDoubling(edges: DataFrame, maxRounds: Int): DataFrame = {
    // Re-materializing the full closure each round is deliberate: a
    // delta-only variant (anti-join new pairs, closure as a lazy union of
    // checkpointed deltas) measured no faster — the squaring self-join
    // dominates, not the distinct — and lazy unions of checkpointed
    // frames trip Catalyst's Union constraint rewrite on shared
    // attribute ids. log₂(depth) rounds keeps the total re-shuffle at
    // O(|closure| · log depth) either way.
    var (t, n) = edges.distinct().localCheckpointSeveredCounted()
    var round = 0
    while (round < math.min(maxRounds, 64)) {
      val hop = t.as("l").join(t.as("r"), col("l.o") === col("r.s"))
        .select(col("l.s").as("s"), col("r.o").as("o"))
      // checkpoint + convergence count fused into one action (r12)
      val (next, n2) = t.unionByName(hop).distinct().localCheckpointSeveredCounted()
      // drop the superseded round's blocks (AnnotatedReasoner hygiene)
      Reasoner.unpersistCheckpoint(t)
      t = next
      if (n2 == n) return t
      n = n2
      round += 1
      Reasoner.maybeReclaimShuffles(round)
    }
    t
  }

  /** Deep-taxonomy evaluation by SINGLE-SOURCE-SET pointer doubling: the
    * type-propagation fixpoint (type(X,C) ∧ sub(C,D) → type(X,D)) equals
    * "X is typed at every class reachable from its declared classes via
    * sub*" — a reachability problem from the type frontier, NOT an
    * all-pairs closure. Two relations advance together, ⌈log₂ depth⌉
    * rounds total:
    *
    *   R_k — (individual, class) pairs within distance 2^k − 1 of a
    *         declared class;  R_{k+1} = R_k ∪ R_k ∘ J_k
    *   J_k — EXACT-2^k-step jumps;  J_{k+1} = J_k ∘ J_k
    *
    * Correctness: any distance d decomposes into distinct powers of two
    * (binary), and processing k ascending applies each power at most
    * once on top of all smaller sums — after round k, R covers every
    * distance ≤ 2^{k+1} − 1. Termination on stall is sound because
    * shortest distances from the frontier form a gapless interval (a
    * shortest path's predecessor is one closer), so an empty doubling
    * interval means the maximum distance is already covered; an empty
    * J_k (no 2^k-path anywhere) likewise. Work per round is O(|R| + |J|)
    * — for chain/tree taxonomies J stays |E|-sized, so the total is
    * O(N·log N) with O(log N) driver-paced rounds, vs the reference's
    * per-level semi-naive (`deep_taxonomy.rs:103-113` — fast in-memory,
    * but 10K sequential rounds on a cluster is scheduling death) and vs
    * all-pairs doubling's O(N·4^k) join intermediates. tools.
    * DeepTaxonomyProbe records wall time + rounds at depths 10..10K
    * (BASELINE.md row 2 parity). */
  private def typeClosureByDoubling(types: DataFrame, sub: DataFrame,
      maxRounds: Int): DataFrame = {
    // r12: each round used to pay FOUR sequential blocking actions
    // (R checkpoint, R count, J checkpoint, J count). Two moves, results
    // untouched: (1) checkpoint + count fuse into ONE action
    // (ckRoundCounted); (2) the R-advance and the J-square are
    // INDEPENDENT given the previous round's (r, j) checkpoints, so they
    // run as CONCURRENT jobs (guide §2.6) — the driver wall per round is
    // max(tR, tJ) instead of tR + tJ. The J-square is speculative on the
    // stall round (the old code skipped it after seeing R stall); that
    // wastes one small job per ENTRY against an overlap win on EVERY
    // round, and the speculative result is discarded unread.
    var ((r, n), (j, jn)) = Reasoner.inParallel(
      types.distinct().localCheckpointSeveredCounted(),
      sub.distinct().localCheckpointSeveredCounted())
    var round = 0
    while (round < math.min(maxRounds, 64) && jn > 0) {
      val stepped = r.as("l").join(j.as("r"), col("l.o") === col("r.s"))
        .select(col("l.s").as("s"), col("r.o").as("o"))
      val ((nextR, n2), (jj, jn2)) = Reasoner.inParallel(
        r.unionByName(stepped).distinct().localCheckpointSeveredCounted(),
        j.as("l").join(j.as("r"), col("l.o") === col("r.s"))
          .select(col("l.s").as("s"), col("r.o").as("o"))
          .distinct().localCheckpointSeveredCounted())
      Reasoner.unpersistCheckpoint(r)
      r = nextR
      if (n2 == n) {
        Reasoner.unpersistCheckpoint(j); Reasoner.unpersistCheckpoint(jj)
        return r
      }
      n = n2
      Reasoner.unpersistCheckpoint(j)
      j = jj
      jn = jn2
      round += 1
      Reasoner.maybeReclaimShuffles(round)
    }
    r
  }

  /** Materialize into a store's default graph (API parity with the
    * reference's `infer_generic` driver).
    *
    * Relevance slicing: when every premise predicate is a constant, only
    * facts carrying a referenced predicate (premise, negative premise, or
    * rule head) can ever participate in the fixpoint — the rest of the
    * store never enters the loop. This is the Spark analogue of the
    * reference's rule-index dispatch (`shared/src/rule_index.rs`): on a
    * wide store (every table triplized) a two-predicate rule set touches
    * two predicate clusters, not the whole corpus — the difference
    * between checkpointing thousands of rows and millions per round. */
  def materialize(store: QuadStore, rules: Seq[Rule],
      semiNaive: Boolean = true): QuadStore = {
    val referenced = rules.flatMap(r =>
      (r.premise ++ r.negativePremise ++ r.conclusion).map(tp => constPred(tp.p)))
    val allFacts = store.quads.filter(col("g").isNull).select("s", "p", "o")
    val facts0 =
      if (referenced.nonEmpty && referenced.forall(_.isDefined))
        allFacts.filter(col("p").isin(referenced.flatten.distinct: _*))
      else allFacts
    val closed =
      if (semiNaive) materializeSemiNaive(facts0, rules)
      else materializeNaive(facts0, rules)
    val derived = closed.join(facts0.distinct(), Seq("s", "p", "o"), "left_anti")
    store.insert(derived.withColumn("g", lit(null).cast(StringType)))
    store
  }
}
