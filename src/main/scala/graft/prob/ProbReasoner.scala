package graft.prob

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.QuadStore
import graft.reasoner.{AnnotatedReasoner, Semiring}
import graft.sparql.Ast._
import graft.sparql.Compiler

/** PROB-annotated rule execution — the Spark rebuild of the reference's
  * probabilistic inference dispatch (`kolibrie/src/parser.rs:3784-3927`)
  * and the hybrid top-k certified-interval evaluator
  * (`shared/src/hybrid.rs:1160-1240,1415-1560`), including the SDD
  * escalation arm: facts the interval cannot decide compile their lineage
  * to an [[Sdd]] under the annotation's node budget; only facts whose
  * proof enumeration was truncated upstream (or whose SDD outgrows the
  * budget) are emitted as `NeedsExact`.
  *
  * Seeds are a DataFrame `(s, p, o, prob)`; seed identity is
  * `xxhash64(s,p,o)` (deterministic, join-free — the reference's
  * `SeedRegistry` allocates ids driver-side, `hybrid.rs:104-160`).
  *
  * Evaluation is distributed: lineage rides the facts as a column
  * ([[Lineage]]), and the per-fact interval evaluation is a scalar
  * function of that column — no driver-side collect of facts. The WMC of
  * the retained proofs is exact inclusion-exclusion (`provenance.rs:
  * 299-318`), capped at [[ProbReasoner.MaxWmcProofs]] proofs per fact.
  */
object ProbReasoner {

  /** Proof-DNF retention cap for the diagnostic/wmc modes (the hybrid
    * mode retains `k_max + 1`). Evaluation itself is exact at any size
    * via [[Wmc.exact]]; the cap only bounds what rides the fact rows. */
  val MaxWmcProofs = 64

  val ProbNs = "http://www.w3.org/ns/prob#"

  /** Exact WMC of a set of proofs over independent seeds; seeds shared
    * between proofs are counted once per model ([[Wmc.exact]] Shannon
    * expansion — the same quantity as `provenance.rs:299-318`
    * recover_probability's inclusion-exclusion). */
  def wmcOfProofs(proofs: Seq[Map[Long, Double]],
      groups: Map[Long, Long] = Map.empty): Double = {
    if (proofs.isEmpty) return 0.0
    val probs = proofs.foldLeft(Map.empty[Long, Double])(_ ++ _)
    Wmc.exact(proofs.map(_.keySet), probs, groups)
  }

  /** Exact WMC via SDD compilation under a node budget — the reference's
    * escalation target (`hybrid.rs:1310-1375` compile_sdd + wmc). Returns
    * Left(reason) when the arena outgrows the budget, mirroring
    * `SddBudgetError::NodeBudgetExceeded` → the caller stays NeedsExact. */
  def sddWmcOfProofs(proofs: Seq[Map[Long, Double]],
      groups: Map[Long, Long], nodeBudget: Int): Either[String, Double] = {
    if (proofs.isEmpty) return Right(0.0)
    val probs = proofs.foldLeft(Map.empty[Long, Double])(_ ++ _)
    try Right(Sdd.wmcOfDnf(proofs.map(_.keySet), probs, groups, nodeBudget))
    catch { case _: SddBudgetExceeded => Left("sdd-node-budget") }
  }

  /** Typed result of the per-fact ladder (UDF return shape). */
  final case class HybridResult(status: String, decision: String, reason: String,
      value: Option[Double], lower: Option[Double], upper: Option[Double], k_used: Int)

  /** Per-fact hybrid escalation ladder (`hybrid.rs:1496-1590`
    * evaluate_hybrid_controlled): evaluate at growing k until the
    * certified interval decides, then escalate to the exact arm.
    *
    *  - at each k: Exact if the enumeration is exhaustive within k;
    *    Bounded Alert when the lower bound crosses the threshold; Bounded
    *    NoAlert when the upper bound stays below it
    *  - k grows (×k_growth up to k_max) while the bound is near the
    *    threshold (band_epsilon) or still climbing (marginal_gain_floor)
    *  - exact arm: the retained DNF (complete whenever nothing truncated
    *    upstream) is compiled to an [[Sdd]] under `sddNodeBudget` and
    *    model-counted exactly (`hybrid.rs:1310-1375`); budget overrun →
    *    NeedsExact "sdd-node-budget". Facts whose proof enumeration WAS
    *    truncated (> k_max+1 proofs) stay NeedsExact — recovering them
    *    needs the full lineage DAG. */
  private def evalOne(proofs: Seq[Map[Long, Double]], trunc: Boolean,
      ann: ProbAnnotation, threshold: Double,
      groups: Map[Long, Long] = Map.empty): HybridResult = {
    val exhaustive = !trunc
    def alert(p: Double) = if (p >= threshold) "Alert" else "NoAlert"
    // exclusive groups invalidate the independent-proof bound arithmetic:
    // the reference's top-k refuses them (`hybrid.rs:1492` supported_topk)
    // and only the exact engine answers
    def exactArm(lo: Option[Double], up: Option[Double]): HybridResult =
      sddWmcOfProofs(proofs, groups, ann.sddNodeBudget) match {
        case Right(p) =>
          HybridResult("Exact", alert(p), "exact-sdd", Some(p), None, None, proofs.size)
        case Left(reason) =>
          HybridResult("NeedsExact", "Indeterminate", reason, None, lo, up, 0)
      }
    if (groups.nonEmpty) {
      if (exhaustive) return exactArm(None, None)
      return HybridResult("NeedsExact", "Indeterminate", "exclusivity-requires-exact",
        None, None, None, 0)
    }
    var k = math.max(1, ann.kInitial)
    var lastLo = 0.0
    var lastUp = 1.0
    while (true) {
      if (exhaustive && proofs.size <= k) {
        val p = wmcOfProofs(proofs)
        return HybridResult("Exact", alert(p), "top-k-exhausted",
          Some(p), None, None, proofs.size)
      }
      val lo = wmcOfProofs(proofs.take(k))
      val probeMass = proofs.drop(k).map(_.valuesIterator.product).sum
      val up = if (exhaustive) math.min(1.0, lo + probeMass) else 1.0
      lastLo = lo; lastUp = up
      if (lo >= threshold)
        return HybridResult("Bounded", "Alert", "lower-bound-crossed-threshold",
          None, Some(lo), Some(up), math.min(k, proofs.size))
      if (up < threshold)
        return HybridResult("Bounded", "NoAlert", "upper-bound-below-threshold",
          None, Some(lo), Some(up), math.min(k, proofs.size))
      val near = math.abs(threshold - lo) <= ann.bandEpsilon
      val climbing = proofs.size > k &&
        (wmcOfProofs(proofs.take(k + 1)) - lo).max(0.0) >= ann.marginalGainFloor
      if (k >= ann.kMax || (!near && !climbing)) {
        if (exhaustive) return exactArm(Some(lastLo), Some(lastUp))
        return HybridResult("NeedsExact", "Indeterminate", "sdd-budget",
          None, Some(lastLo), Some(lastUp), math.min(k, proofs.size))
      }
      k = math.min(k * math.max(ann.kGrowth, 2), ann.kMax)
    }
    throw new IllegalStateException("unreachable")
  }

  private def zipProofs(sids: Seq[Seq[Long]], sps: Seq[Seq[Double]]): Seq[Map[Long, Double]] =
    sids.lazyZip(sps).map((is, ps) => is.zip(ps).toMap)

  private def groupsOf(sids: Seq[Seq[Long]], grps: Seq[Seq[Long]]): Map[Long, Long] =
    sids.lazyZip(grps).flatMap((is, gs) => is.zip(gs)).filter(_._2 >= 0).toMap

  /** Split a lineage tag into UDF-friendly parallel arrays. */
  private def proofParts(tag: Column): (Column, Column, Column) = (
    transform(tag.getField("proofs"), p => transform(p, x => x.getField("sid"))),
    transform(tag.getField("proofs"), p => transform(p, x => x.getField("sp"))),
    transform(tag.getField("proofs"), p => transform(p, x => x.getField("grp"))))

  private def proofNegs(tag: Column): Column =
    transform(tag.getField("proofs"), p => transform(p, x => x.getField("neg")))

  /** Exact value of a possibly-signed proof formula: the positive path
    * keeps the group-aware Shannon evaluator; signed clauses (from the
    * negative stratum's ⊖) go through the signed evaluator — exclusive
    * groups and NAF literals cannot be combined (the reference's DnfWmc
    * provenance has no group notion either). */
  private def exactOfParts(sids: Seq[Seq[Long]], sps: Seq[Seq[Double]],
      grps: Seq[Seq[Long]], negs: Seq[Seq[Boolean]]): Double = {
    val hasNeg = negs.exists(_.exists(identity))
    if (!hasNeg) wmcOfProofs(zipProofs(sids, sps), groupsOf(sids, grps))
    else {
      require(groupsOf(sids, grps).isEmpty,
        "NAF literals cannot be combined with exclusive-group seeds")
      val probs = sids.flatten.zip(sps.flatten).toMap
      val clauses = sids.lazyZip(negs).map((is, ns) =>
        is.zip(ns.map(n => !n)).toSet: Wmc.SignedClause)
      Wmc.exactSigned(clauses.toSeq, probs)
    }
  }

  /** Column-level evaluator over a [[Lineage]] tag. A Scala UDF (not an
    * Expression): the escalation ladder is real control flow with
    * recursion and memoization, and it runs distributed on the fact rows.
    *
    * `recoverable` (optional accumulator) counts rows whose NeedsExact is
    * fixable by re-deriving at a larger retention — letting the caller
    * learn "does anything need recovery?" from the SAME job that
    * materializes the ladder, with no second probe action. Accumulator
    * updates from retried tasks can only overcount, and the caller only
    * branches on zero vs non-zero: an overcount triggers a recovery pass
    * whose semi-join then finds its targets normally (possibly none). */
  def hybridEvalColumn(tag: Column, ann: ProbAnnotation, threshold: Double,
      recoverable: Option[org.apache.spark.util.LongAccumulator] = None): Column = {
    val f = udf((sids: Seq[Seq[Long]], sps: Seq[Seq[Double]], grps: Seq[Seq[Long]],
        trunc: Boolean) => {
      val r = evalOne(zipProofs(sids, sps), trunc, ann, threshold, groupsOf(sids, grps))
      if (r.status == "NeedsExact" && RecoverableReasons.contains(r.reason))
        recoverable.foreach(_.add(1))
      r
    })
    val (sids, sps, grps) = proofParts(tag)
    f(sids, sps, grps, tag.getField("trunc"))
  }

  /** NeedsExact reasons fixable by re-deriving at a larger proof
    * retention; evalOne emits them only on truncated enumerations
    * ("sdd-node-budget" is not fixable by more retention). */
  val RecoverableReasons: Set[String] = Set("sdd-budget", "exclusivity-requires-exact")

  /** Estimate column for diagnostic `topk` provenance
    * (`parser.rs:3888-3927` UnsafeApproximation). */
  def topkEstimateColumn(tag: Column): Column = {
    val f = udf((sids: Seq[Seq[Long]], sps: Seq[Seq[Double]], grps: Seq[Seq[Long]]) =>
      wmcOfProofs(zipProofs(sids, sps).take(MaxWmcProofs), groupsOf(sids, grps)))
    val (sids, sps, grps) = proofParts(tag)
    f(sids, sps, grps)
  }

  // ---- seed tagging -------------------------------------------------------

  /** Tag seed facts with single-seed lineage proofs. An optional `grp`
    * column marks exclusive groups (null / absent = independent). */
  def lineageSeeds(seeds: DataFrame): DataFrame = {
    val grp = if (seeds.columns.contains("grp"))
      coalesce(col("grp").cast("bigint"), lit(-1L)) else lit(-1L)
    seeds.select(col("s"), col("p"), col("o"),
      Lineage.seedTag(xxhash64(col("s"), col("p"), col("o")), col("prob"), grp).as("tag"))
  }

  /** Tag seed facts with a scalar probability (minmax/addmult/boolean). */
  def scalarSeeds(seeds: DataFrame): DataFrame =
    seeds.select(col("s"), col("p"), col("o"), col("prob").cast("double").as("tag"))

  // ---- provenance dispatch (`parser.rs:3792-3927`) ------------------------

  /** ⊕ = a+b−ab, ⊗ = ab over independent probabilities
    * (`provenance.rs:111-148` AddMultProbability). The grouped ⊕ is
    * 1 − ∏(1−p) via exp·sum·log with a floor to keep log finite. */
  val addMultProbability: Semiring = Semiring(
    cs => cs.reduce(_ * _),
    c => lit(1.0) - exp(sum(log(greatest(lit(1e-300), lit(1.0) - c)))),
    (a, b) => a + b - a * b,
    idempotent = false,
    negate = Some(c => lit(1.0) - c))

  /** ⊗=AND, ⊕=OR over {0,1} tags (`provenance.rs:153-188`) — the min/max
    * algebra restricted to booleans. */
  val booleanProvenance: Semiring = Semiring(
    cs => least(cs: _*), c => max(c), (a, b) => greatest(a, b),
    doublingSafe = true, negate = Some(c => lit(1.0) - c))

  /** Run PROB-annotated rules over scalar-semiring provenance and
    * return `(s, p, o, probability)` facts (derived only). Rules with
    * negative premises evaluate under the stratified negation-aware
    * pipeline (present fact → ⊖ tag, absent → ⊤) when the semiring has
    * exact negation. */
  def scalarMaterialize(spark: SparkSession, seeds: DataFrame, rules: Seq[Rule],
      semiring: Semiring): DataFrame = {
    val r = new AnnotatedReasoner(spark, semiring)
    val tagged = scalarSeeds(seeds)
    val closed =
      if (rules.exists(_.negativePremise.nonEmpty) && semiring.negate.isDefined)
        r.materializeStratified(tagged, rules)
      else r.materialize(tagged, rules)
    closed.join(tagged.select("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
      .withColumnRenamed("tag", "probability")
  }

  /** Hybrid v1 refuses recursion (`hybrid.rs` UnsupportedRecursion;
    * `kolibrie/tests/hybrid_test.rs:47-58`): a conclusion predicate that
    * reappears among any rule's premise predicates would grow the lineage
    * cone unboundedly. */
  private def checkNonRecursive(rules: Seq[Rule]): Unit = {
    import graft.reasoner.RuleBody.constPred
    val heads = rules.flatMap(_.conclusion).map(tp => constPred(tp.p))
    val premises = rules.flatMap(r => r.premise ++ r.negativePremise).map(tp => constPred(tp.p))
    val recursive = heads.exists(h => h.isEmpty || premises.exists(p => p.isEmpty || p == h))
    if (recursive) throw new IllegalArgumentException(
      "hybrid v1 does not support recursion: rule head predicate feeds its own premises")
  }

  /** Hybrid inference: derive facts with full lineage, evaluate each
    * fact's certified interval, decide against the threshold. Returns
    * `(s, p, o, status, decision, reason, value, lower, upper, k_used)`. */
  def hybridMaterialize(spark: SparkSession, seeds: DataFrame, rule: Rule,
      ann: ProbAnnotation, recover: Boolean = true): DataFrame = {
    checkNonRecursive(Seq(rule))
    // retain k_max + 1 proofs so the per-row ladder can escalate k without
    // re-deriving, and a complete enumeration reaches the exact arm
    val r = new AnnotatedReasoner(spark, Lineage.semiring(ann.kMax + 1))
    val tagged = lineageSeeds(seeds)
    // non-recursive: a single rule application is the fixpoint
    val derived = r.applyRule(tagged, rule)
      .join(tagged.select("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
    if (!recover)
      return derived
        .withColumn("h", hybridEvalColumn(col("tag"), ann, ann.threshold.getOrElse(0.5)))
        .select(col("s"), col("p"), col("o"),
          col("h.status").as("status"), col("h.decision").as("decision"),
          col("h.reason").as("reason"), col("h.value").as("value"),
          col("h.lower").as("lower"), col("h.upper").as("upper"),
          col("h.k_used").as("k_used"))
    // Recovery gate at zero extra cost on the clean path: the ladder UDF
    // bumps an accumulator on recoverable NeedsExact rows while the ONE
    // checkpoint job materializes the ladder, so "does anything need
    // recovery?" is known driver-side without a second probe action over
    // the heavy lineage rows (the reason filter itself would be cheap, but
    // any separate probe re-runs the derivation or forces a second scan).
    val acc = spark.sparkContext.longAccumulator("graft.hybrid.recoverable")
    val done = derived
      .withColumn("h", hybridEvalColumn(col("tag"), ann, ann.threshold.getOrElse(0.5), Some(acc)))
      .select(col("s"), col("p"), col("o"),
        col("h.status").as("status"), col("h.decision").as("decision"),
        col("h.reason").as("reason"), col("h.value").as("value"),
        col("h.lower").as("lower"), col("h.upper").as("upper"),
        col("h.k_used").as("k_used"))
      .localCheckpoint()
    if (acc.value == 0L) done
    else {
      val needs = done.filter(col("status") === "NeedsExact" &&
        col("reason").isin(RecoverableReasons.toSeq.map(lit): _*))
      done.join(needs.select("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
        .unionByName(hybridRecover(spark, seeds, rule, ann, needs))
    }
  }

  /** Engine-level escalation for truncated proof enumerations — the
    * reference recompiles such facts from its global lineage DAG
    * (`hybrid.rs` SDD escalation); here the cone is re-derived at a
    * geometrically larger proof-retention budget, restricted to the
    * NeedsExact facts, until the enumeration is complete (then the SDD
    * evaluates it exactly) or `maxRetain` is hit (the fact stays
    * NeedsExact). Non-recursive rules only — the hybrid domain. At scale
    * the semi-join on the target facts keeps the recovered cone small;
    * the extra fixpoint-free rule application is one Spark job per
    * escalation step. */
  def hybridRecover(spark: SparkSession, seeds: DataFrame, rule: Rule,
      ann: ProbAnnotation, needs: DataFrame, maxRetain: Int = 4096): DataFrame = {
    val tagged = lineageSeeds(seeds)
    val targets = needs.select("s", "p", "o")
    var retain = math.max(2 * (ann.kMax + 1), 8)
    var complete: Option[DataFrame] = None
    while (complete.isEmpty && retain <= maxRetain) {
      val r = new AnnotatedReasoner(spark, Lineage.semiring(retain))
      val derived = r.applyRule(tagged, rule)
        .join(targets, Seq("s", "p", "o"), "left_semi")
        .localCheckpoint()
      if (derived.filter(col("tag").getField("trunc")).isEmpty) complete = Some(derived)
      else retain *= 4
    }
    val threshold = ann.threshold.getOrElse(0.5)
    val evalF = udf((sids: Seq[Seq[Long]], sps: Seq[Seq[Double]], grps: Seq[Seq[Long]],
        trunc: Boolean) => {
      if (trunc) HybridResult("NeedsExact", "Indeterminate", "retain-budget",
        None, None, None, 0)
      else sddWmcOfProofs(zipProofs(sids, sps), groupsOf(sids, grps),
          ann.sddNodeBudget) match {
        case Right(p) => HybridResult("Exact",
          if (p >= threshold) "Alert" else "NoAlert", "exact-sdd-recovered",
          Some(p), None, None, sids.size)
        case Left(reason) => HybridResult("NeedsExact", "Indeterminate", reason,
          None, None, None, 0)
      }
    })
    val recoveredBase = complete.getOrElse(
      new AnnotatedReasoner(spark, Lineage.semiring(maxRetain))
        .applyRule(tagged, rule).join(targets, Seq("s", "p", "o"), "left_semi"))
    val (sids, sps, grps) = proofParts(col("tag"))
    recoveredBase
      .withColumn("h", evalF(sids, sps, grps, col("tag").getField("trunc")))
      .select(col("s"), col("p"), col("o"),
        col("h.status").as("status"), col("h.decision").as("decision"),
        col("h.reason").as("reason"), col("h.value").as("value"),
        col("h.lower").as("lower"), col("h.upper").as("upper"),
        col("h.k_used").as("k_used"))
  }

  /** Exact WMC provenance (`parser.rs:3858-3886` wmc/sdd arms,
    * `provenance.rs:336+` DnfWmcProvenance): the full proof DNF rides the
    * facts (retention = [[MaxWmcProofs]]); when the enumeration is
    * exhaustive the inclusion-exclusion WMC is exact
    * (subsumed proofs are absorbed: A ∨ (A∧B) = A leaves the count
    * unchanged), otherwise the fact reports NeedsExact (the reference
    * escalates those to the SDD engine). Output carries the proof-count
    * and a rendered DNF formula (`tag_store.rs:117-184`
    * encode_as_rdf_star_with_explanation's prob:proofCount/formula). */
  def wmcMaterialize(spark: SparkSession, seeds: DataFrame, rules: Seq[Rule]): DataFrame = {
    val r = new AnnotatedReasoner(spark, Lineage.semiring(MaxWmcProofs))
    val tagged = lineageSeeds(seeds)
    val closed =
      if (rules.exists(_.negativePremise.nonEmpty)) r.materializeStratified(tagged, rules)
      else r.materialize(tagged, rules)
    val valueF = udf((sids: Seq[Seq[Long]], sps: Seq[Seq[Double]],
        grps: Seq[Seq[Long]], negs: Seq[Seq[Boolean]]) =>
      exactOfParts(sids, sps, grps, negs))
    val formulaF = udf((sids: Seq[Seq[Long]], negs: Seq[Seq[Boolean]]) =>
      sids.lazyZip(negs).map((is, ns) =>
        is.zip(ns).map { case (id, n) => (if (n) "¬" else "") + s"x$id" }
          .mkString("(", " ∧ ", ")")).mkString(" ∨ "))
    val (sids, sps, grps) = proofParts(col("tag"))
    val negs = proofNegs(col("tag"))
    closed.join(tagged.select("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
      .withColumn("value", valueF(sids, sps, grps, negs))
      .withColumn("status", when(col("tag").getField("trunc") ||
        size(col("tag").getField("proofs")) > MaxWmcProofs, "NeedsExact").otherwise("Exact"))
      .withColumn("proof_count", size(col("tag").getField("proofs")))
      .withColumn("formula", formulaF(sids, negs))
      .select("s", "p", "o", "value", "status", "proof_count", "formula")
  }

  /** SDD-backed exact provenance (`parser.rs:3858-3886` sdd arm,
    * `shared/src/sdd.rs` SddProvenance): each derived fact compiles its
    * retained proof DNF to an [[Sdd]] and model-counts it exactly, under
    * the default node budget. Distinct from [[wmcMaterialize]] only in
    * the evaluation engine (circuit WMC vs Shannon expansion) and the
    * budget behavior — results agree bit-for-bit on complete DNFs, which
    * SddSpec asserts differentially. */
  def sddMaterialize(spark: SparkSession, seeds: DataFrame, rules: Seq[Rule],
      nodeBudget: Int = 100000): DataFrame = {
    val r = new AnnotatedReasoner(spark, Lineage.semiring(MaxWmcProofs))
    val tagged = lineageSeeds(seeds)
    val closed =
      if (rules.exists(_.negativePremise.nonEmpty)) r.materializeStratified(tagged, rules)
      else r.materialize(tagged, rules)
    val evalF = udf((sids: Seq[Seq[Long]], sps: Seq[Seq[Double]], grps: Seq[Seq[Long]],
        negs: Seq[Seq[Boolean]], trunc: Boolean) => {
      val proofs = zipProofs(sids, sps)
      if (trunc || proofs.size > MaxWmcProofs)
        ("NeedsExact", "proof-enumeration-truncated", None: Option[Double])
      else if (negs.exists(_.exists(identity))) {
        // signed lineage from the negative stratum: SDD literals carry
        // 1−p natively, so the signed DNF compiles without De Morgan.
        // Exclusive-group seeds cannot be treated as independent literals
        // here (same invariant as exactOfParts): refuse rather than emit
        // a wrong value labeled Exact.
        if (groupsOf(sids, grps).nonEmpty)
          ("NeedsExact", "groups-with-negation", None: Option[Double])
        else {
          val probs = sids.flatten.zip(sps.flatten).toMap
          val clauses = sids.lazyZip(negs).map((is, ns) => is.zip(ns.map(n => !n)).toSet)
          try ("Exact", "sdd-wmc", Some(Sdd.wmcOfSignedDnf(clauses.toSeq, probs, nodeBudget)))
          catch { case _: SddBudgetExceeded => ("NeedsExact", "sdd-node-budget", None) }
        }
      } else sddWmcOfProofs(proofs, groupsOf(sids, grps), nodeBudget) match {
        case Right(p) => ("Exact", "sdd-wmc", Some(p))
        case Left(reason) => ("NeedsExact", reason, None)
      }
    })
    val (sids, sps, grps) = proofParts(col("tag"))
    closed.join(tagged.select("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
      .withColumn("e", evalF(sids, sps, grps, proofNegs(col("tag")),
        col("tag").getField("trunc")))
      .withColumn("proof_count", size(col("tag").getField("proofs")))
      .select(col("s"), col("p"), col("o"), col("e._3").as("value"),
        col("e._1").as("status"), col("e._2").as("reason"), col("proof_count"))
  }

  /** Default derivation-depth budget for the diagnostic topk mode: the
    * proofs semiring runs the LINEAR fixpoint (top-k truncation is
    * association-order-sensitive, so no doubling) and per-fact proof
    * arrays grow with path length, so deep recursion degrades round by
    * round. The cap turns that documented scale limit into runtime
    * behavior instead of a SURVEY footnote. */
  val TopkMaxDepth = 64

  /** Diagnostic top-k proofs provenance over the full fixpoint
    * (`parser.rs:3888-3927`): estimate = WMC of the retained proofs,
    * flagged UnsafeApproximation. k comes from the threshold field.
    *
    * Depth guard: if the fixpoint is not reached within `maxDepth`
    * rounds, the returned facts carry reason `depth-cap-reached` (instead
    * of `diagnostic-only`) and a loud warning is logged — the supported
    * routes for deep recursive closures are the scalar semirings
    * (doubling strategy) or the hybrid/SDD path on non-recursive rules. */
  def topkMaterialize(spark: SparkSession, seeds: DataFrame, rules: Seq[Rule],
      k: Int, maxDepth: Int = TopkMaxDepth): DataFrame = {
    val r = new AnnotatedReasoner(spark, Lineage.semiring(k))
    val tagged = lineageSeeds(seeds)
    val closed = r.materialize(tagged, rules, maxDepth)
    val reason =
      if (r.lastConverged) "diagnostic-only"
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"PROB(provenance=topk) is diagnostic-only (UnsafeApproximation) and its " +
            s"fixpoint did not converge within maxDepth=$maxDepth rounds; returning the " +
            "depth-capped closure. Deep recursive closures should use a scalar " +
            "semiring (minmax/addmult — recursive-doubling strategy) or the " +
            "hybrid/SDD path on non-recursive rules.")
        "depth-cap-reached"
      }
    closed.join(tagged.select("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
      .withColumn("estimate", topkEstimateColumn(col("tag")))
      .withColumn("status", lit("UnsafeApproximation"))
      .withColumn("reason", lit(reason))
      .select("s", "p", "o", "estimate", "status", "reason")
  }

  /** Execute a PROB-annotated rule (`parser.rs:3784-3927` dispatch) and
    * insert both the derived facts and their RDF-star probability
    * annotations into the store's default graph. Returns the result DF
    * (shape depends on the provenance mode, as above). */
  def executeRule(store: QuadStore, seeds: DataFrame, rule: Rule): DataFrame = {
    val spark = store.spark
    val ann = rule.prob.getOrElse(ProbAnnotation("independent", None))
    val result = ann.provenance match {
      case "minmax" | "min" =>
        scalarMaterialize(spark, seeds, Seq(rule), Semiring.minMaxProbability)
      case "addmult" | "independent" =>
        scalarMaterialize(spark, seeds, Seq(rule), addMultProbability)
      case "boolean" =>
        scalarMaterialize(spark, seeds, Seq(rule), booleanProvenance)
      case "topk" =>
        topkMaterialize(spark, seeds, Seq(rule), ann.threshold.map(_.toInt).getOrElse(5))
      case "wmc" =>
        wmcMaterialize(spark, seeds, Seq(rule))
      case "sdd" =>
        sddMaterialize(spark, seeds, Seq(rule), ann.sddNodeBudget)
      case "hybrid" =>
        hybridMaterialize(spark, seeds, rule, ann)
      case other =>
        throw new IllegalArgumentException(s"unknown PROB provenance: $other")
    }
    store.insert(result.select(
      col("s"), col("p"), col("o"), lit(null).cast(StringType).as("g")))
    store.insert(annotationQuads(result, ann))
    result
  }

  /** RDF-star annotation triples `<<s p o>> prob:… value`
    * (`hybrid.rs:1593-1720` encode_hybrid_results_as_rdf_star; scalar
    * provenances annotate prob:value like `tag_store.rs` encode_as_rdf_star). */
  def annotationQuads(result: DataFrame, ann: ProbAnnotation): DataFrame = {
    val subj = Compiler.qtMake(col("s"), col("p"), col("o"))
    def t(p: String, o: Column): Column =
      struct(lit(ProbNs + p).as("p"), o.cast(StringType).as("o"))
    val cols = result.columns.toSet
    val annots: Seq[Column] =
      (if (cols.contains("probability")) Seq(t("value", col("probability"))) else Nil) ++
      (if (cols.contains("estimate")) Seq(t("estimate", col("estimate"))) else Nil) ++
      (if (cols.contains("status")) Seq(t("status", col("status"))) else Nil) ++
      (if (cols.contains("decision")) Seq(t("decision", col("decision"))) else Nil) ++
      (if (cols.contains("reason")) Seq(t("reason", col("reason"))) else Nil) ++
      (if (cols.contains("value")) Seq(t("value", col("value"))) else Nil) ++
      (if (cols.contains("lower")) Seq(t("lowerBound", col("lower"))) else Nil) ++
      (if (cols.contains("upper")) Seq(t("upperBound", col("upper"))) else Nil) ++
      (if (cols.contains("k_used")) Seq(t("kUsed", col("k_used"))) else Nil) ++
      ann.threshold.map(th => t("effectiveThreshold", lit(th))).toSeq ++
      (if (ann.provenance == "hybrid") Seq(t("thresholdPolicy", lit(ann.thresholdPolicy))) else Nil)
    result.select(subj.as("s"), explode(array(annots: _*)).as("po"))
      .filter(col("po.o").isNotNull)
      .select(col("s"), col("po.p").as("p"), col("po.o").as("o"),
        lit(null).cast(StringType).as("g"))
  }
}
