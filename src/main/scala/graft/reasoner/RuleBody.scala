package graft.reasoner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.model.TermLex
import graft.sparql.Ast._
import graft.sparql.Compiler

/** The one rule-body compiler every Datalog plane shares — the Spark
  * rebuild of the reference's rule evaluator (`shared/src/rule.rs:21-57`)
  * and its rule hash join (`shared/src/join_algorithm.rs:64-265`). A rule
  * body is a pattern scan per premise, equi-joined on shared variables
  * (Catalyst plans the joins as broadcast/SMJ), then NAF anti-joins, then
  * filters; the head instantiates the surviving bindings.
  *
  * Planes differ only in the columns a body carries next to its
  * variables:
  *  - [[Reasoner]] carries nothing;
  *  - [[AnnotatedReasoner]] carries premise i's tag as `__tag$i`;
  *  - [[CrossWindowDistributed]] adds the engine `step` as a key;
  *  - [[graft.streaming.DistributedRsp]] keys on `close` (and `closeTs`);
  *  - [[ReasoningHierarchy]] carries its `__f*` fact-identity columns.
  *
  * Convention: a carried column whose name starts with `__` is payload and
  * never joins. Any other carried column is a key that rides every scan,
  * so it joins every premise pair and scopes every NAF anti-join.
  */
object RuleBody {

  /** Variables of a term, including those inside quoted triples. */
  def termVars(t: Term): Seq[String] = t match {
    case Var(n) => Seq(n)
    case Quoted(s, p, o) => termVars(s) ++ termVars(p) ++ termVars(o)
    case _ => Nil
  }

  /** The constant (IRI or literal) at a predicate position; None for a
    * variable, a quoted triple or a blank node. */
  def constPred(t: Term): Option[String] = t match {
    case Iri(v) => Some(v)
    case Lit(v) => Some(v)
    case _ => None
  }

  /** Some(set) iff every conclusion predicate is constant — only then can
    * a fixpoint bound which predicates a derived (delta) fact may carry. */
  def headPreds(rules: Seq[Rule]): Option[Set[String]] = {
    val ps = rules.flatMap(_.conclusion).map(tp => constPred(tp.p))
    if (ps.forall(_.isDefined)) Some(ps.flatten.toSet) else None
  }

  /** Broadcast the delta into premise joins when it has at most this many
    * rows. `localCheckpoint` erases size stats (the LogicalRDD reports
    * `defaultSizeInBytes`), so Catalyst/AQE would never pick a broadcast
    * join on its own even when the frontier is a few thousand rows. */
  private val broadcastDeltaMaxRows = 1000000L

  /** Semi-naive delta planning (`semi_naive.rs:10-92`): the (rule, premise
    * position) pairs one round evaluates with the delta bound at that
    * position. Round 0 (delta = all facts) runs every position. After it,
    * when every head predicate is constant, a delta fact carries a head
    * predicate, so a position whose constant predicate is not one of them
    * never matches and is skipped. A delta of known size (`deltaRows` ≥ 0)
    * up to [[broadcastDeltaMaxRows]] is broadcast into multi-premise rules
    * (on a single-premise rule the hint would only warn). */
  def deltaPositions(rules: Seq[Rule], round: Int, delta: DataFrame,
      deltaRows: Long): Seq[(Rule, (Int, DataFrame))] = {
    val heads = headPreds(rules)
    def canMatch(tp: TriplePattern): Boolean = (heads, constPred(tp.p)) match {
      case (Some(hp), Some(p)) => hp.contains(p)
      case _ => true
    }
    val small = deltaRows >= 0 && deltaRows <= broadcastDeltaMaxRows
    rules.flatMap { r =>
      val side = if (small && r.premise.size > 1) broadcast(delta) else delta
      r.premise.indices
        .filter(i => round == 0 || canMatch(r.premise(i)))
        .map(i => (r, (i, side)))
    }
  }

  /** Scan one pattern over `(s, p, o, …)` facts: constants filter,
    * variables project (a repeated variable adds an equality filter), and
    * a quoted pattern with variables decomposes its column through the
    * `qt_*` expressions. `keep` columns follow the variables. */
  def scan(facts: DataFrame, tp: TriplePattern, keep: Seq[Column] = Nil): DataFrame = {
    var filters = List.empty[Column]
    var binds = List.empty[(String, Column)]
    def walk(c: Column, t: Term): Unit = t match {
      case Var(n) => binds ::= (n -> c)
      case q @ Quoted(s, p, o) if termVars(q).nonEmpty =>
        graft.functions.QtComponent.register(facts.sparkSession)
        filters ::= Compiler.qtIs(c)
        walk(Compiler.qtS(c), s); walk(Compiler.qtP(c), p); walk(Compiler.qtO(c), o)
      case ground => filters ::= (c === lit(TermLex.lexical(ground)))
    }
    walk(col("s"), tp.s); walk(col("p"), tp.p); walk(col("o"), tp.o)
    val grouped = binds.reverse.groupBy(_._1)
    val eqs = grouped.values.flatMap(cs => cs.tail.map(x => x._2 === cs.head._2))
    val filtered = (filters ++ eqs).foldLeft(facts)((d, f) => d.filter(f))
    filtered.select(grouped.map { case (n, cs) => cs.head._2.as(n) }.toSeq ++ keep: _*)
  }

  /** Inner equi-join on the shared columns not named `__*`; a cross join
    * when nothing is shared. */
  def joinOnShared(l: DataFrame, r: DataFrame): DataFrame = {
    val shared = l.columns.filter(c => r.columns.contains(c) && !c.startsWith("__")).toSeq
    if (shared.isEmpty) l.crossJoin(r) else l.join(r, shared, "inner")
  }

  /** A rule body's bindings. Positive premises scan `facts` (premise i
    * scans `d` instead when `delta` = Some((i, d))) and join on shared
    * variables; each negated premise anti-joins its scan of `facts` on
    * the shared columns (nothing shared — a ground negated premise — keeps
    * every row iff it has no match at all, probed with a broadcast
    * `limit(1)`); filters compile through `cond` last. `keys` ride every
    * scan; `payload(i)` rides positive premise i only and must be named
    * `__*`. */
  def body(rule: Rule, facts: DataFrame, delta: Option[(Int, DataFrame)],
      cond: (DataFrame, Condition) => Column, keys: Seq[String] = Nil,
      payload: Int => Seq[Column] = _ => Nil): DataFrame = {
    val keyCols = keys.map(col)
    var b = rule.premise.zipWithIndex.map { case (tp, i) =>
      val src = delta match {
        case Some((di, d)) if di == i => d
        case _ => facts
      }
      scan(src, tp, keyCols ++ payload(i))
    }.reduce(joinOnShared)
    rule.negativePremise.foreach { ntp =>
      val neg = scan(facts, ntp, keyCols)
      val shared = b.columns.filter(neg.columns.contains(_)).toSeq
      b = if (shared.isEmpty) b.join(broadcast(neg.limit(1)), lit(true), "left_anti")
          else b.join(neg, shared, "left_anti")
    }
    rule.filters.foreach(f => b = b.filter(cond(b, f)))
    b
  }

  /** Instantiate the conclusions over `bindings`: one `(keep…, s, p, o)`
    * row per conclusion pattern and binding. A head variable the body never
    * bound is null, and rows with a null position are dropped; quoted head
    * patterns build their encoded triple. */
  def head(rule: Rule, bindings: DataFrame, keep: Seq[Column] = Nil): DataFrame = {
    def termCol(t: Term): Column = t match {
      case Var(n) =>
        if (bindings.columns.contains(n)) col(n) else lit(null).cast(StringType)
      case Quoted(s, p, o) => Compiler.qtMake(termCol(s), termCol(p), termCol(o))
      case other => lit(TermLex.lexical(other))
    }
    rule.conclusion.map { tp =>
      bindings.select(keep ++ Seq(termCol(tp.s).as("s"), termCol(tp.p).as("p"),
          termCol(tp.o).as("o")): _*)
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
    }.reduce(_ unionByName _)
  }
}
