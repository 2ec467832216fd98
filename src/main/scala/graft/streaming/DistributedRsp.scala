package graft.streaming

import graft.reasoner.Reasoner.RoundCheckpointOps
import graft.reasoner.RuleBody
import graft.reasoner.RuleBody.joinOnShared
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ExpiredTimerInfo}
import scala.jdk.CollectionConverters._
import graft.sparql.Ast._

/** Distributed RSP data plane (SURVEY §3.3 "Spark shape"): the
  * full-semantics pipeline — CSPARQL window assignment, WINDOW-block BGP
  * join, fired-close selection, R2S — expressed as DataFrame/Dataset
  * transformations that shuffle on (close, join vars) instead of
  * collecting each micro-batch to the driver. This is the scale path for
  * the category [[RspEngine]] serves as the exact-sequencing control
  * plane: the same RSP-QL query text compiles onto either.
  *
  * Semantics parity with [[RspEngine]] (validated in DistributedRspSpec
  * against the engine's emission walkthroughs, themselves matched to
  * `kolibrie/tests/rsp_engine_test.rs:10-193`):
  *  - window content at close c = events with ts ∈ [c−RANGE, c]
  *    (`rsp/s2r.rs:298-330` scope), via an exact integer-arithmetic
  *    explode to covering closes — no range join;
  *  - fired closes = { maxClose(t) = ⌊(t−1)/STEP⌋·STEP : event at t } with
  *    c ≥ first event ts — exactly the TimeDriven max-closing-window
  *    advance (`s2r.rs:210-330`; [[RspEngine]]'s `advance`), including
  *    the sparse-stream skipping behavior;
  *  - ISTREAM/DSTREAM diff against the PREVIOUS FIRED close (the engine
  *    diffs consecutive firings, not consecutive step multiples), via a
  *    lag over the fired-close sequence — the one narrow global-window
  *    op, O(#closes) rows;
  *  - empty firings are not representable as relation rows (an RSTREAM
  *    emission with zero rows appears as no rows here) — EXCEPT the
  *    global-aggregate case, where the engine's one zero-count row IS a
  *    row and is unioned in ([[withEmptyFiringAggregates]], r6);
  *  - relations are SETS (the reference's R2R store semantics): a UNION
  *    whose branches match the same binding yields it once, where the
  *    engine's multiset emission would carry a duplicate row.
  *
  * The streaming variants run the same stateless close-explode + BGP
  * join over a watermarked stream, gate on a fired-close stream
  * (stream-stream left-semi join), and compute R2S incrementally in
  * `transformWithState` keyed by the binding ([[IncrementalR2S]]) with
  * per-key state = last close seen — the CQL dense-tick formulation,
  * identical to [[StreamOps]]'s batch step-arithmetic on feeds where
  * every step fires.
  *
  * Scale posture: every join is an equi-join keyed by (close, vars) —
  * parallel across closes AND across key ranges within a close; the only
  * per-binding state is one (close, binding) pair in the state store.
  */
class DistributedRsp(spark: SparkSession, val query: RspQuery,
    /** Forward-chaining rules applied to each window's content before the
      * WINDOW-block query — the reference's `add_sparql_rules` R2R
      * enrichment (`rsp_engine.rs:105-212`), here as ONE fixpoint whose
      * every round is distributed across all closes (close rides every
      * premise join, so window isolation is free). Batch runs the full
      * fixpoint; the streaming path unrolls a fixed number of rule
      * applications (a stream cannot loop). */
    rules: Seq[Rule] = Nil,
    /** Rule applications unrolled on the STREAMING path. `None` (default)
      * computes the exact requirement — the longest rule-dependency chain
      * ([[DistributedRsp.ruleChainDepth]]) — and REFUSES genuinely
      * recursive sets (a bounded unroll would silently under-derive;
      * `Some(n)` is the caller's explicit opt-in to n rounds). */
    streamEnrichRounds: Option[Int] = None,
    /** Static store for patterns OUTSIDE window blocks — the reference's
      * static-plan natural join (`rsp_engine.rs:1012-1110`): static
      * elements compile once against this store and BROADCAST-join the
      * windowed relation (small dimension side by design, like the
      * engine's per-emission compat join). Absent store + static
      * patterns = empty static relation, matching [[RspEngine]]. */
    staticStore: Option[graft.model.QuadStore] = None) {
  import DistributedRsp._

  // both planes are time-driven: a never-firing tick must not reach this
  // plane either (the server routes pure-BGP sessions here directly)
  RspEngine.requireExecutableTicks(query)

  rules.foreach { r =>
    val terms = (r.premise ++ r.negativePremise ++ r.conclusion)
      .flatMap(tp => Seq(tp.s, tp.p, tp.o))
    require(!terms.exists {
      case q: Quoted => RuleBody.termVars(q).nonEmpty
      case _ => false
    }, "distributed enrichment supports ground quoted terms only")
  }

  private lazy val condCompiler =
    new graft.sparql.Compiler(graft.model.QuadStore.empty(spark))

  /** WINDOW-block elements per window IRI, validated against the surface
    * the plane compiles: BGP, FILTER (scoped to the end of the enclosing
    * group, as in [[graft.sparql.Compiler.compileGroup]]), UNION of
    * such groups (branches binding different variable sets null-pad the
    * missing vars, which then join UNDEF-tolerantly downstream),
    * subselects (per-close modifiers — see
    * [[compileSubSelectPerClose]]), and OPTIONAL / MINUS blocks
    * anywhere after the first
    * pattern — including nested OPTIONAL and patterns AFTER an OPTIONAL,
    * compiled as UNDEF-tolerant compat joins (`engine.rs:1137-1160`
    * discipline: null-tolerant equality only on vars that can actually
    * be null, so null-free blocks keep their pure equi-join plans). */
  private val windowBlocks: Map[String, Seq[Element]] = {
    def validate(elems: Seq[Element]): Unit = elems.foreach {
      case Bgp(_) | FilterElem(_) | BindElem(_, _) | ValuesElem(_, _) |
           PathPattern(_, _, _) => ()
      case UnionBlock(branches) => branches.foreach(validate)
      case OptionalBlock(inner) => validate(inner)
      case MinusBlock(inner) => validate(inner)
      case SubSelect(sub) => validate(sub.where) // modifiers checked at compile
      case other => throw new IllegalArgumentException(
        s"distributed RSP plane supports BGP + FILTER + BIND + VALUES + UNION + " +
          s"OPTIONAL/MINUS + subselects per WINDOW block; found $other — use " +
          "RspEngine for full block semantics")
    }
    query.select.where.collect { case WindowBlockElem(w, elems) =>
      validate(elems)
      w -> elems
    }.toMap
  }

  query.windows.foreach { w =>
    require(windowBlocks.contains(w.iri), s"no WINDOW block for ${w.iri}")
  }

  private def blockVars(elems: Seq[Element]): Seq[String] = elems.flatMap {
    case Bgp(ps) => ps.flatMap(tp => Seq(tp.s, tp.p, tp.o)).flatMap(RuleBody.termVars)
    case UnionBlock(branches) => branches.flatMap(blockVars)
    case OptionalBlock(inner) => blockVars(inner)
    case MinusBlock(inner) => blockVars(inner)
    case SubSelect(sub) => blockVars(sub.where)
    case BindElem(_, v) => Seq(v)
    case ValuesElem(vars, _) => vars
    case PathPattern(ps, _, po) => RuleBody.termVars(ps) ++ RuleBody.termVars(po)
    case _ => Nil
  }

  // 'close' / 'closeTs' are the plane's reserved join-key columns and
  // '__fired__' its sparse-tick sentinel; a query variable with any of
  // these names would collide with them in every scan
  require(!windowBlocks.values.flatMap(blockVars)
      .exists(n => n == "close" || n == "closeTs" || n == IncrementalR2S.FiredMarker),
    "?close, ?closeTs and ?__fired__ are reserved column names on the distributed RSP plane")

  /** Elements outside every WINDOW block: the static-plan part of the
    * query, compiled against [[staticStore]] (or an empty store, matching
    * the engine's `staticStore.getOrElse(empty)`). */
  private val staticElems: Seq[Element] =
    query.select.where.filterNot(_.isInstanceOf[WindowBlockElem])

  // fail loudly on surface the plane does not compile, instead of
  // silently returning different results than RspEngine would:
  // LIMIT/OFFSET without ORDER BY is a nondeterministic subset (the
  // engine emits an arbitrary one — a silent parity mismatch). Bare
  // ORDER BY is accepted as a no-op: emission rows on the distributed
  // plane are an unordered relation keyed by close, and the driver
  // compare (like SPARQL set semantics) is order-insensitive.
  require(query.select.orderBy.nonEmpty ||
      (query.select.limit.isEmpty && query.select.offset.isEmpty),
    "LIMIT/OFFSET without ORDER BY is nondeterministic; add an ORDER BY " +
      "or use the driver engine (RspEngine)")

  private def step(w: WindowSpec): Long = math.max(w.stepMs, 1L)

  /** Events routed to window spec `w` by stream IRI (suffix-normalized,
    * `rsp_engine.rs:773-810`; same rule as [[RspEngine]]). Input columns:
    * `(stream, ts: long ms, s, p, o)`. */
  private def routed(events: DataFrame, w: WindowSpec): DataFrame = {
    if (w.streamIri == "*" || w.streamIri.startsWith("?")) return events
    def normCol(c: Column): Column =
      substring_index(substring_index(c, "/", -1), ":", -1)
    val spec = w.streamIri
    val specNorm = spec.substring(math.max(spec.lastIndexOf('/'), spec.lastIndexOf(':')) + 1)
    events.filter(col("stream") === spec || normCol(col("stream")) === specNorm)
  }

  /** Fired closes of window `w` over a batch of events: the distinct
    * max-closing closes of each arrival, at or after the first event. */
  def firedCloses(events: DataFrame, w: WindowSpec): DataFrame = {
    val st = step(w)
    val e = routed(events, w)
    val minTs = e.agg(min(col("ts")).as("__minTs"))
    e.select(maxClose(col("ts"), st).as("close")).distinct()
      .crossJoin(broadcast(minTs))
      .filter(col("close") >= col("__minTs"))
      .select("close")
  }

  /** `(close, s, p, o)` window content: each event exploded to the closes
    * whose window covers it (ts ≤ c ≤ ts+RANGE, c ≡ 0 mod STEP), kept
    * only for fired closes. Extra columns of `events` are preserved. */
  def windowContent(events: DataFrame, w: WindowSpec): DataFrame =
    windowContent(events, w, firedCloses(events, w))

  private def windowContent(events: DataFrame, w: WindowSpec,
      fired: DataFrame): DataFrame = {
    val exploded = explodeCloses(routed(events, w), w.rangeMs, step(w))
    exploded.join(fired, Seq("close"), "left_semi")
  }

  /** One rule pass over close-keyed facts `(close[, closeTs], s, p, o)`:
    * every rule through [[RuleBody]] with the close keys carried on every
    * scan, so premises join and NAF anti-joins scope per close, and the
    * heads keep them. */
  private def rulePass(facts: DataFrame): DataFrame = {
    val keys = closeKeys(facts)
    rules.map(r => RuleBody.head(r,
      RuleBody.body(r, facts, None, condCompiler.compileCond, keys), keys.map(col)))
      .reduce(_ unionByName _)
  }

  /** Batch R2R enrichment: naive fixpoint, each round one distributed
    * rule pass across ALL closes at once. */
  private def enrichFixpoint(content: DataFrame): DataFrame = {
    var facts = content.select((closeKeys(content) ++ Seq("s", "p", "o")).map(col): _*)
      .distinct().localCheckpointSevered()
    var round = 0
    while (round < 32) {
      val derived = rulePass(facts)
      // r12: checkpoint + emptiness probe fused into one action
      val (delta, deltaN) = derived.join(facts, facts.columns.toSeq, "left_anti")
        .distinct().localCheckpointSeveredCounted()
      if (deltaN == 0L) return facts
      facts = facts.unionByName(delta).localCheckpointSevered()
      round += 1
    }
    throw new IllegalStateException(
      "R2R enrichment did not reach its fixpoint within 32 rounds")
  }

  /** The compiled WINDOW-block relation of `w`: pattern scans equi-joined
    * on shared variables + close, distinct (the R2R store has set
    * semantics). Registered rules enrich the content first. */
  def windowRelation(events: DataFrame, w: WindowSpec): DataFrame =
    windowRelation(events, w, firedCloses(events, w))

  /** A block relation plus the set of variables that can be null (UNDEF)
    * in it — nulls enter ONLY through OPTIONAL right-sides, so null-free
    * blocks keep their pure equi-join plans (the maybeNull discipline of
    * [[graft.sparql.Compiler.Bindings]], close-keyed). */
  private case class BlockRel(df: DataFrame, maybeNull: Set[String])

  /** The plane's join keys: `close`, plus `closeTs` — the streaming
    * path's watermarked event-time twin of close — when present; keeping
    * it in every join key set is what bounds stream-stream join state. */
  private def closeKeys(df: DataFrame): Seq[String] =
    Seq("close") ++ (if (df.columns.contains("closeTs")) Seq("closeTs") else Nil)

  /** UNDEF-tolerant compat join (`engine.rs:1137-1160`): equi on the close
    * keys + null-free shared vars; a shared var that may be null on either
    * side joins null-tolerantly (null compatible with anything) and the
    * output coalesces both sides. Streaming frames never reach the
    * null-tolerant branch (OPTIONAL right-sides are null-free and a
    * nullable LEFT side is refused on the stream path below). */
  private def compatInner(l: BlockRel, r: BlockRel): BlockRel = {
    val ck = closeKeys(l.df)
    val shared = l.df.columns.filter(r.df.columns.contains(_)).toSeq
    val nullableShared = shared.diff(ck)
      .filter(c => l.maybeNull(c) || r.maybeNull(c))
    if (nullableShared.isEmpty)
      BlockRel(l.df.join(r.df, shared, "inner"),
        (l.maybeNull ++ r.maybeNull) -- shared)
    else {
      require(!l.df.isStreaming && !r.df.isStreaming,
        "UNDEF-tolerant joins (patterns after OPTIONAL) run on the batch plane " +
          "or RspEngine; Spark stream-stream joins need equality keys")
      val pre = "__graft_r_"
      val rr = r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, pre + c))
      val cond = shared.map { c =>
        if (nullableShared.contains(c))
          col(c).isNull || col(pre + c).isNull || (col(c) === col(pre + c))
        else col(c) === col(pre + c)
      }.reduce(_ && _)
      var out = l.df.join(rr, cond, "inner")
      shared.foreach { c =>
        out = out.withColumn(c, coalesce(col(c), col(pre + c))).drop(pre + c)
      }
      r.df.columns.filterNot(shared.contains).foreach { c =>
        out = out.withColumnRenamed(pre + c, c)
      }
      val stillNullable = (l.maybeNull ++ r.maybeNull).filter { v =>
        if (shared.contains(v)) l.maybeNull(v) && r.maybeNull(v) else true
      }
      BlockRel(out, stillNullable)
    }
  }

  /** OPTIONAL: left-preserving compat join; unmatched left rows pad the
    * right-only vars with null, so those become maybeNull downstream. */
  private def compatLeft(l: BlockRel, r: BlockRel): BlockRel = {
    val ck = closeKeys(l.df)
    val shared = l.df.columns.filter(r.df.columns.contains(_)).toSeq
    val rightOnly = r.df.columns.filterNot(shared.contains).toSeq
    val nullableShared = shared.diff(ck)
      .filter(c => l.maybeNull(c) || r.maybeNull(c))
    val joined =
      if (nullableShared.isEmpty) l.df.join(r.df, shared, "left_outer")
      else {
        require(!l.df.isStreaming && !r.df.isStreaming,
          "nested/post-OPTIONAL UNDEF-tolerant joins run on the batch plane " +
            "or RspEngine; Spark stream-stream joins need equality keys")
        val pre = "__graft_r_"
        val rr = r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, pre + c))
        val cond = shared.map { c =>
          if (nullableShared.contains(c))
            col(c).isNull || col(pre + c).isNull || (col(c) === col(pre + c))
          else col(c) === col(pre + c)
        }.reduce(_ && _)
        var out = l.df.join(rr, cond, "left_outer")
        shared.foreach { c =>
          out = out.withColumn(c, coalesce(col(c), col(pre + c))).drop(pre + c)
        }
        r.df.columns.filterNot(shared.contains).foreach { c =>
          out = out.withColumnRenamed(pre + c, c)
        }
        out
      }
    BlockRel(joined, l.maybeNull ++ r.maybeNull ++ rightOnly)
  }

  /** MINUS (§8.3): drop a left row when a right row is compatible AND the
    * two share at least one var bound in BOTH (per-row domain-intersection
    * guard — the static guard is its null-free special case). */
  private def minusJoin(l: BlockRel, r: BlockRel): BlockRel = {
    val ck = closeKeys(l.df)
    val sharedVars = l.df.columns.filter(r.df.columns.contains(_)).toSeq.diff(ck)
    // no shared query variable → domains are disjoint → keep all
    if (sharedVars.isEmpty) return l
    val nullableShared = sharedVars.filter(c => l.maybeNull(c) || r.maybeNull(c))
    if (nullableShared.isEmpty) {
      if (l.df.isStreaming && r.df.isStreaming) {
        // Spark has no stream-stream anti join, but the same watermarked
        // close-keyed left_outer the trailing-OPTIONAL path uses emulates
        // it: mark every compatible right row, keep left rows whose
        // watermark expired with NO marker. Duplicate right matches only
        // multiply rows that the null-marker filter drops anyway, so no
        // stateful dedup of the right side is needed.
        val marked = r.df.select(((ck ++ sharedVars).map(col) :+
          lit(1).as("__graft_minus_m")): _*)
        BlockRel(l.df.join(marked, ck ++ sharedVars, "left_outer")
          .filter(col("__graft_minus_m").isNull).drop("__graft_minus_m"),
          l.maybeNull)
      } else
        BlockRel(l.df.join(r.df, ck ++ sharedVars, "left_anti"), l.maybeNull)
    } else {
      require(!l.df.isStreaming,
        "UNDEF-tolerant MINUS (nullable shared vars) runs on the batch " +
          "plane or RspEngine; Spark stream-stream joins need equality keys")
      val pre = "__graft_r_"
      val rr = r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, pre + c))
      val compat = (ck.map(c => col(c) === col(pre + c)) ++ sharedVars.map { c =>
        if (nullableShared.contains(c))
          col(c).isNull || col(pre + c).isNull || (col(c) === col(pre + c))
        else col(c) === col(pre + c)
      }).reduce(_ && _)
      val domShare = sharedVars.map(c => col(c).isNotNull && col(pre + c).isNotNull)
        .reduce(_ || _)
      BlockRel(l.df.join(rr, compat && domShare, "left_anti"), l.maybeNull)
    }
  }

  /** Close-keyed property-path algebra (r6; was engine-only): the batch
    * compiler's path → edge-relation mapping ([[graft.sparql.Compiler]]
    * `pathEdges`) with the close keys riding every select/join/union, so
    * one plan evaluates the path inside EVERY window close at once.
    * Arbitrary-length forms (`+`/`*`) run the recursive-doubling closure
    * GROUPED BY close (the close keys join through the squaring
    * self-join) — batch plane only: a stream cannot loop a fixpoint, and
    * zero-length identity needs the close's full node set. */
  private def pathEdgesPerClose(content: DataFrame, p: Path): DataFrame = {
    val ck = closeKeys(content)
    def scanP(pred: String): DataFrame =
      content.filter(col("p") === pred)
        .select((ck.map(col) :+ col("s").as("__ps") :+ col("o").as("__po")): _*)
    p match {
      case PLink(i) => scanP(i)
      case PInv(x) => pathEdgesPerClose(content, x)
        .withColumnRenamed("__ps", "__tmp").withColumnRenamed("__po", "__ps")
        .withColumnRenamed("__tmp", "__po")
      case PSeq(l, r) =>
        pathEdgesPerClose(content, l).withColumnRenamed("__po", "__m")
          .join(pathEdgesPerClose(content, r).withColumnRenamed("__ps", "__m"),
            ck :+ "__m", "inner")
          .select((ck.map(col) :+ col("__ps") :+ col("__po")): _*)
      case PAlt(l, r) =>
        pathEdgesPerClose(content, l).unionByName(pathEdgesPerClose(content, r))
      case PNeg(fwd, inv) =>
        val all = content.select((ck.map(col) :+ col("s").as("__ps") :+
          col("p").as("__pneg") :+ col("o").as("__po")): _*)
        def without(not: Seq[String]) =
          if (not.isEmpty) all else all.filter(!col("__pneg").isin(not: _*))
        val sides =
          (if (fwd.nonEmpty || inv.isEmpty)
             Seq(without(fwd).select((ck.map(col) :+ col("__ps") :+ col("__po")): _*))
           else Nil) ++
          (if (inv.nonEmpty)
             Seq(without(inv).select((ck.map(col) :+ col("__po").as("__ps") :+
               col("__ps").as("__po")): _*))
           else Nil)
        sides.reduce(_ unionByName _)
      case POneOrMore(x) => pathClosurePerClose(ck, pathEdgesPerClose(content, x))
      case PZeroOrMore(x) =>
        pathClosurePerClose(ck, pathEdgesPerClose(content, x))
          .unionByName(pathIdentityPerClose(content)).distinct()
      case PZeroOrOne(x) =>
        pathEdgesPerClose(content, x)
          .unionByName(pathIdentityPerClose(content)).distinct()
    }
  }

  private def pathIdentityPerClose(content: DataFrame): DataFrame = {
    require(!content.isStreaming,
      "zero-length path identity needs each close's full node set; " +
        "use the batch emissions or RspEngine on the live stream")
    val ck = closeKeys(content)
    content.select((ck.map(col) :+ col("s").as("__n")): _*)
      .unionByName(content.select((ck.map(col) :+ col("o").as("__n")): _*))
      .distinct()
      .select((ck.map(col) :+ col("__n").as("__ps") :+ col("__n").as("__po")): _*)
  }

  /** Per-close transitive closure: recursive doubling with the close keys
    * in every join — O(log max-diameter) rounds over ALL closes at once. */
  private def pathClosurePerClose(ck: Seq[String], edges: DataFrame): DataFrame = {
    require(!edges.isStreaming,
      "arbitrary-length paths need a fixpoint; a micro-batch stream cannot " +
        "loop — use the batch emissions or RspEngine")
    // r12: checkpoint + convergence count fused into one action per round
    var (r, n) = edges.distinct().localCheckpointSeveredCounted()
    var done = false
    while (!done) {
      val (next, m) = r.unionByName(
          r.withColumnRenamed("__po", "__m")
            .join(r.withColumnRenamed("__ps", "__m"), ck :+ "__m", "inner")
            .select((ck.map(col) :+ col("__ps") :+ col("__po")): _*))
        .distinct().localCheckpointSeveredCounted()
      done = m == n
      n = m
      val prev = r
      r = next
      graft.reasoner.Reasoner.unpersistCheckpoint(prev)
    }
    r
  }

  private def compilePathPerClose(content: DataFrame, s: Term, path: Path,
      o: Term): BlockRel = {
    val ck = closeKeys(content)
    val e = pathEdgesPerClose(content, path)
    var filters = List.empty[Column]
    var binds = List.empty[(String, Column)]
    def walkEnd(c: Column, t: Term): Unit = t match {
      case Var(n) => binds ::= (n -> c)
      case other => filters ::= (c === lit(graft.model.TermLex.lexical(other)))
    }
    walkEnd(col("__ps"), s); walkEnd(col("__po"), o)
    val grouped = binds.reverse.groupBy(_._1)
    val eqs = grouped.values.flatMap(cs => cs.tail.map(x => x._2 === cs.head._2))
    val filtered = (filters ++ eqs).foldLeft(e)((d, f) => d.filter(f))
    BlockRel(filtered.select((ck.map(col) ++
      grouped.map { case (n, cs) => cs.head._2.as(n) }).toSeq: _*).distinct(),
      Set.empty)
  }

  /** Per-close subselect (`engine.rs:416-426` materialize-then-join,
    * close-scoped like every block element): the inner WHERE compiles
    * over the same close-keyed content; aggregates group by (close keys ×
    * GROUP BY vars) as ONE distributed aggregation across all closes;
    * ORDER BY + LIMIT/OFFSET become a per-close rank (`row_number` over
    * the close partition) — the CityBench per-window top-k shape as one
    * distributed window function, no per-close loop. LIMIT without
    * ORDER BY is refused (nondeterministic subset — the engine would
    * emit an arbitrary one; a silent mismatch, not a compile target). */
  private def compileSubSelectPerClose(content: DataFrame, sub0: Select): BlockRel = {
    require(!content.isStreaming,
      "WINDOW-block subselects rank/aggregate per close — not expressible " +
        "over an unbounded stream; use the batch emissions or RspEngine")
    require((sub0.limit.isEmpty && sub0.offset.isEmpty) || sub0.orderBy.nonEmpty,
      "LIMIT/OFFSET without ORDER BY in a WINDOW-block subselect is " +
        "nondeterministic; use RspEngine or add an ORDER BY")
    val b = compileBlockRel(content, sub0.where)
    val ck = closeKeys(b.df)
    // HAVING via the batch compiler's synthetic-aggregate rewrite, close-keyed
    val synth = scala.collection.mutable.ArrayBuffer.empty[graft.sparql.Ast.Aggregate]
    val having = sub0.having.map(condCompiler.rewriteHaving(_, sub0.aggregates, synth))
    val sub = if (synth.isEmpty) sub0
      else sub0.copy(aggregates = sub0.aggregates ++ synth)
    var df = b.df
    if (sub.aggregates.nonEmpty || sub.groupBy.nonEmpty || having.nonEmpty)
      df = condCompiler.applyAggregates(df, sub, ck)
    having.foreach(c => df = df.filter(condCompiler.compileCond(df, c)))
    if (synth.nonEmpty) df = df.drop(synth.map(_.alias).toSeq: _*)
    val projCols: Seq[String] =
      if (sub.projection == Seq("*")) df.columns.toSeq.filterNot(ck.contains)
      else sub.projection ++ sub0.aggregates.map(_.alias)
    // pad unbound projected vars with null, like finalizePerClose/the engine
    df = df.select((ck ++ projCols).map(c =>
      (if (df.columns.contains(c)) col(c)
       else lit(null).cast(org.apache.spark.sql.types.StringType)).as(c)): _*)
    if (sub.distinct) df = df.dropDuplicates()
    if (sub.orderBy.nonEmpty && (sub.limit.nonEmpty || sub.offset.nonEmpty)) {
      val w = Window.partitionBy(ck.map(col): _*)
        .orderBy(sub.orderBy.map(k => condCompiler.sortKeyCols(df, k)): _*)
      val lo = sub.offset.getOrElse(0)
      val hi = sub.limit.map(l => lo.toLong + l).getOrElse(Long.MaxValue)
      df = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
    }
    // aggregate aliases can be null (MAX over an all-unparsable group,
    // padded unbound vars too) — they must join compat-tolerantly downstream
    val nullableOut = b.maybeNull.intersect(projCols.toSet) ++
      sub0.aggregates.map(_.alias).filter(projCols.contains) ++
      projCols.filterNot(df.columns.contains)
    BlockRel(df, nullableOut)
  }

  /** Compile one group of block elements over close-keyed content:
    * BGPs scan+join, UNION branches (same variable set) union per close,
    * OPTIONAL as a per-close compat left_outer join, MINUS as a per-close
    * anti join with the §8.3 domain guard (emulated on the live plane as
    * a watermarked left_outer + null-marker filter; only the UNDEF-
    * tolerant variant stays batch-only), FILTERs defer to the end of the group
    * (evaluating over the post-OPTIONAL frame, where a comparison on an
    * unbound variable is null → dropped, SPARQL's error-is-false).
    * Nested OPTIONALs and patterns after an OPTIONAL join UNDEF-
    * tolerantly via the maybeNull discipline above. */
  private def compileBlock(content: DataFrame, elems: Seq[Element]): DataFrame =
    compileBlockRel(content, elems).df

  private def compileBlockRel(content: DataFrame, elems: Seq[Element]): BlockRel = {
    val (filterElems, others) = elems.partition(_.isInstanceOf[FilterElem])
    var acc: Option[BlockRel] = None
    def inner(r: BlockRel): Unit =
      acc = Some(acc.map(compatInner(_, r)).getOrElse(r))
    def leftSide(kind: String): BlockRel =
      acc.getOrElse(throw new IllegalArgumentException(
        s"$kind must follow a pattern element in its WINDOW block"))
    others.foreach {
      case Bgp(ps) =>
        inner(BlockRel(ps.map(RuleBody.scan(content, _, closeKeys(content).map(col)))
          .reduce(joinOnShared), Set.empty))
      case UnionBlock(branches) =>
        // SPARQL multiset union: branches may bind DIFFERENT variable
        // sets — each branch null-pads the vars it does not bind, and
        // those become maybeNull (UNDEF) downstream, where the compat
        // joins above handle them (r6; was a loud refusal)
        val rels = branches.map(compileBlockRel(content, _))
        val allCols = rels.flatMap(_.df.columns).distinct
        val padded = rels.map { r =>
          val missing = allCols.filterNot(r.df.columns.contains)
          BlockRel(missing.foldLeft(r.df)((d, c) =>
            d.withColumn(c, lit(null).cast(org.apache.spark.sql.types.StringType))),
            r.maybeNull ++ missing)
        }
        inner(BlockRel(padded.map(_.df.select(allCols.map(col): _*)).reduce(_ unionByName _),
          padded.flatMap(_.maybeNull).toSet))
      case OptionalBlock(optElems) =>
        acc = Some(compatLeft(leftSide("OPTIONAL"), compileBlockRel(content, optElems)))
      case MinusBlock(minusElems) =>
        acc = Some(minusJoin(leftSide("MINUS"), compileBlockRel(content, minusElems)))
      case SubSelect(sub) =>
        inner(compileSubSelectPerClose(content, sub))
      case BindElem(expr, v) =>
        // per-row extension over the accumulated frame (batch Compiler's
        // BIND discipline: error/unbound evaluates to null → maybeNull)
        val base = leftSide("BIND")
        acc = Some(BlockRel(
          base.df.withColumn(v,
            condCompiler.compileExpr(base.df, expr)
              .cast(org.apache.spark.sql.types.StringType)),
          base.maybeNull + v))
      case ValuesElem(vars, vrows) =>
        // inline data as a broadcast static relation: per-close rows join
        // it on the shared vars (stream-static join on the live plane);
        // UNDEF cells are nulls → maybeNull → compat machinery
        val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
          org.apache.spark.sql.types.StructField(v,
            org.apache.spark.sql.types.StringType, nullable = true)))
        val data = vrows.map(r => org.apache.spark.sql.Row(
          r.map(_.map(graft.model.TermLex.lexical).orNull): _*))
        val vdf = broadcast(spark.createDataFrame(data.asJava, schema))
        val undef = vars.zipWithIndex.filter { case (_, i) =>
          vrows.exists(_(i).isEmpty)
        }.map(_._1).toSet
        inner(BlockRel(vdf, undef))
      case PathPattern(ps, path, po) =>
        inner(compilePathPerClose(content, ps, path, po))
      case other => throw new IllegalArgumentException(s"unsupported block element $other")
    }
    val joined = acc.getOrElse(throw new IllegalArgumentException("empty WINDOW block"))
    BlockRel(filterElems.collect { case FilterElem(c) => c }
      .foldLeft(joined.df)((d, c) => d.filter(condCompiler.compileCond(d, c))),
      joined.maybeNull)
  }

  private def windowRelation(events: DataFrame, w: WindowSpec,
      fired: DataFrame): DataFrame = {
    val content0 = windowContent(events, w, fired)
    val content = if (rules.isEmpty) content0 else enrichFixpoint(content0)
    compileBlock(content, windowBlocks(w.iri)).distinct()
  }

  /** Static-plan bindings (`rsp_engine.rs:1012-1110` `emit_results`'s
    * natural join): the non-window elements compiled ONCE against the
    * static store. Computed lazily — queries without static elements pay
    * nothing. */
  private lazy val staticBindings: Option[DataFrame] =
    if (staticElems.isEmpty) None
    else {
      val c = new graft.sparql.Compiler(
        staticStore.getOrElse(graft.model.QuadStore.empty(spark)))
      val df = c.compileElements(staticElems).df
      require(!df.columns.exists(n =>
          n == "close" || n == "closeTs" || n == IncrementalR2S.FiredMarker),
        "?close, ?closeTs and ?__fired__ are reserved column names on the distributed RSP plane")
      Some(df)
    }

  /** Join the windowed relation with the broadcast static plan on shared
    * variables (cross join when none are shared — the engine's compat
    * join does the same). */
  private def applyStatic(rel: DataFrame): DataFrame = staticBindings match {
    case None => rel
    case Some(sdf) =>
      val shared = rel.columns.filter(sdf.columns.contains(_)).toSeq
      if (shared.isEmpty) rel.crossJoin(broadcast(sdf))
      else rel.join(broadcast(sdf), shared, "inner")
  }

  /** Fired closes of `w` with each close's TRIGGER — the min arrival ts
    * whose max-closing window is that close (the event whose advance
    * fired it in the engine, `s2r.rs:210-330`). Columns `(close, __trig)`. */
  private def firedWithTrigger(events: DataFrame, w: WindowSpec): DataFrame = {
    val st = step(w)
    val e = routed(events, w)
    val minTs = e.agg(min(col("ts")).as("__minTs"))
    e.select(maxClose(col("ts"), st).as("close"), col("ts"))
      .groupBy("close").agg(min(col("ts")).as("__trig"))
      .crossJoin(broadcast(minTs))
      .filter(col("close") >= col("__minTs"))
      .select("close", "__trig")
  }

  /** Aligned-close STEAL (`rsp_engine.rs:539-620` latest-per-window with
    * replace semantics, event-time formulation): for every close fired by
    * ANY window, each window contributes its relation at its own greatest
    * fired close ≤ that close (its "cached latest"); the inner as-of join
    * is the warm gate — a window that has never fired by close c
    * contributes nothing, so c does not emit (`rsp_engine.rs:593`). The
    * as-of map is O(#closes²) worst-case over the close sequence only —
    * the same #closes = timespan/step scale class as the close-sequence
    * lag, never data volume. */
  private def stealRelation(events: DataFrame): DataFrame = {
    val perWindow = checkpointedPerWindow(events)
    val allCloses = perWindow.map(_._2).reduce(_ union _)
      .distinct().select(col("close").as("__c"))
    asOfJoined(perWindow, allCloses)
  }

  private def checkpointedPerWindow(events: DataFrame): Seq[(DataFrame, DataFrame)] =
    query.windows.map { w =>
      val fired = firedCloses(events, w).localCheckpoint()
      // the fired-close list is read by 2-3 consumers (emission orbit,
      // as-of map) — checkpoint it; the window RELATION is consumed
      // exactly once by the as-of join, so materializing it bought
      // nothing (r11: one fewer blocking action per window)
      (windowRelation(events, w, fired), fired)
    }

  /** Join every window's relation at its greatest fired close ≤ each
    * emission point (`__c` column of `closes`) — the coordinator's
    * latest-per-window replace semantics as one as-of map per window
    * (O(#closes²) worst-case over the close sequence only). */
  private def asOfJoined(perWindow: Seq[(DataFrame, DataFrame)],
      closes: DataFrame): DataFrame =
    perWindow.map { case (rel, fired) =>
      val asof = closes.join(fired, fired("close") <= closes("__c"), "inner")
        .groupBy("__c").agg(max("close").as("__src"))
      asof.join(rel.withColumnRenamed("close", "__src"), Seq("__src"), "inner")
        .drop("__src").withColumnRenamed("__c", "close")
    }.reduce(joinOnShared)

  /** Wait-cycle emission schedule (`rsp_engine.rs:539-620` Wait in its
    * event-time formulation) for windows whose close sequences differ:
    * after an emission every window goes stale; the next cycle completes —
    * and emits — at e' = max over windows of the FIRST fired close
    * strictly after the previous emission e (windows firing earlier keep
    * replacing their cached relation until the laggard fires). So
    * e₀ = max over windows of the first fired close, and E is the orbit
    * of e₀ under F(p) = max_i min{c ∈ fired_i : c > p}.
    *
    * Computed distributedly by recursive doubling over the fired-close
    * sequences (the transitive-closure trick, `Reasoner.scala` doubling):
    * hop = F as a (p → n) relation, squared each round while the reach
    * set absorbs its image — O(log #closes) rounds over #closes =
    * timespan/step rows, never data volume. Returns one `__c` column. */
  private def waitEmissionCloses(perFired: Seq[DataFrame]): DataFrame = {
    val cand = perFired.map(_.select("close")).reduce(_ unionByName _).distinct()
      .localCheckpoint()
    // Adaptive: the fired-close SEQUENCE is O(timespan/step) rows — data
    // volume never enters it. Below the threshold the orbit is a
    // microsecond driver computation, vs ~10 doubling rounds of
    // localCheckpoint+count jobs (measured: the rounds dominated this
    // entry's bench time at sf0.1 where #closes ≈ 720). The distributed
    // doubling below remains the path for year-at-seconds-step scales.
    val nCand = cand.count()
    if (nCand <= 100000L) {
      val seqs = perFired.map(_.select("close").collect().map(_.getLong(0)).sorted)
      import cand.sparkSession.implicits._
      // a window with NO fired closes means no Wait cycle ever completes
      if (seqs.exists(_.isEmpty)) return Seq.empty[Long].toDF("__c")
      val emis = scala.collection.mutable.ArrayBuffer.empty[Long]
      // e0 = max over windows of first fired close; F(p) = max over
      // windows of min{c in fired_i : c > p}, defined while every window
      // still has a next close
      var e = seqs.map(_.head).max
      var live = true
      while (live) {
        emis += e
        val nexts = seqs.map { s =>
          val i = java.util.Arrays.binarySearch(s, e + 1)
          val at = if (i >= 0) i else -i - 1
          if (at < s.length) Some(s(at)) else None
        }
        if (nexts.forall(_.isDefined)) e = nexts.flatten.max else live = false
      }
      return emis.toSeq.toDF("__c")
    }
    // min fired close of window i strictly after each candidate; F(p) =
    // max over windows, defined only where EVERY window still has a next
    val nexts = perFired.map { f =>
      cand.as("c").join(f.as("n"), col("n.close") > col("c.close"))
        .groupBy(col("c.close").as("p")).agg(min(col("n.close")).as("n"))
    }
    var hop = nexts.reduce(_ unionByName _)
      .groupBy("p").agg(count(lit(1)).as("__k"), max(col("n")).as("n"))
      .filter(col("__k") === perFired.size).select("p", "n").localCheckpoint()
    val e0 = perFired.map(_.agg(min("close").as("__m"))).reduce(_ unionByName _)
      .agg(max("__m").as("__c"))
    // r12: checkpoint + growth count fused into one action per round
    var (reach, n) = e0.localCheckpointSeveredCounted()
    var grew = true
    while (grew) {
      val stepped = reach.join(hop, reach("__c") === hop("p"))
        .select(col("n").as("__c"))
      val (merged, m) = reach.unionByName(stepped).distinct()
        .localCheckpointSeveredCounted()
      grew = m > n
      if (grew) {
        reach = merged; n = m
        hop = hop.as("a").join(hop.as("b"), col("a.n") === col("b.p"))
          .select(col("a.p").as("p"), col("b.n").as("n")).localCheckpointSevered()
      }
    }
    reach
  }

  /** Multi-window Wait with UNEQUAL steps: the joined relation evaluated
    * at each Wait-cycle emission point, each window contributing its
    * latest fired close ≤ that point. (Equal-step multi-window Wait keeps
    * the aligned-close equi-join — same semantics on dense feeds, one
    * plain shuffle join instead of the orbit computation.) */
  private def waitRelationUnequal(events: DataFrame): DataFrame = {
    val perWindow = checkpointedPerWindow(events)
    asOfJoined(perWindow, waitEmissionCloses(perWindow.map(_._2)))
  }

  /** Aligned-close TIMEOUT (`rsp_engine.rs:566-640`, virtual clock =
    * event time as in [[RspEngine]]): complete cycles (every window fired
    * the close) emit as Wait; a PARTIAL close whose deadline has passed —
    * clock exceeds the cycle's first trigger by more than `ms`, where
    * clock = max(event time seen, `advanceTo`) — emits the Steal join of
    * cached windows when `fallbackSteal` (warm gate included), or is
    * dropped. */
  private def timeoutRelation(events: DataFrame, ms: Long, fallbackSteal: Boolean,
      advanceTo: Option[Long]): DataFrame = {
    val waitRel = query.windows.map(windowRelation(events, _)).reduce(joinOnShared)
    if (!fallbackSteal) return waitRel
    val n = query.windows.size
    val withTrig = query.windows.map(firedWithTrigger(events, _))
    val perClose = withTrig.reduce(_ unionByName _)
      .groupBy("close")
      .agg(count(lit(1)).as("__nFired"), min(col("__trig")).as("__start"))
    val maxTs = events.agg(max(col("ts")).as("__maxTs"))
    val clock = advanceTo match {
      case Some(t) => greatest(col("__maxTs"), lit(t))
      case None => col("__maxTs")
    }
    val expired = perClose.crossJoin(broadcast(maxTs))
      .filter(col("__nFired") < n && clock - col("__start") > ms)
      .select("close")
    waitRel.unionByName(
      stealRelation(events).join(expired, Seq("close"), "left_semi"))
  }

  /** All windows' relations coordinated per the query's `WITH POLICY` —
    * aligned-close Wait (inner join on close, the default), Steal, or
    * Timeout — then the broadcast static join. Policies here are the
    * EVENT-TIME formulations of the engine's arrival-order coordinator;
    * feeds replayed in event-time order reproduce its emission sequences
    * exactly (DistributedRspSpec parity walkthroughs). */
  def relation(events: DataFrame): DataFrame = relation(events, None)

  def relation(events: DataFrame, advanceTo: Option[Long]): DataFrame = {
    val win = query.policy match {
      case Some(StealPolicy) if query.windows.size > 1 => stealRelation(events)
      case Some(TimeoutPolicy(ms, steal)) if query.windows.size > 1 =>
        timeoutRelation(events, ms, steal, advanceTo)
      case _ if query.windows.size > 1 =>
        // Wait ALWAYS goes through the cycle orbit + as-of join: equal
        // STEPS do not imply equal FIRED sequences (sparse streams fire
        // different closes), and the aligned equi-join silently drops
        // every engine emission whose closes differ. With identical
        // fired sequences the orbit reduces to the aligned join.
        waitRelationUnequal(events)
      case _ => query.windows.map(windowRelation(events, _)).reduce(joinOnShared)
    }
    applyStatic(win)
  }

  /** Per-close solution modifiers, mirroring [[RspEngine.emitJoined]]'s
    * `finalizeSelect` on each emission: aggregates (incl. HAVING via the
    * batch compiler's synthetic-aggregate rewrite) group by (close keys ×
    * GROUP BY vars) — one distributed aggregation across ALL closes —
    * then projection, DISTINCT, and ORDER BY + LIMIT/OFFSET as a
    * per-close rank (one `row_number` over the close partition; row
    * ORDER itself is not represented — emissions are an unordered
    * relation). The one non-representable case stays: a fired close with
    * EMPTY content yields no row here, so a global aggregate over an
    * empty firing (engine: one zero-count row) does not appear (class
    * Scaladoc, "empty firings"). */
  private def finalizePerClose(rel: DataFrame): DataFrame = {
    val sel0 = query.select
    val keys = Seq("close") ++
      (if (rel.columns.contains("closeTs")) Seq("closeTs") else Nil)
    val synth = scala.collection.mutable.ArrayBuffer.empty[graft.sparql.Ast.Aggregate]
    val having = sel0.having.map(condCompiler.rewriteHaving(_, sel0.aggregates, synth))
    val sel = if (synth.isEmpty) sel0
      else sel0.copy(aggregates = sel0.aggregates ++ synth)
    var df = rel
    if (sel.aggregates.nonEmpty || sel.groupBy.nonEmpty || having.nonEmpty)
      df = condCompiler.applyAggregates(df, sel, keys)
    having.foreach(c => df = df.filter(condCompiler.compileCond(df, c)))
    if (synth.nonEmpty) df = df.drop(synth.map(_.alias).toSeq: _*)
    val projCols: Seq[String] =
      if (sel.projection == Seq("*"))
        df.columns.toSeq.filterNot(keys.contains)
      else sel.projection ++ sel0.aggregates.map(_.alias)
    // rank BEFORE projecting: the engine orders pre-projection
    // (`finalizeSelect`, Compiler.scala), so ORDER BY may reference a
    // variable the SELECT drops — projecting first would sort that key
    // as a constant null and keep an arbitrary subset
    if (sel.orderBy.nonEmpty && (sel.limit.nonEmpty || sel.offset.nonEmpty)) {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(sel.orderBy.map(k => condCompiler.sortKeyCols(df, k)): _*)
      val lo = sel.offset.getOrElse(0)
      val hi = sel.limit.map(l => lo.toLong + l).getOrElse(Long.MaxValue)
      df = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
    }
    df = df.select((keys ++ projCols).map(c =>
      (if (df.columns.contains(c)) col(c)
       else lit(null).cast(org.apache.spark.sql.types.StringType)).as(c)): _*)
    if (sel.distinct) df = df.dropDuplicates()
    df
  }

  /** Fired-close sequence with its predecessor (lag over the ordered close
    * set — one narrow single-partition window over O(#closes) rows; at
    * scale #closes = timespan/step, not data volume). */
  private def closeSeq(fired: DataFrame): DataFrame =
    fired.withColumn("__prev", lag("close", 1).over(Window.orderBy("close")))

  /** R2S over the relation sequence, diffing consecutive FIRED closes:
    * emission rows `(close, vars…)`. The diff references the relation on
    * both join sides and the fired set three times (content gating, rel,
    * lag sequence), so I/DSTREAM checkpoint both once instead of paying
    * the subplans repeatedly. */
  def emissions(events: DataFrame): DataFrame = emissions(events, None)

  /** `advanceTo`: an explicit virtual-clock tick past the last event (the
    * engine's [[RspEngine.advanceTime]]) — only Timeout deadlines read it. */
  def emissions(events: DataFrame, advanceTo: Option[Long]): DataFrame = {
    query.kind match {
      case RStream =>
        withEmptyFiringAggregates(events,
          finalizePerClose(relation(events, advanceTo)))
      case IStream =>
        // rows at close c absent from the relation at the previous fired
        // close (first firing: prev = null → nothing relabels → emit all)
        val (rel, fired) = checkpointedRelAndFired(events)
        val prevRows = relabelPrevToCurrent(rel, closeSeq(fired))
        antiNullSafe(rel, prevRows)
      case DStream =>
        // rows of the previous fired close absent at c, reported at c
        val (rel, fired) = checkpointedRelAndFired(events)
        val prevRows = relabelPrevToCurrent(rel, closeSeq(fired))
        antiNullSafe(prevRows, rel)
    }
  }

  /** Empty-firing GLOBAL aggregates (class-doc caveat, narrowed r6): a
    * fired close whose WINDOW content matches nothing yields no relation
    * row, but under a global aggregate (no GROUP BY) the engine emits ONE
    * row — COUNT = 0, other aggregates over the empty group — which IS
    * representable. Union those rows in for the single-window RSTREAM
    * case: the aggregate expressions are evaluated once over an EMPTY
    * bindings frame (Spark's global-aggregate-on-empty gives the same
    * values the compiler gives the engine) and cross-joined with the
    * fired closes missing from the relation. Grouped aggregates stay
    * out (an empty group list is no rows in both engines), as do
    * I/DSTREAM (the engine diffs emission ROWS; zero-rows diffs equal
    * zero-rows) and HAVING (filters the zero row identically — but via
    * the same union path, so it composes). */
  private def withEmptyFiringAggregates(events: DataFrame, rel: DataFrame): DataFrame =
    globalZeroRowDf match {
      case None => rel
      case Some(zeroRow) =>
        val w = query.windows.head
        val missing = firedCloses(events, w)
          .join(rel.select("close").distinct(), Seq("close"), "left_anti")
        val projCols = rel.columns.filter(_ != "close").toSeq
        if (!projCols.forall(zeroRow.columns.contains)) rel // non-agg projection rode along
        else rel.unionByName(
          missing.crossJoin(zeroRow).select((Seq("close") ++ projCols).map(col): _*))
    }

  /** The global aggregate's one-row frame over EMPTY bindings — with the
    * synthetic-aggregate HAVING rewrite applied, exactly as
    * [[finalizePerClose]] does for real rows (sharing this builder is
    * what keeps the batch union and the live zero-fill from diverging).
    * None when the shape doesn't qualify or HAVING filters the row out. */
  private lazy val globalZeroRowDf: Option[DataFrame] = {
    val sel0 = query.select
    if (query.windows.size != 1 || sel0.aggregates.isEmpty || sel0.groupBy.nonEmpty)
      None
    else {
      val synth = scala.collection.mutable.ArrayBuffer.empty[graft.sparql.Ast.Aggregate]
      val having = sel0.having.map(condCompiler.rewriteHaving(_, sel0.aggregates, synth))
      val sel = if (synth.isEmpty) sel0
        else sel0.copy(aggregates = sel0.aggregates ++ synth)
      val aggVars = sel.aggregates.flatMap(_.v).distinct
      val schema = org.apache.spark.sql.types.StructType(aggVars.map(v =>
        org.apache.spark.sql.types.StructField(v, org.apache.spark.sql.types.StringType)))
      var zeroRow = condCompiler.applyAggregates(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        sel, Nil)
      having.foreach(c => zeroRow = zeroRow.filter(condCompiler.compileCond(zeroRow, c)))
      if (synth.nonEmpty) zeroRow = zeroRow.drop(synth.map(_.alias).toSeq: _*)
      if (zeroRow.isEmpty) None else Some(zeroRow)
    }
  }

  /** [[globalZeroRowDf]] as a lexical binding map (the live zero-fill's
    * broadcast payload). */
  private lazy val globalZeroBinding: Option[Map[String, String]] =
    globalZeroRowDf.flatMap { zeroRow =>
      zeroRow.collect().headOption.map { r =>
        zeroRow.columns.zipWithIndex.flatMap { case (c, i) =>
          Option(r.get(i)).map(c -> _.toString)
        }.toMap
      }
    }

  /** Anti join on ALL columns with null-safe equality: OPTIONAL window
    * blocks and static compat joins put genuine nulls (UNDEF) in
    * emission rows, and a plain column-name anti join would treat every
    * null-bearing row as new at every close. */
  private def antiNullSafe(l: DataFrame, r: DataFrame): DataFrame = {
    val la = l.alias("__dl"); val ra = r.alias("__dr")
    val cond = l.columns.map(c => col(s"__dl.$c") <=> col(s"__dr.$c")).reduce(_ && _)
    la.join(ra, cond, "left_anti")
  }

  /** Materialize the diff relation, or leave it lazy (appearing twice in
    * the anti-join plan, once per side)? Both are correct — the relation
    * is deterministic event-time math, so the two lazy occurrences agree
    * — and lazy MEASURED faster on every I/DSTREAM entry
    * (IstreamDenseProbe, 6 reps each, sf0.1): the 10×-density entry's
    * ~5M-row relation cost 2.5-15 s/rep checkpointed (RDD-block churn —
    * the measured source of that entry's 3 → 8 s bench drift) vs a
    * steady 2.0-2.8 s lazy, ReusedExchange serving the window join's
    * shuffle to both anti-join sides; the small entries tie. Set
    * `graft.rsp.diffRelationCheckpoint=true` to materialize anyway
    * (the right call only when the relation is small but wildly
    * expensive to recompute — e.g. a static join against a slow
    * external source).
    *
    * Determinism precondition (ADVICE r7): the lazy form evaluates the
    * relation twice, once per anti-join side, so correctness requires
    * the relation to be deterministic. The window/close pipeline built
    * here is pure event-time math, but a user-supplied static join leg
    * or UDF could smuggle in a nondeterministic expression — so the
    * plan is SCANNED for one, and any hit forces the checkpoint path
    * (single snapshot) regardless of the conf. A static SOURCE whose
    * contents change mid-query (e.g. a re-read external table) is not
    * detectable from the plan; callers with mutable sources must set
    * `graft.rsp.diffRelationCheckpoint=true`. */
  private def diffRelCheckpoint(df: DataFrame): DataFrame = {
    lazy val hasNonDeterministic = df.queryExecution.analyzed.exists(p =>
      p.expressions.exists(e => e.exists(!_.deterministic)))
    if (spark.conf.getOption("graft.rsp.diffRelationCheckpoint")
          .exists(_.toBoolean) || hasNonDeterministic) df.localCheckpoint()
    else df
  }

  private def checkpointedRelAndFired(events: DataFrame): (DataFrame, DataFrame) = {
    if (query.windows.size == 1) {
      val w = query.windows.head
      val fired = firedCloses(events, w).localCheckpoint()
      // the diff runs over the FINALIZED relation (incl. the static join) —
      // the engine also diffs emission rows after modifiers, not raw bindings
      (diffRelCheckpoint(finalizePerClose(applyStatic(windowRelation(events, w, fired)))),
        fired)
    } else {
      // multi-window: the engine diffs CONSECUTIVE Wait-cycle emissions,
      // so the fired sequence for the lag is the emission schedule and the
      // relation is the latest-per-window as-of join at those points
      // (Steal/Timeout emission cycles are arrival-order constructs with
      // no event-time diff sequence — driver engine territory)
      require(query.policy.forall(_ == WaitPolicy),
        "multi-window I/DSTREAM diff sequencing is Wait-policy only; " +
          "WITH POLICY steal/timeout R2S uses RspEngine")
      val perWindow = checkpointedPerWindow(events)
      val emis = waitEmissionCloses(perWindow.map(_._2)).localCheckpoint()
      (diffRelCheckpoint(finalizePerClose(applyStatic(asOfJoined(perWindow, emis)))),
        emis.withColumnRenamed("__c", "close"))
    }
  }

  private def relabelPrevToCurrent(rel: DataFrame, seq: DataFrame): DataFrame = {
    val vars = rel.columns.filter(_ != "close").toSeq
    rel.join(seq.select(col("__prev"), col("close").as("__cur")),
        col("close") === col("__prev"))
      .select(vars.map(col) :+ col("__cur").as("close"): _*)
  }

  // ---- streaming variants --------------------------------------------------

  /** Streaming `(close, vars…)` relation over a stream with columns
    * `(stream, ts: timestamp, s, p, o)`: stateless close explode + BGP
    * stream-stream equi-joins + fired-close gating (left-semi against the
    * max-close stream). Multi-window queries join the per-window relation
    * streams on (close, closeTs, shared vars) — aligned-close Wait
    * semantics as a stream-stream equi-join whose watermarked closeTs key
    * bounds the cross-window join state; Steal/Timeout cycles stay on the
    * driver engine (batch emissions carry their event-time formulations).
    * Defines the query's watermark internally (on `closeTs`) — callers
    * must NOT watermark the input (Spark forbids redefinition along one
    * lineage).
    *
    * WHY Steal/Timeout cannot run on the live plane (the r6 verdict asked
    * for one more attempt via the marker-projection pattern that unlocked
    * live MINUS; this is the proof sketch of why that pattern does not
    * reach them, `rsp_engine.rs:566-640` for the reference semantics):
    *
    * A Steal emission at close c joins each window i's relation at its
    * latest FIRED close cᵢ(c) ≤ c, where a close fires iff that window
    * REPORTED content there — so cᵢ is a function of the window's whole
    * fired sequence, i.e. of GLOBAL data presence, not of any per-key
    * slice. Every distributed-state mechanism Structured Streaming offers
    * partitions state by key and lets a key observe only its own rows
    * plus one global MONOTONE TIMESTAMP (the watermark):
    *
    *  - The marker-projection trick (live MINUS, stream-stream interval
    *    join) works because those operators are PER-KEY decomposable:
    *    the markers a key needs are the key's own rows projected into
    *    its group. Steal is not — a key k present in window i at close
    *    c₁ but absent at the later fired close c₂ must DROP its c₁ rows
    *    from every Steal emission after c₂, but whether c₂ fired is
    *    decided by OTHER keys' rows, which k's state never sees.
    *  - Encoding cᵢ in the join condition needs a stream-stream join on
    *    `close = max fired close ≤ c` — an aggregation-dependent non-equi
    *    condition; SS stream-stream joins are equi/interval only, and
    *    pre-aggregating "max fired close" yields a second stateful
    *    aggregation whose output cannot re-join the same stream below
    *    another stateful operator (unsupported multi-stateful topology
    *    for append streams with a cross-referencing condition).
    *  - Broadcasting the fired sequence to all keys would need a
    *    changing broadcast side — SS supports static broadcasts only.
    *
    * Timeout adds an arrival-order deadline (wall-clock from the cycle's
    * first trigger) on top — strictly harder. Both policies therefore
    * live in two sound forms: [[RspEngine]] on the live stream (driver
    * coordinator = exactly the reference's architecture), and the
    * event-time batch formulations [[relation]] carries (stealRelation/
    * timeoutRelation), which reproduce the engine's emission sequences on
    * event-time-ordered replays — parity-pinned in DistributedRspSpec. */
  def streamRelation(events: DataFrame): DataFrame = {
    require(query.windows.size == 1 ||
        query.policy.forall(_ == WaitPolicy),
      "streaming plane coordinates multi-window queries with aligned-close Wait " +
        "semantics; WITH POLICY steal/timeout needs RspEngine or batch emissions")
    require(query.windows.size == 1 ||
        query.windows.map(step).distinct.size == 1,
      "multi-window queries with UNEQUAL steps follow the Wait-cycle orbit, " +
        "which a stream-stream equi-join cannot express — use the batch " +
        "emissions or RspEngine on the live stream")
    applyStatic(query.windows.map(streamWindowRelation(events, _)).reduce(joinOnShared))
  }

  private def streamWindowRelation(events: DataFrame, w: WindowSpec): DataFrame = {
    val st = step(w)
    val e = routed(events, w).withColumn("__tsms",
      (unix_micros(col("ts")) / lit(1000L)).cast("long"))
    val content = explodeCloses(e.drop("ts").withColumnRenamed("__tsms", "ts"),
        w.rangeMs, st)
      .withColumn("closeTs", timestamp_millis(col("close")))
      .withWatermark("closeTs", watermarkDelay(w))
      // Optimizer barrier (always-true, NONDETERMINISTIC so no predicate
      // may reorder across it): without it Catalyst pushes the WINDOW
      // block's pattern filters BELOW the EventTimeWatermark node, whose
      // runtime stats then see only MATCHING rows — on a stream where the
      // pattern matches sparsely the watermark STARVES and finalized
      // aggregates/joins stall until the next match arrives. The engine
      // advances on every event; so must the watermark. (An opaque udf:
      // range-foldable guards like rand() > -1 are simplified away.)
      .filter(DistributedRsp.watermarkBarrier(col("close")))
    val gated = content.join(streamFired(events, w), Seq("close", "closeTs"), "left_semi")
    // streaming enrichment: a stream cannot loop a fixpoint, so unroll a
    // fixed number of rule passes; duplicates are merged by the
    // downstream R2S per-key distinct. The default computes the EXACT
    // requirement (longest rule-dependency chain) and refuses recursive
    // sets; an explicit streamEnrichRounds is the caller's opt-in to a
    // bounded unroll (under-derivation warned below).
    val rounds =
      if (rules.isEmpty) 0
      else streamEnrichRounds match {
        case Some(n) =>
          if (ruleChainDepth(rules).forall(_ > n))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"streamEnrichRounds=$n is below the rule set's derivation depth: " +
                "deeper derivations are NOT produced on the streaming plane. " +
                "The batch path / RspEngine run the full fixpoint.")
          n
        case None => ruleChainDepth(rules).getOrElse(throw new IllegalArgumentException(
          "recursive rule set on the streaming plane: a micro-batch pipeline cannot " +
            "run a fixpoint — pass streamEnrichRounds explicitly for a bounded " +
            "unroll, or use the batch emissions / RspEngine"))
      }
    val enriched =
      if (rules.isEmpty) gated
      else (0 until rounds).foldLeft(
          gated.select(col("close"), col("closeTs"), col("s"), col("p"), col("o"))) {
        (facts, _) =>
          facts.unionByName(rulePass(facts))
      }
    compileBlock(enriched, windowBlocks(w.iri))
  }

  /** Watermark delay: RANGE+STEP covers the skew between an arrival's ts
    * and the earliest close it can participate in on either side of the
    * content/fired stream-stream join. */
  private def watermarkDelay(w: WindowSpec): String =
    s"${w.rangeMs + step(w)} milliseconds"

  /** The fired-close stream: max-closing close per arrival, `closeTs` its
    * watermarked event-time twin — keeping closeTs in every join key set
    * is what bounds stream-stream join state. */
  private def streamFired(events: DataFrame, w: WindowSpec): DataFrame =
    routed(events, w)
      .select(maxClose((unix_micros(col("ts")) / lit(1000L)).cast("long"), step(w)).as("close"))
      .withColumn("closeTs", timestamp_millis(col("close")))
      .withWatermark("closeTs", watermarkDelay(w))

  /** Counts fired closes that skipped step multiples (sparse ticks) —
    * the one condition under which the incremental R2S diff (close-step
    * granularity) disagrees with the batch/engine previous-FIRED-close
    * diff. Fed by a sentinel key through the R2S processors; non-zero
    * after a run means the stream was sparse and the batch formulations
    * are the authoritative route. */
  lazy val sparseTickCounter: org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft.rsp.sparse-fired-closes")

  /** Streaming emissions: the relation gets its per-close modifiers —
    * aggregates as ONE distributed aggregation grouped by (close, closeTs,
    * GROUP BY vars) in append mode (the watermarked closeTs key is what
    * lets Spark finalize each group), projection, DISTINCT-within-
    * watermark — then RSTREAM passes rows through while ISTREAM / DSTREAM
    * run incrementally in `transformWithState` keyed by the binding
    * ([[IncrementalR2S]]). A fired-close sentinel rides along to DETECT
    * sparse fired-close sequences at runtime ([[sparseTickCounter]] +
    * executor-side warning) — the documented divergence of the
    * close-step-granularity diff from the batch previous-fired-close diff
    * is now observable instead of silent.
    *
    * `buffered = true` opts into the watermark-buffered R2S processors
    * ([[IncrementalR2S.istreamBuffered]]): per-key ListState + event-time
    * timers process closes in close order once the watermark passes, so
    * feeds reordered within the lateness allowance are diffed correctly
    * (the eager default requires per-key non-decreasing closes across
    * micro-batches and emits with one less micro-batch of latency). */
  def streamEmissions(events: DataFrame, buffered: Boolean = false): Dataset[R2SRow] = {
    require((query.select.limit.isEmpty && query.select.offset.isEmpty) ||
        query.select.orderBy.nonEmpty,
      "LIMIT/OFFSET without ORDER BY is a nondeterministic subset; add an " +
        "ORDER BY or use the batch emissions / RspEngine")
    val relAll = streamRelation(events)
    val sel0 = query.select
    val keys = Seq("close", "closeTs")
    // HAVING: append-mode aggregation finalizes each (close, group) once
    // the watermark passes, so the HAVING condition is a STATELESS filter
    // over finalized rows — same synthetic-aggregate rewrite as the batch
    // plane (r6; was a loud refusal alongside LIMIT)
    val synth = scala.collection.mutable.ArrayBuffer.empty[graft.sparql.Ast.Aggregate]
    val having = sel0.having.map(condCompiler.rewriteHaving(_, sel0.aggregates, synth))
    val sel = if (synth.isEmpty) sel0
      else sel0.copy(aggregates = sel0.aggregates ++ synth)
    val finalized = {
      var df =
        if (sel.aggregates.nonEmpty || sel.groupBy.nonEmpty || having.nonEmpty)
          condCompiler.applyAggregates(relAll, sel, keys)
        else nonAggFinalize(relAll, sel, keys)
      having.foreach(c => df = df.filter(condCompiler.compileCond(df, c)))
      if (synth.nonEmpty) df = df.drop(synth.map(_.alias).toSeq: _*)
      df
    }
    streamEmissionsTail(events, finalized, buffered)
  }

  private def nonAggFinalize(relAll: DataFrame, sel: Select,
      keys: Seq[String]): DataFrame = {
    val deduped = query.kind match {
      // batch relations have set semantics: a duplicated arrival or a
      // rule re-deriving an existing fact must not emit twice
      case RStream => relAll.dropDuplicatesWithinWatermark()
      case _ => relAll
    }
    val projCols: Seq[String] =
      if (sel.projection == Seq("*"))
        deduped.columns.toSeq.filterNot(keys.contains)
      else sel.projection
    val projected = deduped.select((keys ++ projCols).map(col): _*)
    if (sel.distinct && query.kind == RStream)
      projected.dropDuplicatesWithinWatermark()
    else projected
  }

  /** Finalized close-keyed rows → R2S emission stream. */
  private def streamEmissionsTail(events: DataFrame, finalized: DataFrame,
      buffered: Boolean): Dataset[R2SRow] = {
    val rel = finalized.drop("closeTs")
    val vars = rel.columns.filter(_ != "close").toSeq
    val rows0 = toR2SRows(rel, vars)
    val st = step(query.windows.head)
    val sel = query.select
    // per-close ORDER BY + LIMIT/OFFSET: a close-keyed buffer-and-rank
    // stateful stage ([[IncrementalR2S.perCloseTopK]]) — Structured
    // Streaming has no window functions, so the rank runs in
    // transformWithState once the watermark completes each close
    // (r6; was a loud refusal)
    val rows =
      if (sel.orderBy.nonEmpty && (sel.limit.nonEmpty || sel.offset.nonEmpty))
        IncrementalR2S.perCloseTopK(rows0, st,
          sel.orderBy.map(k => (k.v, k.asc)),
          sel.limit.map(_.toLong), sel.offset.getOrElse(0).toLong)
      else rows0
    query.kind match {
      case RStream =>
        // live twin of [[withEmptyFiringAggregates]]: a fired close whose
        // block matched nothing emits the global aggregate's zero row —
        // the fired-close sentinel feeds a close-keyed zero-fill stage
        // that passes real rows through and emits the precomputed zero
        // binding at close + step when none arrived
        globalZeroBinding match {
          case Some(zero) =>
            val w = query.windows.head
            import rel.sparkSession.implicits._
            val sentinel = streamFired(events, w).dropDuplicatesWithinWatermark()
              .select(col("close")).as[Long]
              .map(c => R2SRow(c, Map(IncrementalR2S.FiredMarker -> "")))
            IncrementalR2S.zeroFill(rows.unionByName(sentinel), st, zero)
          case None => rows
        }
      case _ =>
        // incremental diffs run at close-step granularity: multi-window
        // queries need one shared step for the joined relation's sequence
        require(query.windows.map(step).distinct.size == 1,
          "I/DSTREAM on the streaming plane needs equal window steps; " +
            "mixed-step multi-window R2S uses RspEngine")
        // sentinel: one row per fired close through a reserved key, so the
        // processors can check the dense-tick assumption the diff rests on
        val w = query.windows.head
        import rel.sparkSession.implicits._
        val sentinel = streamFired(events, w).dropDuplicatesWithinWatermark()
          .select(col("close")).as[Long]
          .map(c => R2SRow(c, Map(IncrementalR2S.FiredMarker -> "")))
        val withSentinel = rows.unionByName(sentinel)
        query.kind match {
          case IStream =>
            if (buffered) IncrementalR2S.istreamBuffered(withSentinel, st, Some(sparseTickCounter))
            else IncrementalR2S.istream(withSentinel, st, Some(sparseTickCounter))
          case DStream =>
            if (buffered) IncrementalR2S.dstreamBuffered(withSentinel, st, Some(sparseTickCounter))
            else IncrementalR2S.dstream(withSentinel, st, Some(sparseTickCounter))
          case RStream => rows // unreachable
        }
    }
  }
}

object DistributedRsp {
  /** `(close, binding)` — the rows flowing through incremental R2S. */
  final case class R2SRow(close: Long, binding: Map[String, String])

  /** Always-true nondeterministic predicate — the pushdown barrier that
    * keeps pattern filters ABOVE the content watermark (see
    * streamWindowRelation). Opaque to the optimizer by construction. */
  private[streaming] val watermarkBarrier =
    udf((_: Long) => true).asNondeterministic()

  /** Exact unroll requirement of a rule set on the streaming plane: the
    * longest chain of rule applications (rule A feeds rule B when one of
    * A's conclusion predicates appears among B's premise predicates).
    * `None` when the dependency graph has a cycle — a genuinely recursive
    * set with no finite unroll — or when a head/premise predicate is a
    * variable (dependencies unknowable, treated as recursive). A
    * dependency-free set needs exactly 1 round; a 2-chain needs 2. */
  private[graft] def ruleChainDepth(rules: Seq[Rule]): Option[Int] = {
    val headPreds = rules.map(_.conclusion.map(tp => RuleBody.constPred(tp.p)))
    val premPreds = rules.map(r =>
      (r.premise ++ r.negativePremise).map(tp => RuleBody.constPred(tp.p)))
    if ((headPreds ++ premPreds).exists(_.exists(_.isEmpty))) return None
    val h = headPreds.map(_.flatten.toSet)
    val p = premPreds.map(_.flatten.toSet)
    val n = rules.size
    val adj = (0 until n).map(a => (0 until n).filter(b => h(a).intersect(p(b)).nonEmpty))
    // longest path in the rule DAG (depth in rules); cycle → None
    val memo = Array.fill(n)(-1)
    val onStack = Array.fill(n)(false)
    def dfs(i: Int): Option[Int] = {
      if (onStack(i)) return None
      if (memo(i) >= 0) return Some(memo(i))
      onStack(i) = true
      var best = 1
      adj(i).foreach { j =>
        dfs(j) match {
          case None => onStack(i) = false; return None
          case Some(d) => best = math.max(best, 1 + d)
        }
      }
      onStack(i) = false
      memo(i) = best
      Some(best)
    }
    (0 until n).foldLeft(Option(0)) { (acc, i) =>
      for { a <- acc; d <- dfs(i) } yield math.max(a, d)
    }
  }

  /** max-closing window of an arrival at `ts`: largest STEP multiple < ts.
    * [[maxCloseLong]] is the scalar twin [[RspEngine]] advances with —
    * the batch/control-plane parity suite rests on the two staying
    * identical, so both live here. */
  private[streaming] def maxClose(ts: Column, step: Long): Column =
    (ts - 1) - ((ts - 1) % step)

  private[streaming] def maxCloseLong(ts: Long, step: Long): Long =
    (ts - 1) - ((ts - 1) % step)

  /** Explode each event to its covering closes: ts ≤ c ≤ ts+range,
    * c ≡ 0 (mod step). Exact long arithmetic (no double division — at ms
    * epoch scale doubles lose the boundary). */
  private[streaming] def explodeCloses(e: DataFrame, range: Long, step: Long): DataFrame = {
    val cLo = col("ts") + ((lit(step) - (col("ts") % step)) % step)
    val cHi = (col("ts") + range) - ((col("ts") + range) % step)
    e.withColumn("close",
        explode(when(cLo <= cHi, sequence(cLo, cHi, lit(step)))
          .otherwise(array().cast("array<bigint>"))))
  }

  private[streaming] def toR2SRows(rel: DataFrame, vars: Seq[String]): Dataset[R2SRow] = {
    import rel.sparkSession.implicits._
    rel.select(col("close") +:
        vars.map(v => col(v).cast("string").as(v)): _*)
      .map { row =>
        R2SRow(row.getLong(0),
          vars.zipWithIndex.flatMap { case (v, i) =>
            Option(row.getString(i + 1)).map(v -> _)
          }.toMap)
      }
  }
}


/** Incremental R2S operators over a `(close, binding)` stream —
  * `transformWithState` keyed by the binding, state = the last close at
  * which the binding appeared (`r2s.rs:24-52` semantics in the CQL
  * dense-tick formulation; identical to [[StreamOps]]'s batch
  * step-arithmetic diffs, which StreamingSpec asserts).
  *
  *  - ISTREAM: emit (c, b) iff b was absent at c − step;
  *  - DSTREAM: emit (c', b) at the first close c' = lastSeen + step where
  *    b is absent — detected when b reappears after a gap, and by an
  *    event-time timer when b never reappears.
  *
  * Two processor families share these semantics:
  *
  * EAGER ([[istream]]/[[dstream]], the default): rows are diffed the
  * micro-batch they arrive. Delivery contract: per key, closes must
  * arrive non-decreasing across micro-batches (rows with close ≤ the
  * key's last seen close are treated as duplicates and dropped). Feeds
  * replayed in event-time order and watermark-ordered pipelines satisfy
  * the contract.
  *
  * BUFFERED ([[istreamBuffered]]/[[dstreamBuffered]]): per-key ListState
  * buffers arrivals and event-time timers drain them IN CLOSE ORDER once
  * the watermark guarantees a close's rows are complete (timer at close +
  * step — a timer at the close itself would race same-close rows when the
  * watermark sits exactly ON it). Anything the watermark admits is diffed
  * correctly regardless of arrival order, at the cost of one lateness
  * allowance of emission latency and a small per-key buffer. This lifts
  * the eager family's close-monotone delivery contract.
  *
  * Both families watch the [[FiredMarker]] sentinel key (one row per
  * FIRED close, fed by [[DistributedRsp.streamEmissions]]): the
  * incremental diff runs at close-STEP granularity while batch/engine
  * diff against the previous FIRED close, so a fired-close sequence that
  * skips step multiples makes the two planes disagree — the sentinel
  * detects exactly that condition at runtime, counts it on the passed
  * accumulator, and logs a warning, instead of leaving the divergence
  * silent.
  *
  * State per binding is one long (+ the binding for timer emission; + the
  * buffered rows within one lateness allowance for the buffered family) —
  * the minimal footprint for exact diffs over unbounded streams.
  */
object IncrementalR2S {
  import DistributedRsp.R2SRow

  /** Reserved sentinel variable name marking fired-close rows (reserved
    * on the plane alongside close/closeTs). */
  private[streaming] val FiredMarker = "__fired__"

  /** Length-prefixed binding encoding: separator bytes can appear INSIDE
    * values (RDF-star lexical forms embed control chars via
    * TermLex.QtSep), so plain separator joining would let two distinct
    * bindings collide onto one transformWithState key and share state. */
  private[streaming] def encodeKey(b: Map[String, String]): String =
    b.toSeq.sorted.map { case (k, v) => s"${k.length}:$k${v.length}:$v" }.mkString

  private val FiredKey = encodeKey(Map(FiredMarker -> ""))

  /** Dense-tick check over the sentinel key's fired-close sequence
    * (caller passes closes in the order they are processed): a fired
    * close that is not lastFired + step is a sparse tick — counted and
    * warned, because the incremental diff then diverges from the batch
    * previous-fired-close diff. Returns the new last fired close. */
  private def trackFired(closes: Seq[Long], last: Option[Long], step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator]): Option[Long] = {
    var l = last
    closes.foreach { c =>
      l match {
        case Some(prev) if c <= prev => () // duplicate/late
        case Some(prev) =>
          if (c != prev + step) {
            sparse.foreach(_.add(1L))
            org.slf4j.LoggerFactory.getLogger("graft.streaming.IncrementalR2S").warn(
              s"sparse fired-close sequence: close $c follows $prev with step $step " +
                "— incremental R2S diffs at close-step granularity and diverges " +
                "from the batch previous-fired-close diff here; use the batch " +
                "emissions for authoritative results on sparse streams")
          }
          l = Some(c)
        case None => l = Some(c)
      }
    }
    l
  }

  private class IstreamProcessor(step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator])
      extends StatefulProcessor[String, R2SRow, R2SRow] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Long]("lastClose", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[R2SRow],
        tv: TimerValues): Iterator[R2SRow] = {
      val sorted = rows.toSeq.distinctBy(_.close).sortBy(_.close)
      if (key == FiredKey) {
        val l0 = if (last.exists()) Some(last.get()) else None
        trackFired(sorted.map(_.close), l0, step, sparse).foreach(last.update)
        return Iterator.empty
      }
      val out = Seq.newBuilder[R2SRow]
      sorted.foreach { r =>
        if (!last.exists()) { out += r; last.update(r.close) }
        else if (r.close > last.get()) { // ≤ last: duplicate/late, done
          if (last.get() != r.close - step) out += r
          last.update(r.close)
        }
      }
      out.result().iterator
    }
  }

  private class DstreamProcessor(step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator])
      extends StatefulProcessor[String, R2SRow, R2SRow] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[(Long, Map[String, String])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(Long, Map[String, String])]("lastSeen",
        Encoders.product[(Long, Map[String, String])], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[R2SRow],
        tv: TimerValues): Iterator[R2SRow] = {
      val sorted = rows.toSeq.distinctBy(_.close).sortBy(_.close)
      if (key == FiredKey) { // sentinel: dense-tick check only, no timers
        val l0 = if (last.exists()) Some(last.get()._1) else None
        trackFired(sorted.map(_.close), l0, step, sparse)
          .foreach(c => last.update((c, Map.empty)))
        return Iterator.empty
      }
      val out = Seq.newBuilder[R2SRow]
      sorted.foreach { r =>
        if (!last.exists() || r.close > last.get()._1) { // ≤ last: dup/late
          if (last.exists() && last.get()._1 + step < r.close)
            out += R2SRow(last.get()._1 + step, last.get()._2) // gap deletion
          last.update((r.close, r.binding))
          // fire a full step past the deletion close: when the watermark
          // sits exactly ON close c, rows for c may still arrive in the
          // next batch — a timer at c would race them and emit a spurious
          // deletion for a binding that is in fact present at c
          getHandle.registerTimer(r.close + 2 * step)
        }
      }
      out.result().iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[R2SRow] = {
      if (last.exists() && info.getExpiryTimeInMs == last.get()._1 + 2 * step) {
        val (c, b) = last.get()
        last.clear()
        Iterator.single(R2SRow(c + step, b))
      } else Iterator.empty
    }
  }

  /** Watermark-buffered ISTREAM: buffer arrivals, drain in close order
    * once the watermark passes close + step. */
  private class BufferedIstreamProcessor(step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator])
      extends StatefulProcessor[String, R2SRow, R2SRow] {
    @transient private var pending: org.apache.spark.sql.streaming.ListState[R2SRow] = _
    @transient private var last: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[R2SRow]("pending",
        Encoders.product[R2SRow], TTLConfig.NONE)
      last = getHandle.getValueState[Long]("lastClose", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[R2SRow],
        tv: TimerValues): Iterator[R2SRow] = {
      rows.foreach { r =>
        if (!last.exists() || r.close > last.get()) {
          pending.appendValue(r)
          getHandle.registerTimer(r.close + step)
        }
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[R2SRow] = {
      // drain everything the CURRENT watermark has completed (see the
      // DSTREAM drain comment — one timer may stand for many)
      val cutoff = math.max(info.getExpiryTimeInMs, tv.getCurrentWatermarkInMs()) - step
      val (ready, rest) = pending.get().toSeq.partition(_.close <= cutoff)
      pending.clear()
      if (rest.nonEmpty) pending.put(rest.toArray)
      val ordered = ready.distinctBy(_.close).sortBy(_.close)
      if (key == FiredKey) {
        val l0 = if (last.exists()) Some(last.get()) else None
        trackFired(ordered.map(_.close), l0, step, sparse).foreach(last.update)
        return Iterator.empty
      }
      val out = Seq.newBuilder[R2SRow]
      ordered.foreach { r =>
        if (!last.exists()) { out += r; last.update(r.close) }
        else if (r.close > last.get()) {
          if (last.get() != r.close - step) out += r
          last.update(r.close)
        }
      }
      out.result().iterator
    }
  }

  /** Watermark-buffered DSTREAM: drain in close order; gap deletions at
    * drain time, final disappearance via the lastSeen + 2·step timer. */
  private class BufferedDstreamProcessor(step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator])
      extends StatefulProcessor[String, R2SRow, R2SRow] {
    @transient private var pending: org.apache.spark.sql.streaming.ListState[R2SRow] = _
    @transient private var last: org.apache.spark.sql.streaming.ValueState[(Long, Map[String, String])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[R2SRow]("pending",
        Encoders.product[R2SRow], TTLConfig.NONE)
      last = getHandle.getValueState[(Long, Map[String, String])]("lastSeen",
        Encoders.product[(Long, Map[String, String])], TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[R2SRow],
        tv: TimerValues): Iterator[R2SRow] = {
      rows.foreach { r =>
        if (!last.exists() || r.close > last.get()._1) {
          pending.appendValue(r)
          getHandle.registerTimer(r.close + step)
        }
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[R2SRow] = {
      // drain everything the CURRENT watermark has completed, not just
      // this timer's close — a watermark jump expires many timers in one
      // batch, and draining per-timer would interleave the final-deletion
      // check with closes still pending
      val cutoff = math.max(info.getExpiryTimeInMs, tv.getCurrentWatermarkInMs()) - step
      val (ready, rest) = pending.get().toSeq.partition(_.close <= cutoff)
      pending.clear()
      if (rest.nonEmpty) pending.put(rest.toArray)
      val ordered = ready.distinctBy(_.close).sortBy(_.close)
      if (key == FiredKey) {
        val l0 = if (last.exists()) Some(last.get()._1) else None
        trackFired(ordered.map(_.close), l0, step, sparse)
          .foreach(c => last.update((c, Map.empty)))
        return Iterator.empty
      }
      val out = Seq.newBuilder[R2SRow]
      ordered.foreach { r =>
        if (!last.exists()) last.update((r.close, r.binding))
        else if (r.close > last.get()._1) {
          if (last.get()._1 + step < r.close)
            out += R2SRow(last.get()._1 + step, last.get()._2) // gap deletion
          last.update((r.close, r.binding))
        }
      }
      if (last.exists() && rest.isEmpty) {
        // only an EMPTY buffer can mean disappearance — pending closes
        // beyond the cutoff keep the binding alive
        val (c, b) = last.get()
        // decide on the CURRENT watermark, not this timer's expiry: a
        // watermark jump can pass c + 2·step in the same batch that
        // drained c, and a timer registered now would never fire again
        // on a stream with no further data
        if (tv.getCurrentWatermarkInMs() >= c + 2 * step) {
          // a full step past c is complete with no arrival: the binding
          // disappeared at c + step
          out += R2SRow(c + step, b)
          last.clear()
        } else getHandle.registerTimer(c + 2 * step)
      }
      out.result().iterator
    }
  }

  /** Per-close ORDER BY + LIMIT/OFFSET over an unbounded stream: key by
    * CLOSE, buffer the close's finalized rows in ListState, and when the
    * event-time timer at close + step fires (the watermark guarantees the
    * close's rows are complete — same +step guard as the buffered R2S
    * family), sort with the engine's numeric-if-parses-else-lexical
    * comparator (`execute_query.rs:477-499`, the streaming twin of
    * [[graft.sparql.Compiler.sortKeyCols]]'s struct key) and emit the
    * [offset, offset+limit) slice. State per close is one buffered rank
    * window, cleared on drain. */
  private class PerCloseTopKProcessor(step: Long, orderBy: Seq[(String, Boolean)],
      lo: Long, hi: Long)
      extends StatefulProcessor[String, R2SRow, R2SRow] {
    @transient private var pending: org.apache.spark.sql.streaming.ListState[R2SRow] = _
    @transient private var done: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[R2SRow]("pending",
        Encoders.product[R2SRow], TTLConfig.NONE)
      // TTL is not available in EventTime mode; the drain timer chain
      // below clears this state one step after the drain instead, so a
      // close's footprint is bounded (no per-close leak on an unbounded
      // stream)
      done = getHandle.getValueState[Boolean]("done", Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[R2SRow],
        tv: TimerValues): Iterator[R2SRow] = {
      if (done.exists()) return Iterator.empty // drained: late duplicates drop
      var close = -1L
      rows.foreach { r => pending.appendValue(r); close = r.close }
      if (close >= 0) getHandle.registerTimer(close + step)
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[R2SRow] = {
      if (done.exists()) {
        // second (cleanup) firing: drop the per-close state entirely —
        // anything later than close + 2·step is beyond the watermark
        // allowance and cannot arrive
        done.clear(); pending.clear()
        return Iterator.empty
      }
      val buf = pending.get().toSeq
      pending.clear()
      done.update(true)
      getHandle.registerTimer(info.getExpiryTimeInMs + step) // cleanup tick
      val ordered = buf.sortWith { (a, b) =>
        compareBindings(a.binding, b.binding, orderBy) < 0
      }
      ordered.slice(lo.toInt, math.min(hi, ordered.length).toInt).iterator
    }
  }

  /** The engine's ORDER BY total order over lexical bindings: numeric when
    * both sides parse, else lexical; an unbound var sorts first ascending
    * (the struct key's null-first), multi-key lexicographic. */
  private[streaming] def compareBindings(a: Map[String, String],
      b: Map[String, String], keys: Seq[(String, Boolean)]): Int = {
    keys.foreach { case (v, asc) =>
      val (x, y) = (a.get(v), b.get(v))
      val c0 = (x, y) match {
        case (None, None) => 0
        case (None, _) => -1
        case (_, None) => 1
        case (Some(xs), Some(ys)) =>
          val (xn, yn) = (xs.toDoubleOption, ys.toDoubleOption)
          val byNum = (xn, yn) match {
            case (Some(xd), Some(yd)) => java.lang.Double.compare(xd, yd)
            case (None, Some(_)) => -1 // null numeric field sorts first
            case (Some(_), None) => 1
            case (None, None) => 0
          }
          if (byNum != 0) byNum else xs.compareTo(ys)
      }
      if (c0 != 0) return if (asc) c0 else -c0
    }
    0
  }

  /** Empty-firing zero-fill for live global aggregates: real aggregate
    * rows pass straight through; the fired-close sentinel arms a timer at
    * close + step, and a close that saw NO real row by then emits the
    * precomputed zero binding (the batch plane's
    * `withEmptyFiringAggregates`, one close of state at a time). */
  private class ZeroFillProcessor(step: Long, zero: Map[String, String])
      extends StatefulProcessor[String, R2SRow, R2SRow] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // cleared by the drain-timer chain (see PerCloseTopK note)
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[R2SRow],
        tv: TimerValues): Iterator[R2SRow] = {
      val out = Seq.newBuilder[R2SRow]
      var close = -1L
      rows.foreach { r =>
        close = r.close
        if (!r.binding.contains(FiredMarker)) { seen.update(true); out += r }
      }
      if (close >= 0) getHandle.registerTimer(close + step)
      out.result().iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[R2SRow] = {
      if (seen.exists()) { seen.clear(); Iterator.empty } // cleanup tick
      else {
        seen.update(true) // a later duplicate timer must not re-emit
        getHandle.registerTimer(info.getExpiryTimeInMs + step) // cleanup
        Iterator.single(R2SRow(info.getExpiryTimeInMs - step, zero))
      }
    }
  }

  /** Zero-fill a global-aggregate emission stream (see ZeroFillProcessor). */
  def zeroFill(rows: Dataset[R2SRow], step: Long,
      zero: Map[String, String]): Dataset[R2SRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(r => r.close.toString)
      .transformWithState(new ZeroFillProcessor(step, zero),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Apply a per-close rank to a finalized `(close, binding)` stream. */
  def perCloseTopK(rows: Dataset[R2SRow], step: Long,
      orderBy: Seq[(String, Boolean)], limit: Option[Long],
      offset: Long): Dataset[R2SRow] = {
    import rows.sparkSession.implicits._
    val hi = limit.map(offset + _).getOrElse(Long.MaxValue)
    rows.groupByKey(r => r.close.toString)
      .transformWithState(new PerCloseTopKProcessor(step, orderBy, offset, hi),
        TimeMode.EventTime(), OutputMode.Append())
  }

  private def keyed(rows: Dataset[R2SRow]) = {
    import rows.sparkSession.implicits._
    rows.groupByKey(r => encodeKey(r.binding))
  }

  /** Incremental ISTREAM (requires RocksDB state store provider). */
  def istream(rows: Dataset[R2SRow], step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[R2SRow] = {
    import rows.sparkSession.implicits._
    keyed(rows).transformWithState(new IstreamProcessor(step, sparse),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Incremental DSTREAM with event-time timers for final disappearance. */
  def dstream(rows: Dataset[R2SRow], step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[R2SRow] = {
    import rows.sparkSession.implicits._
    keyed(rows).transformWithState(new DstreamProcessor(step, sparse),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Reorder-tolerant ISTREAM: correct for any feed the watermark admits. */
  def istreamBuffered(rows: Dataset[R2SRow], step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[R2SRow] = {
    import rows.sparkSession.implicits._
    keyed(rows).transformWithState(new BufferedIstreamProcessor(step, sparse),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Reorder-tolerant DSTREAM: correct for any feed the watermark admits. */
  def dstreamBuffered(rows: Dataset[R2SRow], step: Long,
      sparse: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[R2SRow] = {
    import rows.sparkSession.implicits._
    keyed(rows).transformWithState(new BufferedDstreamProcessor(step, sparse),
      TimeMode.EventTime(), OutputMode.Append())
  }
}
