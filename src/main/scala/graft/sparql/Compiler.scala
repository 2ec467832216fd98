package graft.sparql

import graft.reasoner.Reasoner.RoundCheckpointOps
import graft.reasoner.RuleBody.termVars
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{QuadStore, TermLex}
import scala.jdk.CollectionConverters._
import Ast._

/** SPARQL algebra → DataFrame compiler.
  *
  * Replaces the reference's lowering + Streamertail optimizer + binding-
  * propagation executor (`streamertail_optimizer/utils.rs:402-517`,
  * `optimizer.rs`, `execution/engine.rs:288-672`) with a single declarative
  * mapping: BGPs become equi-joins over the quads DataFrame and Catalyst +
  * AQE pick physical join strategies, pushdown, and codegen. The one piece
  * of bespoke planning retained is a greedy BGP join-order pre-pass
  * (mirroring the intent of the star-join/selectivity heuristics at
  * `optimizer.rs:143-206,579-603`) so Catalyst never sees a pathological
  * left-deep 20-way self-join chain in WatDiv-style queries.
  *
  * Semantics preserved from the reference:
  *  - numeric-if-both-parse else lexical comparisons (`types.rs:349-371`)
  *  - FILTERs deferred to the end of the enclosing group (`utils.rs:443-482`)
  *  - UNION keeps duplicates, pads missing vars with UNDEF/NULL
  *    (`engine.rs:328-339,155-167`)
  *  - solution-sequence compatibility joins treat UNDEF as compatible
  *    (`engine.rs:1137-1160`) — compiled to null-tolerant join conditions
  *    only when a shared var is actually nullable, so the common case
  *    stays a hash-joinable equi-join
  *  - modifier order: aggregate → ORDER → DISTINCT → LIMIT, subqueries
  *    project before DISTINCT (`execute_query.rs:279-318`, `engine.rs:685-719`)
  *  - aggregate inputs parsed as double, non-numeric dropped
  *    (`execute_query.rs:432-465`)
  */
object Compiler {
  /** A solution sequence: one column per bound variable. `maybeNull` marks
    * vars that can be UNDEF (from UNION padding / VALUES UNDEF).
    * `encoded` marks vars still carried as 64-bit dictionary ids (the
    * encoded BGP path defers decode past the BGP boundary — SURVEY §1.5
    * phase 2): joins/grouping/DISTINCT run on ids, and [[Compiler]]
    * decodes exactly where lexical semantics are needed (FILTER/BIND
    * inputs, aggregate inputs, ORDER keys) or at output. */
  final case class Bindings(df: DataFrame, maybeNull: Set[String],
      encoded: Set[String] = Set.empty) {
    def vars: Set[String] = df.columns.toSet
  }

  // RDF-star helpers over the TermLex quoted-triple encoding. The encode
  // side (TRIPLE) is pure concat; decomposition is a native Catalyst
  // expression with codegen (graft.functions.QtComponent) so RDF-star
  // plans stay inside whole-stage codegen (no UDF stage break).
  def qtIs(c: Column): Column = c.startsWith(TermLex.QtOpen.toString)
  def qtMake(s: Column, p: Column, o: Column): Column =
    concat(lit(TermLex.QtOpen.toString), s, lit(TermLex.QtSep.toString), p,
      lit(TermLex.QtSep.toString), o, lit(TermLex.QtClose.toString))
  def qtS(c: Column): Column = graft.functions.QtComponent.subject(c)
  def qtP(c: Column): Column = graft.functions.QtComponent.predicate(c)
  def qtO(c: Column): Column = graft.functions.QtComponent.obj(c)

  /** Distinguishes blank-node allocations across updates in one session
    * (the reference's dictionary hands out globally fresh ids). */
  private[sparql] val bnodeEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pure subject-star detector — the reference's star-join recognition
    * (`optimizer.rs:143-206` groups patterns by shared subject variable):
    * at least 3 patterns, every subject the SAME variable. This is
    * exactly the measured-win shape for the subject-bucketed layout
    * (WatDivBucketProbe: S-stars 1.3-1.5×; anything multi-hub regresses),
    * so the [[Compiler]] star router accepts nothing looser. */
  private[graft] def isSubjectStar(patterns: Seq[TriplePattern]): Boolean =
    patterns.size >= 3 && (patterns.head.s match {
      case Var(n) => patterns.forall(_.s == Var(n))
      case _ => false
    })
}

class Compiler(store: QuadStore,
    /** Optional subject-bucketed twin of `store` (same triples, CLUSTERED
      * BY s — [[graft.relational.Triplizer.bucketedStore]]). When present,
      * pure subject-star BGPs route their scans to it automatically — the
      * compiler-heuristic form of the r8 measured split (subject stars win
      * 1.3-1.5× on the bucketed layout because the star join needs no
      * exchange; multi-hub chains REGRESS, so only [[Compiler.isSubjectStar]]
      * shapes route). The detector mirrors the reference's star-join
      * recognition (`optimizer.rs:143-206`: patterns grouped by shared
      * subject var). */
    starStore: Option[QuadStore] = None) {
  import Compiler._

  private val spark: SparkSession = store.spark
  graft.functions.QtComponent.register(spark)

  /** FROM / FROM NAMED dataset view (`engine.rs:170-209`): no clauses =
    * physical default graph + all named graphs; otherwise exactly the
    * listed graphs, with multi-graph default merged + deduplicated
    * (`dataset_index.rs:207-221`). */
  final case class View(default: DataFrame, named: DataFrame,
      /** No FROM/FROM NAMED clauses — the physical dataset. */
      physicalDataset: Boolean = false,
      /** The FROM / FROM NAMED graph lists, kept so the encoded BGP path
        * can re-scope its id-space scans (`g_id` equality against
        * constant-folded `xxhash64` literals) without round-tripping
        * through the lexical view. */
      fromGraphs: Seq[String] = Nil,
      fromNamed: Seq[String] = Nil)

  def buildView(fromGraphs: Seq[String], fromNamed: Seq[String]): View = {
    val q = store.quads
    if (fromGraphs.isEmpty && fromNamed.isEmpty)
      View(q.filter(col("g").isNull).select("s", "p", "o"), q.filter(col("g").isNotNull),
        physicalDataset = true)
    else {
      val d =
        if (fromGraphs.isEmpty) q.filter(lit(false)).select("s", "p", "o")
        else {
          val sel = q.filter(col("g").isin(fromGraphs: _*)).select("s", "p", "o")
          if (fromGraphs.size > 1) sel.dropDuplicates("s", "p", "o") else sel
        }
      val n =
        if (fromNamed.isEmpty) q.filter(lit(false))
        else q.filter(col("g").isin(fromNamed: _*))
      View(d, n, physicalDataset = false, fromGraphs = fromGraphs, fromNamed = fromNamed)
    }
  }

  private def unitBindings: Bindings =
    Bindings(spark.range(1).select(), Set.empty)

  /** Decode the given id-carrying columns back to lexical form — one
    * equi-join per column against [[graft.model.QuadStore.termsTable]].
    * No-op for columns not (or no longer) encoded. Called exactly where
    * lexical semantics are needed, so grouping/DISTINCT/joins upstream
    * keep running on 8-byte ids. */
  private def decode(b: Bindings, cols: Set[String]): Bindings = {
    val todo = b.encoded.intersect(cols)
    if (todo.isEmpty) return b
    val terms = store.termsTable
    val df = todo.foldLeft(b.df) { (d, v) =>
      // a nullable (UNDEF-able) id must survive decoding as a null lexical
      // value — inner would silently drop the row (OPTIONAL/UNION padding)
      val joinType = if (b.maybeNull(v)) "left_outer" else "inner"
      d.join(terms.select(col("id").as(s"__tid_$v"), col("lex").as(s"__lex_$v")),
          col(v) === col(s"__tid_$v"), joinType)
        .drop(v, s"__tid_$v")
        .withColumnRenamed(s"__lex_$v", v)
    }
    Bindings(df, b.maybeNull, b.encoded -- todo)
  }

  private def decodeAll(b: Bindings): Bindings = decode(b, b.encoded)

  private def exprVars(e: Expr): Set[String] = e match {
    case ETerm(Var(n)) => Set(n)
    case ETerm(_) => Set.empty
    case Arith(_, l, r) => exprVars(l) ++ exprVars(r)
    case Func(_, args) => args.flatMap(exprVars).toSet
    case IfExpr(c, t, el) => condVars(c) ++ exprVars(t) ++ exprVars(el)
  }

  private def condVars(c: Condition): Set[String] = c match {
    case Cmp(_, l, r) => exprVars(l) ++ exprVars(r)
    case And(l, r) => condVars(l) ++ condVars(r)
    case Or(l, r) => condVars(l) ++ condVars(r)
    case Not(x) => condVars(x)
    case CondFunc(_, args) => args.flatMap(exprVars).toSet
    case _: ExistsCond => Set.empty // handled as a join, not a predicate
  }

  private def varCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name) else lit(null).cast(StringType)

  // ---- entry points ------------------------------------------------------

  def select(q: String): DataFrame = compileSelect(SparqlParser.select(q))

  def execute(q: String): DataFrame = SparqlParser.operation(q) match {
    case SelectOp(s) => compileSelect(s)
    case UpdateOp(u) => executeUpdate(u); spark.emptyDataFrame
    case AskOp(s) => compileAsk(s)
    case ConstructOp(tmpl, s) => compileConstruct(tmpl, s)
    case DescribeOp(vars, iris, s) => compileDescribe(vars, iris, s)
  }

  /** ASK (extension): one row, one boolean column — solution existence.
    * Declarative: LIMIT 1 bounds the probe, the aggregate answers. */
  def compileAsk(sel: Select): DataFrame = {
    val view = buildView(sel.fromGraphs, sel.fromNamed)
    val b = compileGroup(sel.where, DefaultGraph, view, None).getOrElse(unitBindings)
    b.df.limit(1).agg((count(lit(1)) > 0).as("ask"))
  }

  /** CONSTRUCT (extension): template instantiated once per solution —
    * reuses the update-template machinery (per-solution blank nodes,
    * RDF-star legality drops, unbound-position drops) — then SPARQL
    * set semantics via dropDuplicates. */
  def compileConstruct(tmpl: Seq[TriplePattern], sel: Select): DataFrame = {
    if (tmpl.isEmpty) return spark.emptyDataFrame
    val view = buildView(sel.fromGraphs, sel.fromNamed)
    val b = decodeAll(
      compileGroup(sel.where, DefaultGraph, view, None).getOrElse(unitBindings))
    instantiate(b.df, tmpl.map(tp => (tp, DefaultGraph: GraphSpec)), forInsert = true)
      .select("s", "p", "o").dropDuplicates()
  }

  /** DESCRIBE (extension): every default-graph triple whose subject is a
    * described resource. The subject restriction is a `left_semi` join —
    * one scan of the quads, no driver collect; the resource set is
    * unbounded (a variable may bind to most subjects), so no broadcast
    * hint — AQE broadcasts when the built side turns out small. */
  def compileDescribe(vars: Seq[String], iris: Seq[String], sel: Select): DataFrame = {
    val view = buildView(sel.fromGraphs, sel.fromNamed)
    val base = view.default.select("s", "p", "o")
    val varResources: Option[DataFrame] =
      if (vars.isEmpty || sel.where.isEmpty) None
      else {
        val b = decodeAll(
          compileGroup(sel.where, DefaultGraph, view, None).getOrElse(unitBindings))
        Some(vars.map(v => b.df.select(varCol(b.df, v).cast(StringType).as("res")))
          .reduce(_ union _).na.drop().distinct())
      }
    val iriResources: Option[DataFrame] =
      if (iris.isEmpty) None
      else Some(spark.createDataFrame(iris.map(Tuple1(_))).toDF("res").distinct())
    val resources = (varResources, iriResources) match {
      case (Some(a), Some(b)) => a.union(b).distinct()
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return spark.emptyDataFrame
    }
    base.join(resources, base("s") === resources("res"), "left_semi")
  }

  /** Public hook: compile a group of elements against this store's
    * default view (used by the RSP engine to evaluate window blocks over
    * per-window content stores). */
  def compileElements(elems: Seq[Element]): Bindings =
    decodeAll(
      compileGroup(elems, DefaultGraph, buildView(Nil, Nil), None).getOrElse(unitBindings))

  def compileSelect(sel: Select): DataFrame = {
    val view = buildView(sel.fromGraphs, sel.fromNamed)
    val b = compileGroup(sel.where, DefaultGraph, view, None).getOrElse(unitBindings)
    finalizeSelect(b, sel, subquery = false)
  }

  // ---- group graph pattern -----------------------------------------------

  private def compileGroup(elems: Seq[Element], scope: GraphSpec, view: View,
      input: Option[Bindings]): Option[Bindings] = {
    // FILTERs deferred to the end of the enclosing group (`utils.rs:443-482`);
    // FILTER [NOT] EXISTS separates out — it compiles to a semi/anti JOIN,
    // not a row predicate (extension, Ast.ExistsCond)
    val (filters0, others) = elems.partition(_.isInstanceOf[FilterElem])
    val (existsFilters, filters) = filters0.partition {
      case FilterElem(_: ExistsCond) => true
      case _ => false
    }
    var acc = input
    others.foreach {
      case Bgp(patterns) =>
        acc = compileBgp(patterns, scope, view, acc)
      case GraphBlock(g, inner) =>
        acc = compileGroup(inner, g, view, acc)
      case UnionBlock(branches) =>
        // branches decode before merging: a column encoded in one branch
        // and lexical in another must not union ids with strings
        val compiled = branches.flatMap(b => compileGroup(b, scope, view, acc))
          .map(decodeAll)
        if (compiled.nonEmpty) {
          val allVars = compiled.flatMap(_.vars).distinct
          val merged = compiled
            .map(_.df)
            .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
          val nullable = compiled.flatMap(_.maybeNull).toSet ++
            allVars.filterNot(v => compiled.forall(_.vars.contains(v)))
          acc = Some(Bindings(merged, nullable))
        }
      case BindElem(expr, v) =>
        val b = decode(acc.getOrElse(unitBindings), exprVars(expr))
        acc = Some(Bindings(
          b.df.withColumn(v, compileExpr(b.df, expr).cast(StringType)),
          b.maybeNull + v, b.encoded)) // BIND may evaluate to error/unbound → null
      case ValuesElem(vars, rows) =>
        val schema = StructType(vars.map(v => StructField(v, StringType, nullable = true)))
        val data = rows.map(r => Row(r.map(_.map(TermLex.lexical).orNull): _*))
        val vdf = spark.createDataFrame(data.asJava, schema)
        val hasUndef = vars.zipWithIndex
          .filter { case (_, i) => rows.exists(r => r(i).isEmpty) }.map(_._1).toSet
        val vb = Bindings(vdf, hasUndef)
        acc = Some(acc.map(a => compatJoin(a, vb)).getOrElse(vb))
      case SubSelect(sub) =>
        // subqueries materialize bottom-up then join out (`engine.rs:416-426`);
        // they evaluate against the ENCLOSING dataset and GRAPH scope
        // unless they declare their own FROM/FROM NAMED
        val inner = compileSubSelect(sub, scope, view)
        acc = Some(acc.map(a => compatJoin(a, inner)).getOrElse(inner))
      case WindowBlockElem(_, inner) =>
        // batch view of an RSP window block: scoped like a group; the
        // streaming path re-scopes it per window (graft.streaming)
        acc = compileGroup(inner, scope, view, acc)
      case OptionalBlock(inner) =>
        // SPARQL left join (extension): left rows always survive, optional
        // vars pad with UNDEF/null on no match
        compileGroup(inner, scope, view, None).foreach { r =>
          acc = Some(compatLeftJoin(acc.getOrElse(unitBindings), r))
        }
      case MinusBlock(inner) =>
        compileGroup(inner, scope, view, None).foreach { r =>
          acc.foreach(l => acc = Some(compatMinus(l, r)))
        }
      case PathPattern(s, path, o) =>
        val pb = compilePathPattern(s, path, o, scope, view)
        acc = Some(acc.map(a => compatJoin(a, pb)).getOrElse(pb))
      case FilterElem(_) => // handled below
    }
    filters.foreach { case FilterElem(cond) =>
      // FILTER semantics are lexical/numeric — decode exactly its inputs
      val b = decode(acc.getOrElse(unitBindings), condVars(cond))
      acc = Some(Bindings(b.df.filter(compileCond(b.df, cond)), b.maybeNull, b.encoded))
    }
    existsFilters.foreach { case FilterElem(ExistsCond(inner, negated)) =>
      val left = acc.getOrElse(unitBindings)
      val right = compileGroup(inner, scope, view, None).getOrElse(unitBindings)
      acc = Some(compatSemiJoin(left, right, anti = negated))
    }
    acc
  }

  def compileSubSelect(sub: Select): Bindings =
    compileSubSelect(sub, DefaultGraph, buildView(sub.fromGraphs, sub.fromNamed))

  def compileSubSelect(sub: Select, outerScope: GraphSpec,
      outerView: View): Bindings = {
    val (scope, view) =
      if (sub.fromGraphs.nonEmpty || sub.fromNamed.nonEmpty)
        (DefaultGraph, buildView(sub.fromGraphs, sub.fromNamed))
      else (outerScope, outerView)
    val b = compileGroup(sub.where, scope, view, None).getOrElse(unitBindings)
    val df = finalizeSelect(b, sub, subquery = true)
    // aggregate aliases CAN be null (MIN/MAX/SUM/AVG over an
    // all-non-numeric group) — outer joins must stay UNDEF-tolerant
    val aggAliases = sub.aggregates.map(_.alias).toSet
    Bindings(df,
      (b.maybeNull ++ aggAliases).intersect(df.columns.toSet))
  }

  // ---- BGP ---------------------------------------------------------------

  private def patternVars(tp: TriplePattern): Seq[String] =
    termVars(tp.s) ++ termVars(tp.p) ++ termVars(tp.o)

  /** Selectivity score for greedy join ordering: bound positions count
    * most (the reference discounts index scans 10× per bound position,
    * `cost/estimator.rs:70-78`); a bound predicate is the dominant access
    * key so it gets a small extra weight. */
  private def score(tp: TriplePattern, bound: Set[String]): Double = {
    def posScore(t: Term, w: Double): Double = t match {
      case Var(n) => if (bound(n)) w * 0.8 else 0.0
      case _ => w
    }
    posScore(tp.s, 1.0) + posScore(tp.p, 1.2) + posScore(tp.o, 1.0)
  }

  /** Greedy selectivity-first pattern order: one planner for BOTH the
    * direct and encoded BGP paths, so a heuristic change cannot make the
    * two pick different join orders. After each pick, its variables (plus
    * the GRAPH variable, which every scan binds) become bound. */
  private[graft] def greedyOrder(patterns: Seq[TriplePattern], scope: GraphSpec,
      initialBound: Set[String]): Seq[TriplePattern] = {
    var remaining = patterns.toList
    var bound = initialBound
    val order = Seq.newBuilder[TriplePattern]
    while (remaining.nonEmpty) {
      val connected = remaining.filter(tp =>
        bound.isEmpty || patternVars(tp).exists(bound) ||
          (scope match { case GraphVar(g) => bound(g); case _ => false }))
      val pool = if (connected.nonEmpty) connected else remaining
      val pick = pool.maxBy(tp => score(tp, bound))
      remaining = remaining.filterNot(_ eq pick)
      order += pick
      bound = bound ++ patternVars(pick) ++
        (scope match { case GraphVar(g) => Seq(g); case _ => Nil })
    }
    order.result()
  }

  private def compileBgp(patterns: Seq[TriplePattern], scope: GraphSpec,
      view: View, input: Option[Bindings]): Option[Bindings] = {
    if (patterns.isEmpty) return input
    // encoded fast path: id-space scans re-scope FROM / FROM NAMED views
    // directly on g_id (constant-folded xxhash64 literals)
    if (store.dictEncoded && input.isEmpty &&
        patterns.forall(tp => Seq(tp.s, tp.p, tp.o).forall {
          case _: Quoted => false; case _ => true
        }))
      return Some(compileBgpEncoded(patterns, scope, view))
    // star routing: a pure subject star over the physical default graph
    // reads the CLUSTERED BY (s) twin — its p-filtered scans arrive
    // co-partitioned on the join key, so the star chain shuffles nothing
    // at any corpus size (zero-exchange pin in PlanPostureSpec). Only the
    // detector's shape routes: the r8 A/B measured multi-hub chains
    // REGRESSING on the bucketed table (C3 0.44×).
    val scanView =
      if (starStore.isDefined && input.isEmpty && view.physicalDataset &&
          scope == DefaultGraph && isSubjectStar(patterns)) {
        val q = starStore.get.quads
        View(q.filter(col("g").isNull).select("s", "p", "o"),
          q.filter(col("g").isNotNull), physicalDataset = true)
      } else view
    var acc = input
    greedyOrder(patterns, scope, acc.map(_.vars).getOrElse(Set.empty)).foreach { tp =>
      val scan = scanPattern(tp, scope, scanView)
      acc = Some(acc.map(a => compatJoin(a, scan)).getOrElse(scan))
    }
    acc
  }

  /** Dictionary-encoded BGP evaluation ([[graft.model.QuadStore.dictEncoded]],
    * SURVEY §1.5, phase 2): scans filter on `xxhash64(constant)`
    * (constant-folded), joins carry 8-byte ids instead of lexical
    * strings, and variables stay ENCODED past the BGP boundary — the
    * returned [[Bindings]] marks them, and decode joins run only where
    * lexical semantics are required (FILTER/BIND/aggregate inputs, ORDER
    * keys) or on the final — often aggregated, much smaller — output.
    * FROM / FROM NAMED views re-scope in id space via `g_id` equality.
    * Quoted-triple patterns fall back (their accessors destructure the
    * lexical encoding). */
  private def compileBgpEncoded(patterns: Seq[TriplePattern],
      scope: GraphSpec, view: View): Bindings = {
    val enc = store.encodedQuads
    def anyGraph(graphs: Seq[String]): Column =
      graphs.map(g => col("g_id") === xxhash64(lit(g))).reduce(_ || _)
    val base = (scope, view.physicalDataset) match {
      case (DefaultGraph, true) => enc.filter(col("g_id").isNull)
      case (GraphIri(g), true) => enc.filter(col("g_id") === xxhash64(lit(g)))
      case (GraphVar(_), true) => enc.filter(col("g_id").isNotNull)
      // FROM graphs form the merged default graph (multi-graph merges
      // deduplicate triples, `dataset_index.rs:207-221`)
      case (DefaultGraph, false) =>
        if (view.fromGraphs.isEmpty) enc.filter(lit(false))
        else {
          val sel = enc.filter(anyGraph(view.fromGraphs))
          if (view.fromGraphs.size > 1) sel.dropDuplicates("s_id", "p_id", "o_id")
          else sel
        }
      case (GraphIri(g), false) =>
        if (view.fromNamed.contains(g)) enc.filter(col("g_id") === xxhash64(lit(g)))
        else enc.filter(lit(false))
      case (GraphVar(_), false) =>
        if (view.fromNamed.isEmpty) enc.filter(lit(false))
        else enc.filter(anyGraph(view.fromNamed))
    }
    def scanEnc(tp: TriplePattern): DataFrame = {
      var filters = List.empty[Column]
      var binds = List.empty[(String, Column)]
      def walk(c: Column, t: Term): Unit = t match {
        case Var(n) => binds ::= (n -> c)
        case BNode(label) => binds ::= (s"__bnode_$label" -> c) // pattern bnode = variable
        case other => filters ::= (c === xxhash64(lit(TermLex.lexical(other))))
      }
      walk(col("s_id"), tp.s); walk(col("p_id"), tp.p); walk(col("o_id"), tp.o)
      scope match { case GraphVar(v) => binds ::= (v -> col("g_id")); case _ => () }
      val grouped = binds.reverse.groupBy(_._1)
      val eqs = grouped.values.flatMap(cs => cs.tail.map(x => x._2 === cs.head._2))
      val filtered = (filters ++ eqs).foldLeft(base)((d, f) => d.filter(f))
      val outCols = grouped.map { case (n, cs) => cs.head._2.as(n) }.toSeq
      if (outCols.nonEmpty) filtered.select(outCols: _*)
      else filtered.select(lit(1).as("__exists")).limit(1).select()
    }
    // same planner as the direct path by construction
    var acc: Option[DataFrame] = None
    greedyOrder(patterns, scope, Set.empty).foreach { tp =>
      val scan = scanEnc(tp)
      acc = Some(acc.map { a =>
        val shared = a.columns.filter(scan.columns.contains(_)).toSeq
        if (shared.isEmpty) a.crossJoin(scan) else a.join(scan, shared, "inner")
      }.getOrElse(scan))
    }
    val joined = acc.get
    // phase 2: no decode here — ids flow on, marked encoded
    Bindings(joined, Set.empty, joined.columns.toSet)
  }

  // ---- property paths (extension) ----------------------------------------

  /** Path → edge relation with columns (__ps, __po). Sequence/alternative
    * keep bag semantics (plain join/union — SPARQL 1.1 §9.3); the
    * arbitrary-length forms are set-based by spec and compile to the
    * recursive-doubling closure strategy the reasoner uses
    * ([[graft.reasoner.Reasoner]]): O(log diameter) self-join rounds,
    * each `localCheckpoint`ed to truncate plan lineage. */
  private def pathEdges(p: Path, scope: GraphSpec, view: View): DataFrame = {
    // a GRAPH ?g scope binds the graph var on every scan — it rides every
    // join/union/closure as an extra key (a path stays within ONE graph),
    // exactly like the RSP plane's close keys
    val extra: Seq[String] = scope match { case GraphVar(v) => Seq(v); case _ => Nil }
    def keep(df: DataFrame, ps: Column, po: Column): DataFrame =
      df.select((extra.map(col) :+ ps.as("__ps") :+ po.as("__po")): _*)
    p match {
      case PLink(i) =>
        scanPattern(TriplePattern(Var("__ps"), Iri(i), Var("__po")), scope, view).df
      case PInv(x) =>
        keep(pathEdges(x, scope, view), col("__po"), col("__ps"))
      case PSeq(l, r) =>
        pathEdges(l, scope, view).withColumnRenamed("__po", "__m")
          .join(pathEdges(r, scope, view).withColumnRenamed("__ps", "__m"),
            extra :+ "__m", "inner")
          .select((extra.map(col) :+ col("__ps") :+ col("__po")): _*)
      case PAlt(l, r) =>
        pathEdges(l, scope, view).unionByName(pathEdges(r, scope, view))
      case PNeg(fwd, inv) =>
        // one scan of the scoped graph with the predicate kept as a column;
        // each member list filters by NOT IN (predicate-pruning cannot help
        // a negation — this is inherently a fuller scan than PLink)
        val all = scanPattern(
          TriplePattern(Var("__ps"), Var("__pneg"), Var("__po")), scope, view).df
        def without(not: Seq[String]) =
          if (not.isEmpty) all else all.filter(!col("__pneg").isin(not: _*))
        val sides =
          (if (fwd.nonEmpty || inv.isEmpty)
             Seq(keep(without(fwd), col("__ps"), col("__po"))) else Nil) ++
          (if (inv.nonEmpty)
             Seq(keep(without(inv), col("__po"), col("__ps")))
           else Nil)
        sides.reduce(_ unionByName _)
      case POneOrMore(x) => pathClosure(pathEdges(x, scope, view), extra)
      case PZeroOrMore(x) =>
        pathClosure(pathEdges(x, scope, view), extra)
          .unionByName(pathIdentity(scope, view)).distinct()
      case PZeroOrOne(x) =>
        pathEdges(x, scope, view)
          .unionByName(pathIdentity(scope, view)).distinct()
    }
  }

  /** Zero-length path endpoints: every node (subject or object) of the
    * scoped graph relates to itself (SPARQL 1.1 §9.3 ZeroLengthPath over
    * graph terms). */
  private def pathIdentity(scope: GraphSpec, view: View): DataFrame = {
    val extra: Seq[String] = scope match { case GraphVar(v) => Seq(v); case _ => Nil }
    val all = scanPattern(
      TriplePattern(Var("__ns"), Var("__np"), Var("__no")), scope, view).df
    all.select((extra.map(col) :+ col("__ns").as("__n")): _*)
      .unionByName(all.select((extra.map(col) :+ col("__no").as("__n")): _*))
      .distinct()
      .select((extra.map(col) :+ col("__n").as("__ps") :+ col("__n").as("__po")): _*)
  }

  /** Transitive closure by recursive doubling: R ← R ∪ R∘R until the
    * count fixes. log₂(diameter) driver-paced rounds — a 10K-deep chain
    * closes in 14 rounds (same scaling argument as DoublingSpec). */
  private def pathClosure(edges: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    var r = edges.distinct().localCheckpointSevered()
    var n = r.count()
    var done = false
    while (!done) {
      val next = r.unionByName(
          r.withColumnRenamed("__po", "__m")
            .join(r.withColumnRenamed("__ps", "__m"), extra :+ "__m", "inner")
            .select((extra.map(col) :+ col("__ps") :+ col("__po")): _*))
        .distinct().localCheckpointSevered()
      val m = next.count()
      done = m == n
      n = m
      r = next
    }
    r
  }

  private def compilePathPattern(s: Term, path: Path, o: Term,
      scope: GraphSpec, view: View): Bindings = {
    val extraVars: Seq[String] = scope match { case GraphVar(v) => Seq(v); case _ => Nil }
    val e0 = pathEdges(path, scope, view)
    // SPARQL 1.1 §18.4 ZeroLengthPath relates a GROUND endpoint to itself
    // even when the term is absent from the graph — pathIdentity only
    // covers graph nodes, so union the ground endpoints' identity rows
    // for the zero-admitting forms (default-graph scope; a GRAPH ?g
    // zero-length over an absent term has no graph to bind)
    val zeroAdmitting = path match {
      case PZeroOrMore(_) | PZeroOrOne(_) => true
      case _ => false
    }
    val groundEnds = Seq(s, o).filter(termVars(_).isEmpty).map(TermLex.lexical).distinct
    val e = if (zeroAdmitting && groundEnds.nonEmpty && extraVars.isEmpty) {
      import e0.sparkSession.implicits._
      e0.unionByName(groundEnds.map(t => (t, t)).toDF("__ps", "__po")).distinct()
    } else e0
    var filters = List.empty[Column]
    var binds = List.empty[(String, Column)]
    def walkEnd(c: Column, t: Term): Unit = t match {
      case Var(n) => binds ::= (n -> c)
      case other =>
        require(termVars(other).isEmpty,
          "path endpoints must be variables or ground terms")
        filters ::= (c === lit(TermLex.lexical(other)))
    }
    walkEnd(col("__ps"), s); walkEnd(col("__po"), o)
    extraVars.foreach(v => binds ::= (v -> col(v))) // GRAPH ?g rides along
    val grouped = binds.reverse.groupBy(_._1)
    val eqs = grouped.values.flatMap(cs => cs.tail.map(x => x._2 === cs.head._2))
    val filtered = (filters ++ eqs).foldLeft(e)((d, f) => d.filter(f))
    val outCols = grouped.map { case (n, cs) => cs.head._2.as(n) }.toSeq
    val df = if (outCols.nonEmpty) filtered.select(outCols: _*)
             else filtered.select(lit(1).as("__exists")).limit(1).select()
    Bindings(df, Set.empty)
  }

  /** One triple-pattern scan: filter on constant positions (pushed to the
    * Parquet reader by Catalyst — the Spark replacement for the reference's
    * gspo/gpos/gosp permutation dispatch, `dataset_index.rs:223-344`),
    * project variable positions under their variable names. */
  private def scanPattern(tp: TriplePattern, scope: GraphSpec, view: View): Bindings = {
    val (base, gBind) = scope match {
      case DefaultGraph => (view.default, None)
      case GraphIri(g) => (view.named.filter(col("g") === lit(g)).select("s", "p", "o"), None)
      case GraphVar(v) => (view.named, Some(v))
    }
    var filters = List.empty[Column]
    var binds = List.empty[(String, Column)]
    def walk(c: Column, t: Term): Unit = t match {
      case Var(n) => binds ::= (n -> c)
      case Iri(v) => filters ::= (c === lit(v))
      case Lit(v) => filters ::= (c === lit(v))
      case BNode(label) =>
        // a blank node in a query pattern is a non-projectable variable
        // (SPARQL 1.1 §4.1.4), scoped by its label within the group
        binds ::= (s"__bnode_$label" -> c)
      case q @ Quoted(s, p, o) =>
        if (termVars(q).isEmpty) filters ::= (c === lit(TermLex.lexical(q)))
        else {
          filters ::= qtIs(c)
          walk(qtS(c), s); walk(qtP(c), p); walk(qtO(c), o)
        }
    }
    walk(col("s"), tp.s); walk(col("p"), tp.p); walk(col("o"), tp.o)
    gBind.foreach(v => binds ::= (v -> col("g")))
    // repeated variables inside one pattern → equality filters
    val grouped = binds.reverse.groupBy(_._1)
    val outCols = grouped.map { case (n, cs) => cs.head._2.as(n) }.toSeq
    val eqFilters = grouped.values.flatMap(cs => cs.tail.map(c => c._2 === cs.head._2))
    val allFilters = filters ++ eqFilters
    val filtered = allFilters.foldLeft(base)((d, f) => d.filter(f))
    val df = if (outCols.nonEmpty) filtered.select(outCols: _*)
             else filtered.select(lit(1).as("__exists")).limit(1).select()
    Bindings(df, Set.empty)
  }

  /** Solution-sequence join (`engine.rs:1137-1160`): equi-join on shared
    * vars; cross join when none shared; null-tolerant (UNDEF-compatible)
    * conditions only for vars that can actually be null. Shared vars
    * encoded on BOTH sides join on their ids (the co-encoded fast path);
    * a var encoded on only one side decodes first. */
  def compatJoin(l0: Bindings, r0: Bindings): Bindings = {
    val shared0 = l0.df.columns.filter(r0.df.columns.contains(_)).toSet
    // decode where the other side carries lexical values
    val l = decode(l0, shared0.filterNot(r0.encoded))
    val r = decode(r0, shared0.filterNot(l0.encoded))
    val stillEncoded = l.encoded ++ r.encoded
    val shared = l.df.columns.filter(r.df.columns.contains(_)).toSeq
    if (shared.isEmpty)
      return Bindings(l.df.crossJoin(r.df), l.maybeNull ++ r.maybeNull, stillEncoded)
    val nullableShared = shared.filter(c => l.maybeNull(c) || r.maybeNull(c))
    if (nullableShared.isEmpty) {
      val joined = l.df.join(r.df, shared, "inner")
      Bindings(joined, l.maybeNull ++ r.maybeNull -- shared, stillEncoded)
    } else {
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
        if (shared.contains(v)) l.maybeNull(v) && r.maybeNull(v)
        else true
      }
      Bindings(out, stillNullable, stillEncoded)
    }
  }

  /** OPTIONAL (extension): left-preserving compatibility join. Same
    * shared-var/UNDEF discipline as [[compatJoin]], but `left_outer`, so
    * unmatched left rows keep their values and right-only vars pad with
    * null. Optional vars are maybeNull downstream by construction. */
  def compatLeftJoin(l0: Bindings, r0: Bindings): Bindings = {
    val shared0 = l0.df.columns.filter(r0.df.columns.contains(_)).toSet
    val l = decode(l0, shared0.filterNot(r0.encoded))
    val r = decode(r0, shared0.filterNot(l0.encoded))
    val stillEncoded = l.encoded ++ r.encoded
    val shared = l.df.columns.filter(r.df.columns.contains(_)).toSeq
    val rightOnly = r.df.columns.filterNot(shared.contains).toSeq
    if (shared.isEmpty)
      return Bindings(l.df.join(r.df, lit(true), "left_outer"),
        l.maybeNull ++ r.maybeNull ++ rightOnly, stillEncoded)
    val pre = "__graft_r_"
    val rr = r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, pre + c))
    val nullableShared = shared.filter(c => l.maybeNull(c) || r.maybeNull(c))
    val cond = shared.map { c =>
      if (nullableShared.contains(c))
        col(c).isNull || col(pre + c).isNull || (col(c) === col(pre + c))
      else col(c) === col(pre + c)
    }.reduce(_ && _)
    var out = l.df.join(rr, cond, "left_outer")
    shared.foreach { c =>
      out = out.withColumn(c, coalesce(col(c), col(pre + c))).drop(pre + c)
    }
    rightOnly.foreach { c => out = out.withColumnRenamed(pre + c, c) }
    // a shared var stays nullable only if the LEFT side could be UNDEF
    // (unmatched rows keep the left value); right-only vars always can
    Bindings(out, l.maybeNull ++ rightOnly, stillEncoded)
  }

  /** FILTER [NOT] EXISTS (extension): set-based compatibility semi/anti
    * join on the shared variables — exact for the supported fragment
    * (binding-substitution and the semi join coincide when the inner group
    * is itself built from compatibility joins). */
  def compatSemiJoin(l0: Bindings, r0: Bindings, anti: Boolean): Bindings = {
    val shared0 = l0.df.columns.filter(r0.df.columns.contains(_)).toSet
    val l = decode(l0, shared0.filterNot(r0.encoded))
    val r = decode(r0, shared0.filterNot(l0.encoded))
    val shared = l.df.columns.filter(r.df.columns.contains(_)).toSeq
    val joinType = if (anti) "left_anti" else "left_semi"
    if (shared.isEmpty)
      // uncorrelated EXISTS: keep all rows iff the inner group is non-empty
      return Bindings(l.df.join(r.df.limit(1), lit(true), joinType),
        l.maybeNull, l.encoded)
    val pre = "__graft_r_"
    val rr = r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, pre + c))
    val nullableShared = shared.filter(c => l.maybeNull(c) || r.maybeNull(c))
    val cond = shared.map { c =>
      if (nullableShared.contains(c))
        col(c).isNull || col(pre + c).isNull || (col(c) === col(pre + c))
      else col(c) === col(pre + c)
    }.reduce(_ && _)
    Bindings(l.df.join(rr, cond, joinType), l.maybeNull, l.encoded)
  }

  /** MINUS (extension, SPARQL 1.1 §8.3): drop left solutions compatible
    * with some right solution whose domain intersects the left's — i.e.
    * at least one shared var bound on BOTH sides; disjoint domains keep
    * the row. A `left_anti` join; no shared vars at all = no-op. */
  def compatMinus(l0: Bindings, r0: Bindings): Bindings = {
    val shared0 = l0.df.columns.filter(r0.df.columns.contains(_)).toSet
    if (shared0.isEmpty) return l0
    val l = decode(l0, shared0.filterNot(r0.encoded))
    val r = decode(r0, shared0.filterNot(l0.encoded))
    val shared = l.df.columns.filter(r.df.columns.contains(_)).toSeq
    val pre = "__graft_r_"
    val rr = r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, pre + c))
    val nullableShared = shared.filter(c => l.maybeNull(c) || r.maybeNull(c))
    val compatible = shared.map { c =>
      if (nullableShared.contains(c))
        col(c).isNull || col(pre + c).isNull || (col(c) === col(pre + c))
      else col(c) === col(pre + c)
    }.reduce(_ && _)
    val domainsIntersect = shared.map { c =>
      col(c).isNotNull && col(pre + c).isNotNull
    }.reduce(_ || _)
    Bindings(l.df.join(rr, compatible && domainsIntersect, "left_anti"),
      l.maybeNull, l.encoded)
  }

  // ---- expressions -------------------------------------------------------

  private def numC(c: Column): Column = c.try_cast(DoubleType)

  def compileExpr(df: DataFrame, e: Expr): Column = e match {
    case ETerm(Var(n)) => varCol(df, n)
    case ETerm(t) => lit(TermLex.lexical(t))
    case Arith(op, l, r) =>
      val ln = numC(compileExpr(df, l))
      val rn = numC(compileExpr(df, r))
      op match {
        case "+" => ln + rn
        case "-" => ln - rn
        case "*" => ln * rn
        // div-by-zero → null → row dropped by comparisons, matching the
        // reference's row-drop semantics (`shared/src/query.rs:24-58`)
        case "/" => when(rn === 0.0, lit(null).cast(DoubleType)).otherwise(ln / rn)
      }
    case IfExpr(c, t, e) =>
      when(compileCond(df, c), compileExpr(df, t).cast(StringType))
        .otherwise(compileExpr(df, e).cast(StringType))
    case Func(name, args) =>
      lazy val cs = args.map(a => compileExpr(df, a))
      def s0 = cs.head.cast(StringType)
      def s1 = cs(1).cast(StringType)
      name match {
        case "CONCAT" => concat(cs.map(_.cast(StringType)): _*)
        case "TRIPLE" => qtMake(cs(0).cast(StringType), cs(1).cast(StringType), cs(2).cast(StringType))
        case "SUBJECT" => qtS(s0)
        case "PREDICATE" => qtP(s0)
        case "OBJECT" => qtO(s0)
        case "ISTRIPLE" => when(qtIs(s0), lit("true")).otherwise(lit("false"))
        // SPARQL 1.1 built-in library (EXTENSION; all codegen'd Catalyst
        // functions — no UDFs). Storage is lexical strings, so STR is the
        // identity and numeric builtins parse via try_cast like FILTER.
        case "STR" => s0
        case "STRLEN" => length(s0)
        case "UCASE" => upper(s0)
        case "LCASE" => lower(s0)
        case "SUBSTR" => // 1-based like SPARQL; 2-arg form runs to the end
          val start = numC(s1).cast(IntegerType)
          val len = if (cs.size > 2) numC(cs(2).cast(StringType)).cast(IntegerType)
                    else length(s0)
          s0.substr(start, len)
        // empty needle: instr = 1, so STRBEFORE → "" and STRAFTER → the
        // whole string, matching SPARQL §17.4.3.4-5
        case "STRBEFORE" =>
          val pos = call_function("instr", s0, s1)
          when(pos > 0, s0.substr(lit(1), pos - 1)).otherwise(lit(""))
        case "STRAFTER" =>
          val pos = call_function("instr", s0, s1)
          when(pos > 0, s0.substr(pos + length(s1), length(s0))).otherwise(lit(""))
        case "REPLACE" => // regex-based per SPARQL (fn:replace)
          regexp_replace(s0, s1, cs(2).cast(StringType))
        case "CONTAINS" => when(s0.contains(s1), lit("true")).otherwise(lit("false"))
        case "STRSTARTS" => when(s0.startsWith(s1), lit("true")).otherwise(lit("false"))
        case "STRENDS" => when(s0.endsWith(s1), lit("true")).otherwise(lit("false"))
        case "ABS" => abs(numC(s0))
        case "CEIL" => ceil(numC(s0))
        case "FLOOR" => floor(numC(s0))
        // xsd:round = half toward +inf (ROUND(-2.5) = -2), which is
        // floor(x + 0.5) — NOT java HALF_UP — and engine-portable
        case "ROUND" => floor(numC(s0) + 0.5)
        case "COALESCE" => coalesce(cs.map(_.cast(StringType)): _*)
        // SPARQL 1.1 §17.4.4.11-15 hash builtins (lowercase hex, as the
        // spec's examples show); SHA384 has no DuckDB twin and is omitted
        case "MD5" => md5(s0)
        case "SHA1" => sha1(s0)
        case "SHA256" => sha2(s0, 256)
        case "SHA512" => sha2(s0, 512)
        // language-tag builtins (§17.4.2.2/2.3, §17.4.3.10) over the
        // reference's tag-appended storage (`sparql_database.rs:1628-1656`:
        // "lex"@en is stored as `lex@en`, datatypes stripped): LANG
        // recovers the suffix only when it has language-tag SHAPE
        // (letters, then -alnum subtags, at end of value) so values with
        // a natural '@' (emails) yield "" — the storage's inherent
        // ambiguity resolved conservatively; STRLANG appends per the
        // same policy. LANGMATCHES is RFC 4647 basic filtering.
        case "LANG" => regexp_extract(s0, "@([A-Za-z]+(-[A-Za-z0-9]+)*)$", 1)
        case "STRLANG" => concat(s0, lit("@"), s1)
        case "LANGMATCHES" =>
          when(langMatchesC(s0, s1), lit("true")).otherwise(lit("false"))
        case udfName if store.udfs.contains(udfName) =>
          call_udf(udfName, array(cs.map(_.cast(StringType)): _*))
        case other => throw new IllegalArgumentException(s"unknown function $other")
      }
  }

  /** RFC 4647 basic filtering (SPARQL §17.4.3.10): "*" matches any
    * non-empty tag; otherwise the range equals the tag or is a proper
    * hyphen-delimited prefix of it, case-insensitively. */
  private def langMatchesC(tag: Column, range: Column): Column = {
    val t = lower(tag); val r = lower(range)
    when(r === "*", t =!= "")
      .otherwise(t === r || t.startsWith(concat(r, lit("-"))))
  }

  def compileCond(df: DataFrame, c: Condition): Column = c match {
    case _: ExistsCond => throw new IllegalArgumentException(
      "EXISTS is supported only as the entire FILTER condition " +
        "(FILTER EXISTS { … } / FILTER NOT EXISTS { … }), not nested in an expression")
    case And(a, b) => compileCond(df, a) && compileCond(df, b)
    case Or(a, b) => compileCond(df, a) || compileCond(df, b)
    case Not(x) => !compileCond(df, x)
    case CondFunc(name, args) =>
      lazy val cs = args.map(a => compileExpr(df, a))
      def s0 = cs.head.cast(StringType)
      def s1 = cs(1).cast(StringType)
      name match {
        case "ISTRIPLE" => qtIs(s0)
        // boolean builtins in FILTER position compile to native predicates
        // (no string round-trip)
        case "ISNUMERIC" => numC(s0).isNotNull // parses as xsd numeric
        case "ISBLANK" => s0.startsWith("_:") // TermLex blank-node form
        // storage is lexical terms, so sameTerm is exact string equality
        // (vs "=" which compares numerically when both sides parse)
        case "SAMETERM" => s0 === s1
        case "CONTAINS" => s0.contains(s1)
        case "STRSTARTS" => s0.startsWith(s1)
        case "STRENDS" => s0.endsWith(s1)
        case "BOUND" => cs.head.isNotNull
        case "REGEX" => // optional 3rd arg: "i" → case-insensitive
          val pat = if (cs.size > 2)
            concat(when(cs(2).cast(StringType).contains("i"), lit("(?i)"))
              .otherwise(lit("")), s1)
          else s1
          regexp_like(s0, pat)
        // native predicate form (no string round-trip in FILTER position)
        case "LANGMATCHES" => langMatchesC(s0, s1)
        case other => throw new IllegalArgumentException(s"unknown filter function $other")
      }
    case Cmp(op, l, r) =>
      val lc = compileExpr(df, l)
      val rc = compileExpr(df, r)
      val ln = numC(lc); val rn = numC(rc)
      val bothNum = ln.isNotNull && rn.isNotNull
      val ls = lc.cast(StringType); val rs = rc.cast(StringType)
      op match {
        // numeric when both parse, else lexical (`types.rs:349-371`)
        case "=" => when(bothNum, ln === rn).otherwise(ls === rs)
        case "!=" => when(bothNum, ln =!= rn).otherwise(ls =!= rs)
        case ">" => when(bothNum, ln > rn).otherwise(ls > rs)
        case ">=" => when(bothNum, ln >= rn).otherwise(ls >= rs)
        case "<" => when(bothNum, ln < rn).otherwise(ls < rs)
        case "<=" => when(bothNum, ln <= rn).otherwise(ls <= rs)
      }
  }

  // ---- modifiers ---------------------------------------------------------

  private[graft] def sortKeyCols(df: DataFrame, k: OrderKey): Column = {
    val c = varCol(df, k.v)
    // numeric-if-parses-else-lexical total order (`execute_query.rs:477-499`):
    // struct sorts by (numeric value, lexical form)
    val key = struct(numC(c.cast(StringType)), c.cast(StringType))
    if (k.asc) key.asc else key.desc
  }

  /** `extraKeys` prepends grouping columns that are not query variables —
    * the RSP data plane groups every aggregate by its window-close keys so
    * one distributed aggregation covers all closes at once. */
  def applyAggregates(df: DataFrame, sel: Select, extraKeys: Seq[String] = Nil): DataFrame = {
    val aggCols = sel.aggregates.map { a =>
      def in = numC(varCol(df, a.v.get).cast(StringType))
      def raw = varCol(df, a.v.get).cast(StringType)
      (a.func match {
        case "COUNT" =>
          if (a.distinct) a.v.map(v => countDistinct(varCol(df, v)))
            .getOrElse(count(lit(1)))
          else a.v.map(v => count(varCol(df, v))).getOrElse(count(lit(1)))
        case "SUM" => if (a.distinct) sum_distinct(in) else sum(in)
        case "MIN" => min(in)
        case "MAX" => max(in)
        // AVG DISTINCT: Spark exposes no avg_distinct — the exact
        // sum/count-of-distinct quotient (both skip nulls) is it
        case "AVG" => if (a.distinct) sum_distinct(in) / count_distinct(in) else avg(in)
        // extensions: GROUP_CONCAT sorts for determinism (SPARQL leaves
        // order undefined); SAMPLE picks the reproducible min
        case "GROUP_CONCAT" => array_join(array_sort(
          if (a.distinct) collect_set(raw) else collect_list(raw)), a.sep.getOrElse(" "))
        case "SAMPLE" => min(raw)
      }).as(a.alias)
    }
    val keys = extraKeys ++ sel.groupBy
    if (aggCols.isEmpty) {
      // bare GROUP BY (no aggregate projections — e.g. with a HAVING on
      // the keys alone): grouping without aggregates is the distinct
      // key set (§11.2's Group with no set functions evaluated)
      require(keys.nonEmpty,
        "aggregation requires GROUP BY keys or aggregate projections")
      df.select(keys.map(v => varCol(df, v).as(v)): _*).distinct()
    } else if (keys.nonEmpty)
      df.groupBy(keys.map(v => varCol(df, v).as(v)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    else df.agg(aggCols.head, aggCols.tail: _*)
  }

  private val aggFuncNames =
    Set("SUM", "MIN", "MAX", "AVG", "COUNT", "GROUP_CONCAT", "SAMPLE")

  /** Rewrite a HAVING constraint for post-aggregation evaluation:
    * aggregate applications (`SUM(?x)`, `COUNT(*)`) become references to
    * the matching projected aggregate's alias, or to a synthetic
    * `__having_i` aggregate (appended to `synth`, computed alongside the
    * projected ones and dropped after the filter). Everything else —
    * group keys, aggregate aliases, literals — passes through and
    * resolves against the aggregated frame. */
  private[graft] def rewriteHaving(c: Condition, aggs: Seq[Aggregate],
      synth: scala.collection.mutable.ArrayBuffer[Aggregate]): Condition = {
    def rewriteE(e: Expr): Expr = e match {
      case Func(f, args) if aggFuncNames(f) =>
        val v = args match {
          case Seq(ETerm(Var(x))) => Some(x)
          case Seq() if f == "COUNT" => None
          case _ => throw new IllegalArgumentException(
            s"HAVING aggregate $f expects a single variable argument")
        }
        val alias = (aggs ++ synth)
          .find(a => a.func == f && a.v == v && a.sep.isEmpty && !a.distinct)
          .map(_.alias)
          .getOrElse {
            val a = Aggregate(f, v, s"__having_${synth.size}")
            synth += a
            a.alias
          }
        ETerm(Var(alias))
      case Func(f, args) => Func(f, args.map(rewriteE))
      case Arith(op, l, r) => Arith(op, rewriteE(l), rewriteE(r))
      case IfExpr(ic, t, e2) => IfExpr(rewriteC(ic), rewriteE(t), rewriteE(e2))
      case other => other
    }
    def rewriteC(c0: Condition): Condition = c0 match {
      case Cmp(op, l, r) => Cmp(op, rewriteE(l), rewriteE(r))
      case And(l, r) => And(rewriteC(l), rewriteC(r))
      case Or(l, r) => Or(rewriteC(l), rewriteC(r))
      case Not(x) => Not(rewriteC(x))
      case CondFunc(n, args) => CondFunc(n, args.map(rewriteE))
      case _: ExistsCond => throw new IllegalArgumentException(
        "EXISTS is not supported in HAVING constraints")
    }
    rewriteC(c)
  }

  /** Modifier order per the reference: outer = aggregate → ORDER →
    * DISTINCT → LIMIT → project (`execute_query.rs:279-318`); subquery =
    * aggregate → ORDER → project → DISTINCT → LIMIT (`engine.rs:685-719`).
    * DISTINCT is applied before the sort in the physical plan (dedup then
    * top-k) — visible results match because DISTINCT keys ⊆ output rows.
    * HAVING (extension) filters directly after aggregation (§11.3:
    * aggregate → HAVING → the rest). */
  def finalizeSelect(b0: Bindings, sel0: Select, subquery: Boolean): DataFrame = {
    val synth = scala.collection.mutable.ArrayBuffer.empty[Aggregate]
    val having = sel0.having.map(rewriteHaving(_, sel0.aggregates, synth))
    val sel = if (synth.isEmpty) sel0
      else sel0.copy(aggregates = sel0.aggregates ++ synth)
    // deferred-decode discipline: aggregate INPUTS need lexical values
    // (numeric parse), so they decode pre-aggregation; GROUP BY keys stay
    // encoded through the shuffle and decode on the aggregated — usually
    // far smaller — result, together with whatever else reaches output
    var b = decode(b0, sel.aggregates.flatMap(_.v).toSet)
    if (sel.aggregates.nonEmpty || sel.groupBy.nonEmpty || having.nonEmpty)
      b = Bindings(applyAggregates(b.df, sel), Set.empty,
        b.encoded.intersect(sel.groupBy.toSet))
    b = decodeAll(b) // ORDER/DISTINCT/projection below see lexical values
    var df = b.df
    having.foreach(c => df = df.filter(compileCond(df, c)))
    if (synth.nonEmpty) df = df.drop(synth.map(_.alias).toSeq: _*)
    val projCols: Seq[String] =
      if (sel.projection == Seq("*"))
        df.columns.toSeq.filterNot(_.startsWith("__bnode_")) // non-projectable
      else sel.projection ++ sel0.aggregates.map(_.alias)
    if (subquery) {
      df = df.select(projCols.map(c => varCol(df, c).as(c)): _*)
      if (sel.distinct) df = df.dropDuplicates()
      if (sel.orderBy.nonEmpty) df = df.orderBy(sel.orderBy.map(k => sortKeyCols(df, k)): _*)
      sel.offset.foreach(n => df = df.offset(n))
      sel.limit.foreach(n => df = df.limit(n))
      df
    } else {
      if (sel.distinct) df = df.dropDuplicates(projCols.filter(df.columns.contains))
      if (sel.orderBy.nonEmpty) df = df.orderBy(sel.orderBy.map(k => sortKeyCols(df, k)): _*)
      sel.offset.foreach(n => df = df.offset(n))
      sel.limit.foreach(n => df = df.limit(n))
      df.select(projCols.map(c => varCol(df, c).as(c)): _*)
    }
  }

  // ---- RETRIEVE (`parser.rs:3965-4010` process_retrieve_clause) ----------

  /** Execute a RETRIEVE clause with the reference's semantics: for each
    * WITH-block pattern, match against the DEFAULT graph (constants
    * equal, variables wildcard — `matches_pattern` does not constrain
    * repeated variables) and emit the matching triples; patterns
    * accumulate without dedup (the reference pushes per pattern). Mode /
    * state / variable / FROM IRI are descriptive metadata there (printed,
    * not consulted) and are likewise ignored here. */
  def executeRetrieve(rc: RetrieveClause): DataFrame = {
    val base = store.quads.filter(col("g").isNull).select("s", "p", "o")
    def matchOne(tp: TriplePattern): DataFrame = {
      def cond(c: Column, t: Term): Option[Column] = t match {
        case Var(_) => None
        case other => Some(c === lit(TermLex.lexical(other)))
      }
      val filters = cond(col("s"), tp.s) ++ cond(col("p"), tp.p) ++ cond(col("o"), tp.o)
      filters.foldLeft(base)((d, f) => d.filter(f))
    }
    rc.pattern.map(matchOne).reduceOption(_ unionByName _).getOrElse(base.limit(0))
  }

  // ---- updates (`execute_query.rs:523-884`) ------------------------------

  def executeUpdate(u: Update): Unit = u match {
    // DATA forms hand their quads to the store as driver rows: no Spark job
    case InsertData(qs) => store.updateQuads(Nil, constQuads(qs))
    case DeleteData(qs) => store.updateQuads(constQuads(qs), Nil)
    case Modify(del, ins, where) =>
      val view = buildView(Nil, Nil)
      // templates instantiate from LEXICAL bindings
      val b = decodeAll(
        compileGroup(where, DefaultGraph, view, None).getOrElse(unitBindings))
      // WHERE evaluated against the pre-mutation store: both templates
      // share one binding snapshot — guaranteed here by lineage (templates
      // reference the pre-mutation store version, which is immutable)
      // (`execute_query.rs:578-592`)
      val delDf = if (del.isEmpty) null else instantiate(b.df, del, forInsert = false)
      val insDf = if (ins.isEmpty) null else instantiate(b.df, ins, forInsert = true)
      store.applyUpdate(delDf, insDf)
  }

  private def constQuads(qs: Seq[(TriplePattern, GraphSpec)]): Seq[QuadStore.Quad] = {
    // INSERT DATA: one fresh blank-node allocation per update execution —
    // the same label in one update shares a node; re-running the update
    // allocates new ones (`execute_query.rs:598-600` empty-binding path)
    val epoch = Compiler.bnodeEpoch.incrementAndGet()
    def lex(t: Term): String = t match {
      case BNode(l) => s"_:$l-$epoch"
      case Quoted(s, p, o) => TermLex.encodeQuoted(lex(s), lex(p), lex(o))
      case other => TermLex.lexical(other)
    }
    qs.map { case (tp, g) =>
      (g match { case GraphIri(i) => i; case _ => null }, lex(tp.s), lex(tp.p), lex(tp.o))
    }
  }

  /** Instantiate template quads from a binding snapshot; solutions leaving
    * a template var unbound are dropped (`execute_query.rs:594-865`).
    *
    * Blank-node templates (`execute_query.rs:610-627`): every solution
    * gets its own fresh node per label; repeated labels within one
    * solution share it (all templates read the same per-row column).
    * Blank nodes are illegal in DELETE templates (SPARQL 1.1 §3.1.3.2).
    *
    * RDF-star / term legality (`execute_query.rs:727-796`): rows whose
    * VARIABLE-bound terms land in an illegal position are silently
    * dropped — a quoted triple or blank node as predicate or graph name,
    * or a quoted triple whose own predicate is quoted or blank (the
    * reference recurses through the quoted-triple store; we check one
    * nesting level, which covers every shape its tests exercise). */
  private def instantiate(bindings: DataFrame, tmpl: Seq[(TriplePattern, GraphSpec)],
      forInsert: Boolean): DataFrame = {
    def bnodeLabels(t: Term): Seq[String] = t match {
      case BNode(l) => Seq(l)
      case Quoted(s, p, o) => bnodeLabels(s) ++ bnodeLabels(p) ++ bnodeLabels(o)
      case _ => Nil
    }
    val labels = tmpl.flatMap { case (tp, _) =>
      bnodeLabels(tp.s) ++ bnodeLabels(tp.p) ++ bnodeLabels(tp.o)
    }.distinct
    if (!forInsert && labels.nonEmpty)
      throw new IllegalArgumentException("blank nodes are not allowed in DELETE templates")
    val epoch = Compiler.bnodeEpoch.incrementAndGet()
    // one column per label: identical across the per-template re-reads of
    // this plan, so a label shared by two templates yields ONE node per row.
    // MATERIALIZED (localCheckpoint) before the per-template fan-out:
    // monotonically_increasing_id over an un-cached plan can differ
    // between re-evaluations after a shuffle, which would split one
    // logical _:b into disconnected nodes across two templates.
    val withNodes0 = labels.foldLeft(bindings)((df, l) =>
      df.withColumn(s"__bnode_$l",
        concat(lit(s"_:$l-$epoch-"), monotonically_increasing_id())))
    val withNodes =
      if (labels.nonEmpty && tmpl.size > 1) withNodes0.localCheckpoint()
      else withNodes0

    def termCol(t: Term): Column = t match {
      case Var(n) => varCol(withNodes, n)
      case BNode(l) => col(s"__bnode_$l")
      case Quoted(s, p, o) => qtMake(termCol(s), termCol(p), termCol(o))
      case other => lit(TermLex.lexical(other))
    }
    def isBn(c: Column): Column = c.startsWith("_:")
    // predicate-position legality for a value column: never quoted, never blank
    def legalPred(c: Column): Column = !qtIs(c) && !isBn(c)
    // a quoted value is legal if its predicate component is
    def legalQuoted(c: Column): Column = !qtIs(c) || legalPred(qtP(c))

    tmpl.map { case (tp, g) =>
      val gCol = g match {
        case GraphIri(i) => lit(i).cast(StringType)
        case GraphVar(n) => varCol(withNodes, n)
        case DefaultGraph => lit(null).cast(StringType)
      }
      var q = withNodes.select(gCol.as("g"), termCol(tp.s).as("s"),
          termCol(tp.p).as("p"), termCol(tp.o).as("o"))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
      // legality only constrains positions filled from variables (constants
      // were validated by the parser's grammar, as in the reference)
      tp.p match {
        case Var(_) => q = q.filter(legalPred(col("p")))
        case _ =>
      }
      tp.s match {
        case Var(_) | Quoted(_, _, _) => q = q.filter(legalQuoted(col("s")))
        case _ =>
      }
      tp.o match {
        case Var(_) | Quoted(_, _, _) => q = q.filter(legalQuoted(col("o")))
        case _ =>
      }
      g match {
        case GraphVar(_) =>
          q = q.filter(col("g").isNotNull && !qtIs(col("g")) && !isBn(col("g")))
        case _ =>
      }
      q
    }.reduce(_ unionByName _)
  }
}
