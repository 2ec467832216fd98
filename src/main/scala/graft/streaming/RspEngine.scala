package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq
import graft.model.{LocalJoinFold, QuadStore}
import graft.sparql.Ast._
import graft.sparql.{Compiler, SparqlParser}

/** RSP-QL continuous-query engine (SURVEY §2.9): CSPARQL sliding windows,
  * R2S operators, multi-window coordination with sync policies, and
  * static-data joins — observable semantics matched against the
  * reference's own streaming tests (`kolibrie/tests/rsp_engine_test.rs`).
  *
  * Architecture split, mirroring the reference's coordinator design but
  * Spark-shaped: window-firing bookkeeping (TimeDriven tick, max-closing
  * window per advance, `s2r.rs:210-330`) is driver-side control plane —
  * exactly like the reference's window threads — while each firing's
  * relation is computed as a DataFrame pipeline (window content store →
  * compiled WINDOW block → compat-join across windows → static join →
  * solution modifiers). High-volume aggregation-only pipelines should use
  * the watermark/window path in [[StreamOps]] instead; this engine is the
  * full-semantics path (exact emission sequences, R2S diffs, policies).
  *
  * Firings over local content run on the driver with no Spark job: the
  * window content and the cached window results are `LocalRelation`s,
  * and the [[graft.model.LocalJoinFold]] rule the constructor installs
  * folds their joins at planning time, so each collect is a local table
  * scan. The rule folds only under its fixed bound on the row pairs a
  * join compares (`LocalJoinFold.MaxRows`); a larger window, a static store read from
  * files, rule enrichment or a cross-window closure still plans
  * Spark jobs, with the same results.
  *
  * Each window block and the emission compile once per engine. A
  * window's first firing compiles its block over a placeholder content
  * store (an empty `LocalRelation`) and keeps the analyzed plan; every
  * firing then swaps its deduplicated triples into that leaf, so it runs
  * only the optimizer and a local scan, not the SPARQL compile and the
  * analysis. The emission keeps one plan likewise, with one placeholder
  * per window's cached relation, and compiles again when the static
  * store has moved to a new version. A window compiles its block per
  * firing, over the real content store, when the engine has R2R rules
  * or runs in cross-window mode, when the content exceeds
  * `LocalJoinFold.MaxRows` triples, or when the prepared plan has a leaf
  * other than the placeholder, VALUES rows or `range(1)` (a property
  * path's closure is checkpointed while it compiles).
  *
  * Firing rule (validated against `rsp_engine_test.rs:10-193`): windows
  * close at multiples of STEP; an event at time t fires the max close c
  * with c < t, c > lastFired, c ≥ first event time; content = events with
  * ts ∈ [c−RANGE, c].
  */
object RspEngine {
  sealed trait SyncPolicy
  case object Wait extends SyncPolicy
  case object Steal extends SyncPolicy
  /** `Timeout{duration, fallback}` (`shared/src/query.rs:236-246`): wait
    * up to `ms` for the remaining windows of a cycle, then apply the
    * fallback — Steal emits with the cached results of the non-fired
    * windows (only once every window has fired at least once,
    * `rsp_engine.rs:588-620` `last_materialized.len() == num_windows`),
    * Drop discards the partial cycle (`rsp_engine.rs:623-634`). The
    * reference's timer is wall-clock in its coordinator thread; here the
    * deadline runs on the VIRTUAL clock of event time — a cycle opened by
    * a firing triggered at event time t expires when a later arrival (or
    * an explicit [[RspEngine.advanceTime]]) carries ts > t + ms — so the
    * observable sequences stay deterministic and exactly testable. */
  final case class Timeout(ms: Long, fallbackSteal: Boolean) extends SyncPolicy

  /** Report strategies (`rsp/s2r.rs:27-84`): ALL configured strategies
    * must pass for a window to report. */
  sealed trait ReportStrategy
  case object OnWindowClose extends ReportStrategy
  case object NonEmptyContent extends ReportStrategy
  case object OnContentChange extends ReportStrategy
  final case class Periodic(n: Int) extends ReportStrategy

  /** Tick-strategy parity: the reference parses TUPLE_DRIVEN/BATCH_DRIVEN
    * (`parser.rs:2655-2661`) but its window runtime only fires under
    * TimeDriven (`rsp/s2r.rs:246-264` — the other arms no-op, so such a
    * window silently NEVER emits). Both execution planes here are
    * time-driven by the same design; rather than accept a tick that would
    * never fire, refuse it with the typed `unsupported` category at
    * construction. Called by the [[RspEngine]] constructor and by
    * [[DistributedRsp]], so a query cannot reach either plane with a
    * never-firing tick. */
  def requireExecutableTicks(q: RspQuery): Unit =
    q.windows.flatMap(_.tick).foreach {
      case "TIME_DRIVEN" => ()
      case other => throw new UnsupportedOperationException(
        s"TICK $other is parsed but not supported: only TIME_DRIVEN executes " +
        "(the reference's runtime likewise no-ops non-time-driven ticks — " +
        "such windows never fire). Use TICK TIME_DRIVEN or omit the clause.")
    }

  /** Cross-window SDS+ mode (`rsp_engine.rs:293-295,1213-1268`): N3-logic
    * rules over the UNION of all windows' latest raw contents, each fact
    * expiry-tagged with ITS window's width as α; the window blocks then
    * re-evaluate over the materialized live facts at emission time.
    * `incremental = false` is the reference's Naive mode (rebuild from
    * all retained contents each emission). */
  final case class CrossWindow(rulesN3: String, incremental: Boolean = true)

  final case class Emission(windowClose: Long, rows: Seq[Map[String, String]])

  /** An empty `LocalRelation` of `schema` whose `data` is its own
    * instance: every empty `Seq` equals every other, so a placeholder is
    * found by reference (`eq`), never by `==` (which would also match
    * VALUES or empty relations). */
  private def placeholder(schema: StructType): LocalRelation =
    LocalRelation(schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()),
      ArraySeq.unsafeWrapArray(new Array[InternalRow](0)))
}

class RspEngine(
    spark: SparkSession,
    val query: RspQuery,
    staticStore: Option[QuadStore] = None,
    policy: RspEngine.SyncPolicy = RspEngine.Wait,
    consumer: RspEngine.Emission => Unit = _ => (),
    /** GLOBAL programmatic override: when non-empty, every window reports
      * under this conjunctive list. When empty (the default), each window
      * carries its OWN strategy lowered from its bracket's `REPORT`
      * keyword — the reference binds report_strategy per RSPWindow
      * (`rsp/builder.rs:259-273`), defaulting to OnWindowClose. */
    reportStrategies: Seq[RspEngine.ReportStrategy] = Nil,
    /** Forward-chaining rules applied to each window's content store
      * before the R2R query runs — the reference's `add_sparql_rules`
      * R2R enrichment (`rsp/builder.rs`, `main.rs:689-700`). */
    rules: Seq[Rule] = Nil,
    /** Cross-window SDS+ reasoning over N3-logic rules
      * ([[RspEngine.CrossWindow]]): window firings deliver RAW contents;
      * at each coordinated emission the expiry-annotated closure
      * materializes across ALL windows (α per window = its RANGE) and
      * every window block re-evaluates over the live facts — the
      * reference's `cross_window_rules` path (`rsp_engine.rs:104-147`
      * raw-content send, `:1213-1268` emit_cross_window_results). */
    crossWindow: Option[RspEngine.CrossWindow] = None) {

  import RspEngine._

  RspEngine.requireExecutableTicks(query)
  LocalJoinFold.install(spark)

  private case class WindowRuntime(
      spec: WindowSpec,
      blockElems: Seq[Element],
      events: scala.collection.mutable.ArrayBuffer[(Long, String, String, String)] =
        scala.collection.mutable.ArrayBuffer.empty,
      var firstEventTs: Option[Long] = None,
      var lastFiredClose: Option[Long] = None,
      var latest: Option[Seq[InternalRow]] = None,
      var latestCols: Seq[String] = Nil,
      /** Cross-window mode: the latest firing's raw `(ts, s, p, o)`
        * content (replace semantics, `rsp_engine.rs:655-658`). */
      var latestRaw: Option[Seq[(Long, String, String, String)]] = None,
      var fresh: Boolean = false,
      /** THIS window's report strategies (per-window, not engine-global —
        * one window's NON_EMPTY_CONTENT must not gate another's firings)
        * plus the per-window state they read: ON_CONTENT_CHANGE compares
        * against this window's own last content, PERIODIC counts this
        * window's own firings (`rsp/s2r.rs:27-84` keeps report state
        * inside each CSPARQLWindow). */
      reportStrats: Seq[RspEngine.ReportStrategy] = Seq(RspEngine.OnWindowClose),
      var fireCount: Int = 0,
      var lastContentHash: Option[Int] = None) {
    /** The block compiled once over a placeholder content store; None
      * when its plan reads other data ([[prepareBlock]]). */
    lazy val prepared: Option[Prepared] = prepareBlock(blockElems)
  }

  private val windowBlocks: Map[String, Seq[Element]] =
    query.select.where.collect { case WindowBlockElem(w, elems) => w -> elems }.toMap
  private val staticElems: Seq[Element] =
    query.select.where.filterNot(_.isInstanceOf[WindowBlockElem])

  private val windows: Seq[WindowRuntime] = query.windows.map { spec =>
    val strats =
      if (reportStrategies.nonEmpty) reportStrategies // programmatic override
      else spec.report.map(r => Seq(RspEngineBuilder.lowerReport(r)))
        .getOrElse(Seq(OnWindowClose))
    WindowRuntime(spec, windowBlocks.getOrElse(spec.iri,
      throw new IllegalArgumentException(s"no WINDOW block for ${spec.iri}")),
      reportStrats = strats)
  }

  /** Cross-window N3 rules, parsed against the query's own window specs
    * (window IRI → RANGE as α — `rsp_engine.rs:337-343` derives
    * window_widths from the query config the same way). */
  private val crossWindowRules: Seq[Rule] = crossWindow.map { cw =>
    graft.sparql.N3RuleParser.parseForSds(cw.rulesN3,
      query.windows.map(w => w.iri -> w.rangeMs).toMap)._1
  }.getOrElse(Nil)

  /** The SDS+ state carrier across emissions (incremental keeps the
    * previous materialization, naive retains contents — the reference's
    * CrossWindowReasoningMode). alphaMs is unused: facts arrive
    * pre-tagged with their own window's width via onTagged. */
  private val crossReasoner: Option[graft.reasoner.CrossWindowReasoner] =
    crossWindow.map { cw =>
      new graft.reasoner.CrossWindowReasoner(spark, crossWindowRules, alphaMs = 0L,
        staticFacts = staticStore.map(_.quads
          .filter(org.apache.spark.sql.functions.col("g").isNull)
          .select("s", "p", "o")),
        incremental = cw.incremental)
    }

  /** R2S state: previous emitted relation per the single output stream. */
  private var lastEmitted: Option[Set[Map[String, String]]] = None
  private val emitted = scala.collection.mutable.ArrayBuffer.empty[Emission]
  def emissions: Seq[Emission] = emitted.toSeq

  /** Route one timestamped triple (`rsp_engine.rs:773-810`): stream IRI
    * match or `*` wildcard. TimeDriven advance may fire windows. */
  /** IRI normalization for routing (`rsp_engine.rs:773-810`): compare on
    * the local suffix so `:streamA`, `streamA`, and absolute forms match. */
  private def streamMatches(spec: String, actual: String): Boolean = {
    if (spec == "*") return true
    def norm(x: String) = x.substring(math.max(x.lastIndexOf('/'), x.lastIndexOf(':')) + 1)
    spec == actual || norm(spec) == norm(actual)
  }

  def add(streamIri: String, s: String, p: String, o: String, ts: Long): Unit = {
    advanceTime(ts)
    windows.foreach { w =>
      if (streamMatches(w.spec.streamIri, streamIri)) {
        advance(w, ts)
        w.events += ((ts, s, p, o))
        if (w.firstEventTs.isEmpty) w.firstEventTs = Some(ts)
      }
    }
  }

  /** Virtual-clock tick: under a [[RspEngine.Timeout]] policy, expire a
    * partial cycle whose deadline has passed as of event time `now` —
    * the deterministic analogue of the reference coordinator's
    * `recv_timeout` branch (`rsp_engine.rs:580-640`). [[add]] ticks this
    * automatically with each arrival's ts; tests (or a driver timer
    * mapping wall-clock to event time) may tick it explicitly. */
  def advanceTime(now: Long): Unit = policy match {
    case Timeout(ms, fallbackSteal) =>
      cycleStartVt.foreach { start =>
        if (now - start > ms) {
          val partial = windows.exists(_.fresh) && !windows.forall(_.fresh)
          if (partial) {
            // Steal: emit with stale cached results — only when every
            // window has fired at least once (`rsp_engine.rs:593`); in
            // cross-window mode the cache is the raw content
            val warm = windows.forall(w =>
              if (crossWindow.isDefined) w.latestRaw.isDefined else w.latest.isDefined)
            if (fallbackSteal && warm) emitJoined(cycleMaxClose)
            // Drop: discard the cycle
          }
          windows.foreach(_.fresh = false)
          cycleStartVt = None
          cycleMaxClose = 0L
        }
      }
    case _ => ()
  }

  /** Probabilistic stream input (`rsp_engine.rs:960-998`): a SeedId is
    * allocated once per arrival, BEFORE window fanout, so overlapping
    * windows share the occurrence's identity; records mirror
    * `shared/src/hybrid.rs:43-72` SeedRecord, including the seed kind —
    * `group = None` is `SeedKind::Independent`, `Some(g)` is
    * `SeedKind::ExclusiveGroup(g)`. */
  final case class SeedRecord(seedId: Long, streamIri: String, ts: Long,
      s: String, p: String, o: String, probability: Double,
      group: Option[Long] = None)
  private var nextSeedId = 0L
  private val seedLog = scala.collection.mutable.ArrayBuffer.empty[SeedRecord]
  def seeds: Seq[SeedRecord] = seedLog.toSeq

  def addProbabilistic(streamIri: String, s: String, p: String, o: String,
      ts: Long, probability: Double, group: Option[Long] = None): Long = {
    val id = nextSeedId
    nextSeedId += 1
    seedLog += SeedRecord(id, streamIri, ts, s, p, o, probability, group)
    add(streamIri, s, p, o, ts)
    id
  }

  /** Window-scoped seeds as a `(s, p, o, prob, grp)` DataFrame — the
    * bridge from stream arrivals to [[graft.prob.ProbReasoner]] rules
    * (the reference feeds `probability_seeds` into
    * `infer_new_facts_with_hybrid` the same way, `parser.rs:3840-3850`). */
  def seedsFrame(fromTs: Long = Long.MinValue, toTs: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    seedLog.toSeq.filter(r => r.ts >= fromTs && r.ts <= toTs)
      .map(r => (r.s, r.p, r.o, r.probability, r.group.getOrElse(-1L)))
      .toDF("s", "p", "o", "prob", "grp")
  }

  /** Feed a batch of events in event-time order (foreachBatch adapter). */
  def addBatch(rows: Seq[(String, Long, String, String, String)]): Unit =
    rows.sortBy(_._2).foreach { case (stream, ts, s, p, o) => add(stream, s, p, o, ts) }

  /** Attach to a live streaming DataFrame with columns
    * `(stream, ts: timestamp, s, p, o)`: every micro-batch drains into the
    * engine in event-time order, firing windows and emitting through the
    * consumer. Micro-batch boundaries replace the reference's window and
    * coordinator threads (SURVEY §3.3).
    *
    * This is the CONTROL-PLANE path: exact emission sequencing, all
    * policies/report strategies, at single-coordinator volume (each batch
    * collects to the driver — the reference's own single-process design).
    * High-volume WINDOW-block queries should run on
    * [[DistributedRsp.streamEmissions]], which keeps window assignment,
    * the BGP join, fired-close gating, and incremental R2S fully
    * distributed (transformWithState), trading the policy/report-strategy
    * surface for scale. */
  def runStream(stream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select("stream", "ts", "s", "p", "o").collect().map { r =>
          (r.getString(0), r.getTimestamp(1).getTime, r.getString(2),
            r.getString(3), r.getString(4))
        }.toSeq
        addBatch(rows)
      }
      .start()

  private def advance(w: WindowRuntime, t: Long): Unit = {
    val step = math.max(w.spec.stepMs, 1L)
    // max close c (multiple of step) with c < t, c > lastFired, c ≥ first
    // event — shared with the distributed plane so the parity holds by
    // construction, not by parallel maintenance
    val cMax = DistributedRsp.maxCloseLong(t, step)
    val eligible = w.firstEventTs.exists(f => cMax >= f) &&
      w.lastFiredClose.forall(cMax > _)
    if (eligible) fire(w, cMax, t)
  }

  /** Flush: advance each window one step past its buffered events so the
    * close covering the final arrivals fires without a new event (the
    * reference's `engine.stop()` drain before answering `/rsp-query`,
    * `kolibrie-http-server/src/main.rs:1228`). Ticks the virtual clock
    * first: a Timeout deadline that has passed by drain time must expire
    * (Drop discards / Steal emits the pending partial cycle) BEFORE the
    * drain firings complete a cycle the policy already gave up on. */
  def flush(): Unit = {
    val drainTimes = windows.flatMap { w =>
      val lastTs = if (w.events.nonEmpty) Some(w.events.map(_._1).max) else w.firstEventTs
      lastTs.map(t => w -> (t + math.max(w.spec.stepMs, 1L)))
    }
    drainTimes.map(_._2).maxOption.foreach(advanceTime)
    drainTimes.foreach { case (w, t) => advance(w, t) }
  }

  /** Timeout-cycle bookkeeping (virtual clock): when the first window of
    * a cycle fired (`cycle_start`, `rsp_engine.rs:566-568,660-663`) and
    * the max close seen this cycle (the reference's `max_ts`). */
  private var cycleStartVt: Option[Long] = None
  private var cycleMaxClose: Long = 0L

  private def fire(w: WindowRuntime, close: Long, triggerTs: Long): Unit = {
    w.lastFiredClose = Some(close)
    val lo = close - w.spec.rangeMs
    // timestamped content captured BEFORE eviction (the cross-window
    // branch needs the ts for expiry tagging)
    val contentTs = w.events.filter { case (ts, _, _, _) => ts >= lo && ts <= close }
      .toSeq
    val content = contentTs.map { case (_, s, p, o) => (s, p, o) }
    // evict events that can never appear in a future window
    val evictBefore = close + w.spec.stepMs - w.spec.rangeMs
    w.events.filterInPlace(_._1 >= evictBefore)
    // ALL of THIS window's report strategies must pass (`s2r.rs:27-84`);
    // the firing counter and last-content hash are per-window so
    // interleaved firings of different windows never cross-talk
    w.fireCount += 1
    val contentHash =
      if (w.reportStrats.contains(OnContentChange)) Some(content.toSet.hashCode()) else None
    val passes = w.reportStrats.forall {
      case OnWindowClose => true
      case NonEmptyContent => content.nonEmpty
      case OnContentChange => w.lastContentHash != contentHash
      case Periodic(n) => w.fireCount % math.max(n, 1) == 0
    }
    w.lastContentHash = contentHash
    if (!passes) return
    val wasCycleOpen = windows.exists(_.fresh)
    if (crossWindow.isDefined) {
      // cross-window mode: the firing delivers RAW timestamped content
      // (`rsp_engine.rs:124-147`); window plans run at emission time over
      // the SDS+-materialized live facts, not here
      w.latestRaw = Some(contentTs)
    } else {
      // R2R: run this window's block over the content (set semantics,
      // as the content store holds it): the prepared plan with the
      // triples swapped in, or a compile over the content store, enriched
      // by the registered rules' forward chaining
      val unique = content.distinct
      val prepared =
        if (rules.isEmpty && unique.size <= LocalJoinFold.MaxRows) w.prepared else None
      val (rows, cols) = prepared match {
        case Some(plan) => (plan.run(Seq(unique.map { case (s, p, o) =>
            InternalRow(null, UTF8String.fromString(s), UTF8String.fromString(p),
              UTF8String.fromString(o))
          })), plan.columns)
        case None =>
          val store = QuadStore.fromTriples(spark, unique)
          if (rules.nonEmpty)
            new graft.reasoner.Reasoner(spark).materialize(store, rules)
          val df = compileBlock(w.blockElems, store)
          (df.collect(), df.columns.toSeq)
      }
      w.latest = Some(rows.map(r => InternalRow.fromSeq(
        r.toSeq.map(v => UTF8String.fromString(v.asInstanceOf[String])))).toSeq)
      w.latestCols = cols
    }
    w.fresh = true
    if (!wasCycleOpen) cycleStartVt = Some(triggerTs)
    cycleMaxClose = math.max(cycleMaxClose, close)
    coordinate(close)
  }

  /** Coordinator (`rsp_engine.rs:539-770`): latest-per-window with replace
    * semantics; Wait (and Timeout within its deadline) needs every window
    * fresh this cycle, Steal joins a fresh firing with cached results of
    * the others. */
  private def coordinate(close: Long): Unit = {
    def hasResult(w: WindowRuntime) =
      if (crossWindow.isDefined) w.latestRaw.isDefined else w.latest.isDefined
    val ready = policy match {
      case Steal => windows.forall(hasResult)
      case _ => windows.forall(w => hasResult(w) && w.fresh)
    }
    if (!ready) return
    windows.foreach(_.fresh = false)
    cycleStartVt = None
    cycleMaxClose = 0L
    emitJoined(close)
  }

  /** The compile both firing paths share: this block over `store`, every
    * column cast to string. */
  private def compileBlock(blockElems: Seq[Element], store: QuadStore): DataFrame = {
    blockCompiles += 1
    val b = new Compiler(store).compileElements(blockElems)
    b.df.select(b.df.columns.map(c => col(c).cast("string").as(c)).toSeq: _*)
  }

  /** Window-block compiles (over all windows) and emission compiles so far. */
  private[streaming] var blockCompiles = 0
  private[streaming] var emissionCompiles = 0

  /** The block compiled over a placeholder content store, kept when every
    * leaf of its plan is the placeholder, VALUES rows or `range(1)` —
    * anything else (a property path's checkpointed closure) was read at
    * compile time and would go stale. */
  private def prepareBlock(blockElems: Seq[Element]): Option[Prepared] = {
    val p = prepare(Seq(QuadStore.schema))(in =>
      compileBlock(blockElems, QuadStore(spark, in.head)))
    val fixed = p.plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case _: LocalRelation => true
      case r: Range => r.start == 0 && r.end == 1
      case _ => false
    }
    if (fixed) Some(p) else None
  }

  /** A store for emissions without a static store. */
  private lazy val emptyStore = QuadStore.empty(spark)
  private def resolvedStatic: QuadStore = staticStore.getOrElse(emptyStore)

  /** The emission compiled over one placeholder per window, with the
    * static quads frame and window columns it was compiled for: a new
    * static store version or new columns compile it again. */
  private var emission: Option[(DataFrame, Seq[Seq[String]], Prepared)] = None

  private def preparedEmission(): Prepared = {
    val static = resolvedStatic
    val cols = windows.map(_.latestCols)
    emission match {
      case Some((q, c, p)) if (q eq static.quads) && c == cols => p
      case _ =>
        val quads = static.quads
        emissionCompiles += 1
        val p = prepare(cols.map(cs => StructType(cs.map(StructField(_, StringType)))))(ins =>
          emissionFrame(ins.map(Compiler.Bindings(_, Set.empty)), static))
        emission = Some((quads, cols, p))
        p
    }
  }

  /** The emission's frame: the window relations compat-joined, then the
    * static patterns, then the solution modifiers. */
  private def emissionFrame(windowBindings: Seq[Compiler.Bindings], static: QuadStore): DataFrame = {
    val c = new Compiler(static)
    var joined = windowBindings.reduce(c.compatJoin)
    if (staticElems.nonEmpty) joined = c.compatJoin(joined, c.compileElements(staticElems))
    c.finalizeSelect(joined, query.select, subquery = false)
  }

  /** Builds `build`'s frame over one placeholder leaf per schema and keeps
    * its analyzed plan. */
  private def prepare(schemas: Seq[StructType])(build: Seq[DataFrame] => DataFrame): Prepared = {
    val leaves = schemas.map(placeholder)
    val df = build(leaves.map(PlanBridge.ofAnalyzed(spark, _)))
    new Prepared(df.queryExecution.analyzed, df.columns.toSeq, leaves.map(_.data))
  }

  /** An analyzed plan kept across firings: `run` swaps each slot's rows
    * into the placeholder leaves (found by their `data` instance, which
    * the analyzer's relation deduplication keeps) and collects. The
    * optimizer still runs on every call, so `LocalJoinFold` and
    * `ConvertToLocalRelation` fold the filled plan to a local scan. */
  private final class Prepared(val plan: LogicalPlan, val columns: Seq[String],
      slots: Seq[Seq[InternalRow]]) {
    def run(fills: Seq[Seq[InternalRow]]): Array[Row] = {
      val filled = plan.transformUpWithSubqueries {
        case l: LocalRelation => slots.indexWhere(_ eq l.data) match {
          case -1 => l
          case i => l.copy(data = fills(i))
        }
      }
      PlanBridge.ofAnalyzed(spark, filled).collect()
    }
  }

  /** Cross-window emission inputs (`rsp_engine.rs:1213-1268`
    * emit_cross_window_results): union every window's latest raw content
    * tagged with ITS width as α, materialize the live SDS+ closure as of
    * `close`, and re-evaluate each window's block over the live facts. */
  private def crossWindowBindings(close: Long): Seq[Compiler.Bindings] = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val tagged = windows.flatMap { w =>
      w.latestRaw.getOrElse(Nil).map { case (ts, s, p, o) =>
        (s, p, o, (ts + w.spec.rangeMs).toDouble)
      }
    }.toDF("s", "p", "o", "tag")
    val live = crossReasoner.get.onTagged(tagged, close)
    val store = QuadStore(spark, live.select(lit(null).cast("string").as("g"),
      col("s"), col("p"), col("o")))
    windows.map(w => new Compiler(store).compileElements(w.blockElems))
  }

  /** Data plane of one emission: join the latest window relations, then
    * static patterns, then solution modifiers and the R2S diff. */
  private def emitJoined(close: Long): Unit = {
    val (result, cols) =
      if (crossWindow.isDefined) {
        val df = emissionFrame(crossWindowBindings(close), resolvedStatic)
        (df.collect(), df.columns)
      } else {
        val p = preparedEmission()
        (p.run(windows.map(_.latest.get)), p.columns.toArray)
      }
    val rows = result.map { r =>
      cols.zipWithIndex.flatMap { case (col, i) =>
        Option(r.get(i)).map(v => col -> v.toString)
      }.toMap
    }.toSeq
    val current = rows.toSet
    val out: Seq[Map[String, String]] = query.kind match {
      case RStream => rows
      case IStream => (current -- lastEmitted.getOrElse(Set.empty)).toSeq
      case DStream => (lastEmitted.getOrElse(Set.empty) -- current).toSeq
    }
    lastEmitted = Some(current)
    // ISTREAM first firing emits everything (old = ∅); DSTREAM first firing
    // emits nothing — both fall out of the set algebra above
    if (out.nonEmpty || query.kind == RStream) {
      val e = Emission(close, out)
      emitted += e
      consumer(e)
    }
  }
}

object RspEngineBuilder {
  /** A parsed `WITH POLICY` spec lowered to the engine's policy type. */
  def lower(p: SyncPolicySpec): RspEngine.SyncPolicy = p match {
    case WaitPolicy => RspEngine.Wait
    case StealPolicy => RspEngine.Steal
    case TimeoutPolicy(ms, steal) => RspEngine.Timeout(ms, steal)
  }

  /** Builder parity with `RSPBuilder` (`rsp/builder.rs`). A `WITH POLICY`
    * clause in the query text takes effect unless the caller passes a
    * policy explicitly (programmatic override wins, matching the
    * reference's builder `with_sync_policy`). `policy` is an Option so an
    * explicit `Some(Wait)` also wins — a sentinel default could not tell
    * "caller wants Wait" from "caller said nothing". */
  /** A `REPORT` keyword from the window bracket lowered to the engine's
    * strategy type (`rsp/builder.rs:259-265`). PERIODIC lowers to
    * `Periodic(1)` — the engine's Periodic counts firings, and 1 matches
    * the reference default's observable cadence under its one-second test
    * windows (its `Periodic(1000)` is milliseconds). */
  def lowerReport(s: String): RspEngine.ReportStrategy = s match {
    case "ON_WINDOW_CLOSE" => RspEngine.OnWindowClose
    case "ON_CONTENT_CHANGE" => RspEngine.OnContentChange
    case "NON_EMPTY_CONTENT" => RspEngine.NonEmptyContent
    case "PERIODIC" => RspEngine.Periodic(1)
    case other => throw new IllegalArgumentException(
      s"unknown REPORT strategy $other")
  }

  def fromQuery(spark: SparkSession, rspQl: String,
      staticStore: Option[QuadStore] = None,
      policy: Option[RspEngine.SyncPolicy] = None,
      consumer: RspEngine.Emission => Unit = _ => (),
      rules: Seq[Rule] = Nil,
      /** N3-logic cross-window rules (the reference builder's
        * `add_cross_window_rules`, `rsp_engine.rs:293`). */
      crossWindow: Option[RspEngine.CrossWindow] = None,
      /** Explicit strategies win over `REPORT` keywords in the query text
        * (the same programmatic-override rule as `policy`). */
      reportStrategies: Option[Seq[RspEngine.ReportStrategy]] = None): RspEngine = {
    val q = SparqlParser().parseRsp(rspQl)
    val effective = policy.getOrElse(q.policy.map(lower).getOrElse(RspEngine.Wait))
    // None → each window lowers its OWN bracket's REPORT keyword inside
    // the engine (per-window binding, `rsp/builder.rs:259-273`); Some →
    // the global conjunctive override applies to every window.
    new RspEngine(spark, q, staticStore, effective, consumer,
      reportStrategies = reportStrategies.getOrElse(Nil),
      rules = rules, crossWindow = crossWindow)
  }
}
