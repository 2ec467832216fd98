package graft.pipeline

import graft.reasoner.Reasoner.RoundCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed graph analytics over edge lists (beyond-reference: the
  * reference reasons over the RDF graph but has no whole-graph
  * analytics). Near-dup clustering already does label-propagation
  * connected components ([[Dedup.nearDupClusters]]); this adds PageRank,
  * the standard importance measure for entity graphs.
  */
object GraphOps {

  /** PageRank by power iteration (Page et al. 1999), with dangling-mass
    * redistribution: pr'(v) = (1−d)/N + d·(Σ_{u→v} pr(u)/out(u) + D/N)
    * where D is the total rank held by nodes with no out-edges.
    *
    * Scale shape — the Pregel-as-join formulation: each iteration is ONE
    * edge-keyed join (contributions = pr/outdeg shipped along edges) and
    * ONE dst-keyed aggregation; rank state is a (node, pr) table
    * partitioned by node, localCheckpoint-ed per round with the previous
    * round eagerly unpersisted (the fixpoint hygiene the reasoners use —
    * a mostly-idle heap never fires the weak-ref cleaner). The dangling
    * term is a one-row aggregate collected to the driver. No adjacency
    * ever materializes on the driver; iterations are O(|E|) shuffles.
    *
    * Returns (node, pr) with pr rounded to 6 decimals — deterministic,
    * so an unrolled-SQL mirror reproduces it bit-for-bit.
    *
    * EAGER: the edge/base tables are localCheckpoint-ed up front (they
    * are read every round), so calling this materializes work even
    * before the result is consumed. With `checkpoint = true` (default)
    * those static blocks are dropped before returning — the result is
    * its own checkpoint; with `checkpoint = false` the returned plan
    * still reads them, so the blocks live until driver GC (ADVICE r6). */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      checkpoint: Boolean = true,
      /** Hash-partition the edge table by `src` BEFORE its one-time
        * checkpoint, so the per-iteration contribution join reuses that
        * partitioning instead of re-shuffling |E| rows every round. The
        * r6 measurement said this DOUBLED wall at sf0.1 (the checkpoint
        * leaf hid the partitioning); re-measured r8
        * (PageRankPartProbe): it now wins at EVERY probe point — sf0.1
        * 2.15 → 1.85 s, 10× 4.2 → 2.8 s, 100× 26-31 → 17-21 s
        * (per-decade exponents 0.51/1.17 → 0.18/0.79, the one
        * superlinear graph probe number gone) — so it is the default.
        * The flag remains for callers whose edge frame is already
        * partitioned by src. */
      prePartition: Boolean = true): DataFrame = {
    require(iters >= 1, s"pageRank iters $iters must be >= 1")
    require(damping > 0 && damping < 1, s"damping $damping must be in (0, 1)")
    // the static sides are read every round — always materialize them
    // once (cheap; the per-ROUND checkpoint is what the flag gates)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // repartition(col) — NOT repartition(n, col): AQE coalesces the keyed
    // exchange by bytes, down to ONE partition for the sf0.1 graph
    // entries, and that is measured-correct — a numbered pin (32) ran
    // ~25% SLOWER at 1× (32 tasks × rounds of scheduling overhead on a
    // 48K-row table) and a wash at the 100× probe (AQE already picks
    // partition counts by size there). Let AQE size the exchange.
    val e = (if (prePartition) e0.repartition(col("src")) else e0)
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    // nodes joined with outdeg once: dangling nodes carry outdeg null
    val base = nodes.join(outdeg, Seq("node"), "left_outer").localCheckpoint()
    val n = base.count().toDouble
    require(n > 0, "pageRank: empty graph")
    var pr = base.withColumn("pr", lit(1.0 / n))
    // whether pr is a loop-round checkpoint of its OWN (safe to drop):
    // the round-0 frame derives from base, whose LogicalRDD leaves
    // unpersistCheckpoint would otherwise destroy mid-iteration
    var prOwnCheckpoint = false
    for (_ <- 1 to iters) {
      // dangling mass as a LAZY broadcast 1-row aggregate, not a driver
      // head(): the old per-round collect forced two actions per round
      // and measured 5.2-5.6 s warm at sf0.1/3 iters vs 3.9-4.3 s for
      // this one-action form (bit-identical results — same IEEE ops)
      val dangling = pr.filter(col("outdeg").isNull)
        .agg(coalesce(sum("pr"), lit(0.0)).as("__dang"))
      val contribs = e.join(pr.filter(col("outdeg").isNotNull), e("src") === pr("node"))
        .select(col("dst").as("node"), (col("pr") / col("outdeg")).as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      val next = base.join(contribs, Seq("node"), "left_outer")
        .crossJoin(broadcast(dangling))
        .withColumn("pr", lit((1.0 - damping) / n) +
          lit(damping) * (coalesce(col("__in"), lit(0.0)) + col("__dang") / lit(n)))
        .drop("__in", "__dang")
      val prev = pr
      val prevOwn = prOwnCheckpoint
      // without per-round checkpoints the plan doubles per round (pr
      // feeds both the dangling aggregate and the contribution join) —
      // fine at the entry's 3 iterations (ReusedExchange dedupes), the
      // flag exists for deep iteration counts
      pr = if (checkpoint) next.localCheckpointSevered() else next
      prOwnCheckpoint = checkpoint
      // Dataset.unpersist is a no-op for checkpoint blocks (it only
      // uncaches CacheManager entries); drop the backing RDD directly
      if (prevOwn) graft.reasoner.Reasoner.unpersistCheckpoint(prev)
    }
    val out = pr.select(col("node"), round(col("pr"), 6).as("pr"))
    // the statics are dead once pr is its own checkpoint (every round of
    // the default path re-checkpoints); lazy mode still reads them
    if (prOwnCheckpoint) {
      graft.reasoner.Reasoner.unpersistCheckpoint(e)
      graft.reasoner.Reasoner.unpersistCheckpoint(base)
    }
    out
  }

  /** Connected components: (node, component) where component is the
    * MINIMUM node id reachable from `node` over the undirected graph —
    * the deterministic survivor contract [[Dedup.nearDupClusters]] uses.
    *
    * Scale shape — hash-min with POINTER DOUBLING: each round first
    * pulls the smallest label one hop away (the O(|E|) propagation
    * step), then shortcuts every label to its label's label (the
    * O(|V|) path-compression join). Doubling collapses a diameter-D
    * chain in O(log D) rounds where plain propagation (the near-dup
    * clusterer, tuned for shallow dedup components) needs D — the
    * difference between 20 and 10⁶ shuffles on a path graph at scale.
    * Labels only ever decrease and stay node ids of the same component,
    * so the fixpoint of (propagate ∘ shortcut) is the plain-propagation
    * fixpoint: the component minimum. Throws on non-convergence rather
    * than returning silently inconsistent labels. */
  def connectedComponents(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxRounds: Int = 50): DataFrame = {
    val fwd = edges.select(col(srcCol).as("v"), col(dstCol).as("u"))
      .filter(col("v").isNotNull && col("u").isNotNull && col("v") =!= col("u"))
    // the undirected table is joined on u EVERY round — partition it by
    // the join key once, before the checkpoint, so the per-round
    // propagation join reuses the partitioning instead of re-shuffling
    // |E| rows per round (the pageRank prePartition result applied here;
    // the distinct() alone would leave it partitioned by (v, u))
    val (und, undRows) = fwd.unionByName(fwd.select(col("u").as("v"), col("v").as("u")))
      .distinct().repartition(col("u")).localCheckpointSeveredCounted()
    // no edge left (empty, or self-loops only): no node has a component.
    // Answered here, because the loop below would read und in jobs that
    // outlive its unpersisting: AQE ends a join with an empty side
    // early and leaves the other side's stage running, and that stage
    // then finds und's checkpoint blocks gone and aborts its job.
    if (undRows == 0) {
      graft.reasoner.Reasoner.unpersistCheckpoint(und)
      return und.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        und.select(col("v").as("node"), col("u").as("component")).schema)
    }
    // convergence check: labels are node ids that only ever DECREASE, so
    // for integral ids Σ lbl strictly decreases whenever any vertex
    // changed and the fixpoint is "sum unchanged"; the exact sum rides
    // the checkpoint's own materialization job. lbl is ordinal 1 of the
    // (v, lbl) frame and non-null by construction. Other id types
    // (strings, fractions) have no exact order-preserving sum: they count
    // the changed labels with a join instead.
    val integralIds = und.schema("u").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    var lastSum = Option.empty[BigInt]
    def checkpointAndConverged(prev: Option[DataFrame], df: DataFrame): (DataFrame, Boolean) =
      if (integralIds) {
        val (ck, _, s) = org.apache.spark.sql.graft.CheckpointBridge
          .localCheckpointSeveredCountSum(df, sumOrdinal = 1)
        val same = lastSum.contains(s)
        lastSum = Some(s)
        (ck, same)
      } else {
        val ck = df.localCheckpointSevered()
        (ck, prev.exists(p => ck.select(col("v"), col("lbl").as("nl")).join(p, Seq("v"))
          .filter(col("nl") =!= col("lbl")).isEmpty))
      }
    var lbl = checkpointAndConverged(None,
      und.groupBy("v").agg(least(min(col("u")), col("v")).as("lbl")))._1
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val viaNeighbor = und.join(lbl.select(col("v").as("u"), col("lbl")), "u")
        .groupBy("v").agg(min(col("lbl")).as("nlbl"))
      val stepped = lbl.join(viaNeighbor, Seq("v"), "left_outer")
        .select(col("v"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump: lbl'(v) = min(lbl(v), lbl(lbl(v))) — labels are
      // node ids of the same component, so the shortcut stays in-component
      val (next, same) = checkpointAndConverged(Some(lbl), stepped.as("a")
        .join(stepped.select(col("v").as("lbl"), col("lbl").as("lbl2")).as("b"),
          Seq("lbl"), "left_outer")
        .select(col("v"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
      converged = same
      graft.reasoner.Reasoner.unpersistCheckpoint(lbl)
      lbl = next
      round += 1
      graft.reasoner.Reasoner.maybeReclaimShuffles(round)
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: did not converge in $maxRounds doubling rounds")
    // lbl is its own checkpoint — the undirected edge blocks are dead
    graft.reasoner.Reasoner.unpersistCheckpoint(und)
    lbl.select(col("v").as("node"), col("lbl").as("component"))
  }

  /** Multi-source BFS hop distances: (node, dist) for every node within
    * `maxHops` undirected hops of the `sources` frame (one `node`
    * column), dist = the minimum hop count (sources at 0).
    *
    * Scale shape — frontier expansion: round h joins the CURRENT
    * frontier (nodes first reached at h−1) against the edge list and
    * anti-joins the visited set, so each edge is traversed at most once
    * per endpoint discovery and the per-round shuffle is O(frontier
    * out-degree), never O(|V|). Bounded depth keeps the plan finite on
    * a giant component — the k-hop-neighborhood query shape. */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 0, s"bfsDistances maxHops $maxHops must be >= 0")
    val fwd = edges.select(col(srcCol).as("v"), col(dstCol).as("u"))
      .filter(col("v").isNotNull && col("u").isNotNull && col("v") =!= col("u"))
    // frontier expansion joins und on v every hop — partition by the
    // join key once (same prePartition rationale as pageRank/components)
    val und = fwd.unionByName(fwd.select(col("u").as("v"), col("v").as("u")))
      .distinct().repartition(col("v")).localCheckpointSevered()
    // r12: the frontier's emptiness check rides its checkpoint job (was a
    // separate isEmpty action per hop)
    var (visited, frontierN) = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0)).localCheckpointSeveredCounted()
    var frontier = visited
    var liveFrontiers = List(visited)
    var hopsSinceCk = 0
    val ckEvery = 16
    var h = 1
    while (h <= maxHops && frontierN > 0) {
      val reached = und.join(frontier.select(col("node").as("v")), "v")
        .select(col("u").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(h))
      val (f2, fn2) = reached.localCheckpointSeveredCounted()
      frontier = f2
      frontierN = fn2
      // r12: visited stays a LAZY union of the per-hop frontier
      // checkpoints — every member is already a materialized leaf, so
      // re-checkpointing the union per hop bought nothing but one more
      // blocking action and a full rewrite of |visited| blocks each
      // round. The union's plan depth equals the hop count; collapse it
      // every `ckEvery` hops so an unbounded maxHops keeps a bounded
      // plan (the fixpoint-lineage discipline the reasoners use).
      visited = visited.unionByName(frontier)
      hopsSinceCk += 1
      if (hopsSinceCk >= ckEvery) {
        val ck = visited.localCheckpointSevered()
        // the collapsed checkpoint covers every folded frontier; the
        // CURRENT frontier stays live too (next hop's expansion joins it)
        liveFrontiers.foreach(graft.reasoner.Reasoner.unpersistCheckpoint)
        liveFrontiers = List(ck, frontier)
        visited = ck
        hopsSinceCk = 0
      } else liveFrontiers ::= frontier
      h += 1
    }
    // the result reads the live frontier checkpoints — only the edge
    // blocks are dead here (the frontiers' blocks back `visited`)
    graft.reasoner.Reasoner.unpersistCheckpoint(und)
    visited
  }

  /** Per-node triangle counts (node, triangles) over the undirected
    * simple graph induced by `edges` (direction, duplicates, and
    * self-loops are dropped first).
    *
    * Scale shape — the degree-ordered wedge enumeration (Cohen's
    * MapReduce formulation / compact-forward): every undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher one, so
    * wedges are enumerated only at each triangle's LOWEST-order vertex.
    * That caps the wedge fanout at O(|E|^1.5) total regardless of hub
    * skew — a degree-10⁷ hub generates wedges only from the ≤√|E|
    * out-neighbors that outrank it, instead of deg² pairs. Two
    * equi-joins (wedge build keyed on the pivot, closure keyed on the
    * canonical missing edge), no cross join, no driver state.
    */
  def triangleCounts(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      checkpoint: Boolean = false,
      /** Pre-filter the wedge stream with a Bloom filter over the
        * canonical edge keys BEFORE the closing semi join (r12, guide
        * §3.2): wedges outnumber edges (|wedges| up to |E|^1.5 — 14.1M
        * vs 1.79M at sf0.1), and only the closing ones survive the
        * join (~168K), so dropping definite non-edges before the wedge
        * exchange shrinks its shuffle ~45×. No false negatives → the
        * exact semi join after the filter returns the identical pair
        * set (interleaved A/B at sf0.1: pairwise geomean 0.64, median
        * 7.8 → 4.7 s on a loud host). The filter costs one extra pass
        * over the (checkpointed) edge table and a broadcast of ~9.6
        * bits per edge; above `bloomMaxEdges` edges the filter would
        * be a multi-hundred-MB broadcast, so the pre-filter turns off
        * and the closing join runs as before. */
      bloomPrefilter: Boolean = true,
      bloomMaxEdges: Long = 100000000L): DataFrame = {
    // canonical undirected simple edges: u < v. The edge table feeds
    // three consumers (degrees, orientation, wedge closure) — all in ONE
    // action, where Catalyst's ReusedExchange already serves the
    // distinct's shuffle to every consumer (materializing for THAT was
    // measured slower at sf0.1, r11). The bloom build below is a
    // SEPARATE action though, so with the pre-filter on, the edge table
    // is checkpointed once instead of recomputing its distinct for the
    // filter pass. The returned plan READS those checkpoint blocks, so
    // they live until driver GC reclaims the frames (the price of lazy
    // composability; ADVICE r6).
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val e = if (checkpoint || bloomPrefilter) e0.localCheckpoint() else e0
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Join strategy: every join below carries a SHUFFLE_HASH hint on its
    // bounded side. Without stats Catalyst picks sort-merge, and sorting
    // the WEDGE stream (|wedges| ≥ |E|, 14M rows at sf0.1 — the r7 probe)
    // is the operator's dominant cost and its variance amplifier (the
    // big sort is what a slow host turns into a 15-30 s rep; measured
    // closure leg 2.8-3.4 s SMJ vs 1.9 s SHJ steady). The hash sides are
    // bounded by |V| (degree tables) or |E| (the closure's edge side) —
    // always ≤ the probe side, and per-partition hash tables at 100 TB
    // stay ~|E|/numPartitions, the same memory class as the SMJ buffers.
    // orient each edge from the lower-(deg, id) endpoint to the higher
    val du = deg.select(col("node").as("u"), col("deg").as("du")).hint("shuffle_hash")
    val dv = deg.select(col("node").as("v"), col("deg").as("dv")).hint("shuffle_hash")
    val oriented0 = e.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("b"))
    // both wedge legs read the oriented table (ReusedExchange by default)
    val oriented = if (checkpoint) oriented0.localCheckpoint() else oriented0
    // wedges at the pivot a: unordered out-neighbor pairs (b, c) —
    // hash-build one |E|-sized side instead of sorting both
    val o1 = oriented.as("o1")
    val o2 = oriented.select(col("a"), col("b").as("c")).hint("shuffle_hash").as("o2")
    val wedges0 = o1.join(o2, Seq("a")).filter(col("b") < col("c"))
    // bloom pre-filter (see the parameter doc): drop definite non-edges
    // from the wedge stream before it reaches the closing join's
    // exchange; false positives only ride into the exact semi join,
    // never into the result
    val wedges = if (!bloomPrefilter) wedges0 else {
      val nEdges = e.count() // one job over the checkpoint blocks
      if (nEdges == 0L || nEdges > bloomMaxEdges) wedges0 else {
        val bf = e.select(xxhash64(col("u"), col("v")).as("k"))
          .stat.bloomFilter("k", math.max(1L, nEdges), 0.01)
        val bfB = e.sparkSession.sparkContext.broadcast(bf)
        val mightEdge = udf((k: Long) => bfB.value.mightContainLong(k))
        wedges0.filter(mightEdge(xxhash64(col("b"), col("c"))))
      }
    }
    // close the wedge against the canonical undirected edge {b, c}:
    // hash the |E|-sized edge side, STREAM the |E|^1.5-bounded wedges
    // (never sort them)
    val tri = wedges.join(e.hint("shuffle_hash"),
      col("u") === col("b") && col("v") === col("c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }
}
