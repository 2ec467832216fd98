package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PageRank semantics: equality with a driver-side reference (including
  * dangling-mass redistribution and multigraph edges), rank conservation,
  * and partition invariance. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // a → b, a → c, b → c, plus dangling d pointed at by c; duplicate
  // edge b → c (multigraph: counts twice in outdeg and contribution)
  private val edges = Seq(
    ("a", "b"), ("a", "c"), ("b", "c"), ("b", "c"), ("c", "d")
  ).toDF("src", "dst")

  private def refPageRank(es: Seq[(String, String)], iters: Int,
      d: Double): Map[String, Double] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val out = es.groupBy(_._1).map { case (s, g) => s -> g.size.toDouble }
    val n = nodes.size.toDouble
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val in = es.groupBy(_._2).map { case (t, g) =>
        t -> g.map(e => pr(e._1) / out(e._1)).sum }
      pr = nodes.map(v =>
        v -> ((1.0 - d) / n + d * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    pr
  }

  test("matches the driver-side reference on a dangling multigraph") {
    val got = GraphOps.pageRank(edges, iters = 4, checkpoint = false)
      .as[(String, Double)].collect().toMap
    val ref = refPageRank(Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("b", "c"), ("c", "d")), 4, 0.85)
    assert(got.keySet == ref.keySet)
    got.foreach { case (v, p) =>
      assert(math.abs(p - ref(v)) < 1e-6, s"$v: $p vs ${ref(v)}") }
    // c has two in-neighbors (one doubled) → highest-ranked non-sink
    assert(got("c") > got("b") && got("c") > got("a"))
  }

  test("total rank is conserved (sums to 1 with dangling redistribution)") {
    val got = GraphOps.pageRank(edges, iters = 7, checkpoint = true)
      .agg(sum("pr")).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-4, s"rank sum $got")
  }

  test("partition-count invariant") {
    def run(parts: Int) = GraphOps.pageRank(edges.repartition(parts), iters = 3)
      .as[(String, Double)].collect().toMap
    assert(run(1) == run(8))
  }

  // ---- triangle counting -------------------------------------------------

  private def triRef(es: Seq[(String, String)]): Map[String, Long] = {
    val und = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((b, c)) && und((a, c))
    } yield (a, b, c)
    tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (n, g) => n -> g.size.toLong }
  }

  test("triangle counts match brute force on a mixed graph") {
    // K4 on a-d (every node in 3 triangles), a pendant edge, a duplicate
    // and a reversed edge, and a self-loop — all must be canonicalized
    val es = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("b", "a"), ("a", "b"), ("e", "e"))
    val got = GraphOps.triangleCounts(es.toDF("src", "dst"), checkpoint = false)
      .as[(String, Long)].collect().toMap
    assert(got == triRef(es))
    assert(got("a") == 3L && got("d") == 3L)
    assert(!got.contains("e")) // pendant node touches no triangle
  }

  test("connected components: multi-component correctness vs brute force") {
    // two paths, a triangle, a reversed duplicate, a self-loop
    val es = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L), (20L, 21L),
      (21L, 22L), (22L, 20L), (5L, 5L))
    val got = GraphOps.connectedComponents(es.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: empty and all-self-loop edge sets converge empty") {
    // the checksum convergence test must treat the null sum of an empty
    // label table as 0 (regression: NPE in compareTo), not crash; and no
    // job may fail on the way (regression: a read of an unpersisted local
    // checkpoint aborted a job whose failure was then swallowed)
    val failed = failedJobs {
      val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
      assert(GraphOps.connectedComponents(empty).count() == 0)
      val loops = Seq((7L, 7L), (9L, 9L)).toDF("src", "dst")
      assert(GraphOps.connectedComponents(loops).count() == 0)
      val strLoops = Seq(("x", "x")).toDF("src", "dst")
      assert(GraphOps.connectedComponents(strLoops).count() == 0)
    }
    assert(failed == 0, s"$failed Spark jobs failed")
  }

  /** Spark jobs of `body` (run on this thread, under its own job group)
    * that ended in failure, counted once every job the body started has
    * ended: a job the body leaves running fails after the body returns. */
  private def failedJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = "graph-ops-spec-jobs"
    val marker = "graph-ops-spec-marker"
    val started, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (props.exists(_.getProperty("spark.job.description") == marker)) markerSeen = true
          else started.add(j.jobId)
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (started.contains(j.jobId)) {
        if (j.jobResult.isInstanceOf[JobFailed]) failed.incrementAndGet()
        ended.add(j.jobId)
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, null)
    try {
      body
      // listener events arrive in order: once the marker job is seen,
      // every job of the body has started
      sc.setJobGroup(group, marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!(markerSeen && ended.containsAll(started)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(markerSeen && ended.containsAll(started))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    failed.get
  }

  test("connected components: pointer doubling collapses a long chain") {
    // a 200-node path has diameter 199: plain one-hop propagation needs
    // ~199 rounds, so convergence within 12 doubling rounds PROVES the
    // shortcut step is doing the work
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(chain, maxRounds = 12)
      .as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  /** Component = minimum id reachable over the undirected edges. */
  private def bruteComponents[T](es: Seq[(T, T)])(implicit o: Ordering[T]): Map[T, T] = {
    val adj = (es ++ es.map(_.swap)).filter(e => e._1 != e._2).groupBy(_._1)
      .map { case (v, ns) => v -> ns.map(_._2) }
    adj.keys.map { v =>
      var seen = Set(v); var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
        seen ++= frontier
      }
      v -> seen.min
    }.toMap
  }

  test("connected components: String ids (41-node path plus a separate pair)") {
    // equal-length names: a label change never changes the string's
    // length, which is all a raw 8-byte read of the field can see
    val path = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val es = path :+ ("x01" -> "x00")
    val got = GraphOps.connectedComponents(es.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(got.size == 43)
    assert(got == bruteComponents(es))
  }

  test("connected components: Int ids with negatives") {
    // the first round moves node 1's label from 0 to -1, which a
    // zero-extended read of the Int sees as a rise of 2^32 - 1; the other
    // components' labels fall by exactly that much in the same round, so
    // a sum over such reads would stop one round early
    val path = 5 +: (1 to 5).map(1000000000 + _)
    val es = Seq((1, 0), (0, -1)) ++ path.zip(path.tail) ++
      Seq((2147483601, 2147483600), (2147483600, 852516299), (7, 7))
    val got = GraphOps.connectedComponents(es.toDF("src", "dst"))
      .as[(Int, Int)].collect().toMap
    assert(got == bruteComponents(es))
  }

  test("bfs distances: min hops, depth bound, unreachable absent") {
    //  0-1-2-3-4 path plus a detached pair 10-11
    val es = ((0L until 4L).map(i => (i, i + 1)) :+ (10L, 11L)).toDF("src", "dst")
    val src = Seq(0L).toDF("node")
    val got = GraphOps.bfsDistances(es, src, maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2)) // 3, 4, 10, 11 absent
    // two sources: dist is the MINIMUM over sources
    val got2 = GraphOps.bfsDistances(es, Seq(0L, 4L).toDF("node"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(got2(2L) == 2 && got2(3L) == 1 && got2(4L) == 0)
    // maxHops = 0 returns exactly the source set
    assert(GraphOps.bfsDistances(es, src, maxHops = 0)
      .as[(Long, Int)].collect().toMap == Map(0L -> 0))
  }

  test("triangle-free graph yields no rows; hub skew handled") {
    // star graph: hub h connected to 50 leaves — zero triangles, and the
    // degree orientation must not enumerate the hub's deg^2 wedge pairs
    val star = (1 to 50).map(i => ("h", s"l$i")).toDF("src", "dst")
    assert(GraphOps.triangleCounts(star, checkpoint = false).count() == 0L)
    // closing one leaf-leaf edge creates exactly one triangle
    val one = star.unionAll(Seq(("l1", "l2")).toDF("src", "dst"))
    val got = GraphOps.triangleCounts(one, checkpoint = false)
      .as[(String, Long)].collect().toMap
    assert(got == Map("h" -> 1L, "l1" -> 1L, "l2" -> 1L))
  }
}
