package graft.model

import java.util.concurrent.atomic.AtomicBoolean
import graft.SparkSpec
import graft.sparql.Compiler
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, concat, lit, udf}

/** The bounds of the resident predicate-slice cache: what a fetch ships
  * to the driver for an oversized predicate, what a failed fetch leaves
  * behind, and what the budget lets unknown predicates take. */
class ResidentSlicesSpec extends SparkSpec {

  private val Bound = LocalJoinFold.MaxRows
  private val spec = "resident-slices-spec"

  /** Jobs and task-result bytes of the jobs `body` starts in this spec's
    * job group, once a marker job shows the listener bus delivered them. */
  private def costOf[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    @volatile var jobs, markers = 0
    @volatile var bytes = 0L
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`spec`) => jobs += 1
          case Some("resident-slices-marker") => markers += 1
          case _ =>
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) bytes += t.taskMetrics.resultSize
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(spec, null)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("resident-slices-marker", null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (markers == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers == 1)
      (out, jobs, bytes)
    } finally sc.removeSparkListener(l)
  }

  /** `n` default-graph quads over `parts` partitions: subject `s<i % subjects>`,
    * predicate `pred(i)`, object `i`. */
  private def quads(n: Long, parts: Int, subjects: Int, pred: Column => Column): DataFrame =
    spark.range(0, n, 1, parts).select(lit(null).cast("string").as("g"),
      concat(lit("http://r/s"), (col("id") % subjects).cast("string")).as("s"),
      pred(col("id")).as("p"), col("id").cast("string").as("o"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  test("a predicate far over MaxRows in every partition ships only its mark; reads keep the Spark plan") {
    val parts = 32
    val big = quads(parts.toLong * (Bound + 500), parts, 1000, _ => lit("http://r/big"))
    val base = big.union(quads(5, 1, 5, _ => lit("http://r/small")))
    val (slice, fetches, bytes) = costOf(new ResidentSlices(base).get(Set("http://r/big", "http://r/small")))
    assert(slice.isEmpty && fetches == 1)
    // every partition holds over MaxRows pairs: a pair list per task would
    // be 32 × (MaxRows + 1) pairs, tens of megabytes
    assert(bytes < (2L << 20), s"$bytes bytes of task results")

    val q = "SELECT ?s ?o ?w WHERE { ?s <http://r/big> ?o . ?s <http://r/small> ?w }"
    val st = QuadStore(spark, base).enableResidentReads()
    val got = new Compiler(st).select(q)
    assert(!onDriver(got))
    val want = rows(new Compiler(QuadStore(spark, base)).select(q))
    assert(want.size > 2000 && rows(got) == want)
    // remembered as oversized: the next read fetches nothing
    val (again, jobs, _) = costOf(st.residentVersion.get.resident.get(Set("http://r/big")))
    assert(again.isEmpty && jobs == 0)
  }

  test("a failed fetch marks its predicates oversized; the read answers through the Spark plan") {
    val fail = udf((o: String) => {
      if (ResidentSlicesSpec.failNext.getAndSet(false)) throw new IllegalStateException("fetch fault")
      o
    })
    val base = quads(40, 2, 7, id => concat(lit("http://r/p"), (id % 2).cast("string")))
      .withColumn("o", fail(col("o")))
    val q = "SELECT ?s ?a ?b WHERE { ?s <http://r/p0> ?a . ?s <http://r/p1> ?b }"
    val want = rows(new Compiler(QuadStore(spark, base)).select(q))
    val st = QuadStore(spark, base).enableResidentReads()
    ResidentSlicesSpec.failNext.set(true)
    val got = new Compiler(st).select(q)
    assert(!ResidentSlicesSpec.failNext.get, "the fetch did not run")
    assert(!onDriver(got) && rows(got) == want)
    val resident = st.residentVersion.get.resident
    assert(resident.entries == 2)
    val (again, jobs, _) = costOf(resident.get(Set("http://r/p0", "http://r/p1")))
    assert(again.isEmpty && jobs == 0)
  }

  test("an unknown predicate costs one fetch and one budget unit; a full budget fetches nothing") {
    val slices = (0 until 16).map(i => s"http://r/big$i")
    val full = new ResidentSlices(
      quads(16L * (Bound - 1), 8, 97, id => concat(lit("http://r/big"), (id / (Bound - 1)).cast("long").cast("string"))))
    val (all, first, _) = costOf(full.get(slices.toSet))
    assert(first == 1 && all.exists(m => m.keySet == slices.toSet && m.values.forall(_.size == Bound - 1)))
    assert(full.budgetUsed == 16L * (Bound - 1))
    val left = (ResidentSlices.MaxResidentRows - full.budgetUsed).toInt
    assert(left == 16)
    // a predicate absent from the base: one fetch, then an empty slice
    val (empties, fetches, _) = costOf((0 until left).map(i => full.get(Set(s"http://r/none$i"))))
    assert(empties.forall(_.exists(_.values.forall(_.isEmpty))) && fetches == left)
    assert(costOf(full.get(Set("http://r/none0")))._2 == 0)
    assert(full.budgetUsed == ResidentSlices.MaxResidentRows && full.entries == 32)
    // past the budget: no fetch, no entry, and the read keeps the Spark plan
    val (past, none, _) = costOf((0 until 200).map(i => full.get(Set(s"http://r/more$i"))))
    assert(past.forall(_.isEmpty) && none == 0 && full.entries == 32)
    assert(costOf(full.get(Set(slices.head)))._1.exists(_(slices.head).size == Bound - 1))
  }
}

object ResidentSlicesSpec {
  /** Makes the next evaluation of the spec's fault UDF throw. */
  val failNext = new AtomicBoolean(false)
}
