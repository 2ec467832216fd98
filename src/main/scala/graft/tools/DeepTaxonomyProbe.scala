package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.reasoner.Reasoner
import graft.sparql.SparqlParser

/** Deep-taxonomy parity probe (VERDICT r6 item 4; BASELINE.md row 2):
  * the reference's second published benchmark is the EYE deep-taxonomy
  * shape — `type(X,C) ∧ subClassOf(C,D) → type(X,D)` over a depth-N
  * subclass chain with one bottom individual (`deep_taxonomy.rs`),
  * claimed "sub-second at 10K levels, logarithmic scaling". This probe
  * measures the engine at depths 10 / 100 / 1K / 10K down both physical
  * strategies on the SAME rule and data:
  *
  *  - doubling: the auto-recognized single-source-set pointer doubling
  *    (Reasoner.typeClosureByDoubling) — ⌈log₂ depth⌉+1 driver rounds;
  *  - linear:   generic semi-naive (enableDoubling = false) — one
  *    driver-paced round PER LEVEL, run only at depth ≤ `linearCap`
  *    (default 1000; 10K linear rounds is exactly the scheduling death
  *    the strategy choice avoids).
  *
  * Prints, per depth, each strategy's wall time and round count and the
  * typed-fact count. Results recorded
  * in SURVEY §6 / the Reasoner scaladoc. Not part of the driver
  * contract — `datalog_deep_taxonomy` is the oracle-checked entry.
  */
object DeepTaxonomyProbe {
  def main(args: Array[String]): Unit = {
    val depths = if (args.nonEmpty) args.toSeq.map(_.toInt)
                 else Seq(10, 100, 1000, 10000)
    val linearCap = sys.env.get("DT_PROBE_LINEAR_CAP").map(_.toInt).getOrElse(1000)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rule = SparqlParser().parseRule(
      """RULE <rules/dt> :- CONSTRUCT { ?x <rdf/type> ?d }
         WHERE { ?x <rdf/type> ?c . ?c <rdfs/subClassOf> ?d }""")

    def facts(depth: Int) = {
      val sub = spark.range(0, depth).select(
        concat(lit("C"), col("id")).as("s"),
        lit("rdfs/subClassOf").as("p"),
        concat(lit("C"), col("id") + 1).as("o"))
      val inst = spark.range(0, 1).select(
        lit("i").as("s"), lit("rdf/type").as("p"), lit("C0").as("o"))
      sub.unionByName(inst)
    }

    def run(depth: Int, doubling: Boolean): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = new Reasoner(spark, enableDoubling = doubling)
        .materializeSemiNaive(facts(depth), Seq(rule))
        .filter(col("p") === "rdf/type").count()
      ((System.nanoTime() - t0) / 1e9, out)
    }

    // JIT warm-up at the smallest depth so depth-10 numbers aren't
    // codegen-compilation artifacts (the Sf1Probe lesson)
    run(depths.min, doubling = true)

    println(f"${"depth"}%8s ${"doubling_s"}%12s ${"rounds"}%7s ${"linear_s"}%10s ${"rounds"}%7s ${"typed"}%8s")
    depths.foreach { d =>
      val expRounds = (math.log(d) / math.log(2)).ceil.toLong + 1
      val (td, typed) = run(d, doubling = true)
      val (tl, lRounds) =
        if (d <= linearCap) { val (t, _) = run(d, doubling = false); (f"$t%.2f", d.toString) }
        else ("skip", s"$d (skipped: one driver round per level)")
      println(f"$d%8d $td%12.2f $expRounds%7d $tl%10s $lRounds%7s $typed%8d")
      require(typed == d + 1, s"depth $d: expected ${d + 1} typed facts, got $typed")
    }
    spark.stop()
  }
}
