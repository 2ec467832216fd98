package graft.model

import graft.SparkSpec
import graft.sparql.{Compiler, SparqlParser}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Union}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Updates against a parquet-backed store: a differential run of random
  * SPARQL updates against a brute-force quad-set model, and the plan
  * shape of reads after updates (the base + delta version model of
  * [[QuadStore]]). Fixed seeds keep both deterministic. */
class QuadStoreUpdateSpec extends SparkSpec {
  import QuadStore.Quad

  private val subjects = (0 until 5).map(i => s"s$i")
  private val preds = Seq("p0", "p1", "p2")
  private val objects = (0 until 4).map(i => s"o$i")
  private val graphs = Seq[String](null, "g1", "g2")
  private val quadGen: Gen[Quad] = for {
    g <- Gen.oneOf(graphs); s <- Gen.oneOf(subjects)
    p <- Gen.oneOf(preds); o <- Gen.oneOf(objects)
  } yield (g, s, p, o)

  private def parquetStore(qs: Seq[Quad]): QuadStore = {
    val dir = java.nio.file.Files.createTempDirectory("quadstore").toString + "/q"
    QuadStore.fromQuads(spark, qs).quads.write.parquet(dir)
    QuadStore(spark, spark.read.parquet(dir))
  }

  private def contents(df: DataFrame): Set[Quad] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  private def nodes(p: LogicalPlan): Seq[String] = p.collect { case n => n.nodeName }

  private def dataBlock(qs: Seq[Quad]): String = qs.map { case (g, s, p, o) =>
    val t = s"<$s> <$p> <$o>"
    if (g == null) s"$t ." else s"GRAPH <$g> { $t }"
  }.mkString(" ")

  /** One update: its SPARQL text and its effect on the model. */
  private case class Op(text: String, apply: Set[Quad] => Set[Quad])

  private def modify(del: Set[Quad] => Set[Quad], ins: Set[Quad] => Set[Quad]) =
    (m: Set[Quad]) => (m -- del(m)) ++ ins(m)

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, quadGen)).map(qs =>
      Op(s"INSERT DATA { ${dataBlock(qs)} }", _ ++ qs)),
    3 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, quadGen)).map(qs =>
      Op(s"DELETE DATA { ${dataBlock(qs)} }", _ -- qs)),
    // move a predicate in the default graph
    2 -> (for { a <- Gen.oneOf(preds); b <- Gen.oneOf(preds) } yield Op(
      s"DELETE { ?s <$a> ?o } INSERT { ?s <$b> ?o } WHERE { ?s <$a> ?o }",
      modify(m => m.filter(q => q._1 == null && q._3 == a),
        m => m.collect { case (null, s, `a`, o) => (null: String, s, b, o) }))),
    // delete-then-insert of the same quads: they stay (or appear)
    2 -> quadGen.map { case q @ (g, s, p, o) =>
      val t = if (g == null) s"<$s> <$p> <$o>" else s"GRAPH <$g> { <$s> <$p> <$o> }"
      Op(s"DELETE { $t } INSERT { $t } WHERE { }", _ + q)
    },
    // copy one named graph's subject into another graph
    1 -> (for { s <- Gen.oneOf(subjects) } yield Op(
      s"INSERT { GRAPH <g2> { <$s> ?p ?o } } WHERE { GRAPH <g1> { <$s> ?p ?o } }",
      modify(_ => Set.empty,
        m => m.collect { case ("g1", `s`, p, o) => ("g2", s, p, o) }))),
    // delete a pattern inside a named graph
    1 -> (for { p <- Gen.oneOf(preds) } yield Op(
      s"DELETE { GRAPH <g2> { ?s <$p> ?o } } WHERE { GRAPH <g2> { ?s <$p> ?o } }",
      modify(m => m.filter(q => q._1 == "g2" && q._3 == p), _ => Set.empty))))

  test("200 random updates read back as a brute-force quad-set model; plans stay bounded") {
    val initial = Gen.listOfN(40, quadGen).pureApply(Gen.Parameters.default, Seed(11L)).distinct
    val store = parquetStore(initial)
    var model = initial.toSet
    val ops = Gen.listOfN(200, opGen).pureApply(Gen.Parameters.default, Seed(12L))
    assert(ops.count(_.text.startsWith("INSERT DATA")) > 20 &&
      ops.count(_.text.startsWith("DELETE DATA")) > 20 &&
      ops.count(_.text.contains("WHERE")) > 20)
    val bulkN = LocalJoinFold.MaxRows + 1
    val bulk = spark.range(bulkN).select(lit(null).cast("string").as("g"),
      concat(lit("b"), col("id")).as("s"), lit("p/bulk").as("p"), lit("o").as("o"))
    val bulkSet = (0 until bulkN).map(i => (null: String, s"b$i", "p/bulk", "o")).toSet
    var pinned = Option.empty[(QuadStore, Set[Quad])]
    var maxNodes = 0
    ops.zipWithIndex.foreach { case (op, i) =>
      if (i == 100) {
        // over the bound: this insert compacts the store into a new base
        store.insert(bulk)
        model ++= bulkSet
        pinned = Some((store.snapshot, model))
      }
      if (i == 101) {
        // a second compaction replaces the base the snapshot still reads
        store.delete(bulk)
        model --= bulkSet
      }
      new Compiler(store).executeUpdate(SparqlParser().parseUpdate(op.text))
      model = op.apply(model)
      assert(contents(store.quads) == model, s"after op $i: ${op.text}")
      val p = preds(i % preds.size)
      val read = new Compiler(store).select(s"SELECT ?s ?o WHERE { ?s <$p> ?o }")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(read == model.collect { case (null, s, `p`, o) => (s, o) }, s"read after op $i")
      maxNodes = math.max(maxNodes, nodes(store.quads.queryExecution.optimizedPlan).size)
      if (i == 150) {
        System.gc()
        val (snap, expected) = pinned.get
        assert(snap.quads.count() == expected.size)
        assert(contents(snap.quads.filter(col("p") =!= "p/bulk")) ==
          expected.filter(_._3 != "p/bulk"))
      }
    }
    assert(maxNodes <= 12, s"quads plan grew to $maxNodes nodes")
  }

  test("a read's plan does not depend on the update history") {
    val qs = for { s <- 0 until 400; p <- Seq("p/a", "p/b"); o <- 0 until 3 }
      yield (null: String, s"n$s", p, s"n${(s * 7 + o) % 400}")
    val store = parquetStore(qs)
    val read = "SELECT ?x ?z WHERE { ?x <p/a> ?y . ?y <p/b> ?z }"
    def plan(q: String): LogicalPlan =
      new Compiler(store.snapshot).select(q).queryExecution.optimizedPlan
    val before = plan(read)
    val rows = new Compiler(store).select(read).count()
    // INSERT / DELETE DATA on a predicate the read does not name
    (0 until 6).foreach { i =>
      val t = s"""<bench/s${i / 3}> <bench/tag> "v$i""""
      new Compiler(store).executeUpdate(SparqlParser().parseUpdate(
        if (i % 3 == 2) s"DELETE DATA { $t }" else s"INSERT DATA { $t }"))
    }
    val after = plan(read)
    assert(nodes(after) == nodes(before), s"\nbefore:\n$before\nafter:\n$after")
    assert(after.collect { case a: Aggregate => a }.isEmpty)
    assert(new Compiler(store).select(read).count() == rows)
    // a read whose constants hit the delta: one anti join, one union
    val hit = plan("SELECT ?s ?o WHERE { ?s <bench/tag> ?o }")
    assert(hit.collect { case j @ Join(_, _, LeftAnti, _, _) => j }.size == 1, hit)
    assert(hit.collect { case u: Union => u }.size == 1, hit)
    assert(hit.collect { case a: Aggregate => a }.isEmpty, hit)
    assert(new Compiler(store).select("SELECT ?s ?o WHERE { ?s <bench/tag> ?o }").count() == 4)
  }
}
