package graft

/** GraftExtensions must make every native function usable from PURE SQL.
  * The extensions conf is static (JVM-wide, set in SparkSpec's builder);
  * the proof that resolution comes from the EXTENSIONS and not from some
  * suite's register() call is a `newSession()`: its SessionState carries
  * a FRESH temp-function registry — register()ed functions do not
  * survive into it, extension-injected ones are re-applied. */
class ExtensionsSpec extends SparkSpec {

  private lazy val fresh = spark.newSession()

  test("all injected functions resolve from pure SQL in a fresh session") {
    val cos = fresh.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)

    val t = graft.model.TermLex.encodeQuoted("s", "p", "o")
    val row = fresh.sql(
      s"SELECT qt_subject('$t') s, qt_predicate('$t') p, qt_object('$t') o").head()
    assert((row.getString(0), row.getString(1), row.getString(2)) == (("s", "p", "o")))

    import fresh.implicits._
    (1 to 300).map(i => s"v$i").toDF("s").createOrReplaceTempView("ext_vals")
    // exact path (k > cardinality) and estimator path (k = 32) both run
    val exact = fresh.sql(
      """SELECT kmv_distinct(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT), 512)
         FROM ext_vals""").head().getDouble(0)
    assert(exact == 300.0)
    val est = fresh.sql(
      """SELECT kmv_distinct(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT), 32)
         FROM ext_vals""").head().getDouble(0)
    assert(math.abs(est - 300.0) / 300.0 < 4.0 / math.sqrt(30.0), s"est $est")

    // nfc_normalize: decomposed input composes from pure SQL
    val nfc = fresh.sql("SELECT nfc_normalize('cafe\u0301') AS n").head().getString(0)
    assert(nfc == "caf\u00E9")

    // minhash_sig: per-row signature from pure SQL agrees with the
    // Scala-side kernel; < k tokens \u2192 empty array
    val sig = fresh.sql(
      "SELECT minhash_sig('a b c d', 3, 8, true) AS s").head().getSeq[Long](0)
    val want = graft.functions.MinHashSig
      .sig(org.apache.spark.unsafe.types.UTF8String.fromString("a b c d"), 3, 8, true)
      .toLongArray.toSeq
    assert(sig == want && sig.length == 8)
    assert(fresh.sql("SELECT minhash_sig('one two') AS s")
      .head().getSeq[Long](0).isEmpty)
  }

  test("wrong arity from pure SQL fails with a clear message, not an index crash") {
    val e = intercept[Exception] {
      fresh.sql("SELECT cosine_sim(array(1.0D))").head()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("expects 2 arguments")), s"got: ${msgs(e)}")
    val e2 = intercept[Exception] {
      fresh.sql("SELECT kmv_distinct(1L)").head()
    }
    assert(msgs(e2).exists(_.contains("expects (hash, k")), s"got: ${msgs(e2)}")
  }

  test("extensions route agrees with the programmatic register() route") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 1.0f))).toDF("a", "b")
    val viaSql = df.selectExpr("cosine_sim(a, b) AS c").head().getDouble(0)
    graft.functions.CosineSimilarity.register(spark) // idempotent overwrite
    val viaApi = df.select(
      graft.functions.CosineSimilarity(col("a"), col("b")).as("c"))
      .head().getDouble(0)
    assert(viaSql == viaApi)
  }

  test("qt_* functions register once per session: compilers leave the builder in place") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val store = graft.model.QuadStore.empty(spark)
    val registry = spark.sessionState.functionRegistry
    new graft.sparql.Compiler(store)
    val first = registry.lookupFunctionBuilder(FunctionIdentifier("qt_subject"))
    new graft.sparql.Compiler(store)
    val second = registry.lookupFunctionBuilder(FunctionIdentifier("qt_subject"))
    assert(first.isDefined && second.isDefined)
    assert(first.get eq second.get, "a second Compiler replaced the qt_subject builder")
  }
}
