package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Distributed quad store: the Spark-native equivalent of the reference's
  * `SparqlDatabase` + `DatasetIndex` (`kolibrie/src/sparql_database.rs:172-188`,
  * `shared/src/dataset_index.rs:56-72`).
  *
  * Where the reference maintains four in-memory hash permutation indexes
  * (gspo/gpos/gosp/spog), this store holds one quads DataFrame
  * `(g, s, p, o)` — Catalyst predicate pushdown into Parquet plus
  * partition pruning replace the permutation dispatch
  * (`dataset_index.rs:223-344`). Set semantics (the reference stores
  * quads in HashSets) are enforced on mutation, not on every read.
  *
  * The named-graph catalog preserves empty-graph identity
  * (`dataset_index.rs:426-459`).
  */
class QuadStore(val spark: SparkSession, initial: DataFrame,
    /** Dictionary-encoded BGP evaluation (SURVEY §1.5): scans and joins
      * run over 64-bit `xxhash64` term ids, variables decode back to
      * lexical at the BGP boundary via [[termsTable]]. Shrinks BGP join
      * shuffles ~4-8× (8-byte ids vs lexical strings) at the price of one
      * decode join per projected variable — the right trade when
      * intermediate join volume dwarfs the final result (the 100 TB
      * posture), measurable overhead when it doesn't; hence a flag, not
      * the default. Collision risk is 64-bit birthday (~1e-9 at 10^5
      * distinct terms); [[dictCollisions]] is the audit job. */
    val dictEncoded: Boolean = false) {
  import QuadStore._

  // @volatile: a store shared across threads (the HTTP server's pooled
  // handlers) needs a happens-before edge from an updating thread to a
  // querying one — without it a reader may see a stale quads reference
  // indefinitely (JMM; plain vars have no visibility guarantee). For a
  // CONSISTENT multi-field view (quads + encoded snapshot + catalog)
  // readers use [[snapshot]], which takes the store's own monitor — the
  // same lock serialized updaters hold.
  @volatile private var quadsDf: DataFrame = align(spark, initial)
  @volatile private var graphCatalog: Set[String] = Set.empty
  /** String→String UDF registry (`sparql_database.rs:2130-2135`). */
  val udfs = scala.collection.mutable.Map.empty[String, Seq[String] => String]

  def quads: DataFrame = quadsDf

  /** Materialized (id-table, terms-table) pair replacing the lazy encoded
    * views — the on-disk layout a dictionary-encoded corpus would actually
    * use at scale (encode once at ingest, not per query). Invalidated on
    * ANY quad mutation ([[invalidateEncoded]]): a stale snapshot would
    * answer encoded-path queries from pre-mutation data while fallback
    * paths see the mutation. */
  @volatile private var encodedSource: Option[(DataFrame, DataFrame)] = None

  private def invalidateEncoded(): Unit = { encodedSource = None; derivedTerms = None }

  /** Consistent point-in-time copy for concurrent readers: quads, graph
    * catalog, encoded source, derived-terms cache and UDFs captured
    * together under the store's monitor — the lock every serialized
    * updater (e.g. the HTTP server's `runUpdate`) already holds, so a
    * snapshot can never pair a new quads reference with a stale encoded
    * view. The copy shares the immutable DataFrames; only references are
    * copied, so this is cheap enough to take per request. */
  def snapshot: QuadStore = this.synchronized {
    val s = new QuadStore(spark, quadsDf, dictEncoded)
    s.graphCatalog = graphCatalog
    s.encodedSource = encodedSource
    s.derivedTerms = derivedTerms
    udfs.foreach { case (n, f) => s.registerUdf(n, f) }
    s
  }

  /** A dictionary-encoded view over a SNAPSHOT of the current quads;
    * optionally backed by pre-materialized id/terms tables. Mutations
    * must go THROUGH the returned store (they invalidate its encoded
    * source); mutating this base store afterwards does not propagate —
    * re-derive the encoded view after base mutations. */
  def withDictEncoding: QuadStore = withDictEncoding(None)
  def withDictEncoding(source: Option[(DataFrame, DataFrame)]): QuadStore = {
    val s = new QuadStore(spark, quadsDf, dictEncoded = true)
    s.graphCatalog = graphCatalog
    s.encodedSource = source
    udfs.foreach { case (n, f) => s.registerUdf(n, f) }
    s
  }

  /** Encoded quad view `(g_id, s_id, p_id, o_id)` — ids are
    * `xxhash64(lexical)`; g stays null for the default graph. Computed
    * lazily from the lexical quads unless a materialized id table was
    * injected ([[withDictEncoding]]; at scale the materialized form is
    * the primary table and the lexical view is derived, not vice versa). */
  def encodedQuads: DataFrame = encodedSource.map(_._1).getOrElse(
    quadsDf.select(
      when(col("g").isNotNull, xxhash64(col("g"))).as("g_id"),
      xxhash64(col("s")).as("s_id"),
      xxhash64(col("p")).as("p_id"),
      xxhash64(col("o")).as("o_id")))

  /** Dictionary `(id, lex)` of every distinct term in any position.
    * The DERIVED fallback (no injected materialized dictionary) is
    * cached after its first build: every decode() column-join embeds
    * this frame, and without caching a query decoding N variables
    * replans N explode+distinct shuffles over the quads. Invalidated
    * with the encoded source on updates. */
  @volatile private var derivedTerms: Option[DataFrame] = None
  def termsTable: DataFrame = encodedSource.map(_._2).getOrElse {
    if (derivedTerms.isEmpty)
      derivedTerms = Some(
        quadsDf.select(explode(array(col("g"), col("s"), col("p"), col("o"))).as("lex"))
          .filter(col("lex").isNotNull)
          .distinct()
          .select(xxhash64(col("lex")).as("id"), col("lex"))
          .localCheckpoint())
    derivedTerms.get
  }

  /** Audit job: ids mapping to more than one lexical form (must be 0). */
  def dictCollisions: Long =
    termsTable.groupBy("id").count().filter(col("count") > 1).count()
  def namedGraphs: Set[String] =
    graphCatalog // plus graphs present in data, resolved lazily by callers

  def registerUdf(name: String, fn: Seq[String] => String): Unit = {
    udfs(name) = fn
    // exposed as a 1-arg UDF over array(args…); the compiler wraps call
    // sites accordingly (`engine.rs:472-507` passes Vec<&str> the same way)
    spark.udf.register(name, udf(fn))
  }

  def createGraph(g: String): Unit = graphCatalog += g
  def dropGraph(g: String): Unit = {
    graphCatalog -= g
    quadsDf = quadsDf.filter(col("g").isNull || col("g") =!= lit(g))
    invalidateEncoded()
  }
  def clearGraph(g: String): Unit = {
    quadsDf = quadsDf.filter(col("g").isNull || col("g") =!= lit(g))
    invalidateEncoded()
  }

  /** Apply an update: deletes before inserts, quad-level set identity
    * (`execute_query.rs:578-592,867-884`). */
  def applyUpdate(deletes: DataFrame, inserts: DataFrame): Unit = {
    var df = quadsDf
    if (deletes != null) df = df.exceptAll(align(spark, deletes).distinct())
    if (inserts != null) df = df.unionByName(align(spark, inserts)).distinct()
    quadsDf = df
    invalidateEncoded()
  }

  def insert(inserts: DataFrame): Unit = applyUpdate(null, inserts)
  def delete(deletes: DataFrame): Unit = applyUpdate(deletes, null)

  /** Merge another store (`sparql_database.rs:1819-1983`): with lexical
    * terms there is no dictionary to re-encode — union + quad-level dedup
    * and a catalog merge do the whole job. */
  def union(other: QuadStore): this.type = {
    quadsDf = quadsDf.unionByName(other.quads).distinct()
    invalidateEncoded()
    graphCatalog ++= other.namedGraphs
    other.udfs.foreach { case (n, f) => if (!udfs.contains(n)) registerUdf(n, f) }
    this
  }

  /** Pin the current quads in memory (used by repeated-query sessions;
    * replaces the reference's always-resident in-memory store). */
  def persist(): this.type = { quadsDf = quadsDf.persist(); this }
}

object QuadStore {
  val schema: StructType = StructType(Seq(
    StructField("g", StringType, nullable = true),
    StructField("s", StringType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("o", StringType, nullable = false)))

  /** Normalize any (g,s,p,o)-shaped DF (or (s,p,o), g defaulted null). */
  def align(spark: SparkSession, df: DataFrame): DataFrame = {
    val withG = if (df.columns.contains("g")) df
      else df.withColumn("g", lit(null).cast(StringType))
    withG.select(col("g").cast(StringType), col("s").cast(StringType),
      col("p").cast(StringType), col("o").cast(StringType))
  }

  def empty(spark: SparkSession): QuadStore = fromQuads(spark, Nil)

  def apply(spark: SparkSession, quads: DataFrame): QuadStore =
    new QuadStore(spark, quads)

  /** Build from in-memory triples (tests / examples). */
  def fromTriples(spark: SparkSession, triples: Seq[(String, String, String)]): QuadStore =
    fromQuads(spark, triples.map(t => (null: String, t._1, t._2, t._3)))

  /** Build from driver-resident quads. Up to `LocalJoinFold.MaxRows`
    * quads (an RSP window's content, a small posted document) enter
    * Catalyst as a `LocalRelation`: exact statistics, and queries fold to
    * local scans that run without a Spark job ([[LocalJoinFold]]). Larger
    * stores are parallelized, so their scans' filters run as tasks rather
    * than single-threaded on the driver at every query's optimization
    * (measured on 4 cores, `local[4]`: a 100k-triple store as a
    * `LocalRelation` answered four SPARQL queries in twice the time). */
  def fromQuads(spark: SparkSession, qs: Seq[(String, String, String, String)]): QuadStore = {
    // set semantics from the start: duplicate input quads would read back
    // twice AND survive exceptAll-based delete (the reference's HashSet
    // store admits one copy). Deduped here driver-side — this factory is
    // the in-memory-seq entry; DataFrame callers (QuadStore.apply) own
    // their dedup, Triplizer quads are unique by construction.
    val rows = qs.distinct.map(q => Row(q._1, q._2, q._3, q._4))
    new QuadStore(spark,
      if (rows.size <= LocalJoinFold.MaxRows) spark.createDataFrame(rows.asJava, schema)
      else spark.createDataFrame(spark.sparkContext.parallelize(rows,
        math.max(1, math.min(qs.size / 1000 + 1, 32))), schema))
  }
}
