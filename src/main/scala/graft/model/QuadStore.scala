package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge
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
  * (`dataset_index.rs:223-344`). A store that serves resident reads (the
  * HTTP server's standing store, [[enableResidentReads]]) also keeps
  * driver-resident default-graph predicate slices per base
  * ([[ResidentSlices]], our analogue of the reference's gpos index), and
  * its small BGPs join on the driver instead of scanning.
  *
  * Updates: the reference edits its hash indexes in place
  * (`dataset_index.rs:109-183`), so a read costs the same after any number
  * of updates. Here a store is one immutable [[QuadStore.Version]]: a base
  * frame (the loaded table, or the last compaction) plus two disjoint
  * driver-side quad sets, `inserted` and `deleted`, of at most
  * `LocalJoinFold.MaxRows` quads together. A read sees
  * `(base LEFT ANTI (inserted ∪ deleted)) UNION inserted`, both deltas as
  * `LocalRelation`s, so a read whose constants miss the delta optimizes
  * to the plan of the base alone (`ConvertToLocalRelation` empties each
  * filtered delta, `PropagateEmptyRelation` drops the anti join and the
  * union) and one that hits it gains one broadcast anti join and one
  * union, whatever the update history. An update whose quads fit the
  * bound only edits the sets; a larger one, and `dropGraph`, `clearGraph`,
  * `union` and `persist`, fold the version into a new checkpointed base.
  *
  * Set semantics (the reference stores quads in HashSets): inserting a
  * present quad is a no-op and deleting an absent one is too; within one
  * update, deletes apply before inserts. The base table is assumed
  * duplicate-free (`Triplizer` quads are unique by construction;
  * [[QuadStore.fromQuads]] deduplicates).
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
  // querying one — without it a reader may see a stale version
  // indefinitely (JMM; plain vars have no visibility guarantee). For a
  // CONSISTENT multi-field view (version + encoded snapshot + catalog)
  // readers use [[snapshot]], which takes the store's own monitor — the
  // same lock [[publish]] and serialized updaters hold.
  @volatile private var version: Version = Version(align(spark, initial))
  @volatile private var graphCatalog: Set[String] = Set.empty
  /** String→String UDF registry (`sparql_database.rs:2130-2135`). */
  val udfs = scala.collection.mutable.Map.empty[String, Seq[String] => String]

  def quads: DataFrame = version.quads

  /** Set once by the HTTP server on its standing store and carried by
    * [[snapshot]]s: the store is long-lived and read again and again, so
    * its BGP reads may run on the driver from resident predicate slices
    * ([[graft.sparql.Compiler]]). Loads nothing by itself. */
  @volatile private var residentReads = false
  private[graft] def enableResidentReads(): this.type = { residentReads = true; this }

  /** The current version, when this store serves resident reads. */
  private[graft] def residentVersion: Option[Version] =
    if (residentReads) Some(version) else None

  /** Materialized (id-table, terms-table) pair replacing the lazy encoded
    * views — the on-disk layout a dictionary-encoded corpus would actually
    * use at scale (encode once at ingest, not per query). Invalidated on
    * ANY quad mutation ([[invalidateEncoded]]): a stale snapshot would
    * answer encoded-path queries from pre-mutation data while fallback
    * paths see the mutation. */
  @volatile private var encodedSource: Option[(DataFrame, DataFrame)] = None

  private def invalidateEncoded(): Unit = { encodedSource = None; derivedTerms = None }

  /** Consistent point-in-time copy for concurrent readers: version, graph
    * catalog, encoded source, derived-terms cache and UDFs captured
    * together under the store's monitor — the lock every serialized
    * updater (e.g. the HTTP server's `runUpdate`) already holds, so a
    * snapshot can never pair a new version with a stale encoded view.
    * The copy shares the immutable version (only references are copied,
    * so this is cheap enough to take per request) and keeps reading it
    * after the store moves on, compactions included: nothing unpersists
    * a base, and Spark's `ContextCleaner` frees a checkpointed base's
    * blocks once no store or snapshot references it. */
  def snapshot: QuadStore = this.synchronized {
    val s = new QuadStore(spark, version.base, dictEncoded)
    s.version = version
    s.residentReads = residentReads
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
    val s = new QuadStore(spark, version.base, dictEncoded = true)
    s.version = version
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
    quads.select(
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
        quads.select(explode(array(col("g"), col("s"), col("p"), col("o"))).as("lex"))
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
    clearGraph(g)
  }
  def clearGraph(g: String): Unit =
    compact(quads.filter(col("g").isNull || col("g") =!= lit(g)))

  /** Apply an update: deletes before inserts, quad-level set identity
    * (`execute_query.rs:578-592,867-884`). Either side may be null. Each
    * side's quads are fetched to the driver — with no Spark job when its
    * plan folds to a `LocalRelation`, else by one bounded collect — and
    * edit the version's sets; a side over `LocalJoinFold.MaxRows` quads
    * folds the whole update into a new base instead. Both sides may read
    * the current version (a `DELETE/INSERT WHERE`'s templates do): it is
    * immutable, so they see the pre-update store. */
  def applyUpdate(deletes: DataFrame, inserts: DataFrame): Unit = {
    val del = if (deletes == null) Some(Nil) else driverQuads(deletes)
    val ins = if (del.isEmpty) None else if (inserts == null) Some(Nil) else driverQuads(inserts)
    (del, ins) match {
      case (Some(d), Some(i)) => updateQuads(d, i)
      case _ =>
        var df = quads
        if (deletes != null) df = df.except(align(spark, deletes))
        if (inserts != null) df = df.unionByName(align(spark, inserts)).distinct()
        compact(df)
    }
  }

  /** Apply an update given as driver-side quads (the DATA forms): deletes
    * first, `ins −= D; del += D`, then inserts, `ins += I; del −= I`. A
    * delta over `LocalJoinFold.MaxRows` quads folds into a new base. */
  def updateQuads(deletes: Seq[Quad], inserts: Seq[Quad]): Unit = {
    val v = version
    val d = deletes.toSet
    val i = inserts.toSet
    val next = new Version(v.base, (v.inserted -- d) ++ i, (v.deleted ++ d) -- i, v.resident)
    if (next.inserted.size + next.deleted.size <= LocalJoinFold.MaxRows) publish(next)
    else compact(next.quads)
  }

  def insert(inserts: DataFrame): Unit = applyUpdate(null, inserts)
  def delete(deletes: DataFrame): Unit = applyUpdate(deletes, null)

  /** Merge another store (`sparql_database.rs:1819-1983`): with lexical
    * terms there is no dictionary to re-encode — union + quad-level dedup
    * and a catalog merge do the whole job. */
  def union(other: QuadStore): this.type = {
    compact(quads.unionByName(other.quads).distinct())
    graphCatalog ++= other.namedGraphs
    other.udfs.foreach { case (n, f) => if (!udfs.contains(n)) registerUdf(n, f) }
    this
  }

  /** Pin the current quads in memory (used by repeated-query sessions;
    * replaces the reference's always-resident in-memory store): the
    * version is compacted into a checkpointed base. */
  def persist(): this.type = { compact(quads); this }

  /** The quads of `df` on the driver, or None when it holds more than
    * `LocalJoinFold.MaxRows`: a plan that folds to a `LocalRelation` is
    * read without a Spark job, any other by one job whose tasks each
    * return at most `MaxRows + 1` quads (`limit(n).collect()` would scan
    * the partitions in growing batches, one job per batch). */
  private def driverQuads(df: DataFrame): Option[Seq[Quad]] = {
    val qe = align(spark, df).queryExecution
    val bound = LocalJoinFold.MaxRows
    qe.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming =>
        if (l.data.size <= bound) Some(l.data.map(quadOf)) else None
      case _ =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Quad]
        spark.sparkContext.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => it.take(bound + 1).map(quadOf).toArray,
          (_: Int, qs: Array[Quad]) => if (out.size <= bound) out ++= qs)
        if (out.size <= bound) Some(out.toSeq) else None
    }
  }

  /** Folds `df` (a whole store's quads) into a new checkpointed base with
    * empty sets. */
  private def compact(df: DataFrame): Unit =
    publish(Version(CheckpointBridge.localCheckpointSevered(df)))

  private def publish(v: Version): Unit = synchronized {
    version = v
    invalidateEncoded()
  }
}

object QuadStore {
  /** One quad `(g, s, p, o)`; `g` is null for the default graph. */
  type Quad = (String, String, String, String)

  /** One immutable store version: `base` minus `deleted`, plus `inserted`.
    * The two sets are disjoint and driver-resident; `resident` caches the
    * base's predicate slices and is shared by every version of one base. */
  final class Version(val base: DataFrame, val inserted: Set[Quad], val deleted: Set[Quad],
      val resident: ResidentSlices) {
    /** Per default-graph predicate of the delta: its inserted `(s, o)`
      * pairs and every `(s, o)` pair it touches. */
    private lazy val defaultDelta: Map[String, (Seq[(String, String)], Set[(String, String)])] =
      (inserted.iterator.map(_ -> true) ++ deleted.iterator.map(_ -> false))
        .filter(_._1._1 == null).toSeq.groupBy(_._1._3).map { case (p, qs) =>
          p -> (qs.collect { case (q, true) => (q._2, q._4) },
            qs.iterator.map { case (q, _) => (q._2, q._4) }.toSet)
        }

    /** This version's default-graph `(s, o)` pairs of each of `ps`: the
      * base slice minus every pair the delta touches, plus the inserted
      * ones. None when a slice is oversized, in the base or after the
      * delta. Fetching unknown base slices may run one Spark job. */
    def slices(ps: Set[String]): Option[Map[String, ResidentSlices.Pairs]] =
      resident.get(ps).flatMap { base =>
        val out = base.map { case (p, pairs) =>
          p -> defaultDelta.get(p).fold(pairs) { case (ins, touched) =>
            pairs.filterNot(touched) ++ ins
          }
        }
        if (out.values.forall(_.size <= LocalJoinFold.MaxRows)) Some(out) else None
      }

    /** `(base LEFT ANTI (inserted ∪ deleted) on g <=>, s, p, o) UNION
      * inserted`, both deltas as `LocalRelation`s; the base itself when
      * both sets are empty. */
    lazy val quads: DataFrame =
      if (inserted.isEmpty && deleted.isEmpty) base
      else {
        val spark = base.sparkSession
        val touched = local(spark, (inserted ++ deleted).toSeq)
          .toDF("tg", "ts", "tp", "to")
        base.join(touched, col("g") <=> col("tg") && col("s") === col("ts") &&
            col("p") === col("tp") && col("o") === col("to"), "left_anti")
          .unionByName(local(spark, inserted.toSeq))
      }
  }

  object Version {
    /** A version of `base` with empty delta sets and a fresh slice cache. */
    def apply(base: DataFrame): Version =
      new Version(base, Set.empty, Set.empty, new ResidentSlices(base))
  }

  /** A row of an aligned quads frame as a [[Quad]]. */
  private def quadOf(r: InternalRow): Quad =
    (if (r.isNullAt(0)) null else r.getUTF8String(0).toString, r.getUTF8String(1).toString,
      r.getUTF8String(2).toString, r.getUTF8String(3).toString)

  private def local(spark: SparkSession, qs: Seq[Quad]): DataFrame =
    spark.createDataFrame(qs.map(q => Row(q._1, q._2, q._3, q._4)).asJava, schema)

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
  def fromQuads(spark: SparkSession, qs: Seq[Quad]): QuadStore = {
    // set semantics from the start: duplicate input quads would read back
    // twice (the reference's HashSet store admits one copy). Deduped here
    // driver-side — this factory is the in-memory-seq entry; DataFrame
    // callers (QuadStore.apply) own their dedup, Triplizer quads are
    // unique by construction.
    val unique = qs.distinct
    new QuadStore(spark,
      if (unique.size <= LocalJoinFold.MaxRows) local(spark, unique)
      else spark.createDataFrame(spark.sparkContext.parallelize(
        unique.map(q => Row(q._1, q._2, q._3, q._4)),
        math.max(1, math.min(qs.size / 1000 + 1, 32))), schema))
  }
}
